package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ForklessLocalFileSystem, ForklessLocalFs,
  ForklessRawLocalFileSystem}

/** The fork-free local filesystem `GraftSession` installs: it is what
  * `file:` resolves to, it lands the same bits and link statuses as
  * Hadoop's stock local filesystem, and a streaming ingest on it starts
  * no `chmod` or `readlink` process. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fileUri = URI.create("file:///")

  private def withTempDir[A](f: File => A): A = {
    val d = Files.createTempDirectory("graft_localfs").toFile
    try f(d) finally FileUtils.deleteQuietly(d)
  }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def initialized[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(fileUri, conf); fs
  }

  test("GraftSession's conf resolves file: to the fork-free classes through FileSystem and FileContext") {
    // the rule Spark applies to spark.hadoop.* keys, on a fresh
    // uncached instance
    val fresh = new Configuration()
    GraftSession.localFsConf.foreach { case (k, v) =>
      fresh.set(k.stripPrefix("spark.hadoop."), v)
    }
    val freshFs = FileSystem.newInstance(fileUri, fresh)
    try assert(freshFs.isInstanceOf[ForklessLocalFileSystem])
    finally freshFs.close()
    assert(FileContext.getFileContext(fileUri, fresh).getDefaultFileSystem
      .isInstanceOf[ForklessLocalFs])
    // and the live session: no stock `file:` FileSystem sits in
    // Hadoop's JVM-wide cache ahead of it
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
                     spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(fileUri, conf)
      assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw
        .isInstanceOf[ForklessRawLocalFileSystem])
      val afs = FileContext.getFileContext(fileUri, conf).getDefaultFileSystem
      assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass.getName)
    }
  }

  test("created files and directories, and setPermission, land the stock bits") {
    for (umask <- Seq("022", "027", "077")) withTempDir { d =>
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val stock = initialized(new LocalFileSystem(), conf)
      val forkless = initialized(new ForklessLocalFileSystem(), conf)
      def layout(fs: FileSystem, root: File): Seq[(String, Int)] = {
        val base = new Path(root.getPath)
        fs.mkdirs(new Path(base, "a/b"))
        val out = fs.create(new Path(base, "a/b/part-0.parquet"))
        out.write(1); out.close()
        fs.mkdirs(new Path(base, "c"), new FsPermission("750"))
        val names = Seq("a", "a/b", "a/b/part-0.parquet",
          "a/b/.part-0.parquet.crc", "c")
        names.map(n => n -> mode(new File(root, n)))
      }
      val want = layout(stock, new File(d, "stock"))
      assert(layout(forkless, new File(d, "forkless")) == want, s"umask $umask")
      for (bits <- Seq("700", "644", "1777"); n <- Seq("a", "a/b/part-0.parquet")) {
        val perm = new FsPermission(bits)
        stock.setPermission(new Path(new File(d, s"stock/$n").getPath), perm)
        forkless.setPermission(new Path(new File(d, s"forkless/$n").getPath), perm)
        val got = mode(new File(d, s"forkless/$n"))
        assert(got == mode(new File(d, s"stock/$n")), s"$bits on $n")
        assert(got == Integer.parseInt(bits, 8), s"$bits on $n")
      }
      stock.close(); forkless.close()
    }
  }

  test("getFileLinkStatus matches stock on files, directories, symlinks and dangling symlinks") {
    withTempDir { d =>
      val conf = new Configuration()
      val stock = initialized(new RawLocalFileSystem(), conf)
      val forkless = initialized(new ForklessRawLocalFileSystem(), conf)
      val file = new File(d, "file")
      Files.write(file.toPath, "12345".getBytes(UTF_8))
      val dir = new File(d, "dir")
      dir.mkdir()
      val link = new File(d, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(d, "dangling")
      Files.createSymbolicLink(dangling.toPath, new File(d, "gone").toPath)
      def view(s: FileStatus) =
        (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
          s.getLen, s.isDirectory)
      for (f <- Seq(file, dir, link, dangling);
           p <- Seq(new Path(f.getPath), stock.makeQualified(new Path(f.getPath)))) {
        val want = Try(view(stock.getFileLinkStatus(p)))
        val got = Try(view(forkless.getFileLinkStatus(p)))
        assert(got.toEither.left.map(_.getClass) ==
          want.toEither.left.map(_.getClass), p)
        assert(got.toOption == want.toOption, p)
      }
      // the unqualified link paths really are links on both sides
      assert(forkless.getFileLinkStatus(new Path(link.getPath)).isSymlink)
      assert(forkless.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
      intercept[FileNotFoundException] {
        forkless.getFileLinkStatus(new Path(new File(d, "missing").getPath))
      }
    }
  }

  test("FileContext.rename with OVERWRITE replaces an existing destination") {
    withTempDir { d =>
      val fc = FileContext.getFileContext(fileUri,
        spark.sparkContext.hadoopConfiguration)
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(s.getBytes(UTF_8)); out.close()
      }
      val src = new Path(new File(d, "src").getPath)
      val dst = new Path(new File(d, "dst").getPath)
      write(src, "new")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    }
  }

  test("a PollingIngest run starts no chmod or readlink process") {
    withTempDir { d =>
      val landing = new File(d, "landing")
      landing.mkdirs()
      def land(name: String, lines: Seq[(String, String)]): Unit = {
        val body = lines.map { case (ts, price) =>
          val p = s"""{"symbol":"BTCUSDT","price":"$price"}""".replace("\"", "\\\"")
          s"""{"fetch_ts":"$ts","payload":"$p"}"""
        }.mkString("\n")
        // written under a hidden name, then moved into place, as a
        // poller lands a file
        val tmp = Paths.get(landing.getPath, s".$name")
        Files.writeString(tmp, body)
        Files.move(tmp, Paths.get(landing.getPath, name))
      }
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val commands = try {
        // a control: the recording sees a child process when one starts
        new ProcessBuilder("true").start().waitFor()
        val job = streaming.PollingIngest.start(spark, landing.getPath,
          s"$d/raw", s"$d/hourly", s"$d/ckpt", Trigger.ProcessingTime(0))
        try {
          land("primer.json", Seq("2024-01-01 10:00:05" -> "50000.0"))
          job.processAllAvailable()
          land("f1.json", Seq("2024-01-01 10:30:00" -> "51000.0"))
          job.processAllAvailable()
          land("f2.json", Seq("2024-01-01 12:00:00" -> "49000.0"))
          job.processAllAvailable()
        } finally job.stop()
        assert(spark.read.parquet(s"$d/raw").count() == 3)
        assert(spark.read.parquet(s"$d/hourly").count() == 1)
        rec.stop()
        val dump = new File(d, "process.jfr").toPath
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally rec.close()
      val exes = commands.map(_.trim.split("\\s+").head)
      assert(exes.exists(_.endsWith("true")), commands)
      val forked = exes.filter(e => e.endsWith("chmod") || e.endsWith("readlink"))
      assert(forked.isEmpty,
        s"${forked.size} chmod/readlink processes, e.g. ${forked.take(3)}")
    }
  }
}
