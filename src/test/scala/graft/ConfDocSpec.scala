package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** README's "Session configuration" table is the whole list of
  * settable engine knobs: it must name exactly the `spark.graft.*`
  * keys the code reads, and no `graft.*` JVM system property may
  * change behaviour behind it.
  */
class ConfDocSpec extends AnyFunSuite {
  private val root = new File(sys.props("user.dir"))

  private def mainSources: Seq[(File, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(new File(root, "src/main")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (f, src.mkString) finally src.close()
    }
  }

  test("README's session configuration table lists exactly the spark.graft confs in src/main") {
    val readme = {
      val src = scala.io.Source.fromFile(new File(root, "README.md"), "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val section = readme
      .dropWhile(_.trim != "## Session configuration").drop(1)
      .takeWhile(!_.startsWith("## "))
    assert(section.nonEmpty, "README has no \"## Session configuration\" section")
    val RowKey = """^\| `(spark\.graft\.[A-Za-z0-9_.]+)` \|.*""".r
    val documented = section.collect { case RowKey(k) => k }
    assert(documented.distinct.size == documented.size,
      s"duplicate README rows: ${documented.diff(documented.distinct)}")
    val Literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val inCode = mainSources.flatMap { case (_, text) =>
      Literal.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(inCode.nonEmpty)
    assert(documented.toSet == inCode,
      s"undocumented: ${inCode -- documented}; " +
        s"documented but unread: ${documented.toSet -- inCode}")
  }

  test("no graft.* JVM system property is read in src/main") {
    val PropRead = ("""(getProperty|getBoolean|getLong|getInteger|""" +
      """sys\.props(\.get|\.getOrElse|\.contains)?)\(\s*"graft\.""").r
    val reads = mainSources.flatMap { case (f, text) =>
      PropRead.findAllMatchIn(text).map(m => s"${f.getName}: ${m.matched}")
    }
    assert(reads.isEmpty, reads.mkString("; "))
  }
}
