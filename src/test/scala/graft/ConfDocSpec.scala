package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** README's "Session configuration" table is the whole list of
  * settable engine knobs: it must name exactly the `spark.graft.*`
  * keys the code reads, and no `graft.*` JVM system property may
  * change behaviour behind it. The same scan of `src/main` pins the
  * program's entry points and forbids a catch-all that drops the
  * error.
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

  test("the only entry points in src/main are Bench, Verify and ExplainPlans") {
    val Package = """(?m)^package\s+([\w.]+)""".r
    val Object = """\bobject\s+(\w+)""".r
    val Main = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val entries = mainSources.flatMap { case (_, text) =>
      val pkg = Package.findFirstMatchIn(text).map(_.group(1) + ".")
        .getOrElse("")
      Main.findAllMatchIn(text).map { m =>
        val owner = Object.findAllMatchIn(text.take(m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse("?")
        pkg + owner
      }
    }
    assert(entries.sorted ==
      Seq("graft.Bench", "graft.Verify", "graft.tools.ExplainPlans"),
      entries.mkString("; "))
  }

  test("every catch of Throwable in src/main rethrows what it caught") {
    val CatchAll = """\bcase\s+(\w+)\s*:\s*(?:java\.lang\.)?Throwable\s*=>""".r
    // the handler runs to the next case or the end of its catch block
    def handler(text: String, from: Int): String = {
      var depth = 0
      var i = from
      while (i < text.length && depth >= 0 &&
        !(depth == 0 && text.startsWith("case ", i))) {
        if (text(i) == '{') depth += 1
        else if (text(i) == '}') depth -= 1
        i += 1
      }
      text.substring(from, i)
    }
    val sites = mainSources.flatMap { case (f, text) =>
      CatchAll.findAllMatchIn(text).map { m =>
        val line = text.take(m.start).count(_ == '\n') + 1
        (s"${f.getName}:$line", m.group(1), handler(text, m.end))
      }
    }
    val dropped = sites.collect {
      case (at, name, body)
          if name == "_" || s"\\bthrow\\s+$name\\b".r.findFirstIn(body).isEmpty =>
        at
    }
    assert(dropped.isEmpty,
      s"Throwable caught and not rethrown at: ${dropped.mkString(", ")}")
  }
}
