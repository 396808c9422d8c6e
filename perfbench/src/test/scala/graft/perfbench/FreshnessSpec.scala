package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class FreshnessSpec extends AnyFunSuite {
  private def write(f: File, text: String, mtime: Long = -1): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes("UTF-8"))
    if (mtime >= 0) assert(f.setLastModified(mtime))
  }

  private def entry(name: String, batch: Long) =
    s"""{"path":"file:///landing/$name","timestamp":1,"batchId":$batch}"""

  test("freshness is the committing batch's commit time minus the schedule") {
    val ck = Files.createTempDirectory("freshness").toFile
    // batches 0-1 were folded into a compacted log, batch 2 is plain
    write(new File(ck, "sources/0/1.compact"),
      Seq("v1", entry("a.json", 0), entry("b.json", 1), entry("c.json", 1)).mkString("\n"))
    write(new File(ck, "sources/0/2"), Seq("v1", entry("d.json", 2)).mkString("\n"))
    write(new File(ck, "sources/0/.2.crc"), "junk")
    write(new File(ck, "commits/0"), "v1\n{}", 10000L)
    write(new File(ck, "commits/1"), "v1\n{}", 12000L)
    write(new File(ck, "commits/2"), "v1\n{}", 15000L)
    val sched = Map("a.json" -> 9500L, "b.json" -> 10500L, "c.json" -> 11000L,
      "d.json" -> 14000L, "e.json" -> 14500L)
    val r = Freshness.compute(ck.getPath, sched)
    assert(r.freshMs == Map("a.json" -> 500.0, "b.json" -> 1500.0,
      "c.json" -> 1000.0, "d.json" -> 1000.0))
    assert(r.missing == Seq("e.json"))
    // landed at schedule: b and c wait together until 12000
    assert(Freshness.backlogMax(sched - "e.json", r.commitMs) == 2)
  }
}
