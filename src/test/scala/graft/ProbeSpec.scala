package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.tools.Probe

/** The dev tool's modes on the shared session at sf0.001: each prints the
  * fields its usage promises, and `plan --out` writes the plan file.
  */
class ProbeSpec extends SparkSpec {
  private val Q = "text_wordcount"

  private def lines(mode: (String => Unit) => Unit): Seq[String] = {
    val buf = ArrayBuffer.empty[String]
    mode(buf += _)
    buf.toSeq
  }

  test("time prints one JSON line per query: best of the timed runs, every run, no error") {
    val out = lines(Probe.time(spark, sf(), Seq(Q), warmup = 1, reps = 2, _))
    val Line = ("""\{"query":"text_wordcount","best_sec":([0-9.]+),"warmup":1,""" +
      """"runs":\[([0-9.]+),([0-9.]+)\],"error":null\}""").r
    assert(out.size === 1)
    out.head match {
      case Line(best, r1, r2) =>
        assert(best.toDouble > 0 && best.toDouble === math.min(r1.toDouble, r2.toDouble))
      case other => fail(s"unexpected time line: $other")
    }
    intercept[IllegalArgumentException](Probe.time(spark, sf(), Seq("no_such_query"), 0, 1, _ => ()))
  }

  test("profile prints wall, jobs, job sum and driver gap, a line per job and the stage table") {
    val out = lines(Probe.profile(spark, sf(), Q, _))
    val Head = """PROBE profile text_wordcount wall_s=([0-9.]+) jobs=(\d+) job_sum_s=([0-9.]+) driver_gap_s=(-?[0-9.]+)""".r
    val (wall, jobs, gap) = out.head match {
      case Head(w, j, _, g) => (w.toDouble, j.toInt, g.toDouble)
      case other => fail(s"unexpected profile header: $other")
    }
    assert(jobs >= 1, out.mkString("\n"))
    assert(gap >= 0 && gap <= wall, out.mkString("\n"))
    assert(out.count(_.startsWith("PROBE   job ")) === jobs)
    val table = out.indexWhere(_.matches("""PROBE   stage\s+ntask\s+total_s\s+max_s\s+med_s\s+name"""))
    assert(table > 0, out.mkString("\n"))
    assert(out.drop(table + 1).exists(_.matches("""PROBE   \d+\s+\d+\s+[0-9.]+\s+[0-9.]+\s+[0-9.]+\s+.*""")),
      out.mkString("\n"))
  }

  test("plan prints the formatted plan with exchange and join counts; --out writes it") {
    val dir = Files.createTempDirectory("graft_probe_plan")
    dir.toFile.deleteOnExit()
    val out = lines(Probe.plan(spark, sf(), Seq(Q), Some(dir.toString), "t", _))
    val Counts = """PROBE plan text_wordcount (exchanges=(\d+) bhj=\d+ smj=\d+ shj=\d+ bnlj=\d+ cartesian=\d+)""".r
    val (counts, exchanges) = out.head match {
      case Counts(c, e) => (c, e.toInt)
      case other => fail(s"unexpected plan header: $other")
    }
    // a word count aggregates across partitions: at least one shuffle
    assert(exchanges >= 1, out.mkString("\n"))
    assert(out(1).contains("== Physical Plan =="))
    val file = Paths.get(dir.toString, s"${Q}_t.txt")
    assert(out.last === s"PROBE plan $Q wrote $file")
    val written = new String(Files.readAllBytes(file), "UTF-8")
    assert(written.linesIterator.next().contains(counts))
    assert(written.contains(out(1)))
  }
}
