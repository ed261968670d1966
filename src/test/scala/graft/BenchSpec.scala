package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s record placement: only the default board may write the
  * committed `bench_full.json`; a subset or smoke run must not clobber it.
  */
class BenchSpec extends AnyFunSuite {

  test("only the default query set writes bench_full.json; a subset writes " +
      "target/bench.json and points _see at it") {
    assert(Bench.recordPaths(SparkEntry.benchQueries) ===
      Seq("target/bench.json", "bench_full.json"))
    assert(Bench.recordPaths(SparkEntry.benchQueries.reverse).last === "bench_full.json",
      "the same set in another order is still the default board")
    assert(Bench.recordPaths(Seq("text_wordcount", "q3_top_orders")) ===
      Seq("target/bench.json"))
    assert(Bench.recordPaths(SparkEntry.benchQueries.drop(1)) === Seq("target/bench.json"))
  }
}
