package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.ops.Graph
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{col, count, lit}

/** Connected-components semantics on hand graphs: transitive chains close,
  * disjoint components stay apart, self-loops/duplicate/reversed edges are
  * harmless, and the non-convergence guard actually fires.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)], maxIter: Int = 30): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain collapses transitively to its min id") {
    // 1-2, 2-3, 3-4: no direct 1-4 edge, yet one component
    assert(components(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep distinct min-id labels") {
    val out = components(Seq((5L, 6L), (10L, 11L), (11L, 12L), (20L, 21L)))
    assert(out === Map(5L -> 5L, 6L -> 5L, 10L -> 10L, 11L -> 10L,
      12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("edge direction, duplicates, and self-loops do not matter") {
    // min id appears only as a dst; dup + reversed + self edges thrown in
    val out = components(Seq((9L, 2L), (9L, 2L), (2L, 9L), (7L, 7L), (9L, 4L)))
    assert(out === Map(2L -> 2L, 9L -> 2L, 4L -> 2L))
  }

  test("a long path needs diameter rounds; too-low maxIter throws, enough converges") {
    // path 100-99-...-1 propagated from one end: diameter 99
    val path = (1L until 100L).map(i => (i, i + 1))
    intercept[IllegalStateException] { components(path, maxIter = 5) }
    val out = components(path, maxIter = 120)
    assert(out.size === 100 && out.values.forall(_ == 1L))
  }

  private def componentsStar(edges: Seq[(Long, Long)], maxIter: Int = 40): Map[Long, Long] =
    Graph.connectedComponentsStar(edges.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("large-star/small-star agrees with propagation on chains and forests") {
    val cases = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)),
      Seq((5L, 6L), (10L, 11L), (11L, 12L), (20L, 21L)),
      Seq((9L, 2L), (9L, 2L), (2L, 9L), (7L, 7L), (9L, 4L)))
    cases.foreach { es =>
      assert(componentsStar(es) === components(es), s"disagree on $es")
    }
  }

  test("a long path converges in O(log n) star rounds, far under its diameter") {
    // diameter 99: propagation needs ~100 rounds (tested above); the
    // alternating algorithm must land well inside 20
    val path = (1L until 100L).map(i => (i, i + 1))
    val out = componentsStar(path, maxIter = 20)
    assert(out.size === 100 && out.values.forall(_ == 1L))
  }

  test("degrees and triangles on a known graph") {
    // K4 on {1,2,3,4} plus a pendant 5-1: four triangles in K4
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val edges = (k4 :+ (5L, 1L)).toDF("a", "b")
    val deg = Graph.degrees(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg === Map(1L -> 4L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L))
    val tri = Graph.triangles(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri === Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("triangles hub cap: poison hub is thinned deterministically, clique survives") {
    // node 0 fans out to 1..100 (the poison hub); 1..12 form a clique whose
    // nodes stay under the cap (degree 12 each) — its 220 triangles must
    // survive intact while the hub's are sampled
    val hub = (1L to 100L).map(i => (0L, i))
    val clique = for { a <- 1L to 12L; b <- (a + 1) to 12L } yield (a, b)
    val edges = (hub ++ clique).toDF("src", "dst")
    val full = Graph.triangles(edges, "src", "dst", maxDegree = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full.size === 220 + 66) // C(12,3) clique + C(12,2) through the hub
    val capped = Graph.triangles(edges, "src", "dst", maxDegree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a sample of real triangles, never an invention; the under-cap clique
    // is untouched, the over-cap hub's 66 are thinned
    assert(capped.subsetOf(full))
    assert(capped.size >= 220 && capped.size < full.size)
    // deterministic across layouts (md5 stride, not a random sample)
    val again = Graph.triangles(edges.repartition(7), "src", "dst", maxDegree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === capped)
    // the audit sees exactly the hub
    val st = Graph.degreeStats(edges, "src", "dst", maxDegree = 16)
      .collect()(0)
    assert(st.getAs[Long]("hot_nodes") === 1L)
    assert(st.getAs[Long]("max_degree") === 100L)
  }

  test("componentStats sizes the clusters") {
    val comps = Graph.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b")
    val sizes = Graph.componentStats(comps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes === Map(1L -> 3L, 10L -> 2L))
  }

  test("clusters and CC-kept agree: kept = one representative per cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
      (4L, "completely unrelated text about spark query engines at scale")
    ).toDF("doc_id", "text")
    val clusters = graft.ops.Dedup.nearDupClusters(docs, "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val kept = graft.ops.Dedup.dropNearDuplicatesCC(docs, "text", "doc_id", minJaccard = 0.5)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("integer PageRank: hubs outrank leaves, deterministic, bounded") {
    // star into node 10 plus a chain: 1..5 → 10, 10 → 20
    val edges = (Seq((10L, 20L)) ++ (1L to 5L).map(i => (i, 10L))).toDF("src", "dst")
    val r = graft.ops.Graph.pageRankInt(edges, "src", "dst", iterations = 5)
      .as[(Long, Long)].collect().toMap
    // sources with no in-edges sit at the damping floor
    (1L to 5L).foreach(i => assert(r(i) === 150000L))
    // the hub collects five contributions; the sink inherits the hub's
    // FULL rank (outdeg 1) plus its own damping floor, so chain order is
    // leaf < hub < sink — exact values from the closed form
    assert(r(10L) === 150000L + 850000L * 5L * 150000L / 1000000L)
    assert(r(20L) === 150000L + 850000L * r(10L) / 1000000L)
    assert(r(1L) < r(10L) && r(10L) < r(20L), s"$r")
    // iteration count changes values (power iteration is actually iterating)
    val r1 = graft.ops.Graph.pageRankInt(edges, "src", "dst", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1(20L) !== r(20L))
    // layout-independent (exact integer arithmetic end to end)
    val again = graft.ops.Graph.pageRankInt(edges.repartition(5), "src", "dst",
      iterations = 5).as[(Long, Long)].collect().toMap
    assert(again === r)
  }

  test("pageRank plan depth is constant past the checkpoint interval") {
    val edges = (Seq((10L, 20L)) ++ (1L to 5L).map(i => (i, 10L))).toDF("src", "dst")
    def planNodes(iters: Int): Int =
      graft.ops.Graph.pageRankInt(edges, "src", "dst", iterations = iters,
        checkpointInterval = 3).queryExecution.optimizedPlan.collect { case n => n }.size
    // 5 and 8 iterations both sit 2 rounds past their last checkpoint —
    // identical residual plan, so node count must NOT grow with iterations
    val (n5, n8) = (planNodes(5), planNodes(8))
    assert(n5 === n8, s"plan grew with iterations: $n5 vs $n8")
    // truncation changes nothing numerically: interval inside vs beyond the
    // iteration count gives identical ranks
    val trunc = graft.ops.Graph.pageRankInt(edges, "src", "dst",
      iterations = 5, checkpointInterval = 3).as[(Long, Long)].collect().toMap
    val lazyAll = graft.ops.Graph.pageRankInt(edges, "src", "dst",
      iterations = 5, checkpointInterval = 100).as[(Long, Long)].collect().toMap
    assert(trunc === lazyAll)
  }

  test("k-means plan depth is constant past the checkpoint interval") {
    val pts = (0L to 15L).map(i => (i, Seq((i % 4).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    def planNodes(rounds: Int): Int =
      graft.ops.KMeans.fitAssign(pts, "embedding", "vec_id", k = 2, rounds = rounds,
        checkpointInterval = 3).queryExecution.optimizedPlan.collect { case n => n }.size
    val (n5, n8) = (planNodes(5), planNodes(8))
    assert(n5 === n8, s"plan grew with rounds: $n5 vs $n8")
    // truncated assignments match the fully-lazy run exactly
    val a = graft.ops.KMeans.fitAssign(pts, "embedding", "vec_id", k = 2, rounds = 5,
      checkpointInterval = 3).as[(Long, Long, Long)].collect().toSet
    val b = graft.ops.KMeans.fitAssign(pts.repartition(5), "embedding", "vec_id",
      k = 2, rounds = 5, checkpointInterval = 100).as[(Long, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("iterative ops release superseded checkpoints: storage holds one round, not O(rounds)") {
    // unpersist removes the persistentRdds entry synchronously, so the map
    // size is a deterministic probe of what each op leaves pinned. Every
    // run below forces MANY rounds (long path / interval 1), and the
    // contract is: at most ONE pinned block set survives per call — the
    // self-contained result — never one per round. An evicted local
    // checkpoint is a job FAILURE, so LRU is not the cleanup plan.
    val sc = spark.sparkContext
    def pinned(): Int = sc.getPersistentRDDs.size

    val path = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val before1 = pinned()
    val cc = Graph.connectedComponents(path, "a", "b", maxIter = 80)
    assert(cc.collect().length === 60)
    assert(pinned() <= before1 + 1,
      s"connectedComponents pinned ${pinned() - before1} block sets (~59 rounds ran)")

    val before2 = pinned()
    val star = Graph.connectedComponentsStar(path, "a", "b")
    assert(star.collect().length === 60)
    assert(pinned() <= before2 + 1,
      s"connectedComponentsStar pinned ${pinned() - before2} block sets")

    val before3 = pinned()
    val pr = Graph.pageRankInt(path, "a", "b", iterations = 8, checkpointInterval = 1)
    assert(pr.collect().length === 60)
    assert(pinned() <= before3 + 1,
      s"pageRankInt pinned ${pinned() - before3} block sets (8 interval-1 rounds ran)")
  }

  test("reliable checkpointDir: same answers, checkpoint files land in the dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val out = Graph.connectedComponents(edges, "a", "b", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // reliable checkpoints actually hit the filesystem (executor-loss-proof)
    def fileCount(d: java.io.File): Int =
      if (d.isDirectory) d.listFiles.map(fileCount).sum else 1
    assert(fileCount(new java.io.File(dir)) > 0, "no checkpoint files written")
    val star = Graph.connectedComponentsStar(edges, "a", "b", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === out)
  }

  test("kCore: chains and pendants peel, cliques and cycles survive; idempotent") {
    // K4 {10..13} with pendant 20; chain 1-2-3-4; triangle {30,31,32}
    val k4 = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val edges = (k4 ++ Seq((10L, 20L), (1L, 2L), (2L, 3L), (3L, 4L),
      (30L, 31L), (31L, 32L), (30L, 32L))).toDF("a", "b")
    def core(rounds: Int) = Graph.kCore(edges, "a", "b", k = 2, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c5 = core(5)
    // 2-core: K4 at degree 3 (pendant gone), the triangle at degree 2
    assert(c5 === Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L,
      30L -> 2L, 31L -> 2L, 32L -> 2L))
    // idempotence past convergence: extra rounds change nothing
    assert(core(8) === c5)
    // k=3 keeps only the K4
    val c3 = Graph.kCore(edges, "a", "b", k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c3 === Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
  }

  test("an eager localCheckpoint completes an Observation attached below it") {
    // the fused convergence probes read their count from an Observation
    // that rides the round's localCheckpoint job; if a Spark version stops
    // running localCheckpoint as a SQL-tracked action, obs.get blocks
    // forever, so the wait is bounded
    val obs = Observation("cnt")
    val ck = spark.range(1000).toDF("x").observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val got = Await.result(Future(obs.get)(ExecutionContext.global), 10.seconds)
    assert(got === Map("n" -> 1000L))
    assert(ck.count() === 1000L)
  }
}
