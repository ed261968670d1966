package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph clustering for dedup pipelines: turn a near-duplicate
  * PAIR list (e.g. [[Dedup.verifiedNearDupPairs]]) into connected-component
  * cluster ids, so transitively-linked duplicates (A~B, B~C but A!~C) land
  * in one cluster — the step the one-pass "drop iff a lower-id neighbor
  * exists" keeper rule of [[Dedup.dropNearDuplicates]] deliberately skips.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round, a node's label drops to the min of its own
  * and its neighbors' labels; fixpoint = every node carries its component's
  * min id. Each round is one shuffle join (edges × labels, keyed by node)
  * plus a map-side-combined min agg — the canonical scale shape, no
  * driver-side graph state.
  *
  * Scale notes:
  *  - rounds needed = graph DIAMETER. Near-dup clusters are dense and tiny
  *    (dup clusters of a crawl are near-cliques via shared LSH buckets), so
  *    this converges in a handful of rounds. For adversarial long-path
  *    graphs, the large-star/small-star alternation (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond") converges in
  *    O(log n) rounds — swap it in if diameters grow; the surface here
  *    stays the same.
  *  - lineage is truncated each round ([[Lineage.materialize]]) so the
  *    plan does not grow with iterations, and each round's frame is
  *    RELEASED ([[Lineage.release]]) as soon as its successor materializes
  *    — storage held is one round's working set, not O(rounds) of them
  *    (an evicted local checkpoint is a job failure, not a recompute, so
  *    LRU is not a cleanup strategy). Pass `checkpointDir = Some(dir)` for
  *    reliable HDFS-backed checkpoints that survive executor loss — the
  *    right call for multi-hour iterative jobs on a real cluster.
  *  - convergence is detected distributively, and (r22) the probe RIDES
  *    each round's materialization job as an [[org.apache.spark.sql
  *    .Observation]] metric — no separate per-round probe action on the
  *    default localCheckpoint path.
  */
object Graph {

  /** Connected components of the undirected graph given as an edge list.
    * Returns one row per node: (id, comp) where comp is the smallest node
    * id reachable from `id` (including itself). Nodes are whatever appears
    * in the edge list; isolated nodes (no edges) are by definition absent —
    * union them in at the call site if singleton rows are wanted.
    *
    * @param maxIter hard stop; propagation needs `diameter` rounds, so 30
    *                covers any realistic dedup graph. Non-convergence
    *                throws rather than returning silently-partial clusters.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, checkpointDir: Lineage.CheckpointDir = None): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // r22: stage the caller's edge plan once before the symmetrize union
    // (both legs read it — see connectedComponentsStar); kept pinned until
    // sym.unpersist() at the end (see the NOTE below)
    val e = Lineage.materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst")),
      checkpointDir)
    // symmetric closure: propagation must flow both ways along an edge.
    // Pre-partitioned on dst — the per-round join key — so each round
    // shuffles only the NODE-sized label table to meet it plus the
    // unavoidable per-round min aggregation; without the repartition the
    // cached edge set re-shuffles in full every round (same persist
    // discipline as [[pageRankInt]]'s deg-weighted edge table).
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("dst")).persist()
    var labels = Lineage.materialize(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")), checkpointDir)
    // NOTE: the staged edge checkpoint stays pinned until sym.unpersist()
    // below — sym is a RECOMPUTABLE persist whose recompute path reads the
    // checkpoint, so an early release would turn a benign cache eviction
    // into a job failure (checkpoint block lost ≠ cache miss).
    // the materialized frame `labels` derives from (labels itself wraps it
    // in a Project after round 1) — released when its successor lands
    var pinned = labels
    var iter = 0
    var converged = false
    Lineage.keepingJobDescription(sym.sparkSession.sparkContext) {
      while (!converged && iter < maxIter) {
        labels.sparkSession.sparkContext.setJobDescription(s"cc-prop round $iter")
        val nbrMin = sym.join(labels, col("dst") === col("id"))
          .groupBy("src").agg(min("comp").as("nbr_min"))
          .withColumnRenamed("src", "id")
        val nextPlan = labels.withColumnRenamed("comp", "prev")
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("prev"),
            least(col("prev"), coalesce(col("nbr_min"), col("prev"))).as("comp"))
        // r22: the convergence probe RIDES the materialization job — an
        // Observation collects the changed-row count during the checkpoint
        // action itself, so the former per-round `filter(...).isEmpty` job
        // is gone (guide §2.6: one fewer action per round; same decision,
        // the count of comp<prev rows is 0 ⟺ the old limit-1 probe found
        // nothing). Observation requires the SQL-tracked localCheckpoint
        // action; the reliable-checkpoint upgrade path keeps the probe job.
        val (next, chg) = checkpointDir match {
          case None =>
            val obs = org.apache.spark.sql.Observation()
            val n = Lineage.materialize(nextPlan.observe(obs,
              count(when(col("comp") < col("prev"), 1)).as("chg")))
            (n, obs.get("chg").asInstanceOf[Long])
          case _ =>
            val n = Lineage.materialize(nextPlan, checkpointDir)
            (n, if (n.filter(col("comp") < col("prev")).isEmpty) 0L else 1L)
        }
        converged = chg == 0L
        // `next` is eagerly materialized and the convergence probe read only
        // `next` — the previous round's labels are now superseded: release
        // their blocks instead of letting O(diameter) label tables pile up
        Lineage.release(pinned)
        pinned = next
        labels = next.select("id", "comp")
        iter += 1
      }
    }
    sym.unpersist()
    Lineage.release(e) // safe now: nothing can recompute sym from it
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — graph diameter " +
          "exceeds maxIter; raise it or switch to large-star/small-star")
    labels
  }

  /** Per-component sizes: (comp, n_nodes), descending by size — the audit
    * view (a pathologically huge cluster usually means a degenerate
    * similarity threshold upstream).
    */
  def componentStats(components: DataFrame): DataFrame =
    components.groupBy("comp").agg(count(lit(1)).as("n_nodes"))

  /** Per-node degree over the undirected graph: (id, degree). One
    * symmetrize + one map-side-combined count.
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** k-core decomposition by FIXED-ROUND peeling: repeatedly drop nodes of
    * degree < k (with the edges at them); survivors after `rounds` peels
    * are the k-core — the dense-family detector of a dup graph (a clique
    * of near-duplicate documents survives any k < clique size; chains and
    * pendants peel away). Output: (id, degree) of the survivors, degree
    * measured inside the core.
    *
    * FIXED rounds (not run-to-convergence) is the [[pageRankInt]] oracle
    * contract: peeling is IDEMPOTENT once converged (no node below k ⟹
    * further peels are no-ops), so any generous round count gives the true
    * core, and a DuckDB oracle unrolling the same count matches exactly —
    * no convergence flag has to cross engines. Peeling needs at most
    * "degeneracy layers" rounds; the declared query pins rounds=8, far
    * past any near-dup graph's layer count (the spec pins a 3-layer
    * fixture converging in 3).
    *
    * Scale shape per round: one map-combined degree agg + two semi joins
    * of the edge list against the ≥k node set; edges only shrink. Lineage
    * is checkpointed every round ([[Lineage]] discipline — constant plan
    * depth, superseded blocks released).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int, checkpointDir: Lineage.CheckpointDir = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 1 && rounds <= 64, s"rounds in [1,64], got $rounds")
    val base = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).filter(col("src") =!= col("dst"))
    var e = Lineage.materialize(
      base.union(base.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
      checkpointDir)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("id"))
      val pinned = e
      e = Lineage.materialize(
        e.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi"),
        checkpointDir)
      Lineage.release(pinned)
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  /** Triangle enumeration: one row (a, b, c) with a < b < c per triangle.
    * Two equi-joins over the CANONICALIZED (lo, hi) edge list — candidate
    * fan-out is Σ degree², the standard shape.
    *
    * OPT-IN hub cap (the [[Similarity.thinHotBuckets]] /
    * [[Fuzzy.blockedEditPairs]] discipline — a dense hub node is otherwise
    * a Σdeg² reducer pin): edges incident to a node whose degree exceeds
    * `maxDegree` are thinned deterministically by the OTHER endpoint's md5
    * hash (keep iff h32(other·salt) lands on the ceil(deg/maxDegree)
    * stride), bounding every node's expected surviving degree to
    * ~maxDegree so join fan-out is ≤ ~|E|·maxDegree. Enumeration over the
    * thinned graph is a uniform SAMPLE of each hub's triangles — recall
    * degrades gracefully, cost is bounded unconditionally. The DEFAULT is
    * `Int.MaxValue` (exact enumeration): an enumeration primitive must not
    * silently sample — callers running hub-heavy graphs opt into a cap
    * explicitly (as the declared `graph_triangles_capped` query does) and
    * audit what was thinned with [[degreeStats]]. The hot-node table is
    * bounded by the over-cap count, so the lookup is a broadcast join,
    * never a shuffle.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = Int.MaxValue): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    val kept =
      if (maxDegree == Int.MaxValue) e
      else {
        require(maxDegree > 0, s"maxDegree must be positive, got $maxDegree")
        val hot = e.select(col("lo").as("node")).union(e.select(col("hi").as("node")))
          .groupBy("node").agg(count(lit(1)).as("__deg"))
          .filter(col("__deg") > maxDegree)
        def stride(d: Column): Column = ceil(d.cast("double") / maxDegree).cast("long")
        e.join(broadcast(hot.select(col("node").as("lo"), col("__deg").as("__dlo"))),
            Seq("lo"), "left")
          .join(broadcast(hot.select(col("node").as("hi"), col("__deg").as("__dhi"))),
            Seq("hi"), "left")
          .filter(
            (col("__dlo").isNull ||
              pmod(Text.h32(concat(col("hi").cast("string"), lit("_trithin"))),
                stride(col("__dlo"))) === 0) &&
            (col("__dhi").isNull ||
              pmod(Text.h32(concat(col("lo").cast("string"), lit("_trithin"))),
                stride(col("__dhi"))) === 0))
          .select("lo", "hi")
      }
    val ab = kept.select(col("lo").as("a"), col("hi").as("b"))
    val bc = kept.select(col("lo").as("b"), col("hi").as("c"))
    val ac = kept.select(col("lo").as("a"), col("hi").as("c"))
    ab.join(bc, "b").join(ac, Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Degree-occupancy audit companion to [[triangles]] (mirrors
    * [[Similarity.bucketOccupancyStats]]): node counts split at the
    * `maxDegree` cap over the canonicalized edge list, plus the worst node.
    * A nonzero `hot_nodes` means the cap thinned candidates — raise it or
    * accept the sampled recall.
    */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 1000): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    e.select(col("lo").as("node")).union(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(
        sum(when(col("deg") <= maxDegree, 1L).otherwise(0L)).as("ok_nodes"),
        sum(when(col("deg") > maxDegree, 1L).otherwise(0L)).as("hot_nodes"),
        sum(when(col("deg") > maxDegree, col("deg")).otherwise(0L)).as("hot_edges"),
        max(col("deg")).as("max_degree"))
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * O(log n) rounds regardless of graph DIAMETER, unlike
    * [[connectedComponents]]'s O(diameter) label propagation. Same output
    * contract: (id, comp = component min id), one row per node that
    * appears in the edge list.
    *
    * Each half-round is one shuffle: groupBy(node) min over the current
    * neighborhood, joined back to re-point edges at the local minimum —
    * large-star re-points STRICTLY LARGER neighbors, small-star re-points
    * the rest (and the center). The edge set only ever shrinks toward the
    * star form (v → component-min); convergence = a fixed point of both
    * half-rounds, detected by an edge-set-unchanged probe.
    *
    * This is the default CC inside [[Dedup.nearDupClusters]]: at 100 TB
    * similarity graphs grow long chains at permissive thresholds
    * (propagation pays O(diameter) rounds for those), and even on the
    * near-clique sf0.1 pair graph star measured 3.5 s vs propagation's
    * 5.9 s — the fixed-point probe is cheaper than propagation's
    * convergence checks. Keep [[connectedComponents]] as the
    * cross-algorithm oracle twin.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 40, checkpointDir: Lineage.CheckpointDir = None): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // r22: stage the caller's edge plan ONCE before the symmetrize union —
    // `e0` appears under BOTH union legs, so the whole upstream pipeline
    // (for the dedup CC queries: signatures → window panel → verify
    // joins) re-derived per leg; only its internal exchanges could be
    // AQE-reused, the post-exchange stages ran twice. The staged frame is
    // edge-set-sized (the same bound as round 0's own checkpoint) and is
    // released as soon as the symmetrized round-0 set materializes.
    val e0 = Lineage.materialize(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v")),
      checkpointDir)
    var cur = Lineage.materialize(e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("u")).dropDuplicates("u", "v"), checkpointDir)
    Lineage.release(e0)
    var curCnt = cur.count()
    var iter = 0
    var converged = false
    Lineage.keepingJobDescription(cur.sparkSession.sparkContext) {
      while (!converged && iter < maxIter) {
        cur.sparkSession.sparkContext.setJobDescription(s"cc-star round $iter")
        // two-tier fixed-point probe, replacing the former two exceptAll
        // passes (~4 wide shuffles per round): (1) COUNT — both sides are
        // DISTINCT edge sets (symmetrize ends in .distinct()), so unequal
        // cardinality proves change; r22: the count RIDES the
        // materialization job via an Observation (guide §2.6 — the former
        // per-round count() job over the cached partitions is gone; the
        // reliable-checkpoint upgrade path keeps it, Observation needs the
        // SQL-tracked localCheckpoint action); (2) only equal counts
        // (typically just the final round) pay a single full-outer join,
        // where set equality ⟺ no one-sided row (limit-1 probe).
        val (next, nextCnt) = checkpointDir match {
          case None =>
            val obs = org.apache.spark.sql.Observation()
            val n = Lineage.materialize(smallStar(largeStar(cur))
              .observe(obs, count(lit(1)).as("n")))
            (n, obs.get("n").asInstanceOf[Long])
          case _ =>
            val n = Lineage.materialize(smallStar(largeStar(cur)), checkpointDir)
            (n, n.count())
        }
        converged = nextCnt == curCnt && next.withColumn("__n", lit(1))
          .join(cur.withColumn("__c", lit(1)), Seq("u", "v"), "full_outer")
          .filter(col("__n").isNull || col("__c").isNull)
          .isEmpty
        // the probe (the only consumer of the old round) has run — release
        // the superseded edge set; O(log n) rounds must hold ONE round's
        // edge-sized working set, not all of them
        Lineage.release(cur)
        cur = next
        curCnt = nextCnt
        iter += 1
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    // at the fixed point every edge is (node, component-min); roots appear
    // only on the min side. The NODE-sized result is materialized so the
    // final edge-star set can be released here — the returned frame is
    // self-contained, holding node-sized storage only.
    val members = cur.filter(col("u") > col("v"))
      .select(col("u").as("id"), col("v").as("comp"))
    val roots = members.select(col("comp").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    val out = Lineage.materialize(members.union(roots).distinct(), checkpointDir)
    Lineage.release(cur)
    out
  }

  /** One large-star half-round over a SYMMETRIC edge list: every node u
    * re-points its strictly-larger neighbors at m = min(N(u) ∪ {u}).
    * Output is re-symmetrized for the next half-round.
    */
  private def largeStar(sym: DataFrame): DataFrame = {
    val mins = sym.groupBy("u").agg(least(min("v"), first("u")).as("m"))
    val repointed = sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
    symmetrize(repointed)
  }

  /** One small-star half-round: every node u re-points its ≤ neighbors
    * (and itself) at m = min(N(u) ∪ {u}).
    */
  private def smallStar(sym: DataFrame): DataFrame = {
    val mins = sym.groupBy("u").agg(least(min("v"), first("u")).as("m"))
    val smaller = sym.join(mins, "u")
      .filter(col("v") <= col("u") && col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
    val self = mins.filter(col("u") =!= col("m"))
      .select(col("u").as("a"), col("m").as("b"))
    symmetrize(smaller.union(self).filter(col("a") =!= col("b")))
  }

  /** Symmetric closure, deduped WITHOUT a (u,v)-keyed shuffle: the union
    * is hash-repartitioned on u ONCE — which already co-locates duplicate
    * (u,v) rows (same u ⇒ same partition), so the dedup aggregate
    * satisfies its distribution for free — and every downstream per-round
    * consumer (the min-label groupBy(u), the re-point join on u, the
    * fixed-point probe join on (u,v) — subset co-partitioning) reuses
    * that ONE exchange. Each half-round costs a single edge-sized shuffle
    * instead of three.
    */
  private def symmetrize(e: DataFrame): DataFrame =
    e.union(e.select(col("b").as("a"), col("a").as("b")))
      .toDF("u", "v").repartition(col("u")).dropDuplicates("u", "v")

  /** Integer-exact PageRank (micro-units, floored at every step — the same
    * all-integer determinism contract as [[KMeans]]): rank is
    * reproducible bit-for-bit across engines, partitionings, and replays,
    * which float PageRank (order-dependent double sums) is not.
    *
    * Recurrence (unnormalized, base 1e6):
    *   r_0(v)   = 1_000_000
    *   r_{i+1}(v) = (1e6 − damp) + (damp · Σ_{u→v} (r_i(u) div outdeg(u))) div 1e6
    *
    * Scale: each iteration is one equi-join on src (contributions) + one
    * groupBy(dst) sum + a left join back to nodes — the standard
    * distributed PageRank shuffle shape; ranks/outdeg are node-sized.
    * `iterations` is a fixed small constant (power iteration converges
    * geometrically), so the lineage stays shallow; past
    * `checkpointInterval` iterations the rank lineage is truncated
    * (`localCheckpoint`, same discipline as [[connectedComponents]]) so
    * plan depth — and Catalyst re-analysis cost — stays CONSTANT in
    * `iterations` instead of growing linearly.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampMicro: Long = 850000L,
      checkpointInterval: Int = 10,
      checkpointDir: Lineage.CheckpointDir = None): DataFrame = {
    require(iterations >= 0 && iterations <= 50, s"bad iterations $iterations")
    require(dampMicro >= 0 && dampMicro <= 1000000L, s"bad damping $dampMicro")
    require(checkpointInterval > 0, s"bad checkpointInterval $checkpointInterval")
    val e = Lineage.materialize(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct(), checkpointDir)
    // the deg-weighted edge table and the node table are STATIC across
    // iterations — materialize each ONCE, hash-partitioned on its join
    // key. Spark's ReuseExchange cannot dedup them (each iteration's
    // subplan differs through the rank dependency), so the lazy form
    // re-scans, re-distincts, and re-shuffles the full edge set every
    // iteration (measured: zero ReusedExchange in a 5-iteration plan).
    // With the two cached tables, one power iteration shuffles only the
    // NODE-sized rank table (to meet ew's src partitioning) plus the one
    // unavoidable edge-sized contribution aggregation — the same persist
    // discipline every distributed PageRank (GraphX, Pregel) applies.
    val ew = Lineage.materialize(
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .repartition(col("src")), checkpointDir)
    val nodes = Lineage.materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .repartition(col("node")), checkpointDir)
    // `e` only feeds the two static tables, both now eagerly materialized —
    // its raw-edge blocks are dead weight for the rest of the job
    Lineage.release(e)
    var ranks = nodes.withColumn("r", lit(1000000L))
    // the rank table checkpointed at the last interval boundary, if any —
    // released when the next boundary's (or the final) frame materializes
    var pinnedRanks: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      val contrib = ew.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"), expr("r div deg").as("c"))
      val sums = contrib.groupBy("node").agg(sum("c").as("s"))
      // (damp * s) div 1e6 computed as the split form
      //   damp * (s div 1e6) + (damp * (s mod 1e6)) div 1e6
      // — exactly equal for s >= 0 (s = q*1e6 + r gives d*q + (d*r) div 1e6
      // both ways) but the largest intermediate is d*r < 1e12 instead of
      // d*s, which silently wraps Long in non-ANSI Spark once a node's
      // summed contributions pass ~1.08e13 micro-units (extreme in-degree)
      // while the DuckDB oracle would error — a latent divergence.
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(1000000L - dampMicro) +
            expr(s"$dampMicro * (coalesce(s, 0L) div 1000000) + " +
              s"($dampMicro * (coalesce(s, 0L) % 1000000)) div 1000000")).as("r"))
      if (i % checkpointInterval == 0 && i < iterations) {
        ranks = Lineage.materialize(ranks, checkpointDir)
        pinnedRanks.foreach(Lineage.release)
        pinnedRanks = Some(ranks)
      }
    }
    // materialize the NODE-sized result so the edge-sized static tables
    // (ew — the big one) can be released here instead of staying pinned
    // under the caller's lazy plan; the returned frame is self-contained
    val out = Lineage.materialize(
      ranks.select(col("node"), col("r").as("rank_micro")), checkpointDir)
    Lineage.release(ew); Lineage.release(nodes); pinnedRanks.foreach(Lineage.release)
    out
  }
}
