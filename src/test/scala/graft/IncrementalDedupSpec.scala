package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IncrementalDedup, IncrementalEmbeddingDedup}

/** ops/IncrementalDedup: persisted-index near-dup maintenance. Pins the
  * contract the oracle relies on — id-ordered incremental batches produce
  * EXACTLY the one-pass batch policy's kept set — plus first-seen
  * semantics through DROPPED docs, replay idempotence, restart-from-disk,
  * and the empty/no-dup edges.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def freshIndex(tag: String): String = {
    val p = Files.createTempDirectory(s"graft_incr_$tag")
    p.toFile.deleteOnExit()
    s"$p/index"
  }

  private def doc(id: Long, text: String): (Long, String) = (id, text)

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private val A = "alpha beta gamma delta epsilon zeta eta theta"
  private val B = "one two three four five six seven eight nine"
  private val C = "red orange yellow green blue indigo violet shade"

  private def fsOf(idx: String) = new org.apache.hadoop.fs.Path(idx)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def latest(idx: String) = graft.ops.IndexLog.latest(spark, idx).get

  /** Forge "the newest commit never happened" — a crash after the data
    * writes, before the commit: the newest log version goes, its data
    * stays on disk unlisted.
    */
  private def dropNewestVersion(idx: String): Unit = {
    val log = new java.io.File(s"$idx/_graft_log")
    val newest = log.listFiles().flatMap(_.getName.toLongOption).max
    assert(new java.io.File(log, newest.toString).delete())
  }

  /** The listed data dirs of one table in the latest version. */
  private def listedDirs(idx: String, table: String): Map[Int, Seq[String]] =
    latest(idx).batches(table)

  /** Batch dirs physically present under one table root. */
  private def batchDirsOnDisk(idx: String, table: String): Seq[String] =
    new java.io.File(s"$idx/$table").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Forge an index written before the manifest log from a log index:
    * each listed batch's files move up into their `batch=N` dir, the
    * parameters (and promoted base tables) go to `_graft_meta`, and the
    * log is removed.
    */
  private def toPreLogLayout(idx: String): Unit = {
    val snap = latest(idx)
    for ((t, bs) <- snap.parts; (b, ps) <- bs) {
      val dst = new java.io.File(s"$idx/$t/batch=$b")
      ps.map(p => new java.io.File(s"$idx/$p")).foreach(_.listFiles()
        .foreach(f => java.nio.file.Files.move(f.toPath, dst.toPath.resolve(f.getName))))
      dst.listFiles().filter(_.isDirectory).foreach(deleteTree)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/_graft_meta"),
      (snap.meta ++ snap.bases.map { case (t, (name, _)) => s"${t}_table" -> name })
        .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
    deleteTree(new java.io.File(s"$idx/_graft_log"))
  }

  test("id-ordered incremental batches equal the one-pass batch policy on the real corpus") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val m = docs.agg(max("doc_id")).head.getLong(0)
    val idx = freshIndex("corpus")
    val kept = Seq(
      docs.filter(col("doc_id") <= m / 3),
      docs.filter(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3),
      docs.filter(col("doc_id") > 2 * m / 3)
    ).zipWithIndex.map { case (b, i) =>
      IncrementalDedup.addBatch(spark, idx, b, "text", "doc_id", i)
        .select("doc_id")
    }.reduce(_ unionByName _).as[Long].collect().sorted.toSeq
    val batchKept = Dedup.dropNearDuplicates(docs, "text", "doc_id", minJaccard = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === batchKept)
    assert(kept.nonEmpty && kept.size < docs.count(),
      "fixture vacuous — the corpus must actually contain near-dups")
  }

  test("a doc DROPPED in an earlier batch still drops today's copy (first-seen policy)") {
    val idx = freshIndex("dropped")
    val k1 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(1, A), doc(2, A), doc(3, B))), "text", "doc_id", 0)
    assert(k1.select("doc_id").as[Long].collect().sorted === Array(1L, 3L))
    // doc 4 duplicates A — both its prior copies are indexed (1 kept,
    // 2 dropped); doc 5 is fresh content and must survive
    val k2 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(4, A), doc(5, C))), "text", "doc_id", 1)
    assert(k2.select("doc_id").as[Long].collect().sorted === Array(5L))
  }

  test("replaying a batch id is idempotent; restart reads the index from disk") {
    val idx = freshIndex("replay")
    IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(1, A), doc(2, B))), "text", "doc_id", 0)
    // replay batch 0 with the SAME data: overwrites its own partitions,
    // must not self-match against its previous write
    val k0 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(1, A), doc(2, B))), "text", "doc_id", 0)
    assert(k0.select("doc_id").as[Long].collect().sorted === Array(1L, 2L))
    // "restart": a later batch sees the on-disk index (no shared state)
    val k1 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(10, B), doc(11, C))), "text", "doc_id", 1)
    assert(k1.select("doc_id").as[Long].collect().sorted === Array(11L))
    val stats = IncrementalDedup.indexBucketStats(spark, idx).head()
    assert(stats.getAs[Long]("hot_buckets") === 0L)
    assert(stats.getAs[Long]("max_bucket") >= 2L, "shared buckets must exist")
  }

  test("a changelog stream maintains the index via foreachBatch (the operational pattern)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val idx = freshIndex("stream")
    val keptIds = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val kept = IncrementalDedup.addBatch(spark, idx, batch,
          "text", "doc_id", batchId = id.toInt)
        keptIds.synchronized {
          keptIds ++= kept.select("doc_id").as[Long].collect()
        }
        ()
      }.start()
    try {
      in.addData(doc(1, A), doc(2, A), doc(3, B)); q.processAllAvailable()
      in.addData(doc(4, A), doc(5, C)); q.processAllAvailable()
      in.addData(doc(6, C), doc(7, B)); q.processAllAvailable()
    } finally q.stop()
    // micro-batches arrived id-ordered, so the streamed kept set equals
    // the one-pass batch policy over everything seen
    val expected = Dedup.dropNearDuplicates(
      df(Seq(doc(1, A), doc(2, A), doc(3, B), doc(4, A), doc(5, C),
        doc(6, C), doc(7, B))), "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptIds.sorted.toSeq === expected)
    assert(keptIds.sorted.toSeq === Seq(1L, 3L, 5L))
  }

  test("EMBEDDING twin: a changelog stream maintains the index via foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val idx = freshIndex("emb_stream")
    val keptIds = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val kept = graft.ops.IncrementalEmbeddingDedup.addBatch(spark, idx,
          batch, "embedding", "vec_id", batchId = id.toInt, dim = 4,
          planes = 8, minCos = 0.6)
        keptIds.synchronized {
          keptIds ++= kept.select("vec_id").as[Long].collect()
        }
        ()
      }.start()
    def v(id: Long, xs: Float*): (Long, Seq[Float]) = (id, xs.toSeq)
    val all = Seq(
      v(1, 1f, 0f, 0f, 0f), v(2, 0f, 1f, 0f, 0f), // batch 0: two directions
      v(3, 1f, 0f, 0f, 0f), v(4, 0f, 0f, 1f, 0f), // batch 1: copy of 1 + new
      v(5, 0f, 0f, 1f, 0f), v(6, 0f, 0f, 0f, 1f)) // batch 2: copy of 4 + new
    try {
      in.addData(all(0), all(1)); q.processAllAvailable()
      in.addData(all(2), all(3)); q.processAllAvailable()
      in.addData(all(4), all(5)); q.processAllAvailable()
    } finally q.stop()
    val expected = graft.ops.Similarity.dropEmbeddingNearDups(
        all.toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 4, planes = 8, minCos = 0.6)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(keptIds.sorted.toSeq === expected)
    assert(keptIds.sorted.toSeq === Seq(1L, 2L, 4L, 6L))
  }

  test("compaction folds batch partitions into one base; answers are unchanged") {
    val idx = freshIndex("compact")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A), doc(2, B))),
      "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(3, A), doc(4, C))),
      "text", "doc_id", 1)
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 2)
    assert(listedDirs(idx, "bands").keySet === Set(-1) &&
      listedDirs(idx, "shingles").keySet === Set(-1),
      s"expected one listed base partition, got ${latest(idx)}")
    // post-compaction batch answers exactly as it would have uncompacted:
    // doc 5 dups A (seen in batches 0 AND 1), doc 6 dups C, doc 7 fresh
    val k2 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(5, A), doc(6, C), doc(7, B + " extra tail words here"))),
      "text", "doc_id", 2)
    assert(k2.select("doc_id").as[Long].collect().sorted === Array(7L))
    // deletion waited one version: the folded partitions went with the
    // commit after the compaction's
    assert(batchDirsOnDisk(idx, "bands") === Seq("batch=-1", "batch=2"))
    // compaction is re-runnable (folds the previous base + new batches)
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 3)
    val k3 = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(8, C))),
      "text", "doc_id", 3)
    assert(k3.isEmpty)
  }

  test("compaction output file count scales with the folded bytes") {
    val idx = freshIndex("compactsize")
    // enough rows that the bands table is a few tens of KB
    val rows = (1L to 400L).map(i => doc(i, s"token$i " + A + s" tail$i"))
    IncrementalDedup.addBatch(spark, idx, df(rows.take(200)), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(rows.drop(200)), "text", "doc_id", 1)
    def parquetFiles(table: String) =
      listedDirs(idx, table).getOrElse(-1, Nil).map(p => new java.io.File(s"$idx/$p"))
        .map(_.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))).sum
    val inputBytes = {
      def sz(f: java.io.File): Long =
        if (f.isFile) f.length() else f.listFiles().map(sz).sum
      sz(new java.io.File(s"$idx/shingles"))
    }
    // tiny per-file target → many files; the count tracks ceil(bytes/target)
    val target = math.max(1L, inputBytes / 6)
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 2,
      targetFileBytes = target)
    val small = parquetFiles("shingles")
    assert(small >= 3, s"expected the tiny target to yield several files, got $small")
    // recompact at the default target: one file (the folded base is tiny)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(500L, C))), "text", "doc_id", 2)
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 3)
    assert(parquetFiles("shingles") === 1,
      "default 256MB target must fold a KB-scale base into one file")
  }

  test("a crashed compaction swap heals on the next index read (commit marker)") {
    val idx = freshIndex("compactcrash")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A), doc(2, B))),
      "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(3, C))),
      "text", "doc_id", 1)
    // forge a compaction that crashed after writing its base for BOTH
    // tables but before its commit: the base is on disk, unlisted
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 2)
    dropNewestVersion(idx)
    assert(listedDirs(idx, "bands").keySet === Set(0, 1))
    // the next batch reads the committed version — the folded partitions
    // are all still there (deletion waits one version), so docs 1 and 2
    // are not forgotten, and the unlisted base is never double-read
    val k2 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(10, A), doc(11, B + " and a genuinely new tail"))),
      "text", "doc_id", 2)
    assert(k2.select("doc_id").as[Long].collect().sorted === Array(11L),
      "doc 10 duplicates indexed doc 1 and must drop")
    // rerunning the compaction commits it; the crashed attempt's
    // never-listed base goes with that commit
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 3)
    assert(listedDirs(idx, "bands").keySet === Set(-1))
    assert(new java.io.File(s"$idx/bands/batch=-1").listFiles()
      .count(_.isDirectory) === 1, "the crashed base must be collected")
    // crash after the commit, before collection: the index keeps
    // answering, and the next commit collects the folded partitions
    val k3 = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(20, C))),
      "text", "doc_id", 3)
    assert(k3.isEmpty, "doc 20 duplicates indexed doc 3")
    assert(batchDirsOnDisk(idx, "bands") === Seq("batch=-1", "batch=3"))
  }

  test("EMBEDDING twin: id-ordered incremental batches equal the one-pass batch policy") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val m = e.agg(max("vec_id")).head.getLong(0)
    val idx = freshIndex("emb")
    val kept = Seq(
      e.filter(col("vec_id") <= m / 3),
      e.filter(col("vec_id") > m / 3 && col("vec_id") <= 2 * m / 3),
      e.filter(col("vec_id") > 2 * m / 3)
    ).zipWithIndex.map { case (b, i) =>
      graft.ops.IncrementalEmbeddingDedup.addBatch(spark, idx, b,
        "embedding", "vec_id", batchId = i, dim = 64, planes = 8, minCos = 0.3)
        .select("vec_id")
    }.reduce(_ unionByName _).as[Long].collect().sorted.toSeq
    val batchKept = graft.ops.Similarity.dropEmbeddingNearDups(
        e, "vec_id", "embedding", dim = 64, planes = 8, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === batchKept)
    assert(kept.nonEmpty && kept.size < e.count(),
      "fixture vacuous — the corpus must actually contain cosine near-dups at 0.3")
    val stats = graft.ops.IncrementalEmbeddingDedup.indexBucketStats(spark, idx).head()
    assert(stats.getAs[Long]("hot_buckets") === 0L,
      "fixture note: no bucket near the rep-panel bound at this scale")
  }

  test("QUANTIZED embedding index: incremental equals batch; layout pinned; near-exact") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val m = e.agg(max("vec_id")).head.getLong(0)
    val batches = Seq(
      e.filter(col("vec_id") <= m / 2), e.filter(col("vec_id") > m / 2))
    import graft.ops.{IncrementalEmbeddingDedup, Similarity}
    val idx = freshIndex("q8")
    val kept = batches.zipWithIndex.map { case (b, i) =>
      IncrementalEmbeddingDedup.addBatch(spark, idx, b, "embedding", "vec_id",
        batchId = i, dim = 64, planes = 8, minCos = 0.3, quantized = true)
        .select("vec_id").as[Long].collect().sorted.toSeq
    }.reduce(_ ++ _).sorted
    val batchKept = Similarity.dropEmbeddingNearDupsQuantized(
        e, "vec_id", "embedding", dim = 64, planes = 8, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === batchKept)
    // at fixture scales the int8 codes change the kept set only by
    // quantization error near the thresholds — pin that divergence tiny.
    // (At 100× the divergence is larger AND desirable: the scaled
    // corpus's perturbed copies SNAP to identical codes → more drops;
    // SCALE.md Round-15 records it. The invariant that must hold at every
    // scale is the q8-incremental ≡ q8-batch equality above.)
    val exact = Similarity.dropEmbeddingNearDups(
        e, "vec_id", "embedding", dim = 64, planes = 8, minCos = 0.3)
      .select("vec_id").as[Long].collect().toSet
    val sym = (batchKept.toSet diff exact) ++ (exact diff batchKept.toSet)
    assert(sym.size <= math.max(2, exact.size / 50),
      s"quantization moved ${sym.size} of ${exact.size} kept decisions")
    // the layout bakes in: a double probe against a quantized index refuses
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.addBatch(spark, idx, batches(1), "embedding",
        "vec_id", batchId = 2, dim = 64, planes = 8, minCos = 0.3)
    }
    // and the stored codes really are int8 (tinyint column on disk)
    val vecType = spark.read.parquet(s"$idx/vectors").schema("v").dataType
    assert(vecType === org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, true),
      s"quantized vectors must persist as array<tinyint>, got $vecType")
  }

  test("TEXT: a mass-duplicated doc dedups fully via rank representatives") {
    // 2500 copies of one text share ONE band bucket (identical docs have
    // identical band keys — no banding change can split them); the old
    // skip-cap exempted the bucket whole, keeping every copy. Rank
    // panels drop all but the first, and the incremental form agrees
    // across a batch boundary.
    val copies = (1L to 2500L).map(i => doc(i, A)) :+ doc(3000L, C)
    val batchKept = Dedup.dropNearDuplicates(df(copies), "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(batchKept === Seq(1L, 3000L), s"got ${batchKept.take(5)}... (${batchKept.size})")
    val idx = freshIndex("densetext")
    val kept = Seq(
      df(copies.filter(_._1 <= 1200)), df(copies.filter(_._1 > 1200))
    ).zipWithIndex.map { case (b, i) =>
      IncrementalDedup.addBatch(spark, idx, b, "text", "doc_id", i)
        .select("doc_id").as[Long].collect().sorted.toSeq
    }.reduce(_ ++ _)
    assert(kept.sorted === Seq(1L, 3000L))
  }

  test("BATCH kept set survives a 10^6-member bucket (window rank, no collect_list)") {
    // pre-r16 the batch kept set built per-bucket collect_list arrays: a
    // mass-duplicated doc turned its bucket into ONE aggregation buffer
    // (multi-hundred-MB at web-scale dup counts) — an executor OOM before
    // any pair was emitted. The window-rank + join port (the embedding
    // twin's shape) sorts spillably instead; this drives a full million
    // copies through one bucket. maxReps=2 keeps the verify fan-out
    // test-sized; the drop policy is rank-identical for this fixture.
    val copies = spark.range(1L, 1000001L)
      .select(col("id").as("doc_id"), lit(A).as("text"))
      .unionByName(Seq((2000000L, C)).toDF("doc_id", "text"))
    val kept = Dedup.dropNearDuplicates(copies, "text", "doc_id", maxReps = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 2000000L),
      s"one survivor per content: got ${kept.size} rows, head=${kept.take(5)}")
  }

  test("dense duplicate clusters dedup fully via rank representatives (no cap skip)") {
    import spark.implicits._
    // 2500 identical vectors = ONE bucket of 2500 members. More planes can
    // never split an identical cluster (same sign on every hyperplane),
    // and the pre-r15 skip-cap would have exempted it whole — keeping all
    // 2500 copies. Rank panels verify every row against the bucket's 1000
    // earliest members, so every copy drops against rep 1.
    val dim = 8
    val df = (1L to 2500L).map(i => (i, Array.fill(dim)(1.0f))).toDF("vec_id", "embedding")
    val batchKept = graft.ops.Similarity.dropEmbeddingNearDups(
        df, "vec_id", "embedding", dim, planes = 8, minCos = 0.6)
      .select("vec_id").as[Long].collect().toSeq
    assert(batchKept === Seq(1L), s"only the first copy survives: $batchKept")
    // incremental equality on the same data, across a batch boundary
    val idx = freshIndex("dense")
    val kept = Seq(
      df.filter(col("vec_id") <= 1200), df.filter(col("vec_id") > 1200)
    ).zipWithIndex.map { case (b, i) =>
      graft.ops.IncrementalEmbeddingDedup.addBatch(spark, idx, b, "embedding",
        "vec_id", batchId = i, dim = dim, planes = 8, minCos = 0.6)
        .select("vec_id").as[Long].collect().toSeq
    }.reduce(_ ++ _)
    assert(kept === Seq(1L))
    // the hot bucket is observable, but no longer a correctness caveat
    val st = graft.ops.IncrementalEmbeddingDedup.indexBucketStats(spark, idx).head()
    assert(st.getAs[Long]("hot_buckets") === 1L)
    assert(st.getAs[Long]("max_bucket") === 2500L)
  }

  // --- promoted (catalog-bucketed) base ---------------------------------

  /** Walk a physical plan including AQE stages and reused exchanges. */
  private def expand(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(expand)
  }

  private def bucketedScans(p: org.apache.spark.sql.execution.SparkPlan) =
    expand(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.bucketSpec.isDefined => f
    }

  test("a promoted base answers identically and probes with zero index-side shuffle") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val m = docs.agg(max("doc_id")).head.getLong(0)
    val b0 = docs.filter(col("doc_id") <= m / 3)
    val b1 = docs.filter(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3)
    val b2 = docs.filter(col("doc_id") > 2 * m / 3)
    // reference run on a plain (never-promoted) index
    val idxPlain = freshIndex("plain3")
    val keptPlain = Seq(b0, b1, b2).zipWithIndex.map { case (b, i) =>
      IncrementalDedup.addBatch(spark, idxPlain, b, "text", "doc_id", i)
        .select("doc_id").as[Long].collect().sorted.toSeq
    }
    // promoted run: fold batches 0+1 into the bucketed base, probe batch 2
    val idx = freshIndex("promoted")
    IncrementalDedup.addBatch(spark, idx, b0, "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, b1, "text", "doc_id", 1)
    IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 2, buckets = 4)
    // folded batches can never be replayed; compaction defers to promoteBase
    intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, b1, "text", "doc_id", 1)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.compactIndex(spark, idx, 2)
    }
    // capture every plan the promoted probe executes
    val captured = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val k2 =
      try {
        val r = IncrementalDedup.addBatch(spark, idx, b2, "text", "doc_id", 2)
          .select("doc_id").as[Long].collect().sorted.toSeq
        // the listener bus is async — wait until the capture stops growing
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val now = captured.synchronized(captured.size)
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        r
      } finally spark.listenerManager.unregister(listener)
    assert(k2 === keptPlain(2),
      "promoted probe must answer exactly like the plain index")
    val plans = captured.synchronized(captured.toVector)
    val withBase = plans.filter(p => bucketedScans(p).nonEmpty)
    assert(withBase.nonEmpty, "no captured plan read the bucketed base — pin is vacuous")
    // THE pin: no shuffle exchange moves RAW base rows — a bucketed scan
    // must be consumed by a join/aggregate (which the bucketing satisfies
    // without exchange) before anything shuffles. Exchanges above those
    // consumers move batch-bounded candidates, which is the batch side's
    // legitimate work.
    def rawBase(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.bucketSpec.isDefined => Seq(f)
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => Seq.empty
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => Seq.empty
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => Seq.empty
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        rawBase(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => rawBase(q.plan)
      case other => other.children.flatMap(rawBase)
    }
    withBase.foreach { p =>
      val offenders = expand(p).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
              .children.flatMap(rawBase).nonEmpty => e
      }
      assert(offenders.isEmpty,
        s"raw base rows shuffled above the bucketed scan:\n${offenders.mkString("\n")}")
    }
    // stats see base + delta
    val stats = IncrementalDedup.indexBucketStats(spark, idx).head()
    assert(stats.getAs[Long]("hot_buckets") === 0L)
    // re-promotion folds base + new delta into the next version; every doc
    // seen so far is in the base, so a re-probe of batch 0's content (new
    // ids) drops everything
    IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 3, buckets = 4)
    val k3 = IncrementalDedup.addBatch(spark, idx,
      b0.withColumn("doc_id", col("doc_id") + lit(10L) * lit(m)),
      "text", "doc_id", 3)
    assert(k3.isEmpty, "base content must survive re-promotion")
    dropPromotedTables()
  }

  /** The promoted tests register per-tempdir catalog tables; drop them so
    * the derby metastore doesn't accrete dead entries across runs.
    */
  private def dropPromotedTables(): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_idx_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("EMBEDDING twin: promoted base answers identically") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val m = e.agg(max("vec_id")).head.getLong(0)
    val b0 = e.filter(col("vec_id") <= m / 2)
    val b1 = e.filter(col("vec_id") > m / 2)
    import graft.ops.IncrementalEmbeddingDedup
    val idxPlain = freshIndex("emb_plain")
    IncrementalEmbeddingDedup.addBatch(spark, idxPlain, b0, "embedding",
      "vec_id", 0, dim = 64, planes = 8, minCos = 0.3)
    val keptPlain = IncrementalEmbeddingDedup.addBatch(spark, idxPlain, b1,
      "embedding", "vec_id", 1, dim = 64, planes = 8, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val idx = freshIndex("emb_promoted")
    IncrementalEmbeddingDedup.addBatch(spark, idx, b0, "embedding",
      "vec_id", 0, dim = 64, planes = 8, minCos = 0.3)
    IncrementalEmbeddingDedup.promoteBase(spark, idx, uptoExclusive = 1, buckets = 4)
    val kept = IncrementalEmbeddingDedup.addBatch(spark, idx, b1, "embedding",
      "vec_id", 1, dim = 64, planes = 8, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === keptPlain)
    val stats = IncrementalEmbeddingDedup.indexBucketStats(spark, idx).head()
    assert(stats.getAs[Long]("max_bucket") >= 1L)
    // rebucket migrates the PROMOTED index too (r16): the buckets base
    // table is rebuilt in place from the vectors base table — a TB-scale
    // index is promoted exactly when a planes under-estimate surfaces, so
    // the escape hatch must not require never having promoted
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 10)
    // replay b1 at the new plane count (>= base boundary, allowed): the
    // kept set must equal a fresh 10-plane index run batch-for-batch
    val kept10 = IncrementalEmbeddingDedup.addBatch(spark, idx, b1,
      "embedding", "vec_id", 1, dim = 64, planes = 10, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val idxFresh = freshIndex("emb_fresh10")
    IncrementalEmbeddingDedup.addBatch(spark, idxFresh, b0, "embedding",
      "vec_id", 0, dim = 64, planes = 10, minCos = 0.3)
    val keptFresh = IncrementalEmbeddingDedup.addBatch(spark, idxFresh, b1,
      "embedding", "vec_id", 1, dim = 64, planes = 10, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept10 === keptFresh,
      "migrated promoted index must answer like a fresh index at the new planes")
    dropPromotedTables()
  }

  test("baked signature parameters are pinned: a mismatched probe fails loudly") {
    val idx = freshIndex("meta")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    // k shapes band_key — a k=5 probe against a k=8 index would silently
    // match nothing (under-dropping every dup), so it must throw instead
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, A))),
        "text", "doc_id", 1, k = 5)
    }
    // the text twin's hint is rebuild-only: shingles derive from text the
    // index does not store, so there is no in-place k/bands migration
    assert(ex.getMessage.contains("rebuild") &&
      !ex.getMessage.contains("rebucket"))
    intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, A))),
        "text", "doc_id", 1, bands = 4)
    }
    // matching parameters still pass
    val k1 = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, A))),
      "text", "doc_id", 1)
    assert(k1.isEmpty)
  }

  test("rebucket migrates the embedding index to a larger bucket space; probes stay exact") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val m = e.agg(max("vec_id")).head.getLong(0)
    val b1 = e.filter(col("vec_id") <= m / 2)
    val b2 = e.filter(col("vec_id") > m / 2)
    val idx = freshIndex("rebucket")
    import graft.ops.IncrementalEmbeddingDedup
    IncrementalEmbeddingDedup.addBatch(spark, idx, b1, "embedding", "vec_id",
      batchId = 0, dim = 64, planes = 8, minCos = 0.3)
    // planes bakes into the stored buckets: a 10-plane probe must refuse
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.addBatch(spark, idx, b2, "embedding", "vec_id",
        batchId = 1, dim = 64, planes = 10, minCos = 0.3)
    }
    // migrate from the stored vectors (no corpus re-read), then probe at 10
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 10)
    val k2 = IncrementalEmbeddingDedup.addBatch(spark, idx, b2, "embedding",
      "vec_id", batchId = 1, dim = 64, planes = 10, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // the migrated buckets equal a fresh 10-plane bucketing of the corpus
    val got = spark.read
      .schema("id bigint, bucket bigint, batch int").parquet(s"$idx/buckets")
      .filter(col("batch") === 0).select("id", "bucket")
      .as[(Long, Long)].collect().sorted.toSeq
    val want = graft.ops.Similarity.lshBuckets(b1, "vec_id", "embedding",
        dim = 64, planes = 10)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === want, "migrated buckets must equal a fresh 10-plane bucketing")
    // and the full cycle at the escalated plane count still equals the
    // one-pass batch policy — the equality contract survives the migration
    val idx2 = freshIndex("rebucket_fresh")
    val k1f = IncrementalEmbeddingDedup.addBatch(spark, idx2, b1, "embedding",
      "vec_id", batchId = 0, dim = 64, planes = 10, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val k2f = IncrementalEmbeddingDedup.addBatch(spark, idx2, b2, "embedding",
      "vec_id", batchId = 1, dim = 64, planes = 10, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(k2 === k2f, "post-migration probe must equal the fresh-index probe")
    val batchKept = graft.ops.Similarity.dropEmbeddingNearDups(
        e, "vec_id", "embedding", dim = 64, planes = 10, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert((k1f ++ k2f).sorted === batchKept)
  }

  test("a rebucket that crashed before its commit leaves the index serving the " +
      "old planes until it reruns") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(50)
    val idx = freshIndex("rebucket_crash")
    import graft.ops.IncrementalEmbeddingDedup
    IncrementalEmbeddingDedup.addBatch(spark, idx, e, "embedding", "vec_id",
      batchId = 0, dim = 64, planes = 8, minCos = 0.3)
    // forge a migration that crashed after its data phase: new-plane
    // buckets on disk, unlisted; the index is still at 8 planes
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    dropNewestVersion(idx)
    assert(latest(idx).meta("planes") === "8")
    // no half-migrated state is ever served: a 9-plane writer refuses on
    // the pin, an 8-plane one appends against the old buckets
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.addBatch(spark, idx, e, "embedding", "vec_id",
        batchId = 1, dim = 64, planes = 9, minCos = 0.3)
    }
    val k1 = IncrementalEmbeddingDedup.addBatch(spark, idx,
      e.withColumn("vec_id", col("vec_id") + 1000000L), "embedding",
      "vec_id", batchId = 1, dim = 64, planes = 8, minCos = 0.3)
    assert(k1.isEmpty, "batch 1 re-sends batch 0's vectors under fresh ids — all dups")
    // rerunning the migration completes it, batch 1 included
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    val k = IncrementalEmbeddingDedup.addBatch(spark, idx,
      e.withColumn("vec_id", col("vec_id") + 2000000L), "embedding",
      "vec_id", batchId = 2, dim = 64, planes = 9, minCos = 0.3)
    assert(k.isEmpty, "batch 2 re-sends batch 0's vectors under fresh ids — all dups")
  }

  test("probes keep answering through a LIVE rebucket — zero client-visible " +
      "failures, the cutover is the parameter pin") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(60)
    val idx = freshIndex("rebucketlive")
    import graft.ops.IncrementalEmbeddingDedup
    IncrementalEmbeddingDedup.addBatch(spark, idx, e, "embedding", "vec_id",
      batchId = 0, dim = 64, planes = 8, minCos = 0.3)
    val gate = e.withColumn("vec_id", col("vec_id") + 1000000L)
    def answer(planes: Int) = IncrementalEmbeddingDedup.probe(spark, idx, gate,
      "embedding", "vec_id", dim = 64, planes = planes, minCos = 0.3)
      .select("vec_id").as[Long].collect().toSeq
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
    val outcomes = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          if (answer(8).isEmpty) outcomes.incrementAndGet() else wrong.incrementAndGet()
        } catch {
          // the commit flipped planes: an 8-plane probe now refuses on the pin
          case ex: IllegalArgumentException if ex.getMessage.contains("planes") =>
            outcomes.incrementAndGet(); stop.set(true)
          case t: Throwable => err.set(t); stop.set(true)
        }
      }
    })
    prober.start()
    try IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    finally { prober.join(60000); stop.set(true); prober.join() }
    assert(err.get() == null, s"client-visible probe failure: ${err.get()}")
    assert(wrong.get() === 0, "every served answer must be the pre-migration one")
    assert(outcomes.get() > 0, "the prober never completed a probe")
    assert(answer(9).isEmpty, "the migrated index gates the re-sent vectors")
  }

  test("probe serves the pre-migration state through a staged rebucket data phase; " +
      "refuses only the swap window and legacy debris") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(80)
    val idx = freshIndex("rebucket_serve")
    import graft.ops.IncrementalEmbeddingDedup
    IncrementalEmbeddingDedup.addBatch(spark, idx, e, "embedding", "vec_id",
      batchId = 0, dim = 64, planes = 8, minCos = 0.3)
    val gate = e.withColumn("vec_id", col("vec_id") + 1000000L)
    def answer(planes: Int) = IncrementalEmbeddingDedup.probe(spark, idx, gate,
      "embedding", "vec_id", dim = 64, planes = planes, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val pre = answer(8)
    assert(pre.isEmpty, "fixture: the gate re-sends indexed vectors — all dups")
    // DATA PHASE done, commit pending (the new buckets written, unlisted):
    // the gate keeps answering with the pre-migration state
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    dropNewestVersion(idx)
    val before = indexState(idx)
    assert(answer(8) === pre, "probe must serve through the data phase")
    assert(indexState(idx) === before, "read-only: no mutation")
    // the swap is ONE commit — no window to refuse in; after it the old
    // planes refuse on the parameter pin (the cutover) and the new serve
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    val ex = intercept[IllegalArgumentException](answer(8))
    assert(ex.getMessage.contains("planes"), ex.getMessage)
    assert(answer(9).isEmpty)
    // the previous layout's migration debris (partitions that may mix
    // bucket spaces) still refuses where it matters: adopting such a dir
    val dir = new java.io.File(idx)
    deleteTree(new java.io.File(dir, "_graft_log"))
    java.nio.file.Files.write(dir.toPath.resolve("_graft_meta"), "planes=9".getBytes("UTF-8"))
    java.nio.file.Files.createFile(dir.toPath.resolve("_graft_rebucket_inprogress"))
    val ex2 = intercept[IllegalArgumentException](
      IncrementalEmbeddingDedup.markLegacyCommitted(spark, idx))
    assert(ex2.getMessage.contains("_graft_rebucket_inprogress"), ex2.getMessage)
  }

  test("a rebucket crashed between staging-complete and the swap finishes on the " +
      "next rebucket call and serves the new bucket space") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(80)
    val idx = freshIndex("rebucket_swapcrash")
    val clone = freshIndex("rebucket_swapcrash_clone")
    import graft.ops.IncrementalEmbeddingDedup
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(idx)
    IncrementalEmbeddingDedup.addBatch(spark, idx, e, "embedding", "vec_id",
      batchId = 0, dim = 64, planes = 8, minCos = 0.3)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(idx),
      fs, new org.apache.hadoop.fs.Path(clone), false, conf)
    IncrementalEmbeddingDedup.rebucket(spark, clone, newPlanes = 11)
    // forge the crash on the original: every new-plane partition staged,
    // the commit never made — probes serve the old planes, never a mix
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 11)
    dropNewestVersion(idx)
    val staged = new java.io.File(s"$idx/buckets/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(staged.size === 2, s"listed + staged dirs expected: $staged")
    assert(IncrementalEmbeddingDedup.probe(spark, idx, e, "embedding", "vec_id",
      dim = 64, planes = 8, minCos = 0.3).isEmpty)
    // the next rebucket call finishes the migration deterministically and
    // collects the crashed attempt's unlisted partitions
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 11)
    assert(latest(idx).meta("planes") === "11")
    val live = new java.io.File(s"$idx/buckets/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert((live intersect staged).size === 1, s"crashed dir must go: $live")
    // the finished index answers exactly like the cleanly-migrated clone
    val gate = e.withColumn("vec_id", col("vec_id") + 1000000L)
    def ans(d: String) = IncrementalEmbeddingDedup.probe(spark, d, gate,
      "embedding", "vec_id", dim = 64, planes = 11, minCos = 0.3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(ans(idx) === ans(clone))
    // and the listed buckets are row-equal to the clone's
    def listedBuckets(d: String) = graft.ops.IndexLog.read(spark, d, latest(d),
      "buckets", "id bigint, bucket bigint, rank bigint", Int.MaxValue)
      .orderBy("id").collect().toSeq
    assert(listedBuckets(idx) === listedBuckets(clone))
  }

  test("a probe planned against a version reads it across one maintenance " +
      "commit; deletion waits one version") {
    val idx = freshIndex("pinned")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    val gate = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    // a lazy probe froze its listings at the pre-compaction version; the
    // compaction commits between its planning and its execution — the
    // interleaving the old swap-generation token refused and retried
    val planned = IncrementalDedup.probe(spark, idx, gate, "text", "doc_id",
      eagerResult = false)
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 2)
    assert(planned.select("doc_id").as[Long].collect().sorted.toSeq === Seq(102L),
      "the pinned version's data must survive the next commit")
    // a second commit supersedes the pinned version: only now do the
    // folded partitions go, and a frame still pinned to them fails
    // loudly instead of serving a partial index
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(3, C))), "text", "doc_id", 2)
    assert(batchDirsOnDisk(idx, "bands") === Seq("batch=-1", "batch=2"))
    intercept[Exception](planned.collect())
    assert(IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
      .select("doc_id").as[Long].collect().isEmpty, "fresh probes pin the new version")
  }

  test("index log: two writers committing the same version — exactly one wins, " +
      "the loser gets ConcurrentModificationException") {
    import graft.ops.{IndexLog, IndexSnapshot}
    val idx = freshIndex("commitrace")
    val v0 = IndexLog.commit(spark, idx, IndexSnapshot(-1, Map.empty),
      IndexSnapshot(0, Map("k" -> "8")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 25).foldLeft(v0) { (from, round) =>
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val tries = Seq("a", "b").map { who =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, IndexSnapshot]] {
          def call() = {
            gate.await()
            try Right(IndexLog.commit(spark, idx, from,
              from.copy(meta = from.meta.updated("w", s"$who$round"))))
            catch { case t: Throwable => Left(t) }
          }
        })
      }.map(_.get())
      val won = tries.collect { case Right(s) => s }
      assert(won.size === 1, s"round $round: ${won.size} winners")
      tries.collect { case Left(t) => t }.foreach(t => assert(
        t.isInstanceOf[java.util.ConcurrentModificationException], s"round $round: $t"))
      assert(latest(idx) === won.head, "the winner's version is the one served")
      won.head
    } finally pool.shutdown()
  }

  test("probes keep answering correctly while a LIVE compaction runs (marker " +
      "precedes the generation bump; retry absorbs the swap)") {
    val idx = freshIndex("compactserve")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(3, C))), "text", "doc_id", 2)
    val gate = df(Seq(doc(100, A), doc(101, B), doc(103, "novel words only here")))
    def answer() = IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val expect = answer()
    assert(expect === Seq(103L))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      try while (!stop.get()) {
        if (answer() == expect) served.incrementAndGet()
        else wrong.incrementAndGet()
      } catch { case t: Throwable => err.set(t) }
    })
    prober.start()
    try IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 3)
    finally { stop.set(true); prober.join() }
    assert(err.get() == null, s"probe failed during compaction: ${err.get()}")
    assert(wrong.get() === 0, s"${wrong.get()} wrong answers during compaction")
    assert(served.get() > 0, "the prober never completed a probe")
    assert(answer() === expect, "post-compaction answer unchanged")
  }

  test("markLegacyCommitted treats an EMPTY (footerless) batch partition as " +
      "rank-verified vacuously instead of a schema-inference crash") {
    val idx = freshIndex("legacyemptybatch")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    toPreLogLayout(idx)
    // forge a legacy EMPTY batch: dirs exist in BOTH tables (so the twin
    // soundness check passes) but hold no parquet footers
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/bands/batch=1"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/shingles/batch=1"))
    IncrementalDedup.markLegacyCommitted(spark, idx) // must not throw
    // the adopted index still gates batch-0 content
    val k = IncrementalDedup.probe(spark, idx, df(Seq(doc(100, A), doc(101, C))),
      "text", "doc_id").select("doc_id").as[Long].collect().sorted.toSeq
    assert(k === Seq(101L))
  }

  test("hashed-shingle index: kept set equals the string form; layout is pinned") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val m = docs.agg(max("doc_id")).head.getLong(0)
    val batches = Seq(
      docs.filter(col("doc_id") <= m / 2),
      docs.filter(col("doc_id") > m / 2))
    def run(hashed: Boolean): Seq[Long] = {
      val idx = freshIndex(if (hashed) "hashed" else "strform")
      batches.zipWithIndex.map { case (b, i) =>
        IncrementalDedup.addBatch(spark, idx, b, "text", "doc_id", i,
          hashedShingles = hashed).select("doc_id")
      }.reduce(_ unionByName _).as[Long].collect().sorted.toSeq
    }
    val str = run(hashed = false)
    val hsh = run(hashed = true)
    // contract: hashed kept ⊆ string kept (collisions only add drops);
    // on the real corpus xxhash64 collides on nothing, so they are equal
    assert(hsh.forall(str.toSet), "hashed form may only drop MORE, never less")
    assert(hsh === str, "no collisions at this scale — kept sets must be equal")
    assert(str.nonEmpty && str.size < docs.count())
    // the layout bakes in: a string probe against a hashed index refuses
    val idx = freshIndex("hashedpin")
    IncrementalDedup.addBatch(spark, idx, batches.head, "text", "doc_id", 0,
      hashedShingles = true)
    intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, batches(1), "text", "doc_id", 1)
    }
  }

  test("a batch that crashed between its two table appends is refused until replayed") {
    val idx = freshIndex("addbatchcrash")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A), doc(2, B))),
      "text", "doc_id", 0)
    // forge the crash window: batch 1 wrote its bands but died before the
    // shingles append — so no commit either. (Run it whole, then remove
    // the second write and the version: exact on-disk crash state.)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(10, C))),
      "text", "doc_id", 1)
    dropNewestVersion(idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/shingles/batch=1"), true)
    // serving the orphaned bands would let doc 10's copy generate
    // candidates whose verification join finds no shingle partner —
    // silent under-dropping. Appending past it refuses loudly.
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(20, C))),
        "text", "doc_id", 2)
    }
    assert(ex.getMessage.contains("UNCOMMITTED") && ex.getMessage.contains("1"))
    // the maintenance ops refuse to bake the half-written batch in, too
    intercept[IllegalArgumentException] {
      IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 2)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 2)
    }
    // replaying the crashed id heals (fresh write + commit), then the next
    // batch drops doc 20 against the now-whole index
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(10, C))),
      "text", "doc_id", 1)
    val k2 = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(20, C))),
      "text", "doc_id", 2)
    assert(k2.isEmpty, "doc 20 duplicates healed doc 10 and must drop")
  }

  test("EMBEDDING twin: the two-append crash window is marker-guarded the same way") {
    import graft.ops.IncrementalEmbeddingDedup
    val idx = freshIndex("embaddcrash")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(1L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", 0, dim = 4)
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(10L -> Seq(0f, 1f, 0f, 0f)), "embedding", "vec_id", 1, dim = 4)
    // crash state: buckets written, vectors missing, no commit
    dropNewestVersion(idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/vectors/batch=1"), true)
    val ex = intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.addBatch(spark, idx,
        vecs(20L -> Seq(0f, 1f, 0f, 0f)), "embedding", "vec_id", 2, dim = 4)
    }
    assert(ex.getMessage.contains("UNCOMMITTED"))
    // rebucket refuses too, like every maintenance op: the crashed batch
    // is replayed (at the planes it was written under) first
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    }
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(10L -> Seq(0f, 1f, 0f, 0f)), "embedding", "vec_id", 1, dim = 4)
    val k2 = IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(20L -> Seq(0f, 1f, 0f, 0f)), "embedding", "vec_id", 2, dim = 4)
    assert(k2.isEmpty, "vec 20 duplicates healed vec 10 and must drop")
  }

  test("a pre-marker legacy index migrates via markLegacyCommitted") {
    val idx = freshIndex("legacymark")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    // forge a pre-log index (data + _graft_meta, no markers, no log)
    toPreLogLayout(idx)
    intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    }
    // debris of an unfinished maintenance op refuses the adoption
    val debris = new org.apache.hadoop.fs.Path(s"$idx/bands__compact_commit")
    fs.create(debris, true).close()
    val ex = intercept[IllegalArgumentException](
      IncrementalDedup.markLegacyCommitted(spark, idx))
    assert(ex.getMessage.contains("bands__compact_commit"), ex.getMessage)
    fs.delete(debris, false)
    IncrementalDedup.markLegacyCommitted(spark, idx)
    assert(latest(idx).version === 0L, "adopted as version 0")
    IncrementalDedup.markLegacyCommitted(spark, idx) // a no-op once on the log
    assert(latest(idx).version === 0L)
    val k1 = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, A))),
      "text", "doc_id", 1)
    assert(k1.isEmpty, "doc 2 duplicates legacy doc 1 after the migration stamp")
  }

  test("a meta-less dir that already holds index data is refused, not adopted") {
    val idx = freshIndex("legacymeta")
    val fs = fsOf(idx)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    // forge an index whose log is gone (or never existed): stamping a
    // fresh version over it would trust data no version vouches for
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_log"), true)
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, A))), "text", "doc_id", 1)
    }
    assert(ex.getMessage.contains("_graft_log") &&
      ex.getMessage.contains("rebuild") &&
      ex.getMessage.contains("markLegacyCommitted"), ex.getMessage)
    assert(graft.ops.IndexLog.latest(spark, idx).isEmpty,
      "the refusal must not have stamped a fresh version")
    // readers refuse the same way rather than serve an empty index
    intercept[IllegalArgumentException] {
      IncrementalDedup.probe(spark, idx, df(Seq(doc(2, A))), "text", "doc_id")
    }
    intercept[IllegalArgumentException](IncrementalDedup.indexBucketStats(spark, idx))
    // without its parameter file the pre-log layout cannot be adopted
    intercept[IllegalArgumentException](IncrementalDedup.markLegacyCommitted(spark, idx))
  }

  test("index log: a crash between the temp write and the link leaves version N " +
      "serving") {
    val idx = freshIndex("logatomic")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    val before = latest(idx)
    // a completed commit leaves no temp file behind
    val log = new java.io.File(s"$idx/_graft_log")
    assert(log.list().forall(n => !n.startsWith(".tmp-")), log.list().toSeq)
    // forge a writer that died after writing its temp (here a truncated
    // would-be version N+1 that drops every batch) and before linking it
    java.nio.file.Files.write(log.toPath.resolve(".tmp-forged"),
      "meta\tk\t5\n".getBytes("UTF-8"))
    assert(latest(idx) === before, "version N must keep serving")
    assert(IncrementalDedup.probe(spark, idx, df(Seq(doc(100, A), doc(101, C))),
      "text", "doc_id").select("doc_id").as[Long].collect().toSeq === Seq(101L))
    // the next writer commits N+1 normally; the dead temp is never read
    val k1 = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, A))),
      "text", "doc_id", 1)
    assert(k1.isEmpty, "the batch must run against the intact version N")
    assert(latest(idx).version === before.version + 1)
  }

  test("tablePrefix keeps its fixed prefix and disambiguates by full-path hash") {
    import graft.ops.IndexBase
    // two dirs sharing an 80-char sanitized TAIL — the pre-r16 takeRight
    // collapsed these to one catalog name (and could chop the graft_idx_
    // prefix entirely, escaping IncrEnvelope's prefix-scoped cleanup)
    val tail = "x" * 100 + "/idx1"
    val p1 = IndexBase.tablePrefix(s"/a/$tail")
    val p2 = IndexBase.tablePrefix(s"/b/$tail")
    assert(p1.startsWith("graft_idx_") && p2.startsWith("graft_idx_"))
    assert(p1 !== p2, "same-tail dirs must not collide")
    assert(p1.length <= 80 && p2.length <= 80)
    // stable: the prefix is a pure function of the dir
    assert(p1 === IndexBase.tablePrefix(s"/a/$tail"))
  }

  test("rebucket heals a buckets/vectors partition-layout divergence (crashed compaction)") {
    import graft.ops.{IncrementalEmbeddingDedup, IndexLog}
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val b0 = e.filter(col("vec_id") < 30)
    val b1 = e.filter(col("vec_id") >= 30)
    val nTotal = e.count()
    val idx = freshIndex("divergence")
    IncrementalEmbeddingDedup.addBatch(spark, idx, b0, "embedding",
      "vec_id", 0, dim = 64, planes = 8, minCos = 0.3)
    IncrementalEmbeddingDedup.addBatch(spark, idx, b1, "embedding",
      "vec_id", 1, dim = 64, planes = 8, minCos = 0.3)
    // forge a version whose BUCKETS table lists a partition with no
    // vectors twin (batch 0's old-plane rows again, as a compaction that
    // folded one table and not the other would leave them) — the shape
    // that used to survive a rebucket as duplicate ids across bucket spaces
    val snap = latest(idx)
    val orphan = "buckets/batch=5/w-orphan"
    org.apache.hadoop.fs.FileUtil.copy(fsOf(idx),
      new org.apache.hadoop.fs.Path(idx, snap.batches("buckets")(0).head), fsOf(idx),
      new org.apache.hadoop.fs.Path(idx, orphan), false, spark.sparkContext.hadoopConfiguration)
    IndexLog.commit(spark, idx, snap, snap.copy(parts = snap.parts.updated("buckets",
      snap.batches("buckets").updated(5, Seq(orphan)))))
    // the migration lists buckets for exactly the vectors batches
    IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 9)
    assert(listedDirs(idx, "buckets").keySet === Set(0, 1),
      s"orphaned batch=5 must not be listed, got ${latest(idx)}")
    // no duplicate ids across mixed bucket spaces survive the migration
    val buckets01 = IndexLog.read(spark, idx, latest(idx), "buckets",
      "id bigint, bucket bigint, rank bigint", Int.MaxValue)
    assert(buckets01.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "an id must appear in exactly one partition after the migration")
    assert(buckets01.select("id").distinct().count() === nTotal)
    // and the healed index answers: identical re-sent vectors (fresh ids)
    // all drop against their originals at the new plane count
    val k2 = IncrementalEmbeddingDedup.addBatch(spark, idx,
      b0.withColumn("vec_id", col("vec_id") + 2000L), "embedding",
      "vec_id", 2, dim = 64, planes = 9, minCos = 0.99)
    assert(k2.isEmpty, "exact copies of indexed vectors must all drop")
  }

  /** Relative path → size snapshot of everything under an index dir. */
  private def indexState(idx: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(idx)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
      finally s.close()
    }
  }

  test("READ-ONLY probe equals dropCrossCorpusDups and mutates nothing") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val pr = docs.filter(col("doc_id") % 2 === 1)
    val idx = freshIndex("probe")
    IncrementalDedup.addBatch(spark, idx, ref, "text", "doc_id", 0)
    val before = indexState(idx)
    val kept = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id",
      minJaccard = 0.8).select("doc_id").as[Long].collect().sorted.toSeq
    val want = Dedup.dropCrossCorpusDups(pr, ref, "text", "doc_id",
      minJaccard = 0.8).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === want,
      "stored rank panels must reproduce the batch cross-corpus policy")
    assert(kept.nonEmpty && kept.size < pr.count(),
      "fixture vacuous — the halves must share near-dup content")
    assert(indexState(idx) === before, "probe must not mutate the index")
    // no id-order condition: a probe doc with a LOWER id than its indexed
    // twin still drops (cross-corpus id spaces are independent)
    val idx2 = freshIndex("probeorder")
    IncrementalDedup.addBatch(spark, idx2, df(Seq(doc(10, A), doc(12, B))),
      "text", "doc_id", 0)
    val k2 = IncrementalDedup.probe(spark, idx2,
      df(Seq(doc(1, A), doc(2, C))), "text", "doc_id")
    assert(k2.select("doc_id").as[Long].collect().sorted === Array(2L),
      "doc 1 duplicates indexed doc 10 despite the lower id")
    // guards: a missing index and mismatched parameters refuse loudly
    intercept[IllegalStateException] {
      IncrementalDedup.probe(spark, freshIndex("probenone"), pr, "text", "doc_id")
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.probe(spark, idx2, pr, "text", "doc_id", k = 5)
    }
  }

  test("probe answers identically against a PROMOTED index, still read-only") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val pr = docs.filter(col("doc_id") % 2 === 1)
    val idx = freshIndex("probepromo")
    IncrementalDedup.addBatch(spark, idx, ref, "text", "doc_id", 0)
    val plainKept = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id",
      minJaccard = 0.8).select("doc_id").as[Long].collect().sorted.toSeq
    IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 1, buckets = 4)
    val before = indexState(idx)
    val kept = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id",
      minJaccard = 0.8).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === plainKept,
      "the promoted layout must not change the probe's answer")
    assert(indexState(idx) === before, "probe must not mutate the promoted index")
    // a promoted index written before the log adopts with its catalog base
    toPreLogLayout(idx)
    IncrementalDedup.markLegacyCommitted(spark, idx)
    assert(IncrementalDedup.probe(spark, idx, pr, "text", "doc_id", minJaccard = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq === plainKept)
    dropPromotedTables()
  }

  test("lazy-result probe (oracle path): same answer, NOTHING materialized — " +
      "no non-recomputable checkpoint hides behind a caller's projection") {
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.ops.{IncrementalEmbeddingDedup, Lineage}
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val pr = docs.filter(col("doc_id") % 2 === 1)
    val idx = freshIndex("probelazy")
    IncrementalDedup.addBatch(spark, idx, ref, "text", "doc_id", 0)
    val eager = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id")
    assert(eager.queryExecution.logical.isInstanceOf[LogicalRDD],
      "the serving default stays eager (the result outlives the pinned files)")
    val lazyOut = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id",
      eagerResult = false)
    assert(!lazyOut.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalRDD]),
      "lazy-result mode must checkpoint nothing anywhere in its plan — a " +
        "checkpoint under the oracle queries' .select leaks per bench rep")
    assert(lazyOut.select("doc_id").as[Long].collect().sorted.toSeq ===
      eager.select("doc_id").as[Long].collect().sorted.toSeq)
    Lineage.release(eager)
    // embedding twin: same contract
    val eidx = freshIndex("probelazyemb")
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    IncrementalEmbeddingDedup.addBatch(spark, eidx,
      vecs(10L -> Seq(1f, 0f, 0f, 0f), 12L -> Seq(0f, 1f, 0f, 0f)),
      "embedding", "vec_id", 0, dim = 4)
    val elazy = IncrementalEmbeddingDedup.probe(spark, eidx,
      vecs(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 0f, 1f, 0f)),
      "embedding", "vec_id", dim = 4, eagerResult = false)
    assert(!elazy.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalRDD]))
    assert(elazy.select("vec_id").as[Long].collect().sorted.toSeq === Seq(2L))
  }

  test("EMBEDDING probe: read-only, id-order-free, parameter-pinned") {
    import graft.ops.IncrementalEmbeddingDedup
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    val idx = freshIndex("embprobe")
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(10L -> Seq(1f, 0f, 0f, 0f), 12L -> Seq(0f, 1f, 0f, 0f)),
      "embedding", "vec_id", 0, dim = 4)
    val before = indexState(idx)
    val kept = IncrementalEmbeddingDedup.probe(spark, idx,
      vecs(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 0f, 1f, 0f)),
      "embedding", "vec_id", dim = 4)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L),
      "vec 1 duplicates indexed vec 10 despite the lower id; vec 2 is novel")
    assert(indexState(idx) === before, "probe must not mutate the index")
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.probe(spark, idx,
        vecs(3L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id",
        dim = 4, planes = 9)
    }
    intercept[IllegalStateException] {
      IncrementalEmbeddingDedup.probe(spark, freshIndex("embprobenone"),
        vecs(3L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", dim = 4)
    }
    // QUANTIZED index: the probe quantizes its batch through the same
    // int8 path, and a double probe against a q8 index refuses
    val idxQ = freshIndex("embprobeq8")
    IncrementalEmbeddingDedup.addBatch(spark, idxQ,
      vecs(10L -> Seq(1f, 0f, 0f, 0f), 12L -> Seq(0f, 1f, 0f, 0f)),
      "embedding", "vec_id", 0, dim = 4, quantized = true)
    val keptQ = IncrementalEmbeddingDedup.probe(spark, idxQ,
      vecs(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 0f, 1f, 0f)),
      "embedding", "vec_id", dim = 4, quantized = true)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(keptQ === Seq(2L))
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.probe(spark, idxQ,
        vecs(3L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", dim = 4)
    }
  }

  test("a stream decontaminates via probe in foreachBatch (static index, no mutation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val idx = freshIndex("probestream")
    // the benchmark set is indexed ONCE, offline
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A), doc(2, B))),
      "text", "doc_id", 0)
    val before = indexState(idx)
    val keptIds = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val kept = IncrementalDedup.probe(spark, idx, batch, "text", "doc_id")
        keptIds.synchronized {
          keptIds ++= kept.select("doc_id").as[Long].collect()
        }
        ()
      }.start()
    try {
      in.addData(doc(10, A), doc(11, C)); q.processAllAvailable()
      in.addData(doc(12, B), doc(13, C)); q.processAllAvailable()
    } finally q.stop()
    // contaminated docs (10 dups A, 12 dups B) are gated out; the NOVEL
    // doc C passes in BOTH batches — unlike addBatch, the stream's own
    // content never enters the index (13 is not deduped against 11)
    assert(keptIds.sorted.toSeq === Seq(11L, 13L))
    assert(indexState(idx) === before, "streamed probes must not mutate the index")
  }

  test("addBatchAuto sizes planes from the expected corpus once, then reads the pin") {
    import graft.ops.{IncrementalEmbeddingDedup, Similarity}
    val idx = freshIndex("autoplanes")
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    val want = Similarity.planesFor(1000000L, targetBucket = 100)
    assert(want > 8, "fixture must exercise a non-default plane count")
    IncrementalEmbeddingDedup.addBatchAuto(spark, idx,
      vecs(1L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", 0, dim = 4,
      expectedCorpusRows = 1000000L)
    assert(latest(idx).meta("planes").toInt === want,
      "first write must pin the corpus-derived plane count")
    // later batches read the PIN, not the caller's (changed) estimate —
    // no meta-mismatch throw, no silent re-derivation
    val k1 = IncrementalEmbeddingDedup.addBatchAuto(spark, idx,
      vecs(2L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", 1, dim = 4,
      expectedCorpusRows = 10L)
    assert(k1.isEmpty, "vec 2 duplicates vec 1 under the pinned plane count")
  }

  test("empty and dup-free batches pass through; the index stays readable") {
    val idx = freshIndex("edges")
    val k0 = IncrementalDedup.addBatch(spark, idx,
      df(Seq.empty), "text", "doc_id", 0)
    assert(k0.isEmpty)
    val k1 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(1, A), doc(2, B), doc(3, C))), "text", "doc_id", 1)
    assert(k1.count() === 3, "nothing shares content — all kept")
    val k2 = IncrementalDedup.addBatch(spark, idx,
      df(Seq(doc(4, C))), "text", "doc_id", 2)
    assert(k2.isEmpty, "exact copy of an indexed doc must drop")
  }

  test("plain addBatch executes a bounded shuffle count (dedup_incr_kept leg pin)") {
    // exchange-count pin for the board's dedup_incr_kept: its per-batch
    // cost is the index write + a FIXED set of shuffles (batch signature
    // aggregation, touched-bucket count, rank window, candidate/verify
    // joins, kept anti-join). A magnitude move on the board with this pin
    // green is machine conditions (r16 watch item: 3.86→5.1 s flat, 100×
    // envelope flat); a pin failure is a real plan regression — some
    // rewrite added a shuffle to the probe path.
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val m = docs.agg(max("doc_id")).head.getLong(0)
    val idx = freshIndex("exchpin")
    IncrementalDedup.addBatch(spark, idx,
      docs.filter(col("doc_id") <= m / 3), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx,
      docs.filter(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3),
      "text", "doc_id", 1)
    val captured = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IncrementalDedup.addBatch(spark, idx,
        docs.filter(col("doc_id") > 2 * m / 3), "text", "doc_id", 2).count()
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val now = captured.synchronized(captured.size)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.listenerManager.unregister(listener)
    val plans = captured.synchronized(captured.toVector)
    // DISTINCT exchanges by identity: expand() follows ReusedExchange into
    // its child, so the same node can be visited twice
    val shuffles = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeLike, java.lang.Boolean]())
    plans.foreach(p => expand(p).foreach {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        shuffles.add(e)
      case _ => ()
    })
    info(s"dedup_incr_kept final-leg distinct shuffles = ${shuffles.size} " +
      s"across ${plans.size} actions")
    assert(plans.nonEmpty, "no plans captured — pin is vacuous")
    assert(shuffles.size <= 8,
      s"the plain addBatch leg now executes ${shuffles.size} distinct " +
        "shuffles (round-17 measurement: 8 across 7 actions) — a rewrite " +
        "added exchanges to the probe path")
  }

  test("probe serves the last COMMITTED prefix while a batch is mid-append") {
    val idx = freshIndex("probemidappend")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    val pr = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    def probeKept() = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(probeKept() === Seq(102L))
    // forge a single writer mid-addBatch: batch 2 (doc 10 = C) has written
    // its bands but not its shingles — and so no commit. (Run it whole,
    // then remove the second write and the version: the exact in-flight
    // on-disk state a concurrent probe can observe.)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(10, C))), "text", "doc_id", 2)
    dropNewestVersion(idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/shingles/batch=2"), true)
    // the gate serves the pre-batch answer: batch 2's orphaned bands are
    // simply not listed yet
    assert(probeKept() === Seq(102L),
      "mid-append probe must serve the committed prefix, not refuse (and " +
        "not see the in-flight bands without their shingles)")
    // occupancy observability follows the same committed prefix: 4 band
    // buckets (2 per doc), not 6 — the in-flight bands don't inflate it
    val occ = IncrementalDedup.indexBucketStats(spark, idx).head()
    assert(occ.getAs[Long]("ok_buckets") === 4L,
      "indexBucketStats must count only committed partitions")
    // the WRITER's refusal is retained: appending past the crashed/in-
    // flight batch (and every maintenance op) still fails loudly
    intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(20, C))),
        "text", "doc_id", 3)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 3)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 3)
    }
    // the append completes (replay = the heal); the same probe now drops C
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(10, C))), "text", "doc_id", 2)
    assert(probeKept() === Seq.empty,
      "once batch 2 commits, its content gates the probe")
    // edge: an index whose ONLY batch is in-flight serves the empty prefix
    // (its first version pinned the parameters before any data)
    val idx2 = freshIndex("probemidfirst")
    IncrementalDedup.addBatch(spark, idx2, df(Seq(doc(1, A))), "text", "doc_id", 0)
    dropNewestVersion(idx2)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx2/shingles/batch=0"), true)
    val k2 = IncrementalDedup.probe(spark, idx2, df(Seq(doc(100, A))),
      "text", "doc_id").select("doc_id").as[Long].collect().toSeq
    assert(k2 === Seq(100L), "empty committed prefix keeps everything")
  }

  test("probe refuses uncommitted batches that are not a single in-flight tail") {
    // (a) a multi-batch PRE-LOG index (no version lists any batch):
    // serving the listed nothing would silently keep every duplicate — it
    // must refuse with the migration pointer instead
    val idx = freshIndex("probelegacy")
    val fs = fsOf(idx)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    toPreLogLayout(idx)
    val pr = df(Seq(doc(100, A), doc(102, C)))
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.probe(spark, idx, pr, "text", "doc_id").collect()
    }
    assert(e.getMessage.contains("markLegacyCommitted"),
      s"refusal must point at the migration: ${e.getMessage}")
    // the documented migration heals it and the probe then gates for real
    IncrementalDedup.markLegacyCommitted(spark, idx)
    val kept = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(102L))
    // (b) uncommitted data BELOW a committed batch (a crashed batch 1
    // with batch 2 listed past it — a live writer refuses to produce
    // this): probes serve exactly the listed batches, never the crashed
    // one, and the writer keeps refusing until it is replayed
    val idx2 = freshIndex("probegap")
    IncrementalDedup.addBatch(spark, idx2, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx2, df(Seq(doc(2, B))), "text", "doc_id", 2)
    val crashed = "bands/batch=1/w-crashed"
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(idx2, listedDirs(idx2, "bands")(2).head), fs,
      new org.apache.hadoop.fs.Path(idx2, crashed), false, spark.sparkContext.hadoopConfiguration)
    val pr2 = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    assert(IncrementalDedup.probe(spark, idx2, pr2, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(102L))
    // (c) occupancy observability counts listed data only: every bucket
    // holds one doc — served, the crashed copy of doc 2's bands would
    // double its two buckets
    assert(IncrementalDedup.indexBucketStats(spark, idx2).head()
      .getAs[Long]("max_bucket") === 1L)
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addBatch(spark, idx2, df(Seq(doc(3, C))), "text", "doc_id", 3)
    }
    assert(ex.getMessage.contains("UNCOMMITTED") && ex.getMessage.contains("1"))
  }

  test("EMBEDDING probe serves the committed prefix mid-append the same way") {
    import graft.ops.IncrementalEmbeddingDedup
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    val idx = freshIndex("embprobemid")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(10L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", 0, dim = 4)
    val pr = vecs(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f))
    def probeKept() = IncrementalEmbeddingDedup.probe(spark, idx, pr,
      "embedding", "vec_id", dim = 4)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(probeKept() === Seq(2L))
    // in-flight batch 1 indexes vec 2's direction: buckets written,
    // vectors missing, no commit
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(20L -> Seq(0f, 1f, 0f, 0f)), "embedding", "vec_id", 1, dim = 4)
    dropNewestVersion(idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/vectors/batch=1"), true)
    assert(probeKept() === Seq(2L),
      "mid-append probe must serve the pre-batch answer, not refuse")
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.addBatch(spark, idx,
        vecs(30L -> Seq(0f, 0f, 1f, 0f)), "embedding", "vec_id", 2, dim = 4)
    }
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      vecs(20L -> Seq(0f, 1f, 0f, 0f)), "embedding", "vec_id", 1, dim = 4)
    assert(probeKept() === Seq.empty,
      "once batch 1 commits, vec 2's direction gates out")
  }

  test("mid-append probe over a PROMOTED index serves base + committed delta") {
    val idx = freshIndex("probemidpromo")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 2, buckets = 4)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(3, C))), "text", "doc_id", 2)
    val pr = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    def probeKept() = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(probeKept() === Seq.empty,
      "base (A, B) and committed delta (C) must all gate")
    // in-flight delta batch 3: bands written, shingles missing, no commit
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(4, C))), "text", "doc_id", 3)
    dropNewestVersion(idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/shingles/batch=3"), true)
    assert(probeKept() === Seq.empty,
      "the promoted probe must serve base + committed delta mid-append")
    // the committed prefix excludes ONLY the in-flight batch — a version
    // without the committed delta lets C's copy pass (proves batch 2 was
    // genuinely served from the delta, not the base)
    val snap = latest(idx)
    graft.ops.IndexLog.commit(spark, idx, snap,
      snap.copy(parts = snap.parts.map { case (t, bs) => t -> (bs - 2) }))
    assert(probeKept() === Seq(102L),
      "with the delta gone, only the base's A and B still gate")
    dropPromotedTables()
  }

  test("a gating stream keeps serving while the index grows between micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val idx = freshIndex("probegrow")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    val keptPerBatch = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val kept = IncrementalDedup.probe(spark, idx, batch, "text", "doc_id")
        keptPerBatch.synchronized {
          keptPerBatch += kept.select("doc_id").as[Long].collect().sorted.toSeq
        }
        ()
      }.start()
    try {
      // the pre-r17 contract only allowed a STATIC index under a running
      // gate; now the index grows between micro-batches and each batch
      // sees the prefix committed so far
      in.addData(doc(10, A), doc(11, C)); q.processAllAvailable()
      IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, C))),
        "text", "doc_id", 1) // the retained corpus grows mid-stream
      in.addData(doc(12, A), doc(13, C)); q.processAllAvailable()
    } finally q.stop()
    assert(keptPerBatch.toSeq === Seq(Seq(11L), Seq.empty),
      "batch 1 keeps novel C; after the index grows, batch 2's C-copy gates out")
  }

  test("probes answer a committed prefix — never throw — under a CONCURRENT writer") {
    // the true-concurrency form of the mid-append contract: a writer
    // thread appends batch 1 while the main thread probes in a loop.
    // Under a single writer every probe must return one of the two
    // committed-prefix answers (pre- or post-batch-1) — no exception, no
    // torn state (bands without shingles would keep a batch-1 duplicate
    // while dropping nothing, which is NEITHER valid answer).
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val idx = freshIndex("proberace")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    val pr = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    val pre = Seq(101L, 102L) // B and C not yet indexed
    val post = Seq(102L) // batch 1 indexes B (and the corpus docs)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try IncrementalDedup.addBatch(spark, idx,
        docs.unionByName(df(Seq(doc(900000L, B)))), "text", "doc_id", 1).count()
      catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    val answers = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    try {
      while (writer.isAlive && answers.size < 50) {
        answers += IncrementalDedup.probe(spark, idx, pr, "text", "doc_id")
          .select("doc_id").as[Long].collect().sorted.toSeq
      }
    } finally writer.join()
    assert(writerErr.get() === null, s"writer failed: ${writerErr.get()}")
    assert(answers.nonEmpty)
    answers.foreach(a => assert(a === pre || a === post,
      s"probe under a concurrent writer returned $a — neither the pre- " +
        s"nor the post-commit prefix"))
    // and once the writer is done, the post answer is the only answer
    val fin = IncrementalDedup.probe(spark, idx, pr, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(fin === post)
  }

  test("a probe with the OTHER twin's parameters refuses — the pin is not vacuous") {
    import graft.ops.IncrementalEmbeddingDedup
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    // an embedding index's meta holds dim/planes/quantized — none of the
    // text probe's keys. Pre-r17 the get-or-default comparison passed
    // VACUOUSLY, the bands dir read as empty, and the decontamination
    // gate silently kept the entire batch.
    val embIdx = freshIndex("crossmetaemb")
    IncrementalEmbeddingDedup.addBatch(spark, embIdx,
      vecs(10L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", 0, dim = 4)
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.probe(spark, embIdx, df(Seq(doc(1, A))), "text", "doc_id")
    }
    assert(ex.getMessage.contains("lacks") && ex.getMessage.contains("bands"),
      s"must name the missing keys, got: ${ex.getMessage}")
    // the reverse direction, and the writing path (addBatch), refuse too
    val txtIdx = freshIndex("crossmetatxt")
    IncrementalDedup.addBatch(spark, txtIdx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.probe(spark, txtIdx,
        vecs(1L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", dim = 4)
    }
    intercept[IllegalArgumentException] {
      IncrementalEmbeddingDedup.addBatch(spark, txtIdx,
        vecs(1L -> Seq(1f, 0f, 0f, 0f)), "embedding", "vec_id", 0, dim = 4)
    }
    // the text twin's message is rebuild-only (no in-place migration:
    // shingles derive from text the index does not store)
    val exT = intercept[IllegalArgumentException] {
      IncrementalDedup.probe(spark, txtIdx, df(Seq(doc(2, B))),
        "text", "doc_id", k = 5)
    }
    assert(exT.getMessage.contains("rebuild") &&
      !exT.getMessage.contains("rebucket"),
      s"text migration hint must say rebuild, got: ${exT.getMessage}")
  }

  test("markLegacyCommitted verifies twin-pairwise presence, not any-table union") {
    val idx = freshIndex("legacypairwise")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    // forge a legacy index with a REAL orphaned half-write: the pre-log
    // layout, no markers, and batch 1's shingles missing
    toPreLogLayout(idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/shingles/batch=1"), true)
    // listing batch 1 (present in bands = enough) would silently bake in
    // the under-drop; it fails loudly, naming it
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.markLegacyCommitted(spark, idx)
    }
    assert(ex.getMessage.contains("only one") && ex.getMessage.contains("1"),
      s"must name the one-sided batch, got: ${ex.getMessage}")
    // heal: drop the orphaned half too, adopt the sound prefix, replay
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/bands/batch=1"), true)
    IncrementalDedup.markLegacyCommitted(spark, idx)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    val k = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(3, B))),
      "text", "doc_id", 2)
    assert(k.isEmpty, "doc 3 duplicates replayed doc 2 after the migration")
  }

  test("markLegacyCommitted refuses a pre-rank bands layout, naming the batches") {
    val idx = freshIndex("legacyrankless")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    toPreLogLayout(idx)
    // forge a pre-rank-era batch: rewrite batch 0's bands WITHOUT the
    // stored rank column (reading it through the declared schema would
    // yield NULL ranks — the representative filter then excludes every
    // indexed doc and the probe silently keeps all duplicates)
    val b0 = spark.read.parquet(s"$idx/bands/batch=0").drop("rank")
    val tmpDir = s"$idx/bands_batch0_rankless"
    b0.write.parquet(tmpDir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/bands/batch=0"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmpDir),
      new org.apache.hadoop.fs.Path(s"$idx/bands/batch=0")))
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.markLegacyCommitted(spark, idx)
    }
    assert(ex.getMessage.contains("rank") && ex.getMessage.contains("0"),
      s"must name the rank-less batch, got: ${ex.getMessage}")
    // heal: delete the stale batch, adopt the rest, then replay batch 0
    // (same data, same id) in the modern layout
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/bands/batch=0"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/shingles/batch=0"), true)
    IncrementalDedup.markLegacyCommitted(spark, idx)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    val k = IncrementalDedup.probe(spark, idx, df(Seq(doc(100, A), doc(101, C))),
      "text", "doc_id").select("doc_id").as[Long].collect().sorted.toSeq
    assert(k === Seq(101L), "healed index gates the replayed content")
  }

  test("READ-ONLY probe serves THROUGH a pending compaction swap — the pre-swap " +
      "answer, without healing") {
    val idx = freshIndex("probecompactpend")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    val gate = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    val preSwap = IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(preSwap === Seq(102L), "fixture: A and B indexed, C novel")
    // forge a compaction caught mid-flight for BOTH tables: base written
    // (batch 0's rows), commit pending
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 1)
    dropNewestVersion(idx)
    val before = indexState(idx)
    // mid-swap: the gate keeps answering with the pre-swap answer —
    // maintenance is no longer probe downtime
    assert(IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq === preSwap,
      "probe mid-swap (base written, commit pending) must serve the " +
        "pre-swap answer")
    assert(indexState(idx) === before,
      "a serving probe must leave the index byte-identical")
    // past the commit, the folded partition still on disk until the next
    // one: the base alone carries the folded content
    IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 1)
    assert(listedDirs(idx, "bands").keySet === Set(-1, 1))
    assert(IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq === preSwap,
      "probe after the commit must serve the base")
    // the next write collects the folded partition; the probe answer is
    // unchanged across the whole maintenance cycle
    val k = IncrementalDedup.addBatch(spark, idx, df(Seq(doc(10, C))),
      "text", "doc_id", 2)
    assert(k.count() === 1)
    val kept = IncrementalDedup.probe(spark, idx,
      df(Seq(doc(100, A), doc(101, C))), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept.isEmpty, "the index gates both the folded and fresh content")
    assert(batchDirsOnDisk(idx, "bands") === Seq("batch=-1", "batch=1", "batch=2"))
  }

  test("probe serves through a live promoteBase: staged base tables are " +
      "invisible until the meta commit, the answer never changes") {
    val idx = freshIndex("probepromotemid")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A))), "text", "doc_id", 0)
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(2, B))), "text", "doc_id", 1)
    val gate = df(Seq(doc(100, A), doc(101, B), doc(102, C)))
    def answer() = IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val preSwap = answer()
    assert(preSwap === Seq(102L))
    // forge a promoteBase caught AFTER both bucketed-table writes but
    // BEFORE its commit: the tables exist, no version lists them
    IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 2, buckets = 4)
    dropNewestVersion(idx)
    assert(!latest(idx).meta.contains("base_upto"))
    assert(answer() === preSwap,
      "mid-promotion (tables written, version not committed) the probe " +
        "must serve the pre-swap delta state")
    // the real promoteBase commits (re-staging) — same answer
    IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 2, buckets = 4)
    assert(latest(idx).meta.get("base_upto").contains("2"))
    assert(answer() === preSwap,
      "post-promotion the probe serves the same content from the base")
    // the crashed attempt's unlisted tables and dirs went with the commit
    val prefix = graft.ops.IndexBase.tablePrefix(idx)
    assert(spark.catalog.listTables().collect().count(_.name.startsWith(prefix)) === 2)
    assert(new java.io.File(idx).list().count(_.contains("_base_")) === 2)
    dropPromotedTables()
  }

  test("EMBEDDING twin: probe serves through a pending compaction swap") {
    val idx = freshIndex("embprobecompactpend")
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val m = e.agg(max("vec_id")).head.getLong(0)
    val dim = e.head.getSeq[Double](1).size
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      e.filter(col("vec_id") <= m / 2), "embedding", "vec_id", 0, dim)
    IncrementalEmbeddingDedup.addBatch(spark, idx,
      e.filter(col("vec_id") > m / 2 && col("vec_id") <= m * 3 / 4),
      "embedding", "vec_id", 1, dim)
    val gate = e.filter(col("vec_id") > m * 3 / 4)
    val preSwap = IncrementalEmbeddingDedup.probe(spark, idx, gate,
      "embedding", "vec_id", dim)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // forge the mid-swap state for both tables (fold batch 0, upto=1):
    // base written, commit pending
    IncrementalEmbeddingDedup.compactIndex(spark, idx, uptoExclusive = 1)
    dropNewestVersion(idx)
    val before = indexState(idx)
    assert(IncrementalEmbeddingDedup.probe(spark, idx, gate,
      "embedding", "vec_id", dim)
      .select("vec_id").as[Long].collect().sorted.toSeq === preSwap,
      "embedding probe mid-swap must serve the pre-swap answer")
    assert(indexState(idx) === before, "no mutation from a read-only probe")
    // and past the commit, from the base
    IncrementalEmbeddingDedup.compactIndex(spark, idx, uptoExclusive = 1)
    assert(IncrementalEmbeddingDedup.probe(spark, idx, gate,
      "embedding", "vec_id", dim)
      .select("vec_id").as[Long].collect().sorted.toSeq === preSwap)
  }

  test("hashed-shingle probe: copies drop, novel content survives, layout pinned") {
    val idx = freshIndex("probehashed")
    IncrementalDedup.addBatch(spark, idx, df(Seq(doc(1, A), doc(2, B))),
      "text", "doc_id", 0, hashedShingles = true)
    val kept = IncrementalDedup.probe(spark, idx,
      df(Seq(doc(100, A), doc(101, C))), "text", "doc_id",
      hashedShingles = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(101L),
      "hashed probe must drop the indexed copy and keep the novel doc")
    // and on the real corpus: hashed probe ≡ string probe (no collisions
    // at this scale — the hashed form may only ever drop MORE)
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val pr = docs.filter(col("doc_id") % 2 === 1)
    val idxH = freshIndex("probehashedcorpus")
    IncrementalDedup.addBatch(spark, idxH, ref, "text", "doc_id", 0,
      hashedShingles = true)
    val keptH = IncrementalDedup.probe(spark, idxH, pr, "text", "doc_id",
      hashedShingles = true).select("doc_id").as[Long].collect().sorted.toSeq
    val idxS = freshIndex("probestrcorpus")
    IncrementalDedup.addBatch(spark, idxS, ref, "text", "doc_id", 0)
    val keptS = IncrementalDedup.probe(spark, idxS, pr, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptH === keptS, "hashed probe must equal the string form here")
    assert(keptH.nonEmpty && keptH.size < pr.count(), "fixture vacuous otherwise")
    // the string-layout probe against the hashed index refuses
    intercept[IllegalArgumentException] {
      IncrementalDedup.probe(spark, idxH, pr, "text", "doc_id")
    }
  }

  // r22 kernel ≡ reference pin (the GramHashes/SumLam discipline): the
  // native hashed verification-set kernel must equal the column form it
  // replaced — array_distinct(transform(graft_distinct_shingles, xxhash64))
  // — element for element (order included), on the real corpus + edges
  test("hashed distinct-shingle kernel equals the transform+xxhash64 form") {
    import org.apache.spark.sql.graft.{DistinctShingles, HashedDistinctShingles}
    val d = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, ""), (900002L, "  .,;!  "), (900003L, "one two"),
        (900004L, "a b c a b c a b c"), (900005L, "café naïve 😀 café x y")
      ).toDF("doc_id", "text"))
    val got = d.select(col("doc_id"),
      HashedDistinctShingles.hashedDistinctShingles(col("text")).as("shs"))
    val ref = d.select(col("doc_id"),
      array_distinct(transform(
        DistinctShingles.distinctShingles(col("text")), s => xxhash64(s))).as("shs"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "hashed shingle kernel diverges from the transform+xxhash64 reference")
  }
}
