package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.ops.{IncrementalDedup, IncrementalEmbeddingDedup, Similarity}

/** Scale-audit harness for the incremental-dedup maintenance pair: the
  * measurements SCALE.md records at the 10×/100× envelopes that a board
  * query can't express —
  *
  *  - `emb`: does the corpus-derived plane count keep the RP-LSH bucket
  *    space under the cap (hot_buckets = 0), and does the incremental
  *    kept set EQUAL the one-pass batch form at this scale? (r14's fixed
  *    2^8 space failed both at 100×.)
  *  - `text`: the promoted-base probe — build batches 0+1, promote, then
  *    time batch 2's probe against the bucketed base vs a plain index,
  *    with kept-set equality checked.
  *
  *  - `probe_curve`: the gate's serving-latency curve — probe wall-time
  *    at a fixed batch size as the index grows 1×→10×→100×, plain vs
  *    promoted (the crossover SCALE.md names).
  *
  *  - `rebucket_serving` / `compact_serving` / `promote_serving` (and the
  *    `emb_` compact/promote twins): availability DURING maintenance — a
  *    prober thread loops the probe while the maintenance op runs;
  *    client_failures and wrong must be 0.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.IncrEnvelope
  *   <emb|embq8|rebucket|rebucket_promoted|text|probe_curve|
  *    probe_curve_writer|rebucket_serving|compact_serving|promote_serving|
  *    emb_compact_serving|emb_promote_serving>
  */
object IncrEnvelope {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "mode: emb | text | probe_curve | ...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // hygiene: drop ONLY one index's promoted tables — the prefix is
    // per-index-dir, so a shared session's other indexes survive
    def dropTables(idx: String): Unit =
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(graft.ops.IndexBase.tablePrefix(idx)))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    /** Availability DURING maintenance: a prober thread loops `probeKept`
      * while `maintenance` runs. Every probe must return the quiet answer
      * (else `wrong`, and the loop stops) and none may throw (else a
      * client failure) — except `cutover`, an expected refusal once the
      * maintenance changed what the probe presents, which ends the loop.
      */
    case class Serving(expect: Long, served: Int, failures: Int, wrong: Int,
        seconds: Double) {
      def json: String = s""""served":$served,"client_failures":$failures,""" +
        s""""wrong":$wrong"""
    }
    def serving(probeKept: () => Long, cutover: Throwable => Boolean = _ => false)
        (maintenance: => Unit): Serving = {
      val expect = probeKept() // converge the plan before measuring
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val served = new java.util.concurrent.atomic.AtomicInteger(0)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
      val prober = new Thread(() => while (!stop.get()) {
        try {
          if (probeKept() == expect) served.incrementAndGet()
          else { wrong.incrementAndGet(); stop.set(true) }
        } catch {
          case t: Throwable if cutover(t) => stop.set(true)
          case t: Throwable =>
            System.err.println(s"[serving] client failure: $t")
            failures.incrementAndGet()
        }
      }, "serving-prober")
      prober.start()
      val (_, t) = timed(maintenance)
      stop.set(true); prober.join()
      Serving(expect, served.get(), failures.get(), wrong.get(), t)
    }
    def fresh(tag: String): String = {
      val d = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_envelope_$tag").toString
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(d), true)
      d
    }

    args.head match {
      case mode @ ("emb" | "embq8") =>
        val q8 = mode == "embq8"
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val row = e.agg(max("vec_id"), count(lit(1))).head
        val (m, n) = (row.getLong(0), row.getLong(1))
        val planes =
          if (args.length > 1) args(1).toInt
          else if (q8) 8
          else Similarity.planesFor(n, targetBucket = 100)
        val (batchKept, tBatch) = timed {
          (if (q8) Similarity.dropEmbeddingNearDupsQuantized(e, "vec_id",
              "embedding", dim = 64, planes = planes, minCos = 0.3)
           else Similarity.dropEmbeddingNearDups(e, "vec_id", "embedding",
              dim = 64, planes = planes, minCos = 0.3))
            .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .collect().toSet
        }
        val idx = fresh(mode)
        val (incrKept, tIncr) = timed {
          Seq(
            e.filter(col("vec_id") <= m / 3),
            e.filter(col("vec_id") > m / 3 && col("vec_id") <= 2 * m / 3),
            e.filter(col("vec_id") > 2 * m / 3)
          ).zipWithIndex.map { case (b, i) =>
            IncrementalEmbeddingDedup.addBatch(spark, idx, b, "embedding",
              "vec_id", batchId = i, dim = 64, planes = planes, minCos = 0.3,
              quantized = q8)
              .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
              .collect()
          }.flatten.toSet
        }
        val st = IncrementalEmbeddingDedup.indexBucketStats(spark, idx).head()
        println(s"""{"mode":"$mode","n":$n,"planes":$planes,""" +
          s""""batch_kept":${batchKept.size},"incr_kept":${incrKept.size},""" +
          s""""equal":${batchKept == incrKept},""" +
          s""""hot_buckets":${st.getAs[Long]("hot_buckets")},""" +
          s""""max_bucket":${st.getAs[Long]("max_bucket")},""" +
          s""""batch_sec":${f"$tBatch%.2f"},"incr_sec":${f"$tIncr%.2f"}}""")

      case mode @ ("rebucket" | "rebucket_promoted") =>
        // migration cost: an index built at planes=8 re-bucketed to 11
        // from its stored vectors (no corpus re-read), then probed.
        // rebucket_promoted folds the base first — it measures the r16
        // in-place rebuild of the catalog-bucketed buckets base table.
        val promoted = mode == "rebucket_promoted"
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val m = e.agg(max("vec_id")).head.getLong(0)
        val idx = fresh(mode)
        val (_, tBuild) = timed {
          Seq(
            e.filter(col("vec_id") <= m / 3),
            e.filter(col("vec_id") > m / 3 && col("vec_id") <= 2 * m / 3),
            e.filter(col("vec_id") > 2 * m / 3)
          ).zipWithIndex.foreach { case (b, i) =>
            IncrementalEmbeddingDedup.addBatch(spark, idx, b, "embedding",
              "vec_id", batchId = i, dim = 64, planes = 8, minCos = 0.3).count()
          }
        }
        val (_, tPromote) = timed {
          if (promoted)
            IncrementalEmbeddingDedup.promoteBase(spark, idx, uptoExclusive = 3)
        }
        val (_, tMig) = timed {
          IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 11)
        }
        val (kProbe, tProbe) = timed {
          IncrementalEmbeddingDedup.addBatch(spark, idx,
            e.filter(col("vec_id") <= m / 10)
              .withColumn("vec_id", col("vec_id") + 10L * m),
            "embedding", "vec_id", batchId = 3, dim = 64, planes = 11,
            minCos = 0.3).count()
        }
        val st = IncrementalEmbeddingDedup.indexBucketStats(spark, idx).head()
        println(s"""{"mode":"$mode","build8_sec":${f"$tBuild%.2f"},""" +
          (if (promoted) s""""promote_sec":${f"$tPromote%.2f"},""" else "") +
          s""""migrate_to_11_sec":${f"$tMig%.2f"},""" +
          s""""probe_sec":${f"$tProbe%.2f"},"probe_kept":$kProbe,""" +
          s""""hot_buckets":${st.getAs[Long]("hot_buckets")},""" +
          s""""max_bucket":${st.getAs[Long]("max_bucket")}}""")
        if (promoted) dropTables(idx)

      case "probe_curve" =>
        // serving-latency curve for the decontamination gate: probe
        // wall-time as the INDEX grows 1×→10×→100× at a FIXED batch size,
        // plain vs promoted layout. The product metric for a gate is how
        // long one incoming batch waits as the retained corpus grows —
        // and the promoted (bucketed, zero-index-side-exchange) layout
        // should separate from the plain one as the index side dominates.
        // Growth content is NOVEL per copy (ids shifted, tokens remapped
        // through xxhash64 — compiled exprs only), so bucket occupancy
        // stays corpus-like instead of stacking 100 copies into the same
        // band buckets. 3 probe reps per point, all reported (rep 1
        // carries cold JIT; read rep 2+).
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        val m = docs.agg(max("doc_id")).head.getLong(0)
        val factors = (if (args.length > 1) args.drop(1).map(_.toInt).toSeq
          else Seq(1, 10, 100)).sorted
        def copy(g: Int): org.apache.spark.sql.DataFrame =
          if (g == 0) docs
          else docs.select((col("doc_id") + g.toLong * (m + 1)).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => hex(xxhash64(t, lit(g)))), " ").as("text"))
        def copies(from: Int, until: Int): org.apache.spark.sql.DataFrame =
          (from until until).map(copy).reduce(_ unionByName _)
        val plain = fresh("curve_plain")
        val promo = fresh("curve_promo")
        var built = 0
        var batchId = 0
        val pts = factors.map { f =>
          // grow both indexes to f corpus-copies with ONE append each
          // (batch sizes are the operator's business, not the curve's)
          val (_, tGrow) = timed {
            if (built < f) {
              IncrementalDedup.addBatch(spark, plain, copies(built, f),
                "text", "doc_id", batchId).count()
              IncrementalDedup.addBatch(spark, promo, copies(built, f),
                "text", "doc_id", batchId).count()
              batchId += 1; built = f
            }
          }
          val (_, tPromote) = timed {
            IncrementalDedup.promoteBase(spark, promo, uptoExclusive = batchId)
          }
          def probeOnce(idx: String): Double = {
            val (out, t) = timed(
              IncrementalDedup.probe(spark, idx, docs, "text", "doc_id"))
            graft.ops.Lineage.release(out) // probe returns materialized
            t
          }
          val plainT = (1 to 3).map(_ => probeOnce(plain))
          val promoT = (1 to 3).map(_ => probeOnce(promo))
          s"""{"copies":$f,"grow_sec":${f"$tGrow%.2f"},""" +
            s""""promote_sec":${f"$tPromote%.2f"},""" +
            s""""plain_sec":[${plainT.map(t => f"$t%.2f").mkString(",")}],""" +
            s""""promoted_sec":[${promoT.map(t => f"$t%.2f").mkString(",")}]}"""
        }
        println(s"""{"mode":"probe_curve","batch_docs":${docs.count()},""" +
          s""""points":[${pts.mkString(",")}]}""")
        dropTables(promo)

      case "rebucket_serving" =>
        // availability DURING a parameter migration: probes pin a log
        // version, so they should keep serving the pre-migration state
        // through the whole O(index) data phase and refuse nothing at the
        // commit. Measured directly: a prober thread loops probe() while
        // rebucket(8→11) runs.
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val m = e.agg(max("vec_id")).head.getLong(0)
        val idx = fresh("rebucket_serving")
        Seq(
          e.filter(col("vec_id") <= m / 2),
          e.filter(col("vec_id") > m / 2)
        ).zipWithIndex.foreach { case (b, i) =>
          IncrementalEmbeddingDedup.addBatch(spark, idx, b, "embedding",
            "vec_id", batchId = i, dim = 64, planes = 8, minCos = 0.3).count()
        }
        val gate = e.filter(col("vec_id") <= m / 10)
        def probeKept(planes: Int): Long = {
          val out = IncrementalEmbeddingDedup.probe(spark, idx, gate,
            "embedding", "vec_id", dim = 64, planes = planes, minCos = 0.3)
          val n = out.count()
          graft.ops.Lineage.release(out) // probe returns materialized
          n
        }
        // the commit replaces the stored planes: from then on an 8-plane
        // probe refuses on the parameter pin — that IS the cutover, not
        // an availability failure
        val r = serving(() => probeKept(8), {
          case ex: IllegalArgumentException => ex.getMessage.contains("planes")
          case _ => false
        })(IncrementalEmbeddingDedup.rebucket(spark, idx, newPlanes = 11))
        println(s"""{"mode":"rebucket_serving","vectors":${e.count()},""" +
          s""""migrate_sec":${f"${r.seconds}%.2f"},${r.json},""" +
          s""""post_migration_kept":${probeKept(11)}}""")

      case mode @ ("compact_serving" | "promote_serving") =>
        // the TEXT twin of rebucket_serving — measured availability during
        // the two folding maintenance ops. The gate re-sends indexed
        // content, so any silently-missing index rows surface as
        // kept > expect — an under-drop is detectable, not invisible.
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        val m = docs.agg(max("doc_id")).head.getLong(0)
        val idx = fresh(mode)
        Seq(
          docs.filter(col("doc_id") <= m / 3),
          docs.filter(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3),
          docs.filter(col("doc_id") > 2 * m / 3)
        ).zipWithIndex.foreach { case (b, i) =>
          IncrementalDedup.addBatch(spark, idx, b, "text", "doc_id", i).count()
        }
        val gate = docs.filter(col("doc_id") <= m / 10)
        def probeKept(): Long = {
          val out = IncrementalDedup.probe(spark, idx, gate, "text", "doc_id")
          val n = out.count()
          graft.ops.Lineage.release(out)
          n
        }
        val r = serving(() => probeKept()) {
          if (mode == "compact_serving")
            IncrementalDedup.compactIndex(spark, idx, uptoExclusive = 3)
          else
            IncrementalDedup.promoteBase(spark, idx, uptoExclusive = 3)
        }
        val post = probeKept()
        println(s"""{"mode":"$mode","docs":${docs.count()},""" +
          s""""maintenance_sec":${f"${r.seconds}%.2f"},${r.json},""" +
          s""""post_kept":$post,"post_equal":${post == r.expect}}""")
        if (mode == "promote_serving") dropTables(idx)

      case mode @ ("emb_compact_serving" | "emb_promote_serving") =>
        // the EMBEDDING twin of compact_serving / promote_serving —
        // completes the measured-availability matrix (text: compact,
        // promote; embedding: rebucket, compact, promote)
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val m = e.agg(max("vec_id")).head.getLong(0)
        val idx = fresh(mode)
        Seq(
          e.filter(col("vec_id") <= m / 3),
          e.filter(col("vec_id") > m / 3 && col("vec_id") <= 2 * m / 3),
          e.filter(col("vec_id") > 2 * m / 3)
        ).zipWithIndex.foreach { case (b, i) =>
          IncrementalEmbeddingDedup.addBatch(spark, idx, b, "embedding",
            "vec_id", batchId = i, dim = 64, planes = 8, minCos = 0.3).count()
        }
        val gate = e.filter(col("vec_id") <= m / 10)
        def probeKept(): Long = {
          val out = IncrementalEmbeddingDedup.probe(spark, idx, gate,
            "embedding", "vec_id", dim = 64, planes = 8, minCos = 0.3)
          val n = out.count()
          graft.ops.Lineage.release(out)
          n
        }
        val r = serving(() => probeKept()) {
          if (mode == "emb_compact_serving")
            IncrementalEmbeddingDedup.compactIndex(spark, idx, uptoExclusive = 3)
          else
            IncrementalEmbeddingDedup.promoteBase(spark, idx, uptoExclusive = 3)
        }
        val post = probeKept()
        println(s"""{"mode":"$mode","vectors":${e.count()},""" +
          s""""maintenance_sec":${f"${r.seconds}%.2f"},${r.json},""" +
          s""""post_kept":$post,"post_equal":${post == r.expect}}""")
        if (mode == "emb_promote_serving") dropTables(idx)

      case "probe_curve_writer" =>
        // r18: the serving-latency curve under CONCURRENT WRITER LOAD —
        // the production shape the r17 snapshot protocol enables (a
        // decontamination gate answering while the retained corpus is
        // continuously appended). At each growth point the same fixed
        // batch is probed 3× on a QUIET index, then 3× while a single
        // writer thread appends small novel batches (~10% of the probe
        // batch each) to the same index; the writer is then joined and
        // its completed-append count reported. The snapshot protocol
        // means a probe never waits on (or sees) the in-flight batch —
        // any quiet→active delta is pure scheduler/IO contention, not
        // protocol serialization. Writer batches are deliberately small
        // so the index the active reps see is ~the nominal size.
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        val m = docs.agg(max("doc_id")).head.getLong(0)
        val factors = (if (args.length > 1) args.drop(1).map(_.toInt).toSeq
          else Seq(1, 10, 100)).sorted
        def copyW(g: Int): org.apache.spark.sql.DataFrame =
          if (g == 0) docs
          else docs.select((col("doc_id") + g.toLong * (m + 1)).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => hex(xxhash64(t, lit(g)))), " ").as("text"))
        def copiesW(from: Int, until: Int): org.apache.spark.sql.DataFrame =
          (from until until).map(copyW).reduce(_ unionByName _)
        val idx = fresh("curve_writer")
        var built = 0
        var batchId = 0
        val pts = factors.map { f =>
          if (built < f) {
            IncrementalDedup.addBatch(spark, idx, copiesW(built, f),
              "text", "doc_id", batchId).count()
            batchId += 1; built = f
          }
          def probeOnce(): Double = {
            val (out, t) = timed(
              IncrementalDedup.probe(spark, idx, docs, "text", "doc_id"))
            graft.ops.Lineage.release(out) // probe returns materialized
            t
          }
          val quietT = (1 to 3).map(_ => probeOnce())
          // single writer: novel ~10%-sized batches, ids far above any
          // growth copy's range (copies use g < 1000)
          val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
          val appended = new java.util.concurrent.atomic.AtomicInteger(0)
          val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
          val nextId = new java.util.concurrent.atomic.AtomicInteger(batchId)
          val writer = new Thread(() => {
            try {
              while (!stop.get()) {
                val wb = nextId.getAndIncrement()
                IncrementalDedup.addBatch(spark, idx,
                  copyW(1000 + wb).limit((m / 10).toInt.max(50)),
                  "text", "doc_id", wb).count()
                appended.incrementAndGet()
              }
            } catch { case t: Throwable => writerErr.set(t) }
          }, "curve-writer")
          writer.start()
          val activeT = (1 to 3).map(_ => probeOnce())
          stop.set(true); writer.join()
          if (writerErr.get() != null) throw writerErr.get()
          batchId = nextId.get()
          s"""{"copies":$f,"quiet_sec":[${quietT.map(t => f"$t%.2f").mkString(",")}],""" +
            s""""writer_active_sec":[${activeT.map(t => f"$t%.2f").mkString(",")}],""" +
            s""""writer_appends":${appended.get()}}"""
        }
        println(s"""{"mode":"probe_curve_writer","batch_docs":${docs.count()},""" +
          s""""points":[${pts.mkString(",")}]}""")

      case "text" =>
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        val m = docs.agg(max("doc_id")).head.getLong(0)
        val b0 = docs.filter(col("doc_id") <= m / 3)
        val b1 = docs.filter(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3)
        val b2 = docs.filter(col("doc_id") > 2 * m / 3)
        def keptOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
          df.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .collect().toSet
        // plain index: three batches, batch 2 timed separately
        val plain = fresh("text_plain")
        val (_, tP01) = timed {
          IncrementalDedup.addBatch(spark, plain, b0, "text", "doc_id", 0).count()
          IncrementalDedup.addBatch(spark, plain, b1, "text", "doc_id", 1).count()
        }
        val (plainKept2, tPlain2) = timed {
          keptOf(IncrementalDedup.addBatch(spark, plain, b2, "text", "doc_id", 2))
        }
        // promoted index: fold 0+1 into the bucketed base, probe batch 2
        val promo = fresh("text_promo")
        val (_, tB01) = timed {
          IncrementalDedup.addBatch(spark, promo, b0, "text", "doc_id", 0).count()
          IncrementalDedup.addBatch(spark, promo, b1, "text", "doc_id", 1).count()
        }
        val (_, tPromote) = timed {
          IncrementalDedup.promoteBase(spark, promo, uptoExclusive = 2,
            buckets = 32)
        }
        val (promoKept2, tPromo2) = timed {
          keptOf(IncrementalDedup.addBatch(spark, promo, b2, "text", "doc_id", 2))
        }
        // occupancy is a TRACKED number per envelope run, not a spot
        // check: band-bucket drift past the rep-panel bound shows up here
        // round over round (the emb modes already publish theirs)
        val st = IncrementalDedup.indexBucketStats(spark, promo).head()
        println(s"""{"mode":"text","docs":${docs.count()},""" +
          s""""equal":${plainKept2 == promoKept2},""" +
          s""""batch01_sec":${f"$tP01%.2f"},""" +
          s""""plain_probe2_sec":${f"$tPlain2%.2f"},""" +
          s""""promote_sec":${f"$tPromote%.2f"},""" +
          s""""promoted_probe2_sec":${f"$tPromo2%.2f"},""" +
          s""""batch01_promo_sec":${f"$tB01%.2f"},""" +
          s""""hot_buckets":${st.getAs[Long]("hot_buckets")},""" +
          s""""max_bucket":${st.getAs[Long]("max_bucket")}}""")
        dropTables(promo)

      case other => sys.error(s"unknown mode $other — use emb | text | probe_curve")
    }
    spark.stop()
  }
}
