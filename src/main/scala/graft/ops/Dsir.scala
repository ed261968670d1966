package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Text.h32

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
  * select raw-corpus documents that look like a small TARGET domain by
  * importance-weighting each document under bag-of-hashed-n-gram unigram
  * models of target vs raw, then Gumbel-top-k resampling proportional to
  * the importance weights. The standard "make 100 TB of web text look like
  * the target distribution" pre-training selection step, complementing the
  * trained-classifier gate ([[Classifier]]) and the temperature/waterfill
  * mix rules ([[Sampling]]).
  *
  * Model: features are word unigrams + bigrams hashed into `buckets`
  * buckets (the paper's hashed n-gram parameterization). Both corpus
  * models are add-α smoothed multinomials over buckets; a document's log
  * importance weight is Σ_b cnt_d(b) · [ln p_target(b) − ln p_raw(b)].
  *
  * Determinism at cluster scale (the same discipline as
  * [[Sampling.temperatureMixture]]): the per-bucket log-ratio is floored
  * to 1e-6 units ONCE (a ≤B-row table), and every per-document weight is
  * then an exact integer dot product — long addition commutes, so the
  * weight is identical under any partitioning / aggregation order, and the
  * DuckDB oracle reproduces it bit-for-bit (the only engine-sensitive op
  * is ln's last ulp, guarded by the micro floor). Feature hashing is the
  * portable md5-based [[Text.h32]], so bucket assignment is also
  * engine-exact.
  *
  * Scale shape (100 TB raw corpus, small target):
  *  - features ride ONE Generate per scan (unigram and bigram arrays are
  *    concatenated before the explode — not a self-union, which would
  *    read the corpus twice);
  *  - the model fit is B-BOUNDED: features aggregate STRAIGHT to
  *    groupBy(bucket) totals (≤B rows, B ~ 10³-10⁴, map-side combined —
  *    no per-document (id, bucket) stage exists anywhere), are
  *    collected, and the λ log-ratio array is computed driver-side
  *    (same JVM ln as the in-plan expression would use) — the
  *    [[Ivf]]-centroid precedent for model-sized driver state. This
  *    keeps the op at the classic two-scan normalizer shape (one stats
  *    pass, one apply pass) instead of the five recomputed aggregation
  *    legs a fully-declarative λ costs (Catalyst does not reuse the
  *    feature subtree across them);
  *  - per-doc weights: the zero-shuffle [[scoredCols]] per-row fold over
  *    the λ literal — ONLY the B-row bucket totals ever shuffle, so the
  *    op's shuffled bytes are independent of corpus size;
  *  - resampling: Gumbel-max selection by a mergeable-histogram
  *    (1−frac) threshold over the perturbed keys (the
  *    [[Sampling.topFracByClass]] rule — frac·N of a corpus is a
  *    corpus-sized k, so an exact top-k would bottleneck one reducer;
  *    the histogram stays mergeable at any N), computed over a
  *    once-materialized ~16 B/doc (id, key) table.
  */
object Dsir {

  /** The uni+bigram feature array of a tokens-array column named `ts` —
    * null iff the text was null; one array op, no self-union.
    */
  private def featArrayOfTs: Column = {
    val bigrams = when(size(col("ts")) >= 2, expr(
        "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i + 1]))"))
      .otherwise(expr("cast(array() as array<string>)"))
    concat(col("ts"), bigrams)
  }

  /** Exploded hashed features of one text column: unigrams + space-joined
    * bigrams, each hashed to a bucket in [0, buckets). One row per feature
    * OCCURRENCE (counts matter in the multinomial); one Generate total.
    * r21: bucket ids come from the native
    * [[org.apache.spark.sql.graft.DsirFeatBuckets]] kernel (one tokenize
    * + md5 pass per doc) instead of the interpreted tokenize/transform/
    * h32-per-feature column chain; values are bit-identical
    * (DsirSpec pins kernel ≡ reference).
    */
  private[graft] def features(df: DataFrame, textCol: String, idCol: String,
      buckets: Int): DataFrame =
    df.select(col(idCol), explode(org.apache.spark.sql.graft.DsirFeatBuckets
        .featBuckets(col(textCol), buckets)).as("f1"))
      .select(col(idCol), (col("f1") - 1).cast("long").as("b"))

  /** Raw-side and target-side bucket totals, collected (≤B rows each).
    * The totals aggregate `features` STRAIGHT to groupBy(b) — only B rows
    * ever shuffle (map-side combined), independent of corpus size; no
    * per-document (id, bucket) stage exists anywhere in the op. One
    * action fetches BOTH tables: the raw and target aggregation legs ride
    * a single union plan, so their stages run in parallel instead of as
    * two serialized driver jobs.
    */
  private def collectedTotals(raw: DataFrame, target: DataFrame,
      textCol: String, idCol: String,
      buckets: Int): (Map[Long, Long], Map[Long, Long]) = {
    def totals(df: DataFrame, side: Int) =
      features(df, textCol, idCol, buckets)
        .groupBy("b").agg(count(lit(1)).as("c"))
        .select(col("b"), col("c"), lit(side).as("side"))
    val both = totals(raw, 0).unionByName(totals(target, 1)).collect()
    (both.filter(_.getInt(2) == 0).map(r => r.getLong(0) -> r.getLong(1)).toMap,
      both.filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** λ(b) = floor(1e6 · [ln p_target(b) − ln p_raw(b)]) for EVERY bucket
    * in [0, buckets), computed driver-side from the collected totals
    * (exact long sums; the ln/floor double ops are the identical JVM
    * sequence an in-plan Column would run). Smoothing keeps buckets
    * absent from either side finite (add-α over B cells).
    */
  private def lamArray(rawB: Map[Long, Long], tgtB: Map[Long, Long],
      buckets: Int, alpha: Double): Array[Long] = {
    val nr = rawB.valuesIterator.sum
    val nt = tgtB.valuesIterator.sum
    val denom = alpha * buckets
    Array.tabulate(buckets) { b =>
      val cr = rawB.getOrElse(b.toLong, 0L)
      val ct = tgtB.getOrElse(b.toLong, 0L)
      math.floor((math.log((ct + alpha) / (nt + denom)) -
        math.log((cr + alpha) / (nr + denom))) * 1000000.0).toLong
    }
  }

  /** The shared apply pass: (idCol, n_feats, weight_micro) as a pure
    * per-row fold over the B-entry λ literal — zero shuffles, no joins.
    * n_feats = 2·|tokens|−1 (every token is a unigram feature, every
    * adjacent pair a bigram), clamped to 0 for empty/null text, which
    * equals the summed occurrence count the exploded form would produce
    * (pinned by the dsir.serve-equals-batch-weights property).
    */
  private[graft] def scoredCols(df: DataFrame, textCol: String, idCol: String,
      lam: Array[Long], buckets: Int): DataFrame = {
    // r21 native pair: one DsirFeatBuckets pass builds the bucket array
    // (its SIZE is n_feats — 2·|tokens|−1 for ≥1 token, 0 otherwise —
    // so no separate tokenize), one SumLam loop folds λ over it; the
    // interpreted aggregate/element_at fold is kept as [[scoredColsRef]]
    df.select(col(idCol), org.apache.spark.sql.graft.DsirFeatBuckets
        .featBuckets(col(textCol), buckets).as("__bs"))
      .select(col(idCol),
        coalesce(size(col("__bs")).cast("long"), lit(0L)).as("n_feats"),
        coalesce(org.apache.spark.sql.graft.SumLam.sumLam(col("__bs"), lam.toSeq),
          lit(0L)).as("weight_micro"))
  }

  /** REFERENCE FORM of [[scoredCols]] (spec-pinned interpreted fold). */
  private[graft] def scoredColsRef(df: DataFrame, textCol: String, idCol: String,
      lam: Array[Long], buckets: Int): DataFrame = {
    val lamLit = typedLit(lam.toSeq)
    val weight = aggregate(featArrayOfTs, lit(0L), (acc, f) =>
      acc + element_at(lamLit, (pmod(h32(f), lit(buckets)) + lit(1L)).cast("int")))
    df.select(col(idCol), Text.tokens(col(textCol)).as("ts"))
      .select(col(idCol),
        coalesce(size(col("ts")).cast("long") * lit(2L) - lit(1L), lit(0L))
          .as("__nf_raw"),
        coalesce(weight, lit(0L)).as("weight_micro"))
      .select(col(idCol),
        greatest(col("__nf_raw"), lit(0L)).as("n_feats"),
        col("weight_micro"))
  }

  /** Per-document DSIR importance weights against a target corpus:
    * (idCol, n_feats, weight_micro). Documents with no features (empty
    * text) get n_feats = 0, weight_micro = 0. Two B-row stats legs (one
    * union action) fit λ; the apply pass is the zero-shuffle
    * [[scoredCols]] fold — NOTHING in this op shuffles more than B rows.
    */
  def weights(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int = 4096, alpha: Double = 0.5): DataFrame = {
    val (rawB, tgtB) = collectedTotals(raw, target, textCol, idCol, buckets)
    scoredCols(raw, textCol, idCol, lamArray(rawB, tgtB, buckets, alpha), buckets)
  }

  /** Multi-target DSIR: per-document importance weights against SEVERAL
    * target domains at once — (idCol, n_feats, w_<domain>…) — the "one
    * raw corpus, many target mixtures" selection step (weight the same
    * web crawl toward code, math, and dialogue simultaneously, then
    * hand the per-domain weight columns to [[Sampling]]'s mixture rules
    * for the allocation). All D model fits ride ONE feature pass over
    * each corpus: the raw totals and every domain's target totals
    * aggregate through a single union plan, so one action collects
    * ≤(D+1)·B rows — per-domain λ costs no extra corpus scan. The apply
    * pass is ONE zero-shuffle projection: the feature array is hashed
    * to its bucket array ONCE (the md5 is the expensive part), then
    * each domain's weight is a cheap per-row fold of its own λ literal
    * over that shared array — the corpus is read once and the op's
    * shuffled bytes stay corpus-size-independent regardless of D.
    */
  /** Per-domain λ arrays from ONE union collect: raw totals plus every
    * domain's target totals ride a single plan, so one action fetches
    * ≤(D+1)·B rows and D model fits cost one feature pass per corpus.
    */
  private def lamsPerDomain(raw: DataFrame, targets: Seq[(String, DataFrame)],
      textCol: String, idCol: String, buckets: Int,
      alpha: Double): Seq[(String, Array[Long])] = {
    require(targets.nonEmpty, "need at least one target domain")
    require(targets.map(_._1).distinct.size == targets.size,
      s"domain names must be unique, got ${targets.map(_._1)}")
    targets.foreach { case (n, _) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"domain name '$n' must be a plain identifier (it names the w_ column)")
    }
    def totals(df: DataFrame, side: Int) =
      features(df, textCol, idCol, buckets)
        .groupBy("b").agg(count(lit(1)).as("c"))
        .select(col("b"), col("c"), lit(side).as("side"))
    val both = targets.zipWithIndex
      .map { case ((_, t), i) => totals(t, i) }
      .foldLeft(totals(raw, -1))(_ unionByName _)
      .collect()
    def sideMap(side: Int): Map[Long, Long] = both.filter(_.getInt(2) == side)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawB = sideMap(-1)
    targets.zipWithIndex.map { case ((name, _), i) =>
      name -> lamArray(rawB, sideMap(i), buckets, alpha)
    }
  }

  /** The multi-domain apply pass: hash each document's features to the
    * shared bucket array ONCE (the md5 is the expensive part), then fold
    * every domain's λ literal over it — one scan, one projection, zero
    * shuffles regardless of D.
    */
  private[graft] def multiScoredCols(df: DataFrame, textCol: String, idCol: String,
      lams: Seq[(String, Array[Long])], buckets: Int): DataFrame = {
    // r21: ONE native DsirFeatBuckets pass (the md5 work) shared by every
    // domain's native SumLam fold — same one-hash-many-folds shape as
    // before, minus the interpreted lambdas ([[multiScoredColsRef]] is
    // the spec-pinned r20 form)
    val wCols = lams.map { case (name, lam) =>
      coalesce(org.apache.spark.sql.graft.SumLam.sumLam(col("bs"), lam.toSeq),
        lit(0L)).as(s"w_$name")
    }
    df.select(col(idCol), org.apache.spark.sql.graft.DsirFeatBuckets
        .featBuckets(col(textCol), buckets).as("bs"))
      .select(col(idCol),
        coalesce(size(col("bs")).cast("long"), lit(0L)).as("n_feats"), col("bs"))
      .select((col(idCol) +: col("n_feats") +: wCols): _*)
  }

  /** REFERENCE FORM of [[multiScoredCols]] (spec-pinned r20 shape). */
  private[graft] def multiScoredColsRef(df: DataFrame, textCol: String, idCol: String,
      lams: Seq[(String, Array[Long])], buckets: Int): DataFrame = {
    val wCols = lams.map { case (name, lam) =>
      val lamLit = typedLit(lam.toSeq)
      coalesce(aggregate(col("bs"), lit(0L),
        (acc, b) => acc + element_at(lamLit, b)), lit(0L)).as(s"w_$name")
    }
    df.select(col(idCol), Text.tokens(col(textCol)).as("ts"))
      .select(col(idCol),
        greatest(coalesce(size(col("ts")).cast("long") * lit(2L) - lit(1L),
          lit(0L)), lit(0L)).as("n_feats"),
        transform(featArrayOfTs,
          f => (pmod(h32(f), lit(buckets)) + lit(1L)).cast("int")).as("bs"))
      .select((col(idCol) +: col("n_feats") +: wCols): _*)
  }

  def weightsPerDomain(raw: DataFrame, targets: Seq[(String, DataFrame)],
      textCol: String, idCol: String, buckets: Int = 4096,
      alpha: Double = 0.5): DataFrame =
    multiScoredCols(raw, textCol, idCol,
      lamsPerDomain(raw, targets, textCol, idCol, buckets, alpha), buckets)

  /** Fit D servable gates in ONE corpus scan: per-domain λ from the
    * shared union collect ([[lamsPerDomain]]), per-domain weight-space
    * cutoffs from ONE cached multi-weight table — the D histogram
    * estimators ride a single [[Stats.histogramPercentiles]] call over
    * the stacked (domain, weight) form, so the whole fit costs one
    * feature scan + one cached ~(8·D) B/doc table + one histogram
    * action regardless of D. Per domain the result is EXACTLY [[fit]]
    * (same λ, same estimator — spec-pinned); use this when the same raw
    * corpus serves several domain gates. The cache is released before
    * returning (the [[fit]] lifecycle discipline); a domain whose gate
    * sees zero weights (tokenless corpus) admits nothing (cut = +∞).
    */
  def fitPerDomain(raw: DataFrame, targets: Seq[(String, DataFrame)],
      textCol: String, idCol: String, gateFrac: Double = 0.25,
      buckets: Int = 4096, alpha: Double = 0.5,
      histBuckets: Int = 256): Map[String, DsirModel] = {
    require(gateFrac > 0 && gateFrac <= 1, s"gateFrac must be in (0,1], got $gateFrac")
    val lams = lamsPerDomain(raw, targets, textCol, idCol, buckets, alpha)
    val scored = multiScoredCols(raw, textCol, idCol, lams, buckets)
      .filter(col("n_feats") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()
    val stacked = scored.select(expr(
      s"stack(${lams.size}, " + lams.map { case (n, _) =>
        s"'$n', cast(w_$n as double)" }.mkString(", ") + ") as (__dom, __v)"))
    val cutRows = try Stats.histogramPercentiles(stacked, "__dom", "__v",
      Seq(("cut", 1.0 - gateFrac)), histBuckets).collect()
    finally scored.unpersist(blocking = false)
    val cuts = cutRows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    lams.map { case (name, lam) =>
      name -> DsirModel(buckets, alpha, lam,
        cuts.getOrElse(name, Double.PositiveInfinity))
    }.toMap
  }

  /** Gumbel-top-frac importance resampling: keep ~`frac` of the documents
    * that have ≥1 feature, drawn WITHOUT replacement with probability
    * ∝ exp(weight) — the Gumbel-max trick makes that exactly "the largest
    * keys of weight + Gumbel noise". The noise is hash-derived (same
    * portable md5 uniform as [[Sampling.hashSample]]) and floored to micro
    * units, so the draw is reproducible across runs, engines, and cluster
    * layouts. Returns (idCol, key_micro), the kept documents with their
    * perturbed keys.
    *
    * The cut is the [[Stats.histogramPercentiles]] (1−frac) threshold over
    * the key column — the same mergeable-histogram selection rule as
    * [[Sampling.topFracByClass]], approximate within one bucket width of
    * the exact order statistic. NOT a top-k aggregator: frac·N of a corpus
    * is a corpus-sized k, and any exact top-k (bounded-buffer agg or
    * global sort) concentrates O(frac·corpus) work on one reducer — the
    * histogram keeps every stage mergeable at any N. The selection rule
    * IS [[Sampling.topFracByClass]] (one constant class), not a copy of
    * it. The (id, key) table it reads is ~16 bytes/doc and is cached
    * (`persist`, not a checkpoint: evictable blocks RECOMPUTE — an
    * unreleasable localCheckpoint would accumulate non-recomputable
    * storage across calls and fail the job if the LRU ever evicted it)
    * so the cutoff's stats/hist/filter passes share one execution of the
    * feature/λ weight pipeline behind it.
    */
  def resample(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, frac: Double, buckets: Int = 4096, alpha: Double = 0.5,
      salt: String = "dsir1", histBuckets: Int = 256,
      checkpointDir: Lineage.CheckpointDir = None): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    val w = weights(raw, target, textCol, idCol, buckets, alpha)
      .filter(col("n_feats") > 0)
    val u = (pmod(h32(concat(col(idCol).cast("string"), lit("_" + salt))),
      lit(1000000)).cast("double") + lit(0.5)) / lit(1000000.0)
    val keyed = w.select(col(idCol),
        (col("weight_micro") +
          floor(-log(-log(u)) * lit(1000000.0))).as("key_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // populate the cache EAGERLY: the cutoff's legs run as concurrent
    // broadcast subqueries, and against a lazy cold cache they race —
    // each leg misses and re-runs the weight pipeline (measured 1.5× at
    // 100×). One count fills the cache once; every leg then reads it.
    keyed.count()
    val selected =
      if (frac == 1.0) keyed // degenerate cut (w=0 edge) keeps all anyway
      else Sampling.topFracByClass(
        keyed.withColumn("__all", lit(0))
          .withColumn("__v", col("key_micro").cast("double")),
        "__all", "__v", frac, histBuckets)
        .select(col(idCol), col("key_micro"))
    // hand back a MATERIALIZED kept set (~frac of the 16 B/doc key table;
    // `checkpointDir` = reliable storage for multi-hour drivers) and
    // release the full (id, key) cache BEFORE returning — the addBatch
    // lifecycle discipline. Returning the lazy selection instead would
    // pin the cache to the returned plan: a long-running driver calling
    // resample repeatedly would accumulate ~16 B/doc of unreleasable
    // (disk-spilled, so never LRU-evicted) storage per call until GC
    // happened to drop the frame. Callers that are done with the result
    // can reclaim its blocks immediately with [[Lineage.release]].
    val out = Lineage.materialize(selected, checkpointDir)
    keyed.unpersist(blocking = false)
    out
  }

  /** A fitted, servable DSIR model: the full B-entry λ array (so a doc
    * that hashes into ANY bucket — including one the fitting raw corpus
    * never produced — scores finitely via the smoothing) plus the
    * deterministic keep cutoff in weight space.
    */
  case class DsirModel(buckets: Int, alpha: Double, lam: Array[Long],
      cutMicro: Double)

  /** Fit a servable DSIR gate: λ over every bucket, and the keep cutoff =
    * the [[Stats.histogramPercentiles]] (1−gateFrac) threshold over the
    * RAW corpus's weights (no Gumbel noise — a serving gate is a
    * deterministic quality bar, the noisy draw is [[resample]]'s job).
    * One extra corpus pass over fit's stats pass — fit is the offline
    * step; serving ([[scoreWith]]) is per-row and shuffle-free.
    */
  def fit(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
      gateFrac: Double = 0.25, buckets: Int = 4096, alpha: Double = 0.5,
      histBuckets: Int = 256): DsirModel = {
    require(gateFrac > 0 && gateFrac <= 1, s"gateFrac must be in (0,1], got $gateFrac")
    val (rawB, tgtB) = collectedTotals(raw, target, textCol, idCol, buckets)
    val lam = lamArray(rawB, tgtB, buckets, alpha)
    // cache the ~8 B/doc weight table eagerly (the resample discipline):
    // the histogram's stats and hist legs would otherwise each re-scan
    // the corpus through the fold. Unlike resample, fit CAN release the
    // cache before returning — the cutoff is collected below and nothing
    // lazy reads the frame afterwards.
    val scored = scoredCols(raw, textCol, idCol, lam, buckets)
      .filter(col("n_feats") > 0)
      .select(col(idCol), col("weight_micro").cast("double").as("__v"))
      .withColumn("__all", lit(0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()
    val cutRows = try Stats.histogramPercentiles(scored, "__all", "__v",
      Seq(("cut", 1.0 - gateFrac)), histBuckets).collect()
    finally scored.unpersist(blocking = false)
    // tokenless fit corpus (fresh ingest, empty slice): a quality bar
    // derived from zero observed weights is undefined, so the model
    // ADMITS NOTHING (cut = +∞) — conservative-by-default rather than a
    // throw (empty slices must not take a 100 TB job down) or a
    // pass-everything gate (silently wrong on later non-empty batches)
    val cut = if (cutRows.isEmpty) Double.PositiveInfinity
      else cutRows.head.getDouble(1)
    DsirModel(buckets, alpha, lam, cut)
  }

  /** The publish/read protocol itself lives in [[ModelStore]] (r19 —
    * shared with [[Ivf]], [[Pca]], [[Classifier]]); DSIR keeps only its
    * table shapes and the λ-table validation.
    */
  private val LegacyTables = Seq("lambda", "meta")

  /** Persist a model ATOMICALLY: `current/lambda` (b, lam — all B rows)
    * + `current/meta` (buckets, alpha, cut_micro), both parquet so any
    * engine (and the DuckDB oracle) replays scoring from the exact
    * stored values.
    *
    * λ and the cutoff are one model — serving a new λ table against a
    * stale cutoff (or vice versa) is a SILENTLY wrong gate, so the two
    * tables must never be observable in mixed state. Publishing them as
    * two in-place overwrites would open exactly that window on a crash
    * between the writes; instead both are staged under one temp dir and
    * committed by a SINGLE directory rename (atomic on HDFS and posix —
    * [[ModelStore]]'s rename-as-commit):
    *
    *   1. stage `_graft_staging_<nonce>/{lambda,meta}` — invisible;
    *   2. move any existing `current/` aside (to `_graft_prev_<nonce>`);
    *   3. rename the staging to `current/` — THE commit point;
    *   4. delete the moved-aside previous model.
    *
    * A crash before 3 leaves the previous `current/` (or, between 2 and
    * 3, no `current/` at all — [[load]] refuses LOUDLY, never serves a
    * mixed model, and names the intact `_graft_prev_` copy). save is the
    * WRITE path, so it heals: STAGING debris from a crashed predecessor
    * is superseded by the model being published and is cleared up front;
    * `_graft_prev_` debris is cleared only AFTER this publish commits —
    * when a predecessor crashed between its two renames that prev copy
    * is the ONLY intact model anywhere, and deleting it before this
    * save's own staging+commit succeed would leave no model at all if
    * this save then fails. A pre-r18 unversioned `lambda/`+`meta/` pair
    * is cleared after the commit.
    *
    * SINGLE PUBLISHER per model path — ENFORCED (r19): save claims the
    * publish by writing its nonce to `_graft_pubclaim` before staging
    * and re-checks the claim immediately before the commit rename; a
    * concurrent publisher's claim moves the token and the loser refuses
    * LOUDLY (`ConcurrentModificationException`, its staging cleaned up)
    * instead of racing the rename sequence. The surviving publisher's
    * model is complete — the commit is still one rename. The unguarded
    * residual is the tiny gap between the claim re-check and the rename.
    * Concurrent [[load]]s are safe: the commit-generation token is
    * bumped right before the commit renames and load retries on
    * movement.
    */
  def save(model: DsirModel, spark: SparkSession, path: String): Unit =
    save(model, spark, path, () => ())

  /** [[save]] with a forged-race seam: `beforeCommit` runs after the
    * staging writes and BEFORE the claim re-check — specs use it to
    * interleave a competing publisher deterministically. Production
    * callers use the public overload (no-op seam).
    */
  private[graft] def save(model: DsirModel, spark: SparkSession, path: String,
      beforeCommit: () => Unit): Unit = {
    import spark.implicits._
    ModelStore.publish(spark, path, "DSIR", legacyNames = LegacyTables,
        beforeCommit = beforeCommit) { staging =>
      model.lam.zipWithIndex.map { case (l, b) => (b.toLong, l) }.toSeq
        .toDF("b", "lam")
        .coalesce(1).write.parquet(s"$staging/lambda")
      Seq((model.buckets, model.alpha, model.cutMicro))
        .toDF("buckets", "alpha", "cut_micro")
        .coalesce(1).write.parquet(s"$staging/meta")
    }
  }

  /** The committed model's publish generation — moves on every [[save]]
    * (one atomic token rewrite immediately before the commit rename).
    * Streaming servers poll this per micro-batch (one tiny token read,
    * no parquet touched) to hot-reload a serving gate without a query
    * restart ([[graft.streaming.DsirServing]]). Empty string for a
    * model dir last published by a pre-r19 save — the first r19
    * republish moves it, so change detection still works.
    */
  def publishGeneration(spark: SparkSession, path: String): String =
    ModelStore.generation(spark, path)

  /** Load the committed model. Refuses — loudly, with the heal spelled
    * out — anything other than a complete committed `current/`: a
    * crashed publish caught between its two renames (the intact
    * moved-aside copy is named), or a pre-atomic flat layout
    * ([[ModelStore.read]]). The λ table must hold EXACTLY one row per
    * bucket in [0, buckets): the λ array is zero-filled before being
    * populated from the table, so a partial or foreign read would
    * otherwise serve silently wrong (under-)scores rather than fail.
    *
    * CONCURRENT with a [[save]] (r19): the meta and λ reads are two
    * filesystem reads, so a commit rename landing between them would
    * serve a new-λ/stale-cutoff mix — [[ModelStore.read]] re-checks the
    * commit generation around the pair and retries (bounded) when a
    * publish raced; the brief no-`current/` window between save's two
    * renames is retried the same way. A refusal that persists across
    * the retry budget surfaces loudly — only genuinely crashed or
    * corrupt states reach the caller.
    */
  def load(spark: SparkSession, path: String): DsirModel =
    load(spark, path, () => ())

  /** [[load]] with a forged-race seam: `afterMetaRead` runs between the
    * meta read and the λ read — specs use it to land a full competing
    * publish deterministically inside the window and pin that load never
    * serves a mixed model. Production callers use the public overload.
    */
  private[graft] def load(spark: SparkSession, path: String,
      afterMetaRead: () => Unit): DsirModel =
    ModelStore.read(spark, path, "DSIR model",
        isLegacy = ns => LegacyTables.forall(ns.contains)) { current =>
      val m = spark.read.parquet(s"$current/meta").head()
      afterMetaRead()
      val buckets = m.getInt(0)
      val rows = spark.read.parquet(s"$current/lambda").collect()
      val lam = new Array[Long](buckets)
      val seen = new java.util.BitSet(buckets)
      rows.foreach { r =>
        val b = r.getLong(0)
        require(b >= 0 && b < buckets,
          s"lambda table at $current holds bucket $b outside [0, $buckets) — " +
            "not this model's table")
        require(!seen.get(b.toInt),
          s"lambda table at $current holds bucket $b twice — corrupt table")
        seen.set(b.toInt)
        lam(b.toInt) = r.getLong(1)
      }
      require(rows.length == buckets,
        s"lambda table at $current holds ${rows.length} of $buckets buckets — " +
          "a partial read would silently under-score every document that " +
          "hashes into a missing bucket; the publish is atomic, so rebuild " +
          "the model (fit + save) rather than serving this one")
      DsirModel(buckets, m.getDouble(1), lam, m.getDouble(2))
    }

  /** Serve D domain gates in one projection: per-document
    * (idCol, n_feats, w_<domain>…, keep_<domain>…) — the multi-gate
    * router shape (tag each incoming document with which domain
    * corpora it qualifies for). Features are hashed to buckets ONCE
    * and every model's λ folds over the shared array, so the plan
    * stays Scan → Project (zero shuffles, stateless — applies
    * unchanged to a streaming Dataset) no matter how many gates are
    * mounted. All models must share (buckets, alpha) — i.e. come from
    * one [[fitPerDomain]] (or same-parameter [[fit]]s); mixed bucket
    * counts would need a hash pass per model, at which point separate
    * [[scoreWith]] calls are the honest plan.
    */
  def scoreWithMany(df: DataFrame, textCol: String, idCol: String,
      models: Seq[(String, DsirModel)]): DataFrame = {
    require(models.nonEmpty, "need at least one model")
    require(models.map(_._2.buckets).distinct.size == 1 &&
      models.map(_._2.alpha).distinct.size == 1,
      "scoreWithMany needs models sharing (buckets, alpha) — fit them " +
        "together with fitPerDomain, or serve mixed models via scoreWith")
    val buckets = models.head._2.buckets
    val scored = multiScoredCols(df, textCol, idCol,
      models.map { case (n, m) => n -> m.lam }, buckets)
    val keepCols = models.map { case (n, m) =>
      (col("n_feats") > 0 &&
        col(s"w_$n").cast("double") >= lit(m.cutMicro)).as(s"keep_$n")
    }
    scored.select(col(idCol) +: col("n_feats") +:
      (models.map { case (n, _) => col(s"w_$n") } ++ keepCols): _*)
  }

  /** Serve the gate: per-document (idCol, n_feats, weight_micro, keep)
    * where weight_micro = Σ_features λ(bucket(feature)) — a pure per-row
    * fold over the B-entry λ literal. ZERO shuffles, no joins, no state:
    * the scoring plan is a projection, so it runs at scan speed on a
    * 100 TB corpus and applies unchanged to a streaming Dataset
    * (stateless — the decontamination/quality gate shape for a
    * continuously-arriving corpus). keep = has features AND
    * weight ≥ the fitted cutoff.
    */
  def scoreWith(df: DataFrame, textCol: String, idCol: String,
      model: DsirModel): DataFrame =
    scoredCols(df, textCol, idCol, model.lam, model.buckets)
      .select(col(idCol), col("n_feats"), col("weight_micro"),
        (col("n_feats") > 0 &&
          col("weight_micro").cast("double") >= lit(model.cutMicro)).as("keep"))
}
