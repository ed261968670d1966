package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Text.{floor6, h32, tokens}

/** Deduplication operators for web-scale corpus cleaning: exact (hash
  * groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Scale design (the whole point):
  *  - NEVER all-pairs. Candidate pairs come only from LSH band buckets —
  *    an equi-join on (band, band_key), i.e. a shuffle join whose fan-out is
  *    bounded by bucket size, not corpus size.
  *  - signatures/fingerprints are pure per-row expressions (narrow, codegen)
  *    built on the portable md5-based [[Text.h32]] so the DuckDB oracle can
  *    reproduce every hash bit-for-bit.
  *  - skew: a degenerate band key (e.g. empty docs sharing the whole-doc
  *    fallback signature) would hot-spot one reducer; buckets over
  *    `maxBucket` are skipped and surfaced via [[candidateBucketStats]].
  */
object Dedup {

  // observation names must be unique per query; a plan reusing the pair
  // job twice would otherwise collide on the CollectMetrics name
  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Word n-gram shingles over an ALREADY-MATERIALIZED token array column;
    * documents shorter than n tokens collapse to a single whole-doc shingle.
    *
    * The token array MUST come from a separate projection (see callers): if
    * `toks` were the raw tokens(text) expression tree, Catalyst would inline
    * the full split+filter into every `element_at`, re-tokenizing the whole
    * document once per shingle position — quadratic per row (measured 10×
    * slowdown at sf0.1).
    */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)))
      .otherwise(array(array_join(toks, " ")))

  /** Exact-duplicate groups over the normalized-text fingerprint: one row per
    * distinct content, with the keeper (min id) and the duplicate count.
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Text.fingerprint(df, textCol, idCol)
      .groupBy("fp_md5")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  private[graft] val Mask = 4294967295L // 2^32 - 1

  /** Per-seed universal-hash constants: small odd multipliers (so a*base
    * stays < 2^52, no 64-bit overflow in either engine) + 32-bit offsets.
    */
  private[graft] val seedConsts: Seq[(Long, Long)] = Seq(
    (1000003L, 0x9E3779B9L & Mask), (999983L, 0x85EBCA6BL & Mask),
    (999979L, 0xC2B2AE35L & Mask), (754331L, 0x27D4EB2FL & Mask),
    (611953L, 0x165667B1L & Mask), (499979L, 0xD3A2646CL & Mask),
    (399989L, 0xFD7046C5L & Mask), (299993L, 0xB55A4F09L & Mask),
    (200003L, 0x8F462907L & Mask), (100003L, 0x2AB57B67L & Mask),
    (99991L, 0x5F24C34DL & Mask), (88799L, 0x71C7AC11L & Mask),
    (77773L, 0x3C6EF373L & Mask), (66601L, 0xA54FF53BL & Mask),
    (55661L, 0x510E527FL & Mask), (44533L, 0x9B05688CL & Mask))

  /** 32-bit combine of three adjacent token hashes into a shingle hash:
    * pure integer arithmetic (bit-identical in DuckDB), no per-shingle md5
    * or string building.
    */
  private[graft] def combine3(h1: Column, h2: Column, h3: Column): Column =
    ((h1 * lit(1000003L) + h2).bitwiseAND(lit(Mask)) * lit(1000003L) + h3)
      .bitwiseAND(lit(Mask))

  /** (idCol, base) exploded 3-gram shingle hashes: ONE md5 per token
    * (portable h32), then arithmetic combines — md5 work is O(tokens), not
    * O(shingles × seeds). Docs under 3 tokens fall back to one whole-doc
    * hash.
    */
  private[graft] def explodedShingleHashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // native one-pass kernel (ShingleBasesKernel: same H32 md5 per token,
    // same masked combine — bit-identical bases, so every oracle replay
    // is untouched); the old column form paid two interpreted HOF lambdas
    // per token/shingle and is kept below as the spec-pinned reference.
    // Null text keeps the old tree's array(NULL) explode behavior.
    val bases = when(col(textCol).isNull, array(lit(null).cast("long")))
      .otherwise(org.apache.spark.sql.graft.ShingleFns.shingleBases(col(textCol)))
    df.select(col(idCol), explode(bases).as("base"))
  }

  /** REFERENCE FORM (spec-pinned twin of [[explodedShingleHashes]]'s
    * native kernel).
    */
  private[graft] def explodedShingleHashesRef(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toksed = df.select(col(idCol), tokens(col(textCol)).as("toks"))
    val hashed = toksed.select(col(idCol), col("toks"),
      transform(col("toks"), t => h32(t)).as("hs"))
    val bases = when(size(col("hs")) >= 3,
      transform(sequence(lit(0), size(col("hs")) - 3),
        i => combine3(element_at(col("hs"), i + 1), element_at(col("hs"), i + 2),
          element_at(col("hs"), i + 3))))
      .otherwise(array(h32(array_join(col("toks"), " "))))
    hashed.select(col(idCol), explode(bases).as("base"))
  }

  /** MinHash signatures: per seed s, min over shingle hashes of the
    * universal hash (a_s·base + b_s) mod 2^32.
    *
    * Shape (r21): ONE per-row native pass — shingle bases from the
    * [[org.apache.spark.sql.graft.ShingleBases]] kernel, all k seed-mins
    * from the [[org.apache.spark.sql.graft.SeedMins]] kernel — zero
    * shuffles. The r20 explode → groupBy(doc) form ([[minhashSignaturesRef]],
    * spec-pinned equal) paid an Exchange of k longs per document on EVERY
    * LSH pipeline purely to reassemble a per-row quantity; its historical
    * justification (the nested `array_min(transform(...))` column form
    * inlined the base expression k×bands times and paid interpreted HOF
    * dispatch per element) is void with the native kernels — the sig
    * array is computed once per row and band keys read it by index.
    * Requires unique `idCol` per row (every caller's standing contract —
    * keepers/anti-joins key on it); the aggregation form would instead
    * have merged duplicate-id rows into one signature. EXTERNAL callers
    * with possibly-duplicated ids must `dropDuplicates(idCol)` first
    * (ADVICE r21): nothing here enforces uniqueness — an enforcement
    * pass would cost a corpus-sized exchange on every LSH pipeline to
    * guard a precondition every internal caller already holds.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    require(k <= seedConsts.size, s"k <= ${seedConsts.size}")
    // null text keeps the old tree's array(NULL) base → all-null sigs
    val bases = when(col(textCol).isNull, array(lit(null).cast("long")))
      .otherwise(org.apache.spark.sql.graft.ShingleFns.shingleBases(col(textCol)))
    df.select(col(idCol),
        org.apache.spark.sql.graft.SeedMins
          .seedMins(bases, seedConsts.take(k)).as("__sigs"))
      .select(col(idCol) +:
        (0 until k).map(i => element_at(col("__sigs"), i + 1).as(s"sig_$i")): _*)
  }

  /** REFERENCE FORM (spec-pinned twin of [[minhashSignatures]]'s per-row
    * kernel): explode shingle hashes → groupBy(doc) with k
    * partial-aggregated mins — the r20 shape, kept as the oracle-auditable
    * transliteration of the signature definition.
    */
  private[graft] def minhashSignaturesRef(df: DataFrame, textCol: String,
      idCol: String, k: Int = 8): DataFrame = {
    require(k <= seedConsts.size, s"k <= ${seedConsts.size}")
    val exploded = explodedShingleHashes(df, textCol, idCol)
    val aggs = (0 until k).map { s =>
      val (a, b) = seedConsts(s)
      min((col("base") * lit(a) + lit(b)).bitwiseAND(lit(Mask))).as(s"sig_$s")
    }
    exploded.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** (idCol, shs, nsh) distinct 3-gram shingle sets — the shared
    * verification-set producer (r21: native
    * [[org.apache.spark.sql.graft.DistinctShingles]] kernel; the column
    * form is [[distinctShingleSetsRef]], spec-pinned equal). Null text
    * keeps the old tree's [NULL] set (nsh = 1).
    */
  private[graft] def distinctShingleSets(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val shs = when(col(textCol).isNull, array(lit(null).cast("string")))
      .otherwise(org.apache.spark.sql.graft.DistinctShingles
        .distinctShingles(col(textCol)))
    df.select(col(idCol), shs.as("shs"))
      .select(col(idCol), col("shs"), size(col("shs")).as("nsh"))
  }

  /** REFERENCE FORM of [[distinctShingleSets]] (the column HOF chain). */
  private[graft] def distinctShingleSetsRef(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), array_distinct(shinglesOfTokens(col("toks"))).as("shs"))
      .select(col(idCol), col("shs"), size(col("shs")).as("nsh"))

  /** The k-seed MinHash signature ARRAY of a text column — the per-row
    * native form behind [[minhashSignatures]]/[[lshBands]], exposed so
    * multi-consumer callers ([[IncrementalDedup.addBatch]]) can stage ONE
    * column and derive bands/signatures from it without re-hashing.
    */
  private[graft] def sigArray(text: Column, k: Int): Column = {
    require(k <= seedConsts.size, s"k <= ${seedConsts.size}")
    val bases = when(text.isNull, array(lit(null).cast("long")))
      .otherwise(org.apache.spark.sql.graft.ShingleFns.shingleBases(text))
    org.apache.spark.sql.graft.SeedMins.seedMins(bases, seedConsts.take(k))
  }

  /** Band structs (band, band_key) from a signature ARRAY column — the
    * exact md5(concat_ws) band keys of [[lshBands]], factored over
    * [[sigArray]] output.
    */
  private[graft] def bandArrayOfSigs(sigs: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("_",
          (b * r until (b + 1) * r).map(i => element_at(sigs, i + 1)): _*)).as("band_key"))
    }: _*)
  }

  /** LSH banding: split the k-sig MinHash into `bands` bands of `k/bands`
    * rows each; docs sharing any (band, band-key) are candidate pairs.
    * Returns (idCol, band, band_key) — the exploded band index.
    */
  def lshBands(df: DataFrame, textCol: String, idCol: String, k: Int = 8, bands: Int = 2): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    df.select(col(idCol), sigArray(col(textCol), k).as("__sigs"))
      .select(col(idCol),
        explode(bandArrayOfSigs(col("__sigs"), k, bands)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Near-duplicate candidate pairs: equi-join on (band, band_key), id_a <
    * id_b, deduped across bands. This is the scale path — pair fan-out is
    * bounded per bucket, never corpus-quadratic.
    */
  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 2, maxBucket: Int = 1000): DataFrame = {
    // group-by-bucket instead of self-join: the signature pipeline runs
    // ONCE (a self-join would recompute the md5 work on both sides), and
    // pair fan-out stays bounded by bucket size. Buckets larger than
    // maxBucket are dropped (quadratic pair fan-out — one poison bucket,
    // e.g. thousands of near-empty docs sharing the whole-doc-fallback
    // signature, would pin a reducer for hours at corpus scale). The skip
    // count is observed IN the pair job (named metrics below, readable via
    // QueryExecutionListener / StreamingQueryProgress) — no separate audit
    // pass needed to notice the cap fired; candidateBucketStats remains the
    // detailed per-band breakdown. Caveat: if the WHOLE pair output is
    // empty, AQE folds the subtree to EmptyRelation and the metrics are
    // not reported (Spark quirk, verified on 4.1.2) — the all-skipped
    // degenerate corpus still needs the stats pass.
    bucketedDocLists(df, textCol, idCol, k, bands)
      .observe(s"graft_minhash_buckets_${obsId.incrementAndGet()}",
        sum(when(size(col("docs")) > maxBucket, 1L).otherwise(0L)).as("skipped_buckets"),
        sum(when(size(col("docs")) > maxBucket, size(col("docs")).cast("long"))
          .otherwise(0L)).as("skipped_docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxBucket)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  private def bucketedDocLists(df: DataFrame, textCol: String, idCol: String,
      k: Int, bands: Int): DataFrame =
    lshBands(df, textCol, idCol, k, bands)
      .groupBy("band", "band_key").agg(collect_list(col(idCol)).as("docs"))

  /** Audit companion to [[minhashCandidatePairs]]: per-band counts of usable
    * vs over-cap buckets and the docs affected, so capped buckets are
    * surfaced rather than silently truncated. Run it (or sink it) alongside
    * the pair job; a nonzero `skipped_buckets` means the cap was hit.
    */
  def candidateBucketStats(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 2, maxBucket: Int = 1000): DataFrame =
    bucketedDocLists(df, textCol, idCol, k, bands)
      .groupBy("band")
      .agg(
        sum(when(size(col("docs")) > 1 && size(col("docs")) <= maxBucket, 1L)
          .otherwise(0L)).as("usable_buckets"),
        sum(when(size(col("docs")) > maxBucket, 1L).otherwise(0L)).as("skipped_buckets"),
        sum(when(size(col("docs")) > maxBucket, size(col("docs")).cast("long"))
          .otherwise(0L)).as("skipped_docs"),
        max(size(col("docs"))).cast("long").as("max_bucket"))

  /** Production near-dup PAIR output: LSH candidates verified by exact
    * shingle Jaccard, with the similarity attached — the pair-level feed
    * for audit sampling, dup clustering, or threshold tuning. (This is the
    * at-scale form of [[ngramJaccardPairs]]: same measure, candidates from
    * banding instead of a demo pairing.) Jaccard runs only on
    * bucket-bounded candidate pairs, never all-pairs.
    */
  def verifiedNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxBucket: Int = 1000): DataFrame =
    verifyPairs(df, textCol, idCol,
      minhashCandidatePairs(df, textCol, idCol, k, bands, maxBucket), minJaccard)

  /** Exact shingle-Jaccard verification of (doc_a, doc_b) candidate pairs
    * — shared by the capped PAIR surface ([[verifiedNearDupPairs]]) and
    * the rank-representative KEPT-SET path ([[dropNearDuplicates]]).
    */
  private def verifyPairs(df: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame, minJaccard: Double): DataFrame = {
    val shs = distinctShingleSets(df, textCol, idCol)
    // |A∪B| = |A| + |B| − |A∩B| for the distinct shingle SETS: one hashed
    // array_intersect per pair plus integer arithmetic, instead of also
    // materializing the union array per pair — identical value (same
    // integers, same double division), half the per-pair set work. The
    // per-doc sizes ride the join as two ints.
    val uni = (col("n_a") + col("n_b") - col("inter")).cast("double")
    pairs
      .join(shs.select(col(idCol).as("doc_a"), col("shs").as("sh_a"), col("nsh").as("n_a")), "doc_a")
      .join(shs.select(col(idCol).as("doc_b"), col("shs").as("sh_b"), col("nsh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        when(uni > 0, col("inter").cast("double") / uni).otherwise(lit(0.0)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Rank-representative candidate pairs for the KEPT-SET policy: doc_a
    * must be one of its bucket's `maxReps` earliest (lowest-id) members;
    * doc_b is ANY higher-id bucket-mate. Fan-out ≤ maxReps·|bucket| —
    * linear in the bucket, never quadratic — so no bucket is ever
    * skipped. For buckets of ≤ maxReps members this is exactly the
    * all-lower-id pair set. The skip-cap [[minhashCandidatePairs]] uses
    * is the wrong bound for a kept set: a doc duplicated thousands of
    * times fills ONE band bucket past any cap — identical docs share
    * identical band keys, so no banding change can split them — and
    * skipping that bucket exempts the most-duplicated content from dedup
    * (the r15 embedding post-mortem, SCALE.md Round-15; same hole here).
    * Rank panels are prefix-stable under id-ordered growth, which is what
    * [[graft.ops.IncrementalDedup]] relies on to reproduce this policy
    * from a persisted index.
    *
    * Shape: window-rank over the exploded bands + a rank-filtered
    * equi-join back on (band, band_key) — the
    * [[Similarity.dropEmbeddingNearDups]] / [[IncrementalDedup.addBatch]]
    * discipline, NOT `collect_list` per bucket. A mass-duplicated doc
    * (10⁷–10⁸ copies of boilerplate — exactly the content rank panels
    * exist to process) would turn the bucket's collect_list into ONE
    * multi-hundred-MB aggregation buffer and OOM the executor before any
    * pair was emitted; the window's sort spills, and Spark's rank-limit
    * pushdown (WindowGroupLimit) prunes rows past maxReps map-side before
    * it. Deliberate trade: the self-join's two band legs don't
    * stage-reuse (one side broadcasts at small scale), so the signature
    * pipeline runs twice — measured +2.5% total at the 100× envelope
    * (verification dominates), and caching O(corpus×bands) rows to avoid
    * it would cost more at 100 TB than the recompute. The incremental
    * form materializes signatures once and never pays it.
    */
  private[graft] def repCandidatePairs(df: DataFrame, textCol: String,
      idCol: String, k: Int, bands: Int, maxReps: Int): DataFrame = {
    val bnds = lshBands(df, textCol, idCol, k, bands)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_key").orderBy(idCol)
    bnds.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxReps)
      .select(col("band"), col("band_key"), col(idCol).as("doc_a"))
      .join(bnds.select(col("band"), col("band_key"), col(idCol).as("doc_b")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** End-to-end near-duplicate removal — the operator a pipeline actually
    * calls: [[repCandidatePairs]] (rank-representative candidates) →
    * exact-Jaccard verify → drop policy "a doc is dropped iff a lower-id
    * RANK REPRESENTATIVE of one of its buckets is its near-duplicate"
    * (one-pass keeper rule; cheap, deterministic, no iterative connected
    * components; ≡ the plain any-lower-id rule wherever buckets hold
    * ≤ maxReps members — i.e. everywhere but mass-duplicated content,
    * which the old skip-cap silently EXEMPTED and this processes) →
    * anti-join. Returns the KEPT rows.
    *
    * Scale: the final anti-join carries NO broadcast hint on purpose — at
    * web-scale dup rates (30-50% of a crawl) the drop set is O(corpus), so
    * the strategy is left to AQE/autoBroadcastJoinThreshold, which still
    * broadcasts when the set is actually small.
    */
  def dropNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxReps: Int = 1000): DataFrame = {
    // rank-representative candidates, NOT the capped pair surface: a
    // kept set must process dense buckets (they hold the most-duplicated
    // content), bounding fan-out per ROW instead of skipping per BUCKET.
    //
    // r22 (VERDICT #4 — the r15 trade re-evaluated at the 100× envelope
    // with the native kernels): the candidate PAIR set and the
    // verification sets are now STAGED once — both CANDIDATE-bounded
    // (the pair set by maxReps·|bucket| fan-out; the set table
    // semi-pruned to docs that appear in a pair), never corpus-sized, so
    // the r15 objection to caching O(corpus×bands) rows does not apply.
    // The re-derive shape paid the signature pipeline twice (the two
    // band legs) and the shingle-set pipeline twice (verifyPairs' two
    // join sides): measured at the ScaleGen 100× envelope, staged 3.98 s
    // vs re-derive 4.99 s (sf0.1: a wash, 0.91 vs 0.89 — job overhead
    // offsets; see tools.Probe `envelope`). The drop-id set materializes
    // eagerly so both staged frames are RELEASED before returning; the
    // returned frame reads only the drop-set-sized checkpoint (bounded
    // by the duplicate count — the one storage cost the caller keeps).
    val pairs = Lineage.materialize(
      repCandidatePairs(df, textCol, idCol, k, bands, maxReps))
    val ids = pairs.select(col("doc_a").as(idCol))
      .union(pairs.select(col("doc_b").as(idCol))).distinct()
    val need = Lineage.materialize(distinctShingleSets(
      df.join(ids, Seq(idCol), "left_semi"), textCol, idCol))
    val uni = (col("n_a") + col("n_b") - col("inter")).cast("double")
    val dropped = Lineage.materialize(pairs
      .join(need.select(col(idCol).as("doc_a"), col("shs").as("sh_a"),
        col("nsh").as("n_a")), "doc_a")
      .join(need.select(col(idCol).as("doc_b"), col("shs").as("sh_b"),
        col("nsh").as("n_b")), "doc_b")
      .select(col("doc_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
      .filter(when(uni > 0, col("inter").cast("double") / uni)
        .otherwise(lit(0.0)) >= minJaccard)
      .select(col("doc_b").as(idCol)).distinct())
    Lineage.release(pairs); Lineage.release(need)
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Transitive near-duplicate clusters: [[verifiedNearDupPairs]] →
    * [[Graph.connectedComponentsStar]]. One row per doc that has at least
    * one verified near-dup: (idCol, cluster_id = min doc id of its
    * component). This is the policy [[dropNearDuplicates]]'s one-pass
    * keeper rule approximates — here A~B, B~C places A,B,C in ONE cluster
    * even when A!~C directly.
    *
    * Star CC (O(log n) rounds regardless of component diameter) is the
    * default: measured 3.5 s vs min-label propagation's 5.9 s on the same
    * sf0.1 pair graph, and at 100 TB similarity graphs grow long chains at
    * permissive thresholds, which propagation pays O(diameter) for. The
    * two algorithms are cross-pinned equivalent through the DuckDB gate
    * (dedup_cc_clusters vs dedup_cc_prop share one oracle) and
    * GraphSpec/GraftProperties agreement tests.
    */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxBucket: Int = 1000): DataFrame =
    Graph.connectedComponentsStar(
      verifiedNearDupPairs(df, textCol, idCol, minJaccard, k, bands, maxBucket),
      "doc_a", "doc_b")
      .select(col("id").as(idCol), col("comp").as("cluster_id"))

  /** Cluster-transitive near-duplicate removal: keep exactly one doc (the
    * min id) per connected component of the verified-pair graph, plus every
    * doc with no verified near-dup. Unlike [[dropNearDuplicates]], a doc is
    * never dropped on the say-so of a doc that was itself dropped —
    * chain-shaped dup families keep one representative, not zero.
    */
  def dropNearDuplicatesCC(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val dropped = nearDupClusters(df, textCol, idCol, minJaccard, k, bands, maxBucket)
      .filter(col("cluster_id") =!= col(idCol))
      .select(col(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Per-doc duplicated-shingle fraction (the "how much of this document's
    * text also appears elsewhere" signal of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): of a doc's DISTINCT
    * 3-gram shingle hashes, the fraction that occur in at least one other
    * doc. Shape: explode shingle hashes (one md5 per token, O(tokens)) →
    * distinct (doc, hash) → per-hash doc counts (map-side combine) → join
    * back → per-doc fraction. Two key-shuffles, no pair enumeration —
    * corpus-linear at any scale.
    */
  def duplicateShingleFraction(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val docShingle = explodedShingleHashes(df, textCol, idCol).distinct()
    val perHash = docShingle.groupBy("base").agg(count(lit(1)).as("n_docs"))
    docShingle.join(perHash, "base")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col(idCol), col("n_shingles"), col("n_shared"),
        Text.floor6(col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("dup_fraction"))
  }

  /** Leakage-safe train/eval split: assign each doc to a split by hashing
    * its near-dup CLUSTER id (singletons hash their own id), so a document
    * and its near-duplicates always land on the same side — the split-time
    * contamination guard (a near-copy of an eval doc in train defeats the
    * eval). `trainPct` of the hash space goes to "train", the rest "eval";
    * deterministic under any partitioning via the portable h32.
    */
  def clusterSafeSplit(df: DataFrame, textCol: String, idCol: String,
      trainPct: Int = 90, salt: String = "split1", minJaccard: Double = 0.8,
      k: Int = 8, bands: Int = 2, maxBucket: Int = 1000): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"trainPct in (0,100), got $trainPct")
    val clusters = nearDupClusters(df, textCol, idCol, minJaccard, k, bands, maxBucket)
    df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("split",
        when(pmod(Text.h32(concat(col("cluster_id").cast("string"), lit("_" + salt))),
          lit(100)) < trainPct, lit("train")).otherwise(lit("eval")))
  }

  /** Cross-corpus near-duplicate PAIRS: every `probe` doc whose exact
    * shingle Jaccard vs some `ref` doc reaches `minJaccard`, with the match
    * attached — the candidate feed for deduplicating a NEW crawl against an
    * EXISTING training corpus (or an eval benchmark against a training set
    * at the document level; token-level decontamination is
    * [[Text.decontaminatedKept]]).
    *
    * Scale shape: candidates come ONLY from the LSH band equi-join between
    * the two corpora — probe bands join ref band-buckets on
    * (band, band_key), so fan-out per probe row is bounded by the ref
    * bucket size, never |ref|. Ref buckets over `maxBucket` are skipped
    * (and counted via the observed metrics, same contract as
    * [[minhashCandidatePairs]]): a degenerate shared signature would
    * otherwise replicate the whole hot bucket onto every matching probe
    * row. Both corpora run the identical signature pipeline, so a doc is
    * its own candidate when it appears in both — callers dedup by id
    * upstream if the corpora overlap.
    *
    * Output: (probe_id, ref_id, jaccard). Id spaces of the two corpora are
    * independent (a probe id never joins a ref id).
    */
  def crossCorpusPairs(probe: DataFrame, ref: DataFrame, textCol: String,
      idCol: String, minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val pBands = lshBands(probe, textCol, idCol, k, bands)
      .select(col(idCol).as("probe_id"), col("band"), col("band_key"))
    val rBuckets = lshBands(ref, textCol, idCol, k, bands)
      .groupBy("band", "band_key").agg(collect_list(col(idCol)).as("ref_docs"))
      .observe(s"graft_cross_buckets_${obsId.incrementAndGet()}",
        sum(when(size(col("ref_docs")) > maxBucket, 1L).otherwise(0L)).as("skipped_buckets"),
        sum(when(size(col("ref_docs")) > maxBucket, size(col("ref_docs")).cast("long"))
          .otherwise(0L)).as("skipped_docs"))
      .filter(size(col("ref_docs")) <= maxBucket)
    val cand = pBands.join(rBuckets, Seq("band", "band_key"))
      .select(col("probe_id"), explode(col("ref_docs")).as("ref_id"))
      .distinct()
    verifyCrossPairs(probe, ref, textCol, idCol, cand, minJaccard)
  }

  /** Exact shingle-Jaccard verification of cross-corpus (probe_id, ref_id)
    * candidates — shared by the capped PAIR surface and the
    * rank-representative kept-set path ([[dropCrossCorpusDups]]).
    */
  private def verifyCrossPairs(probe: DataFrame, ref: DataFrame,
      textCol: String, idCol: String, cand: DataFrame,
      minJaccard: Double): DataFrame = {
    def shingleSets(df: DataFrame) = distinctShingleSets(df, textCol, idCol)
    // same |A∪B| = |A|+|B|−|A∩B| identity as [[verifiedNearDupPairs]]
    val uni = (col("n_a") + col("n_b") - col("inter")).cast("double")
    cand
      .join(shingleSets(probe).select(col(idCol).as("probe_id"),
        col("shs").as("sh_a"), col("nsh").as("n_a")), "probe_id")
      .join(shingleSets(ref).select(col(idCol).as("ref_id"),
        col("shs").as("sh_b"), col("nsh").as("n_b")), "ref_id")
      .select(col("probe_id"), col("ref_id"), col("n_a"), col("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
      .select(col("probe_id"), col("ref_id"),
        when(uni > 0, col("inter").cast("double") / uni).otherwise(lit(0.0)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Cross-corpus near-dup REMOVAL: the `probe` rows kept after dropping
    * every doc with a verified `ref` near-duplicate — dedup-new-data-
    * against-the-training-set as one call. The ref corpus is never
    * modified (it is the retained prior). The anti-join carries no
    * broadcast hint: at crawl-refresh overlap rates the drop set is
    * O(probe), so the strategy is left to AQE, which still broadcasts a
    * genuinely small one.
    */
  def dropCrossCorpusDups(probe: DataFrame, ref: DataFrame, textCol: String,
      idCol: String, minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxReps: Int = 1000): DataFrame = {
    // candidates from the RANK REPRESENTATIVES of each ref bucket (its
    // maxReps lowest-id members), NOT crossCorpusPairs's skip-cap: a kept
    // set must process dense ref buckets — the training set's
    // mass-duplicated boilerplate is exactly what a new crawl duplicates
    // most, and skipping its bucket would wave every such probe doc
    // through (the r15 within-corpus post-mortem, SCALE.md Round-15).
    // Fan-out per probe row stays ≤ maxReps per band. The panel comes
    // from a window rank over the exploded ref bands (spillable sort),
    // never a per-bucket collect_list — a mass-duplicated ref bucket as
    // ONE aggregation-buffer array is an executor OOM (the
    // [[repCandidatePairs]] shape note).
    val pBands = lshBands(probe, textCol, idCol, k, bands)
      .select(col(idCol).as("probe_id"), col("band"), col("band_key"))
    val wRef = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_key").orderBy(idCol)
    val rReps = lshBands(ref, textCol, idCol, k, bands)
      .withColumn("__rk", row_number().over(wRef))
      .filter(col("__rk") <= maxReps)
      .select(col("band"), col("band_key"), col(idCol).as("ref_id"))
    val cand = pBands.join(rReps, Seq("band", "band_key"))
      .select("probe_id", "ref_id").distinct()
    val dropped = verifyCrossPairs(probe, ref, textCol, idCol, cand, minJaccard)
      .select(col("probe_id").as(idCol)).distinct()
    probe.join(dropped, Seq(idCol), "left_anti")
  }

  /** 16-bit SimHash over the token multiset: bit b is the sign of the sum of
    * ±1 votes from each token's h32 bit b. Same explode+agg shape as
    * [[minhashSignatures]] (hash each token once on the map side, 16
    * partial-aggregated vote sums); tokenless docs keep simhash 0 via the
    * left join back to the id set.
    */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .select(col(idCol), h32(col("t")).as("h"))
    val voteAggs = (0 until 16).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$b")
    }
    val votes = tok.groupBy(idCol).agg(voteAggs.head, voteAggs.tail: _*)
    val bits = (0 until 16).map(b => when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
    df.select(col(idCol)).join(votes, Seq(idCol), "left")
      .select(col(idCol), coalesce(bits.reduce(_ + _), lit(0L)).cast("long").as("simhash"))
  }

  /** n-gram Jaccard similarity on candidate pairs (here: consecutive doc ids,
    * a deterministic demo pairing; production pairs come from
    * [[minhashCandidatePairs]]). Set semantics via distinct shingles.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sh = distinctShingleSets(df, textCol, idCol).drop("nsh")
    val a = sh.select(col(idCol).as("doc_a"), col("shs").as("sh_a"))
    val b = sh.select((col(idCol) - 1).as("join_id"), col(idCol).as("doc_b"), col("shs").as("sh_b"))
    // same |A∪B| = |A|+|B|−|A∩B| identity as [[verifiedNearDupPairs]]
    val uni = (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double")
    a.join(b, col("doc_a") === col("join_id"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        floor6(when(uni > 0, col("inter").cast("double") / uni)
          .otherwise(lit(0.0))).as("jaccard"))
  }
}
