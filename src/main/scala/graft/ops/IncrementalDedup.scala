package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Text.tokens

/** Incremental near-duplicate maintenance: dedup a NEW batch (today's
  * crawl) against a persisted signature index of everything already seen,
  * WITHOUT re-reading or re-signaturing the existing corpus. This is the
  * operation a continuously-fed 100 TB corpus actually runs —
  * [[Dedup.dropNearDuplicates]] is the from-scratch batch form,
  * [[Dedup.crossCorpusPairs]] probes a reference but re-derives the
  * reference's signatures from text on every call; here the index stores
  * the LSH band keys and exact-verify shingle sets once, and each batch
  * costs O(batch + touched buckets).
  *
  * Index layout under `indexDir` (plain parquet, append-only, partitioned
  * by the caller-supplied batch id):
  *  - `bands/batch=N`    — (doc_id, band, band_key): the LSH probe index
  *  - `shingles/batch=N` — (doc_id, shs, nsh): distinct shingle sets for
  *    exact Jaccard verification (same arrays as
  *    [[Dedup.verifiedNearDupPairs]], so every number is bit-identical to
  *    the batch form and the DuckDB oracle)
  * A replayed batch id OVERWRITES its own partitions and reads only
  * `batch < batchId`, so re-running a batch (foreachBatch retry, Verify
  * reps) converges instead of double-counting.
  *
  * DROP POLICY — first-seen wins: a new doc is dropped iff it is a
  * near-duplicate (exact shingle Jaccard ≥ `minJaccard` over LSH band
  * candidates) of ANY already-indexed doc, or of a lower-id doc within its
  * own batch. ALL batch docs (kept and dropped) enter the index — a doc
  * dropped yesterday still represents its content, so today's copy of it
  * is dropped too (the same any-prior-doc rule as the one-pass batch
  * policy). Partners are the bucket's RANK REPRESENTATIVES (its
  * `maxReps` earliest members — [[Dedup.repCandidatePairs]] semantics):
  * each row's final bucket rank is computed at append time (batch-local
  * window + indexed-member offset) and STORED, which works because rank
  * panels are prefix-stable under id-ordered batches. When batches
  * arrive in increasing id order this is EXACTLY
  * [[Dedup.dropNearDuplicates]]'s policy, UNCONDITIONALLY: every (rep,
  * b) pair with rep < b is examined exactly once — in b's batch, with
  * the rep either indexed (earlier batch) or intra-batch — which is what
  * lets the `dedup_incr_kept` query declare the batch form's oracle SQL
  * verbatim (IncrementalDedupSpec pins the equality on the real corpus,
  * plus restart-from-disk and empty/no-dup batches).
  *
  * Scale notes:
  *  - the probe is an equi-join on (band, band_key) SEMI-JOIN-PRUNED to
  *    the keys the batch actually touches — index buckets the batch never
  *    lands in are never read past the join hash; [[promoteBase]] folds
  *    the at-rest index into catalog tables bucketed by the probe keys,
  *    after which the probe shuffles ONLY the batch side (zero Exchange
  *    above the base scans — spec-pinned).
  *  - fan-out is bounded per ROW (≤ `maxReps` representatives per bucket
  *    a doc lands in), never per-bucket-skip: dense buckets — the
  *    most-duplicated content — are processed, and the probe filters the
  *    index on its STORED rank (pushed to the scan), so no window ever
  *    runs over index rows at probe time. [[indexBucketStats]] stays as
  *    occupancy observability.
  *  - `hashedShingles = true` stores 8-byte xxhash64 shingle keys instead
  *    of the oracle-portable strings (the [[SubstrDedup]] `hashed`
  *    discipline — a collision merges shingles, which only RAISES
  *    Jaccard, so collisions only ever ADD a drop) for a ~5× cut of the
  *    verification index; the layout is pinned in the index meta.
  */
object IncrementalDedup {

  private val BandsT = "bands"
  private val ShinglesT = "shingles"

  // k/bands shape the stored band keys and the shingles derive from text
  // the index does NOT store — so a text-index parameter change is
  // rebuild-only (there is no in-place migration like the embedding
  // twin's rebucket; MIGRATION.md)
  private val TextMigrateHint =
    "rebuild the index from the corpus (shingles derive from the text, " +
      "which the index does not store, so k/bands/hashed cannot migrate " +
      "in place — MIGRATION.md)"

  private def shingleSets(df: DataFrame, textCol: String, idCol: String,
      hashed: Boolean): DataFrame = {
    // r21: native distinct-shingle kernel (Dedup.distinctShingleSets'
    // producer) instead of the interpreted tokens/transform HOF chain
    if (!hashed) Dedup.distinctShingleSets(df, textCol, idCol)
    else {
      // 8-byte xxhash64 keys instead of the oracle-portable strings: ~5×
      // smaller verification index and a long-keyed intersect at probe
      // time; a collision merges two shingles, which can only RAISE the
      // Jaccard (|∩| gains at least as much as |∪| loses), i.e.
      // collisions only ever ADD a drop (the SubstrDedup hashed
      // discipline; spec pins kept ⊆ string-form kept). r22: ONE native
      // pass (HashedDistinctShingles — hash + first-occurrence
      // re-distinct inside the kernel); the r21 shape still ran an
      // interpreted per-shingle `transform(…, xxhash64)` here. The null-
      // text branch keeps the old tree's value — xxhash64 of the [NULL]
      // set = [seed] — via the same literal expression, constant-folded.
      val shs = when(col(textCol).isNull,
          array_distinct(transform(array(lit(null).cast("string")),
            s => xxhash64(s))))
        .otherwise(org.apache.spark.sql.graft.HashedDistinctShingles
          .hashedDistinctShingles(col(textCol)))
      df.select(col(idCol), shs.as("shs"))
        .select(col(idCol), col("shs"), size(col("shs")).as("nsh"))
    }
  }

  private def shinglesDdl(hashed: Boolean): String =
    if (hashed) "doc_id bigint, shs array<bigint>, nsh int"
    else "doc_id bigint, shs array<string>, nsh int"

  /** Read one index table restricted to batches BEFORE `batchId` (replay
    * safety: a re-run batch must not see its own previous write). Missing
    * directory = empty index (first batch).
    *
    * Two modes, split on `committed`:
    *  - `None` (writing reads — [[addBatch]]): a crashed compaction swap
    *    is healed first, and partitions from a batch whose addBatch
    *    crashed between its two table appends (no commit marker) are
    *    refused loudly ([[BatchCommits]]) — the single writer must replay
    *    the crashed id before appending past it.
    *  - `Some(set)` (READ-ONLY probes): serve exactly the COMMITTED
    *    prefix — batch partitions outside the snapshot are FILTERED OUT
    *    (partition-pruned, the compacted `batch=-1` base is marker-exempt
    *    as always), so a decontamination gate stays available while a
    *    single writer is mid-append; the in-flight batch is simply not
    *    visible yet. The caller must take ONE [[BatchCommits.snapshot]]
    *    and pass it to every table read (see there for why per-table
    *    listings would race). Nothing is healed in this mode — a pending
    *    compaction swap refuses instead ([[IndexCompaction
    *    .requireNoPending]]): probes never mutate. The prefix must also
    *    be VALID ([[BatchCommits.requireCommittedPrefix]]): uncommitted
    *    on-disk batches beyond a single in-flight tail mean a pre-marker
    *    legacy index or lost markers, where "serve the committed prefix"
    *    would silently serve an empty index and keep every duplicate.
    */
  private def readIndex(spark: SparkSession, indexDir: String, table: String,
      batchId: Int, schemaDdl: String,
      committed: Option[Set[Int]] = None): DataFrame = {
    committed match {
      case None =>
        IndexCompaction.healIfNeeded(spark, indexDir, table)
        BatchCommits.requireCommitted(spark, indexDir, table, batchId)
        val path = s"$indexDir/$table"
        val exists = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(path))
        if (!exists)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(s"$schemaDdl, batch int"))
        // explicit schema: an all-empty index (e.g. only empty-batch
        // partitions) has no footer to infer from, and the partition
        // column rides the declared schema either way
        else spark.read.schema(s"$schemaDdl, batch int").parquet(path)
          .filter(col("batch") < batchId)
      case Some(set) =>
        BatchCommits.requireCommittedPrefix(spark, indexDir, table)
        // serves THROUGH a pending compaction swap (never healing it) —
        // see [[IndexCompaction.servableParquet]]. batch is a partition
        // column, so the In prunes at planning; the committed list stays
        // bounded because compaction/promotion folds old batches into
        // the marker-exempt base (batch < 0 / catalog)
        IndexCompaction.servableParquet(spark, indexDir, table, schemaDdl)
          .filter(col("batch") < batchId)
          .filter(col("batch") < 0 ||
            col("batch").isin(set.toSeq.sorted.map(Int.box): _*))
    }
  }

  /** Process one batch against the index at `indexDir`: returns the KEPT
    * rows of `batch` (full rows, like [[Dedup.dropNearDuplicates]]) and
    * appends the batch's signatures to the index. `batchId` must be fresh
    * (or a replay of the same data under the same id — idempotent).
    *
    * `eagerResult = false` returns the kept frame LAZY (the index appends
    * still happen eagerly, and the batch still commits, before this
    * returns): for single-shot callers that consume the frame exactly once
    * — the bench/oracle registry, or a caller that discards it — the
    * checkpoint job (plus one unreleasable batch-sized RDD per call, since
    * the result's blocks cannot be released by addBatch) is pure overhead,
    * and consecutive batches' kept pipelines can then evaluate TOGETHER in
    * the caller's one action (independent AQE stages overlap — guide
    * §2.6). With a promoted base, lazy mode also leaves the candidate
    * frame lazy (its legs are probed once per shingle-leg consumer), so a
    * promoted continuously-serving writer should keep the eager default.
    */
  def addBatch(spark: SparkSession, indexDir: String, batch: DataFrame,
      textCol: String, idCol: String, batchId: Int,
      minJaccard: Double = 0.8, k: Int = 8, bands: Int = 2,
      maxReps: Int = 1000, hashedShingles: Boolean = false,
      eagerResult: Boolean = true): DataFrame = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    IndexMeta.requireNoMigration(spark, indexDir)
    // k and bands shape band_key, hashedShingles shapes the verification
    // sets — a mismatched probe silently matches nothing (or fails on
    // schema), so the index pins them on first write
    IndexMeta.ensure(spark, indexDir, Map("k" -> k.toString,
      "bands" -> bands.toString, "hashed" -> hashedShingles.toString),
      TextMigrateHint)

    // (base, delta) views: with a promoted base every index-side consumer
    // below runs PER LEG and unions the (small) outputs — the base leg
    // plans with zero Exchange above its bucketed scan (PlanSpec pins it).
    // Built BEFORE this batch's own appends: the reads exclude
    // batch >= batchId either way, but requireCommitted must refuse a
    // crashed earlier batch before we append past it.
    val vBands = IndexBase.view(spark, indexDir, "bands_table", batchId,
      readIndex(spark, indexDir, BandsT, batchId,
        "doc_id bigint, band int, band_key string, rank bigint"))
    val vShs = IndexBase.view(spark, indexDir, "shingles_table", batchId,
      readIndex(spark, indexDir, ShinglesT, batchId, shinglesDdl(hashedShingles)))

    // the batch's signatures are consumed by candidates, verification AND
    // the index append — derive once, don't re-signature three times.
    // r22: write-then-read-back staging (guide §1.2 fewer passes / §2.6):
    // the ONE batch scan lands DIRECTLY in the shingles partition, with
    // the 8-long sig array riding as a staged extra column `__sigs`;
    // every consumer then reads the written parquet back. The r21 shape
    // paid a localCheckpoint job for the same bytes and then a second job
    // re-reading the checkpoint to append it. Readers of the shingles
    // table declare (doc_id, shs, nsh) and prune the staged column;
    // compaction/promotion rewrite through the declared schema and drop
    // it, so the at-rest layout is unchanged past the delta partitions.
    val shsStr = when(col(textCol).isNull, array(lit(null).cast("string")))
      .otherwise(org.apache.spark.sql.graft.DistinctShingles
        .distinctShingles(col(textCol)))
    val shsCol =
      if (!hashedShingles) shsStr
      // same collision discipline as [[shingleSets]], same r22 native
      // kernel (the r21 shape interpreted a per-shingle transform here,
      // on every staged batch row); null text keeps the old tree's
      // [xxhash64(NULL)] = [seed] via the folded literal branch
      else when(col(textCol).isNull,
          array_distinct(transform(array(lit(null).cast("string")),
            s => xxhash64(s))))
        .otherwise(org.apache.spark.sql.graft.HashedDistinctShingles
          .hashedDistinctShingles(col(textCol)))
    val sc = spark.sparkContext
    val wideDdl = shinglesDdl(hashedShingles) + ", __sigs array<bigint>"
    Lineage.keepingJobDescription(sc) {
      sc.setJobDescription(s"incr-text b=$batchId: stage+append shingles")
      batch.select(
          col(idCol).cast("long").as("doc_id"),
          shsCol.as("shs"),
          Dedup.sigArray(col(textCol), k).as("__sigs"))
        .select(col("doc_id"), col("shs"), size(col("shs")).as("nsh"),
          col("__sigs"))
        .write.mode("overwrite").parquet(s"$indexDir/$ShinglesT/batch=$batchId")
      // read-back with the explicit wide schema: an empty batch may write a
      // footerless partition, which schema inference would refuse
      val wide = spark.read.schema(wideDdl)
        .parquet(s"$indexDir/$ShinglesT/batch=$batchId")
      val bandsB = wide
        .select(col("doc_id"),
          explode(Dedup.bandArrayOfSigs(col("__sigs"), k, bands)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
      val shsB = wide.select(col("doc_id"), col("shs"), col("nsh"))

      // prior member count per touched bucket (semi-join-pruned, per-leg —
      // zero-exchange on a promoted base): the offset that turns a
      // batch-local rank into the row's FINAL rank in its bucket.
      // left_semi ignores right-side duplicates, so the raw batch band keys
      // serve as the prune set (r21's .distinct() here cost one whole
      // exchange + AQE stage per batch for nothing); and on the PLAIN path
      // (no promoted base) there is exactly one leg, so the per-leg count IS
      // the prior count — the outer re-aggregation over the same keys was a
      // second identity exchange.
      val touched = bandsB.select("band", "band_key")
      val legCnt = (s: DataFrame) =>
        s.join(touched, Seq("band", "band_key"), "left_semi")
          .groupBy("band", "band_key").agg(count(lit(1)).as("n_prior"))
      val priorCnt = vBands.base match {
        case Some(_) => vBands.over(s =>
            legCnt(s).withColumnRenamed("n_prior", "n_leg"))
          .groupBy("band", "band_key").agg(sum("n_leg").as("n_prior"))
        case None => legCnt(vBands.delta.drop("batch"))
      }

      // bucket ranks are PREFIX-STABLE under id-ordered batches — computed
      // once here, stored, and filtered at probe time ([[Dedup
      // .repCandidatePairs]] semantics: partner must be one of the bucket's
      // maxReps earliest members; dense buckets are PROCESSED, not skipped).
      // r22: the ranks are written STRAIGHT to the bands partition (one job)
      // and read back for the candidate joins below — the r21 shape
      // checkpointed them first and re-read the checkpoint to append.
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_key").orderBy("doc_id")
      sc.setJobDescription(s"incr-text b=$batchId: rank+append bands")
      bandsB.join(priorCnt, Seq("band", "band_key"), "left")
        .withColumn("rank",
          (row_number().over(wB) + coalesce(col("n_prior"), lit(0L))).cast("long"))
        .select(col("doc_id"), col("band"), col("band_key"), col("rank"))
        .write.mode("overwrite").parquet(s"$indexDir/$BandsT/batch=$batchId")
      // both appends are on disk — the batch COMMITS here; the kept
      // computation below reads the just-written partitions back. Same
      // crash contract as before: a crash between the two appends leaves an
      // uncommitted half-write that every later read refuses until this
      // batch id is replayed ([[BatchCommits]]); a crash during the kept
      // computation leaves a committed batch whose kept frame the caller
      // re-derives by replaying the same id (idempotent overwrite).
      BatchCommits.mark(spark, indexDir, batchId)
      val ranked = spark.read.schema(
          "doc_id bigint, band int, band_key string, rank bigint")
        .parquet(s"$indexDir/$BandsT/batch=$batchId")

      // candidates: batch doc × representative. band_key leads the join
      // keys: it is the base's bucket+sort column, so the bucketed leg
      // needs neither Exchange nor Sort; the rank filter pushes to the scan.
      val cross = vBands.over(s => ranked
        .select(col("band"), col("band_key"), col("doc_id"))
        .join(s.filter(col("rank") <= maxReps)
          .select(col("band_key"), col("band"), col("doc_id").as("partner_id")),
          Seq("band_key", "band"))
        .select(col("partner_id"), col("doc_id")))
      val intra = ranked.filter(col("rank") <= maxReps)
        .select(col("band"), col("band_key"), col("doc_id").as("partner_id"))
        .join(ranked.select(col("band"), col("band_key"), col("doc_id")),
          Seq("band", "band_key"))
        .filter(col("partner_id") < col("doc_id"))
        .select(col("partner_id"), col("doc_id"))
      // promoted path: candidates feed per-leg partner joins below —
      // materialize so the legs are probed once, not re-derived per
      // consumer (eager mode only: a lazy result must not read released
      // blocks, the probe() discipline). Plain path: single partner join,
      // no need to pay the checkpoint.
      val cand0 = cross.union(intra).distinct()
      sc.setJobDescription(s"incr-text b=$batchId: stage candidates")
      val cand = if (eagerResult && vBands.base.isDefined)
        Lineage.materialize(cand0) else cand0
      try {
        // exact verification — the same |A∪B| = |A|+|B|−|A∩B| arithmetic as
        // the batch form, partner sets read from the index (earlier batches)
        // or the batch's own staged sets
        val shsSel = (s: DataFrame) => s.select(col("doc_id").as("partner_id"),
          col("shs").as("sh_a"), col("nsh").as("n_a"))
        val withPartner = vShs.base match {
          case Some(_) => vShs.over(s => cand.join(shsSel(s), "partner_id"))
            .unionByName(cand.join(shsSel(shsB), "partner_id"))
          case None => cand.join(
            shsSel(vShs.delta.drop("batch")).unionByName(shsSel(shsB)), "partner_id")
        }
        val uni = (col("n_a") + col("n_b") - col("inter")).cast("double")
        val dropped = withPartner
          .join(shsB.select(col("doc_id"), col("shs").as("sh_b"), col("nsh").as("n_b")),
            "doc_id")
          .select(col("doc_id"), col("n_a"), col("n_b"),
            size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
          .filter(when(uni > 0, col("inter").cast("double") / uni)
            .otherwise(lit(0.0)) >= minJaccard)
          .select(col("doc_id").as(idCol)).distinct()

        val kept = batch.join(dropped, Seq(idCol), "left_anti")
        sc.setJobDescription(s"incr-text b=$batchId: kept")
        if (eagerResult) Lineage.materialize(kept) else kept
      } finally Lineage.release(cand) // no-op unless the promoted eager path
    }
  }

  /** READ-ONLY probe: the rows of `batch` with NO near-duplicate among
    * the indexed corpus — nothing is written, no batch id is consumed,
    * the index is not mutated. This is the decontamination / gating form
    * of [[addBatch]]: hold a benchmark set (or the retained training
    * corpus) as a persisted index and filter every incoming batch
    * against it, batch after batch, without the batches themselves ever
    * entering the index.
    *
    * POLICY ≡ [[Dedup.dropCrossCorpusDups]](batch, indexedCorpus):
    * partners are each touched bucket's `maxReps` earliest indexed
    * members (the STORED ranks — prefix-stable under id-ordered index
    * builds, so they equal the batch form's `array_sort` panel), the
    * verification is the same exact shingle Jaccard, and there is NO
    * id-order condition — id spaces of the two corpora are independent
    * (`dedup_incr_probe_kept` declares `dedup_cross_kept`'s oracle SQL
    * verbatim on that equality). Unlike [[addBatch]] there are no
    * intra-batch partners: batch-internal dedup is [[addBatch]]'s (or
    * [[Dedup.dropNearDuplicates]]'s) job.
    *
    * The index must exist and its baked parameters must match — a probe
    * against nothing is almost always a misconfigured dir, and a
    * mismatched probe would silently match nothing. The match requires
    * the keys to be PRESENT in the index meta, not merely non-conflicting:
    * pointing a text probe at (say) an embedding index's meta would
    * otherwise pass vacuously and the gate would silently keep everything.
    *
    * AVAILABILITY while the index grows: the probe serves the last
    * COMMITTED batch prefix — one [[BatchCommits.snapshot]] taken up
    * front bounds every table read, so a single writer mid-[[addBatch]]
    * never makes the gate refuse; the in-flight batch is just not
    * visible yet (the pre-batch answer). Maintenance ops (compact /
    * promote / rebucket) still refuse on uncommitted partitions — they
    * need the whole table.
    *
    * AVAILABILITY during maintenance: the probe serves THROUGH a live
    * (or crashed) compaction swap — the staged copy plus the untouched
    * tail partitions are exactly the pre-swap committed content
    * ([[IndexCompaction.servableParquet]]) — and through a live
    * [[promoteBase]] (the meta write is promotion's commit point; until
    * it lands, probes read the old base/delta state, after it the new —
    * both complete). A parameter migration
    * ([[IncrementalEmbeddingDedup.rebucket]]) is staged the same way:
    * probes serve the pre-migration state through its whole data
    * phase, refusing only the sub-second metadata swap at the end
    * ([[IndexMeta.requireServableMigration]]). Being READ-ONLY, the
    * probe never HEALS anything.
    *
    * The two loud swap transients (planning-race refusal, post-commit
    * FileNotFound) are retried INTERNALLY ([[ProbeRetry]]) — callers of
    * a continuously-serving gate see zero failed probes across a
    * healthy maintenance swap. To make the execution-time transient
    * fire inside that bounded retry rather than at the caller's first
    * action, the result is eagerly materialized on EVERY path (batch-
    * sized — O(incoming crawl), never O(index)); callers may reclaim
    * its storage with [[Lineage.release]] once consumed.
    *
    * `eagerResult = false` opts out of that materialization for
    * SINGLE-SHOT callers with no concurrent maintenance (the oracle /
    * bench registry, where the harness consumes the frame once and a
    * non-releasable checkpoint would leak one batch-sized RDD per run):
    * the result is a plain lazy plan — nothing to release — at the cost
    * of the execution-time swap transient firing at the caller's action
    * instead of inside the bounded retry. A continuously-serving gate
    * under live maintenance keeps the eager default.
    */
  def probe(spark: SparkSession, indexDir: String, batch: DataFrame,
      textCol: String, idCol: String, minJaccard: Double = 0.8,
      k: Int = 8, bands: Int = 2, maxReps: Int = 1000,
      hashedShingles: Boolean = false, eagerResult: Boolean = true): DataFrame =
    ProbeRetry.retry(spark, indexDir, "text-index probe") {
      probeOnce(spark, indexDir, batch, textCol, idCol, minJaccard, k,
        bands, maxReps, hashedShingles, eagerResult)
    }

  private def probeOnce(spark: SparkSession, indexDir: String, batch: DataFrame,
      textCol: String, idCol: String, minJaccard: Double,
      k: Int, bands: Int, maxReps: Int,
      hashedShingles: Boolean, eagerResult: Boolean): DataFrame = {
    // the swap token is read BEFORE the migration/meta checks (r19): a
    // maintenance swap that starts and COMPLETES between those checks
    // and a later token read would serve post-swap tables under
    // pre-swap parameters with the re-check passing vacuously — the
    // exact silent-wrongness shape rebucket_serving caught in the
    // embedding twin (wrong=1) when the token was read late
    val gen0 = SwapGen.read(spark, indexDir)
    IndexMeta.requireNoMigration(spark, indexDir)
    val meta = IndexMeta.read(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no index at $indexDir to probe — build one with addBatch first"))
    val expected = Map("k" -> k.toString, "bands" -> bands.toString,
      "hashed" -> hashedShingles.toString)
    IndexMeta.requireMatch(indexDir, meta, expected, TextMigrateHint)

    val committed = Some(BatchCommits.snapshot(spark, indexDir))
    val bandsB = Dedup.lshBands(batch, textCol, idCol, k, bands)
      .select(col(idCol).cast("long").as("doc_id"), col("band"), col("band_key"))
    val shsB = shingleSets(batch, textCol, idCol, hashedShingles)
      .select(col(idCol).cast("long").as("doc_id"), col("shs"), col("nsh"))
    val vBands = IndexBase.view(spark, indexDir, "bands_table", Int.MaxValue,
      readIndex(spark, indexDir, BandsT, Int.MaxValue,
        "doc_id bigint, band int, band_key string, rank bigint", committed))
    val vShs = IndexBase.view(spark, indexDir, "shingles_table", Int.MaxValue,
      readIndex(spark, indexDir, ShinglesT, Int.MaxValue,
        shinglesDdl(hashedShingles), committed))
    // the frames above froze their file listings; a swap that began
    // while they were being built could have mixed pre/post state —
    // refuse-and-retry instead of serving it ([[SwapGen]])
    SwapGen.requireUnchanged(spark, indexDir, gen0)

    // candidates: batch doc × indexed representative (stored rank pushed
    // to the scan; zero index-side Exchange on a promoted base)
    val cand0 = vBands.over(s => bandsB
      .select(col("band"), col("band_key"), col("doc_id"))
      .join(s.filter(col("rank") <= maxReps)
        .select(col("band_key"), col("band"), col("doc_id").as("partner_id")),
        Seq("band_key", "band"))
      .select(col("partner_id"), col("doc_id")))
      .distinct()
    // promoted path: the shingle fetch below probes the candidates once
    // per leg — materialize so the batch's signature pipeline isn't
    // re-derived per consumer (the addBatch discipline). Plain path:
    // single consumer, stay lazy. Lazy-result mode: everything stays
    // lazy — the finally below must not release blocks a lazy result
    // still reads.
    val cand =
      if (eagerResult && vShs.base.isDefined) Lineage.materialize(cand0)
      else cand0
    try {
      val shsSel = (s: DataFrame) => s.select(col("doc_id").as("partner_id"),
        col("shs").as("sh_a"), col("nsh").as("n_a"))
      val withPartner = vShs.over(s => cand.join(shsSel(s), "partner_id"))
      val uni = (col("n_a") + col("n_b") - col("inter")).cast("double")
      val dropped = withPartner
        .join(shsB.select(col("doc_id"), col("shs").as("sh_b"), col("nsh").as("n_b")),
          "doc_id")
        .select(col("doc_id"), col("n_a"), col("n_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
        .filter(when(uni > 0, col("inter").cast("double") / uni)
          .otherwise(lit(0.0)) >= minJaccard)
        .select(col("doc_id").as(idCol)).distinct()
      // eager on EVERY path: a frozen-listing FileNotFound must fire
      // here, inside the bounded retry, not at the caller's action
      // (lazy-result mode skips it — single-shot, nothing concurrent)
      val kept = batch.join(dropped, Seq(idCol), "left_anti")
      if (eagerResult) Lineage.materialize(kept) else kept
    } finally Lineage.release(cand) // no-op on the plain (lazy) path
  }

  /** Occupancy audit of the persisted band index — READ-ONLY, so it
    * serves the COMMITTED prefix (an uncommitted half-written batch must
    * not inflate occupancy numbers, and the audit must stay available
    * while a writer appends). Bucket counts split at `maxBucket`, plus
    * the worst bucket. Observability only since the rank-representative
    * semantics — a hot bucket means rows past `maxReps` are verified
    * against the panel rather than every lower-id mate, never that the
    * bucket was skipped.
    */
  def indexBucketStats(spark: SparkSession, indexDir: String,
      maxBucket: Int = 1000): DataFrame =
    ProbeRetry.retry(spark, indexDir, "band-bucket stats") {
    val gen0 = SwapGen.read(spark, indexDir)
    val v = IndexBase.view(spark, indexDir, "bands_table", Int.MaxValue,
      readIndex(spark, indexDir, BandsT, Int.MaxValue,
        "doc_id bigint, band int, band_key string, rank bigint",
        Some(BatchCommits.snapshot(spark, indexDir))))
    SwapGen.requireUnchanged(spark, indexDir, gen0)
    v.over(_.select("band", "band_key"))
      .groupBy("band", "band_key").agg(count(lit(1)).as("n"))
      .agg(
        sum(when(col("n") <= maxBucket, 1L).otherwise(0L)).as("ok_buckets"),
        sum(when(col("n") > maxBucket, 1L).otherwise(0L)).as("hot_buckets"),
        max(col("n")).as("max_bucket"))
  }

  /** Promote the index base to catalog-bucketed tables: fold every batch
    * below `uptoExclusive` (plus any previous base) into versioned tables
    * bucketed by the probe keys — bands by `band_key` (sorted
    * band_key, band), shingles by `doc_id`. From then on [[addBatch]]
    * probes the base with ZERO Exchange on the index side: the scan's
    * HashPartitioning satisfies both the candidate equi-join and the
    * occupancy aggregation, so each batch shuffles only ITSELF. This is
    * the rest-layout the probe was designed for — at a TB-scale index the
    * per-batch cost otherwise being re-shuffling index rows the batch
    * never matches.
    *
    * Sizing: `buckets` is a layout-time choice — target ~256 MB/bucket at
    * the expected base size (the [[Bucketing]] discipline). Re-promotion
    * (a larger `uptoExclusive`) folds base + new deltas into a NEW
    * version and retires the old one; the meta update is the commit
    * point, a crash before cleanup leaves only excluded garbage.
    * OFFLINE op. Batches below the boundary can never be replayed
    * (enforced), same contract as compaction.
    */
  def promoteBase(spark: SparkSession, indexDir: String,
      uptoExclusive: Int, buckets: Int = 32): Unit = {
    IndexMeta.requireNoMigration(spark, indexDir)
    // folding an uncommitted (half-written) batch into the base would
    // bake the under-drop in permanently — replay it first
    BatchCommits.requireCommitted(spark, indexDir, BandsT, uptoExclusive)
    BatchCommits.requireCommitted(spark, indexDir, ShinglesT, uptoExclusive)
    val meta = IndexMeta.read(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no index at $indexDir to promote"))
    val prev = meta.get("base_upto").map(_.toInt)
    if (prev.contains(uptoExclusive)) return // idempotent
    prev.foreach(p => require(uptoExclusive >= p,
      s"cannot promote to $uptoExclusive below the existing base boundary $p"))
    val prefix = IndexBase.tablePrefix(indexDir)
    val bandsT = s"${prefix}_bands_$uptoExclusive"
    val shsT = s"${prefix}_shingles_$uptoExclusive"
    IndexBase.promoteOne(spark, indexDir, BandsT,
      "doc_id bigint, band int, band_key string, rank bigint",
      bucketKey = "band_key",
      sortCols = Seq("band_key", "band", "rank"), buckets = buckets,
      prevTable = meta.get("bands_table"), lower = prev,
      upto = uptoExclusive, tName = bandsT)
    IndexBase.promoteOne(spark, indexDir, ShinglesT,
      shinglesDdl(meta.get("hashed").contains("true")), bucketKey = "doc_id",
      sortCols = Seq("doc_id"), buckets = buckets,
      prevTable = meta.get("shingles_table"), lower = prev,
      upto = uptoExclusive, tName = shsT)
    // commit: views switch to the new base + boundary atomically via meta
    IndexMeta.write(spark, indexDir, meta ++ Map(
      "base_upto" -> uptoExclusive.toString, "base_buckets" -> buckets.toString,
      "bands_table" -> bandsT, "shingles_table" -> shsT))
    // cleanup deletes partitions an in-flight probe may just have listed
    // under the OLD meta — bump so its post-listing check catches it
    SwapGen.bump(spark, indexDir)
    IndexBase.cleanupOne(spark, indexDir, BandsT, meta.get("bands_table"),
      prev, uptoExclusive, bandsT)
    IndexBase.cleanupOne(spark, indexDir, ShinglesT, meta.get("shingles_table"),
      prev, uptoExclusive, shsT)
    // folded batches can never be replayed (view() enforces it) — their
    // markers are dead bookkeeping
    BatchCommits.clearBelow(spark, indexDir, uptoExclusive)
  }

  /** Fold all batch partitions below `uptoExclusive` into the single base
    * partition `batch=-1` — the small-files maintenance a long-running
    * index needs (daily batches = thousands of tiny partitions; every
    * probe lists and opens all of them). Query-equivalent: `-1 < batchId`
    * for every future batch, so reads see exactly the same rows through
    * one compacted partition. OFFLINE op w.r.t. WRITERS (no concurrent
    * addBatch); READ-ONLY probes keep serving throughout — the swap's
    * staged copy plus the untouched tail is the complete pre-swap
    * content ([[IndexCompaction.servableParquet]]). A compacted batch id
    * must never be replayed — its rows now live in the base, so a replay
    * would double them.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      uptoExclusive: Int, targetFileBytes: Long = 256L << 20): Unit = {
    // a promoted index folds through promoteBase (batch=-1 would land
    // BELOW the base boundary and be silently excluded from every probe)
    val meta = IndexMeta.read(spark, indexDir)
    require(meta.forall(!_.contains("base_upto")),
      s"index at $indexDir has a promoted base — fold with promoteBase, not compactIndex")
    val hashed = meta.exists(_.get("hashed").contains("true"))
    // an uncommitted batch must be replayed, never folded into the base
    BatchCommits.requireCommitted(spark, indexDir, BandsT, uptoExclusive)
    BatchCommits.requireCommitted(spark, indexDir, ShinglesT, uptoExclusive)
    IndexCompaction.compact(spark, indexDir, BandsT,
      "doc_id bigint, band int, band_key string, rank bigint", uptoExclusive,
      clusterBy = "band_key", targetFileBytes = targetFileBytes)
    IndexCompaction.compact(spark, indexDir, ShinglesT,
      shinglesDdl(hashed), uptoExclusive,
      clusterBy = "doc_id", targetFileBytes = targetFileBytes)
    // folded batches can never be replayed — drop their markers
    BatchCommits.clearBelow(spark, indexDir, uptoExclusive)
  }

  /** MIGRATION: stamp every existing batch partition of a PRE-MARKER
    * index (either twin — all four table layouts are scanned) as
    * committed. Soundness is VERIFIED per twin, not assumed: a batch is
    * stamped only when BOTH tables of its twin hold it (bands∩shingles,
    * buckets∩vectors); a one-sided batch — an orphaned half-write — fails
    * the migration loudly (replay that batch id, then rerun). From then
    * on the [[BatchCommits]] protocol protects the index like a fresh one.
    */
  def markLegacyCommitted(spark: SparkSession, indexDir: String): Unit =
    BatchCommits.markAll(spark, indexDir,
      Seq(BandsT -> ShinglesT, "buckets" -> "vectors"))
}

/** A promoted index splits into a catalog-bucketed BASE (every batch
  * below `base_upto`, hash-bucketed by its probe key so scans report
  * `HashPartitioning` and probe joins/aggregations insert NO Exchange
  * above the base — the probe shuffles only the batch side) and plain
  * parquet DELTA partitions (batches since promotion). Every index-side
  * consumer distributes over the union, so each leg keeps its own
  * layout: apply the transform per leg with [[over]] and union the
  * (small) outputs — unioning the INPUTS would discard the base's
  * partitioning and re-shuffle the whole index per probe.
  */
private[graft] case class IndexView(base: Option[DataFrame], delta: DataFrame) {
  def over(f: DataFrame => DataFrame): DataFrame = base match {
    case Some(b) => f(b).unionByName(f(delta.drop("batch")))
    case None => f(delta.drop("batch"))
  }
}

/** Shared machinery for promoted (catalog-bucketed) index bases. */
private[graft] object IndexBase {

  /** Catalog-safe, collision-resistant table-name prefix per index dir:
    * the fixed `graft_idx_` prefix always survives (a right-truncation
    * could chop it off for long dirs — leaking past IncrEnvelope's
    * prefix-scoped cleanup, risking identifiers starting with `_`/digit,
    * and colliding two indexes whose dirs share an 80-char tail), an
    * 8-hex md5 of the FULL dir disambiguates, and a readable tail of the
    * sanitized dir is kept up to the 80-char identifier budget.
    */
  def tablePrefix(indexDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(indexDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    (s"graft_idx_${h}_" + indexDir.replaceAll("[^A-Za-z0-9]", "_")
      .replaceAll("_+", "_").toLowerCase).take(80)
  }

  /** Assemble the (base, delta) view for one index table. `delta0` is the
    * plain parquet read already bounded to `batch < batchId`; with a
    * promoted base the delta additionally excludes folded batches
    * (`batch >= base_upto`) — which also makes a promote crash before
    * partition cleanup harmless, the folded rows are filtered out, never
    * double-counted. Probing below the base boundary is refused: those
    * batches live in the base, a replay would double them.
    */
  def view(spark: SparkSession, indexDir: String, metaTableKey: String,
      batchId: Int, delta0: DataFrame): IndexView =
    IndexMeta.read(spark, indexDir).getOrElse(Map.empty)
      .get("base_upto").map(_.toInt) match {
      case Some(u) =>
        require(batchId >= u,
          s"batchId $batchId is below the promoted base boundary $u — " +
            "batches folded into the base must never be replayed")
        val meta = IndexMeta.read(spark, indexDir).get
        val t = meta.getOrElse(metaTableKey, throw new IllegalStateException(
          s"index at $indexDir has base_upto but no $metaTableKey"))
        require(spark.catalog.tableExists(t),
          s"promoted base table $t missing from the catalog — rerun promoteBase")
        IndexView(Some(spark.table(t)), delta0.filter(col("batch") >= u))
      case None => IndexView(None, delta0)
    }

  /** Fold previous base (if any) + batch partitions in [lower, upto) into
    * a NEW versioned catalog-bucketed table. One shuffle partition per
    * bucket ⇒ one file per bucket ⇒ the scan trusts the per-bucket sort.
    */
  def promoteOne(spark: SparkSession, indexDir: String, table: String,
      schemaDdl: String, bucketKey: String, sortCols: Seq[String],
      buckets: Int, prevTable: Option[String], lower: Option[Int],
      upto: Int, tName: String): Unit = {
    IndexCompaction.healIfNeeded(spark, indexDir, table)
    val root = s"$indexDir/$table"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltaAll =
      if (!fs.exists(new org.apache.hadoop.fs.Path(root)))
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(s"$schemaDdl, batch int"))
      else spark.read.schema(s"$schemaDdl, batch int").parquet(root)
    val delta = deltaAll
      .filter(col("batch") >= lower.getOrElse(Int.MinValue) && col("batch") < upto)
      .drop("batch")
    val folded = prevTable.map(t => spark.table(t).unionByName(delta)).getOrElse(delta)
    folded.repartition(buckets, col(bucketKey))
      .write.format("parquet")
      .bucketBy(buckets, bucketKey).sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", s"$indexDir/${table}_base_v$upto")
      .mode("overwrite").saveAsTable(tName)
  }

  /** Post-commit space reclamation: drop the previous base version and
    * the folded parquet partitions. A crash anywhere here only leaves
    * garbage — the meta committed above already excludes all of it.
    */
  def cleanupOne(spark: SparkSession, indexDir: String, table: String,
      oldTable: Option[String], lower: Option[Int], upto: Int,
      newTable: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    oldTable.filter(_ != newTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t") // external table: data stays
      lower.foreach { v => // previous version's path is the convention
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/${table}_base_v$v"), true)
      }
    }
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath).filter { p =>
        val n = p.getName
        n.startsWith("batch=") && n.stripPrefix("batch=").toIntOption
          .exists(b => b >= lower.getOrElse(Int.MinValue) && b < upto)
      }.foreach(p => fs.delete(p, true))
  }
}

/** Per-batch COMMIT MARKERS for the incremental indexes: [[IncrementalDedup
  * .addBatch]] (and the embedding twin) appends to TWO tables per batch —
  * a crash between the writes leaves bands without shingles (or buckets
  * without vectors), and a candidate generated from the orphaned half
  * finds no verification partner, i.e. silent under-dropping. So a batch
  * is not COMMITTED until an empty `_graft_commits/batch=N` marker exists
  * (written after BOTH appends), and every index read refuses — loudly —
  * to serve a prior batch's partition that lacks its marker: the heal is
  * to replay that batch id (the documented foreachBatch replay contract;
  * the overwrite + re-mark converges), not to silently probe half an
  * index. `batch=-1` (the compacted base) is governed by
  * [[IndexCompaction]]'s own marker protocol and is exempt.
  */
private[graft] object BatchCommits {
  private def dir(indexDir: String) = s"$indexDir/_graft_commits"

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Mark `batchId` committed — call ONLY after every table append. */
  def mark(spark: SparkSession, indexDir: String, batchId: Int): Unit = {
    val out = fsOf(spark, indexDir).create(
      new org.apache.hadoop.fs.Path(dir(indexDir), s"batch=$batchId"), true)
    try out.write(Array.emptyByteArray) finally out.close()
  }

  private def committedSet(spark: SparkSession, indexDir: String): Set[Int] = {
    val fs = fsOf(spark, indexDir)
    val d = new org.apache.hadoop.fs.Path(dir(indexDir))
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toIntOption).toSet
  }

  /** SNAPSHOT of the committed batch ids, taken ONCE per read-only probe
    * and passed to EVERY table read of that probe. This is what lets a
    * probe serve while a single writer is mid-[[IncrementalDedup.addBatch]]:
    * restricting both tables to one snapshot taken BEFORE either read is
    * race-free — a batch committed after the snapshot is excluded from
    * BOTH tables (a consistent, slightly stale prefix), and a batch
    * committed before it has BOTH appends on disk (the marker is written
    * last). Filtering each table by its own freshly-listed state instead
    * would admit the in-flight batch's bands without its shingles — the
    * silent under-drop the marker protocol exists to prevent.
    */
  def snapshot(spark: SparkSession, indexDir: String): Set[Int] =
    committedSet(spark, indexDir)

  /** Refuse partitions of `table` from batches BELOW `batchId` that were
    * never committed: their addBatch crashed between the two table
    * writes. The batch being probed itself (>= batchId) is exempt — a
    * replay of the crashed id is exactly the heal.
    */
  def requireCommitted(spark: SparkSession, indexDir: String, table: String,
      batchId: Int): Unit = {
    val fs = fsOf(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
    if (!fs.exists(root)) return
    val committed = committedSet(spark, indexDir)
    val orphans = fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toIntOption)
      .filter(b => b >= 0 && b < batchId && !committed.contains(b))
      .toSeq.sorted
    require(orphans.isEmpty,
      s"index at $indexDir/$table holds partitions from UNCOMMITTED " +
        s"batch(es) ${orphans.mkString(", ")} — their addBatch crashed " +
        "between the two table appends; replay those batch ids (same " +
        "data, same id) to heal before probing, or the half-written " +
        "signatures would silently under-drop")
  }

  /** Snapshot-mode validity guard: the uncommitted on-disk batch ids of
    * `table` must be AT MOST ONE id, and it must be the newest partition —
    * the single writer's in-flight tail. Anything else is a protocol
    * violation the committed-prefix filter would otherwise turn into a
    * SILENT under-serve (the gate keeping everything):
    *  - two or more uncommitted ids ⇒ a pre-marker (r15) index that was
    *    never [[markLegacyCommitted]]-migrated, or lost markers;
    *  - an uncommitted id below a newer on-disk id ⇒ a crashed batch the
    *    writer then WROTE PAST (requireCommitted stops a live writer from
    *    doing this, so seeing it means markers were deleted out of band).
    * Ordering makes the check race-free under the single-writer contract:
    * partitions are listed BEFORE markers, so a batch committing between
    * the two listings only shrinks the uncommitted set — a concurrent
    * append can never fabricate a spurious refusal.
    *
    * Residual: a legacy index holding EXACTLY ONE batch partition is
    * indistinguishable from a first-append-in-flight and serves the empty
    * committed prefix; multi-batch legacy indexes (the practical case)
    * refuse loudly with the migration pointer.
    */
  def requireCommittedPrefix(spark: SparkSession, indexDir: String,
      table: String): Unit = {
    val fs = fsOf(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
    if (!fs.exists(root)) return
    val onDisk = fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toIntOption)
      .filter(_ >= 0).toSeq.sorted
    if (onDisk.isEmpty) return
    val committed = committedSet(spark, indexDir) // listed AFTER partitions
    val un = onDisk.filterNot(committed)
    require(un.isEmpty || (un.size == 1 && un.head == onDisk.last),
      s"index at $indexDir/$table holds partitions from UNCOMMITTED " +
        s"batch(es) ${un.mkString(", ")} that are not a single in-flight " +
        "tail — a pre-marker index (run markLegacyCommitted to migrate) " +
        "or lost/deleted commit markers; a committed-prefix probe would " +
        "silently serve without them and keep every duplicate")
  }

  /** Drop markers for batches folded away below `uptoExclusive`. */
  def clearBelow(spark: SparkSession, indexDir: String, uptoExclusive: Int): Unit = {
    val fs = fsOf(spark, indexDir)
    val d = new org.apache.hadoop.fs.Path(dir(indexDir))
    if (!fs.exists(d)) return
    fs.listStatus(d).map(_.getPath)
      .filter(_.getName.stripPrefix("batch=").toIntOption.exists(_ < uptoExclusive))
      .foreach(p => fs.delete(p, false))
  }

  /** MIGRATION helper: stamp the existing batch partitions of a
    * pre-marker legacy index committed — but only after VERIFYING, in
    * code, the soundness the marker protocol guards: a batch counts only
    * if it is present in BOTH tables of its twin (bands∩shingles,
    * buckets∩vectors). A batch present in only one table is exactly the
    * orphaned half-written state the markers exist to refuse — stamping
    * it committed would bake the under-drop in permanently, so this
    * fails loudly listing the one-sided batches (heal: replay those
    * batch ids, then rerun).
    */
  /** The PROBE table of each twin must physically store its rank column:
    * a pre-rank layout read through the declared schema yields NULL
    * ranks, the `rank <= maxReps` representative filter then excludes
    * every indexed doc, and the probe silently keeps all duplicates —
    * the exact adopt-a-legacy-index hazard [[IndexMeta.ensure]] refuses
    * for data-holding no-meta dirs. markAll is the one path that
    * DELIBERATELY adopts old partitions, so it must verify the column
    * in the files, not the DDL.
    */
  private val ProbeRankTables = Set("bands", "buckets")

  def markAll(spark: SparkSession, indexDir: String,
      twins: Seq[(String, String)]): Unit = {
    val fs = fsOf(spark, indexDir)
    def batchesOf(t: String): Option[Set[Int]] = {
      val r = new org.apache.hadoop.fs.Path(s"$indexDir/$t")
      if (!fs.exists(r)) None
      else Some(fs.listStatus(r).iterator.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(_.stripPrefix("batch=").toIntOption)
        .filter(_ >= 0).toSet)
    }
    twins.foreach { case (a, b) =>
      (batchesOf(a), batchesOf(b)) match {
        case (None, None) => () // this twin never wrote here
        case (oa, ob) =>
          val sa = oa.getOrElse(Set.empty[Int])
          val sb = ob.getOrElse(Set.empty[Int])
          val oneSided = (sa diff sb) ++ (sb diff sa)
          require(oneSided.isEmpty,
            s"legacy index at $indexDir is NOT sound: batch(es) " +
              s"${oneSided.toSeq.sorted.mkString(", ")} present in only one " +
              s"of $a/$b — their original write crashed between the two " +
              "table appends; replay those batch ids first, then rerun " +
              "markLegacyCommitted (stamping them now would bake in the " +
              "silent under-drop the markers exist to prevent)")
          val sound = sa.intersect(sb)
          if (ProbeRankTables(a) && sound.nonEmpty) {
            val rankless = sound.toSeq.sorted.filterNot { bt =>
              // a footerless (empty) batch partition holds no rows to
              // mis-rank — rank-verified vacuously; reading it through
              // spark.read would throw an unrelated schema-inference
              // error instead of the rank diagnostic below
              val part = new org.apache.hadoop.fs.Path(s"$indexDir/$a/batch=$bt")
              val hasData = fs.listStatus(part).exists(f =>
                f.isFile && f.getLen > 0 && {
                  val n = f.getPath.getName
                  !n.startsWith("_") && !n.startsWith(".")
                })
              !hasData || spark.read.parquet(s"$indexDir/$a/batch=$bt")
                .schema.fieldNames.contains("rank")
            }
            require(rankless.isEmpty,
              s"legacy index at $indexDir predates the stored rank column: " +
                s"$a batch(es) ${rankless.mkString(", ")} hold no 'rank' " +
                "field — read through the declared schema they rank NULL, " +
                "the representative filter excludes every indexed doc, and " +
                "probes silently keep all duplicates; rebuild those batches " +
                "(replay their ids), then rerun markLegacyCommitted")
          }
          sound.foreach(bt => mark(spark, indexDir, bt))
      }
    }
  }
}

/** Signature parameters BAKE INTO a persisted index (shingle size and
  * band count shape `band_key`; `dim`/`planes` shape `bucket`): probing
  * with different parameters than the index was built with silently
  * matches nothing. Every index records its parameters in a
  * `_graft_meta` file on first write; later batches must present the
  * same values or fail loudly. A parameter migration in flight leaves a
  * `_graft_rebucket_inprogress` marker that blocks probes until the
  * (idempotent) migration is rerun to completion.
  */
private[graft] object IndexMeta {
  private val MetaFile = "_graft_meta"
  private val Migrating = "_graft_rebucket_inprogress"

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def read(spark: SparkSession, indexDir: String): Option[Map[String, String]] = {
    val fs = fsOf(spark, indexDir)
    val p = new org.apache.hadoop.fs.Path(indexDir, MetaFile)
    if (!fs.isFile(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").iterator.map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap)
    }
  }

  /** Atomic publish: the meta file is [[promoteBase]]'s COMMIT POINT, so
    * it is written to a temp name and renamed over `_graft_meta` (rename
    * with OVERWRITE — atomic on HDFS and posix) — an in-place truncating
    * create would leave an empty/partial meta on a mid-write crash,
    * silently un-pinning the parameters or orphaning `base_upto`.
    */
  def write(spark: SparkSession, indexDir: String, meta: Map[String, String]): Unit = {
    val fs = fsOf(spark, indexDir)
    val tmp = new org.apache.hadoop.fs.Path(indexDir, MetaFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(meta.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new org.apache.hadoop.fs.Path(indexDir, MetaFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Index table dirs either twin may have written — used to tell "fresh
    * index" from "legacy index that predates the meta file".
    */
  private val TableDirs = Seq("bands", "shingles", "buckets", "vectors")

  /** First writer records the parameters; later callers must match.
    *
    * A no-meta dir that already HOLDS index data is refused, not adopted:
    * it predates the meta file (and possibly the stored `rank` column —
    * reading such an index with the declared schema yields NULL ranks, so
    * the `rank <= maxReps` representative filter would silently exclude
    * every previously-indexed doc and KEEP its duplicates). Stamping
    * fresh meta over it would defeat the pin's whole purpose; rebuild the
    * index from the corpus instead (MIGRATION.md).
    */
  def ensure(spark: SparkSession, indexDir: String,
      expected: Map[String, String], hint: String): Unit =
    read(spark, indexDir) match {
      case None =>
        val fs = fsOf(spark, indexDir)
        val legacy = TableDirs.map(new org.apache.hadoop.fs.Path(indexDir, _))
          .filter(p => fs.exists(p) && fs.listStatus(p).nonEmpty)
        require(legacy.isEmpty,
          s"index at $indexDir holds data (${legacy.map(_.getName).mkString(", ")}) " +
            "but no _graft_meta — a pre-meta legacy index may lack the stored " +
            "rank column and would silently match nothing; rebuild it " +
            "(MIGRATION.md) instead of adopting it")
        write(spark, indexDir, expected)
      case Some(m) => requireMatch(indexDir, m, expected, hint)
    }

  /** The parameter pin itself, shared by [[ensure]] and the READ-ONLY
    * probes. Every expected key must be PRESENT in the stored meta, not
    * merely non-conflicting: a meta written by the OTHER index twin (or a
    * pre-parameter layout) holds none of this caller's keys, and a
    * get-or-default comparison would pass vacuously — the probe would
    * then read empty tables and silently keep the entire batch, the exact
    * silent-match-nothing failure this pin exists to refuse.
    */
  def requireMatch(indexDir: String, meta: Map[String, String],
      expected: Map[String, String], hint: String): Unit = {
    val missing = expected.keys.filterNot(meta.contains).toSeq.sorted
    require(missing.isEmpty,
      s"index meta at $indexDir lacks ${missing.mkString(", ")} — the dir " +
        "was built by a different index type (or a pre-parameter layout); " +
        hint)
    val diff = expected.filter { case (k, v) => !meta.get(k).contains(v) }
    require(diff.isEmpty,
      s"index at $indexDir was built with ${meta.view.filterKeys(expected.contains).toMap}, " +
        s"this call presented $expected — $hint")
  }

  def requireNoMigration(spark: SparkSession, indexDir: String): Unit =
    require(!fsOf(spark, indexDir)
      .isFile(new org.apache.hadoop.fs.Path(indexDir, Migrating)),
      s"index at $indexDir has an unfinished parameter migration — " +
        "rerun rebucket() to completion before probing")

  /** Probe-side migration gate: the r18 STAGED rebucket never touches a
    * live partition during its data phase (its marker carries
    * `staged=1`), so a READ-ONLY probe keeps serving the pre-migration
    * state while the migration runs. It refuses only:
    *  - the short SWAP phase — the `<table>__rebucket_commit` marker is
    *    up exactly while live partitions are being replaced (metadata
    *    ops; sub-second, vs minutes-to-hours for the data rewrite the
    *    probe now serves through), or after a crash there; and
    *  - a LEGACY migration's EMPTY marker — the pre-r18 rebucket
    *    rewrote partitions in place, so a crash under that protocol
    *    leaves mixed bucket spaces that must never be served.
    * Writers keep refusing on ANY marker ([[requireNoMigration]]): an
    * append mid-migration would land old-plane rows the staged rewrite
    * never sees.
    */
  def requireServableMigration(spark: SparkSession, indexDir: String,
      table: String): Unit = {
    val fs = fsOf(spark, indexDir)
    require(!fs.isFile(new org.apache.hadoop.fs.Path(indexDir,
        s"${table}__rebucket_commit")),
      s"index at $indexDir is mid-SWAP in a parameter migration (live " +
        "partitions being replaced) — rerun rebucket() to finish the " +
        "swap, then probe")
    val m = new org.apache.hadoop.fs.Path(indexDir, Migrating)
    if (fs.isFile(m)) {
      val buf = new Array[Byte](fs.getFileStatus(m).getLen.toInt)
      val in = fs.open(m)
      try in.readFully(0, buf) finally in.close()
      require(new String(buf, java.nio.charset.StandardCharsets.UTF_8)
          .contains("staged=1"),
        s"index at $indexDir has an unfinished PRE-r18 in-place " +
          "migration — its partitions may mix bucket spaces; rerun " +
          "rebucket() to completion before probing")
    }
  }

  /** `staged=1` marks the r18 protocol: the data phase writes ONLY to a
    * staging tree, so probes may keep serving ([[requireServableMigration]]).
    * A legacy empty marker (pre-r18 in-place rewrite) refuses probes.
    */
  def setMigrating(spark: SparkSession, indexDir: String): Unit = {
    val out = fsOf(spark, indexDir)
      .create(new org.apache.hadoop.fs.Path(indexDir, Migrating), true)
    try out.write("staged=1"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def clearMigrating(spark: SparkSession, indexDir: String): Unit =
    fsOf(spark, indexDir)
      .delete(new org.apache.hadoop.fs.Path(indexDir, Migrating), false)
}

/** The SWAP-GENERATION token that closes the probe-vs-maintenance
  * planning race. A read-only probe builds its table frames (each
  * `spark.read.parquet` / `spark.table` freezes a file listing) between
  * two checks of the index's swap state; a maintenance swap bumps the
  * generation BEFORE its first live mutation. The invariant this buys:
  * every probe either serves a CONSISTENT snapshot or fails LOUDLY —
  *
  *  - probe entirely before the bump: listings untouched at listing
  *    time; files a later swap deletes fail the read loudly
  *    (FileNotFound — why `ignoreMissingFiles` must stay off);
  *  - probe straddling the bump: the post-listing re-check sees the
  *    generation (or a marker) changed and refuses with a RETRY
  *    message — this is the window that could otherwise list half-old/
  *    half-new partitions and silently serve mixed state (measured
  *    once as a wrong answer by `IncrEnvelope rebucket_serving` before
  *    this guard existed);
  *  - probe entirely after the bump: the swap markers are up, so it
  *    takes the marker-aware path (compaction: the immutable staged
  *    copy; rebucket: refuse until the sub-second swap ends) — immune.
  *
  * The token is monotonic (a nonce rewritten via the atomic-rename
  * discipline), so a COMPLETE swap landing inside one probe's window is
  * also caught — marker presence alone would look unchanged.
  */
private[graft] object SwapGen {
  private val GenFile = "_graft_swapgen"

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def read(spark: SparkSession, indexDir: String): String = {
    val fs = fsOf(spark, indexDir)
    val p = new org.apache.hadoop.fs.Path(indexDir, GenFile)
    if (!fs.isFile(p)) ""
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Called by every maintenance op BEFORE its first live mutation. */
  def bump(spark: SparkSession, indexDir: String): Unit = {
    val fs = fsOf(spark, indexDir)
    val tmp = new org.apache.hadoop.fs.Path(indexDir, GenFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new org.apache.hadoop.fs.Path(indexDir, GenFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Post-listing re-check: the probe's frames are consistent iff no
    * swap bumped the generation while they were being built.
    */
  def requireUnchanged(spark: SparkSession, indexDir: String,
      before: String): Unit =
    require(read(spark, indexDir) == before,
      s"a maintenance swap at $indexDir raced this probe's planning — " +
        "the file listings may mix pre- and post-swap state; RETRY the " +
        "probe (the new state is complete and will serve)")
}

/** Bounded INTERNAL retry for the READ-ONLY probes (r19). The
  * serve-through protocol has exactly two loud retryable transients —
  *
  *  - a swap refusal at planning time: a maintenance swap raced the
  *    probe's listings ([[SwapGen.requireUnchanged]]) or the probe
  *    landed inside a rebucket's sub-second metadata window
  *    ([[IndexMeta.requireServableMigration]]'s mid-SWAP branch);
  *  - a FileNotFound at execution time: the probe's frozen file listing
  *    outlived a swap's post-commit rename (why `ignoreMissingFiles`
  *    stays OFF — silently dropping those rows would under-drop).
  *
  * Both mean "the post-swap state is complete — re-plan and it serves",
  * so the probe retries internally with fresh token reads and fresh
  * listings instead of making every caller know the protocol exists.
  * Bounded and loud-on-exhaustion: the swap windows measure 0.05–0.07 s
  * ([[graft.tools.IncrEnvelope]] `rebucket_serving`), so a few short
  * sleeps cover a healthy swap, while a PERSISTENT refusal — a crashed
  * swap awaiting its heal, legacy migration debris — still surfaces
  * after the budget. Non-protocol failures are never retried.
  */
private[graft] object ProbeRetry {
  private val MaxAttempts = 4

  /** Process-wide count of transients absorbed (retried) so far —
    * observability for the serving measurements: "client failures 0"
    * can mean the retry absorbed the swap windows OR that no probe
    * ever landed in one; the delta of this counter across a run tells
    * which. Monotonic; read it before/after and subtract.
    */
  private val absorbedCount = new java.util.concurrent.atomic.AtomicLong(0)
  def absorbed: Long = absorbedCount.get()

  /** The protocol's OWN refusal diagnostics — always a swap transient. */
  private def isProtocolRefusal(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12).exists { c =>
      val m = Option(c.getMessage).getOrElse("")
      m.contains("raced this probe") || m.contains("mid-SWAP")
    }

  /** A missing-file shape (FNF class, or Spark's planning-time wrap of
    * one). On its own this is AMBIGUOUS: a frozen listing outliving a
    * swap's rename produces it, but so does probing a never-built or
    * mistyped indexDir — a STABLE state that must refuse on the first
    * attempt, not after four sleeps that also inflate the absorbed
    * counter the serving measurements report. [[retry]] disambiguates
    * with a live root-existence check.
    */
  private def isMissingFileShape(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12).exists { c =>
      val m = Option(c.getMessage).getOrElse("")
      c.isInstanceOf[java.io.FileNotFoundException] ||
        m.contains("FileNotFoundException") ||
        m.contains("does not exist") ||
        m.contains("PATH_NOT_FOUND")
    }

  def isTransient(t: Throwable): Boolean =
    isProtocolRefusal(t) || isMissingFileShape(t)

  def retry[T](spark: SparkSession, indexDir: String, what: String)
      (attempt: => T): T = {
    def transient(t: Throwable): Boolean =
      isProtocolRefusal(t) || (isMissingFileShape(t) && {
        // a swap transient's missing file lives UNDER a real index; if
        // the index root itself is absent the failure is stable (never
        // built, mistyped path) — surface it loudly now
        val p = new org.apache.hadoop.fs.Path(indexDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      })
    var n = 0
    while (true) {
      n += 1
      try return attempt
      catch {
        case t: Throwable if n < MaxAttempts && transient(t) =>
          absorbedCount.incrementAndGet()
          Thread.sleep(60L * n)
      }
    }
    sys.error("unreachable")
  }
}

/** Shared batch-partition compaction for the incremental dedup indexes:
  * rewrite every partition `batch < uptoExclusive` (including a previous
  * `batch=-1` base) as ONE `batch=-1` partition, swapped in by rename.
  *
  * Crash safety: the staged base is written first, then a COMMIT MARKER
  * (`<table>__compact_commit`, holding `uptoExclusive`) is created, and
  * only then are the folded partitions deleted and the staging renamed
  * in. The marker's presence means "the staged copy is complete and the
  * swap began" — [[healIfNeeded]] (run by every index read and by the
  * next compaction) FINISHES the swap deterministically instead of
  * letting a half-deleted index serve under-counted probes silently.
  * A crash before the marker leaves only ignorable staging garbage.
  *
  * Output sizing: the compacted base targets ~`targetFileBytes` per file
  * (computed from the folded partitions' byte size), not a fixed file
  * count — a TB-scale base as 4 parquet files is both a write bottleneck
  * and a read-parallelism floor (the exact unsplittable-input failure
  * mode the r14 ScaleGen root-cause found).
  */
private[graft] object IndexCompaction {

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  private def foldable(fs: org.apache.hadoop.fs.FileSystem, root: String,
      uptoExclusive: Int): Array[org.apache.hadoop.fs.Path] =
    fs.listStatus(hp(root)).map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("batch=") &&
        n.stripPrefix("batch=").toIntOption.exists(_ < uptoExclusive)
    }

  /** Snapshot-mode (READ-ONLY) raw read of one index table that serves
    * THROUGH a pending compaction swap instead of refusing it — a
    * continuously-serving gate must not go dark for the duration of its
    * index's maintenance. A probe must still never MUTATE the index (it
    * may run against a read-only mount), so nothing is healed here; the
    * swap state is simply read around:
    *
    *  - commit marker + staging present (swap in flight, or crashed
    *    mid-swap): the marker's contract is "the staged copy is
    *    COMPLETE", so the staged base IS the folded content — read it as
    *    `batch = -1`, and read the untouched tail partitions
    *    (`batch >= uptoExclusive`) by EXPLICIT path so the folded
    *    partitions the compactor is concurrently deleting are never
    *    listed or planned. The served rows equal the pre-swap committed
    *    content exactly (compaction is content-preserving).
    *  - marker without staging: the publish rename already happened and
    *    only the marker delete is pending — the table is whole, read it
    *    normally.
    *  - no marker: the normal partitioned read.
    *
    * This is the committed-prefix availability move one level up: state-
    * level race-free (every served state is a complete committed copy —
    * never a mixed or half-deleted one) under a single live compactor.
    * Residual: a probe PLANNED in the instant the commit rename lands
    * can hit a transient FileNotFound on the staging path — loud and
    * retryable, never silently wrong (which is also why
    * `spark.sql.files.ignoreMissingFiles` must stay off: it would turn
    * that transient into silently dropped index rows, i.e. an
    * under-dropping gate). Returns the raw frame including the `batch`
    * column; the caller applies its replay/committed filters.
    */
  def servableParquet(spark: SparkSession, indexDir: String, table: String,
      schemaDdl: String): DataFrame = {
    val root = s"$indexDir/$table"
    val fs = hp(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(s"$schemaDdl, batch int"))
    val marker = hp(s"${root}__compact_commit")
    val staging = hp(s"${root}__compact_staging")
    if (fs.exists(marker) && fs.exists(staging)) {
      val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
      val in = fs.open(marker)
      try in.readFully(0, buf) finally in.close()
      val upto = new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      val keep =
        if (!fs.exists(hp(root))) Array.empty[String]
        else fs.listStatus(hp(root)).map(_.getPath).filter { p =>
          val n = p.getName
          n.startsWith("batch=") &&
            n.stripPrefix("batch=").toIntOption.exists(_ >= upto)
        }.map(_.toString)
      val tail =
        if (keep.isEmpty) empty
        else spark.read.schema(s"$schemaDdl, batch int")
          .option("basePath", root).parquet(keep.toIndexedSeq: _*)
      spark.read.schema(schemaDdl).parquet(staging.toString)
        .withColumn("batch", lit(-1)).unionByName(tail)
    } else if (!fs.exists(hp(root))) empty
    else spark.read.schema(s"$schemaDdl, batch int").parquet(root)
  }

  /** Finish a crashed compaction swap: marker present ⇒ the staged base is
    * complete — delete any remaining folded partitions, publish the
    * staging, drop the marker. Marker present but staging absent ⇒ the
    * final rename already happened; just drop the marker. Idempotent;
    * no-op when no marker exists. Compaction is an OFFLINE op, so a
    * surviving marker always denotes a dead compactor, never a live one.
    */
  def healIfNeeded(spark: SparkSession, indexDir: String, table: String): Unit = {
    val root = s"$indexDir/$table"
    val fs = hp(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = hp(s"${root}__compact_commit")
    if (!fs.exists(marker)) return
    val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
    val in = fs.open(marker)
    try in.readFully(0, buf) finally in.close()
    val upto = new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    val staging = hp(s"${root}__compact_staging")
    SwapGen.bump(spark, indexDir) // before the first live mutation
    if (fs.exists(staging)) {
      foldable(fs, root, upto).foreach(p => fs.delete(p, true))
      if (!fs.rename(staging, hp(s"$root/batch=-1")))
        throw new java.io.IOException(
          s"could not publish recovered compaction $staging")
    }
    fs.delete(marker, false)
  }

  def compact(spark: SparkSession, indexDir: String, table: String,
      schemaDdl: String, uptoExclusive: Int, clusterBy: String,
      targetFileBytes: Long = 256L << 20): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be > 0")
    val root = s"$indexDir/$table"
    val fs = hp(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp(root))) return
    healIfNeeded(spark, indexDir, table) // finish any crashed predecessor
    val staging = hp(s"${root}__compact_staging")
    fs.delete(staging, true)
    val olds = foldable(fs, root, uptoExclusive)
    if (olds.isEmpty) return
    // size the output from the folded bytes: ~targetFileBytes per file
    // (input bytes over-estimate the clustered+compressed output, which
    // errs toward MORE files — the safe direction for read parallelism)
    val bytes = olds.map(p => fs.getContentSummary(p).getLength).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val folded = spark.read.schema(s"$schemaDdl, batch int").parquet(root)
      .filter(col("batch") < uptoExclusive).drop("batch")
    // cluster the base by its probe key: rows for one key land in one
    // file, sorted — parquet min/max row-group stats (and Spark's runtime
    // bloom filters on the probe join) can then skip most of the base,
    // and same-key runs compress better. Also the file-count shrink that
    // is compaction's whole point.
    folded.repartition(nFiles, col(clusterBy)).sortWithinPartitions(clusterBy)
      .write.mode("overwrite").parquet(staging.toString)
    // commit point: marker after the staging write, before any delete —
    // everything past this line is re-runnable from the marker alone.
    // ORDER (r19): the marker is created BEFORE the generation bump.
    // A probe that reads the token post-bump is then GUARANTEED to see
    // the marker and take the staged (complete-copy) path; the old
    // bump-first order left a (bump, marker-create) gap where a probe
    // could read the post-bump token, miss the marker, freeze a listing
    // mid-delete, and still pass its re-check — silently serving
    // missing folded rows. The bump still precedes the first live
    // mutation (the deletes below), so a probe that read the token
    // earlier refuses-and-retries ([[SwapGen]]).
    val out = fs.create(hp(s"${root}__compact_commit"), true)
    try out.write(uptoExclusive.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    SwapGen.bump(spark, indexDir)
    olds.foreach(p => fs.delete(p, true))
    if (!fs.rename(staging, hp(s"$root/batch=-1")))
      throw new java.io.IOException(
        s"could not publish $staging — rerun compact() to recover")
    fs.delete(hp(s"${root}__compact_commit"), false)
  }
}

/** The EMBEDDING twin of [[IncrementalDedup]]: a persisted RP-LSH bucket
  * index plus the verification vectors, maintained batch by batch — dedup
  * a new crawl's embeddings against everything seen without re-reading or
  * re-projecting the corpus. Same contract, vector semantics: first-seen
  * drop policy over floored-cosine ≥ `minCos` against the bucket's RANK
  * REPRESENTATIVES (its `maxReps` earliest members), which under
  * id-ordered batches equals [[Similarity.dropEmbeddingNearDups]]'s
  * one-pass policy EXACTLY and UNCONDITIONALLY — representative sets are
  * prefix-stable, so each row's bucket rank is computed once at append
  * time and stored (no occupancy precondition; the pre-r15 skip-cap's
  * equality caveat is gone, and dense duplicate clusters actually dedup).
  *
  * Index layout under `indexDir`:
  *  - `buckets/batch=N` — (id, bucket, rank): the RP-LSH probe index;
  *    `rank` is the row's final position in its bucket by id order —
  *    probes filter `rank <= maxReps` instead of re-ranking the index
  *  - `vectors/batch=N` — (id, v, nrm): double vectors + norms for the
  *    floored-cosine verification (at 100 TB store int8-quantized vectors
  *    — the [[Ivf]] discipline — for an ~8× index cut; doubles here keep
  *    the DuckDB oracle bit-exact)
  */
object IncrementalEmbeddingDedup {

  private val BucketsT = "buckets"
  private val VectorsT = "vectors"

  // planes CAN migrate in place (rebucket recomputes buckets from the
  // stored vectors); dim/quantized shape the stored vectors themselves,
  // so changing those is rebuild-only
  private val EmbMigrateHint =
    "rebucket() migrates planes in place from the stored vectors; " +
      "dim/quantized changes need a rebuild (MIGRATION.md)"

  /** Quantized indexes store int8 codes (`array<tinyint>`) — the ~5-8×
    * representation cut; probe-time verification casts back to doubles
    * (same integer values, so the arithmetic is unchanged).
    */
  private def vectorsDdl(quantized: Boolean): String =
    if (quantized) "id bigint, v array<tinyint>, nrm double"
    else "id bigint, v array<double>, nrm double"

  /** Same two-mode read as [[IncrementalDedup]]'s: writing reads heal +
    * refuse uncommitted; READ-ONLY reads (`committed = Some(snapshot)`)
    * serve exactly the committed prefix and refuse to heal.
    */
  private def readIndex(spark: SparkSession, indexDir: String, table: String,
      batchId: Int, schemaDdl: String,
      committed: Option[Set[Int]] = None): DataFrame = {
    committed match {
      case None =>
        IndexCompaction.healIfNeeded(spark, indexDir, table)
        BatchCommits.requireCommitted(spark, indexDir, table, batchId)
        val path = s"$indexDir/$table"
        val exists = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(path))
        if (!exists)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(s"$schemaDdl, batch int"))
        else spark.read.schema(s"$schemaDdl, batch int").parquet(path)
          .filter(col("batch") < batchId)
      case Some(set) =>
        BatchCommits.requireCommittedPrefix(spark, indexDir, table)
        IndexCompaction.servableParquet(spark, indexDir, table, schemaDdl)
          .filter(col("batch") < batchId)
          .filter(col("batch") < 0 ||
            col("batch").isin(set.toSeq.sorted.map(Int.box): _*))
    }
  }

  /** Process one embedding batch against the index at `indexDir`: returns
    * the KEPT rows of `batch` and appends the batch's buckets + vectors.
    * Replaying a `batchId` overwrites its own partitions (idempotent).
    *
    * `eagerResult = false` returns the kept frame LAZY (appends + commit
    * still happen eagerly before returning) — the single-shot-consumer
    * form, same contract as the text twin's [[IncrementalDedup.addBatch]].
    */
  def addBatch(spark: SparkSession, indexDir: String, batch: DataFrame,
      vecCol: String, idCol: String, batchId: Int, dim: Int,
      planes: Int = 8, minCos: Double = 0.6, maxReps: Int = 1000,
      quantized: Boolean = false, eagerResult: Boolean = true): DataFrame = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    IndexMeta.requireNoMigration(spark, indexDir)
    // dim, planes and the quantized layout all shape what the index
    // stores — pinned on first write; size planes for the EXPECTED corpus
    // via Similarity.planesFor and migrate with [[rebucket]] when the
    // estimate was wrong
    IndexMeta.ensure(spark, indexDir,
      Map("dim" -> dim.toString, "planes" -> planes.toString,
        "quantized" -> quantized.toString), EmbMigrateHint)

    // views BEFORE this batch's own appends (requireCommitted must refuse
    // a crashed earlier batch before we append past it)
    val vBuckets = IndexBase.view(spark, indexDir, "buckets_table", batchId,
      readIndex(spark, indexDir, BucketsT, batchId,
        "id bigint, bucket bigint, rank bigint"))
    val vVecs0 = IndexBase.view(spark, indexDir, "vectors_table", batchId,
      readIndex(spark, indexDir, VectorsT, batchId, vectorsDdl(quantized)))
    // normalize stored codes back to doubles so the verification math is
    // one shape (identical integer values either way)
    val vVecs =
      if (!quantized) vVecs0
      else IndexView(
        vVecs0.base.map(_.withColumn("v", col("v").cast("array<double>"))),
        vVecs0.delta.withColumn("v", col("v").cast("array<double>")))

    // quantized mode: bucket AND verify on the int8 codes (scales cancel
    // in the cosine — Similarity.dropEmbeddingNearDupsQuantized), so the
    // stored representation is self-consistent
    val (batchV, vcol) =
      if (!quantized) (batch, vecCol)
      else {
        val q = Similarity.quantizeInt8(batch, idCol, vecCol)
          .select(col(idCol), col("qvec").cast("array<double>").as("__qv"))
        (batch.select(col(idCol)).join(q, Seq(idCol)), "__qv")
      }
    // r22: write-then-read-back staging (guide §1.2 fewer passes): the ONE
    // batch scan (quantize + norm + bucket) lands DIRECTLY in the vectors
    // partition, with the bucket riding as a staged extra column `bucket`
    // (8 bytes/row; readers declare (id, v, nrm) and prune it, and
    // compaction/promotion rewrite through the declared schema and drop
    // it — note it is the bucket under the planes in force at append
    // time, stale after a [[rebucket]], which is fine because only this
    // call's own read-back ever reads it). The r21 shape checkpointed the
    // same bytes and then re-read the checkpoint to append them.
    val sc = spark.sparkContext
    val storedV =
      if (quantized) col("v").cast("array<tinyint>").as("v") else col("v")
    Lineage.keepingJobDescription(sc) {
      sc.setJobDescription(s"incr-emb b=$batchId: stage+append vectors")
      Similarity.bucketedBase(batchV, idCol, vcol, dim, planes)
        .select(col(idCol).cast("long").as("id"), storedV,
          col("n").as("nrm"), col("bucket"))
        .write.mode("overwrite").parquet(s"$indexDir/$VectorsT/batch=$batchId")
      // read-back with the explicit staged schema (an empty batch may write
      // a footerless partition, which schema inference would refuse); codes
      // cast back to doubles — same integer values
      val baseB0 = spark.read.schema(vectorsDdl(quantized) + ", bucket bigint")
        .parquet(s"$indexDir/$VectorsT/batch=$batchId")
      val baseB =
        if (!quantized) baseB0
        else baseB0.withColumn("v", col("v").cast("array<double>"))

      // prior member count per touched bucket (per-leg, zero-exchange on a
      // promoted base) — the offset that turns a batch-local rank into the
      // row's FINAL rank in its bucket. left_semi ignores right-side
      // duplicates (no .distinct() exchange on the prune set), and the
      // plain path has exactly one leg, so its per-leg count IS the prior
      // count (the outer re-aggregation was an identity exchange).
      val touched = baseB.select("bucket")
      val legCnt = (s: DataFrame) =>
        s.join(touched, Seq("bucket"), "left_semi")
          .groupBy("bucket").agg(count(lit(1)).as("n_prior"))
      val priorCnt = vBuckets.base match {
        case Some(_) => vBuckets.over(s =>
            legCnt(s).withColumnRenamed("n_prior", "n_leg"))
          .groupBy("bucket").agg(sum("n_leg").as("n_prior"))
        case None => legCnt(vBuckets.delta.drop("batch"))
      }

      // bucket ranks are PREFIX-STABLE under id-ordered batches: the K
      // earliest members of a bucket never change as higher ids arrive, so
      // each row's rank is computed ONCE (batch window + prior offset) and
      // written STRAIGHT to the buckets partition (r22: one job; the r21
      // shape checkpointed the ranked frame first and re-read it to append)
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("id")
      sc.setJobDescription(s"incr-emb b=$batchId: rank+append buckets")
      baseB.join(priorCnt, Seq("bucket"), "left")
        .withColumn("rank",
          (row_number().over(wB) + coalesce(col("n_prior"), lit(0L))).cast("long"))
        .select(col("id"), col("bucket"), col("rank"))
        .write.mode("overwrite").parquet(s"$indexDir/$BucketsT/batch=$batchId")
      // both appends are on disk — the batch COMMITS here (same crash
      // contract as before: a half-write refuses loudly until replayed)
      BatchCommits.mark(spark, indexDir, batchId)
      val rankedB = spark.read.schema("id bigint, bucket bigint, rank bigint")
        .parquet(s"$indexDir/$BucketsT/batch=$batchId")

      // REPRESENTATIVE panel with vectors: index reps come from a pushed
      // `rank <= maxReps` filter semi-pruned to touched buckets (≤ maxReps
      // rows per touched bucket — never the raw bucket), their vectors
      // fetched leg-aligned (a batch partition writes both tables, and
      // promoteBase folds both at one boundary, so a rep's vector is always
      // in the SAME leg); intra reps are the just-written batch partition
      // read back through the SAME leg shape — the batch IS a leg now
      def legRepVecs(b: DataFrame, v: DataFrame): DataFrame =
        b.filter(col("rank") <= maxReps)
          .join(touched, Seq("bucket"), "left_semi")
          .select(col("bucket"), col("id"))
          .join(v.select(col("id"), col("v"), col("nrm")), Seq("id"))
          .select(col("bucket").as("bucket2"), col("id").as("neighbor_id"),
            col("v").as("cv"), col("nrm").as("cn"))
      val idxRepVecs = (vBuckets.base, vVecs.base) match {
        case (Some(bb), Some(vb)) => legRepVecs(bb, vb).unionByName(
          legRepVecs(vBuckets.delta.drop("batch"), vVecs.delta.drop("batch")))
        case _ =>
          legRepVecs(vBuckets.delta.drop("batch"), vVecs.delta.drop("batch"))
      }
      val repVecs = idxRepVecs.unionByName(legRepVecs(rankedB, baseB))

      // the drop test is a LEFT SEMI with the cosine in the join condition —
      // a duplicate short-circuits at its first matching representative
      // (usually rep 1 of a dense cluster) instead of materializing the
      // candidate pair set (the [[Similarity.dropEmbeddingNearDups]] shape;
      // materializing pairs measured 3.3× slower at the 100× envelope).
      // The probe side needs no rank — only the panel filters on it.
      val dropped = baseB
        .select(col("id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
        .join(repVecs,
          col("bucket") === col("bucket2") && col("neighbor_id") < col("id") &&
            Text.floor6(Similarity.candCos) >= lit(minCos), "left_semi")
        .select(col("id"))

      val kept = batch.join(dropped.select(col("id").cast("long").as(idCol)),
        Seq(idCol), "left_anti")
      sc.setJobDescription(s"incr-emb b=$batchId: kept")
      if (eagerResult) Lineage.materialize(kept) else kept
    }
  }

  /** [[addBatch]] with the plane count sized automatically: the FIRST
    * write derives it from `expectedCorpusRows` via
    * [[Similarity.planesFor]] (and the meta pin makes it permanent);
    * every later batch reads the pinned value back from the index meta,
    * so callers never re-supply — or mis-supply — it. The expectation
    * should be the corpus the index will EVENTUALLY hold, not the first
    * batch: the meta pin makes a wrong default permanent until
    * [[rebucket]], which is exactly the failure this entry point exists
    * to prevent.
    */
  def addBatchAuto(spark: SparkSession, indexDir: String, batch: DataFrame,
      vecCol: String, idCol: String, batchId: Int, dim: Int,
      expectedCorpusRows: Long, targetBucket: Int = 100,
      minCos: Double = 0.6, maxReps: Int = 1000,
      quantized: Boolean = false): DataFrame = {
    val planes = IndexMeta.read(spark, indexDir)
      .flatMap(_.get("planes")).map(_.toInt)
      .getOrElse(Similarity.planesFor(expectedCorpusRows, targetBucket))
    addBatch(spark, indexDir, batch, vecCol, idCol, batchId, dim,
      planes, minCos, maxReps, quantized)
  }

  /** READ-ONLY probe — the embedding twin of [[IncrementalDedup.probe]]:
    * the rows of `batch` whose floored cosine stays below `minCos`
    * against every stored rank-representative of their RP-LSH bucket.
    * Nothing is written; the index is not mutated; no id-order condition
    * (cross-corpus semantics — id spaces independent). Partners come
    * from the STORED `rank <= maxReps` filter, pushed to the scan; the
    * drop test is the LEFT SEMI with the cosine in the join condition
    * (first matching representative short-circuits). The index must
    * exist and its baked parameters must match — and be PRESENT in the
    * meta (a vacuous pass against the other twin's meta would silently
    * keep everything). Like the text probe, it serves the last COMMITTED
    * batch prefix (one [[BatchCommits.snapshot]] bounds both table
    * reads), so the gate stays available while a single writer is
    * mid-[[addBatch]]; a pending compaction swap refuses rather than
    * heals.
    */
  def probe(spark: SparkSession, indexDir: String, batch: DataFrame,
      vecCol: String, idCol: String, dim: Int, planes: Int = 8,
      minCos: Double = 0.6, maxReps: Int = 1000,
      quantized: Boolean = false, eagerResult: Boolean = true): DataFrame =
    // the two loud swap transients retry INTERNALLY ([[ProbeRetry]]) —
    // a healthy maintenance swap costs callers zero failed probes.
    // `eagerResult = false` is the single-shot lazy variant (see the
    // text twin's doc): no materialization, nothing for the caller to
    // release — for the oracle/bench path with no concurrent swaps.
    ProbeRetry.retry(spark, indexDir, "embedding-index probe") {
      probeOnce(spark, indexDir, batch, vecCol, idCol, dim, planes,
        minCos, maxReps, quantized, eagerResult)
    }

  private def probeOnce(spark: SparkSession, indexDir: String, batch: DataFrame,
      vecCol: String, idCol: String, dim: Int, planes: Int,
      minCos: Double, maxReps: Int, quantized: Boolean,
      eagerResult: Boolean): DataFrame = {
    // the swap token is read FIRST (r19) — before the migration check,
    // the parameter pin, and the batch-side materialize. A rebucket
    // swap that started and completed entirely inside that span used
    // to serve the NEW bucket table against this probe's OLD-plane
    // batch hashing (bucket keys disagree → nothing matches → every
    // duplicate kept) with the late-read token passing the re-check
    // vacuously — caught as wrong=1 by `IncrEnvelope rebucket_serving`
    // at sf0.1, where the swap is fast relative to probe planning.
    // Token-first, any swap after this line fails requireUnchanged →
    // RETRY; a swap entirely before it is the served cutover (the
    // parameter pin then refuses loudly with the migrate hint).
    val gen0 = SwapGen.read(spark, indexDir)
    // READ-ONLY: serves the pre-migration state through a staged
    // rebucket's data phase; refuses only its short swap window (or a
    // legacy in-place migration's debris)
    IndexMeta.requireServableMigration(spark, indexDir, BucketsT)
    val meta = IndexMeta.read(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no index at $indexDir to probe — build one with addBatch first"))
    val expected = Map("dim" -> dim.toString, "planes" -> planes.toString,
      "quantized" -> quantized.toString)
    IndexMeta.requireMatch(indexDir, meta, expected, EmbMigrateHint)
    val (batchV, vcol) =
      if (!quantized) (batch, vecCol)
      else {
        val q = Similarity.quantizeInt8(batch, idCol, vecCol)
          .select(col(idCol), col("qvec").cast("array<double>").as("__qv"))
        (batch.select(col(idCol)).join(q, Seq(idCol)), "__qv")
      }
    // the batch's buckets+vectors feed the touched-bucket prune (per leg)
    // AND the drop join — materialize once, don't re-project per consumer
    // (the addBatch discipline). Lazy-result mode keeps it lazy: the
    // finally below must not release blocks the lazy result still reads.
    val baseB0 = Similarity.bucketedBase(batchV, idCol, vcol, dim, planes)
      .select(col(idCol).cast("long").as("id"), col("v"),
        col("n").as("nrm"), col("bucket"))
    val baseB = if (eagerResult) Lineage.materialize(baseB0) else baseB0
    try probeBody(spark, indexDir, batch, idCol, minCos, maxReps, quantized,
      baseB, gen0, eagerResult)
    finally Lineage.release(baseB)
  }

  /** The index-side half of [[probeOnce]], split out so the batch-side
    * cache (`baseB`) releases on EVERY exit — including the swap
    * transients [[ProbeRetry]] retries (the pre-r19 shape leaked it on
    * the throw path).
    */
  private def probeBody(spark: SparkSession, indexDir: String, batch: DataFrame,
      idCol: String, minCos: Double, maxReps: Int, quantized: Boolean,
      baseB: DataFrame, gen0: String, eagerResult: Boolean): DataFrame = {
    // gen0 was read at probeOnce's FIRST line — before the parameter
    // pin and every listing below (the committed snapshot included);
    // re-checked after all of them
    val committed = Some(BatchCommits.snapshot(spark, indexDir))
    val vBuckets = IndexBase.view(spark, indexDir, "buckets_table", Int.MaxValue,
      readIndex(spark, indexDir, BucketsT, Int.MaxValue,
        "id bigint, bucket bigint, rank bigint", committed))
    val vVecs0 = IndexBase.view(spark, indexDir, "vectors_table", Int.MaxValue,
      readIndex(spark, indexDir, VectorsT, Int.MaxValue, vectorsDdl(quantized),
        committed))
    // post-listing consistency check — see the text twin's probe
    SwapGen.requireUnchanged(spark, indexDir, gen0)
    val vVecs =
      if (!quantized) vVecs0
      else IndexView(
        vVecs0.base.map(_.withColumn("v", col("v").cast("array<double>"))),
        vVecs0.delta.withColumn("v", col("v").cast("array<double>")))
    val touched = baseB.select("bucket").distinct()
    def legRepVecs(b: DataFrame, v: DataFrame): DataFrame =
      b.filter(col("rank") <= maxReps)
        .join(touched, Seq("bucket"), "left_semi")
        .select(col("bucket"), col("id"))
        .join(v.select(col("id"), col("v"), col("nrm")), Seq("id"))
        .select(col("bucket").as("bucket2"), col("id").as("neighbor_id"),
          col("v").as("cv"), col("nrm").as("cn"))
    val repVecs = (vBuckets.base, vVecs.base) match {
      case (Some(bb), Some(vb)) => legRepVecs(bb, vb).unionByName(
        legRepVecs(vBuckets.delta.drop("batch"), vVecs.delta.drop("batch")))
      case _ =>
        legRepVecs(vBuckets.delta.drop("batch"), vVecs.delta.drop("batch"))
    }
    val dropped = baseB
      .select(col("id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
      .join(repVecs,
        col("bucket") === col("bucket2") &&
          Text.floor6(Similarity.candCos) >= lit(minCos), "left_semi")
      .select(col("id"))
    // eager: an execution-time frozen-listing FileNotFound must fire
    // inside [[ProbeRetry]]'s budget, not at the caller's first action
    // (baseB's release rides probeOnce's finally); lazy-result mode
    // skips it — single-shot, nothing concurrent, nothing to release
    val kept = batch.join(dropped.select(col("id").cast("long").as(idCol)),
      Seq(idCol), "left_anti")
    if (eagerResult) Lineage.materialize(kept) else kept
  }

  /** Occupancy audit of the persisted bucket index — READ-ONLY, so it
    * serves the COMMITTED prefix (uncommitted half-written batches never
    * inflate occupancy; stays available while a writer appends).
    */
  def indexBucketStats(spark: SparkSession, indexDir: String,
      maxBucket: Int = 1000): DataFrame =
    ProbeRetry.retry(spark, indexDir, "vec-bucket stats") {
    val gen0 = SwapGen.read(spark, indexDir)
    val v = IndexBase.view(spark, indexDir, "buckets_table", Int.MaxValue,
      readIndex(spark, indexDir, BucketsT, Int.MaxValue,
        "id bigint, bucket bigint",
        Some(BatchCommits.snapshot(spark, indexDir))))
    SwapGen.requireUnchanged(spark, indexDir, gen0)
    v.over(_.select("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(
        sum(when(col("n") <= maxBucket, 1L).otherwise(0L)).as("ok_buckets"),
        sum(when(col("n") > maxBucket, 1L).otherwise(0L)).as("hot_buckets"),
        max(col("n")).as("max_bucket"))
  }

  /** [[IncrementalDedup.promoteBase]] for the embedding index: buckets
    * table bucketed+sorted by `bucket`, vectors by `id` — the candidate
    * equi-join, occupancy count, and verification fetch all run with zero
    * Exchange on the index side once promoted.
    */
  def promoteBase(spark: SparkSession, indexDir: String,
      uptoExclusive: Int, buckets: Int = 32): Unit = {
    IndexMeta.requireNoMigration(spark, indexDir)
    // folding an uncommitted (half-written) batch into the base would
    // bake the under-drop in permanently — replay it first
    BatchCommits.requireCommitted(spark, indexDir, BucketsT, uptoExclusive)
    BatchCommits.requireCommitted(spark, indexDir, VectorsT, uptoExclusive)
    val meta = IndexMeta.read(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no index at $indexDir to promote"))
    val prev = meta.get("base_upto").map(_.toInt)
    if (prev.contains(uptoExclusive)) return // idempotent
    prev.foreach(p => require(uptoExclusive >= p,
      s"cannot promote to $uptoExclusive below the existing base boundary $p"))
    val prefix = IndexBase.tablePrefix(indexDir)
    val bktT = s"${prefix}_buckets_$uptoExclusive"
    val vecT = s"${prefix}_vectors_$uptoExclusive"
    IndexBase.promoteOne(spark, indexDir, BucketsT,
      "id bigint, bucket bigint, rank bigint",
      bucketKey = "bucket", sortCols = Seq("bucket", "rank"), buckets = buckets,
      prevTable = meta.get("buckets_table"), lower = prev,
      upto = uptoExclusive, tName = bktT)
    IndexBase.promoteOne(spark, indexDir, VectorsT,
      vectorsDdl(meta.get("quantized").contains("true")),
      bucketKey = "id", sortCols = Seq("id"), buckets = buckets,
      prevTable = meta.get("vectors_table"), lower = prev,
      upto = uptoExclusive, tName = vecT)
    IndexMeta.write(spark, indexDir, meta ++ Map(
      "base_upto" -> uptoExclusive.toString, "base_buckets" -> buckets.toString,
      "buckets_table" -> bktT, "vectors_table" -> vecT))
    SwapGen.bump(spark, indexDir) // see the text twin's promoteBase
    IndexBase.cleanupOne(spark, indexDir, BucketsT, meta.get("buckets_table"),
      prev, uptoExclusive, bktT)
    IndexBase.cleanupOne(spark, indexDir, VectorsT, meta.get("vectors_table"),
      prev, uptoExclusive, vecT)
    // folded batches can never be replayed — drop their markers
    BatchCommits.clearBelow(spark, indexDir, uptoExclusive)
  }

  /** Re-bucket the persisted index to `newPlanes` WITHOUT re-reading the
    * corpus: the vectors table already holds every embedding, so the
    * migration recomputes `bucket` from stored doubles partition by
    * partition — O(index), no text/embedding source touched. This is the
    * escape hatch for an under-sized bucket space discovered after the
    * fact ([[Similarity.planesFor]] is how to not need it): when
    * [[indexBucketStats]] shows hot buckets, migrate UP and the cap stops
    * thinning.
    *
    * A PROMOTED index migrates too: a NEW buckets base table is built
    * from the vectors base table (+ delta), at the recorded
    * `base_buckets` layout — no demote/re-promote dance. Buckets
    * partitions with no vectors twin (e.g. a crash between
    * [[compactIndex]]'s two folds left the tables at different
    * boundaries) are deleted at the swap: they hold only stale
    * old-plane rows, and surviving the rewrite they would serve
    * duplicate ids across mixed bucket spaces.
    *
    * STAGED, serve-through (r18): the data phase — the expensive part,
    * O(index) — writes ONLY to `buckets__rebucket_staging/` (and, when
    * promoted, a NEW versioned base table the meta does not yet
    * reference), so READ-ONLY probes keep serving the pre-migration
    * state throughout it ([[IndexMeta.requireServableMigration]]; the
    * `_graft_rebucket_inprogress` marker still blocks WRITERS — an
    * append mid-migration would land old-plane rows the staged rewrite
    * never sees). Once everything is staged, a
    * `buckets__rebucket_commit` marker (the staged-complete commit
    * point, recording the target planes and base-table names) opens
    * the SWAP phase — pure metadata ops: orphan cleanup, staged
    * partitions renamed in, meta updated (the serve cutover), old base
    * retired, markers cleared. Probes refuse only during that
    * sub-second window (or after a crash inside it, until the next
    * rebucket/heal finishes the swap — [[finishRebucketSwap]] is
    * idempotent and runs first on every rebucket call). A crash in the
    * data phase leaves the live index untouched and still serving.
    */
  def rebucket(spark: SparkSession, indexDir: String, newPlanes: Int): Unit = {
    // a crashed SWAP completes before anything else (idempotent no-op
    // when no commit marker exists); meta is read after, since a
    // finished swap updates it
    finishRebucketSwap(spark, indexDir)
    val meta = IndexMeta.read(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no index metadata at $indexDir — nothing to rebucket"))
    val dim = meta("dim").toInt
    val quantized = meta.get("quantized").contains("true")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vroot = new org.apache.hadoop.fs.Path(s"$indexDir/$VectorsT")
    if (meta("planes").toInt == newPlanes) {
      // meta is the swap's last data step, so a matching value means the
      // previous migration completed — a leftover marker (crash before
      // clear) is safe to drop here
      IndexMeta.clearMigrating(spark, indexDir)
      return
    }
    // a crashed compaction swap is finished first (the raw partition reads
    // below must see a whole table), and a batch whose addBatch crashed
    // between its two appends must be REPLAYED before migrating — the
    // swap's orphan cleanup would otherwise erase its half-written buckets
    // and with them the loud refusal to probe past it
    IndexCompaction.healIfNeeded(spark, indexDir, BucketsT)
    IndexCompaction.healIfNeeded(spark, indexDir, VectorsT)
    BatchCommits.requireCommitted(spark, indexDir, BucketsT, Int.MaxValue)
    BatchCommits.requireCommitted(spark, indexDir, VectorsT, Int.MaxValue)
    IndexMeta.setMigrating(spark, indexDir)
    val staging = new org.apache.hadoop.fs.Path(
      s"$indexDir/${BucketsT}__rebucket_staging")
    fs.delete(staging, true) // stale debris from a crashed data phase
    val baseUpto = meta.get("base_upto").map(_.toInt)
    val deltaLow = baseUpto.getOrElse(Int.MinValue)
    // vectors partitions are the source of truth for which batch
    // partitions exist; folded leftovers below a promoted boundary are
    // excluded (view() never serves them)
    val vParts =
      if (!fs.exists(vroot)) Seq.empty[String]
      else fs.listStatus(vroot).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("batch=") &&
          n.stripPrefix("batch=").toIntOption.exists(_ >= deltaLow))
    if (vParts.isEmpty && baseUpto.isEmpty) {
      // empty index: nothing to stage — the meta write IS the migration
      IndexMeta.write(spark, indexDir,
        meta.updated("planes", newPlanes.toString))
      IndexMeta.clearMigrating(spark, indexDir)
      return
    }
    // DATA PHASE — staging only, live index untouched and serving.
    // Ranks depend on bucket membership, so the migration recomputes
    // BOTH from the stored vectors: one global per-bucket id-order
    // window (offline O(index)), then per-partition staged writes. Base
    // rows ride with batch = NULL.
    val delta =
      if (vParts.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            s"${vectorsDdl(quantized)}, batch int"))
      else spark.read.schema(s"${vectorsDdl(quantized)}, batch int")
        .parquet(vroot.toString).filter(col("batch") >= deltaLow)
    val all = baseUpto match {
      case Some(_) => spark.table(meta("vectors_table"))
        .withColumn("batch", lit(null).cast("int")).unionByName(delta)
      case None => delta
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("id")
    val ranked = Lineage.materialize(
      all.select(col("id"), col("batch"),
          Similarity.lshBucket(col("v").cast("array<double>"), dim, newPlanes)
            .as("bucket"))
        .withColumn("rank", row_number().over(w).cast("bigint")))
    vParts.foreach { name =>
      val b = name.stripPrefix("batch=").toInt
      ranked.filter(col("batch") === b).select("id", "bucket", "rank")
        .write.mode("overwrite").parquet(s"$staging/$name")
    }
    val newBase = baseUpto.map { u =>
      val oldBt = meta("buckets_table")
      val newBt = (oldBt.replaceAll("_p\\d+$", "") + s"_p$newPlanes").take(100)
      val nb = meta.get("base_buckets").map(_.toInt).getOrElse(32)
      val oldPath = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(oldBt))
        .location.toString
      val newPath = s"$indexDir/${BucketsT}_base_v${u}_p$newPlanes"
      ranked.filter(col("batch").isNull).select("id", "bucket", "rank")
        .repartition(nb, col("bucket"))
        .write.format("parquet").bucketBy(nb, "bucket").sortBy("bucket", "rank")
        .option("path", newPath)
        .mode("overwrite").saveAsTable(newBt)
      (newBt, newPath, oldBt, oldPath)
    }
    Lineage.release(ranked)
    // STAGED-COMPLETE COMMIT POINT: everything after this line is the
    // re-runnable swap; everything before it never touched live state
    val kv = Map("planes" -> newPlanes.toString) ++
      newBase.map { case (nbT, nbP, obT, obP) =>
        Map("base_table" -> nbT, "base_path" -> nbP,
          "old_base_table" -> obT, "old_base_path" -> obP)
      }.getOrElse(Map.empty)
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$indexDir/${BucketsT}__rebucket_commit"), true)
    try out.write(kv.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    finishRebucketSwap(spark, indexDir)
  }

  /** The SWAP phase of [[rebucket]], driven entirely by the
    * `buckets__rebucket_commit` marker — idempotent, re-runnable after
    * a crash at any point inside it (every step is delete-if-exists /
    * rename-remaining / rewrite-same-values). No-op without the marker.
    * Probes refuse while the marker exists (live partitions are being
    * replaced); writers were already excluded by the migration marker.
    */
  private def finishRebucketSwap(spark: SparkSession, indexDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val marker = hp(s"$indexDir/${BucketsT}__rebucket_commit")
    if (!fs.exists(marker)) return
    val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
    val in = fs.open(marker)
    try in.readFully(0, buf) finally in.close()
    val kv = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    val meta = IndexMeta.read(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"rebucket commit marker at $indexDir but no index meta"))
    SwapGen.bump(spark, indexDir) // before the first live mutation
    val broot = hp(s"$indexDir/$BucketsT")
    val vroot = hp(s"$indexDir/$VectorsT")
    val staging = hp(s"$indexDir/${BucketsT}__rebucket_staging")
    val deltaLow = meta.get("base_upto").map(_.toInt).getOrElse(Int.MinValue)
    val keep =
      if (!fs.exists(vroot)) Set.empty[String]
      else fs.listStatus(vroot).map(_.getPath.getName)
        .filter(n => n.startsWith("batch=") &&
          n.stripPrefix("batch=").toIntOption.exists(_ >= deltaLow)).toSet
    // orphan cleanup: live buckets partitions with no vectors twin hold
    // only stale old-plane rows — the vectors partition set is the
    // authority, everything else goes
    if (fs.exists(broot))
      fs.listStatus(broot).map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") && !keep.contains(p.getName))
        .foreach(p => fs.delete(p, true))
    // publish staged partitions (delete-then-rename; a partition already
    // renamed by a crashed predecessor is simply absent from staging)
    if (fs.exists(staging)) {
      fs.mkdirs(broot)
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith("batch=")).foreach { p =>
          val dst = hp(s"$broot/${p.getName}")
          fs.delete(dst, true)
          if (!fs.rename(p, dst))
            throw new java.io.IOException(
              s"could not publish staged rebucket partition $p")
        }
      fs.delete(staging, true)
    }
    // serve cutover: the meta write flips probes to the new bucket space
    IndexMeta.write(spark, indexDir,
      meta.updated("planes", kv("planes")) ++
        kv.get("base_table").map("buckets_table" -> _))
    // retire the old base (post-cutover cleanup; idempotent)
    for (obt <- kv.get("old_base_table")
         if !kv.get("base_table").contains(obt))
      spark.sql(s"DROP TABLE IF EXISTS $obt")
    for (obp <- kv.get("old_base_path")
         // paths can disagree on the file: scheme — compare canonically
         if !kv.get("base_path").exists(nbp =>
           hp(obp).toUri.getPath == hp(nbp).toUri.getPath))
      fs.delete(hp(obp), true)
    fs.delete(marker, false)
    IndexMeta.clearMigrating(spark, indexDir)
  }

  /** [[IncrementalDedup.compactIndex]] for the embedding index. */
  def compactIndex(spark: SparkSession, indexDir: String,
      uptoExclusive: Int, targetFileBytes: Long = 256L << 20): Unit = {
    // folding mid-migration would compact a bucket table the staged
    // rewrite no longer matches partition-for-partition (and a crashed
    // SWAP's half-replaced table must be finished, not folded)
    IndexMeta.requireNoMigration(spark, indexDir)
    val meta = IndexMeta.read(spark, indexDir)
    require(meta.forall(!_.contains("base_upto")),
      s"index at $indexDir has a promoted base — fold with promoteBase, not compactIndex")
    // an uncommitted batch must be replayed, never folded into the base
    BatchCommits.requireCommitted(spark, indexDir, BucketsT, uptoExclusive)
    BatchCommits.requireCommitted(spark, indexDir, VectorsT, uptoExclusive)
    IndexCompaction.compact(spark, indexDir, BucketsT,
      "id bigint, bucket bigint, rank bigint", uptoExclusive,
      clusterBy = "bucket", targetFileBytes = targetFileBytes)
    IndexCompaction.compact(spark, indexDir, VectorsT,
      vectorsDdl(meta.exists(_.get("quantized").contains("true"))),
      uptoExclusive, clusterBy = "id", targetFileBytes = targetFileBytes)
    // folded batches can never be replayed — drop their markers
    BatchCommits.clearBelow(spark, indexDir, uptoExclusive)
  }

  /** See [[IncrementalDedup.markLegacyCommitted]]. */
  def markLegacyCommitted(spark: SparkSession, indexDir: String): Unit =
    IncrementalDedup.markLegacyCommitted(spark, indexDir)
}
