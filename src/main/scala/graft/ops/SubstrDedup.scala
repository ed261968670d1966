package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring (span-level) deduplication — the ExactSubstr operation
  * of "Deduplicating Training Data Makes Language Models Better" (Lee et
  * al., 2022): instead of dropping whole near-duplicate documents, find
  * every maximal character span whose content occurs elsewhere in the
  * corpus and cut the spans out, keeping the unique remainder. This is the
  * memorization-reducing cleanup step LLM pipelines run AFTER doc-level
  * dedup (reference scope: the connect-streams engine has no such op; this
  * is part of the training-data extension surface, like `ops/Dedup`).
  *
  * The paper builds a corpus-wide suffix array; that is a single-machine
  * construction. The distributed reformulation here is the standard
  * map-reduce one: a span of length ≥ k is duplicated iff each of its
  * aligned k-grams is duplicated, so
  *   1. explode every document into its k-char windows (pos, gram) — a
  *      pure per-row generate, no shuffle, intermediate bounded by k× the
  *      input (each char appears in ≤ k windows);
  *   2. count gram occurrences corpus-wide (ONE shuffle of the windows,
  *      partial map-side aggregation first, so the reduce side sees one
  *      row per distinct gram per map partition, not one per position);
  *   3. left-semi join window positions against the duplicated grams
  *      (equi-join on the gram key — never all-pairs, fan-out bounded by
  *      the duplicated-key set);
  *   4. merge overlapping/adjacent marked windows into maximal spans with
  *      a per-document gaps-and-islands window (one shuffle keyed by
  *      doc id; per-partition state bounded by document length).
  * No step holds per-key occurrence lists (a hot gram — boilerplate, a
  * license header — can occur millions of times at 100 TB; collect_list
  * per gram would pin a reducer, counts + semi join never do).
  *
  * `hashed=true` (scale default) shuffles 8-byte rolling-polynomial keys
  * (native [[org.apache.spark.sql.graft.GramHashes]] — all window hashes
  * in one O(n) pass, no per-window substring) instead of k-char grams — a
  * k/8× shuffle-volume cut; a 64-bit collision can only ADD a span, never
  * miss one. The oracle-checked queries pin `hashed=false` (DuckDB cannot
  * reproduce the hash) and `SubstrDedupSpec` proves hashed ≡ exact on the
  * real corpus, so the correctness gate stays hash-free while the scale
  * path stays cheap.
  *
  * Positions are 1-based (SQL substr convention) so the DuckDB oracle is
  * a direct transliteration.
  */
object SubstrDedup {

  /** (idCol, pos, gram): every k-char window of `textCol` at every
    * position, 1-based. Documents shorter than k emit nothing (they can
    * contain no duplicated span of length ≥ k). The gram array is built
    * per row THEN posexploded, so the document text is not replicated
    * into every output row.
    *
    * Native one-pass kernel ([[org.apache.spark.sql.graft.GramStrings]]):
    * the column form below ([[windowsRef]]) pays an interpreted
    * higher-order `transform` PLUS an O(position) byte-walk inside every
    * `substr` call — measured 1.7 s per derivation at sf0.1 (and
    * [[dupPositions]] derives windows twice by design) for what is one
    * linear pass over 1.5 MB of text. Byte-identical output
    * (`SubstrDedupSpec` pins kernel ≡ reference on the real corpus).
    */
  def windows(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window length k=$k must be >= 2")
    df.select(col(idCol),
        posexplode(org.apache.spark.sql.graft.GramStrings
          .gramStrings(col(textCol), k)).as(Seq("p0", "gram")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("gram"))
  }

  /** REFERENCE FORM (spec-pinned twin of [[windows]]'s native kernel):
    * the direct `substr` transliteration of the window definition.
    */
  private[graft] def windowsRef(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window length k=$k must be >= 2")
    val n = length(col(textCol))
    val grams = when(n >= k,
      transform(sequence(lit(1), n - (k - 1)), i => col(textCol).substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), posexplode(grams).as(Seq("p0", "gram")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("gram"))
  }

  /** Window positions whose gram occurs ≥ `minDupCount` times corpus-wide
    * (self-repeats within one document count — a doc that repeats its own
    * boilerplate gets it cut too, matching the paper's any-repeat rule).
    *
    * Deliberate tradeoff, measured at sf0.1 by a one-off r21 probe (since
    * removed; these are its numbers): a one-pass variant — `count() OVER
    * (PARTITION BY gk)` then filter — is ~1.8× faster locally (3.2-4.0 s
    * vs 5.8-7.3 s) because this formulation derives the windows table
    * twice (once under the count aggregate, once as the semi-join probe). It is rejected anyway: WindowExec must SORT
    * AND BUFFER each gram's whole partition, so one hot gram (a license
    * header occurring 10⁸ times in a web corpus) pins a reducer into a
    * multi-GB sort-spill. Here the hot key's count collapses map-side
    * (partial aggregation sends one row per gram per map partition) and
    * the semi join STREAMS the hot positions past a hash probe — the
    * second linear derivation is the classic recompute-over-persist price
    * for bounded reducer state, the right side of the trade at 100 TB.
    */
  private def dupPositions(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDupCount: Int, hashed: Boolean): DataFrame = {
    // hashed (scale) path: the native rolling-hash kernel
    // (graft_gram_hashes) emits all n−k+1 window keys in ONE O(n) pass —
    // the column windows() formulation allocates every window as its own
    // k-char substring first (O(n·k) transient strings) and then hashes
    // it; positions and the collisions-only-ADD-spans property are
    // unchanged (SubstrDedupSpec pins hashed ≡ exact either way)
    val w =
      if (hashed)
        df.select(col(idCol),
          posexplode(org.apache.spark.sql.graft.GramHashes
            .gramHashes(col(textCol), k)).as(Seq("p0", "gk")))
          .select(col(idCol), (col("p0") + 1).as("pos"), col("gk"))
      else windows(df, textCol, idCol, k).withColumnRenamed("gram", "gk")
    val dup = w.groupBy("gk").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minDupCount).select("gk")
    w.join(dup, Seq("gk"), "left_semi").select(col(idCol), col("pos"))
  }

  /** Maximal duplicated spans (idCol, span_start, span_end), 1-based
    * inclusive: overlapping or back-to-back duplicated windows merge into
    * one span (classic gaps-and-islands — a window starts a new island iff
    * it leaves a gap after the running max end of everything before it).
    */
  def dupSpans(df: DataFrame, textCol: String, idCol: String, k: Int,
      minDupCount: Int = 2, hashed: Boolean = true): DataFrame = {
    require(minDupCount >= 2, s"minDupCount=$minDupCount must be >= 2")
    val marked = dupPositions(df, textCol, idCol, k, minDupCount, hashed)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val starts = when(col("pos") > coalesce(prevMaxEnd, lit(Int.MinValue)) + 1, 1)
      .otherwise(0)
    marked
      .withColumn("isl", sum(starts).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + (k - 1)).as("span_end"))
      .drop("isl")
  }

  /** (idCol, clean_text): each document with its duplicated spans removed
    * (kept segments concatenated in order). Documents with no duplicated
    * span pass through untouched; a fully-duplicated document becomes the
    * empty string, for the caller to drop or keep.
    *
    * The cut is a per-row fold over the doc's sorted span array (bounded
    * by len/k spans), against the document it came from — no driver-side
    * work, one extra shuffle to regroup spans per doc.
    */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String, k: Int,
      minDupCount: Int = 2, hashed: Boolean = true): DataFrame = {
    val spans = dupSpans(df, textCol, idCol, k, minDupCount, hashed)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("span_start"), col("span_end"))))
        .as("spans"))
    val txt = col(textCol)
    // fold state: (last = end of the previous span, acc = kept text so far)
    val cut = aggregate(col("spans"),
      struct(lit(0).as("last"), lit("").as("acc")),
      (st, sp) => struct(
        sp.getField("span_end").as("last"),
        concat(st.getField("acc"),
          txt.substr(st.getField("last") + 1,
            sp.getField("span_start") - st.getField("last") - 1)).as("acc")),
      st => concat(st.getField("acc"),
        txt.substr(st.getField("last") + 1, length(txt) - st.getField("last"))))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("spans").isNull, txt).otherwise(cut).as("clean_text"))
  }

  /** Per-group duplication profile: how much of each `groupCol` slice is
    * corpus-duplicated text. (groupCol, total_chars, dup_chars, dup_frac)
    * with dup_frac floor-stabilized at 1e-6 for cross-engine equality.
    */
  def dupCharStats(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, k: Int, minDupCount: Int = 2,
      hashed: Boolean = true): DataFrame = {
    val perDoc = dupSpans(df, textCol, idCol, k, minDupCount, hashed)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start") + 1).as("doc_dup"))
    df.join(perDoc, Seq(idCol), "left")
      .groupBy(col(groupCol))
      .agg(sum(length(col(textCol))).as("total_chars"),
        sum(coalesce(col("doc_dup"), lit(0L))).as("dup_chars"))
      .withColumn("dup_frac",
        Text.floor6(col("dup_chars").cast("double") / col("total_chars").cast("double")))
  }
}
