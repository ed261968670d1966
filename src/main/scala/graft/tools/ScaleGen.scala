package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up corpus generator for the dedup/CC family audits: replicate
  * `documents` and `embeddings` N× into disjoint id spaces with REALISTIC
  * perturbation instead of exact cloning.
  *
  * Why: the round-8 sf1 audit replicated sf0.1 ×10 verbatim, which gives
  * every document 9 exact clones — the near-dup graph and within-cluster
  * pair counts come out far denser than any real corpus, so the dedup
  * numbers were stress-test upper bounds, not expected-case scaling. Here
  * each replica is deterministically REWRITTEN (words reordered by a
  * copy-salted hash — unigram stats survive, shingle sets don't) except for
  * a configurable near-dup fraction that gets only a light perturbation
  * (~1 in 20 words swapped for a copy tag), so a realistic minority of
  * replicas lands inside LSH/Jaccard thresholds. Embeddings mirror the
  * split: near-dup replicas get ±0.002 deterministic noise, the rest a
  * 0.25-magnitude sinusoidal shift. Everything is hash-derived from
  * (id, copy) — no RNG, reruns are bit-identical.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> [factor=10] [dupPct=5]
  */
object ScaleGen {

  /** every word remapped through a copy-specific dictionary (w → w_cN):
    * the replica shares ZERO shingles with any other copy's documents,
    * while WITHIN the copy the corpus's original near-dup structure is
    * preserved exactly (doc A and doc B share a shingle after remapping
    * iff they shared it before) — i.e. 10× the data at the SAME dup
    * density, which is what a realistic scale-up looks like. (A word
    * REORDER was tried first and is a trap: the synthetic vocabulary is
    * tiny, so any canonical per-copy order makes every document in a copy
    * near-identical to every other — denser than exact clones.)
    */
  private def rewritten(textCol: org.apache.spark.sql.Column, salt: org.apache.spark.sql.Column) =
    array_join(
      transform(split(textCol, " "), w => concat(w, lit("_c"), salt)),
      " ")

  /** ~1 word in 20 replaced by a copy tag — shingle overlap stays high, so
    * the replica is a genuine NEAR-dup (not exact: the tag also breaks the
    * full-text hash)
    */
  private def lightlyPerturbed(textCol: org.apache.spark.sql.Column,
      salt: org.apache.spark.sql.Column) =
    array_join(
      zip_with(split(textCol, " "),
        sequence(lit(0), size(split(textCol, " ")) - 1),
        (w, i) => when(
          pmod(xxhash64(w, i, salt), lit(20)) === 0,
          concat(lit("dup"), salt)).otherwise(w)),
      " ")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val dupPct = if (args.length > 3) args(3).toInt else 5
    require(factor >= 1 && dupPct >= 0 && dupPct <= 100, s"bad factor=$factor dupPct=$dupPct")
    // events.ts is TIMESTAMP(NANOS) — read as epoch-nanos long (the
    // Tables contract, set by Session); the passthrough copy keeps the
    // same long values
    val spark = graft.Session()

    val idOffset = 1000000000L
    val copies = explode(sequence(lit(0), lit(factor - 1))).as("copy")
    // a replica is a NEAR-dup iff hash(id, copy) lands under dupPct —
    // deterministic, independent across copies
    def isNearDup(id: org.apache.spark.sql.Column) =
      pmod(xxhash64(id, col("copy")), lit(100)) < dupPct

    // SPLITTABLE output layout, or the audit measures the fixture: the
    // sf0.1 sources are one row group, and explode preserves partitioning,
    // so without the repartition the 100× corpus lands as ONE ~80 MB row
    // group — parquet can't split that, so every scan-side stage runs as a
    // single task and the "straggler" is the file layout, not the plan
    // (observed: a 36 s max-task / ~0 s median scan stage in
    // dedup_cc_kept's 100× audit). A real 100 TB corpus is many ~256 MB
    // files; 2×cores output files model that at this scale.
    val outParts = spark.sparkContext.defaultParallelism * 2

    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.select(col("*"), copies)
      .select(
        (col("doc_id") + col("copy").cast("long") * idOffset).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .when(isNearDup(col("doc_id")), lightlyPerturbed(col("text"), col("copy").cast("string")))
          .otherwise(rewritten(col("text"), col("copy").cast("string"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(outParts, col("doc_id"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.select(col("*"), copies)
      .select(
        (col("vec_id") + col("copy").cast("long") * idOffset).as("vec_id"),
        when(col("copy") === 0, col("embedding"))
          .when(isNearDup(col("vec_id")),
            // near-dup replica: tiny deterministic jitter, cosine ≈ 1
            transform(col("embedding"), x => (x + lit(0.002)).cast("float")))
          .otherwise(
            // fresh vector: coordinates ROTATED by the copy index plus a
            // sinusoidal shift — cosine to the original ≈ random
            transform(sequence(lit(0), size(col("embedding")) - 1), i =>
              (element_at(col("embedding"),
                  (pmod(i + col("copy"), size(col("embedding"))) + 1).cast("int")) +
                lit(0.3) * sin(col("vec_id").cast("double") * col("copy") +
                  i.cast("double"))).cast("float"))).as("embedding"),
        col("label"))
      .repartition(outParts, col("vec_id"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // the TPC-H + events tables pass through unchanged so the SAME sf dir
    // serves every bench query (only documents/embeddings scale)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"scalegen":"done","factor":$factor,"dupPct":$dupPct,"out":"$out"}""")
    spark.stop()
  }
}
