package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Text

/** Streaming throughput micro-benchmark (dev tool): rate source → word
  * count (update mode) → noop sink; reports sustained rows/sec from query
  * progress. Context: the reference's tests imply a floor of ~2.6 msg/s
  * end-to-end (26 records / 10 s deadline, `KafkaFlatMapTest.java:141`).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val rate = sys.env.getOrElse("SPARK_GRAFT_RATE", "200000").toInt
    val seconds = sys.env.getOrElse("SPARK_GRAFT_SECONDS", "20").toInt
    val spark = graft.Session()

    val mode = sys.env.getOrElse("SPARK_GRAFT_STREAM_MODE", "wordcount")
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).option("numPartitions", 8).load()
    // a mode may report one extra mode-specific JSON line after the run
    // (evaluated and printed post-stop, so it reads final counters and
    // never interleaves with progress noise)
    val extraLine =
      new java.util.concurrent.atomic.AtomicReference[() => String](() => "")
    val q = mode match {
      case "join" =>
        // windowed self-join throughput: evens vs odds on a shared key
        val l = src.filter(col("value") % 2 === 0)
          .select((col("value") % 1000).as("key"), col("timestamp").as("ts"), col("value").as("lv"))
          .withWatermark("ts", "5 seconds")
        val r = src.filter(col("value") % 2 === 1)
          .select((col("value") % 1000).as("rkey"), col("timestamp").as("rts"), col("value").as("rv"))
          .withWatermark("rts", "5 seconds")
        l.join(r, col("key") === col("rkey") &&
            col("rts") >= col("ts") - expr("INTERVAL 2 SECONDS") &&
            col("rts") <= col("ts") + expr("INTERVAL 2 SECONDS"))
          .select(col("key"), col("lv"), col("rv"))
          .writeStream.format("noop").outputMode("append").start()
      case "lshdedup" =>
        // streaming near-dup detection: ~16-token docs, heavy duplication
        // (doc content repeats every 500 ids) so bucket state gets real hits
        val docs = src.select(col("value").as("doc_id"),
          concat(lit("the quick brown fox jumps over the lazy dog token "),
            (col("value") % 500).cast("string"),
            lit(" more words follow here for shingle count "),
            (col("value") % 37).cast("string")).as("text"))
        graft.streaming.StreamingLsh.bucketFirstSeen(docs, "text", "doc_id")
          .toDF("doc_id", "band", "rep")
          .writeStream.format("noop").outputMode("append").start()
      case "emblsh" =>
        // streaming embedding near-dup: synthetic 16-dim vectors, 500
        // distinct directions so buckets get real collisions
        val vecs = src.select(col("value").as("vec_id"),
          transform(sequence(lit(0), lit(15)),
            i => sin(col("value") % 500 * (i + 1)).cast("float")).as("embedding"))
        graft.streaming.StreamingLsh.embeddingBucketFirstSeen(
            vecs, "embedding", "vec_id", dim = 16, planes = 8)
          .toDF("vec_id", "bucket", "rep")
          .writeStream.format("noop").outputMode("append").start()
      case "golden" =>
        // streaming golden-record merge: 10k entities, rotating sparse
        // attribute updates (each row carries one of three attrs)
        import spark.implicits._
        val updates = src.select(
          concat(lit("e"), (col("value") % 10000).cast("string")).as("key"),
          col("value").as("pri"),
          map(
            concat(lit("attr"), (col("value") % 3).cast("string")),
            (col("value") % 97).cast("string")).as("attrs"))
          .as[(String, Long, Map[String, String])]
        graft.streaming.CustomState.goldenRecordState(updates)
          .toDF("key", "merged")
          .writeStream.format("noop").outputMode("update").start()
      case "session" =>
        // streaming session windows: 10k users, 5 s inactivity gap —
        // sessions keep merging while a user's ids keep arriving, so the
        // state store sees continuous read-merge-write traffic
        src.select((col("value") % 10000).as("user_id"), col("timestamp").as("ts"))
          .withWatermark("ts", "5 seconds")
          .groupBy(session_window(col("ts"), "5 seconds").as("w"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
          .writeStream.format("noop").outputMode("append").start()
      case "clf" =>
        // model-serving throughput: a classifier trained on the sf0.01
        // corpus scores a synthetic ~12-token doc stream per-row
        // (stateless append — the scoreWithModel path)
        val portable = sys.env.getOrElse("SPARK_GRAFT_CLF_PORTABLE", "true").toBoolean
        val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
        val w = graft.ops.Classifier.train(d, "text", "doc_id",
          col("lang") === "en", buckets = 32, rounds = 2, lr = 0.5,
          portableHash = portable)
        val docs = src.select(col("value").as("doc_id"), concat(
          lit("alpha"), (col("value") % 100).cast("string"), lit(" beta"),
          (col("value") % 971).cast("string"), lit(" gamma the and of to is word"),
          (col("value") % 7919).cast("string")).as("text"))
        graft.ops.Classifier.scoreWithModel(docs, "text", "doc_id", w, buckets = 32,
            portableHash = portable)
          .writeStream.format("noop").outputMode("append").start()
      case "dsirgate" =>
        // DSIR gate serving throughput: a model fit on the sf0.01 corpus
        // (target lang='en') gates a synthetic ~12-token doc stream
        // per-row (stateless append — the scoreWith fold over the λ
        // literal; zero state, zero shuffles)
        val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
        val model = graft.ops.Dsir.fit(d, d.filter(col("lang") === "en"),
          "text", "doc_id", gateFrac = 0.25)
        val docs = src.select(col("value").as("doc_id"), concat(
          lit("alpha"), (col("value") % 100).cast("string"), lit(" beta"),
          (col("value") % 971).cast("string"), lit(" gamma the and of to is word"),
          (col("value") % 7919).cast("string")).as("text"))
        graft.ops.Dsir.scoreWith(docs, "text", "doc_id", model)
          .writeStream.format("noop").outputMode("append").start()
      case "dsirmulti" =>
        // r18 multi-gate router throughput: THREE domain gates fit
        // together (one corpus scan, fitPerDomain) serve the same
        // synthetic stream as ONE Scan→Project — the per-row cost over
        // the single gate is D−1 extra λ folds on a shared hashed
        // bucket array, not D hash passes
        val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
        val models = graft.ops.Dsir.fitPerDomain(d,
          Seq("en", "de", "fr").map(l => l -> d.filter(col("lang") === l)),
          "text", "doc_id", gateFrac = 0.25)
        val docs = src.select(col("value").as("doc_id"), concat(
          lit("alpha"), (col("value") % 100).cast("string"), lit(" beta"),
          (col("value") % 971).cast("string"), lit(" gamma the and of to is word"),
          (col("value") % 7919).cast("string")).as("text"))
        graft.ops.Dsir.scoreWithMany(docs, "text", "doc_id",
          Seq("en", "de", "fr").map(l => l -> models(l)))
          .writeStream.format("noop").outputMode("append").start()
      case "clfhot" =>
        // r19: the quality-classifier twin of dsirhot — the same stream
        // served through ModelServing.classifierForeachBatch; a retrain
        // (different target label) publishes halfway through the run and
        // must take effect at the next batch, zero restarts.
        val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
        val dir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_streambench_clfhot").toString
        val hfs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        hfs.delete(new org.apache.hadoop.fs.Path(dir), true)
        val wA = graft.ops.Classifier.train(d, "text", "doc_id",
          col("lang") === "en", buckets = 32, rounds = 2, lr = 0.5)
        val wB = graft.ops.Classifier.train(d, "text", "doc_id",
          col("lang") === "de", buckets = 32, rounds = 2, lr = 0.5)
        graft.ops.Classifier.save(wA, dir)
        val swaps = new java.util.concurrent.atomic.AtomicInteger(0)
        val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val firstNewBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val docs = src.select(col("value").as("doc_id"), concat(
          lit("alpha"), (col("value") % 100).cast("string"), lit(" beta"),
          (col("value") % 971).cast("string"), lit(" gamma the and of to is word"),
          (col("value") % 7919).cast("string")).as("text"))
        val gate = graft.streaming.ModelServing.classifierForeachBatch(
          dir, "text", "doc_id",
          onSwap = (_, _) => swaps.incrementAndGet()) {
          (scored, batchId) =>
            lastBatch.set(batchId)
            if (swaps.get() >= 2) firstNewBatch.compareAndSet(-1L, batchId)
            scored.write.format("noop").mode("overwrite").save()
        }
        extraLine.set(() =>
          s"""{"metric":"stream_clfhot_swap","republished_at_sec":${seconds / 2},""" +
            s""""swaps":${swaps.get()},"first_new_model_batch":${firstNewBatch.get()},""" +
            s""""last_batch":${lastBatch.get()}}""")
        val publisher = new Thread(() => {
          Thread.sleep(seconds * 500L) // halfway
          graft.ops.Classifier.save(wB, dir)
        }, "clfhot-publisher")
        publisher.setDaemon(true)
        publisher.start()
        docs.writeStream.foreachBatch(gate).start()
      case "dsirhot" =>
        // r19 hot-reload receipt: the same synthetic stream as dsirgate,
        // served through the foreachBatch HOT-RELOAD gate; a publisher
        // thread republishes the model (different target domain) halfway
        // through the run. The query must keep running — zero refusals,
        // no restart — and the extra line reports the observed swaps
        // (expect 2: initial load + republish pickup) plus which batch
        // first served the new model.
        val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
        val dir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_streambench_dsirhot").toString
        val hfs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        hfs.delete(new org.apache.hadoop.fs.Path(dir), true)
        val modelA = graft.ops.Dsir.fit(d, d.filter(col("lang") === "en"),
          "text", "doc_id", gateFrac = 0.25)
        val modelB = graft.ops.Dsir.fit(d, d.filter(col("lang") === "de"),
          "text", "doc_id", gateFrac = 0.25)
        graft.ops.Dsir.save(modelA, spark, dir)
        val swaps = new java.util.concurrent.atomic.AtomicInteger(0)
        val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val firstNewBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val gens = new java.util.concurrent.atomic.AtomicReference[String]("")
        val docs = src.select(col("value").as("doc_id"), concat(
          lit("alpha"), (col("value") % 100).cast("string"), lit(" beta"),
          (col("value") % 971).cast("string"), lit(" gamma the and of to is word"),
          (col("value") % 7919).cast("string")).as("text"))
        val gate = graft.streaming.DsirServing.gatedForeachBatch(
          dir, "text", "doc_id",
          onSwap = (g, _) => { swaps.incrementAndGet(); gens.set(g) }) {
          (scored, batchId) =>
            lastBatch.set(batchId)
            if (swaps.get() >= 2) firstNewBatch.compareAndSet(-1L, batchId)
            scored.write.format("noop").mode("overwrite").save()
        }
        extraLine.set(() =>
          s"""{"metric":"stream_dsirhot_swap","republished_at_sec":${seconds / 2},""" +
            s""""swaps":${swaps.get()},"first_new_model_batch":${firstNewBatch.get()},""" +
            s""""last_batch":${lastBatch.get()}}""")
        val publisher = new Thread(() => {
          Thread.sleep(seconds * 500L) // halfway
          graft.ops.Dsir.save(modelB, spark, dir)
        }, "dsirhot-publisher")
        publisher.setDaemon(true)
        publisher.start()
        docs.writeStream.foreachBatch(gate).start()
      case "crosscorpus" =>
        // stream-vs-static cross-corpus dedup throughput: synthetic docs
        // (content repeats every 500 ids) verified against the PERSISTED
        // sf0.01 documents table — the stateless ingest-gate path; a slice
        // of the stream intentionally collides with ref content so the
        // verify join does real work
        val ref = graft.Tables.documents(spark, "/root/testdata/sf0.01")
          .select(col("doc_id"), col("text")).persist()
        ref.count() // materialize before the stream starts
        val docs = src.select(col("value").as("doc_id"),
          when(col("value") % 10 === 0,
            // every 10th doc is a near-copy of a ref doc (ref text reused
            // via a deterministic lookup is not expressible on a rate
            // source, so approximate with a fixed high-dup phrase family)
            concat(lit("the quick brown fox jumps over the lazy dog copy "),
              (col("value") % 50).cast("string")))
            .otherwise(concat(
              lit("novel content stream words token "),
              (col("value") % 500).cast("string"),
              lit(" more filler for shingles "),
              (col("value") % 37).cast("string"))).as("text"))
        graft.streaming.StreamingLsh.crossCorpusMatches(
            docs, ref, "text", "doc_id", minJaccard = 0.5)
          .writeStream.format("noop").outputMode("append").start()
      case "anomaly" =>
        // rolling-anomaly throughput: 10k keys, per-key trailing-8 exact
        // z-score state (flatMapGroupsWithState buffers the in-watermark
        // window + an 8-long finalized tail per key); a spike rides every
        // 1001st row so the flag path executes
        import spark.implicits._
        val ev = src.select((col("value") % 10000).as("key"),
            col("timestamp").as("ts"), col("value").as("ord"),
            ((col("value") % 97).cast("double") +
              when(col("value") % 1001 === 0, lit(5000.0)).otherwise(lit(0.0)))
              .as("value"))
          .as[graft.streaming.TimeSeriesStream.TsEvent]
        graft.streaming.TimeSeriesStream.rollingAnomalies(ev, width = 8, k = 3,
            watermark = "5 seconds")
          .writeStream.format("noop").outputMode("append").start()
      case "mediadedup" =>
        // streaming image near-dup throughput: the payload arrives as
        // STORED DATA (the production shape — images come off the wire
        // as bytes, not as column expressions), modeled by broadcast-
        // joining the rate stream to a small static payload table
        // synthesized ONCE up front (500 base images × 12 doc-specific
        // row overwrites = 6000 distinct 16×12 BMPs; ids repeat every
        // 6000, so bucket state gets real hits). Deriving the payload
        // per-row on the stream instead is the known planning trap: the
        // synthesized expression inlines into the 72 gray columns and
        // per-micro-batch replanning alone takes tens of seconds — the
        // streaming analog of the batch materialize note in
        // Multimodal.imageNearDupPairs.
        val pid = col("pid")
        val pr = pid % 12
        val base = repeat(md5((pid % 500).cast("string")), 18)
        val rowStr = repeat(md5(pid.cast("string")), 2).substr(lit(1), lit(48))
        val dataStr = concat(
          base.substr(lit(1), (pr * 48).cast("int")),
          rowStr,
          base.substr((pr * 48 + 49).cast("int"), (lit(576) - (pr + 1) * 48).cast("int")))
        val payloads = spark.range(6000).select(col("id").as("pid"),
            graft.ops.Multimodal.bmpPayloadWithData(lit(16L), lit(12L),
              encode(dataStr, "UTF-8")).as("p"))
          .persist()
        payloads.count() // materialize before the stream starts
        val media = src.select(col("value").as("doc_id"),
            (col("value") % 6000).as("pid"))
          .join(broadcast(payloads), "pid")
          .select(col("doc_id"),
            graft.ops.Multimodal.asMedia(col("p"), "image/bmp").as("media"))
        graft.streaming.MediaStream.imageBucketFirstSeen(media, "doc_id", "media")
          .toDF("doc_id", "band", "rep")
          .writeStream.format("noop").outputMode("append").start()
      case "streamtable" =>
        // live stream⋈table join throughput: 1 update in 50 rows rotates
        // one of 10k keys' table values, the other 49 are facts enriched
        // against per-key (ts, value) state
        import graft.streaming.StreamJoins.{Fact, TableUpdate}
        import spark.implicits._
        val keyed = src.select((col("value") % 10000).cast("string").as("key"),
          col("value").as("ts"), col("value").as("v"))
        val updates = keyed.filter(col("v") % 50 === 0)
          .select(col("key"), col("ts"), concat(lit("u"), col("v")).as("value"))
          .as[TableUpdate]
        val facts = keyed.filter(col("v") % 50 =!= 0)
          .select(col("key"), col("ts"), concat(lit("f"), col("v")).as("payload"))
          .as[Fact]
        graft.streaming.StreamJoins.streamTableJoin(facts, updates)
          .writeStream.format("noop").outputMode("update").start()
      case "drift" =>
        // live drift-monitor throughput: per-row fixed-grid binning
        // (stateless, shared with the batch chi-square test) + the
        // built-in streaming count — state is ≤ 64 longs TOTAL, so this
        // measures the pure binning+agg path
        val vals = src.select(
          ((col("value") % 16000).cast("double") / 100.0).as("v"))
        graft.streaming.DriftStream.binCounts(vals, "v",
            loCents = 0L, widthCents = 500L, buckets = 64)
          .writeStream.format("noop").outputMode("update").start()
      case _ =>
        val lines = src.select(concat(
          lit("alpha"), (col("value") % 100).cast("string"), lit(" beta"),
          (col("value") % 971).cast("string"), lit(" gamma the and of to is word"),
          (col("value") % 7919).cast("string")).as("text"))
        Text.wordCount(lines, "text")
          .writeStream.format("noop").outputMode("update").start()
    }
    Thread.sleep(seconds * 1000L)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    val rows = progress.map(_.numInputRows).sum
    val procRate = progress.map(_.processedRowsPerSecond).filter(!_.isNaN)
    val avg = if (procRate.nonEmpty) procRate.sum / procRate.length else 0.0
    println(f"""{"metric":"stream_$mode%s_rows_per_sec","value":$avg%.0f,"rows":$rows,"batches":${progress.length},"offered_rate":$rate}""")
    val extra = extraLine.get()()
    if (extra.nonEmpty) println(extra)
    spark.stop()
  }
}
