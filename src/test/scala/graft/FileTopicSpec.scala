package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{FileTopicSegmentRewrittenException, FileTopicSource, Kafka}

/** The file-topic DSv2 provider: the full
  * `readStream.format("file-topic").load() → decode → sink` path through a
  * REAL provider lookup (META-INF/services registry — the same seam
  * `format("kafka")` resolves through, whose jar this environment lacks).
  */
class FileTopicSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  private def jl(key: String, value: String, ts: Long, hs: (String, String)*): String = {
    val headers = hs.map { case (k, v) => s"""{"key":"$k","value":"$v"}""" }
      .mkString("[", ",", "]")
    val kj = if (key == null) "null" else s""""$key""""
    s"""{"key":$kj,"value":"$value","timestamp":$ts,"headers":$headers}"""
  }

  private def append(p: Path, lines: String*): Unit =
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Drain a streaming df through foreachBatch into a buffer. */
  private def drain(df: DataFrame, dir: Path)(body: => Unit): Seq[Row] = {
    val got = mutable.ArrayBuffer.empty[Row]
    val q = df.writeStream
      .option("checkpointLocation", tmpDir("ft_cp_").toString)
      .foreachBatch((b: DataFrame, _: Long) => { got ++= b.collect(): Unit })
      .start()
    try { body; awaitDrained(q) } finally q.stop()
    got.toSeq
  }

  test("provider lookup by short name serves the exact Kafka envelope") {
    val dir = tmpDir("ft_")
    append(dir.resolve("words-0.jsonl"),
      jl("k1", "alpha beta", 1700000000000L, "lang" -> "en", "lang" -> "de"),
      jl(null, "gamma", 1700000001000L))
    append(dir.resolve("words-1.jsonl"), jl("k2", "delta", 1700000002000L))

    val src = spark.readStream.format("file-topic").option("path", dir.toString).load()
    assert(src.schema === Kafka.envelopeSchema, "source schema IS the Kafka envelope")

    val rows = drain(src.select(col("topic"), col("partition"), col("offset"),
      col("key").cast("string").as("k"), col("value").cast("string").as("v"),
      Kafka.headerString(col("headers"), "lang").as("lang"),
      unix_micros(col("timestamp")).as("ts_us")), dir)(())
    assert(rows.size === 3)
    assert(rows.forall(_.getAs[String]("topic") == "words"))
    val byOffset = rows.map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")) -> r).toMap
    assert(byOffset((0, 0L)).getAs[String]("v") === "alpha beta")
    assert(byOffset((0, 0L)).getAs[String]("lang") === "de", "last-with-name header")
    assert(byOffset((0, 1L)).getAs[String]("k") == null, "null key survives")
    assert(byOffset((1, 0L)).getAs[String]("k") === "k2")
    assert(byOffset((0, 0L)).getAs[Long]("ts_us") === 1700000000000000L)
  }

  test("offsets stay unique and monotone across multiple segments of one partition") {
    // two epoch-named segment files for the SAME (topic, partition) — the
    // sink's normal output shape; per-file numbering would duplicate
    // (partition, offset) pairs across them
    val dir = tmpDir("ft_")
    append(dir.resolve("t-0.e0t0.jsonl"), jl("a", "one", 1L), jl("b", "two", 2L))
    append(dir.resolve("t-0.e1t0.jsonl"), jl("c", "three", 3L))
    val src = spark.readStream.format("file-topic").option("path", dir.toString).load()
    val rows = drain(src.select(col("offset"), col("value").cast("string")), dir)(())
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._1).distinct.size === 3, "no duplicate offsets across segments")
    assert(rows.sortBy(_._1).map(_._2) === Seq("one", "two", "three"),
      "offset order follows segment append order")
    assert(rows.toMap.apply(1L << 32) === "three", "second segment continues, not restarts")
  }

  test("appended lines arrive as the next micro-batch with advancing offsets") {
    val dir = tmpDir("ft_")
    val seg = dir.resolve("t-0.jsonl")
    append(seg, jl("a", "one", 1L))
    val src = spark.readStream.format("file-topic").option("path", dir.toString).load()

    val got = mutable.ArrayBuffer.empty[(Long, String)]
    val batches = mutable.ArrayBuffer.empty[Int]
    val q = src.select(col("offset"), col("value").cast("string"))
      .writeStream.option("checkpointLocation", tmpDir("ft_cp_").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rs = b.as[(Long, String)].collect(); got ++= rs; batches += rs.length: Unit
      }
      .start()
    try {
      awaitDrained(q)
      append(seg, jl("b", "two", 2L), jl("c", "three", 3L))
      awaitDrained(q)
    } finally q.stop()
    assert(got.sortBy(_._1) === Seq((0L, "one"), (1L, "two"), (2L, "three")))
    assert(batches.count(_ > 0) === 2, "append became its own batch")
  }

  test("maxOffsetsPerTrigger caps every micro-batch (admission control)") {
    val dir = tmpDir("ft_")
    append(dir.resolve("t-0.jsonl"), (1 to 7).map(i => jl(s"k$i", s"v$i", i.toLong)): _*)
    val src = spark.readStream.format("file-topic")
      .option("path", dir.toString).option("maxOffsetsPerTrigger", "3").load()
    val sizes = mutable.ArrayBuffer.empty[Long]
    val q = src.writeStream.option("checkpointLocation", tmpDir("ft_cp_").toString)
      .foreachBatch((b: DataFrame, _: Long) => { sizes += b.count(): Unit })
      .start()
    try awaitDrained(q) finally q.stop()
    assert(sizes.filter(_ > 0).forall(_ <= 3), s"batch sizes: $sizes")
    assert(sizes.sum === 7, "everything eventually served")
  }

  test("sink writes segments the source replays: full topic round-trip") {
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("ft_")
    val input = MemoryStream[(String, String)]
    val frame = Kafka.encodeJsonValue(col("_1"),
      struct(col("_2").as("word")),
      headers = Some(Kafka.withHeader(lit(null).cast(
        Kafka.envelopeSchema("headers").dataType), "src", lit("test"))))(input.toDF())
    val sink = frame.writeStream.format("file-topic")
      .option("path", dir.toString).option("topic", "out").option("numPartitions", "2")
      .option("checkpointLocation", tmpDir("ft_cp_").toString)
      .start()
    try {
      input.addData("a" -> "x", "b" -> "y", "c" -> "z")
      awaitDrained(sink)
    } finally sink.stop()

    // replay through the source: same payloads, headers carried through,
    // partitions assigned by key hash within numPartitions
    val back = drain(spark.readStream.format("file-topic").option("path", dir.toString)
      .load()
      .select(col("partition"), col("key").cast("string").as("k"),
        get_json_object(col("value").cast("string"), "$.word").as("word"),
        Kafka.headerString(col("headers"), "src").as("src")), dir)(())
    assert(back.map(r => r.getAs[String]("k") -> r.getAs[String]("word")).toSet ===
      Set("a" -> "x", "b" -> "y", "c" -> "z"))
    assert(back.forall(_.getAs[String]("src") == "test"))
    assert(back.map(_.getAs[Int]("partition")).toSet.subsetOf(Set(0, 1)))
  }

  test("restart from checkpoint resumes after the last served offset") {
    val dir = tmpDir("ft_")
    val cp = tmpDir("ft_cp_")
    val seg = dir.resolve("t-0.jsonl")
    append(seg, jl("a", "one", 1L), jl("b", "two", 2L))
    val got = mutable.ArrayBuffer.empty[String]
    def run(): Unit = {
      val q = spark.readStream.format("file-topic").option("path", dir.toString).load()
        .select(col("value").cast("string"))
        .writeStream.option("checkpointLocation", cp.toString)
        .foreachBatch((b: DataFrame, _: Long) => { got ++= b.as[String].collect(): Unit })
        .start()
      try awaitDrained(q) finally q.stop()
    }
    run()
    assert(got.sorted === Seq("one", "two"))
    append(seg, jl("c", "three", 3L))
    run() // new query, same checkpoint: must NOT re-serve one/two
    assert(got.sorted === Seq("one", "three", "two"))
  }

  /** Start a query over the topic at `dir` that collects (partition,
    * offset, value) per batch.
    */
  private def collecting(dir: Path, cp: Path, maxPerTrigger: Option[Int] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery, mutable.ArrayBuffer[Seq[(Int, Long, String)]]) = {
    val batches = mutable.ArrayBuffer.empty[Seq[(Int, Long, String)]]
    val reader = spark.readStream.format("file-topic").option("path", dir.toString)
    val q = maxPerTrigger.fold(reader)(n => reader.option("maxOffsetsPerTrigger", n.toLong)).load()
      .select(col("partition"), col("offset"), col("value").cast("string"))
      .writeStream.option("checkpointLocation", cp.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches += b.as[(Int, Long, String)].collect().toSeq: Unit
      }
      .start()
    (q, batches)
  }

  test("twelve sink epochs into one partition: unique offsets in append order") {
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("ft_")
    val input = MemoryStream[String]
    val sink = input.toDF().select(col("value").as("key"), col("value"))
      .writeStream.format("file-topic")
      .option("path", dir.toString).option("topic", "t")
      .option("checkpointLocation", tmpDir("ft_cp_").toString)
      .start()
    val (src, batches) = collecting(dir, tmpDir("ft_cp_"))
    try {
      (0 until 12).foreach { i =>
        input.addData(f"v$i%02d")
        awaitDrained(sink)
        awaitDrained(src) // a live reader sees each epoch's segment arrive
      }
    } finally { sink.stop(); src.stop() }
    val got = batches.flatten.toSeq
    assert(got.size === 12)
    assert(got.map(_._2).distinct.size === 12, s"offsets reused: $got")
    assert(got.sortBy(_._2).map(_._3) === (0 until 12).map(i => f"v$i%02d"),
      "offset order follows epoch (append) order, e10 after e9")
  }

  test("a retried sink task rewrites its segment: same (epoch, partition), one file") {
    val dir = tmpDir("ft_")
    val rowSchema = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
    val props = Map("path" -> dir.toString, "topic" -> "t").asJava
    val table = new FileTopicSource().getTable(rowSchema, Array.empty, props)
    val write = table.asInstanceOf[SupportsWrite].newWriteBuilder(new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = new CaseInsensitiveStringMap(props)
      override def queryId(): String = "retry"
      override def schema(): StructType = rowSchema
    }).build().toStreaming
    val factory = write.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    Seq(7L, 8L).foreach { taskId => // two attempts of partition 0, epoch 3
      val w = factory.createWriter(0, taskId, 3L)
      w.write(InternalRow(UTF8String.fromString("k"), UTF8String.fromString("v")))
      w.commit()
      w.close()
    }
    val files = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString).toSeq finally ls.close()
    }
    assert(files.size === 1, s"segments: $files")
    assert(Files.readAllLines(dir.resolve(files.head)).size === 1)
  }

  test("a checkpoint holding per-file line counts resumes with identical record offsets") {
    val dir = tmpDir("ft_")
    val cp = tmpDir("ft_cp_")
    // the older sink names, epoch then attempt id
    append(dir.resolve("t-0.e3t7.jsonl"), jl("a", "one", 1L), jl("b", "two", 2L))
    append(dir.resolve("t-0.e9t15.jsonl"), jl("c", "three", 3L))
    val (q1, first) = collecting(dir, cp)
    try awaitDrained(q1) finally q1.stop()
    assert(first.flatten.map(r => r._2 -> r._3).toSet ===
      Set(0L -> "one", 1L -> "two", (1L << 32) -> "three"))
    // the offset log carries the same line-count JSON as before the byte
    // index existed; write it back by hand so the restart reads exactly that
    val log = cp.resolve("offsets").resolve("0")
    val lines = Files.readAllLines(log).asScala
    assert(lines.last === """{"files":{"t-0.e3t7.jsonl":2,"t-0.e9t15.jsonl":1}}""")
    Files.write(log, (lines.init :+ """{"files":{"t-0.e9t15.jsonl":1,"t-0.e3t7.jsonl":2}}""")
      .mkString("\n").getBytes(UTF_8))

    append(dir.resolve("t-0.e3t7.jsonl"), jl("d", "four", 4L))
    append(dir.resolve("t-0.e9t15.jsonl"), jl("e", "five", 5L))
    append(dir.resolve("t-0.e0000000000000000010p00000.jsonl"), jl("f", "six", 6L))
    val (q2, second) = collecting(dir, cp)
    try awaitDrained(q2) finally q2.stop()
    assert(second.flatten.map(r => r._2 -> r._3).toSet ===
      Set(2L -> "four", ((1L << 32) + 1) -> "five", (2L << 32) -> "six"),
      "only the appended records, numbered after the served ones")
  }

  test("maxOffsetsPerTrigger below the total lag: the first batch reads every lagging partition") {
    val dir = tmpDir("ft_")
    Seq(0 -> 10, 1 -> 5, 2 -> 1).foreach { case (p, n) =>
      append(dir.resolve(s"t-$p.jsonl"), (1 to n).map(i => jl(s"k$i", s"p$p-$i", i.toLong)): _*)
    }
    val (q, batches) = collecting(dir, tmpDir("ft_cp_"), maxPerTrigger = Some(5))
    try awaitDrained(q) finally q.stop()
    val sized = batches.filter(_.nonEmpty)
    assert(sized.head.map(_._1).toSet === Set(0, 1, 2), s"first batch: ${sized.head}")
    assert(sized.forall(_.size <= 5), s"batch sizes: ${sized.map(_.size)}")
    assert(sized.flatten.size === 16)
    // per partition, offsets arrive in order across batches
    sized.flatten.groupBy(_._1).values.foreach(rs => assert(rs.map(_._2) === rs.map(_._2).sorted))
  }

  test("a last line without its newline is served only once the newline arrives") {
    val dir = tmpDir("ft_")
    val seg = dir.resolve("t-0.jsonl")
    val partial = jl("b", "two", 2L)
    Files.write(seg, (jl("a", "one", 1L) + "\n" + partial.take(10)).getBytes(UTF_8))
    val (q, batches) = collecting(dir, tmpDir("ft_cp_"))
    try {
      awaitDrained(q)
      assert(batches.flatten.map(_._3) === Seq("one"))
      Files.write(seg, (partial.drop(10) + "\n").getBytes(UTF_8), StandardOpenOption.APPEND)
      awaitDrained(q)
    } finally q.stop()
    assert(batches.flatten.map(r => r._2 -> r._3) === Seq(0L -> "one", 1L -> "two"))
  }

  test("a segment truncated below its served lines fails with the named error") {
    val dir = tmpDir("ft_")
    val seg = dir.resolve("t-0.jsonl")
    append(seg, jl("a", "one", 1L), jl("b", "two", 2L), jl("c", "three", 3L))
    val (q, _) = collecting(dir, tmpDir("ft_cp_"))
    val e = try {
      awaitDrained(q)
      Files.write(seg, (jl("x", "new", 9L) + "\n").getBytes(UTF_8)) // same file, shorter
      intercept[StreamingQueryException](awaitDrained(q))
    } finally q.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[FileTopicSegmentRewrittenException]), e.toString)
  }

  test("progress reports the topic's lag: above 0 mid-drain, 0 after it") {
    val dir = tmpDir("ft_")
    append(dir.resolve("t-0.jsonl"), (1 to 7).map(i => jl(s"k$i", s"v$i", i.toLong)): _*)
    append(dir.resolve("t-1.jsonl"), jl("k", "w", 1L))
    val (q, _) = collecting(dir, tmpDir("ft_cp_"), maxPerTrigger = Some(3))
    try awaitDrained(q) finally q.stop()
    val lags = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.sources(0).metrics.get("maxOffsetsBehindLatest").toLong)
    assert(lags.head > 0, s"lag per batch: ${lags.toSeq}")
    val last = q.lastProgress.sources(0).metrics
    assert(last.get("maxOffsetsBehindLatest") === "0" && last.get("minOffsetsBehindLatest") === "0",
      s"after the drain: $last")
  }
}
