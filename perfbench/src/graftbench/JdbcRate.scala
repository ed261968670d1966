package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Open-loop DB→DB word count: one feeder thread inserts `perTick` rows
  * every `tickMs` on a fixed schedule into a Derby table, whatever the
  * pipeline does. Each row carries its due time; ids continue after the
  * `firstId` rows already in the table.
  */
final class Feeder(url: String, lines: Array[String], firstId: Long, perTick: Int,
    tickMs: Int, ticks: Int, spans: Spans) extends Thread("graftbench-feeder") {
  val inserted = new AtomicLong(0)
  val t0: Double = Clock.now() + 200
  val done = new Array[Double](ticks)
  @volatile var error: Throwable = _

  override def run(): Unit = try Main.withConn(url) { c =>
    c.setAutoCommit(false)
    val ps = c.prepareStatement("INSERT INTO SRC (id, due_ms, line) VALUES (?, ?, ?)")
    var k = 0
    while (k < ticks) {
      val due = t0 + k.toDouble * tickMs
      var wait = due - Clock.now()
      while (wait > 0) { LockSupport.parkNanos((wait * 1e6).toLong); wait = due - Clock.now() }
      val start = Clock.now()
      var j = 0
      while (j < perTick) {
        val id = firstId + k.toLong * perTick + j + 1
        ps.setLong(1, id); ps.setLong(2, due.toLong); ps.setString(3, lines((id - 1).toInt))
        ps.addBatch(); j += 1
      }
      ps.executeBatch()
      c.commit()
      done(k) = Clock.now()
      inserted.set(firstId + (k + 1).toLong * perTick)
      spans.add("generator.tick", 0, start, done(k), Map("due" -> due))
      k += 1
    }
  } catch { case e: Throwable => error = e }
}

object JdbcRate {
  def run(spark: SparkSession, spec: JsonNode, spans: Spans,
      progress: ProgressRecorder): Map[String, Any] = {
    val work = spec.get("work_dir").asText
    val cpus = spec.get("cpus").asInt
    val url = s"jdbc:derby:$work/derby/wc;create=true"
    val tickMs = spec.get("tick_ms").asInt
    val perTick = spec.get("rate").asInt * tickMs / 1000
    val ticks = ((spec.get("warmup_s").asDouble + spec.get("seconds").asDouble) * 1000 / tickMs).toInt
    val preload = spec.get("preload_rows").asInt
    val lines = Files.readAllLines(Paths.get(spec.get("lines_file").asText)).asScala.toArray
    val total = preload + ticks.toLong * perTick
    require(lines.length >= total, s"need $total lines, got ${lines.length}")
    Main.exec(url,
      "CREATE TABLE SRC (id BIGINT PRIMARY KEY, due_ms BIGINT, line VARCHAR(1024))",
      "CREATE TABLE WC (word VARCHAR(64) PRIMARY KEY, cnt BIGINT)")

    val upserts = new ConcurrentLinkedQueue[Map[String, Any]]()
    val src = spark.readStream.format(classOf[graft.sources.JdbcIncrementingSource].getName)
      .schema("id BIGINT, due_ms BIGINT, line STRING")
      .option("url", url).option("table", "SRC").option("incrementingColumn", "id")
      .option("numPartitions", cpus.toString)
      .load()
    val sc = spark.sparkContext
    val query = graft.ops.Text.wordCount(src, "line").writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(spec.get("trigger_ms").asLong))
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        spans.span("sink.upsert", 0, Map("batch" -> id)) { sid =>
          sc.setLocalProperty("graftbench.span", sid.toString)
          val start = Clock.now()
          graft.sinks.JdbcSink.upsertBatch(batch, url, "WC", Seq("word"))
          upserts.add(Map("batch" -> id, "start" -> start, "end" -> Clock.now()))
          sc.setLocalProperty("graftbench.span", null)
        }
      }
      .start()

    // preload: the first batch pays codegen and JIT before the schedule starts
    val preloadMs = Clock.now()
    Main.withConn(url) { c =>
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO SRC (id, due_ms, line) VALUES (?, ?, ?)")
      (1 to preload).foreach { id =>
        ps.setLong(1, id); ps.setLong(2, preloadMs.toLong); ps.setString(3, lines(id - 1))
        ps.addBatch()
      }
      ps.executeBatch()
      c.commit()
    }
    query.processAllAvailable()

    val feeder = new Feeder(url, lines, preload, perTick, tickMs, ticks, spans)
    progress.sample = () => Map("inserted" -> math.max(preload.toLong, feeder.inserted.get))
    feeder.start()
    feeder.join()
    if (feeder.error != null) throw feeder.error
    // drain: wait until a committed batch ends at the last inserted id
    val deadline = System.currentTimeMillis() + 60000
    def drained = progress.progress.exists(p => endMax(p("end_offset")) >= total)
    while (!drained && query.exception.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    query.exception.foreach(e => throw e)
    require(drained, s"pipeline did not drain $total rows within 60 s")
    query.stop()
    progress.awaitTerminated(1)
    val sinkRows = Main.dumpTable(url, "SELECT word, cnt FROM WC", s"$work/sink.tsv")
    Map(
      "first_timed_ms" -> (feeder.t0 + spec.get("warmup_s").asDouble * 1000),
      "feeder" -> Map("t0" -> feeder.t0, "preload" -> preload, "preload_ms" -> preloadMs,
        "tick_ms" -> tickMs, "per_tick" -> perTick, "ticks" -> ticks, "done" -> feeder.done),
      "rows_inserted" -> total,
      "upserts" -> upserts.asScala.toList,
      "sink_rows" -> sinkRows,
      "sink_file" -> s"$work/sink.tsv")
  }

  def endMax(offset: Any): Long = offset match {
    case s: String => """"max"\s*:\s*(-?\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
    case _ => -1L
  }
}
