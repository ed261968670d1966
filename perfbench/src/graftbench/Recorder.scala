package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Epoch milliseconds with sub-millisecond resolution, monotone within a run. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spans recorded in memory from benchmark code: name, start, end, parent.
  * Disabled spans still run their body; they just record nothing.
  */
final class Spans(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Map[String, Any]]
  private val ids = new AtomicLong(0)

  def add(name: String, parent: Long, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      record(id, name, parent, start, end, attrs)
      id
    }

  def span[A](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val start = Clock.now()
      try f(id) finally record(id, name, parent, start, Clock.now(), attrs)
    }

  private def record(id: Long, name: String, parent: Long, start: Double, end: Double,
      attrs: Map[String, Any]): Unit = synchronized {
    buf += Map("id" -> id, "name" -> name, "parent" -> parent, "start" -> start, "end" -> end) ++ attrs
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toList)
}

/** Spark jobs, stages and task times from public `SparkListener` events. */
final class JobRecorder extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val props = Seq("graftbench.query", "graftbench.span", "sql.streaming.queryId",
    "streaming.sql.batchId")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    jobs.put(e.jobId, Map("id" -> e.jobId, "start" -> e.time, "stages" -> e.stageIds) ++
      props.flatMap(k => p.flatMap(x => Option(x.getProperty(k))).map(k -> _)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) {
      val b = taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      b.synchronized(b += e.taskInfo.duration)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.put(i.stageId, Map(
      "id" -> i.stageId,
      "name" -> i.name,
      "submit" -> i.submissionTime.getOrElse(0L),
      "complete" -> i.completionTime.getOrElse(0L),
      "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
      "shuffle_read" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      "shuffle_write" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      "rdds" -> i.rddInfos.map(_.name)))
  }

  /** Wait until every started job has ended: the listener bus is
    * asynchronous, and a job's end arrives after its stages and tasks.
    */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.keySet.asScala.exists(id => !jobEnds.containsKey(id)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int]).map { j =>
      j + ("end" -> Option(jobEnds.get(j("id").asInstanceOf[Int])).map(_.longValue))
    },
    "stages" -> stages.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int]).map { s =>
      s + ("task_ms" -> Option(taskMs.get(s("id").asInstanceOf[Int])).map(b => b.synchronized(b.toList))
        .getOrElse(Nil))
    })
}

/** Micro-batch progress from the public `StreamingQueryListener`. */
final class ProgressRecorder extends StreamingQueryListener {
  private val events = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var terminated = 0
  /** Extra fields sampled at each progress event (e.g. the feeder's row count). */
  @volatile var sample: () => Map[String, Any] = () => Map.empty

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized(terminated += 1)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p: StreamingQueryProgress = e.progress
    val state = p.stateOperators.headOption
    val src = p.sources.headOption
    val m = Map[String, Any](
      "query_id" -> p.id.toString,
      "batch" -> p.batchId,
      "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "recv" -> Clock.now(),
      "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offset" -> src.map(_.startOffset).orNull,
      "end_offset" -> src.map(_.endOffset).orNull,
      "state_rows" -> state.map(_.numRowsTotal),
      "state_mem" -> state.map(_.memoryUsedBytes),
      "state_commit_ms" -> state.map(_.commitTimeMs)) ++ sample()
    synchronized(events += m)
  }

  def progress: Seq[Map[String, Any]] = synchronized(events.toList)
  def clear(): Unit = synchronized(events.clear())

  /** Wait for `n` terminations, so every progress event has been delivered. */
  def awaitTerminated(n: Int, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(terminated) < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
