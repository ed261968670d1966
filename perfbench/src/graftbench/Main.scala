package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One workload in one JVM: `Main <spec.json> <raw-out.json>`.
  *
  * The spec (written by run.py) names the workload, its generated inputs and
  * parameters. The raw output holds timings and listener events only; run.py
  * turns them into metrics and checks the outputs, so graft never grades
  * itself.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val trace = spec.get("trace").asBoolean
    val cpus = spec.get("cpus").asInt
    val work = spec.get("work_dir").asText
    val spans = new Spans(trace)
    val jobs = new JobRecorder
    val progress = new ProgressRecorder
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    val sessionMs = Clock.now()

    val out = try spec.get("workload").asText match {
      case "jdbc_wordcount_rate" => JdbcRate.run(spark, spec, spans, progress)
      case "topic_ksql_backlog" => TopicBacklog.run(spark, spec, spans, progress)
      case "board" => Board.run(spark, spec, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally jobs.settle()

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val record = out ++ Map(
      "jvm_start_ms" -> rt.getStartTime,
      "session_ready_ms" -> sessionMs,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "vm_hwm_kb" -> vmHwmKb(),
      "progress" -> progress.progress,
      "spans" -> spans.all) ++ (if (trace) jobs.dump else Map.empty)
    Files.write(Paths.get(args(1)), Json.write(record).getBytes(UTF_8))
    // everything is measured and written: skip the orderly shutdown, whose
    // cleanup (session, Derby, temp dirs) run.py does by deleting the work dir
    Runtime.getRuntime.halt(0)
  }

  /** Peak resident set (VmHWM) of this JVM, from /proc/self/status. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def withConn[A](url: String)(f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exec(url: String, sql: String*): Unit = withConn(url) { c =>
    sql.foreach(s => c.createStatement().execute(s))
  }

  /** Dump a sink table as tab-separated lines for run.py's check. */
  def dumpTable(url: String, sql: String, path: String): Long = withConn(url) { c =>
    val rs = c.createStatement().executeQuery(sql)
    val n = rs.getMetaData.getColumnCount
    val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
    var rows = 0L
    try while (rs.next()) {
      w.write((1 to n).map(i => rs.getString(i)).mkString("\t")); w.write('\n'); rows += 1
    } finally w.close()
    rows
  }
}

/** Minimal JSON writer for the raw record (Scala maps, seqs, numbers). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(v, sb); sb.toString }

  private def put(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(k.toString, sb); sb.append(':'); put(x, sb)
      }
      sb.append('}')
    case a: Array[_] => put(a.toSeq, sb)
    case s: Iterable[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); put(x, sb) }
      sb.append(']')
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
