package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Drain a pre-written file-topic backlog through the KSQL surface into the
  * JDBC upsert sink.
  */
object TopicBacklog {
  def run(spark: SparkSession, spec: JsonNode, spans: Spans,
      progress: ProgressRecorder): Map[String, Any] = {
    val work = spec.get("work_dir").asText
    val url = s"jdbc:derby:$work/derby/kt;create=true"
    // warm-up: the same query over a small separate topic, into its own
    // database, so the timed drain does not pay first-batch JIT and codegen
    val warmUrl = s"jdbc:derby:$work/derby/kt_warmup;create=true"
    Seq(url, warmUrl).foreach(u => Main.exec(u,
      "CREATE TABLE USER_TOTALS (userid VARCHAR(16) PRIMARY KEY, cnt BIGINT, total BIGINT)"))
    val ksql = spec.get("ksql").asText
    val warm = graft.sinks.JdbcSink.writeStream(
      registry(spark, spec, spec.get("warmup_topic_dir").asText).sql(ksql), warmUrl,
      "USER_TOTALS", Seq("userid"), s"$work/ckpt_warmup")
    warm.processAllAvailable()
    warm.stop()
    progress.awaitTerminated(1)
    progress.clear()

    val reg = registry(spark, spec, spec.get("topic_dir").asText)
    val sqlStart = Clock.now()
    val table = spans.span("api.registry.sql", 0)(_ => reg.sql(ksql))
    val sqlEnd = Clock.now()

    val start = Clock.now()
    val query = graft.sinks.JdbcSink.writeStream(table, url, "USER_TOTALS", Seq("userid"),
      s"$work/ckpt")
    query.processAllAvailable()
    query.stop()
    progress.awaitTerminated(2)
    val sinkRows = Main.dumpTable(url, "SELECT userid, cnt, total FROM USER_TOTALS",
      s"$work/sink.tsv")
    Map(
      "first_timed_ms" -> start,
      "registry_sql_ms" -> (sqlEnd - sqlStart),
      "query_start_ms" -> start,
      "sink_rows" -> sinkRows,
      "sink_file" -> s"$work/sink.tsv")
  }

  /** A registry with the topic directory registered under the workload's topic. */
  private def registry(spark: SparkSession, spec: JsonNode, dir: String): graft.api.StreamRegistry = {
    val raw = spark.readStream.format("file-topic")
      .option("path", dir)
      .option("maxOffsetsPerTrigger", spec.get("max_offsets_per_trigger").asText)
      .load()
    val registry = new graft.api.StreamRegistry(spark)
    registry.registerTopic(spec.get("topic").asText, raw)
    registry
  }
}
