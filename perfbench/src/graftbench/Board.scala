package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Closed-loop batch board: the named `SparkEntry.queries`, back to back in
  * a fixed order. The warm-up pass writes each result as parquet (read by
  * run.py's oracle check); the timed pass runs the same queries through the
  * noop sink, as `graft.Bench` does.
  */
object Board {
  def run(spark: SparkSession, spec: JsonNode, spans: Spans): Map[String, Any] = {
    val dir = spec.get("data_dir").asText
    val outDir = spec.get("out_dir").asText
    val names = Main.strings(spec.get("queries"))
    graft.Tables.configure(spark)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def pass(label: String, parquet: Boolean): Seq[Map[String, Any]] = names.map { n =>
      val sc = spark.sparkContext
      val fn = graft.SparkEntry.queries(n)
      spans.span("query", 0, Map("query" -> n, "pass" -> label)) { qid =>
        sc.setLocalProperty("graftbench.query", s"$label:$n")
        val t0 = Clock.now()
        var built = t0
        val error = try {
          val df = spans.span("build", qid) { id =>
            sc.setLocalProperty("graftbench.span", id.toString)
            fn(spark, dir)
          }
          built = Clock.now()
          spans.span("execute", qid) { id =>
            sc.setLocalProperty("graftbench.span", id.toString)
            if (parquet) df.write.mode("overwrite").parquet(s"$outDir/$n")
            else df.write.format("noop").mode("overwrite").save()
          }
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        } finally {
          sc.setLocalProperty("graftbench.span", null)
          sc.setLocalProperty("graftbench.query", null)
        }
        Map("query" -> n, "pass" -> label, "start" -> t0, "built" -> built,
          "end" -> Clock.now(), "error" -> error)
      }
    }

    val warm = pass("warmup", parquet = true)
    val first = Clock.now()
    val timed = pass("timed", parquet = false)
    Map(
      "first_timed_ms" -> first,
      "passes" -> (warm ++ timed),
      "oracle_sql" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}
