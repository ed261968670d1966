package graft
import java.nio.file.{Files, Paths}
import Bench.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: an optional 3rd arg restricts to a comma-separated
    // query-name subset (the driver always runs the full set)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Session(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-query wall-clock budget ([[Budget]] — the r11 planning-hang
    // lesson): a non-terminating or throwing query lands in failed.json
    // as one red row while the rest of the board completes, never an
    // empty artifact.
    val budgetSec = sys.env.get("SPARK_GRAFT_VERIFY_TIMEOUT_SEC")
      .map(_.toInt).getOrElse(300)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      Budget.run(spark.sparkContext, name, budgetSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.foreach { msg =>
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
      }
    }
    // JSON string escape ([[Bench.jstr]]): backslash, quote, and ALL
    // control chars (<0x20) — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A throwing query writes no parquet, which the driver's compare reads
    // as "undeclared" — in round 9 that masked a 32-query regression as a
    // smaller query set. failed.json makes breakage first-class in the
    // artifact: name → truncated exception, always written (possibly {}).
    val failJson = failed
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
