package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs on: `local[SPARK_GRAFT_CPUS]` with as
  * many shuffle partitions, no UI, ERROR logging (the bounded side-table
  * windows trip WindowExec's single-partition warning on every task,
  * drowning the mains' result lines) and [[Tables.configure]], which sets
  * the UTC zone.
  *
  * @param defaultCpus the core count when SPARK_GRAFT_CPUS is unset
  */
object Session {
  def apply(defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configure(spark)
    spark
  }
}
