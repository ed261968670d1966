package graft

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.configure(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `q.processAllAvailable()` with a deadline: a query that never reaches
    * its source's latest offset is stopped and fails the test with its last
    * progress instead of hanging the suite. A query failure propagates.
    */
  def awaitDrained(q: StreamingQuery, timeout: FiniteDuration = 60.seconds): Unit = {
    val drained = Future(q.processAllAvailable())(ExecutionContext.global)
    try Await.result(drained, timeout)
    catch {
      case _: TimeoutException =>
        val last = q.lastProgress
        q.stop()
        fail(s"streaming query not drained within $timeout; last progress: $last")
    }
  }
}
