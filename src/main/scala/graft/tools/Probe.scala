package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus

import graft.{Bench, Session, SparkEntry}
import graft.Bench.{jstr, n3}

/** The dev tool: times, profiles and plans any of `SparkEntry.queries`, and
  * times the native kernels against their reference forms. Each mode is a
  * function of a session and an output line sink, so a spec drives the
  * same code the main runs.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.Probe <mode> ...
  *   time <query>...           Bench's warm-up + best-of-reps loop
  *                             (SPARK_GRAFT_BENCH_WARMUP / _REPS), one JSON
  *                             line per query; writes no file
  *   profile <query>           jobs, driver gap and per-stage task skew of
  *                             one warm run
  *   plan [--out <dir>] [--tag <t>] <query>...
  *                             formatted plan with exchange and join counts;
  *                             --out also writes <dir>/<query>_<t>.txt
  *   envelope                  kernel vs `*Ref` form timings
  */
object Probe {
  private val Usage = "usage: Probe time <query>... | profile <query> | " +
    "plan [--out <dir>] [--tag <t>] <query>... | envelope"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    try args.toList match {
      case "time" :: names if names.nonEmpty =>
        time(spark, sfDir, names, Bench.warmupFromEnv, Bench.repsFromEnv)
      case List("profile", name) => profile(spark, sfDir, name)
      case "plan" :: rest =>
        def parse(as: List[String], outDir: Option[String], tag: String): Unit = as match {
          case "--out" :: dir :: more => parse(more, Some(dir), tag)
          case "--tag" :: t :: more => parse(more, outDir, t)
          case names if names.nonEmpty => plan(spark, sfDir, names, outDir, tag)
          case _ => throw new IllegalArgumentException(Usage)
        }
        parse(rest, None, "plan")
      case List("envelope") => envelope(spark, sfDir)
      case _ => throw new IllegalArgumentException(Usage)
    } finally spark.stop()
  }

  private def query(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(SparkEntry.queries.contains(name), s"unknown query name: $name")
    SparkEntry.queries(name)(spark, sfDir)
  }

  // noop sink, not count(): count lets Catalyst prune projections and
  // row-preserving joins, so a projection-shaped query measures as little
  // more than its scan
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One JSON line per query from [[Bench.timeQuery]]: the best timed run,
    * every timed run, and the first error if a run failed.
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String], warmup: Int,
      reps: Int, out: String => Unit = println): Unit =
    names.foreach { name =>
      require(SparkEntry.queries.contains(name), s"unknown query name: $name")
      val t = Bench.timeQuery(spark, sfDir, name, warmup, reps)
      out(s"""{"query":${jstr(name)},"best_sec":${n3(t.sec)},"warmup":$warmup,""" +
        s""""runs":${t.runs.map(n3).mkString("[", ",", "]")},""" +
        s""""error":${t.error.map(jstr).getOrElse("null")}}""")
    }

  /** Listener state of one profiled run. */
  private final class Recorder extends SparkListener {
    val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
    val jobEnd = new ConcurrentHashMap[Int, Long]()
    val taskMs = new ConcurrentHashMap[Int, Vector[Long]]()
    val stageName = new ConcurrentHashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (e.time, Option(e.properties)
        .map(_.getProperty("spark.job.description", "")).getOrElse("")))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ms = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      taskMs.merge(e.stageId, Vector(ms), (a: Vector[Long], b: Vector[Long]) => a ++ b)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      // the SQL node scopes of the stage's RDDs name the physical operators
      // (Exchange, HashAggregate, Generate...), which says far more than
      // the call site in the stage name
      val scopes = e.stageInfo.rddInfos.flatMap(_.scope).map(_.name).distinct
      stageName.put(e.stageInfo.stageId,
        if (scopes.nonEmpty) scopes.mkString(" | ")
        else e.stageInfo.name.linesIterator.nextOption().getOrElse(""))
    }
  }

  /** One warm run of `name`, then one run under a listener: the wall time,
    * the job count, the summed job time and the driver gap (wall minus the
    * union of the job intervals: planning, driver-side work and waits
    * between jobs), then a line per job and the stages by total task time
    * with their task count, max and median (a stage whose max task is near
    * its total while its sibling tasks idle is a straggler).
    */
  def profile(spark: SparkSession, sfDir: String, name: String,
      out: String => Unit = println): Unit = {
    noop(query(spark, sfDir, name))
    val sc = spark.sparkContext
    val rec = new Recorder
    ListenerBus.drain(sc) // the warm run's events must not reach `rec`
    sc.addSparkListener(rec)
    val t0 = System.currentTimeMillis()
    val t1 = try {
      noop(query(spark, sfDir, name))
      System.currentTimeMillis()
    } finally {
      ListenerBus.drain(sc)
      sc.removeSparkListener(rec)
    }
    val jobs = rec.jobStart.asScala.toSeq.sortBy(_._1).map { case (id, (start, desc)) =>
      (id, start, rec.jobEnd.asScala.getOrElse(id, t1), desc)
    }
    // length of the union of the job intervals within [t0, t1]: `reach`
    // is the furthest job end seen so far
    val (covered, _) = jobs.map { case (_, s, e, _) => (s max t0, e min t1) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, t0)) { case ((sum, reach), (s, e)) =>
        (sum + ((e max reach) - (s max reach)), reach max e)
      }
    val wall = t1 - t0
    val jobSum = jobs.map { case (_, s, e, _) => e - s }.sum
    out(s"PROBE profile $name wall_s=${n3(wall / 1e3)} jobs=${jobs.size} " +
      s"job_sum_s=${n3(jobSum / 1e3)} driver_gap_s=${n3((wall - covered) / 1e3)}")
    jobs.foreach { case (id, s, e, desc) =>
      out(f"PROBE   job $id%4d ${n3((e - s) / 1e3)}%8s s  ${desc.take(80)}")
    }
    out(f"PROBE   ${"stage"}%-6s${"ntask"}%-7s${"total_s"}%-9s${"max_s"}%-9s${"med_s"}%-9s name")
    rec.taskMs.asScala.toSeq.map { case (sid, ts) => (sid, ts, ts.sum) }
      .sortBy(-_._3).take(25).foreach { case (sid, ts, total) =>
        out(f"PROBE   $sid%-6d${ts.size}%-7d${n3(total / 1e3)}%-9s${n3(ts.max / 1e3)}%-9s" +
          f"${n3(ts.sorted.apply(ts.size / 2) / 1e3)}%-9s" +
          rec.stageName.asScala.getOrElse(sid, "?").take(90))
      }
  }

  /** Formatted physical plan of each query with its shuffle-exchange and
    * join-kind counts (one per node in the plan's details section); with
    * `outDir`, the plan is also written to `<outDir>/<query>_<tag>.txt`.
    * Lifecycle queries run several jobs: this is the returned frame's plan
    * only.
    */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String] = None, tag: String = "plan",
      out: String => Unit = println): Unit = {
    val node = """^\(\d+\) (\w+)""".r.unanchored
    names.foreach { name =>
      val text = query(spark, sfDir, name).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val nodes = text.linesIterator.collect { case node(n) => n }.toSeq
      def n(kind: String) = nodes.count(_ == kind)
      val counts = s"exchanges=${n("Exchange")} bhj=${n("BroadcastHashJoin")} " +
        s"smj=${n("SortMergeJoin")} shj=${n("ShuffledHashJoin")} " +
        s"bnlj=${n("BroadcastNestedLoopJoin")} cartesian=${n("CartesianProduct")}"
      out(s"PROBE plan $name $counts")
      out(text)
      outDir.foreach { dir =>
        val path = Paths.get(dir, s"${name}_$tag.txt")
        Files.createDirectories(path.getParent)
        Files.write(path, s"== $name @ $sfDir ($tag) $counts ==\n\n$text".getBytes("UTF-8"))
        out(s"PROBE plan $name wrote $path")
      }
    }
  }

  /** Kernel vs reference-form timings (min of 3 noop runs each) at
    * whatever scale `sfDir` holds: run at sf0.1 and at the ScaleGen 100×
    * corpus, where compute rather than job overhead dominates, to confirm
    * a native kernel's win holds there too.
    */
  def envelope(spark: SparkSession, sfDir: String, out: String => Unit = println): Unit = {
    import graft.ops.{Dedup, Pca}
    def time(label: String, reps: Int = 3)(f: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      out(f"PROBE envelope $label%-50s min=${n3(ts.min)}%7s  runs=${ts.map(n3).mkString(",")}")
    }
    val docs = graft.Tables.documents(spark, sfDir)
    noop(docs) // warm scan
    time("minhash sigs: kernel") {
      noop(Dedup.minhashSignatures(docs, "text", "doc_id"))
    }
    time("minhash sigs: ref (explode+groupBy)") {
      noop(Dedup.minhashSignaturesRef(docs, "text", "doc_id"))
    }
    time("shingle sets: kernel") {
      noop(Dedup.distinctShingleSets(docs, "text", "doc_id"))
    }
    time("shingle sets: ref (HOF chain)") {
      noop(Dedup.distinctShingleSetsRef(docs, "text", "doc_id"))
    }
    time("hashed shingle sets: kernel") {
      noop(docs.select(col("doc_id"),
        org.apache.spark.sql.graft.HashedDistinctShingles
          .hashedDistinctShingles(col("text")).as("shs")))
    }
    time("hashed shingle sets: ref (transform+xxhash64)") {
      noop(docs.select(col("doc_id"), array_distinct(transform(
        org.apache.spark.sql.graft.DistinctShingles
          .distinctShingles(col("text")), s => xxhash64(s))).as("shs")))
    }
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val model = Pca.fit(emb, "embedding", 64, k = 4, scale = 1000)
    // the A/B that decided dropNearDuplicates' staged shape: the inline
    // form checkpoints the pair set and the semi-pruned verification sets
    // (both bounded by the candidate set, never the corpus) instead of
    // re-deriving the signature pipeline per band leg and the shingle
    // sets per join side
    time("dropNearDups: operator") {
      noop(Dedup.dropNearDuplicates(docs, "text", "doc_id", 0.8))
    }
    time("dropNearDups: inline staged form") {
      val p = Dedup.repCandidatePairs(docs, "text", "doc_id", 8, 2, 1000)
        .localCheckpoint(true)
      val ids = p.select(col("doc_a").as("doc_id"))
        .union(p.select(col("doc_b").as("doc_id"))).distinct()
      val need = Dedup.distinctShingleSets(
        docs.join(ids, Seq("doc_id"), "left_semi"), "text", "doc_id")
        .localCheckpoint(true)
      val uni = (col("n_a") + col("n_b") - col("inter")).cast("double")
      val dropped = p
        .join(need.select(col("doc_id").as("doc_a"), col("shs").as("sh_a"),
          col("nsh").as("n_a")), "doc_a")
        .join(need.select(col("doc_id").as("doc_b"), col("shs").as("sh_b"),
          col("nsh").as("n_b")), "doc_b")
        .select(col("doc_b").as("dropped_id"), col("n_a"), col("n_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
        .filter(when(uni > 0, col("inter").cast("double") / uni)
          .otherwise(lit(0.0)) >= 0.8)
        .select(col("dropped_id").as("doc_id")).distinct()
      noop(docs.join(dropped, Seq("doc_id"), "left_anti"))
      graft.ops.Lineage.release(p); graft.ops.Lineage.release(need)
    }
    time("pca project: kernel (no join)") {
      noop(Pca.project(emb, "vec_id", "embedding", model))
    }
    time("pca project: ref (broadcast crossJoin + zip_with)") {
      noop(Pca.projectRef(emb, "vec_id", "embedding", model))
    }
  }
}
