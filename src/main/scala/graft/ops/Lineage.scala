package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Materialization + release discipline for ITERATIVE operators
  * ([[Graph.connectedComponents]], [[Graph.connectedComponentsStar]],
  * [[Graph.pageRankInt]], [[KMeans]]'s Lloyd loop).
  *
  * An iterative op truncates lineage each round with an eager checkpoint so
  * plan depth stays constant — but a checkpoint's blocks are NOT
  * recomputable (the lineage is gone), so they must be released
  * DELIBERATELY, exactly when the successor round has materialized and
  * nothing lazy still reads them. Relying on LRU eviction instead is wrong
  * twice over at scale: O(log n) rounds of edge-set-sized block sets pile
  * up in the storage layer squeezing execution memory, and when the LRU
  * finally evicts a still-referenced local checkpoint the job FAILS
  * (checkpoint block lost ≠ cache miss).
  *
  * `materialize` also carries the reliable-checkpoint upgrade path: local
  * checkpoints die with an executor, so long multi-hour iterative jobs on a
  * real cluster pass a `checkpointDir` and get HDFS-backed `checkpoint()`
  * semantics — same call shape, executor-loss-proof (the upgrade documented
  * at [[Graph]]'s scale notes, now actionable by callers).
  */
object Lineage {

  /** Optional reliable-checkpoint location for iterative ops. `None` (the
    * default everywhere) = eager `localCheckpoint`: fastest, blocks live in
    * executor storage, lost if an executor dies. `Some(dir)` = eager
    * reliable `checkpoint()` into `dir` (set on the SparkContext once):
    * survives executor loss — the right choice for multi-hour iterative
    * jobs on a shared cluster.
    */
  type CheckpointDir = Option[String]

  /** Eagerly materialize `df` with truncated lineage: `localCheckpoint` by
    * default, reliable `checkpoint` when `dir` is given.
    */
  def materialize(df: DataFrame, dir: CheckpointDir = None): DataFrame = dir match {
    case Some(d) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir is idempotent for our purposes; only set it when
      // unset so a caller-configured cluster-wide dir wins
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
      df.checkpoint(eager = true)
    case None => df.localCheckpoint(eager = true)
  }

  /** Release the storage behind a frame produced by [[materialize]] (or a
    * bare `localCheckpoint`) once it is SUPERSEDED — i.e. the next round's
    * frame has eagerly materialized and no lazy plan still reads this one.
    * No-op for any other plan shape, so callers can pass frames
    * unconditionally. Non-blocking: the block manager reclaims
    * asynchronously while the next round proceeds.
    *
    * (Reliable checkpoints keep their files — `unpersist` only drops the
    * block-manager replicas; the checkpoint files are cleaned by the
    * ContextCleaner under `spark.cleaner.referenceTracking.cleanCheckpoints`
    * once the RDD is unreferenced.)
    */
  def release(df: Dataset[_]): Unit = df match {
    case d: ClassicDataset[_] => d.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    case _ => ()
  }

  /** Runs `body`, then restores the caller's job description — also when
    * `body` throws. Multi-job ops label their own jobs for the listener
    * and the UI; resetting to null on the way out would wipe the caller's
    * label, and skipping the reset on a throw would leak the op's last
    * label into the caller's next jobs.
    */
  def keepingJobDescription[A](sc: SparkContext)(body: => A): A = {
    val caller = sc.getLocalProperty("spark.job.description")
    try body finally sc.setJobDescription(caller)
  }
}
