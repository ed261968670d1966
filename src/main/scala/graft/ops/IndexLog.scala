package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One version of an incremental index — the WHOLE state a reader needs:
  *  - `meta`: the baked parameters (k/bands/hashed, or dim/planes/
  *    quantized), plus `base_upto` / `base_buckets` once promoted;
  *  - `parts`: per table, batch id → its data paths (relative to the
  *    index dir); `batch = -1` is the compacted base;
  *  - `bases`: per table, the promoted catalog table and its data dir.
  */
private[graft] final case class IndexSnapshot(version: Long,
    meta: Map[String, String],
    parts: Map[String, Map[Int, Seq[String]]] = Map.empty,
    bases: Map[String, (String, String)] = Map.empty) {

  def batches(table: String): Map[Int, Seq[String]] =
    parts.getOrElse(table, Map.empty)

  def paths: Set[String] =
    parts.values.flatMap(_.values.flatten).toSet ++ bases.values.map(_._2)

  def withPart(table: String, batch: Int, dir: String): IndexSnapshot =
    copy(parts = parts.updated(table, batches(table).updated(batch, Seq(dir))))
}

/** The manifest log of an incremental index dir: `_graft_log/<N>` holds
  * version N, the Delta-Lake-transaction-log idea without the jar. It is
  * the index's ONE commit point:
  *
  *  - a writer builds version N+1 from the N it read and [[commit]]s it;
  *    if N+1 already exists another writer won, and this one refuses
  *    with a `ConcurrentModificationException` (its data stays unlisted);
  *  - a reader pins one version and reads exactly its listed data
  *    ([[read]]); listed data is never overwritten — every write goes to
  *    a fresh `<table>/batch=N/w-<uuid>` dir — so a pinned read needs no
  *    re-check, no retry, and never refuses during maintenance;
  *  - deletion waits one version: a path is deleted only when neither the
  *    new version nor its predecessor lists it, so a reader pinned one
  *    version back still reads;
  *  - a batch written but never committed (a crash, a lost race) is on
  *    disk but in no version: probes never see it, and the write path
  *    refuses to append or fold past it until it is replayed
  *    ([[requireNoUncommitted]]).
  */
private[graft] object IndexLog {
  val Dir = "_graft_log"

  /** Table dirs either twin may write — data in one of them without a
    * version marks an index written before the log existed.
    */
  val TableDirs = Seq("bands", "shingles", "buckets", "vectors")

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(indexDir: String) = new Path(indexDir, Dir)

  def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def versions(fs: FileSystem, indexDir: String): Seq[Long] =
    try fs.listStatus(logDir(indexDir)).toSeq
      .flatMap(_.getPath.getName.toLongOption).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  private def render(s: IndexSnapshot): String = {
    val meta = s.meta.toSeq.sorted.map { case (k, v) => s"meta\t$k\t$v" }
    val parts = for ((t, bs) <- s.parts.toSeq.sortBy(_._1);
                     (b, ps) <- bs.toSeq.sortBy(_._1))
      yield (Seq("part", t, b.toString) ++ ps).mkString("\t")
    val bases = s.bases.toSeq.sorted.map { case (t, (n, d)) => s"base\t$t\t$n\t$d" }
    (meta ++ parts ++ bases).mkString("", "\n", "\n")
  }

  private def readVersion(fs: FileSystem, indexDir: String, v: Long): IndexSnapshot = {
    val in = fs.open(new Path(logDir(indexDir), v.toString))
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("\n").iterator.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
      .foldLeft(IndexSnapshot(v, Map.empty)) {
        case (s, Seq("meta", k, x)) => s.copy(meta = s.meta.updated(k, x))
        case (s, "part" +: t +: b +: ps) =>
          s.copy(parts = s.parts.updated(t, s.batches(t).updated(b.toInt, ps)))
        case (s, Seq("base", t, n, d)) => s.copy(bases = s.bases.updated(t, n -> d))
        case (_, l) => throw new IllegalStateException(
          s"unreadable line in $indexDir/$Dir/$v: ${l.mkString("\t")}")
      }
  }

  def latest(spark: SparkSession, indexDir: String): Option[IndexSnapshot] = {
    val fs = fsOf(spark, indexDir)
    versions(fs, indexDir).lastOption.map(readVersion(fs, indexDir, _))
  }

  /** The latest version, or the empty pre-first-write state (version -1)
    * of a dir with no index data. Data without a version is refused: it
    * predates the log (adopt it with `markLegacyCommitted`) or lost it,
    * and serving it unlisted would silently match nothing.
    */
  def current(spark: SparkSession, indexDir: String): IndexSnapshot =
    latest(spark, indexDir).getOrElse {
      val fs = fsOf(spark, indexDir)
      val data = TableDirs.map(new Path(indexDir, _))
        .filter(p => fs.exists(p) && fs.listStatus(p).nonEmpty)
      require(data.isEmpty,
        s"index at $indexDir holds data (${data.map(_.getName).mkString(", ")}) " +
          s"but no $Dir version — an index written before the manifest log " +
          "(adopt it with markLegacyCommitted) or one that lost its log " +
          "(rebuild it from the corpus, MIGRATION.md)")
      IndexSnapshot(-1, Map.empty)
    }

  /** The version a caller works on, its baked parameters checked against
    * `params`. A fresh dir refuses a reader (nothing to probe) and gives a
    * writer version 0, which pins `params` before any data is written.
    */
  def pin(spark: SparkSession, indexDir: String, params: Map[String, String],
      hint: String, create: Boolean): IndexSnapshot = {
    val s = current(spark, indexDir)
    if (s.version >= 0) { requireMatch(indexDir, s.meta, params, hint); s }
    else if (create) commit(spark, indexDir, s, IndexSnapshot(0, params))
    else throw new IllegalStateException(
      s"no index at $indexDir to probe — build one with addBatch first")
  }

  /** The parameter pin: every expected key must be PRESENT, not merely
    * non-conflicting — the other twin's (or a pre-parameter) index holds
    * none of this caller's keys, and a get-or-default comparison would
    * pass vacuously, read empty tables and silently keep every row.
    */
  def requireMatch(indexDir: String, meta: Map[String, String],
      expected: Map[String, String], hint: String): Unit = {
    val missing = expected.keys.filterNot(meta.contains).toSeq.sorted
    require(missing.isEmpty,
      s"index meta at $indexDir lacks ${missing.mkString(", ")} — the dir " +
        "was built by a different index type (or a pre-parameter layout); " +
        hint)
    val diff = expected.filter { case (k, v) => !meta.get(k).contains(v) }
    require(diff.isEmpty,
      s"index at $indexDir was built with ${meta.view.filterKeys(expected.contains).toMap}, " +
        s"this call presented $expected — $hint")
  }

  /** A fresh data dir for one batch of one table (relative path). */
  def newDir(table: String, batch: Int): String =
    s"$table/batch=$batch/w-${java.util.UUID.randomUUID()}"

  /** One table of a pinned version, batches below `below` only: exactly
    * the listed paths. `batch` stays the partition column (parsed from
    * the `batch=N` dirs), so the selection prunes at planning.
    */
  def read(spark: SparkSession, indexDir: String, snap: IndexSnapshot,
      table: String, schemaDdl: String, below: Int): DataFrame = {
    val paths = snap.batches(table).toSeq.filter(_._1 < below)
      .flatMap(_._2).map(p => new Path(indexDir, p).toString)
    if (paths.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType.fromDDL(s"$schemaDdl, batch int"))
    // explicit schema: an empty batch may write a footerless dir
    else spark.read.schema(s"$schemaDdl, batch int")
      .option("basePath", s"$indexDir/$table").parquet(paths: _*)
  }

  private def batchDirs(fs: FileSystem, indexDir: String, table: String): Seq[Int] =
    try fs.listStatus(new Path(indexDir, table)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch=")).flatMap(_.stripPrefix("batch=").toIntOption)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Refuse when a table holds data of a batch in [0, below) that no
    * version on disk lists: its addBatch crashed (or lost a commit race)
    * before committing. The single writer must replay that id before
    * appending past it or folding it into a base — one listing per table.
    */
  def requireNoUncommitted(spark: SparkSession, indexDir: String,
      tables: Seq[String], below: Int): Unit = {
    val fs = fsOf(spark, indexDir)
    val listed = versions(fs, indexDir).map(readVersion(fs, indexDir, _))
    tables.foreach { t =>
      val known = listed.flatMap(_.batches(t).keys).toSet
      val orphans = batchDirs(fs, indexDir, t)
        .filter(b => b >= 0 && b < below && !known(b)).sorted
      require(orphans.isEmpty,
        s"index at $indexDir/$t holds data from UNCOMMITTED batch(es) " +
          s"${orphans.mkString(", ")} — their addBatch crashed before its " +
          "commit; replay those batch ids (same data, same id) before " +
          "appending past them, or their missing signatures would silently " +
          "under-drop")
    }
  }

  /** Create version `from.version + 1` holding `to`'s state, then collect
    * what no retained version lists. Returns the committed version.
    */
  def commit(spark: SparkSession, indexDir: String, from: IndexSnapshot,
      to: IndexSnapshot): IndexSnapshot = {
    val fs = fsOf(spark, indexDir)
    val next = to.copy(version = from.version + 1)
    publish(fs, indexDir, next.version, render(next).getBytes(UTF_8))
    collect(spark, fs, indexDir, from, next)
    next
  }

  /** Atomically create `_graft_log/<v>` iff it does not exist, from a
    * COMPLETE temp file. Hadoop's local `create(overwrite = false)` and
    * `rename` are check-then-act, so on `file:` the temp is hard-linked
    * into place (`link(2)` fails on an existing name); elsewhere it is
    * `FileSystem.rename`d to the fresh name, which is atomic on HDFS.
    */
  private def publish(fs: FileSystem, indexDir: String, v: Long,
      bytes: Array[Byte]): Unit = {
    val won =
      if (fs.getScheme == "file") {
        import java.nio.file.{FileAlreadyExistsException, Files, Paths}
        val dir = Files.createDirectories(
          Paths.get(fs.makeQualified(logDir(indexDir)).toUri))
        val tmp = Files.createFile(dir.resolve(s".tmp-${java.util.UUID.randomUUID()}"))
        try {
          Files.write(tmp, bytes)
          Files.createLink(dir.resolve(v.toString), tmp)
          true
        } catch { case _: FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp)
      } else {
        val tmp = new Path(logDir(indexDir), s".tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        fs.rename(tmp, new Path(logDir(indexDir), v.toString)) ||
          { fs.delete(tmp, false); false }
      }
    if (!won) throw new java.util.ConcurrentModificationException(
      s"index at $indexDir: version $v was committed by another writer " +
        s"after this one read version ${v - 1}; this write is not listed — " +
        "re-read the index and redo it")
  }

  /** Deletion waits one version: versions below `from` are dropped, and
    * with them every path and catalog table that neither `from` nor
    * `next` lists. Earlier, never-listed attempts at the batches `next`
    * rewrote (a crashed or losing write of the same id) go too.
    */
  private def collect(spark: SparkSession, fs: FileSystem, indexDir: String,
      from: IndexSnapshot, next: IndexSnapshot): Unit = {
    val keep = from.paths ++ next.paths
    val keepTables = (from.bases.values ++ next.bases.values).map(_._1).toSet
    def remove(rel: String): Unit = {
      val p = new Path(indexDir, rel)
      fs.delete(p, true)
      val parent = p.getParent
      if (parent.getName.startsWith("batch=") && fs.exists(parent) &&
          fs.listStatus(parent).forall(s => hidden(s.getPath.getName)))
        fs.delete(parent, true)
    }
    versions(fs, indexDir).filter(_ < from.version).foreach { v =>
      val old = readVersion(fs, indexDir, v)
      old.bases.values.map(_._1).filterNot(keepTables)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")) // external: data stays
      (old.paths -- keep).foreach(remove)
      fs.delete(new Path(logDir(indexDir), v.toString), false)
    }
    for ((t, bs) <- next.parts; (b, ps) <- bs
         if !from.batches(t).get(b).contains(ps);
         d = new Path(indexDir, s"$t/batch=$b") if fs.exists(d))
      fs.listStatus(d).map(_.getPath.getName)
        .filterNot(n => hidden(n) || keep(s"$t/batch=$b/$n"))
        .foreach(n => remove(s"$t/batch=$b/$n"))
    // likewise the bases of an earlier promote/rebucket attempt
    if (next.bases != from.bases) {
      val prefix = IndexBase.tablePrefix(indexDir)
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith(prefix) && !keepTables(n))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      fs.listStatus(new Path(indexDir)).map(_.getPath.getName)
        .filter(n => n.contains("_base_") && !keep(n)).foreach(remove)
    }
  }
}

/** Adoption of an index written before the manifest log — the previous
  * layout: parameters in a `_graft_meta` file, batch partitions holding
  * parquet files directly, promoted bases named by `<table>_table` meta
  * keys. `markLegacyCommitted` lists it as version 0 after verifying, in
  * code, what the log would otherwise take on trust.
  */
private[graft] object LegacyIndex {
  private val Twins = Seq("bands" -> "shingles", "buckets" -> "vectors")

  /** The PROBE table of each twin must physically store its rank column:
    * a pre-rank layout read through the declared schema yields NULL
    * ranks, the `rank <= maxReps` representative filter then excludes
    * every indexed doc, and the probe silently keeps all duplicates.
    */
  private val ProbeRankTables = Set("bands", "buckets")

  /** What the previous layout's commit protocols leave behind inside an
    * unfinished operation: adopting around it would list a half-swapped
    * table.
    */
  private val Debris = Seq("_graft_meta.tmp", "_graft_swapgen.tmp",
    "_graft_rebucket_inprogress", "buckets__rebucket_commit",
    "buckets__rebucket_staging") ++ IndexLog.TableDirs.flatMap(t =>
      Seq(s"${t}__compact_commit", s"${t}__compact_staging"))

  def adopt(spark: SparkSession, indexDir: String): Unit = {
    if (IndexLog.latest(spark, indexDir).isDefined) return // already on the log
    val fs = IndexLog.fsOf(spark, indexDir)
    val debris = Debris.filter(n => fs.exists(new Path(indexDir, n)))
    require(debris.isEmpty,
      s"index at $indexDir holds debris of an unfinished operation " +
        s"(${debris.mkString(", ")}) — finish it with the release that " +
        "started it, or rebuild the index; adopting it would list a " +
        "half-swapped table")
    val metaFile = new Path(indexDir, "_graft_meta")
    require(fs.isFile(metaFile),
      s"index at $indexDir has no _graft_meta — a pre-parameter layout " +
        "may lack the stored rank column; rebuild it (MIGRATION.md)")
    val in = fs.open(metaFile)
    val meta = try new String(in.readAllBytes(), UTF_8).split("\n").iterator
      .map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      finally in.close()
    // batches a promoted base folded are served from the base, not listed
    val low = meta.get("base_upto").map(_.toInt).getOrElse(Int.MinValue)
    def files(t: String, b: Int): Seq[String] =
      fs.listStatus(new Path(indexDir, s"$t/batch=$b")).toSeq
        .filter(s => s.isFile && !IndexLog.hidden(s.getPath.getName))
        .map(s => s"$t/batch=$b/${s.getPath.getName}")
    def batchesOf(t: String): Option[Set[Int]] = {
      val r = new Path(indexDir, t)
      if (!fs.exists(r)) None
      else Some(fs.listStatus(r).iterator.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(_.stripPrefix("batch=").toIntOption)
        .filter(_ >= low).toSet)
    }
    val parts = Twins.flatMap { case (a, b) =>
      (batchesOf(a), batchesOf(b)) match {
        case (None, None) => Nil // this twin never wrote here
        case (oa, ob) =>
          val sa = oa.getOrElse(Set.empty[Int])
          val sb = ob.getOrElse(Set.empty[Int])
          val oneSided = (sa diff sb) ++ (sb diff sa)
          require(oneSided.isEmpty,
            s"legacy index at $indexDir is NOT sound: batch(es) " +
              s"${oneSided.toSeq.sorted.mkString(", ")} present in only one " +
              s"of $a/$b — their original write crashed between the two " +
              "table appends; replay those batch ids first, then rerun " +
              "markLegacyCommitted (listing them now would bake in the " +
              "silent under-drop)")
          if (ProbeRankTables(a)) {
            // a footerless (empty) partition holds no rows to mis-rank
            val rankless = sa.toSeq.sorted.filter { bt =>
              val fsx = files(a, bt)
              fsx.nonEmpty && !spark.read.parquet(fsx.map(new Path(indexDir, _).toString): _*)
                .schema.fieldNames.contains("rank")
            }
            require(rankless.isEmpty,
              s"legacy index at $indexDir predates the stored rank column: " +
                s"$a batch(es) ${rankless.mkString(", ")} hold no 'rank' " +
                "field — read through the declared schema they rank NULL, " +
                "the representative filter excludes every indexed doc, and " +
                "probes silently keep all duplicates; rebuild those batches " +
                "(replay their ids), then rerun markLegacyCommitted")
          }
          Seq(a -> sa.map(bt => bt -> files(a, bt)).toMap,
            b -> sb.map(bt => bt -> files(b, bt)).toMap)
      }
    }.toMap
    val tableKeys = IndexLog.TableDirs.map(t => s"${t}_table")
    val bases = for (t <- IndexLog.TableDirs; name <- meta.get(s"${t}_table")) yield {
      require(spark.catalog.tableExists(name),
        s"promoted base table $name missing from the catalog — rebuild the index")
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name)).location
      t -> (name -> new Path(loc).getName)
    }
    IndexLog.commit(spark, indexDir, IndexSnapshot(-1, Map.empty),
      IndexSnapshot(0, meta -- tableKeys, parts, bases.toMap))
  }
}
