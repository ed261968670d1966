package graft.ops

import org.apache.spark.sql.SparkSession

/** Rename-as-commit persistence for EVERY externalized model (r19 — the
  * [[Dsir]] publish protocol generalized and shared by [[Ivf]], [[Pca]],
  * [[Classifier]]): a model that serves a gate is usually several parquet
  * tables that are ONE model — publishing them as independent in-place
  * overwrites opens two silent-wrongness windows that `mode("overwrite")`
  * cannot close:
  *
  *  - a crash BETWEEN the table writes leaves table A from the new model
  *    next to table B from the old one (new IVF assignments against old
  *    centroids, new PCA components against an old mean, new λ against a
  *    stale cutoff) — each table individually complete, so no row-level
  *    check catches the mix;
  *  - overwrite itself is delete-then-write, so a crash MID-write leaves
  *    a partial table a later read serves as silently wrong scores.
  *
  * The protocol (a rename-as-commit with a claim token and a
  * commit-generation token):
  *
  *  1. claim the publish (`_graft_pubclaim` := nonce) FIRST, and only
  *     then heal staging debris of crashed publishes — a LIVE competitor
  *     whose staging the heal deletes refuses at its own claim re-check
  *     (the token already moved), so the heal can never turn a racing
  *     save into a committed partial model;
  *  2. stage every table under `_graft_staging_<nonce>/` — invisible;
  *  3. RE-CHECK the claim just before committing — a concurrent
  *     publisher's claim moves the token and the loser refuses LOUDLY
  *     with its staging discarded (single-publisher, enforced; the
  *     residual is the tiny re-check→rename gap, and since r20 even a
  *     publish racing INSIDE that gap cannot commit silently: the later
  *     claimant's heal deletes the earlier publisher's staging, so the
  *     earlier rename fails loudly and the later model — complete —
  *     wins; every interleaving ends in one complete committed model
  *     plus at most one loud refusal);
  *  4. bump `_graft_pubgen` (the commit generation) — readers whose
  *     table reads straddle the swap see the moved token and retry;
  *  5. move any `current/` aside, rename the staging to `current/` —
  *     THE commit, one atomic directory rename;
  *  6. bump `_graft_pubgen` AGAIN — the settled token must differ from
  *     any value observable mid-swap, or a generation-keyed serving
  *     cache that loaded entirely inside the window caches the old
  *     model under the final token and never reloads;
  *  7. clean up: the moved-aside copy, older `_graft_prev_` debris
  *     (kept until now — after a crash between 5's two renames the prev
  *     copy is the ONLY intact model anywhere), and the caller's legacy
  *     flat tables (dirs via `legacyNames`, root files via
  *     `legacyFiles`).
  *
  * [[read]] is the matching consistent reader: generation before,
  * caller's reads, generation re-check after, bounded retry when a
  * publish verifiably raced (or the read caught the brief no-`current/`
  * window between the two renames); stable states — truly absent,
  * legacy, or corrupt models — surface loudly on the first attempt.
  */
object ModelStore {
  val CurrentDir = "current"
  val StagingPrefix = "_graft_staging_"
  val PrevPrefix = "_graft_prev_"
  val PubClaimFile = "_graft_pubclaim"
  val PubGenFile = "_graft_pubgen"

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  private def readToken(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    if (!fs.isFile(p)) ""
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** Atomic token write: temp file + rename-with-OVERWRITE (atomic on
    * HDFS and posix) — an in-place truncating create could be read
    * half-written.
    */
  private def writeToken(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, v: String): Unit = {
    val tmp = p.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The committed model's publish generation — moves on every
    * [[publish]]. Streaming servers poll this (one tiny token read, no
    * parquet) to hot-reload a serving gate without a query restart.
    * Empty string for a path never published by this protocol.
    */
  def generation(spark: SparkSession, path: String): String =
    readToken(fsOf(spark, path), hp(s"$path/$PubGenFile"))

  /** Publish atomically: `writeStaging(stagingDir)` writes every table of
    * the model UNDER the given (invisible) staging dir; the commit is one
    * directory rename to `current/`. `what` names the model family in
    * refusal messages ("DSIR", "IVF index", ...); `legacyNames` are the
    * caller's pre-atomic flat table dirs, cleared AFTER the commit so a
    * reader can never confuse them for the model; `legacyFiles` extends
    * that to loose FILES a pre-atomic layout left at the path root
    * (matched by name; protocol tokens are exempt). `beforeCommit` is a
    * forged-race seam for specs (runs after staging, before the claim
    * re-check); production callers leave it defaulted.
    */
  /** `afterGenBump` is the second forged-race seam (specs only): it runs
    * inside the bump→rename window — after the pre-commit generation
    * bump, before the renames — the exact span where a hot-serving load
    * observes the moved token against the OLD `current/`.
    */
  def publish(spark: SparkSession, path: String, what: String,
      legacyNames: Seq[String] = Nil, beforeCommit: () => Unit = () => (),
      legacyFiles: String => Boolean = _ => false,
      afterGenBump: () => Unit = () => ())
      (writeStaging: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val root = hp(path)
    fs.mkdirs(root)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val claim = hp(s"$path/$PubClaimFile")
    // claim FIRST, heal staging debris second (r20): deleting staging
    // before claiming could destroy a LIVE concurrent publisher's
    // in-progress staging — its parquet job recreates the dir, its claim
    // re-check passes (we hadn't claimed yet), and it commits a
    // partially-deleted staging as current/. With the claim already
    // written, any publisher whose staging we delete refuses at its own
    // re-check (the token moved) — debris of a CRASHED publish is still
    // healed, a live loser refuses loudly, never commits a partial model.
    writeToken(spark, fs, claim, nonce)
    fs.listStatus(root).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(StagingPrefix) && n != s"$StagingPrefix$nonce"
      }
      .foreach(p => fs.delete(p, true))
    val staging = hp(s"$path/$StagingPrefix$nonce")
    writeStaging(staging.toString)
    beforeCommit()
    // single-publisher re-check: a competing publish moved the claim
    // while we were staging — refuse loudly, never race the renames
    val claimNow = readToken(fs, claim)
    if (claimNow != nonce) {
      fs.delete(staging, true)
      throw new java.util.ConcurrentModificationException(
        s"concurrent $what publish at $path: this save claimed '$nonce' but " +
          s"the claim now reads '$claimNow' — another publisher is mid-save " +
          "(single-publisher contract); this save's staging was discarded, " +
          "the competing model will be complete; coordinate publishers or " +
          "rerun after the other save finishes")
    }
    val current = hp(s"$path/$CurrentDir")
    val prev = hp(s"$path/$PrevPrefix$nonce")
    // bump the commit generation BEFORE any live mutation: a read whose
    // table fetches straddle the swap (or catch the brief no-current
    // window between the two renames) sees the moved token and retries
    writeToken(spark, fs, hp(s"$path/$PubGenFile"),
      java.util.UUID.randomUUID().toString)
    afterGenBump()
    if (fs.exists(current) && !fs.rename(current, prev))
      throw new java.io.IOException(
        s"could not move aside the previous model at $current")
    if (!fs.rename(staging, current))
      throw new java.io.IOException(
        s"could not publish $staging as $current — the previous model " +
          s"is intact at $prev; rerun save")
    fs.delete(prev, true)
    // second generation bump AFTER the renames (r20): the pre-commit bump
    // wrote the FINAL token value, so a hot-serving cache whose load ran
    // entirely inside the bump→rename window cached the OLD model under a
    // token indistinguishable from steady state — stale FOREVER. With a
    // fresh post-commit value, any token observed during the window
    // differs from the settled one, so generation-keyed caches re-detect
    // the move at their next read (staleness bounded by one batch, the
    // same bound as the benign pre-publish read).
    writeToken(spark, fs, hp(s"$path/$PubGenFile"),
      java.util.UUID.randomUUID().toString)
    // post-commit cleanup (the new current supersedes everything)
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(PrevPrefix))
      .foreach(p => fs.delete(p, true))
    legacyNames.foreach(n => fs.delete(hp(s"$path/$n"), true))
    // pre-atomic layouts that wrote FILES at the path root (the r19
    // classifier) — protocol tokens are never eligible regardless of the
    // caller's predicate
    fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_graft_") &&
        legacyFiles(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** A failure shape the mid-commit window produces: `current/` (or a
    * file under it) absent between publish's two renames. Message- and
    * type-based because Spark wraps the FileNotFound in AnalysisException
    * ("Path does not exist") at read-planning time.
    *
    * The missing-file shapes are AMBIGUOUS (r20):
    * a STABLE corrupt model — a table missing inside a committed
    * `current/` — produces the same FileNotFound, and retrying it only
    * delays the loud refusal. [[read]] disambiguates with a live check:
    * the window's defining symptom is `current/` itself being absent
    * (between the renames) — if `current/` exists and the generation
    * holds still, the failure is stable and surfaces on the first
    * attempt. (A rename landing after the FNF but before the check is
    * caught by the generation clause: the post-commit second bump moves
    * the token.)
    */
  private def isMidCommit(spark: SparkSession, path: String,
      t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        (c.isInstanceOf[IllegalStateException] &&
          Option(c.getMessage).exists(_.contains("crashed mid-publish"))) ||
        Option(c.getMessage).exists(m =>
          m.contains("Path does not exist") || m.contains("PATH_NOT_FOUND"))
    } && !fsOf(spark, path).exists(hp(s"$path/$CurrentDir"))

  /** Consistent read of the committed model: `readCurrent(currentDir)`
    * performs every table read; the publish generation is checked around
    * them and the whole closure retries (bounded) when a publish
    * verifiably raced. Refuses loudly — with the heal spelled out — a
    * crashed publish (naming the intact moved-aside copy), a pre-atomic
    * flat layout (`isLegacy` over the dir's entry names; re-save
    * pointer), or an absent model. Validation belongs INSIDE
    * `readCurrent` (e.g. [[Dsir.load]]'s exactly-one-λ-row-per-bucket
    * check) — it runs after the reads but before the generation
    * re-check accepts them... and since a corrupt table is a STABLE
    * state, its loud failure passes straight through the retry guard.
    */
  def read[T](spark: SparkSession, path: String, what: String,
      isLegacy: Seq[String] => Boolean = _ => false)
      (readCurrent: String => T): T = {
    val fs = fsOf(spark, path)
    val genPath = hp(s"$path/$PubGenFile")
    val MaxAttempts = 4
    var attempt = 0
    while (true) {
      attempt += 1
      val gen0 = readToken(fs, genPath)
      try return readOnce(spark, path, what, isLegacy, gen0, readCurrent)
      catch {
        // retry ONLY when a publish verifiably raced this read (the
        // generation moved) or the read caught the mid-commit window;
        // stable states — truly absent/corrupt models — rethrow loudly
        case t: Throwable if attempt < MaxAttempts &&
            (readToken(fs, genPath) != gen0 || isMidCommit(spark, path, t)) =>
          Thread.sleep(50L * attempt)
      }
    }
    sys.error("unreachable")
  }

  private def readOnce[T](spark: SparkSession, path: String, what: String,
      isLegacy: Seq[String] => Boolean, gen0: String,
      readCurrent: String => T): T = {
    val fs = fsOf(spark, path)
    val current = hp(s"$path/$CurrentDir")
    if (!fs.exists(current)) {
      val names =
        if (fs.exists(hp(path))) fs.listStatus(hp(path)).map(_.getPath.getName).toSeq
        else Seq.empty
      val prevs = names.filter(_.startsWith(PrevPrefix))
      if (prevs.nonEmpty) throw new IllegalStateException(
        s"no committed $what at $path — a save crashed mid-publish; " +
          s"the previous model is intact under ${prevs.mkString(", ")}: " +
          "rerun save (which heals the debris) or rename it to 'current'")
      else if (isLegacy(names)) throw new IllegalStateException(
        s"$what at $path uses a pre-atomic unversioned layout (flat " +
          "in-place-overwritten tables: a crash between or during the " +
          "writes can serve a mixed or partial model) — re-save the " +
          "model to adopt the atomic current/ layout")
      else throw new IllegalStateException(
        s"no $what at $path — save one first" +
          (if (names.isEmpty) "" else s" (found: ${names.mkString(", ")})"))
    }
    val out = readCurrent(current.toString)
    // consistency gate: a commit landing between two of the closure's
    // table reads pairs tables from different models — each individually
    // complete, so only the generation detects it
    require(readToken(fs, hp(s"$path/$PubGenFile")) == gen0,
      s"a $what publish at $path raced this load — the table reads may " +
        "mix models; RETRY the load (the new model is complete)")
    out
  }
}
