package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.ops.Dedup

/** K1–K7 (SURVEY.md §2.2): sinks, including the two patterns Spark
  * cannot express directly — overwriting an input in place, and
  * MERGE-by-id state updates over plain parquet (SURVEY §7.5.2).
  */
object Sinks {

  /** K1/K4 — read-then-overwrite state file (ref data.jsonl rewrite,
    * transcribe_council.py:96→106): write to a staging dir, then
    * atomically swap. Spark refuses to overwrite a path it is reading;
    * the staging swap also makes a crashed job leave the old state
    * intact (the reference's crash-safety property). */
  def overwriteInPlace(df: DataFrame, path: String,
      format: String = "parquet", partitionBy: Seq[String] = Nil): Unit = {
    val staging = path + ".staging"
    val w = df.write.mode(SaveMode.Overwrite).format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(staging)
    promoteStaging(df.sparkSession, path)
  }

  /** The K1 rename sequence on its own: promote `path + ".staging"`
    * over `path` behind the `.old` backup. Callers that need extra
    * files inside the staged tree BEFORE it goes live (e.g. the PQ
    * index compactor carrying the streaming sink's `_committed_batch_*`
    * markers, so no crash window can lose them) write the staging dir
    * themselves and then promote through here — one swap
    * implementation, not N hand-rolled rename sequences. */
  def promoteStaging(spark: SparkSession, path: String): Unit = {
    val staging = path + ".staging"
    val backup = path + ".old"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val b = new Path(backup)
    // A stale backup is deleted ONLY while the live path exists; when
    // the live path is missing (recovering a crash between renames),
    // the backup is the only durable copy and must survive until the
    // new promote succeeds.
    if (fs.exists(p)) {
      if (fs.exists(b)) fs.delete(b, true)
      if (!fs.rename(p, b))
        throw new java.io.IOException(s"staging swap: could not move $p aside")
    }
    if (!fs.rename(new Path(staging), p)) {
      // roll the backup straight back so state never dangles
      if (fs.exists(b)) fs.rename(b, p)
      throw new java.io.IOException(s"staging swap: could not promote $staging")
    }
    if (fs.exists(b)) fs.delete(b, true)
  }

  /** Read a swap-managed state path, recovering from a crash that died
    * between the two renames (state missing, `.old` present). */
  def readStateOrBackup(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(statePath))) Some(spark.read.parquet(statePath))
    else if (fs.exists(new Path(statePath + ".old")))
      Some(spark.read.parquet(statePath + ".old"))
    else None
  }

  /** Complete an interrupted staging swap: if the live path is missing
    * but the `.old` backup exists (a crash died between
    * `overwriteInPlace`'s two renames), promote the backup back to
    * the live path. Idempotent, no-op when the live path exists.
    * Every op that touches swap-managed state through a BARE path
    * read (or an existence check) must call this first — otherwise a
    * crashed rewrite reads as "no store", a fresh append rebuilds a
    * store holding only that batch, and the next rewrite deletes the
    * backup that held the real one. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val b = new Path(path + ".old")
    if (!fs.exists(p) && fs.exists(b) && !fs.rename(b, p))
      throw new java.io.IOException(
        s"swap recovery: could not restore $b to $p")
  }

  /** Partial-rewrite commit for a bucket-partitioned swap-managed
    * store: replace ONLY the `affected` bucket partitions of `path`
    * with the matching partitions of `newContent`, leaving every
    * other bucket directory physically untouched — same files, same
    * bytes (spec-asserted). This is what makes an incremental merge
    * cost O(touched buckets) instead of O(store): the K1 whole-store
    * swap rewrites the corpus-sized table per batch by construction.
    *
    * Crash story (the K1 swap generalized to many directories):
    *  1. staged data fully materializes under `path + ".bstaging"`
    *     (a normal partitioned write — crash here leaves the live
    *     store untouched);
    *  2. an intent manifest (`path + ".bswap"`, written to a temp
    *     file and renamed into place atomically) records every
    *     affected bucket dir and whether it had prior data;
    *  3. each affected live dir is moved aside to `path + ".bold"`,
    *     then its staged dir renamed in (renames are atomic; a
    *     bucket whose new content is empty simply has no staged dir
    *     and ends removed — its rows moved to other buckets);
    *  4. the manifest is deleted LAST — the commit point — then the
    *     backups and staging are cleaned up.
    *
    * `recoverBucketSwap` rolls a manifest-present store BACK to its
    * exact pre-swap state (backups restored, staged-in dirs of
    * previously-absent buckets removed), so a crash anywhere in the
    * sequence reads — after recovery — as the merge never having
    * run; re-running the batch is the caller's retry, and
    * `LabelStore.merge` is idempotent by construction. Roll-back-
    * always is deliberate: rolling FORWARD would need the recovery
    * path to distinguish a complete rename pass from a partial one,
    * and the backward answer is always correct under idempotent
    * retries. A crash between the last rename and the manifest
    * delete also rolls back — indistinguishable from the batch not
    * having run, which the retry then re-runs.
    *
    * Filesystem assumption: directory RENAME is atomic (local FS,
    * HDFS). Object stores (S3A and friends) emulate rename as
    * copy+delete — neither atomic nor cheap — so a bucket-swapped
    * store on an object store needs a rename-capable layer
    * underneath; don't point this at bare S3.
    *
    * Concurrency contract: ONE writer per store path. Within a JVM,
    * swaps and recoveries on the same path serialize on a per-path
    * lock; across processes, the manifest's `#writer` token makes a
    * recovery racing a LIVE writer refuse instead of destroying its
    * in-flight renames (see `recoverBucketSwap`). */
  def swapBuckets(spark: SparkSession, path: String, newContent: DataFrame,
      bucketCol: String, affected: Seq[Long]): Unit = swapLock(path).synchronized {
    recoverBucketSwap(spark, path) // a crashed earlier swap rolls back first
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(path)),
      s"swapBuckets: no store at $path — bootstrap with overwriteInPlace")
    if (affected.isEmpty) return
    val staging = path + ".bstaging"
    fs.delete(new Path(staging), true)
    newContent.write.mode(SaveMode.Overwrite).partitionBy(bucketCol)
      .parquet(staging)
    val dirs = affected.map(b => s"$bucketCol=$b")
    // A staged partition outside `affected` would never be promoted —
    // written to staging, then deleted at cleanup: silent row loss.
    // LabelStore guarantees content ⊆ affected by construction, but
    // this utility is public; a future caller's miscomputed affected
    // set must fail LOUDLY here, before any rename runs.
    val staged = fs.listStatus(new Path(staging))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(bucketCol + "="))
      .map(_.getPath.getName)
    val orphans = staged.filterNot(dirs.toSet)
    require(orphans.isEmpty,
      s"swapBuckets: newContent has partitions outside affected — " +
        s"their rows would be silently dropped: ${orphans.mkString(", ")}")
    val manifest = new Path(path + ".bswap")
    val tmp = new Path(path + ".bswap.tmp")
    // hadPrior is recorded BEFORE any rename: rollback needs to know
    // whether a missing backup means "move-aside never ran, live is
    // still the original" (keep) or "bucket never existed" (delete).
    // The `#writer` header identifies THIS process (pid@host plus the
    // /proc starttime that disambiguates pid reuse): recovery refuses
    // to roll back a manifest whose writer is provably still alive —
    // a reader racing a live merge must not destroy its in-flight
    // renames (the read-side data-loss window the r16 design opened).
    val lines = dirs.map(d =>
      s"$d\t${if (fs.exists(new Path(path, d))) 1 else 0}")
    val out = fs.create(tmp, true)
    try out.write((s"#writer\t$writerToken\n" + lines.mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(s"bucket swap: could not arm $manifest")
    val boldRoot = new Path(path + ".bold")
    fs.mkdirs(boldRoot)
    for (d <- dirs) {
      val live = new Path(path, d)
      val stg = new Path(staging, d)
      if (fs.exists(live) && !fs.rename(live, new Path(boldRoot, d)))
        throw new java.io.IOException(s"bucket swap: could not move $live aside")
      if (fs.exists(stg) && !fs.rename(stg, live))
        throw new java.io.IOException(s"bucket swap: could not promote $stg")
    }
    fs.delete(manifest, false) // commit point
    fs.delete(boldRoot, true)
    fs.delete(new Path(staging), true)
  }

  // One lock object per store path (JVM-wide): serializes a reader's
  // crash-recovery against a writer's in-flight swap in the SAME
  // process — the streaming `lshDedupSink` tick merging while an
  // ad-hoc `LabelStore.read` runs is the common single-JVM race, and
  // the lock removes it entirely (the writer-token check below covers
  // the cross-process case). Keyed by the raw path string; callers
  // already address one store by one spelling.
  private val swapLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private def swapLock(path: String): Object =
    swapLocks.computeIfAbsent(path, _ => new Object)

  /** This process's identity for the `#writer` manifest header:
    * `pid@host@starttime`. The starttime (clock ticks since boot,
    * /proc/self/stat field 22) disambiguates pid reuse after a
    * reboot or wrap; empty when /proc is unavailable (non-Linux). */
  private def writerToken: String = {
    val pid = ProcessHandle.current().pid()
    val host = java.net.InetAddress.getLocalHost.getHostName
    s"$pid@$host@${procStartTicks(pid).getOrElse("")}"
  }

  private def procStartTicks(pid: Long): Option[String] =
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")), "UTF-8")
      // field 2 (comm) may contain spaces/parens; fields count from
      // after the LAST ')' — starttime is field 22 overall, so index
      // 19 in the post-comm tail (state=3rd field = tail index 0)
      val tail = stat.substring(stat.lastIndexOf(')') + 1).trim.split("\\s+")
      if (tail.length > 19) Some(tail(19)) else None
    } catch { case _: Throwable => None }

  /** Is the manifest's writer provably this process, or provably
    * dead? Returns true when rollback is SAFE: the token is ours
    * (the per-path lock guarantees no swap is in flight in this JVM
    * while we hold it), or the pid no longer exists on this host, or
    * it exists but with a different starttime (pid reuse). Returns
    * false — rollback must refuse — when the pid is alive with the
    * recorded starttime, or the token names another host (liveness
    * unverifiable from here). A missing/legacy token returns true:
    * pre-r17 manifests carry no header and single-writer discipline
    * was their only guard. */
  private def safeToRollBack(token: Option[String]): Boolean = token match {
    case None => true
    case Some(t) =>
      val parts = t.split("@", -1)
      if (parts.length < 2) true
      else {
        val (pidStr, host) = (parts(0), parts(1))
        val ticks = if (parts.length > 2) parts(2) else ""
        if (t == writerToken) true // our own crashed swap (lock held)
        else if (host != java.net.InetAddress.getLocalHost.getHostName)
          false // cannot verify a foreign writer's death
        else scala.util.Try(pidStr.toLong).toOption match {
          case None => true
          case Some(pid) => procStartTicks(pid) match {
            case None =>
              // /proc gave nothing — ambiguous: the pid is gone
              // (Linux) OR /proc itself is unreadable (non-Linux
              // host, cross-PID-namespace reader). Treating that as
              // "writer dead" would roll back a LIVE writer's swap on
              // any such platform — the exact loss window this guard
              // exists to close. Fall back to the portable liveness
              // check: only a provably-absent pid is safe.
              !ProcessHandle.of(pid).isPresent
            case Some(now) => ticks.nonEmpty && now != ticks // pid reused?
          }
        }
      }
  }

  /** Roll back an interrupted `swapBuckets` (manifest present): every
    * affected bucket returns to its pre-swap content, then the
    * manifest and work dirs are removed. Idempotent; a no-op (bar
    * leftover-dir cleanup) when no swap was in flight. Every op that
    * reads or rewrites a bucket-swapped store must call this first —
    * the bucket-level analog of `recoverSwap`'s contract.
    *
    * Refuses (throws) when the manifest's writer is still ALIVE: a
    * rollback racing a live writer would move that writer's renames
    * out from under it — in the worst window (live dir just moved to
    * `.bold`, staged rename not yet run) the recovery's final `.bold`
    * cleanup would delete a bucket's only copy. Same-process races
    * are serialized by the per-path lock instead (never refused); a
    * manifest naming a DIFFERENT host is refused too, since liveness
    * can't be verified from here — after confirming the writer is
    * dead, recover on its host or use `forceRecoverBucketSwap`. */
  def recoverBucketSwap(spark: SparkSession, path: String): Unit =
    swapLock(path).synchronized {
      recoverBucketSwapImpl(spark, path, force = false)
    }

  /** `recoverBucketSwap` without the live-writer refusal — the
    * operator escape hatch for a manifest whose writer host is
    * unreachable. ONLY safe once the writer is confirmed dead. */
  def forceRecoverBucketSwap(spark: SparkSession, path: String): Unit =
    swapLock(path).synchronized {
      recoverBucketSwapImpl(spark, path, force = true)
    }

  private def recoverBucketSwapImpl(spark: SparkSession, path: String,
      force: Boolean): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(path + ".bswap")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val allLines = text.split("\n").map(_.trim).filter(_.nonEmpty)
      val token = allLines.find(_.startsWith("#writer\t"))
        .map(_.stripPrefix("#writer\t"))
      if (!force && !safeToRollBack(token))
        throw new IllegalStateException(
          s"bucket swap at $path is in flight by a live writer " +
            s"(${token.getOrElse("?")}) — refusing rollback; retry after " +
            "the merge finishes, or forceRecoverBucketSwap once the " +
            "writer is confirmed dead")
      for (line <- allLines.filterNot(_.startsWith("#"))) {
        val parts = line.split("\t")
        val (d, hadPrior) = (parts(0), parts(1) == "1")
        val live = new Path(path, d)
        val bak = new Path(path + ".bold", d)
        if (hadPrior) {
          if (fs.exists(bak)) {
            if (fs.exists(live)) fs.delete(live, true)
            if (!fs.rename(bak, live))
              throw new java.io.IOException(
                s"bucket swap recovery: could not restore $bak")
          } // else: the move-aside never ran; live still holds the original
        } else if (fs.exists(live)) {
          fs.delete(live, true) // staged-in dir of a previously-absent bucket
        }
      }
      fs.delete(manifest, false)
    }
    Seq(".bold", ".bstaging", ".bswap.tmp")
      .foreach(s => fs.delete(new Path(path + s), true))
  }

  /** Shared compaction body for the bucket-partitioned swap-managed
    * stores (signature store, label store): recover an interrupted
    * swap and rewrite the store with one writer per bucket, leaving
    * ≤1 file per bucket directory. The bucket count comes from the
    * partition-directory listing — a driver filesystem call, not an
    * extra full-store scan action. Throws if no state (nor backup)
    * exists at `path`. */
  def rewriteBucketed(spark: SparkSession, path: String,
      bucketCol: String): Unit = {
    recoverSwap(spark, path)
    recoverBucketSwap(spark, path)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path)))
      throw new java.util.NoSuchElementException(
        s"rewriteBucketed: no state at $path")
    val buckets = math.max(1, fs.listStatus(new Path(path)).count(s =>
      s.isDirectory && s.getPath.getName.startsWith(bucketCol + "=")))
    overwriteInPlace(spark.read.parquet(path)
        .repartition(buckets, org.apache.spark.sql.functions.col(bucketCol)),
      path, partitionBy = Seq(bucketCol))
  }

  /** Compaction: rewrite a parquet state/collection path into
    * ~targetBytes files (incremental MERGE runs accumulate small
    * files; scan throughput at scale is gated on file sizes). Uses
    * the staging swap, so a crash never loses the input. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(new Path(path)).getLength
    val parts = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    overwriteInPlace(spark.read.parquet(path).repartition(parts), path)
  }

  /** K6/V2 — MERGE-by-id upsert into a parquet-backed state table
    * (ref Chroma add-with-stable-ids semantics,
    * article_vectorize.py:360-363): updates win, survivors carry over,
    * swap in place. Reads the existing state if present. */
  def mergeInto(spark: SparkSession, statePath: String, updates: DataFrame,
      key: Seq[String]): DataFrame = {
    val merged = readStateOrBackup(spark, statePath) match {
      case Some(state) => Dedup.mergeById(state, updates, key)
      case None => updates
    }
    // overwriteInPlace materializes into staging BEFORE swapping, so
    // the plan still reads the old state files while executing
    overwriteInPlace(merged, statePath)
    spark.read.parquet(statePath)
  }
}
