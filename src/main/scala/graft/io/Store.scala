package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one store layer under every on-disk family: council state, the
  * BPE merge table, signatures, labels, pairs, NB stats and
  * predictions, and the PQ index. A store is a parquet table under
  * `root` whose state is a numbered log of manifests in
  * `root/_manifest/`, the design of Delta Lake's log of manifests
  * (Armbrust et al., VLDB 2020) over plain parquet and text files.
  * It is the reference's two crash-safety habits in one place: a state
  * file rewritten through staging (transcribe_council.py:96→106) and a
  * persistent seen-set each run consults (newscrawler.py:125-127).
  *
  *  - Manifest 0 records the layout: the partition columns and the
  *    family's parameters (bucket count and hash, band shape, cell
  *    count). Each writer and probe states its own layout, and a
  *    mismatch throws before any write or Spark job.
  *  - Manifest N ≥ 1 lists epoch N's data files, relative to `root`,
  *    and the highest streaming batch id committed so far.
  *  - A commit (1) writes its data files and moves them in beside
  *    epoch N's; (2) publishes manifest N+1, failing if N+1 already
  *    exists; (3) deletes the files N+1 no longer references. A batch
  *    id already recorded makes the commit a no-op. Compaction is an
  *    ordinary commit that supersedes every file.
  *  - A reader reads the latest manifest's files and never changes the
  *    store. A crash before (2) leaves files that no manifest names:
  *    readers still see epoch N, and the next commit deletes them.
  *
  * When a commit returns, the non-hidden files under `root` are exactly
  * the latest manifest's (the log's name starts with `_`, so Spark's
  * listing skips it), and a bare `spark.read.parquet(root)` reads what
  * `read` reads. One writer per store. A reader's DataFrame is lazy:
  * consume it before the next commit deletes the files it lists. The
  * manifest publish is the only step that must be atomic: a rename
  * that refuses an existing target, exclusive on HDFS and
  * check-then-rename on a local file system.
  */
object Store {

  /** What manifest 0 records: `partitionBy` (comma-separated partition
    * columns, absent for none) and the family's parameters. */
  type Layout = Map[String, String]

  private final case class Manifest(epoch: Long, batch: Option[Long],
      files: Seq[String])

  private val LogDir = "_manifest"
  private val Pending = "_pending-"
  private val LogName = "_(\\d+)".r

  private def open(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def logFile(root: Path, epoch: Long): Path =
    new Path(new Path(root, LogDir), f"_$epoch%010d")

  private def entries(fs: FileSystem, file: Path): Seq[(String, String)] = {
    val in = fs.open(file)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val tab = line.indexOf('\t')
      (line.take(tab), line.drop(tab + 1))
    }
  }

  private def latest(fs: FileSystem, root: Path): Option[Manifest] = {
    val epochs =
      try fs.listStatus(new Path(root, LogDir)).toSeq.map(_.getPath.getName)
        .collect { case LogName(n) => n.toLong }
      catch { case _: java.io.FileNotFoundException => Nil }
    epochs.maxOption.map {
      case 0L => Manifest(0, None, Nil)
      case n =>
        val kv = entries(fs, logFile(root, n))
        Manifest(n, kv.collectFirst { case ("batch", b) => b.toLong },
          kv.collect { case ("file", f) => f })
    }
  }

  /** The layout manifest 0 records; None when no store exists at
    * `root`. */
  def layout(spark: SparkSession, root: String): Option[Layout] = {
    val (fs, r) = open(spark, root)
    try Some(entries(fs, logFile(r, 0)).toMap)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def partitionCols(l: Layout): Seq[String] =
    l.get("partitionBy").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  private def check(root: String, recorded: Layout, expected: Layout): Unit = {
    val wrong = expected.filter { case (k, v) => !recorded.get(k).contains(v) }
    require(wrong.isEmpty, s"store at $root is laid out with " +
      wrong.keys.map(k => s"$k=${recorded.getOrElse(k, "(none)")}").mkString(", ") +
      "; this call uses " +
      wrong.map { case (k, v) => s"$k=$v" }.mkString(", "))
  }

  /** Throw unless the store at `root` records every entry of
    * `expected`; a store that does not exist yet matches anything. A
    * driver file read: no Spark job runs. */
  def expect(spark: SparkSession, root: String, expected: Layout): Unit =
    layout(spark, root).foreach(check(root, _, expected))

  /** Has a commit recorded streaming batch `batch` (or a later one)? */
  def committed(spark: SparkSession, root: String, batch: Long): Boolean = {
    val (fs, r) = open(spark, root)
    latest(fs, r).flatMap(_.batch).exists(batch <= _)
  }

  /** The latest manifest's files, relative to `root`. */
  private[graft] def files(spark: SparkSession, root: String): Seq[String] = {
    val (fs, r) = open(spark, root)
    latest(fs, r).fold(Seq.empty[String])(_.files)
  }

  /** The latest epoch's rows, partition columns included; None when no
    * store exists or the epoch holds no file. */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val (fs, r) = open(spark, root)
    latest(fs, r).filter(_.files.nonEmpty).map { m =>
      // Spark lists a path list of more than this many entries (32 by
      // default) with a Spark job; the manifest already names every
      // file, so each one costs the driver a status call instead
      val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, Int.MaxValue.toString)
      try spark.read.option("basePath", r.toString)
        .parquet(m.files.map(f => new Path(r, f).toString): _*)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** Non-hidden files under `root`, relative to it. */
  private def dataFiles(fs: FileSystem, root: Path): Set[String] = {
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    def walk(dir: Path, rel: String): Seq[String] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
        .flatMap { s =>
          val name = rel + s.getPath.getName
          if (s.isDirectory) walk(s.getPath, name + "/") else Seq(name)
        }
    try walk(root, "").toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }
  }

  /** Publish manifest `epoch`: written aside, then renamed into place by
    * a rename that refuses an existing target. */
  private def publish(fs: FileSystem, root: Path, epoch: Long,
      kv: Seq[(String, String)]): Unit = {
    val target = logFile(root, epoch)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(kv.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes(UTF_8))
    finally out.close()
    try FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, target, Options.Rename.NONE)
    catch {
      case e: FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"store at $root: another writer already published epoch $epoch", e)
    }
  }

  /** Commit `data` as the next epoch of the store at `root`: epoch N's
    * files that `supersedes` selects (paths relative to `root`) leave,
    * and the files this write adds join. The first commit creates the
    * store and records `layout` as manifest 0; every later one throws
    * on a layout mismatch before it writes. A `batch` at or below the
    * recorded batch id makes the call a no-op, so a redelivered
    * streaming batch writes nothing.
    *
    * Spark writes into a hidden directory of its own, and each file is
    * then renamed into its partition directory: a write into `root`
    * itself would make Spark re-cache every cached plan that reads the
    * store, and a re-cached plan would read epoch N's files after this
    * commit deleted them. */
  def commit(data: DataFrame, root: String, layout: Layout,
      batch: Option[Long] = None)(supersedes: String => Boolean): Unit = {
    val (fs, r) = open(data.sparkSession, root)
    val cur = latest(fs, r) match {
      case Some(m) =>
        check(root, entries(fs, logFile(r, 0)).toMap, layout)
        m
      case None =>
        val stray = dataFiles(fs, r)
        require(stray.isEmpty, s"$root holds files but no manifest log, so " +
          s"it is not a store: ${stray.take(3).mkString(", ")}")
        publish(fs, r, 0, layout.toSeq.sorted)
        Manifest(0, None, Nil)
    }
    if (batch.exists(b => cur.batch.exists(b <= _))) return
    val pending = new Path(r, s"$Pending${java.util.UUID.randomUUID}")
    data.write.partitionBy(partitionCols(layout): _*).parquet(pending.toString)
    val written = dataFiles(fs, pending).toSeq.sorted
    written.foreach { f =>
      val to = new Path(r, f)
      fs.mkdirs(to.getParent)
      if (!fs.rename(new Path(pending, f), to))
        throw new java.io.IOException(s"store at $root: could not move $f into place")
    }
    val next = cur.files.filterNot(supersedes) ++ written
    publish(fs, r, cur.epoch + 1,
      batch.orElse(cur.batch).map("batch" -> _.toString).toSeq ++
        next.map("file" -> _))
    // superseded files, and any a crashed commit left behind; then the
    // partition directories that emptied, deepest first
    fs.listStatus(r).filter(_.getPath.getName.startsWith(Pending))
      .foreach(s => fs.delete(s.getPath, true))
    val gone = dataFiles(fs, r) -- next
    gone.foreach(f => fs.delete(new Path(r, f), false))
    gone.flatMap(f => f.split("/").inits.toSeq.drop(1).filter(_.nonEmpty)
        .map(_.mkString("/")))
      .toSeq.sortBy(-_.length).foreach { d =>
        val p = new Path(r, d)
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
      }
  }

  /** Compaction as a commit: rewrite every row of the latest epoch
    * (through `reshape`, for a family that folds its batch partitions)
    * with `parts` writer tasks hashed on the partition columns, so each
    * partition directory comes back as one file. */
  def compact(spark: SparkSession, root: String, parts: Int,
      reshape: DataFrame => DataFrame = identity): Unit = {
    val l = layout(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no store at $root"))
    read(spark, root).foreach { df =>
      commit(reshape(df).repartition(math.max(1, parts),
        partitionCols(l).map(col): _*), root, l)(_ => true)
    }
  }
}
