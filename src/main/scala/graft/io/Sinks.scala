package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Dedup

/** K1/K4/K6 (SURVEY.md §2.2): the council state tables — the two
  * patterns Spark cannot express directly, overwriting an input in
  * place and MERGE-by-id updates over plain parquet (SURVEY §7.5.2) —
  * as [[Store]] commits. A merge reads epoch N, writes the merged table
  * next to it and publishes epoch N+1, so a crashed merge leaves the
  * old state readable: the reference's crash-safety property.
  */
object Sinks {

  /** The current state table at `statePath`, or None before its first
    * merge. Reads the latest manifest's files; never changes the
    * store. */
  def readStateOrBackup(spark: SparkSession, statePath: String): Option[DataFrame] =
    Store.read(spark, statePath)

  /** K6/V2 — MERGE-by-id upsert into a parquet-backed state table
    * (ref Chroma add-with-stable-ids semantics,
    * article_vectorize.py:360-363): updates win, survivors carry over,
    * and the merged table replaces the old one in one commit. The
    * store records `key` in its layout; a merge by another key throws
    * before any Spark job runs. Returns the new state. */
  def mergeInto(spark: SparkSession, statePath: String, updates: DataFrame,
      key: Seq[String]): DataFrame = {
    val layout = Map("key" -> key.mkString(","))
    Store.expect(spark, statePath, layout)
    val merged = readStateOrBackup(spark, statePath) match {
      case Some(state) => Dedup.mergeById(state, updates, key)
      case None => updates
    }
    Store.commit(merged, statePath, layout)(_ => true)
    readStateOrBackup(spark, statePath).get
  }
}
