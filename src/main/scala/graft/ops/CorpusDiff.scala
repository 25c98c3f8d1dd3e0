package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diff for corpus refreshes: given the previous and the
  * current snapshot of a document table, classify every id as
  * added / removed / changed / unchanged — the audit report every
  * training-data refresh needs before retraining ("what actually
  * moved?"), and the driver of selective recompute.
  *
  * Scale shape: content equality is decided on `sha16(content)` —
  * both snapshots project to (id, 16-hex digest, group key) BEFORE
  * the full-outer join, so the exchange carries ~40 bytes per row and
  * the document text never shuffles (the q100/q68 hash-the-shuffle
  * discipline). One join, one aggregation for the summary; at 100 TB
  * both snapshots shuffle once on the 8-byte id.
  */
object CorpusDiff {

  /** Per-id diff: (id, status, group) where `group` is `by` coalesced
    * across the two snapshots (changed/removed report the OLD side's
    * group; added has only the new side). */
  private[graft] def diff(oldDf: DataFrame, newDf: DataFrame, id: String,
      content: Column, by: Column): DataFrame = {
    val o = oldDf.select(col(id),
      graft.expr.Functions.sha16(content).as("__oh"), by.as("__ob"))
    val n = newDf.select(col(id),
      graft.expr.Functions.sha16(content).as("__nh"), by.as("__nb"))
    o.join(n, Seq(id), "full_outer")
      .select(col(id),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") =!= col("__nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("__ob"), col("__nb")).as("group"))
  }

  /** Per-group × status counts, dense over the four statuses (a group
    * with zero 'changed' rows still reports changed=0 — refresh
    * dashboards diff these reports across runs, and a missing row is
    * indistinguishable from a missing source). One aggregation +
    * pivot-by-literal; group cardinality rows out. */
  def diffSummary(oldDf: DataFrame, newDf: DataFrame, id: String,
      content: Column, by: Column): DataFrame = {
    val d = diff(oldDf, newDf, id, content, by)
    d.groupBy(col("group"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("unchanged"))
  }
}
