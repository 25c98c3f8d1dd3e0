package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-based sessionization (SURVEY.md §2.9 generalization;
  * reference behavior: nocouncil-etl groups an activity feed into
  * visits by idle gap). The classic two-window form: flag a session
  * start wherever the gap to the previous event (per key, ordered by
  * time with a stable tie column) exceeds `gapMs`, then a running sum
  * of the flags numbers the sessions 1..n per key.
  *
  * Scale: both windows share one (key) hash partitioning — a single
  * shuffle keyed by the session key, no global sort; the final agg
  * reuses the same keys. Skewed keys (one user = one giant session
  * stream) bound the single-task work at that key's event count, the
  * same bound any per-key sessionization has.
  *
  * PropertySpec pins this form against a driver-side naive model on
  * random event soups.
  *
  * Output: (key, session_id, n, start_ms, end_ms) ordered by
  * (key, session_id) — q36's exact shape.
  */
object Sessionize {

  def byGap(df: DataFrame, key: String, ts: String, tie: String,
      gapMs: Long): DataFrame = {
    // the working/output names are fixed — a caller re-sessionizing a
    // frame that already carries them (e.g. prior byGap output) must
    // hear about the collision, not have columns silently clobbered.
    // No exemption for key/ts/tie: a key literally named "n" would
    // emit duplicate output columns (group key n + count().as("n")),
    // and a ts named "new_s" would be clobbered mid-plan — reserved
    // names are rejected in every role.
    // BEHAVIOR CHANGE (r15): earlier releases exempted key/ts/tie
    // from the reserved-name check, so e.g. a ts column literally
    // named "start_ms" used to pass (and silently produced duplicate
    // output columns); it now throws. Rename the input column — the
    // estimatedJaccardPairs precedent for recording tightened
    // contracts in place.
    val reserved = Set("new_s", "session_id", "n", "start_ms", "end_ms")
    val clash = (df.columns.toSet ++ Set(key, ts, tie)).intersect(reserved)
    require(clash.isEmpty,
      s"Sessionize.byGap: column(s) ${clash.mkString(", ")} collide with " +
        "reserved working/output names; rename or drop them first")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val lagMs = lag(col(ts), 1).over(w)
    df.withColumn("new_s",
        when(lagMs.isNull || col(ts) - lagMs > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .groupBy(col(key), col("session_id"))
      .agg(count(lit(1)).as("n"), min(col(ts)).as("start_ms"),
        max(col(ts)).as("end_ms"))
      .orderBy(col(key), col("session_id"))
  }
}
