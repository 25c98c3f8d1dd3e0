package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.Functions

/** J1–J3 from SURVEY.md §2.4 — the reference's dict-lookup joins as
  * proper broadcast hash equi-joins. All build sides in the reference
  * are small (previous state, Box listing), so `broadcast()` is the
  * right default; at 100 TB the probe side streams with no shuffle.
  */
object Joins {

  /** J1 — carry-forward left join (ref transcribe_council.py:92-98):
    * re-scraped rows inherit `carryCol` from the previous state on `key`. */
  def carryForward(fresh: DataFrame, previous: DataFrame, key: String,
      carryCol: String): DataFrame =
    fresh.join(
      broadcast(previous.select(col(key), col(carryCol))), Seq(key), "left")

  /** J2 — coalesce left join (ref get_box_links.py:62-68):
    * `target = coalesce(existing, lookedUp)`. */
  def coalesceJoin(base: DataFrame, lookup: DataFrame, joinKey: Seq[String],
      existing: Column, lookedUp: Column, as: String): DataFrame =
    base.join(broadcast(lookup), joinKey, "left")
      .withColumn(as, coalesce(existing, lookedUp))

  /** J3 — substring-theta join normalized to a derived-key equi-join
    * (ref get_box_links.py:48-49): the reference probes
    * `video.contains(name)`, which would be a broadcast nested-loop at
    * scale; `basename(video) = name` is equivalent (basename is the
    * unique discriminator — SURVEY.md §7.5.4) and hash-joinable. */
  def derivedKeyJoin(urls: DataFrame, listing: DataFrame, urlCol: String,
      nameCol: String, joinType: String = "inner"): DataFrame =
    urls.withColumn("__base", Functions.basename(col(urlCol)))
      .join(broadcast(listing), col("__base") === col(nameCol), joinType)
      .drop("__base")
}
