package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling/splitting for training
  * data. Random `sample()` is irreproducible across runs/engines; a
  * content-hash bucket is stable forever — the standard way to cut
  * train/val/test splits that survive pipeline reruns, backfills, and
  * engine migrations. Bucket = first 4 hex chars of sha256(key) as a
  * uniform value in [0, 65536).
  */
object Sampling {

  /** Uniform [0, 65536) bucket from the key's sha256. */
  def hashBucket(key: Column): Column =
    conv(substring(sha2(key.cast("string"), 256), 1, 4), 16, 10).cast("long")

  /** Deterministic per-group quota sampling (source balancing): keep
    * at most `quota` rows per group, selected by sha256-hash order of
    * the key — a stable uniform shuffle, so the kept subset is
    * reproducible across runs, partitionings, and engines, unlike
    * arrival-order `limit` per group. Ties (hash collisions) break by
    * the key itself. One shuffle (the per-group window); group
    * cardinality bounds the window state. */
  def quotaSample(df: DataFrame, group: Column, key: Column,
      quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group)
      .orderBy(sha2(key.cast("string"), 256), key)
    df.withColumn("__qr", row_number().over(w))
      .filter(col("__qr") <= quota)
      .drop("__qr")
  }

  /** Train/val/test split that never separates near-duplicates: the
    * split key is the document's dedup COMPONENT label (from
    * `NearDup.connectedComponents` / the `LabelStore`), so every
    * member of a near-dup cluster lands on the same side — per-doc
    * hash splits (q50) leak train content into test whenever a
    * near-copy exists, which is exactly what decontamination audits
    * (q81/q89) then have to catch. Unlabeled docs (no near-dup
    * evidence) fall back to their own id, reproducing the per-doc
    * split for the singleton majority.
    *
    * `labels` is the (node, component) frame the label store reads
    * back. Scale shape: one equi-join on the 8-byte id (labels are
    * node-unique; at corpus scale this is a shuffle join on the id —
    * both sides prunable to the id columns), then the same stateless
    * sha256-bucket labeling as `splitLabel`. No window, no collect. */
  def leakageSafeSplit(df: DataFrame, id: String, labels: DataFrame,
      weights: Seq[(String, Double)]): DataFrame = {
    val lab = labels.select(col("node").as(id), col("component"))
    df.join(lab, Seq(id), "left")
      .withColumn("split",
        splitLabel(coalesce(col("component"), col(id)), weights))
      .drop("component")
  }

  /** Assign split labels by cumulative weight over the hash space:
    * e.g. `weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)`. */
  def splitLabel(key: Column, weights: Seq[(String, Double)]): Column = {
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val b = hashBucket(key)
    // the last cut is pinned to the bucket-space top: fp summation can
    // land at 0.999…, which would floor to 65535 and leave bucket
    // 65535 (~1/65536 of rows) with a null label
    val raw = weights.scanLeft(0.0)(_ + _._2).tail.map(c => (c * 65536).toLong)
    val cuts = raw.init :+ 65536L
    weights.zip(cuts).foldLeft(lit(null).cast("string")) {
      case (acc, ((label, _), cut)) =>
        coalesce(acc, when(b < cut, lit(label)))
    }
  }
}
