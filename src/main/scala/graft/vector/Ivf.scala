package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors — the second
  * scale path next to hyperplane LSH (Similarity.annTopK). Vectors are
  * assigned to their nearest of k trained centroids ("cells"); a query
  * scores only the nProbe nearest cells' members, shrinking the scored
  * set from N to ≈ N·nProbe/k. Unlike LSH, cells adapt to the data
  * distribution, so recall holds on clustered corpora with far fewer
  * probes.
  *
  * Training: a cell table is the m = 1 case of `Pq.PqModel`, so the
  * flow is Pq's — a seed rule, then `Pq.lloydOnce` × iters.
  * `seedCentroids` is the id-prefix rule with no rounds (the seeding
  * the oracle queries replay); `Pq.trainCodebooksKmeansPar` with
  * m = 1 is k-means‖ seeds plus grid-snapped Lloyd rounds, reached
  * only by specs and the ScaleSmoke dev main. Only the centroid table
  * (k×dim doubles, driver-bounded by construction) ever leaves the
  * executors. Assignment is a per-row O(k·dim) map
  * against broadcast centroids. At 100 TB the collection is written
  * partitioned/bucketed BY `ivf_cell`, so a probe prunes to nProbe
  * partitions' files — the same pruning story as the LSH bucket
  * column.
  */
object Ivf {

  /** The query's nProbe nearest cells by squared L2, ties → the
    * smaller cell id (driver-side: k is small). */
  def nearestCells(query: Array[Float], cents: Array[Array[Float]],
      nProbe: Int): Seq[Int] =
    cents.indices
      .map(c => (c, Pq.sqDist(query, 0, cents(c))))
      .sortBy { case (c, d) => (d, c) }
      .take(nProbe).map(_._1)

  /** Attach the IVF cell id against broadcast centroids.
    *
    * Scale note: this is the FLAT path — per-row O(k·dim) against all
    * k centroids. With k grown proportionally to N (SemDedup
    * .cellCountFor), total assignment work is O(N·k) = O(N²/cellSize):
    * fine through sf1, a wall at the 100 TB design point. Use
    * `assignCellsTwoLevel` (per-row O(2√k·dim)) when k is corpus-
    * scaled; keep the flat path for small fixed k (single-query IVF
    * probes, trained k-means with k ≤ a few hundred). */
  def assignCells(df: DataFrame, vec: Column,
      cents: Array[Array[Float]], as: String = "ivf_cell"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    df.withColumn(as, ColumnBridge.column(
      NearestCell(ColumnBridge.expression(vec), cents, null, null)))
  }

  /** Coarse-cell count for a k-centroid two-level quantizer: ≈ √k,
    * min 4. Per-row assignment is then O((√k + k/√k)·dim) =
    * O(2√k·dim) — at k = 20 000 that is ~280·dim instead of
    * 20 000·dim, a 70× flop cut, and the cut widens as k grows. */
  def coarseCountFor(k: Int): Int =
    math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Fine→coarse group map (the IMI / IVF-two-level list structure).
    * A fine centroid whose index is also a coarse index ANCHORS its
    * own group — guarantees every coarse group holds at least one
    * fine centroid, so no row can be routed to a memberless group —
    * and the rest map to their nearest coarse centroid (ties → the
    * smaller coarse id, matching the SQL `ORDER BY d2, gid`). */
  private[graft] def fineToCoarse(fine: Array[Array[Float]],
      coarse: Array[Array[Float]]): Array[Int] =
    Array.tabulate(fine.length) { f =>
      if (f < coarse.length) f
      else nearestCells(fine(f), coarse, 1).head
    }

  /** Two-level (coarse→fine) cell assignment: route each row to its
    * nearest of √k coarse centroids, then score only that group's
    * fine centroids. Per-row cost O(2√k·dim) — the scale-safe
    * replacement for the flat O(k·dim) `assignCells` when k grows
    * with the corpus (SemDedup). The assignment is approximate in the
    * standard IVF-IMI sense: a row whose true nearest fine centroid
    * lives in a different coarse group gets its group-local nearest
    * instead (cells stay balanced; dedup/kNN recall dials via
    * cellSize exactly as before). Deterministic: both argmins break
    * ties toward the smaller id, so any engine reproduces the cells
    * (q87's DuckDB oracle re-derives them from the same seed rule). */
  def assignCellsTwoLevel(df: DataFrame, vec: Column,
      fine: Array[Array[Float]], coarse: Array[Array[Float]],
      as: String = "ivf_cell"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val groupOf = fineToCoarse(fine, coarse)
    val members: Array[Array[Int]] = {
      val buf = Array.fill(coarse.length)(Vector.newBuilder[Int])
      var f = 0
      while (f < groupOf.length) { buf(groupOf(f)) += f; f += 1 }
      buf.map(_.result().toArray) // ascending fine ids by construction
    }
    df.withColumn(as, ColumnBridge.column(
      NearestCell(ColumnBridge.expression(vec), fine, coarse, members)))
  }

  /** Fully distributed two-level assignment — the 100 TB form: only
    * the √k coarse centroids are broadcast (a few MB at any realistic
    * k); the k fine centroids stay a DataFrame `(cid, cemb)` that
    * never visits the driver. Rows are routed to their coarse group
    * map-side, then joined to that group's fine centroids (Spark
    * broadcasts the fine table while it fits, shuffle-joins on the
    * group id beyond — either way per-row candidates ≈ k/√k = √k),
    * and the per-row argmin is a window over (d2, cid). Produces
    * EXACTLY the same cells as `assignCellsTwoLevel` (same seed rule,
    * same left-fold summation order, same tie-breaks — asserted in
    * IvfSpec). Rows with a null vector keep a null cell. */
  def assignCellsTwoLevelDist(df: DataFrame, id: String, vec: String,
      fineDf: DataFrame, coarse: Array[Array[Float]],
      as: String = "ivf_cell"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.ColumnBridge
    def coarseCell(c: Column): Column = ColumnBridge.column(
      NearestCell(ColumnBridge.expression(c), coarse, null, null))
    // anchor rule: fine centroid cid < |coarse| owns group cid
    val fineG = fineDf
      .withColumn("__gid",
        when(col("cid") < coarse.length, col("cid").cast("int"))
          .otherwise(coarseCell(col("cemb"))))
      .select(col("cid"), col("cemb"), col("__gid"))
    val withG = df.withColumn("__gid", coarseCell(col(vec)))
    val nullVec = withG.filter(col("__gid").isNull)
      .drop("__gid").withColumn(as, lit(null).cast("int"))
    // same left-fold double arithmetic as the UDF path: zip_with in
    // index order, aggregate folds left
    val d2 = expr(s"""aggregate(
        zip_with(`$vec`, `__cemb`, (a, b) ->
          (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) *
          (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
        0D, (acc, x) -> acc + x)""")
    val w = Window.partitionBy(col(id))
      .orderBy(col("__d2").asc, col("__cid").asc)
    val assigned = withG.filter(col("__gid").isNotNull)
      .join(fineG.select(col("cid").as("__cid"), col("cemb").as("__cemb"),
        col("__gid")), Seq("__gid"))
      .withColumn("__d2", d2)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn(as, col("__cid").cast("int"))
      .drop("__gid", "__cid", "__cemb", "__d2", "__rn")
    assigned.unionByName(nullVec)
  }

  /** Deterministic id-prefix seed centroids — the reproducible-across-
    * engines seeding the oracle queries share (`vec_id < k`): the rows
    * with a non-null vector in that window, ascending id; fewer than k
    * of them fails loudly. The collect is driver-bounded by an explicit
    * cap of 65 536 seeds (≈ 100 MB at dim 384). Beyond the cap, keep
    * centroids distributed — `assignCellsTwoLevelDist` takes the fine
    * table as a DataFrame and needs only the √k coarse prefix
    * collected. */
  def seedCentroids(df: DataFrame, id: String, vec: String,
      k: Int): Array[Array[Float]] =
    Pq.trainCodebooks(df, id, vec, 1, k, iters = 0).codebooks.head

  /** IVF top-k: score only the nProbe nearest cells' members. With
    * nProbe = k this degenerates to exact brute force (recall 1.0). */
  def ivfTopK(df: DataFrame, id: String, vec: String, query: Array[Float],
      k: Int, cents: Array[Array[Float]], nProbe: Int = 2): DataFrame = {
    val probes = nearestCells(query, cents, nProbe)
    val candidates = assignCells(df, col(vec), cents)
      .filter(col("ivf_cell").isin(probes: _*))
    Similarity.topK(candidates, id, vec, query, k)
  }
}
