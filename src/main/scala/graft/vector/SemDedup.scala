package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space with k-means, then
  * compare vectors ONLY within their cluster and drop every vector
  * whose cosine similarity to a smaller-id cluster member reaches the
  * threshold — semantic near-duplicates that exact/MinHash dedup
  * cannot see (paraphrases, templated rewrites, translations).
  *
  * This is the third dedup scale path next to MinHash-LSH banding
  * (`ops.NearDup`) and hyperplane/IVF ANN (`Similarity`/`Ivf`): the
  * cluster assignment is a per-row map against broadcast centroids —
  * O(2√k·dim) under the default two-level [[Quantizer]] (k is
  * corpus-scaled via `cellCountFor`, so the flat O(k·dim) scan would
  * make total assignment work O(N²/cellSize); the coarse→fine route
  * cuts the per-row term to O(√k·dim), and its distributed form keeps
  * all but the √k coarse prefix off the driver)
  * — the candidate generation is an equi-join on the cell id
  * (one shuffle, hash-partitioned by cell), and the pairwise cosine
  * work is bounded by cluster size — k is the knob that keeps
  * per-cell membership ~N/k so the quadratic term never sees the full
  * corpus. `dropSemanticDuplicates` keeps the smallest id of each
  * pair (greedy); chain `NearDup.connectedComponents` over
  * `semanticDuplicatePairs` when transitive grouping is wanted.
  */
object SemDedup {

  /** Cell count that holds expected cell membership at
    * `targetCellSize` for an `n`-vector corpus (min 8): within-cell
    * pairwise work is O(cellSize) PER VECTOR, so k must grow with N —
    * a fixed k pays quadratically growing cells (10× rows at fixed
    * k=8 → 100× pairwise work; measured 15× wall on q79 before this
    * knob). */
  def cellCountFor(n: Long, targetCellSize: Long = 250L): Int =
    math.max(8L, n / targetCellSize).toInt

  /** Within-cell candidate pairs with cosine >= threshold:
    * (cell, id_a, id_b, cos_sim), id_a < id_b. Array form = flat
    * quantizer; pass a [[TwoLevelQuantizer]] when k is corpus-scaled
    * (see [[Quantizer]]). */
  private[graft] def semanticDuplicatePairs(df: DataFrame, id: String, vec: String,
      cents: Array[Array[Float]], threshold: Double,
      cellCol: String): DataFrame =
    semanticDuplicatePairs(df, id, vec, FlatQuantizer(cents), threshold, cellCol)

  private[graft] def semanticDuplicatePairs(df: DataFrame, id: String, vec: String,
      cents: Array[Array[Float]], threshold: Double): DataFrame =
    semanticDuplicatePairs(df, id, vec, FlatQuantizer(cents), threshold, "ivf_cell")

  private[graft] def semanticDuplicatePairs(df: DataFrame, id: String, vec: String,
      quant: Quantizer, threshold: Double,
      cellCol: String = "ivf_cell"): DataFrame = {
    // Par.widen: cell assignment + the within-cell pairwise cosine are
    // the family's dominant map cost; over a single-row-group input
    // the whole kernel otherwise lands on one task (guide §2.5, gated)
    val assigned = quant.attach(
      graft.ops.Par.widen(df.select(col(id), col(vec))), col(vec), cellCol)
    val a = assigned.select(col(cellCol), col(id).as("id_a"), col(vec).as("__va"))
    val b = assigned.select(col(cellCol), col(id).as("id_b"), col(vec).as("__vb"))
    val cos = Similarity.cosineSim(col("__va"), col("__vb"))
    a.join(b, Seq(cellCol))
      .filter(col("id_a") < col("id_b") && cos >= threshold)
      .select(col(cellCol), col("id_a"), col("id_b"),
        round(cos, 6).as("cos_sim"))
  }

  /** Cell-bounded kNN graph — batch ANN: each vector's k nearest
    * neighbors AMONG ITS OWN CELL's members by cosine, as (id, rank,
    * neighbor, cos_sim). The all-pairs analog of the single-query
    * `Ivf.ivfTopK`: candidate edges come from the cell equi-join (one
    * shuffle, per-cell quadratic bounded by cluster size), the top-k
    * cut is a per-id window over the ROUNDED score (6 decimals, ties
    * to the smaller neighbor id) so ranks reproduce across engines.
    * Boundary pairs are missed by construction — same recall dial as
    * `dropSemanticDuplicates` (raise k / probe neighbors for more). */
  def knnGraph(df: DataFrame, id: String, vec: String,
      quant: Quantizer, k: Int,
      cellCol: String = "ivf_cell"): DataFrame = {
    require(k >= 1, "knnGraph: k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // Par.widen: see semanticDuplicatePairs — same single-task hazard
    val assigned = quant.attach(
      graft.ops.Par.widen(df.select(col(id), col(vec))), col(vec), cellCol)
    val a = assigned.select(col(cellCol), col(id).as("__id"), col(vec).as("__va"))
    val b = assigned.select(col(cellCol), col(id).as("neighbor"), col(vec).as("__vb"))
    val cos = Similarity.cosineSim(col("__va"), col("__vb"))
    val scored = a.join(b, Seq(cellCol))
      .filter(col("__id") =!= col("neighbor"))
      .select(col("__id").as(id), col("neighbor"), round(cos, 6).as("cos_sim"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("cos_sim").desc, col("neighbor").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(id), col("rank"), col("neighbor"), col("cos_sim"))
  }

  /** Apply semantic dedup: every row cosine-close to a smaller-id
    * member of its own cluster is dropped (greedy keep-min policy —
    * the SemDeDup paper's "keep one per ε-ball"). Returns the
    * surviving rows WITH their cell id attached (callers typically
    * write the collection partitioned by it). */
  def dropSemanticDuplicates(df: DataFrame, id: String, vec: String,
      quant: Quantizer, threshold: Double,
      cellCol: String = "ivf_cell"): DataFrame = {
    val losers = semanticDuplicatePairs(df, id, vec, quant, threshold, cellCol)
      .select(col("id_b").as(id)).distinct()
    quant.attach(df, col(vec), cellCol)
      .join(losers, Seq(id), "left_anti")
  }
}
