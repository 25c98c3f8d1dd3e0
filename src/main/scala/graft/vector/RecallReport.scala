package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall@k evaluation of the approximate retrieval paths — the
  * report a real user runs BEFORE trusting `annTopK` (LSH) or
  * `ivfTopK` (IVF) at 100 TB: per query, how many of the exact
  * brute-force top-k did the approximate index return? A recall
  * figure is the only honest way to pick nPlanes/nProbe — the
  * approximate paths are tunably wrong by design, and their miss
  * rate is data-dependent (cluster structure, dimensionality), not
  * derivable from the parameters alone.
  *
  * Shape: everything is ONE join pipeline per method — no per-query
  * driver loop. The corpus is bucketed/cell-assigned once (the same
  * map-only expressions the production paths use); the query sample
  * explodes into its probe set and meets the corpus in a broadcast
  * hash join on the bucket/cell id; exact ground truth is a broadcast
  * nested-loop scoring pass (Q·N multiplies — that is the DEFINITION
  * of ground truth, which is why this runs on a query SAMPLE, not the
  * full query log). Per-query top-k uses a row_number window: the
  * shuffle key is the query id, fine at sample cardinality (the q54
  * treatment; an eval with millions of queries would salt the query
  * id first).
  *
  * Scoring matches `Similarity.topK` bit-for-bit (round-6 cosine,
  * id tie-break), so per-query rows equal the single-query paths
  * exactly — spec-asserted against `annTopK`/`ivfTopK`.
  */
object RecallReport {

  /** Per-query top-k rows of (qid, id, __score). */
  private def perQueryTopK(scored: DataFrame, qid: String, id: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(qid)).orderBy(desc("__score"), col(id))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qid), col(id))
  }

  /** Exact ground truth: score every (query, corpus) pair. Public so
    * a caller evaluating SEVERAL methods/parameter points against the
    * same (corpus, queries, k) computes the expensive Q·N pass once
    * and feeds it to each report via `exact`. */
  def exactTopK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int): DataFrame =
    perQueryTopK(
      corpus.crossJoin(broadcast(queries.select(col(qid), col(qvec))))
        .select(col(qid), col(id),
          round(Similarity.cosineSim(col(vec), col(qvec)), 6).as("__score")),
      qid, id, k)

  /** (qid, n_exact, n_hits, recall): recall = |approx ∩ exact| /
    * |exact| (|exact| < k only when the corpus itself is smaller). */
  private def reportOf(exact: DataFrame, approx: DataFrame, qid: String,
      id: String): DataFrame = {
    val totals = exact.groupBy(col(qid)).agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(approx, Seq(qid, id), "left_semi")
      .groupBy(col(qid)).agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq(qid), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col(qid), col("n_exact"), col("n_hits"),
        round(col("n_hits") / col("n_exact"), 4).as("recall"))
  }

  /** Recall@k of the LSH path (`Similarity.annTopK`) over a query
    * sample: (qid, n_exact, n_hits, recall), one row per query. */
  private[graft] def lshRecallAtK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int,
      nPlanes: Int = 8, seed: Long = 42L, multiProbe: Boolean = true,
      exact: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "lshRecallAtK: k must be positive")
    val bucketed = Similarity.withLshBucket(corpus, vec, nPlanes, seed)
    // each query explodes to the same probe set annTopK visits:
    // its own bucket plus (multiprobe) the nPlanes hamming-1 buckets
    // null query vectors (dead-lettered embeds) probe nothing rather
    // than NPE-ing the whole report — the withLshBucket discipline
    val probesOf = udf { (v: Seq[Float]) =>
      if (v == null) Seq.empty[Int]
      else {
        val qb = Similarity.bucketOf(v, nPlanes, seed)
        if (multiProbe) (qb +: (0 until nPlanes).map(p => qb ^ (1 << p))).distinct
        else Seq(qb)
      }
    }
    val qprobes = queries.select(col(qid), col(qvec),
      explode(probesOf(col(qvec))).as("lsh_bucket"))
    val approx = perQueryTopK(
      bucketed.join(broadcast(qprobes), Seq("lsh_bucket"))
        .select(col(qid), col(id),
          round(Similarity.cosineSim(col(vec), col(qvec)), 6).as("__score")),
      qid, id, k)
    reportOf(exact.getOrElse(exactTopK(corpus, id, vec, queries, qid, qvec, k)),
      approx, qid, id)
  }

  /** Recall@k of TRUNCATED-dimension retrieval (the Matryoshka/MRL
    * eval): score with only the first `dims` components of every
    * vector and report per-query overlap with full-dimension exact
    * top-k. The decision input for "can we store/serve a 64-dim
    * prefix of our 768-dim embeddings" — at 100 TB the index is
    * dims-proportional, so this report prices the recall cost of
    * each truncation point. Cosine needs no re-normalization after
    * the slice (it normalizes by the sliced magnitudes). Same shape
    * as the exact pass: one broadcast nested-loop over the query
    * sample, per-query top-k window, round-6 + id tie discipline —
    * fully oracle-checkable (slice is `list_slice` in SQL).
    * Output: (qid, n_exact, n_hits, recall), one row per query. */
  def truncatedDimRecallAtK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int, dims: Int,
      exact: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "truncatedDimRecallAtK: k must be positive")
    require(dims > 0, "truncatedDimRecallAtK: dims must be positive")
    val approx = perQueryTopK(
      corpus.crossJoin(broadcast(queries.select(col(qid), col(qvec))))
        .select(col(qid), col(id),
          round(Similarity.cosineSim(
            slice(col(vec), 1, dims), slice(col(qvec), 1, dims)), 6)
            .as("__score")),
      qid, id, k)
    reportOf(exact.getOrElse(exactTopK(corpus, id, vec, queries, qid, qvec, k)),
      approx, qid, id)
  }

  /** Recall@k of the IVF path (`Ivf.ivfTopK`) over a query sample:
    * (qid, n_exact, n_hits, recall), one row per query. */
  def ivfRecallAtK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int,
      cents: Array[Array[Float]], nProbe: Int = 2,
      exact: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "ivfRecallAtK: k must be positive")
    val assigned = Ivf.assignCells(corpus, col(vec), cents)
    val cellsOf = udf { (v: Seq[Float]) =>
      if (v == null) Seq.empty[Int]
      else Ivf.nearestCells(v.toArray, cents, nProbe)
    }
    val qcells = queries.select(col(qid), col(qvec),
      explode(cellsOf(col(qvec))).as("ivf_cell"))
    val approx = perQueryTopK(
      assigned.join(broadcast(qcells), Seq("ivf_cell"))
        .select(col(qid), col(id),
          round(Similarity.cosineSim(col(vec), col(qvec)), 6).as("__score")),
      qid, id, k)
    reportOf(exact.getOrElse(exactTopK(corpus, id, vec, queries, qid, qvec, k)),
      approx, qid, id)
  }
}
