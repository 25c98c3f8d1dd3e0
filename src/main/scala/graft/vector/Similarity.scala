package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY.md §2.10 V3).
  *
  * - `topK`: exact brute-force cosine top-k against a query vector.
  *   Spark plans orderBy+limit as TakeOrderedAndProject — each
  *   partition keeps a k-heap, the driver merges k·numPartitions rows;
  *   no global sort shuffle. The correctness baseline.
  * - `annTopK`: random-hyperplane LSH bucketing — the scale path. The
  *   scored set shrinks from N to the query's bucket (expected
  *   N/2^planes); buckets are precomputable/partition-keyed so a
  *   100 TB corpus probes one bucket, not the table.
  */
object Similarity {

  /** Codegen'd cosine kernel as a Column (see CosineSimilarity). */
  def cosineSim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  private def queryLit(q: Array[Float]): Column =
    typedlit(q.toSeq)

  /** Exact cosine top-k: score every row, TakeOrderedAndProject.
    * Scores rounded to 6 decimals with id tiebreak → deterministic. */
  def topK(df: DataFrame, id: String, vec: String, query: Array[Float],
      k: Int): DataFrame =
    df.withColumn("score", round(cosineSim(col(vec), queryLit(query)), 6))
      .select(col(id), col("score"))
      .orderBy(desc("score"), col(id))
      .limit(k)

  /** Deterministic ±1 random hyperplanes: parity of the first byte of
    * sha256("seed:plane:dim"). sha-derived (not JVM-hash) so any engine
    * can reproduce bucket assignment — DuckDB:
    * `substr(sha256('42:'||p||':'||i),2,1) IN ('0','2',...,'e')`. */
  private[vector] def hyperplaneSign(plane: Int, d: Int, seed: Long): Float = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(s"$seed:$plane:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((h(0) & 1) == 0) 1f else -1f
  }

  /** Per-executor memo of the (nPlanes × dim) sign matrix — sha256 runs
    * once per (plane,dim), not once per row. */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Float]]]()

  private[vector] def signMatrix(nPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] =
    signCache.computeIfAbsent((nPlanes, dim, seed), { _ =>
      Array.tabulate(nPlanes, dim)((p, d) => hyperplaneSign(p, d, seed))
    })

  private[vector] def bucketOf(v: Seq[Float], nPlanes: Int, seed: Long): Int = {
    val signs = signMatrix(nPlanes, v.length, seed)
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val row = signs(p)
      var d = 0
      while (d < v.length) { dot += v(d) * row(d); d += 1 }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Attach the LSH bucket id. In a real deployment this is computed
    * once at ingest and the collection is partitioned/bucketed by it,
    * so probes prune to one bucket's files. */
  def withLshBucket(df: DataFrame, vec: String, nPlanes: Int = 8,
      seed: Long = 42L, as: String = "lsh_bucket"): DataFrame = {
    // null vectors (dead-lettered embeds) bucket to null, never NPE
    val f = udf((v: Seq[Float]) =>
      if (v == null) None else Some(bucketOf(v, nPlanes, seed)))
    df.withColumn(as, f(col(vec)))
  }

  /** ANN top-k: score only rows in the query's bucket (plus optional
    * hamming-1 neighbor buckets for recall). */
  def annTopK(df: DataFrame, id: String, vec: String, query: Array[Float],
      k: Int, nPlanes: Int = 8, seed: Long = 42L,
      multiProbe: Boolean = true): DataFrame = {
    val qb = bucketOf(query.toSeq, nPlanes, seed)
    val probes: Seq[Int] =
      if (multiProbe) qb +: (0 until nPlanes).map(p => qb ^ (1 << p))
      else Seq(qb)
    val bucketed = withLshBucket(df, vec, nPlanes, seed)
      .filter(col("lsh_bucket").isin(probes: _*))
    topK(bucketed, id, vec, query, k)
  }
}
