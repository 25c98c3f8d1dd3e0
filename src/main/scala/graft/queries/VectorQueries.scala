package graft.queries

import org.apache.spark.sql.functions._
import graft.vector.{Embed, HashEmbedder, Ivf, Similarity}
import Q.t

/** Similarity-search / embedding queries (SURVEY.md §2.10) — all four
  * paths fully oracle-checked: every hash in the stack (feature-hash
  * embedder tokens, LSH hyperplane signs) is sha256-derived, so DuckDB
  * reproduces embeddings, buckets, cells, and scores bit-for-bit.
  */
object VectorQueries {

  /** One-row driver-side lookup of the query vector — the "query" is
    * an input parameter, not dataflow. (Shared with PcaQueries.) */
  private[queries] def queryVec(s: org.apache.spark.sql.SparkSession, d: String,
      id: Long): Array[Float] =
    t(s, d, "embeddings").filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** Two-level (coarse→fine) cell assignment, shared by q70/q79/q83/
    * q87 — the SQL mirror of `Ivf.assignCellsTwoLevel` under the
    * id-prefix seed rule: fine seeds are `vec_id < k`
    * (k = max(8, N/250), SemDedup.cellCountFor), coarse seeds the
    * `vec_id < ceil(√k)` (min 4) prefix of those. Fine centroid cid
    * below the coarse count anchors its own group (fcmap CASE);
    * rows route to their nearest coarse centroid, then to the nearest
    * fine centroid OF THAT GROUP. All argmins tie-break to the
    * smaller id, matching the Scala first-wins scan. */
  private[queries] val twoLevelCellCte: String =
    """k AS (SELECT greatest(8, count(*) // 250) AS k FROM embeddings),
      |ck AS (SELECT greatest(4, CAST(ceil(sqrt(k)) AS BIGINT)) AS c FROM k),
      |cent AS (SELECT vec_id AS cid, embedding AS cemb
      |       FROM embeddings WHERE vec_id < (SELECT k FROM k)),
      |vu AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |       generate_subscripts(embedding, 1) AS i FROM embeddings),
      |cu AS (SELECT cid, CAST(unnest(cemb) AS DOUBLE) AS cx,
      |       generate_subscripts(cemb, 1) AS i FROM cent),
      |gu AS (SELECT cid AS gid, cx AS gx, i FROM cu
      |       WHERE cid < (SELECT c FROM ck)),
      |fcd AS (SELECT cid, gid, SUM((cx - gx) * (cx - gx)) AS d2
      |       FROM cu JOIN gu USING (i) GROUP BY cid, gid),
      |fcmap AS (SELECT cid,
      |         CASE WHEN cid < (SELECT c FROM ck) THEN cid ELSE gid END AS gid
      |       FROM (SELECT cid, gid,
      |         row_number() OVER (PARTITION BY cid ORDER BY d2, gid) AS rn
      |       FROM fcd) WHERE rn = 1),
      |rgd AS (SELECT vec_id, gid, SUM((x - gx) * (x - gx)) AS d2
      |       FROM vu JOIN gu USING (i) GROUP BY vec_id, gid),
      |rgmap AS (SELECT vec_id, gid FROM (SELECT vec_id, gid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, gid) AS rn
      |       FROM rgd) WHERE rn = 1),
      |dist AS (SELECT v.vec_id, f.cid, SUM((v.x - f.cx) * (v.x - f.cx)) AS d2
      |       FROM vu v JOIN rgmap rg ON rg.vec_id = v.vec_id
      |            JOIN fcmap fm ON fm.gid = rg.gid
      |            JOIN cu f ON f.cid = fm.cid AND f.i = v.i
      |       GROUP BY v.vec_id, f.cid),
      |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |       FROM dist) WHERE rn = 1)""".stripMargin

  /** The Spark-side twin of `twoLevelCellCte`: corpus-scaled k, one
    * bounded driver collect of the k id-prefix seeds (documented cap
    * in `Ivf.seedCentroids`), coarse level = the √k prefix of those —
    * per-row assignment O(2√k·dim) instead of the flat O(k·dim). */
  private[queries] def corpusQuantizer(
      emb: org.apache.spark.sql.DataFrame): graft.vector.TwoLevelQuantizer = {
    val k = graft.vector.SemDedup.cellCountFor(emb.count())
    val fine = graft.vector.Ivf.seedCentroids(emb, "vec_id", "embedding", k)
    graft.vector.TwoLevelQuantizer(
      fine, fine.take(graft.vector.Ivf.coarseCountFor(k)))
  }

  /** Shared DuckDB CTE chain: corpus-scaled k-means cells → cell-
    * bounded ranked kNN candidates (`r`: ia, ib, cos_sim, rank).
    * q79 selects from it directly; q83's PageRank builds its edge
    * list from it. */
  private[queries] val knnRankedCte: String =
    twoLevelCellCte + """,
      |nrm AS (SELECT vec_id, sqrt(SUM(x*x)) AS nrm FROM vu GROUP BY vec_id),
      |pairs AS (SELECT ca.vec_id AS ia, cb.vec_id AS ib
      |      FROM cell ca JOIN cell cb ON ca.cid = cb.cid AND ca.vec_id <> cb.vec_id),
      |d AS (SELECT ia, ib, SUM(a.x * b.x) AS dot
      |      FROM pairs p JOIN vu a ON a.vec_id = p.ia
      |             JOIN vu b ON b.vec_id = p.ib AND b.i = a.i
      |      GROUP BY ia, ib),
      |sc AS (SELECT ia, ib, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
      |       FROM d JOIN nrm na ON na.vec_id = ia JOIN nrm nb ON nb.vec_id = ib),
      |r AS (SELECT ia, ib, cos_sim,
      |      row_number() OVER (PARTITION BY ia ORDER BY cos_sim DESC, ib) AS rank
      |      FROM sc)""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- exact brute-force cosine top-k (codegen'd kernel) ----
    Q("q18_cosine_topk",
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(SUM(x*qx) / (sqrt(SUM(x*x)) * sqrt(SUM(qx*qx))), 6) AS score
        |FROM u JOIN q USING (i) GROUP BY vec_id
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      Similarity.topK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryVec(s, d, 0), 10)
    },

    // ---- feature-hash embedding of the documents table (V1 stub) ----
    // Scalar digests only — the driver's pandas compare can't sort a raw
    // float-array column, so the vector itself stays out of the frame;
    // dim / element-sum / nonzero-count / self-cosine pin the embedding.
    // The sha256 token hashing makes the vectors engine-reproducible:
    // the oracle rebuilds index/sign slices, float-rounds the normalize
    // step (CAST AS FLOAT = IEEE single, same as the JVM), and matches
    // the digests exactly.
    Q("q19_embed_hash",
      """WITH tok AS (SELECT doc_id,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
        | FROM documents),
        |h AS (SELECT doc_id, sha256('42:' || tk) AS hh FROM tok WHERE tk <> ''),
        |c AS (SELECT doc_id,
        |   ((strpos('0123456789abcdef', substr(hh,1,1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(hh,2,1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(hh,3,1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(hh,4,1)) - 1)) % 64 AS idx,
        |   CASE WHEN (strpos('0123456789abcdef', substr(hh,5,1)) - 1) % 2 = 0
        |        THEN 1 ELSE -1 END AS sgn
        | FROM h),
        |v AS (SELECT doc_id, idx, CAST(SUM(sgn) AS DOUBLE) AS vv
        | FROM c GROUP BY doc_id, idx),
        |n AS (SELECT doc_id, sqrt(SUM(vv*vv)) AS nrm FROM v GROUP BY doc_id),
        |x AS (SELECT v.doc_id,
        |   CAST(CAST(vv AS FLOAT) * CAST(1.0 / nrm AS FLOAT) AS FLOAT) AS xv
        | FROM v JOIN n USING (doc_id) WHERE nrm > 0),
        |a AS (SELECT doc_id, round(SUM(CAST(xv AS DOUBLE)), 4) + 0.0 AS vec_sum,
        |   CAST(COUNT(*) FILTER (xv <> 0) AS INTEGER) AS nnz
        | FROM x GROUP BY doc_id)
        |SELECT d.doc_id, CAST(64 AS INTEGER) AS dim,
        | coalesce(a.vec_sum, 0.0) AS vec_sum,
        | coalesce(a.nnz, 0) AS nnz,
        | CASE WHEN a.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS self_cos
        |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val embedded = Embed.withEmbedding(
        t(s, d, "documents"), col("text"), new HashEmbedder(dim = 64))
      embedded.select(col("doc_id"),
          size(col("embedding")).as("dim"),
          // `+ 0.0` canonicalizes IEEE -0.0 to +0.0: a ±1e-8 vector sum
          // rounds to a SIGNED zero whose sign depends on summation order,
          // and DuckDB (IEEE round) can emit -0.0 where Spark's
          // BigDecimal-backed round emits +0.0 — equal values, different
          // bytes under the driver's hash compare.
          (round(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double")), 4) + lit(0.0d)).as("vec_sum"),
          size(filter(col("embedding"), x => x =!= 0.0f)).as("nnz"),
          round(Similarity.cosineSim(col("embedding"), col("embedding")), 3).as("self_cos"))
        .orderBy(col("doc_id"))
    },

    // ---- LSH-bucketed approximate nearest neighbors ----
    // 4 planes + hamming-1 multiprobe scans 5/16 of the corpus; plane
    // count is the recall/cost dial (more planes → finer pruning, needs
    // clustered embeddings to keep recall — testdata vectors are random).
    // Hyperplane signs are sha256("42:p:i")-derived (Similarity
    // .hyperplaneSign), so DuckDB reproduces bucket assignment exactly.
    Q("q20_ann_lsh",
      """WITH dims AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
        |planes AS (SELECT p, i,
        |       CASE WHEN substr(sha256('42:' || p || ':' || i), 2, 1)
        |              IN ('0','2','4','6','8','a','c','e')
        |            THEN 1.0 ELSE -1.0 END AS sgn
        |       FROM range(4) tp(p), range(64) ti(i)),
        |dots AS (SELECT vec_id, p, SUM(x * sgn) AS dot
        |       FROM dims JOIN planes USING (i) GROUP BY vec_id, p),
        |buckets AS (SELECT vec_id,
        |       CAST(SUM(CASE WHEN dot > 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
        |       FROM dots GROUP BY vec_id),
        |qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
        |probes AS (SELECT bucket AS b FROM qb
        |       UNION SELECT xor(qb.bucket, 1 << p) FROM qb, range(4) tp(p)),
        |cand AS (SELECT vec_id FROM buckets WHERE bucket IN (SELECT b FROM probes)),
        |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings
        |       WHERE vec_id IN (SELECT vec_id FROM cand)),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(SUM(x*qx) / (sqrt(SUM(x*x)) * sqrt(SUM(qx*qx))), 6) AS score
        |FROM u JOIN q USING (i) GROUP BY vec_id
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      Similarity.annTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryVec(s, d, 0), 10, nPlanes = 4)
    },

    // ---- IVF-ANN: nearest-centroid cells, probe-pruned top-k ----
    // Fixed centroids (the k=8 smallest vec_ids) keep the cell
    // assignment SQL-reproducible; the k-means‖ trainer
    // (`Pq.trainCodebooksKmeansPar` at m = 1), which no query runs,
    // is covered by IvfSpec instead. Double
    // (not float) distance arithmetic on both sides → exact parity.
    Q("q58_ivf_ann",
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cemb
        |       FROM embeddings WHERE vec_id < 8),
        |vu AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings),
        |cu AS (SELECT cid, CAST(unnest(cemb) AS DOUBLE) AS cx,
        |       generate_subscripts(cemb, 1) AS i FROM cent),
        |dist AS (SELECT vec_id, cid, SUM((x - cx) * (x - cx)) AS d2
        |       FROM vu JOIN cu USING (i) GROUP BY vec_id, cid),
        |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |       FROM dist) WHERE rn = 1),
        |qprobe AS (SELECT cid FROM (SELECT cid,
        |         row_number() OVER (ORDER BY d2, cid) AS rn
        |       FROM dist WHERE vec_id = 0) WHERE rn <= 2),
        |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings
        |       WHERE vec_id IN (SELECT vec_id FROM cell
        |                        WHERE cid IN (SELECT cid FROM qprobe))),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
        |       generate_subscripts(embedding, 1) AS i FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        | round(SUM(x*qx) / (sqrt(SUM(x*x)) * sqrt(SUM(qx*qx))), 6) AS score
        |FROM u JOIN q USING (i) GROUP BY vec_id
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
      Ivf.ivfTopK(emb, "vec_id", "embedding", queryVec(s, d, 0), 10,
        cents, nProbe = 2)
    },

    // ---- SemDeDup: cluster-bounded semantic dedup over embeddings ----
    // k-means cells (centroids = the smallest vec_ids, same SQL-
    // reproducible trick as q58; the TRAINED path is IvfSpec's job),
    // then within each cell drop every vector cosine->=0.3 to a
    // smaller-id member. The cell equi-join bounds the pairwise work
    // to cluster size, and k SCALES WITH THE CORPUS (max(8, N/250))
    // so cell membership stays ~constant — a fixed k would pay
    // quadratically growing cells (measured 15x wall at 10x rows on
    // q79 before the knob). k = 8 at sf0.01/sf0.1, 80 at sf1.
    Q("q70_semdedup",
      s"""WITH $twoLevelCellCte,
        |nrm AS (SELECT vec_id, sqrt(SUM(x*x)) AS nrm FROM vu GROUP BY vec_id),
        |p AS (SELECT ca.vec_id AS ia, cb.vec_id AS ib
        |      FROM cell ca JOIN cell cb ON ca.cid = cb.cid AND ca.vec_id < cb.vec_id),
        |d AS (SELECT ia, ib, SUM(a.x * b.x) AS dot
        |      FROM p JOIN vu a ON a.vec_id = p.ia
        |             JOIN vu b ON b.vec_id = p.ib AND b.i = a.i
        |      GROUP BY ia, ib),
        |losers AS (SELECT DISTINCT ib FROM d
        |      JOIN nrm na ON na.vec_id = ia JOIN nrm nb ON nb.vec_id = ib
        |      WHERE dot / (na.nrm * nb.nrm) >= 0.3)
        |SELECT c.vec_id, CAST(c.cid AS INTEGER) AS ivf_cell
        |FROM cell c WHERE c.vec_id NOT IN (SELECT ib FROM losers)
        |ORDER BY c.vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.vector.SemDedup.dropSemanticDuplicates(
          emb, "vec_id", "embedding", corpusQuantizer(emb), threshold = 0.3)
        .select(col("vec_id"), col("ivf_cell"))
        .orderBy(col("vec_id"))
    },

    // ---- cell-bounded kNN graph (batch ANN, top-3 per vector) ----
    // The all-pairs analog of q58's single-query probe: neighbors come
    // from each vector's own k-means cell (corpus-scaled k, as q70),
    // ranked by ROUNDED cosine then neighbor id so ranks reproduce
    // across engines. Candidate edges are the cell equi-join — the
    // per-cell quadratic never sees the corpus.
    Q("q79_knn_graph",
      s"""WITH $knnRankedCte
        |SELECT ia AS vec_id, CAST(rank AS INTEGER) AS rank, ib AS neighbor, cos_sim
        |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.vector.SemDedup.knnGraph(emb, "vec_id", "embedding",
          corpusQuantizer(emb), k = 3)
        .orderBy(col("vec_id"), col("rank"))
    },

    // ---- two-level quantizer cell assignment (the IVF-IMI route) ----
    // Oracle-pins the coarse→fine assignment itself: every vector's
    // cell from "nearest of √k coarse seeds, then nearest fine seed of
    // that group" — the O(2√k·dim)/row scale path q70/q79/q83 ride.
    Q("q87_two_level_cells",
      s"""WITH $twoLevelCellCte
        |SELECT vec_id, CAST(cid AS INTEGER) AS ivf_cell
        |FROM cell ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = corpusQuantizer(emb)
      q.attach(emb.select(col("vec_id"), col("embedding")), col("embedding"))
        .select(col("vec_id"), col("ivf_cell"))
        .orderBy(col("vec_id"))
    },

    // ---- IVF index-health: cell occupancy report ----
    // One row over q87's cell assignment: cell count, min/max/mean
    // occupancy, hot cells (> 2× mean). A skewed quantizer makes
    // probe cost unpredictable before recall degrades — this is the
    // row an index owner checks before shipping.
    Q("q114_cell_occupancy",
      s"""WITH $twoLevelCellCte,
        |occ AS (SELECT cid, count(*) AS c FROM cell GROUP BY cid),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(min(c) AS BIGINT) AS min_occ, CAST(max(c) AS BIGINT) AS max_occ,
        |  sum(c) / CAST(count(*) AS DOUBLE) AS m FROM occ)
        |SELECT n_cells, min_occ, max_occ, round(m, 6) AS mean_occ,
        | CAST(sum(CASE WHEN c > 2.0 * m THEN 1 ELSE 0 END) AS BIGINT) AS hot_cells
        |FROM occ, tot GROUP BY n_cells, min_occ, max_occ, m""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cells = corpusQuantizer(emb)
        .attach(emb.select(col("vec_id"), col("embedding")), col("embedding"))
        .select(col("vec_id"), col("ivf_cell"))
      graft.ops.CorpusReports.cellOccupancyReport(cells, "ivf_cell")
    },

    // ---- embedding-corpus health summary (index-ingest gate) ----
    // Ragged dims, zero vectors, NaN payloads, norm range — checked
    // on the actual corpus (the AdapterContractSpec seam pins the
    // embedder; this audits data). Counts integer-exact; norm extrema
    // are per-row index-order sums, so no cross-row fp accumulation.
    Q("q121_embedding_health",
      """WITH v AS (SELECT len(embedding) AS d,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
        |  CASE WHEN list_sum(list_transform(embedding,
        |    x -> CASE WHEN isnan(CAST(x AS DOUBLE)) THEN 1 ELSE 0 END)) > 0
        |   THEN 1 ELSE 0 END AS hasnan,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        | FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(count(DISTINCT d) AS BIGINT) AS n_dims_distinct,
        | CAST(min(d) AS INTEGER) AS min_dim,
        | CAST(max(d) AS INTEGER) AS max_dim,
        | CAST(sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vecs,
        | CAST(sum(hasnan) AS BIGINT) AS nan_vecs,
        | round(min(CASE WHEN hasnan = 0 THEN nrm END), 6) AS min_norm,
        | round(max(CASE WHEN hasnan = 0 THEN nrm END), 6) AS max_norm
        |FROM v""".stripMargin) { (s, d) =>
      graft.vector.VectorHealth.embeddingHealthReport(
        t(s, d, "embeddings"), col("embedding"))
    },

    // ---- int8 quantization error report (per-vector pricing) ----
    // MSE + worst element error of q52's symmetric int8 round-trip,
    // one row per vector so outliers stay visible (a corpus mean is
    // also a cross-row fp sum — not hash-reproducible; per-row
    // index-order arithmetic is).
    Q("q122_quantization_error",
      """WITH v AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        | FROM embeddings),
        |q AS (SELECT vec_id, m, embedding,
        |  list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) / m * 127) AS BIGINT)) AS qv
        | FROM v WHERE m > 0),
        |r AS (SELECT vec_id, m, embedding,
        |  list_transform(qv, q -> CAST(CAST(q AS DOUBLE) * m / 127 AS FLOAT)) AS rv
        | FROM q),
        |e AS (SELECT vec_id, m, list_transform(range(1, len(embedding) + 1),
        |  i -> CAST(embedding[i] AS DOUBLE) - CAST(rv[i] AS DOUBLE)) AS errs
        | FROM r)
        |SELECT vec_id,
        | round(list_sum(list_transform(errs, e -> e * e)) / len(errs), 6) AS mse,
        | round(list_max(list_transform(errs, e -> abs(e))), 6) AS max_abs_err,
        | round(m, 6) AS scale
        |FROM e ORDER BY vec_id""".stripMargin) { (s, d) =>
      graft.vector.VectorHealth.quantizationErrorReport(
          t(s, d, "embeddings"), "vec_id", col("embedding"))
        .orderBy(col("vec_id"))
    },

    // ---- cluster purity vs ground-truth labels (quantizer quality) ----
    // q87's cell assignment joined to the embeddings' label column:
    // per cell, size, majority label, and purity — the external
    // clustering metric, per-row so a skewed quantizer's bad cells
    // are individually visible. Ties break to the smaller label.
    Q("q118_cluster_purity",
      s"""WITH $twoLevelCellCte,
        |cl AS (SELECT c.cid, e.label, count(*) AS n
        |      FROM cell c JOIN embeddings e USING (vec_id)
        |      GROUP BY c.cid, e.label),
        |r AS (SELECT cid, label, n,
        |      sum(n) OVER (PARTITION BY cid) AS n_cell,
        |      row_number() OVER (PARTITION BY cid
        |        ORDER BY n DESC, label ASC) AS rn
        |     FROM cl)
        |SELECT CAST(cid AS INTEGER) AS ivf_cell,
        | CAST(n_cell AS BIGINT) AS n_cell,
        | CAST(label AS INTEGER) AS majority_label,
        | CAST(n AS BIGINT) AS majority_n,
        | round(n / CAST(n_cell AS DOUBLE), 6) AS purity
        |FROM r WHERE rn = 1 ORDER BY ivf_cell""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cells = corpusQuantizer(emb)
        .attach(emb.select(col("vec_id"), col("embedding")), col("embedding"))
        .select(col("vec_id"), col("ivf_cell"))
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      graft.ops.CorpusReports.clusterPurityReport(cells, "ivf_cell", "label")
        .orderBy(col("ivf_cell"))
    },

    // ---- semantic cross-split leakage (paraphrase decontamination) ----
    // Embedding-level leakage between an even/odd id split: the
    // SemDeDup cell structure pointed across the boundary — catches
    // reworded/translated test content that shares no n-gram (q59)
    // and no exact fingerprint (q81) with its source. The quantizer
    // is built on the UNION so both splits share one cell space.
    Q("q89_semantic_leakage",
      s"""WITH $twoLevelCellCte,
        |nrm AS (SELECT vec_id, sqrt(SUM(x*x)) AS nrm FROM vu GROUP BY vec_id),
        |p AS (SELECT a.vec_id AS train_id, b.vec_id AS test_id
        |      FROM cell a JOIN cell b ON a.cid = b.cid
        |      WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |d AS (SELECT train_id, test_id, SUM(a.x * b.x) AS dot
        |      FROM p JOIN vu a ON a.vec_id = p.train_id
        |             JOIN vu b ON b.vec_id = p.test_id AND b.i = a.i
        |      GROUP BY train_id, test_id)
        |SELECT train_id, test_id, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
        |FROM d JOIN nrm na ON na.vec_id = train_id
        |       JOIN nrm nb ON nb.vec_id = test_id
        |WHERE dot / (na.nrm * nb.nrm) >= 0.3
        |ORDER BY train_id, test_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val quant = corpusQuantizer(emb)
      graft.ops.Decontaminate.semanticLeakage(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", quant, threshold = 0.3)
        .orderBy(col("train_id"), col("test_id"))
    },

    // ---- leave-one-out k-NN majority-vote classification ----
    // A FIXED 100-vector query sample runs against the full corpus
    // (minus itself) — fixed, not corpus-proportional, so the exact
    // path's Q·N cost stays linear in N at every sf (the sample IS
    // the contract; whole-corpus classification is q101's cell
    // path); 10 nearest by round-6 cosine vote, ties break
    // count-desc then label-asc. DuckDB's list_cosine_similarity on
    // DOUBLE-cast lists sums in index order like the native
    // CosineSimilarity expression — scores match at 6dp.
    Q("q97_knn_classify",
      """WITH q AS (SELECT vec_id AS qid,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv, label AS tl
        | FROM embeddings WHERE vec_id < 100),
        |s AS (SELECT qid, tl, e.vec_id AS nid, e.label AS nl,
        |  round(list_cosine_similarity(qv,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 6) AS sc
        | FROM q, embeddings e WHERE e.vec_id <> qid),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY qid ORDER BY sc DESC, nid) AS rn FROM s),
        |v AS (SELECT qid, tl, nl, CAST(count(*) AS BIGINT) AS n_votes
        | FROM r WHERE rn <= 10 GROUP BY qid, tl, nl),
        |p AS (SELECT *, row_number() OVER
        |  (PARTITION BY qid ORDER BY n_votes DESC, nl) AS pr FROM v)
        |SELECT qid AS vec_id, tl AS true_label, nl AS pred_label, n_votes,
        | (nl = tl) AS correct
        |FROM p WHERE pr = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.vector.KnnClassify.knnClassify(emb, "vec_id", "embedding",
        "label", emb.filter(col("vec_id") < 100), k = 10)
    },

    // ---- cell-bounded k-NN classification (the 100 TB path) ----
    // Same vote semantics as q97 but candidates come from the shared
    // two-level quantizer cell join — EVERY row classifies at
    // O(N·cell) instead of O(Q·N); singleton-cell rows emit nothing
    // (the knnGraph contract). Oracle rides q79's ranked-pairs CTE.
    Q("q101_knn_classify_cells",
      s"""WITH $knnRankedCte,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |top AS (SELECT ia, ib FROM r WHERE rank <= 5),
        |v AS (SELECT t.ia AS vec_id, la.label AS tl, lb.label AS nl,
        |  CAST(count(*) AS BIGINT) AS n_votes
        | FROM top t JOIN lab la ON la.vec_id = t.ia
        |            JOIN lab lb ON lb.vec_id = t.ib
        | GROUP BY 1, 2, 3),
        |p AS (SELECT *, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY n_votes DESC, nl) AS pr FROM v)
        |SELECT vec_id, tl AS true_label, nl AS pred_label, n_votes,
        | (nl = tl) AS correct
        |FROM p WHERE pr = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.vector.KnnClassify.knnClassifyCells(emb, "vec_id", "embedding",
        "label", corpusQuantizer(emb), k = 5)
    },

    // ---- confusion matrix of the cell-bounded classifier ----
    // (true, pred, count, per-true-label share) — the per-class
    // recall table a user reads before trusting propagated labels.
    // Wraps q101's vote pipeline in a labels² agg.
    Q("q102_confusion_matrix",
      s"""WITH $knnRankedCte,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |top AS (SELECT ia, ib FROM r WHERE rank <= 5),
        |v AS (SELECT t.ia AS vec_id, la.label AS tl, lb.label AS nl,
        |  CAST(count(*) AS BIGINT) AS n_votes
        | FROM top t JOIN lab la ON la.vec_id = t.ia
        |            JOIN lab lb ON lb.vec_id = t.ib
        | GROUP BY 1, 2, 3),
        |p AS (SELECT vec_id, tl, nl FROM (SELECT *, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY n_votes DESC, nl) AS pr FROM v)
        | WHERE pr = 1),
        |cm AS (SELECT tl AS true_label, nl AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
        |SELECT true_label, pred_label, n,
        | round(n / CAST(sum(n) OVER (PARTITION BY true_label) AS DOUBLE), 6)
        |   AS share
        |FROM cm ORDER BY true_label, pred_label""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.vector.KnnClassify.confusionMatrix(
        graft.vector.KnnClassify.knnClassifyCells(emb, "vec_id", "embedding",
          "label", corpusQuantizer(emb), k = 5))
    },

    // ---- truncated-dimension recall (the Matryoshka/MRL eval) ----
    // Retrieval with only the first 16 of 64 components vs full-dim
    // exact top-10 over a 20-query sample — the report that prices a
    // dims-proportional index cut. Cosine needs no re-normalization
    // after the slice; both engines share the round-6 + id-tiebreak
    // rank discipline.
    Q("q104_truncated_recall",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
        | FROM embeddings WHERE vec_id < 20),
        |sfull AS (SELECT qid, e.vec_id AS nid,
        |  round(list_cosine_similarity(list_transform(qv, x -> CAST(x AS DOUBLE)),
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 6) AS sc
        | FROM q, embeddings e),
        |rfull AS (SELECT qid, nid, row_number() OVER
        |  (PARTITION BY qid ORDER BY sc DESC, nid) AS rn FROM sfull),
        |efull AS (SELECT qid, nid FROM rfull WHERE rn <= 10),
        |strp AS (SELECT qid, e.vec_id AS nid,
        |  round(list_cosine_similarity(
        |    list_transform(list_slice(qv, 1, 16), x -> CAST(x AS DOUBLE)),
        |    list_transform(list_slice(e.embedding, 1, 16), x -> CAST(x AS DOUBLE))), 6) AS sc
        | FROM q, embeddings e),
        |rtr AS (SELECT qid, nid, row_number() OVER
        |  (PARTITION BY qid ORDER BY sc DESC, nid) AS rn FROM strp),
        |etr AS (SELECT qid, nid FROM rtr WHERE rn <= 10),
        |tot AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
        | FROM efull GROUP BY qid),
        |hit AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS n_hits
        | FROM efull f JOIN etr t ON f.qid = t.qid AND f.nid = t.nid
        | GROUP BY f.qid)
        |SELECT tot.qid AS vec_id, n_exact, coalesce(n_hits, 0) AS n_hits,
        | round(coalesce(n_hits, 0) / CAST(n_exact AS DOUBLE), 4) AS recall
        |FROM tot LEFT JOIN hit ON tot.qid = hit.qid
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.vector.RecallReport.truncatedDimRecallAtK(emb, "vec_id",
          "embedding",
          emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, dims = 16)
        .withColumnRenamed("qid", "vec_id")
        .orderBy(col("vec_id"))
    },
  )
}
