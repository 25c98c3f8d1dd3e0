package graft.queries

import org.apache.spark.sql.functions._
import graft.vector.{Pq, Quantize}
import Q.t

/** Product-quantization queries (the compressed-ANN layer next to
  * q52's int8 and q58/q87's IVF): trained-codebook code assignment
  * cell by cell, ADC ranking, the PQ-vs-int8 recall report, and the
  * reconstruction-error report. The oracle replays the ENTIRE
  * training loop — id-prefix seeds, one Lloyd round with grid-snapped
  * float32 centroid means, empty-code fallback — so a hash match
  * proves the distributed trainer, not just the encoder.
  *
  * Fixed geometry on the dim-64 fixture: m=8 subspaces × dsub=8,
  * k=16 codes — 64 floats (256 bytes) → 8 small ints. */
object PqQueries {

  private val M = 8
  private val K = 16
  private val Iters = 1

  /** Shared engine-side model: seeds from `vec_id < K`, one Lloyd
    * round, round-6 float32 centroid grid (`Pq.trainCodebooks`). */
  private def model(emb: org.apache.spark.sql.DataFrame): Pq.PqModel =
    Pq.trainCodebooks(emb, "vec_id", "embedding", M, K, iters = Iters)

  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "embeddings").where(col("embedding").isNotNull)

  /** Shared oracle CTE chain ending in the trained codebook `cb1`
    * (s, c, j, cx) and the final assignment `a1` (vec_id, s, c):
    *   sv   per-(vector, subspace s = p//8, local dim j = p%8) doubles
    *   cb0  seed codebooks = the `vec_id < K` rows sliced per subspace
    *   a0   round-0 assignment (argmin d2, ties → smaller code)
    *   mu   per-(s, c, j) Lloyd means over a0's members
    *   cb1  round(mu, 6)::REAL — the exact grid snap the engine does
    *        (decimal → double → float32); empty codes keep the seed
    *   a1   reassignment under cb1
    * All argmins ORDER BY (d2, c) — the PqEncode first-wins scan. */
  private val pqCte: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |     WHERE embedding IS NOT NULL),
       |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |      generate_subscripts(embedding, 1) - 1 AS p FROM e),
       |sv AS (SELECT vec_id, p // 8 AS s, p % 8 AS j, x FROM u),
       |cb0 AS (SELECT vec_id AS c, p // 8 AS s, p % 8 AS j, x AS cx
       |      FROM u WHERE vec_id < $K),
       |d0 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM sv t JOIN cb0 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |a0 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM d0) WHERE rn = 1),
       |mu AS (SELECT a0.s, a0.c, t.j, AVG(t.x) AS mu
       |      FROM a0 JOIN sv t ON t.vec_id = a0.vec_id AND t.s = a0.s
       |      GROUP BY a0.s, a0.c, t.j),
       |cb1 AS (SELECT cb0.s, cb0.c, cb0.j,
       |      CAST(COALESCE(CAST(round(mu.mu, 6) AS REAL),
       |                    CAST(cb0.cx AS REAL)) AS DOUBLE) AS cx
       |      FROM cb0 LEFT JOIN mu
       |        ON mu.s = cb0.s AND mu.c = cb0.c AND mu.j = cb0.j),
       |d1 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM sv t JOIN cb1 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |a1 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM d1) WHERE rn = 1)""".stripMargin

  /** Decoded (reconstructed) per-dimension values of every vector. */
  private val decCte: String =
    """dec AS (SELECT a1.vec_id, c.s, c.j, c.cx
      |      FROM a1 JOIN cb1 c ON c.s = a1.s AND c.c = a1.c)""".stripMargin

  /** Residual-space training chain (q171/q172), given `u` in scope:
    * coarse cells (vec_id<8 seeds), float32 residuals, seed codebooks
    * from the vec_id 8..8+K residuals (past the zero-residual centroid
    * rows — see q171's comment), one grid-snapped Lloyd round, final
    * assignment ra1 against rcb1. */
  private lazy val residualTrainCte: String =
    s"""cvu AS (SELECT vec_id AS cid, p, x FROM u WHERE vec_id < 8),
       |cd AS (SELECT t.vec_id, c.cid, SUM((t.x - c.x) * (t.x - c.x)) AS d2
       |      FROM u t JOIN cvu c ON c.p = t.p GROUP BY t.vec_id, c.cid),
       |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |      FROM cd) WHERE rn = 1),
       |rv AS (SELECT t.vec_id, t.p,
       |      CAST(CAST(t.x - cv.x AS REAL) AS DOUBLE) AS x
       |      FROM u t JOIN cell ce ON ce.vec_id = t.vec_id
       |      JOIN cvu cv ON cv.cid = ce.cid AND cv.p = t.p),
       |rsv AS (SELECT vec_id, p // 8 AS s, p % 8 AS j, x FROM rv),
       |rcb0 AS (SELECT vec_id - 8 AS c, p // 8 AS s, p % 8 AS j, x AS cx
       |      FROM rv WHERE vec_id >= 8 AND vec_id < ${8 + K}),
       |rd0 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM rsv t JOIN rcb0 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |ra0 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM rd0) WHERE rn = 1),
       |rmu AS (SELECT ra0.s, ra0.c, t.j, AVG(t.x) AS mu
       |      FROM ra0 JOIN rsv t ON t.vec_id = ra0.vec_id AND t.s = ra0.s
       |      GROUP BY ra0.s, ra0.c, t.j),
       |rcb1 AS (SELECT rcb0.s, rcb0.c, rcb0.j,
       |      CAST(COALESCE(CAST(round(rmu.mu, 6) AS REAL),
       |                    CAST(rcb0.cx AS REAL)) AS DOUBLE) AS cx
       |      FROM rcb0 LEFT JOIN rmu
       |        ON rmu.s = rcb0.s AND rmu.c = rcb0.c AND rmu.j = rcb0.j),
       |rd1 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM rsv t JOIN rcb1 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |ra1 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM rd1) WHERE rn = 1)""".stripMargin

  /** Corpus-adaptive training chain (q174): strided seeds — seed c is
    * the row at id ⌊c·(maxId+1)/K⌋, spread across the whole corpus —
    * then TWO grid-snapped Lloyd rounds (the q166 chain run twice,
    * empty codes falling back to the PREVIOUS round's centroid).
    * Mirrors `Pq.trainCodebooksAdaptive` exactly; ends in the final
    * assignment `aa2` against `acb2` and the decode view `adec`. */
  private lazy val adaptiveCte: String =
    s"""amx AS (SELECT max(vec_id) + 1 AS n FROM e),
       |atg AS (SELECT c, (c * amx.n) // $K AS sid FROM range($K) t(c), amx),
       |acb0 AS (SELECT atg.c AS c, u.p // 8 AS s, u.p % 8 AS j, u.x AS cx
       |      FROM u JOIN atg ON atg.sid = u.vec_id),
       |ad0 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM sv t JOIN acb0 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |aa0 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM ad0) WHERE rn = 1),
       |amu1 AS (SELECT aa0.s, aa0.c, t.j, AVG(t.x) AS mu
       |      FROM aa0 JOIN sv t ON t.vec_id = aa0.vec_id AND t.s = aa0.s
       |      GROUP BY aa0.s, aa0.c, t.j),
       |acb1 AS (SELECT acb0.s, acb0.c, acb0.j,
       |      CAST(COALESCE(CAST(round(amu1.mu, 6) AS REAL),
       |                    CAST(acb0.cx AS REAL)) AS DOUBLE) AS cx
       |      FROM acb0 LEFT JOIN amu1
       |        ON amu1.s = acb0.s AND amu1.c = acb0.c AND amu1.j = acb0.j),
       |ad1 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM sv t JOIN acb1 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |aa1 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM ad1) WHERE rn = 1),
       |amu2 AS (SELECT aa1.s, aa1.c, t.j, AVG(t.x) AS mu
       |      FROM aa1 JOIN sv t ON t.vec_id = aa1.vec_id AND t.s = aa1.s
       |      GROUP BY aa1.s, aa1.c, t.j),
       |acb2 AS (SELECT acb1.s, acb1.c, acb1.j,
       |      CAST(COALESCE(CAST(round(amu2.mu, 6) AS REAL),
       |                    CAST(acb1.cx AS REAL)) AS DOUBLE) AS cx
       |      FROM acb1 LEFT JOIN amu2
       |        ON amu2.s = acb1.s AND amu2.c = acb1.c AND amu2.j = acb1.j),
       |ad2 AS (SELECT t.vec_id, t.s, c.c,
       |      SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
       |      FROM sv t JOIN acb2 c ON c.s = t.s AND c.j = t.j
       |      GROUP BY t.vec_id, t.s, c.c),
       |aa2 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |      FROM ad2) WHERE rn = 1),
       |adec AS (SELECT aa2.vec_id, c.s, c.j, c.cx
       |      FROM aa2 JOIN acb2 c ON c.s = aa2.s AND c.c = aa2.c)""".stripMargin

  /** q170's oracle — also q173's verbatim (ADC serving FROM the
    * partition-pruned on-disk index must reproduce the in-memory
    * path exactly, including the rerank). */
  private lazy val ivfPqOracle: String =
    s"""WITH $pqCte,
         |cvu AS (SELECT vec_id AS cid, p, x FROM u WHERE vec_id < 8),
         |cd AS (SELECT t.vec_id, c.cid, SUM((t.x - c.x) * (t.x - c.x)) AS d2
         |      FROM u t JOIN cvu c ON c.p = t.p GROUP BY t.vec_id, c.cid),
         |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |      FROM cd) WHERE rn = 1),
         |probe AS (SELECT cid FROM (SELECT cid,
         |      row_number() OVER (ORDER BY d2, cid) AS rn
         |      FROM cd WHERE vec_id = 0) WHERE rn <= 2),
         |cand AS (SELECT ce.vec_id FROM cell ce JOIN probe pr ON pr.cid = ce.cid),
         |q AS (SELECT p // 8 AS s, p % 8 AS j, x AS qx
         |      FROM u WHERE vec_id = 0),
         |lut AS (SELECT c.s, c.c, SUM((q.qx - c.cx) * (q.qx - c.cx)) AS d2
         |      FROM cb1 c JOIN q ON q.s = c.s AND q.j = c.j
         |      GROUP BY c.s, c.c),
         |ad AS (SELECT a1.vec_id, round(SUM(l.d2), 6) AS adc_d2
         |      FROM a1 JOIN cand ON cand.vec_id = a1.vec_id
         |      JOIN lut l ON l.s = a1.s AND l.c = a1.c
         |      GROUP BY a1.vec_id),
         |page AS (SELECT vec_id, adc_d2 FROM ad
         |      ORDER BY adc_d2, vec_id LIMIT 20),
         |qx AS (SELECT p, x AS qx FROM u WHERE vec_id = 0),
         |ex AS (SELECT pg.vec_id, pg.adc_d2,
         |      round(SUM((t.x - qx.qx) * (t.x - qx.qx)), 6) AS exact_d2
         |      FROM page pg JOIN u t ON t.vec_id = pg.vec_id
         |      JOIN qx ON qx.p = t.p
         |      GROUP BY pg.vec_id, pg.adc_d2)
         |SELECT vec_id, adc_d2, exact_d2 FROM ex
         |ORDER BY exact_d2, vec_id LIMIT 10""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- trained PQ codes, cell by cell ----
    // One row per (vector, subspace): which trained code captured it.
    // A wrong seed slice, a drifted Lloyd mean, a missed empty-code
    // fallback, or a tie broken the other way all break the hash.
    Q("q166_pq_codes",
      s"""WITH $pqCte
         |SELECT vec_id, s AS subspace, c AS code
         |FROM a1 ORDER BY vec_id, subspace""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      Pq.encode(e, col("embedding"), model(e), "pq_codes")
        .select(col("vec_id"),
          posexplode(col("pq_codes")).as(Seq("subspace", "code")))
        .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
          col("code").cast("long").as("code"))
        .orderBy(col("vec_id"), col("subspace"))
    },

    // ---- ADC top-10 for one query ----
    // The oracle builds the m×k lookup table from the trained codebook
    // and ranks by the summed table entries — the literal ADC
    // computation. Engine: `Pq.pqTopK` (broadcast LUT, map-only scan,
    // TakeOrdered). Distances round-6, ties → vec_id.
    Q("q167_pq_adc_topk",
      s"""WITH $pqCte,
         |q AS (SELECT p // 8 AS s, p % 8 AS j, x AS qx
         |      FROM u WHERE vec_id = 0),
         |lut AS (SELECT c.s, c.c, SUM((q.qx - c.cx) * (q.qx - c.cx)) AS d2
         |      FROM cb1 c JOIN q ON q.s = c.s AND q.j = c.j
         |      GROUP BY c.s, c.c),
         |ad AS (SELECT a1.vec_id, SUM(l.d2) AS d2
         |      FROM a1 JOIN lut l ON l.s = a1.s AND l.c = a1.c
         |      GROUP BY a1.vec_id)
         |SELECT vec_id, round(d2, 6) AS adc_d2 FROM ad
         |ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      // r22 (guide §2.6): the trainer's Lloyd round and the query-row
      // collect are independent driver round-trips — overlap them
      val (mod, qv) = graft.ops.Par.concurrently(s)(model(e))(
        VectorQueries.queryVec(s, d, 0))
      Pq.pqTopK(e, "vec_id", "embedding", qv, 10, mod)
    },

    // ---- recall@10: PQ reconstruction vs int8 quantization ----
    // The report that prices the 32× PQ compression against the 4×
    // int8 baseline (q52/q122) on equal terms: exact L2 top-10 on the
    // raw floats is ground truth; each compressed representation
    // ranks by L2 against its reconstruction (for PQ that IS the ADC
    // ranking — the PQ identity); one row per query with both hit
    // counts. int8 uses the q52 symmetric per-vector scale.
    Q("q168_pq_vs_int8_recall",
      s"""WITH $pqCte, $decCte,
         |qu AS (SELECT vec_id AS qid, p, x FROM u WHERE vec_id < 20),
         |qs AS (SELECT vec_id AS qid, s, j, x FROM sv WHERE vec_id < 20),
         |exd AS (SELECT q.qid, t.vec_id AS nid,
         |      round(SUM((q.x - t.x) * (q.x - t.x)), 6) AS d2
         |      FROM qu q JOIN u t ON t.p = q.p GROUP BY q.qid, t.vec_id),
         |ext AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM exd) WHERE rn <= 10),
         |pqd AS (SELECT q.qid, d.vec_id AS nid,
         |      round(SUM((q.x - d.cx) * (q.x - d.cx)), 6) AS d2
         |      FROM qs q JOIN dec d ON d.s = q.s AND d.j = q.j
         |      GROUP BY q.qid, d.vec_id),
         |pqt AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM pqd) WHERE rn <= 10),
         |scl AS (SELECT vec_id,
         |      list_max(list_transform(embedding,
         |        v -> abs(CAST(v AS DOUBLE)))) AS sc FROM e),
         |i8 AS (SELECT u.vec_id, u.p, CAST(CAST(
         |        CASE WHEN scl.sc > 0 THEN round(u.x / scl.sc * 127)
         |             ELSE 0 END AS BIGINT)
         |          * scl.sc / 127 AS REAL) AS dq
         |      FROM u JOIN scl ON scl.vec_id = u.vec_id),
         |i8d AS (SELECT q.qid, t.vec_id AS nid,
         |      round(SUM((q.x - CAST(t.dq AS DOUBLE))
         |              * (q.x - CAST(t.dq AS DOUBLE))), 6) AS d2
         |      FROM qu q JOIN i8 t ON t.p = q.p GROUP BY q.qid, t.vec_id),
         |i8t AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM i8d) WHERE rn <= 10),
         |tot AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
         |      FROM ext GROUP BY qid),
         |ph AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS hits
         |      FROM ext e JOIN pqt p ON p.qid = e.qid AND p.nid = e.nid
         |      GROUP BY e.qid),
         |ih AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS hits
         |      FROM ext e JOIN i8t i ON i.qid = e.qid AND i.nid = e.nid
         |      GROUP BY e.qid)
         |SELECT tot.qid AS vec_id, n_exact,
         |  coalesce(ph.hits, 0) AS pq_hits,
         |  round(coalesce(ph.hits, 0) / CAST(n_exact AS DOUBLE), 4) AS pq_recall,
         |  coalesce(ih.hits, 0) AS int8_hits,
         |  round(coalesce(ih.hits, 0) / CAST(n_exact AS DOUBLE), 4) AS int8_recall
         |FROM tot LEFT JOIN ph ON ph.qid = tot.qid
         |         LEFT JOIN ih ON ih.qid = tot.qid
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // exact ground truth feeds both reports — compute once,
      // checkpoint, release via the Pinned registry (q156 discipline).
      // r22 (guide §2.6): the trainer and the truth checkpoint share
      // no dependency (the truth ranks raw embeddings; it read `rep`
      // before, but column pruning reduced that to the same scan —
      // same rows, identical checkpointed (qid, id) set) — overlap.
      val (mod, truth) = graft.ops.Par.concurrently(s)(model(e))({
        graft.ops.Pinned.pin(
          Pq.l2TopK(e, "vec_id", col("embedding"), queries, "qid", "qv", 10))
      })
      val rep = Pq.encode(e, col("embedding"), mod, "pq_codes")
        .withColumn("pq_dec", Pq.decode(col("pq_codes"), mod))
        .withColumn("__scale", Quantize.scaleOf(col("embedding")))
        // zero-safe: a zero vector (scale 0) reconstructs as itself
        // instead of 0/0 = NaN (the q52 contract pre-filters; a
        // whole-corpus report cannot)
        .withColumn("int8_dec", Quantize.dequantize(
          Quantize.quantizeZeroSafe(col("embedding"), col("__scale")),
          col("__scale")))
      Pq.l2RecallAtK(rep, "vec_id", col("embedding"), col("pq_dec"),
          queries, "qid", "qv", 10, exact = Some(truth))
        .select(col("qid"), col("n_exact"),
          col("n_hits").as("pq_hits"), col("recall").as("pq_recall"))
        .join(Pq.l2RecallAtK(rep, "vec_id", col("embedding"),
            col("int8_dec"), queries, "qid", "qv", 10, exact = Some(truth))
          .select(col("qid"), col("n_hits").as("int8_hits"),
            col("recall").as("int8_recall")), Seq("qid"))
        .withColumnRenamed("qid", "vec_id")
        .orderBy(col("vec_id"))
    },

    // ---- corpus reconstruction error: PQ vs int8 ----
    // One row: how much of the signal each compression keeps. MSE
    // over every (vector, dimension) cell; the PQ/int8 ratio is the
    // honest price tag of the extra 8× compression.
    Q("q169_pq_reconstruction_error",
      s"""WITH $pqCte, $decCte,
         |pe AS (SELECT SUM((t.x - d.cx) * (t.x - d.cx)) AS se,
         |      CAST(count(*) AS BIGINT) AS n
         |      FROM sv t JOIN dec d ON d.vec_id = t.vec_id
         |        AND d.s = t.s AND d.j = t.j),
         |scl AS (SELECT vec_id,
         |      list_max(list_transform(embedding,
         |        v -> abs(CAST(v AS DOUBLE)))) AS sc FROM e),
         |ie AS (SELECT SUM((u.x - CAST(CAST(CAST(
         |        CASE WHEN scl.sc > 0 THEN round(u.x / scl.sc * 127)
         |             ELSE 0 END AS BIGINT)
         |          * scl.sc / 127 AS REAL) AS DOUBLE))
         |        * (u.x - CAST(CAST(CAST(
         |        CASE WHEN scl.sc > 0 THEN round(u.x / scl.sc * 127)
         |             ELSE 0 END AS BIGINT)
         |          * scl.sc / 127 AS REAL) AS DOUBLE))) AS se,
         |      CAST(count(*) AS BIGINT) AS n
         |      FROM u JOIN scl ON scl.vec_id = u.vec_id)
         |SELECT pe.n AS n_cells,
         |  round(pe.se / pe.n * 1000000, 6) AS pq_mse_ppm,
         |  round(ie.se / ie.n * 1000000, 6) AS int8_mse_ppm
         |FROM pe, ie""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val mod = model(e)
      val rep = Pq.encode(e, col("embedding"), mod, "pq_codes")
        .withColumn("pq_dec", Pq.decode(col("pq_codes"), mod))
        .withColumn("__scale", Quantize.scaleOf(col("embedding")))
        // zero-safe: a zero vector (scale 0) reconstructs as itself
        // instead of 0/0 = NaN (the q52 contract pre-filters; a
        // whole-corpus report cannot)
        .withColumn("int8_dec", Quantize.dequantize(
          Quantize.quantizeZeroSafe(col("embedding"), col("__scale")),
          col("__scale")))
      rep.agg(
          sum(Pq.l2Sq(col("embedding"), col("pq_dec"))).as("__pse"),
          sum(Pq.l2Sq(col("embedding"), col("int8_dec"))).as("__ise"),
          sum(size(col("embedding")).cast("long")).as("n_cells"))
        .select(col("n_cells"),
          round(col("__pse") / col("n_cells") * 1000000, 6).as("pq_mse_ppm"),
          round(col("__ise") / col("n_cells") * 1000000, 6).as("int8_mse_ppm"))
    },

    // ---- IVF-PQ end to end: the FAISS serving path under the hash ----
    // Coarse cells prune the corpus (q58's vec_id<8 seed rule, 2-probe
    // routing), ADC prices the survivors from the trained codebook
    // (top-20 rerank page), exact float L2 re-ranks the finalists
    // (top-10). Both the ADC page membership AND the exact re-ranking
    // ride the hash — a wrong cell, a drifted code, a mis-built LUT,
    // or a rerank that reads the wrong vector all break it.
    Q("q170_ivfpq_topk",
      ivfPqOracle) { (s, d) =>
      val e = emb(s, d)
      // r22 (guide §2.6): trainer ∥ (coarse seeds + query row) —
      // independent driver round-trips
      val (mod, (cents, qv)) = graft.ops.Par.concurrently(s)(model(e))({
        (graft.vector.Ivf.seedCentroids(e, "vec_id", "embedding", 8),
          VectorQueries.queryVec(s, d, 0))
      })
      Pq.ivfPqTopK(e, "vec_id", "embedding", qv, 10, mod, cents,
        nProbe = 2, rerank = 20)
    },

    // ---- the on-disk IVF-PQ index: serve from parquet, pruned ----
    // q170's verbatim oracle, but the engine path goes THROUGH the
    // store: the index is written cell-partitioned in two appended
    // halves (the incremental-ingest shape), then the query reads only
    // its 2 probed cells' partitions, ADC-ranks the code rows, and
    // joins the top-20 page back to the corpus BY ID for the exact
    // rerank. A hash match proves the store round-trips codes + cells
    // bit-for-bit AND that serving from the pruned file subset equals
    // the in-memory path.
    Q("q173_ivfpq_store_topk", ivfPqOracle) { (s, d) =>
      val e = emb(s, d)
      // r22 (guide §2.6): trainer ∥ coarse-seed collect — independent
      val (mod, cents) = graft.ops.Par.concurrently(s)(model(e))(
        graft.vector.Ivf.seedCentroids(e, "vec_id", "embedding", 8))
      val dir = Q.stateDir(d, "q173_state")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val store = s"$dir/pq_index"
      Pq.writeIndexStore(e.where(col("vec_id") % 2 === 0), "vec_id",
        "embedding", mod, cents, store)
      Pq.writeIndexStore(e.where(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", mod, cents, store)
      Pq.probeIndexStore(s, store, "vec_id",
        VectorQueries.queryVec(s, d, 0), 10, mod, cents,
        nProbe = 2, rerank = 20, corpus = Some(e), vec = "embedding")
    },

    // ---- residual IVF-PQ: the true FAISS IVFPQ layout ----
    // PQ on the residual x − centroid(cell) instead of the raw vector:
    // the same m·log2(k) bits quantize a much smaller-variance signal.
    // The oracle replays EVERYTHING in residual space — float32
    // residuals (double-subtract, one rounding), seed codebooks from
    // the vec_id 8..23 residuals (PAST the centroid rows: their own
    // residuals are exactly zero, and duplicate zero codes make every
    // argmin an exact tie that a hash-aggregating engine's per-group
    // sum order does not resolve deterministically — found live at
    // sf0.001), one grid-snapped Lloyd round, empty-code fallback,
    // reassignment — then serves: 2-probe cells, one ADC LUT PER
    // PROBED CELL (a residual code only means something relative to
    // its own centroid), top-20 page, exact float-L2 re-rank.
    Q("q171_ivfpq_residual_topk",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |     WHERE embedding IS NOT NULL),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |      generate_subscripts(embedding, 1) - 1 AS p FROM e),
         |$residualTrainCte,
         |probe AS (SELECT cid FROM (SELECT cid,
         |      row_number() OVER (ORDER BY d2, cid) AS rn
         |      FROM cd WHERE vec_id = 0) WHERE rn <= 2),
         |qrv AS (SELECT pr.cid, t.p,
         |      CAST(CAST(t.x - cv.x AS REAL) AS DOUBLE) AS qx
         |      FROM u t CROSS JOIN probe pr
         |      JOIN cvu cv ON cv.cid = pr.cid AND cv.p = t.p
         |      WHERE t.vec_id = 0),
         |rlut AS (SELECT q.cid, c.s, c.c,
         |      SUM((q.qx - c.cx) * (q.qx - c.cx)) AS d2
         |      FROM rcb1 c JOIN (SELECT cid, p // 8 AS s, p % 8 AS j, qx
         |        FROM qrv) q ON q.s = c.s AND q.j = c.j
         |      GROUP BY q.cid, c.s, c.c),
         |cand AS (SELECT ce.vec_id, ce.cid FROM cell ce
         |      JOIN probe pr ON pr.cid = ce.cid),
         |rad AS (SELECT a.vec_id, round(SUM(l.d2), 6) AS adc_d2
         |      FROM ra1 a JOIN cand ON cand.vec_id = a.vec_id
         |      JOIN rlut l ON l.cid = cand.cid AND l.s = a.s AND l.c = a.c
         |      GROUP BY a.vec_id),
         |page AS (SELECT vec_id, adc_d2 FROM rad
         |      ORDER BY adc_d2, vec_id LIMIT 20),
         |qx AS (SELECT p, x AS qx FROM u WHERE vec_id = 0),
         |ex AS (SELECT pg.vec_id, pg.adc_d2,
         |      round(SUM((t.x - qx.qx) * (t.x - qx.qx)), 6) AS exact_d2
         |      FROM page pg JOIN u t ON t.vec_id = pg.vec_id
         |      JOIN qx ON qx.p = t.p
         |      GROUP BY pg.vec_id, pg.adc_d2)
         |SELECT vec_id, adc_d2, exact_d2 FROM ex
         |ORDER BY exact_d2, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val cents = graft.vector.Ivf.seedCentroids(e, "vec_id", "embedding", 8)
      val rmodel = Pq.trainResidualCodebooks(e, "vec_id", "embedding",
        cents, M, K, iters = Iters)
      Pq.ivfPqResidualTopK(e, "vec_id", "embedding",
        VectorQueries.queryVec(s, d, 0), 10, rmodel, cents,
        nProbe = 2, rerank = 20)
    },

    // ---- residual vs plain PQ: the layout-decision report ----
    // Same bit budget (m=8 × k=16), two layouts: plain PQ quantizes x,
    // residual IVF-PQ quantizes x − centroid(cell) and reconstructs as
    // centroid + decode(code). Residual encoding wins when the coarse
    // quantizer explains real variance (the FAISS-default regime at
    // production cell counts); with the fixture's 8 seed-quality cells
    // it measurably LOSES (sf0.001: 12651 vs 9359 ppm) — which is
    // precisely why a pipeline runs this report before picking the
    // layout instead of assuming the textbook answer. Both training
    // loops replay in SQL (the q166/q171 chains side by side).
    Q("q172_pq_residual_vs_plain_error",
      s"""WITH $pqCte, $decCte,
         |$residualTrainCte,
         |rdec AS (SELECT ra1.vec_id, c.s, c.j, c.cx
         |      FROM ra1 JOIN rcb1 c ON c.s = ra1.s AND c.c = ra1.c),
         |pe AS (SELECT SUM((t.x - d.cx) * (t.x - d.cx)) AS se,
         |      CAST(count(*) AS BIGINT) AS n
         |      FROM sv t JOIN dec d ON d.vec_id = t.vec_id
         |        AND d.s = t.s AND d.j = t.j),
         |re AS (SELECT SUM((t.x - (cv.x + rd.cx)) * (t.x - (cv.x + rd.cx))) AS se,
         |      CAST(count(*) AS BIGINT) AS n
         |      FROM u t JOIN cell ce ON ce.vec_id = t.vec_id
         |      JOIN cvu cv ON cv.cid = ce.cid AND cv.p = t.p
         |      JOIN rdec rd ON rd.vec_id = t.vec_id
         |        AND rd.s = t.p // 8 AND rd.j = t.p % 8)
         |SELECT pe.n AS n_cells,
         |  round(pe.se / pe.n * 1000000, 6) AS pq_mse_ppm,
         |  round(re.se / re.n * 1000000, 6) AS residual_pq_mse_ppm
         |FROM pe, re""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      // r22 (guide §2.6): the plain trainer and the coarse-seed →
      // residual-trainer chain are independent branches — overlap them
      val (mod, (cents, rmodel)) = graft.ops.Par.concurrently(s)(model(e))({
        val cents =
          graft.vector.Ivf.seedCentroids(e, "vec_id", "embedding", 8)
        (cents, Pq.trainResidualCodebooks(e, "vec_id", "embedding",
          cents, M, K, iters = Iters))
      })
      val centsLit = typedlit(cents.map(_.toSeq).toSeq)
      val assigned = graft.vector.Ivf.assignCells(e, col("embedding"), cents)
        .withColumn("__res",
          Pq.residualCol(col("embedding"), cents, col("ivf_cell")))
      val rep = Pq.encode(
          Pq.encode(assigned, col("embedding"), mod, "__pq"),
          col("__res"), rmodel, "__rq")
        .withColumn("__pdec", Pq.decode(col("__pq"), mod))
        // residual reconstruction: centroid + decoded residual, added
        // in doubles (the oracle's cv.x + rd.cx arithmetic)
        .withColumn("__rdec", zip_with(
          element_at(centsLit, col("ivf_cell") + lit(1)),
          Pq.decode(col("__rq"), rmodel),
          (c, r) => c.cast("double") + r.cast("double")))
      rep.agg(
          sum(Pq.l2Sq(col("embedding"), col("__pdec"))).as("__pse"),
          sum(Pq.l2Sq(col("embedding"), col("__rdec"))).as("__rse"),
          sum(size(col("embedding")).cast("long")).as("n_cells"))
        .select(col("n_cells"),
          round(col("__pse") / col("n_cells") * 1000000, 6).as("pq_mse_ppm"),
          round(col("__rse") / col("n_cells") * 1000000, 6)
            .as("residual_pq_mse_ppm"))
    },

    // ---- corpus-adaptive codebooks: the recall-delta report ----
    // r19's layout report (q172) showed codebook QUALITY, not layout,
    // is the measured recall bottleneck: prefix-window seeds need not
    // represent the corpus at all. The adaptive path spreads the K
    // seeds across the id range and runs TWO grid-snapped Lloyd rounds
    // — everything DuckDB replays (the full double-Lloyd chain rides
    // the hash) — and this report prices it against the q166 prefix
    // model per query, the q168 discipline. (The k-means‖ trainer
    // `Pq.trainCodebooksKmeansPar` is no query's path: only specs and
    // the ScaleSmoke dev main train with it. Its d²-sampling hashes
    // with Spark's xxhash64, which no oracle can re-derive, so PqSpec
    // covers it — the q58/IvfSpec split.)
    Q("q174_pq_adaptive_recall",
      s"""WITH $pqCte, $decCte,
         |$adaptiveCte,
         |qu AS (SELECT vec_id AS qid, p, x FROM u WHERE vec_id < 20),
         |qs AS (SELECT vec_id AS qid, s, j, x FROM sv WHERE vec_id < 20),
         |exd AS (SELECT q.qid, t.vec_id AS nid,
         |      round(SUM((q.x - t.x) * (q.x - t.x)), 6) AS d2
         |      FROM qu q JOIN u t ON t.p = q.p GROUP BY q.qid, t.vec_id),
         |ext AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM exd) WHERE rn <= 10),
         |pqd AS (SELECT q.qid, d.vec_id AS nid,
         |      round(SUM((q.x - d.cx) * (q.x - d.cx)), 6) AS d2
         |      FROM qs q JOIN dec d ON d.s = q.s AND d.j = q.j
         |      GROUP BY q.qid, d.vec_id),
         |pqt AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM pqd) WHERE rn <= 10),
         |aqd AS (SELECT q.qid, d.vec_id AS nid,
         |      round(SUM((q.x - d.cx) * (q.x - d.cx)), 6) AS d2
         |      FROM qs q JOIN adec d ON d.s = q.s AND d.j = q.j
         |      GROUP BY q.qid, d.vec_id),
         |aqt AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM aqd) WHERE rn <= 10),
         |tot AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
         |      FROM ext GROUP BY qid),
         |ph AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS hits
         |      FROM ext e JOIN pqt p ON p.qid = e.qid AND p.nid = e.nid
         |      GROUP BY e.qid),
         |ah AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS hits
         |      FROM ext e JOIN aqt a ON a.qid = e.qid AND a.nid = e.nid
         |      GROUP BY e.qid)
         |SELECT tot.qid AS vec_id, n_exact,
         |  coalesce(ph.hits, 0) AS pq_hits,
         |  round(coalesce(ph.hits, 0) / CAST(n_exact AS DOUBLE), 4) AS pq_recall,
         |  coalesce(ah.hits, 0) AS adapt_hits,
         |  round(coalesce(ah.hits, 0) / CAST(n_exact AS DOUBLE), 4) AS adapt_recall
         |FROM tot LEFT JOIN ph ON ph.qid = tot.qid
         |         LEFT JOIN ah ON ah.qid = tot.qid
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // r22 (guide §2.6): the two trainers and the exact ground truth
      // share no data dependency — the prefix and adaptive Lloyd loops
      // each block the driver per round, and the truth checkpoint ranks
      // raw embeddings only (it read `rep` before, but column pruning
      // reduced that to the same scan — `e` is the same rows, so the
      // checkpointed (qid, id) set is identical). Overlap all three.
      val ((mod, amod), truth) = graft.ops.Par.concurrently(s)({
        graft.ops.Par.concurrently(s)(model(e))(
          Pq.trainCodebooksAdaptive(e, "vec_id", "embedding",
            M, K, iters = 2))
      })({
        graft.ops.Pinned.pin(
          Pq.l2TopK(e, "vec_id", col("embedding"), queries, "qid", "qv", 10))
      })
      val rep = Pq.encode(
          Pq.encode(e, col("embedding"), mod, "__pq"),
          col("embedding"), amod, "__aq")
        .withColumn("pq_dec", Pq.decode(col("__pq"), mod))
        .withColumn("adapt_dec", Pq.decode(col("__aq"), amod))
      Pq.l2RecallAtK(rep, "vec_id", col("embedding"), col("pq_dec"),
          queries, "qid", "qv", 10, exact = Some(truth))
        .select(col("qid"), col("n_exact"),
          col("n_hits").as("pq_hits"), col("recall").as("pq_recall"))
        .join(Pq.l2RecallAtK(rep, "vec_id", col("embedding"),
            col("adapt_dec"), queries, "qid", "qv", 10, exact = Some(truth))
          .select(col("qid"), col("n_hits").as("adapt_hits"),
            col("recall").as("adapt_recall")), Seq("qid"))
        .withColumnRenamed("qid", "vec_id")
        .orderBy(col("vec_id"))
    },

    // ---- recall vs nProbe: the IVF-PQ serving-knob sweep ----
    // q168 prices PQ at fixed probes; the knob a 100 TB operator tunes
    // is nProbe. One shared encode+ADC pass at the widest probe count,
    // per-query routing and LUTs fully distributed (the query batch
    // never visits the driver), then each nProbe re-ranks its
    // probe-rank subset of the same scored frontier — recall@10 plus
    // the scanned-row price per grid point, under the full hash.
    Q("q175_ivfpq_nprobe_sweep",
      s"""WITH $pqCte,
         |cvu AS (SELECT vec_id AS cid, p, x FROM u WHERE vec_id < 8),
         |cd AS (SELECT t.vec_id, c.cid, SUM((t.x - c.x) * (t.x - c.x)) AS d2
         |      FROM u t JOIN cvu c ON c.p = t.p GROUP BY t.vec_id, c.cid),
         |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |      FROM cd) WHERE rn = 1),
         |qcd AS (SELECT t.vec_id AS qid, c.cid,
         |      round(SUM((t.x - c.x) * (t.x - c.x)), 6) AS d2
         |      FROM u t JOIN cvu c ON c.p = t.p
         |      WHERE t.vec_id < 20 GROUP BY t.vec_id, c.cid),
         |prank AS (SELECT qid, cid, row_number() OVER
         |      (PARTITION BY qid ORDER BY d2, cid) AS rk FROM qcd),
         |qlut AS (SELECT q.qid, c.s, c.c,
         |      SUM((q.qx - c.cx) * (q.qx - c.cx)) AS d2
         |      FROM cb1 c JOIN (SELECT vec_id AS qid, p // 8 AS s,
         |        p % 8 AS j, x AS qx FROM u WHERE vec_id < 20) q
         |        ON q.s = c.s AND q.j = c.j
         |      GROUP BY q.qid, c.s, c.c),
         |cand AS (SELECT pr.qid, pr.rk, ce.vec_id FROM prank pr
         |      JOIN cell ce ON ce.cid = pr.cid WHERE pr.rk <= 8),
         |adc AS (SELECT cand.qid, cand.rk, a1.vec_id,
         |      round(SUM(l.d2), 6) AS adc_d2
         |      FROM a1 JOIN cand ON cand.vec_id = a1.vec_id
         |      JOIN qlut l ON l.qid = cand.qid AND l.s = a1.s AND l.c = a1.c
         |      GROUP BY cand.qid, cand.rk, a1.vec_id),
         |nv AS (SELECT * FROM (VALUES (1), (2), (4), (8)) v(n_probe)),
         |cnp AS (SELECT nv.n_probe, adc.qid, adc.vec_id, adc.adc_d2
         |      FROM adc JOIN nv ON adc.rk <= nv.n_probe),
         |apx AS (SELECT n_probe, qid, vec_id FROM (SELECT n_probe, qid,
         |      vec_id, row_number() OVER (PARTITION BY n_probe, qid
         |        ORDER BY adc_d2, vec_id) AS rn
         |      FROM cnp) WHERE rn <= 10),
         |exd AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
         |      round(SUM((q.x - t.x) * (q.x - t.x)), 6) AS d2
         |      FROM u q JOIN u t ON t.p = q.p
         |      WHERE q.vec_id < 20 GROUP BY q.vec_id, t.vec_id),
         |ext AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
         |      FROM exd) WHERE rn <= 10),
         |sc AS (SELECT n_probe, CAST(count(*) AS BIGINT) AS scanned_rows
         |      FROM cnp GROUP BY 1),
         |ht AS (SELECT a.n_probe, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM ext e JOIN apx a ON a.qid = e.qid AND a.vec_id = e.nid
         |      GROUP BY 1),
         |tx AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ext)
         |SELECT sc.n_probe, sc.scanned_rows, tx.n_exact,
         |  coalesce(ht.n_hits, 0) AS n_hits,
         |  round(coalesce(ht.n_hits, 0) / CAST(tx.n_exact AS DOUBLE), 4)
         |    AS recall
         |FROM sc LEFT JOIN ht ON ht.n_probe = sc.n_probe, tx
         |ORDER BY sc.n_probe""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // r22 (guide §2.6): trainer ∥ coarse-seed collect — independent
      val (mod, cents) = graft.ops.Par.concurrently(s)(model(e))(
        graft.vector.Ivf.seedCentroids(e, "vec_id", "embedding", 8))
      Pq.ivfPqRecallSweep(e, "vec_id", "embedding", queries, "qid", "qv",
        10, mod, cents, Seq(1, 2, 4, 8))
    },

    // ---- adaptive vs prefix codebooks: the error report ----
    // The q172 layout-decision shape applied to TRAINING: same bit
    // budget, two codebook origins. On the hash-derived fixture the
    // adaptive path cuts reconstruction MSE (the Lloyd objective —
    // sf0.001: 9359 → 9006 ppm) while recall@10 (q174) stays flat:
    // the corpus has no cluster structure for seeds to exploit, so
    // better codebooks buy fidelity, not neighbor ordering. That
    // split — objective improves, serving metric doesn't — is exactly
    // what the pair of reports exists to expose before an operator
    // pays for adaptive training at 100 TB.
    Q("q176_pq_adaptive_vs_prefix_error",
      s"""WITH $pqCte, $decCte,
         |$adaptiveCte,
         |pe AS (SELECT SUM((t.x - d.cx) * (t.x - d.cx)) AS se,
         |      CAST(count(*) AS BIGINT) AS n
         |      FROM sv t JOIN dec d ON d.vec_id = t.vec_id
         |        AND d.s = t.s AND d.j = t.j),
         |ae AS (SELECT SUM((t.x - d.cx) * (t.x - d.cx)) AS se,
         |      CAST(count(*) AS BIGINT) AS n
         |      FROM sv t JOIN adec d ON d.vec_id = t.vec_id
         |        AND d.s = t.s AND d.j = t.j)
         |SELECT pe.n AS n_cells,
         |  round(pe.se / pe.n * 1000000, 6) AS prefix_mse_ppm,
         |  round(ae.se / ae.n * 1000000, 6) AS adapt_mse_ppm
         |FROM pe, ae""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      // r22 (guide §2.6): the two independent trainers overlap — see
      // q174 (same pair, same argument)
      val (mod, amod) = graft.ops.Par.concurrently(s)(model(e))(
        Pq.trainCodebooksAdaptive(e, "vec_id", "embedding",
          M, K, iters = 2))
      val rep = Pq.encode(
          Pq.encode(e, col("embedding"), mod, "__pq"),
          col("embedding"), amod, "__aq")
        .withColumn("pq_dec", Pq.decode(col("__pq"), mod))
        .withColumn("adapt_dec", Pq.decode(col("__aq"), amod))
      rep.agg(
          sum(Pq.l2Sq(col("embedding"), col("pq_dec"))).as("__pse"),
          sum(Pq.l2Sq(col("embedding"), col("adapt_dec"))).as("__ase"),
          sum(size(col("embedding")).cast("long")).as("n_cells"))
        .select(col("n_cells"),
          round(col("__pse") / col("n_cells") * 1000000, 6)
            .as("prefix_mse_ppm"),
          round(col("__ase") / col("n_cells") * 1000000, 6)
            .as("adapt_mse_ppm"))
    }
  )
}
