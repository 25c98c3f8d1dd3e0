package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.Row
import graft.vector.Pca
import Q.t

/** Embedding-decorrelation queries (the PCA/whitening layer of
  * SURVEY.md §2.10): the covariance face of the one-pass moments
  * kernel, the trace≡Σλ identity that pushes the driver-side
  * eigendecomposition through a SQL oracle, and a full-rank rotated
  * top-k whose oracle is computed in RAW space — distances only match
  * because the fitted basis is genuinely orthonormal.
  */
object PcaQueries {

  /** One IVF retrieval side of the q156 oracle, parameterized by
    * space: `tbl` is the unnested (vec_id, i, `vc`) table of that
    * space's REAL-typed values, `listTbl` its per-vector double list.
    * Emits cd/cell/probe/appr/top/hit CTEs suffixed with `tag`:
    * id-prefix seed cells (vec_id < 8, the `Ivf.seedCentroids` rule),
    * argmin-by-(d2, cid) assignment, 2-probe query routing, and
    * round-6-cosine top-10 inside the probed cells — the SQL mirror
    * of `RecallReport.ivfRecallAtK`. Hits count against the shared
    * `efull` ground truth (exact top-10 in the ORIGINAL space). */
  private def ivfSide(tag: String, tbl: String, vc: String,
      listTbl: String): String =
    s"""cd$tag AS (SELECT t.vec_id, c.vec_id AS cid,
       |      SUM((CAST(t.$vc AS DOUBLE) - CAST(c.$vc AS DOUBLE))
       |        * (CAST(t.$vc AS DOUBLE) - CAST(c.$vc AS DOUBLE))) AS d2
       |      FROM $tbl t JOIN $tbl c ON c.i = t.i AND c.vec_id < 8
       |      GROUP BY t.vec_id, c.vec_id),
       |cell$tag AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |      FROM cd$tag) WHERE rn = 1),
       |probe$tag AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |      FROM cd$tag WHERE vec_id < 20) WHERE rn <= 2),
       |appr$tag AS (SELECT pr.qid, ce.vec_id AS nid,
       |      round(list_cosine_similarity(q.lv, t.lv), 6) AS sc
       |      FROM probe$tag pr JOIN cell$tag ce ON ce.cid = pr.cid
       |      JOIN $listTbl q ON q.vec_id = pr.qid
       |      JOIN $listTbl t ON t.vec_id = ce.vec_id),
       |top$tag AS (SELECT qid, nid FROM (SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
       |      FROM appr$tag) WHERE rn <= 10),
       |hit$tag AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS hits
       |      FROM efull f JOIN top$tag t ON f.qid = t.qid AND f.nid = t.nid
       |      GROUP BY f.qid)""".stripMargin

  /** Shared oracle CTE: per-(vec_id, position) doubles. */
  private val unnestCte: String =
    """u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |       generate_subscripts(embedding, 1) AS i
      |     FROM embeddings WHERE embedding IS NOT NULL),
      |n AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL)""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- population covariance, upper triangle ----
    // Engine: two deterministic passes (means, then the centered
    // triangle); the oracle pays the explode-twice O(dim^2)
    // rows-per-vector formulation the engine exists to avoid.
    // BOTH sides are the corrected two-pass CENTERED form (r17
    // verdict): the uncentered E[xy]-E[x]E[y] cancels O(10-100) sums
    // to O(1e-4) answers, and the residual cross-engine float noise
    // (~1e-11) was the same order as this fixture's closest
    // round(.,6) midpoint gap — the hash was a measured coin flip.
    // Centered, the error is ~1e-15 against a 5e-7 half-grid
    // (headroom pinned in PcaSpec at all three SFs).
    Q("q150_embedding_covariance",
      s"""WITH $unnestCte,
         |m AS (SELECT i, SUM(x) / (SELECT n FROM n) AS mu FROM u GROUP BY i),
         |c AS (SELECT u.vec_id, u.i, u.x - m.mu AS cx
         |      FROM u JOIN m ON m.i = u.i),
         |cs AS (SELECT i, SUM(cx) AS cs FROM c GROUP BY i),
         |p AS (SELECT a.i AS i, b.i AS j, SUM(a.cx * b.cx) AS sxy
         |      FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.i <= b.i
         |      GROUP BY a.i, b.i)
         |SELECT p.i AS i, p.j AS j,
         |  round(p.sxy / (SELECT n FROM n)
         |        - (ca.cs / (SELECT n FROM n)) * (cb.cs / (SELECT n FROM n)),
         |        6) + 0.0 AS cov
         |FROM p JOIN cs ca ON ca.i = p.i JOIN cs cb ON cb.i = p.j
         |ORDER BY i, j""".stripMargin) { (s, d) =>
      // `+ 0.0` on BOTH engines: a tiny negative residual rounds to
      // IEEE -0.0 in DuckDB but +0.0 in Spark's HALF_UP — value-equal,
      // byte-unequal, and the driver hashes bytes (r18 verdict item 1).
      // -0.0 + 0.0 = +0.0 in both engines; every other value unchanged.
      Pca.covariance(t(s, d, "embeddings"), "embedding")
        .withColumn("cov", graft.expr.Functions.roundZ(col("cov"), 6))
    },

    // ---- trace identity: sum of eigenvalues == total variance ----
    // The oracle knows nothing of eigenvectors; it can still check the
    // eigendecomposition because tr(C) = sum(lambda) exactly. A wrong
    // solver, a dropped component, or a mis-ordered triangle index all
    // break the hash.
    Q("q151_pca_total_variance",
      s"""WITH $unnestCte,
         |v AS (SELECT i,
         |        SUM(x * x) / (SELECT n FROM n)
         |          - (SUM(x) / (SELECT n FROM n)) * (SUM(x) / (SELECT n FROM n)) AS pvar
         |      FROM u GROUP BY i)
         |SELECT (SELECT n FROM n) AS n_vectors,
         |       CAST(count(*) AS BIGINT) AS dim,
         |       round(SUM(pvar), 6) AS total_var
         |FROM v""".stripMargin) { (s, d) =>
      val model = Pca.fit(t(s, d, "embeddings"), "embedding")
      val schema = StructType(Seq(
        StructField("n_vectors", LongType, nullable = false),
        StructField("dim", LongType, nullable = false),
        StructField("total_var", DoubleType, nullable = false)))
      s.createDataFrame(
        s.sparkContext.parallelize(Seq(Row(model.n, model.dim.toLong,
          BigDecimal(model.eigenvalues.sum)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)), 1),
        schema)
    },

    // ---- full-rank rotation-invariance top-k ----
    // Engine scores euclidean top-k in PCA space; the oracle scores it
    // on the RAW embeddings. ||P(a-mu) - P(b-mu)|| = ||a-b|| iff P is
    // orthonormal, so the hash match IS the orthogonality proof —
    // robust to sign flips and degenerate-eigenvalue rotations, which
    // preserve distances too.
    Q("q152_pca_rotation_topk",
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) AS i
        |     FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
        |       generate_subscripts(embedding, 1) AS i
        |     FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(sqrt(SUM((x - qx) * (x - qx))), 6) AS dist
        |FROM u JOIN q USING (i)
        |GROUP BY vec_id ORDER BY dist, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      // engine matches the oracle's IS NOT NULL: a dead-lettered null
      // embedding projects to null dist, which Spark's ascending sort
      // would otherwise rank FIRST — into the top-10 the oracle never
      // emits
      val emb = t(s, d, "embeddings").where(col("embedding").isNotNull)
      // r22 (guide §2.6): the eager moment passes of the fit and the
      // query-row collect are independent driver round-trips — overlap
      val (model, qv) = graft.ops.Par.concurrently(s)(
        Pca.fit(emb, "embedding"))(VectorQueries.queryVec(s, d, 0))
      val qp = model.projectVec(qv)
      Pca.project(emb, "embedding", model, "pca")
        .withColumn("dist", round(sqrt(aggregate(
          zip_with(col("pca"), typedlit(qp.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, e) => acc + e)), 6))
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---- the decorrelation layer wired into the ANN surface ----
    // A planted per-dimension gain corruption (dim 1 × 40 — the
    // q154/q112 planted-structure discipline) wrecks IVF retrieval in
    // the corrupted space: cells and cosine are dominated by the hot
    // axis, so recall@10 against the TRUE (uncorrupted) neighbors
    // collapses to ~0.2. Standardizing with `Pca.standardize` (the
    // same two-pass centered kernel as q150, variance face only)
    // restores ~0.65 at the identical probe budget — measured at all
    // three SFs. Everything is SQL-expressible END TO END (per-dim
    // mu/sigma, float casts, seed cells, probes, round-6 cosine), so
    // the whole raw-vs-standardized comparison full-hashes; the
    // ROTATED face of the same claim (full `whiten`, eigenbasis not
    // SQL-expressible) is pinned engine-side in PcaSpec against the
    // same planted fixture.
    Q("q156_standardized_ivf_recall",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |     WHERE embedding IS NOT NULL),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |      generate_subscripts(embedding, 1) AS i FROM e),
         |n AS (SELECT count(*) AS n FROM e),
         |s AS (SELECT vec_id, i,
         |      CAST(CASE WHEN i = 1 THEN x * 40.0 ELSE x END AS REAL) AS xs
         |      FROM u),
         |m AS (SELECT i, SUM(CAST(xs AS DOUBLE)) / (SELECT n FROM n) AS mu
         |      FROM s GROUP BY i),
         |v AS (SELECT s.i,
         |      SUM((CAST(xs AS DOUBLE) - mu) * (CAST(xs AS DOUBLE) - mu))
         |        / (SELECT n FROM n) AS var
         |      FROM s JOIN m ON m.i = s.i GROUP BY s.i),
         |z AS (SELECT s.vec_id, s.i,
         |      CAST((CAST(xs AS DOUBLE) - m.mu)
         |           / (CASE WHEN v.var > 1e-12 THEN sqrt(v.var) ELSE 1.0 END)
         |        AS REAL) AS xz
         |      FROM s JOIN m ON m.i = s.i JOIN v ON v.i = s.i),
         |sl AS (SELECT vec_id, list(CAST(xs AS DOUBLE) ORDER BY i) AS lv
         |      FROM s GROUP BY vec_id),
         |zl AS (SELECT vec_id, list(CAST(xz AS DOUBLE) ORDER BY i) AS lv
         |      FROM z GROUP BY vec_id),
         |q0 AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id < 20),
         |sfull AS (SELECT qid, t.vec_id AS nid,
         |      round(list_cosine_similarity(
         |        list_transform(qv, x -> CAST(x AS DOUBLE)),
         |        list_transform(t.embedding, x -> CAST(x AS DOUBLE))), 6) AS sc
         |      FROM q0, e t),
         |efull AS (SELECT qid, nid FROM (SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
         |      FROM sfull) WHERE rn <= 10),
         |tot AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
         |      FROM efull GROUP BY qid),
         |${ivfSide("r", "s", "xs", "sl")},
         |${ivfSide("z", "z", "xz", "zl")}
         |SELECT tot.qid AS vec_id, n_exact,
         |  coalesce(hr.hits, 0) AS raw_hits,
         |  round(coalesce(hr.hits, 0) / CAST(n_exact AS DOUBLE), 4) AS raw_recall,
         |  coalesce(hz.hits, 0) AS std_hits,
         |  round(coalesce(hz.hits, 0) / CAST(n_exact AS DOUBLE), 4) AS std_recall
         |FROM tot LEFT JOIN hitr hr ON hr.qid = tot.qid
         |         LEFT JOIN hitz hz ON hz.qid = tot.qid
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      import graft.vector.{Ivf, RecallReport}
      val emb = t(s, d, "embeddings").where(col("embedding").isNotNull)
      val skew = emb.select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, (x.cast("double") * lit(40.0)).cast("float"))
            .otherwise(x)).as("skewed"))
      // the exact ground truth feeds BOTH reports, each of which reads
      // it twice (totals + hits): checkpoint it once instead of
      // running the QxN scoring pass four times. Harness-released
      // via the Pinned registry after the result is consumed.
      // r22 (guide §2.6): the standardize fit (two eager moment
      // passes + its centroid seed collect), the truth checkpoint and
      // the skew-side centroid seed are three independent driver
      // round-trip chains — overlap them.
      val ((truth, cSkew), (std, cStd)) = graft.ops.Par.concurrently(s)({
        graft.ops.Par.concurrently(s)({
          graft.ops.Pinned.pin(
            RecallReport.exactTopK(emb, "vec_id", "embedding",
              emb.where(col("vec_id") < 20)
                .select(col("vec_id").as("qid"), col("embedding").as("qv")),
              "qid", "qv", k = 10))
        })(Ivf.seedCentroids(skew, "vec_id", "skewed", 8))
      })({
        val std = Pca.standardize(skew, "skewed", "z")
          .withColumn("z", col("z").cast("array<float>"))
        (std, Ivf.seedCentroids(std, "vec_id", "z", 8))
      })
      def report(corpus: org.apache.spark.sql.DataFrame, vc: String,
          cents: Array[Array[Float]]) =
        RecallReport.ivfRecallAtK(corpus, "vec_id", vc,
          corpus.where(col("vec_id") < 20)
            .select(col("vec_id").as("qid"), col(vc).as("qv")),
          "qid", "qv", k = 10,
          cents = cents,
          nProbe = 2, exact = Some(truth))
      report(skew, "skewed", cSkew)
        .select(col("qid"), col("n_exact"),
          col("n_hits").as("raw_hits"), col("recall").as("raw_recall"))
        .join(report(std, "z", cStd)
          .select(col("qid"), col("n_hits").as("std_hits"),
            col("recall").as("std_recall")), Seq("qid"))
        .withColumnRenamed("qid", "vec_id")
        .orderBy(col("vec_id"))
    }
  )
}
