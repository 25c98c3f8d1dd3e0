package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank fusion and diversified re-ranking — the retrieval tail of a
  * hybrid search stack: BM25 (`ops/Bm25`) and ANN cosine
  * (`vector/Similarity`, `vector/Ivf`) each produce a candidate pool;
  * these operators combine pools into one ranking (RRF) or trade
  * relevance against redundancy (MMR). The reference stops at boolean
  * keyword relevance (newscrawler.py keyword gate) + vector top-k
  * (article_vectorize.py query path); fusion is how the two halves are
  * actually served together.
  *
  * CONTRACT — inputs are candidate POOLS, not corpora: each ranking is
  * a ranker's top-N (N in the hundreds), so the rank windows here run
  * over pool-sized data. Both operators ENFORCE the bound: `mmrRerank`
  * throws when the collected pool exceeds `maxPool`, and
  * `reciprocalRankFusion` reads each ranking through
  * `limit(maxPool + 1)` + a codegen'd raise_error — a corpus-sized
  * input fails loudly instead of becoming a single-task sort.
  */
object Fusion {

  /** Reciprocal Rank Fusion (Cormack et al. 2009): each ranker
    * contributes 1/(k + rank) for every candidate it returned; the
    * fused score is the sum. Rank-based, so incomparable score scales
    * (BM25 logs vs cosine) fuse without calibration — the reason RRF
    * is the default fusion in hybrid search.
    *
    * Ranks are assigned per input from (`scoreCol` DESC, id ASC) —
    * callers round their scores upstream if engine-reproducible
    * ordering matters (the q74 tie-break lesson). A candidate missing
    * from a pool simply contributes nothing for that ranker (standard
    * RRF; no imputed rank). Output: (id, rrf_score, n_rankers),
    * top-`topK` by (rrf_score DESC, id ASC), score rounded to
    * `roundTo` BEFORE the cut.
    *
    * The pools-not-corpora contract is ENFORCED, mirroring
    * `mmrRerank`'s maxPool throw: each ranking is read through
    * `limit(maxPool + 1)` — which bounds the single-task rank sort to
    * maxPool+1 rows no matter what the caller passes — and a rank
    * beyond `maxPool` hits a codegen'd `raise_error`, so a
    * corpus-sized "pool" fails loudly at execution instead of
    * silently becoming a one-task corpus sort. */
  def reciprocalRankFusion(rankings: Seq[DataFrame], id: String,
      k: Int = 60, topK: Int = 10, scoreCol: String = "score",
      roundTo: Int = 6, maxPool: Int = 10000): DataFrame = {
    require(rankings.nonEmpty, "reciprocalRankFusion: no rankings")
    require(k > 0 && topK > 0, s"reciprocalRankFusion: k=$k topK=$topK")
    require(maxPool >= topK, s"reciprocalRankFusion: maxPool=$maxPool < topK=$topK")
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      // Emits Spark's "No Partition Defined for Window" warning by
      // design: the input is limit(maxPool+1)-bounded (PlanSpec pins it)
      val w = Window.orderBy(col(scoreCol).desc, col(id).asc)
      r.limit(maxPool + 1)
        .select(col(id), row_number().over(w).as("__rank"))
        .withColumn("__rank", when(col("__rank") > lit(maxPool),
          raise_error(lit(s"reciprocalRankFusion: ranking $i exceeds " +
            s"maxPool=$maxPool rows — RRF fuses top-N pools, not corpora; " +
            "cut the pool in the upstream ranker")).cast("int"))
          .otherwise(col("__rank")))
        .select(col(id),
          (lit(1.0) / (lit(k.toDouble) + col("__rank"))).as(s"__c$i"))
    }
    val fused = contribs.reduce((a, b) => a.join(b, Seq(id), "full_outer"))
    val total = contribs.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0))).reduce(_ + _)
    val hits = contribs.indices
      .map(i => when(col(s"__c$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    fused.select(col(id), round(total, roundTo).as("rrf_score"),
        hits.as("n_rankers"))
      .orderBy(col("rrf_score").desc, col(id))
      .limit(topK)
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998):
    * greedily pick `k` results maximizing
    * `lambda·relevance − (1−lambda)·max cosine to already-picked` —
    * the diversified re-rank that stops a near-dup-heavy corpus from
    * filling the whole result page with one cluster.
    *
    * MMR is inherently sequential (each pick conditions the next), so
    * it runs on the DRIVER over a collected pool: `candidates` is
    * capped at `maxPool` rows (throws above — this operator re-ranks
    * a top-N page, it does not scan corpora; the 100 TB work happened
    * in the ranker that built the pool). Relevance is read from
    * `scoreCol` (pre-rounded upstream for reproducibility); rows with
    * a null or NaN score are dropped as unrankable (r15 — previously
    * null NPE'd); ties at every argmax break to the smaller id, so
    * the output is deterministic. Output: (id, mmr_rank, score). */
  def mmrRerank(candidates: DataFrame, id: String, vecCol: String,
      lambda: Double = 0.7, k: Int = 10, scoreCol: String = "score",
      maxPool: Int = 10000, objectiveGrid: Option[Int] = None): DataFrame = {
    validateMmrArgs(candidates, id, lambda, k, "mmrRerank")
    val rows = collectPool(candidates, id, vecCol, scoreCol, maxPool)
    require(rows.length <= maxPool,
      s"mmrRerank: candidate pool exceeds maxPool=$maxPool — MMR re-ranks " +
        "a bounded top-N page; cut the pool in the upstream ranker")
    greedyFrame(candidates.sparkSession, parseCands(rows), id, scoreCol,
      lambda, k, objectiveGrid)
  }

  private def validateMmrArgs(candidates: DataFrame, id: String,
      lambda: Double, k: Int, op: String): Unit = {
    require(lambda >= 0 && lambda <= 1, s"$op: lambda=$lambda")
    require(k > 0, s"$op: k=$k")
    // the greedy page keys candidates by long id; a silent cast of a
    // string id (e.g. the sha16 surrogate keys) would null every row
    // and die later in an opaque NPE — fail loudly at the boundary
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = candidates.schema(id).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$op: id column '$id' must be an integral type, got $idType — " +
        "map string ids (e.g. sha16 keys) to a numeric surrogate first")
  }

  /** null/NaN relevance rows are DROPPED, not ranked: a null score
    * previously NPE'd the collect, and NaN orders differently in
    * Spark sorts (greatest) vs the driver greedy — neither is a
    * rankable candidate, and dropping them identically on every path
    * keeps the pruned and unpruned pipelines row-equivalent. */
  private def rankable(candidates: DataFrame, scoreCol: String): DataFrame =
    candidates.filter(col(scoreCol).isNotNull &&
      !isnan(col(scoreCol).cast("double")))

  /** ONE bounded collect of the rankable pool: at most `cap`+1 rows
    * reach the driver regardless of the input's size. */
  private def collectPool(candidates: DataFrame, id: String, vecCol: String,
      scoreCol: String, cap: Int): Array[org.apache.spark.sql.Row] =
    rankable(candidates, scoreCol)
      .select(col(id).cast("long"), col(scoreCol).cast("double"), col(vecCol))
      .limit(cap + 1).collect()

  private final case class Cand(cid: Long, rel: Double, vec: Array[Double])

  private def parseCands(rows: Array[org.apache.spark.sql.Row]): Array[Cand] =
    rows.map { r =>
      val v = r.getSeq[Any](2) match {
        case null => Array.empty[Double]
        case s => s.map {
          case f: Float => f.toDouble
          case d: Double => d
          case x => x.toString.toDouble
        }.toArray
      }
      Cand(r.getLong(0), r.getDouble(1), v)
    }.sortBy(c => (-c.rel, c.cid))

  /** The exact driver-side greedy over a parsed pool (pool already
    * sorted by (rel DESC, id ASC) — `parseCands`).
    *
    * `objectiveGrid = Some(g)` snaps each candidate's MMR objective to
    * the g-decimal grid (HALF_UP) before the argmax. The relevance
    * term's bits are already engine-identical (scoreCol is pre-rounded
    * upstream); only the redundancy cosine carries summation-order
    * noise (~1e-15), so on the grid the argmax — and therefore the
    * whole selection — is reproducible by any engine (the discipline
    * that gives q111 a full-hash oracle). None = raw doubles, the
    * original behavior. */
  private def greedyPick(pool: Array[Cand], lambda: Double,
      k: Int, objectiveGrid: Option[Int] = None): Seq[Cand] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      if (a.length != b.length || a.isEmpty) return 0.0
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Cand]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (picked.length < math.min(k, pool.length)) {
      val best = remaining.minBy { c =>
        // lambda == 1.0 is relevance-only by definition: skip the
        // O(picked·dim) redundancy term entirely — besides the wasted
        // work, 0.0 * NaN = NaN, so a NaN vector element would
        // otherwise perturb selection even with redundancy disabled
        val red =
          if (picked.isEmpty || lambda == 1.0) 0.0
          else picked.map(p => cos(c.vec, p.vec)).max
        val mmr = lambda * c.rel - (1 - lambda) * red
        val key = objectiveGrid match {
          // NaN AND ±Infinity pass through ungridded (BigDecimal
          // rejects both with NumberFormatException); rankable()
          // already dropped NaN rel, so these are only the
          // NaN-vector-element / infinite-relevance edges, ordered
          // the same as the ungridded path always ordered them
          case Some(g) if !mmr.isNaN && !mmr.isInfinite =>
            BigDecimal(mmr).setScale(g, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
          case _ => mmr
        }
        (-key, c.cid) // max mmr, ties to smaller id
      }
      picked += best
      remaining -= best
    }
    picked.toSeq
  }

  private def greedyFrame(spark: org.apache.spark.sql.SparkSession,
      pool: Array[Cand], id: String, scoreCol: String, lambda: Double,
      k: Int, objectiveGrid: Option[Int] = None): DataFrame = {
    import spark.implicits._
    greedyPick(pool, lambda, k, objectiveGrid).zipWithIndex
      .map { case (c, i) => (c.cid, (i + 1).toLong, c.rel) }
      .toDF(id, "mmr_rank", scoreCol)
  }

  /** MMR over arbitrarily large candidate pools: a distributed
    * cluster-prune pre-stage reduces the pool to a bounded page, then
    * the exact greedy (`mmrRerank`) runs on the page. Pools that
    * already fit `maxPool` skip the prune entirely — `mmrRerankLarge`
    * is then IDENTICAL to `mmrRerank` (property-pinned), so callers
    * can use it unconditionally.
    *
    * The prune: random-hyperplane LSH cells (`Similarity
    * .withLshBucket`, the q20 construction — deterministic, sha-
    * derived, engine-reproducible) partition the pool by similarity
    * neighborhood; each cell keeps its top `maxPool/(2^nPlanes+1)`
    * rows by (`scoreCol` DESC, id ASC) — Spark's WindowGroupLimit
    * pushes the rank cut map-side, so no cell's full membership ever
    * shuffles (the +1 budgets a possible null-vector cell). Near-dups
    * land in the same cell, so redundant low-relevance rows are what
    * the cut drops — the rows MMR would never pick anyway.
    *
    * Guarantees: the page always contains the global top-`perCell` by
    * relevance (every global top row is a top row of its own cell), so
    * at lambda = 1 the pruned result EQUALS the unpruned greedy for
    * any pool size (property-pinned). At lambda < 1 the prune is the
    * standard ANN approximation: exact on the page, page chosen by
    * similarity-aware cells.
    *
    * Cost shape (r18, closing the r16 tradeoff's other half): the
    * probe materializes at most maxPool+1 rows EXECUTOR-side (a
    * limit + eager localCheckpoint — one lineage execution, the r16
    * fix preserved) and decides overflow from the materialized count,
    * so the driver never receives a single embedding unless the pool
    * actually passes through (the r17 ADVICE low: the old probe
    * collected maxPool+1 full vectors — ~330 MB of driver heap at
    * dim 4096 — only to discard them on overflow). Passthrough
    * collects FROM the checkpoint blocks (no lineage re-run); only an
    * overflowing pool re-executes its lineage, and that second pass
    * is the distributed prune that never collects the corpus. The
    * probe blocks are freed either way (`Pinned.free`). */
  def mmrRerankLarge(candidates: DataFrame, id: String, vecCol: String,
      lambda: Double = 0.7, k: Int = 10, scoreCol: String = "score",
      maxPool: Int = 10000, nPlanes: Int = 5, seed: Long = 42L): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 16,
      s"mmrRerankLarge: nPlanes=$nPlanes out of [1,16]")
    val cells = (1 << nPlanes) + 1 // +1: null-vector rows form a cell
    val perCell = maxPool / cells
    require(perCell >= k,
      s"mmrRerankLarge: maxPool=$maxPool over $cells cells keeps only " +
        s"$perCell rows per cell < k=$k — lower nPlanes or raise maxPool")
    validateMmrArgs(candidates, id, lambda, k, "mmrRerankLarge")
    // unrankable rows drop BEFORE the probe so both branches see the
    // identical pool (collectPool drops them on the passthrough side;
    // without this a null-score row would count toward the prune
    // decision and then sort arbitrarily in the rank window)
    val ranked = rankable(candidates, scoreCol)
    val probe = ranked
      .select(col(id).cast("long"), col(scoreCol).cast("double"), col(vecCol))
      .limit(maxPool + 1)
      .localCheckpoint(true)
    try {
      if (probe.count() <= maxPool) {
        greedyFrame(candidates.sparkSession, parseCands(probe.collect()),
          id, scoreCol, lambda, k)
      } else {
        mmrRerank(prunedPage(ranked, id, vecCol, scoreCol, perCell, nPlanes,
          seed), id, vecCol, lambda, k, scoreCol, maxPool)
      }
    } finally Pinned.free(probe)
  }

  /** The distributed prune stage of `mmrRerankLarge`: LSH-cell the
    * pool, keep each cell's top `perCell` by (`scoreCol` DESC, id ASC)
    * — WindowGroupLimit pushes the cut map-side, so no cell's full
    * membership ever shuffles. Page size ≤ cells·perCell. */
  private def prunedPage(ranked: DataFrame, id: String, vecCol: String,
      scoreCol: String, perCell: Int, nPlanes: Int, seed: Long): DataFrame = {
    val w = Window.partitionBy(col("__cell"))
      .orderBy(col(scoreCol).desc, col(id).asc)
    graft.vector.Similarity
      .withLshBucket(ranked, vecCol, nPlanes, seed, as = "__cell")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCell)
      .drop("__cell", "__rn")
  }

  /** Measured prune quality for `mmrRerankLarge` below lambda = 1 —
    * the RecallReport-style probe that turns "standard ANN
    * approximation" into a number instead of an assertion. For each
    * lambda in the grid, runs the exact greedy on the FULL pool and
    * on the FORCED pruned page (forced regardless of pool size —
    * otherwise any pool ≤ maxPool would passthrough and report a
    * vacuous 1.0), and reports their top-k set overlap.
    *
    * Bounded audit op, not a corpus scan: both sides must run the
    * driver greedy, so the pool is capped at `maxEval` rows (throws
    * above — sample the pool upstream to audit a larger ranker). The
    * page is built ONCE (cell membership and the per-cell cut don't
    * depend on lambda); the grid loops only the driver-side greedy.
    *
    * Returns one row per lambda: (lambda, k, pool_n, page_n,
    * overlap_at_k) with overlap_at_k = |pruned∩unpruned| / |unpruned|
    * ∈ [0,1]. At lambda = 1 the containment guarantee makes it
    * exactly 1.0 (spec-pinned alongside the q137/q138 oracles). */
  def mmrPruneQualityReport(candidates: DataFrame, id: String, vecCol: String,
      lambdas: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.9, 1.0), k: Int = 10,
      scoreCol: String = "score", maxPool: Int = 10000, nPlanes: Int = 5,
      seed: Long = 42L, maxEval: Int = 10000): DataFrame = {
    require(lambdas.nonEmpty, "mmrPruneQualityReport: empty lambda grid")
    lambdas.foreach(l => require(l >= 0 && l <= 1,
      s"mmrPruneQualityReport: lambda=$l"))
    validateMmrArgs(candidates, id, 1.0, k, "mmrPruneQualityReport")
    require(nPlanes >= 1 && nPlanes <= 16,
      s"mmrPruneQualityReport: nPlanes=$nPlanes out of [1,16]")
    val cells = (1 << nPlanes) + 1
    val perCell = maxPool / cells
    require(perCell >= k,
      s"mmrPruneQualityReport: maxPool=$maxPool over $cells cells keeps " +
        s"only $perCell rows per cell < k=$k — lower nPlanes or raise maxPool")
    val spark = candidates.sparkSession
    val ranked = rankable(candidates, scoreCol)
    val fullRows = collectPool(ranked, id, vecCol, scoreCol, maxEval)
    require(fullRows.length <= maxEval,
      s"mmrPruneQualityReport: pool exceeds maxEval=$maxEval — the audit " +
        "runs the exact greedy on the full pool; sample it upstream")
    val fullPool = parseCands(fullRows)
    val pagePool = parseCands(collectPool(
      prunedPage(ranked, id, vecCol, scoreCol, perCell, nPlanes, seed),
      id, vecCol, scoreCol, maxEval))
    import spark.implicits._
    lambdas.map { l =>
      val exact = greedyPick(fullPool, l, k).map(_.cid).toSet
      val approx = greedyPick(pagePool, l, k).map(_.cid).toSet
      val overlap =
        if (exact.isEmpty) 1.0
        else (exact & approx).size.toDouble / exact.size
      (l, k, fullPool.length.toLong, pagePool.length.toLong, overlap)
    }.toDF("lambda", "k", "pool_n", "page_n", "overlap_at_k")
  }
}
