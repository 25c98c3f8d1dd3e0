package graft.vector

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Fitted PCA model: population mean, eigenvalues (descending) and the
  * matching row-per-component orthonormal basis. Driver-resident by
  * design — O(k·dim) doubles, tiny next to any executor task.
  *
  * Sign convention (determinism): each component is flipped so its
  * largest-|coordinate| entry (first on ties) is positive — re-fitting
  * the same data yields a bit-identical model regardless of the
  * eigensolver's arbitrary per-vector sign.
  */
final case class PcaModel(
    n: Long,
    dim: Int,
    mean: Array[Double],
    eigenvalues: Array[Double],
    components: Array[Array[Double]]) {

  require(components.length == eigenvalues.length,
    s"components (${components.length}) vs eigenvalues (${eigenvalues.length})")

  def k: Int = eigenvalues.length

  /** Driver-side projection of one raw vector (e.g. a query vector)
    * into component space: components · (v − mean). */
  def projectVec(v: Array[Float]): Array[Double] = {
    require(v.length == dim, s"vector dim ${v.length} != model dim $dim")
    Array.tabulate(k) { r =>
      val row = components(r)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += row(i) * (v(i) - mean(i)); i += 1 }
      acc
    }
  }
}

/** Embedding decorrelation: distributed second-moment computation, a
  * driver-side eigendecomposition, and map-only projection and
  * standardization (the standard pre-ANN transforms — decorrelate,
  * optionally reduce rank, equalize per-axis scale).
  *
  * Scale shape (the part that must survive 100 TB):
  *  - `moments` is ONE pass over the data: each partition folds its
  *    rows into a single (n, Σx, upper-tri ΣxxT) partial —
  *    O(dim²/2) doubles, ~17 KB at dim 64 — and the partials merge
  *    executor-side via treeReduce (depth 2), so the driver receives
  *    O(√partitions) partials, never one per scan partition. No
  *    shuffle, no explode (an explode-twice SQL formulation is
  *    O(dim²) ROWS per vector — the oracle does that at sf0.01; the
  *    engine never does).
  *  - the eigendecomposition is O(dim³) on the DRIVER — dim is a model
  *    constant (64–4096), not data-scaled.
  *  - `project` is map-only against the closure-captured
  *    model (O(k·dim) doubles rides the task binary); no shuffle, no
  *    per-row allocation beyond the output array.
  */
object Pca {

  private type Partial = (Long, Array[Double], Array[Double])

  private def mergePartial(a: Partial, b: Partial): Partial = {
    if (a._1 == 0L) b
    else if (b._1 == 0L) a
    else {
      require(a._2.length == b._2.length,
        s"mixed embedding dims: ${a._2.length} vs ${b._2.length}")
      val s = new Array[Double](a._2.length)
      val x = new Array[Double](a._3.length)
      var i = 0
      while (i < s.length) { s(i) = a._2(i) + b._2(i); i += 1 }
      i = 0
      while (i < x.length) { x(i) = a._3(i) + b._3(i); i += 1 }
      (a._1 + b._1, s, x)
    }
  }

  /** Second-moment shape of a fold pass: nothing beyond the sums, the
    * O(dim) diagonal only, or the full O(dim²/2) upper triangle. */
  private final val XtxNone = 0
  private final val XtxDiag = 1
  private final val XtxTri = 2

  /** One-pass (n, Σf(x), Σf(x)f(x)ᵀ-shaped) fold over non-null
    * vectors, where f(x) = x − `center` (or x itself when `center` is
    * null). Rejects ragged dims loudly (mixed-dim corpora must not
    * silently average).
    *
    * Merge order is DETERMINISTIC: partials are keyed by scan
    * partition id and combined in byte-budgeted fan-in keyed rounds,
    * each group reduced in sorted-key order. A task-completion-order
    * reduce (treeReduce) gives last-ulp-different covariances run to
    * run — which the spec's bit-identical-refit pin caught — while
    * this shape costs the same O(log partitions) executor-side merge
    * rounds at scale and the driver still receives ≤ fan-in partials.
    *
    * Fan-in is sized in BYTES, not partial count: a combine task
    * materializes its whole group, and at dim 4096 a triangle partial
    * is ~67 MB — a fixed fan-in of 64 would put ~4.3 GB in one task.
    * The budget caps group bytes at ~512 MB and never drops below 2
    * (the fold still terminates), so task memory stays bounded at any
    * dim. */
  private def foldMoments(df: DataFrame, vec: String,
      center: Array[Double], xtxMode: Int): Partial = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(vec)).where(col(vec).isNotNull).as[Seq[Float]].rdd
    val mode = xtxMode // avoid closing over `this`
    val ctr = center
    var cur = rows.mapPartitionsWithIndex { (idx, it) =>
      var n = 0L
      var sum: Array[Double] = null
      var xtx: Array[Double] = null
      while (it.hasNext) {
        val v = it.next()
        if (sum == null) {
          sum = new Array[Double](v.length)
          xtx = new Array[Double](mode match {
            case XtxNone => 0
            case XtxDiag => v.length
            case _ => v.length * (v.length + 1) / 2
          })
        }
        require(v.length == sum.length,
          s"mixed embedding dims: ${v.length} vs ${sum.length}")
        if (ctr != null) require(v.length == ctr.length,
          s"center dim ${ctr.length} != vector dim ${v.length}")
        n += 1
        var i = 0
        var t = 0
        val d = sum.length
        while (i < d) {
          val xi = if (ctr == null) v(i).toDouble else v(i).toDouble - ctr(i)
          sum(i) += xi
          mode match {
            case XtxNone => ()
            case XtxDiag => xtx(i) += xi * xi
            case _ =>
              var j = i
              while (j < d) {
                val xj = if (ctr == null) v(j).toDouble else v(j).toDouble - ctr(j)
                xtx(t) += xi * xj; t += 1; j += 1
              }
          }
          i += 1
        }
      }
      if (n == 0L) Iterator.empty
      else Iterator.single((idx.toLong, (n, sum, xtx)))
    }
    // dim for the byte budget: from the center when we have one, else
    // a one-row probe scan — but only when the triangle is in play
    // (sums-only partials are O(dim) doubles; the 64 cap is already
    // byte-safe there, and skipping the probe saves a scheduler
    // round-trip per pass on small inputs). An empty input fails at
    // the collect-side require below either way.
    val dim: Int =
      if (ctr != null) ctr.length
      else if (xtxMode == XtxNone) 1
      else {
        val dimRow = df.select(size(col(vec)))
          .where(col(vec).isNotNull).head(1)
        require(dimRow.nonEmpty, s"Pca: no non-null '$vec' vectors to fit")
        dimRow(0).getInt(0)
      }
    val partialBytes = 8L * (dim + (xtxMode match {
      case XtxNone => 0L
      case XtxDiag => dim.toLong
      case _ => dim.toLong * (dim + 1) / 2
    })) + 64L
    val budgetBytes = 512L << 20
    val FanIn = math.max(2L, math.min(64L, budgetBytes / partialBytes)).toInt
    // bound = max surviving key count, known statically from the scan
    var bound = math.max(rows.getNumPartitions, 1)
    while (bound > FanIn) {
      val parts = math.max(1, (bound + FanIn - 1) / FanIn)
      cur = cur.map { case (k, p) => (k / FanIn, (k, p)) }
        .groupByKey(parts)
        .map { case (k, grp) =>
          (k, grp.toSeq.sortBy(_._1).map(_._2).reduceLeft(mergePartial))
        }
      bound = (bound + FanIn - 1) / FanIn
    }
    val partials = cur.collect().sortBy(_._1).map(_._2)
    require(partials.nonEmpty, s"Pca: no non-null '$vec' vectors to fit")
    partials.reduceLeft(mergePartial)
  }

  /** One-pass (n, Σx, upper-triangular ΣxxT) over non-null vectors —
    * the sufficient statistic `fit` eigensolves. See `foldMoments` for
    * determinism and the byte-budgeted fan-in. */
  private[vector] def moments(df: DataFrame, vec: String): Partial =
    foldMoments(df, vec, center = null, xtxMode = XtxTri)

  /** Deterministic per-dimension (n, mean) — pass 1 of the two-pass
    * centered statistics. Sums only: no O(dim²) triangle. */
  private def meanPass(df: DataFrame, vec: String): (Long, Array[Double]) = {
    val (n, s, _) = foldMoments(df, vec, center = null, xtxMode = XtxNone)
    (n, s.map(_ / n))
  }

  private def triAt(x: Array[Double], d: Int, i: Int, j: Int): Double = {
    val (lo, hi) = if (i <= j) (i, j) else (j, i)
    x(lo * d - lo * (lo - 1) / 2 + (hi - lo))
  }

  /** Population covariance as a DataFrame of the upper triangle
    * (1-based i ≤ j, matching DuckDB generate_subscripts): the
    * driver-checkable face of the moments kernel.
    *
    * TWO-PASS CENTERED, deliberately (r17 verdict): the one-pass
    * E[xy] − E[x]E[y] form cancels O(10–100)-magnitude sums down to
    * O(1e-4) covariances, leaving cross-engine float noise (~1e-11)
    * the same order as a round(·,6) midpoint gap — q150's hash was a
    * measured coin flip (cells 2.5e-11 from the midpoint at sf0.01).
    * Centering first (means pass, then Σ(x−μᵢ)(x−μⱼ)) makes every
    * accumulated term the size of the answer, shrinking the error to
    * ~1e-15 — six orders of headroom against the 5e-7 half-grid. The
    * corrected-two-pass term (Σ(x−μᵢ)/n)(Σ(x−μⱼ)/n) also compensates
    * the float error of μ itself (the oracle carries the same term).
    * PcaSpec pins the headroom (distance-to-midpoint vs a computed
    * error bound at all three SFs) and partitioning invariance. */
  def covariance(df: DataFrame, vec: String): DataFrame = {
    val (_, mean) = meanPass(df, vec)
    val (n, cs, cx) = foldMoments(df, vec, center = mean, xtxMode = XtxTri)
    val d = cs.length
    val rows = for {
      i <- 0 until d
      j <- i until d
    } yield Row((i + 1).toLong, (j + 1).toLong,
      triAt(cx, d, i, j) / n - (cs(i) / n) * (cs(j) / n))
    val schema = StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("cov", DoubleType, nullable = false)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1), schema)
  }

  /** Fit a k-component model (k ≤ dim; k ≤ 0 means full rank).
    * Eigenvalues descend; tiny negative eigenvalues (solver noise on a
    * PSD matrix) clamp to 0 so downstream sqrt/variance math is safe. */
  def fit(df: DataFrame, vec: String, k: Int = -1): PcaModel =
    fitPartial(moments(df, vec), k)

  private def fitPartial(p: Partial, k: Int): PcaModel = {
    val (n, s, x) = p
    val d = s.length
    val mean = s.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d) { (i, j) =>
      triAt(x, d, i, j) / n - mean(i) * mean(j)
    }
    val es = breeze.linalg.eigSym(cov) // ascending eigenvalues
    val kk = if (k <= 0 || k > d) d else k
    val order = (d - 1) to (d - kk) by -1
    val eigenvalues = order.map(c => math.max(es.eigenvalues(c), 0.0)).toArray
    val components = order.map { c =>
      val v = Array.tabulate(d)(r => es.eigenvectors(r, c))
      // deterministic sign: largest-|entry| (first on ties) positive
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(v(i)) > math.abs(v(best))) best = i; i += 1 }
      if (v(best) < 0) { i = 0; while (i < d) { v(i) = -v(i); i += 1 } }
      v
    }.toArray
    PcaModel(n, d, mean, eigenvalues, components)
  }

  /** Map-only projection into component space: components·(v − mean).
    * Null vectors (dead-lettered embeds) project to null. */
  def project(df: DataFrame, vec: String, model: PcaModel,
      as: String = "pca"): DataFrame = {
    val f = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        require(v.length == model.dim,
          s"vector dim ${v.length} != model dim ${model.dim}")
        val out = new Array[Double](model.k)
        var r = 0
        while (r < model.k) {
          val row = model.components(r)
          var acc = 0.0
          var i = 0
          while (i < model.dim) { acc += row(i) * (v(i) - model.mean(i)); i += 1 }
          out(r) = acc
          r += 1
        }
        out
      }
    }
    df.withColumn(as, f(col(vec)))
  }

  /** Per-dimension standardization (z-scoring / DIAGONAL whitening):
    * map-only (x − μⱼ)/σⱼ with population μ, σ from the same
    * deterministic two-pass centered kernel as `covariance` — pass 1
    * means, pass 2 the O(dim) variance DIAGONAL only (never the
    * triangle). The cheap member of the decorrelation family: it
    * equalizes per-axis scale without rotating, which is exactly what
    * an ANN index needs when the corruption is per-dimension gain
    * (full PCA whitening would also remove cross-correlations, but its
    * eigenbasis is not SQL-expressible — q156 hashes this face).
    * Dimensions with σ² ≤ eps pass through unscaled rather than
    * exploding; null vectors standardize to null. */
  def standardize(df: DataFrame, vec: String, as: String = "standardized",
      eps: Double = 1e-12): DataFrame = {
    val (_, mean) = meanPass(df, vec)
    val (n, cs, cd) = foldMoments(df, vec, center = mean, xtxMode = XtxDiag)
    val d = mean.length
    // division (not a precomputed reciprocal): one rounding per
    // element, exactly the arithmetic the SQL oracle performs —
    // (x - mu) / sigma must round identically on both engines
    val std = Array.tabulate(d) { j =>
      val v = cd(j) / n - (cs(j) / n) * (cs(j) / n)
      if (v > eps) math.sqrt(v) else 1.0
    }
    val f = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        require(v.length == d, s"vector dim ${v.length} != fitted dim $d")
        Array.tabulate(d)(j => (v(j).toDouble - mean(j)) / std(j))
      }
    }
    df.withColumn(as, f(col(vec)))
  }
}
