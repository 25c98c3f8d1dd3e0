package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — compressed-vector ANN storage and
  * asymmetric-distance scoring (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS
  * IVF-PQ default). The reference wishes for exactly this capability:
  * its vector store asks for a compressed HNSW index
  * (vectorize.py:119-123); PQ is the Spark-native answer — a dim-D
  * float vector (4·D bytes) becomes m small ints (m bytes at k ≤ 256),
  * a 32× cut at D=64/m=8, which at 100 TB is the difference between a
  * corpus whose codes fit in cluster RAM and one that doesn't.
  *
  * Structure: the vector splits into m contiguous subspaces of
  * dsub = D/m dims; each subspace gets its own k-centroid codebook;
  * a vector's code is the per-subspace nearest-centroid index
  * (`PqEncode`, one codegen'd pass). Distances are scored
  * ASYMMETRICALLY (ADC): the query stays float, and
  * ‖q − decode(code)‖² = Σ_s ‖q_s − cb[s][code_s]‖², so a per-query
  * m×k lookup table turns every candidate distance into m array reads
  * — no float vector is ever touched at scan time.
  *
  * The k-means engine, for PQ and IVF alike: an IVF cell table is the
  * m = 1 case of `PqModel`, so every trainer is one seed rule followed
  * by `lloydOnce` × iters.
  *
  *  - seed rules: the id-prefix window `offset <= id < offset + k`
  *    (`trainCodebooks`, `Ivf.seedCentroids`, the q87/q58 rule), the
  *    strided ids `⌊c·(maxId+1)/k⌋` (`trainCodebooksAdaptive`), both
  *    row filters of the one seed collect `seedModel`; and k-means‖
  *    (`kmeansParSeeds`, per subspace, for `trainCodebooksKmeansPar`);
  *  - `lloydOnce`: encode, posexplode, a mean per (subspace, code,
  *    dim), snapped to the round-6 grid and cast to float32.
  *
  * Determinism (the oracle contract): both engines compute the means
  * within ~1e-13 of each other and the grid snap makes them
  * bit-identical (the q19 CAST-AS-REAL discipline); every argmin
  * breaks ties toward the smaller code id. DuckDB re-derives the
  * id-prefix and strided models, codes, LUTs and ADC rankings exactly
  * (q166–q169, q174). The k-means‖ rule samples with Spark's
  * xxhash64, which DuckDB cannot re-derive: its trainers are
  * deterministic and partition-invariant (PqSpec, IvfSpec) but not
  * oracle-replayed.
  *
  * Scale shape: a Lloyd round is one posexplode + per-(subspace, code,
  * dim) partial-agg pass over all m subspaces at once (map-side
  * combined; only m·k·dsub = D·k doubles ever reach the driver), so a
  * round costs the same jobs whatever m and the seed rule; encoding is
  * map-only against broadcast codebooks; ADC scoring is map-only
  * against a broadcast m×k LUT. Nothing here shuffles the corpus.
  */
object Pq {

  /** Trained product quantizer: `codebooks(s)(c)(j)` = subspace s,
    * code c, local dim j. */
  final case class PqModel(dsub: Int, codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dim: Int = m * dsub
    private[vector] def cbSeq: Seq[Seq[Seq[Float]]] =
      codebooks.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** Driver-collect cap of one seed set: k×dim floats, ≈ 100 MB at
    * dim 384. Beyond it, keep centroids distributed —
    * `Ivf.assignCellsTwoLevelDist` takes the fine table as a DataFrame
    * and needs only the √k coarse prefix collected. */
  private val MaxCollect = 65536

  /** Decimal places every centroid mean and ranked distance is
    * rounded to before it is compared (see the header). */
  private val Grid = 6

  /** Squared L2 in double precision, index order, between `b` and the
    * window of `a` starting at `off`, over the dims both have (the
    * truncation guard: a dimension mismatch from an embedder change
    * degrades instead of throwing). The driver-side and UDF twin of
    * the `NearestCell` / `PqEncode` kernels' arithmetic. */
  private[vector] def sqDist(a: Array[Float], off: Int,
      b: Array[Float]): Double = {
    val n = math.min(b.length, math.max(0, a.length - off))
    var d = 0.0
    var j = 0
    while (j < n) {
      val t = a(off + j).toDouble - b(j).toDouble
      d += t * t
      j += 1
    }
    d
  }

  /** The one seed collect: the `rows` with a non-null vector (`window`
    * names the rule in the failure message), collected unsorted and
    * sorted by id on the driver — a distributed orderBy over a k-row
    * frame would cost a range-sample job + a sort exchange per call —
    * then exactly k seeds, sliced into m subspaces. `rows` is
    * evaluated after the shape checks, so a bad k fails before any
    * job runs. */
  private def seedModel(df: DataFrame, id: String, vec: String, m: Int,
      k: Int, window: String)(rows: => Column): PqModel = {
    require(m >= 1 && k >= 1, s"seed: m=$m and k=$k must be >= 1")
    require(k <= MaxCollect,
      s"seed: k=$k exceeds the driver-collect cap $MaxCollect; " +
        "use Ivf.assignCellsTwoLevelDist with the fine table as a DataFrame")
    val seeds = df.filter(col(vec).isNotNull && rows)
      .select(col(id).cast("long"), col(vec))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)
    require(seeds.length == k,
      s"seed: only ${seeds.length} of $k rows in the $window window " +
        "hold a non-null vector")
    val dim = seeds.head.length
    require(dim % m == 0, s"seed: dim $dim not divisible by m=$m")
    val dsub = dim / m
    PqModel(dsub, Array.tabulate(m, k) { (s, c) =>
      java.util.Arrays.copyOfRange(seeds(c), s * dsub, (s + 1) * dsub)
    })
  }

  /** The k-means‖ seed rule (Bahmani et al. 2012) for one subspace:
    * `seed0` (the smallest-id row) seeds round 0, then TWO passes of
    * d²-weighted oversampling — each pass scores every row's squared
    * distance to the candidate set and keeps rows where a hash-derived
    * uniform (`xxhash64(id, pass)`, no RNG state) falls below
    * ℓ·d²/Σd² with ℓ = 4k — and a greedy farthest-first pass over the
    * ≈2ℓ collected candidates finishes on the driver (O(|C|·k·dim)
    * driver flops; |C| is ℓ-bounded, not N). A CONSTANT number of
    * Spark jobs (2×(agg, collect), plus one top-up collect on a corpus
    * with fewer candidates than k) whatever k. Seeds are padded or cut
    * to `seed0`'s length. */
  private def kmeansParSeeds(df: DataFrame, id: String, vec: String,
      k: Int, seed0: (Long, Array[Float])): Array[Array[Float]] = {
    val cand = scala.collection.mutable.LinkedHashMap(seed0)
    val ell = 4L * k
    var pass = 1
    while (pass <= 2) {
      val sofar = cand.valuesIterator.toArray
      val minD = udf { (v: Seq[Float]) =>
        if (v == null) -1.0
        else { val a = v.toArray; sofar.map(sqDist(a, 0, _)).min }
      }
      val scored = df
        .select(col(id).cast("long").as("__id"), col(vec).as("__v"))
        .withColumn("__d", minD(col("__v")))
        .filter(col("__d") > 0) // null vectors (-1) and exact members (0)
      val sumRow = scored.agg(sum(col("__d"))).head()
      val sumD = if (sumRow.isNullAt(0)) 0.0 else sumRow.getDouble(0)
      if (sumD > 0) {
        val u = pmod(xxhash64(col("__id"), lit(pass)), lit(1000000L)) / 1000000.0
        val picked = scored
          .filter(u < least(lit(1.0), lit(ell.toDouble) * col("__d") / lit(sumD)))
          .select(col("__id"), col("__v")).collect()
        picked.sortBy(_.getLong(0)).foreach { r =>
          cand.getOrElseUpdate(r.getLong(0), r.getSeq[Float](1).toArray)
        }
      }
      pass += 1
    }
    if (cand.size < k) {
      // degenerate corpus (fewer sampled candidates than k): top up
      // with the smallest ids not yet held — one bounded collect
      df.select(col(id).cast("long").as("__id"), col(vec).as("__v"))
        .filter(col("__v").isNotNull)
        .orderBy(col("__id")).limit(k + cand.size).collect()
        .foreach(r => cand.getOrElseUpdate(r.getLong(0), r.getSeq[Float](1).toArray))
    }
    // greedy farthest-first over the candidate pool in ascending id
    // (seed0 IS the smallest id, so it stays first): deterministic,
    // equal-distance ties resolve to the smaller id
    val pool = cand.toArray.sortBy(_._1)
    val chosen = scala.collection.mutable.ArrayBuffer(seed0._2)
    val inSet = scala.collection.mutable.Set(seed0._1)
    val best = scala.collection.mutable.HashMap[Long, Double]() // min d² to chosen
    while (chosen.size < k && inSet.size < pool.length) {
      val last = chosen.last
      var pickId = -1L
      var pickD = -1.0
      var pickV: Array[Float] = null
      pool.foreach { case (pid, pv) =>
        if (!inSet.contains(pid)) {
          val d = math.min(best.getOrElse(pid, Double.MaxValue), sqDist(pv, 0, last))
          best(pid) = d
          if (d > pickD) { pickD = d; pickId = pid; pickV = pv }
        }
      }
      if (pickId < 0) inSet ++= pool.map(_._1) // exhausted
      else { chosen += pickV; inSet += pickId; best.remove(pickId) }
    }
    val dsub = seed0._2.length
    Array.tabulate(k)(i => java.util.Arrays.copyOf(chosen(i % chosen.size), dsub))
  }

  /** One distributed Lloyd round over ALL m subspaces in a single
    * pass — the only Lloyd round in the engine: encode under the
    * current model (map-only), posexplode each vector once, and
    * partial-aggregate per (subspace, code, local dim) means —
    * m·k·dsub = dim·k cells total, a bounded collect. New centroid
    * values are `round(mean, Grid)` cast to float32 so both engines
    * land on identical bits; a code that captured no rows keeps its
    * previous centroid (the standard empty-cluster fallback). */
  private def lloydOnce(df: DataFrame, vec: String, model: PqModel): PqModel = {
    val dsub = model.dsub
    val enc = encode(df.filter(col(vec).isNotNull), col(vec), model, "__codes")
    val means = enc
      .select(col("__codes"), posexplode(col(vec)).as(Seq("__pos", "__x")))
      // positions past the model's dim have no subspace: drop them
      // (the PqEncode truncation contract — a longer vector from an
      // embedder change degrades instead of NPE-ing the mean collect
      // through element_at(codes, m+1) = null)
      .filter(col("__pos") < lit(model.dim))
      .select(
        floor(col("__pos") / lit(dsub)).cast("int").as("__s"),
        (col("__pos") % lit(dsub)).cast("int").as("__j"),
        element_at(col("__codes"),
          floor(col("__pos") / lit(dsub)).cast("int") + lit(1)).as("__c"),
        col("__x").cast("double").as("__x"))
      .groupBy(col("__s"), col("__c"), col("__j"))
      .agg(avg(col("__x")).as("__mu"))
      .collect()
    val next = model.codebooks.map(_.map(_.clone()))
    means.foreach { r =>
      // decimal → nearest DOUBLE → nearest FLOAT, in that order: the
      // exact arithmetic of DuckDB's CAST(round(mu, 6) AS REAL).
      // BigDecimal.toFloat directly would skip the double hop and can
      // double-round differently at float boundary values.
      next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
        BigDecimal(r.getDouble(3))
          .setScale(Grid, BigDecimal.RoundingMode.HALF_UP).toDouble.toFloat
    }
    model.copy(codebooks = next)
  }

  private def lloyd(df: DataFrame, vec: String, seeds: PqModel,
      iters: Int): PqModel =
    (0 until iters).foldLeft(seeds)((mod, _) => lloydOnce(df, vec, mod))

  /** Id-prefix seeds + `iters` Lloyd rounds: subspace s's seed
    * codebook is the s-th dsub-slice of the `seedIdOffset <= id <
    * seedIdOffset + k` rows in ascending id (`iters = 0` returns the
    * seeds). The cross-engine-reproducible path the oracles replay.
    * `seedIdOffset` exists for RESIDUAL training: the rows that seeded
    * the coarse centroids have exactly-zero residuals, and k duplicate
    * zero codes make every argmin an exact tie — which an engine whose
    * per-group summation order varies (DuckDB hash agg) does not
    * resolve deterministically. Seeding past them keeps all codes
    * distinct, restoring the q87 no-exact-ties regime. */
  def trainCodebooks(df: DataFrame, id: String, vec: String, m: Int,
      k: Int, iters: Int = 1, seedIdOffset: Long = 0L): PqModel =
    lloyd(df, vec, seedModel(df, id, vec, m, k,
        s"id-prefix [$seedIdOffset, ${seedIdOffset + k})")(
      col(id) >= seedIdOffset && col(id) < seedIdOffset + k), iters)

  /** Corpus-adaptive codebooks under the oracle contract: strided
    * seeds — seed c is the row at id `⌊c·(maxId+1)/k⌋`, spreading the
    * k seeds across the whole id range instead of the first-k prefix
    * window (whose rows need not represent the corpus at all; the q172
    * layout report showed codebook quality, not layout, is the
    * measured recall bottleneck) — + `iters` Lloyd rounds. One bounded
    * agg (max id) + the k-row seed collect; no sort, no shuffle. Every
    * strided target id must hold a non-null vector (the fixture's
    * dense-id contract; fails loudly otherwise). DuckDB replays it
    * (q174), and the q174 report prices the delta per query. */
  def trainCodebooksAdaptive(df: DataFrame, id: String, vec: String,
      m: Int, k: Int, iters: Int = 2): PqModel =
    lloyd(df, vec, seedModel(df, id, vec, m, k, "strided") {
      val n = df.filter(col(vec).isNotNull)
        .agg(max(col(id).cast("long"))).head().getLong(0) + 1
      val targets = Array.tabulate(k)(c => (c.toLong * n) / k)
      require(targets.distinct.length == k,
        s"trainCodebooksAdaptive: id range $n too small for $k strided seeds")
      col(id).isin(targets: _*)
    }, iters)

  /** The k-means‖ codebook trainer: k-means‖ seeds per subspace
    * (each from the subspace's dsub-dim slice, all rooted at the
    * smallest-id row), then `iters` Lloyd rounds over all m subspaces
    * at once. Deterministic and partition-invariant (spec-pinned), but
    * NOT DuckDB-replayable (see the header) — so this path is
    * spec-covered (PqSpec) while `trainCodebooksAdaptive` carries the
    * oracle (q174). Dims past the smallest-id row's length are
    * ignored, like `encode` does. */
  private[graft] def trainCodebooksKmeansPar(df: DataFrame, id: String, vec: String,
      m: Int, k: Int, iters: Int = 3): PqModel = {
    require(m >= 1 && k >= 1,
      s"trainCodebooksKmeansPar: m=$m and k=$k must be >= 1")
    // the seed must skip null vectors — the module's contract
    // elsewhere is "null vector keeps a null cell", and the min-id row
    // being a failed embed must not NPE training
    val first = df.filter(col(vec).isNotNull).orderBy(col(id)).limit(1)
      .select(col(id).cast("long"), col(vec)).collect()
    require(first.nonEmpty,
      "trainCodebooksKmeansPar: empty input DataFrame (or all vectors null)")
    val (id0, row0) = (first(0).getLong(0), first(0).getSeq[Float](1).toArray)
    require(row0.length % m == 0,
      s"trainCodebooksKmeansPar: dim ${row0.length} not divisible by m=$m")
    val dsub = row0.length / m
    val seeds = PqModel(dsub, Array.tabulate(m) { s =>
      val sliced = df.select(col(id),
        slice(col(vec), s * dsub + 1, dsub).as("__slice"))
      kmeansParSeeds(sliced, id, "__slice", k,
        id0 -> java.util.Arrays.copyOfRange(row0, s * dsub, (s + 1) * dsub))
    })
    lloyd(df, vec, seeds, iters)
  }

  /** Attach the PQ code column (array<int>, length m) — map-only,
    * codegen'd, codebooks broadcast with the plan. */
  def encode(df: DataFrame, vec: Column, model: PqModel,
      as: String = "pq_codes"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    df.withColumn(as, ColumnBridge.column(
      PqEncode(ColumnBridge.expression(vec), model.codebooks)))
  }

  /** Reconstruct the quantized vector from its code (array<float>,
    * length dim): subspace s contributes codebook row cb[s][code_s].
    * Pure Column composition (flatten ∘ transform ∘ element_at) —
    * stays in codegen, and ADC distance to a query equals exact L2
    * against this reconstruction by the PQ identity. */
  def decode(codes: Column, model: PqModel): Column =
    flatten(transform(codes, (c, s) =>
      element_at(element_at(typedlit(model.cbSeq), s + lit(1)), c + lit(1))))

  /** Per-query ADC lookup table, flattened [s·k + c] → ‖q_s − cb[s][c]‖²
    * (doubles, index-order accumulation — the kernel arithmetic). */
  private[graft] def adcLutFlat(query: Array[Float], model: PqModel): Array[Double] =
    Array.tabulate(model.m * model.k) { i =>
      val s = i / model.k
      sqDist(query, s * model.dsub, model.codebooks(s)(i % model.k))
    }

  /** ADC squared distance of a code column against a broadcast LUT:
    * m array reads + m adds per row, no float vector touched. */
  private[graft] def adcDist(codes: Column, lutFlat: Seq[Double], k: Int): Column =
    aggregate(
      transform(codes, (c, s) =>
        element_at(typedlit(lutFlat), s * lit(k) + c + lit(1))),
      lit(0.0d), (acc, x) => acc + x)

  /** PQ top-k for one query: encode (or reuse a stored code column),
    * ADC-score against the broadcast LUT, round-6 + id tie-break (the
    * suite's ranking discipline), take k. Map-only + TakeOrdered —
    * no shuffle, no float scan. */
  def pqTopK(df: DataFrame, id: String, vec: String, query: Array[Float],
      kTop: Int, model: PqModel): DataFrame = {
    require(kTop >= 1, "pqTopK: kTop must be >= 1")
    val lut = adcLutFlat(query, model)
    encode(df.filter(col(vec).isNotNull), col(vec), model, "__codes")
      .select(col(id),
        round(adcDist(col("__codes"), lut.toSeq, model.k), 6).as("adc_d2"))
      .orderBy(col("adc_d2"), col(id))
      .limit(kTop)
  }

  /** IVF-PQ: restrict the ADC scan to the query's nProbe IVF cells
    * (the FAISS IVFPQ composition — coarse cells prune the corpus,
    * codes price the survivors), optionally re-ranking the top
    * `rerank` ADC candidates with exact float L2 before taking kTop.
    * At 100 TB the collection is stored partitioned by `ivf_cell`
    * with only (id, ivf_cell, pq_codes) in the index files — the
    * probe prunes partitions, ADC never reads the float column, and
    * only the ≤rerank finalists fetch their vectors. */
  def ivfPqTopK(df: DataFrame, id: String, vec: String,
      query: Array[Float], kTop: Int, model: PqModel,
      cents: Array[Array[Float]], nProbe: Int = 2,
      rerank: Int = 0): DataFrame = {
    require(kTop >= 1, "ivfPqTopK: kTop must be >= 1")
    val probes = Ivf.nearestCells(query, cents, nProbe)
    val cand = Ivf.assignCells(df.filter(col(vec).isNotNull), col(vec), cents)
      .filter(col("ivf_cell").isin(probes: _*))
    val lut = adcLutFlat(query, model)
    val scored = encode(cand, col(vec), model, "__codes")
      .withColumn("adc_d2",
        round(adcDist(col("__codes"), lut.toSeq, model.k), 6))
    if (rerank <= 0) {
      scored.select(col(id), col("adc_d2"))
        .orderBy(col("adc_d2"), col(id)).limit(kTop)
    } else {
      scored
        .orderBy(col("adc_d2"), col(id)).limit(math.max(rerank, kTop))
        .withColumn("exact_d2",
          round(l2Sq(col(vec), typedlit(query.toSeq)), 6))
        .select(col(id), col("adc_d2"), col("exact_d2"))
        .orderBy(col("exact_d2"), col(id))
        .limit(kTop)
    }
  }

  /** Per-element float32 residual x − centroid(cell) — the encoding
    * input of residual IVF-PQ (Jégou et al. §III-C, the FAISS IVFPQ
    * layout: quantizing the residual instead of the raw vector spends
    * the same m·log2(k) bits on a much smaller-variance signal, so
    * reconstruction error and ADC recall improve at identical size).
    * Arithmetic both engines reproduce bit-for-bit: the two float
    * operands subtract exactly in double, then round ONCE to float32
    * (DuckDB: `CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) AS REAL)`).
    *
    * Dim-mismatch rule (shared with the query side, see
    * `ivfPqResidualTopK.qResidual`): the residual is TRUNCATED to the
    * shorter of (vector, centroid). Without the truncation zip_with
    * pads the shorter operand with null elements, which then feed
    * PqEncode's unsafe getFloat — the row side would degrade
    * differently from the query side's zero-pad (r19 ADVICE). */
  def residualCol(vec: Column, cents: Array[Array[Float]],
      cell: Column): Column = {
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val cent = element_at(centsLit, cell + lit(1))
    val n = least(size(vec), size(cent))
    zip_with(slice(vec, lit(1), n), slice(cent, lit(1), n),
      (x, c) => (x.cast("double") - c.cast("double")).cast("float"))
  }

  /** Train ONE shared codebook set over all cells' residuals (the
    * FAISS default) — same seed/Lloyd/grid discipline as
    * `trainCodebooks`, run on the residual column. Seeds start PAST
    * the coarse-centroid rows (`id >= |cents|`): the centroid rows'
    * residuals are exactly zero, and duplicate zero codes degenerate
    * every argmin into an exact tie (see `trainCodebooks`). */
  def trainResidualCodebooks(df: DataFrame, id: String, vec: String,
      cents: Array[Array[Float]], m: Int, k: Int, iters: Int = 1): PqModel = {
    val withRes = Ivf.assignCells(df.filter(col(vec).isNotNull),
        col(vec), cents)
      .withColumn("__res", residualCol(col(vec), cents, col("ivf_cell")))
    trainCodebooks(withRes, id, "__res", m, k, iters,
      seedIdOffset = cents.length.toLong)
  }

  /** Residual IVF-PQ top-k: candidates from the query's nProbe cells,
    * each scored by ADC against the LUT of the query's residual IN
    * THAT CELL (one LUT per probed cell — residual codes only mean
    * something relative to their own centroid), optional exact float
    * rerank of the top `rerank` page. Same storage story as
    * `ivfPqTopK`: index files hold (id, ivf_cell, codes); the scan
    * never reads the float column. */
  def ivfPqResidualTopK(df: DataFrame, id: String, vec: String,
      query: Array[Float], kTop: Int, model: PqModel,
      cents: Array[Array[Float]], nProbe: Int = 2,
      rerank: Int = 0): DataFrame = {
    require(kTop >= 1, "ivfPqResidualTopK: kTop must be >= 1")
    val probes = Ivf.nearestCells(query, cents, nProbe)
    val cand = Ivf.assignCells(df.filter(col(vec).isNotNull), col(vec), cents)
      .filter(col("ivf_cell").isin(probes: _*))
      .withColumn("__res", residualCol(col(vec), cents, col("ivf_cell")))
    val enc = encode(cand, col("__res"), model, "__codes")
    // per-probed-cell query residual → per-cell LUT (float32 residual,
    // the exact value the row side encodes against)
    // dim-mismatch rule shared with residualCol: truncate to the
    // shorter of (query, centroid) — both sides degrade identically
    def qResidual(cellId: Int): Array[Float] = {
      val c = cents(cellId)
      Array.tabulate(math.min(query.length, c.length)) { i =>
        (query(i).toDouble - c(i).toDouble).toFloat
      }
    }
    val adc = probes.foldLeft(lit(null).cast("double")) { (acc, cellId) =>
      when(col("ivf_cell") === cellId,
        adcDist(col("__codes"),
          adcLutFlat(qResidual(cellId), model).toSeq, model.k))
        .otherwise(acc)
    }
    val scored = enc.withColumn("adc_d2", round(adc, 6))
    if (rerank <= 0) {
      scored.select(col(id), col("adc_d2"))
        .orderBy(col("adc_d2"), col(id)).limit(kTop)
    } else {
      val qLit = typedlit(query.toSeq)
      scored
        .orderBy(col("adc_d2"), col(id)).limit(math.max(rerank, kTop))
        .withColumn("exact_d2", round(l2Sq(col(vec), qLit), 6))
        .select(col(id), col("adc_d2"), col("exact_d2"))
        .orderBy(col("exact_d2"), col(id))
        .limit(kTop)
    }
  }

  /** The index's row form: (id, ivf_cell, pq_codes), one writer task
    * per cell — shared by the batch writer and the streaming sink so
    * the two stores can never drift schema. */
  private[graft] def encodedCellRows(df: DataFrame, id: String,
      vec: String, model: PqModel,
      cents: Array[Array[Float]]): DataFrame =
    encode(
        Ivf.assignCells(df.filter(col(vec).isNotNull), col(vec), cents),
        col(vec), model, "pq_codes")
      .select(col(id), col("ivf_cell"), col("pq_codes"))
      .repartition(cents.length, col("ivf_cell"))

  /** Write (append) the on-disk IVF-PQ index: (id, pq_codes)
    * PARTITIONED BY ivf_cell — the 100 TB serving layout. A query's
    * nProbe cells select a strict partition subset of the store's
    * files (spec-pinned via inputFiles), the scanned rows are m small
    * ints each, and the float column never ships: at dim 64 / m 8 the
    * index is 32× smaller than the vectors it serves. Append-able per
    * ingest batch (one `graft.io.Store` commit, one writer task per
    * cell — the signature-store sliver discipline). */
  def writeIndexStore(df: DataFrame, id: String, vec: String,
      model: PqModel, cents: Array[Array[Float]], path: String): Unit =
    graft.io.Store.commit(encodedCellRows(df, id, vec, model, cents), path,
      indexLayout(model, cents) + ("partitionBy" -> "ivf_cell"))(_ => false)

  /** What the index store's manifest 0 records beside its partition
    * columns (`ivf_cell`, or `batch,ivf_cell` for the streaming sink):
    * a probe or append with another cell count or codebook shape
    * throws before any job. */
  private[graft] def indexLayout(model: PqModel,
      cents: Array[Array[Float]]): graft.io.Store.Layout =
    Map("cells" -> cents.length.toString, "m" -> model.m.toString,
      "k" -> model.k.toString)

  /** Compact the IVF-PQ index store: fold the accumulated per-tick
    * `batch=N` partitions (the `Streams.pqIndexSink` growth pattern —
    * one directory per micro-batch, unbounded under a daily cron) into
    * ONE `batch=-1` epoch with one file per cell, as one store commit.
    * The signature/label-store compaction runbook
    * (`LabelStore.compact` / `NearDup.compactSignatureStore`) applied
    * to the PQ index:
    *
    *  - probes return identical rows before and after (spec-pinned):
    *    `batch` is just a discovered partition column the probe never
    *    reads, and `-1` keeps the directory shape uniform so later
    *    ticks append `batch=N` (N ≥ 0, monotonic from the checkpoint)
    *    next to the compacted epoch without a partition-schema clash;
    *  - the commit carries the store's recorded streaming batch id, so
    *    a crashed stream that replays its last batch after a
    *    compaction still skips it (its rows are already inside
    *    `batch=-1`);
    *  - a batch-writer store with no `batch` level compacts to plain
    *    `ivf_cell=*` dirs (its append slivers merge per cell).
    *
    * Cadence: run on the prune/compact schedule of the other stores,
    * never concurrent with a live sink (one writer per store). Cost is
    * one full-store rewrite, ~k writer tasks; the store holds m bytes
    * per vector, 32× smaller than the corpus it indexes. */
  def compactIndexStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    graft.io.Store.compact(spark, path,
      graft.io.Store.layout(spark, path).fold(1)(_("cells").toInt), df =>
        if (df.columns.contains("batch"))
          df.drop("batch").withColumn("batch", lit(-1L))
        else df)

  /** ADC top-k served FROM the store: read only the query's nProbe
    * cell partitions (partition-pruned file subset), score the code
    * rows against the broadcast LUT, TakeOrdered. With `rerank > 0`
    * the top-`rerank` ADC page joins back to `corpus` BY ID for exact
    * float re-ranking — the only point where any vector is read, and
    * it reads ≤ rerank of them. Same output contract as `ivfPqTopK`. */
  def probeIndexStore(spark: org.apache.spark.sql.SparkSession,
      path: String, id: String, query: Array[Float], kTop: Int,
      model: PqModel, cents: Array[Array[Float]], nProbe: Int = 2,
      rerank: Int = 0, corpus: Option[DataFrame] = None,
      vec: String = "embedding"): DataFrame = {
    require(kTop >= 1, "probeIndexStore: kTop must be >= 1")
    require(rerank <= 0 || corpus.nonEmpty,
      "probeIndexStore: rerank needs the float corpus to re-score against")
    graft.io.Store.expect(spark, path, indexLayout(model, cents))
    val probes = Ivf.nearestCells(query, cents, nProbe)
    val lut = adcLutFlat(query, model)
    val scored = graft.io.Store.read(spark, path)
      .getOrElse(throw new java.util.NoSuchElementException(
        s"probeIndexStore: no index store at $path"))
      .filter(col("ivf_cell").isin(probes: _*))
      .withColumn("adc_d2",
        round(adcDist(col("pq_codes"), lut.toSeq, model.k), 6))
    if (rerank <= 0) {
      scored.select(col(id), col("adc_d2"))
        .orderBy(col("adc_d2"), col(id)).limit(kTop)
    } else {
      val qLit = typedlit(query.toSeq)
      // the ≤rerank-row ADC page is broadcast EXPLICITLY: at 100 TB
      // the corpus side is the big relation, and the right plan (a
      // BroadcastHashJoin building on the bounded page) must not
      // depend on AQE runtime stats to materialize (PlanSpec pins it)
      broadcast(scored
        .orderBy(col("adc_d2"), col(id)).limit(math.max(rerank, kTop)))
        .join(corpus.get.select(col(id), col(vec)), Seq(id))
        .withColumn("exact_d2", round(l2Sq(col(vec), qLit), 6))
        .select(col(id), col("adc_d2"), col("exact_d2"))
        .orderBy(col("exact_d2"), col(id))
        .limit(kTop)
    }
  }

  /** Recall-vs-nProbe sweep for IVF-PQ — the serving knob a 100 TB
    * operator actually tunes (the q110 LSH-tuning shape on the PQ
    * index). Fully distributed over a query BATCH: queries route to
    * their top-`nProbe` cells via a broadcast centroid table (no
    * query vector ever visits the driver), one shared encode+ADC pass
    * runs at max(nProbes) — a smaller nProbe's candidate set is a
    * probe-rank subset by construction, so the grid re-ranks the same
    * scored frontier instead of re-scanning per point — and per-query
    * ADC LUTs come from joining the broadcast codebook table. Exact
    * float ground truth via `l2TopK`. Determinism: the probe routing
    * argmin ranks on round-`Grid` cell distances (the objectiveGrid
    * discipline — group-summed doubles differ ~1e-15 across engines),
    * ADC ranks on round-`Grid` distances with id tie-breaks.
    * Output one row per nProbe:
    * (n_probe, scanned_rows, n_exact, n_hits, recall). */
  def ivfPqRecallSweep(df: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, kTop: Int,
      model: PqModel, cents: Array[Array[Float]],
      nProbes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      "ivfPqRecallSweep: nProbes must be >= 1")
    require(kTop >= 1, "ivfPqRecallSweep: kTop must be >= 1")
    val spark = df.sparkSession
    val maxNp = nProbes.max
    // Par.widen: the shared encode+ADC frontier is the sweep's heavy
    // map pass — single-task over a one-row-group scan without it
    val live = df.filter(col(vec).isNotNull)
    // broadcast dimension tables: centroids (cell, dim, value) and
    // codebooks (subspace, code, local dim, value) — k·dim and dim·k
    // doubles, driver-bounded by construction
    val centDf = spark.createDataFrame(
      cents.toSeq.zipWithIndex.flatMap { case (cv, cid) =>
        cv.toSeq.zipWithIndex.map { case (x, p) => (cid, p, x.toDouble) }
      }).toDF("__cid", "__p", "__cx")
    val cbDf = spark.createDataFrame(
      for {
        s <- model.codebooks.indices.toSeq
        c <- model.codebooks(s).indices
        j <- model.codebooks(s)(c).indices
      } yield (s, c, j, model.codebooks(s)(c)(j).toDouble))
      .toDF("__s", "__c", "__j", "__cbx")
    val qDims = queries.select(col(qid).as("__qid"),
        posexplode(col(qvec)).as(Seq("__p", "__qx")))
      .select(col("__qid"), col("__p"), col("__qx").cast("double").as("__qx"))
    // probe routing: per-query cell ranks on grid-snapped distances
    val qcd = qDims.join(broadcast(centDf), Seq("__p"))
      .groupBy(col("__qid"), col("__cid"))
      .agg(round(sum((col("__qx") - col("__cx")) *
        (col("__qx") - col("__cx"))), Grid).as("__qd2"))
    val wq = Window.partitionBy(col("__qid"))
      .orderBy(col("__qd2"), col("__cid"))
    val prank = qcd.withColumn("__rk", row_number().over(wq))
      .filter(col("__rk") <= maxNp)
      .select(col("__qid"), col("__cid"), col("__rk"))
    // per-query ADC LUTs (|Q|·m·k rows — broadcast-sized for any
    // bounded query page)
    val qSub = qDims.filter(col("__p") < model.dim)
      .select(col("__qid"),
        (col("__p") / model.dsub).cast("int").as("__s"),
        (col("__p") % model.dsub).cast("int").as("__j"),
        col("__qx"))
    val lut = qSub.join(broadcast(cbDf), Seq("__s", "__j"))
      .groupBy(col("__qid"), col("__s"), col("__c"))
      .agg(sum((col("__qx") - col("__cbx")) *
        (col("__qx") - col("__cbx"))).as("__ld2"))
    // shared frontier: corpus rows in some query's top-maxNp cells,
    // carrying the probe rank for subset membership downstream
    val coded = encode(Ivf.assignCells(live, col(vec), cents),
      col(vec), model, "__codes")
    val cand = coded.join(broadcast(prank), col("ivf_cell") === col("__cid"))
    val adc = cand
      .select(col("__qid"), col("__rk"), col(id),
        posexplode(col("__codes")).as(Seq("__s", "__c")))
      .join(broadcast(lut), Seq("__qid", "__s", "__c"))
      .groupBy(col("__qid"), col(id), col("__rk"))
      .agg(round(sum(col("__ld2")), Grid).as("adc_d2"))
    val npDf = spark.createDataFrame(nProbes.map(Tuple1(_))).toDF("n_probe")
    val candNp = adc.join(broadcast(npDf), col("__rk") <= col("n_probe"))
    val wr = Window.partitionBy(col("n_probe"), col("__qid"))
      .orderBy(col("adc_d2"), col(id))
    val approx = candNp.withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") <= kTop)
      .select(col("n_probe"), col("__qid"), col(id))
    val truth = l2TopK(live, id, col(vec), queries, qid, qvec, kTop)
      .select(col(qid).as("__qid"), col(id))
    val scanned = candNp.groupBy(col("n_probe"))
      .agg(count(lit(1)).as("scanned_rows"))
    val hits = truth.join(approx, Seq("__qid", id))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hits"))
    val nExact = truth.agg(count(lit(1)).as("n_exact"))
    scanned.join(hits, Seq("n_probe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(col("n_probe"), col("scanned_rows"), col("n_exact"),
        col("n_hits"), round(col("n_hits") / col("n_exact"), 4).as("recall"))
      .orderBy(col("n_probe"))
  }

  /** Squared L2 between two float-array columns in double precision —
    * the shared scoring expression of the recall/error reports. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0d), (acc, e) => acc + e)

  /** Per-query L2 top-k of `scoreVec` against the bounded query
    * sample: one broadcast nested-loop (the RecallReport shape),
    * round-6 d2 + id tie-break. Output (qid, id) membership rows —
    * the shared ground-truth / approximate-side primitive. */
  def l2TopK(corpus: DataFrame, id: String, scoreVec: Column,
      queries: DataFrame, qid: String, qvec: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "l2TopK: k must be >= 1")
    val w = Window.partitionBy(col(qid)).orderBy(col("__d2"), col(id))
    // Par.widen: the |corpus|×|queries| distance pass is the report
    // families' dominant map cost; single-task over a one-row-group
    // scan without it (guide §2.5, gated)
    corpus
      .crossJoin(broadcast(queries.select(col(qid), col(qvec))))
      .select(col(qid), col(id),
        round(l2Sq(scoreVec, col(qvec)), 6).as("__d2"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qid), col(id))
  }

  /** Recall@k of an approximate representation under L2: exact ground
    * truth ranks `origVec`, the approximate side ranks `approxVec`
    * (a PQ reconstruction, an int8 dequantization, …). Pass `exact`
    * to reuse one ground-truth pass across several reports (the
    * RecallReport convention). Output one row per query:
    * (qid, n_exact, n_hits, recall). */
  def l2RecallAtK(corpus: DataFrame, id: String, origVec: Column,
      approxVec: Column, queries: DataFrame, qid: String, qvec: String,
      k: Int, exact: Option[DataFrame] = None): DataFrame = {
    val truth = exact.getOrElse(
      l2TopK(corpus, id, origVec, queries, qid, qvec, k))
    val approx = l2TopK(corpus, id, approxVec, queries, qid, qvec, k)
    val totals = truth.groupBy(col(qid)).agg(count(lit(1)).as("n_exact"))
    val hits = truth.join(approx, Seq(qid, id), "left_semi")
      .groupBy(col(qid)).agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq(qid), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col(qid), col("n_exact"), col("n_hits"),
        round(col("n_hits") / col("n_exact"), 4).as("recall"))
  }
}
