package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: exact hash,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine. The scale
  * path is LSH banding — candidate pairs come from an equi-join on
  * band keys (one shuffle, no O(n²)); the pairwise operators are for
  * bounded candidate sets (post-LSH refinement or small samples).
  *
  * Hashing is sha256-slice based: one sha256 per shingle/word, with
  * independent hash functions taken as disjoint 12-hex-char slices of
  * the digest. That keeps minhash portable (bit-parity with any FIPS
  * sha256, so oracle-checkable) and costs a single digest per token.
  */
object NearDup {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Shingles over an already-tokenized array column — lets pipelines
    * tokenize once (regex split is the per-row hot spot) and reuse.
    * Callers must filter rows with fewer than n tokens. */
  def shinglesFromTokens(w: Column, n: Int): Column =
    transform(sequence(lit(0), size(w) - lit(n)), i =>
      concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k + 1))): _*))

  /** MinHash signatures: numHashes minima over sha256 slices of the
    * shingle set, as a fused per-row codegen Expression — signature
    * extraction is a pure projection: no explode, no aggregation, no
    * exchange. Oracle-checked (q13), and bit-equal to the explode+agg
    * `minhashSignaturesComposite` below (property-pinned). */
  def minhashSignaturesFused(df: DataFrame, id: String, text: Column,
      numHashes: Int = 4, shingleSize: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val sig = ColumnBridge.column(graft.expr.MinHashSig(
      ColumnBridge.expression(text), numHashes, shingleSize))
    // Par.widen: the sha kernel is the dominant map cost; over a
    // single-row-group input it would otherwise run on one task.
    // The short-row gate uses the CHEAP equivalent predicate
    // (size(tokens) >= shingleSize ⟺ kernel non-null — the kernel's
    // documented null contract) applied BELOW the widen exchange: a
    // filter phrased as `__mh.isNotNull` gets pushed through the
    // exchange by Catalyst and re-evaluates the whole sha kernel at
    // the scan, single-threaded — the guide §4.4 duplicate-evaluation
    // trap, for a JVM expression.
    Par.widen(df.filter(size(tokens(text)) >= shingleSize))
      .select(col(id), sig.as("__mh"))
      .select(col(id) +: (0 until numHashes)
        .map(j => col(s"__mh.mh$j").as(s"mh$j")): _*)
  }

  /** The original explode → hash-agg min form of
    * `minhashSignaturesFused`, kept as the equivalence-spec reference
    * model for the fused kernel (PropertySpec and OpsSpec pin
    * fused == composite). Partial aggregation makes it
    * map-side-combining: the shuffle carries one signature row per
    * document, not one row per shingle. */
  private[graft] def minhashSignaturesComposite(df: DataFrame, id: String,
      text: Column, numHashes: Int = 4, shingleSize: Int = 2): DataFrame = {
    require(numHashes >= 1 && numHashes <= 5, "sha256 hex yields 5 12-char slices")
    val exploded = df
      .select(col(id), tokens(text).as("__w"))
      .filter(size(col("__w")) >= shingleSize)
      .select(col(id), explode(shinglesFromTokens(col("__w"), shingleSize)).as("__sh"))
      .withColumn("__h", sha2(col("__sh"), 256))
    val aggs = (0 until numHashes).map(j =>
      min(substring(col("__h"), 1 + 12 * j, 12)).as(s"mh$j"))
    exploded.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded view of a signature table: one row per (doc, band), band
    * key = band index ++ that band's minhash columns, with the `carry`
    * columns riding along between `__id` and `__band`. The one band-key
    * construction behind the self-join, the estimate, the incremental
    * probe and the on-disk store, so all of them agree byte-for-byte
    * on band keys.
    *
    * One explode over an array of the nBands keys, NOT a union of
    * nBands per-band selects (r22 session 3): the union shape read
    * the pinned signature blocks once PER BAND ARM per consumer side
    * (nBands× read amplification and nBands× the map tasks — 129 vs
    * 65 tasks and 0.78 vs 0.48 s steady-state on the sf0.1 pairs
    * exec). Band-key VALUES are identical (same concat per band), so
    * every downstream join/distinct is unchanged; only row order
    * within partitions differs (row-major instead of arm-major),
    * which no consumer observes.
    *
    * `sigs` is by-name so that a caller's eager `Pinned.pin` runs only
    * after the width check passes: a bad width throws before any job
    * or pinned block. */
  private def bandedSignatures(sigs: => DataFrame, id: String,
      numHashes: Int, rowsPerBand: Int, caller: String,
      carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"$caller: numHashes=$numHashes not divisible by " +
        s"rowsPerBand=$rowsPerBand — trailing hashes would be silently " +
        "dropped from banding (reduced recall)")
    val nBands = numHashes / rowsPerBand
    sigs.select(col(id).as("__id") +: carry.map(col) :+
      explode(array((0 until nBands).map { b =>
        val cols = (0 until rowsPerBand).map(i => col(s"mh${b * rowsPerBand + i}"))
        concat_ws("|", lit(b.toString) +: cols: _*)
      }: _*)).as("__band"): _*)
  }

  /** The one-shot band self-join: every (a, b) row pair sharing a band
    * key, each unordered pair once per shared band (a.__id < b.__id).
    * Callers project from the `a`/`b` aliases and dedup. */
  private def bandSelfJoin(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
      col("a.__band") === col("b.__band") && col("a.__id") < col("b.__id"))

  /** The incremental band probe: `fresh` (the new batch's band rows)
    * joined against `others ∪ fresh` on the band key, so every pair
    * has at least one new-batch side and `others` never joins itself.
    * Pairs come back normalized (doc_a < doc_b) and distinct. */
  private def probeJoin(fresh: DataFrame, others: DataFrame): DataFrame =
    fresh.as("a").join(others.unionByName(fresh).as("b"),
        col("a.__band") === col("b.__band") && col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("doc_a"),
        greatest(col("a.__id"), col("b.__id")).as("doc_b"))
      .distinct()

  /** LSH banding over minhash signatures: docs sharing any band of
    * rowsPerBand consecutive hashes become candidate pairs. The band
    * join is an equi-join on the band key — shuffle-partitioned,
    * skew-safe (bands are near-unique for non-duplicates).
    *
    * The signature table is materialized once (`Pinned.pin`) so the
    * band arms and both self-join sides read blocks instead of
    * re-running the signature subtree. The fused sha kernel is a
    * map-only projection with no exchange for ReuseExchange to dedup,
    * so unmaterialized it re-runs once per band arm per join side —
    * StageAudit measured 4 kernel passes at nBands=2 when AQE
    * broadcasts the band build side (optimization guide §2.3: decide
    * over materialized small rows, don't recompute the heavy pass).
    * Cost: one (id + numHashes longs) row per doc at any scale.
    *
    * NOTE (construction-time execution): this and the other pinning
    * entry points (`lshCandidatePairsIncremental`,
    * `estimatedJaccardPairs`) materialize the signature table with an
    * EAGER localCheckpoint when the plan is merely CONSTRUCTED —
    * building the frame runs Spark jobs and pins executor blocks
    * until the consumer (or harness) calls `Pinned.releaseAll()`. */
  def lshCandidatePairs(sigs: DataFrame, id: String,
      numHashes: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    bandSelfJoin(bandedSignatures(Pinned.pin(sigs), id, numHashes,
        rowsPerBand, "lshCandidatePairs"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .distinct()
  }

  /** Truncation-duplicate detection: pairs where one document's
    * (whitespace-normalized, lowercased) text is CONTAINED in
    * another's — the scraped-corpus failure mode LSH under-catches
    * (a half-length truncation has Jaccard ≈ 0.5, below typical
    * banding thresholds). Candidates come from an equi-join on the
    * first-`anchorTokens` prefix: a truncation shares its victim's
    * head, so the anchor join finds every truncation-from-the-start
    * pair exactly, with no all-pairs scan. Containment is then
    * verified on the normalized text.
    *
    * Scale shape: one shuffle on the anchor key; the exchange carries
    * the normalized text because the VERIFY step needs it (unlike
    * q68/q77 the text here is the payload, not an avoidable key).
    * Group fan-out is gated: an anchor shared by g docs joins as an
    * O(g²) key group, and a corpus-wide boilerplate head (one million
    * docs sharing a template first line is ~10¹² comparisons in ONE
    * task) would wedge the stage — so anchors with document frequency
    * above `maxAnchorFreq` are dropped before the self-join. A
    * template head that hot is boilerplate, not a truncation victim;
    * true truncation pairs share a head with at most a handful of
    * docs. Dropped-anchor recall loss is observable: count rows with
    * `__af > maxAnchorFreq` in the pre-gate frame if auditing.
    * Output: (contained_id, container_id, relation equal|contained),
    * equal-text pairs normalized to the smaller id on the left. */
  def prefixContainmentPairs(df: DataFrame, id: String, text: Column,
      anchorTokens: Int = 8, maxAnchorFreq: Int = 1000): DataFrame = {
    require(anchorTokens >= 1, s"prefixContainmentPairs: anchorTokens=$anchorTokens")
    require(maxAnchorFreq >= 2, s"prefixContainmentPairs: maxAnchorFreq=$maxAnchorFreq")
    val norm = lower(trim(text))
    val ws = filter(split(norm, "\\s+"), t => t =!= "")
    val withFreq = df.select(col(id).as("__id"), norm.as("__text"), ws.as("__w"))
      .filter(size(col("__w")) >= anchorTokens)
      .select(col("__id"), col("__text"),
        concat_ws(" ", slice(col("__w"), 1, anchorTokens)).as("__anchor"))
      .withColumn("__af", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__anchor"))))
    val base = withFreq.filter(col("__af") <= maxAnchorFreq).drop("__af")
    base.as("a").join(base.as("b"),
        col("a.__anchor") === col("b.__anchor") &&
          (length(col("a.__text")) < length(col("b.__text")) ||
            (length(col("a.__text")) === length(col("b.__text")) &&
              col("a.__id") < col("b.__id"))))
      .filter(col("b.__text").contains(col("a.__text")))
      .select(col("a.__id").as("contained_id"),
        col("b.__id").as("container_id"),
        when(length(col("a.__text")) === length(col("b.__text")),
          lit("equal")).otherwise(lit("contained")).as("relation"))
  }

  /** LSH band-planner curve: for a signature of `numHashes` hashes,
    * every (bands b, rows-per-band r) factorization with its
    * candidate probability p(J) = 1 − (1 − J^r)^b over a Jaccard grid
    * (J = i/20, i = 1…19) and the S-curve threshold ≈ (1/b)^(1/r).
    * This is the design table behind every banding choice in this
    * file — at 100 TB the bands/rows dial trades recall against
    * candidate-pair volume, and reading the curve beats re-running
    * the corpus to find out. Pure arithmetic over two tiny ranges
    * (≤ divisors × 19 rows) — no data touched.
    * Output: (bands, rows_per_band, jaccard, p_candidate, threshold). */
  def lshTuningCurve(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int = 16, roundTo: Int = 6): DataFrame = {
    require(numHashes >= 1, s"lshTuningCurve: numHashes=$numHashes")
    val factor = spark.range(1, numHashes + 1L)
      .filter(lit(numHashes) % col("id") === 0)
      .select(col("id").cast("int").as("bands"),
        (lit(numHashes) / col("id")).cast("int").as("rows_per_band"))
    val grid = spark.range(1, 20L)
      .select((col("id") / lit(20.0)).as("jaccard"))
    factor.crossJoin(grid)
      .select(col("bands"), col("rows_per_band"), col("jaccard"),
        round(lit(1.0) - pow(lit(1.0) -
          pow(col("jaccard"), col("rows_per_band").cast("double")),
          col("bands").cast("double")), roundTo).as("p_candidate"),
        round(pow(lit(1.0) / col("bands").cast("double"),
          lit(1.0) / col("rows_per_band").cast("double")), roundTo)
          .as("threshold"))
  }

  /** Signature-agreement Jaccard ESTIMATE for LSH candidate pairs:
    * est = (# agreeing minhash components) / numHashes — the standard
    * minhash estimator (each component agrees with probability J, so
    * the mean of the agreement indicators is an unbiased Jaccard
    * estimate). With the oracle-checkable 4-hash signature the
    * estimate is quartile-coarse; wider signatures tighten it to
    * ±1/√h.
    *
    * Why it earns its place at 100 TB: the estimate needs ONLY the
    * signatures already sitting in the store — candidate pairs get a
    * similarity confidence WITHOUT re-reading, re-tokenizing, or
    * re-shingling any document text. The exact-Jaccard refine joins
    * text-sized rows; this joins 40-byte signature rows, so the
    * post-LSH filter step stops touching the corpus entirely.
    *
    * Shape: the signature columns RIDE the band explode, so the
    * agreement count is computed straight off the band self-join — no
    * join back to the signature table, the candidate-generating
    * exchanges collapse to the one band exchange (the pair distinct
    * still adds its own), and the map-only signature subtree (the
    * fused sha kernel) is pinned and evaluated once. Riding costs
    * nBands copies of the signature per doc through the exchange —
    * cheap at the ≤ 5 hashes the sha kernel yields. The band keys and
    * the candidate set are `lshCandidatePairs`' own; a width not
    * divisible by rowsPerBand throws, as there.
    * Output: (doc_a, doc_b, est_jaccard), est >= minEstimate. */
  def estimatedJaccardPairs(sigs: DataFrame, id: String,
      numHashes: Int = 4, rowsPerBand: Int = 2,
      minEstimate: Double = 0.0): DataFrame = {
    val mhCols = (0 until numHashes).map(j => s"mh$j")
    val agree = mhCols.map(c =>
      when(col(s"a.$c") === col(s"b.$c"), 1).otherwise(0))
      .reduce(_ + _)
    bandSelfJoin(bandedSignatures(Pinned.pin(sigs), id, numHashes,
        rowsPerBand, "estimatedJaccardPairs", carry = mhCols))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        round(agree.cast("double") / numHashes, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstimate)
      .distinct()
  }

  /** Incremental LSH: candidate pairs between a NEW batch and an
    * already-signed corpus — the production shape for a daily dedup
    * pass. The corpus side is a stored signature table (signatures are
    * map-only to produce and land once, at ingest); each increment
    * bands only the new batch and probes corpus ∪ batch, so the
    * corpus NEVER joins itself — per-run work scales with the batch,
    * not the corpus. Pairs are normalized (doc_a < doc_b) and each
    * has at least one new-batch side; pairs internal to the corpus
    * were already emitted by the run that ingested them. The join is
    * `probeJoin`, the one `probeSignatureStore` runs against the
    * on-disk store. */
  def lshCandidatePairsIncremental(corpusSigs: DataFrame, newSigs: DataFrame,
      id: String, numHashes: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    // same materialize-once treatment as lshCandidatePairs: the batch
    // sigs feed both join sides (and the corpus side once per arm) —
    // pin each table so the signature kernels run exactly once.
    // r22 (guide §2.6): the two pins are independent eager
    // materializations (disjoint inputs) — overlap them instead of
    // paying two serial checkpoint jobs
    val (newPinned, corpusPinned) = Par.concurrently(newSigs.sparkSession)(
      Pinned.pin(newSigs))(Pinned.pin(corpusSigs))
    probeJoin(
      bandedSignatures(newPinned, id, numHashes, rowsPerBand,
        "lshCandidatePairsIncremental"),
      bandedSignatures(corpusPinned, id, numHashes, rowsPerBand,
        "lshCandidatePairsIncremental"))
  }

  /** Append a batch's BANDED signatures to the on-disk store backing
    * the incremental dedup loop (the distributed generalization of
    * the reference's persistent seen-set checkpoint,
    * newscrawler.py:421-427 — store the dedup key once at ingest,
    * probe it forever after): one row per (doc, band), laid out
    * `PARTITION BY band_bucket` where band_bucket = xxhash64(band
    * key) mod `buckets`. Banding happens once, at ingest (signatures
    * are map-only to produce); every later probe is a partition-
    * pruned read of just the buckets the incoming batch touches —
    * the probe cost scales with the batch, and the corpus store is
    * never rescanned in full, let alone self-joined. At 100 TB the
    * store is the usual hash-bucketed parquet layout (`buckets`
    * sized so one bucket ≈ one task's worth of files). */
  def appendSignatureStore(sigs: DataFrame, id: String, path: String,
      numHashes: Int = 4, rowsPerBand: Int = 2, buckets: Int = 64,
      batch: Option[Long] = None): Unit = {
    require(buckets >= 1, s"appendSignatureStore: buckets=$buckets")
    graft.io.Store.commit(
      bandedSignatures(sigs, id, numHashes, rowsPerBand, "appendSignatureStore")
        .select(col("__id").as(id), col("__band").as("band"),
          pmod(xxhash64(col("__band")), lit(buckets.toLong)).as("band_bucket"))
        // one writer task per bucket (the LabelStore discipline): an
        // un-repartitioned append writes tasks × buckets sliver files
        // PER TICK of the streaming sink, and probe-side scan cost is
        // gated on file count. Callers size `buckets` so one bucket of
        // one batch ≈ one task's rows; `compactSignatureStore` handles
        // long-run accumulation across appends.
        .repartition(buckets, col("band_bucket")),
      path, signatureLayout(numHashes, rowsPerBand, buckets), batch)(_ => false)
  }

  /** The signature store's manifest 0; appends and probes state theirs. */
  private def signatureLayout(numHashes: Int, rowsPerBand: Int, buckets: Int) =
    Map("partitionBy" -> "band_bucket", "hash" -> "pmod(xxhash64(band), buckets)",
      "buckets" -> s"$buckets", "numHashes" -> s"$numHashes",
      "rowsPerBand" -> s"$rowsPerBand")

  /** Probe the on-disk signature store with a new batch: candidate
    * pairs with at least one new-batch side, among store ∪ batch —
    * `lshCandidatePairsIncremental`'s `probeJoin` with the corpus
    * side read partition-pruned from disk. The batch's distinct band
    * buckets (≤ `buckets` ints, driver-bounded by construction) gate
    * the scan via an `isin` partition filter, so the store read is a
    * strict file subset whenever the batch doesn't touch every
    * bucket (spec-asserted, the IvfSpec partition-pruning treatment).
    * An absent or empty store probes as the batch joining only itself
    * (`lshCandidatePairs`), the first tick of the streaming loop.
    * A `buckets`, `numHashes` or `rowsPerBand` other than the store's
    * throws before any Spark job runs: a probe hashed differently
    * would prune to the wrong buckets and silently miss pairs.
    * Call `appendSignatureStore` with the same batch AFTER probing —
    * probe-then-append keeps batch-internal pairs covered by the
    * `fresh × fresh` side without double-reading them from disk. */
  def probeSignatureStore(spark: org.apache.spark.sql.SparkSession,
      path: String, newSigs: DataFrame, id: String,
      numHashes: Int = 4, rowsPerBand: Int = 2, buckets: Int = 64): DataFrame = {
    graft.io.Store.expect(spark, path, signatureLayout(numHashes, rowsPerBand, buckets))
    val fresh = bandedSignatures(newSigs, id, numHashes, rowsPerBand,
      "probeSignatureStore")
    graft.io.Store.read(spark, path) match {
      case None => lshCandidatePairs(newSigs, id, numHashes, rowsPerBand)
      case Some(stored) =>
        val touched = fresh
          .select(pmod(xxhash64(col("__band")), lit(buckets.toLong))).distinct()
          .collect().map(_.getLong(0))
        probeJoin(fresh, stored
          .filter(col("band_bucket").isin(touched: _*))
          .select(col(id).as("__id"), col("band").as("__band")))
    }
  }

  /** Compact the on-disk signature store: rewrite every `band_bucket`
    * partition into (at most) one file. Append-mode writes add one
    * file per bucket per batch, so a year of daily ticks leaves 365
    * slivers per bucket and the probe's partition-pruned scan pays
    * for every one of them — open cost, not bytes, dominates a
    * sliver-heavy bucket at any scale. Hash-repartitioning on
    * `band_bucket` with one task per bucket sends ALL rows of a
    * bucket through one writer, so each partition directory comes
    * back as a single file; the rewrite is one store commit, so a
    * crashed compaction leaves the store as it was, and the layout
    * (partitioned parquet, same schema) is byte-compatible with later
    * appends and probes — GraphSpec asserts probe-equivalence
    * before/after and the ≤1-file-per-bucket bound. Run it on
    * whatever cadence keeps files-per-bucket bounded (weekly against
    * daily appends); it reads and writes the store once. */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    graft.io.Store.compact(spark, path,
      graft.io.Store.layout(spark, path).fold(1)(_("buckets").toInt))

  /** SimHash over the token multiset, `bits` wide (16 or 64). Word
    * hash = first bits/4 sha256 nibbles (nibble 1 most significant);
    * each bit votes ±1 across the document's words; bit set iff the
    * vote sum > 0. All arithmetic is small-integer exact, so the
    * fingerprint is bit-portable across engines (oracle-checkable).
    * 64-bit is the production fingerprint width (Hamming-distance
    * dedup); 16-bit keeps demo vote columns cheap. Bit 63 of a 64-bit
    * fingerprint is the sign bit — fingerprints are the signed-long
    * REINTERPRETATION of the bit pattern, same as any engine that
    * stores u64 hashes in long columns. Fused single-pass codegen
    * kernel (expr/SimHashFp — no explode, no vote-sum exchange:
    * fingerprinting is a map-only stage); bit-equivalence to the
    * original explode+agg composite below is property-pinned, and
    * the q15/q65/q86 DuckDB oracles re-derive the construction
    * independently. Requires unique ids (every caller's corpus
    * contract — the composite's groupBy would merge duplicates). */
  def simhash(df: DataFrame, id: String, text: Column,
      bits: Int = 16): DataFrame = {
    require(bits % 4 == 0 && bits >= 4 && bits <= 64,
      s"simhash: bits must be a multiple of 4 in [4,64], got $bits")
    import org.apache.spark.sql.graftshim.ColumnBridge
    df.select(col(id), ColumnBridge.column(graft.expr.SimHashFp(
        ColumnBridge.expression(text), bits)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** The original explode + chunked-conv + vote-agg form of
    * `simhash`, kept as the equivalence-spec reference model for the
    * fused kernel (PropertySpec pins fused == composite). */
  private[graft] def simhashComposite(df: DataFrame, id: String, text: Column,
      bits: Int = 16): DataFrame = {
    require(bits % 4 == 0 && bits >= 4 && bits <= 64,
      s"simhash: bits must be a multiple of 4 in [4,64], got $bits")
    val nNibs = bits / 4
    val words = df.select(col(id), explode(tokens(text)).as("__w"))
      .withColumn("__h", sha2(col("__w"), 256))
    // decode the hex prefix in ≤8-nibble chunks (one conv each, int-
    // safe: 8 hex chars < 2^32) rather than per nibble — 1 conv for
    // 16-bit, 2 for 64-bit, instead of bits/4
    val nChunks = (nNibs + 7) / 8
    val chunkLens = (0 until nChunks).map(c => math.min(8, nNibs - c * 8))
    val chunked = words.select(col(id) +: (0 until nChunks).map(c =>
      conv(substring(col("__h"), c * 8 + 1, chunkLens(c)), 16, 10)
        .cast("long").as(s"__c$c")): _*)
    // chunk 0 is most significant; bit i (0 = LSB of the whole prefix)
    // lives in the chunk whose low-side cumulative width first covers i
    val lowCum = chunkLens.scanRight(0)(_ * 4 + _) // low-side bit offset per chunk
    def bit(i: Int): Column = {
      val c = (nChunks - 1 to 0 by -1).find(c => i < lowCum(c)).get
      shiftright(col(s"__c$c"), i - lowCum(c + 1)) % 2
    }
    val votes = (0 until bits).map(i => sum(bit(i) * 2 - 1).as(s"__s$i"))
    val sh = (0 until bits).map { i =>
      val v = if (i == 63) Long.MinValue else 1L << i
      when(col(s"__s$i") > 0, lit(v)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    chunked.groupBy(col(id))
      .agg(votes.head, votes.tail: _*)
      .select(col(id), sh.cast("long").as("simhash"))
  }

  /** SimHash Hamming-distance near-duplicate pairs — the dedup join the
    * 64-bit fingerprint exists for (reference analog: the seen-set
    * dedup generalized, newscrawler.py:366-369). The fingerprint is
    * split into `nBands` contiguous chunks of bits/nBands bits; a
    * candidate pair is any two docs sharing a chunk value at the same
    * position (equi-join on (band_no, band_val) — one shuffle, no
    * O(n²)); candidates are refined by popcount(xor) <= maxHamming.
    *
    * EXACT for maxHamming < nBands by pigeonhole: a pair within
    * Hamming distance d flips bits in at most d chunks, so with
    * d < nBands at least one chunk is identical on both sides and the
    * pair lands in a bucket — recall 1.0, no tuning. The default
    * (64 bits, 4 × 16-bit bands, d <= 3) is the standard web-dedup
    * configuration (Manku et al., WWW'07). Banding is one map-side
    * posexplode (no repeated scans); the 8-byte fingerprint rides
    * along so the refine needs no join back to the corpus.
    *
    * Fingerprints from `simhash` inherit its unique-id contract:
    * duplicate ids produce per-row (not merged-token) fingerprints
    * upstream, so the pairs here would reflect each row separately —
    * dedup ids before fingerprinting if that matters. */
  def simhashHammingPairs(fps: DataFrame, id: String,
      fp: Column, bits: Int = 64, nBands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(bits % nBands == 0,
      s"simhashHammingPairs: bits=$bits not divisible by nBands=$nBands")
    val w = bits / nBands
    require(w < 64, "simhashHammingPairs: need nBands >= 2 (chunk < 64 bits)")
    require(maxHamming < nBands,
      s"simhashHammingPairs: maxHamming=$maxHamming >= nBands=$nBands " +
        "breaks the pigeonhole guarantee — pairs at that distance can " +
        "miss every bucket (silent recall loss). Raise nBands.")
    val mask = (1L << w) - 1
    val bandVals = array((0 until nBands).map(b =>
      shiftright(fp, b * w).bitwiseAND(lit(mask))): _*)
    val banded = fps.select(col(id).as("__id"), fp.as("__fp"),
      posexplode(bandVals).as(Seq("__band_no", "__band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.__band_no") === col("b.__band_no") &&
          col("a.__band_val") === col("b.__band_val") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        bit_count(col("a.__fp").bitwiseXOR(col("b.__fp")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Enforce the bounded-candidate-set contract of the O(n²) pairwise
    * operators: a mis-wired call on a raw corpus must fail fast with
    * guidance, not launch a cartesian-scale job. The count is one cheap
    * job over the (bounded) input — negligible next to the n² work it
    * gates. */
  private def requireBounded(df: DataFrame, op: String, maxCandidates: Long): Unit = {
    require(maxCandidates > 0, s"$op: maxCandidates must be positive")
    val n = df.count()
    require(n <= maxCandidates,
      s"$op: candidate set has $n rows > maxCandidates=$maxCandidates. " +
        "These pairwise operators are post-LSH refiners — bucket with " +
        "lshCandidatePairs / Similarity.withLshBucket first, or raise " +
        "maxCandidates explicitly if the O(n^2) cost is intended.")
  }

  /** Pairwise token-set Jaccard over a bounded candidate set (use LSH
    * upstream at scale; inputs larger than `maxCandidates` are
    * rejected). Exact-integer intersection/union counts; one double
    * division at the end. */
  def jaccardPairs(df: DataFrame, id: String, text: Column,
      minJaccard: Double, maxCandidates: Long = 10000L): DataFrame = {
    requireBounded(df, "jaccardPairs", maxCandidates)
    // no cache: the distinct's exchange is the subtree every reference
    // below shares (both self-join sides, both size lookups) — Spark's
    // ReusedExchange replays the shuffle files instead of recomputing,
    // with nothing pinned after the query completes
    val w = df.select(col(id).as("__id"), explode(tokens(text)).as("__word"))
      .distinct()
    val sz = w.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
    val inter = w.as("x")
      .join(w.as("y"), col("x.__word") === col("y.__word") && col("x.__id") < col("y.__id"))
      .groupBy(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"))
      .agg(count(lit(1)).as("__i"))
    val j = col("__i").cast("double") /
      (col("sa.__sz") + col("sb.__sz") - col("__i"))
    inter
      .join(sz.as("sa"), col("doc_a") === col("sa.__id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.__id"))
      .filter(j >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(j, 6).as("jaccard"))
  }

  /** Embedding near-dup pairs over a bounded candidate set: all pairs
    * with cosine >= threshold. O(n²) — gate with LSH buckets
    * (vector.Similarity) before calling this at scale; inputs larger
    * than `maxCandidates` are rejected. */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: Column,
      threshold: Double, maxCandidates: Long = 10000L): DataFrame = {
    requireBounded(df, "cosineNearDupPairs", maxCandidates)
    val a = df.select(col(id).as("id_a"), vec.as("__va"))
    val b = df.select(col(id).as("id_b"), vec.as("__vb"))
    val cos = graft.vector.Similarity.cosineSim(col("__va"), col("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cos_sim"))
  }

  /** Test hook: observes each CC round's (iteration, pre-round delta
    * size, shape — true = broadcast-delta) so a spec can assert the
    * mid-loop shuffle→broadcast flip actually occurs at a given gate
    * without env-var plumbing. None in production: one ThreadLocal
    * read per ROUND (not per row), zero cost. Thread-local (r17,
    * ADVICE): the CC loop runs on the calling thread, so a per-thread
    * slot lets concurrent suites (or a production run during a test)
    * each see only their own listener instead of clobbering a shared
    * global. */
  private[graft] val ccRoundListener:
    ThreadLocal[Option[(Int, Long, Boolean) => Unit]] =
    ThreadLocal.withInitial(() => None)

  /** Connected components over a candidate-pair graph by iterative
    * min-label propagation (hash-min) — the grouping step of
    * transitive corpus dedup (CCNet/RefinedWeb-style), with no graph
    * library: each round a node's component becomes the min over its
    * (changed) neighbors' labels AND its label's label (pointer
    * jumping — O(log diameter) convergence, so even pathological
    * duplicate chains settle in a few rounds). Labels are
    * monotonically non-increasing with label(x) <= x and always node
    * ids from the same component, so the fixpoint (no label can
    * decrease) is exactly "every label = its component's min id".
    *
    * Scale/efficiency notes:
    *  - The symmetrized edge list is `localCheckpoint`ed ONCE up
    *    front: it is re-read every iteration, and recomputing its
    *    upstream per round (often a full minhash+LSH pipeline) would
    *    dominate the loop.
    *  - The loop's edge table is checkpointed HASH-PARTITIONED AND
    *    SORTED on the probe key (`dst`): LogicalRDD carries the
    *    physical outputPartitioning/outputOrdering across a
    *    localCheckpoint, so every round's edge join is a fully
    *    colocated sort-merge join — the edge table is never
    *    re-shuffled, re-sorted, or broadcast after the one setup
    *    shuffle. (Stats-based broadcast joins are disabled inside the
    *    loop: each broadcast exchange is its own scheduled job per
    *    round, measured as ~half the CC family's job count in r8.)
    *  - INCREMENTAL rounds: a label can only decrease when a
    *    neighbor's label decreased (or its pointer target's, for the
    *    jump term), so each round joins edges against the CHANGED
    *    labels only. The delta shrinks geometrically — late rounds
    *    shuffle a handful of delta rows against the stationary edges.
    *  - BROADCAST-DELTA rounds (new r15): once the delta fits
    *    `maxBroadcastDelta` rows, the round flips to a broadcast
    *    shape — the delta is broadcast, candidate generation becomes
    *    map-side probes, and the label table's per-round exchanges
    *    drop from three-plus to the merge join's one (the r12 audit
    *    measured a ~39 k-record/round stationary floor from the
    *    node-table legs; only the bounded delta is ever broadcast —
    *    the affected-node set is not delta-bounded and is not).
    *    At 100 TB the early heavy rounds keep the shuffle shape and
    *    the convergence tail — where fixed round cost dominates —
    *    gets the cheap one. Candidate semantics are identical
    *    (delta-restricted jump legs; see the in-loop comment for the
    *    fold-invariant argument) and the union-find property pin
    *    exercises both shapes.
    *  - ONE scheduled job per iteration: the changed-row count rides
    *    the checkpoint's own materialization job via an accumulator
    *    (a transformation-side accumulator can over-count on task
    *    retry, but the convergence test is `== 0`, which retries
    *    cannot flip).
    *  - Loop shuffles are sized to the materialized edge count (and
    *    AQE paused) rather than the session default: a small graph
    *    must not pay 32-partition exchanges × AQE stage-jobs ×
    *    iterations; a 100 TB graph still gets the session ceiling.
    *  - `localCheckpoint` truncates the otherwise exponentially
    *    growing lineage, and the previous iteration's blocks are
    *    explicitly unpersisted as soon as the next table
    *    materializes — steady-state footprint is two label tables.
    * Dup clusters in real corpora are tight, so practical runs
    * converge in a handful of rounds; non-convergence within
    * `maxIterations` throws rather than silently under-merging.
    *
    * The loop temporarily overrides `spark.sql.shuffle.partitions`
    * and AQE on the SESSION (restored in a finally, including on the
    * non-convergence throw) — run it on a session not concurrently
    * planning unrelated queries, or on a cloned session.
    *
    * Returns one row per node appearing in `pairs`:
    * (node, component = min id reachable). */
  def connectedComponents(pairs: DataFrame, colA: String = "doc_a",
      colB: String = "doc_b", maxIterations: Int = 20,
      maxBroadcastDelta: Long = 250000L): DataFrame = {
    val spark = pairs.sparkSession
    // The edge count rides the checkpoint's own materialization job
    // via an accumulator instead of a second count() action — same
    // treatment as the in-loop change counter. Task retries can
    // over-count, but the count only sizes loop partitions, where an
    // over-estimate is harmless.
    val edgeAcc = spark.sparkContext.longAccumulator("cc_edges")
    val edgesRaw = pairs.select(col(colA).as("src"), col(colB).as("dst"))
      .unionByName(pairs.select(col(colB).as("src"), col(colA).as("dst")))
      .distinct()
    val edges = edgesRaw.mapPartitions { rows =>
      rows.map { r => edgeAcc.add(1L); r }
    }(org.apache.spark.sql.Encoders.row(edgesRaw.schema))
      .localCheckpoint()
    // Size the loop's shuffles to the (materialized) edge list instead
    // of the session default: iterative shuffles pay per-stage job
    // overhead every round, so a tiny graph must not run 32-partition
    // exchanges × AQE stage jobs × iterations. ~2M edges per partition
    // keeps partitions well under executor memory at any scale; the
    // session default is the ceiling. AQE is paused inside the loop —
    // partitions are already right-sized, and each AQE stage would
    // otherwise be its own scheduled job per iteration.
    val edgeCount = edgeAcc.value.longValue
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1L, math.min(defaultParts.toLong,
      edgeCount / 2000000L + 1L)).toInt
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevAutoBcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    var labels: DataFrame = null
    var edgesByDst: DataFrame = null
    // the loop's current label-table pin, hoisted so an exception path
    // (maxIterations exceeded, any in-loop failure) can release it —
    // otherwise each failed LabelStore.merge tick would permanently
    // pin an edge table + a label table in the block manager
    var checkpointed: DataFrame = null
    var ok = false
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", loopParts)
      // Inside the loop every join is a shuffle join ON PURPOSE: the
      // edge side below is checkpointed pre-partitioned AND pre-sorted
      // on the join key, so the per-round sort-merge join is fully
      // colocated (zero exchange, zero sort on the edge side) and the
      // delta side shuffles only its own — shrinking — rows. A
      // stats-chosen broadcast join would be no faster here and costs
      // a dedicated broadcast-exchange job per round: per-job driver
      // latency × iterations is exactly what the CC family pays for
      // on a real cluster (r8 profiling: ~half this family's jobs
      // were per-round broadcast exchanges).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // The loop's edge table: re-checkpointed hash-partitioned by the
      // probe key `dst` and sorted within partitions. LogicalRDD
      // carries the physical plan's outputPartitioning/outputOrdering
      // across a localCheckpoint, so every round's edge⋈delta join
      // reuses this ONE shuffle+sort for all iterations.
      edgesByDst = edges.repartition(loopParts, col("dst"))
        .sortWithinPartitions(col("dst"))
        .localCheckpoint()
      Pinned.free(edges)
      // initialization already IS the first hash-min round: label(x) =
      // min(x, min neighbor) from one groupBy over the checkpointed
      // edges — same single shuffle a distinct-nodes init would cost,
      // one fewer loop iteration. The node count rides the checkpoint
      // job via an accumulator (it gates the round-1 broadcast path).
      // Task retries/speculation can only OVER-count it, which at
      // worst pushes round 1 past the gate onto the shuffle shape —
      // a forgone optimization, never a correctness risk (the same
      // caveat as the edge-count accumulator above).
      val nodeAcc = spark.sparkContext.longAccumulator("cc_nodes")
      val initRaw = edgesByDst.groupBy(col("src"))
        .agg(min(col("dst")).as("__m"))
        .select(col("src").as("node"),
          least(col("src"), col("__m")).as("component"))
      checkpointed = initRaw.mapPartitions { rows =>
        rows.map { r => nodeAcc.add(1L); r }
      }(org.apache.spark.sql.Encoders.row(initRaw.schema))
        .localCheckpoint()
      labels = checkpointed
      // Incremental (delta) propagation: a label can only decrease
      // when a neighbor's label decreased, or when its component
      // target's label decreased (pointer jump). So each round joins
      // against the CHANGED labels only — the delta shrinks
      // geometrically, and the edge side never moves (colocated on
      // the checkpoint's partitioning), so late rounds shuffle only a
      // handful of delta rows. Round 1's delta is the full label
      // table (everything "changed" at initialization), which
      // reproduces the classic full hash-min round.
      var delta = labels
      // round 1's delta is the whole init table — gate its path by the
      // node count the init checkpoint just accumulated
      var prevChanged = nodeAcc.value.longValue
      var iter = 0
      var done = false
      while (!done) {
        iter += 1
        require(iter <= maxIterations,
          s"connectedComponents: no fixpoint after $maxIterations iterations " +
            "— raise maxIterations (component diameter exceeds 2^n bound)")
        // Two round shapes, same candidate semantics, chosen by the
        // delta size the previous round measured:
        //
        // BROADCAST round (delta <= maxBroadcastDelta rows): the delta
        // is broadcast once and CANDIDATE GENERATION becomes map-side
        // probes — the edge leg and both jump legs stop shuffling the
        // label table. The jump splits into its two delta-restricted
        // legs (x's label just changed → look up label(new target);
        // target's label just changed → push it to everyone pointing
        // there): a candidate with BOTH sides unchanged is identical
        // to one already folded in an earlier round, and labels are
        // monotone non-increasing, so re-generating it cannot improve
        // anything (the same argument the edge leg's delta restriction
        // has always used). The merged label = least(current, min
        // candidate) via a keyed left join (see the merge comment for
        // why cands must not broadcast); every node keeps its row,
        // __prev comes straight from the current table. Convergence
        // detection is unchanged: if a round reports 0 changes, every
        // candidate either regenerated a folded value or was provably
        // unable to improve, so the full round would also report 0 —
        // the fixpoint is the same.
        //
        // SHUFFLE round (big delta, the 100 TB early rounds): the
        // original full-jump + union + groupBy shape — no driver-side
        // collect of an unbounded delta, all heavy lifting in keyed
        // exchanges. (A label⁴ variant — composing the jump with
        // itself once more per round — was measured here: it saved
        // only one round on the sf0.1 graph while its extra
        // node-table joins doubled the steady-state wall. Reverted.)
        //
        // Tail rounds (a handful of changed rows) are where the fixed
        // per-round cost lived — the r12 audit measured a ~0.22 MB /
        // 39 k-record floor per round from the stationary node-table
        // legs; the broadcast shape removes exactly that floor.
        ccRoundListener.get.foreach(
          _(iter, prevChanged, prevChanged <= maxBroadcastDelta))
        val computed = if (prevChanged <= maxBroadcastDelta) {
          val bd = broadcast(delta)
          val viaEdges = edgesByDst.as("e")
            .join(bd.as("dd"), col("e.dst") === col("dd.node"))
            .select(col("e.src").as("node"), col("dd.component").as("__cand"))
          val jump1 = bd.as("x")
            .join(labels.as("y"), col("x.component") === col("y.node"))
            .select(col("x.node").as("node"), col("y.component").as("__cand"))
          // round 1 has delta == labels, making jump2 the identical
          // join to jump1 — skip the redundant second probe of the
          // heaviest broadcast round
          val jumps =
            if (delta eq labels) Seq(jump1)
            else Seq(jump1, labels.as("x")
              .join(bd.as("y"), col("x.component") === col("y.node"))
              .select(col("x.node").as("node"), col("y.component").as("__cand")))
          val cands = (viaEdges +: jumps).reduce(_ unionByName _)
            .groupBy(col("node")).agg(min(col("__cand")).as("__cand"))
          // The merge stays a KEYED join, not a broadcast: `cands` is
          // one row per AFFECTED node — neighbors of the delta plus
          // every node pointing at a changed label — which the delta
          // gate does NOT bound (one relabeled mega-component root =
          // component-sized cands). Only the bounded delta broadcasts;
          // cands (usually tiny) and the label table take one exchange
          // each — still three full-table exchanges fewer per round
          // than the shuffle shape.
          labels.join(cands, Seq("node"), "left")
            .select(col("node"),
              least(col("component"), coalesce(col("__cand"), col("component")))
                .as("component"),
              col("component").as("__prev"))
        } else {
          val viaEdges = edgesByDst.as("e")
            .join(delta.as("dd"), col("e.dst") === col("dd.node"))
            .select(col("e.src").as("node"), col("dd.component").as("__cand"))
          // full pointer jump (label ∘ label) over the WHOLE label
          // table — compounds 2^t reach, keeps convergence
          // logarithmic in component diameter
          val viaJump = labels.as("x")
            .join(labels.as("y"), col("x.component") === col("y.node"))
            .select(col("x.node").as("node"), col("y.component").as("__cand"))
          // the node's CURRENT label rides the same aggregation as a
          // flagged candidate — min over {edge cands, jump cands,
          // self} is the new label, and the flagged row recovers the
          // previous one. Every node has its self row, so no node can
          // drop out of the label table.
          val viaSelf = labels
            .select(col("node"), col("component").as("__cand"))
          viaEdges.withColumn("__self", lit(0))
            .unionByName(viaJump.withColumn("__self", lit(0)))
            .unionByName(viaSelf.withColumn("__self", lit(1)))
            .groupBy(col("node"))
            .agg(min(col("__cand")).as("component"),
              max(when(col("__self") === 1, col("__cand"))).as("__prev"))
        }
        val changed = spark.sparkContext.longAccumulator("cc_changed")
        val counted = computed.mapPartitions { rows =>
          rows.map { r => if (r.get(1) != r.get(2)) changed.add(1L); r }
        }(org.apache.spark.sql.Encoders.row(computed.schema))
        val next = counted.localCheckpoint() // eager: one job, fills `changed`
        Pinned.free(checkpointed)
        checkpointed = next
        labels = next.select(col("node"), col("component"))
        delta = next.filter(col("component") =!= col("__prev"))
          .select(col("node"), col("component"))
        prevChanged = changed.value
        done = prevChanged == 0L
      }
      ok = true
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", defaultParts)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAutoBcast)
      // success frees the edge table only (the final label pin backs
      // the returned frame — its consumer releases it, the 4dd2f81
      // discipline); failure must free everything still pinned.
      // Pinned.free is unpersist-based, so re-freeing `edges`
      // after the in-try free is a harmless no-op.
      if (ok) Pinned.free(edgesByDst)
      else Seq(edges, edgesByDst, checkpointed).filter(_ != null)
        .foreach(Pinned.free)
    }
    Pinned.track(labels)
  }

  /** Apply component labels as the dedup decision, keeping the row
    * that maximizes `keepBy` within each labeled component (large
    * corpus runs often keep the longest or highest-quality doc); ties
    * break to the smaller id so the survivor is deterministic. Rows
    * absent from the labels are their own singleton component and
    * always survive. `keepBy = -col(id)` keeps each component's
    * min-id member present in `df`.
    *
    * The labels are either one-shot — `connectedComponents(pairs)`,
    * transitive corpus dedup (CCNet/RefinedWeb-style): one survivor per
    * duplicate CLUSTER — or PERSISTED (`LabelStore.read`), the
    * streaming loop's decision view: no pair replay, no CC run (the
    * labels already encode every merge ever folded in). One
    * per-component window (window state = component members — small,
    * components are dup clusters). */
  def dropNearDuplicatesFromLabelsBy(df: DataFrame, id: String,
      labels: DataFrame, keepBy: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = labels.withColumnRenamed("node", id)
    val w = Window
      .partitionBy(coalesce(col("component"), col(id)))
      .orderBy(keepBy.desc, col(id).asc)
    df.join(cc, Seq(id), "left")
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1)
      .drop("__rank", "component")
  }

  /** 64-bit keys of every stride-1 window of `n` tokens, WITHOUT
    * materializing the window strings: xxhash64 chains its arguments
    * (each token hashed with the previous result as seed), so hashing
    * the n token slots directly replaces building an O(n·token)
    * string per position and hashing that (r22; guide §4 — the
    * window-string construction was the q68/q77 hot projection).
    * Key equality semantics are unchanged up to 64-bit collisions:
    * identical token windows hash identically; two DISTINCT windows
    * colliding needs a 64-bit collision — the same accepted trade as
    * the old xxhash64(concat_ws(" ", window)) keys (tokens contain no
    * whitespace, so the separator carried no extra information). */
  private def hashedWindows(wcol: Column, n: Int): Column =
    transform(sequence(lit(0), size(wcol) - lit(n)), i =>
      xxhash64((0 until n).map(k => element_at(wcol, i + lit(k + 1))): _*))

  /** The repeated-window pass shared by `repeatedWindows` and
    * `removeRepeatedWindows`: over (id, __w token array) rows with at
    * least `w` tokens, every stride-1 window occurrence (id, __pos,
    * __wk = 64-bit window key) whose key occurs in >= 2 DISTINCT
    * documents — posexplode, countDistinct gate, membership join. */
  private def repeatedWindowHits(toks: DataFrame, id: String,
      w: Int): DataFrame = {
    val wins = toks.filter(size(col("__w")) >= w)
      .select(col(id), posexplode(hashedWindows(col("__w"), w))
        .as(Seq("__pos", "__wk")))
    val rep = wins.groupBy(col("__wk"))
      .agg(countDistinct(col(id)).as("__docs"))
      .filter(col("__docs") >= 2)
      .select(col("__wk"))
    wins.join(rep, Seq("__wk"))
  }

  /** Cross-document repeated token-window report — the diagnostic
    * behind exact-substring dedup (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): for every stride-1
    * window of `w` tokens whose exact text occurs in MORE THAN ONE
    * document, report per doc how many of its windows are such
    * cross-doc repeats and where the first one starts. Within-doc
    * repetition alone does not count (that is `TextAnalysis.
    * dupTokenFrac` territory); the doc-frequency test is
    * countDistinct.
    *
    * Scale shape: windows explode to ~tokens-per-doc rows per doc (the
    * honest cost of stride-1 window hashing — what distributed
    * exact-substring dedup pays before suffix-automaton tricks); each
    * window string is collapsed to a 64-bit xxhash64 key IN THE SAME
    * PROJECTION as the explode, so no exchange ever carries window
    * text — the doc-frequency agg combines map-side on 8-byte keys
    * (~8× less shuffle volume than shipping the w-token strings);
    * only keys with docFreq >= 2 survive into the membership join
    * (big ⋈ small); the per-doc rollup is one hash agg. A key
    * collision needs two DISTINCT window strings sharing a 64-bit
    * hash: at 10^12 distinct windows the expected count is
    * ~N²/2^65 ≈ 3·10^4 windows mislabeled "repeated" out of 10^12 —
    * the same accepted trade as `bigramNovelty`'s hashed keys.
    * Returns (id, n_rep, first_pos), docs with no repeats omitted. */
  def repeatedWindows(df: DataFrame, id: String, text: Column,
      w: Int = 8): DataFrame = {
    require(w >= 2, "repeatedWindows: w must be >= 2")
    // widen once: the window kernel feeds both the doc-frequency agg
    // and the membership join side (guide §2.5 — see Par)
    repeatedWindowHits(Par.widen(df).select(col(id), tokens(text).as("__w")),
        id, w)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_rep"),
        min(col("__pos")).cast("long").as("first_pos"))
  }

  /** Cross-document exact-substring REMOVAL — the dedup step that
    * `repeatedWindows` diagnoses (Lee et al. 2022): every token whose
    * position is covered by a stride-1 window of `w` tokens occurring
    * in >= 2 DISTINCT documents is removed; each document is rebuilt
    * from its surviving tokens in order. Documents shorter than `w`
    * tokens (no windows) are untouched. Returns (id, clean_text,
    * n_removed) for every input row — a fully-deduped doc comes back
    * as "" with its token count removed, mirroring
    * `TextAnalysis.removeBoilerplateLines`.
    *
    * Scale shape: window strings collapse to 64-bit xxhash64 keys in
    * the explode projection itself (same repair as `repeatedWindows`
    * — no exchange carries window text; collision math there), the
    * window-frequency agg map-side-combines on 8-byte keys, and only
    * keys above the doc-frequency gate enter the membership join
    * (big ⋈ small); coverage expansion is a narrow explode of `w`
    * positions per repeated window; the rebuild is one hash agg per
    * doc with an array_sort bounded by per-doc token counts. No
    * UDFs. A hash collision removes one innocent w-token window —
    * acceptable for dedup (Lee et al. likewise hash windows). */
  def removeRepeatedWindows(df: DataFrame, id: String, text: Column,
      w: Int = 8): DataFrame = {
    require(w >= 2, "removeRepeatedWindows: w must be >= 2")
    // the tokenize + window-build kernels are evaluated on three
    // branches (token explode, window explode, final length probe) —
    // widen once so all three run at session parallelism (guide §2.5)
    val src = Par.widen(df)
    val toks = src.select(col(id), tokens(text).as("__w"))
    val tok = toks.select(col(id),
      posexplode(col("__w")).as(Seq("__p", "__t")))
    val covered = repeatedWindowHits(toks, id, w)
      .select(col(id),
        explode(sequence(col("__pos"), col("__pos") + lit(w - 1))).as("__p"))
      .distinct()
    val kept = tok.join(covered, Seq(id, "__p"), "left_anti")
      .groupBy(col(id))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__p"), col("__t")))),
          s => s.getField("__t"))).as("clean_text"),
        count(lit(1)).as("__kept"))
    src.select(col(id), size(tokens(text)).cast("long").as("__n"))
      .join(kept, Seq(id), "left")
      .select(col(id), coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Demo/test helper: append truncated copies of each row (guaranteed
    * near-duplicates) with offset ids. */
  def withMutatedCopies(df: DataFrame, id: String, text: String,
      offset: Long = 1000000L, dropChars: Int = 20): DataFrame =
    df.select(col(id), col(text)).unionByName(
      df.select((col(id) + offset).as(id),
        col(text).substr(lit(1), greatest(length(col(text)) - dropChars, lit(1))).as(text)))
}
