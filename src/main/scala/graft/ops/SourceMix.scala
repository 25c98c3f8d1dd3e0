package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-mix management — the source/domain-level operations a
  * pre-training data pipeline runs after per-document filtering:
  * per-source statistics, domain-level quality gating (drop whole
  * sources whose aggregate stats fail — the RefinedWeb/C4 "bad
  * domain" pass), and deterministic weighted resampling (up/down-
  * sample each source to its target mixture weight, the DoReMi-style
  * mixing step that turns a raw crawl into a training mix).
  *
  * Everything is hash-deterministic (no `rand()`): reruns, backfills
  * and engine migrations reproduce the same mix bit-for-bit, which is
  * what makes training data auditable.
  */
object SourceMix {

  /** Per-source report: doc count, exact mean of `metric`, and corpus
    * share. One map-side-combining aggregation; the share join is a
    * broadcast of a single total row. */
  def sourceStats(df: DataFrame, source: Column, metric: Column): DataFrame = {
    val stats = df.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"), avg(metric).as("avg_metric"))
    val total = stats.agg(sum(col("n_docs")).as("__tot"))
    stats.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"),
        round(col("avg_metric"), 4).as("avg_metric"),
        round(col("n_docs") / col("__tot"), 6).as("share"))
  }

  /** Domain-level gate: keep only documents whose SOURCE passes the
    * aggregate thresholds (enough documents AND a high enough mean
    * metric). The gate relation is one row per source — tiny — so the
    * membership join broadcasts; the document stream is filtered at
    * scan speed with one aggregation shuffle over (source) partials. */
  def filterBySourceQuality(df: DataFrame, source: String, metric: Column,
      minDocs: Long, minAvgMetric: Double): DataFrame = {
    val ok = df.groupBy(col(source))
      .agg(count(lit(1)).as("__n"), avg(metric).as("__avg"))
      .filter(col("__n") >= minDocs && col("__avg") >= minAvgMetric)
      .select(col(source))
    df.join(broadcast(ok), Seq(source), "left_semi")
  }

  /** Per-group percentile band filter: keep rows whose `order` value
    * sits inside [lo, hi] of their GROUP's distribution by
    * percent_rank — the per-source outlier trim (drop each domain's
    * freakishly short/long documents without imposing one global
    * cutoff, since length distributions differ per source).
    * percent_rank = (rank-1)/(n-1) is exact integer arithmetic over
    * one division, so the band reproduces across engines; ties share
    * a rank and are kept or dropped together. One shuffle (the
    * per-group window); group cardinality bounds the window state. */
  def filterByGroupPercentile(df: DataFrame, group: Column, order: Column,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi,
      "filterByGroupPercentile: need 0 <= lo <= hi <= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group).orderBy(order.asc)
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") >= lo && col("__pr") <= hi)
      .drop("__pr")
  }

  /** Deterministic weighted resampling: each row is emitted
    * floor(weight) times, plus one more for the hash-chosen fraction
    * of rows that lands under frac(weight) — so a source with weight
    * 2.5 contributes every doc twice and half its docs (stable halves,
    * chosen by sha256 of the key) a third time, and weight 0.25 keeps
    * a deterministic quarter. Output gains a `copy` index (0-based):
    * downstream shuffles/splits treat replicas as distinct rows.
    *
    * Pure narrow ops — a hash, an arithmetic repeat count, and one
    * explode; no shuffle at all. Expected output size = Σ weight(row),
    * independent of partitioning. */
  def resampleByWeight(df: DataFrame, key: Column, weight: Column,
      copyCol: String = "copy"): DataFrame = {
    // SALTED hash: the unsalted bucket is the same one splitLabel
    // uses, so "resample half" on the same key
    // would keep exactly a hash-space prefix — 100% of one split and
    // 0% of another — instead of halving each (the gumbelTopK salt
    // rationale)
    val nCopies = (floor(weight).cast("long") +
      when(Sampling.hashBucket(concat(key.cast("string"), lit(":resample")))
          < floor((weight - floor(weight)) * 65536)
        .cast("long"), 1L).otherwise(0L)).as("__n")
    df.withColumn("__n", nCopies)
      .filter(col("__n") > 0)
      .withColumn(copyCol, explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /** Temperature-scaled multinomial source weights (the mBERT/XLM
    * exponentiated-smoothing rule, Devlin et al. 2019 / Conneau &
    * Lample 2019): sampling probability q_s ∝ p_s^alpha where p_s is
    * the source's corpus share. alpha = 1 keeps the natural mix,
    * alpha → 0 approaches uniform — the standard way to up-sample
    * small high-value sources without hand-tuned weights. Emits per
    * source: count, natural share p, scaled share q, the multiplier
    * q/p to feed `resampleByWeight`, and the expected doc count under
    * the scaled mix.
    *
    * Identity used: q_s = p_s^a / Σ p^a = n_s^a / Σ n^a (the N^-a
    * cancels), so one groupBy + one broadcast one-row totals join —
    * no second pass over the data. */
  def temperatureWeights(df: DataFrame, source: Column,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val counts = df.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(sum("n_docs").as("__N"),
      sum(pow(col("n_docs").cast("double"), alpha)).as("__S"))
    val p = col("n_docs") / col("__N")
    val q = pow(col("n_docs").cast("double"), alpha) / col("__S")
    counts.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        round(p, 6).as("p_natural"),
        round(q, 6).as("q_scaled"),
        round(q / p, 6).as("weight"),
        round(q * col("__N"), 6).as("expected_docs"))
  }

  /** Per-source KL divergence D(P_source ‖ P_corpus) over the unigram
    * distribution, add-one smoothed on the shared corpus vocabulary —
    * the mixing diagnostic that tells you how far each source's
    * language drifts from the blend you are training on. A source with
    * near-zero KL is redundant with the mix; a high-KL source is the
    * one whose up/down-weighting (`resampleByWeight`) actually moves
    * the mixture, and a sudden KL jump on a recurring crawl is the
    * domain-shift alarm. Smoothing puts both distributions on the full
    * corpus vocabulary so every log ratio is finite:
    * p_s(w) = (c_s(w)+1)/(n_s+V),  q(w) = (c(w)+1)/(n+V).
    *
    * Output: (source, n_tokens, kl) rounded to 6, one row per source.
    *
    * Scale shape: the naive full-support sum is a vocab × sources
    * grid (every source must pay smoothing mass on every absent
    * word), but the absent-word term collapses analytically — with
    * p₀ = 1/(n_s+V) constant per source,
    *   Σ_absent p₀·ln(p₀/q_w) = p₀·[(V−V_s)·ln p₀ − (S_all − S_s)]
    * where S_all = Σ_vocab ln q_w is one global scalar and
    * S_s = Σ_present ln q_w a per-source aggregate — so the op only
    * ever touches (source, word) pairs that actually occur. Token
    * counts are map-side-combining hash aggs; the one join is
    * per-source counts ⋈ corpus counts keyed on the word (carries
    * 8-byte counts, never text); grand totals broadcast as one row.
    * Agrees with the literal grid to ~1e-15 relative (same doubles,
    * regrouped), far inside the 6dp rounding. */
  def klDivergence(df: DataFrame, source: Column, text: Column): DataFrame = {
    val toks = df.select(source.as("source"),
        explode(NearDup.tokens(text)).as("__wd"))
      .filter(col("__wd") =!= "")
    val perSource = toks.groupBy(col("source"), col("__wd"))
      .agg(count(lit(1)).as("__c"))
    val corpus = perSource.groupBy(col("__wd")).agg(sum("__c").as("__cw"))
    // one row: total tokens, vocab size, and Σ ln(cw+1) (S_all's raw sum)
    val grand = corpus.agg(sum("__cw").as("__nt"), count(lit(1)).as("__v"),
      sum(log(col("__cw") + 1)).as("__slc"))
    val perSrc = perSource.join(corpus, Seq("__wd"))
      .groupBy(col("source"))
      .agg(sum("__c").as("__n"), count(lit(1)).as("__vs"),
        sum((col("__c") + 1) * (log(col("__c") + 1) - log(col("__cw") + 1)))
          .as("__a"),
        sum(log(col("__cw") + 1)).as("__sc"))
    val bigL = log(col("__nt") + col("__v"))   // ln(n+V)
    val srcL = log(col("__n") + col("__v"))    // ln(n_s+V) = −ln p₀
    val present = (col("__a") +
      (col("__n") + col("__vs")) * (bigL - srcL)) / (col("__n") + col("__v"))
    val sAll = col("__slc") - col("__v") * bigL
    val sSrc = col("__sc") - col("__vs") * bigL
    val absent = ((col("__v") - col("__vs")) * -srcL - (sAll - sSrc)) /
      (col("__n") + col("__v"))
    perSrc.crossJoin(broadcast(grand))
      .select(col("source"), col("__n").as("n_tokens"),
        round(present + absent, 6).as("kl"))
  }
}
