package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.{Functions, RollingHash}

/** Text analysis for training-data pipelines: language ID (stopword
  * n-gram heuristic), quality scoring, token counting, document
  * fingerprinting. All pure Column expressions — codegen'd, pushed
  * into the scan stage, zero UDFs — so they run at parquet-scan speed
  * on 100 TB and stay DuckDB-oracle checkable.
  */
object TextAnalysis {

  import NearDup.tokens

  /** Tiny per-language stopword profiles (heuristic language ID — the
    * real-corpus analog ships bigger profiles through the same path). */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "zu"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish token count: letter runs / digit runs / single symbols. */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0))).cast("long")

  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(words: _*))).cast("long")

  /** Predicted language = argmax of profile hits (ties resolve in
    * profile order; zero hits everywhere → "unknown"). */
  def langId(text: Column): Column = {
    val hits = stopwordProfiles.map { case (l, ws) => l -> stopwordHits(text, ws) }
    val Seq(en, es, de) = hits.map(_._2)
    when(en >= es && en >= de && en > 0, lit("en"))
      .when(es >= de && es > 0, lit("es"))
      .when(de > 0, lit("de"))
      .otherwise(lit("unknown"))
  }

  /** Language-ID gate — the CCNet front door (fastText langid before
    * perplexity in the published pipeline; here the deterministic
    * stopword-profile argmax): keep rows whose predicted language is
    * in `keep`. Pure map-only expression — slots between C4 and the
    * Gopher gate in the pretrain funnel (q178) without a shuffle. */
  def langIdGate(df: org.apache.spark.sql.DataFrame, text: Column,
      keep: Seq[String]): org.apache.spark.sql.DataFrame =
    df.filter(langId(text).isin(keep: _*))

  /** Punctuation/symbol count. */
  private[graft] def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Non-whitespace character count. */
  private[graft] def charCountNoWs(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("long")

  /** Quality bucket from token count + stopword evidence (the
    * reference's min-length gate newscrawler.py:382 generalized). */
  def qualityBucket(nTokens: Column, stopHits: Column): Column =
    when(nTokens >= 30 && stopHits > 0, lit("good"))
      .when(nTokens >= 10, lit("fair"))
      .otherwise(lit("poor"))

  /** Content fingerprint: sha16 of normalized text (batch id). */
  def fingerprintSha(text: Column): Column =
    Functions.sha16(Functions.normText(text))

  /** Rolling-hash fingerprint (codegen Catalyst expression). */
  def rollingHash(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(RollingHash(ColumnBridge.expression(text)))
  }

  /** PII patterns, ordered so more-specific shapes fire first (SSN
    * before phone). RE2-safe (no lookaround) so the same patterns run
    * in Java regex, DuckDB, and any RE2-based engine identically. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b" -> "<IP>")

  /** PII scrub: replace emails / SSNs / phones / IPv4s with typed
    * placeholder tokens — the standard pre-training redaction pass.
    * A chain of codegen'd regexp_replace calls, scan-stage speed.
    * For order-disciplined per-class counts and the per-source scrub
    * report, see `ops.Redact` (q128/q131) — same family, shared email
    * pattern; this four-class variant is q61's contract. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Count of PII matches per class (triage/reporting side). */
  def piiCounts(text: Column): Column =
    struct(
      size(regexp_extract_all(text, lit(piiPatterns(0)._1), lit(0))).cast("long").as("emails"),
      size(regexp_extract_all(text, lit(piiPatterns(1)._1), lit(0))).cast("long").as("ssns"),
      size(regexp_extract_all(text, lit(piiPatterns(2)._1), lit(0))).cast("long").as("phones"),
      size(regexp_extract_all(text, lit(piiPatterns(3)._1), lit(0))).cast("long").as("ips"))

  /** Mojibake digraphs: the classic UTF-8-decoded-as-Latin-1 residue
    * (A-tilde+copyright for e-acute, a-circumflex+euro+TM for the
    * right single quote, ...). Literal alternation — identical under
    * Java regex and RE2/DuckDB, so the report is oracle-checkable.
    * Spelled in \u escapes: the source stays ASCII, immune to the
    * compiler's platform charset. */
  val MojibakeRe: String =
    "\\u00C3\\u00A9|\\u00C3\\u00A8|\\u00C3\\u00A4|\\u00C3\\u00BC|\\u00C3\\u00B1|" +
      "\\u00E2\\u20AC\\u2122|\\u00E2\\u20AC\\u0153"

  /** Per-source encoding-damage report: U+FFFD replacement characters
    * (a decoder already gave up) and mojibake digraphs (a decoder
    * silently used the wrong charset) — the corpus-health table that
    * catches a broken ingest path before any token-level gate would
    * (mojibake tokens look like rare-but-valid vocabulary to
    * frequency features). FFFD counting is regex-free (length delta
    * under replace) — exact and cheap on both engines.
    *
    * Scale: pure per-row projection + one map-side-combining rollup,
    * the `Redact.piiReport` shape. */
  def encodingDamageReport(df: org.apache.spark.sql.DataFrame,
      source: Column, text: Column, roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    val fffd = (length(text) - length(regexp_replace(text, "\\uFFFD", "")))
      .cast("long")
    val moji = regexp_count(text, lit(MojibakeRe)).cast("long")
    df.select(source.as("source"), fffd.as("__f"), moji.as("__m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__f") > 0, 1L).otherwise(0L)).as("docs_fffd"),
        sum(when(col("__m") > 0, 1L).otherwise(0L)).as("docs_mojibake"),
        sum(when(col("__f") > 0 || col("__m") > 0, 1L).otherwise(0L))
          .as("docs_damaged"),
        sum(col("__f")).as("n_fffd"),
        sum(col("__m")).as("n_mojibake"))
      .select(col("source"), col("n_docs"), col("docs_fffd"),
        col("docs_mojibake"), col("docs_damaged"), col("n_fffd"),
        col("n_mojibake"),
        round(lit(1.0) - col("docs_damaged").cast("double") / col("n_docs"),
          roundTo).as("clean_rate"))
  }

  /** Gopher-style repetition metrics: duplicate-token fraction and
    * duplicate-bigram fraction (1 − distinct/total; 0 for degenerate
    * inputs). High values flag boilerplate/spam for quality filters.
    *
    * Both take a MATERIALIZED token-array column (`.withColumn("__w",
    * tokens(text))` first) — never pass `tokens(text)` inline: an
    * array-producing expression inlined into the shingle lambda
    * re-evaluates per element access (O(n²) regex splits per row; this
    * exact mistake made the repetition query 15× slower). */
  private[graft] def dupTokenFrac(w: Column): Column =
    when(size(w) <= 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(w)) / size(w).cast("double"))

  private[graft] def dupBigramFrac(w: Column): Column = {
    val g = NearDup.shinglesFromTokens(w, 2)
    // guard on the TOKEN count (CaseWhen is lazy per row): under 2
    // tokens the shingle sequence(0, size-2) would be degenerate —
    // never evaluate it
    when(size(w) < 2, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g)) / size(g).cast("double"))
  }

  /** Fused fast path for BOTH repetition fractions straight from the
    * text (expr/RepetitionStats — one string pass, no token-array or
    * shingle materialization): struct(dup_tok_frac, dup_bigram_frac).
    * Use when computing the pair per row (q62); the array combinators
    * above remain the reference model (PropertySpec pins fused ==
    * composite) and serve callers that already hold a token array. */
  def repetitionStats(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      graft.expr.RepetitionStats(ColumnBridge.expression(text)))
  }

  /** Fused fast path: all four text statistics in one string pass (a
    * struct of n_tokens/char_nws/punct_n/stop_hits) — use instead of
    * the individual combinators when computing several stats per row;
    * equivalence with the composites is spec-asserted. */
  def textStats(text: Column,
      stopwords: Seq[String] = stopwordProfiles.head._2): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      graft.expr.TextStats(ColumnBridge.expression(text), stopwords))
  }

  /** Unicode NFC normalization (native codegen expression — see
    * `expr.NfcNormalize`): canonical-compose combining marks so
    * byte-level dedup/shingling/tokenization see one form per
    * grapheme. */
  def nfcNormalize(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.expr.NfcNormalize(ColumnBridge.expression(text)))
  }

  /** Per-document top-k TF-IDF terms — the classic salient-term
    * extractor (corpus triage, topic drift monitoring, tokenizer
    * vocabulary prep). score = tf · ln(N/df) with N = documents
    * holding >= 1 token; ranking and ties use the ROUNDED score (6
    * decimals) then the term, so the ranking is reproducible across
    * engines (mathematically equal scores computed via different
    * ln roundings must not flip ranks).
    *
    * Scale shape: tf and df are both map-side-combining hash aggs off
    * one explode; N broadcasts as a single row; the per-doc top-k
    * window partitions by doc id — state bounded by per-doc distinct
    * terms, never the corpus vocabulary. */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "tfidfTopTerms: k must be >= 1")
    val toks = df.select(col(id), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
    val n = toks.agg(countDistinct(col(id)).as("__N"))
    val tf = toks.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("__N") / col("df")), 6))
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(id), col("rank"), col("term"), col("score"))
  }

  /** Corpus vocabulary coverage: the top-k tokens by frequency with
    * rank, count, and CUMULATIVE corpus share — the head-coverage
    * curve a tokenizer-training / stopword-selection pass reads first.
    * The frequency table is one map-side-combining agg; top-k is a
    * TakeOrdered (per-partition k-heap, no global sort of the
    * vocabulary); only the k survivors enter the single-partition
    * cumulative window, and the grand total broadcasts as one row. */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, text: Column,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "vocabCoverage: k must be >= 1")
    val freq = df.select(explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = freq.agg(sum(col("n")).as("__tot"))
    val top = freq.orderBy(col("n").desc, col("term").asc).limit(k)
    // Both windows below emit Spark's "No Partition Defined for Window"
    // warning by design: they run over `top` = limit(k) rows (PlanSpec
    // pins the boundedness)
    val w = Window.orderBy(col("n").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("term").asc)))
      .select(col("rank"), col("term"), col("n"),
        round(sum(col("n")).over(w) / col("__tot"), 6).as("cum_share"))
  }

  /** Per-document mean unigram negative log-likelihood under the
    * corpus's OWN unigram distribution — the cheap in-engine analog of
    * CCNet's LM-perplexity quality filter: documents of common, well-
    * distributed words score low; rare-token soup (mojibake, code
    * dumps, exotic boilerplate) scores high. No external LM — the
    * "model" is one aggregation over the corpus being scored.
    * Output: (id, n_tokens, avg_logprob), avg_logprob rounded to 6.
    *
    * Scale shape: the frequency table is one map-side-combining agg;
    * the token stream joins it on the term (vocab-sized build side,
    * AQE-broadcast when small); the grand total broadcasts as one
    * row; the per-doc score is a second hash agg. */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(id), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("__n"))
    val total = freq.agg(sum(col("__n")).as("__tot"))
    toks.join(freq, Seq("term")).crossJoin(broadcast(total))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("__n") / col("__tot"))), 6).as("avg_logprob"))
  }

  /** Bigram language-model scoring with Stupid Backoff (Brants et al.
    * 2007): train counts on `corpus`, score every `score` document as
    * the mean log-score of its adjacent token pairs. Seen bigram →
    * ln(c(w1 w2)/c(w1)); unseen → ln(0.4 · (c(w2)+1)/(N+V)) — the
    * backoff unigram is add-one smoothed so out-of-vocabulary words
    * stay finite. The bigram refinement of `unigramLogProb`: docs
    * whose word ORDER is unlike the training corpus (shuffled text,
    * template spam with novel transitions) score low even when their
    * unigram mix looks fine. Output: (id, n_pairs, avg_logprob)
    * rounded to 6, one row per scored doc with >= 2 NON-EMPTY tokens.
    * Empty-string tokens (a leading tab/newline survives `trim`,
    * which strips spaces only) are dropped BEFORE pairing, mirroring
    * the unigram filter — otherwise a pair with w1='' carries a NULL
    * log-prob that silently vanishes from the average while still
    * counting in n_pairs.
    *
    * Scale shape: pair construction is a map-side array transform
    * (no window, no self-join); the bigram/unigram count tables are
    * map-side-combining aggs over the corpus only; the pair stream
    * meets them in joins whose build side is vocab-sized (AQE
    * broadcasts at these cardinalities, sort-merge at web scale);
    * corpus totals broadcast as one row. */
  def bigramLogProb(score: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col(id),
          filter(tokens(text), w => w =!= "").as("__ws"))
        .filter(size(col("__ws")) >= 2)
        .select(col(id), explode(expr(
          "transform(sequence(0, size(__ws)-2)," +
            " i -> struct(__ws[i] AS w1, __ws[i+1] AS w2))")).as("__p"))
        .select(col(id), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val bi = pairs(corpus).groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__bi"))
    val uni = corpus.select(explode(tokens(text)).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__uni"))
    val tot = uni.agg(sum(col("__uni")).as("__nt"), count(lit(1)).as("__v"))
    val u1 = uni.select(col("__w").as("__w1"), col("__uni").as("__u1"))
    val u2 = uni.select(col("__w").as("__w2"), col("__uni").as("__u2"))
    val lp = when(col("__bi").isNotNull,
      log(col("__bi").cast("double") / col("__u1")))
      .otherwise(log(lit(0.4) * (coalesce(col("__u2"), lit(0L)) + lit(1L)) /
        (col("__nt") + col("__v"))))
    pairs(score)
      .join(bi, Seq("__w1", "__w2"), "left")
      .join(u1, Seq("__w1"), "left")
      .join(u2, Seq("__w2"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_pairs"),
        // roundZ: signed-zero normalization (r19 audit) — a mean log
        // prob can round to -0.0 in DuckDB, +0.0 here; bytes differ
        graft.expr.Functions.roundZ(avg(lp), 6).as("avg_logprob"))
  }

  /** CCNet-style perplexity banding (Wenzek et al. 2020): score every
    * doc with the Stupid-Backoff bigram LM, cut the score
    * distribution at the (pLow, pHigh) quantiles, and label each doc
    * head / middle / tail. `avg_logprob` is a mean ln P, so HIGHER =
    * lower perplexity = more like the reference corpus: head is the
    * ≥ pHigh-quantile slice. CCNet trains on Wikipedia and keeps
    * head+middle; callers filter on `band` accordingly. Docs with
    * < 2 non-empty tokens get no LM score and are absent — CCNet
    * drops them too.
    *
    * Determinism across engines: banding compares the ROUNDED
    * (6 dp) score against ROUNDED exact-percentile thresholds — the
    * q46/q127 exact-`percentile` discipline, literal-threshold
    * when-chain like nbConfidenceReport. The two thresholds are one
    * bounded driver collect (a single row). */
  def ppxBands(score: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, id: String, text: Column,
      pLow: Double = 0.3, pHigh: Double = 0.7): org.apache.spark.sql.DataFrame = {
    require(0 <= pLow && pLow <= pHigh && pHigh <= 1,
      s"need 0 <= pLow <= pHigh <= 1, got ($pLow, $pHigh)")
    // materialize the scored table ONCE: the percentile pass and the
    // banded output both read it, and without the checkpoint the
    // whole LM scoring lineage (pair explode + count joins) runs
    // twice (the MMR pool-collected-once discipline). The harness
    // releases the blocks after consuming the result.
    val scored = Pinned.pin(bigramLogProb(score, corpus, id, text))
    val cutsRow = scored.agg(expr(
      s"percentile(avg_logprob, array($pLow, $pHigh))")).head()
    if (cutsRow.isNullAt(0)) {
      // no finite score anywhere (every doc < 2 tokens, or an empty
      // training corpus NULLs every avg_logprob): banding is
      // undefined — null band, never an opaque NPE on the cuts
      scored.withColumn("band", lit(null).cast("string"))
    } else {
      val cuts = cutsRow.getSeq[Double](0)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (lo, hi) = (r6(cuts(0)), r6(cuts(1)))
      // a NULL score among finite ones (degenerate corpus) fails both
      // >= probes and bands 'tail' — identical to the oracle's CASE
      scored.withColumn("band",
        when(col("avg_logprob") >= hi, "head")
          .when(col("avg_logprob") >= lo, "middle")
          .otherwise("tail"))
    }
  }

  /** The raw (unrounded) Gopher metrics both the per-doc report and
    * the funnel aggregate from: (id, n_tokens, __mwl, __fa, __twf,
    * __tbf nullable). Ratios of exact integer counts in double, so
    * downstream threshold comparisons reproduce across engines.
    *
    * Fused single-pass codegen kernel (expr/GopherStats): the two
    * explodes, four hash aggregations and per-doc join of the original
    * composite collapse into one projection — per-doc quality gating
    * is a map-only stage (the 100 TB shape: metrics at scan speed, no
    * exchange until the caller aggregates). The composite is retained
    * below as the property-pin reference model; docs with zero
    * nonempty tokens are dropped (the composite's explode semantics),
    * hence the null filter. */
  private[graft] def gopherRawMetrics(df: org.apache.spark.sql.DataFrame,
      id: String, text: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val g = ColumnBridge.column(
      graft.expr.GopherStats(ColumnBridge.expression(text)))
    // the fused per-doc kernel is the map cost; widen past a
    // single-row-group scan (Par scaladoc — guide §2.5)
    graft.ops.Par.widen(df).select(col(id), g.as("__g"))
      .filter(col("__g").isNotNull)
      .select(col(id), col("__g.n_tokens").as("n_tokens"),
        col("__g.mwl").as("__mwl"), col("__g.fa").as("__fa"),
        col("__g.twf").as("__twf"), col("__g.tbf").as("__tbf"))
  }

  /** The original explode + agg + join form, kept as the equivalence
    * reference model for the fused kernel (PropertySpec pins fused ==
    * composite across tokenization edge cases). */
  private[graft] def gopherRawMetricsComposite(df: org.apache.spark.sql.DataFrame,
      id: String, text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(id),
      explode(filter(tokens(text), w => w =!= "")).as("__w"))
    val wordAgg = toks.groupBy(col(id), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg(sum(col("__c")).as("n_tokens"),
        (sum(length(col("__w")) * col("__c")) /
          sum(col("__c")).cast("double")).as("__mwl"),
        // \p{L}: any Unicode letter — Gopher's "word contains an
        // alphabetic character" is script-agnostic; an ASCII [a-z]
        // test would gate out entire non-Latin languages
        (sum(when(col("__w").rlike("\\p{L}"), col("__c")).otherwise(0L)) /
          sum(col("__c")).cast("double")).as("__fa"),
        (max(col("__c")) / sum(col("__c")).cast("double")).as("__twf"))
    val pairs = df.select(col(id),
        filter(tokens(text), w => w =!= "").as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col(id),
        explode(NearDup.shinglesFromTokens(col("__ws"), 2)).as("__bg"))
    val bigramAgg = pairs.groupBy(col(id), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg((max(col("__c")) / sum(col("__c")).cast("double")).as("__tbf"))
    wordAgg.join(bigramAgg, Seq(id), "left")
  }

  /** Gopher-style repetition/quality gate (Rae et al. 2021, arXiv:
    * 2112.11446, Table A1 spirit): per document —
    *  - mean word length (garbled text skews short or long),
    *  - fraction of words containing an alphabetic character
    *    (symbol/number spam),
    *  - most-common-word share of all tokens and most-common-bigram
    *    share of all bigrams (template/repetition spam — the
    *    "fraction in top n-gram" family),
    * plus the boolean `keep` gate over the documented thresholds.
    * Empty tokens are excluded (the bigramLogProb discipline); docs
    * with no non-empty tokens are absent from the output. All inputs
    * to the gate are exact-integer ratios evaluated in double — the
    * 6dp rounding is display-only, so the gate cannot flip across
    * engines. Output: (id, n_tokens, mean_word_len, frac_alpha_words,
    * top_word_frac, top_bigram_frac, keep).
    *
    * Scale shape: map-only — the fused `GopherStats` kernel through
    * `gopherRawMetrics` (one per-doc projection), then a rounding
    * projection; no explode, no aggregation, no join, no driver
    * state. The only possible exchange is `Par.widen`'s round-robin
    * repartition of a single-row-group scan. */
  def gopherReport(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, maxTopWordFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.18): org.apache.spark.sql.DataFrame =
    gopherRawMetrics(df, id, text)
      .select(col(id), col("n_tokens"),
        round(col("__mwl"), 6).as("mean_word_len"),
        round(col("__fa"), 6).as("frac_alpha_words"),
        round(col("__twf"), 6).as("top_word_frac"),
        round(coalesce(col("__tbf"), lit(0.0)), 6).as("top_bigram_frac"),
        (col("__mwl").between(minMeanWordLen, maxMeanWordLen) &&
          col("__fa") >= minAlphaFrac && col("__twf") <= maxTopWordFrac &&
          coalesce(col("__tbf"), lit(0.0)) <= maxTopBigramFrac).as("keep"))

  /** Quality-gate funnel over the Gopher rules: one row with the
    * population, each rule's independent failure count, and the
    * SEQUENTIAL survivor counts applying the rules in their
    * documented order — the operational view of a gate ("which rule
    * costs me the most data?") that the per-doc report (q93) cannot
    * answer without a client-side rollup. Same raw metrics and
    * thresholds as `gopherReport`, so `pass_all` always equals that
    * report's `keep` count. All counts integer-exact. */
  def gopherFunnel(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, maxTopWordFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.18): org.apache.spark.sql.DataFrame = {
    val mwlOk = col("__mwl").between(minMeanWordLen, maxMeanWordLen)
    val faOk = col("__fa") >= minAlphaFrac
    val twfOk = col("__twf") <= maxTopWordFrac
    val tbfOk = coalesce(col("__tbf"), lit(0.0)) <= maxTopBigramFrac
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    gopherRawMetrics(df, id, text)
      .agg(count(lit(1)).as("n_docs"),
        cnt(!mwlOk).as("fail_word_len"),
        cnt(!faOk).as("fail_alpha"),
        cnt(!twfOk).as("fail_top_word"),
        cnt(!tbfOk).as("fail_top_bigram"),
        cnt(mwlOk).as("after_word_len"),
        cnt(mwlOk && faOk).as("after_alpha"),
        cnt(mwlOk && faOk && twfOk).as("after_top_word"),
        cnt(mwlOk && faOk && twfOk && tbfOk).as("pass_all"))
  }

  /** CCNet-style line-level boilerplate removal: drop every line whose
    * exact text occurs in >= `minDocs` DISTINCT documents (headers,
    * footers, navigation chrome — the lines that repeat across a
    * crawl), keep the rest, and reassemble each document's surviving
    * lines in original order. Returns (id, clean_text); documents
    * whose every line was boilerplate come back as "" (row count
    * preserved).
    *
    * Scale shape: the line-frequency aggregation is map-side
    * combining on the line text; only lines ABOVE the threshold
    * survive into the join relation, so the membership join is
    * big ⋈ small (AQE broadcasts it) rather than line ⋈ line; the
    * per-doc reassembly is one hash aggregation with an array_sort
    * (per-doc line counts bound the sort). No UDFs — runs at scan
    * speed and stays oracle-checkable. */
  def removeBoilerplateLines(df: org.apache.spark.sql.DataFrame,
      id: String, text: Column, minDocs: Long = 5L): org.apache.spark.sql.DataFrame = {
    val lines = df.select(col(id),
      posexplode(split(text, "\n")).as(Seq("__pos", "__line")))
    val boiler = lines.filter(trim(col("__line")) =!= "")
      .groupBy(col("__line"))
      .agg(countDistinct(col(id)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__line"), lit(true).as("__bp"))
    val rebuilt = lines
      .join(boiler, Seq("__line"), "left")
      .filter(col("__bp").isNull)
      .groupBy(col(id))
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        s => s.getField("__line"))).as("clean_text"))
    df.select(col(id))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-document unigram Shannon entropy and its perplexity — the
    * lexical-diversity quality signal: template spam and keyword
    * stuffing repeat a few tokens (low entropy) while natural prose
    * spreads mass across its vocabulary. H = ln n − Σ c·ln c / n over
    * the doc's token counts (the algebraic form keeps one pass over
    * the count table; equivalent to −Σ p·ln p), perplexity = e^H =
    * the "effective vocabulary size" of the document.
    *
    * Output: (id, n_tokens, n_distinct, entropy, perplexity) rounded
    * to 6, one row per doc with >= 1 non-empty token.
    *
    * Scale shape: two map-side-combining hash aggs — (id, term)
    * counts then per-id reduction — nothing wider than the token
    * stream ever shuffles, and no join at all. */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(id), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
    val h = log(sum("__c")) - sum(col("__c") * log(col("__c"))) / sum("__c")
    toks.groupBy(col(id), col("term")).agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg(sum("__c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        h.as("__h"))
      .select(col(id), col("n_tokens"), col("n_distinct"),
        round(col("__h"), 6).as("entropy"),
        round(exp(col("__h")), 6).as("perplexity"))
  }

  /** Per-document novelty: the fraction of the doc's DISTINCT bigrams
    * first seen in this document (first-seen = minimum id over the
    * corpus). The contribution score of dedup-aware data valuation —
    * a doc whose every bigram already appeared earlier in the stream
    * adds nothing a dedup pass would keep; ranking by novelty_frac
    * surfaces the documents worth ingesting first. Ids must be
    * comparable in ingest order for "first seen" to mean "earlier".
    *
    * Output: (id, n_bigrams, n_novel, novelty_frac) rounded to 6, one
    * row per doc with >= 2 non-empty tokens.
    *
    * Scale shape: bigrams collapse to 64-bit xxhash keys right after
    * the explode, so no shuffle ever carries text — exact up to
    * 64-bit collisions (expected extra merges ≈ V²/2⁶⁵: ~3·10⁻⁴ at
    * 100 M distinct bigrams; the DuckDB oracle runs string-keyed and
    * still hash-matches). The first-seen side needs NO distinct
    * (min is duplicate-insensitive), so it is a pure map-side min
    * agg over the raw explode; the per-doc side dedups (id, key)
    * once; they meet in an equi-join on the 8-byte key that carries
    * only ids. All three shuffles move 16-byte rows. */
  def noveltyReport(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    // materialize the token array BEFORE the shingle transform — an
    // inline expression would re-run the regex split inside every
    // element_at, turning the explode O(tokens²) per doc (the
    // tokenize-once discipline of shinglesFromTokens/bigramLogProb)
    val exploded = df
      .select(col(id), filter(tokens(text), w => w =!= "").as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col(id),
        explode(NearDup.shinglesFromTokens(col("__ws"), 2)).as("__s"))
      .select(col(id), xxhash64(col("__s")).as("__bg"))
    val bgs = exploded.distinct()
    val first = exploded.groupBy(col("__bg")).agg(min(col(id)).as("__first"))
    bgs.join(first, Seq("__bg"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__first") === col(id), 1L).otherwise(0L)).as("n_novel"))
      .select(col(id), col("n_bigrams"), col("n_novel"),
        round(col("n_novel") / col("n_bigrams"), 6).as("novelty_frac"))
  }
}
