package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import NearDup.tokens

/** DSIR-style data selection via importance resampling (Xie et al.
  * 2023, arXiv:2302.03169): score every document of a RAW crawl by
  * how much more likely its tokens are under a TARGET corpus's
  * unigram distribution than under the raw corpus's own — the
  * hashed-n-gram importance weight that selects "looks like the
  * target domain" training data from a general crawl. The engine
  * ships two estimators over the same LLR core: plain unigrams
  * (`importanceScores`) and the paper's actual feature space —
  * HASHED unigram+bigram features over a fixed bucket count
  * (`importanceScoresHashed`), which bounds the vocabulary joins at
  * any corpus size. Both are deterministic and engine-reproducible,
  * returning the per-document average log-likelihood ratio —
  * rank/threshold/Gumbel-top-k selection composes downstream.
  *
  * Scale shape (the `unigramLogProb` family, TextAnalysis.scala):
  * two map-side-combining frequency aggs (raw, target), one
  * vocab-sized full-outer join to line the distributions up, the
  * totals broadcast as one row, the token stream joins the scored
  * vocab on the term (AQE-broadcast while the vocab is small), and
  * the per-doc score is one hash agg. Every term linear in tokens;
  * no driver-side state beyond the one totals row.
  */
object Dsir {

  /** Per-raw-document importance score:
    * avg over tokens w of ln p̂_target(w) − ln p̂_raw(w), with
    * p̂(w) = (count(w) + 1) / (total + |V|) over the UNION vocabulary
    * (so unseen-in-target tokens penalize instead of exploding).
    * Output: (id, n_tokens, avg_llr), avg_llr rounded to 6 —
    * positive = looks more like the target than the crawl at large.
    */
  def importanceScores(raw: DataFrame, target: DataFrame, id: String,
      text: Column): DataFrame = {
    val rtok = raw.select(col(id), explode(tokens(text)).as("__feat"))
      .filter(col("__feat") =!= "")
    val ttok = target.select(explode(tokens(text)).as("__feat"))
      .filter(col("__feat") =!= "")
    llrScores(rtok, ttok, id, nName = "n_tokens")
  }

  /** DSIR's hashed n-gram estimator (the paper's §2 feature space):
    * a document's features are its non-empty tokens PLUS its adjacent
    * bigrams ("w1 w2"), each hashed into one of `buckets` ids — so
    * the vocabulary relation is bounded at `buckets` rows no matter
    * how large the corpus, and word ORDER matters (a doc must match
    * the target's phrasing, not just its word mix, to score high).
    * The hash is the engine's cross-engine construction (first 8
    * sha256 hex digits mod buckets — the split-hash / Gumbel-noise
    * pattern), so scores are bit-reproducible on any engine.
    * Output: (id, n_feats, avg_llr) — n_feats = tokens + bigrams,
    * i.e. 2·n_tokens − 1 for a clean doc.
    *
    * Scale shape: identical to `importanceScores` except BOTH
    * frequency tables and the score join now key on a bucket id with
    * a hard `buckets` cardinality cap: the vocab full-outer join and
    * the scored-vocab build side stay broadcastable forever, where
    * raw token vocabularies grow with the crawl. */
  def importanceScoresHashed(raw: DataFrame, target: DataFrame, id: String,
      text: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"importanceScoresHashed: buckets=$buckets")
    val rfeat = raw.select(col(id),
      explode(hashedNgramFeatures(text, buckets)).as("__feat"))
    val tfeat = target.select(
      explode(hashedNgramFeatures(text, buckets)).as("__feat"))
    llrScores(rfeat, tfeat, id, nName = "n_feats")
  }

  /** Hashed unigram+bigram feature ids of `text` as an array column:
    * non-empty tokens, then adjacent pairs joined with one space,
    * each mapped to pmod(first-8-sha256-hex-digits, buckets). Fused
    * single-pass codegen kernel (expr/HashedNgramFeatures — the
    * MinHashSig pattern); bit-equivalence to the Column composite
    * below is property-pinned, and q92's DuckDB oracle re-derives
    * the same buckets independently. */
  private[graft] def hashedNgramFeatures(text: Column, buckets: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.expr.HashedNgramFeatures(
      ColumnBridge.expression(text), buckets.toLong))
  }

  /** The original expression-composite form of `hashedNgramFeatures`,
    * kept as the equivalence-spec reference model for the fused
    * kernel (PropertySpec pins fused == composite on random text). */
  private[graft] def hashedNgramFeaturesComposite(text: Column,
      buckets: Int): Column = {
    val ws = filter(tokens(text), w => w =!= "")
    // zip_with over two slices, NOT shinglesFromTokens: `ws` is an
    // inline expression inside a Column-returning function (no select
    // boundary to materialize it behind), and the shingle helper's
    // per-index element_at would re-run the regex split per bigram —
    // O(tokens²)/row, measured 5× on q92. zip_with evaluates each
    // slice (and with it ws) a BOUNDED number of times.
    val bigrams = when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    transform(concat(ws, bigrams), f =>
      pmod(conv(substring(sha2(f, 256), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong)))
  }

  /** Shared LLR core: `rfeat` = (id, __feat) feature instances of the
    * raw side, `tfeat` = (__feat) of the target side. Add-one
    * smoothing over the union feature space; one broadcast totals
    * row; per-doc mean LLR rounded to 6. */
  private def llrScores(rfeat: DataFrame, tfeat: DataFrame, id: String,
      nName: String): DataFrame = {
    val fr = rfeat.groupBy(col("__feat")).agg(count(lit(1)).as("__nr"))
    val ft = tfeat.groupBy(col("__feat")).agg(count(lit(1)).as("__nt"))
    val vocab = fr.join(ft, Seq("__feat"), "full_outer")
      .na.fill(0L, Seq("__nr", "__nt"))
    val tots = vocab.agg(sum(col("__nr")).as("__tr"),
      sum(col("__nt")).as("__tt"), count(lit(1)).as("__v"))
    val scored = vocab.crossJoin(broadcast(tots))
      .select(col("__feat"),
        (log((col("__nt") + lit(1.0)) / (col("__tt") + col("__v"))) -
          log((col("__nr") + lit(1.0)) / (col("__tr") + col("__v"))))
          .as("__llr"))
    rfeat.join(scored, Seq("__feat"))
      .groupBy(col(id))
      .agg(count(lit(1)).as(nName),
        // roundZ: the signed-zero convention for every rounded
        // statistic that can straddle zero (r19 audit)
        graft.expr.Functions.roundZ(avg(col("__llr")), 6).as("avg_llr"))
  }

  /** DSIR's sampling step, deterministically: Gumbel-top-k. Sampling
    * k documents WITHOUT replacement with probability ∝
    * exp(score / temperature) is equivalent to taking the top k of
    * score/T + Gumbel noise (the Gumbel-max trick); the noise comes
    * from a sha256-derived uniform of the document id, so the draw is
    * reproducible on any engine — no RNG state, no seed plumbing
    * (same construction as `Sampling`'s hash ordering and the LSH
    * hyperplanes). u = (h + 1)/(2³² + 1) with h the first 8 hex
    * digits of sha256("salt:id") keeps u strictly inside (0, 1).
    *
    * Scale shape: one map-side projection, then orderBy+limit —
    * Spark plans TakeOrderedAndProject (per-partition k-heaps, the
    * driver merges k·partitions rows); no global sort shuffle, no
    * single-partition window. Output: (id, sel_key) for the k
    * selected docs, sel_key rounded to 6. */
  def gumbelTopK(scores: DataFrame, id: String, score: Column, k: Int,
      temperature: Double = 1.0, salt: String = "dsir"): DataFrame = {
    require(k >= 1, "gumbelTopK: k must be >= 1")
    require(temperature > 0, "gumbelTopK: temperature must be > 0")
    val h = conv(substring(sha2(
        concat_ws(":", lit(salt), col(id).cast("string")), 256), 1, 8), 16, 10)
      .cast("long")
    val u = (h + lit(1.0)) / lit(4294967297.0)
    val key = score / lit(temperature) + -log(-log(u))
    scores.select(col(id), key.as("__key"))
      .orderBy(col("__key").desc, col(id))
      .limit(k)
      .select(col(id), round(col("__key"), 6).as("sel_key"))
  }
}
