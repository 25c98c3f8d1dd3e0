package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classification — the fasttext-style
  * domain/quality classifier every large-scale training-data pipeline
  * runs between crawl and tokenize (C4's langid gate, CCNet's domain
  * buckets, the quality classifiers of GPT-3/LLaMA data work; Joulin
  * et al. 2016 for the linear-classifier framing). The reference has
  * no classifier of its own (its relevance gate is keyword containment,
  * newscrawler.py:382); this is a capability extension on the same
  * `documents` surface, sharing the engine's tokenizer ([[NearDup.tokens]])
  * and its cross-engine ln-parity contract (q74/q80/q88: avg-of-ln
  * rounded to 6, ties broken on the rounded value then a total key).
  *
  * Why NB and not logistic regression: training is PURE COUNTING —
  * one tokenize + two `groupBy`s, map-side combinable, no iteration,
  * no driver-side state — so it keeps the full-pipeline property the
  * engine's oracle gate needs (every step ANSI-SQL-expressible) while
  * still being the shape production quality filters actually take at
  * this scale (count tables stream; gradient loops don't).
  *
  * Scale posture (100 TB): the token explode and both count
  * aggregations shuffle on bounded keys ((label, term) then label);
  * the model grid is |vocab| × |classes| rows — classes are enumerable
  * (sources, languages, quality tiers), so the grid is a small
  * constant times the vocabulary and never corpus-sized. Scoring
  * aggregates each document's term frequencies FIRST (one row per
  * distinct term per doc, not per token instance), replicates that
  * |classes|× via a broadcast of the class table, and joins the model
  * on (label, term) — a plain shuffle hash join that AQE will flip to
  * broadcast when the model fits. Nothing is collected to the driver.
  */
object TextClassifier {

  import NearDup.tokens

  /** Train a multinomial NB model with add-`alpha` smoothing over the
    * training vocabulary. Returns the FULL model grid — one row per
    * (class, vocab term), including zero-count pairs so the smoothed
    * conditional is materialized for every class — with the class-level
    * quantities replicated onto each row:
    *
    *   label, term, n (count of term in class), log_cond
    *   (= ln((n+α)/(tot_c+α·V))), tot_c (class token total), n_docs_c,
    *   vocab (V), n_docs, log_prior (= ln(n_docs_c/n_docs)),
    *   oov_ll (= ln(α/(tot_c+α·V)) — the conditional any unseen term
    *   gets at scoring time).
    *
    * Priors count ALL training docs, including any that tokenize to
    * empty — a doc with no tokens is still evidence for its class.
    */
  /** Observed (label, term, n) token counts — the shared first stage
    * of both trainers. */
  private def tokenCounts(docs: DataFrame, labelCol: Column,
      text: Column): DataFrame =
    Par.widen(docs)
      .select(labelCol.as("label"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("label", "term").agg(count(lit(1)).as("n"))

  /** Append the three model quantities to any table carrying
    * (n, tot_c, vocab, n_docs_c, n_docs) — THE smoothing formulas,
    * defined once so all three trainers stay bit-identical. */
  private def smoothedModel(grid: DataFrame, alpha: Double): DataFrame =
    grid
      .withColumn("log_cond",
        log((col("n") + lit(alpha)) / (col("tot_c") + lit(alpha) * col("vocab"))))
      .withColumn("log_prior",
        log(col("n_docs_c").cast("double") / col("n_docs")))
      .withColumn("oov_ll",
        log(lit(alpha) / (col("tot_c") + lit(alpha) * col("vocab"))))

  def trainNaiveBayes(docs: DataFrame, labelCol: Column, text: Column,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    // the count table feeds classTok, the vocab distinct, vTot AND
    // the grid's probe side — and the class-level broadcasts are built
    // on CONCURRENT broadcast-future jobs that cannot reuse each
    // other's in-flight exchanges, so unpinned the heavy
    // tokenize+count pass ran up to 4× per model (r22 StageAudit: two
    // racing copies of the widen exchange and of the count chain
    // inside one training). Counts are observed (label, term) pairs —
    // never corpus-sized.
    val counts = Pinned.pin(tokenCounts(docs, labelCol, text))
    val classTok = counts.groupBy("label").agg(sum("n").as("tot_c"))
    val classDocs = docs.select(labelCol.as("label"))
      .groupBy("label").agg(count(lit(1)).as("n_docs_c"))
    // classes: one row per label — bounded by construction, broadcast.
    val classes = classTok.join(classDocs, "label")
    val vocab = counts.select("term").distinct()
    val vTot = vocab.agg(count(lit(1)).as("vocab"))     // single row
    // n_docs = Σ n_docs_c (exact integer identity, null labels
    // included as their own group): rides classDocs' label exchange
    // instead of paying a second full scan+count of the corpus.
    // coalesce: sum over zero rows is null where count(1) was 0 —
    // only reachable on an empty corpus (model is empty either way)
    val dTot = classDocs
      .agg(coalesce(sum("n_docs_c"), lit(0L)).as("n_docs")) // single row
    smoothedModel(
      vocab.crossJoin(broadcast(classes))
        .join(counts, Seq("label", "term"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(vTot))
        .crossJoin(broadcast(dTot)),
      alpha)
  }

  /** [[trainNaiveBayes]] minus the dense-grid materialization — the
    * deployment trainer. The dense |vocab|×|classes| grid exists as
    * the q140 oracle ARTIFACT (every smoothed conditional inspectable,
    * zero rows included); nothing downstream consumes the zero rows
    * (spec-pinned: scoring never consults them), so at web scale —
    * where |vocab| is hundreds of millions and most terms never occur
    * in most classes — materializing |vocab|×|classes| rows to then
    * join observed pairs back in is pure waste. This emits ONLY the
    * observed (label, term) rows, each carrying the same replicated
    * class-level quantities, and is bit-compatible with every
    * consumer ([[scoreNaiveBayes]], [[scoreNaiveBayesManyClasses]],
    * [[classifyNaiveBayes]], [[classifierGate]]): they read
    * `filter(n > 0)` + a distinct class table, both of which this
    * output satisfies identically (every class keeps ≥1 observed row
    * — a token-less class is dropped by BOTH trainers). Spec-pinned
    * row-equal to `trainNaiveBayes(...).filter(n > 0)` on the shared
    * columns, and classify-bit-equal through the full scoring path.
    *
    * Cost: one tokenize + the same two bounded-key groupBys; output
    * rows = observed pairs ≈ the (label, term) count table itself —
    * never vocab×classes. */
  def trainNaiveBayesSparse(docs: DataFrame, labelCol: Column, text: Column,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    val counts = Pinned.pin(tokenCounts(docs, labelCol, text)) // see trainNaiveBayes
    val classTok = counts.groupBy("label").agg(sum("n").as("tot_c"))
    val classDocs = docs.select(labelCol.as("label"))
      .groupBy("label").agg(count(lit(1)).as("n_docs_c"))
    val classes = classTok.join(classDocs, "label")
    val vTot = counts.select("term").distinct()
      .agg(count(lit(1)).as("vocab"))                 // single row
    // n_docs from the per-class counts (the trainNaiveBayes identity;
    // coalesce for the empty-corpus null, same as there)
    val dTot = classDocs
      .agg(coalesce(sum("n_docs_c"), lit(0L)).as("n_docs")) // single row
    smoothedModel(
      counts.join(broadcast(classes), "label")
        .crossJoin(broadcast(vTot))
        .crossJoin(broadcast(dTot)),
      alpha)
  }

  /** Sufficient statistics of a batch for NB training, as ONE table:
    * token rows (label, term, n) plus a per-class doc-count row keyed
    * by the RESERVED empty term (label, "", n_docs_c) — `tokens`
    * filters empty strings, so "" can never collide with a real term.
    * Statistics are exact integer counts, so the merge algebra is a
    * plain keyed sum: commutative, associative, order-invariant.
    *
    * This is what makes NB the scale-right classifier for a 100 TB
    * corpus with daily ingest: the store is |vocab|×|classes| rows (a
    * few million at web scale — NOT corpus-sized), each new batch
    * contributes one map-side-combined count pass over ITS OWN rows
    * only, and [[trainFromStats]] rebuilds the exact full-corpus model
    * from the merged table without re-reading a single old document.
    * [[TextClassifierSpec]] pins merge-then-train bit-equal to
    * [[trainNaiveBayes]] on the concatenated corpus.
    */
  def nbSufficientStats(docs: DataFrame, labelCol: Column, text: Column): DataFrame = {
    val tok = Par.widen(docs)
      .select(labelCol.as("label"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("label", "term").agg(count(lit(1)).as("n"))
    val docCounts = docs.select(labelCol.as("label"), lit("").as("term"))
      .groupBy("label", "term").agg(count(lit(1)).as("n"))
    tok.unionByName(docCounts)
  }

  /** Merge sufficient-statistics tables (batch increments and/or a
    * persisted store): keyed integer sum. */
  def mergeNbStats(stats: DataFrame*): DataFrame = {
    require(stats.nonEmpty, "mergeNbStats: need at least one stats table")
    stats.reduce(_ unionByName _).groupBy("label", "term")
      .agg(sum("n").as("n"))
  }

  /** Derive the full model grid (same schema and exact same values as
    * [[trainNaiveBayes]]) from a merged sufficient-statistics table.
    * Semantics mirror the batch trainer exactly: vocab = terms with a
    * count anywhere; classes = labels with ≥1 training TOKEN (a
    * token-less class has no conditionals and is dropped from the
    * grid); n_docs = doc rows across ALL labels, including token-less
    * ones — their docs still dilute every prior. */
  def trainFromStats(statsIn: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    // stats feed the term counts, the doc-count rows and n_docs — pin
    // once so the merged-batch aggregation (and each batch's tokenize
    // underneath it) runs once, not once per consumer
    val stats = Pinned.pin(statsIn)
    val counts = stats.filter(col("term") =!= "")
    val classTok = counts.groupBy("label").agg(sum("n").as("tot_c"))
    val classDocs = stats.filter(col("term") === "")
      .groupBy("label").agg(sum("n").as("n_docs_c"))
    val classes = classTok.join(classDocs, "label")
    val vocab = counts.select("term").distinct()
    val vTot = vocab.agg(count(lit(1)).as("vocab"))
    val dTot = stats.filter(col("term") === "").agg(sum("n").as("n_docs"))
    smoothedModel(
      vocab.crossJoin(broadcast(classes))
        .join(counts, Seq("label", "term"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(vTot))
        .crossJoin(broadcast(dTot)),
      alpha)
  }

  /** [[trainFromStats]] without the dense grid — observed rows only,
    * the [[trainNaiveBayesSparse]] of the incremental path. Same
    * drop-in guarantee for every scorer (spec-pinned: row-equal to
    * `trainFromStats(...).filter(n > 0)`, classify-bit-equal). The
    * streaming prequential sink rebuilds its model from the stats
    * store EVERY tick — this is the rebuild it uses, so tick cost
    * scales with observed pairs, never vocab×classes. */
  def trainFromStatsSparse(statsIn: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    val stats = Pinned.pin(statsIn) // see trainFromStats
    val counts = stats.filter(col("term") =!= "")
    val classTok = counts.groupBy("label").agg(sum("n").as("tot_c"))
    val classDocs = stats.filter(col("term") === "")
      .groupBy("label").agg(sum("n").as("n_docs_c"))
    val classes = classTok.join(classDocs, "label")
    val vTot = counts.select("term").distinct()
      .agg(count(lit(1)).as("vocab"))
    val dTot = stats.filter(col("term") === "").agg(sum("n").as("n_docs"))
    smoothedModel(
      counts.join(broadcast(classes), "label")
        .crossJoin(broadcast(vTot))
        .crossJoin(broadcast(dTot)),
      alpha)
  }

  /** Per-class scores for each document: length-normalized smoothed
    * log-likelihood plus a length-normalized prior,
    *
    *   score_c = (Σ_t cnt_t · logP(t|c)) / n_tokens + log_prior_c / n_tokens
    *
    * — the (sum + ln prior)/n form, which has the same per-doc argmax
    * as the textbook sum (n is constant across classes) but keeps the
    * magnitude O(10) so the round-6 cross-engine grid (q88 discipline)
    * has ~9 significant digits of headroom. Terms outside the training
    * vocabulary contribute the class's `oov_ll`. Documents that
    * tokenize to empty are dropped (no evidence → no row), documented
    * engine behavior mirrored by the oracle's join shape.
    *
    * Output: one row per (doc, class): id, label, score (rounded 6),
    * n_tokens.
    *
    * Shape note for MANY-class deployments: this replicates each
    * doc's TF rows |classes|× (broadcast nested-loop, then one
    * keyed aggregation) — the right trade at quality-filter class
    * counts (2–20: langid keep/drop, domain buckets). When |classes|
    * reaches hundreds with a skewed vocabulary, use
    * [[scoreNaiveBayesManyClasses]]: same semantics, no TF replicate
    * (spec-pinned equivalent to within one 1e-6 rounding-grid step).
    */
  def scoreNaiveBayes(held: DataFrame, idCol: Column, text: Column,
      modelIn: DataFrame): DataFrame = {
    // the model is materialized once so its TWO consumers — the
    // broadcast class table and the (label, term) join probe — read
    // blocks instead of each re-running the whole training chain
    // (r22; guide §2.3: decide over materialized small rows, don't
    // recompute the heavy pass). StageAudit measured the
    // tokenize+count pass of training AND the TF pass of scoring each
    // running twice per scored query — ~16 s of the q165 funnel's
    // 19.6 s task CPU. The model is |vocab|×|classes| rows dense,
    // observed pairs sparse — never corpus-sized (the object
    // scaladoc), so the pin is cheap at any scale.
    val model = Pinned.pin(modelIn)
    // tokenize + map-side TF aggregation is the heavy map pass of
    // scoring — widen it past a single-row-group scan (Par scaladoc)
    val tf = Par.widen(held)
      .select(idCol.as("id"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).as("cnt"))
    val classes = model.select("label", "log_prior", "oov_ll").distinct()
    // Join only the OBSERVED (label, term) pairs: a zero-count grid
    // row's log_cond is ln((0+α)/(tot_c+αV)) — bit-identical to the
    // class's oov_ll the coalesce below supplies — so shipping the
    // dense grid through the join buys nothing and costs |vocab|×
    // |classes| rows of join build side (~|classes|× the observed
    // pairs at web scale, where most terms never occur in most
    // classes). Same values, smaller join, better AQE broadcast odds.
    tf.crossJoin(broadcast(classes))
      .join(model.filter(col("n") > 0).select("label", "term", "log_cond"),
        Seq("label", "term"), "left")
      .withColumn("ll", coalesce(col("log_cond"), col("oov_ll")))
      .groupBy("id", "label")
      .agg(
        (sum(col("cnt") * col("ll")) / sum(col("cnt"))).as("avg_ll"),
        sum(col("cnt")).as("n_tokens"),
        first(col("log_prior")).as("log_prior"))
      .withColumn("score", round(col("avg_ll") + col("log_prior") / col("n_tokens"), 6))
      .select(col("id"), col("label"), col("score"), col("n_tokens"))
  }

  /** Argmax over [[scoreNaiveBayes]]'s per-class rows: highest rounded
    * score wins, ties break on label ascending (the q74 rounded-value-
    * then-total-key rank discipline, so both engines pick the same
    * class even when two scores are mathematically equal). */
  def classifyNaiveBayes(held: DataFrame, idCol: Column, text: Column,
      model: DataFrame): DataFrame =
    argmaxByScore(scoreNaiveBayes(held, idCol, text, model))

  /** Argmax over [[scoreNaiveBayesManyClasses]] — the wide-class
    * twin of [[classifyNaiveBayes]], same tie-break discipline. The
    * two classifiers agree wherever the per-doc top-2 margin clears
    * one 1e-6 rounding-grid step (the shapes' pinned score
    * tolerance); at sub-grid margins either label is a legitimate
    * rounded argmax — pick ONE shape per deployment. */
  def classifyNaiveBayesManyClasses(held: DataFrame, idCol: Column,
      text: Column, model: DataFrame): DataFrame =
    argmaxByScore(scoreNaiveBayesManyClasses(held, idCol, text, model))

  /** The q74 rounded-value-then-total-key argmax both classifiers
    * share: highest ROUNDED score wins, ties break on label
    * ascending — so both engines (and both scoring shapes) pick the
    * same class even when two scores are mathematically equal. */
  private def argmaxByScore(perClass: DataFrame): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("label"))
    perClass.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("id"), col("label").as("pred_label"), col("score"), col("n_tokens"))
  }

  /** [[scoreNaiveBayes]] without the per-class TF replicate — the
    * wide-class-count scale shape. Algebra: with ll_t = log_cond for
    * observed (class, term) pairs and oov_ll_c otherwise,
    *
    *   Σ_t cnt_t·ll_t  =  Σ_observed cnt_t·(log_cond − oov_ll_c)
    *                      + N·oov_ll_c            (N = Σ_t cnt_t)
    *
    * so the heavy TF table joins TERM-keyed to the observed model
    * pairs only (rows ≈ Σ_t |classes observing t| — for a skewed web
    * vocabulary far below |TF|×|classes|), aggregates per (doc,
    * class), and the |docs|×|classes| output spine is built from the
    * tiny per-doc token totals instead of the full TF rows. Classes
    * a doc shares no vocabulary with fall out of the join entirely
    * and take the pure-OOV score via the fill.
    *
    * Same output contract as [[scoreNaiveBayes]]; the floating-point
    * GROUPING differs (one subtraction pulled out of the sum), so
    * rounded scores agree to within one 1e-6 grid step rather than
    * bit-exactly — spec-pinned on random corpora. Gates and argmax
    * built on either shape agree except on a score pair within one
    * ulp of a grid midpoint; pick one shape per deployment. */
  def scoreNaiveBayesManyClasses(held: DataFrame, idCol: Column,
      text: Column, modelIn: DataFrame): DataFrame = {
    val model = Pinned.pin(modelIn) // see scoreNaiveBayes — same 2 consumers
    val tf = Par.widen(held)
      .select(idCol.as("id"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).as("cnt"))
    val docN = tf.groupBy("id").agg(sum("cnt").as("n_tokens"))
    val classes = model.select("label", "log_prior", "oov_ll").distinct()
    val adj = tf
      .join(model.filter(col("n") > 0)
          .select(col("label"), col("term"), col("log_cond"), col("oov_ll")),
        Seq("term"))
      .groupBy("id", "label")
      .agg(sum(col("cnt") * (col("log_cond") - col("oov_ll"))).as("adj"))
    docN.crossJoin(broadcast(classes))
      .join(adj, Seq("id", "label"), "left")
      .na.fill(0.0, Seq("adj"))
      .withColumn("avg_ll",
        (col("adj") + col("n_tokens") * col("oov_ll")) / col("n_tokens"))
      .withColumn("score", round(col("avg_ll") + col("log_prior") / col("n_tokens"), 6))
      .select(col("id"), col("label"), col("score"), col("n_tokens"))
  }

  /** Held-out confusion matrix: join predictions back to true labels,
    * count (true, pred) cells, and report each cell's share of its
    * true-label row — the report that prices the classifier before a
    * corpus-wide gate is applied. `truth` must carry (idCol, trueCol). */
  def nbConfusion(pred: DataFrame, truth: DataFrame, idCol: Column,
      trueCol: Column): DataFrame = {
    val cells = pred.join(truth.select(idCol.as("id"), trueCol.as("true_label")), "id")
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("true_label")
    cells.withColumn("share", round(col("n") / sum("n").over(w).cast("double"), 6))
      .select(col("true_label"), col("pred_label"), col("n"), col("share"))
  }

  /** Accuracy by confidence margin — the practical calibration table
    * for a classifier whose scores are log-likelihoods, not
    * probabilities: margin = top1 − top2 rounded score per doc, bucketed
    * into a fixed ascending band grid (`bands(i)` labels the band
    * [bands(i), bands(i+1))); per band, how often the top-1 label is
    * actually right. A well-behaved classifier is monotone here — if
    * accuracy does NOT rise with margin, score-threshold gating (q144's
    * sweep) is unjustified for it. `bands` must start at 0.0 so every
    * margin lands in a band (margins are ≥ 0 by construction).
    *
    * Band assignment is a literal when-chain on the rounded-score
    * difference — both engines subtract identical doubles and compare
    * against identical literals, so no epsilon. Docs with a single
    * scored class (one-class model) have no margin and are dropped.
    *
    * Scale: scoring dominates; on top of it, one id-partitioned top-2
    * window, a broadcast-sized truth join, and a |bands|-row group.
    *
    * Output: band_lo, n_docs, n_correct, accuracy (rounded 6).
    */
  def nbConfidenceReport(held: DataFrame, idCol: Column, text: Column,
      model: DataFrame, truth: DataFrame, trueCol: Column,
      bands: Seq[Double] = Seq(0.0, 0.05, 0.1, 0.2, 0.5, 1.0)): DataFrame = {
    require(bands.nonEmpty && bands.head == 0.0 && bands == bands.sorted,
      s"nbConfidenceReport: bands must be ascending and start at 0.0 (got $bands)")
    val perClass = scoreNaiveBayes(held, idCol, text, model)
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("label"))
    val top = perClass.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 2)
      .groupBy("id")
      .agg(max(when(col("__rk") === 1, col("score"))).as("__s1"),
        max(when(col("__rk") === 1, col("label"))).as("pred_label"),
        max(when(col("__rk") === 2, col("score"))).as("__s2"))
      .filter(col("__s2").isNotNull)
      .withColumn("__m", col("__s1") - col("__s2"))
    val band = bands.reverse.tail.foldLeft(
        when(col("__m") >= bands.last, lit(bands.last))) {
      (acc, b) => acc.when(col("__m") >= b, lit(b))
    }
    top.join(truth.select(idCol.as("id"), trueCol.as("true_label")), "id")
      .select(band.as("band_lo"),
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L)
          .as("__ok"))
      .groupBy(col("band_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ok")).as("n_correct"))
      .select(col("band_lo"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 6)
          .as("accuracy"))
  }

  /** Apply a trained NB model as a corpus gate — the step q144's
    * threshold sweep and [[nbConfidenceReport]] exist to calibrate:
    * keep exactly the documents whose top-1 predicted label is in
    * `keepLabels` AND whose rounded score clears `minScore` (the CCNet
    * move: train on a labeled seed, then keep the slice of the crawl
    * the classifier says looks like it). Returns the surviving
    * documents with ALL their original columns plus `pred_label` and
    * `score` — a drop-in filtered corpus for the next pipeline stage.
    *
    * The filter compares the ROUNDED 6dp score against a literal, so
    * the kept set is reproducible cross-engine (q74 discipline).
    * Documents that tokenize to empty have no prediction and never
    * pass — a gate admits on evidence, not absence of it.
    *
    * Scale: scoring dominates (see [[scoreNaiveBayes]] — TF pre-agg,
    * broadcast class replicate, AQE-flippable model join); the
    * surviving ids then join back to the full rows by id — keyed
    * equi-join, no text ever rides through the token explode.
    */
  def classifierGate(docs: DataFrame, idCol: Column, text: Column,
      model: DataFrame, keepLabels: Seq[String], minScore: Double): DataFrame = {
    require(keepLabels.nonEmpty, "classifierGate: keepLabels must be non-empty")
    val kept = classifyNaiveBayes(docs, idCol, text, model)
      .filter(col("pred_label").isin(keepLabels: _*) &&
        col("score") >= minScore)
      .select(col("id").as("__gate_id"), col("pred_label"), col("score"))
    docs.withColumn("__gate_id", idCol)
      .join(kept, "__gate_id")
      .drop("__gate_id")
  }

  /** Per-class precision / recall / F1 over held-out predictions — the
    * one-row-per-class summary of [[nbConfusion]]'s cells. A class row
    * appears if the label occurs on EITHER side (a class the model
    * never predicts still reports recall 0; a label the model invents
    * — impossible for NB, whose classes come from training — would
    * report precision 0 rather than vanish). F1 is computed as
    * 2·tp/(n_pred+n_true), the algebraic form of 2PR/(P+R) that stays
    * total when either side is zero and keeps the ratio exact-integer
    * until the single rounded division (cross-engine parity needs no
    * epsilon). Scale: three label-keyed counts over the joined
    * prediction set — |classes| rows end to end.
    *
    * Output: label, n_true (support), n_pred, tp, precision, recall,
    * f1 (all ratios rounded 6).
    */
  def nbMetricsReport(pred: DataFrame, truth: DataFrame, idCol: Column,
      trueCol: Column): DataFrame = {
    val joined = pred.join(truth.select(idCol.as("id"), trueCol.as("true_label")), "id")
    // r22 (guide §2.4): aggregate the heavy prediction chain ONCE into
    // the |classes|² cell table and derive all three per-label counts
    // from it — the three label-keyed legs previously each re-ran the
    // full scoring DAG (StageAudit: the whole tokenize→score→window
    // chain duplicated inside one q143 pass). The cell table is pinned
    // (bounded by |classes|²); the derived sums are exact integers, so
    // the report is byte-identical.
    val cells = Pinned.pin(joined
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("__n")))
    // r22 (guide §2.4, the funnel fold): the three per-label counts
    // previously materialized as three independent aggregations over
    // the cell table stitched back with a full-outer + left join —
    // several exchanges and broadcast jobs for a |classes|²-row input.
    // One tagged union (a true-side and a pred-side copy of each cell)
    // computes all three in a single label-keyed aggregation. Exact
    // integer sums; the label row set (labels on EITHER side, missing
    // counts zero-filled) is identical — byte-identical report.
    val tagged = cells.select(col("true_label").as("label"),
        col("__n").as("__nt"), lit(0L).as("__np"),
        when(col("true_label") === col("pred_label"), col("__n"))
          .otherwise(lit(0L)).as("__tp"))
      .unionByName(cells.select(col("pred_label").as("label"),
        lit(0L).as("__nt"), col("__n").as("__np"), lit(0L).as("__tp")))
    tagged.groupBy(col("label"))
      .agg(sum(col("__nt")).as("n_true"), sum(col("__np")).as("n_pred"),
        sum(col("__tp")).as("tp"))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        round(when(col("n_pred") === 0, 0.0)
          .otherwise(col("tp") / col("n_pred").cast("double")), 6).as("precision"),
        round(when(col("n_true") === 0, 0.0)
          .otherwise(col("tp") / col("n_true").cast("double")), 6).as("recall"),
        round(lit(2.0) * col("tp") / (col("n_pred") + col("n_true")).cast("double"), 6)
          .as("f1"))
  }
}
