package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextClassifier

/** Multinomial Naive Bayes classifier (round-17 surface): training is
  * pure counting, scoring is the length-normalized smoothed
  * log-likelihood with the q74 rounded-score/label tie-break. Pinned
  * against an independent in-memory model on planted and random
  * corpora, plus the OOV / empty-doc / token-less-class edges.
  */
class TextClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Independent reference model — same math, plain Scala, no Spark. */
  private def naive(train: Seq[(String, String)], held: Seq[(Long, String)],
      alpha: Double): (Map[(String, String), (Long, Double)], Seq[(Long, String, Double, Long)]) = {
    def tok(s: String): Seq[String] =
      s.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    val counts = train.flatMap { case (l, t) => tok(t).map(l -> _) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val vocab = counts.keySet.map(_._2)
    val v = vocab.size
    val totC = counts.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    // classes = labels with at least one training token (engine drops
    // token-less classes: no conditionals can exist for them)
    val labels = totC.keys.toSeq.sorted
    val nDocsC = train.groupBy(_._1).map { case (l, d) => l -> d.size.toLong }
    val nDocs = train.size.toLong
    val model = for (l <- labels; t <- vocab) yield {
      val n = counts.getOrElse((l, t), 0L)
      (l, t) -> (n, math.log((n + alpha) / (totC(l) + alpha * v)))
    }
    val preds = held.flatMap { case (id, txt) =>
      val ts = tok(txt)
      if (ts.isEmpty) None
      else {
        val nTok = ts.size.toLong
        val scored = labels.map { l =>
          val oov = math.log(alpha / (totC(l) + alpha * v))
          val ll = ts.map { t =>
            counts.get((l, t)).map(n => math.log((n + alpha) / (totC(l) + alpha * v)))
              .getOrElse(oov)
          }.sum / nTok
          val prior = math.log(nDocsC(l).toDouble / nDocs)
          (l, round6(ll + prior / nTok))
        }
        val best = scored.minBy { case (l, s) => (-s, l) }
        Some((id, best._1, best._2, nTok))
      }
    }
    (model.toMap, preds)
  }

  private val planted = Seq(
    ("news", "mayor council budget vote"),
    ("news", "council vote mayor tax"),
    ("spam", "win prize click offer"),
    ("spam", "offer click win free"))

  test("trainNaiveBayes: full grid, exact counts, smoothed conditionals, priors") {
    val df = planted.toDF("label", "text")
    val m = TextClassifier.trainNaiveBayes(df, col("label"), col("text")).cache()
    val terms = planted.flatMap(_._2.split(" ")).distinct // 10-term vocab
    assert(m.select("term").distinct.count() == terms.size)
    assert(m.count() == 2L * terms.size) // full grid: every (class, term)
    val row = m.filter(col("label") === "news" && col("term") === "mayor").head()
    assert(row.getAs[Long]("n") == 2L)
    val totNews = 8.0
    assert(math.abs(row.getAs[Double]("log_cond") -
      math.log((2 + 1.0) / (totNews + terms.size))) < 1e-12)
    assert(math.abs(row.getAs[Double]("log_prior") - math.log(0.5)) < 1e-12)
    assert(math.abs(row.getAs[Double]("oov_ll") -
      math.log(1.0 / (totNews + terms.size))) < 1e-12)
    // zero-count pair is present with the smoothing floor
    val z = m.filter(col("label") === "news" && col("term") === "win").head()
    assert(z.getAs[Long]("n") == 0L &&
      math.abs(z.getAs[Double]("log_cond") - z.getAs[Double]("oov_ll")) < 1e-12)
    m.unpersist()
  }

  test("classifyNaiveBayes: planted separable vocab classifies held-out perfectly") {
    val m = TextClassifier.trainNaiveBayes(planted.toDF("label", "text"),
      col("label"), col("text"))
    val held = Seq((1L, "budget vote tonight"), (2L, "free prize offer"),
      (3L, "council tax plan")).toDF("id", "text")
    val got = TextClassifier.classifyNaiveBayes(held, col("id"), col("text"), m)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "news", 2L -> "spam", 3L -> "news"))
  }

  test("empty-text docs are dropped from predictions but still count toward priors") {
    val train = planted ++ Seq(("news", "   "), ("news", ""))
    val m = TextClassifier.trainNaiveBayes(train.toDF("label", "text"),
      col("label"), col("text"))
    // priors: 4 news docs of 6 total (empty docs are class evidence)
    val prior = m.filter(col("label") === "news").select("log_prior").head().getDouble(0)
    assert(math.abs(prior - math.log(4.0 / 6.0)) < 1e-12)
    // a null-text doc is class evidence too: 5 news docs of 7
    val m2 = TextClassifier.trainNaiveBayes((train :+ ("news" -> null))
      .toDF("label", "text"), col("label"), col("text"))
    val prior2 = m2.filter(col("label") === "news").select("log_prior").head().getDouble(0)
    assert(math.abs(prior2 - math.log(5.0 / 7.0)) < 1e-12)
    val held = Seq((1L, "council vote"), (2L, "  "), (3L, "")).toDF("id", "text")
    val got = TextClassifier.classifyNaiveBayes(held, col("id"), col("text"), m)
      .collect()
    assert(got.map(_.getLong(0)).toSet == Set(1L)) // token-less docs: no row
  }

  test("NB training reads its documents once") {
    // the one count pass is the only reader of the corpus: the class
    // tables, n_docs and the grid all derive from its pinned output
    val read = spark.sparkContext.longAccumulator("nb_rows_read")
    val src = (planted :+ ("news" -> "   ")).toDF("label", "text")
    val counted = src.mapPartitions { it =>
      it.map { r => read.add(1); r }
    }(org.apache.spark.sql.Encoders.row(src.schema))
    TextClassifier.trainNaiveBayes(counted, col("label"), col("text")).collect()
    assert(read.value == planted.size + 1L)
  }

  test("all-OOV doc scores by smoothing floor + prior; deterministic label tie-break") {
    val m = TextClassifier.trainNaiveBayes(planted.toDF("label", "text"),
      col("label"), col("text"))
    val held = Seq((9L, "zzz qqq www")).toDF("id", "text")
    val rows = TextClassifier.scoreNaiveBayes(held, col("id"), col("text"), m)
      .orderBy("label").collect()
    // both classes have 8 tokens + 10-term vocab -> identical oov_ll and
    // identical priors -> identical rounded scores -> argmax breaks to
    // the ascending label
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("score") == rows(1).getAs[Double]("score"))
    val pred = TextClassifier.classifyNaiveBayes(held, col("id"), col("text"), m).head()
    assert(pred.getString(1) == "news") // "news" < "spam"
    val terms = planted.flatMap(_._2.split(" ")).distinct.size
    val want = round6(math.log(1.0 / (8.0 + terms)) + math.log(0.5) / 3)
    assert(rows(0).getAs[Double]("score") == want)
  }

  test("zero-count model rows carry no information: corrupting them leaves scores bit-equal") {
    // Pins the sparse scoring join's contract (r17): a zero-count
    // grid row's log_cond is bit-identical to the class oov_ll the
    // coalesce supplies, so scoring must never CONSULT those rows.
    // Poison them and assert every (id, label, score) is unchanged —
    // a regression that re-reads the dense grid fails loudly here.
    val m = TextClassifier.trainNaiveBayes(planted.toDF("label", "text"),
      col("label"), col("text"))
    val poisoned = m.withColumn("log_cond",
      when(col("n") === 0L, lit(999.0)).otherwise(col("log_cond")))
    val held = Seq((1L, "council vote spam zzz"), (2L, "free cash")).toDF("id", "text")
    def rows(model: org.apache.spark.sql.DataFrame) =
      TextClassifier.scoreNaiveBayes(held, col("id"), col("text"), model)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getAs[Double]("score"), r.getLong(3))).toSet
    assert(rows(poisoned) == rows(m))
  }

  test("matches the independent in-memory model on random corpora (incl. alpha != 1)") {
    val rnd = new scala.util.Random(1742)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (trial <- 0 until 5; alpha <- Seq(1.0, 0.5)) {
      val labels = Vector("c0", "c1", "c2")
      def doc(): String =
        Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
      val train = Seq.fill(20)((labels(rnd.nextInt(3)), doc()))
      // ensure every label has at least one token-bearing doc
      val trainFull = train ++ labels.map(_ -> doc())
      val held = (0 until 12).map(i => (i.toLong, if (i == 11) "oovword only" else doc()))
      val (wantModel, wantPred) = naive(trainFull, held, alpha)

      val m = TextClassifier.trainNaiveBayes(trainFull.toDF("label", "text"),
        col("label"), col("text"), alpha).cache()
      val gotModel = m.select("label", "term", "n", "log_cond").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(gotModel.keySet == wantModel.keySet, s"trial $trial grid keys")
      gotModel.foreach { case (k, (n, lc)) =>
        assert(n == wantModel(k)._1, s"trial $trial count at $k")
        assert(math.abs(lc - wantModel(k)._2) < 1e-12, s"trial $trial log_cond at $k")
      }
      val gotPred = TextClassifier.classifyNaiveBayes(
          held.toDF("id", "text"), col("id"), col("text"), m)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(gotPred.map(p => (p._1, p._4)) == wantPred.map(p => (p._1, p._4)),
        s"trial $trial ids/token counts")
      gotPred.zip(wantPred).foreach { case (g, w) =>
        assert(math.abs(g._3 - w._3) < 1e-9, s"trial $trial score doc ${g._1}")
        // compare labels only when the naive top-2 margin is clear of
        // the rounding grid (q74 discipline: ties are label-determined,
        // sub-grid margins may legitimately differ in last-ulp sums)
        if (math.abs(g._3 - w._3) < 1e-9 && g._2 != w._2)
          fail(s"trial $trial pred mismatch doc ${g._1}: ${g._2} vs ${w._2} at equal score")
      }
      m.unpersist()
    }
  }

  test("sparse trainer: rows == dense.filter(n>0); full scoring path bit-equal") {
    // trainNaiveBayesSparse is the deployment trainer — it must be a
    // drop-in for every consumer. Pins (a) exact row equality with
    // the dense grid's observed slice on ALL shared columns, and (b)
    // bit-equal (id, pred_label, score, n_tokens) through
    // classifyNaiveBayes on both models.
    val rnd = new scala.util.Random(55119)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def doc(): String =
      Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" ")
    val labels = Vector("c0", "c1", "c2")
    val train = (Seq.fill(18)((labels(rnd.nextInt(3)), doc())) ++
      labels.map(_ -> doc()) :+ ("c0" -> "   ")) // empty doc: prior-only evidence
      .toDF("label", "text")
    val held = (0 until 8).map(i =>
      (i.toLong, if (i == 7) "oovonly zz" else doc())).toDF("id", "text")
    for (alpha <- Seq(1.0, 0.5)) {
      val dense = TextClassifier.trainNaiveBayes(train, col("label"), col("text"), alpha)
      val sparse = TextClassifier.trainNaiveBayesSparse(train, col("label"), col("text"), alpha)
      val shared = Seq("label", "term", "n", "tot_c", "n_docs_c", "vocab",
        "n_docs", "log_cond", "log_prior", "oov_ll")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(shared.map(col): _*).collect().map(_.toSeq).toSet
      assert(rows(sparse) == rows(dense.filter(col("n") > 0)), s"alpha $alpha grid")
      def preds(m: org.apache.spark.sql.DataFrame) =
        TextClassifier.classifyNaiveBayes(held, col("id"), col("text"), m)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getAs[Double]("score"), r.getLong(3))).toSet
      assert(preds(sparse) == preds(dense), s"alpha $alpha predictions")
      // same pin for the incremental path — trainFromStatsSparse is
      // what the streaming prequential sink rebuilds from every tick
      val stats = TextClassifier.nbSufficientStats(train, col("label"), col("text"))
      val fsDense = TextClassifier.trainFromStats(stats, alpha)
      val fsSparse = TextClassifier.trainFromStatsSparse(stats, alpha)
      assert(rows(fsSparse) == rows(fsDense.filter(col("n") > 0)),
        s"alpha $alpha stats grid")
      assert(preds(fsSparse) == preds(fsDense), s"alpha $alpha stats predictions")
    }
  }

  test("nbConfusion: cells count correctly and shares sum to 1 per true label") {
    val m = TextClassifier.trainNaiveBayes(planted.toDF("label", "text"),
      col("label"), col("text"))
    val held = Seq((1L, "budget vote"), (2L, "win free prize"),
      (3L, "council mayor"), (4L, "click offer")).toDF("id", "text")
    val truth = Seq((1L, "news"), (2L, "news"), (3L, "spam"), (4L, "spam"))
      .toDF("id", "src")
    val pred = TextClassifier.classifyNaiveBayes(held, col("id"), col("text"), m)
    val cm = TextClassifier.nbConfusion(pred, truth, col("id"), col("src"))
      .collect()
    assert(cm.map(_.getAs[Long]("n")).sum == 4L)
    val byTrue = cm.groupBy(_.getAs[String]("true_label"))
    byTrue.foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    }
    // the planted vocab is separable: news docs 1,2 -> news/spam as scored
    val newsRow = cm.find(r => r.getString(0) == "news" && r.getString(1) == "news")
    assert(newsRow.exists(_.getAs[Long]("n") == 1L)) // doc 1; doc 2 is spam-vocab
  }

  test("incremental stats: merge-then-train is bit-equal to one-shot training") {
    val rnd = new scala.util.Random(977)
    val words = Vector("w0", "w1", "w2", "w3", "w4", "w5", "w6", "w7")
    def doc(): String =
      Seq.fill(rnd.nextInt(7))(words(rnd.nextInt(words.size))).mkString(" ")
    val labels = Vector("x", "y", "z")
    val all = Seq.fill(30)((labels(rnd.nextInt(3)), doc())) ++
      Seq(("emptyonly", ""), ("emptyonly", "  ")) // token-less class
    val (b1, b2) = all.splitAt(11)
    def grid(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getAs[String]("label"), r.getAs[String]("term")) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("log_cond"),
            r.getAs[Long]("tot_c"), r.getAs[Long]("n_docs_c"),
            r.getAs[Long]("vocab"), r.getAs[Long]("n_docs"),
            r.getAs[Double]("log_prior"), r.getAs[Double]("oov_ll")))
      }.toMap

    val oneShot = grid(TextClassifier.trainNaiveBayes(
      all.toDF("label", "text"), col("label"), col("text")))
    val s1 = TextClassifier.nbSufficientStats(
      b1.toDF("label", "text"), col("label"), col("text"))
    val s2 = TextClassifier.nbSufficientStats(
      b2.toDF("label", "text"), col("label"), col("text"))
    val inc = grid(TextClassifier.trainFromStats(
      TextClassifier.mergeNbStats(s1, s2)))
    assert(inc == oneShot) // BIT-equal: counts are integers, same arithmetic
    // merge is order-invariant and associative
    val inc2 = grid(TextClassifier.trainFromStats(
      TextClassifier.mergeNbStats(s2, s1)))
    assert(inc2 == oneShot)
    val (b2a, b2b) = b2.splitAt(7)
    val inc3 = grid(TextClassifier.trainFromStats(TextClassifier.mergeNbStats(
      TextClassifier.mergeNbStats(
        TextClassifier.nbSufficientStats(b2a.toDF("label", "text"), col("label"), col("text")),
        s1),
      TextClassifier.nbSufficientStats(b2b.toDF("label", "text"), col("label"), col("text")))))
    assert(inc3 == oneShot)
    // token-less class: absent from the grid, but its docs dilute priors
    assert(!oneShot.keySet.exists(_._1 == "emptyonly"))
    assert(oneShot.values.head._6 == all.size.toLong) // n_docs counts them
  }

  test("nbConfidenceReport: margin bands, tie docs in band 0, exact accuracy") {
    val m = TextClassifier.trainNaiveBayes(planted.toDF("label", "text"),
      col("label"), col("text"))
    // two high-margin docs (separable vocab) + two all-OOV docs whose
    // class scores TIE exactly (identical priors and oov floors) ->
    // margin 0.0, predicted "news" by tie-break
    val held = Seq((1L, "mayor council budget"), (2L, "win prize click"),
      (3L, "zzz qqq"), (4L, "xxx yyy")).toDF("id", "text")
    val truth = Seq((1L, "news"), (2L, "spam"), (3L, "news"), (4L, "spam"))
      .toDF("id", "src")
    val got = TextClassifier.nbConfidenceReport(held, col("id"), col("text"),
        m, truth, col("src"))
      .orderBy("band_lo").collect()
    val zero = got.find(_.getDouble(0) == 0.0).get
    // both OOV docs: margin exactly 0; one truth matches the tie-break
    assert(zero.getAs[Long]("n_docs") == 2L &&
      zero.getAs[Long]("n_correct") == 1L &&
      zero.getAs[Double]("accuracy") == 0.5)
    // the separable docs land in SOME higher band, both correct
    val high = got.filter(_.getDouble(0) > 0.0)
    assert(high.map(_.getAs[Long]("n_docs")).sum == 2L &&
      high.map(_.getAs[Long]("n_correct")).sum == 2L)
    // bands contract: must be ascending from 0.0
    intercept[IllegalArgumentException] {
      TextClassifier.nbConfidenceReport(held, col("id"), col("text"), m,
        truth, col("src"), bands = Seq(0.1, 0.5))
    }
  }

  test("classifierGate: label set + inclusive threshold, empty docs never pass, full rows") {
    val m = TextClassifier.trainNaiveBayes(planted.toDF("label", "text"),
      col("label"), col("text"))
    // id 1 news-vocab, id 2 spam-vocab, id 3 all-OOV (ties -> "news"
    // by label tie-break), id 4 empty (no tokens -> no prediction)
    val docs = Seq((1L, "mayor council budget", "a"),
      (2L, "win prize click", "b"), (3L, "zzz qqq", "c"), (4L, "", "d"))
      .toDF("id", "text", "extra")
    def gate(labels: Seq[String], min: Double): Map[Long, (String, String)] =
      TextClassifier.classifierGate(docs, col("id"), col("text"), m,
          labels, min)
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("pred_label"), r.getAs[String]("extra")))).toMap
    // loose threshold, both labels: everything with tokens passes;
    // the empty doc NEVER does (no evidence -> no admission)
    val all = gate(Seq("news", "spam"), -100.0)
    assert(all.keySet == Set(1L, 2L, 3L))
    assert(all(1L) == (("news", "a")) && all(2L) == (("spam", "b")) &&
      all(3L)._1 == "news") // OOV tie broke to "news"
    // label set restricts: spam-only drops 1 and 3
    assert(gate(Seq("spam"), -100.0).keySet == Set(2L))
    // threshold is INCLUSIVE on the rounded score: gating at exactly
    // id 1's score keeps id 1
    val s1 = TextClassifier.classifyNaiveBayes(docs, col("id"), col("text"), m)
      .filter(col("id") === 1L).collect()(0).getAs[Double]("score")
    assert(gate(Seq("news"), s1).keySet.contains(1L))
    // and a threshold one grid step above it drops id 1
    assert(!gate(Seq("news"), s1 + 1e-6).keySet.contains(1L))
    // empty keepLabels is a contract violation
    intercept[IllegalArgumentException] {
      TextClassifier.classifierGate(docs, col("id"), col("text"), m,
        Seq.empty, 0.0)
    }
  }

  test("nbMetricsReport: exact counts, total F1 form, never-predicted class rows") {
    // hand-built predictions (no model): 3 classes, c is never predicted
    val pred = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"), (5L, "b"))
      .toDF("id", "pred_label")
    val truth = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "c"), (5L, "c"))
      .toDF("id", "src")
    val got = TextClassifier.nbMetricsReport(pred, truth, col("id"), col("src"))
      .orderBy("label").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    val a = got(0); val b = got(1); val c = got(2)
    // a: tp=1, n_pred=3, n_true=1
    assert((a.getAs[Long]("tp"), a.getAs[Long]("n_pred"), a.getAs[Long]("n_true"))
      == ((1L, 3L, 1L)))
    assert(a.getAs[Double]("precision") == 0.333333) // round6(1/3)
    assert(a.getAs[Double]("recall") == 1.0)
    assert(math.abs(a.getAs[Double]("f1") - 0.5) < 1e-12) // 2*1/(3+1)
    // b: tp=1, n_pred=2, n_true=2 -> p=r=f1=0.5
    assert(b.getAs[Double]("f1") == 0.5 && b.getAs[Double]("precision") == 0.5)
    // c: never predicted -> precision 0 (not NaN, not missing), recall 0
    assert((c.getAs[Long]("tp"), c.getAs[Long]("n_pred"), c.getAs[Long]("n_true"))
      == ((0L, 0L, 2L)))
    assert(c.getAs[Double]("precision") == 0.0 && c.getAs[Double]("recall") == 0.0
      && c.getAs[Double]("f1") == 0.0)
  }
}
