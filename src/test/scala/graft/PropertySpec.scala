package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{AsOf, Chunking, LineDedup, NearDup, Packing}

/** Randomized invariants for the operators whose correctness rests on
  * order/partitioning discipline — the places example tests can miss
  * an interleaving. Plain scalacheck (no scalatestplus bridge in the
  * offline cache), fixed sample counts, loud failures.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(prop: Prop, n: Int = 20): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(r.passed, r.status.toString)
  }

  test("property: packByTokenBudget == sequential prefix sum, any partitioning") {
    val gen = for {
      n <- Gen.choose(1, 120)
      toks <- Gen.listOfN(n, Gen.choose(0L, 50L))
      parts <- Gen.choose(1, 12)
      budget <- Gen.choose(1L, 200L)
    } yield (toks, parts, budget)
    check(Prop.forAll(gen) { case (toks, parts, budget) =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "n_tokens").repartition(parts)
      val got = Packing.packByTokenBudget(df, Seq(col("id")), col("n_tokens"), budget)
        .orderBy("id").collect()
        .map(r => (r.getAs[Long]("prefix_tokens"), r.getAs[Long]("pack_id")))
      var cum = 0L
      val want = toks.map { t => val p = cum; cum += t; (p, p / budget) }
      got.toSeq == want
    }, n = 15)
  }

  test("property: fused MinHashSig == explode+agg on random token soups") {
    val word = Gen.oneOf("alpha", "beta", "Gamma", "δelta", "x1", "", " ")
    val gen = for {
      n <- Gen.choose(0, 25)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    check(Prop.forAll(Gen.listOfN(12, gen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val a = NearDup.minhashSignaturesComposite(df, "doc_id", col("text"))
        .orderBy("doc_id").collect().toSeq
      val b = NearDup.minhashSignaturesFused(df, "doc_id", col("text"))
        .orderBy("doc_id").collect().toSeq
      a == b
    }, n = 10)
  }

  /** Driver-side union-find ground truth: node → min id reachable. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private val graphGen = for {
    nodes <- Gen.choose(2, 24)
    m <- Gen.choose(1, 40)
    pairs <- Gen.listOfN(m,
      Gen.zip(Gen.choose(0L, nodes - 1L), Gen.choose(0L, nodes - 1L)))
  } yield (nodes.toLong, pairs.filter { case (a, b) => a != b })

  test("property: connectedComponents == driver union-find on random graphs") {
    // The CC fixed-point is the most intricate loop in the repo
    // (delta propagation + pointer jump + self-row invariant); this
    // pins it to a 15-line driver union-find on arbitrary topologies —
    // chains, cliques, stars, disjoint mixes — that the planted-graph
    // example specs cannot enumerate.
    check(Prop.forAll(graphGen) { case (_, pairs) =>
      (pairs.isEmpty) || {
        val want = unionFind(pairs)
        // default path: broadcast-delta rounds (delta always fits on
        // these graphs); maxBroadcastDelta=0 forces every round down
        // the shuffle shape — both must match the ground truth
        val got = NearDup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val gotShuffle = NearDup.connectedComponents(
            pairs.toDF("doc_a", "doc_b"), maxBroadcastDelta = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == want && gotShuffle == want
      }
    }, n = 8)
  }

  test("property: CC flips shuffle→broadcast MID-LOOP and still matches union-find") {
    // The union-find pin drives both round shapes via gate 0 vs the
    // default, but neither run ever CHANGES shape inside one loop —
    // the exact transition a production 100× run takes when the delta
    // shrinks through the gate. Self-calibrating witness: measure the
    // delta sequence once (gate 0 = all shuffle), set the gate between
    // the observed extremes, re-run, and require both shapes to occur
    // with the gate honored round-by-round and labels == union-find.
    val chain = (0L until 96L).sliding(2).map(s => (s(0), s(1))).toSeq
    val want = unionFind(chain)
    def run(gate: Long): (Map[Long, Long], Seq[(Long, Boolean)]) = {
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      // thread-local hook (r17): the loop fires it on this thread, so
      // no thread-id filter is needed and concurrent suites can't
      // clobber each other's listener
      NearDup.ccRoundListener.set(Some((_, d, b) => rounds += ((d, b))))
      try {
        val got = NearDup.connectedComponents(chain.toDF("doc_a", "doc_b"),
            maxBroadcastDelta = gate).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (got, rounds.toSeq)
      } finally NearDup.ccRoundListener.remove()
    }
    val (allShuffle, observed) = run(0L)
    assert(allShuffle == want)
    assert(observed.nonEmpty && observed.forall(!_._2))
    val ds = observed.map(_._1)
    assert(ds.max > ds.min, s"degenerate delta sequence $ds")
    val gate = (ds.max + ds.min) / 2
    val (got, rounds) = run(gate)
    assert(got == want)
    assert(rounds.exists(!_._2) && rounds.exists(_._2),
      s"no mid-loop flip at gate=$gate: rounds=$rounds")
    rounds.foreach { case (d, b) =>
      assert(b == (d <= gate), s"shape disobeyed gate=$gate at delta=$d") }
    // and randomized: a tiny mid-gate on arbitrary topologies (most
    // runs flip somewhere) never perturbs the fixpoint
    check(Prop.forAll(graphGen) { case (_, pairs) =>
      pairs.isEmpty || {
        NearDup.connectedComponents(pairs.toDF("doc_a", "doc_b"),
            maxBroadcastDelta = 3L).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap == unionFind(pairs)
      }
    }, n = 6)
  }

  test("property: dropNearDuplicatesTransitive keeps exactly each component's min") {
    check(Prop.forAll(graphGen) { case (n, pairs) =>
      (pairs.isEmpty) || {
        val comp = unionFind(pairs)
        val ids = 0L until n
        val want = ids.filter(i => comp.get(i).forall(_ == i)).toSet
        val df = ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")
        val kept = NearDup.dropNearDuplicatesFromLabelsBy(df, "doc_id",
            NearDup.connectedComponents(pairs.toDF("doc_a", "doc_b")),
            -col("doc_id"))
          .select("doc_id").collect().map(_.getLong(0)).toSet
        kept == want
      }
    }, n = 8)
  }

  // -- line-dedup rebuilds vs naive per-doc models ---------------------
  // Docs are random soups over a tiny line alphabet (lots of forced
  // cross-doc repeats, empty lines, occasional null text — the r11
  // contract: null text survives as empty text, not a dropped doc).
  private val lineDocsGen: Gen[List[(Long, Option[String])]] = {
    val line = Gen.oneOf("alpha", "beta", "gamma", "", "x y", "tail ")
    val doc = for {
      k <- Gen.choose(0, 8)
      ls <- Gen.listOfN(k, line)
    } yield ls.mkString("\n")
    for {
      d <- Gen.choose(1, 10)
      docs <- Gen.listOfN(d, Gen.frequency(9 -> doc.map(Some(_)),
        1 -> Gen.const(None)))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("property: removeRepeatedLines == naive corpus count model") {
    check(Prop.forAll(Gen.zip(lineDocsGen, Gen.choose(2, 3))) {
      case (docs, minRepeat) =>
        // split with limit -1: Spark's split keeps trailing empties
        val split = docs.map { case (i, t) =>
          (i, t.map(_.split("\n", -1).toSeq).getOrElse(Nil))
        }
        val counts = split.flatMap(_._2).groupBy(identity).map {
          case (l, occ) => (l, occ.size)
        }
        val want = split.map { case (i, ls) =>
          i -> ls.filter(l => counts(l) < minRepeat).mkString("\n")
        }.toMap
        val df = docs.toDF("doc_id", "text")
        val got = LineDedup.removeRepeatedLines(df, "doc_id", col("text"),
            minRepeat = minRepeat)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        got == want
    }, n = 15)
  }

  test("property: dedupLinesWithinDoc == naive first-occurrence model") {
    check(Prop.forAll(lineDocsGen) { docs =>
      val want = docs.map { case (i, t) =>
        i -> t.map(_.split("\n", -1).toSeq.distinct.mkString("\n")).getOrElse("")
      }.toMap
      val got = LineDedup.dedupLinesWithinDoc(
          docs.toDF("doc_id", "text"), "doc_id", col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == want
    }, n = 15)
  }

  test("property: asofBackward == naive latest-at-or-before lookup") {
    // The union + last-ignoring-nulls window formulation hides the
    // subtle cases: right row AT the left timestamp (inclusive), null
    // payload VALUE inside the latest right row (must be preserved,
    // not skipped to an earlier row... see __p struct), null key/ord
    // on the LEFT (never matches), several left rows at one (key, ord).
    val gen = for {
      nr <- Gen.choose(0, 12)
      rights <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 3L),
        Gen.choose(0L, 12L), Gen.option(Gen.choose(0L, 99L))))
      nl <- Gen.choose(1, 15)
      lefts <- Gen.listOfN(nl, Gen.zip(
        Gen.frequency(9 -> Gen.choose(0L, 3L).map(Option(_)), 1 -> Gen.const(None)),
        Gen.frequency(9 -> Gen.choose(0L, 12L).map(Option(_)), 1 -> Gen.const(None))))
    } yield (rights.groupBy(r => (r._1, r._2)).values.map(_.head).toList,
      lefts.zipWithIndex.map { case ((k, o), i) => (i.toLong, k, o) })
    check(Prop.forAll(gen) { case (rights, lefts) =>
      val want = lefts.map { case (rid, k, o) =>
        rid -> (for {
          kk <- k; oo <- o
          best <- rights.filter(r => r._1 == kk && r._2 <= oo)
            .sortBy(_._2).lastOption
        } yield best._3).flatten
      }.toMap
      val ldf = lefts.toDF("rid", "k", "o")
      val rdf = rights.toDF("k", "ord", "pay")
      val got = AsOf.asofBackward(ldf, rdf, Seq("k"), "o", "ord", Seq("pay"))
        .select("rid", "pay").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      got == want
    }, n = 15)
  }

  test("property: chunkByTokens slices == spec model, any window/overlap") {
    val gen = for {
      window <- Gen.choose(1, 8)
      overlap <- Gen.choose(0, window - 1)
      docs <- Gen.listOfN(6, Gen.choose(0, 20).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))))
    } yield (window, overlap, docs.zipWithIndex.map {
      case (ws, i) => (i.toLong, ws.mkString(" ")) })
    check(Prop.forAll(gen) { case (window, overlap, docs) =>
      val stride = window - overlap
      val want = docs.flatMap { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty).toSeq
        if (ws.isEmpty) Nil
        else (0 to math.max(ws.length - overlap - 1, 0) by stride).zipWithIndex
          .map { case (start, idx) =>
            (id, idx.toLong, ws.slice(start, start + window).mkString(" "),
              math.min(window, ws.length - start).toLong)
          }
      }.toSet
      val got = Chunking.chunkByTokens(docs.toDF("doc_id", "text"),
          "doc_id", col("text"), window = window, overlap = overlap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
      got == want
    }, n = 15)
  }

  test("property: removeRepeatedWindows == naive Lee-et-al coverage model") {
    // Hash-keyed windows, coverage explode, anti-join rebuild — checked
    // against the literal definition: strip every token covered by a
    // w-window occurring in >= 2 DISTINCT docs. A 4-word alphabet
    // forces heavy cross-doc window collisions; short docs (< w
    // tokens) and empty docs must come back untouched.
    val gen = for {
      w <- Gen.choose(2, 4)
      docs <- Gen.listOfN(6, Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))))
    } yield (w, docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) })
    check(Prop.forAll(gen) { case (w, docs) =>
      // tokens() is split(lower(trim(text)), "\\s+"): an empty doc
      // yields ONE empty token, exactly like Java split with limit -1
      val toks = docs.map { case (i, t) =>
        (i, t.trim.toLowerCase.split("\\s+", -1).toSeq)
      }
      val winsByDoc = toks.map { case (i, ws) =>
        (i, if (ws.length >= w) ws.sliding(w).map(_.mkString(" ")).toSeq else Nil)
      }
      val repeated = winsByDoc.flatMap { case (i, wins) => wins.distinct.map((_, i)) }
        .groupBy(_._1).collect { case (win, occ) if occ.size >= 2 => win }.toSet
      val want = toks.map { case (i, ws) =>
        val wins = winsByDoc.find(_._1 == i).get._2
        val covered = wins.zipWithIndex.collect {
          case (win, p) if repeated(win) => p until (p + w)
        }.flatten.toSet
        val kept = ws.zipWithIndex.collect { case (t, p) if !covered(p) => t }
        i -> (kept.mkString(" "), (ws.length - kept.length).toLong)
      }.toMap
      val got = NearDup.removeRepeatedWindows(
          docs.toDF("doc_id", "text"), "doc_id", col("text"), w = w)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      got == want
    }, n = 15)
  }

  test("property: LabelStore batched merges == one-shot CC over all pairs") {
    // The incremental-CC invariant under ARBITRARY batch tilings:
    // random pair batches — including cross-batch bridges, repeats,
    // and batches of brand-new nodes — merged sequentially must land
    // on exactly the labels a one-shot union-find over every pair
    // assigns. Generalizes GraphSpec's hand-crafted bridge case.
    val gen = for {
      nb <- Gen.choose(1, 3)
      batches <- Gen.listOfN(nb, Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L))
          .suchThat { case (a, b) => a != b }))
    } yield batches
    check(Prop.forAll(gen) { batches =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ls_prop").toString + "/store"
      try {
        batches.foreach(b => graft.ops.LabelStore.merge(spark, dir,
          b.toDF("doc_a", "doc_b"), buckets = 4))
        val got = graft.ops.LabelStore.read(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == unionFind(batches.flatten)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir).getParentFile)
      }
    }, n = 6)
  }

  test("property: leakageSafeSplit never separates a labeled component") {
    // The op's whole contract: two docs sharing a dedup component MUST
    // land on the same split side, for any component topology and any
    // weight vector; unlabeled docs fall back to per-doc assignment.
    val gen = for {
      n <- Gen.choose(2, 30)
      pairs <- Gen.listOf(Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L))
        .suchThat { case (a, b) => a != b })
      wTrain <- Gen.choose(0.5, 0.9)
    } yield (n.toLong, pairs.filter { case (a, b) => a < n && b < n },
      wTrain)
    check(Prop.forAll(gen) { case (n, pairs, wTrain) =>
      val rest = (1.0 - wTrain) / 2
      val weights = Seq("train" -> wTrain, "val" -> rest, "test" -> rest)
      val comp = unionFind(pairs)
      val labels = comp.toSeq.toDF("node", "component")
      val df = (0L until n).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val split = graft.ops.Sampling.leakageSafeSplit(df, "doc_id", labels, weights)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      split.size == n && split.values.forall(_ != null) &&
        comp.groupBy(_._2).values.forall(members =>
          members.map(m => split(m._1)).toSet.size == 1)
    }, n = 15)
  }

  test("property: redactPii is idempotent and non-PII text is untouched") {
    // A redaction pass over already-redacted text must be a fixed
    // point (placeholders must not re-match any pattern — the fixed
    // email→IP→digit order exists for exactly this), and text with no
    // PII must round-trip byte-identical.
    val word = Gen.oneOf("call", "me", "at", "the", "office",
      "a1b2", "x.y", "user@host.com", "10.0.0.1", "123456789",
      "12345678901234", "+1 555 867 5309")
    val gen = Gen.listOfN(8, Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
    check(Prop.forAll(gen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val once = df.select(col("id"),
        graft.ops.Redact.redactPii(col("text")).as("text"))
      val twice = once.select(col("id"),
        graft.ops.Redact.redactPii(col("text")).as("text"))
      val a = once.orderBy("id").collect().map(_.getString(1)).toSeq
      val b = twice.orderBy("id").collect().map(_.getString(1)).toSeq
      // clean subsequence: the same soups with the PII words stripped
      // must round-trip byte-identical. "123456789" stays on the CLEAN
      // side on purpose: it is below DigitRunRe's 13-digit floor, so
      // keeping it pins the floor — an over-aggressive \d{9,} regression
      // would rewrite it and fail here.
      val pii = Set("user@host.com", "10.0.0.1", "12345678901234",
        "+1 555 867 5309")
      val clean = texts.map(_.split(" ").filterNot(pii).mkString(" "))
      val cdf = clean.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val cleanOut = cdf.select(col("id"),
          graft.ops.Redact.redactPii(col("text")).as("text"))
        .orderBy("id").collect().map(_.getString(1)).toSeq
      a == b && cleanOut == clean
    }, n = 12)
  }

  test("property: bloomPrefilteredAntiJoin == plain anti join, any fpp traffic") {
    // The sketch is a PREFILTER, not the answer: false positives only
    // route rows through the residual exact join, so the result must
    // be multiset-identical to the plain anti join for any workload —
    // including duplicate fresh rows and tiny sketches (high fpp).
    val gen = for {
      fresh <- Gen.listOf(Gen.choose(0L, 40L))
      seen <- Gen.listOf(Gen.choose(0L, 40L))
      fpp <- Gen.oneOf(0.01, 0.3)
    } yield (fresh, seen, fpp)
    check(Prop.forAll(gen) { case (fresh, seen, fpp) =>
      (fresh.isEmpty || seen.isEmpty) || {
        val fdf = fresh.toDF("k")
        val sdf = seen.toDF("k")
        val got = graft.ops.Dedup.bloomPrefilteredAntiJoin(
            fdf, "k", sdf, expectedItems = seen.size.toLong, fpp = fpp)
          .collect().map(_.getLong(0)).sorted.toSeq
        val want = fresh.filterNot(seen.toSet).sorted
        got == want
      }
    }, n = 15)
  }

  test("property: int8 quantize roundtrip error bounded by scale/254") {
    val gen = Gen.listOfN(6, Gen.choose(2, 12).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-10.0, 10.0).map(_.toFloat))
        .suchThat(v => v.exists(x => math.abs(x) > 1e-3))))
    check(Prop.forAll(gen) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "vec")
        .withColumn("scale", graft.vector.Quantize.scaleOf(col("vec")))
      val out = df
        .withColumn("q", graft.vector.Quantize.quantize(col("vec"), col("scale")))
        .withColumn("dq", graft.vector.Quantize.dequantize(col("q"), col("scale")))
        .orderBy("id").collect()
      out.forall { r =>
        val v = r.getSeq[Float](1)
        val scale = r.getDouble(2)
        val q = r.getSeq[Long](3)
        val dq = r.getSeq[Float](4)
        q.forall(x => x >= -127 && x <= 127) &&
          v.indices.forall(i =>
            math.abs(dq(i) - v(i)) <= scale / 254.0 + 1e-5)
      }
    }, n = 15)
  }

  test("property: resampleByWeight emits floor/ceil consecutive copies, deterministically") {
    // Per key: copy ids must be exactly 0..n-1 with n in
    // {floor(w), floor(w)+1}; an INTEGER weight pins n == w exactly
    // (zero fractional mass); and a second invocation is identical
    // (the salted hash is content-addressed, not RNG).
    val gen = for {
      w <- Gen.oneOf(0.0, 0.5, 1.0, 1.7, 2.0, 3.25)
      keys <- Gen.nonEmptyListOf(Gen.choose(0L, 50L)).map(_.distinct)
    } yield (w, keys)
    check(Prop.forAll(gen) { case (w, keys) =>
      val df = keys.map(k => (k, s"d$k")).toDF("id", "text")
      def run() = graft.ops.SourceMix.resampleByWeight(df, col("id"), lit(w))
        .select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1)))
      val out = run()
      val byKey = out.groupBy(_._1).map { case (k, rows) =>
        k -> rows.map(_._2).sorted.toSeq }
      val fl = math.floor(w).toLong
      val structural = byKey.values.forall(copies =>
        copies == (0L until copies.length) &&
          (copies.length == fl || copies.length == fl + 1)) &&
        keys.forall(k => byKey.get(k).map(_.length.toLong).getOrElse(0L) >= fl)
      val exactInt = (w != math.floor(w)) ||
        keys.forall(k => byKey.get(k).map(_.length.toLong).getOrElse(0L) == fl)
      structural && exactInt && (out.sorted.toSeq == run().sorted.toSeq)
    }, n = 12)
  }

  test("property: temperatureWeights == the closed-form n^a / sum(n^a)") {
    val gen = for {
      a <- Gen.oneOf(0.3, 0.5, 0.7, 1.0)
      counts <- Gen.nonEmptyListOf(Gen.choose(1, 200)).map(_.take(6))
    } yield (a, counts)
    check(Prop.forAll(gen) { case (a, counts) =>
      val rows = counts.zipWithIndex.flatMap { case (n, s) =>
        (0 until n).map(_ => s"src$s") }
      val df = rows.toDF("source")
      val got = graft.ops.SourceMix.temperatureWeights(df, col("source"), a)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(3))).toMap
      val s = counts.map(n => math.pow(n, a)).sum
      counts.zipWithIndex.forall { case (n, i) =>
        val (gn, gq) = got(s"src$i")
        gn == n.toLong &&
          math.abs(gq - math.pow(n, a) / s) < 1e-6 + 1e-9
      } && math.abs(got.values.map(_._2).sum - 1.0) < 1e-4
    }, n = 12)
  }

  test("property: pageRank == naive power iteration on random digraphs") {
    // The r12 loop rewrite (AQE paused, pre-partitioned stationary
    // sides, one job per iteration) must not have changed semantics:
    // rank'(v) = (1-d)/N + d·Σ_{u→v} rank(u)/outdeg(u), per-iteration
    // HALF_UP rounding at 1e-9, dangling mass leaking — checked
    // against a literal driver-side power iteration. Comparison uses
    // a 1.1e-6 tolerance: the per-iteration 1e-9 rounding is
    // order-dependent at exact .5 boundaries (scaladoc), while a
    // formula regression would miss by orders of magnitude more.
    val gen = for {
      nodes <- Gen.choose(1, 12)
      m <- Gen.choose(0, 25)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, nodes - 1L), Gen.choose(0L, nodes - 1L)))
      iters <- Gen.choose(1, 4)
    } yield (edges, iters)
    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    check(Prop.forAll(gen) { case (edges, iters) =>
      val d = 0.85
      val got = graft.ops.Graph.pageRank(
          edges.toDF("src", "dst"), iterations = iters, damping = d)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      if (edges.isEmpty) got.isEmpty
      else {
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        val n = nodes.length
        val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
        var rank = nodes.map(_ -> r9(1.0 / n)).toMap
        for (_ <- 1 to iters) {
          val in = edges.groupBy(_._2).map { case (v, es) =>
            v -> es.map { case (u, _) => rank(u) / outDeg(u) }.sum }
          rank = nodes.map(v =>
            v -> r9((1 - d) / n + d * in.getOrElse(v, 0.0))).toMap
        }
        // within the rounding-tie tolerance of the naive model
        got.keySet == nodes.toSet &&
          nodes.forall(v => math.abs(got(v) - rank(v)) <= 1.1e-6)
      }
    }, n = 8)
  }

  test("property: decontaminate == naive shared-shingle-count filter") {
    // A corpus doc survives iff it shares fewer than minShared
    // DISTINCT word n-grams with the benchmark union — including the
    // short-doc (< n tokens → no shingles → always survives) and
    // repeated-shingle (distinct, not occurrence, counting) contracts.
    val soup = Gen.choose(0, 10).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" ")))
    val gen = for {
      n <- Gen.choose(2, 3)
      minShared <- Gen.choose(1L, 2L)
      corpus <- Gen.listOfN(6, soup)
      bench <- Gen.listOfN(2, soup)
    } yield (n, minShared, corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      bench.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    check(Prop.forAll(gen) { case (n, minShared, corpus, bench) =>
      def sh(t: String): Set[String] = {
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < n) Set.empty
        else ws.sliding(n).map(_.mkString(" ")).toSet
      }
      val benchSh = bench.flatMap(b => sh(b._2)).toSet
      val want = corpus.collect {
        case (i, t) if (sh(t) & benchSh).size < minShared => i
      }.toSet
      val corpusDf = corpus.toDF("doc_id", "text")
      val flagged = graft.ops.Decontaminate.contaminationReport(
          corpusDf, "doc_id", col("text"),
          bench.toDF("bench_id", "btext"), col("btext"), n = n)
        .filter(col("n_shared") >= minShared).select("doc_id")
      val got = corpusDf.join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      got == want
    }, n = 15)
  }

  // Model tokenizer for the four pins below — must replicate
  // NearDup.tokens exactly: split(lower(trim(text)), "\\s+") yields
  // [""] for blank input (trim first, so no leading/trailing empties).
  private def modelTokens(t: String): Seq[String] = {
    val s = t.trim.toLowerCase(java.util.Locale.ROOT)
    if (s.isEmpty) Seq("") else s.split("\\s+").toSeq
  }
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("property: bm25TopK == naive in-memory BM25 on random corpora") {
    // Pins the distributed decomposition (filtered tf table, broadcast
    // df/totals, TakeOrdered cut) against the textbook per-doc formula,
    // including the blank-doc dl=1 artifact and the only-matched-docs
    // output contract. k exceeds any corpus so the cut can't hide a
    // scoring error; scores compare at 2e-6 (sum order vs 6dp round).
    val word = Gen.oneOf("dup", "vector", "hash", "alpha", "beta", "x1")
    val doc = for {
      n <- Gen.choose(0, 12); ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val terms = Seq("dup", "vector", "hash")
    val (k1, b) = (1.2, 0.75)
    check(Prop.forAll(Gen.choose(1, 25).flatMap(Gen.listOfN(_, doc))) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = graft.ops.Bm25.bm25TopK(df, "id", col("text"), terms, k = 1000)
        .collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      val toks = docs.map(modelTokens)
      val dls = toks.map(_.size.toDouble)
      val nDocs = docs.size
      val avgdl = dls.sum / nDocs
      val dfreq = terms.map(t => t -> toks.count(_.contains(t))).toMap
      val want = docs.indices.flatMap { i =>
        val matched = terms.filter(toks(i).contains)
        if (matched.isEmpty) None
        else {
          val s = matched.map { t =>
            val tf = toks(i).count(_ == t).toDouble
            val idf = math.log(1.0 + (nDocs - dfreq(t) + 0.5) / (dfreq(t) + 0.5))
            idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dls(i) / avgdl))
          }.sum
          Some(i.toLong -> ((round6(s), matched.size.toLong)))
        }
      }.toMap
      got.keySet == want.keySet && want.forall { case (id, (s, n)) =>
        math.abs(got(id)._1 - s) <= 2e-6 && got(id)._2 == n
      }
    }, n = 10)
  }

  test("property: reciprocalRankFusion == naive rank model on random pools") {
    // Pins the per-pool rank windows + full-outer fuse against the
    // plain definition: rank by (score desc, id asc) in each pool,
    // score = Σ 1/(k+rank), n_rankers = pools containing the id.
    // Coarse scores (1dp) force cross-id ties so the id tie-break and
    // the missing-from-one-pool coalesce both get exercised.
    val pool = for {
      n <- Gen.choose(1, 15)
      ids <- Gen.pick(n, 0L until 20L)
      scores <- Gen.listOfN(n, Gen.choose(0, 50).map(_ / 10.0))
    } yield ids.toSeq.zip(scores)
    val gen = Gen.choose(2, 3).flatMap(Gen.listOfN(_, pool))
    check(Prop.forAll(gen) { pools =>
      val dfs = pools.map(_.toDF("id", "score"))
      val got = graft.ops.Fusion
        .reciprocalRankFusion(dfs, "id", k = 60, topK = 100)
        .collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
      val contribs = pools.map { p =>
        p.sortBy { case (id, s) => (-s, id) }.zipWithIndex
          .map { case ((id, _), r) => id -> (1.0 / (60 + r + 1)) }.toMap
      }
      val ids = contribs.flatMap(_.keySet).toSet
      val want = ids.map { id =>
        val cs = contribs.flatMap(_.get(id))
        id -> ((round6(cs.sum), cs.size))
      }.toMap
      got.keySet == want.keySet && want.forall { case (id, (s, n)) =>
        math.abs(got(id)._1 - s) <= 2e-6 && got(id)._2 == n
      }
    }, n = 10)
  }

  test("property: sourceVocabOverlap == naive top-V vocabulary model") {
    // Pins the per-source top-V window (count desc, word asc) and the
    // DENSE pair grid: zero-overlap pairs report 0; a source whose
    // docs are all blank has no vocab and drops out of the grid
    // entirely. Small topV exercises the cut mid-vocabulary.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(0, 6).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val gen = for {
      nSrc <- Gen.choose(2, 4)
      topV <- Gen.choose(1, 4)
      docs <- Gen.listOfN(nSrc, Gen.choose(1, 6).flatMap(Gen.listOfN(_, doc)))
    } yield (topV, docs.zipWithIndex.flatMap { case (ds, s) => ds.map(("s" + s, _)) })
    check(Prop.forAll(gen) { case (topV, rows) =>
      val df = rows.toDF("source", "text")
      val got = graft.ops.CorpusReports
        .sourceVocabOverlap(df, col("source"), col("text"), topV = topV)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val vocab = rows.groupBy(_._1).map { case (s, ds) =>
        val wc = ds.flatMap(d => modelTokens(d._2)).filter(_.nonEmpty)
          .groupBy(identity).map { case (w, o) => (w, o.size) }
        s -> wc.toSeq.sortBy { case (w, c) => (-c, w) }.take(topV).map(_._1).toSet
      }.filter(_._2.nonEmpty)
      val want = (for {
        a <- vocab.keys; b <- vocab.keys if a < b
        i = (vocab(a) & vocab(b)).size.toLong
        na = vocab(a).size; nb = vocab(b).size
      } yield (a, b) -> ((i, round6(i.toDouble / (na + nb - i))))).toMap
      got.keySet == want.keySet && want.forall { case (k, (i, j)) =>
        got(k)._1 == i && math.abs(got(k)._2 - j) <= 1e-9
      }
    }, n = 10)
  }

  test("property: sourcePairMatrix == naive unordered-pair count model") {
    // Pins the two id joins + least/greatest fold: each pair ROW
    // (duplicates count) whose both endpoints resolve in meta lands in
    // exactly one unordered source cell; unresolvable ids drop (inner
    // join contract). Diagonal cells (same source both sides) ride the
    // same path.
    val gen = for {
      nIds <- Gen.choose(4, 20)
      srcs <- Gen.listOfN(nIds, Gen.oneOf("s0", "s1", "s2"))
      metaKeep <- Gen.listOfN(nIds, Gen.frequency(4 -> true, 1 -> false))
      nPairs <- Gen.choose(0, 25)
      pairs <- Gen.listOfN(nPairs, for {
        x <- Gen.choose(0, nIds - 1); y <- Gen.choose(0, nIds - 1)
      } yield (math.min(x, y).toLong, math.max(x, y).toLong))
    } yield (srcs.zipWithIndex.collect { case (s, i) if metaKeep(i) => (i.toLong, s) },
      pairs)
    check(Prop.forAll(gen) { case (meta, pairs) =>
      val pairsDf = pairs.toDF("doc_a", "doc_b")
      val metaDf = meta.toDF("doc_id", "source")
      val got = graft.ops.CorpusReports
        .sourcePairMatrix(pairsDf, metaDf, "doc_id", col("source"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val srcOf = meta.toMap
      val want = pairs.flatMap { case (a, b) =>
        for (sa <- srcOf.get(a); sb <- srcOf.get(b))
          yield if (sa <= sb) (sa, sb) else (sb, sa)
      }.groupBy(identity).map { case (k, o) => k -> o.size.toLong }
      got == want
    }, n = 12)
  }

  test("property: simhash == naive sha-vote model at 16 and 64 bits") {
    // Pins the chunked hex decode (conv in ≤8-nibble pieces, chunk 0
    // most significant) and the ±1 vote aggregation against the plain
    // definition: bit i of the fingerprint is set iff the sum over the
    // token MULTISET of (bit i of the first bits/4 sha256 nibbles,
    // mapped to ±1) is positive — including the signed-long
    // reinterpretation of bit 63 and the [""] token of a blank doc.
    val word = Gen.oneOf("alpha", "beta", "Gamma", "δelta", "x1", "")
    val doc = Gen.choose(0, 8).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    def modelFp(text: String, bits: Int): Long = {
      val nNibs = bits / 4
      val votes = new Array[Int](bits)
      modelTokens(text).foreach { w =>
        val v = BigInt(sha256Hex(w).take(nNibs), 16)
        (0 until bits).foreach(i => votes(i) += (if (v.testBit(i)) 1 else -1))
      }
      (0 until bits).filter(votes(_) > 0)
        .map(i => if (i == 63) Long.MinValue else 1L << i)
        .foldLeft(0L)(_ | _)
    }
    check(Prop.forAll(Gen.choose(1, 8).flatMap(Gen.listOfN(_, doc))) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      Seq(16, 64).forall { bits =>
        val got = NearDup.simhash(df, "doc_id", col("text"), bits)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        docs.indices.forall(i => got(i.toLong) == modelFp(docs(i), bits))
      }
    }, n = 8)
  }

  test("property: fused SimHashFp == explode+agg composite at 16 and 64 bits") {
    // the fused kernel must be BIT-equivalent to the original chunked
    // conv decode + vote aggregate (which the q15/q65/q86 oracles
    // mirror), including whitespace runs, unicode case, blank docs,
    // and null-text docs (fused filters nulls; composite's explode
    // drops them — both must emit no row)
    val word = Gen.oneOf("alpha", "beta", "Gamma", "δelta", "x1", "", "ß", "\tt")
    val textGen = for {
      n <- Gen.choose(0, 8)
      ws <- Gen.listOfN(n, word)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n")
    } yield ws.mkString(sep)
    val gen = Gen.listOfN(8, Gen.frequency(
      9 -> textGen, 1 -> Gen.const(null: String)))
    check(Prop.forAll(gen) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      Seq(16, 64).forall { bits =>
        val f = NearDup.simhash(df, "doc_id", col("text"), bits)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val c = NearDup.simhashComposite(df, "doc_id", col("text"), bits)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        f == c
      }
    }, n = 10)
  }

  test("property: simhashHammingPairs == brute-force popcount (pigeonhole exact)") {
    // The band equi-join promises recall 1.0 for maxHamming < nBands:
    // on clustered random fingerprints (bases + ≤6 flipped bits, so
    // both near and far pairs occur) the banded join must return
    // EXACTLY the all-pairs popcount-≤3 set, with the right distances.
    val gen = for {
      nBase <- Gen.choose(1, 4)
      bases <- Gen.listOfN(nBase, Gen.choose(Long.MinValue, Long.MaxValue))
      n <- Gen.choose(2, 20)
      docs <- Gen.listOfN(n, for {
        b <- Gen.choose(0, nBase - 1)
        k <- Gen.choose(0, 6)
        flips <- Gen.listOfN(k, Gen.choose(0, 63))
      } yield flips.foldLeft(bases(b))((fp, i) => fp ^ (1L << i)))
    } yield docs
    check(Prop.forAll(gen) { fps =>
      val df = fps.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
        .toDF("doc_id", "simhash")
      val got = NearDup.simhashHammingPairs(df, "doc_id", col("simhash"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        a <- fps.indices; b <- fps.indices if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
      } yield (a.toLong, b.toLong, h)).toSet
      got == want
    }, n = 12)
  }

  test("property: importanceScoresHashed == naive hashed unigram+bigram LLR model") {
    // Pins DSIR's bounded-vocabulary path end to end: feature ids =
    // non-empty tokens PLUS adjacent bigrams, each pmod(first-8-sha256-
    // hex, buckets); add-one smoothing over the UNION bucket space;
    // per-doc mean LLR. Small bucket counts force collisions, so the
    // pin covers the collision-folding the scale path relies on;
    // feature-less (blank) docs must drop from the output.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "")
    val doc = Gen.choose(0, 6).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val gen = for {
      raw <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, doc))
      tgt <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, doc))
      buckets <- Gen.oneOf(7, 64, 4096)
    } yield (raw, tgt, buckets)
    check(Prop.forAll(gen) { case (raw, tgt, buckets) =>
      val rdf = raw.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val tdf = tgt.toDF("text")
      val got = graft.ops.Dsir
        .importanceScoresHashed(rdf, tdf, "id", col("text"), buckets)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      def feats(t: String): Seq[Long] = {
        val ws = modelTokens(t).filter(_.nonEmpty)
        val fs = ws ++ (if (ws.size >= 2)
          ws.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty)
        fs.map(f => (BigInt(sha256Hex(f).take(8), 16) % buckets).toLong)
      }
      val rinst = raw.indices.map(i => i.toLong -> feats(raw(i)))
      val nr = rinst.flatMap(_._2).groupBy(identity).map { case (k, o) => k -> o.size }
      val nt = tgt.flatMap(feats).groupBy(identity).map { case (k, o) => k -> o.size }
      val vocab = nr.keySet ++ nt.keySet
      val (tr, tt, v) = (nr.values.sum, nt.values.sum, vocab.size)
      def llr(f: Long): Double =
        math.log((nt.getOrElse(f, 0) + 1.0) / (tt + v)) -
          math.log((nr.getOrElse(f, 0) + 1.0) / (tr + v))
      val want = rinst.collect { case (id, fs) if fs.nonEmpty =>
        id -> ((fs.size.toLong, round6(fs.map(llr).sum / fs.size)))
      }.toMap
      got.keySet == want.keySet && want.forall { case (id, (n, s)) =>
        got(id)._1 == n && math.abs(got(id)._2 - s) <= 2e-6
      }
    }, n = 10)
  }

  test("property: topPhrases == naive sliding n-gram counts, n in 2..5") {
    // Pins the aligned-slices zip_with construction (slice i drops the
    // first i tokens; position j joins tokens j..j+n-1) against plain
    // sliding windows — off-by-ones here produce phrases that LOOK
    // plausible, so a model pin beats examples. Docs shorter than n
    // must contribute nothing; ties cut by (count desc, phrase asc).
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.choose(0, 9).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val gen = for {
      n <- Gen.choose(2, 5)
      k <- Gen.choose(1, 12)
      docs <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, doc))
    } yield (n, k, docs)
    check(Prop.forAll(gen) { case (n, k, docs) =>
      val df = docs.toDF("text")
      val got = graft.ops.CorpusReports
        .topPhrases(df, col("text"), n = n, k = k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val counts = docs.flatMap { d =>
        val ws = modelTokens(d).filter(_.nonEmpty)
        if (ws.size < n) Seq.empty else ws.sliding(n).map(_.mkString(" ")).toSeq
      }.groupBy(identity).map { case (p, o) => (p, o.size.toLong) }
      val want = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(k)
      got == want
    }, n = 12)
  }

  test("property: prefixContainmentPairs == naive anchor+containment model") {
    // Pins the anchor equi-join decomposition against the definition:
    // normalized full-string containment among docs sharing the first
    // anchorTokens tokens, ordered (shorter, or same-length smaller-id)
    // → (contained, container), with the anchor-frequency skew gate
    // dropping hot anchors ENTIRELY. A 3-word alphabet forces anchor
    // collisions and natural prefix containment; maxAnchorFreq 2/3
    // exercises the gate mid-data.
    val word = Gen.oneOf("aa", "bb", "cc")
    val doc = Gen.choose(0, 8).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val gen = for {
      docs <- Gen.choose(3, 10).flatMap(Gen.listOfN(_, doc))
      maxF <- Gen.oneOf(2, 3, 1000)
    } yield (docs, maxF)
    check(Prop.forAll(gen) { case (docs, maxF) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = NearDup
        .prefixContainmentPairs(df, "doc_id", col("text"),
          anchorTokens = 2, maxAnchorFreq = maxF)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val rows = docs.zipWithIndex.flatMap { case (t, i) =>
        val norm = t.trim.toLowerCase(java.util.Locale.ROOT)
        val ws = norm.split("\\s+").filter(_.nonEmpty)
        if (ws.length >= 2) Some((i.toLong, norm, ws.take(2).mkString(" ")))
        else None
      }
      val freq = rows.groupBy(_._3).map { case (a, o) => a -> o.size }
      val base = rows.filter(r => freq(r._3) <= maxF)
      val want = (for {
        a <- base; b <- base
        if a._3 == b._3
        if a._2.length < b._2.length ||
          (a._2.length == b._2.length && a._1 < b._1)
        if b._2.contains(a._2)
      } yield (a._1, b._1,
        if (a._2.length == b._2.length) "equal" else "contained")).toSet
      got == want
    }, n = 12)
  }

  test("property: removeBoilerplateLines == naive distinct-doc count model") {
    // DISTINCT-doc counting (a line repeated 10× inside ONE doc is not
    // boilerplate), blank lines never count but always survive, the
    // positional rebuild keeps within-doc duplicates of non-boiler
    // lines, and null-text / all-boiler docs come back as "".
    val line = Gen.oneOf("header", "footer", "body1", "body2", "", "  ")
    val doc = Gen.frequency(
      5 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, line)).map(_.mkString("\n")),
      1 -> Gen.const(null: String))
    val gen = for {
      minDocs <- Gen.choose(2L, 3L)
      docs <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, doc))
    } yield (minDocs, docs)
    check(Prop.forAll(gen) { case (minDocs, docs) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis
        .removeBoilerplateLines(df, "doc_id", col("text"), minDocs)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val docLines = docs.map(t =>
        if (t == null) Array.empty[String] else t.split("\n", -1))
      val boiler = docLines.zipWithIndex
        .flatMap { case (ls, i) => ls.filter(_.trim.nonEmpty).distinct.map((_, i)) }
        .groupBy(_._1).collect { case (l, o) if o.size >= minDocs => l }.toSet
      val want = docs.indices.map { i =>
        i.toLong -> docLines(i)
          .filterNot(l => l.trim.nonEmpty && boiler(l)).mkString("\n")
      }.toMap
      got == want
    }, n = 12)
  }

  /** Driver-side replica of CosineSimilarity.nullSafeEval — same
    * accumulation order, so doubles are bit-identical and HALF_UP
    * rounding cannot diverge at a boundary. */
  private def cosModel(a: Seq[Float], b: Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Driver-side replica of Ivf's first-wins squared-L2 argmin. */
  private def nearestCellModel(v: Seq[Float], cents: Seq[Seq[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    cents.indices.foreach { c =>
      var d = 0.0; var i = 0
      val n = math.min(v.length, cents(c).length)
      while (i < n) {
        val t = v(i).toDouble - cents(c)(i).toDouble; d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
    }
    best
  }

  private val vecGen: Gen[Seq[Float]] =
    Gen.listOfN(4, Gen.choose(-64, 64).map(_ / 16f)).map(_.toSeq)

  test("property: gumbelTopK == closed-form driver model, any partitioning") {
    // The Gumbel key is a pure function of (salt, id, score, T):
    // key = score/T − log(−log(u)), u = (sha32(salt:id)+1)/2^32+1 —
    // so the WHOLE operator has a driver-side closed form. Pins
    // partition/order invariance (repartitioned input, same page) and
    // monotonicity-in-score for free (the model is monotone in score
    // at fixed salt/T by construction).
    val gen = for {
      n <- Gen.choose(1, 40)
      scores <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
      k <- Gen.choose(1, 12)
      temp <- Gen.oneOf(0.5, 1.0, 2.0)
      salt <- Gen.oneOf("dsir", "s2", "a:b", "")
      parts <- Gen.choose(1, 8)
    } yield (scores, k, temp, salt, parts)
    check(Prop.forAll(gen) { case (scores, k, temp, salt, parts) =>
      val df = scores.zipWithIndex.map { case (sc, i) => (i.toLong, sc) }
        .toDF("id", "score").repartition(parts)
      val got = graft.ops.Dsir.gumbelTopK(df, "id", col("score"), k,
          temperature = temp, salt = salt)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val want = scores.zipWithIndex.map { case (sc, i) =>
        val hex = md.digest(s"$salt:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        val h = java.lang.Long.parseLong(hex, 16)
        val u = (h + 1.0) / 4294967297.0
        val key = sc / temp + -math.log(-math.log(u))
        (i.toLong, key)
      }.sortBy { case (id, key) => (-key, id) }.take(k)
        .map { case (id, key) =>
          (id, java.math.BigDecimal.valueOf(key)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
        }
      got == want
    }, n = 15)
  }

  test("property: ivfTopK == exact top-k within probed cells (driver model)") {
    val gen = for {
      n <- Gen.choose(1, 30)
      vecs <- Gen.listOfN(n, vecGen)
      nc <- Gen.choose(1, 5)
      cents <- Gen.listOfN(nc, vecGen)
      q <- vecGen
      k <- Gen.choose(1, 8)
      nProbe <- Gen.choose(1, 5)
    } yield (vecs, cents, q, k, math.min(nProbe, cents.length))
    check(Prop.forAll(gen) { case (vecs, cents, q, k, nProbe) =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "embedding")
      val centsArr = cents.map(_.toArray).toArray
      val got = graft.vector.Ivf.ivfTopK(df, "id", "embedding",
          q.toArray, k, centsArr, nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // model: nProbe nearest cells by (d2, cid), members by first-wins
      // argmin, then brute-force rounded cosine ordered (-score, id)
      val probes = cents.indices.map { c =>
        var d = 0.0; var i = 0
        val nn = math.min(q.length, cents(c).length)
        while (i < nn) {
          val t = q(i).toDouble - cents(c)(i).toDouble; d += t * t; i += 1
        }
        (c, d)
      }.sortBy { case (c, d) => (d, c) }.take(nProbe).map(_._1).toSet
      val want = vecs.zipWithIndex
        .filter { case (v, _) => probes(nearestCellModel(v, cents)) }
        .map { case (v, i) =>
          (i.toLong, java.math.BigDecimal.valueOf(cosModel(v, q))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
        }
        .sortBy { case (id, sc) => (-sc, id) }.take(k)
      got == want
    }, n = 12)
  }

  test("property: knnClassify (exact + cell path) == naive vote model") {
    val labelGen = Gen.oneOf("a", "b", "c")
    val gen = for {
      n <- Gen.choose(2, 24)
      rows <- Gen.listOfN(n, Gen.zip(vecGen, labelGen))
      k <- Gen.choose(1, 6)
      nc <- Gen.choose(1, 4)
      cents <- Gen.listOfN(nc, vecGen)
      m <- Gen.choose(1, n)
    } yield (rows, k, cents, m)
    // shared vote model: top = (neighborId, neighborLabel, score) rows
    // already cut to k by (-score, nid); returns (pred, nVotes)
    def vote(top: Seq[(Long, String)]): (String, Long) = {
      val counts = top.groupBy(_._2).map { case (l, v) => (l, v.size.toLong) }
      counts.toSeq.sortBy { case (l, c) => (-c, l) }.head match {
        case (l, c) => (l, c)
      }
    }
    check(Prop.forAll(gen) { case (rows, k, cents, m) =>
      val corpus = rows.zipWithIndex
        .map { case ((v, l), i) => (i.toLong, v, l) }
        .toDF("id", "embedding", "label")
      // --- exact leave-one-out path over the first m rows as queries
      val queries = rows.take(m).zipWithIndex
        .map { case ((v, l), i) => (i.toLong, v, l) }
        .toDF("id", "embedding", "label")
      val gotE = graft.vector.KnnClassify
        .knnClassify(corpus, "id", "embedding", "label", queries, k)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getBoolean(4))).toSeq
      def r6j(d: Double): Double = java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val wantE = rows.take(m).zipWithIndex.map { case ((qv, ql), qi) =>
        val top = rows.zipWithIndex
          .filter { case (_, ni) => ni != qi }
          .map { case ((nv, nl), ni) => (ni.toLong, nl, r6j(cosModel(nv, qv))) }
          .sortBy { case (nid, _, sc) => (-sc, nid) }.take(k)
          .map { case (nid, nl, _) => (nid, nl) }
        val (pred, nv) = vote(top)
        (qi.toLong, ql, pred, nv, pred == ql)
      }.sortBy(_._1)
      // --- cell path over the whole corpus; singleton cells emit no row
      val gotC = graft.vector.KnnClassify
        .knnClassifyCells(corpus, "id", "embedding", "label",
          graft.vector.FlatQuantizer(cents.map(_.toArray).toArray), k)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getBoolean(4))).toSeq
      val cellOf = rows.zipWithIndex
        .map { case ((v, _), i) => i.toLong -> nearestCellModel(v, cents) }
        .toMap
      val wantC = rows.zipWithIndex.flatMap { case ((qv, ql), qi) =>
        val top = rows.zipWithIndex
          .filter { case (_, ni) =>
            ni != qi && cellOf(ni.toLong) == cellOf(qi.toLong) }
          .map { case ((nv, nl), ni) => (ni.toLong, nl, r6j(cosModel(nv, qv))) }
          .sortBy { case (nid, _, sc) => (-sc, nid) }.take(k)
          .map { case (nid, nl, _) => (nid, nl) }
        if (top.isEmpty) None
        else {
          val (pred, nv) = vote(top)
          Some((qi.toLong, ql, pred, nv, pred == ql))
        }
      }.sortBy(_._1)
      gotE == wantE && gotC == wantC
    }, n = 10)
  }

  test("property: fused HashedNgramFeatures == Column composite on random text") {
    // the fused kernel must be BIT-equivalent to the original
    // tokens→bigrams→sha2/conv/pmod composite (q92's oracle derives
    // the same buckets from the composite's construction)
    val word = Gen.oneOf("alpha", "beta", "Gamma", "δelta", "x1", "", " ",
      "\tt", "ÅBC", "ß")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, word)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n")
    } yield ws.mkString(sep)
    val gen = for {
      texts <- Gen.listOfN(10, Gen.frequency(
        9 -> textGen, 1 -> Gen.const(null: String)))
      buckets <- Gen.oneOf(2, 7, 4096)
    } yield (texts, buckets)
    check(Prop.forAll(gen) { case (texts, buckets) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val both = df.select(col("id"),
          graft.ops.Dsir.hashedNgramFeatures(col("text"), buckets).as("f"),
          graft.ops.Dsir.hashedNgramFeaturesComposite(col("text"), buckets).as("c"))
        .collect()
      both.forall { r =>
        val f = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        val c = if (r.isNullAt(2)) null else r.getSeq[Long](2)
        f == c
      }
    }, n = 15)
  }

  test("property: estimatedJaccardPairs == naive band+agreement model, both widths") {
    // One shape (signatures ride the band self-join) at two widths:
    // numHashes=4 is the oracle-checked width, numHashes=16 has eight
    // bands. Tiny hash alphabet forces band collisions and partial
    // agreement.
    val hash = Gen.oneOf("aa", "bb", "cc")
    val gen = for {
      numHashes <- Gen.oneOf(4, 16)
      n <- Gen.choose(2, 12)
      sigs <- Gen.listOfN(n, Gen.listOfN(numHashes, hash))
      minEst <- Gen.oneOf(0.0, 0.5)
    } yield (numHashes, sigs, minEst)
    check(Prop.forAll(gen) { case (numHashes, sigs, minEst) =>
      val cols = "doc_id" +: (0 until numHashes).map(j => s"mh$j")
      val rows = sigs.zipWithIndex.map { case (s, i) =>
        org.apache.spark.sql.Row.fromSeq(i.toLong +: s)
      }
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false) +:
        (0 until numHashes).map(j => org.apache.spark.sql.types.StructField(
          s"mh$j", org.apache.spark.sql.types.StringType, nullable = false)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema)
      val got = graft.ops.NearDup
        .estimatedJaccardPairs(df, "doc_id", numHashes, 2, minEst)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val nBands = numHashes / 2
      def bands(s: Seq[String]): Seq[String] =
        (0 until nBands).map(b => s"$b|${s(2 * b)}|${s(2 * b + 1)}")
      val want = (for {
        i <- sigs.indices; j <- sigs.indices
        if i < j && bands(sigs(i)).intersect(bands(sigs(j))).nonEmpty
        agree = (0 until numHashes).count(h => sigs(i)(h) == sigs(j)(h))
        est = BigDecimal(agree.toDouble / numHashes)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if est >= minEst
      } yield (i.toLong, j.toLong, est)).toSet
      got == want
    }, n = 12)
  }

  test("property: mmrRerank == naive greedy model at every lambda") {
    // q111's greedy is the one non-SQL-expressible operator (rows-only
    // driver check; q137 oracle-covers lambda=1 only) — pin the FULL
    // greedy (redundancy term, tie-breaks, null vectors) against an
    // independently-written naive model on random pools, with discrete
    // score/vector alphabets so exact mmr ties actually occur.
    val vecD = Gen.listOfN(3, Gen.oneOf(-1f, 0f, 1f)).map(_.toArray)
    val gen = for {
      n <- Gen.choose(1, 18)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.oneOf(0.0, 0.5, 1.0),
        Gen.frequency(9 -> vecD.map(Option(_)), 1 -> Gen.const(None))))
      lambda <- Gen.oneOf(0.0, 0.3, 0.7, 1.0)
      k <- Gen.choose(1, 8)
    } yield (rows, lambda, k)
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      if (a.length != b.length || a.isEmpty) return 0.0
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    check(Prop.forAll(gen) { case (rows, lambda, k) =>
      val df = rows.zipWithIndex
        .map { case ((sc, v), i) => (i.toLong, sc, v.orNull) }
        .toDF("id", "score", "vec")
      val got = graft.ops.Fusion.mmrRerank(df, "id", "vec",
          lambda = lambda, k = k)
        .orderBy(col("mmr_rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // independent greedy: max over remaining of
      // lambda*rel - (1-lambda)*maxCosToPicked, ties to smaller id
      case class C(id: Long, rel: Double, vec: Array[Double])
      val pool = rows.zipWithIndex.map { case ((sc, v), i) =>
        C(i.toLong, sc, v.map(_.map(_.toDouble)).getOrElse(Array.empty))
      }
      val picked = scala.collection.mutable.ArrayBuffer.empty[C]
      val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
      while (picked.length < math.min(k, pool.length)) {
        val best = remaining.minBy { c =>
          // NO lambda=1 shortcut here: with finite cosines
          // (1-1.0)*red == 0.0 exactly, so the unconditional form is
          // the independent check of the engine's skip optimization
          val red = if (picked.isEmpty) 0.0
            else picked.map(p => cosD(c.vec, p.vec)).max
          (-(lambda * c.rel - (1 - lambda) * red), c.id)
        }
        picked += best
        remaining -= best
      }
      val want = picked.zipWithIndex
        .map { case (c, i) => (c.id, (i + 1).toLong, c.rel) }.toSeq
      got == want
    }, n = 15)
  }

  test("property: mmrRerankLarge == mmrRerank (passthrough + lambda=1 pruned)") {
    // Two guarantees of the distributed MMR page: (1) a pool within
    // maxPool bypasses the prune — identical output to the plain
    // greedy at ANY lambda; (2) at lambda=1 the LSH-cell prune is
    // EXACT for pools of any size (every global relevance-top row is
    // a top row of its own cell, so the page contains the greedy's
    // whole selection) — pinned against the unpruned greedy given a
    // corpus-sized maxPool.
    val vecD = Gen.listOfN(4, Gen.oneOf(-1f, 0f, 1f)).map(_.toArray)
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, Gen.zip(
        // null-score arm: unrankable rows must be DROPPED identically
        // by both paths (r15 contract), never NPE or sort arbitrarily
        Gen.frequency(9 -> Gen.choose(0, 100).map(x => Option(x / 100.0)),
          1 -> Gen.const(None: Option[Double])),
        Gen.frequency(9 -> vecD.map(Option(_)), 1 -> Gen.const(None))))
      lambda <- Gen.oneOf(0.0, 0.3, 0.7, 1.0)
      k <- Gen.choose(1, 5)
    } yield (rows, lambda, k)
    check(Prop.forAll(gen) { case (rows, lambda, k) =>
      val df = rows.zipWithIndex
        .map { case ((sc, v), i) => (i.toLong, sc, v.orNull) }
        .toDF("id", "score", "vec")
      def snap(d: org.apache.spark.sql.DataFrame) =
        d.orderBy(col("mmr_rank")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // (1) passthrough: pool fits maxPool=10000 at every lambda
      val small = snap(graft.ops.Fusion.mmrRerankLarge(
        df, "id", "vec", lambda = lambda, k = k))
      val plain = snap(graft.ops.Fusion.mmrRerank(
        df, "id", "vec", lambda = lambda, k = k))
      // (2) lambda=1 with a maxPool that FORCES the prune (nPlanes=2
      // → 5 cells; maxPool = 5*k keeps exactly k per cell)
      val prunedOk = rows.length <= 5 * k || {
        val pruned = snap(graft.ops.Fusion.mmrRerankLarge(
          df, "id", "vec", lambda = 1.0, k = k,
          maxPool = 5 * k, nPlanes = 2))
        val unpruned = snap(graft.ops.Fusion.mmrRerank(
          df, "id", "vec", lambda = 1.0, k = k))
        pruned == unpruned
      }
      small == plain && prunedOk
    }, n = 10)
  }

  test("property: Sessionize.byGap == naive per-key gap-split model") {
    val gen = for {
      n <- Gen.choose(1, 60)
      evs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 300L)))
      gap <- Gen.choose(1L, 100L)
      parts <- Gen.choose(1, 8)
    } yield (evs, gap, parts)
    check(Prop.forAll(gen) { case (evs, gap, parts) =>
      val df = evs.zipWithIndex
        .map { case ((k, ms), i) => (k, ms, i.toLong) }
        .toDF("user_id", "ts_ms", "event_id").repartition(parts)
      val got = graft.ops.Sessionize
        .byGap(df, "user_id", "ts_ms", "event_id", gap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val want = evs.zipWithIndex
        .map { case ((k, ms), i) => (k, ms, i.toLong) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (k, ks) =>
          val ordered = ks.sortBy { case (_, ms, tie) => (ms, tie) }
          val sessions = scala.collection.mutable.ArrayBuffer
            .empty[scala.collection.mutable.ArrayBuffer[Long]]
          var prev = Long.MinValue
          ordered.foreach { case (_, ms, _) =>
            if (sessions.isEmpty || ms - prev > gap)
              sessions += scala.collection.mutable.ArrayBuffer(ms)
            else sessions.last += ms
            prev = ms
          }
          sessions.zipWithIndex.map { case (ss, si) =>
            (k, (si + 1).toLong, ss.size.toLong, ss.min, ss.max)
          }
        }
      got == want
    }, n = 15)
  }

  test("Sessionize.byGap rejects reserved names in ANY role, not just as extra columns") {
    // A key literally named "n" would emit duplicate output columns
    // (group key n + count().as("n")); a ts named "new_s" is clobbered
    // mid-plan. The require must catch reserved names used AS
    // key/ts/tie, not only as bystander columns.
    val df = Seq((1L, 10L, 0L)).toDF("n", "ts_ms", "event_id")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Sessionize.byGap(df, "n", "ts_ms", "event_id", 5L)
    }
    assert(e.getMessage.contains("reserved"))
    val df2 = Seq((1L, 10L, 0L)).toDF("user_id", "new_s", "event_id")
    intercept[IllegalArgumentException] {
      graft.ops.Sessionize.byGap(df2, "user_id", "new_s", "event_id", 5L)
    }
  }

  test("property: fused RepetitionStats == array-combinator composite") {
    // One string pass must reproduce the dupTokenFrac/dupBigramFrac
    // Column composite EXACTLY (same doubles) — including the
    // unfiltered-token contract (empty edge tokens from tabs/newlines
    // COUNT, a blank doc is [""] with dup_tok_frac 0), repeated
    // tokens/bigrams, unicode case, and single-token docs.
    val word = Gen.oneOf("alpha", "beta", "beta", "Gamma", "δelta", "x1", "ß")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, word)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n")
      pad <- Gen.oneOf("", " ", "\t")
    } yield pad + ws.mkString(sep) + pad
    // the null arm pins the kernel's documented null contract (null
    // text → null struct, matching the composite's null propagation)
    val gen = Gen.choose(1, 8).flatMap(Gen.listOfN(_,
      Gen.frequency(9 -> textGen, 1 -> Gen.const(null: String))))
    check(Prop.forAll(gen) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val fused = df
        .withColumn("__r", graft.ops.TextAnalysis.repetitionStats(col("text")))
        .select(col("doc_id"), col("__r.dup_tok_frac"), col("__r.dup_bigram_frac"))
        .collect().map(r => r.getLong(0) -> (d(r, 1), d(r, 2))).toMap
      val comp = df
        .withColumn("__w", graft.ops.NearDup.tokens(col("text")))
        .select(col("doc_id"),
          graft.ops.TextAnalysis.dupTokenFrac(col("__w")),
          graft.ops.TextAnalysis.dupBigramFrac(col("__w")))
        .collect().map(r => r.getLong(0) -> (d(r, 1), d(r, 2))).toMap
      fused == comp
    }, n = 12)
  }

  test("property: fused GopherStats == explode+agg+join composite") {
    // The fused kernel must reproduce the composite's raw metrics
    // EXACTLY (same doubles, same dropped zero-token docs, same null
    // tbf for single-token docs) across tokenization edge cases:
    // whitespace runs, tabs/newlines, unicode case and letters,
    // repeated tokens (top-word/top-bigram multiplicity), blank and
    // null docs, single-token docs.
    val word = Gen.oneOf("alpha", "beta", "beta", "Gamma", "δelta",
      "x1", "42", "...", "ß", "İstanbul")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, word)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
      pad <- Gen.oneOf("", " ", "\t", "  ")
    } yield pad + ws.mkString(sep) + pad
    val gen = Gen.choose(1, 8).flatMap(Gen.listOfN(_,
      Gen.frequency(9 -> textGen, 1 -> Gen.const(null: String))))
    check(Prop.forAll(gen) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def snap(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
      val fused = snap(graft.ops.TextAnalysis
        .gopherRawMetrics(df, "doc_id", col("text")))
      val comp = snap(graft.ops.TextAnalysis
        .gopherRawMetricsComposite(df, "doc_id", col("text")))
      fused == comp
    }, n = 12)
  }

  // ---- BPE: random histograms vs the shared NaiveBpe reference
  // (BpeSpec pins fixed corpora + the real fixture; these drive random
  // overlap runs — "aaa…" words are generated often by the tiny
  // alphabet — through the representation-independent model) ----

  test("property: BPE trainMerges + tokenizeWord == naive separator-string model on random histograms") {
    import graft.ops.Bpe
    val wordGen = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val gen = for {
      k <- Gen.choose(1, 20)
      words <- Gen.listOfN(k, wordGen)
      counts <- Gen.listOfN(k, Gen.choose(1L, 9L))
      nMerges <- Gen.choose(1, 10)
    } yield (words.distinct.zip(counts), nMerges)
    check(Prop.forAll(gen) { case (hist, nMerges) =>
      val got = Bpe.trainMerges(hist, nMerges)
      val want = NaiveBpe.train(hist, nMerges)
      val pairs = got.map(m => (m.left, m.right))
      got.map(m => (m.left, m.right, m.pairCount)) == want &&
        hist.forall { case (w, _) =>
          val t = Bpe.tokenizeWord(w, pairs)
          t == NaiveBpe.tokenize(w, pairs) && t.mkString == w
        }
    }, n = 40)
  }

  test("property: PQ encode/ADC == naive model on random vectors and codebooks") {
    import graft.vector.Pq
    // random geometry + random float data through the DATAFRAME path:
    // codes must equal the naive per-subspace argmin (first-wins ties),
    // and ADC-LUT distance must equal exact L2 to the decoded
    // reconstruction (the PQ identity) — for ANY codebook, not just
    // trained ones.
    val gen = for {
      m <- Gen.choose(1, 4)
      dsub <- Gen.choose(1, 4)
      k <- Gen.choose(1, 5)
      nv <- Gen.choose(1, 12)
      mkF = Gen.choose(-64, 64).map(i => i / 16.0f)
      cbs <- Gen.listOfN(m, Gen.listOfN(k, Gen.listOfN(dsub, mkF)))
      vecs <- Gen.listOfN(nv, Gen.listOfN(m * dsub, mkF))
      q <- Gen.listOfN(m * dsub, mkF)
    } yield (cbs.map(_.map(_.toArray).toArray).toArray, vecs, q.toArray)
    check(Prop.forAll(gen) { case (cbs, vecs, query) =>
      val model = Pq.PqModel(cbs(0)(0).length, cbs)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val lut = Pq.adcLutFlat(query, model)
      val out = Pq.encode(df, col("embedding"), model)
        .withColumn("__adc", Pq.adcDist(col("pq_codes"), lut.toSeq, model.k))
        .withColumn("__dec", Pq.l2Sq(Pq.decode(col("pq_codes"), model),
          typedlit(query.toSeq)))
        .collect().map(r => (r.getLong(0), r.getSeq[Int](2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1)
      out.forall { case (id, codes, adc, dec) =>
        val v = vecs(id.toInt)
        val naive = cbs.indices.map { s =>
          val off = s * model.dsub
          cbs(s).indices.minBy { c =>
            (cbs(s)(c).indices.map { j =>
              val t = v(off + j).toDouble - cbs(s)(c)(j).toDouble; t * t
            }.sum, c)
          }
        }
        codes == naive && math.abs(adc - dec) < 1e-9
      }
    }, n = 30)
  }

  test("property: trainCodebooksAdaptive == naive strided seeds + N Lloyd rounds on random corpora") {
    import graft.vector.Pq
    // the distributed adaptive trainer (strided corpus-spread seeds,
    // grid-snapped Lloyd means, empty-code fallback to the PREVIOUS
    // round) against a sequential driver model — for random geometry,
    // random data, and random iteration counts, not just the q174
    // fixture's shape. Bit-for-bit on the float codebooks.
    def naiveEncode(v: IndexedSeq[Float],
        cbs: Array[Array[Array[Float]]]): Array[Int] =
      Array.tabulate(cbs.length) { s =>
        val off = s * cbs(s)(0).length
        var best = 0; var bestD = Double.MaxValue
        for (c <- cbs(s).indices) {
          var d = 0.0
          for (j <- cbs(s)(c).indices if off + j < v.length) {
            val t = v(off + j).toDouble - cbs(s)(c)(j).toDouble; d += t * t
          }
          if (d < bestD) { bestD = d; best = c }
        }
        best
      }
    def naiveLloyd(rows: IndexedSeq[IndexedSeq[Float]],
        cbs: Array[Array[Array[Float]]]): Array[Array[Array[Float]]] = {
      val m = cbs.length; val k = cbs(0).length; val dsub = cbs(0)(0).length
      val sums = Array.fill(m, k, dsub)(0.0)
      val cnts = Array.fill(m, k)(0L)
      rows.foreach { v =>
        val codes = naiveEncode(v, cbs)
        for (s <- 0 until m) {
          cnts(s)(codes(s)) += 1
          for (j <- 0 until dsub)
            sums(s)(codes(s))(j) += v(s * dsub + j).toDouble
        }
      }
      Array.tabulate(m, k) { (s, c) =>
        if (cnts(s)(c) == 0) cbs(s)(c).clone()
        else Array.tabulate(dsub) { j =>
          BigDecimal(sums(s)(c)(j) / cnts(s)(c))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble.toFloat
        }
      }
    }
    val gen = for {
      m <- Gen.choose(1, 3)
      dsub <- Gen.choose(1, 3)
      k <- Gen.choose(2, 4)
      nv <- Gen.choose(k, k + 10) // dense ids 0..nv-1, nv >= k seeds
      iters <- Gen.choose(0, 2)
      mkF = Gen.choose(-64, 64).map(i => i / 16.0f)
      vecs <- Gen.listOfN(nv, Gen.listOfN(m * dsub, mkF))
    } yield (m, k, iters, vecs.map(_.toIndexedSeq).toIndexedSeq)
    check(Prop.forAll(gen) { case (m, k, iters, vecs) =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val trained = Pq.trainCodebooksAdaptive(df, "vec_id", "embedding",
        m, k, iters = iters)
      val nv = vecs.length
      val dsub = trained.dsub
      var naive: Array[Array[Array[Float]]] = Array.tabulate(m, k) { (s, c) =>
        val sid = (c.toLong * nv / k).toInt
        vecs(sid).slice(s * dsub, (s + 1) * dsub).toArray
      }
      (0 until iters).foreach(_ => naive = naiveLloyd(vecs, naive))
      (0 until m).forall { s =>
        (0 until k).forall { c =>
          trained.codebooks(s)(c).toSeq == naive(s)(c).toSeq
        }
      }
    }, n = 10)
  }
}
