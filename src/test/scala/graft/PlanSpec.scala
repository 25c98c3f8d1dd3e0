package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** Physical-plan assertions: the scale properties SURVEY §4.3 promises
  * (filter/column pushdown to parquet, broadcast joins for bounded
  * sides, whole-stage codegen in the hot path) must hold structurally,
  * not by luck. Plans are inspected at sf0.001.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Registry.byName(name).fn(spark, sf)
    df.collect() // finalize AQE so codegen stages are visible
    df.queryExecution.executedPlan.toString
  }

  /** String-typed attributes crossing any shuffle exchange of the
    * query's physical plan (AQE disabled so the full exchange tree is
    * inspectable pre-execution). Guards the "no exchange carries
    * window text" repair on the exact-substring family. */
  private def shuffledStringAttrs(name: String): Set[String] = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Registry.byName(name).fn(spark, sf)
      df.queryExecution.executedPlan.collect {
        // Round-robin exchanges are Par.widen's gated §2.5 repair for
        // unsplittable small inputs: they move each payload byte ONCE
        // and self-disable at scale (the gate never fires on a scan
        // that is already parallel). The property pinned by callers is
        // about KEYED shuffles — window strings / doc text riding a
        // hash or range exchange, which multiplies or re-keys corpus
        // bytes — so widen exchanges are exempt here. Exempt ONLY
        // widen's shape (round-robin DIRECTLY above a scan stage — no
        // exchange anywhere below it; r22, r21 ADVICE): an
        // unconditional mid-plan repartition shipping text after a
        // shuffle boundary stays pinned.
        case e: ShuffleExchangeExec
            if !(e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
              e.child.collect { case x: ShuffleExchangeExec => x }.isEmpty) =>
          e.output.filter(_.dataType == StringType).map(_.name)
      }.flatten.toSet
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q65 fused simhash: fingerprinting is map-only (one sort exchange)") {
    // SimHashFp removed the per-token explode and the vote-sum hash
    // aggregate: the whole query must be scan → project(fingerprint)
    // → presentation sort — exactly ONE exchange (the orderBy's range
    // partitioning), no Aggregate anywhere. A regression back to an
    // agg-based fingerprint would add an exchange and fail here.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("q65_simhash64").fn(spark, sf)
        .queryExecution.executedPlan
      val exchanges = p.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, p.toString)
      val aggs = p.collect {
        case a: HashAggregateExec => a
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }
      assert(aggs.isEmpty, p.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q68/q77 exact-substring family: no exchange carries window strings") {
    // q68 (diagnostic): every shuffle attribute is numeric — doc ids,
    // positions, and the 64-bit window keys; zero strings.
    assert(shuffledStringAttrs("q68_repeated_windows").isEmpty)
    // q77 (removal) must rebuild text, so single tokens and the
    // rebuilt doc legitimately cross (1× corpus volume) — but never
    // the exploded w-token window strings (~8× corpus volume).
    val s77 = shuffledStringAttrs("q77_substring_dedup")
    assert(s77.subsetOf(Set("__t", "clean_text")), s77.toString)
  }

  test("q106/q119/q125: document text never crosses an exchange") {
    // snapshot diff: equality is sha16, computed BEFORE the full-outer
    // id join — the raw text column must stay inside the scan stage
    assert(!shuffledStringAttrs("q106_snapshot_diff").contains("text"))
    // source dup matrix: after the signature projection only band
    // keys, sources, and ids may shuffle
    assert(!shuffledStringAttrs("q119_source_dup_matrix").contains("text"))
    // exact-dup rate: text collapses to the 16-hex fingerprint in the
    // initial projection
    assert(!shuffledStringAttrs("q125_exact_dup_rate").contains("text"))
  }

  test("q03 anti join keys resolve to DISTINCT attributes (no trivially-true predicate)") {
    // `seen` derives from `docs`; before the aliasing fix both join
    // keys resolved to ONE AttributeReference and Spark warned
    // "Constructing trivially true equals predicate, 'id == id'" —
    // correct only by the analyzer's self-join rescue. Pin that the
    // analyzed condition compares two different exprIds.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    val df = Registry.byName("q03_crawler_slice").fn(spark, sf)
    val anti = df.queryExecution.analyzed.collect {
      case j: Join if j.joinType == LeftAnti => j
    }
    assert(anti.nonEmpty, "expected a LeftAnti join in q03")
    val eqs = anti.flatMap(_.condition).flatMap(_.collect {
      case EqualTo(l: AttributeReference, r: AttributeReference) => (l, r)
    })
    assert(eqs.nonEmpty, "expected an attribute-equality anti-join key")
    eqs.foreach { case (l, r) =>
      assert(l.exprId != r.exprId, s"degenerate self-equality: $l == $r")
    }
  }

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(lang)"), p)
    // n_chars >= 100 is a pushable predicate
    assert(p.contains("GreaterThanOrEqual(n_chars,100)"), p)
    // pruned read schema: no lang-independent extra columns like text would
    // be absent only if unused — text IS used; check n_chars filter instead
  }

  test("q01 scan prunes to the referenced columns only") {
    val p = plan("q01_agg_pricing")
    assert(!p.contains("l_partkey"), "scan should not read unused columns")
    assert(p.contains("l_returnflag"))
  }

  test("small-side joins broadcast (carry-forward J1, customer dim in q34)") {
    assert(plan("q04_carry_forward").contains("BroadcastHashJoin"))
    assert(plan("q34_topk_revenue").contains("BroadcastHashJoin"))
  }

  test("anti/semi joins execute as joins, not subquery loops") {
    val semi = plan("q07_semi_join")
    val anti = plan("q08_anti_join_worklist")
    assert(semi.contains("LeftSemi"), semi.take(500))
    assert(anti.contains("LeftAnti"), anti.take(500))
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q34_topk_revenue")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("gumbelTopK selection plans as TakeOrderedAndProject, not global sort") {
    // same treatment as q34/q74/q91: orderBy+limit must stay a
    // per-partition k-heap merge, never an exchange-backed full sort
    val p = plan("q90_dsir_select")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Exchange rangepartitioning"), p.take(800))
  }

  test("cosine kernel and rolling hash run inside whole-stage codegen") {
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen stage
    val topk = plan("q18_cosine_topk")
    assert(topk.contains("cosine_sim"), topk.take(800))
    assert(topk.linesIterator.exists(l =>
      l.contains("*(") && l.contains("cosine_sim")), topk.take(800))
    val fp = plan("q24_fingerprint")
    assert(fp.linesIterator.exists(l =>
      l.contains("*(") && l.contains("rolling_hash")), fp.take(800))
  }

  test("chunk-summarize shuffles at most twice, second only on partials") {
    val p = plan("q09_chunk_summarize")
    // window shuffle on user_id + one exchange of pre-aggregated chunk
    // rows (partial agg runs before it — verified by the ObjectHashAggregate
    // below the exchange in the plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected shuffle count $exchanges:\n${p.take(1200)}")
  }

  test("LSH pairs: no aggregation in signature stage, no cache pinned after run") {
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions.col
    // fused MinHashSig turns signature extraction into a map-only
    // projection — its OWN plan must contain the expression in a
    // whole-stage-codegen span and NO signature aggregation / shingle
    // explode (the old explode→groupBy-min shape)
    val sigs = graft.ops.NearDup.minhashSignaturesFused(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", col("text"))
    sigs.collect() // finalize AQE so codegen stages are visible
    val sp = sigs.queryExecution.executedPlan.toString
    assert(sp.contains("minhash_sig"), sp.take(1500))
    assert(!sp.contains("Explode"), "fused path must not explode shingles")
    assert(sp.linesIterator.exists(l =>
      l.contains("*(") && l.contains("minhash_sig")), sp.take(1500))
    // the pairs query consumes ONE materialized signature table (r21:
    // Pinned.pin localCheckpoints it so the kernel runs once, not once
    // per band arm per join side) — the pairs plan reads the
    // checkpoint blocks (ExistingRDD), never re-runs the kernel, and
    // holds no cache-manager entry. r22: the band arms are ONE
    // explode of the nBands keys over those blocks (not a union of
    // per-band selects), so an Explode of band-key strings is the
    // intended shape — the kernel (minhash_sig) must still be absent.
    val p = plan("q14_lsh_neardup_pairs")
    assert(p.contains("ExistingRDD"), p.take(1500))
    assert(!p.contains("minhash_sig"),
      "pairs plan must read signature blocks, never re-run the kernel")
    assert(!p.contains("InMemoryTableScan"), "no cache in the LSH plan")
    assert(spark.sharedState.cacheManager.isEmpty,
      "LSH left a cached relation pinned after materialization")
    // the signature checkpoint is Pinned-tracked: the harness releases
    // it after the sink consumes the result, so nothing leaks here
    graft.ops.Pinned.releaseAll()
  }

  test("decontamination broadcasts the benchmark shingle side") {
    // the bench set is tiny next to the corpus: AQE must pick a
    // broadcast join for the shingle equi-join, keeping the corpus
    // side shuffle-free at that boundary
    val p = plan("q59_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("pairwise jaccard leaves no cache pinned; exchange reused across self-join") {
    spark.catalog.clearCache()
    val p = plan("q16_jaccard_pairs")
    assert(p.contains("ReusedExchange"), p.take(1500))
    assert(spark.sharedState.cacheManager.isEmpty,
      "jaccardPairs left a cached relation pinned after materialization")
  }

  test("localCheckpoint preserves partitioning+ordering: CC edge join is colocated") {
    // The CC loop's one-job-per-iteration design rests on LogicalRDD
    // carrying the physical outputPartitioning/outputOrdering across
    // Dataset.localCheckpoint: the pre-partitioned, pre-sorted edge
    // table must join each round with NO exchange and NO sort on the
    // edge side. Pin that Spark contract here — an upgrade that drops
    // it would silently re-shuffle the edge table every round.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val edges = (1L to 1000L).map(i => (i, i % 97)).toDF("src", "dst")
        .repartition(4, col("dst")).sortWithinPartitions(col("dst"))
        .localCheckpoint()
      val delta = (0L to 96L).toDF("node")
      val joined = edges.as("e")
        .join(delta.as("d"), col("e.dst") === col("d.node"))
      val phys = joined.queryExecution.executedPlan
      // exactly ONE exchange (the delta side); zero sorts over the
      // edge output (its checkpoint ordering satisfies the SMJ)
      val exchanges = phys.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"expected 1 exchange (delta side):\n$phys")
      assert(!exchanges.head.output.map(_.name).contains("src"),
        s"edge side re-shuffled — LogicalRDD lost its partitioning:\n$phys")
      val edgeSorts = phys.collect {
        case s: SortExec if s.output.map(_.name).contains("src") => s }
      assert(edgeSorts.isEmpty,
        s"edge side re-sorted — LogicalRDD lost its ordering:\n$phys")
      graft.ops.Pinned.free(edges)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("q127 percentiles: the only row-proportional exchange is the count") {
    // The exact-percentile decomposition promises the window runs over
    // DISTINCT lengths, never rows: text collapses to a length in the
    // scan projection, so the only strings on any exchange are the
    // source key and the constant pct label (presentation sort) —
    // never the raw text column.
    val s = shuffledStringAttrs("q127_length_percentiles")
    assert(s.subsetOf(Set("source", "pct")), s.toString)
  }

  test("q128 PII scrub is a pure projection: zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Registry.byName("q128_pii_scrub").fn(spark, sf)
    // the trailing orderBy is the query's presentation sort; strip it
    // the way the noop sink sees it and nothing may exchange
    val body = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e }
    // one range-partitioning exchange for the final sort is the only
    // one allowed; the scrub itself must not add any
    assert(body.size <= 1, body.mkString("\n"))
  }

  test("every unpartitioned window in every registered query is limit-bounded") {
    // Spark warns "No Partition Defined for Window operation" at the
    // repo's two deliberate single-partition windows (vocabCoverage's
    // top-k cumulative share, RRF's maxPool-capped rank) — both sit
    // over a Limit, so the single task sees a bounded row count at any
    // corpus size. That warning noise must never hide a REAL unbounded
    // window: sweep every registered query's optimized plan and require
    // a Limit somewhere below each partition-less Window.
    import org.apache.spark.sql.catalyst.plans.logical._
    // Structural row-count boundedness — a Limit ANYWHERE in the
    // subtree is not enough (union/join with an unbounded side would
    // slip through): a plan is bounded iff every path to a leaf passes
    // a Limit, a grouping-free (one-row) Aggregate, or literal data.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case _: LocalRelation | _: OneRowRelation => true
      // row-multiplying: limit(k).select(explode(...)) yields a
      // data-dependent row count (k × array lengths), so a Generate
      // node voids any boundedness established below it
      case _: Generate => false
      case j: Join => bounded(j.left) && bounded(j.right)
      case u: Union => u.children.forall(bounded)
      case _: LeafNode => false
      case other => other.children.forall(bounded)
    }
    val offenders = Registry.all.flatMap { q =>
      val df = q.fn(spark, sf)
      df.queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
          s"${q.name}: ${w.windowExpressions.map(_.name).mkString(",")}"
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded input:\n${offenders.mkString("\n")}")
  }

  test("NB classifier plans: bounded replicates broadcast, never a raw cartesian") {
    // trainNaiveBayes replicates the |classes|-row table across the
    // vocab (crossJoin(broadcast(classes))) and scoreNaiveBayes does
    // the same across per-doc TFs: every such replicate must execute
    // as a BROADCAST nested-loop, never a partitioned CartesianProduct
    // (which would shuffle the corpus-proportional side |classes|×).
    for (q <- Seq("q140_nb_model", "q141_nb_classify", "q148_nb_gate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: class replicate must broadcast\n${p.take(800)}")
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q\n${p.take(800)}")
    }
  }

  test("q156 recall plan: probes/cells join broadcast, truth is a broadcast nested loop, no cartesian") {
    // Both IVF sides join the corpus to the (20-query × 2-probe) set
    // on the cell id — those must be broadcast hash joins, never a
    // shuffle of the corpus onto a 40-row side; the exact ground
    // truth is the one INTENDED Q×N replicate and must execute as a
    // BroadcastNestedLoopJoin (the query sample broadcasts), never a
    // partitioned CartesianProduct.
    val p = plan("q156_standardized_ivf_recall")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    graft.ops.Pinned.releaseAll() // the query's truth checkpoint
    // the truth itself is checkpointed inside q156 (so its Q×N pass
    // shows as Scan ExistingRDD above) — assert its replicate shape
    // on the un-checkpointed op directly
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val tp = graft.vector.RecallReport.exactTopK(emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      "qid", "qv", k = 3).queryExecution.executedPlan.toString
    assert(!tp.contains("CartesianProduct"), tp.take(800))
    assert(tp.contains("BroadcastNestedLoopJoin"), tp.take(800))
  }

  test("NB sufficient stats: one count pass, one exchange hash-partitioned on (label, term)") {
    // token rows and per-class doc-count rows come out of ONE explode
    // and ONE (label, term) aggregation — a second aggregation leg for
    // the doc counts would add a second exchange (and a second scan).
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so the whole exchange tree is one inspectable plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one range slice per core: Par.widen's gate stays shut, so the
      // count's own exchange is the only one
      val docs = spark.range(0, 64, 1, spark.sparkContext.defaultParallelism)
        .select(concat(lit("c"), (col("id") % 3).cast("string")).as("label"),
          concat(lit("w"), (col("id") % 5).cast("string"), lit(" x")).as("text"))
      val plan = graft.ops.TextClassifier
        .nbSufficientStats(docs, col("label"), col("text"))
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, plan.toString.take(800))
      exchanges.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.collect { case a: AttributeReference => a.name }
            == Seq("label", "term"), plan.toString.take(800))
        case other => fail(s"count exchange is not hash-partitioned: $other")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("BPE plans: q159's vocab map broadcasts; q158 runs off the bounded histogram") {
    // q159 joins the corpus-sized (source, word) histogram to the
    // ≤topM-row tokenized-vocab map: that join must be a broadcast
    // hash join (never a shuffle of the per-source histogram onto a
    // 4096-row side), and nothing in the family may fall back to a
    // cartesian.
    val p159 = plan("q159_bpe_compression")
    assert(!p159.contains("CartesianProduct"), p159.take(800))
    assert(p159.contains("BroadcastHashJoin"), p159.take(800))
    // q158's only corpus-sized stage is the histogram aggregate — the
    // token explode and re-aggregation run over ≤topM rows. Pin shape:
    // no join at all in the plan (merges ride the closure, not a join).
    val p158 = plan("q158_bpe_tokens")
    assert(!p158.contains("Join"), p158.take(800))
  }

  /** r22 funnel pin: the stage counts fold into ONE tagged-union
    * aggregation — exactly one grouping-free Aggregate in the
    * optimized plan (the fold), and no cartesian anywhere. A
    * regression back to per-stage 1-row aggregates would add
    * grouping-free Aggregates (one per stage) and fail the count. */
  private def assertFunnelFold(name: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = Registry.byName(name).fn(spark, sf)
    val folds = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }
    assert(folds.size == 1,
      s"$name: expected ONE tagged-union fold aggregate, got ${folds.size}")
    df.collect() // finalize AQE so the physical assert sees final plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // no replicate may survive in the RETURNED plan: the old 1-row
    // crossJoin legs are folded away, and q165's NB class replicate
    // now lives behind the s3 frontier checkpoint (its own broadcast
    // shape is pinned by the NB classifier plan test)
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    graft.ops.Pinned.releaseAll() // the funnels' frontier pins
  }

  test("q163 pretrain funnel: stage counts fold into one tagged-union aggregate") {
    assertFunnelFold("q163_pretrain_funnel")
  }

  test("q165 full funnel: one fold aggregate, no replicate in the returned plan") {
    assertFunnelFold("q165_pretrain_funnel_full")
  }

  test("q178 langid funnel: stage counts fold into one tagged-union aggregate") {
    assertFunnelFold("q178_langid_funnel")
  }

  test("q143 metrics report tail: one tagged-union aggregate, zero joins after the cell table") {
    // r22 Change 10: n_true/n_pred/tp fold into ONE label-keyed
    // aggregation over a tagged union of the pinned |classes|² cell
    // table — the old full-outer + left SortMergeJoin stitch (2 joins,
    // 3 exchanges) must not come back. The prediction chain lives
    // BEHIND the cell-table checkpoint, so the returned plan has no
    // join of any kind.
    val p = plan("q143_nb_metrics")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Union"), p.take(800))
    graft.ops.Pinned.releaseAll() // the NB pins + cell table
  }

  test("PQ plans: codes/ADC stay map-side, the recall ground truth is the one intended broadcast loop") {
    // q166: train + encode + posexplode — no join at all in the final
    // projection (codebooks ride the plan as reference objects)
    val p166 = plan("q166_pq_codes")
    assert(!p166.contains("CartesianProduct"), p166.take(800))
    assert(!p166.contains("SortMergeJoin"), p166.take(800))
    // q168: three Q×N scoring passes (exact, pq, int8) — all must be
    // broadcast nested loops over the 20-query side, never a
    // partitioned cartesian
    val p168 = plan("q168_pq_vs_int8_recall")
    assert(!p168.contains("CartesianProduct"), p168.take(800))
    assert(p168.contains("BroadcastNestedLoopJoin"), p168.take(800))
  }

  test("q173 store-probe rerank: page join is an EXPLICIT BroadcastHashJoin (no AQE reliance)") {
    // the ≤rerank ADC page joins back to the corpus by id; at 100 TB
    // the right plan (broadcast the bounded page, hash-probe the
    // corpus) must come from the plan itself, not AQE runtime stats.
    // AQE off + auto-broadcast threshold -1 means the ONLY way a
    // BroadcastHashJoin can appear is Pq.probeIndexStore's explicit
    // broadcast() hint — exactly what this pins.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q173_ivfpq_store_topk")
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin"), p.take(1500))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("q129 line dedup: count side shuffles hashes, not line text") {
    // the kill-set aggregation groups by xxhash64(line) — its exchange
    // carries (hash, count) pairs only. Lines legitimately cross once
    // for the positional rebuild; the final presentation sort may
    // carry the rebuilt text. So: every string-bearing exchange is
    // either the rebuild (__line) or the output sort (text).
    val s = shuffledStringAttrs("q129_line_dedup")
    assert(s.subsetOf(Set("__line", "text")), s.toString)
  }
}
