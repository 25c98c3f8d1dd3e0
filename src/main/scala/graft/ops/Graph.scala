package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.GraftSession

/** Iterative graph scoring over an edge list — PageRank as the
  * canonical instance. In a training-data pipeline this runs over a
  * document similarity graph (e.g. the kNN graph from
  * `vector.SemDedup.knnGraph`) or a crawl link graph to produce a
  * centrality/quality prior per document (the crawl-frontier
  * prioritization signal; reference analog: the crawler's relevance
  * gate, newscrawler.py:48-57, generalized to a graph-global score).
  *
  * Scale shape (same iterative-join discipline as
  * `NearDup.connectedComponents`):
  *  - the weighted edge list is computed ONCE (one out-degree agg +
  *    one join), checkpointed, and re-read by every iteration — the
  *    expensive upstream (e.g. the kNN build) never re-executes;
  *  - each iteration is one shuffle-join (rank × edge weight) plus one
  *    hash agg on the destination — no driver-side state beyond the
  *    one node-count long;
  *  - the loop runs in one `Pinned.scoped` block under
  *    `GraftSession.joinLoop`'s session; each iteration's rank table
  *    is checkpointed (`Pinned.checkpoint`) to truncate lineage and
  *    the PREVIOUS iteration's blocks are freed at once, so the steady
  *    state holds two rank tables;
  *  - ranks are rounded to `roundTo` decimals each iteration: floating
  *    sums are order-dependent, so an unrounded loop would drift
  *    across engines/partitionings — rounding at 1e-9 against ~1e-16
  *    relative error makes every iteration reproducible except at
  *    astronomically rare rounding ties (a value within ~1e-16 of a
  *    0.5e-9 boundary can round differently under Spark's
  *    BigDecimal-on-shortest-decimal rule vs an engine's plain double
  *    rounding, and a single early mismatch would then propagate).
  */
object Graph {

  /** PageRank over `edges` for a fixed number of iterations.
    * Returns `(node, pagerank)` with pagerank rounded to 6 decimals.
    *
    * Semantics: rank'(v) = (1-damping)/N + damping * Σ_{u→v} rank(u)/outdeg(u).
    * Nodes with no incoming edges settle at (1-damping)/N. Dangling
    * nodes (no OUT-edges) contribute nothing — their mass leaks, the
    * accepted simplification here. A kNN edge list keeps this small
    * but not zero: a cell with fewer than k+1 members emits fewer
    * than k edges, and a singleton-cell vector is absent entirely. */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
      iterations: Int = 5, damping: Double = 0.85,
      roundTo: Int = 9): DataFrame = Pinned.scoped {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, "pageRank: damping must be in (0,1)")
    val spark = edges.sparkSession
    // the edge count rides the checkpoint's own job; it sizes the loop
    val (e, edgeCount) = Pinned.counted(
      edges.select(col(src).as("src"), col(dst).as("dst")))
    val nodes = Pinned.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // one driver-side long — the only scalar the loop needs
    val n = nodes.count()
    // empty edge list: return the empty (node, pagerank) frame rather
    // than silently folding 1/0 = Infinity into the rank literals. A
    // zero-row frame from the session, not a select over `nodes`,
    // reads no pinned block, so the scope frees both tables.
    if (n == 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("node", nodes.schema("node").dataType),
        StructField("pagerank", DoubleType))))
    else GraftSession.joinLoop(spark, edgeCount) { loopParts =>
      // Loop discipline mirrors connectedComponents (r12 job audit:
      // the old loop scheduled 56 one-task jobs for 5 iterations at
      // sf0.1 vs 18 for the whole CC query); `GraftSession.joinLoop`
      // sizes, pauses AQE and disables broadcasts. The stationary
      // sides are checkpointed pre-partitioned AND pre-sorted on their
      // join keys (`weighted` on src, `nodesByKey` on node):
      // LogicalRDD carries physical partitioning/ordering across a
      // checkpoint, so each iteration shuffles only the moving
      // rank/contribution rows. Results are bit-identical: ranks round
      // to 1e-9 every iteration precisely so partitioning-dependent
      // float sum order cannot leak into the output (see scaladoc).
      val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      val weighted = Pinned.checkpoint(e.join(outDeg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("__deg")).as("__w"))
        .repartition(loopParts, col("src"))
        .sortWithinPartitions(col("src")))
      Pinned.free(e)
      val nodesByKey = Pinned.checkpoint(nodes
        .repartition(loopParts, col("node"))
        .sortWithinPartitions(col("node")))
      Pinned.free(nodes)

      val base = lit((1.0 - damping) / n)
      // a checkpoint, not a pin: this projection over nodesByKey would
      // pass through `pin`, and the loop's first free would free the
      // node table under it
      var ranks = Pinned.checkpoint(nodesByKey
        .select(col("node"), round(lit(1.0 / n), roundTo).as("rank")))
      // ONE fully-colocated keyed round (r22; replaces r15's two round
      // shapes): every table in the loop is already hash-partitioned
      // on its join key at loopParts — `weighted` and `nodesByKey` by
      // their checkpoints, and the rank table TRANSITIVELY (each
      // round's output is the SMJ ⋈ nodesByKey projection, whose
      // node-partitioning and ordering the next checkpoint carries;
      // the rename to src is alias-propagated). So the rank⋈edges
      // join and the contrib⋈nodes merge plan as zero-exchange
      // sort-merge joins, and a round is ONE scheduled job with ONE
      // keyed exchange (the contribution agg by dst). The r15
      // broadcast shape paid 2 extra broadcast-exchange jobs per
      // round to avoid exchanges this partitioning already avoids —
      // StageAudit measured 3 jobs/round; this shape is 1. Results
      // are bit-identical: the per-iteration 1e-9 rounding absorbs
      // sum-order differences (the cross-engine contract), and the
      // property pin vs naive power iteration covers the shape.
      for (_ <- 1 to iterations) {
        val rankSrc = ranks.withColumnRenamed("node", "src")
        val contrib = weighted
          .join(rankSrc, "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") * col("__w")).as("__in"))
        val next = Pinned.checkpoint(nodesByKey
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            round(base + lit(damping) * coalesce(col("__in"), lit(0.0)),
              roundTo).as("rank")))
        Pinned.free(ranks)
        ranks = next
      }
      // Final 6dp projection via EXACT INTEGER arithmetic (r18): the
      // ranks sit on the per-iteration 1e-9 grid, so ~1/1000 of them
      // land exactly ON a 6dp midpoint — where Spark's BigDecimal-on-
      // exact-binary HALF_UP and a C-style multiply-then-nearbyint
      // round() can legitimately disagree about the SAME double (the
      // headroom audit read dist=0 for this column; emitting the raw
      // 9dp grid instead surfaced a different 1-row cross-engine
      // straddle at sf0.001). Extracting the grid integer N =
      // rint(rank·1e9) — exact, the value is within ulps of N — and
      // half-up-rounding in integer space, floor((N+500)/1000)/1e6,
      // is the same function of the same double on every engine:
      // midpoint landings are decided by +500/floor, not by whose
      // round() implementation runs. The 9dp iteration contract still
      // absorbs sum-order noise; the residual (a pre-round sum
      // straddling a 1e-9 boundary) is then absorbed AGAIN by the
      // 1000-step projection unless it sits on the 6dp grid edge —
      // the compound rarity that has kept this row green, now without
      // the round()-implementation channel on top of it.
      // the final rank pin backs the returned frame, so the scope
      // leaves it to the caller's registry and frees the rest
      ranks.select(col("node"),
        (floor((rint(col("rank") * lit(1e9)) + lit(500.0)) / lit(1000.0))
          / lit(1e6)).as("pagerank"))
    }
  }

  /** Duplicate-cluster size distribution over a component labeling
    * (`connectedComponents` / the label store): how many clusters of
    * each size, and how many documents they hold — the one chart that
    * says whether duplication is a long tail of pairs (cheap to keep)
    * or a few mega-clusters (one template page crawled a million
    * times; worth a source-level fix instead of row dedup). Two
    * integer-exact aggregations, nothing else.
    *
    * Note the distribution covers LABELED nodes only — singletons
    * never enter the pair graph, so "cluster_size = 1" rows here mean
    * label-store artifacts (e.g. pruned components), not unique docs. */
  def componentSizeDistribution(labels: DataFrame,
      comp: String = "component"): DataFrame =
    labels.groupBy(col(comp)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
}
