package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Bpe
import Q.t

/** Learned-BPE tokenizer queries (ops/Bpe.scala — Sennrich et al.
  * 2016, arXiv:1508.07909). The oracle replays training EXACTLY in
  * DuckDB: the merge loop is unrolled into one CTE triple per step —
  * pair counts p{k} (every adjacent pair, overlapping included,
  * weighted by word count), the chosen pair m{k}
  * (ORDER BY c DESC, l, r LIMIT 1), and the re-tokenized state s{k+1}
  * (greedy left-to-right non-overlapping replacement, done with pure
  * list ops: match positions → run heads → keep even offsets within
  * each run). Everything hashed is an exact integer or a ratio of two
  * exact int64s (bit-identical doubles cross-engine) — the q150
  * rounding-headroom lesson applied from the start.
  *
  * CTEs are MATERIALIZED: each step references its predecessor twice
  * (pair counts + re-tokenize), so DuckDB's default inlining would
  * expand the chain 2^N times.
  */
object BpeQueries {

  /** Merge-step count for the query family: enough to learn real
    * multi-char subwords on the fixture vocabulary while keeping the
    * unrolled oracle readable. */
  private val NMerges = 16

  /** CTE chain h0/hist/s0 + (p{k}, m{k}, s{k+1}) for k < n. The final
    * tokenization state is s{n}; learned merges are m0..m{n-1}.
    * `LEFT JOIN m{k} ON TRUE` (not a cross join) keeps the chain
    * total when a step finds no pair left to merge: m{k} is empty,
    * the NULL pair matches nothing, and the state passes through —
    * mirroring trainMerges' early stop. */
  private def trainCtes(n: Int): String = {
    val head =
      s"""h0 AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |    FROM documents)
         |  WHERE word <> '' GROUP BY word),
         |hist AS (SELECT word, cnt FROM h0
         |  ORDER BY cnt DESC, word LIMIT ${Bpe.DefaultTopM}),
         |s0 AS MATERIALIZED (SELECT word, cnt,
         |  regexp_extract_all(word, '.') AS toks FROM hist)""".stripMargin
    val steps = (0 until n).map { k =>
      s"""p$k AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, SUM(cnt) AS c FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
         |      i -> [toks[i], toks[i+1]])) AS pr
         |    FROM s$k)
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |s${k + 1} AS MATERIALIZED (
         |  SELECT word, cnt,
         |    CASE WHEN mt IS NULL OR len(mt) = 0 THEN toks ELSE
         |      list_transform(
         |        list_filter(range(1, len(toks) + 1),
         |          p -> NOT list_contains(kept, p - 1)),
         |        p -> CASE WHEN list_contains(kept, p)
         |                  THEN toks[p] || toks[p+1] ELSE toks[p] END)
         |    END AS toks
         |  FROM (
         |    SELECT word, cnt, toks, mt,
         |      list_filter(mt, p ->
         |        (p - list_max(list_filter(heads, h -> h <= p))) % 2 = 0) AS kept
         |    FROM (
         |      SELECT word, cnt, toks, mt,
         |        list_filter(mt, q -> NOT list_contains(mt, q - 1)) AS heads
         |      FROM (
         |        SELECT s$k.word, s$k.cnt, s$k.toks,
         |          list_filter(range(1, len(s$k.toks)),
         |            p -> s$k.toks[p] = m$k.l AND s$k.toks[p+1] = m$k.r) AS mt
         |        FROM s$k LEFT JOIN m$k ON TRUE))))""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The learned merges as rows — one SELECT per unrolled step; an
    * empty m{k} (early stop) contributes nothing, like trainMerges. */
  private def mergeRows(n: Int): String =
    (0 until n).map { k =>
      s"""SELECT ${k + 1} AS step, l AS left_tok, r AS right_tok,
         |  l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM m$k""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** q157's oracle — also q161's verbatim (the incremental path must
    * reproduce the one-shot merge table exactly). */
  private val mergesOracle: String =
    s"""WITH ${trainCtes(NMerges)}
       |SELECT * FROM (
       |${mergeRows(NMerges)}
       |)""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- the learned merge table itself ----
    Q("q157_bpe_merges", mergesOracle) { (s, d) =>
      val merges = Bpe.fitFromCorpus(t(s, d, "documents"), "text", NMerges)
      Bpe.mergesDf(s, merges)
    },

    // ---- incremental training path under q157's oracle ----
    // The corpus ingested as TWO histogram batches (hash-parity split
    // — robust to whatever type doc_id ships as), merged by keyed
    // integer sum, truncated and trained
    // at fit time. Counts are exact integers and training is a pure
    // function of the truncated histogram, so the incremental path
    // must reproduce q157's merge table EXACTLY — the oracle is
    // q157's verbatim. The daily-refresh contract: a new batch costs
    // one count pass over its own rows, never a corpus re-read.
    Q("q161_bpe_incremental", mergesOracle) { (s, d) =>
      val docs = t(s, d, "documents")
      val parity = abs(xxhash64(col("doc_id"))) % 2
      val h1 = Bpe.wordHistogramStats(docs.filter(parity === 0), "text")
      val h2 = Bpe.wordHistogramStats(docs.filter(parity === 1), "text")
      val merges = Bpe.trainFromHistogram(
        Bpe.mergeHistograms(h1, h2), NMerges)
      Bpe.mergesDf(s, merges)
    },

    // ---- corpus token frequencies under the learned vocab (computed
    // from the histogram — the corpus is never re-tokenized) ----
    Q("q158_bpe_tokens",
      s"""WITH ${trainCtes(NMerges)}
         |SELECT token, CAST(SUM(cnt) AS BIGINT) AS tok_count FROM (
         |  SELECT cnt, unnest(toks) AS token FROM s$NMerges)
         |GROUP BY token""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      // fitAndHistogram: ONE corpus histogram pass — the vocab table
      // is rebuilt from the collected rows, not re-shuffled
      val (hist, ms) = Bpe.fitAndHistogram(docs, "text", NMerges)
      val merges = ms.map(m => (m.left, m.right))
      Bpe.tokenizeHistogram(Bpe.histogramDf(s, hist), merges)
        .select(col("cnt"), explode(col("toks")).as("token"))
        .groupBy("token")
        .agg(sum("cnt").cast("long").as("tok_count"))
    },

    // ---- per-source compression report: chars/tokens/words over the
    // trainable vocabulary; ratios are int64/int64 double divisions,
    // bit-identical cross-engine ----
    Q("q159_bpe_compression",
      s"""WITH ${trainCtes(NMerges)},
         |map AS (SELECT word, len(word) AS wl,
         |  CAST(len(toks) AS BIGINT) AS n_toks FROM s$NMerges),
         |sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT source,
         |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |    FROM documents)
         |  WHERE word <> '' GROUP BY 1, 2)
         |SELECT sw.source,
         |  CAST(SUM(sw.c) AS BIGINT) AS words,
         |  CAST(SUM(map.wl * sw.c) AS BIGINT) AS chars,
         |  CAST(SUM(map.n_toks * sw.c) AS BIGINT) AS tokens,
         |  round(CAST(SUM(map.wl * sw.c) AS DOUBLE)
         |    / CAST(SUM(map.n_toks * sw.c) AS DOUBLE), 6) AS chars_per_token,
         |  round(CAST(SUM(map.n_toks * sw.c) AS DOUBLE)
         |    / CAST(SUM(sw.c) AS DOUBLE), 6) AS fertility
         |FROM sw JOIN map ON sw.word = map.word
         |GROUP BY sw.source""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val (hist, ms) = Bpe.fitAndHistogram(docs, "text", NMerges)
      val merges = ms.map(m => (m.left, m.right))
      val map = Bpe.tokenizeHistogram(Bpe.histogramDf(s, hist), merges)
        .select(col("word"), length(col("word")).cast("long").as("wl"),
          size(col("toks")).cast("long").as("n_toks"))
      val sw = docs
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("source", "word").agg(count(lit(1)).as("c"))
      sw.join(broadcast(map), "word")
        .groupBy("source")
        .agg(sum("c").cast("long").as("words"),
          sum(col("wl") * col("c")).cast("long").as("chars"),
          sum(col("n_toks") * col("c")).cast("long").as("tokens"))
        .select(col("source"), col("words"), col("chars"), col("tokens"),
          round(col("chars").cast("double") / col("tokens").cast("double"), 6)
            .as("chars_per_token"),
          round(col("tokens").cast("double") / col("words").cast("double"), 6)
            .as("fertility"))
    },

    // ---- cross-family composite: pack sequences by LEARNED-BPE token
    // budget (the q60 packing shape, priced by this family's tokenizer
    // instead of the whitespace counter). Per-doc token counts come
    // from the (doc, word) histogram joined to the broadcast vocab map
    // — the corpus text is never re-tokenized; docs with no in-vocab
    // word (empty text) drop on both sides ----
    Q("q162_bpe_pack",
      s"""WITH ${trainCtes(NMerges)},
         |map AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks
         |  FROM s$NMerges),
         |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |    FROM documents)
         |  WHERE word <> '' GROUP BY 1, 2),
         |dt AS (SELECT dw.doc_id,
         |    CAST(SUM(map.n_toks * dw.c) AS BIGINT) AS n_tokens
         |  FROM dw JOIN map ON dw.word = map.word GROUP BY dw.doc_id),
         |pp AS (SELECT doc_id, n_tokens,
         |    coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |  FROM dt)
         |SELECT doc_id, n_tokens,
         |  CAST(prefix AS BIGINT) AS prefix_tokens,
         |  CAST(prefix // 2048 AS BIGINT) AS pack_id
         |FROM pp""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val (hist, ms) = Bpe.fitAndHistogram(docs, "text", NMerges)
      val merges = ms.map(m => (m.left, m.right))
      val map = Bpe.tokenizeHistogram(Bpe.histogramDf(s, hist), merges)
        .select(col("word"), size(col("toks")).cast("long").as("n_toks"))
      val perDoc = docs
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .join(broadcast(map), "word")
        .groupBy("doc_id")
        .agg(sum(col("n_toks") * col("c")).cast("long").as("n_tokens"))
      graft.ops.Packing.packByTokenBudget(perDoc, Seq(col("doc_id")),
          col("n_tokens"), budget = 2048L)
        .select(col("doc_id"), col("n_tokens"), col("prefix_tokens"),
          col("pack_id"))
    },

    // ---- the full final tokenization state, word by word — the
    // strongest pin: hashes every token boundary the training run
    // produced ----
    Q("q160_bpe_word_tokens", wordTokensOracle) { (s, d) =>
      val docs = t(s, d, "documents")
      val (hist, ms) = Bpe.fitAndHistogram(docs, "text", NMerges)
      val merges = ms.map(m => (m.left, m.right))
      Bpe.tokenizeHistogram(Bpe.histogramDf(s, hist), merges)
        .select(col("word"), col("cnt"),
          array_join(col("toks"), "|").as("tok_str"),
          size(col("toks")).cast("long").as("n_tokens"))
    },

    // ---- tokenize from the PERSISTED merge store ----
    // q160's oracle verbatim: train, save the merge table as a store
    // commit, load it back, tokenize from the LOADED rows.
    // A hash match proves the store round-trips bit-for-bit INCLUDING
    // training order — the restartable form of the q162 composite
    // (the NB-stats / PCA-moments store discipline for the vocab).
    Q("q164_bpe_store_tokens", wordTokensOracle) { (s, d) =>
      val docs = t(s, d, "documents")
      val (hist, ms) = Bpe.fitAndHistogram(docs, "text", NMerges)
      val dir = Q.stateDir(d, "q164_state")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Bpe.saveMerges(s, s"$dir/merges", ms)
      val merges = Bpe.loadMerges(s, s"$dir/merges").map(m => (m.left, m.right))
      Bpe.tokenizeHistogram(Bpe.histogramDf(s, hist), merges)
        .select(col("word"), col("cnt"),
          array_join(col("toks"), "|").as("tok_str"),
          size(col("toks")).cast("long").as("n_tokens"))
    }
  )

  /** q160's oracle — also q164's verbatim (tokenizing from the
    * persisted merge store must reproduce the in-memory table's
    * tokenization exactly). */
  private lazy val wordTokensOracle: String =
    s"""WITH ${trainCtes(NMerges)}
       |SELECT word, cnt, array_to_string(toks, '|') AS tok_str,
       |  CAST(len(toks) AS BIGINT) AS n_tokens
       |FROM s$NMerges""".stripMargin
}
