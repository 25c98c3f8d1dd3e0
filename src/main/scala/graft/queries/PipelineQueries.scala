package graft.queries

import org.apache.spark.sql.functions._
import graft.enrich.Enricher
import graft.expr.Functions
import graft.multimodal.Multimodal
import graft.pipeline.CouncilPipeline
import Q.{events, t}

/** Multimodal plumbing, frontmatter round-trip, and stub-enrichment
  * pipeline queries. Binary/metadata arithmetic is oracled; stub
  * UDF outputs (deterministic but JVM-hash based) get rows-only checks
  * with golden coverage in ScalaTest.
  */
object PipelineQueries {

  val qs: Seq[Q] = Seq(

    // ---- multimodal: opaque binary payload + typed size/magic ----
    Q("q38_multimodal_meta",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | substr(sha256(text), 1, 8) AS magic,
        | CAST(64 + (doc_id % 16) * 32 AS INTEGER) AS fake_width
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          substring(sha2(col("text"), 256), 1, 8).as("magic"),
          (lit(64) + (col("doc_id") % 16) * 32).cast("int").as("fake_width"))
        .orderBy(col("doc_id"))
    },

    // ---- F17: frontmatter build + parse round-trip ----
    Q("q39_frontmatter",
      """WITH built AS (SELECT doc_id, text,
        |  '---' || chr(10) || 'source: ' || source || chr(10) ||
        |  'title: doc ' || CAST(doc_id AS VARCHAR) || chr(10) || '---' || chr(10) || text AS doc
        | FROM documents),
        |fm AS (SELECT doc_id, doc, regexp_extract(doc, '(?s)^---\n(.*?)\n---', 1) AS front FROM built)
        |SELECT doc_id,
        | CASE WHEN regexp_extract(front, '(?m)^source:\s*(.*)$', 1) = '' THEN NULL
        |      ELSE regexp_extract(front, '(?m)^source:\s*(.*)$', 1) END AS parsed_source,
        | CASE WHEN regexp_extract(front, '(?m)^title:\s*(.*)$', 1) = '' THEN NULL
        |      ELSE regexp_extract(front, '(?m)^title:\s*(.*)$', 1) END AS parsed_title,
        | trim(regexp_extract(doc, '(?s)^---\n.*?\n---\n?(.*)$', 1)) AS body
        |FROM fm ORDER BY doc_id""".stripMargin) { (s, d) =>
      val built = t(s, d, "documents").withColumn("doc",
        concat(
          Functions.frontmatterBuild(
            "source" -> col("source"),
            "title" -> concat(lit("doc "), col("doc_id").cast("string"))),
          lit("\n"), col("text")))
      built.select(col("doc_id"),
          Functions.frontmatterValue(col("doc"), "source").as("parsed_source"),
          Functions.frontmatterValue(col("doc"), "title").as("parsed_title"),
          Functions.frontmatterBody(col("doc")).as("body"))
        .orderBy(col("doc_id"))
    },

    // ---- F18/JSON: typed extraction from the props JSON column ----
    Q("q49_json_props",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy(col("event_id"))
    },

    // ---- deterministic train/val/test split by content hash ----
    // cuts: 0.9*65536 = 58982 = 0xe666; 0.95*65536 = 62259 = 0xf333 —
    // hex-string comparison in SQL ≡ numeric bucket comparison in Spark
    Q("q50_hash_split",
      """WITH h AS (SELECT doc_id, substr(sha256(CAST(doc_id AS VARCHAR)),1,4) AS h4 FROM documents)
        |SELECT doc_id, CASE WHEN h4 < 'e666' THEN 'train'
        |                    WHEN h4 < 'f333' THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          graft.ops.Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .orderBy(col("doc_id"))
    },

    // ---- leakage-safe split: near-dup clusters never straddle sides ----
    // q50's per-doc hash split, upgraded with the dedup graph: the
    // split key is the doc's connected-component label over planted
    // pair evidence (q94's deterministic generator), falling back to
    // the doc's own id when no near-dup evidence exists. Every member
    // of a component shares a key, hence a side — the split that makes
    // the decontamination audits (q81/q89) come back empty by
    // construction. Oracle recomputes components via the recursive
    // walk and applies the identical sha256-bucket cuts.
    Q("q116_leakage_safe_split",
      """WITH RECURSIVE pairs AS (
        | SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
        |  WHERE doc_id % 10 < 3
        | UNION ALL
        | SELECT doc_id AS doc_a, doc_id + 100 AS doc_b FROM documents
        |  WHERE doc_id % 37 = 0),
        |edges AS (
        | SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION
        | SELECT doc_b AS src, doc_a AS dst FROM pairs),
        |walk AS (
        | SELECT src AS node, dst AS reach FROM edges
        | UNION
        | SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
        |comp AS (SELECT node, least(node, min(reach)) AS component
        | FROM walk GROUP BY node),
        |h AS (SELECT d.doc_id, substr(sha256(
        |   CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 4) AS h4
        | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT doc_id, CASE WHEN h4 < 'e666' THEN 'train'
        |                    WHEN h4 < 'f333' THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ids = t(s, d, "documents").select(col("doc_id"))
      val pairs = ids.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        .unionByName(ids.filter(col("doc_id") % 37 === 0)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 100).as("doc_b")))
      val labels = graft.ops.NearDup.connectedComponents(pairs)
      graft.ops.Sampling.leakageSafeSplit(
          t(s, d, "documents"), "doc_id", labels,
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // ---- deterministic per-source quota sampling (corpus balancing) ----
    // Keep at most 10 docs per source, chosen by sha256-hash order of
    // the id — a stable uniform shuffle, reproducible across engines
    // (both sort the same lowercase hex), unlike per-group limit.
    Q("q69_quota_sample",
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Sampling.quotaSample(t(s, d, "documents"),
          col("source"), col("doc_id"), quota = 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // ---- multimodal decode stub: per-partition decoder, frame explode ----
    // The stub decoder is sha256-derived (format sniff + digest-based
    // dimensions + length-based duration), so the decode → frame-sample
    // → aggregate pipeline reproduces exactly in DuckDB.
    Q("q40_multimodal_decode",
      """WITH dec AS (SELECT doc_id,
        |   CASE WHEN octet_length(encode(text)) >= 2 AND substr(text, 1, 1) = 'P'
        |        THEN 'ppm' ELSE 'raw' END AS format,
        |   CAST(64 + ((strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1)) * 4
        |     AS INTEGER) AS width,
        |   octet_length(encode(text)) * 10 AS duration_ms
        | FROM documents)
        |SELECT doc_id, format, width,
        | CAST(greatest(duration_ms - 1, 0) // 1000 + 1 AS BIGINT) AS n_frames
        |FROM dec ORDER BY doc_id""".stripMargin) { (s, d) =>
      val withPayload = t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
      val decoded = Multimodal.withDecodedMeta(withPayload, "payload",
        () => new Multimodal.StubDecoder)
      Multimodal.sampleFrames(decoded, col("media_meta.duration_ms"), 1000L)
        .groupBy(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.width").as("width"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy(col("doc_id"))
    },

    // ---- sequence packing: fixed token-budget packs by global order ----
    // Spark side is the distributed prefix sum (no single-task window);
    // the oracle is the equivalent global window cumsum in DuckDB.
    Q("q60_pack_sequences",
      """WITH d AS (SELECT doc_id,
        |   len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
        | FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |   coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM d)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(prefix AS BIGINT) AS prefix_tokens,
        | CAST(prefix // 2048 AS BIGINT) AS pack_id
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_tokens"))
      graft.ops.Packing.packByTokenBudget(docs, Seq(col("doc_id")),
          col("n_tokens"), budget = 2048L)
        .select(col("doc_id"), col("n_tokens"), col("prefix_tokens"), col("pack_id"))
        .orderBy(col("doc_id"))
    },

    // ---- U2 typed-summarizer chunk pipeline over synthesized segments ----
    // The stub summarizer's every output is SQL-reproducible (take-8
    // tokens + sha256 digest, 4-token quote windows, capitalized-word
    // names), so the WHOLE stage-2 shape — chunking, confidence-filtered
    // concat, min_by/max_by time bounds, typed digest, rollup reduce,
    // '|||' array flatten — hash-checks against DuckDB.
    Q("q41_enrich_summarize",
      """WITH seg AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS file,
        |   event_id AS id, event_type AS text, value / 1000.0 AS nsp,
        |   epoch_ms(ts) / 1000.0 AS st, epoch_ms(ts) / 1000.0 + 9.5 AS et
        | FROM events),
        |chunked AS (SELECT *, CAST(floor((row_number() OVER
        |   (PARTITION BY file ORDER BY id) - 1) / 100) AS BIGINT) AS chunk_id
        | FROM seg),
        |chunks AS (SELECT file, chunk_id,
        |   string_agg(CASE WHEN nsp < 0.12 THEN text END, ' ' ORDER BY id) AS chunk_text,
        |   min(id) AS start_id, max(id) AS end_id,
        |   min_by(st, id) AS start_time, max_by(et, id) AS end_time
        | FROM chunked GROUP BY file, chunk_id),
        |kept AS (SELECT * FROM chunks
        | WHERE length(trim(coalesce(chunk_text, ''))) >= 2),
        |digested AS (SELECT file, chunk_id,
        |   array_to_string(list_append(
        |     list_slice(regexp_split_to_array(trim('summarize: ' || chunk_text), '\s+'), 1, 8),
        |     '#' || substr(sha256('summarize: ' || chunk_text), 1, 8)), ' ') AS summary,
        |   coalesce(array_to_string(list_filter(
        |     [array_to_string(list_slice(regexp_split_to_array(trim(chunk_text), '\s+'), 1, 4), ' '),
        |      array_to_string(list_slice(regexp_split_to_array(trim(chunk_text), '\s+'), 5, 8), ' ')],
        |     x -> x <> ''), '|||'), '') AS quotes,
        |   coalesce(array_to_string(list_filter(
        |     regexp_split_to_array(trim(chunk_text), '\s+'),
        |     x -> regexp_full_match(x, '[A-Z][a-z]+')), '|||'), '') AS names,
        |   start_time, end_time, start_id, end_id FROM kept),
        |rolled AS (SELECT file,
        |   'reduce: ' || string_agg(summary, chr(10) ORDER BY chunk_id) AS rtext,
        |   min_by(start_time, chunk_id) AS start_time,
        |   max_by(end_time, chunk_id) AS end_time,
        |   min(start_id) AS start_id, max(end_id) AS end_id
        | FROM digested GROUP BY file),
        |rollup AS (SELECT file, CAST(-1 AS BIGINT) AS chunk_id,
        |   array_to_string(list_append(
        |     list_slice(regexp_split_to_array(trim(rtext), '\s+'), 1, 8),
        |     '#' || substr(sha256(rtext), 1, 8)), ' ') AS summary,
        |   '' AS quotes, '' AS names, start_time, end_time, start_id, end_id
        | FROM rolled)
        |SELECT * FROM rollup UNION ALL SELECT * FROM digested
        |ORDER BY file, chunk_id""".stripMargin) { (s, d) =>
      val segments = events(s, d).select(
        concat(lit("u"), col("user_id").cast("string")).as("file"),
        col("event_id").as("id"),
        col("event_type").as("text"),
        (col("value") / 1000.0).as("no_speech_prob"),
        (col("ts_ms") / 1000.0).as("start"),
        (col("ts_ms") / 1000.0 + 9.5).as("end"))
      CouncilPipeline.summarize(segments, () => new Enricher.StubSummarizer,
          chunkSize = 100, noSpeechThresh = 0.12)
        .select(col("file"), col("chunk_id"), col("summary"),
          array_join(col("quotes"), "|||").as("quotes"),
          array_join(col("names"), "|||").as("names"),
          col("start_time"), col("end_time"), col("start_id"), col("end_id"))
        .orderBy(col("file"), col("chunk_id"))
    },

    // ---- the pretraining-cleanup pipeline end to end, one DAG ----
    // C4 line/page clean → Gopher quality gate → exact dedup → token
    // accounting, with a one-row funnel hashing every stage's survivor
    // count. Planting (both engines, identically — the q154/q112
    // discipline): line structure via the ' line|row '→'.\n' rewrite
    // (the raw fixture has none, so C4 would kill every page), and 25
    // duplicate pages at doc_id+1e6 so the dedup stage provably fires
    // (keep-min drops exactly the planted copies that survive to it).
    // Every hashed value is an exact integer; each stage is the same
    // operator its own query verifies (q153/q154, q93, q11-family).
    Q("q163_pretrain_funnel",
      """WITH raw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id < 25),
        |base AS (SELECT doc_id,
        |    regexp_replace(COALESCE(text, ''), ' (line|row) ',
        |      '.' || chr(10), 'g') AS text
        |  FROM raw),
        |cl AS (SELECT doc_id, text,
        |  list_filter(string_split(text, chr(10)), l ->
        |    regexp_matches(rtrim(l), '[.!?"]$')
        |    AND len(regexp_extract_all(l, '\S+')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        | FROM base),
        |c2 AS (SELECT doc_id, text,
        |   COALESCE(array_to_string(kept, chr(10)), '') AS ctext FROM cl),
        |s1 AS (SELECT doc_id, ctext AS text FROM c2
        |  WHERE NOT (len(regexp_extract_all(ctext, '[.!?]')) < 3
        |    OR contains(text, '{') OR contains(lower(text), 'lorem ipsum'))),
        |w AS (SELECT doc_id, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM s1),
        |u AS (SELECT doc_id, unnest(ws) AS wd FROM w),
        |wc AS (SELECT doc_id, wd, count(*) AS c FROM u GROUP BY doc_id, wd),
        |agg AS (SELECT doc_id,
        |  sum(length(wd) * c) / CAST(sum(c) AS DOUBLE) AS mwl,
        |  sum(CASE WHEN regexp_matches(wd, '\p{L}') THEN c ELSE 0 END)
        |    / CAST(sum(c) AS DOUBLE) AS fa,
        |  max(c) / CAST(sum(c) AS DOUBLE) AS twf
        | FROM wc GROUP BY doc_id),
        |p AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg FROM
        |  (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |   FROM w WHERE len(ws) >= 2)),
        |pc AS (SELECT doc_id, bg, count(*) AS c FROM p GROUP BY doc_id, bg),
        |bagg AS (SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS tbf
        | FROM pc GROUP BY doc_id),
        |kp AS (SELECT a.doc_id FROM agg a LEFT JOIN bagg b USING (doc_id)
        |  WHERE mwl BETWEEN 3 AND 10 AND fa >= 0.8 AND twf <= 0.2
        |    AND coalesce(tbf, 0) <= 0.18),
        |s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN kp USING (doc_id)),
        |dd AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY sha256(text)),
        |s3 AS (SELECT s2.doc_id, s2.text FROM s2 JOIN dd USING (doc_id))
        |SELECT
        |  (SELECT count(*) FROM base) AS pages,
        |  (SELECT count(*) FROM s1) AS after_c4,
        |  (SELECT count(*) FROM s2) AS after_gopher,
        |  (SELECT count(*) FROM s3) AS after_dedup,
        |  (SELECT CAST(COALESCE(SUM(len(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))), 0)
        |    AS BIGINT) FROM s3) AS tokens_final""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val raw = docs.unionByName(docs.where(col("doc_id") < 25)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val planted = raw.withColumn("text",
        regexp_replace(col("text"), " (line|row) ", ".\n"))
      // r22: q165's frontier pins, adopted here — s1 feeds the Gopher
      // gate, the s2 join and its own stage count (3 consumers), s2
      // feeds the dedup build, the s3 arm and its count (3 consumers);
      // unpinned, every consumer re-ran the whole C4 regex chain.
      // Pinned-tracked: the harness releases the blocks after the
      // result is consumed.
      val s1 = graft.ops.Pinned.pin(graft.ops.C4Clean.clean(planted, "text")
        .select(col("doc_id"), col("text")))
      val kp = graft.ops.TextAnalysis.gopherReport(s1, "doc_id", col("text"))
        .where(col("keep")).select(col("doc_id"))
      val s2 = graft.ops.Pinned.pin(s1.join(kp, "doc_id"))
      val dd = s2.groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s3 = s2.join(dd, "doc_id")
      // r22 (guide §2.4): ONE tagged-union aggregation replaces the
      // old 5 independent 1-row aggregates + 4 broadcast crossJoins —
      // the stage counts and the token sum ride a single job (the s3
      // chain is also evaluated once instead of twice: its count and
      // its token sum share an arm). Values are exact integers, so
      // the fold is byte-identical to the crossJoin composition.
      val tokCnt = size(filter(
        graft.ops.NearDup.tokens(col("text")), w => w =!= "")).cast("long")
      val tagged = planted.select(lit(0).as("__st"), lit(0L).as("__tok"))
        .unionByName(s1.select(lit(1).as("__st"), lit(0L).as("__tok")))
        .unionByName(s2.select(lit(2).as("__st"), lit(0L).as("__tok")))
        .unionByName(s3.select(lit(3).as("__st"), tokCnt.as("__tok")))
      tagged.agg(
        count(when(col("__st") === 0, 1)).as("pages"),
        count(when(col("__st") === 1, 1)).as("after_c4"),
        count(when(col("__st") === 2, 1)).as("after_gopher"),
        count(when(col("__st") === 3, 1)).as("after_dedup"),
        coalesce(sum(when(col("__st") === 3, col("__tok"))), lit(0))
          .cast("long").as("tokens_final"))
    },

    // ---- the PRODUCTION funnel: q163 + the two stages a shipped
    // pipeline runs between quality gating and token accounting ----
    // C4 → Gopher → NB classifier gate (q148's model, threshold re-cut
    // at -3.75 for the CLEANED-text score scale) → exact dedup → MinHash-LSH near-dup with
    // connected-component keep-min (q14's bands + q116's components)
    // → token accounting. Planting: q163's line rewrite + 25 exact
    // copies (+1e6) so exact dedup provably fires, PLUS 40 truncated
    // copies (+2e6, the q14 mutation) so the NEAR-dup stage provably
    // fires on survivors exact dedup cannot see. One row of exact
    // integers; each stage is the operator its own query verifies.
    Q("q165_pretrain_funnel_full",
      """WITH RECURSIVE raw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    substr(text, 1, greatest(length(text) - 20, 1)) AS text
        |  FROM documents WHERE doc_id < 40),
        |base AS (SELECT doc_id,
        |    regexp_replace(COALESCE(text, ''), ' (line|row) ',
        |      '.' || chr(10), 'g') AS text
        |  FROM raw),
        |cl AS (SELECT doc_id, text,
        |  list_filter(string_split(text, chr(10)), l ->
        |    regexp_matches(rtrim(l), '[.!?"]$')
        |    AND len(regexp_extract_all(l, '\S+')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        | FROM base),
        |c2 AS (SELECT doc_id, text,
        |   COALESCE(array_to_string(kept, chr(10)), '') AS ctext FROM cl),
        |s1 AS MATERIALIZED (SELECT doc_id, ctext AS text FROM c2
        |  WHERE NOT (len(regexp_extract_all(ctext, '[.!?]')) < 3
        |    OR contains(text, '{') OR contains(lower(text), 'lorem ipsum'))),
        |w AS (SELECT doc_id, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM s1),
        |u AS (SELECT doc_id, unnest(ws) AS wd FROM w),
        |wc AS (SELECT doc_id, wd, count(*) AS c FROM u GROUP BY doc_id, wd),
        |agg AS (SELECT doc_id,
        |  sum(length(wd) * c) / CAST(sum(c) AS DOUBLE) AS mwl,
        |  sum(CASE WHEN regexp_matches(wd, '\p{L}') THEN c ELSE 0 END)
        |    / CAST(sum(c) AS DOUBLE) AS fa,
        |  max(c) / CAST(sum(c) AS DOUBLE) AS twf
        | FROM wc GROUP BY doc_id),
        |p AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg FROM
        |  (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |   FROM w WHERE len(ws) >= 2)),
        |pc AS (SELECT doc_id, bg, count(*) AS c FROM p GROUP BY doc_id, bg),
        |bagg AS (SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS tbf
        | FROM pc GROUP BY doc_id),
        |kp AS (SELECT a.doc_id FROM agg a LEFT JOIN bagg b USING (doc_id)
        |  WHERE mwl BETWEEN 3 AND 10 AND fa >= 0.8 AND twf <= 0.2
        |    AND coalesce(tbf, 0) <= 0.18),
        |s2 AS MATERIALIZED (SELECT s1.doc_id, s1.text FROM s1 JOIN kp USING (doc_id)),
        |ntok AS (SELECT source AS label, unnest(list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        | FROM documents WHERE doc_id % 7 <> 0),
        |ncnt AS (SELECT label, term, CAST(count(*) AS BIGINT) AS n
        |  FROM ntok GROUP BY 1, 2),
        |nct AS (SELECT label, CAST(sum(n) AS BIGINT) AS tot_c
        |  FROM ncnt GROUP BY 1),
        |nvv AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM ncnt),
        |ncd AS (SELECT source AS label, CAST(count(*) AS BIGINT) AS n_docs_c
        |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1),
        |nnd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE doc_id % 7 <> 0),
        |ncls AS (SELECT nct.label, nct.tot_c,
        |  ln(ncd.n_docs_c / CAST(nnd.n_docs AS DOUBLE)) AS log_prior
        | FROM nct JOIN ncd USING (label), nnd),
        |htf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        |  FROM s2) GROUP BY 1, 2),
        |nsc AS (SELECT h.doc_id, c.label,
        |  sum(h.cnt * coalesce(ln((m.n + 1.0) / (c.tot_c + nvv.v)),
        |                       ln(1.0 / (c.tot_c + nvv.v)))) / sum(h.cnt) AS avg_ll,
        |  CAST(sum(h.cnt) AS BIGINT) AS n_tokens,
        |  any_value(c.log_prior) AS log_prior
        | FROM htf h CROSS JOIN ncls c CROSS JOIN nvv
        | LEFT JOIN ncnt m ON m.label = c.label AND m.term = h.term
        | GROUP BY 1, 2),
        |np AS (SELECT doc_id, label,
        |  round(avg_ll + log_prior / n_tokens, 6) AS score,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round(avg_ll + log_prior / n_tokens, 6) DESC, label) AS rk
        | FROM nsc),
        |gate AS (SELECT doc_id FROM np WHERE rk = 1
        |  AND label IN ('src0','src1','src2','src3','src4',
        |    'src5','src6','src7','src8','src9') AND score >= -3.75),
        |s3 AS MATERIALIZED (SELECT s2.doc_id, s2.text FROM s2 JOIN gate USING (doc_id)),
        |dd AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY sha256(text)),
        |s4 AS MATERIALIZED (SELECT s3.doc_id, s3.text FROM s3 JOIN dd USING (doc_id)),
        |mw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        | FROM s4 WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
        |msh AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS s
        | FROM mw),
        |mhh AS (SELECT doc_id, sha256(s) AS h FROM msh),
        |msig AS (SELECT doc_id,
        |  min(substr(h,1,12)) AS mh0, min(substr(h,13,12)) AS mh1,
        |  min(substr(h,25,12)) AS mh2, min(substr(h,37,12)) AS mh3
        | FROM mhh GROUP BY doc_id),
        |mbands AS (
        | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM msig
        | UNION ALL
        | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM msig),
        |mprs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM mbands a JOIN mbands b
        |   ON a.band = b.band AND a.doc_id < b.doc_id),
        |edges AS (
        | SELECT doc_a AS src, doc_b AS dst FROM mprs
        | UNION
        | SELECT doc_b AS src, doc_a AS dst FROM mprs),
        |walk AS (
        | SELECT src AS node, dst AS reach FROM edges
        | UNION
        | SELECT w2.node, e.dst FROM walk w2 JOIN edges e ON e.src = w2.reach),
        |comp AS (SELECT node, least(node, min(reach)) AS component
        | FROM walk GROUP BY node),
        |s5 AS MATERIALIZED (SELECT s4.doc_id, s4.text FROM s4
        | LEFT JOIN comp c ON c.node = s4.doc_id
        | WHERE coalesce(c.component, s4.doc_id) = s4.doc_id)
        |SELECT
        |  (SELECT count(*) FROM base) AS pages,
        |  (SELECT count(*) FROM s1) AS after_c4,
        |  (SELECT count(*) FROM s2) AS after_gopher,
        |  (SELECT count(*) FROM s3) AS after_nb,
        |  (SELECT count(*) FROM s4) AS after_exact,
        |  (SELECT count(*) FROM s5) AS after_neardup,
        |  (SELECT CAST(COALESCE(SUM(len(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))), 0)
        |    AS BIGINT) FROM s5) AS tokens_final""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val raw = docs
        .unionByName(docs.where(col("doc_id") < 25)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") < 40)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            col("text").substr(lit(1),
              greatest(length(col("text")) - 20, lit(1))).as("text")))
      val planted = raw.withColumn("text",
        regexp_replace(col("text"), " (line|row) ", ".\n"))
      // each stage frontier feeds BOTH its 1-row survivor count and
      // every later stage: checkpoint the three expensive ones (C4,
      // Gopher, NB gate) so the clean/score passes run once, not once
      // per downstream branch — the materialization a production
      // funnel does between stages anyway. Pinned-tracked: the
      // harness releases the blocks after the result is consumed.
      // r22 (guide §2.6): the NB gate's model trains on the RAW
      // labeled corpus — zero data dependency on the C4/Gopher chain —
      // yet ran strictly after it, serializing two heavy tokenize
      // materializations. Overlap the two branches; results are those
      // of sequential evaluation (independent inputs), and the model
      // branch's pins are adopted by this thread (Par.concurrently).
      val ((s1, s2), model) = graft.ops.Par.concurrently(s)({
        val s1 = graft.ops.Pinned.pin(graft.ops.C4Clean.clean(planted, "text")
          .select(col("doc_id"), col("text")))
        val kp = graft.ops.TextAnalysis.gopherReport(s1, "doc_id", col("text"))
          .where(col("keep")).select(col("doc_id"))
        (s1, graft.ops.Pinned.pin(s1.join(kp, "doc_id")))
      })({
        // q148's gate verbatim: model trained on the RAW labeled
        // corpus, applied to the funnel's CLEANED survivors. The grid
        // is pinned HERE (not left for the scorer's pin, which
        // passes a checkpoint-backed frame through): the model's own
        // materialization — class tables, broadcasts, grid join — also
        // rides this branch instead of the post-join critical path.
        graft.ops.Pinned.pin(graft.ops.TextClassifier.trainNaiveBayes(
          t(s, d, "documents").filter(col("doc_id") % 7 =!= 0),
          col("source"), col("text")))
      })
      val s3 = graft.ops.Pinned.pin(graft.ops.TextClassifier.classifierGate(
          s2, col("doc_id"), col("text"), model,
          (0 to 9).map(i => s"src$i"), minScore = -3.75)
        .select(col("doc_id"), col("text")))
      val dd = s3.groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      // r22: pin s4 too — it feeds the minhash/LSH build, the s5 join
      // side and its own stage count (3 consumers), each of which
      // previously re-ran the dedup join from s3.
      val s4 = graft.ops.Pinned.pin(s3.join(dd, "doc_id"))
      val sigs = graft.ops.NearDup.minhashSignaturesFused(
        s4, "doc_id", col("text"))
      val labels = graft.ops.NearDup.connectedComponents(
        graft.ops.NearDup.lshCandidatePairs(sigs, "doc_id"))
      val s5 = s4.join(labels.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .where(coalesce(col("component"), col("doc_id")) === col("doc_id"))
        .select(col("doc_id"), col("text"))
      // r22 (guide §2.4): ONE tagged-union aggregation replaces 7
      // independent 1-row aggregates + 6 broadcast crossJoins (the
      // r21 StageAudit's 71-76 scheduled jobs were dominated by these
      // legs); the s5 chain now runs once — its survivor count and
      // token sum share an arm. Exact integers: byte-identical fold.
      val tokCnt = size(filter(
        graft.ops.NearDup.tokens(col("text")), w => w =!= "")).cast("long")
      val tagged = planted.select(lit(0).as("__st"), lit(0L).as("__tok"))
        .unionByName(s1.select(lit(1).as("__st"), lit(0L).as("__tok")))
        .unionByName(s2.select(lit(2).as("__st"), lit(0L).as("__tok")))
        .unionByName(s3.select(lit(3).as("__st"), lit(0L).as("__tok")))
        .unionByName(s4.select(lit(4).as("__st"), lit(0L).as("__tok")))
        .unionByName(s5.select(lit(5).as("__st"), tokCnt.as("__tok")))
      tagged.agg(
        count(when(col("__st") === 0, 1)).as("pages"),
        count(when(col("__st") === 1, 1)).as("after_c4"),
        count(when(col("__st") === 2, 1)).as("after_gopher"),
        count(when(col("__st") === 3, 1)).as("after_nb"),
        count(when(col("__st") === 4, 1)).as("after_exact"),
        count(when(col("__st") === 5, 1)).as("after_neardup"),
        coalesce(sum(when(col("__st") === 5, col("__tok"))), lit(0))
          .cast("long").as("tokens_final"))
    },

    // ---- the funnel with a LANGUAGE-ID gate (the CCNet front door) ----
    // q163's funnel widened with the gate the published CCNet pipeline
    // runs before perplexity: C4 clean → langid (keep 'en', the
    // stopword-profile argmax q21 verifies standalone) → Gopher →
    // exact dedup → tokens. Planting (both engines identically): the
    // q163 line rewrite + 25 duplicate pages (+1e6) so dedup provably
    // fires, PLUS 30 Spanish-profile pages (+3e6) built to SURVIVE C4
    // (three 10-word '.'-terminated lines) and FAIL the 'en' gate —
    // after_c4 − after_langid ≥ 30 by construction, so the gate's
    // firing is itself part of the hashed evidence.
    Q("q178_langid_funnel",
      """WITH raw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    'el la de y que la de el que y.' || chr(10) ||
        |    'el la de y que la de el que y.' || chr(10) ||
        |    'el la de y que la de el que y.' AS text
        |  FROM documents WHERE doc_id < 30),
        |base AS (SELECT doc_id,
        |    regexp_replace(COALESCE(text, ''), ' (line|row) ',
        |      '.' || chr(10), 'g') AS text
        |  FROM raw),
        |cl AS (SELECT doc_id, text,
        |  list_filter(string_split(text, chr(10)), l ->
        |    regexp_matches(rtrim(l), '[.!?"]$')
        |    AND len(regexp_extract_all(l, '\S+')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        | FROM base),
        |c2 AS (SELECT doc_id, text,
        |   COALESCE(array_to_string(kept, chr(10)), '') AS ctext FROM cl),
        |s1 AS (SELECT doc_id, ctext AS text FROM c2
        |  WHERE NOT (len(regexp_extract_all(ctext, '[.!?]')) < 3
        |    OR contains(text, '{') OR contains(lower(text), 'lorem ipsum'))),
        |hg AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> w IN ('the','a','of','and','to'))) AS en_hits,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> w IN ('el','la','de','y','que'))) AS es_hits,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> w IN ('der','die','das','und','zu'))) AS de_hits
        | FROM s1),
        |lg AS (SELECT doc_id FROM hg
        |  WHERE en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0),
        |s1b AS (SELECT s1.doc_id, s1.text FROM s1 JOIN lg USING (doc_id)),
        |w AS (SELECT doc_id, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM s1b),
        |u AS (SELECT doc_id, unnest(ws) AS wd FROM w),
        |wc AS (SELECT doc_id, wd, count(*) AS c FROM u GROUP BY doc_id, wd),
        |agg AS (SELECT doc_id,
        |  sum(length(wd) * c) / CAST(sum(c) AS DOUBLE) AS mwl,
        |  sum(CASE WHEN regexp_matches(wd, '\p{L}') THEN c ELSE 0 END)
        |    / CAST(sum(c) AS DOUBLE) AS fa,
        |  max(c) / CAST(sum(c) AS DOUBLE) AS twf
        | FROM wc GROUP BY doc_id),
        |p AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg FROM
        |  (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |   FROM w WHERE len(ws) >= 2)),
        |pc AS (SELECT doc_id, bg, count(*) AS c FROM p GROUP BY doc_id, bg),
        |bagg AS (SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS tbf
        | FROM pc GROUP BY doc_id),
        |kp AS (SELECT a.doc_id FROM agg a LEFT JOIN bagg b USING (doc_id)
        |  WHERE mwl BETWEEN 3 AND 10 AND fa >= 0.8 AND twf <= 0.2
        |    AND coalesce(tbf, 0) <= 0.18),
        |s2 AS (SELECT s1b.doc_id, s1b.text FROM s1b JOIN kp USING (doc_id)),
        |dd AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY sha256(text)),
        |s3 AS (SELECT s2.doc_id, s2.text FROM s2 JOIN dd USING (doc_id))
        |SELECT
        |  (SELECT count(*) FROM base) AS pages,
        |  (SELECT count(*) FROM s1) AS after_c4,
        |  (SELECT count(*) FROM s1b) AS after_langid,
        |  (SELECT count(*) FROM s2) AS after_gopher,
        |  (SELECT count(*) FROM s3) AS after_dedup,
        |  (SELECT CAST(COALESCE(SUM(len(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))), 0)
        |    AS BIGINT) FROM s3) AS tokens_final""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val foreign = Seq.fill(3)("el la de y que la de el que y.")
        .mkString("\n")
      val raw = docs
        .unionByName(docs.where(col("doc_id") < 25)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") < 30)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            lit(foreign).as("text")))
      val planted = raw.withColumn("text",
        regexp_replace(col("text"), " (line|row) ", ".\n"))
      // pin the C4 frontier (the q165 discipline): the langid gate,
      // the Gopher report, the dedup build and four stage counts all
      // branch off it — unpinned, each branch re-runs the line filter.
      // r22: s1b and s2 pinned too — s1b feeds the Gopher gate, the
      // s2 join and its stage count (3 consumers, each re-running the
      // stopword-profile tokenize), s2 feeds the dedup build, the s3
      // arm and its count.
      val s1 = graft.ops.Pinned.pin(graft.ops.C4Clean.clean(planted, "text")
        .select(col("doc_id"), col("text")))
      val s1b = graft.ops.Pinned.pin(
        graft.ops.TextAnalysis.langIdGate(s1, col("text"), Seq("en")))
      val kp = graft.ops.TextAnalysis.gopherReport(s1b, "doc_id", col("text"))
        .where(col("keep")).select(col("doc_id"))
      val s2 = graft.ops.Pinned.pin(s1b.join(kp, "doc_id"))
      val dd = s2.groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s3 = s2.join(dd, "doc_id")
      // r22 (guide §2.4): one tagged-union aggregation in place of 6
      // independent 1-row aggregates + 5 broadcast crossJoins — the
      // q163/q165 fold. Exact integers: byte-identical.
      val tokCnt = size(filter(
        graft.ops.NearDup.tokens(col("text")), w => w =!= "")).cast("long")
      val tagged = planted.select(lit(0).as("__st"), lit(0L).as("__tok"))
        .unionByName(s1.select(lit(1).as("__st"), lit(0L).as("__tok")))
        .unionByName(s1b.select(lit(2).as("__st"), lit(0L).as("__tok")))
        .unionByName(s2.select(lit(3).as("__st"), lit(0L).as("__tok")))
        .unionByName(s3.select(lit(4).as("__st"), tokCnt.as("__tok")))
      tagged.agg(
        count(when(col("__st") === 0, 1)).as("pages"),
        count(when(col("__st") === 1, 1)).as("after_c4"),
        count(when(col("__st") === 2, 1)).as("after_langid"),
        count(when(col("__st") === 3, 1)).as("after_gopher"),
        count(when(col("__st") === 4, 1)).as("after_dedup"),
        coalesce(sum(when(col("__st") === 4, col("__tok"))), lit(0))
          .cast("long").as("tokens_final"))
    },

    // ---- the council vector collection SERVED FROM the PQ store ----
    // The reference's end state is a queryable vector collection
    // (vectorize.py:93-94, chroma query :119-123); q41 proves the
    // summarize stage and K6 the collection sink — this row closes the
    // loop THROUGH the scaled index: stage-2 summaries → vectorize
    // (id build, '|||' metadata flatten, hash-embed at dim 64) → a
    // numeric surrogate rank (the collection is meeting-dimension-
    // scale, so the one single-partition rank window is bounded by
    // construction) → IVF-PQ index store on disk → partition-pruned
    // probeIndexStore self-find with exact rerank. The oracle replays
    // ALL of it: q41's digest chain, q19's sha-decoded embedder,
    // dense-ified vectors, seed codebooks (iters=0 — hash embeddings
    // are sparse, so duplicate all-zero subspace SLICES among seeds
    // are likely, and Lloyd means under exact argmin ties are the
    // q171-documented cross-engine hazard; codebook TRAINING quality
    // is q174's subject, this row is about serving the pipeline's
    // collection), 2-of-4-cell probes, ADC page, exact rerank.
    Q("q177_council_pq_store",
      """WITH seg AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS file,
        |   event_id AS id, event_type AS text, value / 1000.0 AS nsp
        | FROM events),
        |chunked AS (SELECT *, CAST(floor((row_number() OVER
        |   (PARTITION BY file ORDER BY id) - 1) / 100) AS BIGINT) AS chunk_id
        | FROM seg),
        |chunks AS (SELECT file, chunk_id,
        |   string_agg(CASE WHEN nsp < 0.12 THEN text END, ' ' ORDER BY id) AS chunk_text,
        |   min(id) AS start_id, max(id) AS end_id
        | FROM chunked GROUP BY file, chunk_id),
        |kept AS (SELECT * FROM chunks
        | WHERE length(trim(coalesce(chunk_text, ''))) >= 2),
        |digested AS (SELECT file, chunk_id,
        |   array_to_string(list_append(
        |     list_slice(regexp_split_to_array(trim('summarize: ' || chunk_text), '\s+'), 1, 8),
        |     '#' || substr(sha256('summarize: ' || chunk_text), 1, 8)), ' ') AS summary,
        |   start_id, end_id FROM kept),
        |cid AS (SELECT file || ':' || CAST(start_id AS VARCHAR)
        |     || ':' || CAST(end_id AS VARCHAR) AS id, summary
        | FROM digested WHERE chunk_id >= 0 AND length(trim(summary)) > 0),
        |rids AS (SELECT id, summary,
        |   row_number() OVER (ORDER BY id) - 1 AS rid FROM cid),
        |tok AS (SELECT rid,
        |   unnest(string_split_regex(lower(trim(summary)), '\s+')) AS tk
        | FROM rids),
        |hh AS (SELECT rid, sha256('42:' || tk) AS hh FROM tok WHERE tk <> ''),
        |hc AS (SELECT rid,
        |   ((strpos('0123456789abcdef', substr(hh,1,1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(hh,2,1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(hh,3,1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(hh,4,1)) - 1)) % 64 AS idx,
        |   CASE WHEN (strpos('0123456789abcdef', substr(hh,5,1)) - 1) % 2 = 0
        |        THEN 1 ELSE -1 END AS sgn
        | FROM hh),
        |hv AS (SELECT rid, idx, CAST(SUM(sgn) AS DOUBLE) AS vv
        | FROM hc GROUP BY rid, idx),
        |hn AS (SELECT rid, sqrt(SUM(vv*vv)) AS nrm FROM hv GROUP BY rid),
        |hx AS (SELECT hv.rid, idx,
        |   CAST(CAST(vv AS FLOAT) * CAST(1.0 / nrm AS FLOAT) AS FLOAT) AS xv
        | FROM hv JOIN hn USING (rid) WHERE nrm > 0),
        |uc AS (SELECT r.rid AS vec_id, dm.p,
        |   CAST(COALESCE(hx.xv, 0.0) AS DOUBLE) AS x
        | FROM rids r CROSS JOIN range(64) dm(p)
        | LEFT JOIN hx ON hx.rid = r.rid AND hx.idx = dm.p),
        |svc AS (SELECT vec_id, p // 8 AS s, p % 8 AS j, x FROM uc),
        |ccb AS (SELECT vec_id AS c, p // 8 AS s, p % 8 AS j, x AS cx
        | FROM uc WHERE vec_id < 8),
        |cd0 AS (SELECT t.vec_id, t.s, c.c,
        |   SUM((t.x - c.cx) * (t.x - c.cx)) AS d2
        | FROM svc t JOIN ccb c ON c.s = t.s AND c.j = t.j
        | GROUP BY t.vec_id, t.s, c.c),
        |ca AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
        |   FROM cd0) WHERE rn = 1),
        |ccv AS (SELECT vec_id AS cid, p, x FROM uc WHERE vec_id < 4),
        |ccd AS (SELECT t.vec_id, c.cid, SUM((t.x - c.x) * (t.x - c.x)) AS d2
        | FROM uc t JOIN ccv c ON c.p = t.p GROUP BY t.vec_id, c.cid),
        |ccell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |   FROM ccd) WHERE rn = 1),
        |cprobe AS (SELECT cid FROM (SELECT cid,
        |   row_number() OVER (ORDER BY d2, cid) AS rn
        |   FROM ccd WHERE vec_id = 0) WHERE rn <= 2),
        |ccand AS (SELECT ce.vec_id FROM ccell ce
        | JOIN cprobe pr ON pr.cid = ce.cid),
        |cq AS (SELECT p // 8 AS s, p % 8 AS j, x AS qx FROM uc WHERE vec_id = 0),
        |clut AS (SELECT c.s, c.c, SUM((q.qx - c.cx) * (q.qx - c.cx)) AS d2
        | FROM ccb c JOIN cq q ON q.s = c.s AND q.j = c.j GROUP BY c.s, c.c),
        |cadc AS (SELECT ca.vec_id, round(SUM(l.d2), 6) AS adc_d2
        | FROM ca JOIN ccand ON ccand.vec_id = ca.vec_id
        | JOIN clut l ON l.s = ca.s AND l.c = ca.c GROUP BY ca.vec_id),
        |cpage AS (SELECT vec_id, adc_d2 FROM cadc
        | ORDER BY adc_d2, vec_id LIMIT 20),
        |cqx AS (SELECT p, x AS qx FROM uc WHERE vec_id = 0),
        |cex AS (SELECT pg.vec_id, pg.adc_d2,
        |   round(SUM((t.x - q.qx) * (t.x - q.qx)), 6) AS exact_d2
        | FROM cpage pg JOIN uc t ON t.vec_id = pg.vec_id
        | JOIN cqx q ON q.p = t.p GROUP BY pg.vec_id, pg.adc_d2)
        |SELECT vec_id AS rid, adc_d2, exact_d2 FROM cex
        |ORDER BY exact_d2, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      import graft.vector.{HashEmbedder, Ivf, Pq}
      val segments = events(s, d).select(
        concat(lit("u"), col("user_id").cast("string")).as("file"),
        col("event_id").as("id"),
        col("event_type").as("text"),
        (col("value") / 1000.0).as("no_speech_prob"),
        (col("ts_ms") / 1000.0).as("start"),
        (col("ts_ms") / 1000.0 + 9.5).as("end"))
      val summaries = CouncilPipeline.summarize(segments,
        () => new Enricher.StubSummarizer, chunkSize = 100,
        noSpeechThresh = 0.12)
      // the meetings dim the reference's vectorize joins for dates —
      // synthesized deterministically from the same event stream
      val meetings = segments.select(col("file")).distinct()
        .select(concat(lit("meetings/"), col("file")).as("video"),
          lit("2024-01-01").cast("date").as("date"))
      val coll = CouncilPipeline.vectorize(summaries, meetings,
        new HashEmbedder(dim = 64))
      // surrogate numeric rank: the collection is meeting-dimension
      // scale, so the single-partition window is bounded — ENFORCED,
      // not assumed (the mmrRerank maxPool discipline): a loud require
      // plus a no-op Limit the plan carries, so the suite-wide
      // unbounded-window pin sees the bound structurally
      val collIds = coll.select(col("id"), col("embedding"))
      val maxColl = 100000
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      // checkpoint-pin the ranked collection (the q165 frontier
      // discipline): six downstream actions — the cap check, centroid
      // seeds, codebook seeds, the store write, the query-vector
      // fetch, the rerank corpus — would otherwise each re-run the
      // whole summarize+vectorize chain (measured 10.1 s → see floor
      // note; the pin collapses the recomputes to one pass)
      // limit(maxColl + 1): the +1 keeps the cap check able to SEE an
      // overflow (a plain limit(maxColl) would truncate silently and
      // the count below would read exactly maxColl)
      val withRid = graft.ops.Pinned.pin(collIds.limit(maxColl + 1)
        .withColumn("rid", (row_number().over(w) - 1).cast("long")))
      val nColl = withRid.count()
      require(nColl <= maxColl, s"q177: collection has $nColl rows — " +
        s"the surrogate-rank page is capped at $maxColl (meeting-" +
        "dimension scale); shard the collection before indexing")
      val cents = Ivf.seedCentroids(withRid, "rid", "embedding", 4)
      val mod = Pq.trainCodebooks(withRid, "rid", "embedding", 8, 8,
        iters = 0)
      val dir = Q.stateDir(d, "q177_state")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val store = s"$dir/pq_index"
      Pq.writeIndexStore(withRid, "rid", "embedding", mod, cents, store)
      val qv = withRid.where(col("rid") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Pq.probeIndexStore(s, store, "rid", qv, 10, mod, cents,
        nProbe = 2, rerank = 20,
        corpus = Some(withRid.select(col("rid"), col("embedding"))),
        vec = "embedding")
    },
  )
}
