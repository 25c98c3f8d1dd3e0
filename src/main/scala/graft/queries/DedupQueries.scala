package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.NearDup
import Q.t

/** Near-duplicate detection queries (training-data pipeline surface):
  * MinHash signatures, MinHash-LSH candidate pairs, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup. Hashing is sha256-slice based
  * for exact DuckDB parity (see ops/NearDup.scala).
  *
  * LSH/Jaccard demos union the corpus with truncated copies of itself
  * so the near-dup set is non-empty and deterministic.
  */
object DedupQueries {

  /** Shared DuckDB CTE: corpus ∪ truncated mutations (offset ids). */
  private val mutatedBase =
    """base AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id,
      |        substr(text, 1, greatest(length(text) - 20, 1)) AS text
      | FROM documents)""".stripMargin

  private def minhashSql(src: String): String =
    s"""w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       | FROM $src WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
       |sh AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS s
       | FROM w),
       |hh AS (SELECT doc_id, sha256(s) AS h FROM sh),
       |sig AS (SELECT doc_id,
       |  min(substr(h,1,12)) AS mh0, min(substr(h,13,12)) AS mh1,
       |  min(substr(h,25,12)) AS mh2, min(substr(h,37,12)) AS mh3
       | FROM hh GROUP BY doc_id)""".stripMargin

  /** DuckDB simhash at `bits` width: word hash = first bits/4 sha256
    * nibbles (strpos-decoded, nibble 1 most significant), per-bit ±1
    * votes, bit set iff sum>0. Bit 63 is the long sign bit, written as
    * (-max-1) so the sum reproduces the signed reinterpretation the
    * Spark side emits. Mirrors `NearDup.simhash` exactly. */
  private def simhashCtes(bits: Int, src: String): String = {
    val nNibs = bits / 4
    val nibs = (1 to nNibs)
      .map(j => s"(strpos('0123456789abcdef', substr(h,$j,1)) - 1) AS n$j")
      .mkString(", ")
    val votes = (0 until bits)
      .map(i => s"SUM(((n${nNibs - i / 4} >> ${i % 4}) & 1) * 2 - 1) AS s$i")
      .mkString(", ")
    val fp = (0 until bits).map { i =>
      val v = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
      s"CASE WHEN s$i > 0 THEN $v ELSE 0 END"
    }.mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       | FROM $src),
       |hh AS (SELECT doc_id, sha256(word) AS h FROM w),
       |hv AS (SELECT doc_id, $nibs FROM hh),
       |votes AS (SELECT doc_id, $votes FROM hv GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  private def simhashSql(bits: Int): String =
    s"""WITH ${simhashCtes(bits, "documents")}
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- MinHash signatures over the raw corpus (fused expression) ----
    // Runs the codegen MinHashSig projection — the oracle doubles as a
    // cross-engine proof that the fused kernel equals the explode+agg
    // formulation (whose SQL this is).
    Q("q13_minhash_sig",
      s"""WITH ${minhashSql("documents")}
         |SELECT doc_id, mh0, mh1, mh2, mh3 FROM sig ORDER BY doc_id""".stripMargin) { (s, d) =>
      NearDup.minhashSignaturesFused(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },

    // ---- MinHash-LSH candidate pairs (shingle→minhash→band→bucket join) ----
    Q("q14_lsh_neardup_pairs",
      s"""WITH $mutatedBase,
         |${minhashSql("base")},
         |bands AS (
         | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
         | UNION ALL
         | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = NearDup.withMutatedCopies(t(s, d, "documents"), "doc_id", "text")
      val sigs = NearDup.minhashSignaturesFused(base, "doc_id", col("text"))
      NearDup.lshCandidatePairs(sigs, "doc_id")
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash fingerprints (16-bit demo width) ----
    Q("q15_simhash", simhashSql(16)) { (s, d) =>
      NearDup.simhash(t(s, d, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },

    // ---- SimHash fingerprints (64-bit production width) ----
    // Same operator at the width real simhash dedup runs use; bit 63
    // makes the fingerprint the signed reinterpretation of the u64
    // pattern — oracle-checked at both widths.
    Q("q65_simhash64", simhashSql(64)) { (s, d) =>
      NearDup.simhash(t(s, d, "documents"), "doc_id", col("text"), bits = 64)
        .orderBy(col("doc_id"))
    },

    // ---- SimHash Hamming-distance near-dup pairs (64-bit, 4 bands) ----
    // The dedup join the 64-bit fingerprint exists for: band into
    // 4 x 16-bit chunks, equi-join on (band_no, band_val), refine by
    // popcount(xor) <= 3 — exact at that radius by pigeonhole. Corpus
    // is unioned with truncated copies so the near-dup set is
    // non-empty; `& 65535` after the shift normalizes arithmetic vs
    // logical >> on the signed fingerprint identically in both engines.
    Q("q86_simhash_hamming",
      s"""WITH $mutatedBase,
         |${simhashCtes(64, "base")},
         |bands AS (
         | SELECT doc_id, simhash, CAST(r.range AS INTEGER) AS band_no,
         |        (simhash >> (CAST(r.range AS INTEGER) * 16)) & 65535 AS band_val
         | FROM fp CROSS JOIN range(4) r)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM bands a JOIN bands b ON a.band_no = b.band_no
         | AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = NearDup.withMutatedCopies(t(s, d, "documents"), "doc_id", "text")
      val fps = NearDup.simhash(base, "doc_id", col("text"), bits = 64)
      NearDup.simhashHammingPairs(fps, "doc_id", col("simhash"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- n-gram (token-set) Jaccard pairs on a bounded candidate set ----
    Q("q16_jaccard_pairs",
      """WITH base AS (
        | SELECT doc_id, text FROM documents WHERE doc_id < 50
        | UNION ALL
        | SELECT doc_id + 1000000 AS doc_id,
        |        substr(text, 1, greatest(length(text) - 20, 1)) AS text
        | FROM documents WHERE doc_id < 50),
        |w AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM base),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM w GROUP BY doc_id),
        |inter AS (
        | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        | FROM w x JOIN w y ON x.word = y.word AND x.doc_id < y.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = NearDup.withMutatedCopies(
        t(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text")
      NearDup.jaccardPairs(base, "doc_id", col("text"), 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- benchmark decontamination: train/eval word-trigram overlap ----
    // Deterministic split: doc_id % 97 == 0 plays the benchmark set;
    // report = corpus docs sharing >=1 distinct trigram, with counts.
    Q("q59_decontaminate",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        | FROM documents
        | WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        | FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
        |SELECT doc_id, COUNT(*) AS n_shared
        |FROM sh JOIN bench USING (s)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.ops.Decontaminate.contaminationReport(
          docs.filter(col("doc_id") % 97 =!= 0), "doc_id", col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
        .orderBy(col("doc_id"))
    },

    // ---- connected components over LSH candidate pairs ----
    // The transitive-dedup grouping: hash-min label propagation with
    // pointer jumping on the Spark side; the oracle computes the same
    // components via a recursive transitive-closure CTE (min reachable
    // id == min-label fixpoint).
    Q("q64_connected_components",
      s"""WITH RECURSIVE $mutatedBase,
         |${minhashSql("base")},
         |bands AS (
         | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
         | UNION ALL
         | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig),
         |pairs AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |edges AS (
         | SELECT doc_a AS src, doc_b AS dst FROM pairs
         | UNION
         | SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS node, dst AS reach FROM edges
         | UNION
         | SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
         |SELECT node AS doc_id, least(node, min(reach)) AS component
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = NearDup.withMutatedCopies(t(s, d, "documents"), "doc_id", "text")
      val sigs = NearDup.minhashSignaturesFused(base, "doc_id", col("text"))
      val pairs = NearDup.lshCandidatePairs(sigs, "doc_id")
      NearDup.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    },

    // ---- transitive dedup with a keep-best policy ----
    // Same component grouping as q64, applied as a dedup that keeps
    // the LONGEST doc per duplicate cluster (ties → smaller id)
    // instead of the min id — the representative policy large corpus
    // runs use. Singletons (docs in no pair) always survive. Oracle:
    // recursive-CTE components + a row_number window.
    Q("q66_transitive_keep_best",
      s"""WITH RECURSIVE $mutatedBase,
         |${minhashSql("base")},
         |bands AS (
         | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
         | UNION ALL
         | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig),
         |pairs AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |edges AS (
         | SELECT doc_a AS src, doc_b AS dst FROM pairs
         | UNION
         | SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS node, dst AS reach FROM edges
         | UNION
         | SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
         |comp AS (
         | SELECT node AS doc_id, least(node, min(reach)) AS component
         | FROM walk GROUP BY node),
         |ranked AS (
         | SELECT b.doc_id,
         |   row_number() OVER (
         |     PARTITION BY coalesce(c.component, b.doc_id)
         |     ORDER BY length(b.text) DESC, b.doc_id ASC) AS rn
         | FROM base b LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = NearDup.withMutatedCopies(t(s, d, "documents"), "doc_id", "text")
      val sigs = NearDup.minhashSignaturesFused(base, "doc_id", col("text"))
      val pairs = NearDup.lshCandidatePairs(sigs, "doc_id")
      NearDup.dropNearDuplicatesFromLabelsBy(base, "doc_id",
          NearDup.connectedComponents(pairs), keepBy = length(col("text")))
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- cross-document repeated token windows (exact-substring dedup diagnostic) ----
    // The corpus has no naturally shared 8-grams (tiny vocab, huge
    // window space), so every 25th doc gets a shared 10-word sentence
    // appended in-query: its interior windows repeat across exactly
    // those docs; boundary windows stay doc-specific. The operator
    // must count, per doc, windows whose exact text occurs in >= 2
    // DISTINCT docs (within-doc repetition alone must NOT trigger).
    Q("q68_repeated_windows", {
      val win8 = (0 until 8).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
      s"""WITH d2 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 25 = 0
         |    THEN text || ' shared city hall announcement for all residents tonight at seven'
         |    ELSE text END AS text
         | FROM documents),
         |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM d2),
         |f AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 8),
         |wl AS (SELECT doc_id,
         |  list_transform(range(1, len(ws) - 6), i -> $win8) AS wins FROM f),
         |u AS (SELECT doc_id, unnest(wins) AS win,
         |  generate_subscripts(wins, 1) - 1 AS pos FROM wl),
         |rep AS (SELECT win FROM u GROUP BY win HAVING count(DISTINCT doc_id) >= 2)
         |SELECT doc_id, count(*) AS n_rep, CAST(min(pos) AS BIGINT) AS first_pos
         |FROM u JOIN rep USING (win)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val d2 = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 25 === 0, concat(col("text"),
          lit(" shared city hall announcement for all residents tonight at seven")))
          .otherwise(col("text")).as("text"))
      NearDup.repeatedWindows(d2, "doc_id", col("text"), w = 8)
        .orderBy(col("doc_id"))
    },

    // ---- cross-document exact-substring REMOVAL (Lee et al. 2022) ----
    // Completes q68's diagnostic into the dedup operator: tokens
    // covered by any 8-token window shared across >= 2 distinct docs
    // are stripped and the doc is rebuilt from the survivors (same
    // in-query planted shared sentence as q68: its interior repeats,
    // its boundaries stay doc-specific, so the planted docs lose
    // exactly the shared span).
    Q("q77_substring_dedup", {
      val win8 = (0 until 8).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
      s"""WITH d2 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 25 = 0
         |    THEN text || ' shared city hall announcement for all residents tonight at seven'
         |    ELSE text END AS text
         | FROM documents),
         |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM d2),
         |tok AS (SELECT doc_id, unnest(ws) AS w,
         |  generate_subscripts(ws, 1) - 1 AS p FROM t),
         |f AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 8),
         |wl AS (SELECT doc_id,
         |  list_transform(range(1, len(ws) - 6), i -> $win8) AS wins FROM f),
         |u AS (SELECT doc_id, unnest(wins) AS win,
         |  generate_subscripts(wins, 1) - 1 AS pos FROM wl),
         |rep AS (SELECT win FROM u GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT u.doc_id, u.pos + k.k AS p
         |        FROM u JOIN rep USING (win), range(8) k(k)),
         |kept AS (SELECT tok.doc_id,
         |    string_agg(tok.w, ' ' ORDER BY tok.p) AS clean_text,
         |    count(*) AS nk
         |  FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.p = tok.p
         |  WHERE cov.doc_id IS NULL
         |  GROUP BY tok.doc_id),
         |n AS (SELECT doc_id, len(ws) AS n FROM t)
         |SELECT n.doc_id, coalesce(kept.clean_text, '') AS clean_text,
         |  CAST(n.n - coalesce(kept.nk, 0) AS BIGINT) AS n_removed
         |FROM n LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val d2 = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 25 === 0, concat(col("text"),
          lit(" shared city hall announcement for all residents tonight at seven")))
          .otherwise(col("text")).as("text"))
      NearDup.removeRepeatedWindows(d2, "doc_id", col("text"), w = 8)
        .orderBy(col("doc_id"))
    },

    // ---- incremental LSH: new batch vs already-signed corpus ----
    // The daily-dedup shape: the corpus signature table is reused as
    // stored (never re-banded against itself); only the mutated copies
    // (the "new batch") band and probe. Result = exactly the q14 pairs
    // that touch a new doc — corpus-internal pairs belong to the run
    // that ingested them.
    Q("q85_lsh_incremental",
      s"""WITH $mutatedBase,
         |${minhashSql("base")},
         |bands AS (
         | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
         | UNION ALL
         | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |WHERE a.doc_id >= 1000000 OR b.doc_id >= 1000000
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val newBatch = NearDup.withMutatedCopies(docs, "doc_id", "text")
        .filter(col("doc_id") >= 1000000)
      val corpusSigs = NearDup.minhashSignaturesFused(docs, "doc_id", col("text"))
      val newSigs = NearDup.minhashSignaturesFused(newBatch, "doc_id", col("text"))
      NearDup.lshCandidatePairsIncremental(corpusSigs, newSigs, "doc_id")
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- cross-split exact-content leakage audit ----
    // Deterministic split: doc_id % 3 == 0 plays the test split; the
    // train side is the rest PLUS verbatim copies of every 5th doc
    // (offset ids) — the planted leak. Test docs whose content
    // fingerprint appears in train surface with the train-side copy
    // count; multiples of 15 leak by construction, plus any natural
    // exact dups that straddle the split.
    Q("q81_split_leakage",
      """WITH train AS (
        | SELECT text FROM documents WHERE doc_id % 3 <> 0
        | UNION ALL
        | SELECT text FROM documents WHERE doc_id % 5 = 0),
        |tf AS (SELECT substr(sha256(text), 1, 16) AS fp,
        |       count(*) AS n_train_dups FROM train GROUP BY 1)
        |SELECT d.doc_id, tf.n_train_dups
        |FROM documents d JOIN tf ON substr(sha256(d.text), 1, 16) = tf.fp
        |WHERE d.doc_id % 3 = 0
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val train = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val test = docs.filter(col("doc_id") % 3 === 0)
      graft.ops.Decontaminate.splitLeakageReport(train, test, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },

    // ---- Bloom-prefiltered seen-set anti join ----
    // Every 4th doc's content fingerprint plays the seen set; the op
    // must return EXACTLY the plain anti join (the Bloom pre-pass only
    // decides which rows ride the residual join), so the oracle is the
    // anti join itself. The map-side split is the 100 TB shape: the
    // shuffle carries the maybe-seen sliver, not the corpus.
    // NOT EXISTS (not NOT IN): anti-join semantics keep null-key rows,
    // while SQL NOT IN drops them (or empties the result if a NULL
    // lands in the seen set) — a data-dependent parity trap.
    Q("q82_bloom_dedup",
      """WITH seen AS (SELECT DISTINCT substr(sha256(text), 1, 16) AS fp
        | FROM documents WHERE doc_id % 4 = 0)
        |SELECT doc_id FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM seen
        |                  WHERE seen.fp = substr(sha256(d.text), 1, 16))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val withFp = t(s, d, "documents").select(col("doc_id"),
        graft.expr.Functions.sha16(col("text")).as("fp"))
      val seen = withFp.filter(col("doc_id") % 4 === 0).select(col("fp"))
      graft.ops.Dedup.bloomPrefilteredAntiJoin(withFp, "fp", seen,
          expectedItems = 20000L, fpp = 0.01)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- signature-agreement Jaccard estimate for candidate pairs ----
    // est = agreeing-minhash fraction, the unbiased minhash estimator:
    // candidate pairs get a similarity confidence from the 40-byte
    // signature rows alone — no re-read of any document text (the
    // post-LSH refine stops touching the corpus). 4 hashes → the
    // estimate is quartile-coarse {0.25, 0.5, 0.75, 1.0}; mutated
    // copies (20 chars dropped) land at 0.75/1.0, unrelated bucket
    // collisions at 0.25 — the 0.5 floor keeps the plausible pairs.
    Q("q95_jaccard_estimate",
      s"""WITH $mutatedBase,
         |${minhashSql("base")},
         |bands AS (
         | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
         | UNION ALL
         | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig),
         |pairs AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT p.doc_a, p.doc_b,
         | round(((a.mh0 = b.mh0)::INT + (a.mh1 = b.mh1)::INT +
         |        (a.mh2 = b.mh2)::INT + (a.mh3 = b.mh3)::INT) / 4.0, 6)
         |   AS est_jaccard
         |FROM pairs p
         |JOIN sig a ON a.doc_id = p.doc_a
         |JOIN sig b ON b.doc_id = p.doc_b
         |WHERE ((a.mh0 = b.mh0)::INT + (a.mh1 = b.mh1)::INT +
         |       (a.mh2 = b.mh2)::INT + (a.mh3 = b.mh3)::INT) / 4.0 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = NearDup.withMutatedCopies(t(s, d, "documents"), "doc_id", "text")
      val sigs = NearDup.minhashSignaturesFused(base, "doc_id", col("text"))
      NearDup.estimatedJaccardPairs(sigs, "doc_id", minEstimate = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- incremental label store: 2-batch merge ≡ one-shot CC ----
    // The q64 component semantics driven through ops/LabelStore: a
    // synthetic id graph (chains within each decade + long-range
    // bridges) split into two batches by doc_a parity, merged
    // sequentially into an on-disk label store, final labels read
    // back. The oracle computes the same components one-shot via the
    // recursive-CTE walk — so the store's batch algebra (touched-
    // component star contraction) is hash-checked against ground
    // truth, not just spec-asserted. State lives under target/tmp,
    // wiped per invocation (each run is self-contained).
    Q("q94_label_store",
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
        | SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
        |SELECT node, least(node, min(reach)) AS component
        |FROM walk GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
      val ids = t(s, d, "documents").select(col("doc_id"))
      val pairs = ids.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        .unionByName(ids.filter(col("doc_id") % 37 === 0)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 100).as("doc_b")))
      val dir = Q.stateDir(d, "q94_state")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val store = s"$dir/labels"
      // buckets=8 at demo scale (one bucket ≈ one task's rows — the
      // LabelStore sizing contract; pruning behavior is spec-pinned
      // in GraphSpec, it does not need 64 dirs here)
      graft.ops.LabelStore.merge(s, store,
        pairs.filter(col("doc_a") % 2 === 0), buckets = 8)
      graft.ops.LabelStore.merge(s, store,
        pairs.filter(col("doc_a") % 2 =!= 0), buckets = 8)
      graft.ops.LabelStore.read(s, store).orderBy(col("node"))
    },

    // ---- embedding-cosine near-dup pairs on a bounded candidate set ----
    Q("q17_embed_neardup",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |       generate_subscripts(embedding, 1) AS i FROM e),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.x*b.x) AS dot
        |      FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |n AS (SELECT vec_id, sqrt(SUM(x*x)) AS nrm FROM u GROUP BY 1)
        |SELECT id_a, id_b, round(dot/(na.nrm*nb.nrm), 6) AS cos_sim
        |FROM p JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        |WHERE dot/(na.nrm*nb.nrm) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      NearDup.cosineNearDupPairs(
          t(s, d, "embeddings").filter(col("vec_id") < 200), "vec_id",
          col("embedding"), 0.35)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- truncation-duplicate (containment) detection ----
    // Planted truncations: every %3 doc with ≥24 tokens gets a copy
    // (id + 1,000,000) holding only its first 12 tokens — the scraped-
    // corpus failure LSH under-catches (Jaccard ≈ 0.5 sits below
    // banding thresholds). The prefix-anchor equi-join finds every
    // truncation-from-the-start pair exactly; containment verifies on
    // normalized text. Original docs sharing an 8-token head join in
    // too — same rule both engines.
    Q("q112_containment_dedup",
      """WITH w0 AS (SELECT doc_id, text, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM documents),
        |tr AS (SELECT doc_id + 1000000 AS doc_id,
        |  array_to_string(ws[1:12], ' ') AS text
        | FROM w0 WHERE doc_id % 3 = 0 AND len(ws) >= 24),
        |aug AS (SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id, text FROM tr),
        |b0 AS (SELECT doc_id AS id, lower(trim(text)) AS txt, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM aug),
        |base AS (SELECT id, txt, array_to_string(ws[1:8], ' ') AS anchor
        | FROM b0 WHERE len(ws) >= 8)
        |SELECT a.id AS contained_id, b.id AS container_id,
        | CASE WHEN length(a.txt) = length(b.txt) THEN 'equal'
        |      ELSE 'contained' END AS relation
        |FROM base a JOIN base b ON a.anchor = b.anchor
        | AND (length(a.txt) < length(b.txt)
        |      OR (length(a.txt) = length(b.txt) AND a.id < b.id))
        |WHERE contains(b.txt, a.txt)
        |ORDER BY contained_id, container_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val ws = filter(split(lower(trim(col("text"))), "\\s+"), x => x =!= "")
      val trunc = docs
        .filter(col("doc_id") % 3 === 0 && size(ws) >= 24)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(ws, lit(1), lit(12))).as("text"))
      val aug = docs.select(col("doc_id"), col("text")).unionByName(trunc)
      NearDup.prefixContainmentPairs(aug, "doc_id", col("text"),
          anchorTokens = 8)
        .orderBy(col("contained_id"), col("container_id"))
    },

    // ---- cross-source duplication matrix (provenance report) ----
    // WHICH sources mirror each other: LSH candidate pairs rolled up
    // per unordered source pair (diagonal = within-source dups). A
    // deterministic 'mirror' source re-hosting every %13 doc is
    // planted so the cross-source cells are non-empty — the
    // aggregator-site shape this report exists to expose. Pairs carry
    // only 8-byte ids into the two source-map joins; text never
    // reaches an exchange past the signature projection.
    Q("q119_source_dup_matrix",
      s"""WITH aug AS (
        | SELECT doc_id, text, source FROM documents
        | UNION ALL
        | SELECT doc_id + 2000000 AS doc_id, text, 'mirror' AS source
        | FROM documents WHERE doc_id % 13 = 0),
        |${minhashSql("aug")},
        |bands AS (
        | SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
        | UNION ALL
        | SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig),
        |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |ps AS (SELECT least(ma.source, mb.source) AS source_a,
        |        greatest(ma.source, mb.source) AS source_b
        | FROM p JOIN aug ma ON ma.doc_id = p.doc_a
        |        JOIN aug mb ON mb.doc_id = p.doc_b)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM ps GROUP BY source_a, source_b
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            lit("mirror").as("source")))
      val sigs = NearDup.minhashSignaturesFused(aug, "doc_id", col("text"))
      val pairs = NearDup.lshCandidatePairs(sigs, "doc_id")
      graft.ops.CorpusReports.sourcePairMatrix(pairs, aug, "doc_id",
          col("source"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- duplicate-cluster size distribution ----
    // Over q94's planted pair graph: clusters per size and the docs
    // they hold — long-tail-of-pairs vs few-mega-clusters is the
    // first question a dedup report answers (the second shape wants a
    // source-level fix, not row dedup). Oracle recomputes components
    // via the recursive walk.
    Q("q123_cluster_sizes",
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
        |sz AS (SELECT component, count(*) AS cluster_size
        | FROM comp GROUP BY component)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        | CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin) { (s, d) =>
      val ids = t(s, d, "documents").select(col("doc_id"))
      val pairs = ids.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        .unionByName(ids.filter(col("doc_id") % 37 === 0)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 100).as("doc_b")))
      val labels = NearDup.connectedComponents(pairs)
      graft.ops.Graph.componentSizeDistribution(labels)
        .orderBy(col("cluster_size"))
    },

    // ---- per-source exact-duplicate rate ----
    // Fraction of each source's docs whose sha16 fingerprint occurs
    // >1× corpus-wide, on the q119 mirror-planted corpus (the base
    // corpus has no exact dups, so the mirror makes every planted
    // copy AND its original count as dups — rate 1.0 for 'mirror',
    // ~1/13 for the real sources).
    Q("q125_exact_dup_rate",
      """WITH aug AS (
        | SELECT doc_id, text, source FROM documents
        | UNION ALL
        | SELECT doc_id + 2000000 AS doc_id, text, 'mirror' AS source
        | FROM documents WHERE doc_id % 13 = 0),
        |h AS (SELECT source, substr(sha256(text), 1, 16) AS h FROM aug),
        |c AS (SELECT h, count(*) AS c FROM h GROUP BY h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        | round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
        |       / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM h JOIN c USING (h) GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            lit("mirror").as("source")))
      graft.ops.CorpusReports.exactDupRateReport(aug, col("source"),
          col("text"))
        .orderBy(col("source"))
    },

    // ---- corpus-wide repeated-line removal (C4/RefinedWeb rule) ----
    // documents.text has no line structure, so the query PLANTS one:
    // every doc becomes head (first 6 tokens) / optional boilerplate
    // footer (%4 docs, in the MIDDLE — order preservation is part of
    // the check) / tail (tokens 7+). The footer repeats corpus-wide
    // and must vanish; head/tail lines survive except when two docs
    // genuinely share one (same rule both engines). Short docs yield
    // an empty tail line, which also repeats and also vanishes.
    Q("q129_line_dedup",
      """WITH w0 AS (SELECT doc_id, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM documents),
        |aug AS (SELECT doc_id,
        |  array_to_string(ws[1:6], ' ') || chr(10) ||
        |  CASE WHEN doc_id % 4 = 0
        |    THEN 'all rights reserved contact the council office' || chr(10)
        |    ELSE '' END ||
        |  array_to_string(ws[7:], ' ') AS text FROM w0),
        |l AS (SELECT doc_id, i, line FROM (SELECT doc_id,
        |  unnest(string_split(text, chr(10))) AS line,
        |  generate_subscripts(string_split(text, chr(10)), 1) AS i
        | FROM aug)),
        |c AS (SELECT line, count(*) AS c FROM l GROUP BY 1),
        |k AS (SELECT doc_id, i, line FROM l JOIN c USING (line)
        | WHERE c.c < 2)
        |SELECT a.doc_id,
        | coalesce(string_agg(k.line, chr(10) ORDER BY k.i), '') AS text
        |FROM aug a LEFT JOIN k USING (doc_id)
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val ws = filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
      val head = array_join(slice(ws, 1, 6), " ")
      val tail = array_join(slice(ws, 7, Int.MaxValue), " ")
      val footer = lit("all rights reserved contact the council office")
      val aug = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat_ws("\n", head, footer, tail))
          .otherwise(concat_ws("\n", head, tail)).as("text"))
      graft.ops.LineDedup.removeRepeatedLines(aug, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },

    // ---- the boilerplate review list behind q129 ----
    // Same planted line structure; emits every corpus-repeated line
    // with its occurrence and document counts — what an owner eyeballs
    // before letting the removal run.
    Q("q130_repeated_lines",
      """WITH w0 AS (SELECT doc_id, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM documents),
        |aug AS (SELECT doc_id,
        |  array_to_string(ws[1:6], ' ') || chr(10) ||
        |  CASE WHEN doc_id % 4 = 0
        |    THEN 'all rights reserved contact the council office' || chr(10)
        |    ELSE '' END ||
        |  array_to_string(ws[7:], ' ') AS text FROM w0),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        | FROM aug),
        |c AS (SELECT line, CAST(count(*) AS BIGINT) AS n_occurrences
        | FROM l GROUP BY 1 HAVING count(*) >= 2)
        |SELECT c.line, c.n_occurrences,
        | CAST(count(DISTINCT l.doc_id) AS BIGINT) AS n_docs
        |FROM l JOIN c ON l.line = c.line GROUP BY c.line, c.n_occurrences
        |ORDER BY c.line""".stripMargin) { (s, d) =>
      val ws = filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
      val head = array_join(slice(ws, 1, 6), " ")
      val tail = array_join(slice(ws, 7, Int.MaxValue), " ")
      val footer = lit("all rights reserved contact the council office")
      val aug = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat_ws("\n", head, footer, tail))
          .otherwise(concat_ws("\n", head, tail)).as("text"))
      graft.ops.LineDedup.repeatedLinesReport(aug, "doc_id", col("text"))
        .orderBy(col("line"))
    },

    // ---- source × benchmark contamination matrix ----
    // Two planted benchmarks (%17, %19 docs); the rest of the corpus
    // is audited per source against both. Dense: every (source,
    // benchmark) cell present, zero or not.
    Q("q133_contamination_matrix",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        | FROM documents
        | WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        | FROM w),
        |corpus AS (SELECT doc_id, source FROM documents
        | WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
        |ba AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0),
        |bb AS (SELECT DISTINCT s FROM sh WHERE doc_id % 19 = 0),
        |ha AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ba USING (s)
        | JOIN corpus c ON c.doc_id = sh.doc_id),
        |hb AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bb USING (s)
        | JOIN corpus c ON c.doc_id = sh.doc_id),
        |hits AS (SELECT doc_id, 'benchA' AS benchmark FROM ha
        | UNION ALL SELECT doc_id, 'benchB' AS benchmark FROM hb),
        |cnt AS (SELECT c.source, h.benchmark,
        |  CAST(count(*) AS BIGINT) AS contaminated_docs
        | FROM hits h JOIN corpus c USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        | FROM corpus GROUP BY 1),
        |k AS (SELECT unnest(['benchA', 'benchB']) AS benchmark)
        |SELECT t.source, k.benchmark, t.n_docs,
        | coalesce(cnt.contaminated_docs, CAST(0 AS BIGINT)) AS contaminated_docs
        |FROM tot t CROSS JOIN k
        |LEFT JOIN cnt ON cnt.source = t.source AND cnt.benchmark = k.benchmark
        |ORDER BY t.source, k.benchmark""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 17 =!= 0 &&
        col("doc_id") % 19 =!= 0)
      graft.ops.Decontaminate.contaminationMatrix(corpus, "doc_id",
          col("text"), col("source"),
          Seq("benchA" -> docs.filter(col("doc_id") % 17 === 0),
            "benchB" -> docs.filter(col("doc_id") % 19 === 0)),
          col("text"))
        .orderBy(col("source"), col("benchmark"))
    },

    // ---- within-doc line dedup (first occurrence wins) ----
    // Planted: %3 docs carry their head line twice back-to-back; the
    // second copy must collapse while unique lines keep their order.
    Q("q134_within_doc_line_dedup",
      """WITH w0 AS (SELECT doc_id, list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        | FROM documents),
        |aug AS (SELECT doc_id,
        |  array_to_string(ws[1:6], ' ') || chr(10) ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN array_to_string(ws[1:6], ' ') || chr(10) ELSE '' END ||
        |  array_to_string(ws[7:], ' ') AS text FROM w0),
        |l AS (SELECT doc_id, i, line FROM (SELECT doc_id,
        |  unnest(string_split(text, chr(10))) AS line,
        |  generate_subscripts(string_split(text, chr(10)), 1) AS i
        | FROM aug)),
        |f AS (SELECT doc_id, line, MIN(i) AS i FROM l GROUP BY 1, 2)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ws = filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
      val head = array_join(slice(ws, 1, 6), " ")
      val tail = array_join(slice(ws, 7, Int.MaxValue), " ")
      val aug = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat_ws("\n", head, head, tail))
          .otherwise(concat_ws("\n", head, tail)).as("text"))
      graft.ops.LineDedup.dedupLinesWithinDoc(aug, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },
  )
}
