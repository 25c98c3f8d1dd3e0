package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The C4 cleaning pass (Raffel et al. 2020, §2.2 "Colossal Clean
  * Crawled Corpus") — the one named filter chain the text layer was
  * missing next to the Gopher gates (`TextAnalysis.gopherFunnel`) and
  * the classifier gate (`TextClassifier.classifierGate`):
  *
  *  line rules (applied first):
  *   L1 keep only lines ending in terminal punctuation (. ! ? ")
  *   L2 keep only lines with ≥ `minLineWords` words
  *   L3 drop lines containing "javascript" (case-insensitive)
  *  page rules (on the line-cleaned text):
  *   P1 drop pages with fewer than `minSentences` sentences
  *   P2 drop pages whose ORIGINAL text contains "{" (code)
  *   P3 drop pages whose original text contains "lorem ipsum"
  *   P4 drop pages containing any of `badWords` (C4 ships a large
  *      list; parameterized here, default empty)
  *
  * C4's remaining rules live elsewhere in the engine: the
  * three-sentence-span corpus dedup is `NearDup.removeRepeatedWindows`
  * / `LineDedup.removeRepeatedLines`, and the langid ≥ 0.99 cut is
  * `TextAnalysis.langId`.
  *
  * Scale shape: everything is a PURE PROJECTION over codegen'd
  * higher-order functions (`filter` on the split-line array — no
  * explode, no shuffle; a 100 TB corpus cleans map-only), plus one
  * global aggregate for the funnel report. Sentence counting is the
  * deterministic proxy `count of [.!?]` in the cleaned text — both
  * engines (and the DuckDB oracle) compute the identical number.
  */
object C4Clean {

  /** Words per line under the oracle-shared definition: maximal \S+
    * runs (an all-whitespace line counts 0, with no empty-split
    * edge case). */
  private def wordCount(line: Column): Column =
    size(regexp_extract_all(line, lit("\\S+"), lit(0)))

  private def lineKept(line: Column, minLineWords: Int): Column = {
    val t = rtrim(line)
    // \z (end of INPUT), not $: Java's $ also matches before a final
    // line terminator (\r, U+0085, U+2028), so a CRLF page's
    // "sentence.\r" would be
    // kept here but dropped by the oracle's RE2 $ (= end of text) —
    // and would smuggle a stray \r into the cleaned text
    t.rlike("[.!?\"]\\z") &&
      (wordCount(line) >= minLineWords) &&
      !lower(line).contains("javascript")
  }

  /** The kept-lines array (the single split+filter both `clean` and
    * `funnel` bind once — counts come from size(), text from
    * array_join, no re-split of the joined string). */
  private def keptLines(text: Column, minLineWords: Int): Column =
    filter(split(text, "\n"), l => lineKept(l, minLineWords))

  /** Sentence-count proxy shared with the oracle: occurrences of
    * . ! or ? in the (cleaned) text. */
  private def sentenceCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.!?]"), lit(0)))

  /** The P4 bad-word predicate — defined ONCE for the page gate and
    * the funnel. Locale.ROOT: Spark's `lower` is locale-independent,
    * so the driver-side lowering must be too (a Turkish-locale JVM
    * would fold 'I' to dotless ı and never match). */
  private def containsBadWord(orig: Column, badWords: Seq[String]): Column =
    badWords.foldLeft(lit(false)) { (acc, w) =>
      acc || lower(orig).contains(w.toLowerCase(java.util.Locale.ROOT))
    }

  private def pageDropped(orig: Column, cleaned: Column,
      minSentences: Int, badWords: Seq[String]): Column =
    (sentenceCount(cleaned) < minSentences) ||
      orig.contains("{") || lower(orig).contains("lorem ipsum") ||
      containsBadWord(orig, badWords)

  /** Clean a corpus: line rules rewrite `text`, page rules gate rows.
    * Output keeps every input column, with `text` replaced by the
    * cleaned text plus bookkeeping counts (`c4_lines_kept`,
    * `c4_lines_dropped`, `c4_sentences`). Null text reads as an empty
    * page (one empty line, zero kept — the oracle's COALESCE), so a
    * dead-lettered page is accounted, not NULL-leaked. Map-only. */
  def clean(df: DataFrame, text: String, minLineWords: Int = 5,
      minSentences: Int = 3, badWords: Seq[String] = Nil): DataFrame = {
    val orig = coalesce(col(text), lit(""))
    // line-filter regexes dominate; widen past a single-row-group scan
    // (Par scaladoc — guide §2.5). Map-only per-row, order-insensitive.
    graft.ops.Par.widen(df).withColumn("__c4_kept", keptLines(orig, minLineWords))
      .withColumn("__c4_clean", array_join(col("__c4_kept"), "\n"))
      .withColumn("c4_lines_kept", size(col("__c4_kept")))
      .withColumn("c4_lines_dropped",
        size(split(orig, "\n")) - col("c4_lines_kept"))
      .withColumn("c4_sentences", sentenceCount(col("__c4_clean")))
      .where(!pageDropped(orig, col("__c4_clean"), minSentences, badWords))
      .withColumn(text, col("__c4_clean"))
      .drop("__c4_kept", "__c4_clean")
  }

  /** One-row drop-accounting funnel (the gopherFunnel discipline):
    * how many pages each rule would catch (counted INDEPENDENTLY — a
    * page can fail several), plus the sequential survivor count
    * (`pages_kept` is exactly `clean`'s row count — same
    * `pageDropped`) and line totals. */
  def funnel(df: DataFrame, text: String, minLineWords: Int = 5,
      minSentences: Int = 3, badWords: Seq[String] = Nil): DataFrame = {
    val orig = coalesce(col(text), lit(""))
    val staged = df
      .select(orig.as("__t"), keptLines(orig, minLineWords).as("__k"))
      .withColumn("__c", array_join(col("__k"), "\n"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    staged.agg(
      count(lit(1)).as("pages"),
      sum(size(split(col("__t"), "\n"))).as("lines"),
      sum(size(col("__k"))).as("lines_kept"),
      cnt(sentenceCount(col("__c")) < minSentences).as("drop_few_sentences"),
      cnt(col("__t").contains("{")).as("drop_brace"),
      cnt(lower(col("__t")).contains("lorem ipsum")).as("drop_lorem"),
      cnt(containsBadWord(col("__t"), badWords)).as("drop_bad_words"),
      cnt(!pageDropped(col("__t"), col("__c"), minSentences, badWords))
        .as("pages_kept"))
  }
}
