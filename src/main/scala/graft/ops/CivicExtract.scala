package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's dormant extraction signatures (summarize.py:27-55:
  * ExtractProperNames / ExtractOrdinanceNumbers / ExtractDocketNumbers
  * / ExtractAddresses, plus quote capture in FocusedSummary) as
  * deterministic pattern extractors. The reference routes these
  * through an LLM; the engine ships the pattern layer as codegen'd
  * expressions — exact, oracle-checkable, and free at scan speed —
  * with the LLM variant available behind `Enricher.ChatModel` for
  * fuzzy cases.
  */
object CivicExtract {

  /** "Ordinance No. 12,345" / "Ordinance 12345" style citations
    * (comma groups anchored so sentence punctuation isn't captured). */
  def ordinanceNumbers(text: Column): Column =
    regexp_extract_all(text,
      lit("(?i)ordinance(?:\\s+no\\.?)?\\s+([0-9]+(?:,[0-9]{3})*)"), lit(1))

  /** Docket citations: "Docket 24-123" / "docket no. 7" (trailing
    * dashes excluded). */
  def docketNumbers(text: Column): Column =
    regexp_extract_all(text,
      lit("(?i)docket(?:\\s+no\\.?)?\\s+([0-9]+(?:-[0-9]+)*)"), lit(1))

  /** US-style street addresses: "123 Main St" etc. */
  def streetAddresses(text: Column): Column =
    regexp_extract_all(text,
      lit("\\d+\\s+[A-Z][A-Za-z]*(?:\\s+[A-Z][A-Za-z]*)*\\s+(?:St|Ave|Blvd|Dr|Rd|Street|Avenue|Boulevard|Drive|Road)\\b"),
      lit(0))

  /** Double-quoted spans (FocusedSummary's quotes output). */
  def quotedSpans(text: Column): Column =
    regexp_extract_all(text, lit("\"([^\"]{2,200})\""), lit(1))
}
