package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1 + A1/A2/A4 (SURVEY.md §2.6, §2.5): fixed-size sequential chunking
  * with order-preserving text concat — the reference's load-bearing
  * windowed computation (summarize.py:110-156).
  *
  * Scale notes: the row_number window shuffles once on the partition
  * key (file/meeting); the subsequent groupBy(key, chunk) reuses that
  * partitioning modulo chunk, so AQE coalesces rather than reshuffles.
  * Order is explicit (`orderCol`) — pandas' implicit row order does not
  * survive a distributed scan (SURVEY.md §7.5.1).
  */
object Chunking {

  /** W1 — assign `chunk_id` = consecutive windows of `size` rows per
    * `partKey`, ordered by `orderCol` (ref summarize.py:110-118:
    * `range(0, len(jsons), 100)`). */
  private def assignChunks(df: DataFrame, partKey: Seq[Column], orderCol: Column,
      size: Int = 100, as: String = "chunk_id"): DataFrame = {
    val w = Window.partitionBy(partKey: _*).orderBy(orderCol)
    df.withColumn(as, floor((row_number().over(w) - lit(1)) / lit(size)))
  }

  /** A1 — order-preserving concat of `textCol` by `orderCol`, optionally
    * restricted to rows passing `keep` while group bounds still cover
    * ALL rows (the reference's quirk: chunk bounds come from unfiltered
    * first/last segments while the text excludes low-confidence ones —
    * summarize.py:20-25 vs 143-146; SURVEY.md §7.5.6).
    *
    * Built from codegen-friendly built-ins: collect_list skips nulls, so
    * `when(keep, struct)` implements the filter; array_sort on
    * (order, text) structs restores order inside each group.
    */
  private[graft] def orderedConcat(orderCol: Column, textCol: Column, keep: Column = lit(true),
      sep: String = " "): Column =
    array_join(
      transform(
        array_sort(collect_list(when(keep, struct(orderCol.as("o"), textCol.as("t"))))),
        s => s.getField("t")),
      sep)

  /** The full chunk-summarize shape (ref summarize.py:110-156): chunk,
    * concat confident text, carry unfiltered bounds. With `timeBounds =
    * Some((startCol, endCol))` the chunk also carries `start_time` /
    * `end_time` = the FIRST row's start and LAST row's end by order
    * (A4, ref summarize.py:143-144: `start_js['start']`/`end_js['end']`)
    * — min_by/max_by on the order key, exact even when times aren't
    * monotonic in the order column. */
  def chunkAggregate(df: DataFrame, partKey: String, orderCol: String,
      textCol: String, keep: Column, size: Int = 100,
      timeBounds: Option[(String, String)] = None): DataFrame = {
    val aggs = Seq(
      orderedConcat(col(orderCol), col(textCol), keep).as("chunk_text"),
      min(col(orderCol)).as("start_id"),
      max(col(orderCol)).as("end_id"),
      count(lit(1)).as("n")) ++
      timeBounds.toSeq.flatMap { case (s, e) => Seq(
        min_by(col(s), col(orderCol)).as("start_time"),
        max_by(col(e), col(orderCol)).as("end_time")) }
    assignChunks(df, Seq(col(partKey)), col(orderCol), size)
      .groupBy(col(partKey), col("chunk_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Sliding token-window chunking (the RAG/pretraining text splitter):
    * one output row per window of `window` tokens advancing by
    * `window - overlap`, the last window truncated. A pure plan —
    * materialized token array → `sequence` of starts → `explode` →
    * `slice` — codegen'd, no UDF, oracle-checkable. The token array is
    * bound to a column BEFORE the lambda (inlining an array expression
    * into explode/slice re-evaluates it per element — see TextAnalysis
    * repetition note). */
  def chunkByTokens(df: DataFrame, id: String, text: Column,
      window: Int = 256, overlap: Int = 32): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    // empty/null docs emit NO chunks (a clamped sequence fabricated a
    // phantom window-token chunk for them), and a start is emitted
    // only while it adds tokens beyond the previous window's overlap —
    // the old `<= len-1` bound emitted a final chunk fully CONTAINED
    // in the previous one whenever the tail was <= overlap
    df.withColumn("__w",
        filter(graft.ops.NearDup.tokens(text), w => w =!= ""))
      .filter(size(col("__w")) >= 1)
      .withColumn("__start",
        explode(sequence(lit(0),
          greatest(size(col("__w")) - overlap - 1, lit(0)), lit(stride))))
      .select(col(id),
        (col("__start") / stride).cast("long").as("chunk_idx"),
        array_join(slice(col("__w"), col("__start") + 1, lit(window)), " ").as("chunk_text"),
        least(lit(window), size(col("__w")) - col("__start")).cast("long").as("n_tokens"))
  }

  /** A2 — meeting-level rollup: concat chunk texts in chunk order with
    * a newline (ref summarize.py:147). `carryTimes` additionally rolls
    * up the meeting-level `start_time`/`end_time` (first chunk's start,
    * last chunk's end — ref :151-152: `jsons[0]['start']`/
    * `jsons[-1]['end']`). */
  def rollup(chunks: DataFrame, partKey: String, chunkCol: String = "chunk_id",
      textCol: String = "chunk_text", carryTimes: Boolean = false): DataFrame = {
    val aggs = Seq(
      orderedConcat(col(chunkCol), col(textCol), sep = "\n").as("rollup_text"),
      min(col("start_id")).as("start_id"),
      max(col("end_id")).as("end_id")) ++
      (if (carryTimes) Seq(
        min_by(col("start_time"), col(chunkCol)).as("start_time"),
        max_by(col("end_time"), col(chunkCol)).as("end_time")) else Nil)
    chunks.groupBy(col(partKey)).agg(aggs.head, aggs.tail: _*)
  }
}
