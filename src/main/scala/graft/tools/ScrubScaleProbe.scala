package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{CorpusReports, LineDedup, Redact}

/** 100× scale datum for the round-11 ops (PII scrub, line dedup,
  * Heaps curve) — the Sf10Probe treatment: time each op against
  * sf0.1's documents (1×) and the 100× tagged replication under
  * target/sf10, and eyeball that wall time scales ~linearly in rows.
  * What would break the claim:
  *  - redact: anything but ~100× (it is a stateless projection);
  *  - line dedup: super-linear growth would mean the kill-set join
  *    stopped broadcasting or the rebuild shuffle became quadratic;
  *  - heaps: super-linear growth would mean the prefix sum or the
  *    first-occurrence aggregation left the map-side-combine path.
  * Reuses Sf10Probe's generated corpus when present (run Sf10Probe
  * first, or pass any docs dir as arg 1).
  */
object ScrubScaleProbe {

  def main(a: Array[String]): Unit = {
    val sf10 = a.headOption.getOrElse("target/sf10")
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors,
      appName = "graft-scrub-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    def T(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }

    val docs1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
    val p100 = new java.io.File(s"$sf10/documents.parquet")
    require(p100.exists,
      s"$sf10/documents.parquet missing — run graft.tools.Sf10Probe first")
    val docs100 = spark.read.parquet(s"$sf10/documents.parquet")
      .select(col("doc_id"), col("text"))

    def probe(tag: String, docs: org.apache.spark.sql.DataFrame): Unit = {
      // PII scrub: stateless projection; force every output column
      T(s"redact $tag") {
        val (e, i, d) = Redact.piiCounts(col("text"))
        docs.select(length(Redact.redactPii(col("text"))).as("l"),
            e.as("e"), i.as("i"), d.as("d"))
          .agg(sum(col("l")), sum(col("e")), sum(col("i")), sum(col("d")))
          .collect(); docs.count()
      }
      // line dedup: q129's planted 3-line structure at this scale
      val ws = filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
      val aug = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat_ws("\n",
            array_join(slice(ws, 1, 6), " "),
            lit("all rights reserved contact the council office"),
            array_join(slice(ws, 7, Int.MaxValue), " ")))
          .otherwise(concat_ws("\n", array_join(slice(ws, 1, 6), " "),
            array_join(slice(ws, 7, Int.MaxValue), " "))).as("text"))
      T(s"line_dedup $tag") {
        LineDedup.removeRepeatedLines(aug, "doc_id", col("text"))
          .agg(sum(length(col("text")))).collect()
        aug.count()
      }
      T(s"heaps $tag") {
        CorpusReports.heapsCurve(docs, "doc_id", col("text")).count()
      }
    }
    probe("x1", docs1)
    probe("x100", docs100)
    spark.stop()
  }
}
