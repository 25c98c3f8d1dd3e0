package graft.tools

import org.apache.spark.sql.execution.ExplainMode
import graft.GraftSession
import graft.queries.Registry

/** Regenerates the plan appendix of PLANS.md:
  * `sbt "runMain graft.tools.DumpPlans" > plans.txt` (dev tool).
  * Pass query names as args to dump a specific set instead. */
object DumpPlans {
  val headline = Seq("q01_agg_pricing", "q03_crawler_slice", "q09_chunk_summarize",
    "q14_lsh_neardup_pairs", "q18_cosine_topk", "q34_topk_revenue",
    "q47_asof_join")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors,
      appName = "graft-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    (if (args.nonEmpty) args.toSeq else headline).foreach { name =>
      val df = Registry.byName(name).fn(spark, "/root/testdata/sf0.001")
      println(s"\n### $name\n")
      println("```")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      println("```")
    }
    spark.stop()
  }
}
