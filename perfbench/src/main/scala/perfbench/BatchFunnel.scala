package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{C4Clean, NearDup, Pinned, TextAnalysis, TextClassifier}

/** The one-shot pretraining funnel, q165, repeated over a generated
  * corpus of two copies of the sf0.1 documents. It writes no store. */
final class BatchFunnel(ctx: Ctx) extends Workload {
  import ctx.spark

  import BatchFunnel.copies
  val minOps = 2
  val maxOps = 50
  val columns = Seq("pages", "after_c4", "after_gopher", "after_nb",
    "after_exact", "after_neardup", "tokens_final")

  private val base = Gen.loadBase(spark, ctx.data)
  private var dir: String = _
  private val rows = mutable.ArrayBuffer.empty[Seq[Long]]
  private var decomposed: Option[Seq[Long]] = None

  def setup(rep: Int): Unit = {
    Option(dir).foreach(d => Fs.delete(new File(d)))
    dir = s"${ctx.work}/funnel-$rep"
    Gen.funnelCorpus(spark, base, ctx.seed, copies).coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
  }

  private def q165(): Seq[Long] = {
    val row = graft.SparkEntry.queries("q165_pretrain_funnel_full")(spark, dir)
      .collect().head
    ctx.samplePins()
    Pinned.releaseAll()
    columns.map(c => row.getAs[Number](c).longValue())
  }

  /** Untimed: a traced run makes the stage-by-stage pass, which gives the
    * per-stage spans and an independent derivation of the counts; an
    * untraced run makes one q165 run, at half the cost. Either warms every
    * operator q165 calls. */
  override def warm(): Unit =
    if (ctx.trace) decomposed = Some(ctx.traced("funnel.stages")(stages()))
    else rows += q165()

  def op(i: Int): Long = {
    val r = q165()
    rows += r
    r.head
  }

  /** The operators q165 composes, called one at a time, each stage
    * materialized inside its own span: the per-stage timings of the
    * funnel, and an independent derivation of its seven counts. */
  private def stages(): Seq[Long] = {
    val sp = ctx.spans
    val pins = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      pins += c
      c
    }
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val docs = corpus.select(col("doc_id"), col("text"))
    val raw = docs
      .unionByName(docs.where(col("doc_id") < 25)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.where(col("doc_id") < 40)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 20, lit(1))).as("text")))
    val planted = raw.withColumn("text",
      regexp_replace(col("text"), " (line|row) ", ".\n"))
    val s1 = sp("funnel.c4") {
      pin(C4Clean.clean(planted, "text").select(col("doc_id"), col("text")))
    }
    val s2 = sp("funnel.gopher") {
      val kp = TextAnalysis.gopherReport(s1, "doc_id", col("text"))
        .where(col("keep")).select(col("doc_id"))
      pin(s1.join(kp, "doc_id"))
    }
    val model = sp("funnel.nb_train") {
      pin(TextClassifier.trainNaiveBayes(
        corpus.filter(col("doc_id") % 7 =!= 0), col("source"), col("text")))
    }
    val s3 = sp("funnel.nb_gate") {
      pin(TextClassifier.classifierGate(s2, col("doc_id"), col("text"), model,
          (0 to 9).map(i => s"src$i"), minScore = -3.75)
        .select(col("doc_id"), col("text")))
    }
    val s4 = sp("funnel.exact") {
      val dd = s3.groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      pin(s3.join(dd, "doc_id"))
    }
    val pairs = sp("funnel.lsh") {
      pin(NearDup.lshCandidatePairs(
        NearDup.minhashSignaturesFused(s4, "doc_id", col("text")), "doc_id"))
    }
    val s5 = sp("funnel.cc") {
      val labels = NearDup.connectedComponents(pairs)
      pin(s4.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .where(coalesce(col("component"), col("doc_id")) === col("doc_id"))
        .select(col("doc_id"), col("text")))
    }
    val tokens = s5.select(coalesce(sum(size(filter(
        NearDup.tokens(col("text")), w => w =!= "")).cast("long")), lit(0L)))
      .head().getLong(0)
    val counts = Seq(planted.count(), s1.count(), s2.count(), s3.count(),
      s4.count(), s5.count(), tokens)
    pins.foreach(_.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    })
    counts
  }

  /** q165's counts for the default seed, from its oracle SQL in DuckDB
    * (`perfbench/tools/q165_oracle.py`). */
  private def oracle(): Option[Seq[Long]] = {
    val f = new File(s"${ctx.data}/q165_oracle_seed${ctx.seed}.json")
    if (!f.exists) None
    else {
      val js = Fs.read(f.getPath)
      Some(columns.map { c =>
        s""""$c"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(js)
          .getOrElse(sys.error(s"oracle file lacks $c")).group(1).toLong
      })
    }
  }

  def finish(out: Outcome, opSecs: Seq[Double], items: Long): Unit = {
    val row = rows.headOption.getOrElse(Seq.empty)
    out.check("q165_ran", row.size == columns.size)
    out.check("q165_rows_repeat", rows.forall(_ == row))
    out.check("q165_counts_monotone", row.size == columns.size &&
      row.init.zip(row.init.tail).forall { case (a, b) => a >= b } &&
      row(5) > 0 && row.last > 0)
    decomposed.foreach(d => out.check("q165_equals_stage_by_stage", row == d))
    oracle().foreach(o => out.check("q165_equals_duckdb_oracle", row == o))
    out.generated = Map("copies" -> copies, "corpus_docs" -> copies * base.size,
      "funnel_counts" -> columns.zip(row).toMap)
    out.report("funnel_s") = (Stats.median(opSecs), "s")
    out.report("funnel_docs_per_s") = (items / math.max(1e-9, opSecs.sum), "1/s")
  }
}

object BatchFunnel {
  /** Copies of the 5,000 sf0.1 documents in the corpus. */
  val copies = 2
}

/** Writes the batch-funnel corpus of one seed and q165's oracle SQL, for
  * `perfbench/tools/q165_oracle.py`:
  * `perfbench.FunnelCorpus --seed N --data DIR --out DIR`. */
object FunnelCorpus {
  def main(args: Array[String]): Unit = {
    def arg(name: String) = args.sliding(2).collectFirst { case Array(`name`, v) => v }
      .getOrElse(sys.error(s"$name is required"))
    val out = arg("--out")
    val spark = Main.session(2, s"$out/work")
    try {
      Gen.funnelCorpus(spark, Gen.loadBase(spark, arg("--data")),
          arg("--seed").toLong, BatchFunnel.copies)
        .coalesce(1).write.parquet(s"$out/documents.parquet")
      val pw = new java.io.PrintWriter(s"$out/q165.sql")
      try pw.print(graft.SparkEntry.oracleSql("q165_pretrain_funnel_full"))
      finally pw.close()
    } finally spark.stop()
  }
}
