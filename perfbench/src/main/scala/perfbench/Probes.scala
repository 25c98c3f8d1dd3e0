package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.vector.{Ivf, Pq}

/** The read side of the IVF-PQ store the cron ticks write: seeded top-10
  * probes through `Pq.probeIndexStore` (`nProbe` 2, rerank 20 against the
  * float corpus), half near a stored vector and half random, scored
  * against exact `Pq.l2TopK`. */
object Probes {
  val k = 10
  val nProbe = 2
  val rerank = 20
  /** The lowest recall@10 the store may serve. Ticks draw documents from
    * many small vocabularies, so beyond a probe's own source most of its
    * ten exact neighbours sit at nearly equal distance: a sound store
    * reads about 0.2-0.3, a broken one near 0. */
  val recallFloor = 0.1

  def run(ctx: Ctx, store: String, corpus: DataFrame,
      quantizer: (Pq.PqModel, Array[Array[Float]]), n: Int, out: Outcome): Unit = {
    import ctx.spark
    import spark.implicits._
    val (model, cents) = quantizer
    val stored = corpus.select("embedding").as[Seq[Float]].collect()
      .map(_.toArray).toIndexedSeq
    val probes = Gen.probes(stored, n, ctx.seed)
    val cellRows = spark.read.parquet(store).groupBy("ivf_cell").count()
      .as[(Int, Long)].collect().toMap
    val secs = mutable.ArrayBuffer.empty[Double]
    var wellFormed = true
    val found = probes.map { q =>
      val t0 = System.nanoTime()
      val df = ctx.spans("query.build") {
        Pq.probeIndexStore(spark, store, "doc_id", q, k, model, cents,
          nProbe, rerank, Some(corpus), "embedding")
      }
      val rows = ctx.spans("query.exec")(df.collect())
      secs += (System.nanoTime() - t0) / 1e9
      val d2 = rows.map(_.getAs[Double]("exact_d2")).toSeq
      wellFormed &&= rows.length == k && d2 == d2.sorted
      rows.map(_.getAs[Long]("doc_id")).toSet
    }
    val queries = probes.zipWithIndex.map { case (q, i) => (i, q.toSeq) }
      .toDF("qid", "qvec")
    val exact = Pq.l2TopK(corpus, "doc_id", col("embedding"), queries, "qid",
      "qvec", k).as[(Int, Long)].collect().groupBy(_._1)
    val hits = found.zipWithIndex.map { case (ids, q) =>
      exact.getOrElse(q, Array.empty[(Int, Long)]).count(e => ids(e._2)) }
    val recall = hits.sum.toDouble / math.max(1, n * k)
    out.check("probes_return_k_rows_in_distance_order", wellFormed)
    out.check(s"recall_at_10_at_least_$recallFloor", recall >= recallFloor)
    out.layers("pq.scan_frac") = probes.map(q => Ivf.nearestCells(q, cents, nProbe)
      .map(c => cellRows.getOrElse(c, 0L)).sum.toDouble / cellRows.values.sum).sum / n
    out.report("query_p50_ms") = (Stats.median(secs.toSeq) * 1e3, "ms")
    out.report("query_p90_ms") = (Stats.quantile(secs.toSeq, 0.9) * 1e3, "ms")
    out.report("recall_at_10") = (recall, "ratio")
  }
}
