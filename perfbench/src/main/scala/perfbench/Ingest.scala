package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.streaming.Streams
import graft.vector.{Ivf, Pq}

/** The cron's ingest side: the tick input files, the streams over them,
  * and the PQ quantizer. */
object Ingest {
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType),
    StructField("embedding", ArrayType(FloatType))))

  val cells = 16

  /** Write one tick's documents as a JSON-lines file in a new directory
    * `dir`: the file source picks it up as the tick's micro-batch. */
  def writeDocs(docs: Seq[Doc], dir: String): Unit = {
    val staging = new File(dir + ".tmp")
    staging.mkdirs()
    val pw = new PrintWriter(new File(staging, "part-0.json"), "UTF-8")
    try docs.foreach { d =>
      pw.println(Json.obj("doc_id" -> d.id, "text" -> d.text,
        "source" -> d.source, "embedding" -> d.embedding.map(_.toSeq)))
    } finally pw.close()
    // the new directory appears whole to the next listing
    require(staging.renameTo(new File(dir)), s"cannot publish $dir")
  }

  /** The stream of every tick directory under `inDir`. */
  def stream(spark: SparkSession, inDir: String): DataFrame =
    Streams.fileStream(spark, s"$inDir/*/", docSchema, format = "json")

  /** Every document ingested so far, read as a batch. */
  def batch(spark: SparkSession, inDir: String): DataFrame =
    spark.read.schema(docSchema).json(s"$inDir/*/")

  /** Cell centroids and product quantizer from a seeded vector sample:
    * the first `cells` sample rows seed the cells (`Ivf.seedCentroids`),
    * codebooks take one Lloyd round (`Pq.trainCodebooks`). */
  def trainQuantizer(spark: SparkSession, sample: Seq[Array[Float]])
      : (Pq.PqModel, Array[Array[Float]]) = {
    import spark.implicits._
    val df = sample.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("rid", "embedding")
    val cents = Ivf.seedCentroids(df, "rid", "embedding", cells)
    val model = Pq.trainCodebooks(df, "rid", "embedding", 8, 16, iters = 1)
    (model, cents)
  }

}
