package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: image/audio/video
  * as opaque `binary` payloads with typed metadata. The decode
  * step is a clearly-marked STUB (no media libs in
  * this environment) — but the Spark-side plumbing is real: schema,
  * batch-shaped partition execution, deterministic outputs, frame
  * explosion. A real deployment swaps `MediaDecoder` for an adapter
  * over its codec library; nothing else changes.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Decoder boundary. Real implementations wrap an image/audio lib;
    * the stub derives deterministic metadata from the payload bytes. */
  trait MediaDecoder extends Serializable {
    def decode(payload: Array[Byte]): (String, Int, Int, Long)
  }

  /** STUB decode — deterministic fake (media libraries are not in this
    * container). Sniffs a "format" from leading bytes and synthesizes
    * dimensions from a digest, so plumbing tests have stable values. */
  final class StubDecoder extends MediaDecoder {
    override def decode(payload: Array[Byte]): (String, Int, Int, Long) = {
      val bytes = if (payload == null) Array.emptyByteArray else payload
      val d = graft.expr.Sha.sha256().digest(bytes)
      def u(i: Int) = java.lang.Byte.toUnsignedInt(d(i))
      val format = if (bytes.length >= 2 && bytes(0) == 'P'.toByte) "ppm"
        else if (bytes.nonEmpty && bytes(0) == 0xFF.toByte) "jpeg-ish"
        else "raw"
      (format, 64 + u(0) * 4, 64 + u(1) * 4, bytes.length.toLong * 10)
    }
  }

  /** Attach decoded metadata with batch-shaped partition execution:
    * one decoder per partition (model-init amortization), rows mapped
    * in place — the Scala analog of `mapInPandas` batch iteration. */
  def withDecodedMeta(df: DataFrame, payloadCol: String,
      mkDecoder: () => MediaDecoder, as: String = "media_meta"): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(as, mediaMetaSchema))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      val decoder = mkDecoder()
      it.map { row =>
        val (f, w, h, ms) = decoder.decode(row.getAs[Array[Byte]](idx))
        Row.fromSeq(row.toSeq :+ Row(f, w, h, ms))
      }
    }(enc)
  }

  /** Frame sampling: one output row per sampled frame index — the
    * video→frames explosion (a Generator shape, like U1's
    * video→segments). Pure-plan: sequence + explode, codegen'd.
    * Zero/negative duration (empty payload, corrupt decode) emits NO
    * frames — a clamped sequence would fabricate a frame_ms=0 row for
    * media that has no content. */
  def sampleFrames(df: DataFrame, durationMs: org.apache.spark.sql.Column,
      everyMs: Long): DataFrame =
    df.withColumn("frame_ms",
      explode(when(durationMs > 0,
          sequence(lit(0L), durationMs - 1, lit(everyMs)))
        .otherwise(array().cast("array<bigint>"))))
}
