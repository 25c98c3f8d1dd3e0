package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Enricher

/** Typed Dataset path: case-class encoders over the reference's
  * on-disk formats (SURVEY §1.4 "typed pipeline rows"). */
class TypedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Dataset[Segment] flows through typed enrichment") {
    val t = new Enricher.StubTranscriber(3)
    val segs = spark.createDataset(t.transcribe("v.mp4", "media".getBytes))
    val confident = segs.filter(_.no_speech_prob < 0.9).map(_.text)
    assert(confident.count() <= 3)
  }

  test("throttled iterator caps per-partition rate") {
    val t0 = System.nanoTime()
    val out = Enricher.throttled[Int](maxPerSecond = 50)(Iterator(1, 2, 3, 4, 5)).toList
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(out == List(1, 2, 3, 4, 5))
    // 5 items at 50/s: first free, 4 × 20 ms spacing ≈ ≥ 60 ms
    assert(elapsedMs >= 60, s"ran too fast: $elapsedMs ms")
  }
}
