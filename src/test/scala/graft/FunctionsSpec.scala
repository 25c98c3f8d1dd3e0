package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.expr.Functions._
import graft.ops.TextAnalysis

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Property runner on plain scalacheck (no scalatestplus bridge in
    * the offline cache): 30 samples, seeded, fails loudly. */
  private def forAllStr(f: String => Unit): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(Gen.asciiPrintableStr, Gen.asciiPrintableStr) { (a, b) =>
        f(a + b); true
      })
    assert(r.passed, r.status.toString)
  }

  private def forAllStr2(f: (String, String) => Unit): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(Gen.asciiPrintableStr, Gen.asciiPrintableStr) { (a, b) =>
        f(a, b); true
      })
    assert(r.passed, r.status.toString)
  }

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c).head.get(0)

  private def onS(s: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any =
    Seq(s).toDF("s").select(f(col("s"))).head.get(0)

  test("F8 sha16 matches java sha256 hex prefix (hashlib parity)") {
    assert(onS("abc", sha16) == "ba7816bf8f01cfea")
    forAllStr { s =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(onS(s, sha16) == hex.take(16))
    }
  }

  test("F10 preview truncates with ellipsis only past n") {
    assert(onS("short", c => preview(c)) == "short")
    val long = "x" * 250
    assert(onS(long, c => preview(c)) == "x" * 200 + "...")
  }

  test("F12 rfc2822 parses valid, null on garbage") {
    assert(onS("Tue, 06 Aug 2024 12:34:56 +0000", rfc2822ToUnix) == 1722947696L)
    // without day-name prefix too (RFC 2822 makes it optional)
    assert(onS("06 Aug 2024 12:34:56 +0000", rfc2822ToUnix) == 1722947696L)
    // single-digit day and obsolete zone names (email.utils laxness)
    assert(onS("Tue, 6 Aug 2024 12:34:56 +0000", rfc2822ToUnix) == 1722947696L)
    assert(onS("Tue, 06 Aug 2024 12:34:56 GMT", rfc2822ToUnix) == 1722947696L)
    assert(onS("6 Aug 2024 12:34:56 UT", rfc2822ToUnix) == 1722947696L)
    assert(onS("not a date", rfc2822ToUnix) == null)
  }

  test("F5 rewriteExt is anchored (reference's unanchored re.sub bug fixed)") {
    assert(onS("ax.mp4.mp4", c => rewriteExt(c, ".mp4", ".txt")) == "ax.mp4.txt")
    assert(onS("aXmp4.txt", c => rewriteExt(c, ".mp4", ".txt")) == "aXmp4.txt")
  }

  test("F1 extract meeting date/time with fallback") {
    val h = "Wednesday, March 11, 2026 - 10:30 AM"
    assert(onS(h, extractMeetingDate) == "Wednesday, March 11, 2026")
    assert(onS(h, extractMeetingTime) == "10:30 AM")
    assert(onS("TBD", extractMeetingDate) == "TBD")
    assert(onS("TBD", extractMeetingTime) == "Unknown Time")
  }

  test("F17 frontmatter build/parse round-trip") {
    forAllStr2 { (rawS: String, rawT: String) =>
      // values are single-line and trimmed (the reference strips on
      // parse, article_vectorize.py:90-96)
      val s = "s" + rawS.replaceAll("\\s", "")
      val t = "t" + rawT.replaceAll("\\s", "")
      val df = Seq((s, t)).toDF("src", "title")
      val doc = concat(
        frontmatterBuild("source" -> col("src"), "title" -> col("title")),
        lit("\nbody text"))
      val row = df.select(
        frontmatterValue(doc, "source"), frontmatterValue(doc, "title"),
        frontmatterBody(doc)).head
      assert(row.getString(0) == s)
      assert(row.getString(1) == t)
      assert(row.getString(2) == "body text")
    }
  }

  test("F17 frontmatter parse tolerates CRLF documents (Windows-authored corpus)") {
    val doc = "---\r\nsource: feedX\r\n---\r\nbody here"
    val row = Seq(doc).toDF("d").select(
      frontmatterValue(col("d"), "source"), frontmatterBody(col("d"))).head
    assert(row.getString(0) == "feedX")
    assert(row.getString(1) == "body here")
  }

  test("civic extractors pull ordinances, dockets, addresses, quotes") {
    import graft.ops.CivicExtract._
    val body = """Council passed Ordinance No. 12,345 and ordinance 67 today.
      |Docket no. 24-101 was continued. Mary Jones of 1200 Canal Street
      |said "we need action now" about 45 Broad Ave repairs.""".stripMargin
    val df = Seq(body).toDF("s")
    val r = df.select(
      ordinanceNumbers(col("s")), docketNumbers(col("s")),
      streetAddresses(col("s")), quotedSpans(col("s"))).head
    assert(r.getSeq[String](0) == Seq("12,345", "67"))
    assert(r.getSeq[String](1) == Seq("24-101"))
    assert(r.getSeq[String](2) == Seq("1200 Canal Street", "45 Broad Ave"))
    assert(r.getSeq[String](3) == Seq("we need action now"))
  }

  test("rolling hash matches the reduce recurrence; empty is null") {
    val m = 1000000007L
    val expected = ((97L * 257 + 98) % m * 257 + 99) % m
    val got = Seq("abc").toDF("s").select(TextAnalysis.rollingHash(col("s"))).head.get(0)
    assert(got == expected)
    assert(Seq("").toDF("s").select(TextAnalysis.rollingHash(col("s"))).head.get(0) == null)
  }

  test("rolling hash interpreted == codegen") {
    // wholestage codegen path (column from table scan) vs literal fold
    val df = Seq("hello world", "the quick brown fox").toDF("s")
    val viaExpr = df.select(TextAnalysis.rollingHash(col("s"))).collect().map(_.getLong(0))
    def manual(s: String): Long = {
      var h = -1L
      s.codePoints().toArray.foreach { cp =>
        h = if (h < 0) cp % 1000000007L else (h * 257 + cp) % 1000000007L }
      h
    }
    assert(viaExpr.toSeq == df.collect().map(r => manual(r.getString(0))).toSeq)
  }

  test("boilerplate removal: drops repeated lines, keeps order, preserves rows") {
    val docs = Seq(
      (1L, "HEADER\nalpha beta\nFOOTER 1"),
      (2L, "HEADER\ngamma delta\nFOOTER 2"),
      (3L, "HEADER\nalpha beta\nFOOTER 3"), // body shared with doc 1 (2 < minDocs)
      (4L, "HEADER"),                        // fully boilerplate → ""
      (5L, "HEADER\n\nepsilon"))             // blank line survives (not counted)
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis
      .removeBoilerplateLines(docs, "doc_id", col("text"), minDocs = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "alpha beta\nFOOTER 1",
      2L -> "gamma delta\nFOOTER 2",
      3L -> "alpha beta\nFOOTER 3",
      4L -> "",
      5L -> "\nepsilon"))
  }
}
