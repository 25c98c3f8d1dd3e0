package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** F1–F20 from SURVEY.md §2.8: every scalar the reference computes,
  * re-expressed as pure `Column` combinators over built-in
  * (codegen'd) functions — zero UDFs, so every one is DuckDB-oracle
  * expressible and stays inside whole-stage codegen at 100 TB.
  */
object Functions {

  /** Signed-zero-normalized rounding — THE form for any hashed rounded
    * statistic whose distribution straddles zero (the r19 suite-wide
    * convention): DuckDB `round()` of a tiny negative returns IEEE
    * -0.0, Spark's HALF_UP returns +0.0, and the driver hashes bytes;
    * `+ 0.0` maps -0.0 → +0.0 on both engines and changes nothing
    * else (null passes through). The DuckDB side writes
    * `round(expr, k) + 0.0` literally; `tools/headroom_audit.py`
    * bit-scans every oracle output for violations. */
  def roundZ(c: Column, k: Int): Column = round(c, k) + lit(0.0)

  /** F1 — meeting date/time extraction (ref transcribe_council.py:22-26). */
  private val meetingPat =
    "(\\w+,\\s\\w+\\s\\d{1,2},\\s\\d{4})\\s*-\\s*(\\d{1,2}:\\d{2}\\s*[APMapm]{2})"

  def extractMeetingDate(c: Column): Column = {
    val d = regexp_extract(c, meetingPat, 1)
    when(d === "", c).otherwise(d)
  }

  def extractMeetingTime(c: Column): Column = {
    val t = regexp_extract(c, meetingPat, 2)
    when(t === "", lit("Unknown Time")).otherwise(t)
  }

  /** F3 — protocol-relative fixup (ref transcribe_council.py:61-62). */
  def fixProtocolRelative(c: Column): Column =
    when(c.startsWith("//"), concat(lit("https:"), c)).otherwise(c)

  /** F4 — link classifier (ref transcribe_council.py:63-68). */
  def linkKind(c: Column): Column =
    when(c.contains(".mp4"), lit("video"))
      .when(c.contains("AgendaViewer.php"), lit("agenda"))
      .when(c.contains("MinutesViewer.php"), lit("minutes"))
      .otherwise(lit("other"))

  /** F5 — extension rewrite, anchored (ref transcribe_council.py:125-126;
    * the reference's unanchored `re.sub('.mp4',…)` is a latent any-char
    * bug we deliberately fix — SURVEY.md §7.5.6). */
  def rewriteExt(c: Column, from: String, to: String): Column =
    regexp_replace(c, java.util.regex.Pattern.quote(from) + "$", to)

  /** F6 — basename (ref transcribe_council.py:117, get_box_links.py:65). */
  def basename(c: Column): Column = element_at(split(c, "/"), -1)

  /** F7 — Box shared-link rewrite (ref get_box_links.py:58-59). */
  def sharedLink(c: Column): Column =
    concat(regexp_replace(c, "/s/", "/shared/static/"), lit(".mp4?dl=1"))

  /** F8 — sha16 surrogate key (ref newscrawler.py:59-61); byte-parity
    * with python hashlib: both are FIPS sha256 lowercase hex. */
  def sha16(c: Column): Column = substring(sha2(c.cast("string"), 256), 1, 16)

  /** F9 — lowercase + whitespace normalize (ref newscrawler.py:303). */
  private def normWs(c: Column): Column = regexp_replace(trim(c), "\\s+", " ")
  def normText(c: Column): Column = lower(normWs(c))

  /** F10 — truncate with ellipsis (ref newscrawler.py:400). */
  def preview(c: Column, n: Int = 200): Column =
    when(length(c) > n, concat(substring(c, 1, n), lit("..."))).otherwise(c)

  /** F12 — RFC-2822 → unix seconds, null on failure
    * (ref article_vectorize.py:29-42). Matches python email.utils
    * laxness for the forms real feeds emit: optional day-name prefix,
    * single-digit days, and obsolete GMT/UTC/UT zone names. Spark 3+'s
    * parser rejects EEE as a *parse* pattern, so the day name is
    * stripped rather than matched. */
  def rfc2822ToUnix(c: Column): Column = {
    val noDow = regexp_replace(c, "^[A-Za-z]{3},\\s*", "")
    val padDay = regexp_replace(noDow, "^(\\d)\\s", "0$1 ")
    val zone = regexp_replace(padDay, "\\s(GMT|UTC|UT)\\s*$", " +0000")
    unix_timestamp(try_to_timestamp(zone, lit("dd MMM yyyy HH:mm:ss Z")))
  }

  /** F13 — timestamp → unix seconds (ref vectorize.py:95). */
  def toUnix(c: Column): Column = unix_timestamp(c)

  /** F16 — composite id concat (ref vectorize.py:99). */
  def idConcat(cols: Column*): Column = concat_ws(":", cols: _*)

  /** F17 — frontmatter: build + parse (ref newscrawler.py:313-325,
    * article_vectorize.py:84-103). Document = `---\nk: v\n...\n---\nbody`. */
  def frontmatterBuild(kv: (String, Column)*): Column = {
    val lines = kv.map { case (k, v) => concat(lit(k + ": "), coalesce(v, lit(""))) }
    concat_ws("\n", (lit("---") +: lines :+ lit("---")): _*)
  }

  /** Parse one frontmatter key out of a raw `.md` document. Mirrors the
    * reference's per-line `split(':', 1)` loop. */
  def frontmatterValue(doc: Column, key: String): Column = {
    // \r?\n: a CRLF-authored corpus must parse, not silently yield
    // all-null keys (the reference's per-line strip handles CRLF)
    val fm = regexp_extract(doc, "(?s)^---\\r?\\n(.*?)\\r?\\n---", 1)
    val line = regexp_extract(fm, "(?m)^" + java.util.regex.Pattern.quote(key) + ":\\s*(.*?)\\r?$", 1)
    when(line === "", lit(null).cast("string")).otherwise(line)
  }

  /** Body after the closing fence, trimmed (ref `parts[2].strip()`,
    * article_vectorize.py:89). */
  def frontmatterBody(doc: Column): Column =
    trim(regexp_extract(doc, "(?s)^---\\r?\\n.*?\\r?\\n---\\r?\\n?(.*)$", 1))
}
