package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Reachability census over the production sources: every public
  * `def`/`object`/`class`/`trait` in `src/main` (outside `tools/` and
  * `queries/`) must be word-matched by ANOTHER production file —
  * `src/main` outside `tools/`, or `perfbench/src` — or carry a reason
  * in `SurfaceSpec.allowlist`. Specs and `graft.tools` dev mains do not
  * count as callers: a name only they use is either deleted with its
  * specs or made `private[graft]` (spec reference models).
  *
  * Source text only; no Spark session. Comments are stripped before
  * matching. String literals count only in `graft/queries`, so a name
  * inside query SQL is a caller but a word in a prose string (a
  * generated title, an error message) is not. The census is
  * approximate by design: a same-named member elsewhere hides a dead
  * one, and a public member called only inside its own file fails
  * (make it private).
  */
class SurfaceSpec extends AnyFunSuite {
  import SurfaceSpec._

  private val root = new File(".").getCanonicalFile

  test("every public name in src/main is reached by another production file or allowlisted") {
    val unreached = census(root).filterNot(d => allowlist.contains(d.key))
    if (unreached.nonEmpty)
      fail("public names that no other production file reaches (delete them, " +
        "make them private, or allowlist them with a reason):\n" +
        unreached.map(d => s"  ${d.file}: ${d.kind} ${d.key}").mkString("\n"))
  }

  test("every allowlist entry has a reason and still names an unreached declaration") {
    val empty = allowlist.collect { case (k, r) if r.trim.isEmpty => k }
    if (empty.nonEmpty)
      fail(s"allowlist entries without a reason: ${empty.mkString(", ")}")
    val needed = census(root).map(_.key).toSet
    val stale = allowlist.keySet -- needed
    if (stale.nonEmpty)
      fail(s"allowlist entries that are reached or gone: ${stale.mkString(", ")}")
  }

  test("no string literal in src/main names a file of the old store protocols") {
    // every store commits through graft.io.Store's manifest log; the
    // whole-directory swap, the bucket swap and the batch markers are
    // gone, and a literal naming their files would bring one back
    val main = new File(root, "src/main/scala")
    val old = Seq(".old", ".staging", ".bswap", ".bold", ".bstaging",
      "_committed_batch_")
    val hits = scalaFiles(main).flatMap { f =>
      strip(read(f))._3.filter(l => old.exists(l.contains))
        .map(l => s"  ${main.toPath.relativize(f.toPath)}: $l")
    }
    if (hits.nonEmpty) fail("literals naming old store files:\n" + hits.mkString("\n"))
  }
}

object SurfaceSpec {

  /** Unreached public names kept on purpose, keyed `Owner.name`
    * (`name` alone for a top-level declaration). */
  val allowlist: Map[String, String] = Map(
    "Bench" -> "JVM main, run by class name (`runMain graft.Bench`)",
    "Verify" -> "JVM main, run by class name (`runMain graft.Verify`)",
    "SparkEntry.entry" -> ("part of the SparkEntry contract (queries, " +
      "oracleSql, entry), called by name from outside the build"),
    "Ivf.assignCellsTwoLevelDist" -> ("the distributed assignment path " +
      "that the seed collect's driver-cap error names"),
    "Enricher.ChunkDigest" ->
      "result type of Summarizer.digest, which the summarize stage calls",
    "Multimodal.MediaDecoder" ->
      "parameter type of withDecodedMeta's decoder factory",
    "Bpe.Merge" -> "element type of the merge tables the BPE queries train",
    "PcaModel" -> "result type of Pca.fit, which the PCA queries call")

  final case class Decl(file: String, kind: String, owner: Option[String],
      name: String) {
    def key: String = owner.fold(name)(o => s"$o.$name")
  }

  /** The public declarations that no other production file reaches. */
  def census(root: File): Seq[Decl] = {
    val main = new File(root, "src/main/scala")
    require(main.isDirectory, s"SurfaceSpec: no sources under $main")
    val prod = scalaFiles(main).filterNot(under(_, "graft/tools")) ++
      scalaFiles(new File(root, "perfbench/src"))
    val texts = prod.map(f => f -> strip(read(f))).toMap
    def rel(f: File): String = main.toPath.relativize(f.toPath).toString
    val declared = prod
      .filter(f => f.getPath.startsWith(main.getPath) && !under(f, "graft/queries"))
      .flatMap(f => decls(texts(f)._2).map { case (k, o, n) => Decl(rel(f), k, o, n) })
    declared.filter { d =>
      val word = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(d.name) +
        "(?![A-Za-z0-9_])").r
      !prod.exists { f =>
        val text = if (under(f, "graft/queries")) texts(f)._1 else texts(f)._2
        rel(f) != d.file && word.findFirstIn(text).isDefined
      }
    }
  }

  private def read(f: File): String =
    new String(Files.readAllBytes(f.toPath), "UTF-8")

  private def under(f: File, dir: String): Boolean =
    f.getPath.replace(File.separatorChar, '/').contains(s"/$dir/")

  private def scalaFiles(dir: File): Seq[File] =
    if (!dir.isDirectory) Nil
    else dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (text without comments, text without comments or literal
    * contents, the string literals). Block comments nest, as in
    * Scala. */
  private def strip(src: String): (String, String, Seq[String]) = {
    val out = new StringBuilder
    val code = new StringBuilder
    val lits = Seq.newBuilder[String]
    def blank(s: String): String = s.map(ch => if (ch == '\n') '\n' else ' ')
    val charLit = "'(\\\\u[0-9a-fA-F]{4}|\\\\.|[^\\\\'\\n])'".r
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else {
            if (src.charAt(i) == '\n') { out += '\n'; code += '\n' }
            i += 1
          }
        }
        out += ' '; code += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) n else e + 3
        while (j < n && src.charAt(j) == '"') j += 1
        val s = src.substring(i, j)
        out ++= s; code ++= blank(s); lits += s
        i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        val s = src.substring(i, j)
        out ++= s; code ++= blank(s); lits += s
        i = j
      } else charLit.findPrefixOf(src.substring(i, math.min(n, i + 8))) match {
        case Some(s) if src.charAt(i) == '\'' =>
          out ++= s; code ++= blank(s)
          i += s.length
        case _ =>
          out += src.charAt(i); code += src.charAt(i)
          i += 1
      }
    }
    (out.result(), code.result(), lits.result())
  }

  private val Token = "[A-Za-z_][A-Za-z0-9_]*|[{}()\\[\\]\\n;]|\\S".r
  private val Keywords = Set("def", "object", "class", "trait")

  /** Public member declarations (kind, owner, name) of one stripped
    * file: only those whose every enclosing brace is a template body
    * (no locals), with no `private`/`protected`/`override` modifier on
    * themselves or any enclosing template. */
  private def decls(code: String): Seq[(String, Option[String], String)] = {
    // stack frames: (isTemplate, templateName, isPrivate)
    var stack = List.empty[(Boolean, String, Boolean)]
    var pending: Option[(String, Boolean)] = None
    var mods = List.empty[String]
    var paren = 0
    val toks = Token.findAllIn(code).toVector
    val res = Vector.newBuilder[(String, Option[String], String)]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t == "(" || t == "[") paren += 1
      else if (t == ")" || t == "]") paren -= 1
      t match {
        case "\n" | ";" => mods = Nil; i += 1
        case "{" =>
          stack = (pending match {
            case Some((name, priv)) if paren == 0 => (true, name, priv)
            case _ => (false, "", false)
          }) :: stack
          pending = None; mods = Nil; i += 1
        case "}" =>
          if (stack.nonEmpty) stack = stack.tail
          pending = None; mods = Nil; i += 1
        case k if Keywords(k) && paren == 0 && i + 1 < toks.length &&
            (toks(i + 1).head.isLetter || toks(i + 1).head == '_') =>
          val name = toks(i + 1)
          val priv = mods.contains("private") || mods.contains("protected")
          val inTemplate = stack.forall(_._1)
          val enclosingPriv = stack.exists(_._3)
          if (k == "def") pending = None
          if (inTemplate && !priv && !mods.contains("override") && !enclosingPriv)
            res += ((k, stack.headOption.map(_._2), name))
          if (k != "def") pending = Some((name, priv || enclosingPriv || !inTemplate))
          mods = k :: mods
          i += 2
        case "val" | "var" if paren == 0 =>
          pending = None; mods = t :: mods; i += 1
        case _ => mods = t :: mods; i += 1
      }
    }
    res.result()
  }
}
