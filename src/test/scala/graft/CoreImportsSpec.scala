package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The window core (spec, parser, validate, engine, sqlemit, the percentile
  * kernel, SkewSafe and the `org.apache.spark.sql` bridges) uses nothing from
  * `graft.operators` other than SkewSafe, nothing from `graft.sources`, and
  * not SparkEntry: outside comments, no core source names them or anything
  * they declare at top level. */
class CoreImportsSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")

  private def scalaFiles(dir: String): Seq[Path] =
    Files.list(main.resolve(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  private val core: Seq[Path] =
    Seq("spec", "parser", "validate", "engine", "sqlemit", "functions/ExactPercentileAgg", "operators/SkewSafe")
      .map(f => main.resolve(s"graft/$f.scala")) ++ scalaFiles("org/apache/spark/sql")

  private val outside: Seq[Path] =
    scalaFiles("graft/operators").filterNot(_.getFileName.toString == "SkewSafe.scala") ++
      scalaFiles("graft/sources") :+ main.resolve("graft/SparkEntry.scala")

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  /** `text` with its comments blanked; string and character literals are
    * kept, and a comment opener inside one starts no comment. */
  private def code(text: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    while (i < text.length) {
      if (at("//")) {
        while (i < text.length && text(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (depth > 0 && i < text.length) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else if (at("\"\"\"")) {
        val end = text.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) text.length else end + 3
        out ++= text.substring(i, stop); i = stop
      } else if (at("\"") || at("'\\") || (at("'") && text.startsWith("'", i + 2))) {
        val quote = text(i)
        out += quote; i += 1
        while (i < text.length && text(i) != quote && text(i) != '\n') {
          if (text(i) == '\\') { out += text(i); i += 1 }
          if (i < text.length) { out += text(i); i += 1 }
        }
        if (i < text.length) { out += text(i); i += 1 }
      } else { out += text(i); i += 1 }
    }
    out.result()
  }

  private val topLevel = "(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\\[\\w+\\])?)\\s+)*(?:object|class|trait)\\s+(\\w+)".r

  /** What the core must not name: every top-level declaration outside it,
    * and the two packages other than `operators.SkewSafe`. */
  private lazy val forbidden: Seq[scala.util.matching.Regex] =
    outside.flatMap(p => topLevel.findAllMatchIn(read(p)).map(_.group(1))).distinct.map(n => s"\\b$n\\b".r) ++
      Seq("\\boperators\\s*\\.\\s*(?!SkewSafe\\b)\\w".r, "\\bsources\\s*\\.".r)

  private def violations(text: String): Seq[String] = {
    val c = code(text)
    forbidden.flatMap(r => r.findFirstIn(c).map(hit => s"$hit (rule ${r.regex})"))
  }

  test("the checker sees names in code, not in comments") {
    assert(forbidden.exists(_.regex == "\\bSparkEntry\\b") && forbidden.exists(_.regex == "\\bDedup\\b"))
    assert(!forbidden.exists(_.regex == "\\bSkewSafe\\b"))
    assert(violations("import graft.operators.Dedup").nonEmpty)
    assert(violations("import graft.operators._").nonEmpty)
    assert(violations("import graft.sources.Tables").nonEmpty)
    assert(violations("val q = s\"${SparkEntry.liSchema}\"").nonEmpty)
    assert(violations("import graft.operators.SkewSafe\n// SparkEntry, Dedup\n/* graft.sources.Csv /* nested */ Funnel */").isEmpty)
    assert(violations("val url = \"http://x\"; SparkEntry").nonEmpty)
  }

  test("the window core names nothing from operators/ (but SkewSafe), sources/ or SparkEntry") {
    assert(core.forall(Files.exists(_)), core)
    for (p <- core) {
      val hits = violations(read(p))
      assert(hits.isEmpty, s"$p: ${hits.mkString(", ")}")
    }
  }
}
