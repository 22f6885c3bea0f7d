package graft

import org.apache.spark.sql.{GraftFunctionBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions._

/** SQL surface for the engine's custom Catalyst expressions — the idiomatic
  * Spark extension point (`SparkSessionExtensions.injectFunction`), so a
  * SQL-only user gets the same codegen'd kernels the Column API uses:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   SELECT doc_id,
  *          graft_minhash(graft_word_grams(split(text, ' '), 3), 16) AS sig
  *   FROM documents
  * }}}
  *
  * Registered functions (names mirror the Column API in [[functions]]):
  *  - `graft_word_grams(words, n)`         → array<bigint> gram hashes
  *  - `graft_minhash(gram_hashes, k)`      → array<bigint> MinHash signature
  *  - `graft_simhash(token_hashes)`        → bigint SimHash signature
  *  - `graft_byte_grams(text, k)`          → array<bigint> k-byte window hashes
  *  - `graft_dot(a, b)`                    → double vector dot product
  *  - `graft_hyperplane_sig(v, b, seed)`   → bigint hyperplane LSH signature
  *  - `graft_nfc(text)`                    → Unicode NFC normalization
  *  - `graft_char_gram_rank(text, k)`      → rank-ordered top-k char grams
  *  - `graft_heavy_hitters(item, cap)`     → Misra-Gries frequent-items agg
  *  - `graft_percentile(x, p)`, `graft_percentile_disc(x, p)` → the window
  *    engine's percentile kernel ([[WindowExtensions]]). [[SqlEmitter]]'s
  *    Spark dialect emits `graft_percentile_disc` for DISCRETE_PERCENTILE,
  *    so that SQL needs a session with these functions registered.
  *
  * For a session that already exists (REPL, notebook, shared test session)
  * use [[GraftExtensions.register]], the post-construction equivalent.
  *
  * Static parameters (hash counts, plane counts, seeds, the percentile)
  * must be foldable literals — they parameterize generated code, exactly
  * like the Column API's Int/Double arguments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {
  import WindowExtensions.Description

  /** Register every graft function on an already-built session. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (ident, info, builder) =>
      GraftFunctionBridge.register(spark, ident, info, builder)
    }

  private def describe(name: String, usage: String, arity: Int)(
      builder: Seq[Expression] => Expression): Description =
    WindowExtensions.describe(classOf[GraftExtensions], name, usage, arity)(builder)

  /** A static parameter: foldable integral expression → Int. */
  private def intArg(fn: String, what: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $what must be a literal, got ${e.sql}")
    (e.eval(), e.dataType) match {
      case (i: Integer, _) => i.intValue()
      case (l: java.lang.Long, _) =>
        try Math.toIntExact(l.longValue())
        catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"$fn: $what must fit in a 32-bit integer, got $l")
        }
      case (s: java.lang.Short, _) => s.intValue()
      case (b: java.lang.Byte, _) => b.intValue()
      case (v, t) => throw new IllegalArgumentException(
        s"$fn: $what must be a non-null integer literal, got $v: ${t.simpleString}")
    }
  }

  val descriptions: Seq[Description] = WindowExtensions.descriptions ++ Seq(
    describe("graft_word_grams",
      "graft_word_grams(words array<string>, n int) - 64-bit hashes of the word n-grams",
      arity = 2) { args => WordGramHashes(args.head, intArg("graft_word_grams", "n", args(1))) },
    describe("graft_minhash",
      "graft_minhash(gram_hashes array<bigint>, k int) - k-hash MinHash signature",
      arity = 2) { args => MinHashSignature(args.head, intArg("graft_minhash", "k", args(1))) },
    describe("graft_simhash",
      "graft_simhash(token_hashes array<bigint>) - 64-bit SimHash signature",
      arity = 1) { args => SimHashSignature(args.head) },
    describe("graft_byte_grams",
      "graft_byte_grams(text string, k int) - 64-bit hashes of every k-byte window",
      arity = 2) { args => ByteGramHashes(args.head, intArg("graft_byte_grams", "k", args(1))) },
    describe("graft_dot",
      "graft_dot(a array<double|float>, b array<double|float>) - vector dot product",
      arity = 2) { args => DotProduct(args.head, args(1)) },
    describe("graft_hyperplane_sig",
      "graft_hyperplane_sig(v array<double|float>, planes int, seed int) - hyperplane LSH signature",
      arity = 3) { args =>
      HyperplaneSignature(args.head,
        intArg("graft_hyperplane_sig", "planes", args(1)),
        intArg("graft_hyperplane_sig", "seed", args(2)))
    },
    describe("graft_nfc",
      "graft_nfc(text string) - Unicode NFC normalization (ASCII/already-NFC pass through)",
      arity = 1) { args => NfcNormalize(args.head) },
    describe("graft_char_gram_rank",
      "graft_char_gram_rank(text string, k int) - top-k char 2+3-grams by " +
        "(count desc, gram asc); position+1 is the Cavnar-Trenkle rank",
      arity = 2) { args =>
      CharGramRank(args.head, intArg("graft_char_gram_rank", "k", args(1)))
    },
    describe("graft_heavy_hitters",
      "graft_heavy_hitters(item, capacity) - Misra-Gries frequent-items sketch " +
        "(array of (item, est) structs, est desc)",
      arity = 2) { args =>
      MisraGriesAgg(args.head, intArg("graft_heavy_hitters", "capacity", args(1)))
    })
}
