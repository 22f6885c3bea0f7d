package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface must be the SAME kernels as the Column API:
  * every registered function is checked for value parity against its
  * [[graft.functions]] counterpart, through both wiring paths (a session
  * BUILT with the extensions, and post-hoc registration on a live one). */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withRegistered[A](body: => A): A = { GraftExtensions.register(spark); body }

  test("a session built withExtensions resolves graft functions from SQL") {
    val prior = spark // force TestSpark init so we restore a live session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // NOTE: no ext.stop() — SparkSession.stop() stops the UNDERLYING
      // SparkContext (shared with every other suite); the extra session
      // just gets dropped once the default/active slots are restored
      val row = ext.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
      assert(row.getDouble(0) == 11.0)
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("register twice lists each function once, keeps one of the same class and replaces a foreign one") {
    import org.apache.spark.sql.GraftFunctionBridge
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // a new session shares the context but not the function registry
    val fresh = spark.newSession()
    val names = GraftExtensions.descriptions.map(_._1.funcName)
    GraftExtensions.register(fresh)
    GraftExtensions.register(fresh)
    assert(fresh.catalog.listFunctions().collect().map(_.name).filter(names.contains).sorted.toSeq == names.sorted)
    val (ident, info, builder) = GraftExtensions.descriptions.find(_._1.funcName == "graft_dot").get
    // one registered under the same class stays the one registered
    val copy = new ExpressionInfo(info.getClassName, null, ident.funcName, info.getUsage, "")
    GraftFunctionBridge.register(fresh, ident, copy, builder)
    GraftExtensions.register(fresh)
    assert(GraftFunctionBridge.lookup(fresh, ident).exists(_ eq copy))
    // a foreign function of the same name is replaced
    GraftFunctionBridge.register(fresh, ident, new ExpressionInfo("other.Fn", ident.funcName), builder)
    GraftExtensions.register(fresh)
    assert(GraftFunctionBridge.lookup(fresh, ident).exists(_ eq info))
    assert(fresh.catalog.listFunctions().collect().count(_.name == "graft_dot") == 1)
    assert(fresh.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0) == 11.0)
  }

  test("hash-family SQL functions match the Column API kernels") {
    withRegistered {
      import spark.implicits._
      val docs = Seq((1L, "a b c d e"), (2L, "the quick brown fox"), (3L, "a a a"))
        .toDF("doc_id", "text")
      docs.createOrReplaceTempView("ext_docs")
      val viaSql = spark.sql(
        """SELECT doc_id,
          |       graft_word_grams(split(text, ' '), 2) AS grams,
          |       graft_minhash(graft_word_grams(split(text, ' '), 2), 8) AS mh,
          |       graft_simhash(transform(split(text, ' '), w -> xxhash64(w))) AS sh,
          |       graft_byte_grams(text, 3) AS bg
          |FROM ext_docs""".stripMargin).orderBy("doc_id").collect()
      val viaCol = docs.select(
        org.apache.spark.sql.functions.col("doc_id"),
        functions.HashFunctions.word_gram_hashes(
          org.apache.spark.sql.functions.split($"text", " "), 2).as("grams"),
        functions.HashFunctions.minhash_signature(
          functions.HashFunctions.word_gram_hashes(
            org.apache.spark.sql.functions.split($"text", " "), 2), 8).as("mh"),
        functions.HashFunctions.simhash_signature(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.split($"text", " "),
            w => org.apache.spark.sql.functions.xxhash64(w))).as("sh"),
        functions.HashFunctions.byte_gram_hashes($"text", 3).as("bg"))
        .orderBy("doc_id").collect()
      assert(viaSql.toSeq == viaCol.toSeq)
    }
  }

  test("graft_nfc and graft_char_gram_rank run from SQL and match the kernels") {
    withRegistered {
      import spark.implicits._
      val docs = Seq((1L, "caf\u00e9 plain"), (2L, "aa ab aa ab aa"))
        .toDF("doc_id", "text")
      docs.createOrReplaceTempView("ext_nfc_docs")
      val rows = spark.sql(
        """SELECT doc_id, graft_nfc(text) AS t, graft_char_gram_rank(text, 3) AS g
          |FROM ext_nfc_docs""".stripMargin).orderBy("doc_id").collect()
      assert(rows(0).getString(1) == "caf\u00e9 plain")
      assert(rows(1).getSeq[String](2) ==
        functions.CharGramRank.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString("aa ab aa ab aa"), 3)
          .array.map(_.toString).toSeq)
    }
  }

  test("vector SQL functions match the Column API kernels") {
    withRegistered {
      import spark.implicits._
      val vecs = Seq((1L, Seq(0.1, 0.2, 0.3)), (2L, Seq(-0.5, 0.4, 0.0)))
        .toDF("vec_id", "v")
      vecs.createOrReplaceTempView("ext_vecs")
      val viaSql = spark.sql(
        """SELECT vec_id, graft_dot(v, v) AS d, graft_hyperplane_sig(v, 16, 7) AS sig
          |FROM ext_vecs""".stripMargin).orderBy("vec_id").collect()
      val viaCol = vecs.select($"vec_id",
        functions.VectorFunctions.dot_product($"v", $"v").as("d"),
        functions.VectorFunctions.hyperplane_signature($"v", 16, 7).as("sig"))
        .orderBy("vec_id").collect()
      assert(viaSql.toSeq == viaCol.toSeq)
    }
  }

  test("graft_percentile_disc runs as a running window aggregate (UDAF parity)") {
    withRegistered {
      import spark.implicits._
      Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0))
        .toDF("k", "ord", "v").createOrReplaceTempView("ext_pd")
      val rows = spark.sql(
        """SELECT k, ord,
          |       graft_percentile_disc(v, 0.5)
          |         OVER (PARTITION BY k ORDER BY ord) AS pd
          |FROM ext_pd""".stripMargin)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      // running RANGE frame: a→[10]=10, [10,20]=10, [10,20,30]=20 (p=0.5)
      assert(rows == Map(("a", 1) -> 10.0, ("a", 2) -> 10.0, ("a", 3) -> 20.0, ("b", 1) -> 5.0))
    }
  }

  test("graft_percentile resolves from SQL, matches Spark's percentile, and rejects p outside [0, 1]") {
    withRegistered {
      import spark.implicits._
      Seq(("a", 1, 10.0), ("a", 2, 25.0), ("a", 3, 30.0), ("b", 1, 5.0))
        .toDF("k", "ord", "v").createOrReplaceTempView("ext_pc")
      val rows = spark.sql(
        """SELECT k, ord,
          |       graft_percentile(v, 0.25) OVER (PARTITION BY k ORDER BY ord) AS gp,
          |       percentile(v, 0.25) OVER (PARTITION BY k ORDER BY ord) AS sp
          |FROM ext_pc""".stripMargin).collect()
      assert(rows.length == 4)
      for (r <- rows) assert(r.getDouble(2) == r.getDouble(3), r)
      // running: a → [10]=10, [10,25]=13.75, [10,25,30]=17.5
      assert(rows.map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap ==
        Map(("a", 1) -> 10.0, ("a", 2) -> 13.75, ("a", 3) -> 17.5, ("b", 1) -> 5.0))
      for (p <- Seq("1.5", "-0.1")) {
        val e = intercept[Exception](spark.sql(s"SELECT graft_percentile(v, $p) FROM ext_pc").collect())
        assert(e.getMessage.contains("percentile must be in [0, 1]"), e.getMessage)
      }
    }
  }

  test("graft_heavy_hitters aggregates in SQL and matches the operator") {
    withRegistered {
      import spark.implicits._
      (Seq.fill(9)("x") ++ Seq.fill(4)("y") ++ Seq("z"))
        .toDF("item").createOrReplaceTempView("ext_hh")
      val rows = spark.sql(
        """SELECT h.item, h.est FROM (
          |  SELECT explode(graft_heavy_hitters(item, 8)) AS h FROM ext_hh)""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      assert(rows.toSeq == Seq("x" -> 9L, "y" -> 4L, "z" -> 1L))
    }
  }

  test("static parameters must be literals, with a pointed error") {
    withRegistered {
      import spark.implicits._
      Seq((1L, "x y z")).toDF("doc_id", "text").createOrReplaceTempView("ext_badargs")
      val e = intercept[Exception] {
        spark.sql("SELECT graft_minhash(graft_word_grams(split(text,' '), 2), doc_id) FROM ext_badargs")
          .collect()
      }
      assert(e.getMessage.contains("graft_minhash") || e.getMessage.contains("literal"))
      val a = intercept[Exception] {
        spark.sql("SELECT graft_dot(array(1.0d)) FROM ext_badargs").collect()
      }
      assert(a.getMessage.contains("2 arguments") || a.getMessage.contains("graft_dot"))
    }
  }

  test("an out-of-Int-range Long static parameter errors instead of truncating") {
    withRegistered {
      import spark.implicits._
      Seq((1L, "x y z")).toDF("doc_id", "text").createOrReplaceTempView("ext_bigarg")
      val e = intercept[Exception] {
        spark.sql(
          "SELECT graft_minhash(graft_word_grams(split(text,' '), 2), 9999999999L) FROM ext_bigarg")
          .collect()
      }
      assert(e.getMessage.contains("32-bit") || e.getMessage.contains("fit in"),
        s"expected a range error, got: ${e.getMessage}")
    }
  }
}
