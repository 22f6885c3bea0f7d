package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (1L, "the quick brown fox jumps over the lazy cat", "en", "s1"), // near-dup of 0
    (2L, "completely different words appear here only", "de", "s2"),
    (3L, "the quick brown fox jumps over the lazy dog", "en", "s3"), // exact dup of 0
    (4L, "tiny", "fr", "s4") // fewer than 3 words
  ).toDF("doc_id", "text", "lang", "source")

  test("exact dedup groups identical texts and keeps the min doc_id") {
    val r = Dedup.exact(docs).collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(r(0L) == 2) // doc 0 and 3 collapse, keeper 0
    assert(r.values.sum == 5)
    assert(r.size == 4)
  }

  test("ngram jaccard finds the near-dup pair with the exact ratio") {
    val rows = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.2).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // docs 0/3 identical: 7 grams each, jaccard 1.0
    assert(pairs((0L, 3L)) == 1.0)
    // docs 0/1 differ in last word: 6 common of 8 union
    assert(pairs((0L, 1L)) == 6.0 / 8.0)
    assert(pairs((1L, 3L)) == 6.0 / 8.0)
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH surfaces exact and near duplicates, skips short docs") {
    val rows = Dedup.minHashLshPairs(docs, minEstimate = 0.4).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) == 1.0) // identical signatures
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L)) // <3 words excluded
  }

  test("simhash: identical docs share signatures; near-dups within small hamming") {
    val sigs = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(3L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) < 24)
    val pairs = Dedup.simHashPairs(docs, maxHamming = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 3L)) == 0)
  }

  test("connected components assigns min reachable doc_id per cluster") {
    // chain 1-2-3, pair 10-11, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // longer chain exercises multi-round propagation (diameter > 2)
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val labels = Dedup.connectedComponents(chain).collect().map(_.getLong(1)).distinct
    assert(labels.toSeq == Seq(0L))
  }

  test("hot-gram guard drops ubiquitous grams; f=1.0 is a no-op") {
    // gram "x y z" appears in every doc (the stopword-trigram analogue);
    // docs 1/2 additionally share "a b c", doc 3 shares nothing else
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z a b c q"),
      (3L, "x y z p q r")
    ).toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val noop = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.0, maxDocFrequency = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(noop == full)
    // f=0.9: "x y z" (df=3/3) is dropped; grams of doc1 {y z a, z a b, a b c},
    // doc2 adds {b c q}, doc3 {y z p, z p q, p q r}
    val guarded = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.0, maxDocFrequency = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(guarded((1L, 2L)) == 3.0 / 4.0)   // {yza,zab,abc} ∩ {yza,zab,abc,bcq}
    assert(!guarded.contains((1L, 3L)))      // only the dropped gram was shared
    assert(full((1L, 3L)) > 0)               // ...which the unguarded run reports
  }

  test("q68 fixture guard: LSH corpus screen equals the exact batch x corpus Jaccard screen") {
    // The q68 oracle is an EXACT batch x corpus Jaccard join while the
    // operator is a banded LSH screen — their equality is a property of the
    // fixture (planted pairs far above the threshold: j >= 0.8 where the
    // one-slot-band miss probability is <= 4e-7). This re-probes that
    // completeness, so a future fixture edit that plants a borderline pair
    // (j near 0.5, per-band miss (1-j)^16 no longer negligible) fails HERE
    // deterministically instead of flaking the driver's hash compare.
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val corpus = sources.Tables.documents(spark, dir)
    val batch = SparkEntry.nearDupBatch(spark, dir)
    val lsh = Dedup.nearDupAgainstCorpus(batch, corpus,
      n = 3, numHashes = 16, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact screen: candidates = ALL batch x corpus pairs (no banding)
    val all = batch.select(col("doc_id").as("doc1"))
      .crossJoin(corpus.select(col("doc_id").as("doc2")))
    val dropped = Dedup.jaccardVerify(
      batch.unionAll(corpus.select(col("doc_id"), col("text"))), all, n = 3, threshold = 0.5)
      .select(col("doc1")).distinct().collect().map(_.getLong(0)).toSet
    val exact = batch.select("doc_id").collect().map(_.getLong(0)).toSet -- dropped
    assert(lsh == exact, "banded screen diverged from the exact screen — " +
      s"fixture no longer banding-complete (lsh-only=${(lsh -- exact).take(5)}, " +
      s"exact-only=${(exact -- lsh).take(5)})")
  }

  test("unguarded-scale warning: guard-off above 4 GiB warns toward MinHash, guard-on or small stays silent") {
    assert(Dedup.unguardedScaleWarning(BigInt(5L << 30), 1.0).exists(_.contains("minHashLshPairs")))
    assert(Dedup.unguardedScaleWarning(BigInt(5L << 30), 0.01).isEmpty)
    assert(Dedup.unguardedScaleWarning(BigInt(1L << 30), 1.0).isEmpty)
  }

  test("salted two-phase accumulate equals unsalted engine ACCUMULATE on a skewed key") {
    import org.apache.spark.sql.functions.{col, expr}
    // hot key with 400 rows (tied order values via i/3), cold key with 10;
    // leading all-NULL chunk + scattered nulls pin the windowed-SUM null
    // semantics (null only while the whole prefix is valueless)
    val rows = (0 until 400).map(i =>
      ("hot", i / 3, if (i < 80 || i % 11 == 0) Option.empty[Double] else Some((i % 7).toDouble))) ++
      (0 until 10).map(i => ("cold", i, Some(i.toDouble)))
    val df = rows.toDF("k", "ts", "v").withColumn("chunk", expr("ts div 25"))
    val unsalted = WindowEngine.run(df,
      WindowQuerySpec(Seq("k"), Seq(OrderSpec("ts")),
        aggregates = Seq(AggregateSpec("run", WindowFn.Accumulate, "v"))))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "ts", "v", "run").collect()
        .map(r => (r.getString(0), r.getInt(1), Option(r.get(2)), Option(r.get(3)))).sortBy(_.toString).toSeq
    val u = canon(unsalted)
    assert(u.exists(_._4.isEmpty) && u.exists(_._4.nonEmpty)) // fixture really exercises both regimes
    // this input is far below SaltBytes, so saltedAccumulate runs the engine's
    // window; the two-phase plan is checked on the same rows directly
    for (out <- Seq(SkewSafe.saltedAccumulate(df, Seq("k"), Seq("ts"), "chunk", "v", "run"),
                    SkewSafe.twoPhaseAccumulate(df, Seq("k"), Seq("ts"), "chunk", "v", "run"))) {
      assert(out.schema == unsalted.schema)
      assert(canon(out) == u)
    }
  }

  test("saltedAccumulate picks one window or the two-phase join by SaltBytes") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    // Range estimates 8 bytes a row and a projection scales that by its row
    // width, so these inputs cross the constant without a row being made
    def input(n: Long) = spark.range(n).select(
      (col("id") % 4).cast("string").as("k"), col("id").as("ts"),
      col("id").cast("double").as("v"), expr("id div 1000").as("chunk"))
    val perRow = WindowEngine.sizeEstimate(input(1000)) / 1000
    val (small, big) = (input((SkewSafe.SaltBytes / perRow / 2).toLong), input((SkewSafe.SaltBytes / perRow * 2).toLong))
    assert(WindowEngine.sizeEstimate(small) <= SkewSafe.SaltBytes && WindowEngine.sizeEstimate(big) > SkewSafe.SaltBytes)
    def plan(df: org.apache.spark.sql.DataFrame) = {
      val out = SkewSafe.saltedAccumulate(df, Seq("k"), Seq("ts"), "chunk", "v", "run")
      val p = out.queryExecution.optimizedPlan
      (p.collect { case w: Window => w }.size, p.collect { case j: Join => j }.size,
        "Exchange hashpartitioning".r.findAllIn(out.queryExecution.executedPlan.toString).size)
    }
    assert(plan(small) == ((1, 0, 1)))
    val (windows, joins, _) = plan(big)
    assert(windows == 2 && joins == 1)
    // both sides reject what WindowEngine.run rejects: ACCUMULATE reads numbers
    for (df <- Seq(small, big)) {
      val e = intercept[GraftValidationException](SkewSafe.saltedAccumulate(df, Seq("k"), Seq("ts"), "chunk", "k", "run"))
      assert(e.failures.exists(_.message.contains("not supported by function ACCUMULATE")), e.getMessage)
    }
  }

  test("connected components converge in O(log diameter) rounds (pointer doubling)") {
    // worst case for plain min-label propagation: a path graph. Diameter 127
    // needs 127 plain rounds; pointer doubling must close it within 10
    // (≈ log2(127) + slack + the final no-change round)
    val path = (0L until 127L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got = Dedup.connectedComponents(path, maxIterations = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 128 && got.forall(_._2 == 0L))
  }

  private lazy val emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(-1.0f, 0.0f, 0.0f), 2)  // opposite of 0
  ).toDF("vec_id", "embedding", "label")

  test("embedding near-dup pairs: exact cosine, threshold filter") {
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet == Set((0L, 1L)))
    assert(math.abs(pairs((0L, 1L)) - 0.9 / math.sqrt(0.82)) < 1e-5)
  }

  test("brute-force topk ranks by cosine desc with tie-free id order") {
    val rows = Similarity.bruteForceTopK(emb, Seq(0L), k = 2).collect()
      .sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getInt(3)))
    assert(rows.toSeq == Seq((1L, 1), (2L, 2))) // closest first; -1 vector last
  }

  test("lsh topk returns the same top hit as brute force for a clear neighbor") {
    val rows = Similarity.lshTopK(emb, Seq(0L), k = 1, numPlanes = 4).collect()
    // bucket of vec 0 must at least contain its near-identical neighbor 1
    assert(rows.forall(_.getLong(0) == 0L))
  }

  test("hashedRetrievalTopK: exact-match passage is top-1 at cos2 = 1e6, disjoint absent") {
    val passages = Seq(
      (10L, 0L, "apple banana cherry"),
      (10L, 1L, "apple apple banana"),
      (11L, 0L, "dog elephant fox")
    ).toDF("doc_id", "chunk_id", "chunk_text")
    val queries = Seq((1L, "apple banana cherry"), (2L, "zebra yak")).toDF("query_id", "text")
    val got = Similarity.hashedRetrievalTopK(passages, queries, buckets = 256, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    // query 1: its verbatim passage at cos² exactly 10⁶, then the partial
    // overlap; query 2 shares no bucket with any passage → zero rows
    val q1 = got.filter(_._1 == 1L).sortBy(_._5)
    assert(q1.head == ((1L, 10L, 0L, 1000000L, 1)))
    assert(q1(1)._2 == 10L && q1(1)._3 == 1L && q1(1)._4 < 1000000L)
    assert(!got.exists(_._1 == 2L))
  }

  test("ivf topk: probing every cell equals brute force; 1-probe finds the in-cell neighbor") {
    // nCells = corpus size ⇒ each vector is its own centroid; nProbe = nCells
    // ⇒ full scan ⇒ must match the exact baseline row for row
    val exact = Similarity.bruteForceTopK(emb, Seq(0L, 2L), k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val full = Similarity.ivfTopK(emb, Seq(0L, 2L), k = 2, nCells = 4, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(full == exact)
    // single probe: EXACT duplicates always land in the same cell (identical
    // cosine to every centroid, same tie-break), so 1-probe must surface the
    // duplicate as the top hit — the IVF recall contract near-dups rely on
    val dup = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.0f, 0.9f, 0.4f))
    ).toDF("vec_id", "embedding")
    val one = Similarity.ivfTopK(dup, Seq(0L), k = 1, nCells = 2, nProbe = 1).collect()
    assert(one.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((0L, 1L, 1.0)))
  }

  test("ivf Lloyd refinement does not lose recall vs hash-seeded centroids") {
    // real corpus (sf0.001 embeddings, 500 × dim-64): recall@5 for 10 queries
    // at nProbe=2, hash-seeded start vs 2 Lloyd rounds. Deterministic: data,
    // seeding, and the refinement are all fixed, so the comparison is pinned.
    val realEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = (0L until 10L)
    def hits(df: org.apache.spark.sql.DataFrame): Int = {
      val truth = Similarity.bruteForceTopK(realEmb, qids, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      df.collect().map(r => (r.getLong(0), r.getLong(1))).count(truth)
    }
    val r0 = hits(Similarity.ivfTopK(realEmb, qids, k = 5, nCells = 16, nProbe = 2))
    val r2 = hits(Similarity.ivfTopK(realEmb, qids, k = 5, nCells = 16, nProbe = 2,
      lloydIterations = 2))
    assert(r2 >= r0, s"refined recall $r2/50 fell below hash-seeded $r0/50")
    info(s"recall@5 over 10 queries, nProbe=2/16: hash-seeded $r0/50, lloyd-2 $r2/50")
    // full probe stays the exact baseline regardless of centroid training
    val exact = Similarity.bruteForceTopK(realEmb, qids, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val full = Similarity.ivfTopK(realEmb, qids, k = 5, nCells = 16, nProbe = 16,
      lloydIterations = 1).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(full == exact)
  }

  test("text stats compute exact rational values") {
    val r = TextAnalysis.stats(docs).filter($"doc_id" === 0L).collect()(0)
    assert(r.getAs[Int]("len_chars") == 43)
    assert(r.getAs[Int]("n_words") == 9)
    assert(r.getAs[Int]("n_stopwords") == 2) // "the" twice
    assert(r.getAs[Double]("stopword_ratio") == 2.0 / 9.0)
  }

  test("pinned language profiles reproduce under in-engine retraining") {
    // the q87 merge-table contract: the constant IS the training output,
    // so the oracle's VALUES literal can never drift from the operator
    val trained = TextAnalysis.trainLanguageProfiles(
      SparkEntry.langTrainingText.toDF("lang", "text"), k = 60)
    assert(trained == SparkEntry.langProfiles)
  }

  test("rank-profile language ID classifies held-out sentences correctly") {
    val held = Seq(
      (0L, "she walked to the market in the morning and bought bread for the family"),
      (1L, "er ging am abend durch die stadt und sprach mit den leuten auf der strasse"),
      (2L, "elle marche dans la rue et regarde les maisons avec leurs petites fenetres"),
      (3L, "el nino juega en el parque con los amigos de la escuela cada manana"),
      (4L, "wo men jin tian qu shang dian mai dong xi ran hou hui jia chi fan"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.classifyLanguage(held, SparkEntry.langProfiles, k = 60)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(0L -> "en", 1L -> "de", 2L -> "fr", 3L -> "es", 4L -> "zh"))
  }

  test("out-of-place distance matches an independent Scala replay") {
    // classify one mixed doc and recompute rank/penalty/argmin by hand —
    // an engine-independent check of the distance semantics (unknown
    // grams pay k, known grams |r - pr|, argmin ties break by lang)
    val text = "xxxx mixed with the usual words und der hund"
    val norm = " " + text.toLowerCase.replaceAll("[^a-z]+", " ").trim + " "
    val grams = (norm.sliding(2) ++ norm.sliding(3)).toSeq
    val ranked = grams.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (g, c) => (-c, g) }.take(60).zipWithIndex
      .map { case ((g, _), i) => g -> (i + 1) }
    val prof = SparkEntry.langProfiles.map { case (l, g, r) => (l, g) -> r }.toMap
    val dists = SparkEntry.langProfiles.map(_._1).distinct.sorted.map(l =>
      l -> ranked.map { case (g, r) =>
        prof.get((l, g)).map(pr => math.abs(r - pr)).getOrElse(60).toLong }.sum)
    val expect = dists.minBy { case (l, d) => (d, l) }
    val r = TextAnalysis.classifyLanguage(
      Seq((0L, text)).toDF("doc_id", "text"), SparkEntry.langProfiles, k = 60)
      .collect().head
    assert((r.getString(1), r.getLong(2)) == expect)
  }

  test("contamination reports the exact overlapping-gram fraction per doc") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog", "en", "s"), // shares grams with bench doc 1
      (11L, "completely different words appear here only today", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val bench = Seq(
      (1L, "the quick brown fox runs", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Dedup.contamination(corpus, bench, n = 3).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // doc 10 has 7 distinct grams; bench grams = {the quick brown, quick
    // brown fox, brown fox runs} → hits: "the quick brown", "quick brown fox"
    assert(r(10L) == ((7L, 2L)))
    assert(r(11L) == ((5L, 0L)))
  }

  test("mixSources hits the target composition without upsampling") {
    import org.apache.spark.sql.functions._
    // 40 a-rows, 10 b-rows, weights 50/50 → b is the constrained source:
    // keeps all 10, a downsamples toward 10 by md5 bucket (quantized)
    val df = ((0 until 40).map(i => (i.toLong, "a")) ++
      (100 until 110).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
    val kept = Sampling.mixSources(df, Map("a" -> 0.5, "b" -> 0.5))
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("b") == 10L, "constrained source keeps every row")
    // md5 buckets are uniform but finite — allow sampling noise around 10
    assert(kept("a") >= 5L && kept("a") <= 15L, s"got ${kept("a")}")
    // a source with no weight drops entirely
    val dropped = Sampling.mixSources(df, Map("a" -> 1.0))
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(dropped == Set("a"))
  }

  test("temperature mix: smallest source keeps all; τ flattens shares as (n_min/n_s)^(1-τ)") {
    import org.apache.spark.sql.functions._
    // 64 big / 16 small: τ=0.5 → keep(big) = (16/64)^0.5 = 0.5 exactly
    val df = ((0 until 64).map(i => (i.toLong, "big")) ++
      (100 until 116).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureMix(df, tau = 0.5)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 16L, "smallest source keeps every row")
    // big targets 32 of 64; md5 buckets are uniform but finite
    assert(kept("big") >= 24L && kept("big") <= 40L, s"got ${kept("big")}")
    // τ=1 keeps natural proportions — every source keeps everything
    val natural = Sampling.temperatureMix(df, tau = 1.0)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(natural == Map("big" -> 64L, "small" -> 16L))
  }

  test("lm score: hand-computed unigram log-probs, rare-word docs score lower") {
    // corpus: "a" ×3, "b" ×1 → total 4, vocab 2; smoothed p(a) = 4/6,
    // p(b) = 2/6 (add-1)
    val fx = Seq(
      (0L, "a a", "en", "s"), (1L, "a b", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.lmScore(fx).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    def rd(x: Double) = math.round(x * 1e6) / 1e6
    assert(r(0L) == ((2L, rd(math.log(4.0 / 6)))))
    assert(r(1L) == ((2L, rd((math.log(4.0 / 6) + math.log(2.0 / 6)) / 2))))
    assert(r(1L)._2 < r(0L)._2, "the rare-word doc must score lower")
  }

  test("sequence packing: per-shard streams, exact offsets, boundary flags") {
    // one shard (ids 0,2,4 → shard 0 at shards=2; 1,3 → shard 1); docs of
    // 3/4/2 words in shard 0 pack at offsets 0,3,7; maxTokens=5 puts doc 2
    // astride the 5-token boundary (3..6) and doc 4 in sequence 1 (7..8)
    val fx = Seq(
      (0L, "a b c", "en", "s"), (1L, "x y z w v u", "en", "s"),
      (2L, "d e f g", "en", "s"), (3L, "p q", "en", "s"),
      (4L, "h i", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.packSequences(fx, maxTokens = 5, shards = 2).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getLong(3), x.getLong(4), x.getBoolean(5))))
      .toMap
    assert(r(0L) == ((0, 3, 0L, 0L, false)))
    assert(r(2L) == ((0, 4, 3L, 0L, true)))  // tokens 3..6 straddle offset 5
    assert(r(4L) == ((0, 2, 7L, 1L, false))) // second sequence of shard 0
    assert(r(1L) == ((1, 6, 0L, 1L << 48, true)))       // 6 > 5 tokens: must split
    assert(r(3L) == ((1, 2, 6L, (1L << 48) + 1, false)))
  }

  test("int8 quantization: exact codes, roundtrip error bound, top-k recall") {
    val fx = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)) // all-zero: scale 0, zero codes
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(fx).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2)))).toMap
    assert(q(0L)._1 == 127.0 && q(0L)._2 == Seq[Byte](127, -63, 32)) // floor(±x·127+.5)
    assert(q(1L)._1 == 0.0 && q(1L)._2 == Seq[Byte](0, 0, 0))
    // real corpus: dequantized cosine within int8 error of exact; top-k
    // recall vs the float baseline pinned (deterministic)
    val realEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = (0L until 10L)
    val exact = Similarity.bruteForceTopK(realEmb, qids, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(realEmb, qids, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size
    assert(recall >= 45, s"int8 top-k recall $recall/50 vs float baseline")
    info(s"int8 top-k recall: $recall/50")
  }

  test("binary quantization: exact word packing, full-rerank degeneracy, recall") {
    // packing: dim i → bit (i mod 32) of word i/32, set iff x_i > 0
    val v = Array.fill(64)(0.0f)
    v(0) = 1f; v(31) = 0.5f; v(32) = 2f; v(63) = -1f
    val fx = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
    val words = Similarity.quantizeBinary(fx).head().getSeq[Long](1)
    assert(words.toSeq == Seq(1L | (1L << 31), 1L),
      s"bits 0+31 of word 0 and bit 0 of word 1, got $words")
    // hamming over packed words == per-dim sign disagreement
    val u = Array.fill(64)(0.0f); u(0) = -1f; u(31) = 0.5f; u(40) = 3f
    val two = Seq((0L, v.toSeq), (1L, u.toSeq)).toDF("vec_id", "embedding")
    val packed = Similarity.quantizeBinary(two).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ham = two.sparkSession.range(1).select(
      Similarity.hammingDist(
        typedLit(packed(0L).toSeq), typedLit(packed(1L).toSeq)).as("h"))
      .head().getLong(0)
    assert(ham == 3, s"sign bits differ at dims 0, 32, 40 only: got $ham")
    // real corpus: rerank >= corpus makes the shortlist total, so the
    // two-stage ranking DEGENERATES to exact brute force
    val realEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = (0L until 10L)
    val exact = Similarity.bruteForceTopK(realEmb, qids, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val total = Similarity.binaryTopK(realEmb, qids, k = 5, rerank = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(total == exact, "full-rerank binary top-k must equal brute force")
    // production point: 20-candidate shortlist recall pinned (deterministic)
    val prod = Similarity.binaryTopK(realEmb, qids, k = 5, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallB = (exact.map(t => (t._1, t._2)) & prod).size
    // 64-dim sign bits are a coarse proxy (binary quantization earns its
    // keep at 512+ dims); the measured 20/50 documents the operating
    // point — the CORRECTNESS gate is the oracle replay + degeneracy
    // above, not recall
    assert(recallB >= 18, s"binary top-k recall $recallB/50 vs float baseline")
    info(s"binary top-k recall at rerank=20: $recallB/50")
    // widening the shortlist recovers recall monotonically
    val wide = Similarity.binaryTopK(realEmb, qids, k = 5, rerank = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallW = (exact.map(t => (t._1, t._2)) & wide).size
    assert(recallW >= recallB, s"rerank=60 recall $recallW must not drop below $recallB")
    info(s"binary top-k recall at rerank=60: $recallW/50")
  }

  test("quality rules compute exact repetition fractions and the pass flag") {
    val fixture = Seq(
      // 6 words, "a b" bigram ×3 of 5 bigrams, "a"×3 + "b"×3 → dup 4/6
      (0L, "a b a b a b", "en", "s"),
      // 21 distinct 5-letter words: dup 0, every bigram unique (top 1/20 =
      // 0.05), alpha = 105/125 = 0.84 (spaces count against the ratio)
      (1L, ('a' to 'u').map(c => s"word$c").mkString(" "), "en", "s"),
      (2L, "tiny", "en", "s"), // 1 word, no bigrams
      (3L, "", "en", "s")      // empty text: all fracs guarded to 0, not NULL/NaN
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.qualityRules(fixture).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getDouble(2), x.getDouble(3),
        x.getDouble(4), x.getBoolean(5)))).toMap
    assert(r(0L)._1 == 6 && r(0L)._2 == 4.0 / 6 && r(0L)._3 == 3.0 / 5 && !r(0L)._5) // repetitive + short → drop
    assert(r(1L)._1 == 21 && r(1L)._2 == 0.0 && r(1L)._3 == 1.0 / 20 && r(1L)._5)    // clean 21-worder → keep
    assert(r(2L)._1 == 1 && r(2L)._3 == 0.0 && !r(2L)._5) // no bigrams → frac 0, too short
    assert(r(3L)._4 == 0.0 && !r(3L)._5)                  // empty text → 0.0, never null
  }

  test("PII redaction replaces every occurrence and counts on the original text") {
    val fx = Seq(
      (0L, "mail alice@corp.io and bob.smith@my-host.example.org today"),
      (1L, "call 555-867-5309 or 555-000-1111 from 10.0.0.1"),
      (2L, "no pii here at all"),
      (3L, "")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(fx).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r(0L) == ("mail <EMAIL> and <EMAIL> today", 2))
    assert(r(1L) == ("call <PHONE> or <PHONE> from <IP>", 3))
    assert(r(2L) == ("no pii here at all", 0)) // no-match path: text unchanged
    assert(r(3L) == ("", 0))
  }

  test("luhnCardCandidates: known PANs validate, off-by-one fails, short runs skip") {
    val fx = Seq(
      (0L, "pay 4532015112830366 now"),     // textbook Luhn-valid Visa test PAN
      (1L, "pay 4532015112830367 now"),     // last digit bumped → invalid
      (2L, "ref 123456789012 only"),        // 12 digits < 13 → no candidate
      (3L, "amex 371449635398431 ok"),      // 15-digit valid (odd length path)
      (4L, "no digits at all"),
      (5L, "order 45320151128303661234 id") // 20-digit maximal run → NO candidate
    ).toDF("doc_id", "text")
    val got = TextAnalysis.luhnCardCandidates(fx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.toSet == Set(
      (0L, "4532015112830366", true),
      (1L, "4532015112830367", false),
      (3L, "371449635398431", true)))
  }

  test("PII redaction null contract: null text → null redacted, zero count") {
    val fx = Seq((0L, Option("ping admin@example.com")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(fx).collect()
      .map(x => x.getLong(0) -> ((Option(x.getString(1)), x.getInt(2)))).toMap
    assert(r(0L) == ((Some("ping <EMAIL>"), 1)))
    assert(r(1L) == ((None, 0))) // n_redactions never null for audit sums
    // chunkDocuments drops null-text docs entirely (documented contract)
    assert(TextAnalysis.chunkDocuments(fx.filter("doc_id = 1")).count() == 0)
  }

  test("chunking: overlapping windows, exact starts, short tail chunk") {
    // 10 words, chunkTokens=4, overlap=1 → stride 3: starts 0,3,6,9
    val fx = Seq((0L, (1 to 10).map(i => s"w$i").mkString(" ")), (1L, ""))
      .toDF("doc_id", "text")
    val r = TextAnalysis.chunkDocuments(fx, chunkTokens = 4, overlap = 1).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> ((x.getString(2), x.getInt(3)))).toMap
    assert(r((0L, 0L)) == ("w1 w2 w3 w4", 4))
    assert(r((0L, 1L)) == ("w4 w5 w6 w7", 4)) // shares w4 with chunk 0
    assert(r((0L, 2L)) == ("w7 w8 w9 w10", 4))
    assert(r((0L, 3L)) == ("w10", 1))          // short tail
    assert(r((1L, 0L)) == ("", 1))             // split("") → [""], one 1-token chunk
    assert(r.size == 5)
  }

  test("fingerprint is deterministic and order-sensitive") {
    val f = TextAnalysis.fingerprint(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(0L) == f(3L)) // identical text
    assert(f(0L) != f(1L))
    assert(f(0L) >= 0L && f(0L) < 2147483647L)
  }

  test("resize fits the longest side to target with integer-exact scaling") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val meta = Seq(
      MediaMeta(1L, "media/img", 100L, 400, 200, 1),  // landscape → 224 × 112
      MediaMeta(2L, "media/img", 100L, 150, 450, 1),  // portrait  → 74 × 224 (floor)
      MediaMeta(3L, "media/img", 100L, 224, 224, 1),  // exact     → 224 × 224
      MediaMeta(4L, "media/img", 0L, 0, 0, 1)         // degenerate → 0 × 0, no div-by-zero
    ).toDS()
    val got = Multimodal.resizeFit(meta, target = 224).collect()
      .map(r => r.doc_id -> ((r.out_w, r.out_h))).toMap
    assert(got == Map(1L -> ((224, 112)), 2L -> ((74, 224)), 3L -> ((224, 224)), 4L -> ((0, 0))))
  }

  test("real image decode: JDK codecs yield exact dimensions and pixel means") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // encode REAL images in-process (ImageIO writers are JDK-bundled):
    // an 8×4 PNG of constant RGB(30,60,90) → mean luma exactly 60, and a
    // 5×5 BMP of constant RGB(120,120,120) → mean luma exactly 120
    def img(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(im, fmt, bos), s"no JDK writer for $fmt")
      bos.toByteArray
    }
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val records = spark.createDataset(Seq(
      MediaRecord(1L, "image/png", img(8, 4, (30 << 16) | (60 << 8) | 90, "png")),
      MediaRecord(2L, "image/bmp", img(5, 5, (120 << 16) | (120 << 8) | 120, "bmp")),
      MediaRecord(3L, "image/bad", Array[Byte](1, 2, 3)), // no reader claims it → dropped
      // valid PNG signature + garbage: the JDK reader CLAIMS it then throws
      // mid-decode — must drop the row, not kill the task
      MediaRecord(4L, "image/trunc", Array[Byte](0x89.toByte, 'P', 'N', 'G',
        '\r', '\n', 0x1a, '\n', 7, 7, 7, 7, 7, 7, 7, 7))
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val meta = Multimodal.extractImageMeta(records).collect()
      .map(m => m.doc_id -> ((m.width, m.height))).toMap
    assert(meta == Map(1L -> ((8, 4)), 2L -> ((5, 5))))
    val feats = Multimodal.imageFeatures(records).collect()
      .map(f => f.doc_id -> f.mean_luma).toMap
    assert(feats == Map(1L -> 60.0, 2L -> 120.0))
    // real resample: aspect-fit into 16×16, re-decoded dims must match the
    // integer-fit math, and a constant-color image stays constant through
    // bilinear interpolation (mean luma preserved exactly)
    val resized = Multimodal.resizeImages(records, target = 16)
    val rdims = Multimodal.extractImageMeta(resized).collect()
      .map(m => m.doc_id -> ((m.width, m.height))).toMap
    assert(rdims == Map(1L -> ((16, 8)), 2L -> ((16, 16))))
    val rluma = Multimodal.imageFeatures(resized).collect()
      .map(f => f.doc_id -> f.mean_luma).toMap
    assert(rluma == Map(1L -> 60.0, 2L -> 120.0))
  }

  test("dHash: scale-invariant on divisible grids, encoding-invariant, sub-grid drops") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // equal render param at 1× and 2× → SAME 64-bit hash (the area-average
    // floor identity); distinct params → independent signatures
    val recs = spark.createDataset(Seq(
      MediaRecord(1L, "image/png", Multimodal.testPatternPng(5L, scale = 1)),
      MediaRecord(2L, "image/png", Multimodal.testPatternPng(5L, scale = 2)),
      MediaRecord(3L, "image/png", Multimodal.testPatternPng(6L, scale = 1)),
      MediaRecord(4L, "image/png", Multimodal.testPatternPng(6L, scale = 3)),
      // 8×4 image: narrower than the 9-wide grid → dropped, not hashed
      MediaRecord(5L, "image/png", {
        val im = new java.awt.image.BufferedImage(8, 4,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "png", bos); bos.toByteArray
      })
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val h = Multimodal.dHash64(recs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.keySet == Set(1L, 2L, 3L, 4L))
    assert(h(1L) == h(2L) && h(3L) == h(4L) && h(1L) != h(3L))
    // a BMP re-encode of the SAME pixels hashes identically (perceptual,
    // not byte-level): decode the png, re-encode as bmp, hash both
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.testPatternPng(5L)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bos))
    val recs2 = spark.createDataset(Seq(
      MediaRecord(10L, "image/bmp", bos.toByteArray)
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val h2 = Multimodal.dHash64(recs2).collect().head.getLong(1)
    assert(h2 == h(1L))
    // the pair-finder recovers exactly the equal-param pairs at Hamming 0
    val pairs = Multimodal.dHashDupPairs(recs, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0), (3L, 4L, 0)))
    // keep-best resolves each group to its highest-resolution member
    val best = Multimodal.dHashKeepBest(recs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(best == Set((2L, 2L, 72L * 64L), (4L, 2L, 108L * 96L)))
  }

  test("real audio decode: JDK WAV parser yields exact format and duration") {
    import javax.sound.sampled._
    // encode a REAL wav in-process: 8 kHz mono 16-bit PCM, 1600 samples = 200 ms
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](1600 * 2)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 1600)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val records = spark.createDataset(Seq(
      MediaRecord(1L, "audio/wav", bos.toByteArray),
      MediaRecord(2L, "audio/bad", Array[Byte]('R', 'I', 'F', 'F', 1, 2, 3)) // truncated → dropped
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val meta = Multimodal.extractAudioMeta(records).collect()
    assert(meta.length == 1)
    val m = meta.head
    assert(m.doc_id == 1L && m.sample_rate == 8000.0 && m.channels == 1 &&
      m.bits_per_sample == 16 && m.n_samples == 1600L && m.duration_ms == 200.0)
  }

  test("audioStats: integer amplitude stats survive the container round trip") {
    import javax.sound.sampled._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // hand-computable clip: samples 0, 500, -500, -2000 → n=4,
    // mean_abs = 3000/4 = 750, peak 2000, silent (<1000) = 3 → 750000 e6
    def pcm(vals: Seq[Int], bigEndian: Boolean): Array[Byte] = {
      val b = new Array[Byte](vals.length * 2)
      vals.zipWithIndex.foreach { case (v, i) =>
        val (hi, lo) = (((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
        if (bigEndian) { b(2 * i) = hi; b(2 * i + 1) = lo }
        else { b(2 * i) = lo; b(2 * i + 1) = hi }
      }
      b
    }
    def wav(vals: Seq[Int], channels: Int = 1): Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, channels, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(
        pcm(vals, bigEndian = false)), fmt, vals.length.toLong / channels)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def aiff(vals: Seq[Int]): Array[Byte] = { // AIFF carries BIG-endian PCM
      val fmt = new AudioFormat(8000f, 16, 1, true, true)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(
        pcm(vals, bigEndian = true)), fmt, vals.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.AIFF, bos)
      bos.toByteArray
    }
    val clip = Seq(0, 500, -500, -2000)
    val recs = spark.createDataset(Seq(
      MediaRecord(1L, "audio/wav", wav(clip)),
      MediaRecord(2L, "audio/aiff", aiff(clip)),     // same stats, other endianness
      MediaRecord(3L, "audio/wav", wav(clip ++ clip, channels = 2)), // stereo → drop
      MediaRecord(4L, "audio/bad", Array[Byte](1, 2, 3))            // garbage → drop
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val got = Multimodal.audioStats(recs).collect()
      .map(a => a.doc_id -> ((a.n_samples, a.mean_abs, a.peak_abs, a.n_silent,
        a.silence_ratio_e6))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((4L, 750L, 2000L, 3L, 750000L)))
    assert(got(2L) == got(1L))
    // the formula clip matches its closed form: testPcmWav(seed=3, n=5)
    // samples are ((3*31 + i*7919) % 65536) - 32768
    val exp = (0 until 5).map(i => math.abs(((3L * 31 + i * 7919L) % 65536L) - 32768L))
    val recs2 = spark.createDataset(Seq(
      MediaRecord(5L, "audio/wav", Multimodal.testPcmWav(3L, 5))
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val g2 = Multimodal.audioStats(recs2).collect().head
    assert(g2.n_samples == 5L && g2.mean_abs == exp.sum / 5 && g2.peak_abs == exp.max)
  }

  test("multimodal pipeline: stub decode is deterministic, frames sample by stride") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val meta = Multimodal.extractMeta(Multimodal.asMediaRecords(docs))
    val m = meta.collect().map(x => x.doc_id -> x).toMap
    assert(m(0L).byte_len == 43)
    assert(m(0L).width == 64 + (43 % 512))
    assert(m(0L).n_frames == 1)
    assert(m(3L).n_frames == 4) // 1 + 3 % 8
    val frames = Multimodal.sampleFrames(meta, stride = 2)
      .filter($"doc_id" === 3L).select("frame_idx").collect().map(_.getInt(0)).sorted
    assert(frames.toSeq == Seq(0, 2)) // frames 0..3, stride 2
  }

  test("vocabulary: counts, doc frequency, frequency-ranked ids, minCount cutoff") {
    val fx = Seq(
      (0L, "a b a c"),
      (1L, "a b b"),
      (2L, "z")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.vocabulary(fx, minCount = 2).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // a: 3 occurrences in 2 docs; b: 3 in 2; z: 1 → cut by minCount
    assert(r("a") == ((3L, 2L, 0L))) // tie with b broken alphabetically
    assert(r("b") == ((3L, 2L, 1L)))
    assert(r.size == 2) // c and z: 1 occurrence each → cut by minCount
  }

  test("tf-idf: ubiquitous words score zero, distinctive words rank first") {
    val fx = Seq(
      (0L, "common rare0 common"),
      (1L, "common rare1 rare1"),
      (2L, "common other")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfIdfKeywords(fx, topK = 2).collect()
      .map(x => (x.getLong(0), x.getInt(3)) -> ((x.getString(1), x.getDouble(2)))).toMap
    // 'common' is in all 3 docs → ln(3/3)=0; rare words: tf·ln(3/1)
    assert(r((0L, 1))._1 == "rare0")
    assert(math.abs(r((0L, 1))._2 - math.log(3.0)) < 1e-6)
    assert(r((1L, 1))._1 == "rare1" && math.abs(r((1L, 1))._2 - 2 * math.log(3.0)) < 1e-5)
    assert(r((0L, 2))._1 == "common" && r((0L, 2))._2 == 0.0)
  }

  test("duplicated spans: cross-doc k-grams merge into maximal spans") {
    // docs 0 and 1 share words 0..5 ("w0..w5"): 5-gram starts 0,1 in both →
    // one merged span [0,5]; doc 2 is unique → no spans
    val shared = (0 to 5).map(i => s"w$i").mkString(" ")
    val fx = Seq(
      (0L, shared + " tail0 a b c d"),
      (1L, shared + " tail1 e f g h"),
      (2L, "nothing here matches any other document at all")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(fx, k = 5).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getInt(3)))).toSeq
    assert(r.toMap == Map(0L -> ((0, 5, 6)), 1L -> ((0, 5, 6))))
    assert(r.size == 2)
  }

  test("duplicated spans: disjoint duplicated regions stay separate islands") {
    // two shared 5-gram regions separated by unique middles: starts 0 and 10
    // (gap 10 > k=5) must NOT merge
    val s1 = (0 to 4).map(i => s"x$i").mkString(" ")
    val s2 = (0 to 4).map(i => s"y$i").mkString(" ")
    val fx = Seq(
      (0L, s"$s1 mid0a mid0b mid0c mid0d mid0e $s2"),
      (1L, s"$s1 mid1a mid1b mid1c mid1d mid1e $s2")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(fx, k = 5).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
    assert(r.length == 4)
    assert(r.count { case (_, s, e, n) => s == 0 && e == 4 && n == 5 } == 2)
    assert(r.count { case (_, s, e, n) => s == 10 && e == 14 && n == 5 } == 2)
  }

  test("self-repetition spans: occurrence-count mode flags intra-doc repeats") {
    val fx = Seq(
      (0L, "a b c x y z a b c"), // "a b c" twice in the SAME doc
      (1L, "totally unique content here")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(fx, k = 3).count() == 0) // no cross-doc dup
    val self = Dedup.duplicatedSpans(fx, k = 3, crossDocOnly = false).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3))).toSet
    assert(self == Set((0L, 0, 2, 3), (0L, 6, 8, 3))) // starts 0 and 6, gap > k
  }

  test("span removal drops duplicated regions verbatim, keeps row count stable") {
    val shared = (0 to 5).map(i => s"w$i").mkString(" ") // span [0,5] in docs 0,1
    val fx = Seq(
      (0L, shared + " tail0 a b c d"),
      (1L, shared + " tail1 e f g h"),
      (2L, "unique document with no duplicated content at all"),
      (3L, "p q r s t"), // docs 3/4 identical and fully covered → empty
      (4L, "p q r s t")
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicatedSpans(fx, k = 5).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r(0L) == (("tail0 a b c d", 6)))
    assert(r(1L) == (("tail1 e f g h", 6)))
    assert(r(2L) == (("unique document with no duplicated content at all", 0)))
    assert(r(3L) == (("", 5)) && r(4L) == (("", 5)))
    assert(r.size == 5)
  }

  test("byte spans: sub-word duplication that word grams miss, exact byte offsets") {
    // 26 shared bytes at different offsets in each doc; doc 1 breaks word
    // alignment with a different prefix, so word 5-grams OF K=5 WORDS never
    // match but the byte windows do. Shared region: "quick brown foxes leaping"
    val fx = Seq(
      (0L, "the quick brown foxes leaping far"),
      (1L, "a quick brown foxes leaping far"),
      (2L, "completely unrelated text with nothing shared")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedByteSpans(fx, k = 20).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getInt(3)))).toMap
    // the common region INCLUDES the space before "quick": doc 0 bytes
    // 3..32 (30 bytes), doc 1 bytes 1..30
    assert(r(0L) == ((3, 32, 30)))
    assert(r(1L) == ((1, 30, 30)))
    assert(!r.contains(2L))
  }

  test("byte spans: islands further than k bytes apart stay separate") {
    val pad0 = "0123456789abcdefghijklmnopqrstuv" // 32 unique-ish middle bytes
    val pad1 = "zyxwvutsrqponmlkjihgfedcba987654"
    val s1 = "AAAAAAAAAAAAAAAAAAAA" // 20 bytes
    val s2 = "BBBBBBBBBBBBBBBBBBBB"
    val fx = Seq(
      (0L, s"$s1$pad0$s2"),
      (1L, s"$s1$pad1$s2")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedByteSpans(fx, k = 20).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2))).toSet
    assert(r == Set((0L, 0, 19), (1L, 0, 19), (0L, 52, 71), (1L, 52, 71)))
  }

  test("byte-span removal: interval complement preserves byte accounting") {
    val shared = "this exact sentence appears in both documents"
    val fx = Seq(
      (0L, s"prefix0 $shared suffix0"),
      (1L, s"prefix1! $shared suffix1"),
      (2L, "nothing duplicated in this one"),
      (3L, shared), // fully covered → empty
      (4L, shared)
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicatedByteSpans(fx, k = 20).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r.size == 5)
    assert(r(2L) == (("nothing duplicated in this one", 0)))
    // the common region is " <shared> suffix" (53 bytes — the space before
    // "this" and the shared " suffix" both duplicate); only the prefix and
    // the final digit survive
    assert(r(0L) == (("prefix00", 53)))
    assert(r(1L) == (("prefix1!1", 53)))
    assert(r(3L) == (("", 45)) && r(4L) == (("", 45)))
    // byte accounting: kept + removed = original length
    val texts = Map(0L -> s"prefix0 $shared suffix0", 1L -> s"prefix1! $shared suffix1",
      2L -> "nothing duplicated in this one", 3L -> shared, 4L -> shared)
    texts.foreach { case (id, t) =>
      assert(r(id)._1.length + r(id)._2 == t.length, s"doc $id byte accounting")
    }
  }

  test("byte-span removal slices BYTES, not chars, on non-ASCII documents") {
    // 'é' = 2 UTF-8 bytes: every byte offset after the accents shifts off
    // its char offset, so char-based slicing would corrupt the rebuild.
    // The shared sentence is ASCII and long past k=20; the distinct
    // accented prefixes survive intact.
    val shared = "this exact sentence appears in both documents"
    val fx = Seq(
      (0L, s"café résumé $shared"),
      (1L, s"naïve señor! $shared"),
      (2L, "no duplication héré at all")
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicatedByteSpans(fx, k = 20).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r(2L) == (("no duplication héré at all", 0)))
    // the shared region includes the leading space: " <shared>" = 46 bytes
    assert(r(0L) == (("café résumé", 46)))
    assert(r(1L) == (("naïve señor!", 46)))
    // BYTE accounting (not char): kept bytes + removed = original bytes
    val texts = Map(0L -> s"café résumé $shared", 1L -> s"naïve señor! $shared")
    texts.foreach { case (id, t) =>
      val keptBytes = r(id)._1.getBytes("UTF-8").length
      assert(keptBytes + r(id)._2 == t.getBytes("UTF-8").length, s"doc $id byte accounting")
    }
  }

  test("bigram LM score: hand-computed log-probs, order sensitivity, short docs") {
    // corpus: "a b" ×2, "b a" ×1, "solo" ×1 → V = 3 (vocab counts every
    // distinct unigram, including the bigram-less doc's word)
    // bigram counts: (a,b)=2, (b,a)=1; prefix counts: a·=2, b·=1
    val fx = Seq((0L, "a b"), (1L, "a b"), (2L, "b a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(fx).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    // P(b|a) = (2+1)/(2+3) = 0.6 ; P(a|b) = (1+1)/(1+3) = 0.5
    val pba = BigDecimal(math.log(0.6)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val pab = BigDecimal(math.log(0.5)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(r(0L) == ((1L, pba.toDouble)) && r(1L) == r(0L))
    assert(r(2L) == ((1L, pab.toDouble)))
    // the REVERSED bigram scores differently — order sensitivity the
    // unigram model cannot express (same words, same frequencies)
    assert(r(0L)._2 != r(2L)._2)
    // a one-word doc has no bigrams and is absent (oracle convention)
    assert(!r.contains(3L))
  }

  test("line dedup: cross-doc lines drop, unique lines and within-doc repeats stay") {
    val fx = Seq(
      (0L, "alpha unique\nshared boilerplate\nrepeat me\nrepeat me"),
      (1L, "beta unique\nshared boilerplate"),
      (2L, "shared boilerplate"),
      (3L, "gamma all alone")
    ).toDF("doc_id", "text")
    val r = Dedup.removeCommonLines(fx).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r.size == 4)
    // 'repeat me' twice in ONE doc: df = 1 → both occurrences survive
    assert(r(0L) == (("alpha unique\nrepeat me\nrepeat me", 1)))
    assert(r(1L) == (("beta unique", 1)))
    // fully-boilerplate doc → empty string, row kept
    assert(r(2L) == (("", 1)))
    // untouched doc verbatim
    assert(r(3L) == (("gamma all alone", 0)))
  }

  test("line dedup: NULL text reads as the empty doc — rows stay stable") {
    val fx = Seq((0L, null: String), (1L, "real\ncontent"), (2L, null: String))
      .toDF("doc_id", "text")
    val r = Dedup.removeCommonLines(fx).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r.size == 3)
    // the two null docs each contribute one '' line → df=2 → removed;
    // neither row drops and neither count goes null
    assert(r(0L) == (("", 1)) && r(2L) == (("", 1)))
    assert(r(1L) == (("real\ncontent", 0)))
  }

  test("line dedup: minDocFrequency validates and raises the bar") {
    val fx = Seq(
      (0L, "x\ncommon"), (1L, "y\ncommon"), (2L, "z\ncommon")).toDF("doc_id", "text")
    val r3 = Dedup.removeCommonLines(fx, minDocFrequency = 3).collect()
      .map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(r3 == Map(0L -> 1, 1L -> 1, 2L -> 1))
    val r4 = Dedup.removeCommonLines(fx, minDocFrequency = 4).collect()
      .map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(r4 == Map(0L -> 0, 1L -> 0, 2L -> 0), "df below the bar keeps everything")
    intercept[IllegalArgumentException] {
      Dedup.removeCommonLines(fx, minDocFrequency = 1)
    }
  }

  test("incremental exact dedup: first-id-wins in batch, corpus copies dropped") {
    val corpus = Seq((0L, "seen before"), (1L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "brand new"),
      (101L, "seen before"),  // exact corpus copy → dropped
      (102L, "brand new"),    // in-batch dup of 100 → dropped
      (103L, "another new")
    ).toDF("doc_id", "text")
    val r = Dedup.dedupAgainstCorpus(batch, corpus).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(100L -> "brand new", 103L -> "another new"))
  }

  test("bloom-gated dedup == plain incremental dedup, at any fpp, null-safe") {
    val corpus = Seq((0L, "seen before"), (1L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "brand new"),
      (101L, "seen before"),
      (102L, "brand new"),
      (103L, "another new"),
      (104L, null.asInstanceOf[String]) // null hash → verify path → kept
    ).toDF("doc_id", "text")
    val expected = Dedup.dedupAgainstCorpus(batch, corpus).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(expected.keySet == Set(100L, 103L, 104L))
    // tight filter (few false positives: most new rows skip the join) and a
    // deliberately saturated one (64 bits → heavy false positives: most rows
    // take the verify join) must both land on the exact result
    for ((items, fpp) <- Seq((1000L, 0.001), (1L, 0.9))) {
      val r = Dedup.bloomGatedDedupAgainstCorpus(batch, corpus,
          expectedItems = items, fpp = fpp)
        .collect().map(x => x.getLong(0) -> Option(x.getString(1))).toMap
      assert(r == expected, s"mismatch at items=$items fpp=$fpp")
    }
    // empty corpus: the filter is null → everything verifies → all in-batch
    // firsts keep (101 is no longer a corpus copy)
    val empty = corpus.filter(col("doc_id") < 0)
    assert(Dedup.bloomGatedDedupAgainstCorpus(batch, empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 101L, 103L, 104L))
  }

  test("incremental near-dup dedup: near-copies of corpus docs drop, novel docs survive") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "some unrelated corpus document with several words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),   // j=1.0 → drop
      (101L, "the quick brown fox jumps over the lazy cat"),   // j=6/8 → drop at 0.5
      (102L, "entirely different text sharing no grams whatsoever here")
    ).toDF("doc_id", "text")
    val r = Dedup.nearDupAgainstCorpus(batch, corpus, n = 3, threshold = 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(r.toSeq == Seq(102L))
  }

  test("cluster-balanced sample: anchor assignment, per-cluster cap, deterministic ranks") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // anchors = vec 0 (+x) and vec 1 (+y); the rest lean clearly one way
    val fx = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.8f, 0.2f)), (5L, Array(0.2f, 0.8f)),
      (6L, Array(0.7f, 0.3f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.clusterBalancedSample(fx, nClusters = 2, perCluster = 2).collect()
      .map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    // cluster 0: anchor itself (cos 1.0) then vec 2; cluster 1: anchor 1 then vec 3
    assert(r == Map((0L, 1) -> 0L, (0L, 2) -> 2L, (1L, 1) -> 1L, (1L, 2) -> 3L))
  }

  test("semantic dedup: within-cluster near-identicals drop, cross-cluster and distinct survive") {
    // anchors = vec 0 (+x) and vec 1 (+y); 2 is a near-copy of 0, 4 an exact
    // copy of 1; 3 aligns with cluster 0 but sits below the 0.99 threshold
    val fx = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(1f, 0.001f, 0f)), (3L, Array(0.8f, 0.2f, 0f)),
      (4L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(fx, nClusters = 2, threshold = 0.99).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // cos(0,2) ≈ 0.9999995 → 2 drops; cos(1,4) = 1 → 4 drops;
    // cos(0,3) = 0.8/√0.68 ≈ 0.9701 < 0.99 → 3 survives in cluster 0
    assert(r == Map(0L -> 0L, 1L -> 1L, 3L -> 0L))
  }

  test("bm25: hand-computed Okapi scores, per-term ranking") {
    val corpus = Seq(
      (0L, "a b a"), (1L, "a c"), (2L, "b b b c")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bm25Scores(corpus, Seq("a", "b"), topK = 10).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> (x.getDouble(2), x.getInt(3))).toMap
    // N=3, dl = (3,2,4), avgdl = 3.0
    def score(tf: Long, df: Long, dl: Long): Double = {
      val idf = math.log((3 - df + 0.5) / (df + 0.5) + 1.0)
      val s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(r(("a", 0L)) == ((score(2, 2, 3), 1))) // tf 2 beats tf 1
    assert(r(("a", 1L)) == ((score(1, 2, 2), 2)))
    assert(r(("b", 2L)) == ((score(3, 2, 4), 1)))
    assert(r(("b", 0L)) == ((score(1, 2, 3), 2)))
    assert(r.size == 4) // doc 1 has no 'b', doc 2 no 'a'
  }

  test("normalized dedup collapses case/punctuation/whitespace variants") {
    val fx = Seq(
      (0L, "Hello, World!"), (1L, "hello  world"), (2L, "HELLO WORLD"),
      (3L, "unique text")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.normalizedDedup(fx).collect()
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r == Map(0L -> 3L, 3L -> 1L)) // 0,1,2 collapse onto keeper 0
  }

  test("top ngrams: exact corpus counts, lexicographic tie-break, short docs skipped") {
    val fx = Seq((0L, "a b a b"), (1L, "b a b"), (2L, "x")).toDF("doc_id", "text")
    val r = TextAnalysis.topNgrams(fx, n = 2, k = 5).collect()
      .map(x => (x.getInt(2), x.getString(0), x.getLong(1)))
    // "a b": 2 (doc0) + 1 (doc1) = 3; "b a": 1 + 1 = 2; doc2 too short
    assert(r.toSeq == Seq((1, "a b", 3L), (2, "b a", 2L)))
  }

  private lazy val knnFx = Seq(
    (0L, Array(1f, 0f)), (1L, Array(0.95f, 0.31f)), (2L, Array(0.7f, 0.71f)),
    (3L, Array(0.31f, 0.95f)), (4L, Array(0f, 1f)), (5L, Array(0f, 1f))
  ).toDF("vec_id", "embedding")

  test("knn graph at full probe equals brute force for every query") {
    val g = Similarity.knnGraph(knnFx, k = 2, nCells = 3, nProbe = 3).collect()
      .map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    val bf = Similarity.bruteForceTopK(knnFx, Seq(0L, 1L, 2L, 3L, 4L, 5L), k = 2)
      .collect().map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    assert(g == bf)
    assert(g.keySet.map(_._1) == Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("knn graph at nProbe=1 still pairs exact duplicates (matched tie-breaks)") {
    // 4 and 5 are identical: same cell by construction, so even a single
    // probe must surface the twin as the nearest neighbor (cos 1.0)
    val g = Similarity.knnGraph(knnFx, k = 1, nCells = 3, nProbe = 1).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(g(4L) == ((5L, 1.0)))
    assert(g(5L) == ((4L, 1.0)))
  }

  test("fuzzy pairs: suffix edits within distance pair up; prefix edits are missed by contract") {
    val fx = Seq(
      (0L, "aaaa bbbb cccc dddd"),
      (1L, "aaaa bbbb cccc dddd xyz"), // +4 suffix chars vs 0
      (2L, "aaaa bbbb cccc eeee"), // 4 substitutions vs 0; 8 vs 1
      (3L, "zzzz different prefix"),
      (4L, "Xaaa bbbb cccc dddd") // distance 1 from 0 but the edit breaks the block
    ).toDF("doc_id", "text")
    val r = Dedup.fuzzyDupPairs(fx, maxDist = 8, blockChars = 12).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
    assert(r == Map((0L, 1L) -> 4, (0L, 2L) -> 4, (1L, 2L) -> 8))
  }

  test("salted join equals the plain inner join on a skewed key") {
    val fact = Seq.tabulate(40)(i => (if (i < 30) 1L else i.toLong, i.toLong))
      .toDF("k", "payload") // 75% of rows on key 1
    val dim = Seq((1L, "hot"), (31L, "cold"), (99L, "unmatched")).toDF("k", "name")
    val salted = SkewJoin.saltedJoin(fact, dim, "k", saltBuckets = 4, saltSource = "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val plain = fact.join(dim, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq && salted.length == 31)
  }

  test("funnel: ordered stage semantics — out-of-order events don't count") {
    val ev = Seq(
      // user 1: full funnel in order
      (1L, 1L, "view", 10L), (2L, 1L, "click", 20L), (3L, 1L, "purchase", 30L),
      // user 2: purchase BEFORE the click — stage stops at 2 even though
      // all three types occur (no second purchase after the click)
      (4L, 2L, "view", 10L), (5L, 2L, "purchase", 20L), (6L, 2L, "click", 30L),
      // user 3: click/purchase without any view — stage 0
      (7L, 3L, "click", 10L), (8L, 3L, "purchase", 20L),
      // user 4: view only
      (9L, 4L, "view", 10L)
    ).toDF("event_id", "user_id", "event_type", "us")
    val r = operators.Funnel.funnel(ev, Seq("view", "click", "purchase"), timeCol = "us")
      .collect().map(x => x.getLong(0) ->
        ((if (x.isNullAt(1)) -1L else x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3), x.getInt(4)))).toMap
    assert(r(1L) == ((10L, 20L, 30L, 3)))
    assert(r(2L) == ((10L, 30L, -1L, 2)))
    assert(r(3L) == ((-1L, -1L, -1L, 0)))
    assert(r(4L) == ((10L, -1L, -1L, 1)))
  }

  test("inverted-index BM25 probe == direct BM25; postings partitions prune") {
    val fx = Seq(
      (0L, "spark merge spark window end"), (1L, "vector vector scan row"),
      (2L, "spark scan scan the end"), (3L, "merge row window the spark")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_inv_idx").toString
    TextAnalysis.writeInvertedIndex(fx, dir, buckets = 8)
    val terms = Seq("spark", "scan", "absentterm")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val probe = TextAnalysis.bm25FromIndex(spark, dir, terms)
    // bit-identical to the direct path (shared ranking core + exact
    // manifest counters); the absent term yields no rows on either path
    assert(key(probe) == key(TextAnalysis.bm25Scores(fx, terms)))
    assert(key(probe).nonEmpty)
    // the probe prunes posting buckets at planning time
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p#"),
      plan.linesIterator.filter(_.contains("Filters")).mkString("\n"))
  }

  test("script stats: block counts, priority tie-break, none for script-free text") {
    val fx = Seq(
      (0L, "plain latin words"),
      (1L, "ab \u0430\u0431"),            // 2 latin vs 2 cyrillic: tie → latin (priority)
      (2L, "\u4f60\u597d\u4e16\u754c x"), // CJK dominates one latin char
      (3L, "12345 !!"),                   // no script chars at all
      (4L, "\u0645\u0631\u062d\u0628\u0627"),          // arabic only
      (5L, "\uc548\ub155 ok \uc548\ub155")             // hangul 4 vs latin 2
    ).toDF("doc_id", "text")
    val r = TextAnalysis.scriptStats(fx).collect()
      .map(x => x.getLong(0) -> x.getAs[String]("main_script")).toMap
    assert(r == Map(0L -> "latin", 1L -> "latin", 2L -> "cjk",
      3L -> "none", 4L -> "arabic", 5L -> "hangul"))
    val counts = TextAnalysis.scriptStats(fx).filter(col("doc_id") === 2L).head()
    assert(counts.getAs[Long]("n_cjk") == 4L && counts.getAs[Long]("n_latin") == 1L)
  }

  test("inverted-index append == one-shot rebuild, re-append idempotent") {
    val fx = Seq(
      (0L, "spark merge spark window end"), (1L, "vector vector scan row"),
      (2L, "spark scan scan the end"), (3L, "merge row window the spark")
    ).toDF("doc_id", "text")
    val oneShot = java.nio.file.Files.createTempDirectory("graft_inv_one").toString
    val appended = java.nio.file.Files.createTempDirectory("graft_inv_app").toString
    TextAnalysis.writeInvertedIndex(fx, oneShot, buckets = 8)
    TextAnalysis.writeInvertedIndex(fx.filter(col("doc_id") < 2), appended, buckets = 8)
    TextAnalysis.appendToInvertedIndex(fx.filter(col("doc_id") >= 2), appended)
    TextAnalysis.appendToInvertedIndex(fx.filter(col("doc_id") >= 2), appended) // no-op
    def postings(d: String) = spark.read.parquet(s"$d/postings").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("dl"), r.getAs[Long]("tf"), r.getAs[Int]("p"))).toSet
    def manifest(d: String) = spark.read.parquet(s"$d/manifest").collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"),
        r.getAs[Int]("buckets"))).toSeq
    assert(postings(appended) == postings(oneShot))
    assert(manifest(appended) == manifest(oneShot))
    val terms = Seq("spark", "scan")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(key(TextAnalysis.bm25FromIndex(spark, appended, terms)) ==
      key(TextAnalysis.bm25FromIndex(spark, oneShot, terms)))

    // COMPACTION: the append fragmented at least one bucket into two
    // files; compacting collapses every bucket to exactly ONE file with
    // rows, manifest, and probe results untouched
    def bucketFiles: Map[String, Int] = new java.io.File(s"$appended/postings")
      .listFiles().filter(_.getName.startsWith("p=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(bucketFiles.values.exists(_ > 1),
      s"append should have fragmented some bucket, got $bucketFiles")
    TextAnalysis.compactInvertedIndex(spark, appended)
    assert(bucketFiles.values.forall(_ == 1),
      s"expected one file per bucket after compaction, got $bucketFiles")
    assert(postings(appended) == postings(oneShot))
    assert(manifest(appended) == manifest(oneShot))
    assert(key(TextAnalysis.bm25FromIndex(spark, appended, terms)) ==
      key(TextAnalysis.bm25FromIndex(spark, oneShot, terms)))
  }

  test("inverted-index delete == rebuild without the deleted docs") {
    val fx = Seq(
      (0L, "spark merge spark window end"), (1L, "vector vector scan row"),
      (2L, "spark scan scan the end"), (3L, "merge row window the spark")
    ).toDF("doc_id", "text")
    val full = java.nio.file.Files.createTempDirectory("graft_inv_del").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_inv_wo").toString
    TextAnalysis.writeInvertedIndex(fx, full, buckets = 8)
    TextAnalysis.deleteFromInvertedIndex(spark, full,
      Seq(1L, 3L).toDF("doc_id"))
    TextAnalysis.writeInvertedIndex(fx.filter(col("doc_id") % 2 === 0),
      rebuilt, buckets = 8)
    def postings(d: String) = spark.read.parquet(s"$d/postings").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("dl"), r.getAs[Long]("tf"), r.getAs[Int]("p"))).toSet
    def manifest(d: String) = spark.read.parquet(s"$d/manifest").collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"),
        r.getAs[Int]("buckets"))).toSeq
    // rows gone AND counters decremented by exactly the deleted docs'
    // contribution — the probe's n_docs/avgdl/df all derive from them
    assert(postings(full) == postings(rebuilt))
    assert(manifest(full) == manifest(rebuilt))
    val terms = Seq("spark", "scan", "row")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(key(TextAnalysis.bm25FromIndex(spark, full, terms)) ==
      key(TextAnalysis.bm25FromIndex(spark, rebuilt, terms)))
    // deleting absent ids is a no-op (no manifest rewrite, no bucket touch)
    TextAnalysis.deleteFromInvertedIndex(spark, full, Seq(99L).toDF("doc_id"))
    assert(postings(full) == postings(rebuilt) && manifest(full) == manifest(rebuilt))
  }

  test("corpus diff: per-source status counts and exact word delta") {
    val a = Seq((0L, "one two", "s0"), (1L, "three", "s0"), (2L, "x y z", "s1"))
      .toDF("doc_id", "text", "source")
    val b = Seq(
      (0L, "one two", "s0"),          // unchanged
      (1L, "three four five", "s0"),  // changed, +2 words
      (3L, "new doc", "s1"))          // added (+2); doc 2 removed (-3)
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.corpusDiff(a, b).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    assert(r == Map(
      "s0" -> ((0L, 0L, 1L, 1L, 2L)),
      "s1" -> ((1L, 1L, 0L, 0L, -1L))))
  }

  test("badword filter: case/punct-proof counting, C4 any-hit vs fraction policy") {
    val fx = Seq(
      (0L, "clean words only here"),
      (1L, "one BAD!! word slips in"),           // case + punctuation can't hide it
      (2L, "bad bad bad bad soup"),              // 4 of 5 tokens listed
      (3L, "badly embedded notbad tokens"),      // substrings must NOT hit
      (4L, "")                                   // empty doc keeps
    ).toDF("doc_id", "text")
    // C4 policy: any hit drops
    val strict = TextAnalysis.badwordStats(fx, Seq("bad", "unused"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(strict == Map(0L -> (0L, true), 1L -> (1L, false),
      2L -> (4L, false), 3L -> (0L, true), 4L -> (0L, true)))
    // fraction policy at 25%: doc 1 is 1/5 = 20% → keeps; doc 2 is 80% → drops
    val soft = TextAnalysis.badwordStats(fx, Seq("bad"), maxFracMicro = 250000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(soft == Map(0L -> true, 1L -> true, 2L -> false, 3L -> true, 4L -> true))
  }

  test("readability: hand-computed FK and ARI, fragment and vowel-less edges") {
    val fx = Seq(
      // 7 words, 3 sentence runs, 8 vowel groups (over→2), 26 letters
      (0L, "The quick fox. It jumps high! Over?"),
      // fragment: no terminator → 1 sentence; 1 word, 1 syllable, 4 letters
      (1L, "word"),
      // vowel-less word still counts 1 syllable
      (2L, "zzz.")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.readability(fx).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert((r(0L).getAs[Long]("n_words"), r(0L).getAs[Long]("n_sentences"),
      r(0L).getAs[Long]("n_syllables"), r(0L).getAs[Long]("n_letters")) ==
      ((7L, 3L, 8L, 26L)))
    // unrounded: the exact same IEEE association the operator declares
    assert(r(0L).getAs[Double]("fk_grade") == 0.39 * 7 / 3 + 11.8 * 8 / 7 - 15.59)
    assert(r(0L).getAs[Double]("ari") == 4.71 * 26 / 7 + 0.5 * 7 / 3 - 21.43)
    assert(r(1L).getAs[Double]("fk_grade") == 0.39 * 1 / 1 + 11.8 * 1 / 1 - 15.59)
    assert((r(2L).getAs[Long]("n_syllables"), r(2L).getAs[Long]("n_letters")) ==
      ((1L, 3L)))
  }

  test("exactBest keeps the highest-priority copy; ties take the smallest id") {
    val docs = Seq(
      (0L, "same text", 10L), (1L, "same text", 90L), (2L, "same text", 90L),
      (3L, "other", 5L)).toDF("doc_id", "text", "p")
    val r = Dedup.exactBest(docs, "p").collect()
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r == Map(1L -> 3L, 3L -> 1L)) // 90-tie → id 1, not 2; never min-id 0
  }

  test("incremental materialize: compute sees ONLY the delta; result ≡ full recompute") {
    import org.apache.spark.sql.DataFrame
    val oldDocs = Seq((0L, "alpha beta."), (1L, "gamma delta"), (2L, "dropped doc"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (0L, "alpha beta."),      // unchanged → carried forward
      (1L, "gamma delta REV"),  // changed → recomputed
      (3L, "brand new text"))   // added → computed; doc 2 removed
      .toDF("doc_id", "text")
    var seen: Seq[Long] = null
    val compute = (df: DataFrame) => {
      seen = df.collect().map(_.getAs[Long]("doc_id")).toSeq.sorted
      TextAnalysis.readability(df)
    }
    val got = graft.operators.Incremental.materialize(
      oldDocs, TextAnalysis.readability(oldDocs), newDocs, compute)
    val full = TextAnalysis.readability(newDocs)
    assert(got.except(full).isEmpty && full.except(got).isEmpty)
    assert(seen == Seq(1L, 3L)) // the unchanged doc never re-entered compute
  }

  test("events.ts contract: epoch-nanos BIGINT whatever the file's physical type") {
    // generations of the driver testdata have shipped ts as
    // TIMESTAMP(NANOS) and TIMESTAMP(MICROS,ntz); every downstream query
    // (sessionize, as-of, funnel, interval join) assumes long nanos —
    // pin the reader's normalization so a regenerated file can't silently
    // flip the type again
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val ev = graft.sources.Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val r = ev.selectExpr("min(ts)", "max(ts)").collect().head
    // plausibility: nanos since epoch for any date between 2000 and 2100
    assert(r.getLong(0) > 946684800L * 1000000000L &&
      r.getLong(1) < 4102444800L * 1000000000L)
  }

  test("shard manifest: partition-order-proof checksum, exact totals, no dup cancel") {
    val docs = Seq(
      (0L, "one two three"), (1L, "four five"), (2L, "six"),
      (3L, "one two three"), // same TEXT as doc 0 — distinct (id,text) term
      (4L, "seven eight nine ten"), (5L, "." )).toDF("doc_id", "text")
    val m1 = Sampling.shardManifest(docs, shards = 2, seed = "t")
    val m2 = Sampling.shardManifest(docs.repartition(5), shards = 2, seed = "t")
    assert(m1.except(m2).isEmpty && m2.except(m1).isEmpty)
    val rows = m1.collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 6L)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == 14L)
    // flipping ONE text flips that shard's checksum and leaves the other
    val tweaked = Sampling.shardManifest(
      docs.withColumn("text",
        when(col("doc_id") === 2L, lit("SIX")).otherwise(col("text"))),
      shards = 2, seed = "t").collect()
      .map(r => r.getAs[Int]("shard") -> r.getAs[Long]("checksum")).toMap
    val base = rows.map(r => r.getAs[Int]("shard") -> r.getAs[Long]("checksum")).toMap
    assert(tweaked.count { case (s, c) => base(s) != c } == 1)
  }

  private def cdc(rows: (Long, String)*): Map[Long, Seq[(Int, Long, String)]] =
    Dedup.cdcChunks(rows.toDF("doc_id", "text"), divisor = 4)
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getString(3))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1).toSeq }

  test("cdcChunks: word totals, duplicate docs share every chunk, empty drops") {
    val text = (1 to 40).map(i => s"w$i word$i tok$i").mkString(" ")
    val out = cdc(0L -> text, 1L -> text, 2L -> "", 3L -> (null: String),
      4L -> "lone")
    assert(!out.contains(2L) && !out.contains(3L)) // empty/null emit nothing
    assert(out(4L) == Seq((0, 1L, out(4L).head._3))) // one 1-word chunk
    // chunk word counts sum to the doc's word count
    assert(out(0L).map(_._2).sum == 120L)
    // identical text => identical chunk sequence (hashes and sizes)
    assert(out(0L) == out(1L))
  }

  test("cdcChunks: appending a suffix leaves all completed chunks intact") {
    val text = (1 to 60).map(i => s"item$i thing$i").mkString(" ")
    val a = cdc(0L -> text)(0L)
    val b = cdc(0L -> (text + " " + (1 to 10).map(i => s"extra$i").mkString(" ")))(0L)
    assert(a.size >= 3, s"fixture should chunk: got ${a.size}") // divisor 4 on 120 words
    // every chunk of the original except (possibly) the trailing partial one
    // reappears verbatim at the same index — the CDC stability property that
    // fixed-size chunking lacks
    assert(b.take(a.size - 1) == a.take(a.size - 1))
  }

  test("cdcChunks: double-space empty words join like the oracle's string_agg") {
    val out = cdc(0L -> "a  b")(0L) // words: [a, '', b]
    assert(out.map(_._2).sum == 3L)
  }

  test("lineRepetitionSignals: hand-counted runs, duplicate fractions, empty doc") {
    val fx = Seq(
      (0L, "a\nb\nb\ncc\ncc\ncc"),  // runs 1/2/3: dup occ 5 of 6, dup chars 2+6=8 of 9
      (1L, "x\ny\nz"),              // no duplicates
      (2L, "")                      // one empty line, zero chars
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineRepetitionSignals(fx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(0L) == ((6L, 3L, 833333L, 888888L)))
    assert(got(1L) == ((3L, 3L, 0L, 0L)))
    assert(got(2L) == ((1L, 1L, 0L, 0L)))
  }

  test("bm25QueryTopK: qtf multiplies, OOV-only queries vanish, ranks deterministic") {
    val docs = Seq(
      (0L, "alpha beta beta"),
      (1L, "alpha gamma"),
      (2L, "delta delta delta")
    ).toDF("doc_id", "text")
    val qs = Seq(
      (100L, "alpha"),          // single term
      (101L, "alpha alpha"),    // same term twice → qtf 2
      (102L, "zzz qqq")         // nothing in corpus
    ).toDF("query_id", "text")
    val got = TextAnalysis.bm25QueryTopK(docs, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3)))).toMap
    // qtf multiplier: q101's scores are exactly 2x q100's, ranks equal
    for (d <- Seq(0L, 1L)) {
      assert(got((101L, d))._1 == 2L * got((100L, d))._1)
      assert(got((101L, d))._2 == got((100L, d))._2)
    }
    assert(!got.keySet.exists(_._1 == 102L)) // OOV-only query → absent
    assert(!got.contains((100L, 2L)))        // doc without the term → absent
    // both alpha docs rank; tf=1 each, shorter doc wins on length norm
    assert(got((100L, 1L))._2 == 1 && got((100L, 0L))._2 == 2)
  }

  test("bm25QueryTopK: a single-term query ranks exactly like the verified per-term bm25Scores") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val term = "spark"
    val perTerm = TextAnalysis.bm25Scores(docs, Seq(term), topK = 10).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Double]("score"), r.getAs[Int]("rnk"))))
      .toMap
    val q = Seq((0L, term)).toDF("query_id", "text")
    val got = TextAnalysis.bm25QueryTopK(docs, q, topK = 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score_micro"), r.getAs[Int]("rank")))).toMap
    assert(got.keySet == perTerm.keySet)
    got.foreach { case (d, (microScore, rank)) =>
      assert(rank == perTerm(d)._2, s"rank diverged for doc $d")
      // the query score is the per-term round-6 score integerized
      assert(microScore == math.round(perTerm(d)._1 * 1e6), s"score diverged for doc $d")
    }
  }

  test("dedupeLinesWithinDoc: first occurrence survives in order, repeats drop") {
    val fx = Seq(
      (0L, "a\nb\na\nc\nb\na"), // keeps a,b,c in first-seen order
      (1L, "x"),                // nothing to remove
      (2L, "\n\n")              // three empty lines → one empty line kept
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupeLinesWithinDoc(fx).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got(0L) == (("a\nb\nc", 3)))
    assert(got(1L) == (("x", 0)))
    assert(got(2L) == (("", 2)))
  }

  test("extractMp4Meta: box walk recovers brand/duration/tracks/codecs, corrupt drops") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val av = Multimodal.testMp4(timescale = 600, durationUnits = 900,
      withAudio = true, v1 = false)
    val v1only = Multimodal.testMp4(timescale = 1000, durationUnits = 2500,
      withAudio = false, v1 = true)
    val records = spark.createDataset(Seq(
      MediaRecord(1L, "video/mp4", av),
      MediaRecord(2L, "video/mp4", v1only),
      MediaRecord(3L, "video/mp4", av.take(20)),      // cut mid-moov → dropped
      MediaRecord(4L, "video/mp4", "not a container".getBytes("UTF-8"))
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val got = Multimodal.extractMp4Meta(records).collect()
      .map(m => m.doc_id -> m).toMap
    assert(got.keySet == Set(1L, 2L))
    val a = got(1L)
    // 900 units at timescale 600 = 1500 ms; two tracks, codecs sorted
    assert(a.major_brand == "isom" && a.timescale == 600L && a.duration_ms == 1500L &&
      a.n_tracks == 2 && a.n_video == 1 && a.n_audio == 1 && a.codecs == "avc1,mp4a")
    val b = got(2L)
    // the 64-bit mvhd path: 2500 units at 1000 = 2500 ms, video only
    assert(b.duration_ms == 2500L && b.n_tracks == 1 && b.n_video == 1 &&
      b.n_audio == 0 && b.codecs == "avc1")
  }

  test("extractAviMeta + videoKeyframeDHash: RIFF walk, JDK JPEG frame decode, corrupt drops") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val a = Multimodal.testMjpegAvi(Seq(3L, 53L, 3L, 53L), junk = 1L)
    val b = Multimodal.testMjpegAvi(Seq(3L, 53L, 3L, 53L), junk = 2L) // re-muxed copy
    val c = Multimodal.testMjpegAvi(Seq(4L, 54L, 4L), junk = 3L)      // different footage
    assert(!java.util.Arrays.equals(a, b)) // byte-level dedup would find nothing
    val records = spark.createDataset(Seq(
      MediaRecord(1L, "video/avi", a),
      MediaRecord(2L, "video/avi", b),
      MediaRecord(3L, "video/avi", c),
      MediaRecord(4L, "video/avi", a.take(40)),                        // truncated → dropped
      MediaRecord(5L, "video/avi", "not a riff file".getBytes("UTF-8"))
    ))(org.apache.spark.sql.Encoders.product[MediaRecord])
    val meta = Multimodal.extractAviMeta(records).collect().map(m => m.doc_id -> m).toMap
    assert(meta.keySet == Set(1L, 2L, 3L))
    assert(meta(1L).width == 36L && meta(1L).height == 32L &&
      meta(1L).n_frames == 4L && meta(1L).n_frames_header == 4L &&
      meta(1L).us_per_frame == 100000L && meta(1L).n_streams == 1 &&
      meta(1L).handler == "MJPG")
    assert(meta(3L).n_frames == 3L)
    // keyframes (stride 2): idx 0 and 2; equal params decode to equal
    // pixels, so the dHashes agree across the re-muxed pair and differ
    // from the different-footage video
    val kf = Multimodal.videoKeyframeDHash(records, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(kf.keySet == Set((1L, 0), (1L, 2), (2L, 0), (2L, 2), (3L, 0), (3L, 2)))
    assert(kf((1L, 0)) == kf((2L, 0)) && kf((1L, 2)) == kf((2L, 2)))
    assert(kf((1L, 0)) != kf((3L, 0)))
    val pairs = Multimodal.videoDupPairs(records, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 2)))
  }

  test("packFirstFitDecreasing: hand-traced FFD per shard, oversize docs get closed bins") {
    def txt(n: Int) = Seq.fill(n)("w").mkString(" ")
    val fx = Seq(
      (0L, txt(100)), (8L, txt(200)), (16L, txt(180)), (24L, txt(60)), (32L, txt(40)),
      (1L, txt(300)), (9L, txt(256)) // shard 1: oversize + exact-fit
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packFirstFitDecreasing(fx, maxTokens = 256, shards = 8)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    // shard 0 trace, sorted (tokens desc, id): 200→b1(rem 56), 180→b2(76),
    // 100→b3(156), 60→b2(16), 40→b1(16)
    assert(got(8L) == ((0, 200, 1)))
    assert(got(16L) == ((0, 180, 2)))
    assert(got(0L) == ((0, 100, 3)))
    assert(got(24L) == ((0, 60, 2)))
    assert(got(32L) == ((0, 40, 1)))
    // 300 tokens >= cap: own bin, immediately closed; 256 exact-fits bin 2
    assert(got(1L) == ((1, 300, 1)))
    assert(got(9L) == ((1, 256, 2)))
  }

  test("rankingMetrics: perfect / partial / zero recall, first-hit MRR, one-sided queries") {
    val approx = Seq(
      (1L, 10L, 1), (1L, 11L, 2),              // q1: both relevant, first at rank 1
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3), // q2: only rank-3 is relevant
      (3L, 30L, 1),                             // q3: nothing relevant retrieved
      (5L, 50L, 1)                              // q5: no exact reference at all
    ).toDF("query_id", "doc_id", "rank")
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2),
      (2L, 22L, 1), (2L, 23L, 2),
      (3L, 31L, 1),
      (4L, 40L, 1)                              // q4: reference but no approx rows
    ).toDF("query_id", "doc_id", "rank")
    val got = Similarity.rankingMetrics(approx, exact).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) == ((2L, 2L, 2L, 1000000L, 1000000L)))
    assert(got(2L) == ((2L, 3L, 1L, 500000L, 333333L))) // 1/2 recall, 1/rank3
    assert(got(3L) == ((1L, 1L, 0L, 0L, 0L)))
    assert(got(4L) == ((1L, 0L, 0L, 0L, 0L)))           // never retrieved
    assert(got(5L) == ((0L, 1L, 0L, 0L, 0L)))           // nothing was relevant
  }

  test("rrfFuse: hand-computed fusion, one-sided docs contribute one term") {
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Similarity.rrfFuse(lex, dense).collect().map(r =>
      (r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getLong(4), r.getInt(5)))
    // contributions: rank1 = 10^6//61 = 16393, rank2 = //62 = 16129, rank3 = //63 = 15873
    assert(got.toSeq.sortBy(_._5) == Seq(
      (11L, Some(2), Some(1), 32522L, 1),  // both sides: 16129 + 16393
      (10L, Some(1), None, 16393L, 2),
      (13L, None, Some(2), 16129L, 3),
      (12L, Some(3), None, 15873L, 4)))
  }

  test("compressionRatio: exact deflate byte counts and verdicts on hand-built strings") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = (0 until 32).map { k =>
      md.digest(s"x:$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString // 1024 incompressible-ish hex chars
    val fx = Seq(
      (0L, Option("spam " * 200)),  // 1000 bytes of pure template
      (1L, Option(hex)),
      (2L, Option("")),
      (3L, Option.empty[String])    // null → coalesced to empty
    ).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(fx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    // deflate_bytes pinned against JDK zlib level-6 nowrap (deterministic;
    // computed once out-of-band and frozen as a regression pin)
    assert(got(0L) == ((1000L, 15L, 15000L, "repetitive")))
    assert(got(1L) == ((1024L, 570L, 556640L, "random")))
    // empty input still emits deflate's 2-byte final empty stored block,
    // but the 'empty' verdict fires before any threshold
    assert(got(2L) == ((0L, 2L, 2000000L, "empty")))
    assert(got(3L) == ((0L, 2L, 2000000L, "empty")))
  }

  test("compressionRatio: rejects inverted thresholds") {
    val fx = Seq((0L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.compressionRatio(fx, repetitiveMaxE6 = 500000L, randomMinE6 = 400000L)
    }
  }

  test("zipfFit: single-distinct-word source yields null slope, not NaN") {
    // one ranked word ⇒ ln 1 = 0 everywhere ⇒ denominator exactly 0.0; the
    // guard must null it (DuckDB's division-by-zero default) instead of NaN
    val fx = Seq(
      (0L, "mono", "same same same same"),
      (1L, "duo", "alpha alpha alpha beta")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.zipfFit(fx).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(got("mono")._1 == 1L && got("mono")._2.isEmpty)
    val duo = got("duo")
    assert(duo._1 == 2L)
    // two points (ln1, ln3) and (ln2, ln1): slope = (ln1-ln3)/(ln2-ln1) = -ln3/ln2
    assert(duo._2.contains(BigDecimal(-math.log(3) / math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }
}
