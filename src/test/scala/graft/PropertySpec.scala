package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests over randomly generated partitions (SURVEY §5): the
  * rank-family algebra, lead/lag inversion, and aggregate/percentile
  * invariants that must hold for ANY input, not just the fixtures.
  * Raw ScalaCheck generators with fixed seeds (the scalatest bridge isn't in
  * the offline dependency cache) — deterministic across runs. */
class PropertySpec extends AnyFunSuite {

  private def forAll[T](g: Gen[T])(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    for (i <- 0 until 10)
      body(g.apply(params, org.scalacheck.rng.Seed(i.toLong))
        .getOrElse(fail(s"generator exhausted at seed $i")))
  }
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(String, Int, Double)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-50, 50)
      x <- Gen.choose(-100, 100)
    } yield (k, v, x.toDouble))
  } yield rows.zipWithIndex.map { case ((k, v, x), i) => (k, v * 1000 + i, x) } // unique order key

  private def runAggs(rows: List[(String, Int, Double)], aggs: Seq[AggregateSpec]) = {
    val df = rows.toDF("k", "ord", "x")
    WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")), aggregates = aggs))
      .collect()
  }

  test("rank/dense_rank/row_number algebra holds on any partition") {
    forAll(rowsGen) { rows =>
      val out = runAggs(rows, Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"),
        AggregateSpec("d", WindowFn.DenseRank, "ord"),
        AggregateSpec("n", WindowFn.RowNumber, "ord")))
      val byPart = out.groupBy(_.getString(0))
      for ((_, part) <- byPart) {
        val rs = part.map(r => (r.getInt(3), r.getInt(4), r.getInt(5)))
        // dense_rank <= rank <= row_number; row_number is a 1..n permutation
        assert(rs.forall { case (r, d, n) => d <= r && r <= n && d >= 1 })
        assert(rs.map(_._3).sorted.toSeq == (1 to part.length))
        // order key unique here → rank == row_number
        assert(rs.forall { case (r, _, n) => r == n })
      }
    }
  }

  test("accumulate's last running value equals the partition sum; lead/lag invert") {
    forAll(rowsGen) { rows =>
      val out = runAggs(rows, Seq(
        AggregateSpec("run", WindowFn.Accumulate, "x"),
        AggregateSpec("nxt", WindowFn.Lead, "x", Seq("1")),
        AggregateSpec("prv", WindowFn.Lag, "x", Seq("1"))))
      for ((_, part0) <- out.groupBy(_.getString(0))) {
        val part = part0.sortBy(_.getInt(1))
        val xs = part.map(_.getDouble(2))
        assert(part.last.getDouble(3) == xs.sum)
        // lead at i == x at i+1; lag at i+1 == x at i
        for (i <- part.indices.dropRight(1)) {
          assert(part(i).getDouble(4) == xs(i + 1))
          assert(part(i + 1).getDouble(5) == xs(i))
        }
        assert(part.last.isNullAt(4) && part.head.isNullAt(5))
      }
    }
  }

  test("percent_rank = (rank-1)/(n-1); cume_dist reaches exactly 1") {
    forAll(rowsGen) { rows =>
      val out = runAggs(rows, Seq(
        AggregateSpec("r", WindowFn.Rank, "ord"),
        AggregateSpec("pr", WindowFn.PercentRank, "ord"),
        AggregateSpec("cd", WindowFn.CumulativeDistribution, "x")))
      for ((_, part) <- out.groupBy(_.getString(0))) {
        val n = part.length
        for (row <- part) {
          val expected = if (n == 1) 0.0f else ((row.getInt(3) - 1).toDouble / (n - 1)).toFloat
          assert(row.getFloat(4) == expected)
        }
        assert(part.map(_.getDouble(5)).max == 1.0)
      }
    }
  }

  test("ROW-frame sliding sum equals a Scala sliding-window computation") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "ord", "x")
      val out = WindowEngine.run(df, WindowQuerySpec(Seq("k"), Seq(OrderSpec("ord")),
        Some(FrameSpec(FrameType.Row, -2L, 1L)),
        Seq(AggregateSpec("s", WindowFn.Accumulate, "x")))).collect()
      for ((_, part0) <- out.groupBy(_.getString(0))) {
        val part = part0.sortBy(_.getInt(1))
        val xs = part.map(_.getDouble(2))
        for (i <- part.indices) {
          val lo = math.max(0, i - 2); val hi = math.min(part.length - 1, i + 1)
          assert(part(i).getDouble(3) == xs.slice(lo, hi + 1).sum,
            s"frame [-2,1] at row $i of ${part.length}")
        }
      }
    }
  }

  test("discrete percentile bounds: p=0 gives min, p=1 gives max, monotone in p") {
    // running-frame semantics (reference UDAF over the ordered spec): every
    // row's value is the percentile of its ordered PREFIX — check the
    // invariants per prefix, which subsumes the whole-partition case on the
    // last row
    forAll(rowsGen) { rows =>
      val out = runAggs(rows, Seq(
        AggregateSpec("p0", WindowFn.DiscretePercentile, "x", Seq("0.0")),
        AggregateSpec("p5", WindowFn.DiscretePercentile, "x", Seq("0.5")),
        AggregateSpec("p1", WindowFn.DiscretePercentile, "x", Seq("1.0"))))
      for ((_, part) <- out.groupBy(_.getString(0))) {
        val prefix = scala.collection.mutable.ArrayBuffer.empty[Double]
        for (r <- part.sortBy(_.getInt(1))) {
          prefix += r.getDouble(2)
          val (p0, p5, p1) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
          assert(p0 == prefix.min && p1 == prefix.max)
          assert(p0 <= p5 && p5 <= p1)
          assert(prefix.contains(p5)) // discrete percentile is always an actual value
        }
      }
    }
  }

  test("quality rules match an independent Scala reference on random word soups") {
    // small vocab forces heavy repetition — the regime the sorted-hash
    // longest-run fold must count exactly (ties, runs at array ends,
    // single-word docs with no bigrams)
    val docsGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, 12)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 30)
        ws <- Gen.listOfN(len, Gen.oneOf("aa", "bb", "cc", "dd"))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAll(docsGen) { docs =>
      val df = docs.map { case (id, t) => (id, t, "en", "s") }
        .toDF("doc_id", "text", "lang", "source")
      val got = operators.TextAnalysis.qualityRules(df).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
      docs.foreach { case (id, text) =>
        val ws = text.split(" ").toSeq
        val bgs = ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        val expTop = if (bgs.isEmpty) 0.0
          else bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size
        val expDup = (ws.size - ws.distinct.size).toDouble / ws.size
        assert(got(id) == ((ws.size, expDup, expTop)), s"doc '$text'")
      }
    }
  }

  test("interval join equals the brute-force theta join on random event sets") {
    // clustered times (mod small range) force bucket-boundary and multi-match
    // cases; the bucket decomposition must reproduce the naive |Δt| <= d join
    // EXACTLY for any tolerance
    val evGen: Gen[(List[(Long, Long, Long)], Long)] = for {
      n <- Gen.choose(1, 40)
      tol <- Gen.oneOf(1L, 3L, 7L, 10L)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 3L)
        t <- Gen.choose(0L, 60L)
      } yield (k, t))
    } yield (rows.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }, tol)
    forAll(evGen) { case (rows, tol) =>
      val df = rows.toDF("id", "k", "t")
      val got = operators.AsOfJoin.interval(
        df, df.select($"id".as("oid"), $"k", $"t"),
        "k", "t", "k", "t", tol, Seq("oid"))
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      val exp = (for {
        (i1, k1, t1) <- rows; (i2, k2, t2) <- rows
        if k1 == k2 && math.abs(t1 - t2) <= tol
      } yield (i1, i2)).toSet
      assert(got == exp, s"tolerance $tol")
    }
  }

  test("span removal conserves tokens for any corpus and both modes") {
    // kept tokens + removed count == total tokens, removed tokens are exactly
    // the duplicated-span positions, and every doc_id survives
    val docsGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, 10)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 25)
        ws <- Gen.listOfN(len, Gen.oneOf("p", "q", "r", "s", "t"))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAll(docsGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      for (crossOnly <- Seq(true, false)) {
        val spans = operators.Dedup.duplicatedSpans(df, k = 3, crossOnly).collect()
          .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).groupBy(_._1)
        val out = operators.Dedup.removeDuplicatedSpans(df, k = 3, crossOnly).collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
        assert(out.keySet == docs.map(_._1).toSet) // row count stable
        docs.foreach { case (id, text) =>
          val n = text.split(" ").length
          val covered = spans.getOrElse(id, Array.empty).map(_._2)
            .flatMap { case (s, e) => s to e }.toSet
          val (kept, removed) = out(id)
          assert(removed == covered.size, s"doc $id mode $crossOnly")
          val keptN = if (kept.isEmpty) 0 else kept.split(" ").length
          assert(keptN + removed == n, s"doc $id mode $crossOnly: $keptN + $removed != $n")
        }
      }
    }
  }

  test("incremental dedup survivor invariants on random batches") {
    // survivors are pairwise-distinct texts, none present in the corpus, and
    // each is the LOWEST id among its batch duplicates; every novel batch
    // text has exactly one survivor
    val gen: Gen[(List[String], List[String])] = for {
      cn <- Gen.choose(1, 8)
      corpus <- Gen.listOfN(cn, Gen.oneOf("t1", "t2", "t3", "t4"))
      bn <- Gen.choose(1, 15)
      batch <- Gen.listOfN(bn, Gen.oneOf("t1", "t2", "t3", "n1", "n2", "n3"))
    } yield (corpus, batch)
    forAll(gen) { case (corpusTexts, batchTexts) =>
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batch = batchTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      val got = operators.Dedup.dedupAgainstCorpus(batch, corpus).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val novel = batchTexts.distinct.filterNot(corpusTexts.contains)
      assert(got.values.toSeq.sorted == novel.sorted) // one survivor per novel text
      got.foreach { case (id, t) =>
        val firstId = 100L + batchTexts.indexOf(t)
        assert(id == firstId, s"survivor of '$t' must be the lowest batch id")
      }
    }
  }

  test("funnel matches a sequential per-user reference on random event streams") {
    val stages = Seq("view", "click", "purchase")
    val gen: Gen[List[(Long, Long, String, Long)]] = for {
      n <- Gen.choose(1, 30)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 3L)
        tp <- Gen.oneOf("view", "click", "purchase", "error", "signup")
        ts <- Gen.choose(0L, 9L) // small range forces timestamp ties
      } yield (u, tp, ts))
    } yield evs.zipWithIndex.map { case ((u, tp, ts), i) => (i.toLong, u, tp, ts) }
    forAll(gen) { evs =>
      val got = operators.Funnel
        .funnel(evs.toDF("event_id", "user_id", "event_type", "us"), stages, timeCol = "us")
        .collect().map(r => r.getLong(0) ->
          ((Seq(1, 2, 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))), r.getInt(4))))
        .toMap
      val expected = evs.groupBy(_._2).map { case (u, rows) =>
        val reach = Array.fill[Option[Long]](stages.size)(None)
        rows.sortBy(e => (e._4, e._1)).foreach { case (_, _, tp, ts) =>
          val i = stages.indexOf(tp)
          if (i >= 0 && reach(i).isEmpty && (i == 0 || reach(i - 1).isDefined))
            reach(i) = Some(ts)
        }
        u -> ((reach.toSeq, reach.lastIndexWhere(_.isDefined) + 1))
      }
      assert(got == expected)
    }
  }

  test("salted join equals the plain join for any salt bucket count") {
    val gen: Gen[(List[(Long, Long)], List[(Long, String)], Int)] = for {
      fn <- Gen.choose(1, 30)
      fact <- Gen.listOfN(fn, Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 99L)))
      dn <- Gen.choose(1, 6)
      dim <- Gen.listOfN(dn, Gen.zip(Gen.choose(1L, 7L), Gen.oneOf("x", "y")))
      buckets <- Gen.choose(1, 5)
    } yield (fact, dim, buckets)
    forAll(gen) { case (fact, dimRows, buckets) =>
      val f = fact.toDF("k", "payload")
      // dedup dim keys: saltedJoin's contract mirrors a dimension table
      val d = dimRows.toMap.toSeq.toDF("k", "name")
      val salted = operators.SkewJoin.saltedJoin(f, d, "k", buckets, "payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val plain = f.join(d, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(salted == plain)
    }
  }

  test("fuzzy pairs match a reference Levenshtein over co-blocked pairs") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val word = Gen.oneOf("aa", "ab", "ba", "ccc")
    val gen: Gen[List[String]] = for {
      n <- Gen.choose(2, 12)
      docs <- Gen.listOfN(n, Gen.listOfN(4, word).map(_.mkString(" ")))
    } yield docs
    forAll(gen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.Dedup.fuzzyDupPairs(docs.toDF("doc_id", "text"),
          maxDist = 3, blockChars = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val exp = (for {
        x <- docs; y <- docs
        if x._1 < y._1 && x._2.take(4) == y._2.take(4) && lev(x._2, y._2) <= 3
      } yield (x._1, y._1, lev(x._2, y._2))).sorted
      assert(got == exp)
    }
  }

  test("BPE tokenize partitions every word exactly under any trained merges") {
    val wordGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val gen = for {
      dict <- Gen.listOfN(8, wordGen)
      counts <- Gen.listOfN(8, Gen.choose(1L, 20L))
      probe <- Gen.listOfN(5, wordGen)
    } yield (dict.zip(counts), probe)
    forAll(gen) { case (dict, probes) =>
      val merges = operators.Bpe.trainFromCounts(dict, numMerges = 6)
      val ranks = merges.zipWithIndex.toMap
      (probes ++ dict.map(_._1)).foreach { w =>
        val toks = operators.Bpe.tokenize(w, ranks)
        // concatenation invariant: tokens partition the word, in order
        assert(toks.mkString == w, s"tokens ${toks.toSeq} don't rebuild '$w'")
        assert(toks.forall(_.nonEmpty))
      }
    }
  }

  test("byte-span removal: kept + removed = original length on any corpus") {
    // random docs over a tiny alphabet force heavy cross-doc byte overlap,
    // stressing island merging and the interval-complement rebuild
    val textGen = Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', ' ')).map(_.mkString))
    val gen = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, textGen))
    forAll(gen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val spans = operators.Dedup.duplicatedByteSpans(docs, k = 8).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      // spans are within bounds, disjoint, and >= k bytes
      spans.groupBy(_._1).foreach { case (id, ss) =>
        val sorted = ss.sortBy(_._2)
        sorted.foreach { case (_, s, e) =>
          assert(s >= 0 && e < texts(id.toInt).length && e - s + 1 >= 8) }
        sorted.sliding(2).foreach {
          case Array((_, _, e1), (_, s2, _)) => assert(s2 > e1, "spans must be disjoint")
          case _ =>
        }
      }
      val removed = operators.Dedup.removeDuplicatedByteSpans(docs, k = 8).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      assert(removed.length == texts.length, "row-stable")
      removed.foreach { case (id, kept, n) =>
        assert(kept.length + n == texts(id.toInt).length, s"doc $id byte accounting")
      }
    }
  }

  test("misra-gries bounds hold under random chunking and random merge order") {
    import graft.functions.MisraGriesAgg
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    val agg = MisraGriesAgg(
      BoundReference(0, org.apache.spark.sql.types.StringType, nullable = true),
      capacity = 6)
    val itemGen = Gen.frequency(
      5 -> Gen.const("hot"), 3 -> Gen.const("warm"),
      2 -> Gen.oneOf((0 until 40).map(i => s"cold$i")))
    val gen = for {
      n <- Gen.choose(50, 400)
      items <- Gen.listOfN(n, itemGen)
      chunks <- Gen.choose(1, 8)
      shuffleSeed <- Gen.choose(0, 1000)
    } yield (items, chunks, shuffleSeed)
    forAll(gen) { case (items, chunks, shuffleSeed) =>
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size
      // split into chunks, update each into its own buffer, then merge the
      // buffers in a seed-shuffled order — simulating arbitrary partial
      // aggregation trees
      val rnd = new scala.util.Random(shuffleSeed)
      val buffers = rnd.shuffle(items.grouped(math.max(1, n / chunks)).toList).map { chunk =>
        val b = agg.createAggregationBuffer()
        chunk.foreach(it =>
          agg.update(b, InternalRow(UTF8String.fromString(it))))
        b
      }
      val merged = buffers.reduce(agg.merge)
      assert(merged.size() <= 6, "never more than capacity survivors")
      val bound = n / 7 // n/(capacity+1)
      val ests = {
        val it = merged.entrySet().iterator()
        val m = scala.collection.mutable.Map.empty[String, Long]
        while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue }
        m.toMap
      }
      ests.foreach { case (item, est) =>
        assert(est <= truth(item), s"$item overcounts: $est > ${truth(item)}")
        assert(est >= truth(item) - bound, s"$item undercounts past the bound")
      }
      truth.foreach { case (item, t) =>
        if (t > bound) assert(ests.contains(item), s"$item (true $t > $bound) must survive")
      }
    }
  }

  test("BPE training is prefix-stable: more merges never rewrite earlier ones") {
    val wordGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val gen = Gen.listOfN(6, wordGen.flatMap(w => Gen.choose(1L, 9L).map(w -> _)))
    forAll(gen) { dict =>
      val m4 = operators.Bpe.trainFromCounts(dict, numMerges = 4)
      val m8 = operators.Bpe.trainFromCounts(dict, numMerges = 8)
      assert(m8.take(m4.length) == m4)
    }
  }

  test("URL normalization is idempotent on any generated URL") {
    // normalize ∘ normalize == normalize: the canonical form is a fixed
    // point (re-ingesting an already-normalized crawl must be a no-op)
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HtTpS")
      host <- Gen.oneOf("A.com", "www.B.org", "X.Y.io")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/P/q", "/a%20b")
      query <- Gen.oneOf("", "?id=1", "?utm_s=1", "?utm_s=1&id=2", "?id=1&gclid=9&z=3")
      frag <- Gen.oneOf("", "#x", "#frag?fake=1")
    } yield s"$scheme://$host$port$path$query$frag"
    forAll(Gen.listOfN(8, urlGen)) { urls =>
      val once = operators.UrlOps.withNormalizedUrl(
        urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url"))
        .orderBy("doc_id").select("norm_url").collect().map(_.getString(0)).toSeq
      val twice = operators.UrlOps.withNormalizedUrl(
        once.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url"))
        .orderBy("doc_id").select("norm_url").collect().map(_.getString(0)).toSeq
      assert(twice == once)
    }
  }

  test("line dedup matches a sequential reference on any generated corpus") {
    val lineGen = Gen.oneOf("common one", "common two", "rare", "odd line", "x y z")
    val docGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    forAll(Gen.listOfN(6, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // reference: df per line over DISTINCT docs, filter, rebuild in order
      val df = docs.flatMap { case (_, t) => t.split("\n", -1).distinct }
        .groupBy(identity).view.mapValues(_.size).toMap
      val expected = docs.map { case (id, t) =>
        val kept = t.split("\n", -1).filter(l => df(l) < 2)
        id -> ((kept.mkString("\n"), t.split("\n", -1).length - kept.length))
      }.toMap
      val got = operators.Dedup.removeCommonLines(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
      expected.foreach { case (id, (txt, n)) =>
        assert(got(id) == ((txt, n)), s"doc $id diverges from the reference")
      }
    }
  }

  test("unigram viterbi: coverage, score additivity, and optimality on any word/table") {
    val wordGen = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val tableGen = for {
      nPieces <- Gen.choose(0, 8)
      pieces <- Gen.listOfN(nPieces, for {
        len <- Gen.choose(1, 4)
        p <- Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString)
        lp <- Gen.choose(-5000000, -100000)
      } yield (p, lp.toLong))
    } yield pieces.toMap // 'c' stays out → exercises the unk fallback
    forAll(Gen.zip(wordGen, tableGen)) { case (word, table) =>
      val pieces = operators.Unigram.viterbi(word, table, 4)
      // coverage: the pieces concatenate back to the word exactly
      assert(pieces.mkString == word)
      def lpOf(p: String): Long = table.getOrElse(p,
        { assert(p.length == 1, s"multi-char piece $p not in table"); operators.Unigram.unkLogpMicro })
      val score = pieces.map(lpOf).sum
      // optimality: no enumerated segmentation scores strictly higher
      def segs(w: String): Seq[Seq[String]] =
        if (w.isEmpty) Seq(Seq.empty)
        else (1 to math.min(4, w.length)).flatMap { l =>
          val h = w.take(l)
          if (table.contains(h) || l == 1) segs(w.drop(l)).map(h +: _) else Seq.empty
        }
      val best = segs(word).map(s => s.map(lpOf).sum).maxOption.getOrElse(0L)
      assert(score == best, s"viterbi $score vs enumerated best $best for '$word'")
    }
  }

  test("FFD packing: no bin over capacity (oversize docs alone), ids partition exactly") {
    val docsGen = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, Gen.choose(1, 40)))
    forAll(docsGen) { sizes =>
      val fx = sizes.zipWithIndex
        .map { case (s, i) => (i.toLong, Seq.fill(s)("w").mkString(" ")) }
      val got = operators.TextAnalysis
        .packFirstFitDecreasing(fx.toDF("doc_id", "text"), maxTokens = 32, shards = 3)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(4)))
      assert(got.map(_._1).sorted.toSeq == fx.map(_._1)) // every doc exactly once
      got.groupBy(_._4).foreach { case (_, members) =>
        val load = members.map(_._3.toLong).sum
        assert(load <= 32 || (members.length == 1 && members.head._3 > 32),
          s"bin overloaded: $load from ${members.length} docs")
      }
    }
  }

  test("mp4 synth/walk round trip: any parameters parse back exactly") {
    val paramGen = for {
      ts <- Gen.choose(1, 1000000)
      v1 <- Gen.oneOf(true, false)
      // the v0 duration field is 32-bit; v1 exercises the 64-bit path
      du <- Gen.choose(0L, if (v1) 1L << 40 else 0xFFFFFFFFL)
      audio <- Gen.oneOf(true, false)
    } yield (ts, du, audio, v1)
    forAll(paramGen) { case (ts, du, audio, v1) =>
      val m = operators.Multimodal
        .parseMp4(operators.Multimodal.testMp4(ts, du, audio, v1))
        .getOrElse(fail("synthesized container must parse"))
      assert(m.major_brand == "isom")
      assert(m.timescale == ts.toLong)
      assert(m.duration_ms == du * 1000L / ts)
      assert(m.n_tracks == (if (audio) 2 else 1))
      assert(m.n_video == 1 && m.n_audio == (if (audio) 1 else 0))
      assert(m.codecs == (if (audio) "avc1,mp4a" else "avc1"))
    }
  }

  test("avi synth/walk round trip: any frame params mux and parse back exactly") {
    val paramGen = for {
      nf <- Gen.choose(0, 7)
      params <- Gen.listOfN(nf, Gen.choose(0L, 1L << 40))
      junk <- Gen.choose(Long.MinValue, Long.MaxValue)
      us <- Gen.choose(1000, 1000000)
    } yield (params, junk, us)
    forAll(paramGen) { case (params, junk, us) =>
      val (m, frames) = operators.Multimodal
        .parseAvi(operators.Multimodal.testMjpegAvi(params, junk, us))
        .getOrElse(fail("synthesized container must parse"))
      assert(m.width == 36L && m.height == 32L)
      assert(m.n_frames_header == params.length.toLong)
      assert(frames.length == params.length)
      assert(m.us_per_frame == us.toLong && m.n_streams == 1 && m.handler == "MJPG")
      // every extracted frame is a decodable JPEG of the pattern size,
      // and equal params at equal positions decode to equal pixels
      val imgs = frames.map(fb => javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(fb)))
      assert(imgs.forall(i => i != null && i.getWidth == 36 && i.getHeight == 32))
      for (Seq(i, j) <- params.indices.combinations(2)
           if params(i) == params(j))
        assert(java.util.Arrays.equals(frames(i), frames(j)),
          "equal render params must produce identical frame payloads")
    }
  }

  test("avro lossless promotions round-trip any values; mismatches quarantine whole files") {
    import org.apache.spark.sql.types._
    val rowGen = for {
      i <- Gen.choose(Int.MinValue, Int.MaxValue)
      f <- Gen.choose(-1e6f, 1e6f)
    } yield (i, f)
    forAll(Gen.listOfN(5, rowGen)) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("avro_prop").toFile
      try {
        // written as (int, float); read back widened as (long, double):
        // the promotions must preserve every value exactly
        graft.sources.Avro.write(
          rows.zipWithIndex.map { case ((i, f), k) => (k.toLong, i, f) }
            .toDF("id", "n", "x"), dir.getAbsolutePath)
        val wide = graft.sources.Avro.read(spark, dir.getAbsolutePath,
          StructType(Seq(StructField("id", LongType), StructField("n", LongType),
            StructField("x", DoubleType))))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        rows.zipWithIndex.foreach { case ((i, f), k) =>
          assert(wide(k.toLong) == ((i.toLong, f.toDouble)))
        }
        // a lossy direction (float where long expected) must quarantine
        // the whole file — zero rows, no crash
        assert(graft.sources.Avro.read(spark, dir.getAbsolutePath,
          StructType(Seq(StructField("id", LongType),
            StructField("x", LongType)))).count() == 0)
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dir)
      }
    }
  }

  test("rrfFuse: dense ranks, monotone scores, no invented docs on any lists") {
    val listGen = Gen.choose(0, 8).flatMap(n => Gen.pick(n, 0L to 15L).map(_.toSeq.sorted))
    forAll(Gen.zip(listGen, listGen)) { case (lexDocs, denseDocs) =>
      val lex = lexDocs.zipWithIndex.map { case (d, i) => (1L, d, i + 1) }
      val dense = denseDocs.zipWithIndex.map { case (d, i) => (1L, d, i + 1) }
      val got = operators.Similarity.rrfFuse(
          lex.toDF("query_id", "doc_id", "rank"),
          dense.toDF("query_id", "doc_id", "rank"), topK = 100)
        .collect()
        .map(r => (r.getLong(1), r.getLong(4), r.getInt(5)))
        .sortBy(_._3)
      assert(got.map(_._3).toSeq == (1 to got.length)) // dense 1..n
      assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq) // scores desc
      assert(got.map(_._1).toSet == (lexDocs ++ denseDocs).toSet) // union, nothing else
    }
  }
}
