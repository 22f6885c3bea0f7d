package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-SELECTION operators — the stage after cleaning/dedup where a
  * pipeline decides which surviving documents to actually train on, and
  * with what weight:
  *
  *  - [[dsirWeights]]: hashed-n-gram importance weights toward a target
  *    slice (Xie et al. 2023, "Data Selection for Language Models via
  *    Importance Resampling" — DSIR). Every document scores
  *    log w(d) = Σ_b n_b(d) · (ln p̂_t(b) − ln p̂_s(b)) over hashed
  *    word-unigram buckets, where p̂_t / p̂_s are add-α smoothed bucket
  *    distributions of the TARGET slice vs the FULL corpus. Resampling
  *    by the emitted weight is then a [[Sampling]] pass.
  *  - [[perplexityTiles]]: the CCNet head/middle/tail partition (Wenzek
  *    et al. 2020) — per-language quality terciles by LM score, as an
  *    exact DISTRIBUTED ntile with no per-language single-reducer window.
  *
  * Scale design (100 TB):
  *  - DSIR's two distributions reduce to ≤ `buckets` rows with map-side
  *    combine and broadcast back — the only data-scale shuffle is the
  *    per-(doc, bucket) count groupBy, and both bucket histograms fork
  *    ABOVE that exchange (identical subplans), so ReuseExchange serves
  *    them from one shuffle of the corpus.
  *  - the ntile's windows run over (a) a value-bounded (lang, score-
  *    bucket) histogram — hundreds of rows per language, never data-scale
  *    — and (b) per-(lang, score-bucket) local ranks, which spread a
  *    language's documents across as many reducers as there are occupied
  *    score buckets. A plain `ntile(k) over (partition by lang)` puts an
  *    entire language — half the corpus, for English — on ONE reducer.
  */
object Selection {

  /** Engine-portable hashed feature bucket: the first 4 hex digits of
    * md5 (16 uniform bits, the q40/q105 idiom) reduced mod `buckets` —
    * uniform when `buckets` divides 2^16, near-uniform otherwise. */
  private[operators] def bucketOf(word: Column, buckets: Int): Column =
    (Sampling.hashBucket16(word) % buckets).cast("int")

  /** DSIR importance weight per document over hashed word-unigram
    * features: (doc_id, n_words, log_weight) with
    * log_weight = Σ_buckets n_b · (ln p̂_target(b) − ln p̂_source(b)),
    * p̂(b) = (c_b + α) / (C + α·B), B = `buckets`. `isTarget` is a
    * boolean column over `docs` selecting the target slice (a trusted
    * source, a language, a labeled seed set); the source distribution is
    * the ENTIRE corpus including the slice, as in the paper's
    * raw-vs-target formulation. Positive log_weight = the document looks
    * more like the target than like the average of the corpus.
    *
    * Determinism: ln rounds only at the final sum (round-6, the q60/q100
    * transcendental-ulp policy); everything before it is integer counts.
    * Documents with NULL text have no words and are absent from the
    * output (the [[TextAnalysis.lmScore]] convention). */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 512,
      alpha: Double = 1.0): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val base = TextAnalysis.withWords(docs)
      .select(col("doc_id"), isTarget.as("__t"), explode(col("__words")).as("word"))
      .select(col("doc_id"), col("__t"), bucketOf(col("word"), buckets).as("bucket"))
    // the one data-scale shuffle; __t is doc-constant so adding it to the
    // key changes nothing but lets the histogram derive from THIS
    // aggregate — and both distributions come out of ONE conditional-sum
    // pass (a filtered target branch would push its filter below the
    // exchange and re-scan the corpus; the conditional sum keeps the
    // stats subtree canonically identical to the join's docBuck subtree,
    // so AQE's ReuseExchange serves both from one shuffle)
    val docBuck = base.groupBy("doc_id", "__t", "bucket")
      .agg(count(lit(1)).as("n"))
    val stats = docBuck.groupBy("bucket").agg(
      sum("n").as("cs"),
      sum(when(col("__t"), col("n")).otherwise(0L)).as("ct"))
    val totals = stats.agg(sum("cs").as("ts"), sum("ct").as("tt"))
    val aB = alpha * buckets
    val logRatio =
      log((col("ct") + alpha) / (col("tt") + aB)) -
      log((col("cs") + alpha) / (col("ts") + aB))
    docBuck.join(broadcast(stats.crossJoin(totals)), "bucket")
      .groupBy("doc_id")
      .agg(sum("n").as("n_words"),
        round(sum(col("n") * logRatio), 6).as("log_weight"))
  }

  /** CCNet-style per-language perplexity tiles: every document lands in
    * one of `tiles` equal groups (tile 1 = best LM score = "head", last
    * tile = "tail") within its language — exactly
    * `ntile(tiles) over (partition by lang order by avg_logprob desc,
    * doc_id)` on [[TextAnalysis.lmScore]]'s output, computed WITHOUT a
    * per-language window:
    *  1. scores histogram into value-bounded buckets (round to
    *     `bucketDecimals`; rounding is monotone, so bucket-desc order
    *     refines to score-desc order);
    *  2. the per-(lang, bucket) histogram — hundreds of rows per
    *     language whatever the corpus size — prefix-sums into bucket
    *     rank offsets and per-language totals;
    *  3. rows rank LOCALLY within (lang, bucket) and add their bucket's
    *     offset: an exact global rank, hot language spread over all its
    *     occupied buckets;
    *  4. the standard ntile split (first n%k tiles get one extra row)
    *     computes from (rank, total) in pure integer arithmetic.
    * CAVEAT: a score distribution concentrated at one ROUNDED value
    * re-concentrates its bucket; widen `bucketDecimals` if the scorer
    * emits coarse values (LM log-probs are transcendental — effectively
    * continuous — so the default 1-decimal bucketing spreads fine). */
  def perplexityTiles(docs: DataFrame, tiles: Int = 3, bucketDecimals: Int = 1,
      alpha: Double = 1.0): DataFrame = {
    require(tiles >= 1 && tiles <= 1000, s"tiles must be in [1, 1000], got $tiles")
    // eager pin: the histogram pass and the final rank both read the
    // scored frame — pinning evaluates the LM chain once (the q118
    // multi-pass rationale) and holds only (doc_id, score, lang) slim rows
    val scored = TextAnalysis.lmScore(docs, alpha)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("__sb", round(col("avg_logprob"), bucketDecimals))
      .localCheckpoint()
    val hist = scored.groupBy("lang", "__sb").agg(count(lit(1)).as("__c"))
    val wOff = Window.partitionBy("lang").orderBy(col("__sb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("__sb"), col("__off"), col("__n"))
    val wLocal = Window.partitionBy("lang", "__sb")
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    // first (n % k) tiles take (n div k + 1) rows, the rest (n div k) —
    // the SQL-standard ntile both engines implement; greatest(…, 1)
    // guards the n < k degenerate where the ELSE branch is unreachable
    // but ANSI mode would still reject a div-by-zero expression
    val k = tiles
    scored.join(broadcast(offsets), Seq("lang", "__sb"))
      .withColumn("__rn", col("__off") + row_number().over(wLocal))
      .withColumn("tile", expr(
        s"""CASE WHEN __rn <= (__n % $k) * ((__n div $k) + 1)
           |THEN (__rn - 1) div ((__n div $k) + 1) + 1
           |ELSE (__n % $k) +
           |  (__rn - 1 - (__n % $k) * ((__n div $k) + 1)) div greatest(__n div $k, 1) + 1
           |END""".stripMargin))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        col("tile").cast("long").as("tile"))
  }

  /** Robust per-group outlier flags — median/MAD, the estimator that
    * survives the very outliers it hunts (a mean/stddev gate moves with
    * every anomaly it should catch): a row is an outlier when its absolute
    * deviation from the group median exceeds `k` × the group's median
    * absolute deviation. The per-source quality-drift tripwire that
    * catches a broken extractor or a spam burst inside one slice.
    *
    * Determinism without a rounding policy: `scoreE6` is integer micro,
    * and every derived value (interpolated median = mean of two integers,
    * deviations, MAD, k·MAD) is a DYADIC rational — exactly representable
    * in an IEEE double, so both engines compute bit-identical values with
    * zero transcendental or decimal-rounding concerns.
    *
    * Scale: two [[SkewJoin.partitionAgg]] passes (exact percentile as a
    * partial-merge aggregate + broadcast-back join) — window-free, no
    * per-group sort on a single reducer. Output: input columns +
    * (score_e6, med_e6, mad_e6, is_outlier). */
  def robustOutliers(df: DataFrame, groupCol: String, scoreE6: Column,
      k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.withColumn("score_e6", scoreE6)
    val withMed = SkewJoin.partitionAgg(base, Seq(groupCol),
      Seq("med_e6" -> percentile(col("score_e6"), lit(0.5))))
      .withColumn("__dev", abs(col("score_e6").cast("double") - col("med_e6")))
    SkewJoin.partitionAgg(withMed, Seq(groupCol),
      Seq("mad_e6" -> percentile(col("__dev"), lit(0.5))))
      .withColumn("is_outlier", col("__dev") > lit(k.toDouble) * col("mad_e6"))
      .drop("__dev")
  }

  /** Multinomial NAIVE BAYES text classifier — the model-based
    * domain/language labeling stage (the fastText-classifier slot in
    * DCLM/CCNet-style pipelines) built on exactly the machinery the
    * heuristic scorers already use: add-1-smoothed per-class word
    * log-probs in round-6-then-integerized micro-units (the q144
    * policy), so scores are LONG sums and every comparison replays
    * bit-for-bit in a SQL oracle. Train on the rows where `holdout` is
    * false, score the rows where it is true; prediction = argmax class
    * of prior + Σ_word n·lp, ties by class name asc. A score-time word
    * absent from the training vocabulary contributes the class's unseen
    * log-prob (add-1 mass, 1/(tot_c + |V|)).
    *
    * Output: (doc_id, true_label, pred_label, score_micro) for the
    * holdout rows.
    *
    * 100 TB shape: the model is CLASSES × VOCABULARY rows — Heaps'-law
    * bounded, never corpus-scale — aggregated with map-side combine and
    * BROADCAST back (the DSIR histogram posture); the held-out side
    * pays its own (doc, word) groupBy, a ×|classes| broadcast fan, and
    * two doc-keyed aggregations. |V| and the train row count are the
    * only driver scalars (two bounded count() jobs). */
  def naiveBayesClassify(docs: DataFrame, labelCol: String,
      holdout: Column): DataFrame = {
    def microLn(x: Column): Column =
      round(round(log(x), 6) * 1e6).cast("long")
    val base = TextAnalysis.withWords(docs)
      .select(col("doc_id"), col(labelCol).as("__lbl"), col("__words"))
    val train = base.filter(!holdout)
    val wc = train.select(col("__lbl"), explode(col("__words")).as("word"))
      .groupBy("__lbl", "word").agg(count(lit(1)).as("c"))
    val classTot = wc.groupBy("__lbl").agg(sum("c").as("tot"))
    val vocabSize = wc.select("word").distinct().count()
    val nTrain = train.count()
    require(nTrain > 0, "naiveBayesClassify needs at least one training row")
    val classInfo = train.groupBy("__lbl").agg(count(lit(1)).as("nd"))
      .join(classTot, "__lbl")
      .select(col("__lbl").as("cls"),
        microLn(col("nd").cast("double") / nTrain).as("prior_micro"),
        microLn(lit(1.0) / (col("tot") + vocabSize).cast("double"))
          .as("unseen_micro"))
    val lpw = wc.join(classTot, "__lbl")
      .select(col("__lbl").as("cls"), col("word"),
        microLn((col("c") + 1).cast("double") /
          (col("tot") + vocabSize).cast("double")).as("lp_micro"))
    val dw = base.filter(holdout)
      .select(col("doc_id"), col("__lbl"), explode(col("__words")).as("word"))
      .groupBy("doc_id", "__lbl", "word").agg(count(lit(1)).as("n"))
    dw.crossJoin(broadcast(classInfo))
      .join(broadcast(lpw), Seq("cls", "word"), "left")
      .withColumn("__contrib",
        col("n") * coalesce(col("lp_micro"), col("unseen_micro")))
      .groupBy("doc_id", "__lbl", "cls", "prior_micro")
      .agg(sum("__contrib").as("__sw"))
      .withColumn("__score", col("prior_micro") + col("__sw"))
      .groupBy("doc_id", "__lbl")
      .agg(min(struct((-col("__score")).as("ns"), col("cls").as("c"),
        col("__score").as("s"))).as("__b"))
      .select(col("doc_id"), col("__lbl").as("true_label"),
        col("__b")("c").as("pred_label"),
        col("__b")("s").as("score_micro"))
  }
}
