package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties that make these operators
  * viable at 100 TB are visible in the physical plan — assert them so a
  * refactor can't silently trade them away. Runs against sf0.001 parquet. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def executed(name: String) = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan

  private def plan(name: String): String = executed(name).toString

  test("window queries on a small input: one task, no exchange, pruned scan") {
    // sf0.001 lineitem is under the engine's one-task size: Coalesce 1, no shuffle
    for (q <- Seq("q01_rank", "q14_accumulate", "q17_dsl")) {
      val physical = executed(q)
      val p = physical.toString
      assert(!p.contains("Exchange"), s"$q does not shuffle")
      assert("Coalesce 1\\b".r.findAllIn(p).size == 1, s"$q runs as one task")
      // lineitem has 11 columns; the scan must not read them all. The plan
      // string cuts ReadSchema at 100 characters, so read the scan node
      val scans = collect(physical) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, s"$q has a file scan")
      for (s <- scans)
        assert(s.requiredSchema.size <= 7, s"$q scan pruned, got: ${s.requiredSchema.simpleString}")
    }
  }

  test("three DSL aggregates collapse into a single Window node") {
    val p = plan("q17_dsl")
    assert("(?m)Window \\[".r.findAllIn(p).size == 1)
  }

  test("filter pushes down to the parquet scan") {
    val p = plan("q18_groupby_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,45.0)]"), p.linesIterator.filter(_.contains("Pushed")).mkString)
  }

  test("dimension join broadcasts the small side") {
    assert(plan("q19_join_topn").contains("BroadcastHashJoin"))
  }

  test("top-N per group pushes the limit below the shuffle (WindowGroupLimit)") {
    val p = plan("q19_join_topn")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "rank<=k must prune to k rows per group before the exchange")
  }

  test("as-of join is one shuffle and no join node") {
    val p = plan("q38_asof_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("skew-safe partition aggregate plans without WindowExec or sort") {
    val p = plan("q43_skewsafe_partition_sum")
    assert(!p.contains("Window ["), "must not use WindowExec")
    // \bSort [ matches a Sort node at any depth/codegen marker, but not
    // SortMergeJoin/SortAggregate
    assert("\\bSort \\[".r.findFirstIn(p).isEmpty, "must not sort")
  }

  test("ANN brute force broadcasts the query set, not the corpus") {
    val p = plan("q25_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"))
  }

  test("dedup exact shuffles hashes, never document text") {
    val p = plan("q20_dedup_exact")
    // the exchange must partition on the computed hash, and the rows entering
    // it (partial-agg output) must not include the text column
    val partials = "HashAggregate\\(keys=\\[[^\\]]*\\], functions=\\[partial_[^\\]]*\\], output=\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partials.nonEmpty && partials.forall(!_.contains("text#")),
      "shuffle input must not carry the text column")
  }

  test("jaccard gram dedup happens map-side (no distinct shuffle on grams)") {
    val p = plan("q21_dedup_ngram_jaccard")
    // shuffles: pair-count agg + (possibly) join exchanges; the per-doc gram
    // dedup itself must be array_distinct, not a (doc_id, gram) shuffle
    assert(p.contains("array_distinct"))
  }

  test("minhash/simhash signatures reduce before the join") {
    for (q <- Seq("q22_dedup_minhash", "q23_dedup_simhash")) {
      val p = plan(q)
      // the join operands are banded signatures, not raw text
      val joinIdx = p.indexOf("Join")
      assert(joinIdx >= 0 && !p.substring(0, joinIdx).contains("text#"), s"$q join keys are signatures")
    }
  }

  test("compressionRatio (q169) and mp4 metadata (q175) are shuffle-free scans") {
    // both are scan → mapPartitions → project: per-doc signals must never
    // pay an exchange at any corpus size
    for (q <- Seq("q169_compression_ratio", "q175_video_meta")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle")
    }
  }

  test("AVI metadata (q186) is a shuffle-free scan; video dedup (q187) joins on fingerprints only") {
    // q186 is scan → mux → RIFF walk → project: container triage must
    // never pay an exchange at any corpus size
    assert(!plan("q186_avi_meta").contains("Exchange"), "q186 must not shuffle")
    // q187's pair-finder is an exact equi-join on the 32-char fingerprint
    // — never a cartesian/BNLJ, and no payload-sized column crosses a
    // shuffle (frames decode and hash inside the scan's mapPartitions)
    val p = plan("q187_video_keyframe_dedup")
    assert(!p.contains("CartesianProduct"), "no cartesian in the pair join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no BNLJ in the pair join")
    assert(!p.contains("payload#"), "payload bytes must never cross the plan")
  }

  test("unigram tokenization (q171): vocabulary dictionary joins by broadcast") {
    // the per-word piece counts are a vocabulary-sized dictionary — a
    // sort-merge join here would shuffle the corpus side on `word`
    val p = plan("q171_unigram_tokens")
    assert(p.contains("BroadcastHashJoin"), "dictionary join must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-side merge join")
  }

  test("WordPiece tokenization (q188): vocabulary dictionary joins by broadcast") {
    // the q87/q171 posture: distinct words tokenize once against the
    // broadcast vocabulary set; the corpus side never sort-merges
    val p = plan("q188_wordpiece_tokens")
    assert(p.contains("BroadcastHashJoin"), "dictionary join must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-side merge join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "doc-word counts must map-side combine")
  }

  test("chat render + loss masks (q190/q192): one user-keyed exchange, no re-shuffle") {
    // sessionize windows partition by user_id; the per-session window and
    // the render aggregation both cluster on (user_id, session_id) — a
    // SUBSET-satisfied distribution, so neither may add an exchange
    for (q <- Seq("q190_chat_render", "q192_loss_mask")) {
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$q must cost exactly the one user-keyed shuffle")
    }
  }

  test("token loss masks (q198): profile broadcasts, fact keeps one user shuffle") {
    // the token-count profile is dimension-sized ((role, event_type, k)
    // combos) and must reach the turn stream as a broadcast join; the
    // fact side keeps q192's single user-keyed exchange — the only
    // hashpartitioning exchanges allowed are the profile branch's tiny
    // distinct/groupBy keys (event_type/k/word/turn_txt), never a
    // turn-stream key
    val p = plan("q198_token_loss_mask")
    assert(p.contains("BroadcastHashJoin"), "profile join must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    val factExchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).filter(_.contains("user_id")).size
    assert(factExchanges == 1,
      "the turn stream must cost exactly the one user-keyed shuffle")
  }

  test("preference pairs (q191): rank windows group-limited, counts broadcast, no cartesian") {
    val p = plan("q191_preference_pairs")
    assert(p.contains("WindowGroupLimit"),
      "rank <= k must prune below the rank windows")
    assert(p.contains("BroadcastHashJoin"), "bucket counts must broadcast")
    // the only nested-loop allowed is the q60/q102 scalar-totals cross
    // join (single-row build side inside the quality score); the PAIRING
    // join itself must be the (bucket, rank) equi-join
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert("Join \\[source[^,]*, pair_rank".r.findFirstIn(p).isDefined,
      "pairing must join on (source, pair_rank)")
  }

  test("few-shot prompts (q196): no forced broadcast of the corpus-derived queries") {
    // q196's query side is 1/queryMod OF THE CORPUS (grows with the
    // data), so unlike q153's bounded-batch contract there must be NO
    // broadcast hint anywhere in the logical plan — AQE alone decides
    // from measured sizes (it may still broadcast at tiny SF; the pin is
    // that nothing FORCES it at 100 TB).
    val qe = SparkEntry.queries("q196_fewshot_prompts")(spark, dir).queryExecution
    // structural walk, not string rendering (which a Spark upgrade could
    // change silently): no Join node may carry any hint, and no
    // ResolvedHint may survive anywhere in the tree
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, ResolvedHint}
    val hintedJoins = qe.optimizedPlan.collect {
      case j: Join if j.hint != JoinHint.NONE => j
    }
    assert(hintedJoins.isEmpty,
      s"corpus-derived query side must carry no join hint: $hintedJoins")
    assert(qe.analyzed.collect { case h: ResolvedHint => h }.isEmpty,
      "no ResolvedHint may be planted anywhere in q196's tree")
    assert(!qe.optimizedPlan.toString.contains("strategy=broadcast"),
      "corpus-derived query side must carry no forced broadcast hint")
    val p = qe.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), "top-k must prune below the window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "retrieval must stay bucket-equi-joined")
  }

  test("conversation dedup/pack (q193/q194): keeper is an aggregate, not a per-hash window") {
    // the q132/exactBest posture: a viral duplicate transcript must
    // collapse map-side via partial struct-min, never serialize its hash
    // onto one window reducer (session windows from turn derivation are
    // fine - only a t_hash-partitioned window is banned)
    for (q <- Seq("q194_dedup_conversations", "q193_pack_conversations")) {
      val p = plan(q)
      assert(!p.linesIterator.exists(l => l.contains("Window [") && l.contains("t_hash")),
        s"$q: keeper must be an argmax aggregate, not a per-hash window")
      assert(p.contains("partial_min(struct("),
        s"$q: struct-min keeper must partial-aggregate below the exchange")
    }
  }

  test("FFD packing (q173): exactly the one shard repartition exchange") {
    val p = plan("q173_pack_ffd")
    assert("Exchange".r.findAllIn(p).size == 1,
      "per-shard packing must cost one shuffle (repartition on shard)")
  }

  test("query-level BM25 (q180): stats broadcast, top-k group-limited, no cartesian") {
    val p = plan("q180_bm25_query")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must prune")
    assert(p.contains("BroadcastHashJoin"), "query/df sides must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("hybrid RRF fusion (q170): both retrieval sides stay WindowGroupLimit-pruned") {
    val p = plan("q170_hybrid_rrf")
    // lexical top-10, dense top-10, fused top-10 — three pruned windows
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      "all three rank<=k filters must prune below their windows")
    assert(!p.contains("CartesianProduct"), "no cartesian in the fusion")
  }

  test("bucketed embedding near-dup is pure equi-joins — no BNLJ, no cartesian") {
    // the exact path (q24) is a theta self-join and MAY plan a BNLJ; the
    // scale path must never: candidates come from an equi-join on
    // (table, signature) and the rerank from equi-joins on the ids
    val p = plan("q47_embed_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no BNLJ in the bucketed path")
    assert(!p.contains("CartesianProduct"), "no cartesian in the bucketed path")
    assert(p.contains("hyperplanesignature"), "bucket keys are the codegen'd signatures")
  }

  test("production LSH points (q52/q53) keep the equi-join shape on derived fixtures") {
    // the derived-fixture unions must not degrade the candidate stages into
    // BNLJ/cartesian plans — candidates still come from equi-joins on
    // (table, signature) / band keys, verification from id equi-joins
    for (q <- Seq("q52_embed_neardup_lsh_prod", "q53_dedup_minhash_prod")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: no BNLJ")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian")
    }
    assert(plan("q52_embed_neardup_lsh_prod").contains("hyperplanesignature"))
    assert(plan("q53_dedup_minhash_prod").contains("intersectcount"),
      "q53 verifies candidates on gram arrays (the codegen'd count-only " +
        "intersection, r22), not a gram self-join")
  }

  test("hot-gram guard is skew-safe: map-side array_except removal, cached gram arrays") {
    // the guarded path (q54): document frequency partial-aggregates in an
    // eager driver-side probe whose hot set is bounded by construction
    // (avg-grams-per-doc / f, corpus-size independent), then hot grams are
    // removed INSIDE each document's gram array with array_except against
    // the collected literal — the main query has no df window (a window
    // over gram would funnel a hot gram's entire occurrence list into one
    // task, the blowup the guard prevents), no anti-join, and no second
    // pass over the exploded gram set; every consumer of the gram arrays
    // reads the one cached compact projection. (Plan STRINGS repeat the
    // cached child plan under every InMemoryTableScan, so count IMTS
    // nodes, not "Scan parquet".)
    val p = plan("q54_dedup_jaccard_guarded")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      "every consumer of the gram arrays must read the cache")
    assert(!p.contains("windowspecdefinition(gram#"),
      "df must not come from a window over gram (hot-gram single-task skew)")
    assert(!p.contains("LeftAnti"),
      "hot-gram removal is map-side (array_except), not an anti-join")
    assert(p.contains("array_except"),
      "hot grams drop inside the per-doc array against the collected hot set")
  }

  test("quality rules are a pure map-side projection (no shuffle)") {
    // the scale story of q55: top-bigram fraction folds over the sorted
    // per-doc hash array, so there is no per-(doc, bigram) aggregation
    // shuffle — the whole operator is one projection over the scan
    val p = plan("q55_quality_rules")
    assert(!p.contains("Exchange"), "qualityRules must not shuffle")
    assert(!p.contains("Window ["), "qualityRules must not use WindowExec")
  }

  test("redaction and chunking are pure map-side projections (no shuffle)") {
    // both are per-document transforms; a shuffle would mean the rewrite
    // accidentally introduced an aggregation or a non-local generator
    for (q <- Seq("q62_redact_pii", "q63_chunk_docs")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle")
      assert(!p.contains("Window ["), s"$q must not use WindowExec")
    }
  }

  test("line dedup: df aggregates hashes map-side; no quadratic joins") {
    val p = plan("q97_line_dedup")
    // the frequency aggregation must partial-aggregate (a ubiquitous
    // boilerplate line ships one row per map partition, not per doc)
    assert(p.contains("partial_count"), "line df must map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // removal keys on the md5 hash, not the line text
    assert("Exchange hashpartitioning\\(__h".r.findFirstIn(p).isDefined,
      "anti-join must key on the line hash")
  }

  test("web pipeline composition plans clean: equi-joins only") {
    val p = plan("q96_web_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("url ops: dedup shuffles hashes only; domain cap prunes via WindowGroupLimit") {
    val p94 = plan("q94_url_dedup")
    // normalization is map-side regex work; the only exchange is the
    // dedup's groupBy on the normalized url
    assert("Exchange hashpartitioning".r.findAllIn(p94).size == 1, "q94 shuffles once")
    assert(p94.contains("partial_min") || p94.contains("partial_count"),
      "url dedup must map-side combine")
    val p95 = plan("q95_domain_cap")
    assert(p95.contains("WindowGroupLimit"),
      "per-domain cap must prune rows below the window, not filter after a full sort")
  }

  test("boilerplate extraction is a pure projection: no shuffle, no explode") {
    // block split, scoring, and reassembly all ride higher-order array
    // functions inside one row transform — a Generate (explode) or an
    // Exchange would mean the per-block work leaked out of the projection
    val p = plan("q92_boilerplate")
    assert(!p.contains("Exchange"), "q92 must not shuffle")
    assert(!p.contains("Generate"), "q92 must not explode blocks")
    assert(!p.contains("Window ["), "q92 must not use WindowExec")
  }

  test("vocabulary: doc frequency without Expand, both aggregations partial") {
    val p = plan("q64_vocabulary")
    assert(!p.contains("Expand"),
      "doc_freq must come from (word, doc) group counting, not countDistinct's Expand")
    assert("partial_".r.findAllIn(p).size >= 2, "both groupBys must map-side combine")
  }

  test("tf-idf: vocabulary-sized sides broadcast, top-k prunes before the window shuffle") {
    val p = plan("q65_tfidf_keywords")
    assert(p.contains("BroadcastHashJoin"), "df join must broadcast the vocabulary side")
    assert(p.contains("WindowGroupLimit"), "rnk<=k must prune map-side")
  }

  test("cluster sample: anchors broadcast, assignment argmax partial-aggregates") {
    val p = plan("q66_cluster_sample")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      "the anchor set must broadcast (condition-less join against tiny anchors)")
    assert(p.contains("partial_max_by"),
      "assignment must be a map-side argmax — the shuffle carries (vec_id, cluster, cos), not vectors")
    assert(p.contains("WindowGroupLimit"))
  }

  test("badword filter and script stats: zero exchanges — pure projections") {
    for (q <- Seq("q116_badword_filter", "q120_script_stats"))
      assert(!plan(q).contains("Exchange"), s"$q must not shuffle")
  }

  test("readability: zero exchanges — one codegen'd projection") {
    assert(!plan("q125_readability").contains("Exchange"))
  }

  test("keep-best dedup: argmax is an aggregate with map-side combine, no window") {
    val p = plan("q132_dedup_keep_best")
    // a per-hash window would serialize a hot duplicate onto one reducer;
    // the aggregate form partial-combines before the exchange
    assert(!p.contains("windowspecdefinition(content_hash"), "window crept in")
    assert(p.contains("partial_max") || p.contains("partial_count"), p.take(300))
  }

  test("sitemap discovery: equi anti-join on the normalized URL, no cartesian") {
    val p = plan("q129_sitemap_discovery")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("shard manifest: one aggregation exchange, text reduced map-side") {
    val p = plan("q128_shard_manifest")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
    // the shuffle carries (shard, token count, checksum term) — the
    // map-side partial aggregate must already exist below the exchange
    assert(p.contains("partial_count") || p.contains("partial"), p.take(400))
  }

  test("fetch schedule: data-scale ranking windows carry the salt key") {
    val p = plan("q124_fetch_schedule")
    // every row_number spec must partition by (domain, salt) — a
    // domain-only row_number over the frontier is the hot-domain
    // single-reducer trap the two-level rank exists to avoid (the
    // domain-only windows that remain run over counts/robots lines,
    // both bounded)
    val rowNumSpecs = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rowNumSpecs.nonEmpty)
    rowNumSpecs.foreach(l => assert(l.contains("__salt"), l))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("prioritized frontier: ranking windows carry priority AND salt in the partition key") {
    for (q <- Seq("q133_priority_frontier", "q135_crawl_loop")) {
      val p = plan(q)
      // the prioritized two-level rank partitions its data-scale
      // row_number by (domain, priority, salt) — priority in the PARTITION
      // key (not just the order) is what keeps a hot domain spread across
      // salts·|priorities| reducers instead of one
      val rowNumSpecs = p.linesIterator.filter(_.contains("row_number()")).toSeq
      assert(rowNumSpecs.nonEmpty, q)
      rowNumSpecs.foreach(l => assert(l.contains("__salt"), s"$q: $l"))
      assert(rowNumSpecs.exists(l => l.contains("priority_e6")),
        s"$q: no window carries the priority partition key")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("recrawl schedule: hash-slim outer join, no windows") {
    val p = plan("q134_recrawl_schedule")
    // the operator writes full_outer + "new side non-null"; Catalyst
    // provably narrows that to an outer join on the NEW side (EliminateOuterJoin)
    // — pin that no plain Inner silently drops added rows, and that both
    // snapshots reduce to (url, md5) BEFORE the join (text in the outer
    // shuffle would be the corpus-scale mistake)
    assert(p.contains("Outer"), "diff must keep an outer join (added rows survive)")
    assert(p.linesIterator.exists(l => l.contains("md5(") && l.contains("__oh")),
      "old side must project to its hash below the join")
    assert(!p.contains("window"), "the adaptive rule is pure projection — no windows")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("token budget: the only selection window partitions by bucket") {
    val p = plan("q118_token_budget")
    // the boundary-bucket window keys on __bkt; a global running sum
    // (empty partitionBy) would be the single-reducer killer
    assert(p.contains("__bkt"), "bucketed selection missing")
    assert(!p.contains("windowspecdefinition(quality_score"),
      "global score-ordered window crept in")
  }

  test("dsir weights: one corpus shuffle feeds histogram and join, stats broadcast") {
    val df = SparkEntry.queries("q137_dsir_weights")(spark, dir)
    df.collect() // ReuseExchange is an AQE runtime decision — read the final plan
    val p = df.queryExecution.executedPlan.toString
    // the bucket histogram (both distributions via ONE conditional-sum
    // aggregate) and the stats join-back must consume the SAME
    // per-(doc, bucket) shuffle — a second corpus-scale exchange means
    // the operator re-tokenized the corpus for the target slice
    assert(p.contains("ReusedExchange"), "histogram must share the docBuck shuffle")
    // the ≤ buckets-row stats table joins back broadcast, never shuffled
    assert(p.contains("BroadcastHashJoin"), "stats join-back must broadcast")
  }

  test("perplexity tiles: data-scale ranking windows carry the score bucket") {
    val p = plan("q138_perplexity_tiles")
    // the local rank must partition by (lang, __sb) — a lang-only
    // row_number is the per-language single-reducer window the histogram
    // decomposition exists to avoid (the lang-only sum windows that
    // remain run over the bounded histogram)
    val rowNumSpecs = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rowNumSpecs.nonEmpty)
    rowNumSpecs.foreach(l => assert(l.contains("__sb"), l))
    assert(!p.contains("CartesianProduct"))
  }

  test("soft dedup weights: no window, map-side partial count, hash-keyed join") {
    val p = plan("q139_soft_dedup")
    assert(!p.contains("Window ["), "group size must be an aggregate, not a window")
    assert(p.contains("partial_count"), "hot hashes must collapse map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("anchor signals: argmax as aggregate, no per-URL window") {
    val p = plan("q140_anchor_text")
    assert(!p.contains("Window ["), "top anchor must be an aggregate argmax")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "per-(url, phrase) counts must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dsir selection: the only selection window partitions by bucket") {
    val p = plan("q142_dsir_selection")
    // the composed pipeline must inherit q118's bucketed selection — a
    // global log_weight-ordered window would be the single-reducer killer
    assert(p.contains("__bkt"), "bucketed selection missing")
    assert(!p.contains("windowspecdefinition(log_weight"),
      "global score-ordered window crept in")
  }

  test("entropy stats: zero exchanges — one in-row projection") {
    val p = plan("q145_entropy_stats")
    assert(!p.contains("Exchange"), "entropy must compute map-side (sorted-run fold)")
    assert(!p.contains("Generate"), "no explode — counts fold in-row")
  }

  test("bitext mining: target side broadcasts, top-k prunes via WindowGroupLimit") {
    val p = plan("q144_bitext_mine")
    // the exact path broadcasts the (smaller) target side like q25;
    // both per-side top-k ranks must prune below their window shuffles
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"))
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
  }

  test("mirror matrix: per-(hash, source) counts partial-aggregate, equi-join only") {
    val p = plan("q143_mirror_matrix")
    assert(!p.contains("Window ["), "the matrix is aggregates + an equi-join")
    assert(p.contains("partial_count"), "hot texts must collapse map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("source overlap: word-keyed equi-join, size tables broadcast") {
    val p = plan("q141_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the pair join must be a word-keyed equi-join")
    assert(p.contains("BroadcastHashJoin"), "per-source sizes must broadcast")
  }

  test("bm25 index probe: posting buckets prune at planning time") {
    val p = plan("q119_bm25_indexed")
    assert(p.contains("PartitionFilters: [") && p.contains(" IN "),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // ranking sides broadcast (df / corpus are tiny)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("robots gate: in-row verdict, pages never reshuffle by doc_id") {
    val p = plan("q115_robots_gate")
    // the whole precedence ladder is one array_max over the rule array —
    // no per-page groupBy/window, so no doc_id exchange exists anywhere
    assert(p.contains("array_max"), "in-row verdict missing")
    assert(!p.contains("hashpartitioning(doc_id"),
      "pages must not reshuffle by doc_id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // robots parsing windows partition by domain (bounded robots lines),
    // never an empty partitionBy (the single-reducer killer)
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      "global window crept in")
  }

  test("bloom gate: pinned batch feeds both branches, one anti-join") {
    val p = plan("q114_dedup_bloom_gated")
    // the batch + window + bloom probe evaluated ONCE at construction
    // into a localCheckpoint; the final plan filters that pinned RDD —
    // no re-derivation per branch, no subquery job at execution time
    assert(p.contains("ExistingRDD"), "pinned batch missing from the plan")
    assert("LeftAnti".r.findAllIn(p).size == 1,
      "exactly one anti-join (the maybe-branch verify)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental exact dedup: corpus reduces to hashes, batch winner prunes map-side") {
    val p = plan("q67_dedup_incremental")
    // corpus side: the distinct's aggregates (pre- and post-shuffle) must key
    // and emit only the hash — corpus text stays at the scan
    val distincts = "HashAggregate\\(keys=\\[__h[^\\]]*\\], functions=\\[\\], output=\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(distincts.nonEmpty && distincts.forall(!_.contains("text#")),
      "corpus hash-set aggregation must not carry the text column")
    assert(p.contains("LeftAnti"), "novelty screen must be an anti-join")
    // batch side: first-id-wins must prune to one row per hash BEFORE its
    // exchange, so duplicate-heavy batches don't shuffle their duplicates
    assert(p.contains("row_number(), 1, Partial"),
      "in-batch winner must prune map-side (WindowGroupLimit Partial)")
  }

  test("incremental near-dup dedup and span detection never go quadratic") {
    for (q <- Seq("q68_neardup_incremental", "q69_dup_spans")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: no BNLJ")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian")
    }
    assert(plan("q68_neardup_incremental").contains("intersectcount"),
      "q68 verifies candidates on gram arrays (count-only intersection, r22)")
    val p69 = plan("q69_dup_spans")
    assert(p69.contains("wordgramhashes"),
      "q69 positions come from the codegen'd gram-hash array")
    assert(p69.contains("array_distinct") &&
      !"HashAggregate\\(keys=\\[gram#\\d+L?, doc_id".r.findFirstIn(p69).isDefined,
      "q69 gram frequency must dedup per doc map-side, not via a (gram, doc) distinct shuffle")
  }

  test("lsh dedup pipeline verifies candidates without a gram self-join") {
    // q46's returned frame is a post-checkpoint leaf (connected components
    // executes during construction) — assert the candidate+verify stage's
    // plan directly
    val docs = graft.sources.Tables.documents(spark, dir)
    val p = graft.operators.Dedup.jaccardVerify(docs,
      graft.operators.Dedup.minHashLshCandidates(docs, 3, 16, 16), 3, 0.5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // exact verification must run on the candidates' gram ARRAYS (the
    // codegen'd count-only intersection, r22), never by re-exploding grams
    // into a self-join
    assert(p.contains("intersectcount"))
  }

  test("semantic dedup: assignment cached, pairwise step an equi-join on cluster_id") {
    val p = plan("q73_semantic_dedup")
    // the assignment feeds three consumers — it must come from the cache
    // (plan strings REPRINT the cached child under every InMemoryTableScan,
    // so BNLJ occurrences can't be counted; IMTS presence is the signal)
    assert(p.contains("InMemoryTableScan"),
      "the (vec_id, cluster_id) assignment must be cached, not recomputed per consumer")
    assert(!p.contains("CartesianProduct"))
    // the within-cluster pairwise join hashes on cluster_id = c2 — never
    // quadratic over the corpus
    assert("Join \\[cluster_id#\\d+L?\\], \\[c2#\\d+L?\\]".r.findFirstIn(p).isDefined,
      "pairwise join must be an equi-join on the cluster key")
    assert(p.contains("partial_max_by"),
      "assignment argmax must partial-aggregate map-side")
  }

  test("bm25: term filter prunes before the tf shuffle; df and corpus stats broadcast") {
    val p = plan("q74_bm25")
    assert(p.contains("WindowGroupLimit"), "per-term top-k must prune below the window")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      "the 1-row corpus-stats frame joins as the single condition-less broadcast")
    assert(p.contains("BroadcastHashJoin"), "the term-df side must broadcast")
    // the explode's output must filter on the term list BEFORE aggregating
    val explodeIdx = p.indexOf("Generate explode")
    val aggIdx = p.indexOf("partial_count")
    assert(explodeIdx >= 0 && aggIdx >= 0)
  }

  test("normalized dedup shuffles hashes, never document text") {
    val p = plan("q75_normalized_dedup")
    val partials = "HashAggregate\\(keys=\\[[^\\]]*\\], functions=\\[partial_[^\\]]*\\], output=\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partials.nonEmpty && partials.forall(!_.contains("text#")),
      "shuffle input must not carry the text column")
  }

  test("knn graph: cell-blocked equi-join, no cartesian, assignment argmax partial") {
    val p = plan("q77_knn_graph")
    assert(!p.contains("CartesianProduct"))
    assert("Join \\[cell#\\d+L?\\], \\[cell#\\d+L?\\]".r.findFirstIn(p).isDefined,
      "candidates must come from an equi-join on the cell id")
    assert(p.contains("partial_max_by"),
      "cell assignment must be a map-side argmax")
  }

  test("fuzzy pairs: prefix-block equi-join, never a corpus-quadratic join") {
    val p = plan("q78_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("Join \\[bk#\\d+\\], \\[bk#\\d+\\]".r.findFirstIn(p).isDefined,
      "candidates must come from an equi-join on the block key")
  }

  test("salted join spreads the hot key: both sides exchange on (key, salt)") {
    // sf0.001 orders is broadcast-small which would bypass the layout under
    // test; at the operating point neither side broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q80_salted_join")
      assert("Exchange hashpartitioning\\(l_orderkey#\\d+L, __salt#\\d+".r.findFirstIn(p).isDefined,
        "the join must key on (l_orderkey, __salt) so a hot orderkey spreads across buckets")
      // the bucket sequence constant-folds to a literal array, so assert the
      // Generate node (dim-side replication) rather than the folded expr text
      assert("Generate explode\\([^\n]*\\[l_orderkey#\\d+L, o_custkey".r.findFirstIn(p).isDefined,
        "the dim side must replicate across all salt buckets")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("funnel: one shuffle for all stages; the reduction reuses the window partitioning") {
    val p = plan("q81_funnel")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "chained stage windows + final groupBy must share ONE user_id exchange")
    assert(!p.contains("Join"), "funnel must not plan stage self-joins")
  }

  test("top ngrams: counts partial-aggregate map-side, top-k prunes below the window") {
    val p = plan("q76_top_ngrams")
    assert(p.contains("partial_count"), "gram counts must map-side combine")
    // the global rank<=k filter plans as TakeOrderedAndProject — a
    // per-partition top-k heap below the single-partition window, so each
    // upstream partition forwards at most k (gram, cnt) pairs
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      "top-k must prune before the single-partition window")
  }

  test("BPE token counts: the merge loop runs on a broadcast vocabulary dictionary") {
    val p = plan("q87_bpe_tokens")
    // the (word -> n_bpe) dictionary joins back by broadcast — the
    // corpus-sized side must never sort-merge against the UDF output
    assert(p.contains("BroadcastHashJoin"), "dictionary join must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-sized sort-merge join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "doc-word counts must map-side combine")
  }

  test("byte spans: codegen'd window hashes, no quadratic join, no per-byte rebuild") {
    val p89 = plan("q89_byte_spans")
    assert(p89.contains("bytegramhashes"),
      "positions come from the codegen'd byte-window hash array")
    assert(!p89.contains("BroadcastNestedLoopJoin") && !p89.contains("CartesianProduct"))
    // the hot set sits behind cache+count, so the per-position side must
    // semi-join it by BROADCAST (a deterministic decision from the ACTUAL
    // hot count, not Catalyst's stats estimate): positions never shuffle
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p89).isDefined,
      "hot-gram filter must be a broadcast semi-join")
    assert(!p89.contains("SortMergeJoin"),
      "per-position rows must never sort-merge")
    val p90 = plan("q90_remove_byte_spans")
    // interval-complement rebuild: the only generators belong to span
    // DETECTION (gram posexplode + hot-gram set explode); a per-byte or
    // per-token explode would add a third
    assert("(?m)^\\s*[+:]?-? *Generate ".r.findAllIn(p90).size <= 2,
      s"rebuild must not explode per byte:\n${p90.linesIterator.filter(_.contains("Generate")).mkString("\n")}")
    assert(!p90.contains("CartesianProduct") && !p90.contains("BroadcastNestedLoopJoin"))
  }

  test("NFC normalization and page-meta extraction are pure map-side projections") {
    for (q <- Seq("q107_nfc_normalize", "q108_page_meta")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle")
      assert(!p.contains("Generate "), s"$q must not explode")
    }
  }

  test("deterministic shuffle: one exchange on the shard key, shard-local window") {
    val p = plan("q105_shuffle_shards")
    assert("Exchange hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      "the one shuffle must key on shard")
    assert("Exchange".r.findAllIn(p).size == 1, "exactly one exchange")
    // the window partitions by shard — a global (empty-partition) window
    // would be the 100 TB killer this operator exists to avoid
    assert("Window \\[.*shard".r.findFirstIn(p).isDefined, "window must partition by shard")
  }

  test("epoch mix: rates broadcast back, corpus never sort-merges, one explode") {
    val p = plan("q106_epoch_mix")
    assert(p.contains("BroadcastHashJoin"), "rates must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus must not sort-merge")
    assert("(?m)^\\s*[+:]?-? *Generate ".r.findAllIn(p).size == 1,
      "exactly one explode (the epoch sequence)")
  }

  test("pagerank feeder: one explode, edge shuffles key on domains, no cartesian") {
    // q113's returned frame is a checkpoint leaf (the iterate materializes
    // per round), so the pin targets the page-scale feeder pipeline — the
    // part whose plan must stay map-side until the edge distinct
    val pages = SparkEntry.linkedHtmlDocuments(spark, dir)
    val edges = graft.operators.LinkGraph.domainEdges(
      graft.operators.LinkGraph.extractOutlinks(pages))
    val p = edges.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // every exchange keys on the domain pair — html/text never shuffle
    val keys = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toSeq
    assert(keys.nonEmpty && keys.forall(k => !k.contains("html") && !k.contains("text")),
      s"an exchange keys on page content:\n${keys.mkString("\n")}")
    assert("(?m)^\\s*[+:|\\- ]*Generate ".r.findAllIn(p).size == 1,
      "exactly one explode (the href extraction)")
    // the distinct partial-aggregates below its exchange (map-side collapse)
    assert("HashAggregate\\(keys=\\[src_domain[^\\]]*\\]".r.findAllIn(p).size >= 2,
      "edge distinct must partial-aggregate map-side")
  }

  test("passage retrieval: query vectors broadcast, no cartesian, top-k group-limited") {
    val p = plan("q153_passage_retrieval")
    // the bucket join must build on the (tiny) query side — a shuffle on
    // the ≤|buckets| key would funnel the corpus through ≤256 reducers
    assert(p.contains("BroadcastHashJoin"), "query vectors must broadcast")
    assert(!p.contains("CartesianProduct"), "no all-pairs scoring")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must prune below the exchange")
  }

  test("crawl traps: in-row signals shuffle-free, one census aggregate, no window") {
    val p = plan("q151_crawl_traps")
    assert(!p.contains("Window ["), "trap flags must not window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the template census is the ONLY exchange family (count-distinct is
    // two-phase: template and template+url keys), plus the join back
    val keys = "Exchange hashpartitioning\\(([^,]*)".r.findAllIn(p).matchData
      .map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.contains("__tpl")),
      s"every exchange must key on the template census:\n${keys.mkString("\n")}")
  }

  test("recrawl schedule: snapshots collapse per URL below the diff join") {
    val q = SparkEntry.queries("q134_recrawl_schedule")(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    // the r9 quadratic: raw snapshot rows fanned d^2 through the
    // full-outer join; the per-URL min-hash aggregates must sit below it.
    // (Catalyst legally narrows the FullOuter to RightOuter under the
    // removed-URL null filter — accept either spelling.)
    assert(p.contains("FullOuter") || p.contains("RightOuter"), "diff join present")
    assert("(?:Hash|Sort)Aggregate\\(keys?=\\[__oid".r.findAllIn(p).size >= 2 &&
      "(?:Hash|Sort)Aggregate\\(keys?=\\[__nid".r.findAllIn(p).size >= 2,
      "both snapshot sides must aggregate per URL (partial+final) before joining")
    assert(!p.contains("Window ["), "no window anywhere in the schedule")
  }

  test("robust outliers: two window-free percentile passes") {
    val p = plan("q158_score_outliers")
    assert(!p.contains("Window ["), "median/MAD must be aggregates, not windows")
    assert("percentile".r.findAllIn(p.toLowerCase).nonEmpty, "exact percentile aggregate")
  }

  test("perceptual image dedup: 8-byte signatures band-join, no cartesian") {
    val p = plan("q149_image_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dHash pairs must come from the band equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "band equi-join present")
  }

  test("curation scorecard: flags join on doc_id only, no text shuffle") {
    val p = plan("q154_curation_scorecard")
    // every exchange must key on doc_id / an aggregation key, never raw text
    val keys = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toSeq
    assert(keys.nonEmpty && keys.forall(k => !k.contains("text#")),
      s"an exchange carries document text:\n${keys.mkString("\n")}")
  }

  test("language ID: gram ranking in-row (no gram aggregate), profiles broadcast") {
    val p = plan("q28_lang_id")
    // the doc's gram multiset must never be aggregated or windowed — the
    // codegen'd CharGramRank collapses it in-row before the one explode
    assert("(?m)Window \\[".r.findAllIn(p).size == 1,
      "only the argmin window may exist (no per-doc rank window)")
    assert(p.contains("char_gram_rank") || p.contains("chargramrank") ||
      p.contains("CharGramRank"), s"codegen'd gram ranking missing:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"), "profile table must broadcast")
  }

  test("binary top-k: both stages WindowGroupLimit, bits-only shuffle, no SMJ") {
    val p = plan("q240_binary_topk")
    // the Hamming shortlist prunes map-side (Partial before its
    // exchange); the rerank stage pays its own q_id exchange but moves
    // only the ≤ |Q|·rerank shortlist-joined rows — the corpus-scale
    // shuffle carries packed words, never floats
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"both ranking stages must prune via WindowGroupLimit:\n${p.take(1200)}")
    assert("Exchange hashpartitioning\\(q_id".r.findAllIn(p).size == 2,
      "one exchange per ranking stage — the second is shortlist-sized")
    // floats reach the rerank via broadcasts, never a shuffle join
    assert(!p.contains("SortMergeJoin"), "no float row may shuffle-join")
  }
}
