package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design (100 TB):
  *  - all vector math is `zip_with`/`aggregate` over array columns — native
  *    Catalyst expressions, map-side, no UDF;
  *  - brute-force top-k is the exact baseline: broadcast the (small) query
  *    set, stream the corpus once, per-query top-k via window rank. Cost is
  *    |Q| × |corpus| — right when |Q| is small or recall must be 1.0;
  *  - the scale path is LSH bucketing (random-hyperplane signatures):
  *    candidates share a signature bucket, so the join is an equi-join on the
  *    bucket key and cost tracks true neighbors, not n². Hyperplanes are
  *    derived deterministically from xxhash64 so executors need no broadcast
  *    state and reruns are reproducible.
  */
object Similarity {

  /** Codegen'd dot product (graft.functions.DotProduct) — the interpreted
    * zip_with/aggregate equivalent is ~20× slower on all-pairs joins. Float
    * inputs are widened to double per element inside the loop (exactly). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** (id, vector, norm) projection — norms computed once per ROW before any
    * pairwise join, so each pair costs a single dot-product loop plus one
    * division, not three. The vector stays float32: DotProduct widens each
    * element to double exactly, so results are bit-identical to a double-cast
    * array without the per-row conversion allocation. */
  private def withNorm(emb: DataFrame, suffix: String): DataFrame =
    emb.select(col("vec_id").as(s"id$suffix"), col("embedding").as(s"v$suffix"))
      .select(col(s"id$suffix"), col(s"v$suffix"), norm(col(s"v$suffix")).as(s"n$suffix"))

  /** Exact cosine near-duplicate pairs (id1 < id2, cosine >= threshold) by
    * full self-join. Quadratic — the verifier / small-corpus path; at scale
    * run lshBuckets first and verify only co-bucketed pairs. `cos_sim` is
    * rounded to 6 decimals so results are stable across engines' summation
    * orders. */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.9): DataFrame = {
    // r22: spread the STREAMED side. The verifier is O(n²) pair compute
    // against a broadcast build side, so its parallelism equals the left
    // side's partition count — for a single-file scan that is ONE task no
    // matter how many cores exist. A round-robin repartition of n rows is
    // free against n²/2 dot products at any scale, and it is
    // scale-adaptive (defaultParallelism), not a local-mode constant
    // (guide §2.5 input skew / §1.2). Values unchanged: same pairs, and
    // the sort-before-repartition keeps the assignment deterministic.
    val a = withNorm(emb, "1")
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
    val b = withNorm(emb, "2")
    val cos = round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
    // Both predicates inside the join condition, cheap id check FIRST: the
    // conjunction short-circuits, so the dot product runs only for the 50%
    // of pairs that pass the ordering — letting Catalyst push a separate
    // filter produces the reverse order and doubles the vector math.
    a.join(b, col("id1") < col("id2") && cos >= threshold)
      .select(col("id1"), col("id2"), cos.as("cos_sim"))
  }

  /** Exact brute-force top-k: for each query vector (vec_id in a small,
    * broadcastable query set), the k nearest corpus vectors by cosine.
    * Ordering is tie-free: (rounded cosine desc, neighbor id). */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = withNorm(emb, "1")
      .select(col("id1").as("n_id"), col("v1").as("nv"), col("n1").as("nn"))
    val queries = withNorm(emb.filter(col("vec_id").isin(queryIds: _*)), "2")
      .select(col("id2").as("q_id"), col("v2").as("qv"), col("n2").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
    corpus.join(broadcast(queries), col("q_id") =!= col("n_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rnk"))
  }

  /** Matryoshka-truncated exact top-k (Kusupati et al. 2022, MRL): rank
    * with only the FIRST `dims` embedding components, renormalized — the
    * coarse-to-fine serving trick for encoders trained with nested
    * losses, where a prefix of the vector is itself a valid embedding at
    * 1/(d/dims) the memory and FLOPs. Pure composition: slice the
    * column, then [[bruteForceTopK]]'s verified kernel (per-slice norms,
    * broadcast queries, round-6 cosine, WindowGroupLimit top-k) — at
    * scale the slice also shrinks the shuffle/broadcast payload by the
    * same factor. Rank-agreement vs the full-dim ranking is the
    * caller-side quality check (compare against [[bruteForceTopK]]). */
  def matryoshkaTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    bruteForceTopK(
      emb.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding")),
      queryIds, k)
  }

  /** Margin-based BITEXT candidate mining — the LASER/CCMatrix criterion
    * (Artetxe & Schwenk 2019 "ratio" margin, "max" strategy): for every
    * source-language vector x, its best target-language pair y by
    * margin(x, y) = cos(x, y) / ((avgTopK_x + avgTopK_y) / 2) — raw
    * cosine over-selects hub vectors that sit close to EVERYTHING, the
    * margin normalizes each side by its own neighborhood density. Emits
    * (src_id, tgt_id, cos_e6, margin_e6) where margin_e6 ≥ `minMarginE6`
    * (CCMatrix mines at ≈ 1.06).
    *
    * Determinism: cosines round to 6 (absorbing engine summation-order
    * ulps, the q24/q25 policy) then integerize to micro-units, so the
    * top-k sums and the margin are INTEGER arithmetic — margin_e6 =
    * cos_e6·2·kx·ky·10⁶ div (sx·ky + sy·kx) exactly, no float order
    * anywhere (the PQ-ADC policy). Candidates restrict to cos_e6 > 0 and
    * positive denominators so `div`'s truncation ≡ floor in any engine
    * (negative-similarity pairs are not bitext candidates).
    *
    * This is the EXACT path: the target side broadcasts (the [[
    * bruteForceTopK]] posture) and every (src, tgt) cosine computes once;
    * the per-side top-k prunes through WindowGroupLimit before either
    * aggregation. At serving scale the pair set comes from IVF/LSH
    * candidates instead (q47/q50 machinery) and the margin math is
    * unchanged. `langs` is (doc_id, lang) with doc_id ≡ vec_id. */
  def bitextMine(emb: DataFrame, langs: DataFrame, srcLang: String,
      tgtLang: String, k: Int = 4, minMarginE6: Long = 1000000L): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val lv = langs.select(col("doc_id").as("vec_id"), col("lang"))
    def side(lang: String, suffix: String) =
      withNorm(emb.join(lv.filter(col("lang") === lang), "vec_id"), suffix)
    val src = side(srcLang, "1")
      .select(col("id1").as("src_id"), col("v1").as("sv"), col("n1").as("sn"))
    val tgt = side(tgtLang, "2")
      .select(col("id2").as("tgt_id"), col("v2").as("tv"), col("n2").as("tn"))
    val cosE6 = round(round(dot(col("sv"), col("tv")) / (col("sn") * col("tn")), 6)
      * 1000000.0, 0).cast("long")
    val pairs = src.crossJoin(broadcast(tgt))
      .select(col("src_id"), col("tgt_id"), cosE6.as("cos_e6"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("cos_e6").desc, col("tgt_id"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("tgt_id").orderBy(col("cos_e6").desc, col("src_id"))
    val fwdK = pairs.withColumn("__rf", row_number().over(wf)).filter(col("__rf") <= k)
    val sx = fwdK.groupBy("src_id")
      .agg(sum("cos_e6").as("sx"), count(lit(1)).as("kx"))
    val sy = pairs.withColumn("__rb", row_number().over(wb)).filter(col("__rb") <= k)
      .groupBy("tgt_id").agg(sum("cos_e6").as("sy"), count(lit(1)).as("ky"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("margin_e6").desc, col("tgt_id"))
    fwdK.join(sx, "src_id").join(sy, "tgt_id")
      .filter(col("cos_e6") > 0 &&
        col("sx") * col("ky") + col("sy") * col("kx") > 0)
      .withColumn("margin_e6",
        expr("(cos_e6 * 2 * kx * ky * 1000000) div (sx * ky + sy * kx)"))
      .withColumn("__rr", row_number().over(wBest)).filter(col("__rr") === 1)
      .filter(col("margin_e6") >= minMarginE6)
      .select(col("src_id"), col("tgt_id"), col("cos_e6"), col("margin_e6"))
  }

  /** Random-hyperplane LSH signature: `numPlanes` sign bits packed into a
    * long. Vectors with equal signatures are near-certain neighbors;
    * probing is a plain equi-join on `bucket`. Codegen'd
    * (graft.functions.HyperplaneSignature) — the interpreted HOF formulation
    * below re-enters the lambda interpreter numPlanes times per row.
    * `seedOffset` selects an independent plane family per LSH table. */
  def lshSignature(v: Column, numPlanes: Int = 12, seedOffset: Int = 0): Column =
    graft.functions.VectorFunctions.hyperplane_signature(v, numPlanes, seedOffset)

  /** Deterministic pseudo-random hyperplane component: plane j, dimension i
    * → a value in [-1, 1), derived from xxhash64 so it needs no state.
    * Retained with [[lshSignatureInterpreted]] ONLY as the independent
    * reference formulation for the codegen parity test. */
  private def planeComponent(j: Int, i: Column): Column =
    (pmod(xxhash64(lit(j), i), lit(2000L)).cast("double") - 1000.0) / 1000.0

  /** Interpreted HOF reference for [[lshSignature]] (seedOffset 0); see
    * ExpressionsSpec's parity test. */
  private[graft] def lshSignatureInterpreted(v: Column, numPlanes: Int): Column = {
    val planeDots = (0 until numPlanes).map { j =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => x.cast("double") * planeComponent(j, i)),
        lit(0.0), (acc, x) => acc + x)
    }
    (0 until numPlanes).map(j => when(planeDots(j) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
  }

  /** Bucketed corpus×corpus near-duplicate pairs — the 100 TB path that
    * [[nearDupPairs]] (the quadratic exact verifier) is NOT: `numTables`
    * independent hyperplane-LSH tables of `planesPerTable` sign bits each,
    * a plain EQUI-join on (table, signature) to generate candidates, then an
    * exact-cosine rerank of candidates only. Catalyst plans the candidate
    * join as a shuffle join on the bucket key — never a
    * BroadcastNestedLoopJoin — so the work distributes across executors and
    * tracks the number of true collisions, not n².
    *
    * Recall math (hyperplane LSH): a pair at cosine c agrees on one plane
    * with p = 1 - acos(c)/π, on a whole table with p^b, and is missed by all
    * tables with (1-p^b)^T. Defaults (b=8, T=14) give ≥99% recall at c≥0.9 —
    * the training-data near-dup regime. For LOW thresholds (c≈0.4, p≈0.63)
    * completeness forces b=1..2 and the candidate volume approaches n²/2^b×T:
    * LSH cannot beat brute force when "near" duplicates are barely
    * correlated — use [[nearDupPairs]] there, or raise the threshold.
    * Signatures are xxhash64-derived (graft.functions.HyperplaneSignature):
    * deterministic, no broadcast plane state, table t uses plane family
    * [t*b, (t+1)*b).
    */
  def lshNearDupPairs(
      emb: DataFrame, threshold: Double = 0.9,
      planesPerTable: Int = 8, numTables: Int = 14): DataFrame = {
    val cands = lshNearDupCandidates(emb, planesPerTable, numTables)
    val v1 = withNorm(emb, "1")
    val v2 = withNorm(emb, "2")
    val cos = round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
    cands.join(v1, "id1").join(v2, "id2")
      .select(col("id1"), col("id2"), cos.as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Candidate (id1 < id2) pairs for [[lshNearDupPairs]] — the equi-join
    * bucket collision stage without the exact rerank, exposed so callers
    * (completeness probes) can measure candidate volume against n²/2:
    * the number that decides whether the LSH shape is winning on a given
    * corpus. `planesPerTable` is the corpus-dependent
    * knob — per-table collision for a background pair at cosine c is
    * (1 - acos(c)/π)^b, so corpora whose unrelated pairs are already
    * correlated (this testdata's background sits at cos ≈ 0.5) need wider
    * tables (b=16) to keep candidates ≪ n² than an orthogonal-background
    * corpus would (b=8). */
  def lshNearDupCandidates(
      emb: DataFrame, planesPerTable: Int = 8, numTables: Int = 14): DataFrame = {
    val b = planesPerTable
    val bucketed = emb.select(col("vec_id").as("id"),
      posexplode(array((0 until numTables).map(t =>
        lshSignature(col("embedding"), b, seedOffset = t * b)): _*)))
      .select(col("id"), col("pos").as("tbl"), col("col").as("sig"))
    // candidate ids only — vectors are re-joined AFTER the distinct, so the
    // dedup shuffle carries two longs per candidate, never the embeddings
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** IVF (inverted-file) approximate top-k — the cell-probing alternative to
    * [[lshTopK]]: partition the corpus into `nCells` Voronoi cells around
    * centroid vectors, then search only the `nProbe` cells nearest each
    * query. Recall < 1.0 by construction (a true neighbor can live in an
    * unprobed cell); nProbe/nCells trades recall against scanned fraction
    * (~nProbe/nCells of the corpus per query).
    *
    * Centroids start as a DETERMINISTIC hash-seeded sample of the corpus
    * (the `nCells` vectors with smallest xxhash64(vec_id)) — reproducible
    * with zero training passes — optionally refined by `lloydIterations`
    * rounds of Lloyd's algorithm: re-assign every vector to its nearest
    * centroid (the same broadcast-join + map-side argmax as serving), then
    * move each centroid to its cell's element-wise mean. The mean's
    * direction is what matters (cosine is scale-invariant, so the spherical
    * k-means normalization step is a no-op here); cells that drain empty
    * keep their previous centroid. Per iteration: one broadcast join + one
    * explode/average aggregation + an nCells×dim driver collect (centroid
    * TRAINING state, ~KBs — the serving path stays fully distributed).
    *
    * 100 TB shape: centroids broadcast (tiny); assignment is one map-side
    * broadcast join + partial-aggregated argmax per vector (no shuffle of
    * vectors beyond the cell-id attach); the probe is an equi-join on
    * cell id, so per-query work tracks probed-cell sizes, not the corpus. */
  /** Hash-seeded deterministic centroid pick shared by every IVF entry
    * point (same seeding ⇒ an index built by [[writeIvfIndex]] probes
    * exactly like a fresh [[ivfTopK]] run). */
  private def seededCentroids(emb: DataFrame, nCells: Int): DataFrame =
    emb.select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      .withColumn("h", xxhash64(col("cent_id")))
      .orderBy(col("h"), col("cent_id")).limit(nCells).drop("h")
      .select(col("cent_id"), col("cv"), norm(col("cv")).as("cn"))

  private def ivfCorpusSide(emb: DataFrame): DataFrame =
    withNorm(emb, "1")
      .select(col("id1").as("n_id"), col("v1").as("nv"), col("n1").as("nn"))

  /** Nearest centroid per corpus vector: broadcast the centroids, argmax by
    * (cosine, cent_id) via max_by — partial-aggregates map-side, so the only
    * shuffled payload is (n_id, cell). */
  private def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val centCos = round(dot(col("nv"), col("cv")) / (col("nn") * col("cn")), 6)
    corpus.join(broadcast(cents))
      .withColumn("ccos", centCos)
      .groupBy("n_id")
      .agg(max_by(col("cent_id"), struct(col("ccos"), col("cent_id"))).as("cell"))
  }

  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydIterations: Int = 0): DataFrame = {
    val cents0 = seededCentroids(emb, nCells)
    val corpus = ivfCorpusSide(emb)
    def assign(cents: DataFrame): DataFrame = assignCells(corpus, cents)
    val cents = if (lloydIterations <= 0) cents0 else {
      import emb.sparkSession.implicits._
      // training touches the corpus 2L times (per-iteration assignment +
      // mean) — cache it for the loop so each touch reads materialized
      // (id, vector, norm) rows instead of re-running the scan + norm
      // projection; unpersisted right after the loop (serving pays one
      // re-scan rather than leaking a cached corpus into the session)
      corpus.cache()
      // double-cast once so refined centroids keep one element type; the
      // widening is exact, so iteration 0's assignment matches cents0's
      var cur: Map[Long, Seq[Double]] = cents0
        .select(col("cent_id"), transform(col("cv"), x => x.cast("double")).as("cv"))
        .as[(Long, Seq[Double])].collect().toMap
      def df(m: Map[Long, Seq[Double]]): DataFrame =
        m.toSeq.sortBy(_._1).toDF("cent_id", "cv")
          .select(col("cent_id"), col("cv"), norm(col("cv")).as("cn"))
      try {
        for (_ <- 1 to lloydIterations) {
          val means = corpus.join(assign(df(cur)), "n_id")
            .select(col("cell"), posexplode(col("nv")))
            .groupBy("cell", "pos").agg(avg("col").as("m"))
            .collect()
          cur = cur ++ means.groupBy(_.getLong(0)).map { case (cell, rows) =>
            val arr = cur(cell).toArray
            // a null mean (all-null embedding elements in the cell/pos
            // group) keeps the previous coordinate instead of NPE-ing training
            rows.foreach(r => if (!r.isNullAt(2)) arr(r.getInt(1)) = r.getDouble(2))
            cell -> arr.toSeq
          }
        }
      } finally corpus.unpersist(blocking = false)
      df(cur)
    }
    val assigned = assign(cents)
    val corpusCells = corpus.join(assigned, "n_id")
    // nProbe nearest centroids per query (queries are few — window is fine)
    val queries = withNorm(emb.filter(col("vec_id").isin(queryIds: _*)), "2")
      .select(col("id2").as("q_id"), col("v2").as("qv"), col("n2").as("qn"))
    // tie-break toward the LARGER cent_id, matching the assignment's max_by
    // on (ccos, cent_id) — with mismatched tie-breaks an exact-duplicate
    // query probes a different cell than its twin was assigned to
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pcos").desc, col("cent_id").desc)
    val probes = queries.join(broadcast(cents))
      .withColumn("pcos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("cent_id").as("cell"))
    // probe: equi-join on cell, exact cosine rerank, top-k per query
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
    corpusCells.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rnk"))
  }

  /** Persist a build-once/probe-many IVF index — the SERVING shape of
    * [[ivfTopK]] at 100 TB: the expensive pass (corpus-wide centroid
    * assignment) runs ONCE at build time; every later probe reads only its
    * cells. Layout:
    *
    *  - `path/centroids`: the nCells (cent_id, cv) rows — KBs, one file;
    *  - `path/cells`: the corpus Hive-PARTITIONED by cell with the row
    *    norm precomputed — a probe's `cell IN (...)` filter prunes whole
    *    directories at PLANNING time (`PartitionFilters` in the scan,
    *    zero I/O for unprobed cells — nProbe/nCells of the corpus read,
    *    which is the entire point of an inverted-file index).
    *
    * Centroid seeding is the shared deterministic hash pick, so
    * [[ivfTopKFromIndex]] answers match a fresh [[ivfTopK]] run on the
    * same corpus bit for bit (IvfIndexSpec pins the equality). */
  def writeIvfIndex(emb: DataFrame, path: String, nCells: Int = 16): Unit = {
    val cents = seededCentroids(emb, nCells)
    cents.select("cent_id", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val corpus = ivfCorpusSide(emb)
    corpus.join(assignCells(corpus, cents), "n_id")
      .select(col("n_id").as("vec_id"), col("nv").as("embedding"),
        col("nn").as("vnorm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Product-quantized ANN (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search") — the memory-bound serving shape: each
    * vector compresses to `m` one-byte codes (one per subspace, argmin-L2
    * against a ksub-entry sub-codebook), and query distance is the
    * ASYMMETRIC sum of per-subspace lookup-table entries — the corpus's
    * floats are never touched at query time. At 100 TB this is the
    * difference between scanning 256 GB of codes and 100 TB of vectors;
    * compose with the IVF cells for IVF-PQ (coarse cell prune, then code
    * scan inside probed cells).
    *
    * Codebooks here are SEEDED (the md5-ordered pick, one per subspace —
    * the [[ivfTopK]] `lloydIterations = 0` posture): fully deterministic
    * and engine-portable, so the ENTIRE path — codebook selection, encode
    * argmin, LUT, ADC top-k — replays in SQL as an exact oracle. Lloyd
    * refinement of sub-codebooks changes recall, not shape, and is pinned
    * by the recall unit test instead.
    *
    * Determinism: all distances pass the repo float policy — round(·, 6)
    * then scale to exact integer micro-units (`*1e6`, round, BIGINT), so
    * every comparison, tie-break (cid / n_id asc), and the ADC SUM (m
    * integer terms — associative, order-free) is integer-exact in both
    * engines. Output: (q_id, n_id, approx_dist_e6, rnk).
    *
    * 100 TB shape: the codebook (m·ksub rows) broadcasts; encode is one
    * broadcast join + map-side partial min_by, shuffling (n_id, sub,
    * code)-sized rows only; ADC is a broadcast LUT join + an integer-sum
    * aggregate that partial-aggregates map-side. Trailing dims when
    * d % m != 0 are ignored identically on both sides (floor division). */
  private def pqCast(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def pqSubSlice(m: Int)(v: Column): Column = {
    val dsub = (size(v) / m).cast("int")
    slice(v, col("sub") * dsub + 1, dsub)
  }

  /** Integer micro-unit L2²: dot-product decomposition so the oracle's
    * list_inner_product spelling follows the same composition. */
  private def pqD6(a: Column, b: Column): Column =
    round(round(dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b), 6) * 1e6, 0).cast("long")

  /** md5-seeded sub-codebooks: (sub, cid, cv).
    *
    * r22: seed selection is `orderBy(...).limit(ksub)` — Spark plans it as
    * a parallel TakeOrderedAndProject (per-partition top-k, merged on the
    * driver) — instead of the previous corpus-wide one-partition
    * row_number window (a real serial point at scale: every vector moved
    * to one task to keep ksub of them). The selected set is IDENTICAL:
    * (__h, vec_id) is a total order (vec_id unique), so "row_number ≤
    * ksub" ≡ "limit ksub" on the same sort; the row_number that assigns
    * cid now runs over the ksub-row result — a bounded global window, the
    * q64-vocabulary posture. */
  private def pqCodebookDf(e: DataFrame, m: Int, ksub: Int): DataFrame = {
    val seedW = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col("vec_id"))
    broadcast(
      e.withColumn("__h", md5(col("vec_id").cast("string")))
        .orderBy(col("__h"), col("vec_id")).limit(ksub)
        .withColumn("cid", row_number().over(seedW) - 1)
        .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
        .select(col("sub"), col("cid"), pqSubSlice(m)(col("v")).as("cv")))
  }

  /** PQ encode: (n_id, sub, code) — argmin-L2 per subspace, map-side
    * partial min_by. */
  private def pqCodesDf(e: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    e.withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .select(col("vec_id").as("n_id"), col("sub"), pqSubSlice(m)(col("v")).as("nv"))
      .join(codebook, "sub")
      .withColumn("__d6", pqD6(col("nv"), col("cv")))
      .groupBy("n_id", "sub")
      .agg(min_by(col("cid"), struct(col("__d6"), col("cid"))).as("code"))

  /** Per-query ADC lookup table: (q_id, sub, cid, qd6). */
  private def pqLutDf(eq: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    eq.withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .select(col("vec_id").as("q_id"), col("sub"), pqSubSlice(m)(col("v")).as("qv"))
      .join(codebook, "sub")
      .select(col("q_id"), col("sub"), col("cid"), pqD6(col("qv"), col("cv")).as("qd6"))

  private def pqRank(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("approx_dist_e6"), col("n_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("approx_dist_e6"), col("rnk"))
  }

  def pqTopKSeeded(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 4, ksub: Int = 16): DataFrame = {
    require(m > 0 && ksub > 0 && k > 0, s"m, ksub, k must be positive, got $m, $ksub, $k")
    val e = pqCast(emb)
    val codebook = pqCodebookDf(e, m, ksub)
    val codes = pqCodesDf(e, codebook, m)
    val lut = pqLutDf(e.filter(col("vec_id").isin(queryIds: _*)), codebook, m)
    pqRank(
      codes.join(broadcast(lut),
          codes("sub") === lut("sub") && codes("code") === lut("cid"))
        .filter(col("q_id") =!= col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(sum(col("qd6")).as("approx_dist_e6")), k)
  }

  /** IVF-PQ — the production composition: the IVF coarse quantizer prunes
    * the corpus to the nProbe cells nearest each query, then [[pqTopKSeeded]]'s
    * integer ADC ranks only the code rows inside those cells. At 100 TB the
    * cells bound the I/O (partition pruning) and the codes bound the memory
    * (m bytes/vector) — the two levers compose, neither touches corpus
    * floats at query time. nProbe = nCells provably degenerates to plain PQ
    * over the whole corpus (every cell probed → every candidate scored →
    * q111's oracle gates this operating point too); recall at nProbe ≪
    * nCells is pinned by the unit suite, including the invariant that an
    * exact duplicate always lands in the same cell as its original and so
    * is NEVER pruned away at any nProbe ≥ 1. */
  def ivfPqTopKSeeded(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 4, ksub: Int = 16): DataFrame = {
    require(nCells > 0 && nProbe > 0, s"nCells, nProbe must be positive, got $nCells, $nProbe")
    val e = pqCast(emb)
    val cents = seededCentroids(emb, nCells)
    val cellOf = assignCells(ivfCorpusSide(emb), cents)
    val codebook = pqCodebookDf(e, m, ksub)
    val codes = pqCodesDf(e, codebook, m)
    // coarse probe: nProbe nearest centroids per query, ivfTopKFromIndex's
    // exact ranking rule
    val q = withNorm(emb.filter(col("vec_id").isin(queryIds: _*)), "2")
      .select(col("id2").as("q_id"), col("v2").as("qv"), col("n2").as("qn"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pcos").desc, col("cent_id").desc)
    val probes = q.join(broadcast(cents))
      .withColumn("pcos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("cent_id").as("cell"))
    val lut = pqLutDf(e.filter(col("vec_id").isin(queryIds: _*)), codebook, m)
      .withColumnRenamed("q_id", "lq_id").withColumnRenamed("sub", "lsub")
    val cand = codes.join(cellOf.select(col("n_id"), col("cell")), "n_id")
      .join(broadcast(probes), "cell")
    pqRank(
      cand.join(broadcast(lut),
          cand("q_id") === lut("lq_id") && cand("sub") === lut("lsub") &&
            cand("code") === lut("cid"))
        .filter(col("q_id") =!= col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(sum(col("qd6")).as("approx_dist_e6")), k)
  }

  /** Fold a new batch of vectors into a [[writeIvfIndex]] layout — the IVF
    * sibling of `Dedup.appendToMinHashIndex`, continuous ingest's missing
    * half on the embedding side: batch N's vectors join the cells batch
    * N+1 probes WITHOUT touching any existing row (per-append cost ∝
    * batch, not corpus). Centroids are FROZEN — assignment uses the
    * index's own persisted centroids, so a probe against the appended
    * layout is equal BY CONSTRUCTION to a probe against a one-shot build
    * that used the same centroids; an append never moves cells (re-train
    * by rebuilding when distribution drift matters — the standard IVF
    * operating posture). Idempotent: vec_ids already present skip via a
    * driver-free anti-join on ids (never vectors); the batch materializes
    * before the write because the append's anti-join reads the directory
    * being appended to. */
  def appendToIvfIndex(newEmb: DataFrame, path: String): Unit =
      graft.util.MaintenanceLease.withWriterLease(path, "appendToIvfIndex") {
    val spark = newEmb.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id"), col("cv"), norm(col("cv")).as("cn"))
    val existing = spark.read.parquet(s"$path/cells")
      .select(col("vec_id").as("n_id")).distinct()
    // eager localCheckpoint (the appendToInvertedIndex posture, NOT
    // persist): the fresh set reads the very directory the write below
    // appends to, and persist keeps lineage — an evicted partition would
    // recompute the anti-join MID-append against a half-written layout.
    // The checkpoint truncates lineage so the batch is a plan leaf before
    // the first new file lands.
    val batch = ivfCorpusSide(newEmb.dropDuplicates("vec_id"))
      .join(existing, Seq("n_id"), "left_anti").localCheckpoint()
    // finally: a failed append (disk full, permissions) must still release
    // the eagerly-materialized batch, or its blocks pin executor storage
    // for the rest of the session
    try
      batch.join(assignCells(batch, cents), "n_id")
        .select(col("n_id").as("vec_id"), col("nv").as("embedding"),
          col("nn").as("vnorm"), col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
    finally Dedup.releaseLocalCheckpoint(batch)
  }

  /** COMPACT a [[writeIvfIndex]] layout's cells to ONE file per cell —
    * the IVF sibling of `TextAnalysis.compactInvertedIndex`:
    * [[appendToIvfIndex]] adds a file per touched cell per batch, so a
    * long-running ingest fragments every probe's cell scan into
    * per-batch small files. Rows and centroids are untouched (probe ≡
    * pre-compaction probe — q229 proves it under the brute-force
    * oracle); only the file layout collapses. Same temp-dir + two-rename
    * swap and stopped-writer window as the postings compaction. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = graft.util.MaintenanceLease.withLease(
      path, "compactIvfIndex") {
    import graft.util.Fs
    val nCells = spark.read.parquet(s"$path/centroids").count().toInt
    val tmp = s"$path/cells_compact_tmp"
    Fs.rmTree(tmp)
    spark.read.parquet(s"$path/cells")
      .repartition(math.max(nCells, 1), col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmp)
    val live = s"$path/cells"
    val old = s"$path/cells_old"
    Fs.rmTree(old)
    Fs.move(live, old)
    Fs.move(tmp, live)
    Fs.rmTree(old)
  }

  /** DELETE vectors from a [[writeIvfIndex]] layout — the
    * right-to-be-forgotten pass for the ANN serving artifact (the
    * posting-list sibling is `TextAnalysis.deleteFromInvertedIndex`).
    * Contract: delete ≡ rebuild-without — the deleted vec_ids' cell rows
    * vanish while centroids stay FROZEN (the [[appendToIvfIndex]]
    * posture: assignment geometry never moves under ingest OR deletion,
    * so probes before and after agree on every surviving vector; q236
    * proves the probe equals brute force over only the survivors).
    * I/O is O(touched cells): only cell dirs holding a deleted vector
    * rewrite, ≤ 1 per deleted vector. Crash protocol = the postings
    * delete's (`TextAnalysis.deleteFromInvertedIndex`): displaced cell
    * dirs park OUTSIDE the live tree in `cells_old_del/` until the new
    * state is fully installed, a parked dir blocks a fresh run loudly,
    * and uniform recovery is move-the-park-back + rm tmp + retry. Same
    * stopped-writer window as [[compactIvfIndex]], probes paused. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, deleteIds: DataFrame): Unit = {
    import graft.util.Fs
    // parked-dir precondition BEFORE the lease (see the MinHash delete)
    val parked = s"$path/cells_old_del"
    require(!Fs.exists(parked),
      s"$parked exists — a prior delete crashed mid-swap; restore its cell " +
        "dirs into cells/ (the pre-delete state) before retrying")
    graft.util.MaintenanceLease.withLease(path, "deleteFromIvfIndex") {
    // localCheckpoint, not persist — the deletion set naturally derives
    // FROM the index (the appendToIvfIndex hazard)
    val ids = deleteIds.select("vec_id").distinct().localCheckpoint()
    try {
      val cells = spark.read.parquet(s"$path/cells")
      // bounded collect: ≤ nCells values by construction (the partition
      // column reads back as int — cast like the probe does)
      val touched = cells.join(ids, Seq("vec_id"), "left_semi")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      if (touched.nonEmpty) {
        val tmp = s"$path/cells_delete_tmp"
        Fs.rmTree(tmp)
        cells.filter(col("cell").isin(touched.toSeq: _*))
          .join(ids, Seq("vec_id"), "left_anti")
          .repartition(touched.length, col("cell"))
          .write.partitionBy("cell").mode("overwrite").parquet(tmp)
        Fs.mkdirs(parked)
        touched.foreach { c =>
          Fs.move(s"$path/cells/cell=$c", s"$parked/cell=$c")
        }
        touched.foreach { c =>
          val next = s"$tmp/cell=$c"
          // a cell fully emptied by the deletion has no rewritten dir
          if (Fs.isDir(next)) Fs.move(next, s"$path/cells/cell=$c")
        }
        // install complete — seal + marker-last teardown (r20 review #1)
        graft.util.MaintenanceLease.sealAndDismantlePark(parked)
        Fs.rmTree(tmp)
      }
    } finally { graft.operators.Dedup.releaseLocalCheckpoint(ids) }
    }
  }

  /** Probe a persisted [[writeIvfIndex]] index: rank centroids per query
    * (broadcast — KBs), collect the probed cell ids (≤ |queries|·nProbe,
    * driver-bounded like the hot-gram set), and scan ONLY those cell
    * directories via the partition-column IN filter. Rerank and tie-breaks
    * are [[ivfTopK]]'s exactly. `queries` is any (vec_id, embedding) frame —
    * the indexed corpus itself or fresh vectors. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id"), col("cv"), norm(col("cv")).as("cn"))
    val q = withNorm(queries, "2")
      .select(col("id2").as("q_id"), col("v2").as("qv"), col("n2").as("qn"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pcos").desc, col("cent_id").desc)
    val probes = q.join(broadcast(cents))
      .withColumn("pcos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("cent_id").as("cell"))
    val probedCells = probes.select("cell").distinct().collect().map(_.getLong(0))
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .withColumn("cell", col("cell").cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        round(dot(col("qv"), col("embedding")) / (col("qn") * col("vnorm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rnk"))
  }

  /** Approximate kNN GRAPH — top-k neighbors for every query vector (all
    * vectors, or the subset passing `queryPred`) via the same IVF cell
    * blocking as [[ivfTopK]], but with a query side that SCALES WITH THE
    * CORPUS: probes join corpus cells by an equi-join on the cell id
    * (never broadcast — [[ivfTopK]] broadcasts its few queries; a graph's
    * queries are the corpus). Candidate volume is n·nProbe/nCells of the
    * quadratic all-pairs cost; recall < 1.0 when nProbe < nCells (a true
    * neighbor can live in an unprobed cell — OperatorsSpec pins the
    * full-probe == brute-force equality and the production-probe recall).
    *
    * The graph feeds graph-based diversity/dedup passes (connected
    * components over `cos_sim >= t` edges reuses [[graft.operators.Dedup]]'s
    * pointer-doubling CC verbatim).
    *
    * 100 TB shape: centroids broadcast twice (assignment + probe ranking,
    * both map-side); one shuffle keys the corpus by cell, one keys the
    * probes by cell; the rerank window partial-prunes via WindowGroupLimit.
    * Tie-breaks match [[ivfTopK]]: probe ranking toward the LARGER cent_id
    * (mirroring the assignment argmax), rerank by (cos desc, n_id). */
  def knnGraph(emb: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4,
      queryPred: Column = lit(true)): DataFrame = {
    val cents = emb
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      .withColumn("h", xxhash64(col("cent_id")))
      .orderBy(col("h"), col("cent_id")).limit(nCells).drop("h")
      .select(col("cent_id"), col("cv"), norm(col("cv")).as("cn"))
    val corpus = withNorm(emb, "1")
      .select(col("id1").as("n_id"), col("v1").as("nv"), col("n1").as("nn"))
    val assigned = corpus.join(broadcast(cents))
      .withColumn("ccos", round(dot(col("nv"), col("cv")) / (col("nn") * col("cn")), 6))
      .groupBy("n_id")
      .agg(max_by(col("cent_id"), struct(col("ccos"), col("cent_id"))).as("cell"))
    val corpusCells = corpus.join(assigned, "n_id")
    val queries = withNorm(emb.filter(queryPred), "2")
      .select(col("id2").as("q_id"), col("v2").as("qv"), col("n2").as("qn"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pcos").desc, col("cent_id").desc)
    val probes = queries.join(broadcast(cents))
      .withColumn("pcos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("cent_id").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
    corpusCells.join(probes, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rnk"))
  }

  /** Cluster-balanced sampling — the semantic-diversity selection stage of
    * an embedding pipeline: assign every vector to its nearest of `nClusters`
    * anchor vectors (the lowest-`vec_id` rows — deterministic and
    * SQL-reproducible, unlike a seeded k-means), then keep the `perCluster`
    * best-aligned vectors per cluster. The output covers every region of
    * embedding space instead of letting one dense mode dominate the sample.
    * `rnk` is the within-cluster rank by (cosine desc, vec_id) — ties in
    * rounded cosine and in assignment both break deterministically (the
    * assignment toward the LARGER anchor id, matching [[ivfTopK]]'s
    * convention).
    *
    * 100 TB shape: anchors broadcast; assignment is the same map-side
    * argmax as [[ivfTopK]] (`max_by` partial-aggregates, so the shuffle
    * carries (vec_id, cluster, cosine) — never the vectors); the per-cluster
    * top-`perCluster` is a row_number window that WindowGroupLimit prunes
    * map-side, so the `nClusters`-partition window never sees more than
    * perCluster rows per upstream partition. */
  def clusterBalancedSample(emb: DataFrame, nClusters: Int = 8,
      perCluster: Int = 10): DataFrame = {
    val assigned = assignToAnchors(emb, nClusters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= perCluster)
      .select("cluster_id", "vec_id", "cos_sim", "rnk")
  }

  /** Nearest-anchor assignment shared by [[clusterBalancedSample]] and
    * [[semanticDedup]]: anchors are the `nClusters` lowest-`vec_id` vectors
    * (deterministic and SQL-reproducible, unlike a seeded k-means — swap in
    * [[ivfTopK]]'s Lloyd centroids for production quality; the assignment
    * shape is identical). Anchors broadcast; `max_by` partial-aggregates so
    * the assignment shuffle carries (vec_id, cluster, cosine) — never the
    * vectors. Ties in rounded cosine break toward the LARGER anchor id,
    * matching [[ivfTopK]]'s convention. */
  private[graft] def assignToAnchors(emb: DataFrame, nClusters: Int): DataFrame = {
    val anchors = emb.orderBy("vec_id").limit(nClusters)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      .select(col("centroid_id"), col("cv"), norm(col("cv")).as("cn"))
    val corpus = withNorm(emb, "1")
    val ccos = round(dot(col("v1"), col("cv")) / (col("n1") * col("cn")), 6)
    corpus.join(broadcast(anchors))
      .withColumn("ccos", ccos)
      .groupBy(col("id1").as("vec_id"))
      .agg(max_by(struct(col("centroid_id"), col("ccos")), struct(col("ccos"), col("centroid_id")))
        .as("m"))
      .select(col("vec_id"), col("m.centroid_id").as("cluster_id"), col("m.ccos").as("cos_sim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic deduplication
    * by clustering then within-cluster cosine pruning: assign every vector to
    * its nearest anchor, then inside each cluster drop any vector that has a
    * LOWER-`vec_id` cluster-mate at cosine ≥ `threshold` (first-id-wins, the
    * same deterministic keep rule as the exact-dedup operators). Survivors
    * are `(vec_id, cluster_id)`.
    *
    * Compared to the global near-dup operators ([[nearDupPairs]],
    * [[lshNearDupPairs]]) this trades recall ACROSS cluster boundaries for a
    * pairwise step that is an equi-join on `cluster_id` — the paper's point:
    * semantic duplicates co-locate in embedding space, so clustering first
    * bounds the quadratic term by the largest cluster, not the corpus. At
    * 100 TB you raise `nClusters` so clusters stay executor-sized (the paper
    * uses 50k clusters for LAION); the pairwise join shape is unchanged.
    *
    * 100 TB shape: anchors broadcast; both pairwise sides shuffle once on
    * `cluster_id` (vectors shuffle here by necessity — the exact distances
    * need them); the dropped-id set is DISTINCT'd before a left_anti join
    * that carries only (vec_id, cluster_id). The assignment result is
    * cached — it feeds three consumers (both pairwise sides and the final
    * anti-join) and is 16 bytes/row, so recomputing the argmax three times
    * would triple the dominant cost for no memory savings. */
  def semanticDedup(emb: DataFrame, nClusters: Int = 8,
      threshold: Double = 0.99): DataFrame = {
    val assigned = assignToAnchors(emb, nClusters)
      .select(col("vec_id"), col("cluster_id")).cache()
    val vecs = withNorm(emb, "1")
    val members = assigned.join(vecs, col("vec_id") === col("id1"))
      .select(col("cluster_id"), col("vec_id"), col("v1"), col("n1"))
    val lower = members.select(col("cluster_id").as("c2"), col("vec_id").as("id2"),
      col("v1").as("v2"), col("n1").as("n2"))
    val cos = round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
    // equi-key first, then the cheap id predicate, then the dot product —
    // the conjunction short-circuits (same ordering rationale as
    // nearDupPairs); Catalyst extracts cluster_id = c2 as the hash-join key
    val dropped = members.join(lower,
        col("cluster_id") === col("c2") && col("id2") < col("vec_id") && cos >= threshold)
      .select(col("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster_id"))
  }

  /** Symmetric per-vector int8 quantization — the storage-compression stage
    * of an embedding pipeline (4× smaller than float32 at rest; the codes
    * column writes as `array<tinyint>`): scale = 127 / max|x_i|, code_i =
    * floor(x_i·scale + 0.5). floor(x+0.5) rather than a round() builtin
    * because its result is engine-portable — SQL round() half-away vs
    * banker's rounding would diverge on exact .5 boundaries. An all-zero
    * vector quantizes to scale 0 / all-zero codes. Pure map-side projection;
    * exact double arithmetic, so a SQL oracle hash-matches. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    // scale materializes as a COLUMN before the code lambda references it —
    // embedded directly, the array_max subtree would re-evaluate per
    // element (O(dim²) per row); as an attribute it's one multiply per
    // element (same CollapseProject idiom as TextAnalysis.withWords)
    val maxAbs = array_max(transform(col("__v"), x => abs(x)))
    emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("__v"))
      .select(col("vec_id"), col("__v"),
        when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(0.0).as("q_scale"))
      .select(col("vec_id"), col("q_scale"),
        transform(col("__v"), x => floor(x * col("q_scale") + 0.5).cast("byte")).as("codes"))
  }

  /** Inverse of [[quantizeInt8]]: codes/scale (zero scale → zero vector). */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c =>
      when(scale > 0.0, c.cast("double") / scale).otherwise(lit(0.0)))

  /** Exact brute-force top-k over the DEQUANTIZED int8 codes — the serving
    * path after storage compression. Cosine is scale-invariant per vector,
    * so quantization error is the only recall cost (≤ 0.4% per element at
    * int8); OperatorsSpec pins recall vs the float baseline. */
  def quantizedTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val deq = quantizeInt8(emb).select(col("vec_id"),
      dequantize(col("codes"), col("q_scale")).as("embedding"))
    bruteForceTopK(deq, queryIds, k)
  }

  /** 1-BIT (sign) quantization: dimension i contributes bit (i mod 32)
    * of word i/32, set iff x_i > 0 — each vector packs to ⌈d/32⌉ BIGINT
    * words, 32× smaller than float32 at rest (the binary-quantization
    * serving trend: store bits, rank by Hamming, rerank survivors with
    * the float vectors fetched for the shortlist only). 32 bits per
    * 64-bit word keeps every shift/sum in non-negative BIGINT range in
    * ANY engine (a bit-63 pack would need unsigned semantics). Pure
    * map-side projection; deterministic. */
  def quantizeBinary(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), expr(
      """transform(sequence(0, CAST(ceil(size(embedding) / 32.0) AS INT) - 1),
        |  w -> aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) ->
        |    acc + IF(w * 32 + i < size(embedding) AND embedding[w * 32 + i] > 0,
        |             shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))))"""
        .stripMargin).as("words"))

  /** Hamming distance between two [[quantizeBinary]] word arrays:
    * Σ bit_count(xor) — popcount over packed words, the whole reason
    * the bits pack (one xor + popcount per 32 dims instead of a float
    * multiply-add per dim). */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h)

  /** Two-stage binary-quantized top-k: Hamming over the packed sign
    * bits shortlists `rerank` candidates per query (ties by n_id), then
    * the float vectors rerank the shortlist by exact cosine — the
    * bits-in-memory / floats-on-shortlist serving split. The SHAPE is
    * the deliverable (both stages are the verified broadcast-join +
    * WindowGroupLimit kernel); recall vs [[bruteForceTopK]] is the
    * caller's quality knob via `rerank` (OperatorsSpec pins it at the
    * production point). Sign-bit Hamming is replayable as per-dimension
    * sign disagreement, so the full two-stage ranking — shortlist
    * membership, both tie-breaks — is SQL-oracle-exact (q240). */
  def binaryTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      rerank: Int = 20): DataFrame = {
    // stage 1 ships BITS ONLY — (n_id, packed words) through the Hamming
    // ranking, never the float vectors (the whole point of the split: a
    // float-carrying shortlist stage would shuffle 32× the payload)
    val packed = quantizeBinary(emb)
    val qPacked = packed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("words").as("qw"))
    val wHam = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("hamming"), col("n_id"))
    val shortlist = packed.select(col("vec_id").as("n_id"), col("words").as("nw"))
      .join(broadcast(qPacked), col("q_id") =!= col("n_id"))
      .withColumn("hamming", hammingDist(col("qw"), col("nw")))
      .withColumn("hr", row_number().over(wHam))
      .filter(col("hr") <= rerank)
      .select(col("q_id"), col("n_id"), col("hamming"))
    // stage 2 fetches floats for the ≤ |Q|·rerank survivors only: the
    // shortlist broadcasts against the corpus scan (map-side semi-ish
    // join — no float row ever shuffles), queries broadcast as always
    val corpus = withNorm(emb, "1")
      .select(col("id1").as("n_id"), col("v1").as("nv"), col("n1").as("nn"))
    val queries = withNorm(emb.filter(col("vec_id").isin(queryIds: _*)), "2")
      .select(col("id2").as("q_id"), col("v2").as("qv"), col("n2").as("qn"))
    val wCos = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
    corpus.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("hamming"), col("cos_sim"), col("rnk"))
  }

  /** Approximate top-k through LSH buckets: candidates are corpus vectors
    * sharing the query's bucket; exact cosine reranks within the bucket.
    * Recall < 1.0 by construction — the scale path when |Q| × |corpus| is
    * infeasible. Bucket count 2^numPlanes controls the recall/cost trade. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, numPlanes: Int = 8): DataFrame = {
    // norms precomputed per ROW (same rationale as bruteForceTopK) — cosine()
    // per pair would re-run both norm loops for every candidate
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      lshSignature(col("embedding"), numPlanes).as("bucket"))
      .select(col("vec_id"), col("embedding"), col("bucket"),
        norm(col("embedding")).as("nrm"))
    val corpus = bucketed.select(col("vec_id").as("n_id"), col("embedding").as("nv"),
      col("bucket"), col("nrm").as("nn"))
    val queries = bucketed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("bucket"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rnk"))
  }

  /** Hashed-lexical passage retrieval — the RAG retrieval stage without a
    * neural encoder: passages and queries become sparse hashed
    * term-frequency vectors (the DSIR md5-bucket feature space,
    * [[Selection.bucketOf]]), ranked per query by cosine in a fully
    * INTEGER form: cos²·10⁶ = dot²·10⁶ div (Σp²·Σq²). Squaring drops the
    * two square roots — counts are non-negative so dot ≥ 0 and cos² is
    * order-isomorphic to cos — which keeps the score exact in any engine
    * (no transcendental-ulp policy needed, unlike the float-vector paths).
    *
    * Input contracts: `passages` (doc_id, chunk_id, chunk_text) — e.g.
    * [[TextAnalysis.chunkDocuments]] output — and `queries`
    * (query_id, text). Output: top-`k` passages per query,
    * (query_id, doc_id, chunk_id, cos2_e6, rank), ties broken by
    * (doc_id, chunk_id). A query or passage with no words has no vector
    * and is absent. Zero-similarity pairs never materialize (no shared
    * bucket → no join row) — exactly the inverted-index sparsity.
    *
    * 100 TB shape: the RAG batch-retrieval asymmetry is |queries| ≪
    * |passages|, so with `broadcastQueries=true` (the default — a
    * CONTRACT that the query batch is bounded, not corpus-proportional)
    * the query vectors BROADCAST — the bucket join costs a corpus scan
    * with map-side partial aggregation, never a corpus shuffle on a
    * ≤`buckets`-cardinality (hence skew-doomed) key; passage norms ride
    * an equi-join on the passage id; the final top-k is a
    * WindowGroupLimit window per query. When the query side DERIVES FROM
    * THE CORPUS (it grows linearly with the data, e.g.
    * [[Dialogue.fewShotPrompts]]'s 1%-of-docs held-out slice), pass
    * `broadcastQueries=false`: no forced hint, AQE picks the join from
    * measured sizes — broadcast while the slice fits, shuffle when a
    * 100× corpus would OOM a forced broadcast. */
  def hashedRetrievalTopK(passages: DataFrame, queries: DataFrame,
      buckets: Int = 256, k: Int = 3, broadcastQueries: Boolean = true): DataFrame = {
    require(buckets >= 2 && k > 0, s"need buckets >= 2 and k > 0, got $buckets, $k")
    val pv = passages.select(col("doc_id"), col("chunk_id"),
        explode(split(col("chunk_text"), " ")).as("__w"))
      .select(col("doc_id"), col("chunk_id"),
        Selection.bucketOf(col("__w"), buckets).as("__b"))
      .groupBy("doc_id", "chunk_id", "__b").agg(count(lit(1)).as("pc"))
    val qv = queries.select(col("query_id"),
        explode(split(col("text"), " ")).as("__w"))
      .select(col("query_id"), Selection.bucketOf(col("__w"), buckets).as("__b"))
      .groupBy("query_id", "__b").agg(count(lit(1)).as("qc"))
    val pn = pv.groupBy("doc_id", "chunk_id")
      .agg(sum(col("pc") * col("pc")).as("pss"))
    val qn = qv.groupBy("query_id").agg(sum(col("qc") * col("qc")).as("qss"))
    def hinted(df: DataFrame) = if (broadcastQueries) broadcast(df) else df
    val dots = pv.join(hinted(qv), "__b")
      .groupBy("query_id", "doc_id", "chunk_id")
      .agg(sum(col("pc") * col("qc")).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos2_e6").desc, col("doc_id"), col("chunk_id"))
    dots.join(pn, Seq("doc_id", "chunk_id")).join(hinted(qn), "query_id")
      .withColumn("cos2_e6", expr("(dot * dot * 1000000) div (pss * qss)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "chunk_id", "cos2_e6", "rank")
  }

  /** INVERTED-INDEX retrieval — [[hashedRetrievalTopK]]'s scale path for
    * the regime where BOTH sides are corpus-proportional (e.g.
    * [[Dialogue.fewShotPrompts]]'s held-out query slice). Same integer
    * cos² ranking, two structural changes that together kill the
    * quadratic the r13 stress ledger caught (q196@10x read 78 s — at 256
    * buckets every long document overlaps every bucket, so the bucket
    * join degenerates to all-pairs):
    *
    *  1. A 16-bit hash space (`buckets` up to 65536, default the full
    *     space) — a document's profile is SPARSE relative to the space,
    *     so two documents share a bucket only when they share an actual
    *     word (or a rare collision), the true inverted-index posture.
    *  2. A document-frequency guard (the q21/q54 hot-gram idiom): any
    *     bucket held by more than `maxDocFrequency` of the pool's
    *     passages — the stopword mass that alone re-creates the
    *     quadratic (every passage shares 'the' with every query) — is
    *     dropped from BOTH sides' vectors before norms and dots, the
    *     standard stop-term pruning of a posting-list engine. The hot
    *     set is bounded by construction at avg-distinct-buckets-per-
    *     passage / maxDocFrequency entries independent of corpus size,
    *     so it collects to the driver and both removals happen map-side.
    *
    * Scoring is cos² over the GUARDED vectors (norms computed after the
    * drop — the score space is self-consistent and exactly replayable).
    * The guard derives from the POOL only: queries must not perturb the
    * index. The passage vectors get three consumers (df probe + dot +
    * norm); the df probe runs as its OWN lightweight aggregation and the
    * other two recompute the projection rather than cache it — pinning a
    * corpus-proportional profile in executor storage until LRU eviction
    * is exactly the leak the r13 ADVICE flagged, and at 100 TB the
    * recompute (a map-side explode/hash/partial-agg over already-pruned
    * columns) is cheaper than the storage pressure. The join carries no
    * hint — two corpus-proportional sides, AQE decides.
    *
    * 100 TB shape: join volume is Σ_b pf(b)·qf(b) over SURVIVING
    * buckets — Zipf vocabulary under a df cap, the classic posting-list
    * intersection cost, linear-ish in corpus where the 256-bucket dense
    * join was quadratic (measured at 10x: 78 s → see BENCH_NOTES r13). */
  def invertedRetrievalTopK(passages: DataFrame, queries: DataFrame,
      buckets: Int = 65536, k: Int = 3,
      maxDocFrequency: Double = 0.05): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    require(k > 0, s"need k > 0, got $k")
    require(maxDocFrequency > 0 && maxDocFrequency <= 1.0,
      s"maxDocFrequency must be in (0, 1], got $maxDocFrequency")
    val pv0 = passages.select(col("doc_id"), col("chunk_id"),
        explode(split(col("chunk_text"), " ")).as("__w"))
      .select(col("doc_id"), col("chunk_id"),
        Selection.bucketOf(col("__w"), buckets).as("__b"))
      .groupBy("doc_id", "chunk_id", "__b").agg(count(lit(1)).as("pc"))
    // maxDocFrequency >= 1.0 disables the guard (the ngramJaccardPairs
    // convention — appropriate for tiny pools where f·n < 1 would mark
    // every bucket hot) and skips the df jobs entirely
    val hot =
      if (maxDocFrequency >= 1.0) Array.empty[Int]
      else {
        // one row per (passage, bucket): df(b) = its row count per
        // bucket; the distinct-passage total sizes the threshold. Both
        // run as separate jobs over the recomputed profile instead of
        // caching it (r13 ADVICE: the cache outlived the call).
        val nPassages = pv0.select("doc_id", "chunk_id").distinct().count()
        pv0.groupBy("__b").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFrequency * nPassages)
          .select("__b").collect().map(_.getInt(0))
      }
    def guard(df: DataFrame) =
      if (hot.isEmpty) df else df.filter(!col("__b").isin(hot.toSeq: _*))
    val pv = guard(pv0)
    val qv = guard(queries.select(col("query_id"),
        explode(split(col("text"), " ")).as("__w"))
      .select(col("query_id"), Selection.bucketOf(col("__w"), buckets).as("__b"))
      .groupBy("query_id", "__b").agg(count(lit(1)).as("qc")))
    val pn = pv.groupBy("doc_id", "chunk_id")
      .agg(sum(col("pc") * col("pc")).as("pss"))
    val qn = qv.groupBy("query_id").agg(sum(col("qc") * col("qc")).as("qss"))
    val dots = pv.join(qv, "__b")
      .groupBy("query_id", "doc_id", "chunk_id")
      .agg(sum(col("pc") * col("qc")).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos2_e6").desc, col("doc_id"), col("chunk_id"))
    dots.join(pn, Seq("doc_id", "chunk_id")).join(qn, "query_id")
      .withColumn("cos2_e6", expr("(dot * dot * 1000000) div (pss * qss)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "chunk_id", "cos2_e6", "rank")
  }

  /** RANKED-LIST EVALUATION — recall and reciprocal rank of an
    * approximate retriever against an exact reference, per query: the
    * measurement loop that tunes every ANN operating point here (IVF
    * nProbe, LSH bands, matryoshka dims) as a first-class operator
    * instead of a buried unit assertion. Inputs are two
    * (query_id, doc_id, rank) frames; `exact`'s rows define relevance.
    * Output per query (union of both sides' queries):
    * (query_id, n_relevant, n_ranked, n_hits, recall_e6, rr_e6) with
    * recall_e6 = 10⁶·n_hits div n_relevant and rr_e6 = 10⁶ div (rank of
    * the first relevant item in `approx`), 0 when nothing relevant was
    * retrieved — all integer, so any engine replays the metrics
    * bit-for-bit on top of replayable ranking chains.
    *
    * 100 TB shape: both inputs are top-k-per-query lists (|queries|·k
    * rows); one equi-join and two query-keyed aggregates. */
  def rankingMetrics(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("doc_id"),
      col("rank").cast("int").as("__ar"))
    val e = exact.select(col("query_id"), col("doc_id"), lit(true).as("__rel"))
    val perQ = a.join(e, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id").agg(
        count(lit(1)).as("n_ranked"),
        sum(when(col("__rel"), 1L).otherwise(0L)).as("n_hits"),
        min(when(col("__rel"), col("__ar"))).as("__fr"))
    val rel = e.groupBy("query_id").agg(count(lit(1)).as("n_relevant"))
    rel.join(perQ, Seq("query_id"), "full_outer")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("(1000000 * coalesce(n_hits, 0)) div greatest(coalesce(n_relevant, 0), 1)")
          .as("recall_e6"),
        coalesce(expr("1000000 div __fr").cast("long"), lit(0L)).as("rr_e6"))
  }

  /** RECIPROCAL-RANK FUSION (Cormack/Clarke/Büttcher) — the standard
    * hybrid-retrieval join of a lexical ranked list and a dense ranked
    * list: per (query, doc), score = Σ_sides 1/(kRrf + rank), which
    * rewards documents BOTH retrievers surface without ever comparing
    * their incommensurable raw scores (BM25 logits vs cosines). Inputs
    * are two (query_id, doc_id, rank) frames — fuse whatever lists the
    * caller ranked; a doc absent from one side simply contributes 0 from
    * it (the standard convention). kRrf = 60 is the canonical setting
    * from the original TREC runs.
    *
    * Determinism: contributions are integer micro-units 10⁶ div
    * (kRrf + rank) — with ranks ≤ ~900k the div grid still separates
    * adjacent ranks, and every engine replays the floor division
    * bit-for-bit (the q144 integer-rational policy; no float scores
    * cross the engine boundary). Ties break by doc_id.
    *
    * Output: (query_id, doc_id, lex_rank, dense_rank, rrf_e6,
    * fused_rank), top-`topK` per query; the side ranks stay visible
    * (null = that retriever missed the doc) for downstream debugging.
    *
    * 100 TB shape: both inputs are ALREADY top-k-per-query lists —
    * |queries|·k rows, not corpora — so the full-outer equi-join and the
    * per-query window cost nothing at any corpus scale; the expensive
    * work lives (and is verified) upstream in the two retrievers. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(kRrf > 0 && topK > 0, s"need kRrf > 0 and topK > 0, got $kRrf, $topK")
    val l = lex.select(col("query_id"), col("doc_id"),
      col("rank").cast("int").as("lex_rank"))
    val d = dense.select(col("query_id"), col("doc_id"),
      col("rank").cast("int").as("dense_rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_e6").desc, col("doc_id"))
    l.join(d, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr(s"1000000 div ($kRrf + lex_rank)").cast("long"), lit(0L)) +
        coalesce(expr(s"1000000 div ($kRrf + dense_rank)").cast("long"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
      .select("query_id", "doc_id", "lex_rank", "dense_rank", "rrf_e6", "fused_rank")
  }
}
