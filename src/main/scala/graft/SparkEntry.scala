package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.sources.Tables
import graft.operators.{Dedup, Multimodal, Similarity, SkewJoin, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query runs through the graft library (WindowEngine / operators), not
  * raw ad-hoc Spark, and has a DuckDB-equivalent oracle in [[oracleSql]].
  * Column aliases match between the Spark result and the oracle SQL (the
  * driver's compare sorts columns by name before hashing).
  *
  * Determinism rules applied throughout (SURVEY.md §7 hard parts):
  *  - order-dependent functions (lead/lag/first/last/rank/row_number) always
  *    use a tie-free ORDER BY ending in the unique key (l_orderkey,
  *    l_linenumber);
  *  - float-sensitive aggregations run on integer-valued columns
  *    (l_quantity) or decimal casts so Spark's and DuckDB's different
  *    floating-point accumulation orders cannot diverge;
  *  - rank-family INT outputs are CAST in the oracle (DuckDB returns BIGINT,
  *    Spark IntegerType).
  */
object SparkEntry {

  /** Tie-free order for order-sensitive functions: price desc, then the
    * table's unique key. */
  private val tieFreeOrder = Seq(
    OrderSpec("l_extendedprice", SortDirection.Descending),
    OrderSpec("l_orderkey"),
    OrderSpec("l_linenumber"))

  /** Derived high-cosine embedding fixture — the testdata embeddings have NO
    * pairs above cos ≈ 0.51 (probed at all three SFs), so the production
    * near-dup regime (threshold ≥ 0.9) would be vacuously checkable on them.
    * This union plants deterministic near-dup pairs in-query, reproducibly on
    * BOTH engines (all math in exact double, so Spark and DuckDB agree
    * bit-for-bit):
    *  - exact copies (vec_id % 5 == 0 → vec_id + 10M, same vector): cos 1.0,
    *    identical LSH signatures in every table — found with certainty;
    *  - mixed copies (vec_id % 7 == 3 → vec_id + 20M, v + 0.1·v_prev): cos
    *    ≈ 0.995 against their source (unit-norm inputs), comfortably above
    *    the 0.9 threshold but NOT signature-identical — these exercise real
    *    multi-table recall.
    * Background pairs stay ≤ 0.57, leaving a wide dead band around the
    * threshold (no pair anywhere near 0.9), which is what makes the exact
    * all-pairs oracle apply to an approximate-by-construction operator:
    * per-pair misses are deterministic (xxhash planes) and probe-verified
    * zero at all three SFs. */
  private[graft] def derivedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val exact = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val prev = base.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("w"))
    val mixed = base.join(prev, "vec_id").filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + 20000000L).as("vec_id"),
        zip_with(col("embedding"), col("w"), (x, y) => x + lit(0.1) * y).as("embedding"))
    base.unionAll(exact).unionAll(mixed)
  }

  /** Shared CTE prefix of the [[derivedEmbeddings]] oracle queries. */
  private val derivedEmbSql =
    """base AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
      |ex AS (SELECT vec_id + 10000000 AS vec_id, embedding FROM base WHERE vec_id % 5 = 0),
      |mx AS (SELECT a.vec_id + 20000000 AS vec_id,
      |       list_transform(range(1, len(a.embedding) + 1),
      |                      i -> a.embedding[i] + 0.1 * b.embedding[i]) AS embedding
      |       FROM base a JOIN base b ON b.vec_id = a.vec_id - 1 WHERE a.vec_id % 7 = 3),
      |d AS (SELECT * FROM base UNION ALL SELECT * FROM ex UNION ALL SELECT * FROM mx)""".stripMargin

  /** Derived high-Jaccard document fixture for the banded-MinHash production
    * run (q53): exact text copies (doc_id % 5 == 0 → doc_id + 10M) plant
    * Jaccard-1.0 pairs; the corpus's own near-dup pairs (j ∈ [0.8, 1.0],
    * probed) provide the multi-row-band recall cases. */
  private[graft] def derivedDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base.unionAll(base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  /** Derived fixture that makes the HASH-SEED-DEPENDENT banded-MinHash
    * estimate (q22) oracle-comparable: the corpus's own near-duplicates
    * (the only pairs whose slot agreement sits at hash-dependent
    * intermediate values) are removed FIRST, then exact text copies
    * (doc_id % 5 == 0 → +10M) plant the pair set — identical signatures,
    * slot agreement exactly 16/16, found by any banding with certainty, so
    * the TRUE result is a pure function of the construction and an
    * exact-SQL oracle reproduces it.
    *
    * Near-dup membership comes from the production LSH→verify pipeline
    * (16 one-row bands, exact-Jaccard verify at 0.5) — equal to the exact
    * ≥0.5 pair set on this corpus (q46's probe-verified completeness
    * argument: all true pairs sit at j ≥ 0.8 where the 16-band miss
    * probability is ≤ 6.5e-12, and the j-gap [0.14, 0.8] leaves nothing
    * near the threshold). The oracle recomputes the same membership with
    * the exact all-pairs gram join. Remaining background pairs sit at
    * 3-gram j ≤ 0.14, where an est ≥ 0.4 collision needs 7/16 matching
    * slots (p ≈ 1e-6/pair — probed zero background hits at all 3 SFs). */
  private[graft] def signatureDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val nearDup = Dedup.jaccardVerify(docs,
      Dedup.minHashLshCandidates(docs, n = 3, numHashes = 16, bands = 16),
      n = 3, threshold = 0.5)
    val members = nearDup.select(col("doc1").as("doc_id"))
      .unionAll(nearDup.select(col("doc2").as("doc_id"))).distinct()
    // clean feeds BOTH union branches; caching it saves the second pass
    // over the membership anti-join (measured 3.27 → 2.82 s at sf0.1 —
    // modest because ReuseExchange already shares the LSH subtree's
    // shuffles). Verify clears the session cache per query, so
    // this is per-query storage — the q61 stage-boundary posture.
    val clean = docs.join(members, Seq("doc_id"), "left_anti").cache()
    clean.unionAll(clean.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  /** Shared CTE prefix of the [[signatureDocuments]] oracle queries: the
    * planted-pair set is (doc_id, doc_id + 10M) for every surviving
    * doc_id % 5 == 0, where "surviving" excludes members of exact 3-gram
    * Jaccard ≥ 0.5 pairs. */
  private val signatureDocsSql =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |c AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
      |p AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS n_common
      |      FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
      |      GROUP BY 1, 2),
      |nd AS (SELECT doc1, doc2 FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
      |       WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.5),
      |members AS (SELECT doc1 AS doc_id FROM nd UNION SELECT doc2 FROM nd),
      |planted AS (SELECT doc_id FROM documents
      |            WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM members))""".stripMargin

  /** Pinned BPE merge table for q87/q88 — a model artifact, like a trained
    * tokenizer checkpoint: 24 merges trained by [[operators.Bpe.trainMerges]]
    * on the sf0.01 corpus (deterministic training: frequency-desc,
    * lexicographic tie-break — BpeSpec pins both the algorithm on a hand
    * fixture and this exact table against retraining). The SAME constant
    * generates the oracle's merge-list literal, so the two engines cannot
    * drift. 24 (not 40+) keeps compression PARTIAL on this corpus — common
    * words collapse to one token, rarer ones stay multi-token — so the
    * counts exercise the merge loop rather than a word lookup. */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"),
    ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"), ("at", "c"), ("atc", "h"),
    ("b", "atch"), ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"))

  /** PINNED unigram-LM piece table (q171/q172):
    * `Unigram.trainPieces(documents, vocabSize = 24)` on the sf0.01 corpus
    * — every corpus character plus 24 multi-char pieces, log-probs in
    * round(ln(c/total)·10⁶) micro-units, -20000000 = the character
    * fallback floor. Deterministic training (hard-count Viterbi-EM,
    * usage-ranked pruning, lexicographic ties — UnigramSpec pins this
    * exact table against retraining); the SAME constant generates the
    * oracle's VALUES literal, so the two engines cannot drift. vocab 24
    * keeps compression PARTIAL (the bpeMerges rationale): frequent words
    * collapse to one or two pieces, the rest exercise the Viterbi DP. */
  private[graft] val unigramPieces: Seq[(String, Long)] = Seq(
    ("a", -3237456L), ("agg", -3892137L), ("b", -3920277L),
    ("batc", -3852959L), ("c", -20000000L), ("co", -3856166L),
    ("cust", -3856166L), ("d", -7437546L), ("data", -3884398L),
    ("e", -2517284L), ("er", -3197881L), ("f", -3945711L),
    ("filt", -3857237L), ("g", -3225988L), ("h", -3212961L),
    ("hash", -3842344L), ("i", -3920277L), ("j", -20000000L),
    ("join", -3824551L), ("k", -20000000L), ("key", -3897702L),
    ("l", -20000000L), ("line", -3882198L), ("lumn", -3856166L),
    ("m", -20000000L), ("mall", -3862611L), ("merg", -3873445L),
    ("n", -20000000L), ("o", -20000000L), ("omer", -3856166L),
    ("or", -3209029L), ("orde", -3880003L), ("p", -7437546L),
    ("q", -3926001L), ("r", -3880003L), ("row", -3846576L),
    ("s", -2802071L), ("scan", -3854027L), ("slow", -3873445L),
    ("st", -3232853L), ("t", -3250225L), ("tabl", -3884398L),
    ("u", -3896587L), ("v", -20000000L), ("valu", -3896587L),
    ("vect", -3880003L), ("w", -20000000L), ("y", -3926001L))

  /** PINNED WordPiece vocabulary (q188/q189):
    * `WordPiece.trainVocab(documents, numMerges = 24)` on the sf0.01
    * corpus — the 39 base symbols (initial / `##`-continuation code
    * points of the word dictionary) plus 24 merged pieces, sorted by
    * UTF-8 bytes. Deterministic training (exact-rational pair scores,
    * UTF-8-lexicographic ties — WordPieceSpec pins this exact table
    * against retraining and against the distributed trainer); the SAME
    * constant generates the oracle's vocabulary list literal, so the two
    * engines cannot drift. 24 merges keeps compression PARTIAL (the
    * bpeMerges rationale) — and because WordPiece has no character
    * fallback, corpus slices at OTHER scale factors exercise the real
    * `[UNK]` path wherever a word's symbols fall outside this table. */
  private[graft] val wordPieceVocab: Seq[String] = Seq(
    "##a", "##b", "##bl", "##c", "##ch", "##d",
    "##e", "##g", "##h", "##i", "##in", "##k",
    "##l", "##lu", "##lum", "##lumn", "##m", "##n",
    "##o", "##p", "##r", "##s", "##sh", "##t",
    "##u", "##up", "##us", "##w", "##y", "a",
    "ag", "agg", "b", "bi", "big", "c",
    "cus", "d", "f", "fi", "fil", "g",
    "h", "j", "k", "l", "li", "lin",
    "m", "o", "p", "q", "qu", "r",
    "s", "sp", "t", "th", "v", "w",
    "wi", "win", "wind")

  /** Labeled training text for the language-ID rank profiles (Cavnar &
    * Trenkle 1994) — one function-word-rich passage per language, authored
    * for this repo (zh in pinyin, matching the corpus's latin 'zh'
    * convention). Profiles derive from these via
    * [[operators.TextAnalysis.trainLanguageProfiles]]; the training text is
    * DISJOINT from the q28 fixture's planted phrases, so classification
    * recovery is generalization, not memorization. */
  private[graft] val langTrainingText: Seq[(String, String)] = Seq(
    ("en", "the quick brown fox jumps over the lazy dog and then it runs " +
      "into the woods where all of the other animals are waiting for the " +
      "rain to stop so that they can go back to the river and drink with the birds"),
    ("de", "der schnelle braune fuchs springt uber den faulen hund und dann " +
      "lauft er in den wald wo alle anderen tiere auf das ende des regens " +
      "warten damit sie wieder zum fluss gehen und mit den vogeln trinken konnen"),
    ("fr", "le renard brun rapide saute par dessus le chien paresseux et " +
      "puis il court dans la foret ou tous les autres animaux attendent la " +
      "fin de la pluie pour retourner a la riviere et boire avec les oiseaux du soir"),
    ("es", "el rapido zorro marron salta sobre el perro perezoso y luego " +
      "corre hacia el bosque donde todos los demas animales esperan el " +
      "final de la lluvia para volver al rio y beber con los pajaros de la tarde"),
    ("zh", "zhe shi yi ge guan yu su du he fang fa de ju zi wo men zai zhe " +
      "li deng dai yu ting le zhi hou hui dao he bian he niao yi qi he shui " +
      "ran hou hui jia"))

  /** PINNED language rank profiles: trainLanguageProfiles(langTrainingText,
    * k = 60), captured once (the bpeMerges pattern — OperatorsSpec asserts
    * retraining reproduces this table exactly). The SAME constant generates
    * the q28 oracle's VALUES literal, so operator and oracle cannot
    * drift. (lang, gram, rank); grams are char 2-/3-grams over [a-z ]. */
  private[graft] val langProfiles: Seq[(String, String, Int)] = Seq(
    ("de", "n ", 1), ("de", "en", 2), ("de", "en ", 3),
    ("de", " d", 4), ("de", "de", 5), ("de", "e ", 6),
    ("de", "er", 7), ("de", " de", 8), ("de", "nd", 9),
    ("de", "s ", 10), ("de", " w", 11), ("de", "au", 12),
    ("de", "d ", 13), ("de", "er ", 14), ("de", "r ", 15),
    ("de", "t ", 16), ("de", "un", 17), ("de", " a", 18),
    ("de", " da", 19), ("de", " f", 20), ("de", " s", 21),
    ("de", " u", 22), ("de", "da", 23), ("de", "den", 24),
    ("de", "der", 25), ("de", "ge", 26), ("de", "ie", 27),
    ("de", "in", 28), ("de", "le", 29), ("de", "nd ", 30),
    ("de", "ne", 31), ("de", "re", 32), ("de", "und", 33),
    ("de", " e", 34), ("de", " t", 35), ("de", " un", 36),
    ("de", " wa", 37), ("de", "al", 38), ("de", "an", 39),
    ("de", "auf", 40), ("de", "ch", 41), ("de", "e a", 42),
    ("de", "el", 43), ("de", "ere", 44), ("de", "it", 45),
    ("de", "it ", 46), ("de", "le ", 47), ("de", "ll", 48),
    ("de", "lle", 49), ("de", "mi", 50), ("de", "mit", 51),
    ("de", "n d", 52), ("de", "n t", 53), ("de", "nde", 54),
    ("de", "nn", 55), ("de", "ri", 56), ("de", "rin", 57),
    ("de", "uf", 58), ("de", "wa", 59), ("de", " al", 60),
    ("en", " t", 1), ("en", "th", 2), ("en", "he", 3),
    ("en", " th", 4), ("en", "the", 5), ("en", "e ", 6),
    ("en", "he ", 7), ("en", " a", 8), ("en", "o ", 9),
    ("en", "s ", 10), ("en", " w", 11), ("en", "an", 12),
    ("en", "er", 13), ("en", "in", 14), ("en", "n ", 15),
    ("en", "r ", 16), ("en", "to", 17), ("en", " an", 18),
    ("en", " b", 19), ("en", " o", 20), ("en", " r", 21),
    ("en", "er ", 22), ("en", "it", 23), ("en", "k ", 24),
    ("en", "o t", 25), ("en", "to ", 26), ("en", " d", 27),
    ("en", " f", 28), ("en", " fo", 29), ("en", " i", 30),
    ("en", " s", 31), ("en", " to", 32), ("en", "ai", 33),
    ("en", "al", 34), ("en", "and", 35), ("en", "ck", 36),
    ("en", "ck ", 37), ("en", "d ", 38), ("en", "ds", 39),
    ("en", "ds ", 40), ("en", "e r", 41), ("en", "e w", 42),
    ("en", "fo", 43), ("en", "g ", 44), ("en", "her", 45),
    ("en", "nd", 46), ("en", "nd ", 47), ("en", "r a", 48),
    ("en", "r t", 49), ("en", "re", 50), ("en", "re ", 51),
    ("en", "ri", 52), ("en", "t ", 53), ("en", "ve", 54),
    ("en", "ver", 55), ("en", "y ", 56), ("en", " al", 57),
    ("en", " ar", 58), ("en", " ba", 59), ("en", " bi", 60),
    ("es", "e ", 1), ("es", " l", 2), ("es", "a ", 3),
    ("es", "l ", 4), ("es", "o ", 5), ("es", "os", 6),
    ("es", "s ", 7), ("es", " e", 8), ("es", "de", 9),
    ("es", "er", 10), ("es", " d", 11), ("es", " el", 12),
    ("es", " p", 13), ("es", "al", 14), ("es", "ar", 15),
    ("es", "de ", 16), ("es", "el", 17), ("es", "el ", 18),
    ("es", "os ", 19), ("es", "ro", 20), ("es", "rr", 21),
    ("es", " de", 22), ("es", "do", 23), ("es", "ma", 24),
    ("es", "n ", 25), ("es", "on", 26), ("es", "pe", 27),
    ("es", "per", 28), ("es", "ra", 29), ("es", "re", 30),
    ("es", "rro", 31), ("es", " a", 32), ("es", " b", 33),
    ("es", " c", 34), ("es", " co", 35), ("es", " la", 36),
    ("es", " lo", 37), ("es", " pa", 38), ("es", " pe", 39),
    ("es", " r", 40), ("es", " s", 41), ("es", " t", 42),
    ("es", " y", 43), ("es", " y ", 44), ("es", "al ", 45),
    ("es", "an", 46), ("es", "be", 47), ("es", "co", 48),
    ("es", "e l", 49), ("es", "er ", 50), ("es", "es", 51),
    ("es", "ia", 52), ("es", "ia ", 53), ("es", "l r", 54),
    ("es", "la", 55), ("es", "la ", 56), ("es", "lo", 57),
    ("es", "los", 58), ("es", "lu", 59), ("es", "o y", 60),
    ("fr", " l", 1), ("fr", "e ", 2), ("fr", "re", 3),
    ("fr", "s ", 4), ("fr", " a", 5), ("fr", " p", 6),
    ("fr", "a ", 7), ("fr", "es", 8), ("fr", "ou", 9),
    ("fr", "t ", 10), ("fr", " d", 11), ("fr", " la", 12),
    ("fr", " le", 13), ("fr", " r", 14), ("fr", "au", 15),
    ("fr", "de", 16), ("fr", "en", 17), ("fr", "et", 18),
    ("fr", "la", 19), ("fr", "la ", 20), ("fr", "le", 21),
    ("fr", "r ", 22), ("fr", "ar", 23), ("fr", "es ", 24),
    ("fr", "et ", 25), ("fr", "ie", 26), ("fr", "n ", 27),
    ("fr", "oi", 28), ("fr", "our", 29), ("fr", "s l", 30),
    ("fr", "ur", 31), ("fr", "ux", 32), ("fr", "ux ", 33),
    ("fr", "x ", 34), ("fr", " b", 35), ("fr", " c", 36),
    ("fr", " de", 37), ("fr", " e", 38), ("fr", " et", 39),
    ("fr", " f", 40), ("fr", " o", 41), ("fr", " pa", 42),
    ("fr", " re", 43), ("fr", " s", 44), ("fr", "a f", 45),
    ("fr", "an", 46), ("fr", "aut", 47), ("fr", "aux", 48),
    ("fr", "de ", 49), ("fr", "e p", 50), ("fr", "er", 51),
    ("fr", "ess", 52), ("fr", "ir", 53), ("fr", "is", 54),
    ("fr", "le ", 55), ("fr", "les", 56), ("fr", "oir", 57),
    ("fr", "pa", 58), ("fr", "par", 59), ("fr", "re ", 60),
    ("zh", "i ", 1), ("zh", "e ", 2), ("zh", " h", 3),
    ("zh", "u ", 4), ("zh", "he", 5), ("zh", "he ", 6),
    ("zh", " d", 7), ("zh", " z", 8), ("zh", " he", 9),
    ("zh", " y", 10), ("zh", "an", 11), ("zh", "n ", 12),
    ("zh", " s", 13), ("zh", " zh", 14), ("zh", "an ", 15),
    ("zh", "g ", 16), ("zh", "hu", 17), ("zh", "hui", 18),
    ("zh", "ia", 19), ("zh", "ng", 20), ("zh", "ng ", 21),
    ("zh", "o ", 22), ("zh", "u h", 23), ("zh", "ui", 24),
    ("zh", "ui ", 25), ("zh", "zh", 26), ("zh", " da", 27),
    ("zh", " de", 28), ("zh", " f", 29), ("zh", " fa", 30),
    ("zh", " g", 31), ("zh", " ho", 32), ("zh", " hu", 33),
    ("zh", " j", 34), ("zh", " l", 35), ("zh", " sh", 36),
    ("zh", " yi", 37), ("zh", " yu", 38), ("zh", "a ", 39),
    ("zh", "ai", 40), ("zh", "ai ", 41), ("zh", "ao", 42),
    ("zh", "ao ", 43), ("zh", "da", 44), ("zh", "de", 45),
    ("zh", "e s", 46), ("zh", "en", 47), ("zh", "fa", 48),
    ("zh", "hi", 49), ("zh", "hi ", 50), ("zh", "ho", 51),
    ("zh", "hou", 52), ("zh", "i d", 53), ("zh", "i h", 54),
    ("zh", "i y", 55), ("zh", "n h", 56), ("zh", "ou", 57),
    ("zh", "ou ", 58), ("zh", "sh", 59), ("zh", "yi", 60))


  /** Shared CTE prefix of the q87/q88 oracles: per-distinct-word BPE token
    * counts under [[bpeMerges]], by replaying the tokenizer's exact step —
    * merge the LEFTMOST occurrence of the LOWEST-rank adjacent pair, one
    * merge per recursion level — until no learned pair remains; the final
    * count is min(len(toks)) since each step shrinks the list by exactly 1.
    * The merge-list literal is generated from the same Scala constant the
    * Spark query broadcasts. `list_position` = 0 marks an unlearned pair. */
  private def bpeSql: String = {
    val ml = bpeMerges.map { case (l, r) => s"'$l'||chr(1)||'$r'" }.mkString("[", ",", "]")
    s"""dw AS (SELECT doc_id, u.w AS word, count(*) AS n
       |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |            UNNEST(ws) AS u(w)
       |       GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT word FROM dw),
       |tok AS (
       |  SELECT word, string_split(word, '') AS toks FROM vocab
       |  UNION ALL
       |  SELECT word, toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:] AS toks
       |  FROM (
       |    SELECT word, toks, list_position(rks, list_min(list_filter(rks, r -> r > 0))) AS pos
       |    FROM (
       |      SELECT word, toks,
       |             list_transform(range(1, len(toks)),
       |               i -> list_position($ml, toks[i] || chr(1) || toks[i+1])) AS rks
       |      FROM tok))
       |  WHERE pos IS NOT NULL AND pos > 0),
       |nb AS (SELECT word, min(len(toks)) AS n_bpe FROM tok GROUP BY word),
       |bpe AS (SELECT doc_id, sum(n)::BIGINT AS n_words,
       |        sum(n * n_bpe)::BIGINT AS n_bpe_tokens
       |        FROM dw JOIN nb USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** The corpus word-count CTE pair ([[bpeSql]]'s prefix, standalone for
    * oracles that need tokenization without the BPE chain). */
  private def wordCountCtes: String =
    """dw AS (SELECT doc_id, u.w AS word, count(*) AS n
      |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |            UNNEST(ws) AS u(w)
      |       GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT word FROM dw)""".stripMargin

  /** Conversation-turn CTE chain shared by the q190/q192 oracles —
    * replays [[operators.Dialogue.turns]] exactly: q33's gap
    * sessionization, the per-session turn index, parity roles and the
    * `<|role|>{event_type} k={k}` template. Final CTE `u` = one row per
    * turn with (event_id, user_id, session_id, turn_idx, role, turn_txt). */
  private def dialogueTurnsCtes: String =
    """e AS (SELECT event_id, user_id, event_type, props, epoch_ns(ts) AS ns,
      |      lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
      |      FROM events),
      |f AS (SELECT event_id, user_id, event_type, props, ns,
      |      CASE WHEN prev_ns IS NULL OR ns - prev_ns > 1800000000000
      |           THEN 1 ELSE 0 END AS new_session
      |      FROM e),
      |g AS (SELECT event_id, user_id, event_type, props, ns,
      |      CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ns, event_id)
      |        AS INT) AS session_id
      |      FROM f),
      |t AS (SELECT event_id, user_id, session_id, ns, event_type, props,
      |      CAST(row_number() OVER (PARTITION BY user_id, session_id
      |        ORDER BY ns, event_id) - 1 AS INT) AS turn_idx
      |      FROM g),
      |u AS (SELECT event_id, user_id, session_id, turn_idx,
      |      CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |      '<|' || CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END ||
      |        '|>' || event_type || ' k=' || coalesce(regexp_extract(props, '(\d+)', 1), '')
      |        AS turn_txt
      |      FROM t)""".stripMargin

  /** The q190/q200 shared oracle: the chat-render replay — q33's
    * sessionization, turn index, parity roles and the <|role|> template,
    * string_agg'd in turn order. q200 reads the SAME transcripts back
    * out of the STREAMING session_window state's file sink, so one
    * oracle covers both (the q53/q199 pattern) — and the shared gate
    * proves cross-batch session-state merging loses nothing: every
    * session's turns scatter across micro-batches by the event_id % 3
    * staging, so state that forgot earlier batches would render partial
    * transcripts and hash-mismatch here. */
  private def chatRenderOracleSql: String =
    s"""WITH $dialogueTurnsCtes,
       |r AS (SELECT user_id, session_id, CAST(count(*) AS INT) AS n_turns,
       |      string_agg(turn_txt, chr(10) ORDER BY turn_idx) AS transcript
       |      FROM u GROUP BY 1, 2)
       |SELECT user_id, session_id, n_turns, transcript,
       |  CAST(length(transcript) AS BIGINT) AS n_chars,
       |  length(transcript) <= 32 AS fits_context
       |FROM r""".stripMargin

  /** [[wordCountCtes]] over an `fx` fixture CTE instead of the raw
    * documents table (the q188/q189 accented-fixture tokenization). */
  private def accentedWordCountCtes: String =
    """dw AS (SELECT doc_id, u.w AS word, count(*) AS n
      |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM fx),
      |            UNNEST(ws) AS u(w)
      |       GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT word FROM dw)""".stripMargin

  /** Unigram-LM CTE block shared by the q171/q172 oracles — replays
    * [[operators.Unigram.viterbi]] EXACTLY, assuming `dw` (doc_id, word,
    * n) and `vocab` (distinct word) CTEs are already defined (the
    * [[bpeSql]] prefix defines the identical pair, letting q172 share one
    * tokenization). The piece literal comes from [[unigramPieces]]; `ext`
    * adds the character fallback at the unk floor for any corpus char
    * outside the table; `seg` enumerates segmentations one piece per
    * recursion level (each path generated exactly once), and `fin` picks
    * per word the maximal (score DESC, path ASC) — the operator's exact
    * DP objective, made total by the chr(1) piece separator. */
  private def unigramCtes: String = {
    val vals = unigramPieces
      .map { case (p, lp) => s"('$p', ${lp}::BIGINT)" }.mkString(", ")
    s"""pieces AS (SELECT * FROM (VALUES $vals) p(piece, lp)),
       |wchars AS (SELECT DISTINCT substring(word, i, 1) AS ch
       |           FROM vocab, UNNEST(range(1, length(word) + 1)) t(i)),
       |ext AS (SELECT piece, lp FROM pieces
       |        UNION ALL
       |        SELECT ch, ${operators.Unigram.unkLogpMicro}::BIGINT FROM wchars
       |        WHERE ch NOT IN (SELECT piece FROM pieces)),
       |seg AS (
       |  SELECT word, 0 AS pos, 0::BIGINT AS score, '' AS path, 0 AS ntoks
       |  FROM vocab
       |  UNION ALL
       |  SELECT s.word, s.pos + length(e.piece), s.score + e.lp,
       |         s.path || e.piece || chr(1), s.ntoks + 1
       |  FROM seg s JOIN ext e
       |    ON e.piece = substring(s.word, s.pos + 1, length(e.piece))
       |  WHERE s.pos < length(s.word)),
       |fin AS (SELECT word, ntoks,
       |        row_number() OVER (PARTITION BY word ORDER BY score DESC, path)
       |          AS rn
       |        FROM seg WHERE pos = length(word)),
       |nu AS (SELECT word, ntoks AS n_uni FROM fin WHERE rn = 1),
       |uni AS (SELECT doc_id, sum(n)::BIGINT AS n_words,
       |        sum(n * n_uni)::BIGINT AS n_unigram_tokens
       |        FROM dw JOIN nu USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** WordPiece CTE block shared by the q188/q189 oracles — replays
    * [[operators.WordPiece.tokenize]] EXACTLY, assuming `dw` (doc_id,
    * word, n) and `vocab` (distinct word) CTEs are already defined (the
    * [[wordCountCtes]] pair). Greedy longest-match is a pure function of
    * the vocabulary SET, so the recursion is a linear chain: one matched
    * piece per level, `list_max` over the matching content lengths = the
    * longest match (`##`-prefixed after position 0), and a level with NO
    * match — or a word over the 200-code-point cap at the seed — collapses
    * the whole word to one `[UNK]` token (ntoks := 1, unk := true).
    * Exactly one terminal row per word (`pos >= length`). The vocabulary
    * literal comes from [[wordPieceVocab]]. */
  private def wordPieceCtes: String = {
    val vl = wordPieceVocab.map(p => s"'$p'").mkString("[", ", ", "]")
    val maxLen = wordPieceVocab.iterator
      .map { p => val c = p.stripPrefix("##"); c.codePointCount(0, c.length) }
      .max
    s"""wseg AS (
       |  SELECT word,
       |         CASE WHEN length(word) > ${operators.WordPiece.maxInputChars}
       |              THEN length(word) ELSE 0 END AS pos,
       |         CASE WHEN length(word) > ${operators.WordPiece.maxInputChars}
       |              THEN 1 ELSE 0 END::BIGINT AS ntoks,
       |         length(word) > ${operators.WordPiece.maxInputChars} AS unk
       |  FROM vocab
       |  UNION ALL
       |  SELECT word,
       |         CASE WHEN bl > 0 THEN pos + bl ELSE length(word) END,
       |         CASE WHEN bl > 0 THEN ntoks + 1 ELSE 1 END,
       |         bl = 0
       |  FROM (
       |    SELECT word, pos, ntoks,
       |      coalesce(list_max(list_filter(list_transform(
       |        range(1, least($maxLen, length(word) - pos) + 1),
       |        l -> CASE WHEN list_contains($vl,
       |               CASE WHEN pos = 0 THEN substring(word, 1, l)
       |                    ELSE '##' || substring(word, pos + 1, l) END)
       |             THEN l ELSE 0 END), x -> x > 0)), 0) AS bl
       |    FROM wseg WHERE pos < length(word) AND NOT unk)),
       |wnk AS (SELECT word, ntoks AS n_wp,
       |        CASE WHEN unk THEN 1 ELSE 0 END AS is_unk
       |        FROM wseg WHERE pos >= length(word)),
       |wp AS (SELECT doc_id, sum(n)::BIGINT AS n_words,
       |       sum(n * n_wp)::BIGINT AS n_wp_tokens,
       |       sum(n * is_unk)::BIGINT AS n_unk
       |       FROM dw JOIN wnk USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** Shared CTE prefix of the q93 oracle: [[bpeSql]]'s exact recursive
    * replay with the alphabet swapped from chars to UTF-8 BYTES — the seed
    * tokenization is `regexp_extract_all(hex(encode(word)), '..')` (one
    * uppercase hex pair per byte, the same spelling [[operators.Bpe]]'s
    * byte symbols use) over the accented fixture, and the merge-list
    * literal comes from [[bpeByteMerges]]. An empty word seeds ZERO tokens
    * (GPT-2 byte convention), vs the char variant's one. */
  private def bpeByteSql: String = {
    val ml = bpeByteMerges.map { case (l, r) => s"'$l'||chr(1)||'$r'" }.mkString("[", ",", "]")
    s"""fx AS ($accentedFixtureSql),
       |dw AS (SELECT doc_id, u.w AS word, count(*) AS n
       |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM fx),
       |            UNNEST(ws) AS u(w)
       |       GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT word FROM dw),
       |tok AS (
       |  SELECT word, regexp_extract_all(hex(encode(word)), '..') AS toks FROM vocab
       |  UNION ALL
       |  SELECT word, toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:] AS toks
       |  FROM (
       |    SELECT word, toks, list_position(rks, list_min(list_filter(rks, r -> r > 0))) AS pos
       |    FROM (
       |      SELECT word, toks,
       |             list_transform(range(1, len(toks)),
       |               i -> list_position($ml, toks[i] || chr(1) || toks[i+1])) AS rks
       |      FROM tok))
       |  WHERE pos IS NOT NULL AND pos > 0),
       |nb AS (SELECT word, min(len(toks)) AS n_bpe FROM tok GROUP BY word),
       |bpe AS (SELECT doc_id, sum(n)::BIGINT AS n_words,
       |        sum(n * n_bpe)::BIGINT AS n_bpe_tokens
       |        FROM dw JOIN nb USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** Derived URL fixture for q94/q95: one URL per document, cycling through
    * every normalization hazard — mixed-case scheme/host, default :80 port,
    * leading utm_ tracking parameter, fragment — while the canonical
    * resource is determined by (doc_id % 7 host, doc_id % 25 path+id), so
    * ~175 distinct normalized URLs absorb the corpus and the dedup has real
    * work. The path part stays identical across variants — paths are
    * case-SENSITIVE and normalization must leave them untouched, so only
    * scheme/host/port/query/fragment vary. Pure ASCII concat, derives
    * bit-for-bit in both engines. */
  private[graft] def urlDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"), concat(
      when(col("doc_id") % 5 === 0, lit("HTTP")).otherwise(lit("http")),
      lit("://"),
      // userinfo on every 11th doc — MIXED case, kept verbatim by
      // normalization (case-sensitive per RFC 3986) while the host beside
      // it still lowercases; these docs form their own canonical resources
      when(col("doc_id") % 11 === 0, lit("User:Pw@")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("WWW.Example")).otherwise(lit("www.example")),
      (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 2 === 0, lit(".COM")).otherwise(lit(".com")),
      when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
      lit("/a/"), (col("doc_id") % 25).cast("string"),
      when(col("doc_id") % 2 === 0, lit("?utm_source=feed&id=")).otherwise(lit("?id=")),
      (col("doc_id") % 25).cast("string"),
      when(col("doc_id") % 4 === 1, lit("#s")).otherwise(lit(""))).as("url"))
  }

  /** Derived trap-URL fixture (q151): five URL shapes per doc_id % 10 —
    * a deep generator path (11 segments), a /a/b/a/b/a/b relative-link
    * loop, a faceted-search param bomb (6 params), an unbounded
    * session-id page (one digit-masked template covering a tenth of the
    * corpus — the only signal that needs corpus evidence), and a benign
    * majority confined to 6 distinct URLs. Every signal fires on exactly
    * one planted class and the benign class trips none. */
  private[graft] def trapUrlDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("doc_id")
    Tables.documents(s, dir).select(id,
      when(id % 10 === 1,
        concat(lit("http://deep.example.com/s0/s1/s2/s3/s4/s5/s6/s7/s8/s9/"),
          (id % 5).cast("string")))
      .when(id % 10 === 2,
        concat(lit("http://loop.example.com/a/b/a/b/a/b/"), (id % 5).cast("string")))
      .when(id % 10 === 3,
        concat(lit("http://q.example.com/p?a=1&b=2&c=3&d=4&e=5&f="),
          (id % 5).cast("string")))
      .when(id % 10 === 4,
        concat(lit("http://cal.example.com/ev?sid="), id.cast("string")))
      .otherwise(concat(lit("http://ok"), (id % 2).cast("string"),
        lit(".example.com/p/"), (id % 3).cast("string"),
        lit("/q/"), (id % 2).cast("string"))).as("url"))
  }

  /** Synthetic audio corpus (q152): every doc_id % 3 == 0 document encodes
    * a real WAV clip of 400 + (doc_id % 5)·100 formula-PCM samples
    * ([[operators.Multimodal.testPcmWav]]). The payload is genuine
    * container bytes — the query decodes them through javax.sound — while
    * the SAMPLES follow an integer formula the oracle replays per row. */
  private[graft] def audioRecords(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[operators.MediaRecord] = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
      .select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        operators.MediaRecord(id, "audio/wav",
          Multimodal.testPcmWav(id, 400 + (id % 5).toInt * 100))
      })
  }

  /** Synthetic MP4 corpus (q175): %3==2 docs carry a REAL ISO-BMFF
    * container from [[Multimodal.testMp4]] — timescale 600 with
    * duration 600 + (id%7)·300 units (so duration_ms = 1000 + (id%7)·500
    * exercises a non-trivial integer division), an audio track on even
    * ids, the 64-bit mvhd variant on %4==1 ids — and %5==3 ids truncate
    * to 20 bytes (a box header cut mid-moov), the quarantine class the
    * walker must DROP. The oracle states all fields from this
    * construction (the q152 structural posture — DuckDB never parses a
    * container). */
  private[graft] def videoRecords(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[operators.MediaRecord] = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    Tables.documents(s, dir).filter(col("doc_id") % 3 === 2)
      .select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val full = Multimodal.testMp4(timescale = 600,
          durationUnits = 600 + (id % 7) * 300,
          withAudio = id % 2 == 0, v1 = id % 4 == 1)
        operators.MediaRecord(id, "video/mp4",
          if (id % 5 == 3) full.take(20) else full)
      })
  }

  /** The q151 oracle's copy of [[trapUrlDocuments]]'s construction. */
  private def trapUrlFixtureSql: String =
    """SELECT doc_id, CASE
      |  WHEN doc_id % 10 = 1 THEN 'http://deep.example.com/s0/s1/s2/s3/s4/s5/s6/s7/s8/s9/' || CAST(doc_id % 5 AS VARCHAR)
      |  WHEN doc_id % 10 = 2 THEN 'http://loop.example.com/a/b/a/b/a/b/' || CAST(doc_id % 5 AS VARCHAR)
      |  WHEN doc_id % 10 = 3 THEN 'http://q.example.com/p?a=1&b=2&c=3&d=4&e=5&f=' || CAST(doc_id % 5 AS VARCHAR)
      |  WHEN doc_id % 10 = 4 THEN 'http://cal.example.com/ev?sid=' || CAST(doc_id AS VARCHAR)
      |  ELSE 'http://ok' || CAST(doc_id % 2 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 3 AS VARCHAR) || '/q/' || CAST(doc_id % 2 AS VARCHAR)
      |END AS url FROM documents""".stripMargin

  /** Pinned robots.txt bodies for the q115 fixture, keyed by domain index
    * (= doc_id % 7, the [[urlDocuments]] domains). Domain 1 serves NO
    * robots.txt (missing-row ⇒ allowed). Every RFC 9309 mechanism the
    * gate implements appears at least once: specific-group shadowing (0,
    * 4, 5), prefix rules (0, 2, 4), longest-match + Allow-wins (2, 3),
    * `*` wildcards and `$` anchors (3), multi-agent headers, unknown
    * directives, empty values, comments, directive case (4), orphan rules
    * above the first User-agent line (5), and a full Disallow (6). The
    * SAME strings feed the Scala fixture and (via [[sqlTextLit]]) the
    * DuckDB oracle's VALUES list. */
  private[graft] val robotsFixtureTexts: Seq[(Int, String)] = Seq(
    // Crawl-delay lines exercise q124 ONLY — group ids are assigned
    // over ALL directive lines (one shared structure), and the
    // allow/disallow chains then ignore the delay rows; none sits
    // between User-agent header lines, so verdicts are untouched.
    // Coverage: delay in a shadowed '*' group must NOT
    // apply (0), non-numeric ignored (2), '*'-group delay applies when
    // no specific group exists (3), specific-group delay applies (4).
    // Sitemap: lines exercise q129's discovery and — per RFC 9309
    // §2.2.2, other records are "independent of any group" and MUST NOT
    // interfere with group parsing — are structurally INERT in the
    // gate/delay parses: declared on 0/3/4/5 — domain 6 has an XML body
    // but NO declaration (q129 must exclude it), domain 5's declared
    // body is malformed (zero rows). Domain 5 plants its declaration
    // INSIDE a multi-agent header run: graftbot and otherbot must still
    // form ONE group sharing `Disallow: /a/5` (a parser that lets the
    // Sitemap line split the run hands graftbot an empty group and
    // crawls what the site blocked)
    0 -> ("User-agent: graftbot\nDisallow: /a/1\n\n" +
      "User-agent: *\nDisallow: /\nCrawl-delay: 7\n" +
      "Sitemap: http://www.example0.com/sitemap.xml"),
    2 -> "User-agent: *\nDisallow: /a/2\nAllow: /a/2?\nCrawl-delay: soon",
    3 -> ("User-agent: *\nDisallow: /*?utm_\nAllow: /a/*&id=14$\nCrawl-delay: 2\n" +
      "SITEMAP: http://www.example3.com/sitemap_index.xml # index file"),
    4 -> ("# example4 policy\nUser-Agent: otherbot\nUSER-AGENT: graftbot\n" +
      "Crawl-delay: 10\nDisallow:\nDISALLOW: /a/7\nAllow: /a/7?x\n\n" +
      "User-agent: *\nDisallow: /\nSitemap: http://www.example4.com/sitemap.xml"),
    5 -> ("Disallow: /a\nUser-agent: graftbot\n" +
      "Sitemap: http://www.example5.com/sitemap.xml\n" +
      "User-agent: otherbot\nDisallow: /a/5\nUser-agent: *\nDisallow: /"),
    6 -> "User-agent: *\nDisallow: /")

  /** One robots.txt row per serving domain (domain 1 deliberately absent). */
  private[graft] def robotsDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val txt = robotsFixtureTexts.tail.foldLeft(
      when(col("di") === robotsFixtureTexts.head._1, lit(robotsFixtureTexts.head._2))) {
      case (acc, (i, t)) => acc.when(col("di") === i, lit(t))
    }
    Tables.documents(s, dir).select((col("doc_id") % 7).as("di")).distinct()
      .filter(col("di") =!= 1)
      .select(concat(lit("www.example"), col("di").cast("string"), lit(".com")).as("domain"),
        txt.as("robots_txt"))
  }

  /** Pinned sitemap XML bodies for q129, keyed like the robots fixture
    * (domain = www.example{i}.com). Coverage: already-crawled locs that
    * must drop after normalization (exact, case/port-variant, entity-
    * escaped query growing a NEW param), whitespace inside `<loc>`,
    * within-sitemap duplicate listing, a `<sitemapindex>` body (nested
    * refs, no page candidates), a malformed body (zero rows), and a body
    * on a domain with no `Sitemap:` declaration (excluded upstream). */
  private[graft] val sitemapFixtureTexts: Seq[(Int, String)] = Seq(
    0 -> ("<?xml version=\"1.0\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
      "<url><loc>http://www.example0.com/a/3?id=3</loc></url>\n" +
      "<url><loc>HTTP://WWW.EXAMPLE0.COM:80/a/10?id=10</loc></url>\n" +
      "<url><loc>http://www.example0.com/a/3?id=3&amp;ref=5</loc></url>\n" +
      "<url><loc>\n  http://www.example0.com/fresh/1\n</loc></url>\n" +
      "<url><loc>http://www.example0.com/fresh/1</loc></url>\n</urlset>"),
    3 -> ("<?xml version=\"1.0\"?>\n<sitemapindex>\n" +
      "<sitemap><loc>http://www.example3.com/sitemap_a.xml</loc></sitemap>\n" +
      "<sitemap><loc>http://www.example3.com/sitemap_b.xml</loc></sitemap>\n" +
      "</sitemapindex>"),
    4 -> ("<urlset>\n<url><loc>http://www.example4.com/a/11?id=11</loc></url>\n" +
      "<url><loc>http://www.example4.com/new/page</loc></url>\n</urlset>"),
    5 -> "<html>not a sitemap</html>",
    6 -> "<urlset><url><loc>http://www.example6.com/never/seen</loc></url></urlset>")

  /** One sitemap-body row per fixture domain (join against
    * [[operators.Robots.sitemapUrls]]' declarations to scope q129). */
  private[graft] def sitemapDocuments(s: SparkSession): DataFrame = {
    import s.implicits._
    sitemapFixtureTexts
      .map { case (i, x) => (s"www.example$i.com", x) }
      .toDF("domain", "sitemap_xml")
  }

  /** Pinned URL-keyed sitemap TREE fixture (q161): domain 0 publishes a
    * root `<sitemapindex>` → a leaf urlset, a dangling child (never
    * fetched), and a second-level index → another leaf; domain 1's root
    * is a plain urlset; domain 2 has an orphan urlset no root reaches.
    * Exercises: two index levels, the missing-child join miss, the
    * orphan exclusion, and cross-level URL dedup. */
  private[graft] val sitemapTreeFixture: Seq[(String, String, String)] = Seq(
    ("http://www.example0.com/sitemap.xml", "www.example0.com",
      "<sitemapindex><sitemap><loc>http://www.example0.com/a.xml</loc></sitemap>" +
        "<sitemap><loc>http://www.example0.com/missing.xml</loc></sitemap>" +
        "<sitemap><loc>http://www.example0.com/idx2.xml</loc></sitemap></sitemapindex>"),
    ("http://www.example0.com/a.xml", "www.example0.com",
      "<urlset><url><loc>http://www.example0.com/u1</loc></url>" +
        "<url><loc>http://www.example0.com/u2</loc></url></urlset>"),
    ("http://www.example0.com/idx2.xml", "www.example0.com",
      "<sitemapindex><sitemap><loc>http://www.example0.com/b.xml</loc></sitemap></sitemapindex>"),
    ("http://www.example0.com/b.xml", "www.example0.com",
      "<urlset><url><loc>http://www.example0.com/u3</loc></url>" +
        "<url><loc>http://www.example0.com/u1</loc></url></urlset>"),
    ("http://www.example1.com/sitemap.xml", "www.example1.com",
      "<urlset><url><loc>http://www.example1.com/u4</loc></url></urlset>"),
    ("http://www.example2.com/orphan.xml", "www.example2.com",
      "<urlset><url><loc>http://www.example2.com/u5</loc></url></urlset>"))

  private[graft] def sitemapTreeDocuments(s: SparkSession): DataFrame = {
    import s.implicits._
    sitemapTreeFixture.toDF("sitemap_url", "domain", "sitemap_xml")
  }

  /** The q129/q130 discovery front half: sitemap locs of DECLARED
    * sitemaps, normalized, minus the crawled corpus's normalized URLs.
    * Returns one row per surviving RAW url: (url, norm_url, ...). */
  private[graft] def discoveredCandidates(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val declared = operators.Robots.sitemapUrls(robotsDocuments(s, dir))
      .select("domain").distinct()
    val locs = operators.Frontier.sitemapLocs(
      sitemapDocuments(s).join(declared, "domain"))
    val cand = operators.UrlOps.withNormalizedUrl(
      locs.filter(col("kind") === "url").select(col("loc").as("url")).distinct())
    // NO distinct on the anti-join's right side: duplicate right keys
    // cannot change left-anti semantics, and the dedup would cost a full
    // exchange over every crawled URL before the join even starts
    val crawled = operators.UrlOps.withNormalizedUrl(urlDocuments(s, dir))
      .select("norm_url")
    cand.join(crawled, Seq("norm_url"), "left_anti")
  }

  /** DuckDB string literal for fixture text: quotes doubled, newlines as
    * chr(10) so the SQL stays single-line-safe. */
  private def sqlTextLit(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** DuckDB expression for a string with non-ASCII content: printable
    * ASCII stays a quoted literal, everything else becomes chr(codepoint)
    * — the q107 convention (no raw non-ASCII travels through source or
    * SQL). */
  private def sqlChrLit(s: String): String =
    s.map(c =>
      if (c >= ' ' && c <= '~') s"'${if (c == '\'') "''" else c}'"
      else s"chr(${c.toInt})").mkString(" || ")

  /** Pinned non-Latin phrases for the q120 script fixture (plain BMP
    * letters, \u-escaped so no raw non-ASCII sits in source). */
  private[graft] val scriptPhrases: Map[String, String] = Map(
    "cyrillic" -> "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440",
    "arabic" -> "\u0645\u0631\u062d\u0628\u0627",
    "cjk" -> "\u4f60\u597d\u4e16\u754c",
    "hangul" -> "\uc548\ub155\ud558\uc138\uc694")

  /** Script-mix fixture: doc_id % 5 picks the dominant script — 0 keeps
    * the (Latin) corpus text, 1–4 replace it with a repeated non-Latin
    * phrase plus a small Latin tail (mixed, but decisively dominated). */
  private[graft] def scriptDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 1,
        concat(repeat(lit(scriptPhrases("cyrillic") + " "), 12), lit("latin tail")))
        .when(col("doc_id") % 5 === 2,
          concat(repeat(lit(scriptPhrases("cjk")), 15), lit(" small latin")))
        .when(col("doc_id") % 5 === 3,
          concat(repeat(lit(scriptPhrases("arabic") + " "), 12), lit("tail")))
        .when(col("doc_id") % 5 === 4,
          concat(repeat(lit(scriptPhrases("hangul") + " "), 12), lit("end")))
        .otherwise(col("text")).as("text"))
  }

  /** Per-language phrases the q28 fixture plants (index = doc_id % 5).
    * Different sentences from [[langTrainingText]] — same language, new
    * wording — so recovering the planted label demonstrates profile
    * GENERALIZATION. Planted 3× per doc: the shared corpus word soup
    * dominates a single short phrase's gram ranking. */
  private[graft] val langIdPhrases: Seq[(String, String)] = Seq(
    ("en", "this is another sentence written in the same language with " +
      "many of the most common words that we use"),
    ("de", "dies ist ein weiterer satz in der gleichen sprache mit vielen " +
      "der haufigsten worter die wir benutzen"),
    ("fr", "ceci est une autre phrase ecrite dans la meme langue avec " +
      "beaucoup des mots les plus frequents que nous utilisons"),
    ("es", "esta es otra frase escrita en el mismo idioma con muchas de " +
      "las palabras mas comunes que usamos"),
    ("zh", "zhe shi ling yi ge ju zi yong tong yang de yu yan xie cheng " +
      "li mian you hen duo chang yong de ci"))

  /** Derived fixture for language ID (q28): every doc gains its planted
    * language's phrase ×3 after the (shared, English-ish) corpus text —
    * ground truth is the construction, so recovery is measurable. */
  private[graft] def langIdDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val idx = (col("doc_id") % 5).cast("int") + 1
    val phrase = element_at(array(langIdPhrases.map(p => lit(p._2)): _*), idx)
    Tables.documents(s, dir).select(col("doc_id"),
      concat_ws(" ", col("text"), phrase, phrase, phrase).as("text"))
  }

  /** Non-ASCII phrase the q101 fixture injects: 2-byte (é ï « à) and
    * 3-byte (— € ™) UTF-8 chars, so both mojibake cluster widths are
    * exercised. No ASCII apostrophe — the phrase embeds verbatim in the
    * oracle's SQL literal. Shared by fixture and oracle. */
  private[graft] val mojibakePhrase = " café — naïve «déjà» €9 ™"

  /** cp1252 image of byte b as a 1-char string column: latin-1 bytes map
    * to their own codepoint, 0x80–0x9F through the 32-entry specials map
    * (TextAnalysis.cp1252Image slice). Fixture-side only. */
  private def cp1252Chr(b: Column): Column = {
    val specials: Map[Int, String] =
      (0x80 to 0x9F).map(i =>
        i -> operators.TextAnalysis.cp1252Image(i - 0x80).toString).toMap
    import org.apache.spark.sql.functions._
    when(b >= 0xA0, chr(b)).otherwise(element_at(typedLit(specials), b))
  }

  /** FORWARD mojibake: what a fetcher that decoded UTF-8 bytes as cp1252
    * produces. Per char (simultaneously — a sequential replace chain would
    * cascade into chars it already rewrote), the char's UTF-8 bytes each
    * surface as their cp1252 image. BMP-only input (the fixture's is). */
  private def mojibakeForward(c: Column): Column = {
    import org.apache.spark.sql.functions._
    val enc = (x: Column) => {
      val cp = ascii(x)
      when(cp < 0x80, x)
        .when(cp < 0x800, concat(
          cp1252Chr(shiftright(cp, 6).bitwiseOR(lit(0xC0))),
          cp1252Chr(cp.bitwiseAND(lit(0x3F)).bitwiseOR(lit(0x80)))))
        .otherwise(concat(
          cp1252Chr(shiftright(cp, 12).bitwiseOR(lit(0xE0))),
          cp1252Chr(shiftright(cp, 6).bitwiseAND(lit(0x3F)).bitwiseOR(lit(0x80))),
          cp1252Chr(cp.bitwiseAND(lit(0x3F)).bitwiseOR(lit(0x80)))))
    }
    array_join(transform(split(c, ""), enc), "")
  }

  /** Derived fixture for encoding repair (q101): four damage classes over
    * the (pure-ASCII — probed at all SFs) corpus text.
    *   - %4==0: untouched ASCII — must pass through verbatim;
    *   - %4==1: phrase-injected text through ONE forward mojibake round;
    *   - %4==2: through TWO rounds (double-encoded UTF-8);
    *   - %4==3: phrase-injected CLEAN text wrapped in control chars (BEL,
    *     C1 0x9D) — real accents must NOT trigger reversal, controls go.
    * The oracle is the CLEAN construction itself (round-trip identity):
    * the true answer is a pure function of the construction, so plain SQL
    * states it without replaying the reversal. */
  private[graft] def mojibakeDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val injected = concat(col("text"), lit(mojibakePhrase))
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0, col("text"))
        .when(col("doc_id") % 4 === 1, mojibakeForward(injected))
        .when(col("doc_id") % 4 === 2, mojibakeForward(mojibakeForward(injected)))
        .otherwise(concat(lit("\u0007"), injected, lit("\u009D"))).as("text"))
  }

  /** Derived head-section fixture for page-metadata extraction (q108):
    * entity-carrying title on every doc, description on all but every 5th
    * (missing → null contract), robots meta on every doc — every 7th
    * noindex, spelled `<META name='robots'>` (mixed case + single-quoted
    * name) to exercise the tolerant tag match — canonical link on every
    * 3rd. Pure ASCII concat, derives bit-for-bit in both engines. */
  private[graft] def metaHtmlDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"), concat(
      lit("<html><head>\n  <title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; Friends</title>"),
      when(col("doc_id") % 5 =!= 0, concat(
        lit("<meta name=\"description\" content=\"Summary "),
        col("doc_id").cast("string"), lit(" &amp; more\">"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("<META name='robots' content=\"noindex, nofollow\">"))
        .otherwise(lit("<meta name=\"robots\" content=\"index, follow\">")),
      when(col("doc_id") % 3 === 0, concat(
        lit("<link rel=\"canonical\" href=\"http://example"),
        (col("doc_id") % 7).cast("string"), lit(".com/a/"),
        (col("doc_id") % 25).cast("string"), lit("\">"))).otherwise(lit("")),
      lit("</head><body><p>"), col("text"), lit("</p></body></html>")).as("html"))
  }

  /** The q108 oracle's copy of [[metaHtmlDocuments]]'s construction. */
  private def metaHtmlFixtureSql: String =
    """SELECT doc_id,
      |'<html><head>' || chr(10) || '  <title>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; Friends</title>' ||
      |CASE WHEN doc_id % 5 <> 0 THEN '<meta name="description" content="Summary ' || CAST(doc_id AS VARCHAR) || ' &amp; more">' ELSE '' END ||
      |CASE WHEN doc_id % 7 = 0 THEN '<META name=''robots'' content="noindex, nofollow">' ELSE '<meta name="robots" content="index, follow">' END ||
      |CASE WHEN doc_id % 3 = 0 THEN '<link rel="canonical" href="http://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/a/' || CAST(doc_id % 25 AS VARCHAR) || '">' ELSE '' END ||
      |'</head><body><p>' || text || '</p></body></html>' AS html
      |FROM documents""".stripMargin

  /** Derived fixture for NFC normalization (q107): the same visible
    * accented phrase appended DECOMPOSED (combining marks U+0301/U+0300 —
    * spelled as escapes here and as chr() in the oracle, no raw combining
    * chars in source) on %3==1 docs and COMPOSED on %3==2 docs; %3==0
    * stays pure ASCII. After normalization the two suffixed classes must
    * be byte-identical per doc_id mod class, and ASCII must pass through
    * verbatim. */
  private[graft] val nfdSuffix = " cafe\u0301 de\u0301ja\u0300 vu"
  private[graft] val nfcSuffix = " caf\u00e9 d\u00e9j\u00e0 vu"
  private[graft] def nfdDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 3 === 1, concat(col("text"), lit(nfdSuffix)))
        .when(col("doc_id") % 3 === 2, concat(col("text"), lit(nfcSuffix)))
        .otherwise(col("text")).as("text"))
  }

  /** Shared CTE chain of the q102/q103 oracles, ending in `score` —
    * replays [[operators.TextAnalysis.qualityScore]]'s features (the q55
    * and q60 oracle bodies) and its EXACT linear form: same literals, same
    * association order, so the double arithmetic is bit-identical. */
  private def qualityScoreCte: String =
    """w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg FROM w, UNNEST(range(1, len(ws))) t(i)),
      |bc AS (SELECT doc_id, max(c) AS mx, sum(c) AS total
      |       FROM (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2) GROUP BY doc_id),
      |qdw AS (SELECT doc_id, word, count(*) AS n
      |        FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2),
      |qc AS (SELECT word, sum(n) AS cnt FROM qdw GROUP BY word),
      |qt AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM qc),
      |lm AS (SELECT doc_id,
      |       round(sum(n * ln((cnt + 1.0) / (total + 1.0 * vocab))) / sum(n), 6) AS avg_logprob
      |       FROM qdw JOIN qc USING (word) CROSS JOIN qt GROUP BY doc_id),
      |qf AS (SELECT w.doc_id,
      |  CAST(len(ws) AS INT) AS n_words,
      |  CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
      |  COALESCE(CAST(mx AS DOUBLE) / total, 0.0) AS top_bigram_frac,
      |  CASE WHEN length(text) > 0
      |       THEN CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / length(text)
      |       ELSE 0.0 END AS alpha_frac,
      |  CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
      |    / len(ws) AS stopword_ratio
      |  FROM w LEFT JOIN bc ON w.doc_id = bc.doc_id),
      |score AS (SELECT qf.doc_id, round(
      |    0.2 * (least(n_words, 256) / 256.0)
      |  + 0.25 * alpha_frac
      |  + 0.15 * least(stopword_ratio * 2.0, 1.0)
      |  + 0.2 * greatest(0.0, least(1.0, (coalesce(avg_logprob, -8.0) + 8.0) / 5.0))
      |  - 0.1 * dup_word_frac
      |  - 0.1 * top_bigram_frac, 6) AS quality_score
      |  FROM qf LEFT JOIN lm ON qf.doc_id = lm.doc_id)""".stripMargin

  /** Readability replay over any (doc_id, text) source — the q125 oracle
    * body, reused by q127 over the snapshot-delta corpus. Lateral
    * aliases feed the grade formulas; every literal casts ::DOUBLE so
    * DuckDB's DECIMAL inference never enters the arithmetic, and the
    * grades stay UNROUNDED — same-association IEEE + · / over integer
    * counts is bit-identical across engines, while round() itself
    * diverges at exact 6-decimal halves (see the operator's scaladoc). */
  private def readabilitySql(src: String): String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' '))::BIGINT AS n_words,
       |  greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS n_sentences,
       |  CAST(list_sum(list_transform(string_split(text, ' '),
       |    w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))) AS BIGINT)
       |    AS n_syllables,
       |  len(regexp_extract_all(text, '[A-Za-z]'))::BIGINT AS n_letters,
       |  0.39::DOUBLE * n_words / n_sentences +
       |    11.8::DOUBLE * n_syllables / n_words - 15.59::DOUBLE AS fk_grade,
       |  4.71::DOUBLE * n_letters / n_words +
       |    0.5::DOUBLE * n_words / n_sentences - 21.43::DOUBLE AS ari
       |FROM $src""".stripMargin

  /** The q111 AND q112 oracle: the ENTIRE PQ path in SQL — md5-seeded
    * sub-codebooks, encode argmin, per-query LUT, integer ADC top-k.
    * q112 (IVF-PQ) probes every cell, so pruning is a no-op and the
    * same replay gates the composition. */
  private def pqAdcSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |dims AS (SELECT len(v) // 4 AS dsub FROM e LIMIT 1),
          |seeds AS (SELECT v, rn - 1 AS cid FROM (
          |  SELECT v, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
          |  FROM e) WHERE rn <= 16),
          |cb AS (SELECT sub, cid, v[sub*dsub+1 : sub*dsub+dsub] AS cv
          |       FROM seeds CROSS JOIN dims, UNNEST(range(0, 4)) t(sub)),
          |corp AS (SELECT vec_id AS n_id, sub, v[sub*dsub+1 : sub*dsub+dsub] AS nv
          |         FROM e CROSS JOIN dims, UNNEST(range(0, 4)) t(sub)),
          |cd AS (SELECT n_id, cd_sub.sub, cid, CAST(round(round(
          |    list_inner_product(nv, nv) + list_inner_product(cv, cv)
          |    - 2 * list_inner_product(nv, cv), 6) * 1e6, 0) AS BIGINT) AS d6
          |  FROM corp cd_sub JOIN cb ON cd_sub.sub = cb.sub),
          |codes AS (SELECT n_id, sub, cid AS code FROM (
          |  SELECT n_id, sub, cid,
          |         row_number() OVER (PARTITION BY n_id, sub ORDER BY d6, cid) AS rn
          |  FROM cd) WHERE rn = 1),
          |qs AS (SELECT vec_id AS q_id, sub, v[sub*dsub+1 : sub*dsub+dsub] AS qv
          |       FROM e CROSS JOIN dims, UNNEST(range(0, 4)) t(sub) WHERE vec_id < 10),
          |lut AS (SELECT q_id, qs.sub, cid, CAST(round(round(
          |    list_inner_product(qv, qv) + list_inner_product(cv, cv)
          |    - 2 * list_inner_product(qv, cv), 6) * 1e6, 0) AS BIGINT) AS qd6
          |  FROM qs JOIN cb ON qs.sub = cb.sub),
          |ad AS (SELECT q_id, n_id, CAST(sum(qd6) AS BIGINT) AS approx_dist_e6
          |       FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.cid
          |       WHERE q_id <> n_id GROUP BY 1, 2),
          |r AS (SELECT q_id, n_id, approx_dist_e6,
          |      CAST(row_number() OVER (PARTITION BY q_id
          |        ORDER BY approx_dist_e6, n_id) AS INT) AS rnk FROM ad)
          |SELECT q_id, n_id, approx_dist_e6, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** The q50 AND q110 oracle: exact brute-force cosine top-k over ALL
    * embeddings — q50 probes every cell of a fresh index and q110 probes
    * every cell of a built-then-APPENDED index, and both operating points
    * provably equal exhaustive search. */
  private def bruteForceAnnSql: String = bruteForceAnnSqlFor("")

  /** [[bruteForceAnnSql]] with the CORPUS side filtered (and optionally
    * re-embedded) — q236's deletion gate and q244's lifecycle gate: the
    * probe of a mutated index must equal brute force over the corpus AS
    * IT NOW STANDS (queries stay unfiltered and un-updated — a
    * retracted or re-encoded vector's ORIGINAL embedding can still
    * arrive as an external query). */
  private def bruteForceAnnSqlFor(corpusWhere: String,
      embExpr: String = "embedding::DOUBLE[]"): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, $embExpr AS nv FROM embeddings$corpusWhere),
      |s AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
      |      FROM q, c WHERE q_id <> n_id),
      |r AS (SELECT q_id, n_id, cos_sim,
      |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INT) AS rnk
      |      FROM s)
      |SELECT q_id, n_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** The q96 AND q104 oracle: the composed crawl front-end replayed as one
    * CTE chain over the shared boilerplate/url fixtures. */
  private def webPipelineSql: String =
    s"""WITH $boilerplateCte,
       |$urlCanonCte,
       |x AS (SELECT doc_id,
       |  array_to_string(list_transform(content, s -> s.t), ' ') AS main_text
       |  FROM cl),
       |keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY norm_url),
       |cap AS (SELECT doc_id, domain FROM (
       |  SELECT doc_id, domain, row_number() OVER (
       |    PARTITION BY domain
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM d) WHERE rn <= 40),
       |j AS (SELECT x.doc_id, cap.domain,
       |  len(string_split(main_text, ' ')) AS nw
       |  FROM x JOIN keep USING (doc_id) JOIN cap USING (doc_id))
       |SELECT doc_id, domain, nw::BIGINT AS n_words FROM j WHERE nw >= 30""".stripMargin

  /** The q94/q201 shared oracle: the normalization-chain replay +
    * exact dedup over the URL fixture — one row per normalized URL with
    * the min-doc_id keeper and the group size. The same SQL gates the
    * batch chain (q94) and the streaming state's verified sink (q201). */
  private def urlDedupOracleSql: String =
    s"""WITH $urlCanonCte
       |SELECT norm_url, min(doc_id) AS keep_id, count(*) AS n_dups
       |FROM n GROUP BY 1""".stripMargin

  /** The q94/q95 oracles' copy of [[urlDocuments]]'s construction. */
  private def urlFixtureSql: String =
    """SELECT doc_id,
      |CASE WHEN doc_id % 5 = 0 THEN 'HTTP' ELSE 'http' END || '://' ||
      |CASE WHEN doc_id % 11 = 0 THEN 'User:Pw@' ELSE '' END ||
      |CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example' ELSE 'www.example' END ||
      |CAST(doc_id % 7 AS VARCHAR) ||
      |CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.com' END ||
      |CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END ||
      |'/a/' || CAST(doc_id % 25 AS VARCHAR) ||
      |CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' ELSE '?id=' END ||
      |CAST(doc_id % 25 AS VARCHAR) ||
      |CASE WHEN doc_id % 4 = 1 THEN '#s' ELSE '' END AS url
      |FROM documents""".stripMargin

  /** Shared CTE prefix of the q92/q96 oracles (CTEs `h`, `st`, `cl`):
    * replays the extractor's ALGORITHM (block split → per-block text/link
    * scoring with entity decode → integer-rational density filter) over
    * the derived html — DuckDB list lambdas mirror the Spark higher-order
    * functions one for one. */
  private def boilerplateCte: String = boilerplateCteFor(htmlFixtureSql)
  private def boilerplateCteFor(fixtureSql: String): String = {
    val blockRe = operators.Boilerplate.blockTagRe
    val anyTag = operators.Boilerplate.anyTagRe
    val anchorRe = operators.Boilerplate.anchorTextRe
    val invisible = Seq(
      operators.Boilerplate.scriptRe, operators.Boilerplate.styleRe,
      operators.Boilerplate.commentRe, operators.Boilerplate.openScriptRe,
      operators.Boilerplate.openStyleRe, operators.Boilerplate.openCommentRe)
      .foldLeft("html")((acc, re) => s"regexp_replace($acc, '$re', ' ', 'g')")
    s"""h AS ($fixtureSql),
       |st AS (
       |  SELECT doc_id, list_transform(string_split_regex($invisible, '$blockRe'),
       |    b -> {'t': trim(regexp_replace(${entityDecodeSql(s"regexp_replace(b, '$anyTag', ' ', 'g')")}, '\\s+', ' ', 'g')),
       |          'l': coalesce(list_sum(list_transform(regexp_extract_all(b, '$anchorRe', 1), a -> length(trim(${entityDecodeSql("a")})))), 0)}) AS stats
       |  FROM h),
       |cl AS (
       |  SELECT doc_id,
       |    list_filter(stats, s -> length(s.t) >= 25 AND s.l * 100 <= length(s.t) * 33) AS content,
       |    list_filter(stats, s -> length(s.t) > 0) AS nonempty
       |  FROM st)""".stripMargin
  }

  /** Shared CTE prefix of the q94/q95/q96 oracles (CTEs `f`, `s`, `n`,
    * `d`): the url fixture, its stripped + normalized forms, and the
    * per-doc domain. */
  private def urlCanonCte: String = urlCanonCteFor(urlFixtureSql)

  /** The q94-family normalization replay over any (doc_id, url) source;
    * `p` prefixes the CTE names so two chains (e.g. q129's crawled set
    * vs sitemap candidates) coexist in one WITH. */
  private def urlCanonCteFor(fixtureSql: String, p: String = ""): String = {
    val tp = operators.UrlOps.trackingParams
    s"""${p}f AS ($fixtureSql),
       |${p}sq AS (SELECT doc_id,
       |  regexp_replace(nf, '\\?.*$$', '') AS base,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(regexp_extract(nf, '\\?(.*)$$', 1),
       |        '&$tp=[^&]*', '', 'g'),
       |      '^$tp=[^&]*&', ''),
       |    '^$tp=[^&]*$$', '') AS q
       |  FROM (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf FROM ${p}f)),
       |${p}s AS (SELECT doc_id,
       |  CASE WHEN q = '' THEN base ELSE base || '?' || q END AS u FROM ${p}sq),
       |${p}n AS (SELECT doc_id, $urlNormSql AS norm_url FROM ${p}s),
       |${p}d AS (SELECT doc_id,
       |  lower(regexp_extract(url, '${operators.UrlOps.bareHostRe}', 1)) AS domain
       |  FROM ${p}f)""".stripMargin
  }

  /** The q94 oracle's normalization chain — the SAME pattern strings
    * [[operators.UrlOps]] applies (no capture-group replacements, so the
    * Java-vs-RE2 `$1`/`\1` spelling difference never arises). `u` must be
    * the stripped-URL alias. */
  private def urlNormSql: String = {
    val scheme = s"lower(regexp_extract(u, '${operators.UrlOps.schemeRe}', 1))"
    val userinfo = s"regexp_extract(u, '${operators.UrlOps.userinfoRe}', 1)"
    val host = s"lower(regexp_extract(u, '${operators.UrlOps.hostPortRe}', 1))"
    s"""CASE WHEN $scheme = '' THEN u ELSE
       |$scheme || '://' || $userinfo ||
       |CASE WHEN $scheme = 'http' THEN regexp_replace($host, ':80$$', '')
       |     WHEN $scheme = 'https' THEN regexp_replace($host, ':443$$', '')
       |     ELSE $host END ||
       |regexp_extract(u, '${operators.UrlOps.restRe}', 1) END""".stripMargin
  }

  /** Derived multi-line fixture for the line-level dedup (q97): every doc
    * gains a universal boilerplate line, every second doc a second one, and
    * every doc a unique ref line that must SURVIVE — so removal counts are
    * a pure function of the construction (2 lines from even docs, 1 from
    * odd) and the original text line (df = 1) passes through. `chr(10)` ==
    * the Scala "\n" literal in both engines. */
  private[graft] def linedDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"), concat(
      col("text"), lit("\nsubscribe to our newsletter today"),
      when(col("doc_id") % 2 === 0, lit("\nfollow us on social media")).otherwise(lit("")),
      lit("\nref code "), col("doc_id").cast("string")).as("text"))
  }

  /** Derived WITHIN-doc line-repetition fixture (q176): each doc = its
    * corpus text line + a call-to-action line repeated 1 + doc_id%3 times
    * + a unique ref line — so runs of length 1, 2 and 3 all occur and the
    * duplicated-line fractions are a pure function of the construction.
    * `chr(10)`/`repeat` derive bit-for-bit in both engines. */
  private[graft] def repLinedDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"), concat(
      col("text"),
      expr("repeat(concat(chr(10), 'please subscribe to our newsletter'), " +
        "cast(doc_id % 3 as int) + 1)"),
      lit("\nref code "), col("doc_id").cast("string")).as("text"))
  }

  /** Derived duplicated fixture for the soft-dedup weights (q139): the
    * corpus plus one extra copy of every %3 doc and a second extra copy
    * of every %9 doc under shifted ids — group sizes 1, 2 and 3 all
    * occur, so the reciprocal weight takes three distinct values and the
    * row-preservation contract is exercised on real duplication. */
  private[graft] def dupDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  /** The q154 per-doc scorecard, shared with the q159 mixture capstone:
    * four verified signal chains (Gopher rules, pinned-weights score,
    * badword fraction, char-entropy floor) joined into reason flags + the
    * keep conjunction. */
  private[graft] def curationScorecard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(s, dir)
    // r21: the rules verdict and the score ride ONE fused chain
    // (qualityScoreFeatures) — previously qualityRules was evaluated twice
    // (alone + inside qualityScore) and joined back on doc_id, behind a
    // doc_id identity join that defined a row set the projections already
    // have (one row per doc). Values are byte-identical; q154's oracle
    // unchanged.
    val rs = TextAnalysis.qualityScoreFeatures(docs)
      .select(col("doc_id"), (!col("quality_pass")).as("gopher_fail"),
        (!col("quality_keep")).as("score_low"))
    val bad = TextAnalysis.badwordStats(docs, Seq("dup", "slow", "spam"),
        maxFracMicro = 40000L)
      .select(col("doc_id"), (!col("keep")).as("badword_hit"))
    val ent = TextAnalysis.entropyStats(docs)
      .select(col("doc_id"), (col("char_entropy") < 2.0).as("__el"))
    rs.join(bad, "doc_id")
      .join(ent, Seq("doc_id"), "left")
      .withColumn("entropy_low", coalesce(col("__el"), lit(true)))
      .withColumn("keep", !col("gopher_fail") && !col("score_low") &&
        !col("badword_hit") && !col("entropy_low"))
      .select("doc_id", "gopher_fail", "score_low", "badword_hit",
        "entropy_low", "keep")
  }

  /** Synthetic image corpus for the perceptual-hash queries (q149): every
    * doc_id % 7 == 0 document renders
    * [[operators.Multimodal.testPatternPng]](doc_id % 13) — equal render
    * params mean the SAME picture — with the odd half pixel-replicated 2×,
    * so perceptual duplicates differ in payload bytes AND resolution while
    * byte-level hashing would find nothing. Rendered executor-side per
    * partition (the testdata ships no binary media column; the render is
    * the deterministic stand-in for a lakehouse image table). */
  private[graft] def imageRecords(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[operators.MediaRecord] = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
      .select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        operators.MediaRecord(id, "image/png",
          Multimodal.testPatternPng(id % 13, scale = if (id % 2 == 1) 2 else 1))
      })
  }

  /** Synthetic MJPEG-AVI corpus for the video queries (q186/q187): every
    * doc_id % 6 == 0 document muxes a real RIFF/AVI container whose movi
    * frames are JDK-JPEG-encoded [[operators.Multimodal.testPatternImage]]
    * renders. Class p = (doc_id / 6) % 9 fixes the FOOTAGE (frame params
    * alternate p, 50+p) and the frame count (3 + p % 3), while the
    * doc-specific JUNK chunk makes every container byte-unique — so
    * byte-level dedup finds nothing and only the frame-decode path can
    * pair same-class videos (the q149 rationale lifted to video). */
  private[graft] def aviRecords(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[operators.MediaRecord] = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    Tables.documents(s, dir).filter(col("doc_id") % 6 === 0)
      .select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val p = (id / 6) % 9
        val nf = (3 + p % 3).toInt
        val params = (0 until nf).map(i => if (i % 2 == 0) p else 50 + p)
        operators.MediaRecord(id, "video/avi",
          Multimodal.testMjpegAvi(params, junk = id))
      })
  }

  /** The q154 scorecard's oracle chain (shared with q159): the
    * qualityScoreCte (rule fractions + pinned-weights score), the q116
    * badword replay (bw-prefixed), the q145 char-entropy replay
    * (e-prefixed), and the flag projection `fl`. */
  private def scorecardCtes: String =
    s"""$qualityScoreCte,
       |bwt AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |bwh AS (SELECT doc_id, toks,
       |  list_intersect(toks, ['dup', 'slow', 'spam']) AS hits FROM bwt),
       |bwc AS (SELECT doc_id, len(toks)::BIGINT AS bn,
       |  len(list_filter(toks, x -> list_contains(hits, x)))::BIGINT AS bad_count
       |  FROM bwh),
       |ec AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
       |  FROM documents WHERE len(text) > 0),
       |ecc AS (SELECT doc_id, ch, count(*) AS n FROM ec GROUP BY 1, 2),
       |ece AS (SELECT doc_id,
       |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS char_entropy
       |  FROM ecc GROUP BY doc_id),
       |fl AS (SELECT qf.doc_id,
       |  NOT (qf.n_words >= 20 AND qf.dup_word_frac <= 0.6
       |       AND qf.top_bigram_frac <= 0.1 AND qf.alpha_frac >= 0.8) AS gopher_fail,
       |  NOT (score.quality_score >= 0.4) AS score_low,
       |  bwc.bad_count * 1000000 > bwc.bn * 40000 AS badword_hit,
       |  coalesce(ece.char_entropy < 2.0, TRUE) AS entropy_low
       |  FROM qf JOIN score ON qf.doc_id = score.doc_id
       |       JOIN bwc ON qf.doc_id = bwc.doc_id
       |       LEFT JOIN ece ON qf.doc_id = ece.doc_id)""".stripMargin

  /** The q139 oracle's copy of [[dupDocuments]]'s construction. */
  private def dupFixtureSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0
      |UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 0""".stripMargin

  /** Derived mirrored fixture for the cross-source duplicate matrix
    * (q143): the corpus plus a 'mirror0' slice re-hosting every %4 doc
    * and a 'mirror1' slice re-hosting every %8 doc — so mirror0 overlaps
    * every original source, mirror1 is a subset of mirror0's texts, and
    * no duplication exists WITHIN any source (the matrix must count
    * cross-source pairs only). */
  private[graft] def mirrorDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = Tables.documents(s, dir).select("doc_id", "text", "source")
    d.unionByName(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
          lit("mirror0").as("source")))
      .unionByName(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"),
          lit("mirror1").as("source")))
  }

  /** The q143 oracle's copy of [[mirrorDocuments]]'s construction. */
  private def mirrorFixtureSql: String =
    """SELECT doc_id, text, source FROM documents
      |UNION ALL SELECT doc_id + 3000000, text, 'mirror0' FROM documents WHERE doc_id % 4 = 0
      |UNION ALL SELECT doc_id + 4000000, text, 'mirror1' FROM documents WHERE doc_id % 8 = 0""".stripMargin

  /** Pinned C-like snippet for the q146/q147 code fixture: braces,
    * semicolon line ends, two-space indentation — the modality gate's
    * positive class, scoring far above [[operators.CodeAnalysis
    * .defaultCodeThresholdE6]] while the prose corpus scores near zero. */
  private[graft] val codeSnippet: String =
    "int main(int argc, char **argv) {\n  int sum = 0;\n" +
    "  for (int i = 0; i < argc; i++) {\n    sum += i;\n  }\n" +
    "  return sum;\n}\n"

  /** License headers for the q146 fixture, keyed by `doc_id % 11` residue
    * and BUILT FROM [[operators.CodeAnalysis.licensePhrases]] (drift-free):
    * SPDX tags, phrase fingerprints, an SPDX-over-conflicting-phrase case
    * (5), and a non-permissive SPDX id exercising the `+` charset (6). */
  private[graft] val licenseHeaders: Seq[(Int, String)] = {
    val ph = operators.CodeAnalysis.licensePhrases.toMap
    Seq(
      0 -> "SPDX-License-Identifier: MIT\n",
      1 -> (ph("Apache-2.0") + " (the License).\n"),
      2 -> (ph("MIT") + ", to any person obtaining a copy.\n"),
      3 -> (ph("BSD-3-Clause") + ", with or without modification.\n"),
      4 -> (ph("GPL-3.0-only") + " as published by the Free Software Foundation.\n"),
      5 -> ("SPDX-License-Identifier: Apache-2.0\n" + ph("GPL-3.0-only") + ".\n"),
      6 -> "SPDX-License-Identifier: LGPL-2.1-or-later\n")
  }

  /** Derived code-corpus fixture (q146/q147): every %7 doc's text becomes
    * [[codeSnippet]], then %11 residues prepend [[licenseHeaders]]. */
  private[graft] def codeDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val hdr = licenseHeaders.foldRight(lit("")) { case ((m, h), els) =>
      when(col("doc_id") % 11 === m, lit(h)).otherwise(els)
    }
    Tables.documents(s, dir).select(col("doc_id"),
      concat(hdr,
        when(col("doc_id") % 7 === 0, lit(codeSnippet)).otherwise(col("text")))
        .as("text"))
  }

  /** Derived card-number fixture (q163): every doc gains one 16-digit
    * candidate (4·10¹⁵ + doc_id — ~10% pass Luhn, decided by the shared
    * checksum, no planted answer key), every %5 doc an 8-digit run
    * that must stay below the 13-digit extraction floor, and every %7 doc
    * a SECOND full-length candidate (the canonical Luhn-valid
    * 4111111111111111 test PAN) — two extractable candidates in one doc,
    * so the oracle row count itself pins the per-candidate explode path
    * (one output row per candidate, not per document). */
  private[graft] def cardDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" card "),
        (lit(4000000000000000L) + col("doc_id")).cast("string"),
        when(col("doc_id") % 5 === 0, lit(" ref 12345678")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" alt 4111111111111111")).otherwise(lit("")))
        .as("text"))
  }

  /** Derived compression fixture (q169): three planted classes by residue —
    * %3=0 a 24×-repeated 45-char template (+doc_id suffix), %3=1 1024 hex
    * chars from 32 chained md5s, %3=2 16 rounds of one md5 + a 19-char
    * filler — DEFLATE must separate them (probed bands at all 3 SFs:
    * 52-55k / 548-560k / 412-428k micro-units) while the oracle states the
    * class from the construction (both engines build identical strings;
    * md5 agrees bit-for-bit). */
  private[graft] def deflateDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val idStr = col("doc_id").cast("string")
    val rep = concat(lit("the quick brown fox jumps over the lazy dog " * 24), idStr)
    val rnd = concat((0 until 32).map(k => md5(concat(idStr, lit(s":$k")))): _*)
    val mix = concat((0 until 16).flatMap(k =>
      Seq(md5(concat(idStr, lit(s"#$k"))), lit(" filler words here "))): _*)
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, rep)
        .when(col("doc_id") % 3 === 1, rnd)
        .otherwise(mix).as("text"))
  }

  /** Synthetic .ipynb corpus (q160): every document becomes a real
    * nbformat JSON skeleton — a markdown cell, a two-line code cell, and
    * (even ids) a second code cell — so the engine must PARSE genuine
    * JSON while the oracle states the expected cells straight from the
    * construction (the q149/q152 structural pattern; no JSON functions
    * needed oracle-side). Content derives from doc_id only, so no
    * corpus text needs JSON-escaping. */
  private[graft] def notebookDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("doc_id").cast("string")
    Tables.documents(s, dir).select(col("doc_id"), concat(
      lit("""{"nbformat": 4, "cells": [{"cell_type": "markdown", "source": ["# doc """),
      id, lit("\"]}, {\"cell_type\": \"code\", \"source\": [\"x = "),
      id, lit("""\n", "print(x)"]}"""),
      when(col("doc_id") % 2 === 0, concat(
        lit(""", {"cell_type": "code", "source": ["y = """),
        (col("doc_id") * 2).cast("string"), lit("\"]}"))).otherwise(lit("")),
      lit("]}")).as("text"))
  }

  /** The q146/q147 oracles' copy of [[codeDocuments]]'s construction. */
  private def codeFixtureSql: String = {
    val cases = licenseHeaders.map { case (m, h) =>
      s"WHEN doc_id % 11 = $m THEN ${sqlTextLit(h)}"
    }.mkString(" ")
    s"""SELECT doc_id, (CASE $cases ELSE '' END) ||
       |  (CASE WHEN doc_id % 7 = 0 THEN ${sqlTextLit(codeSnippet)} ELSE text END) AS text
       |FROM documents""".stripMargin
  }

  /** The q137 DSIR chain as reusable CTEs (shared verbatim by q142's
    * selection oracle — drift-free): hashed buckets via the q40
    * '0x'-cast md5 idiom, both histograms from the same per-(doc,
    * bucket) counts, α = 1, B = 512 (so α·B = 512), round-6 only at the
    * final sum. Ends in `dw(doc_id, n_words, log_weight)`. */
  private def dsirCtes: String =
    """w AS (SELECT doc_id, lang = 'en' AS t, unnest(string_split(text, ' ')) AS word FROM documents),
      |b AS (SELECT doc_id, t, ('0x' || substr(md5(word), 1, 4))::INT % 512 AS bucket FROM w),
      |db AS (SELECT doc_id, t, bucket, count(*) AS n FROM b GROUP BY 1, 2, 3),
      |cs AS (SELECT bucket, sum(n) AS cs FROM db GROUP BY 1),
      |ctt AS (SELECT bucket, sum(n) AS ct FROM db WHERE t GROUP BY 1),
      |st AS (SELECT bucket, cs, COALESCE(ct, 0) AS ct FROM cs LEFT JOIN ctt USING (bucket)),
      |tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM st),
      |dw AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
      |round(sum(n * (ln((ct + 1.0) / (tt + 512.0)) - ln((cs + 1.0) / (ts + 512.0)))), 6) AS log_weight
      |FROM db JOIN st USING (bucket) CROSS JOIN tot GROUP BY doc_id)""".stripMargin

  /** Shared oracle of q68 (direct incremental near-dup) and q98 (the
    * index-backed probe): the two operator entry points share their
    * candidates → verify → anti-join core, so ONE exact batch×corpus
    * Jaccard oracle covers both — and the gate proves the persisted
    * layout loses nothing vs recomputing the corpus side. */
  /** The q67 AND q114 oracle: in-batch first-id-wins + corpus hash
    * anti-join. q114's Bloom gate is a pure pruning lever (no false
    * negatives; false positives die in the exact verify), so both paths
    * provably produce this result. */
  private def incrementalDedupSql: String =
    """WITH batch AS (
      |  SELECT doc_id + 1000000 AS doc_id,
      |         text || ' fresh ' || CAST(doc_id AS VARCHAR) AS text
      |  FROM documents WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' fresh ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 4 = 1),
      |firsts AS (SELECT doc_id, text,
      |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM batch)
      |SELECT doc_id, text FROM firsts
      |WHERE rn = 1
      |  AND NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = firsts.text)""".stripMargin

  /** Shared CTE chain of the q115/q123 oracles, ending in
    * `rv(doc_id, domain, path, allowed)` — the FULL RFC 9309 replay (line
    * split via zipped unnest, directive parse with the operator's own
    * regexes, group-run ids, specific-shadows-'*' selection, LIKE-pattern
    * compilation, in-row max(2·len+isAllow) parity verdict) over the
    * pinned [[robotsFixtureTexts]] bodies, applied to the url-fixture
    * fetch URLs. */
  /** rb…ra of the robots replay — the compiled per-domain rule arrays,
    * shared by the page verdict (rv), the q124 delay chain (which
    * re-parses `rlines` with 4 kinds), and q130's candidate verdict. */
  private def robotsRulesCtes: String = {
    val values = robotsFixtureTexts
      .map { case (i, t) => s"($i, ${sqlTextLit(t)})" }.mkString(", ")
    s"""rb AS (SELECT 'www.example' || CAST(di AS VARCHAR) || '.com' AS domain, txt
       |  FROM (VALUES $values) t(di, txt)),
       |rlines AS (SELECT domain,
       |  unnest(string_split(txt, chr(10))) AS raw,
       |  unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS idx FROM rb),
       |dirs AS (SELECT domain, idx, kind, val FROM (
       |  SELECT domain, idx,
       |    lower(regexp_extract(cl, '${operators.Robots.directiveKindRe}', 1)) AS kind,
       |    regexp_extract(cl, '${operators.Robots.directiveValRe}', 1) AS val
       |  FROM (SELECT domain, idx, regexp_replace(raw, '#.*$$', '') AS cl FROM rlines))
       |  WHERE kind IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
       |g AS (SELECT *, sum(CASE WHEN kind = 'user-agent'
       |        AND coalesce(lagk, '') <> 'user-agent' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY domain ORDER BY idx ROWS UNBOUNDED PRECEDING) AS gid
       |  FROM (SELECT *, lag(kind) OVER (PARTITION BY domain ORDER BY idx) AS lagk
       |        FROM dirs)),
       |am AS (SELECT domain, gid,
       |    max(CASE WHEN lower(val) = 'graftbot' THEN 1 ELSE 0 END) AS spec
       |  FROM g WHERE kind = 'user-agent' AND (lower(val) = 'graftbot' OR val = '*')
       |  GROUP BY domain, gid),
       |appl AS (SELECT domain, gid FROM
       |  (SELECT *, max(spec) OVER (PARTITION BY domain) AS ms FROM am)
       |  WHERE spec = ms),
       |rrules AS (SELECT domain,
       |    replace(CASE WHEN ends_with(esc, '$$') THEN substr(esc, 1, length(esc) - 1)
       |                 ELSE esc || '%' END, '*', '%') AS lp,
       |    2 * length(val) + CASE WHEN kind = 'allow' THEN 1 ELSE 0 END AS rank
       |  FROM (SELECT *, replace(replace(replace(val, '!', '!!'), '%', '!%'), '_', '!_') AS esc
       |        FROM g JOIN appl USING (domain, gid)
       |        WHERE kind IN ('allow', 'disallow') AND val <> '') e),
       |ra AS (SELECT domain, list({'lp': lp, 'rank': rank}) AS rules
       |  FROM rrules GROUP BY domain)""".stripMargin
  }

  private def robotsVerdictCtes: String =
    s"""rpages AS ($urlFixtureSql),
       |rp AS (SELECT doc_id,
       |  lower(regexp_extract(url, '${operators.UrlOps.bareHostRe}', 1)) AS domain,
       |  coalesce(nullif(regexp_extract(url, '${operators.Robots.pathQueryRe}', 1), ''), '/') AS path
       |  FROM rpages),
       |$robotsRulesCtes,
       |rv AS (SELECT doc_id, rp.domain, path,
       |  coalesce(list_max(list_transform(
       |    list_filter(ra.rules, q -> rp.path LIKE q.lp ESCAPE '!'),
       |    q -> q.rank)) % 2 = 1, true) AS allowed
       |  FROM rp LEFT JOIN ra USING (domain))""".stripMargin

  /** The q124/q130 delay replay: since [[robotsRulesCtes]]' `g` now
    * assigns group ids over ALL directive lines (the one group structure
    * both parses share — mirroring `Robots.groupedDirectives`), the delay
    * table is just the applicable groups' valid `crawl-delay` max —
    * `rdel(domain, crawl_delay)` straight off `g`/`appl`, no re-parse. */
  private def robotsDelayCtes: String =
    s"""rdel AS (SELECT domain, max(val::BIGINT) AS crawl_delay
       |  FROM g JOIN appl USING (domain, gid)
       |  WHERE kind = 'crawl-delay' AND regexp_matches(val, '^[0-9]{1,9}$$')
       |  GROUP BY domain)""".stripMargin

  /** The q129/q130 discovery replay — ends in
    * `smnew(domain, norm_url, url)`: declared-sitemap locs, entity
    * decode, candidate normalization (CTE-prefixed `c`), crawled-corpus
    * normalization (default prefix), anti-join. */
  private def sitemapCandidateCtes: String = {
    val rvalues = robotsFixtureTexts
      .map { case (i, t) => s"($i, ${sqlTextLit(t)})" }.mkString(", ")
    val svalues = sitemapFixtureTexts
      .map { case (i, x) => s"($i, ${sqlTextLit(x)})" }.mkString(", ")
    def lit1(s: String) = "'" + s.replace("'", "''") + "'"
    val decodedUrl = operators.Boilerplate.entities.foldLeft("loc") {
      case (acc, (e, ch)) => s"replace($acc, ${lit1(e)}, ${lit1(ch)})"
    }
    s"""smrb AS (SELECT 'www.example' || CAST(di AS VARCHAR) || '.com' AS domain, txt
       |  FROM (VALUES $rvalues) t(di, txt)),
       |smdecl AS (SELECT DISTINCT domain FROM (
       |  SELECT domain, lower(regexp_extract(regexp_replace(l, '#.*$$', ''),
       |    '${operators.Robots.directiveKindRe}', 1)) AS kind
       |  FROM (SELECT domain, unnest(string_split(txt, chr(10))) AS l FROM smrb))
       |  WHERE kind = 'sitemap'),
       |smx AS (SELECT 'www.example' || CAST(di AS VARCHAR) || '.com' AS domain, xml
       |  FROM (VALUES $svalues) t(di, xml)),
       |smloc AS (SELECT url FROM (
       |  SELECT $decodedUrl AS url FROM (
       |    SELECT unnest(regexp_extract_all(xml, '${operators.Frontier.locRe}', 1)) AS loc
       |    FROM smx JOIN smdecl USING (domain)
       |    WHERE lower(regexp_extract(xml, '${operators.Frontier.rootRe}', 1)) = 'urlset'))
       |  WHERE url <> ''),
       |smcand AS (SELECT row_number() OVER (ORDER BY url) AS doc_id, url
       |  FROM (SELECT DISTINCT url FROM smloc)),
       |${urlCanonCteFor("SELECT doc_id, url FROM smcand", "c")},
       |${urlCanonCteFor(urlFixtureSql)},
       |crawled AS (SELECT DISTINCT norm_url FROM n),
       |smnew AS (SELECT cd.domain, cn.norm_url, smcand.url
       |  FROM cn JOIN cd USING (doc_id) JOIN smcand USING (doc_id)
       |  WHERE cn.norm_url NOT IN (SELECT norm_url FROM crawled))""".stripMargin
  }

  /** Pinned blocklist entries for q117/q123 — exact host, parent suffix,
    * and a never-matching domain; the same list feeds the Scala queries
    * and the oracle VALUES. */
  private[graft] val blockedDomainEntries: Seq[String] =
    Seq("example3.com", "www.example5.com", "bad.org")

  /** Shared CTE chain of the q117/q123 oracles, ending in
    * `bv(doc_id, domain, blocked)` — label-suffix expansion of each fetch
    * URL's host equi-joined to the pinned blocklist entries. */
  private def blocklistVerdictCtes: String =
    s"""blpages AS ($urlFixtureSql),
       |blp AS (SELECT doc_id,
       |  lower(regexp_extract(url, '${operators.UrlOps.bareHostRe}', 1)) AS domain
       |  FROM blpages),
       |bl AS (SELECT * FROM (VALUES ${
      blockedDomainEntries.map(e => s"('$e')").mkString(", ")}) t(suffix)),
       |sfx AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(string_split(domain, '.')) + 1),
       |    i -> array_to_string(string_split(domain, '.')[i:], '.'))) AS suffix
       |  FROM blp),
       |bhit AS (SELECT DISTINCT doc_id FROM sfx JOIN bl USING (suffix)),
       |bv AS (SELECT blp.doc_id, blp.domain, bhit.doc_id IS NOT NULL AS blocked
       |  FROM blp LEFT JOIN bhit ON blp.doc_id = bhit.doc_id)""".stripMargin

  /** The q74 AND q119 oracle: one BM25 replay gates both the direct path
    * and the posting-list index probe — they share the ranking core, so
    * equality here proves the persisted layout loses nothing. Float
    * literals are ::DOUBLE-pinned (bare 0.5 is DECIMAL in DuckDB) and the
    * expression mirrors the Spark operand order so double association is
    * identical. */
  private def bm25Sql: String = bm25SqlFor("")

  /** [[bm25Sql]] with the corpus filtered (and optionally re-texted) —
    * q235's deletion gate and q243's lifecycle gate: the probe of a
    * mutated postings layout must equal BM25 over the corpus AS IT NOW
    * STANDS (retracted docs absent, recrawled docs re-texted). n_docs,
    * avgdl, and df all shift under deletion and update, so a manifest
    * counter not adjusted (or a stale/surviving posting row) fails
    * every score. */
  private def bm25SqlFor(corpusWhere: String,
      textExpr: String = "text"): String =
    s"""WITH t AS (SELECT doc_id, string_split($textExpr, ' ') AS ws FROM documents$corpusWhere),
      |tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM t),
      |corp AS (SELECT count(*) AS n_docs,
      |           sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
      |         FROM (SELECT doc_id, len(ws) AS dl FROM t)),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
      |       WHERE term IN ('spark', 'vector', 'window', 'merge', 'scan')
      |       GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |s AS (SELECT term, doc_id,
      |        round(ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
      |              * tf::DOUBLE * 2.2::DOUBLE
      |              / (tf::DOUBLE + 1.2::DOUBLE *
      |                 (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl::DOUBLE / avgdl)),
      |              6) AS score
      |      FROM tf JOIN df USING (term), corp),
      |r AS (SELECT term, doc_id, score,
      |        CAST(row_number() OVER (PARTITION BY term
      |                                ORDER BY score DESC, doc_id) AS INT) AS rnk
      |      FROM s)
      |SELECT term, doc_id, score, rnk FROM r WHERE rnk <= 10""".stripMargin

  /** Shared CTE chain of the q180/q181 oracles, ending in
    * `bq(query_id, doc_id, score_micro, rank)` — the multi-term BM25
    * replay: query bags from docs < 8, corpus tf over the query-term
    * set, per-(term, doc) contributions integerized (round-6 ×10⁶, the
    * q144 policy) BEFORE the per-(query, doc) LONG sum, top-10 per
    * query by (score desc, doc_id). */
  private def bm25QueryCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |qt AS (SELECT doc_id AS query_id, unnest(ws) AS term FROM t WHERE doc_id < 8),
      |qg AS (SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
      |       FROM qt GROUP BY 1, 2),
      |tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM t),
      |corp AS (SELECT count(*) AS n_docs,
      |           sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
      |         FROM (SELECT doc_id, len(ws) AS dl FROM t)),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
      |       WHERE term IN (SELECT DISTINCT term FROM qg)
      |       GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |tm AS (SELECT term, doc_id,
      |        CAST(round(round(
      |          ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
      |              * tf::DOUBLE * 2.2::DOUBLE
      |              / (tf::DOUBLE + 1.2::DOUBLE *
      |                 (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl::DOUBLE / avgdl)),
      |          6) * 1000000, 0) AS BIGINT) AS tm
      |      FROM tf JOIN df USING (term), corp),
      |qs AS (SELECT qg.query_id, tm.doc_id,
      |        CAST(sum(qg.qtf * tm.tm) AS BIGINT) AS score_micro
      |      FROM tm JOIN qg USING (term) GROUP BY 1, 2),
      |bq AS (SELECT query_id, doc_id, score_micro,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_micro DESC, doc_id) AS INT) AS rank
      |      FROM qs QUALIFY rank <= 10)""".stripMargin

  /** Every `shard<id>` artifact dir under `<stores>/shards`, ordered by
    * the NUMERIC batch id — a lexicographic sort would put shard10
    * before shard2 once a stream passes nine waves — and listed through
    * the Fs scheme abstraction rather than java.io, so artifact streams
    * work wherever their path's scheme points (r18 ADVICE). */
  private def shardPathsUnder(stores: String): Seq[String] =
    operators.Sketches.shardPaths(s"$stores/shards")

  /** The q241/q242 shared reader: every `shard*` artifact accumulated
    * under `stores/shards`, run through the checked contract against
    * the full corpus. */
  private def checkedShardsUnder(s: SparkSession, dir: String,
      stores: String): DataFrame =
    operators.Sketches.distinctShardsChecked(s, shardPathsUnder(stores),
      Tables.events(s, dir), groupCol = "event_type",
      distinctCol = "user_id")

  /** The q234/q241 shared oracle: exact per-type counts + distincts
    * from the full corpus; the sketch-side contracts (union within ±5%
    * of exact, shard-union ≡ one-pass rebuild) reduce to literal-true
    * booleans the operator computes in-query. */
  private def sketchShardsOracleSql: String =
    """SELECT event_type, count(*)::BIGINT AS n_rows,
      |count(DISTINCT user_id)::BIGINT AS exact_uniques,
      |true AS union_within_bound, true AS union_eq_rebuild
      |FROM events GROUP BY event_type""".stripMargin

  /** The q46/q238 shared CTE chain: exact-Jaccard pairs at 0.5 over
    * 3-gram sets, symmetric edges, and the recursive reachability table
    * `reach(node, lab)` whose per-node min is the cluster id — the
    * recursive-CTE ground truth the LSH cluster path must equal. */
  private def lshClusterCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |c AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
      |p AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS n_common
      |      FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
      |      GROUP BY 1, 2),
      |pairs AS (SELECT doc1, doc2 FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
      |          WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.5),
      |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
      |          UNION SELECT doc2, doc1 FROM pairs),
      |reach AS (
      |  SELECT src AS node, src AS lab FROM edges
      |  UNION
      |  SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.node)""".stripMargin

  private def nearDupIncrementalSql: String = nearDupIncrementalSqlFor("")

  /** [[nearDupIncrementalSql]] with the CORPUS side filtered (and
    * optionally re-texted) — q237's deletion gate and q245's lifecycle
    * gate: a batch doc whose only near-match was a deleted corpus doc
    * must now SURVIVE (its screen is gone), an updated doc screens with
    * its NEW gram set, and nothing else may change. The batch itself is
    * never filtered — retraction affects what's indexed, not what
    * arrives. */
  private def nearDupIncrementalSqlFor(corpusWhere: String,
      textExpr: String = "text"): String =
    s"""WITH batch AS (
      |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, text || ' ' || text FROM documents WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT doc_id + 30000000,
      |         array_to_string(list_transform(string_split(text, ' '), w -> w || 'x'), ' ')
      |  FROM documents WHERE doc_id % 4 = 1),
      |bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM batch),
      |bg AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |       FROM bw, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |bc AS (SELECT doc_id, count(*) AS n_grams FROM bg GROUP BY doc_id),
      |cw AS (SELECT doc_id, string_split($textExpr, ' ') AS ws FROM documents$corpusWhere),
      |cg AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |       FROM cw, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |cc AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
      |p AS (SELECT bg.doc_id AS doc1, cg.doc_id AS doc2, count(*) AS n_common
      |      FROM bg JOIN cg ON bg.gram = cg.gram GROUP BY 1, 2),
      |drops AS (SELECT DISTINCT doc1 AS doc_id
      |          FROM p JOIN bc ON doc1 = bc.doc_id JOIN cc ON doc2 = cc.doc_id
      |          WHERE CAST(n_common AS DOUBLE)
      |                / (bc.n_grams + cc.n_grams - n_common) >= 0.5)
      |SELECT doc_id, text FROM batch
      |WHERE NOT EXISTS (SELECT 1 FROM drops WHERE drops.doc_id = batch.doc_id)""".stripMargin

  /** The q97 oracle's copy of [[linedDocuments]]'s construction. */
  private def linedFixtureSql: String =
    """SELECT doc_id, text || chr(10) || 'subscribe to our newsletter today' ||
      |CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'follow us on social media' ELSE '' END ||
      |chr(10) || 'ref code ' || CAST(doc_id AS VARCHAR) AS text FROM documents""".stripMargin

  /** Derived fixture for the normalization-aware dedup (q75): every third
    * document gains a SHOUTY copy — upper-cased with trailing punctuation —
    * which byte-exact dedup would keep but [[TextAnalysis.normalizeText]]
    * collapses back onto its original. upper/lower and `||` are ASCII-exact
    * in both engines, so the fixture derives bit-for-bit. */
  private[graft] def shoutyDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base.unionAll(base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(upper(col("text")), lit(" !!")).as("text")))
  }

  /** Derived RAW-HTML fixture for boilerplate extraction (q92): each doc's
    * text wrapped as the article paragraph of a page with the chrome a real
    * crawl carries — a link-only `<nav>`, a short `<h1>`, a short link-free
    * share line, a link-dense `<footer>`, and (every third doc) a link-only
    * sidebar `<div>`. Pure ASCII `||` concatenation of literals + the text
    * + `CAST(doc_id AS VARCHAR)` — derives bit-for-bit in both engines. The
    * TRUE main text is the original `text` (space-normalized), so the
    * extractor's output is checkable against the corpus itself. */
  private[graft] def htmlDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body>" +
        // invisible chrome a real page carries: script + style payloads and
        // a comment (all must vanish before scoring), plus newline-indented
        // markup (whitespace collapse must absorb it)
        "<script type=\"text/javascript\">var cfg = {a: 1, b: \"nav\"};</script>" +
        "<style>.nav { color: red; }</style><!-- page chrome -->" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav>" +
        "<h1>Doc "), col("doc_id").cast("string"), lit("</h1>\n  <p>"),
      col("text"),
      // every 5th doc carries HTML entities in its article text — the
      // extractor must decode them (to 'Q&A <ok>'), and &amp;lt; ordering
      // is pinned by the unit suite
      when(col("doc_id") % 5 === 0, lit(" Q&amp;A &lt;ok&gt;")).otherwise(lit("")),
      lit("</p>"),
      when(col("doc_id") % 3 === 0, lit("<div class=\"sidebar\">" +
        "<a href=\"/r1\">Related article one</a> " +
        "<a href=\"/r2\">Related article two</a></div>")).otherwise(lit("")),
      lit("<p>Share this page</p>" +
        "<footer><a href=\"/tos\">Terms of Service</a> " +
        "<a href=\"/privacy\">Privacy Policy</a> (c) 2026 Example Corp &amp; Sons</footer>" +
        "</body></html>")).as("html"))
  }

  /** The q92 oracle's copy of [[htmlDocuments]]'s construction. */
  private def htmlFixtureSql: String =
    """SELECT doc_id,
      |'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body>' ||
      |'<script type="text/javascript">var cfg = {a: 1, b: "nav"};</script>' ||
      |'<style>.nav { color: red; }</style><!-- page chrome -->' ||
      |'<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>' ||
      |'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || '  <p>' || text ||
      |CASE WHEN doc_id % 5 = 0 THEN ' Q&amp;A &lt;ok&gt;' ELSE '' END || '</p>' ||
      |CASE WHEN doc_id % 3 = 0 THEN '<div class="sidebar"><a href="/r1">Related article one</a> <a href="/r2">Related article two</a></div>' ELSE '' END ||
      |'<p>Share this page</p>' ||
      |'<footer><a href="/tos">Terms of Service</a> <a href="/privacy">Privacy Policy</a> (c) 2026 Example Corp &amp; Sons</footer>' ||
      |'</body></html>' AS html
      |FROM documents""".stripMargin

  /** Derived LINKED-page fixture for the domain link graph (q113): each doc
    * becomes a page on `www.site{doc_id%97}.com` whose anchors are planted
    * deterministically — an absolute link to site `(3·doc_id+1)%97` always;
    * a MIXED-CASE `<A HREF="HTTPS://...">` link to site `(5·doc_id+2)%97`
    * on even docs (case-folding must land it on the same domain key); a
    * relative link, and a `mailto:` (both must NOT extract); on every third
    * doc a DUPLICATE of the first link (edge `distinct` must collapse it)
    * and a SELF-link to the page's own domain (self-loop removal). Both
    * planted maps are bijections mod 97 sharing the fixed point 48, so
    * site48's links are all self-loops — a genuinely dangling domain the
    * PageRank dangling contract is exercised by. Pure ASCII `||` of
    * literals + `CAST`, derives bit-for-bit in both engines. */
  private[graft] def linkedHtmlDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val site = (k: Column) => concat(lit("www.site"), k.cast("string"), lit(".com"))
    Tables.documents(s, dir).select(col("doc_id"),
      concat(lit("http://"), site(col("doc_id") % 97),
        lit("/p/"), col("doc_id").cast("string")).as("url"),
      concat(
        lit("<html><body><p>"), col("text"), lit("</p>"),
        lit("<a href=\"http://"), site((col("doc_id") * 3 + 1) % 97),
        lit("/a\">first</a>"),
        lit(" <a href=\"/local\">rel</a> <a href=\"mailto:x@example.com\">mail</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<A HREF=\"HTTPS://WWW.Site"),
            ((col("doc_id") * 5 + 2) % 97).cast("string"),
            lit(".COM/b?x=1\">second</A>"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit("<a href=\"http://"), site((col("doc_id") * 3 + 1) % 97),
            lit("/a\">dup</a><a href=\"http://"), site(col("doc_id") % 97),
            lit("/self\">self</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("html"))
  }

  /** The q113 oracle's copy of [[linkedHtmlDocuments]]'s construction. */
  private def linkedHtmlFixtureSql: String =
    """SELECT doc_id,
      |'http://www.site' || CAST(doc_id % 97 AS VARCHAR) || '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
      |'<html><body><p>' || text || '</p>' ||
      |'<a href="http://www.site' || CAST((doc_id * 3 + 1) % 97 AS VARCHAR) || '.com/a">first</a>' ||
      |' <a href="/local">rel</a> <a href="mailto:x@example.com">mail</a>' ||
      |CASE WHEN doc_id % 2 = 0 THEN '<A HREF="HTTPS://WWW.Site' || CAST((doc_id * 5 + 2) % 97 AS VARCHAR) || '.COM/b?x=1">second</A>' ELSE '' END ||
      |CASE WHEN doc_id % 3 = 0 THEN '<a href="http://www.site' || CAST((doc_id * 3 + 1) % 97 AS VARCHAR) || '.com/a">dup</a><a href="http://www.site' || CAST(doc_id % 97 AS VARCHAR) || '.com/self">self</a>' ELSE '' END ||
      |'</body></html>' AS html
      |FROM documents""".stripMargin

  /** Pinned politeness delays for the q133 site-family domains: every
    * fourth site gets an explicit 1–3 s delay, the rest default. Derived
    * from `range` (no robots bodies exist for this fixture family), the
    * SAME formula the oracle's `dly` CTE replays. */
  private[graft] def siteDelays(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    s.range(0, 97).filter(col("id") % 4 === 0)
      .select(concat(lit("www.site"), col("id").cast("string"), lit(".com")).as("domain"),
        (lit(1L) + col("id") % 3).as("crawl_delay"))
  }

  /** The q134/q135 OLD snapshot: the url fixture's pages with their
    * corpus text — (doc_id, url, text). doc_id rides along only to derive
    * the mutation and the prior-interval store; the operator itself keys
    * on url. */
  private[graft] def recrawlOldSnapshot(s: SparkSession, dir: String): DataFrame =
    urlDocuments(s, dir).join(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id")

  /** The q134/q135 NEW snapshot: %7 ids removed, %5 texts rewritten,
    * %6-derived fresh URLs added (the q122 mutation shape on URL keys). */
  private[graft] def recrawlNewSnapshot(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val old = recrawlOldSnapshot(s, dir)
    old.filter(col("doc_id") % 7 =!= 0)
      .select(col("url"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(Tables.documents(s, dir).filter(col("doc_id") % 6 === 0)
        .select(concat(lit("http://www.example"), (col("doc_id") % 7).cast("string"),
          lit(".com/fresh/"), col("doc_id").cast("string")).as("url"),
          concat(lit("fresh doc "), col("doc_id").cast("string")).as("text")))
  }

  /** The q134/q135 prior-interval store: every even doc's URL carries a
    * pinned interval cycling 900/7200/86400/500 s — hitting the doubling,
    * both clamps, and the halve path; odd docs exercise the no-history
    * default. */
  private[graft] def recrawlIntervals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    recrawlOldSnapshot(s, dir).filter(col("doc_id") % 2 === 0)
      .select(col("url"), element_at(
        array(lit(900L), lit(7200L), lit(86400L), lit(500L)),
        (expr("doc_id div 2") % 4).cast("int") + 1).as("interval_sec"))
  }

  /** Derived html pages ON the robots-fixture domains for the q135
    * capstone's link graph: every page links to the next domain (mod 7),
    * even pages also to domain (2·id+3) % 7 — a dense 7-node domain graph
    * whose PageRank the frontier then keys on. The SAME formulas replay
    * in [[exampleLinkedFixtureSql]]. */
  private[graft] def exampleLinkedPages(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    urlDocuments(s, dir).select(col("doc_id"), col("url"),
      concat(
        lit("<html><body><a href=\"http://www.example"),
        ((col("doc_id") + 1) % 7).cast("string"),
        lit(".com/l/"), (col("doc_id") % 13).cast("string"), lit("\">n</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href=\"http://www.example"),
            ((col("doc_id") * 2 + 3) % 7).cast("string"),
            lit(".com/m\">x</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("html"))
  }

  /** The q135 oracle's copy of [[exampleLinkedPages]]'s construction. */
  private def exampleLinkedFixtureSql: String =
    s"""SELECT doc_id, url,
       |'<html><body><a href="http://www.example' || CAST((doc_id + 1) % 7 AS VARCHAR) ||
       |'.com/l/' || CAST(doc_id % 13 AS VARCHAR) || '">n</a>' ||
       |CASE WHEN doc_id % 2 = 0 THEN '<a href="http://www.example' ||
       |CAST((doc_id * 2 + 3) % 7 AS VARCHAR) || '.com/m">x</a>' ELSE '' END ||
       |'</body></html>' AS html
       |FROM ($urlFixtureSql) elp""".stripMargin

  /** The q113/q133/q135 PageRank replay as a reusable CTE chain —
    * extraction → domain edges → the SAME integer-exact update
    * [[operators.LinkGraph.pageRank]] runs, unrolled one CTE per
    * iteration (`//` is DuckDB integer division = Spark's `div` on these
    * all-positive operands), so every rank replays bit-for-bit with zero
    * pinned state. Ends in `ranks(domain, rank_e6)`; intermediate CTEs:
    * `pages`, `links(doc_id, url, href)`, `edges`, `outd`, `nodes`,
    * `r0..rN`. */
  private def pageRankCtes(pagesFixtureSql: String, iterations: Int,
      dampingPct: Int): String = {
    val base = (100L - dampingPct) * 10000L
    val hostEx = (c: String) =>
      s"lower(regexp_extract($c, '${operators.UrlOps.bareHostRe}', 1))"
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT n.domain, CAST($base + ($dampingPct * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_e6
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst_domain AS domain, SUM(p.rank_e6 // o.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} p ON e.src_domain = p.domain
         |    JOIN outd o ON o.src_domain = e.src_domain GROUP BY 1) c
         |  ON n.domain = c.domain)""".stripMargin
    }.mkString(",\n")
    s"""pages AS ($pagesFixtureSql),
       |links AS (SELECT doc_id, url, unnest(regexp_extract_all(html,
       |  '${operators.LinkGraph.absAnchorHrefRe}', 1)) AS href FROM pages),
       |edges AS (SELECT DISTINCT src_domain, dst_domain FROM (
       |  SELECT ${hostEx("url")} AS src_domain, ${hostEx("href")} AS dst_domain
       |  FROM links)
       |  WHERE src_domain <> dst_domain AND src_domain <> '' AND dst_domain <> ''),
       |outd AS (SELECT src_domain, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT domain FROM (
       |  SELECT src_domain AS domain FROM edges
       |  UNION ALL SELECT dst_domain FROM edges)),
       |r0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS rank_e6 FROM nodes),
       |$iters,
       |ranks AS (SELECT domain, rank_e6 FROM r$iterations)""".stripMargin
  }

  private def pageRankSql(iterations: Int, dampingPct: Int): String =
    s"""WITH ${pageRankCtes(linkedHtmlFixtureSql, iterations, dampingPct)}
       |SELECT domain, rank_e6 FROM ranks""".stripMargin

  /** The q92 oracle's entity-decode chain, generated from the SAME pairs
    * [[operators.Boilerplate.entities]] applies (order included — `&amp;`
    * last), so the two engines cannot drift. */
  private def entityDecodeSql(inner: String): String =
    operators.Boilerplate.entities.foldLeft(inner) { case (acc, (e, ch)) =>
      s"regexp_replace($acc, '$e', '${ch.replace("'", "''")}', 'g')"
    }

  /** Derived NON-ASCII fixture for the byte-level BPE (q93): every fourth
    * doc gains three accented words whose UTF-8 encodings are multi-byte
    * (é=C3A9, ü=C3BC, ï=C3AF) — the rows where a byte alphabet visibly
    * diverges from a char alphabet. `chr()` code points in the oracle ==
    * the Scala literals' UTF-8 under DuckDB's UTF-8 strings. */
  /** Derived fixture for q196 few-shot retrieval: the corpus's own
    * vocabulary is 31 words each present in ~78% of documents — every
    * word is a stop-word, so whole-doc lexical similarity is the same
    * between ANY two documents and all-pairs candidate generation is
    * inherent to the raw table (no algorithm can be selective on it).
    * Appending two TOPIC tokens per doc-id group of 20 (counts varied by
    * doc_id arithmetic so cos² actually discriminates within a group)
    * plants the structure real corpora have: topic tokens sit at df ≈ 1%
    * — far under the inverted index's 5% guard — while the 30 corpus
    * words drop as hot, so each query's candidates are exactly its ~19
    * topic-mates and retrieval volume grows LINEARLY with the corpus
    * (group size is fixed). The oracle derives the same tokens from the
    * same doc_id arithmetic — the structural-fixture pattern (q53/q93). */
  private[graft] def fewshotDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"),
      expr("""concat(text,
        ' ', rtrim(repeat(concat('ta', cast(doc_id div 20 as string), ' '),
                          cast(1 + doc_id % 2 as int))),
        ' ', rtrim(repeat(concat('tb', cast(doc_id div 20 as string), ' '),
                          cast(1 + doc_id % 3 as int))))""").as("text"),
      col("source"))
  }

  private[graft] def accentedDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" café über naïve")))
        .otherwise(col("text")).as("text"),
      col("source"))
  }

  /** The q93 oracle's copy of [[accentedDocuments]]'s construction. */
  private def accentedFixtureSql: String =
    """SELECT doc_id, CASE WHEN doc_id % 4 = 0
      |THEN text || ' caf' || chr(233) || ' ' || chr(252) || 'ber na' || chr(239) || 've'
      |ELSE text END AS text, source FROM documents""".stripMargin

  /** Pinned BYTE-level BPE merge table for q93 — trained by
    * [[operators.Bpe.trainMergesBytes]] (24 merges) on the sf0.01
    * [[accentedDocuments]] fixture; BpeSpec pins this table against
    * retraining. Symbols are uppercase hex byte spellings (`hex()`'s
    * output), so the oracle replays merges over
    * `regexp_extract_all(hex(encode(word)), '..')` with this same constant
    * as its merge-list literal. */
  private[graft] val bpeByteMerges: Seq[(String, String)] = Seq(
    ("65", "72"), ("69", "6E"), ("6F", "77"), ("6F", "72"), ("73", "74"),
    ("6D", "6572"), ("61", "74"), ("6C", "75"), ("61", "72"), ("70", "6172"),
    ("63", "61"), ("76", "65"), ("6A", "6F"), ("6A6F", "696E"), ("61", "73"),
    ("6173", "68"), ("68", "617368"), ("72", "6F77"), ("6174", "63"),
    ("617463", "68"), ("62", "61746368"), ("6361", "6E"), ("73", "63616E"),
    ("63", "6F"))

  /** Derived fixture for the edit-distance fuzzy dedup (q78): suffix-edited
    * copies at distance 4 (` xyz`, inside maxDist=8) and distance 11
    * (` abcdefghij`, outside it); both edits sit past the 12-char block
    * prefix so the pairs co-block. Pure ASCII concatenation — derives
    * bit-for-bit on both engines. */
  private[graft] def editedDocuments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base
      .unionAll(base.filter(col("doc_id") % 6 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" xyz")).as("text")))
      .unionAll(base.filter(col("doc_id") % 6 === 2)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(col("text"), lit(" abcdefghij")).as("text")))
  }

  /** Derived SKEWED source labeling for temperature mixing (q84): the
    * natural `source` column is uniform (τ-sampling would be a no-op), so
    * docs relabel 50% big / 37.5% mid / 12.5% small by doc_id residues —
    * identical CASE semantics in both engines. */
  private[graft] def skewedSources(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 2 === 0, "big")
        .when(col("doc_id") % 8 === 3, "small")
        .otherwise("mid").as("source"))
  }

  /** Derived "new crawl" batch for the incremental EXACT dedup run (q67):
    *  - fresh docs (doc_id % 4 == 1 → +1M): corpus text + ' fresh <id>' —
    *    novel content (the corpus never contains the word 'fresh'), survive;
    *  - exact corpus copies (doc_id % 5 == 0 → +2M): dropped by the corpus
    *    hash anti-join;
    *  - a second copy of every fresh doc (→ +3M, same text): dropped by the
    *    in-batch first-id-wins rule (the +1M twin is kept).
    * All string math is identical in DuckDB, so the batch derives
    * bit-for-bit on both engines. */
  private[graft] def incrementalBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val freshText = concat(col("text"), lit(" fresh "), col("doc_id").cast("string"))
    val fresh = base.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), freshText.as("text"))
    val copies = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val intra = base.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 3000000L).as("doc_id"), freshText.as("text"))
    fresh.unionAll(copies).unionAll(intra)
  }

  /** Derived batch for the incremental NEAR-dup dedup run (q68):
    *  - exact corpus copies (doc_id % 5 == 0 → +10M): Jaccard 1.0 vs source;
    *  - doubled texts (doc_id % 7 == 3 → +20M, text ∥ ' ' ∥ text): share all
    *    their source's grams plus a few bridge grams — j ≈ |g|/(|g|+k-1+dup),
    *    ≈ 0.9 on this corpus, a true near-dup that is NOT hash-identical;
    *  - x-suffixed docs (doc_id % 4 == 1 → +30M, every word + 'x'): zero
    *    gram overlap with the corpus (probed: no corpus word ends in 'x'),
    *    so they survive the screen.
    * Word-wise transforms reproduce exactly in DuckDB (list_transform). */
  private[graft] def nearDupBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val copies = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val doubled = base.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat_ws(" ", col("text"), col("text")).as("text"))
    val suffixed = base.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "), w => concat(w, lit("x"))), " ").as("text"))
    copies.unionAll(doubled).unionAll(suffixed)
  }

  /** One persisted on-disk fixture per (kind, SF dir), built on the FIRST
    * construction and reused by every later one in the JVM — the testdata
    * under an SF dir is immutable, so reuse is sound, and build-once/
    * probe-many is the operators' own contract. A per-invocation fresh
    * build (the r7 q98 shape) accumulated one JVM shutdown hook and ~1 MB
    * of temp files per construction over a long session; now a single
    * hook sweeps the bounded map (one entry per (kind, SF dir) ever
    * queried). */
  private val tempFixtureDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val tempFixtureCleanup: Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    sys.addShutdownHook(tempFixtureDirs.values().forEach(p => rm(new java.io.File(p))))
    ()
  }
  private def lazyFixtureDir(kind: String, dir: String)(build: String => Unit): String = {
    tempFixtureCleanup
    tempFixtureDirs.computeIfAbsent(s"$kind|$dir", _ => {
      val path = java.nio.file.Files.createTempDirectory(s"graft_$kind").toFile
      build(path.getAbsolutePath)
      path.getAbsolutePath
    })
  }

  /** Evict one cached fixture so its next use REBUILDS — the
    * CodegenFallbackSpec uses this so a staged stream actually runs
    * instead of reading a fixture an earlier test left cached. */
  private[graft] def dropFixture(kind: String, dir: String): Unit = {
    val p = tempFixtureDirs.remove(s"$kind|$dir")
    if (p != null) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(p))
    }
  }

  private def q98IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("mh_index_q98", dir) { path =>
      Dedup.writeMinHashIndex(Tables.documents(s, dir), path,
        n = 3, numHashes = 16, bands = 16)
    }

  /** q22's [[signatureDocuments]] materialized once per SF dir — the
    * fixture's LSH+verify derivation is several times the cost of the
    * query it feeds, so it must not be re-derived per query run. */
  private def q22FixturePath(s: SparkSession, dir: String): String =
    lazyFixtureDir("sig_docs_q22", dir) { path =>
      signatureDocuments(s, dir).write.mode("overwrite").parquet(s"$path/docs")
    }

  private def q119IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("inv_index_q119", dir) { path =>
      TextAnalysis.writeInvertedIndex(Tables.documents(s, dir), path, buckets = 64)
    }

  /** The q121 index: built on 3/4 of the corpus, the rest folded in by
    * [[operators.TextAnalysis.appendToInvertedIndex]] — the query's
    * oracle equality (probe == full-corpus BM25) holds only if the
    * append produced exactly the rebuild's postings and manifest. */
  private def q121IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("inv_index_q121", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 4 =!= 0),
        path, buckets = 64)
      TextAnalysis.appendToInvertedIndex(docs.filter(col("doc_id") % 4 === 0), path)
    }

  /** The q174 continuous-ingest stores: ONE batch arrival ([[incrementalBatch]])
    * landing in every serving artifact the repo maintains, all gated by the
    * SAME bloom-dedup verdict —
    *  - `survivors/`: the bloom-gated dedup output (the q114 gate);
    *  - `inv/`: the q119 inverted index built on the corpus, survivors
    *    APPENDED (the q121 fold);
    *  - `ivf/`: the q50 IVF layout built on the corpus embeddings,
    *    survivors' vectors (base embedding keyed by doc_id % 10⁶)
    *    APPENDED against the frozen centroids (the q110 fold);
    *  - `scores/`: readability MATERIALIZED incrementally onto
    *    corpus ∪ survivors (the q127 delta rule).
    * Each fold is individually oracle-verified by its own query; q174
    * reads the four artifacts back and proves they agree on the one
    * batch: a surviving doc is in EVERY store (with its exact term
    * count and word count), a dropped doc in NONE. */
  private def q174StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("ingest_q174", dir) { path =>
      import org.apache.spark.sql.functions._
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      // r22 (guide §2.6 — overlap independent jobs): the five stores are
      // independent WRITES over shared inputs, and running them
      // sequentially left most of the box idle during each store's
      // straggler/commit tail. Dependency edges: the base inverted-index
      // and IVF builds need nothing; both appends and the scores
      // materialization need `survivors` (and their own base build).
      // Everything is submitted as early as its inputs exist; the writes
      // themselves are bit-identical to the sequential order.
      val pool = Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fInv = Future {
          TextAnalysis.writeInvertedIndex(docs, s"$path/inv", buckets = 64)
        }
        val fIvf = Future {
          Similarity.writeIvfIndex(emb, s"$path/ivf", nCells = 16)
        }
        // the gate runs on the MAIN thread while the base builds fill the
        // executors; its checkpoint is the leaf all three dependents read
        val survivors = Dedup
          .bloomGatedDedupAgainstCorpus(incrementalBatch(s, dir), docs)
          .localCheckpoint() // consumed by four stores below — derive once
        val fSurv = Future {
          survivors.write.mode("overwrite").parquet(s"$path/survivors")
        }
        val fScores = Future {
          val newCorpus = docs.select("doc_id", "text")
            .unionByName(survivors.select("doc_id", "text"))
          operators.Incremental.materialize(docs,
              TextAnalysis.readability(docs), newCorpus, TextAnalysis.readability(_))
            .write.mode("overwrite").parquet(s"$path/scores")
        }
        val fInvApp = fInv.map { _ =>
          TextAnalysis.appendToInvertedIndex(survivors, s"$path/inv")
        }
        val fIvfApp = fIvf.map { _ =>
          // batch id → base corpus id, mirroring incrementalBatch's id scheme
          // explicitly (NOT doc_id % 10⁶, which would mis-resolve on corpora
          // whose own ids exceed 10⁶, e.g. a 10× amplified corpus)
          val b = docs.select(col("doc_id").as("__base"))
          val idMap = b.filter(col("__base") % 4 === 1)
            .select((col("__base") + 1000000L).as("doc_id"), col("__base"))
            .unionAll(b.filter(col("__base") % 5 === 0)
              .select((col("__base") + 2000000L).as("doc_id"), col("__base")))
            .unionAll(b.filter(col("__base") % 4 === 1)
              .select((col("__base") + 3000000L).as("doc_id"), col("__base")))
          val batchEmb = survivors.select(col("doc_id"))
            .join(idMap, "doc_id")
            .join(emb.select(col("vec_id").as("__base"), col("embedding")), "__base")
            .select(col("doc_id").as("vec_id"), col("embedding"))
          Similarity.appendToIvfIndex(batchEmb, s"$path/ivf")
        }
        // settle EVERY future before rethrowing the first failure — a
        // build error must not leave a sibling mid-write into `path`
        val settled = Seq(fSurv, fScores, fInvApp, fIvfApp)
          .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        settled.foreach(_.get)
      } finally { pool.shutdown() }
    }

  /** The q185 streaming run, executed ONCE per SF dir: q67's incremental
    * batch staged as three single-file micro-batches in DETERMINISTIC
    * arrival order — fresh (+1M) docs first, corpus copies (+2M) second,
    * the intra-batch twins (+3M) last — then
    * [[streaming.StreamingWindows.streamingIncrementalDedup]] runs the
    * file stream against the static corpus with `Trigger.AvailableNow` and
    * `maxFilesPerTrigger = 1`, appending survivors to a parquet FILE SINK.
    * The staged order makes stream semantics coincide with the batch
    * first-id-wins rule without any reliance on intra-batch tie-breaking:
    * each +1M text is unique within its micro-batch, so when its +3M twin
    * arrives a micro-batch later the hash is already in the state store
    * and the twin drops deterministically. The sink is what q185 reads —
    * an ingest stream's output passing the BATCH operator's DuckDB oracle
    * (stream ≡ batch ≡ oracle), upgrading the streaming family from
    * batch-parity unit pins to oracle-grade evidence. */
  /** Stage dataframes as mtime-ordered single-file micro-batches under
    * `$path/in` — the q185 protocol every streaming fixture shares: one
    * parquet file per stage named batch-%03d with explicit mtimes.
    * FileStreamSource orders by (mtime, path), so name order and mtime
    * order agree and the micro-batch order IS the stage order. Fails
    * fast when the filesystem refuses setLastModified — every
    * cross-batch-state oracle depends on that order. Returns the input
    * dir for readStream. */
  private[graft] def stageMicroBatches(qname: String, path: String,
      stages: Seq[DataFrame], firstIndex: Int = 0): java.io.File = {
    val inDir = new java.io.File(path, "in"); inDir.mkdirs()
    stages.zipWithIndex.foreach { case (df, i0) =>
      // firstIndex lets a RESTART fixture stage in two phases (run 1's
      // batches, then the rest) while keeping names and mtimes globally
      // ascending across both phases
      val i = firstIndex + i0
      val tmp = new java.io.File(path, s"stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(inDir, f"batch-$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      require(dst.setLastModified(1700000000000L + i * 60000L),
        s"setLastModified failed on ${dst.getAbsolutePath} — " +
          s"$qname stage ordering would be nondeterministic")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
    inDir
  }

  /** Two far-future watermark-advancement sentinel stages — the q200/q202
    * emission mechanics factored once (the r14 verdict flagged the pattern
    * one consumer away from a third copy). Each stage is a single row for
    * user −1 at `sentinelTs` with a distinct negative event_id, conformed
    * to `events`' schema via unionByName (`extraCols` supplies any columns
    * beyond the shared event_id/user_id/event_type/ts quartet). Append
    * mode emits only on watermark eviction, so: sentinel A's batch
    * advances the max event time; by sentinel B's batch the watermark —
    * computed from data seen in EARLIER batches — has passed every real
    * key's close/eviction threshold, so all real rows emit into the sink
    * no later than that batch's commit, without relying on the engine's
    * trailing no-data batch. The two sentinels share ONE key (user −1)
    * whose own session never closes / timeout never fires, so no sentinel
    * row ever reaches the sink. */
  private[graft] def sentinelStages(events: DataFrame,
      sentinelTs: org.apache.spark.sql.Column,
      extraCols: Seq[(String, org.apache.spark.sql.Column)] = Nil): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val s = events.sparkSession
    Seq(-1L, -2L).map { eid =>
      val base = s.range(1).select(lit(eid).as("event_id"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        sentinelTs.as("ts"))
      val row = extraCols.foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
      events.limit(0).unionByName(row)
    }
  }

  /** Run `body` with the session's streaming state store pinned to the
    * RocksDB provider, restoring the prior conf afterward. This is the
    * 100-TB posture (r14 verdict gap #1): the default HDFS-backed store
    * keeps every keyed-state row on executor HEAP where it competes with
    * execution memory — at scale the MinHash band-bucket arrays and the
    * funnel's per-user buffers belong in RocksDB's off-heap/disk-backed
    * store. Every staged streaming fixture runs under it, so all the
    * family's DuckDB oracles certify the operators on the production
    * provider; the MemoryStream unit pins in StreamingSpec keep covering
    * the default provider, and a dedicated parity test runs one operator
    * under both. The conf is session-global for the duration of `body`:
    * a concurrently-STARTING test query could pick it up, which is benign
    * (the operators are provider-agnostic — that is the point) and cannot
    * happen in the sequential Verify main.
    *
    * Invocations SERIALIZE on a private lock (r15 ADVICE): without it,
    * two overlapping calls interleave capture/restore (A captures unset,
    * B captures RocksDB, A unsets, B restores RocksDB) and leave the
    * provider pinned after both exit. `synchronized` is reentrant, so a
    * same-thread nested call stays safe, and the sequential Verify
    * main never contends — the lock only matters under parallel test
    * suites.
    *
    * `changelog = true` additionally enables RocksDB CHANGELOG
    * checkpointing — the production recovery posture at 100 TB: each
    * micro-batch persists only the batch's state delta instead of full
    * SST-file snapshots, so commit cost tracks the update rate rather
    * than the store size, and restart replays snapshot + changelog. Every
    * two-run restart fixture (q207/q208/q210/q211, the restart joins,
    * q215, q264) runs under it, proving recovery works on the fast path;
    * the single-run fixtures keep the snapshot-per-batch default. */
  private val stateStoreConfLock = new Object
  private[graft] def withRocksDbStateStore[T](s: SparkSession,
      changelog: Boolean = false)(body: => T): T = stateStoreConfLock.synchronized {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProv = s.conf.getOption(provKey)
    val prevCl = s.conf.getOption(clKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (changelog) s.conf.set(clKey, "true")
    try body
    finally {
      prevProv.fold(s.conf.unset(provKey))(v => s.conf.set(provKey, v))
      if (changelog) prevCl.fold(s.conf.unset(clKey))(v => s.conf.set(clKey, v))
    }
  }

  /** The shared tail of every staged streaming fixture: run `out` to the
    * fixture's parquet file sink (`$path/out`, checkpoint `$path/ck`,
    * append mode, `Trigger.AvailableNow`) under [[withRocksDbStateStore]].
    * The provider is pinned in the checkpoint's offset log at first start,
    * so a restart fixture calling this twice against one checkpoint keeps
    * RocksDB automatically; `changelog` selects RocksDB changelog
    * checkpointing (see [[withRocksDbStateStore]]). */
  private def runStreamToSink(out: org.apache.spark.sql.Dataset[_], path: String,
      changelog: Boolean = false): Unit =
    withRocksDbStateStore(out.sparkSession, changelog) {
      val q = out.writeStream
        .format("parquet")
        .option("path", s"$path/out")
        .option("checkpointLocation", s"$path/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  private def q185StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q185", dir) { path =>
      import org.apache.spark.sql.functions._
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val freshText = concat(col("text"), lit(" fresh "), col("doc_id").cast("string"))
      val ts = lit("2024-01-01 00:00:00").cast("timestamp")
      val stages = Seq(
        base.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), freshText.as("text")),
        base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
        base.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"), freshText.as("text")))
      val inDir = stageMicroBatches("q185", path,
        stages.map(_.withColumn("ts", ts)))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingIncrementalDedup(stream, Tables.documents(s, dir),
          watermark = "1 hour")
        .select(col("doc_id"), col("text"))
      runStreamToSink(out, path)
    }

  /** The q197 streaming run, executed ONCE per SF dir: q124's
    * robots-allowed URL set staged as three deterministic micro-batches
    * (stage = doc_id % 3, single file each, mtime-ordered — the q185
    * protocol) through [[graft.streaming.StreamingWindows
    * .streamingFetchSchedule]] to a parquet file sink. Per-domain
    * sequence counters CONTINUE across batches from keyed state — the
    * property the oracle replays exactly: within (domain, stage) rows
    * rank by the batch (salt, md5, doc_id) order, and each stage's
    * sequences start at the domain's cumulative count over earlier
    * stages. All rows share one event time inside the watermark horizon,
    * so no state evicts mid-run. */
  private def q197StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q197", dir) { path =>
      import org.apache.spark.sql.functions._
      val urls = urlDocuments(s, dir)
      val robots = robotsDocuments(s, dir)
      val allowed = operators.Robots
        .robotsGate(urls, robots, agent = "graftbot")
        .filter(col("allowed")).select("doc_id")
      val pages = urls.join(allowed, "doc_id").select(col("doc_id"), col("url"))
      val delays = operators.Robots.crawlDelays(robots, agent = "graftbot")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ts = lit("2024-01-01 00:00:00").cast("timestamp")
      val inDir = stageMicroBatches("q197", path,
        (0 until 3).map(i =>
          pages.filter(col("doc_id") % 3 === i).withColumn("ts", ts)))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingFetchSchedule(stream, delays, watermark = "1 hour")
      runStreamToSink(out, path)
    }

  /** The q199 streaming run, executed ONCE per SF dir: q53's derived
    * exact-copy fixture staged as three deterministic micro-batches
    * (stage = doc_id % 3, single file each, mtime-ordered — the q185
    * protocol) through [[graft.streaming.StreamingWindows
    * .streamingMinHashCandidates]] at q53's PRODUCTION banding (32
    * hashes / 8 bands) to a parquet file sink of candidate pairs.
    * Every planted duplicate pair SPANS micro-batches by construction
    * (the +10M copy offset is ≡ 1 mod 3, so a copy never lands in its
    * base doc's stage) — a pair is only emitted because the band-bucket
    * keyed state REMEMBERS docs from earlier batches, which is exactly
    * the cross-batch property the q53-shared oracle then gates: the
    * verified sink must reproduce the batch pipeline's j ≥ 0.9 output
    * bit-for-bit. All rows share one event time inside the watermark
    * horizon, so no state evicts mid-run. */
  private def q199StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q199", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = derivedDocuments(s, dir)
      val ts = lit("2024-01-01 00:00:00").cast("timestamp")
      val inDir = stageMicroBatches("q199", path,
        (0 until 3).map(i =>
          docs.filter(col("doc_id") % 3 === i).withColumn("ts", ts)))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingMinHashCandidates(stream, watermark = "1 hour",
          n = 3, numHashes = 32, bands = 8)
      runStreamToSink(out, path)
    }

  /** The q200 streaming run, executed ONCE per SF dir: the raw events
    * table staged as three micro-batches by `event_id % 3` (single file
    * each, mtime-ordered — the q185 protocol) through
    * [[graft.streaming.StreamingWindows.streamingChatRender]] to a
    * parquet file sink. Unlike the earlier streaming fixtures this one
    * keeps REAL event times — sessionization depends on them — so the
    * no-mid-run-eviction guarantee comes from the WATERMARK DELAY
    * instead: 1440 h (60 days) exceeds the whole corpus's 30-day span,
    * so no staged event is ever late and no session closes while data
    * is still arriving. `event_id % 3` scatters every session's turns
    * across micro-batches (consecutive event ids alternate stages), so
    * a transcript is only complete because session_window MERGED state
    * across batches — the cross-batch property q190's oracle then gates.
    *
    * Emission mechanics: two [[sentinelStages]] far-future events (user
    * −1, ts ~4 months past the corpus) advance the watermark past every
    * real session's close so all transcripts evict into the sink — see
    * the helper's scaladoc for the full two-stage rationale. */
  private def q200StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q200", dir) { path =>
      import org.apache.spark.sql.functions._
      // Tables.events serves ts as epoch-nanos LONG; the streaming
      // operator needs TimestampType. ns are micros*1000 in every
      // testdata generation, so integer DIV 1000 is exact (a double
      // division at 1.7e18 would round past micro precision).
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("props"), expr("timestamp_micros(ts DIV 1000)").as("ts"))
      val sentinelTs = lit("2024-06-01 00:00:00").cast("timestamp")
      val stages: Seq[DataFrame] =
        (0 until 3).map(i => events.filter(col("event_id") % 3 === i)) ++
          sentinelStages(events, sentinelTs,
            extraCols = Seq("props" -> lit("{\"k\": 0}")))
      val inDir = stageMicroBatches("q200", path, stages)
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("props",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingChatRender(stream, gap = "30 minutes",
          watermark = "1440 hours")
      runStreamToSink(out, path)
    }

  /** The q201 streaming run, executed ONCE per SF dir: the q94 URL
    * fixture staged as three ARRIVAL WAVES through
    * [[graft.streaming.StreamingWindows.streamingUrlDedup]] to a parquet
    * file sink of kept pages. Wave i holds each canonical group's
    * (i+1)-th smallest doc_id (wave 2 takes the whole remainder), so by
    * construction wave 0 has EXACTLY ONE row per normalized URL — no
    * within-batch duplicate ever exists, making the kept row the group's
    * min doc_id deterministically — and EVERY duplicate drop is a
    * cross-batch decision: a wave-1/2 row survives or dies purely on
    * whether the state store remembers its normalized URL from wave 0.
    * That is the strongest possible staging for the claim q94's oracle
    * then gates: the stream's NormalizeUrl chain ≡ the batch chain ≡ the
    * oracle's SQL replay, key for key. The wave rank derives batch-side
    * from the SAME expression (fixture construction, not the system
    * under test — the q199 posture); the staged files carry only
    * (doc_id, url, ts) so the stream re-derives normalization itself.
    * All rows share one event time inside the watermark horizon, so no
    * state evicts mid-run. */
  private def q201StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q201", dir) { path =>
      import org.apache.spark.sql.functions._
      val byUrl = org.apache.spark.sql.expressions.Window
        .partitionBy("norm_url").orderBy("doc_id")
      val waved = operators.UrlOps.withNormalizedUrl(urlDocuments(s, dir))
        .withColumn("wave", least(row_number().over(byUrl), lit(3)) - 1)
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .select("doc_id", "url", "ts", "wave")
      val inDir = stageMicroBatches("q201", path,
        (0 until 3).map(i => waved.filter(col("wave") === i).drop("wave")))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingUrlDedup(stream, watermark = "1 hour")
      runStreamToSink(out, path)
    }

  /** The q202 streaming run, executed ONCE per SF dir: the raw events
    * table staged as three micro-batches by `event_id % 3` (single file
    * each, mtime-ordered — the q185 protocol) through [[graft.streaming
    * .StreamingFunnel]] to a parquet file sink of per-user funnel rows.
    * Consecutive event ids alternate stages, so every user's events
    * SCATTER across micro-batches in an order uncorrelated with event
    * time — each user's funnel is correct only because the keyed state
    * BUFFERS the whole in-horizon burst and evaluates once at eviction,
    * which is exactly the out-of-order-exactness claim q81's oracle then
    * gates. Real event times are kept (the funnel's semantics need
    * them); the shared [[sentinelStages]] mechanics give no-mid-run
    * eviction + final emission: the 1440 h idle horizon exceeds the
    * corpus's 30-day span (no user ever evicts while its events are
    * still arriving), and the two far-future sentinel stages (ts ≈ 11
    * months past the corpus — past every user's max-ts + 60 d eviction
    * threshold) advance the watermark so every real user's timeout
    * fires by the last batch's commit. Times
    * flow as µs end-to-end (timestamp_micros in, unix_micros inside the
    * operator), so the reach times are bit-identical to batch q81's. */
  private def q202StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q202", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_micros(ts DIV 1000)").as("ts"))
      val sentinelTs = lit("2025-01-01 00:00:00").cast("timestamp")
      val stages: Seq[DataFrame] =
        (0 until 3).map(i => events.filter(col("event_id") % 3 === i)) ++
          sentinelStages(events, sentinelTs)
      val inDir = stageMicroBatches("q202", path, stages)
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      import s.implicits._
      val out = streaming.StreamingFunnel(
        stream.as[streaming.FunnelEvent],
        stages = Seq("view", "click", "purchase"),
        idleTimeout = "1440 hours")
      runStreamToSink(out, path)
    }

  /** The q203 streaming run, executed ONCE per SF dir: q53's derived
    * exact-copy fixture staged as TWO arrival waves through
    * [[graft.streaming.StreamingWindows.streamingExactDedup]] to a
    * parquet file sink of kept documents. The corpus's texts are all
    * distinct (probed), so every content-hash group is a planted
    * (base doc, +10M copy) pair — wave 0 holds the base docs (exactly
    * one row per distinct hash, so the kept row is the group's min
    * doc_id with no within-batch ambiguity, the q201 wave rationale)
    * and wave 1 holds the copies, every one of which is dropped ONLY
    * because the state store remembers its hash from wave 0. q20's
    * oracle shape over the same derivation gates the sink: one row per
    * content hash, keep_id = group min, n_dups = group size. All rows
    * share one event time inside the watermark horizon, so no state
    * evicts mid-run. */
  private def q203StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q203", dir) { path =>
      import org.apache.spark.sql.functions._
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy("doc_id")
      val waved = derivedDocuments(s, dir)
        .withColumn("wave", least(row_number().over(byHash), lit(2)) - 1)
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .select("doc_id", "text", "ts", "wave")
      val inDir = stageMicroBatches("q203", path,
        (0 until 2).map(i => waved.filter(col("wave") === i).drop("wave")))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingExactDedup(stream, watermark = "1 hour")
      runStreamToSink(out, path)
    }

  /** The q204 streaming run, executed ONCE per SF dir: q151's trap-URL
    * fixture staged as DISTINCT-URL arrival waves through
    * [[graft.streaming.StreamingWindows.streamingTrapCensus]] at
    * threshold 5 to a parquet file sink of trap alerts. Wave i holds
    * every row whose url is the (i+1)-th distinct URL of its
    * digit-masked template (dense_rank over url — all docs sharing a
    * URL land in the SAME wave), waves beyond the threshold collapse
    * into one final wave. Each wave therefore grows a template's
    * distinct census by AT MOST ONE, which makes the alert structural:
    * a template with ≥ 5 distinct URLs fires exactly at its 5th wave
    * with n_urls EXACTLY 5 (the mid-batch-overshoot case is staged
    * away), duplicate rows of an already-seen URL never inflate the
    * census (same full-md5 state key, same wave — the census counts
    * exact distinct URLs like the oracle; r14 ADVICE dropped the 60-bit
    * truncation whose collisions the oracle didn't model), and the final
    * wave's extra
    * distinct URLs prove fire-once (the trapped pin emits nothing). The
    * DuckDB oracle states the firing set from the fixture construction:
    * every template whose distinct-URL count ≥ 5, each with n_urls = 5.
    * At this fixture that is exactly TWO: the session-id generator
    * (distinct ∝ corpus) and the benign class (6 distinct URLs) — the
    * deep/loop/param classes pin id % 5 through their id % 10 selector
    * and collapse to ONE distinct URL each. The benign firing is a
    * feature of the gate: the census is a template-cardinality signal,
    * not a verdict; the batch q151 audit is where in-row signals
    * separate trap classes from benign.
    * All rows share one event time inside the watermark horizon, so no
    * state evicts mid-run. */
  /** q204's census threshold — interpolated into BOTH the streaming
    * fixture and the DuckDB oracle so the two can never drift. */
  private val trapCensusThreshold = 5

  private def q204StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q204", dir) { path =>
      import org.apache.spark.sql.functions._
      val threshold = trapCensusThreshold
      val byTpl = org.apache.spark.sql.expressions.Window
        .partitionBy("template").orderBy("url")
      val waved = trapUrlDocuments(s, dir)
        .withColumn("template", regexp_replace(col("url"), "[0-9]+", "0"))
        .withColumn("wave", least(dense_rank().over(byTpl), lit(threshold + 1)) - 1)
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .select("doc_id", "url", "ts", "wave")
      val inDir = stageMicroBatches("q204", path,
        (0 to threshold).map(i => waved.filter(col("wave") === i).drop("wave")))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingTrapCensus(stream, templateThreshold = threshold,
          watermark = "1 hour")
      runStreamToSink(out, path)
    }

  /** The q205 streaming run, executed ONCE per SF dir: the documents
    * table staged as three micro-batches by `doc_id % 3` (single file
    * each, mtime-ordered — the q185 protocol) through
    * [[graft.streaming.StreamingWindows.streamingFirstFitPack]] to a
    * parquet file sink of packing assignments. The operator needs no
    * watermark or sentinels (NoTimeout state, assignments emit in the
    * batch they arrive), so the staging is the simplest of the family —
    * but the claim gated is the strongest kind: per shard the stream
    * processes docs in (batch, doc_id) order, and the oracle replays
    * GLOBAL first-fit over exactly that order with a recursive CTE (the
    * q173 FFD machinery with the online order key). Every later-batch
    * doc that drops into a bin OPENED IN AN EARLIER BATCH — and every
    * local_bin number after it — is right only because the open-bin
    * state persisted across batches; a state loss would renumber every
    * subsequent bin and hash-mismatch. `maxOpenBins` = 4096 provably
    * exceeds bins-ever-opened (≤ the per-shard doc count, < 700 at
    * every test SF), so the close-fullest eviction arm never fires and
    * the CTE needs no eviction simulation — the eviction policy itself
    * stays unit-pinned in StreamingSpec (it is the one behavior with no
    * SQL replay short of simulating the cap). */
  private def q205StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q205", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val inDir = stageMicroBatches("q205", path,
        (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingFirstFitPack(stream, maxTokens = 256, shards = 8,
          maxOpenBins = 4096)
      runStreamToSink(out, path)
    }

  /** q209's alert parameters — interpolated into BOTH the streaming
    * fixture and the DuckDB oracle so the two can never drift. The
    * threshold is 500 in µ-value units (values ride as exact
    * integer-valued doubles, so the running total accumulates exactly
    * and matches the oracle's BIGINT sum bit-for-bit); 8 events per user
    * keeps the wave count bounded while leaving a healthy mix of
    * crossing and never-crossing users at every SF (probed: 6/15 at
    * sf0.001, 30/150 at sf0.01, 342/1500 at sf0.1 cross). */
  private val thresholdAlertMicro = 500000000L
  private val thresholdAlertMaxEvents = 8

  /** The q209 streaming run, executed ONCE per SF dir:
    * [[graft.streaming.ThresholdAlerts]] — the last custom-state
    * streaming operator still on unit pins only — under a full DuckDB
    * oracle. The operator accumulates per-user running totals in arrival
    * order (it deliberately does NOT sort within a batch: a live alerter
    * fires on what it has seen, not on event time), so the staging makes
    * arrival order fully deterministic the q204 way: wave i holds each
    * user's (i+1)-th event by (µs, event_id) rank — ONE event per user
    * per micro-batch, so within-batch iterator order is moot and the
    * cross-batch arrival order IS the rank order the oracle replays.
    * Stream rows carry a constant event time (the real times live only
    * in the rank), so the watermark never passes any user and no state
    * evicts mid-run; alerts emit in their crossing batch, so no
    * sentinels are needed. The oracle replays the running sum per user
    * over the same (µs, event_id) order capped at the same 8 events and
    * keeps the FIRST row whose total crosses — users that never cross
    * emit nothing on either side. */
  private def q209StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q209", dir) { path =>
      import org.apache.spark.sql.functions._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(expr("ts DIV 1000"), col("event_id"))
      val ranked = Tables.events(s, dir)
        .withColumn("rk", row_number().over(byUser))
        .filter(col("rk") <= thresholdAlertMaxEvents)
        .select(col("user_id"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
          round(col("value") * 1e6).cast("double").as("value"), col("rk"))
      val inDir = stageMicroBatches("q209", path,
        (1 to thresholdAlertMaxEvents).map(i =>
          ranked.filter(col("rk") === i).drop("rk")))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      import s.implicits._
      val out = streaming.ThresholdAlerts(
        stream.as[streaming.UserEvent],
        threshold = thresholdAlertMicro.toDouble)
      runStreamToSink(out, path)
    }

  /** q206's packing parameters — interpolated into BOTH the streaming
    * fixture and the DuckDB oracle so the two can never drift. 128-token
    * bins over the first 40 real docs (10–98 tokens each) with only TWO
    * open bins per shard make the close-fullest eviction fire ~20 times
    * at every SF (probed), and the capped assignment provably diverges
    * from uncapped first-fit — the fixture `require`s it. */
  private val evictPackMaxTokens = 128
  private val evictPackMaxOpenBins = 2
  private val evictPackDocLimit = 40

  /** The q206 streaming run, executed ONCE per SF dir: the EVICTION arm
    * of [[graft.streaming.StreamingWindows.streamingFirstFitPack]] under
    * a real oracle — the one streaming behavior r14 left unit-pinned
    * because q205's cap provably never fires. Here the cap is TINY
    * (`maxOpenBins = 2`, 128-token bins, one shard) over the first 40
    * docs staged as three `doc_id % 3` micro-batches, so the fullest
    * open bin closes permanently ~20 times mid-run, including across
    * micro-batch boundaries. The DuckDB oracle extends the q173/q205
    * recursive-CTE replay with the cap simulation: parallel (bin id,
    * remaining) lists in open order, first-fit by position, and on
    * overflow the FIRST position of the minimum remaining — exactly the
    * operator's (remaining, open-index) minBy, ties oldest — is sliced
    * out. After the run the fixture replays UNCAPPED first-fit on the
    * driver (bounded: 40 rows) and `require`s at least one doc landed in
    * a different bin — the cap demonstrably BOUND, so a passing oracle
    * is evidence about eviction, not vacuously the no-eviction path. */
  private def q206StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q206", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") < evictPackDocLimit)
        .select(col("doc_id"), col("text"))
      val inDir = stageMicroBatches("q206", path,
        (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingFirstFitPack(stream, maxTokens = evictPackMaxTokens,
          shards = 1, maxOpenBins = evictPackMaxOpenBins)
      runStreamToSink(out, path)
      // construction-time proof the cap BOUND: replay uncapped first-fit
      // over the same (batch, doc_id) order and demand divergence
      val rows = s.read.parquet(s"$path/out")
        .select(col("doc_id"), col("n_tokens"), col("local_bin")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy { case (id, _, _) => (id % 3, id) }
      var nBins = 0L
      var open = Vector.empty[(Long, Long)]
      val uncapped = rows.map { case (id, n, _) =>
        val fit = open.indexWhere(_._2 >= n)
        val b =
          if (fit >= 0) {
            val (bb, r) = open(fit); open = open.updated(fit, (bb, r - n)); bb
          } else {
            nBins += 1
            open = open :+ ((nBins, (evictPackMaxTokens - n).max(0).toLong))
            nBins
          }
        id -> b
      }.toMap
      require(rows.exists { case (id, _, b) => uncapped(id) != b },
        "q206 fixture: the maxOpenBins cap never bound — eviction arm untested")
    }

  /** The q206 oracle: the q173/q205 first-fit CTE EXTENDED with the
    * close-fullest eviction — (bin, remaining) carried as parallel lists
    * in open order; on overflow past `evictPackMaxOpenBins` the first
    * position of the minimum remaining (ties oldest — the operator's
    * minBy) is sliced out of both lists, so a closed bin can never
    * absorb a later doc. Single shard, so bin_id = local_bin. */
  private def firstFitEvictCteSql: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id,
       |        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
       |      FROM documents WHERE doc_id < $evictPackDocLimit),
       |o AS (SELECT doc_id, n_tokens,
       |        CAST(row_number() OVER (ORDER BY doc_id % 3, doc_id) AS INT) AS rn
       |      FROM t),
       |rec AS (
       |  SELECT 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
       |         CAST(NULL AS INT) AS n_tokens, CAST(NULL AS BIGINT) AS local_bin,
       |         CAST(0 AS BIGINT) AS n_bins,
       |         CAST([] AS BIGINT[]) AS bids, CAST([] AS INT[]) AS rems
       |  UNION ALL
       |  SELECT rn, doc_id, n_tokens,
       |    CASE WHEN p > 0 THEN bids[p] ELSE n_bins + 1 END AS local_bin,
       |    CASE WHEN p > 0 THEN n_bins ELSE n_bins + 1 END AS n_bins,
       |    CASE WHEN p > 0 THEN bids
       |         WHEN len(bids2) > $evictPackMaxOpenBins
       |           THEN list_concat(bids2[1:q-1], bids2[q+1:len(bids2)])
       |         ELSE bids2 END AS bids,
       |    CASE WHEN p > 0
       |           THEN list_transform(range(1, len(rems) + 1),
       |                  i -> CASE WHEN i = p THEN rems[i] - n_tokens
       |                       ELSE rems[i] END)
       |         WHEN len(rems2) > $evictPackMaxOpenBins
       |           THEN list_concat(rems2[1:q-1], rems2[q+1:len(rems2)])
       |         ELSE rems2 END AS rems
       |  FROM (
       |    SELECT *, list_position(rems2, list_min(rems2)) AS q
       |    FROM (
       |      SELECT o.rn, o.doc_id, o.n_tokens, r.n_bins, r.bids, r.rems,
       |        coalesce(list_position(
       |          list_transform(r.rems, x -> x >= o.n_tokens), true), 0) AS p,
       |        list_append(r.bids, r.n_bins + 1) AS bids2,
       |        list_append(r.rems,
       |          CAST(greatest($evictPackMaxTokens - o.n_tokens, 0) AS INT)) AS rems2
       |      FROM rec r JOIN o ON o.rn = r.rn + 1)))
       |SELECT doc_id, CAST(0 AS INT) AS shard, n_tokens, local_bin,
       |  local_bin AS bin_id
       |FROM rec WHERE doc_id IS NOT NULL""".stripMargin

  /** The q207 streaming run, executed ONCE per SF dir: q205's EXACT
    * staging, operator and parameters — but the stream is STOPPED and
    * RESTARTED mid-corpus. Run 1 sees only micro-batch 0 (`doc_id % 3
    * === 0`) and terminates (`Trigger.AvailableNow` drains what exists);
    * batches 1–2 are staged ONLY THEN (globally ascending names/mtimes
    * via `stageMicroBatches(firstIndex = 1)`), and a SECOND AvailableNow
    * invocation runs against the SAME checkpoint. q205's own scaladoc
    * says "a state loss would renumber every subsequent bin and
    * hash-mismatch" — this fixture turns that claim into an oracle-gated
    * fact: q205's DuckDB oracle (the recursive-CTE global first-fit
    * replay over the full arrival order) passes on the combined sink
    * ONLY if (a) the per-shard open-bin state RECOVERED exactly from the
    * checkpoint (every run-2 doc that drops into a run-1 bin, and every
    * bin number after it, replays the whole history), and (b) the file
    * sink is exactly-once across the restart (a replayed batch 0 would
    * duplicate rows and fail the row-count compare). State recovery +
    * exactly-once sink semantics graduate from scaladoc claims to tested
    * behavior — under the RocksDB provider both runs share (pinned in
    * the checkpoint's offset log at first start). */
  private def q207StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q207", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def runOnce(): Unit = {
        val stream = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        val out = streaming.StreamingWindows
          .streamingFirstFitPack(stream, maxTokens = 256, shards = 8,
            maxOpenBins = 4096)
        runStreamToSink(out, path, changelog = true)
      }
      stageMicroBatches("q207", path,
        Seq(docs.filter(col("doc_id") % 3 === 0)))
      runOnce() // run 1: batch 0 only, then the query STOPS
      stageMicroBatches("q207", path,
        (1 until 3).map(i => docs.filter(col("doc_id") % 3 === i)),
        firstIndex = 1)
      runOnce() // run 2: same checkpoint, resumes from recovered state
    }

  /** The q208 streaming run, executed ONCE per SF dir: q199's EXACT
    * staging, operator and production banding — restarted mid-corpus the
    * q207 way (run 1 drains batch 0 against the checkpoint, batches 1–2
    * are staged after run 1 TERMINATES, run 2 resumes). Every planted
    * duplicate pair spans the restart by construction (+10M ≡ 1 mod 3:
    * a copy never shares its base doc's batch, so every pair needs
    * band-bucket state from an EARLIER batch — for base docs in batch 0
    * that state must survive the stop/start). The q53/q199 shared oracle
    * gates the combined sink: candidates recovered-state-side ≡ batch
    * LSH ≡ exact-Jaccard SQL. Where q207 proves recovery of a
    * long-running FOLD (bin numbering = whole history), this proves
    * recovery of the family's LARGEST keyed state (per-(band, bucket)
    * doc-id arrays — the state the RocksDB posture exists for).
    *
    * Scope (r15 ADVICE): this fixture evidences STATE RECOVERY only,
    * not exactly-once sink semantics — the reader dedups multi-band
    * emissions (`.distinct()`, inherited from q199) and the bucket
    * state itself ignores re-delivered doc_ids, so a replayed
    * micro-batch could not fail this oracle. The exactly-once claim is
    * q207's: its row-count/bin-numbering oracle has no dedup shield. */
  private def q208StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q208", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = derivedDocuments(s, dir)
      val ts = lit("2024-01-01 00:00:00").cast("timestamp")
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      def runOnce(): Unit = {
        val stream = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        val out = streaming.StreamingWindows
          .streamingMinHashCandidates(stream, watermark = "1 hour",
            n = 3, numHashes = 32, bands = 8)
        runStreamToSink(out, path, changelog = true)
      }
      stageMicroBatches("q208", path,
        Seq(docs.filter(col("doc_id") % 3 === 0).withColumn("ts", ts)))
      runOnce()
      stageMicroBatches("q208", path,
        (1 until 3).map(i =>
          docs.filter(col("doc_id") % 3 === i).withColumn("ts", ts)),
        firstIndex = 1)
      runOnce()
    }

  /** The q210 streaming run, executed ONCE per SF dir: q200's EXACT
    * staging, operator and parameters — restarted mid-corpus the q207
    * way (r16, closing the r15 verdict's gap: `session_window` MERGE
    * state had never crossed a stop/start). Run 1 drains micro-batch 0
    * (`event_id % 3 === 0`) and terminates with EVERY session still
    * open — the 1440 h watermark delay exceeds the corpus span, so
    * nothing emits in run 1 and the ENTIRE sink is produced after the
    * restart. Batches 1–2 and the two far-future sentinels are staged
    * only then, and a second AvailableNow run resumes from the same
    * checkpoint: consecutive event ids alternate batches, so nearly
    * every session's turns span the split, and each such transcript is
    * complete only if the run-1 window state RECOVERED and MERGED with
    * the run-2 turns — and the recovered WATERMARK kept sessions open
    * until the sentinels advanced it. q190's batch oracle gates the
    * combined sink verbatim (any lost/duplicated turn changes a
    * transcript string and hash-mismatches). Runs under RocksDB
    * changelog checkpointing, so recovery exercises the production
    * snapshot+changelog replay path (see [[withRocksDbStateStore]]). */
  private def q210StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q210", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("props"), expr("timestamp_micros(ts DIV 1000)").as("ts"))
      val sentinelTs = lit("2024-06-01 00:00:00").cast("timestamp")
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("props",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      def runOnce(): Unit = {
        val stream = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        val out = streaming.StreamingWindows
          .streamingChatRender(stream, gap = "30 minutes",
            watermark = "1440 hours")
        runStreamToSink(out, path, changelog = true)
      }
      stageMicroBatches("q210", path,
        Seq(events.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: batch 0 only, every session open, sink empty
      stageMicroBatches("q210", path,
        (1 until 3).map(i => events.filter(col("event_id") % 3 === i)) ++
          sentinelStages(events, sentinelTs,
            extraCols = Seq("props" -> lit("{\"k\": 0}"))),
        firstIndex = 1)
      runOnce() // run 2: same checkpoint, merges into recovered sessions
    }

  /** The q211 streaming run, executed ONCE per SF dir: q202's funnel
    * restarted mid-corpus — the ONE streaming operator whose
    * correctness depends on recovered TIMEOUT TIMESTAMPS (r16, closing
    * the r15 verdict's gap): a lost timer silently never emits its
    * user, and the oracle's row count catches exactly that. Staging is
    * q202's `event_id % 3` scatter EXCEPT that every fifth user's WHOLE
    * burst lands in batch 0 (`user_id % 5 === 0` overrides the batch
    * assignment): those users receive NO data after the restart, so
    * their eviction in run 2 fires purely off the timeout timestamp and
    * buffered events written by run 1 — recovered state is the only way
    * they appear in the sink at all (a `require` pins that such users
    * exist at every SF). The remaining users' bursts span the split and
    * gate buffer recovery the q202 way. The two sentinels (staged in
    * run 2) advance the watermark past every user's max-ts + 60 d
    * threshold so all timers fire by the final commit; q81's batch
    * oracle gates the combined sink verbatim, reach times in µs. Runs
    * under RocksDB changelog checkpointing (see
    * [[withRocksDbStateStore]]). */
  private def q211StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q211", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_micros(ts DIV 1000)").as("ts"))
      val sentinelTs = lit("2025-01-01 00:00:00").cast("timestamp")
      // fixture construction, not the system under test: batch
      // assignment only decides which file a row lands in
      val stageOf = when(col("user_id") % 5 === 0, lit(0))
        .otherwise(pmod(col("event_id"), lit(3)).cast("int"))
      require(events.filter(col("user_id") % 5 === 0)
          .select("user_id").distinct().count() > 0,
        "q211 timer-recovery staging found no run-1-only users — " +
          "the restart would not exercise timeout-timestamp recovery")
      def runOnce(): Unit = {
        val stream = s.readStream.schema(eventQuartetSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        import s.implicits._
        val out = streaming.StreamingFunnel(
          stream.as[streaming.FunnelEvent],
          stages = Seq("view", "click", "purchase"),
          idleTimeout = "1440 hours")
        runStreamToSink(out, path, changelog = true)
      }
      stageMicroBatches("q211", path, Seq(events.filter(stageOf === 0)))
      runOnce() // run 1: batch 0 only — timers set, nothing evicts
      stageMicroBatches("q211", path,
        (1 until 3).map(i => events.filter(stageOf === i)) ++
          sentinelStages(events, sentinelTs),
        firstIndex = 1)
      runOnce() // run 2: recovered timers fire as the sentinels pass them
    }

  /** Shared staging for q212/q213 — the stream-stream interval join.
    * Returns the sentinel stages: unlike the single-stream fixtures, a
    * JOIN has one watermark node PER SIDE and the global watermark is
    * their MIN, so a sentinel must survive BOTH side filters — each
    * sentinel stage carries one user −1 click at S and one user −1 view
    * at S + 1 h. The click PRECEDES the view, so the sentinel pair can
    * never match (attribution only looks forward); the sentinel view's
    * own null-emission horizon (S + 1 h + window) stays permanently
    * ahead of the final watermark (min-node max = S, minus the 1440 h
    * delay); and user −1 has no real events — so no sentinel row can
    * ever reach the sink, while both nodes' maxima advance far enough
    * past the corpus that every real unmatched view null-emits by the
    * final commit. */
  private def joinSentinelStages(events: DataFrame,
      ids: Seq[(Long, Long)] = Seq((-1L, -2L), (-3L, -4L))): Seq[DataFrame] = {
    import org.apache.spark.sql.functions._
    val s = events.sparkSession
    ids.map { case (clickEid, viewEid) =>
      val click = s.range(1).select(lit(clickEid).as("event_id"),
        lit(-1L).as("user_id"), lit("click").as("event_type"),
        lit("2024-12-01 00:00:00").cast("timestamp").as("ts"))
      val view = s.range(1).select(lit(viewEid).as("event_id"),
        lit(-1L).as("user_id"), lit("view").as("event_type"),
        lit("2024-12-01 01:00:00").cast("timestamp").as("ts"))
      events.limit(0).unionByName(click.unionByName(view))
    }
  }

  /** The µs-precision (event_id, user_id, event_type, ts) quartet the
    * attribution fixtures stream — factored once for the join family. */
  private def attributionEvents(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(ts DIV 1000)").as("ts"))
  }

  /** The attribution fixtures' SHARED staged input, built once per SF
    * dir: the % 3 scatter + per-side sentinels. The four join-type
    * fixtures stream the SAME files through separate checkpoints and
    * sinks (FileStreamSource tracks progress per checkpoint, so reads
    * never interfere), staging the events table once instead of once
    * per variant. */
  private def attributionInputDir(s: SparkSession, dir: String): java.io.File =
    new java.io.File(lazyFixtureDir("stream_attrib_in", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = attributionEvents(s, dir)
      val stages: Seq[DataFrame] =
        (0 until 3).map(i => events.filter(col("event_id") % 3 === i)) ++
          joinSentinelStages(events)
      stageMicroBatches("attrib_in", path, stages)
      ()
    }, "in")

  /** One staged attribution-join run — q212's protocol parameterized by
    * join type, shared by the left/right/full/semi fixtures so the four
    * contract variants differ ONLY in the join type under test. The
    * shared input resolves BEFORE the fixture's own computeIfAbsent —
    * nesting one lazyFixtureDir build inside another would be a
    * recursive update on the fixture map. */
  private def attributionJoinFixture(qname: String, s: SparkSession,
      dir: String, joinType: String): String = {
    val inDir = attributionInputDir(s, dir)
    lazyFixtureDir(s"stream_$qname", dir) { path =>
      val stream = s.readStream.schema(eventQuartetSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingClickAttribution(stream, attributionWindow = "30 minutes",
          watermark = "1440 hours", joinType = joinType)
      runStreamToSink(out, path)
    }
  }

  /** The q212 streaming run, executed ONCE per SF dir: the raw events
    * staged as three micro-batches by `event_id % 3` through
    * [[graft.streaming.StreamingWindows.streamingClickAttribution]] — a
    * WATERMARKED STREAM-STREAM interval self-join (views LEFT-joined to
    * the same user's clicks within 30 min), the join state kind the
    * family did not yet exercise. The % 3 scatter puts a view and its
    * in-window clicks in different micro-batches for most pairs, so
    * matches form only because BOTH sides' buffered state persisted
    * across batches; the ~99% of views with no in-window click
    * null-emit only when the sentinel-advanced watermark proves no
    * counterpart can arrive ([[joinSentinelStages]] — per-side
    * sentinels, since the join watermark is the min over both nodes).
    * The DuckDB left-join oracle replays the whole thing: any lost
    * buffered row is a missing pair or a spurious null row, any
    * premature eviction a missing match — all hash mismatches. */
  private def q212StreamPath(s: SparkSession, dir: String): String =
    attributionJoinFixture("q212", s, dir, "left_outer")

  /** The q213 streaming run, executed ONCE per SF dir: q212's join
    * restarted mid-corpus the q207 way — the FIFTH streaming state kind
    * to cross a stop/start (after the fold, the band buckets, the
    * session merge state, and the funnel timers): stream-stream JOIN
    * buffers on both sides. Run 1 drains batch 0 and terminates with
    * every batch-0 view and click buffered and nothing null-emitted
    * (the watermark is still pre-corpus); batches 1–2 and the sentinels
    * are staged only then. Cross-restart matches (a run-1 view paired
    * by a run-2 click) gate buffer recovery on the VIEWS side, run-2
    * views paired by run-1 clicks gate the CLICKS side, and the
    * null-emission of every unmatched run-1 view gates that the
    * recovered watermark/state bookkeeping still knows them. q212's
    * oracle verbatim; changelog checkpointing as the other restart
    * fixtures. */
  private def q213StreamPath(s: SparkSession, dir: String): String =
    restartJoinFixture("q213", s, dir, "left_outer")

  /** One TWO-RUN restart attribution-join fixture — q213's protocol
    * parameterized by join type (shared by the left-outer and
    * full-outer restart twins exactly as [[attributionJoinFixture]] is
    * by the single-run variants, so a protocol fix — staging indices,
    * changelog flag, sentinel set — lands once). Run 1 drains batch 0
    * and terminates with both sides buffered and nothing emitted (the
    * min-watermark is still pre-corpus); batches 1–2 and the per-side
    * sentinels stage only then, and run 2 resumes from the same
    * checkpoint. */
  private def restartJoinFixture(qname: String, s: SparkSession,
      dir: String, joinType: String): String =
    lazyFixtureDir(s"stream_$qname", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = attributionEvents(s, dir)
      def runOnce(): Unit = {
        val stream = s.readStream.schema(eventQuartetSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        val out = streaming.StreamingWindows
          .streamingClickAttribution(stream,
            attributionWindow = "30 minutes", watermark = "1440 hours",
            joinType = joinType)
        runStreamToSink(out, path, changelog = true)
      }
      stageMicroBatches(qname, path,
        Seq(events.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: batch 0 only — both sides buffered, sink empty
      stageMicroBatches(qname, path,
        (1 until 3).map(i => events.filter(col("event_id") % 3 === i)) ++
          joinSentinelStages(events),
        firstIndex = 1)
      runOnce() // run 2: recovered buffers pair and null-emit
    }

  /** The q250 streaming run, executed ONCE per SF dir: q220's
    * FULL-OUTER stream-stream join restarted mid-corpus on q213's
    * protocol — the restart twin the r17 verdict named as the hardest
    * null-emission bookkeeping of the new join types, because BOTH
    * sides' arms must survive recovery: a run-1 view unmatched forever
    * must null-emit from RECOVERED view-side state, a run-1 click
    * unmatched forever must null-emit from recovered click-side state,
    * and cross-restart pairs (run-1 view × run-2 click, run-2 view ×
    * run-1 click) gate both buffers at once. [[restartJoinFixture]]'s
    * two-run protocol; q220's FULL JOIN oracle verbatim; changelog
    * checkpointing as the other restart fixtures. */
  private def q250StreamPath(s: SparkSession, dir: String): String =
    restartJoinFixture("q250", s, dir, "full_outer")

  /** The q255 streaming run, executed ONCE per SF dir: q219's
    * RIGHT-OUTER stream-stream join restarted mid-corpus on q213's
    * protocol — the r18 verdict's remaining non-trivial null-emission
    * recovery case: the null arm lives on the CLICKS side (an
    * unmatched click null-emits once the watermark passes click_ts —
    * no earlier-or-equal view can still arrive), so run 2 must
    * null-emit every permanently-unmatched run-1 CLICK from recovered
    * click-side state, while run-1 views pair silently or vanish.
    * q219's RIGHT JOIN oracle verbatim; changelog checkpointing as the
    * other restart fixtures. */
  private def q255StreamPath(s: SparkSession, dir: String): String =
    restartJoinFixture("q255", s, dir, "right_outer")

  /** The q256 streaming run, executed ONCE per SF dir: q221's
    * LEFT-SEMI stream-stream join restarted mid-corpus on q213's
    * protocol — the emit-ONCE bookkeeping across a stop/start: a run-1
    * view whose first in-window click arrives in run 2 must emit
    * exactly once from recovered view-side state, a view matched in
    * run 1 must NOT re-emit when run 2 delivers its second in-window
    * click, and click-less views must never appear. q221's EXISTS
    * oracle verbatim; changelog checkpointing. */
  private def q256StreamPath(s: SparkSession, dir: String): String =
    restartJoinFixture("q256", s, dir, "left_semi")

  /** The q214 streaming run, executed ONCE per SF dir: the raw events
    * staged by `event_id % 3` through an UPDATE-mode per-user aggregate
    * into a foreachBatch UPSERT sink
    * ([[graft.streaming.StreamingWindows.upsertBatch]]) — the serving-
    * table maintenance pattern (merge each micro-batch's changed keys
    * into a versioned parquet snapshot). Every user's events scatter
    * across all three batches, so the final snapshot is right only if
    * (a) the agg STATE accumulated across batches (a per-batch recount
    * would undercount n_events three-fold) and (b) the sink REPLACED
    * stale rows instead of appending (an append leaves three rows per
    * user and fails the row count). The oracle is the plain batch
    * GROUP BY — the serving view the stream must converge to. */
  private def q214StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q214", dir)(runUpsertServingOnce("q214", s, dir, _))

  /** The q214 staged upsert run against `path` — factored so q227 can
    * run the identical stream and then COMPACT its serving table. */
  private def runUpsertServingOnce(qname: String, s: SparkSession,
      dir: String, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val events = attributionEvents(s, dir)
    val inDir = stageMicroBatches(qname, path,
      (0 until 3).map(i => events.filter(col("event_id") % 3 === i)))
    val stream = s.readStream.schema(eventQuartetSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath)
    val counts = streaming.StreamingWindows
      .userActivityCounts(stream, watermark = "1440 hours")
    withRocksDbStateStore(s) {
      val q = counts.writeStream
        .outputMode("update")
        .foreachBatch(streaming.StreamingWindows.upsertBatch(s"$path/serving") _)
        .option("checkpointLocation", s"$path/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** The q227 streaming run, executed ONCE per SF dir: q214's upsert
    * stream run to completion, then the serving table COMPACTED — the
    * vacuum the versioned sink needs on a long-running stream (one
    * version accrues per micro-batch forever otherwise). Compaction
    * rewrites the current view as ONE full snapshot at the max version
    * and deletes the older versions, inside the stopped-stream window
    * its scaladoc requires (the checkpoint here is committed through
    * the last batch — AvailableNow terminated). The compacted view
    * must STILL equal the batch GROUP BY (q214's oracle verbatim): a
    * compaction that drops a bucket, re-buckets differently, or loses
    * carried-forward rows all hash-mismatch; the single-version /
    * old-versions-deleted structure is pinned in StreamingSpec. */
  private def q227StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q227", dir) { path =>
      runUpsertServingOnce("q227", s, dir, path)
      streaming.StreamingWindows.compactServing(s, s"$path/serving")
    }

  /** The q246 streaming run, executed ONCE per SF dir: q214's upsert
    * chain, then VACUUMED to a two-version time-travel window — the
    * middle ground between never reclaiming (a version per micro-batch
    * forever) and q227's full compaction (which destroys all history).
    * Versions below the window decommission as snapshots (manifest
    * deleted — no reader can resolve them) while any still serving as
    * bucket donors keep their data dirs; the CURRENT view must still
    * equal the batch GROUP BY (q214's oracle verbatim), and the
    * horizon semantics (asOf below the window → None, kept versions
    * unchanged) are unit-pinned in StreamingSpec. */
  private def q246StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q246", dir) { path =>
      runUpsertServingOnce("q246", s, dir, path)
      streaming.StreamingWindows.vacuumServing(s"$path/serving", keepLast = 2)
    }

  /** The q248/q249 shared run, executed ONCE per SF dir: q214's upsert
    * chain (versions 0–2), then a TOMBSTONE batch (version 3) deleting
    * every `user_id % 7 == 3` user — the GDPR-style key removal the
    * serving table lacked (TTL expires whole windows; nothing removed a
    * key) — then a RE-INGEST batch (version 4) upserting the
    * `% 14 == 3` half of the deleted users back with their full
    * recomputed totals. The tombstone batch is what a deletion-request
    * queue drains: key + marker, no values. v3 must drop the keys from
    * exactly their buckets (a bucket emptied entirely leaves the
    * manifest), v4 must re-insert cleanly into buckets v3 touched —
    * and the changefeed must read delete (pre-image) → insert for the
    * reinserted users, which q249 pins against the cumulative-diff
    * oracle extended with both arms. */
  private def q248StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q248", dir) { path =>
      import org.apache.spark.sql.functions._
      runUpsertServingOnce("q248", s, dir, path)
      val serving = s"$path/serving"
      val events = attributionEvents(s, dir)
      val doomed = events.select("user_id").distinct()
        .filter(col("user_id") % 7 === 3)
        .select(col("user_id"), lit(null).cast("long").as("n_events"),
          lit(null).cast("long").as("last_us"), lit(true).as("__deleted"))
      streaming.StreamingWindows.upsertBatch(serving,
        tombstoneCol = Some("__deleted"))(doomed, 3L)
      val reingested = events.filter(col("user_id") % 14 === 3)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(unix_micros(col("ts"))).as("last_us"))
      streaming.StreamingWindows.upsertBatch(serving)(reingested, 4L)
    }

  /** The q215 streaming run, executed ONCE per SF dir: q214's
    * update-mode aggregate + upsert sink RESTARTED mid-corpus — the
    * SIXTH streaming state kind to cross a stop/start, and the most
    * common one in production: built-in streaming-aggregation state
    * (StateStoreSave), not custom keyed state. Run 1 drains batch 0 and
    * writes serving snapshot v0 holding batch-0-only totals; batches
    * 1–2 are staged after it terminates and run 2 resumes from the same
    * checkpoint. The final snapshot equals the batch GROUP BY only if
    * the per-user running totals RECOVERED (a reset agg would restart
    * every user's n_events at its run-2 count) and the versioned upsert
    * kept replacing rather than appending across the restart. q214's
    * oracle verbatim; changelog checkpointing as the other restart
    * fixtures. */
  private def q215StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q215", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_micros(ts DIV 1000)").as("ts"))
      def runOnce(): Unit = {
        val stream = s.readStream.schema(eventQuartetSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        val counts = streaming.StreamingWindows
          .userActivityCounts(stream, watermark = "1440 hours")
        withRocksDbStateStore(s, changelog = true) {
          val q = counts.writeStream
            .outputMode("update")
            .foreachBatch(
              streaming.StreamingWindows.upsertBatch(s"$path/serving") _)
            .option("checkpointLocation", s"$path/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
      }
      stageMicroBatches("q215", path,
        Seq(events.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: batch 0 only — v0 holds partial totals
      stageMicroBatches("q215", path,
        (1 until 3).map(i => events.filter(col("event_id") % 3 === i)),
        firstIndex = 1)
      runOnce() // run 2: recovered totals continue, upserts replace
    }

  /** The q264 streaming run, executed ONCE per SF dir: q214's upsert
    * stream with a FORCED foreachBatch REPLAY across the restart — the
    * r19 verdict's #6. q215 proves the agg state recovers over a clean
    * stop/start; this fixture stages the crash window foreachBatch's
    * at-least-once contract actually warns about: the sink applied
    * batch 0 (serving v0 on disk) but the COMMIT record was never
    * written (deleted here after run 1 — batch 0's offsets remain). Run
    * 2 therefore RE-DELIVERS batch 0 with the same offsets before
    * folding waves 1–2: upsertBatch must rebuild v0 from versions
    * strictly BELOW it (identical content — never from its own prior
    * attempt, never as a double-applied version), and the final
    * snapshot must still equal the batch GROUP BY (q214's oracle
    * verbatim) — a replay that appended, double-counted, or resolved
    * its base from the stale v0 all hash-mismatch. */
  private def q264StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q264", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = attributionEvents(s, dir)
      // engine recovery re-executes only the LATEST uncommitted batch:
      // with no-data micro-batches on (the default), run 1 trails an
      // empty watermark batch AFTER wave 0, so deleting commits would
      // replay that no-data batch — not the data batch whose sink
      // idempotence this fixture exists to prove (the require below
      // caught exactly that: the first staging of this fixture was
      // vacuous). Disabling them makes batch 0 run 1's latest batch.
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(noDataKey)
      s.conf.set(noDataKey, "false")
      try {
      def runOnce(): Unit = {
        val stream = s.readStream.schema(eventQuartetSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(new java.io.File(path, "in").getAbsolutePath)
        val counts = streaming.StreamingWindows
          .userActivityCounts(stream, watermark = "1440 hours")
        withRocksDbStateStore(s, changelog = true) {
          val q = counts.writeStream
            .outputMode("update")
            .foreachBatch(
              streaming.StreamingWindows.upsertBatch(s"$path/serving") _)
            .option("checkpointLocation", s"$path/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
      }
      stageMicroBatches("q264", path,
        Seq(events.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: batch 0 applied AND committed; v0 on disk
      // force the at-least-once window: the sink's effect (v0) stays,
      // every commit acknowledgment is gone (ALL entries, not just 0 —
      // were a trailing no-data batch ever committed, the engine would
      // resume past the surviving highest commit and the replay this
      // fixture exists for would silently not happen) — run 2 replays
      // batch 0 from its recorded offsets
      graft.util.Fs.listChildren(s"$path/ck/commits").foreach {
        case (name, false) if name.toLongOption.nonEmpty =>
          graft.util.Fs.deleteIfExists(s"$path/ck/commits/$name")
        case _ => ()
      }
      stageMicroBatches("q264", path,
        (1 until 3).map(i => events.filter(col("event_id") % 3 === i)),
        firstIndex = 1)
      runOnce() // run 2: replays wave 0 idempotently, folds waves 1-2
      require(graft.util.Fs.isFile(s"$path/ck/commits/0"),
        "q264: run 2 never re-committed batch 0 — the forced replay " +
          "this fixture stages did not happen")
      } finally prevNoData.fold(s.conf.unset(noDataKey))(v =>
        s.conf.set(noDataKey, v))
    }

  /** The q225 streaming run, executed ONCE per SF dir: the WINDOWED
    * serving table — q214's update-mode upsert pattern re-keyed by
    * (user, day window), the keying the raw-user aggregate's scaladoc
    * prescribes for unboundedly-churning user populations (state ∝
    * horizon, closed windows evict at the watermark — the r16
    * verdict's one remaining documentation-only mitigation, now a
    * fixture). The composite key rides as ONE serving_key column, so
    * the bucketed upsert sink's single-key anti-join replaces exactly
    * the changed (user, window) rows; the final manifest-resolved view
    * must equal the batch (window, user) GROUP BY — composite-key
    * replacement, cross-batch agg state, and bucket resolution all
    * gate it. q214's staging (event_id % 3) verbatim. */
  private def q225StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q225", dir)(runWindowedServingOnce("q225", s, dir, _))

  /** The q225 staged windowed-upsert run against `path` — factored so
    * q231 can run the identical stream and then EXPIRE old windows. */
  private def runWindowedServingOnce(qname: String, s: SparkSession,
      dir: String, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val events = attributionEvents(s, dir)
    val inDir = stageMicroBatches(qname, path,
      (0 until 3).map(i => events.filter(col("event_id") % 3 === i)))
    val stream = s.readStream.schema(eventQuartetSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath)
    val counts = streaming.StreamingWindows
      .userActivityCountsWindowed(stream, windowLength = "1 day",
        watermark = "1440 hours")
    withRocksDbStateStore(s) {
      val q = counts.writeStream
        .outputMode("update")
        .foreachBatch(streaming.StreamingWindows
          .upsertBatch(s"$path/serving", keyCol = "serving_key") _)
        .option("checkpointLocation", s"$path/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** The q231 streaming run, executed ONCE per SF dir: q225's windowed
    * serving table, then RETENTION — windows starting before
    * 2024-01-16 UTC are EXPIRED from the table entirely (the TTL pass a
    * serving view needs: the agg's watermark evicts STATE, but nothing
    * else ever deletes already-served rows). The corpus spans Jan 1–30
    * at every SF, so the cutoff genuinely splits each user's windows.
    * The expired view must equal the batch GROUP BY over only the kept
    * windows — an expiry that drops a kept row, keeps an expired one,
    * or re-buckets inconsistently all hash-mismatch. */
  private def q231StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q231", dir) { path =>
      import org.apache.spark.sql.functions._
      runWindowedServingOnce("q231", s, dir, path)
      streaming.StreamingWindows.expireServing(s, s"$path/serving",
        keep = col("win_start_us") >= lit(1705363200000000L),
        keyCol = "serving_key")
    }

  /** The q216 streaming run, executed ONCE per SF dir: the WATERMARK
    * LATE-DATA DROP semantics at oracle grade — every other staged
    * fixture avoids lateness by construction (delays exceeding the
    * corpus span); this one PLANTS it and pins exactly what gets
    * dropped. Four stages through the built-in tumbling aggregate
    * (10-minute windows per event_type, 1 h watermark): batch 0 holds
    * the on-time half (`event_id % 2 === 0`); batches 1–2 are BOTH
    * far-future sentinel stages, advancing the watermark months past
    * the corpus and closing/emitting every real window — both must
    * precede the late delivery because the watermark propagates with a
    * ONE-BATCH LAG (batch N's late filter uses the maximum through
    * batch N−1; with only one sentinel ahead of it, the late batch
    * still ran under the pre-sentinel watermark and the corpus's last
    * two odd rows leaked through — measured, not theorized: 498/500
    * dropped, 2 emitted; the same lag is why [[sentinelStages]] emits
    * two stages for emission). Batch 3 then delivers the OTHER half of
    * the corpus — every row months late, every target window long
    * closed, so the engine must drop ALL of them — the ledger's
    * numRowsDroppedByWatermark equals the batch's DISTINCT (window,
    * event_type) group count, not its row count, because the drop
    * filter sits above the map-side partial aggregate (measured at
    * sf0.01: 4,639 groups from 5,000 late rows, equal to the DuckDB
    * distinct-group count) — and must not re-emit or mutate any
    * already-emitted window (append mode emits a closed window exactly
    * once). The oracle is the batch GROUP BY
    * over ONLY the on-time half — a single surviving late row, a
    * double-emitted window, or an over-aggressive drop all
    * hash-mismatch. The sentinels' own window never closes (the
    * watermark trails them by the delay), so no sentinel row reaches
    * the sink. The value column is a fixture-side derivation
    * (`event_id % 97` as double — integer-valued, so sums are exact
    * against the oracle's replay). */
  private def q216StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q216", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_micros(ts DIV 1000)").as("ts"),
          (col("event_id") % 97).cast("double").as("value"))
      val Seq(sentA, sentB) = sentinelStages(events,
        lit("2024-06-01 00:00:00").cast("timestamp"),
        extraCols = Seq("value" -> lit(0.0)))
      val inDir = stageMicroBatches("q216", path, Seq(
        events.filter(col("event_id") % 2 === 0), // on time
        sentA, // watermark advances...
        sentB, // ...and TAKES EFFECT (one-batch lag); windows close + emit
        events.filter(col("event_id") % 2 === 1))) // ALL months late → drop
      val inSchema = org.apache.spark.sql.types.StructType(
        eventQuartetSchema.fields :+ org.apache.spark.sql.types.StructField(
          "value", org.apache.spark.sql.types.DoubleType))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .tumblingAgg(stream, windowLength = "10 minutes", watermark = "1 hour")
      runStreamToSink(out, path)
    }

  /** The q217 streaming run, executed ONCE per SF dir: STATE EVICTION
    * made observable in output — the complement of every dedup fixture
    * so far. `dropDuplicatesWithinWatermark`'s contract is
    * horizon-BOUNDED memory: a duplicate inside the horizon drops, and
    * a duplicate arriving after its key's state evicted is KEPT AGAIN
    * (the price of bounded state on an unbounded crawl — re-admission,
    * not data loss). Until now eviction only showed up in state-size
    * telemetry; this fixture makes the oracle demand it. Four stages
    * through the exact dedup (1 h horizon): batch 0 delivers one doc
    * per DISTINCT text (min doc_id per md5 group — no within-batch
    * ambiguity at any SF) at T0; batches 1–2 are two unique-text
    * advancer docs at T1 = five months later (both kept — first
    * occurrences; two stages because the watermark propagates with a
    * one-batch lag, see q216), pushing the watermark past every batch-0
    * key's expiry so batch 2 EVICTS the whole corpus's state; batch 3
    * re-delivers the same texts (+20M ids) at T2 = T1 + 1 day — every
    * one must be KEPT AGAIN (forgetting arm) — alongside one duplicate
    * of advancer alpha's text, whose state is still live (T2 is inside
    * alpha's T1 + 1 h horizon at the batch's T1 − 1 h watermark) and
    * which must be DROPPED (the in-horizon arm, same run). The oracle
    * states the full sink from the construction: both copies of every
    * corpus text, both advancers, and no third-alpha row — an engine
    * that never evicts fails the row count, one that evicts too eagerly
    * keeps the alpha duplicate. */
  private def q217StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q217", dir) { path =>
      import org.apache.spark.sql.functions._
      val byText = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy("doc_id")
      val uniques = Tables.documents(s, dir)
        .withColumn("rk", row_number().over(byText))
        .filter(col("rk") === 1).drop("rk")
        .select(col("doc_id"), col("text"))
      val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
      val t1 = lit("2024-06-01 00:00:00").cast("timestamp")
      val t2 = lit("2024-06-02 00:00:00").cast("timestamp")
      def synth(id: Long, text: String,
          ts: org.apache.spark.sql.Column): DataFrame =
        s.range(1).select(lit(id).as("doc_id"), lit(text).as("text"),
          ts.as("ts"))
      val inDir = stageMicroBatches("q217", path, Seq(
        uniques.withColumn("ts", t0),
        synth(-1L, "graft horizon sentinel alpha", t1),
        synth(-2L, "graft horizon sentinel beta", t1),
        uniques.select((col("doc_id") + 20000000L).as("doc_id"),
            col("text")).withColumn("ts", t2)
          .unionByName(synth(-3L, "graft horizon sentinel alpha", t2))))
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val stream = s.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingExactDedup(stream, watermark = "1 hour")
      runStreamToSink(out, path)
    }

  /** The q218 streaming run, executed ONCE per SF dir: WATERMARK
    * LATE-DATA DROP for the STREAM-STREAM JOIN — q216's drop arm
    * applied to join state (the r16 verdict's missing fixture: q212
    * relies on the same machinery but nothing made a months-late
    * delivery provably vanish from join consideration). Six stages
    * through q212's operator: batch 0 = the ON-TIME half of both sides
    * (`event_id % 2 === 0`); batches 1–2 = the join sentinels
    * ([[joinSentinelStages]] — two, for the one-batch watermark lag,
    * q216), advancing the watermark months past the corpus so every
    * on-time unmatched view null-emits and BOTH sides' join buffers
    * evict; batch 3 re-delivers the OTHER half of the corpus — views
    * AND clicks at their original times, every row months below the
    * in-effect watermark, so the engine must drop ALL of them on input.
    * The drop is observable from both directions: a wrongly-admitted
    * late VIEW would null-emit in the trailing batches (its horizon is
    * already past — an extra sink row), and since batch 3 carries both
    * sides, a wrongly-admitted late view/click could even pair
    * IN-BATCH (an extra match row); batches 4–5 are a second sentinel
    * pair (distinct ids) whose only job is to run further batches so
    * any wrongly-admitted late view is flushed into the sink where the
    * oracle sees it. The oracle is the batch left join over ONLY the
    * on-time halves ([[clickAttributionOracleSqlFor]] with the % 2
    * filter): a surviving late row, a resurrected pair, or a mutated
    * already-emitted null row all hash-mismatch. */
  private def q218StreamPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q218", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = attributionEvents(s, dir)
      val Seq(sentA, sentB) = joinSentinelStages(events)
      val Seq(sentC, sentD) =
        joinSentinelStages(events, ids = Seq((-5L, -6L), (-7L, -8L)))
      val inDir = stageMicroBatches("q218", path, Seq(
        events.filter(col("event_id") % 2 === 0), // on time, both sides
        sentA, // watermark advances...
        sentB, // ...and takes effect: on-time windows settle, state evicts
        events.filter(col("event_id") % 2 === 1), // ALL months late → drop
        sentC, // trailing batches: flush any wrongly-admitted late view
        sentD))
      val stream = s.readStream.schema(eventQuartetSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.getAbsolutePath)
      val out = streaming.StreamingWindows
        .streamingClickAttribution(stream, attributionWindow = "30 minutes",
          watermark = "1440 hours")
      runStreamToSink(out, path)
    }

  /** The q222/q223/q224 streaming-ingest stores, built ONCE per SF dir:
    * the continuous-ingest triple's STREAMING twin (the r16 verdict's
    * missing fixture — batch ingest has the q174 capstone and exact
    * dedup has its streaming form, but index APPEND had never run under
    * streaming arrival). Three foreachBatch streams over mtime-staged
    * arrival waves, against base artifacts built with q121's and q110's
    * exact splits:
    *  - `inv/`: the inverted index built on 3/4 of the corpus; the
    *    held-out quarter arrives as three waves, each APPENDED by
    *    [[operators.TextAnalysis.appendToInvertedIndex]] — q121's fold,
    *    now one micro-batch at a time;
    *  - `ivf/`: the IVF layout built on 3/4 of the embeddings; the
    *    held-out quarter arrives as three waves, each APPENDED against
    *    the frozen centroids by
    *    [[operators.Similarity.appendToIvfIndex]] — q110's fold;
    *  - `survivors/`: q67's duplicate-heavy incremental batch arrives
    *    as the q185 waves (fresh +1M, corpus copies +2M, intra twins
    *    +3M) and each wave is
    *    [[operators.Dedup.bloomGatedDedupAgainstCorpus]]-gated against
    *    corpus ∪ ALREADY-ACCEPTED survivors — the production front
    *    gate whose reference GROWS with ingest. Per-wave gating equals
    *    the whole-batch gate exactly on this staging: wave-1 fresh
    *    texts are id-suffixed (unique, absent from the corpus — all
    *    kept), wave-2 copies are corpus texts (all dropped), wave-3
    *    twins repeat wave-1 texts (dropped against the grown
    *    reference), so q67's oracle gates the sink verbatim. Replay is
    *    idempotent BY the growing reference: a re-delivered wave's
    *    texts are already among the survivors, so everything drops.
    * The probes (q222/q223/q224) then demand append ≡ rebuild: the IVF
    * probe-all equals brute force over ALL vectors (q110's oracle), the
    * BM25 probe equals the full-corpus scores (q121's oracle), and the
    * survivors equal the batch gate's output (q67's oracle). The
    * appends are idempotent via their id anti-joins, so foreachBatch's
    * at-least-once replays cannot double-append. */
  /** q239's parquet GENERATIONS, written once per SF dir: the events
    * corpus as three eras of one continuously-written table — gen0
    * (oldest) calls the type column `etype` and predates `value`; gen1
    * adds `value` as FLOAT; gen2 (current) widens it to DOUBLE and adds
    * `src`. The reader must assemble all three under gen2's schema:
    * rename, NULL-backfill, widen. */
  private def q239GensPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("schema_gens_q239", dir) { path =>
      import org.apache.spark.sql.functions._
      val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts DIV 1000").as("us"))
      e.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("user_id"),
          col("event_type").as("etype"), col("us"))
        .write.mode("overwrite").parquet(s"$path/gen0")
      e.filter(col("event_id") % 3 === 1)
        .withColumn("value", (col("event_id") % 97).cast("float"))
        .write.mode("overwrite").parquet(s"$path/gen1")
      e.filter(col("event_id") % 3 === 2)
        .withColumn("value", (col("event_id") % 97).cast("double") + 0.5)
        .withColumn("src", lit("v2"))
        .write.mode("overwrite").parquet(s"$path/gen2")
    }

  /** The q241 streaming run, executed ONCE per SF dir: q234's sketch
    * shards MAINTAINED BY A STREAM — each arrival wave folds into its
    * own persisted HLL shard artifact via foreachBatch (the q222
    * artifact-maintenance pattern applied to profiling): a stateless
    * stream whose durable "state" is the shard files, replay-idempotent
    * because a re-run batch overwrites its own `shard<batchId>` dir.
    * The accumulated artifacts must answer the SAME contract as the
    * batch-written shards: union ≡ one-pass rebuild and exact counts
    * (q234's oracle verbatim) — a lost wave, a double-applied wave, or
    * a shard written from the wrong batch all fail it. */
  private def q241StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q241", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = attributionEvents(s, dir)
      stageMicroBatches("q241", path,
        (0 until 3).map(i => events.filter(col("event_id") % 3 === i)))
      runArtifactStreamOnce(s, path, eventQuartetSchema)((b, id) =>
        operators.Sketches.writeDistinctShard(b, "event_type", "user_id",
          s"$path/shards/shard$id"))
    }

  /** The q242 streaming run, executed ONCE per SF dir: q241's
    * artifact-maintenance stream RESTARTED mid-ingest — the claim none
    * of the seven state-kind restart fixtures covers: a foreachBatch
    * stream whose durable state is PERSISTED FILES (not a state store)
    * must resume from its checkpoint without losing or double-applying
    * a wave. Run 1 drains batch 0 only (shard0 on disk, checkpoint
    * committed through it); batches 1–2 are staged after it terminates
    * and run 2 resumes from the same checkpoint — it must process
    * EXACTLY the unseen waves (a source reset would re-deliver wave 0
    * into a duplicate shard dir under a fresh batch id, inflating
    * n_rows; a lost wave starves the union). The accumulated artifacts
    * pass q234's oracle verbatim. */
  private def q242StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q242", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = attributionEvents(s, dir)
      def runOnce(): Unit = runArtifactStreamOnce(s, path,
        eventQuartetSchema)((b, id) =>
        operators.Sketches.writeDistinctShard(b, "event_type", "user_id",
          s"$path/shards/shard$id"))
      stageMicroBatches("q242", path,
        Seq(events.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: shard0 only, checkpoint committed through batch 0
      stageMicroBatches("q242", path,
        (1 until 3).map(i => events.filter(col("event_id") % 3 === i)),
        firstIndex = 1)
      runOnce() // run 2: resumes — exactly the unseen waves fold in
    }

  /** One AvailableNow foreachBatch pass over the `in/` waves staged
    * under `path` — the shared runner of the artifact-maintenance
    * fixtures (q241/q242/q247): file stream at one file per trigger,
    * empty batches skipped, checkpoint beside the waves so a second
    * call RESUMES (the restart fixtures call it twice). */
  private def runArtifactStreamOnce(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(new java.io.File(path, "in").getAbsolutePath)
    val fn = (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long) => if (!b.isEmpty) perBatch(b.toDF(), id)
    val q = stream.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", s"$path/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The q252 streaming run, executed ONCE per SF dir: q251's KLL
    * quantile shards MAINTAINED BY A STREAM — q241's artifact-
    * maintenance pattern applied to the percentile sibling: each
    * arrival wave folds into its own persisted KLL shard via
    * foreachBatch (replay-idempotent by per-batchId overwrite), and
    * the accumulated artifacts must answer q251's full contract —
    * union N ≡ rebuild N ≡ exact count, both paths' p50/p95 in the
    * exact rank band (a lost wave breaks the N pin; a double-applied
    * wave inflates it). */
  private def q252StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q252", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      stageMicroBatches("q252", path,
        (0 until 3).map(i => events.filter(col("event_id") % 3 === i)))
      runArtifactStreamOnce(s, path, schema)((b, id) =>
        operators.Sketches.writeQuantileShard(b, "event_type", "value",
          s"$path/shards/shard$id"))
    }

  /** The q257 streaming run, executed ONCE per SF dir: q252's KLL
    * artifact stream RESTARTED mid-ingest — q242's overwrite-style
    * restart protocol applied to the quantile sibling (the r18 verdict
    * noted q252 shares q242's mechanism but nothing pinned it across a
    * stop/start). Run 1 drains wave 0 only (shard0 on disk, checkpoint
    * committed through it); waves 1–2 stage after it terminates and
    * run 2 resumes from the same checkpoint — a source reset would
    * re-deliver wave 0 into a duplicate shard dir and break the exact
    * union-N pin, a lost wave starves it. The accumulated artifacts
    * pass q251's oracle verbatim. */
  private def q257StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q257", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      def runOnce(): Unit = runArtifactStreamOnce(s, path, schema)((b, id) =>
        operators.Sketches.writeQuantileShard(b, "event_type", "value",
          s"$path/shards/shard$id"))
      stageMicroBatches("q257", path,
        Seq(events.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: shard0 only, checkpoint committed through batch 0
      stageMicroBatches("q257", path,
        (1 until 3).map(i => events.filter(col("event_id") % 3 === i)),
        firstIndex = 1)
      runOnce() // run 2: resumes — exactly the unseen waves fold in
    }

  /** The q247 streaming run, executed ONCE per SF dir: the
    * APPEND-style artifact stream across a restart — q242 restart-
    * proved the per-batch-OVERWRITE idempotence mechanism (each wave
    * owns its shard dir); the index appends rely on a DIFFERENT one,
    * the id anti-join skip, and no fixture had carried it over a
    * stop/start. The postings layout builds on 3/4 of the corpus; run
    * 1 drains wave 0 of the remaining quarter into it via foreachBatch
    * appendToInvertedIndex and terminates with the checkpoint committed
    * through batch 0; waves 1–2 stage after it and run 2 resumes. The
    * final index must pass the FULL-corpus BM25 oracle (q121's,
    * verbatim): a replay the anti-join failed to absorb double-counts
    * postings and inflates the manifest; a lost wave starves df and
    * n_docs. */
  private def q247StorePath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q247", dir) { path =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, dir)
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 4 =!= 0),
        s"$path/inv", buckets = 64)
      val quarter = docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      val docSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      def runOnce(): Unit = runArtifactStreamOnce(s, path, docSchema)(
        (b, _) => TextAnalysis.appendToInvertedIndex(b, s"$path/inv"))
      stageMicroBatches("q247", path,
        Seq(quarter.filter(expr("doc_id div 4") % 3 === 0)))
      runOnce() // run 1: wave 0 appended, checkpoint committed through it
      stageMicroBatches("q247", path,
        (1 until 3).map(i => quarter.filter(expr("doc_id div 4") % 3 === i)),
        firstIndex = 1)
      runOnce() // run 2: resumes — exactly the unseen waves append
    }

  /** q234's persisted sketch artifacts, built once per SF dir: the
    * events corpus split into the familiar % 3 ingest waves, each
    * profiled into ONE small parquet artifact of per-event_type HLL
    * sketches + partial row counts
    * ([[graft.operators.Sketches.writeDistinctShard]]) — the mergeable
    * distinct-count shard a 100 TB corpus keeps per day/partition so
    * "uniques so far" never rescans profiled data. */
  private def q234ShardsPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("sketch_shards_q234", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
      (0 until 3).foreach { i =>
        operators.Sketches.writeDistinctShard(
          events.filter(col("event_id") % 3 === i),
          groupCol = "event_type", distinctCol = "user_id",
          path = s"$path/shard$i")
      }
    }

  /** q251's persisted quantile artifacts, built once per SF dir: the
    * events corpus split into the % 3 ingest waves, each profiled into
    * ONE small parquet artifact of per-event_type KLL quantile
    * sketches + partial row counts
    * ([[graft.operators.Sketches.writeQuantileShard]]) — the
    * percentile sibling of q234's HLL shards: "p99 so far" from
    * artifacts alone, never rescanning profiled data. */
  private def q251ShardsPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("quantile_shards_q251", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
      (0 until 3).foreach { i =>
        operators.Sketches.writeQuantileShard(
          events.filter(col("event_id") % 3 === i),
          groupCol = "event_type", valueCol = "value",
          path = s"$path/shard$i")
      }
    }

  /** The q260/q261 shared serving chain, built once per SF dir: three
    * upsert versions where the THIRD ADDS A COLUMN — the serving-table
    * schema evolution the r18 verdict named (#3). v0 = wave-0 users'
    * totals over wave 0; v1 = users with wave-1 events, totals over
    * waves 0–1; v2 = every EVEN user's full-corpus totals PLUS a new
    * `n_clicks` column (their click count — non-null by construction,
    * count() returns 0). Odd users' rows carry forward from v0/v1
    * through v2's view, so the current snapshot must read them with
    * n_clicks NULL (pre-change rows predate the column), while even
    * users read their recomputed row — and time travel at v1 keeps the
    * OLD shape entirely (no n_clicks column), which StreamingSpec pins. */
  private def q260ServingPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("serving_evolve_q260", dir)(path =>
      buildEvolvedServing(s, dir, s"$path/serving"))

  /** The v0/v1 two-wave prefix every evolution fixture shares: wave-0
    * users' totals over wave 0, then wave-1 users' totals over waves
    * 0–1 — the pre-change generations whose carried rows the evolved
    * reads must align. */
  private def buildTwoWaveServing(s: SparkSession, dir: String,
      serving: String): Unit = {
    import org.apache.spark.sql.functions._
    val e = attributionEvents(s, dir)
    val wave = col("event_id") % 3
    val b0 = e.filter(wave === 0).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
    streaming.StreamingWindows.upsertBatch(serving)(b0, 0L)
    val w1 = e.filter(wave === 1).select("user_id").distinct()
    val b1 = e.filter(wave <= 1).join(w1, Seq("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
    streaming.StreamingWindows.upsertBatch(serving)(b1, 1L)
  }

  /** q260's three-version evolved chain against `serving` — factored so
    * q263 can build the identical chain and then COMPACT it. */
  private def buildEvolvedServing(s: SparkSession, dir: String,
      serving: String): Unit = {
    import org.apache.spark.sql.functions._
    buildTwoWaveServing(s, dir, serving)
    val b2 = attributionEvents(s, dir)
      .filter(col("user_id") % 2 === 0).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"))
    streaming.StreamingWindows.upsertBatch(serving)(b2, 2L)
  }

  /** The q262 serving chain, built once per SF dir: q260's three-wave
    * shape where the THIRD version RENAMES last_us → last_seen_us (the
    * r19 verdict's #3 — the one evolution verb add/widen can't
    * express, previously refused as a drop+add): v0/v1 write the old
    * shape, v2 recomputes every EVEN user's full-corpus totals
    * carrying the NEW name plus the rename declaration. Odd users'
    * rows carry forward from v0/v1 UNREWRITTEN — the current snapshot
    * must read their old last_us values under last_seen_us (ledger
    * projection, no data rewrite), while time travel at v1 keeps the
    * OLD name entirely (StreamingSpec pins that and the no-spurious-
    * changefeed-rows contract). */
  private def q262ServingPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("serving_rename_q262", dir) { path =>
      import org.apache.spark.sql.functions._
      val serving = s"$path/serving"
      buildTwoWaveServing(s, dir, serving)
      val b2 = attributionEvents(s, dir)
        .filter(col("user_id") % 2 === 0).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(unix_micros(col("ts"))).as("last_seen_us"))
      streaming.StreamingWindows.upsertBatch(serving,
        renames = Map("last_us" -> "last_seen_us"))(b2, 2L)
    }

  /** The q263 chain, built once per SF dir: q260's evolved chain then
    * COMPACTED — the r19 verdict's #5, the last untested pairwise
    * interaction of the r19 features: compactServing reads through the
    * aligned multi-generation snapshot, so the rewrite must emit the
    * NEWEST schema with NULL-backfilled history (odd users' n_clicks
    * stays NULL through the rewrite) and q260's oracle must hold
    * verbatim over the single compacted version; the changefeed
    * horizon lands at vMax (nothing at or below it is derivable from a
    * re-stated table — pinned in StreamingSpec). */
  private def q263ServingPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("serving_evolve_compact_q263", dir) { path =>
      buildEvolvedServing(s, dir, s"$path/serving")
      streaming.StreamingWindows.compactServing(s, s"$path/serving")
    }

  /** q258's compacted HLL artifacts, built once per SF dir: q234's
    * three % 3 waves written as shards under a `shards/` root, then
    * COMPACTED to one artifact at the max id
    * ([[graft.operators.Sketches.compactDistinctShards]]) — the
    * retention pass the artifact family lacked (r18 verdict #4: shards
    * accrue one per wave forever, the small-files problem the postings
    * compaction solved). The compacted artifact must answer q234's
    * oracle verbatim: HLL union is associative, so the merged registers
    * equal any other merge order's. */
  private def q258ShardsPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("sketch_compact_q258", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
      (0 until 3).foreach { i =>
        operators.Sketches.writeDistinctShard(
          events.filter(col("event_id") % 3 === i),
          groupCol = "event_type", distinctCol = "user_id",
          path = s"$path/shards/shard$i")
      }
      operators.Sketches.compactDistinctShards(s, s"$path/shards",
        groupCol = "event_type")
    }

  /** q259's compacted KLL artifacts, built once per SF dir: q251's
    * waves as shards, then compacted via
    * [[graft.operators.Sketches.compactQuantileShards]] — KLL merge is
    * EXACT in the update count N, so the union-N pin is unchanged
    * through the compaction and q251's oracle holds verbatim. */
  private def q259ShardsPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("quantile_compact_q259", dir) { path =>
      import org.apache.spark.sql.functions._
      val events = Tables.events(s, dir)
      (0 until 3).foreach { i =>
        operators.Sketches.writeQuantileShard(
          events.filter(col("event_id") % 3 === i),
          groupCol = "event_type", valueCol = "value",
          path = s"$path/shards/shard$i")
      }
      operators.Sketches.compactQuantileShards(s, s"$path/shards",
        groupCol = "event_type")
    }

  /** The q253 stores, built once per SF dir: all three index layouts
    * on the full corpus, then ONE deletion-request set (`doc_id % 9 ==
    * 4` — the established retraction band; embeddings share the id
    * domain) applied to EACH — the cross-store right-to-be-forgotten
    * sweep a real deletion-request queue drains. q235/q236/q237 prove
    * each store's delete alone; q253 proves the composition: one
    * request set, three layouts, and the read-back consistency matrix
    * must agree doc-by-doc (a retracted doc at rest in ANY store is a
    * compliance failure, a survivor missing from any store is data
    * loss). */
  private def q253StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("forget_q253", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      TextAnalysis.writeInvertedIndex(docs, s"$path/inv", buckets = 64)
      Similarity.writeIvfIndex(emb, s"$path/ivf", nCells = 16)
      Dedup.writeMinHashIndex(docs, s"$path/mh",
        n = 3, numHashes = 16, bands = 16)
      val requests = docs.select("doc_id").filter(col("doc_id") % 9 === 4)
      TextAnalysis.deleteFromInvertedIndex(s, s"$path/inv", requests)
      Similarity.deleteFromIvfIndex(s, s"$path/ivf",
        requests.select(col("doc_id").as("vec_id")))
      Dedup.deleteFromMinHashIndex(s, s"$path/mh", requests)
    }

  private def q222StoresPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("stream_q222", dir) { path =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 4 =!= 0),
        s"$path/inv", buckets = 64)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 4 =!= 1),
        s"$path/ivf", nCells = 16)
      // one staged foreachBatch stream per artifact: waves under
      // $path/$sub/in, checkpoint beside them, AvailableNow
      def runWaves(sub: String, stages: Seq[DataFrame],
          schema: StructType)(body: (DataFrame, Long) => Unit): Unit = {
        val base = new java.io.File(path, sub)
        base.mkdirs()
        val inDir = stageMicroBatches(s"q222:$sub", base.getAbsolutePath, stages)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir.getAbsolutePath)
        val fn = (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => body(b.toDF(), id)
        val q = stream.writeStream
          .foreachBatch(fn)
          .option("checkpointLocation", s"${base.getAbsolutePath}/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val docSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      val embSchema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val quarter = docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      runWaves("ing_inv",
        (0 until 3).map(i => quarter.filter(expr("doc_id div 4") % 3 === i)),
        docSchema) { (b, _) =>
        TextAnalysis.appendToInvertedIndex(b, s"$path/inv")
      }
      val quarterEmb = emb.filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      runWaves("ing_ivf",
        (0 until 3).map(i => quarterEmb.filter(expr("vec_id div 4") % 3 === i)),
        embSchema) { (b, _) =>
        Similarity.appendToIvfIndex(b, s"$path/ivf")
      }
      // the q185 waves, constructed directly (no id-band assumption):
      // fresh (+1M) first, corpus copies (+2M) second, intra twins (+3M)
      // last — incrementalBatch's exact three components
      val corpusBase = docs.select(col("doc_id"), col("text"))
      val freshText = concat(col("text"), lit(" fresh "),
        col("doc_id").cast("string"))
      val survivorsDir = new java.io.File(path, "survivors")
      runWaves("ing_gate", Seq(
        corpusBase.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), freshText.as("text")),
        corpusBase.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
        corpusBase.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"), freshText.as("text"))),
        docSchema) { (b, _) =>
        val prior =
          if (Option(survivorsDir.listFiles())
            .exists(_.exists(_.getName.endsWith(".parquet"))))
            s.read.parquet(survivorsDir.getAbsolutePath)
          else b.limit(0)
        val ref = docs.select(col("doc_id"), col("text")).unionByName(prior)
        // pin before writing: the gate's exact-verify anti-join reads the
        // reference lazily, and the reference includes the very directory
        // the write below appends to (the appendToIvfIndex posture)
        val out = Dedup.bloomGatedDedupAgainstCorpus(b, ref).localCheckpoint()
        try out.write.mode("append").parquet(survivorsDir.getAbsolutePath)
        finally Dedup.releaseLocalCheckpoint(out)
      }
    }

  /** The (event_id, user_id, event_type, ts) quartet the staged event
    * fixtures read back — factored once for the fixtures that share it. */
  private val eventQuartetSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType)))

  /** The q214/q215 shared oracle: the per-user serving view the
    * update-mode upsert stream must converge to. */
  /** The q251/q252 shared oracle: exact per-type counts + percentiles
    * from the full corpus (quantile_cont ≡ Spark's exact interpolated
    * percentile); the KLL-side contracts (union N ≡ rebuild N ≡ exact
    * count, both paths inside the ±4-rank-point band) reduce to
    * literal-true booleans the operator computes in-query. */
  private def quantileShardsOracleSql: String =
    """SELECT event_type, count(value)::BIGINT AS n_rows,
      |  round(quantile_cont(value, 0.5), 6) AS exact_p50,
      |  round(quantile_cont(value, 0.95), 6) AS exact_p95,
      |  TRUE AS union_n_eq_rebuild,
      |  TRUE AS p50_within_bound, TRUE AS p95_within_bound,
      |  TRUE AS rebuild_p50_within_bound,
      |  TRUE AS rebuild_p95_within_bound
      |FROM events GROUP BY event_type""".stripMargin

  private def servingViewOracleSql: String =
    """SELECT user_id, count(*)::BIGINT AS n_events,
      |max(epoch_ns(ts) // 1000) AS last_us
      |FROM events GROUP BY user_id""".stripMargin

  /** The q248/q254 shared oracle: the serving view after the tombstone
    * wave (% 7 == 3 deleted) and the re-ingest wave (% 14 == 3 back). */
  private def tombstoneViewOracleSql: String =
    """WITH v AS (SELECT user_id, count(*)::BIGINT AS n_events,
      |             max(epoch_ns(ts) // 1000) AS last_us
      |           FROM events GROUP BY user_id)
      |SELECT * FROM v
      |WHERE (user_id % 7 <> 3) OR (user_id % 14 = 3)""".stripMargin

  /** The attribution-join oracle family: the batch join the streaming
    * interval join must converge to — views against same-user clicks in
    * [view_us, view_us + 30 min], inclusive bounds matching the
    * operator's >= / <=, times in µs. `joinKind` picks the ANSI join
    * replaying each append-mode contract variant (left/right/full
    * outer, semi-as-EXISTS); `onTimeOnly` restricts BOTH sides to the
    * even-event_id half — q218's late-drop oracle, where the odd half
    * is re-delivered months late and must vanish. user_id COALESCEs the
    * two sides like the operator, so it is non-null on every row. */
  private def clickAttributionOracleSqlFor(joinKind: String,
      onTimeOnly: Boolean = false): String = {
    val onTime = if (onTimeOnly) " AND event_id % 2 = 0" else ""
    val ctes =
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |             epoch_ns(ts) // 1000 AS us FROM events),
         |v AS (SELECT event_id AS view_id, user_id, us AS view_us FROM e
         |      WHERE event_type = 'view'$onTime),
         |c AS (SELECT event_id AS click_id, user_id, us AS click_us FROM e
         |      WHERE event_type = 'click'$onTime)""".stripMargin
    val cond =
      """v.user_id = c.user_id
        |  AND c.click_us >= v.view_us
        |  AND c.click_us <= v.view_us + 1800000000""".stripMargin
    joinKind match {
      case "semi" => ctes +
        s"""
           |SELECT v.view_id, v.user_id, v.view_us
           |FROM v WHERE EXISTS (SELECT 1 FROM c WHERE $cond)""".stripMargin
      case "left" => ctes +
        s"""
           |SELECT v.view_id, v.user_id, v.view_us, c.click_id, c.click_us
           |FROM v LEFT JOIN c ON $cond""".stripMargin
      case k =>
        val join = k match {
          case "inner" => "JOIN"
          case "right" => "RIGHT JOIN"
          case "full" => "FULL JOIN"
          case other => sys.error(s"unknown attribution join kind: $other")
        }
        ctes +
          s"""
             |SELECT v.view_id, COALESCE(v.user_id, c.user_id) AS user_id,
             |       v.view_us, c.click_id, c.click_us
             |FROM v $join c ON $cond""".stripMargin
    }
  }

  /** The q212/q213 shared oracle (left-outer, full corpus). */
  private def clickAttributionOracleSql: String =
    clickAttributionOracleSqlFor("left")

  /** The q53/q199 shared oracle: exact n-gram Jaccard at j >= 0.9 over
    * the derived exact-copy fixture — the TRUE pair set is a pure
    * function of the construction (identical signatures agree on every
    * band), so the same SQL gates the batch LSH pipeline (q53) and the
    * streaming band-bucket state's verified sink (q199). */
  private def minHashProdVerifySql: String =
    """WITH docs2 AS (SELECT doc_id, text FROM documents
      |               UNION ALL
      |               SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 5 = 0),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs2),
      |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |c AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
      |p AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS n_common
      |      FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
      |      GROUP BY 1, 2)
      |SELECT doc1, doc2, n_common,
      |       CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) AS jaccard
      |FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.9""".stripMargin

  /** The q29/q184 shared oracle: per-doc token counts straight off
    * `documents` — q184 must reproduce it from the Avro round trip. */
  private def tokenCountSql: String =
    """SELECT doc_id,
      |CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
      |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INT) AS n_re_tokens,
      |CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_approx_bpe
      |FROM documents""".stripMargin

  /** The q184 Avro container: the documents table written once per SF dir
    * through [[graft.sources.Avro.write]] (deflate codec); the query
    * reads it back and must reproduce q29 bit-for-bit. */
  private def q184AvroPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("avro_q184", dir) { path =>
      graft.sources.Avro.write(Tables.documents(s, dir), path)
    }

  /** The q183 tokenizer artifact: the pinned piece table written once per
    * SF dir through [[operators.Unigram.writePieces]]; the query loads it
    * back and must reproduce q171 bit-for-bit (append ≡ rebuild's
    * tokenizer sibling: persist ≡ constant). */
  private def q183TokenizerPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("unigram_q183", dir) { path =>
      operators.Unigram.writePieces(s, unigramPieces, path)
    }

  /** The q104 WARC envelope: the q96 inputs (url fixture + html fixture,
    * joined on doc_id) written as per-record-gzip response records — url
    * as WARC-Target-URI, html as the HTTP body, doc identity in the
    * record id. Losslessness is exactly what q104 then proves: reading
    * this container back and running the q96 pipeline must reproduce
    * q96's own oracle. */
  private def warcFixturePath(s: SparkSession, dir: String): String =
    lazyFixtureDir("warc_q104", dir) { path =>
      import org.apache.spark.sql.functions._
      val pages = urlDocuments(s, dir).join(htmlDocuments(s, dir), "doc_id")
        .select(col("url"), encode(col("html"), "UTF-8").as("body"),
          concat(lit("urn:graft:doc:"), col("doc_id")).as("rid"))
      graft.sources.Warc.write(pages, path, uriCol = "url", bodyCol = "body",
        recordIdCol = Some("rid"), gzip = true)
    }

  /** The q110 index: built on 3/4 of the embeddings, the rest folded in by
    * [[operators.Similarity.appendToIvfIndex]] — so the query's oracle
    * equality (probe-all == brute force over ALL vectors) holds only if
    * the append assigned every late vector to a scannable cell of the
    * frozen-centroid layout. */
  private def q110IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("ivf_index_q110", dir) { path =>
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, dir)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 4 =!= 1), path, nCells = 16)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 1), path)
    }

  /** The q228 index: q121's build+append chain, then COMPACTED — the
    * append's per-batch small files collapse to one file per bucket
    * while the probe must still equal the full-corpus BM25 (q121's
    * oracle verbatim: compaction may move bytes, never rows). */
  private def q228IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("inv_index_q228", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 4 =!= 0),
        path, buckets = 64)
      TextAnalysis.appendToInvertedIndex(docs.filter(col("doc_id") % 4 === 0), path)
      TextAnalysis.compactInvertedIndex(s, path)
    }

  /** The q230 index: the MinHash band/gram tables built on 3/4 of the
    * corpus, the last quarter APPENDED, then COMPACTED to a fixed file
    * count — probing must equal q98 on its full-corpus index (append ≡
    * rebuild AND compaction moves bytes, never rows, in one gate). */
  private def q230IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("mh_index_q230", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      Dedup.writeMinHashIndex(docs.filter(col("doc_id") % 4 =!= 0), path,
        n = 3, numHashes = 16, bands = 16)
      Dedup.appendToMinHashIndex(docs.filter(col("doc_id") % 4 === 0), path)
      Dedup.compactMinHashIndex(s, path)
    }

  /** The q229 index: q110's build+append chain, then COMPACTED — one
    * file per IVF cell, probe-all still equal to brute force. */
  private def q229IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("ivf_index_q229", dir) { path =>
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, dir)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 4 =!= 1), path, nCells = 16)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 1), path)
      Similarity.compactIvfIndex(s, path)
    }

  /** The q243 index: the postings layout's FULL LIFECYCLE in one
    * chain — build on 3/4, append the rest, RETRACT a ninth
    * (doc_id % 9 == 4), then RECRAWL-UPDATE the % 6 == 2 survivors
    * (delete the stale version, append the re-texted one — the
    * document-update pattern: a changed page re-ingests as
    * delete + append, manifest counters adjusted through both), then
    * compact. The probe must equal BM25 over the corpus AS IT NOW
    * STANDS — updated docs under their new text (which injects extra
    * 'spark' occurrences, so tf AND df AND avgdl all shift), retracted
    * docs absent. Every op is individually verified (q121/q235/q228);
    * this gates their COMPOSITION. */
  private def q243IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("inv_index_q243", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 4 =!= 0),
        path, buckets = 64)
      TextAnalysis.appendToInvertedIndex(docs.filter(col("doc_id") % 4 === 0), path)
      TextAnalysis.deleteFromInvertedIndex(s, path,
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
      val upd = docs.filter(col("doc_id") % 6 === 2 && col("doc_id") % 9 =!= 4)
      TextAnalysis.deleteFromInvertedIndex(s, path, upd.select("doc_id"))
      TextAnalysis.appendToInvertedIndex(
        upd.select(col("doc_id"),
          concat(col("text"), lit(" spark rev2")).as("text")), path)
      TextAnalysis.compactInvertedIndex(s, path)
    }

  /** The q244 index: the IVF cells' FULL LIFECYCLE — build on 3/4,
    * append the rest, retract the % 9 == 4 ninth, RE-EMBED the
    * % 6 == 2 survivors (delete + append with NEGATED vectors — the
    * re-encoded-document pattern; negation flips every cosine involving
    * them, so a stale vector surviving anywhere is loud), compact.
    * Probe-all must equal brute force over the corpus as it now
    * stands; centroids stay frozen through every step. */
  private def q244IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("ivf_index_q244", dir) { path =>
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, dir)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 4 =!= 1), path, nCells = 16)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 1), path)
      Similarity.deleteFromIvfIndex(s, path,
        emb.filter(col("vec_id") % 9 === 4).select("vec_id"))
      val upd = emb.filter(col("vec_id") % 6 === 2 && col("vec_id") % 9 =!= 4)
      Similarity.deleteFromIvfIndex(s, path, upd.select("vec_id"))
      Similarity.appendToIvfIndex(
        upd.select(col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")), path)
      Similarity.compactIvfIndex(s, path)
    }

  /** The q245 index: the MinHash band/gram tables' FULL LIFECYCLE —
    * build on 3/4, append the rest, retract the % 9 == 4 ninth,
    * RECRAWL-UPDATE the % 6 == 2 survivors (delete stale + append
    * re-texted — their gram sets shift, so every Jaccard involving
    * them recomputes), compact. The probe must equal the exact screen
    * over the corpus as it now stands. */
  private def q245IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("mh_index_q245", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      Dedup.writeMinHashIndex(docs.filter(col("doc_id") % 4 =!= 0), path,
        n = 3, numHashes = 16, bands = 16)
      Dedup.appendToMinHashIndex(docs.filter(col("doc_id") % 4 === 0), path)
      Dedup.deleteFromMinHashIndex(s, path,
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
      val upd = docs.filter(col("doc_id") % 6 === 2 && col("doc_id") % 9 =!= 4)
      Dedup.deleteFromMinHashIndex(s, path, upd.select("doc_id"))
      Dedup.appendToMinHashIndex(
        upd.select(col("doc_id"),
          concat(col("text"), lit(" rev2x rev2y rev2z")).as("text")), path)
      Dedup.compactMinHashIndex(s, path)
    }

  /** The q235 index: the full-corpus postings layout with a retracted
    * ninth (doc_id % 9 == 4) DELETED — probing must equal BM25 over a
    * corpus that never contained those docs (delete ≡ rebuild-without:
    * the rows must be gone AND the manifest counters decremented, or
    * the shifted n_docs/avgdl/df fail every score). */
  private def q235IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("inv_index_q235", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      TextAnalysis.writeInvertedIndex(docs, path, buckets = 64)
      TextAnalysis.deleteFromInvertedIndex(s, path,
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
    }

  /** The q236 index: the full-corpus IVF cells with vec_id % 9 == 4
    * DELETED under frozen centroids — probe-all must equal brute force
    * over only the survivors (the deleted vectors may appear as
    * QUERIES — retraction removes them from the index, not from the
    * world — but never as neighbors). */
  private def q236IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("ivf_index_q236", dir) { path =>
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, dir)
      Similarity.writeIvfIndex(emb, path, nCells = 16)
      Similarity.deleteFromIvfIndex(s, path,
        emb.filter(col("vec_id") % 9 === 4).select("vec_id"))
    }

  /** The q237 index: the full-corpus MinHash band/gram tables with
    * doc_id % 9 == 4 DELETED (the rewrite fuses with compaction — the
    * flat layout's whole-table pass does both at once) — probing must
    * equal the filtered-corpus screen: a batch doc whose only
    * near-match was retracted now survives. */
  private def q237IndexPath(s: SparkSession, dir: String): String =
    lazyFixtureDir("mh_index_q237", dir) { path =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      Dedup.writeMinHashIndex(docs, path, n = 3, numHashes = 16, bands = 16)
      Dedup.deleteFromMinHashIndex(s, path,
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
    }

  private[graft] def li(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_suppkey",
      "l_extendedprice", "l_quantity", "l_shipdate")

  private val liOutCols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")

  /** Static schema of [[li]] — drives the SQL emitter's select list and
    * declared-output casts for the generated oracles (no session available
    * at oracle-construction time). Must mirror li()'s projection —
    * SqlEmitterSpec asserts the two stay identical, so drift fails at test
    * time rather than as a downstream oracle hash mismatch. */
  private[graft] val liSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_suppkey", LongType), StructField("l_extendedprice", DoubleType),
      StructField("l_quantity", DoubleType), StructField("l_shipdate", TimestampNTZType)))
  }

  /** One window query: the spec (shared by the engine run, the emitted
    * Spark SQL, and the generated DuckDB oracle — drift-free by
    * construction) plus the output column selection. */
  private case class WinDef(spec: WindowQuerySpec, outCols: Seq[String])

  /** q17's DSL source strings — parsed at run time by the query (the public
    * front end under test) and once here for its generated oracle. */
  private val q17PartitionOrder =
    "l_extendedprice:Descending,l_orderkey:Ascending,l_linenumber:Ascending"
  private val q17Aggregates =
    "rnk:rank(l_extendedprice,,)\n" +
      "next_price:lead(l_extendedprice,1,)\n" +
      "run_qty:accumulate(l_quantity,,)"

  private lazy val winDefs: Map[String, WinDef] = {
    def flagDef(aggs: Seq[AggregateSpec], frame: FrameSpec = FrameSpec(),
        order: Seq[OrderSpec] = tieFreeOrder, extraCols: Seq[String] = Seq.empty) =
      WinDef(WindowQuerySpec(Seq("l_returnflag"), order, frame, aggs),
        liOutCols ++ extraCols ++ aggs.map(_.alias))
    val suppOut = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice")
    val q17Spec = DslParser.parseSpec(
      partitionFields = "l_returnflag", partitionOrder = q17PartitionOrder,
      aggregates = q17Aggregates)
      .fold(fs => throw new IllegalStateException(fs.mkString("; ")), identity)
    Map(
      "q01_rank" -> flagDef(Seq(AggregateSpec("rnk", WindowFn.Rank, "l_extendedprice"))),
      "q02_dense_rank" -> flagDef(Seq(AggregateSpec("dns_rnk", WindowFn.DenseRank, "l_extendedprice"))),
      "q03_percent_rank" -> flagDef(Seq(AggregateSpec("pct_rnk", WindowFn.PercentRank, "l_extendedprice"))),
      "q04_ntile" -> flagDef(Seq(AggregateSpec("tile", WindowFn.NTile, "l_quantity", Seq("4")))),
      "q05_row_number" -> flagDef(Seq(AggregateSpec("rn", WindowFn.RowNumber, "l_extendedprice"))),
      "q06_median" -> flagDef(Seq(AggregateSpec("med", WindowFn.Median, "l_quantity")),
        extraCols = Seq("l_quantity")),
      "q07_continuous_percentile" -> flagDef(
        Seq(AggregateSpec("cont_pct", WindowFn.ContinuousPercentile, "l_quantity", Seq("0.25"))),
        order = Seq.empty, // order NOT supported for CONTINUOUS_PERCENTILE (ref constraint)
        extraCols = Seq("l_quantity")),
      "q08_discrete_percentile" -> flagDef(
        Seq(AggregateSpec("disc_pct", WindowFn.DiscretePercentile, "l_quantity", Seq("0.5"))),
        order = Seq(OrderSpec("l_quantity")),
        extraCols = Seq("l_quantity")),
      "q09_lead" -> flagDef(Seq(AggregateSpec("next_price", WindowFn.Lead, "l_extendedprice", Seq("1")))),
      "q10_lag" -> flagDef(Seq(AggregateSpec("prev_price", WindowFn.Lag, "l_extendedprice", Seq("2")))),
      "q11_first" -> WinDef(
        WindowQuerySpec(Seq("l_suppkey"), tieFreeOrder,
          aggregates = Seq(AggregateSpec("frst", WindowFn.First, "l_extendedprice"))),
        suppOut :+ "frst"),
      "q12_last" -> WinDef(
        WindowQuerySpec(Seq("l_suppkey"), tieFreeOrder,
          frame = FrameSpec(FrameType.Row, unboundedPreceding = true, unboundedFollowing = true),
          aggregates = Seq(AggregateSpec("lst", WindowFn.Last, "l_extendedprice"))),
        suppOut :+ "lst"),
      "q13_cume_dist" -> flagDef(
        Seq(AggregateSpec("cume", WindowFn.CumulativeDistribution, "l_quantity")),
        order = Seq(OrderSpec("l_quantity")),
        extraCols = Seq("l_quantity")),
      "q14_accumulate" -> WinDef(
        WindowQuerySpec(Seq("l_suppkey"),
          Seq(OrderSpec("l_shipdate"), OrderSpec("l_orderkey"), OrderSpec("l_linenumber")),
          aggregates = Seq(AggregateSpec("run_qty", WindowFn.Accumulate, "l_quantity"))),
        Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", "run_qty")),
      "q15_frame_rows" -> flagDef(
        Seq(AggregateSpec("qty_3row", WindowFn.Accumulate, "l_quantity")),
        frame = FrameSpec(FrameType.Row, preceding = Some(-2L), following = Some(0L)),
        extraCols = Seq("l_quantity")),
      "q16_frame_range" -> flagDef(
        Seq(AggregateSpec("qty_range", WindowFn.Accumulate, "l_quantity")),
        frame = FrameSpec(FrameType.Range, preceding = Some(-5L), following = Some(0L)),
        order = Seq(OrderSpec("l_quantity")),
        extraCols = Seq("l_quantity")),
      "q17_dsl" -> WinDef(q17Spec,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
          "l_quantity", "rnk", "next_price", "run_qty")),
      "q45_multi_partition" -> WinDef(
        WindowQuerySpec(Seq("l_returnflag", "l_linestatus"), tieFreeOrder,
          aggregates = Seq(
            AggregateSpec("rnk", WindowFn.Rank, "l_extendedprice"),
            AggregateSpec("run_qty", WindowFn.Accumulate, "l_quantity"))),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_extendedprice", "l_quantity", "rnk", "run_qty")),
      "q49_sql_emitter" -> WinDef(
        WindowQuerySpec(Seq("l_returnflag"), tieFreeOrder, aggregates = Seq(
          AggregateSpec("rnk", WindowFn.Rank, "l_extendedprice"),
          AggregateSpec("run_qty", WindowFn.Accumulate, "l_quantity"))),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
          "l_quantity", "rnk", "run_qty")))
  }

  /** DuckDB oracle for a [[WinDef]], generated by the SQL emitter from the
    * SAME spec the engine executes: the emitted select mirrors the engine's
    * full output schema (with declared-type casts), the outer select applies
    * the query's column pruning. */
  private def winOracle(d: WinDef): String =
    s"SELECT ${d.outCols.mkString(", ")} FROM " +
      s"(${SqlEmitter.emit(d.spec, "lineitem", liSchema, SqlEmitter.Dialect.DuckDb)}) t"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises the full reference lifecycle: DSL parse → validate → window. */
  def entry(spark: SparkSession): DataFrame =
    queries("q17_dsl")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ §7 extensions).
    * Window queries (q01–q16, q45) are generated from [[winDefs]] — the same
    * spec objects that generate their oracles; q17 exercises the DSL parser
    * front end and q49 the SQL emitter's Spark dialect, each against an
    * oracle emitted from the identical spec. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = winDefs
    .removed("q17_dsl").removed("q49_sql_emitter")
    .map { case (name, d) =>
      name -> ((s: SparkSession, dir: String) =>
        WindowEngine.run(li(s, dir), d.spec)
          .select(d.outCols.map(org.apache.spark.sql.functions.col): _*))
    } ++ Map[String, (SparkSession, String) => DataFrame](
    // ---- §2.3 the aggregate-spec DSL end to end ---------------------------
    "q17_dsl" -> ((s, dir) => {
      val spec = DslParser.parseSpec(
        partitionFields = "l_returnflag",
        partitionOrder = q17PartitionOrder,
        aggregates = q17Aggregates).fold(fs => throw new GraftValidationException(fs), identity)
      WindowEngine.run(li(s, dir), spec).select(winDefs("q17_dsl").outCols.map(org.apache.spark.sql.functions.col): _*)
    }),

    // ---- §2.5 relational plumbing (scan→filter→agg, broadcast join + top-N)
    "q18_groupby_agg" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") < 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          // exact decimal(18,2) accumulation, surfaced as double — the sum is
          // order-independent in decimal, so the final double is deterministic
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n_rows"))
    }),

    "q19_join_topn" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice")
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      val w = Window.partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    }),

    // ---- training-data pipeline: deduplication ----------------------------
    "q20_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),

    // exact dedup keeping the BEST-scoring copy (q102 micro priority)
    // instead of the smallest id — argmax as a skew-safe aggregate
    "q132_dedup_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val pr = operators.TextAnalysis.qualityScore(docs)
        .select(col("doc_id"),
          round(col("quality_score") * 1000000.0, 0).cast("long").as("p"))
      Dedup.exactBest(docs.join(pr, "doc_id"), "p")
    }),

    "q21_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.1)),

    // the hot-gram guard under oracle: grams in > 1% of docs (df > 5 at this
    // SF — probed: the hottest grams hit df 7-9) are dropped from every
    // document's gram set BEFORE pairing, and Jaccard runs over the reduced
    // sets — the corpus-scale defense against stopword-gram join blowup,
    // previously unit-tested only. The DuckDB oracle reproduces the df
    // filter, so a >-vs->= or ratio slip on either side is a hash mismatch.
    "q54_dedup_jaccard_guarded" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.1,
        maxDocFrequency = 0.01)),

    // banded MinHash on the signature fixture: the planted exact copies are
    // the ONLY pairs any band can emit above the estimate floor (background
    // sits at j ≤ 0.14 → est ≥ 0.4 needs 7/16 matching slots, p ≈ 1e-6;
    // probed zero at all 3 SFs), and their slot agreement is exactly 16/16 —
    // so the hash-seed-dependent estimate column becomes the deterministic
    // 1.0 and the construction-reproducing oracle applies. The operator on
    // RAW corpora stays approximate; its production point is q53. The
    // fixture derives ONCE per SF dir onto disk (the q98-index pattern):
    // its LSH+verify chain costs ~4× the query itself, and a per-query
    // clearCache (as Verify does) would rebuild an in-session cached
    // variant on every run — reading the derived parquet keeps the
    // derivation out of the query, cache policy notwithstanding.
    "q22_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashLshPairs(s.read.parquet(s"${q22FixturePath(s, dir)}/docs"),
        n = 3, numHashes = 16, bands = 4, minEstimate = 0.4)),

    // SimHash with the ENGINE-PORTABLE word hash (60 bits of md5) on the
    // RAW corpus: the signature itself reproduces bit-for-bit in DuckDB,
    // so the oracle recomputes signatures and brute-forces the Hamming ≤ 3
    // pair set exactly — full operator semantics under oracle, no planted
    // fixture needed. Spark stays on the banded candidate join (complete
    // for Hamming ≤ 3 by pigeonhole — the theorem the oracle's brute force
    // checks); the xxhash64 production hash path keeps its banding-
    // completeness unit pin.
    "q23_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), portableHash = true)),

    // SimHash with the PRODUCTION xxhash64 word hash in its production
    // SHAPE — candidates → exact verify — oracle-checked STRUCTURALLY
    // (the q22-fixture pattern): DuckDB cannot compute xxhash64, but the
    // verified output is hash-independent BY CONSTRUCTION. Recall: an
    // identical word MULTISET forces an identical signature (the fold is
    // order-free) → identical bands → the pair IS a candidate, whatever
    // the hash. Precision: the multiset-equality verify kills signature
    // collisions between different multisets (real: one 64-bit distance-0
    // collision observed at sf0.1; sign-agreement odds are short on a
    // ~30-word vocabulary) — exactly why production SimHash/LSH dedup
    // NEVER acts on candidates unverified. So the output is a pure
    // function of the corpus at any SF, the oracle pairs docs on equal
    // sorted word lists, and the full xxhash64 path (codegen'd
    // bit-counter fold → 16-bit banding → equi-join → exact Hamming)
    // must produce it. maxHamming pins to 0: on this vocabulary
    // unrelated docs land at Hamming 2–3 (probed), so distance 0 is the
    // structural set; Hamming ≤ 3 semantics stay oracle-covered by q23's
    // portable-hash full replay.
    "q136_simhash_prod" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = s.read.parquet(s"${q22FixturePath(s, dir)}/docs")
      val pairs = Dedup.simHashPairs(docs, maxHamming = 0, portableHash = false)
      val sorted = docs.select(col("doc_id"),
        sort_array(split(col("text"), " ")).as("__sw"))
      pairs
        .join(sorted.select(col("doc_id").as("doc1"), col("__sw").as("__w1")), "doc1")
        .join(sorted.select(col("doc_id").as("doc2"), col("__sw").as("__w2")), "doc2")
        .filter(col("__w1") === col("__w2"))
        .select("doc1", "doc2", "hamming")
    }),

    // ---- training-data pipeline: data selection ---------------------------

    // DSIR importance weights toward the English slice: hashed-unigram
    // target/source log-ratio per doc — the importance-resampling scorer
    // (both bucket histograms reduce to ≤ 512 broadcast rows)
    "q137_dsir_weights" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      operators.Selection.dsirWeights(
        Tables.documents(s, dir), col("lang") === "en")
    }),

    // CCNet head/middle/tail: per-language LM-score terciles as an exact
    // DISTRIBUTED ntile (histogram offsets + per-bucket local ranks — no
    // per-language single-reducer window); oracle replays with DuckDB's
    // own ntile over the q60 chain
    "q138_perplexity_tiles" -> ((s, dir) =>
      operators.Selection.perplexityTiles(Tables.documents(s, dir))),

    // SOFT dedup: reweight duplicates (10⁶ div group size) instead of
    // dropping — row count preserved, weights integer-exact; on the
    // derived duplicated fixture groups of size 1/2/3 all occur
    "q139_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(dupDocuments(s, dir))),

    // anchor-text aggregation over the q113 linked-page fixture: dominant
    // in-link phrase per normalized target URL (argmax aggregate, the
    // q132 shape — no per-URL window); case-variant hrefs must pool
    "q140_anchor_text" -> ((s, dir) =>
      operators.LinkGraph.anchorSignals(linkedHtmlDocuments(s, dir))),

    // cross-source vocabulary overlap: exact pairwise Jaccard of
    // distinct-word sets in integer micro-units — the corpus-composition
    // report beside q122's snapshot diff
    "q141_source_overlap" -> ((s, dir) =>
      operators.TextAnalysis.sourceOverlap(Tables.documents(s, dir))),

    // the DSIR pipeline END TO END (score → resample): importance weights
    // feed the q118 bucketed token-budget selection — "the most
    // target-like documents until 10k words", no global window
    "q142_dsir_selection" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val w = operators.Selection.dsirWeights(
          Tables.documents(s, dir), col("lang") === "en")
        .select("doc_id", "log_weight", "n_words")
      operators.Sampling.tokenBudget(w, budget = 10000L,
        scoreCol = "log_weight", weightCol = "n_words", buckets = 16)
    }),

    // cross-source duplicate matrix (mirror detection): shared distinct
    // texts + induced duplicate pairs per source pair, from per-(hash,
    // source) counts — the mirrored fixture plants two overlapping
    // re-hosted slices
    "q143_mirror_matrix" -> ((s, dir) =>
      Dedup.crossSourceDupMatrix(mirrorDocuments(s, dir))),

    // margin-based bitext mining (LASER/CCMatrix ratio margin, "max"
    // strategy): best de pair per en vector where margin ≥ 1.05 —
    // hubness-normalized, integer-exact micro-unit margin
    "q144_bitext_mine" -> ((s, dir) =>
      Similarity.bitextMine(Tables.embeddings(s, dir),
        Tables.documents(s, dir).select("doc_id", "lang"),
        srcLang = "en", tgtLang = "de", k = 4, minMarginE6 = 1050000L)),

    // Shannon entropy signals (Dolma-family gibberish/template detector):
    // char + word-unigram entropy, computed entirely in-row (sorted-run
    // fold, zero shuffle)
    "q145_entropy_stats" -> ((s, dir) =>
      TextAnalysis.entropyStats(Tables.documents(s, dir))),

    // SPDX/phrase license gate over the derived code fixture (The Stack's
    // legal front door): tag wins, phrase fallback in priority order,
    // permissive-set verdict — pure shuffle-free projection
    "q146_license_detect" -> ((s, dir) =>
      operators.CodeAnalysis.detectLicense(codeDocuments(s, dir))),

    // code-vs-prose modality score: integer-micro symbol density +
    // indent/line-end fractions, in-row and shuffle-free; the planted
    // %7 snippet docs flag is_code, the prose corpus does not
    "q147_code_score" -> ((s, dir) =>
      operators.CodeAnalysis.codeScore(codeDocuments(s, dir))),

    // content-defined chunking at word granularity (LBFS/restic family)
    // over the duplicated fixture: md5-bucket boundaries, in-row linear
    // fold, one row per chunk — planted full-doc duplicates share every
    // chunk hash, the substrate for storage-level dedup
    "q148_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunks(dupDocuments(s, dir), divisor = 16)),

    // perceptual image dedup over REAL pixels: render the deterministic
    // test-pattern corpus (equal param ⇒ same PICTURE; the odd half at 2×
    // pixel replication, so duplicates differ in bytes AND resolution),
    // decode with the JDK codecs, dHash, banded Hamming join. The oracle
    // never sees pixels — it pairs docs on the render parameter, exactly
    // the Hamming-0 set the scale-invariant hash must recover (q136's
    // structural-replay pattern)
    "q149_image_phash_dedup" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.dHashDupPairs(imageRecords(s, dir), maxHamming = 0)
    }),

    // the documents table through a REAL Avro object-container round
    // trip (avro-core on the classpath; no spark-avro connector): write
    // with the deflate codec, read a file per task, run q29's verified
    // counter — q29's oracle gates it, so the container provably loses
    // nothing (the q104 WARC posture for Avro)
    "q184_avro_roundtrip" -> ((s, dir) =>
      TextAnalysis.tokenCounts(graft.sources.Avro.read(s,
        q184AvroPath(s, dir), Tables.documents(s, dir).schema))),

    // the STREAMING incremental dedup, run for real (file stream →
    // dropDuplicatesWithinWatermark state → stream-static corpus
    // anti-join → parquet file sink, Trigger.AvailableNow) over q67's
    // batch staged in deterministic micro-batch order — the sink must
    // pass the BATCH operator's oracle, so stream ≡ batch ≡ oracle and
    // the streaming family graduates from batch-parity unit pins to
    // oracle-grade evidence (see q185StreamPath for the protocol)
    "q185_streaming_dedup" -> ((s, dir) =>
      s.read.parquet(s"${q185StreamPath(s, dir)}/out")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))),

    // the STREAMING fetch schedule, run for real (file stream →
    // per-domain sequence counters in keyed state → parquet file sink,
    // Trigger.AvailableNow) over q124's allowed URLs staged as three
    // mtime-ordered micro-batches — the second streaming operator under
    // a full DuckDB oracle, and this one's oracle replays CROSS-BATCH
    // STATE: each stage's per-domain sequences continue from the
    // domain's cumulative count over earlier stages (see q197StreamPath)
    "q197_streaming_fetch" -> ((s, dir) =>
      s.read.parquet(s"${q197StreamPath(s, dir)}/out")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("domain"),
          org.apache.spark.sql.functions.col("seq"),
          org.apache.spark.sql.functions.col("fetch_at"))),

    // the STREAMING MinHash candidate generator, run for real (file
    // stream → per-(band, bucket) keyed state → parquet file sink of
    // candidate pairs, Trigger.AvailableNow) over q53's derived fixture
    // staged so every planted duplicate pair SPANS micro-batches — pairs
    // exist in the sink only because the band-bucket state remembers
    // earlier batches. The sink's pairs (distinct across bands — a pair
    // agreeing on several bands is emitted once per band bucket) run
    // through the same exact-Jaccard verifier, and q53's oracle gates
    // the result: streaming-state candidates ≡ batch LSH candidates
    "q199_streaming_minhash" -> ((s, dir) => {
      val pairs = s.read.parquet(s"${q199StreamPath(s, dir)}/out")
        .select(org.apache.spark.sql.functions.col("doc1"),
          org.apache.spark.sql.functions.col("doc2"))
        .distinct()
      Dedup.jaccardVerify(derivedDocuments(s, dir), pairs, n = 3, threshold = 0.9)
    }),

    // the STREAMING chat renderer, run for real (file stream →
    // session_window keyed state → parquet file sink, append mode,
    // Trigger.AvailableNow) over the raw events staged by event_id % 3 —
    // every session's turns SCATTER across micro-batches, so each
    // transcript exists only because session state merged across
    // batches (see q200StreamPath for the watermark/sentinel emission
    // mechanics). session_id is the per-user rank of the emitted
    // window's start — the q33 rule's 1-based session counter — which
    // lets the sink earn q190's batch oracle verbatim (stream ≡ batch ≡
    // oracle, the fourth oracle-grade streaming operator)
    "q200_streaming_chat" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sess_start")
      s.read.parquet(s"${q200StreamPath(s, dir)}/out")
        .withColumn("session_id", row_number().over(byUser).cast("int"))
        .select(col("user_id"), col("session_id"), col("n_turns"),
          col("transcript"), col("n_chars"), col("fits_context"))
    }),

    // the STREAMING URL dedup, run for real (file stream → NormalizeUrl
    // → dropDuplicatesWithinWatermark keyed state → parquet file sink,
    // Trigger.AvailableNow) over the q94 fixture staged as arrival
    // waves: wave 0 = each canonical group's min doc_id (one row per
    // normalized URL), later waves = the duplicates — so every drop is
    // a cross-batch state decision (see q201StreamPath). The sink's
    // kept rows carry the decision; the group sizes are a batch-side
    // decoration (the q199 verify posture), and q94's oracle gates the
    // whole row set: one row per normalized URL, keep_id = the group
    // min, n_dups = the group size — stream ≡ batch ≡ oracle on the
    // shared NormalizeUrl chain
    "q201_streaming_url_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val kept = s.read.parquet(s"${q201StreamPath(s, dir)}/out")
        .select(col("norm_url"), col("doc_id").as("keep_id"))
      val sizes = operators.UrlOps.withNormalizedUrl(urlDocuments(s, dir))
        .groupBy("norm_url").agg(count(lit(1)).as("n_dups"))
      kept.join(sizes, Seq("norm_url"))
        .select("norm_url", "keep_id", "n_dups")
    }),

    // the STREAMING ordered funnel, run for real (file stream →
    // per-user buffering state → evaluate-at-eviction → parquet file
    // sink, Trigger.AvailableNow) over the raw events staged by
    // event_id % 3 — every user's burst arrives scattered and
    // time-disordered across micro-batches, so the reach times are
    // right only because the state buffered the whole burst and
    // evaluated once at watermark eviction (see q202StreamPath for the
    // sentinel emission mechanics). The sink earns q81's batch oracle
    // verbatim — stream ≡ batch ≡ oracle, reach times in µs
    "q202_streaming_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(s"${q202StreamPath(s, dir)}/out")
        .select(col("user_id"),
          element_at(col("reach_us"), 1).as("t1"),
          element_at(col("reach_us"), 2).as("t2"),
          element_at(col("reach_us"), 3).as("t3"),
          col("funnel_stage"))
    }),

    // the STREAMING exact dedup, run for real (file stream → content
    // hash → dropDuplicatesWithinWatermark keyed state → parquet file
    // sink, Trigger.AvailableNow) over q53's derived exact-copy fixture
    // staged as arrival waves: wave 0 = the base docs (one row per
    // distinct hash), wave 1 = the planted copies — every drop is a
    // cross-batch state decision (see q203StreamPath). The kept docs
    // joined to batch group sizes earn q20's oracle shape over the same
    // derivation — stream ≡ batch ≡ oracle on the md5 content hash
    "q203_streaming_exact_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val kept = s.read.parquet(s"${q203StreamPath(s, dir)}/out")
        .select(col("content_hash"), col("doc_id").as("keep_id"))
      val sizes = derivedDocuments(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_dups"))
      kept.join(sizes, Seq("content_hash"))
        .select("content_hash", "keep_id", "n_dups")
    }),

    // the STREAMING crawl-trap census, run for real (file stream →
    // digit-masked template keyed state → alert-at-crossing → parquet
    // file sink, Trigger.AvailableNow) over q151's trap fixture staged
    // as distinct-URL waves: each wave grows a template's census by at
    // most one, so a trap fires exactly at its threshold-th wave with
    // n_urls exactly 5, duplicates never inflate the census, and the
    // final wave proves fire-once (see q204StreamPath). The oracle
    // states the firing set from the fixture construction
    "q204_streaming_trap_census" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(s"${q204StreamPath(s, dir)}/out")
        .select(col("template"), col("n_urls"))
    }),

    // the STREAMING online first-fit packer, run for real (file stream
    // → per-shard open-bin keyed state → immediate assignment emission
    // → parquet file sink, Trigger.AvailableNow) over the documents
    // staged by doc_id % 3. The oracle replays GLOBAL first-fit over
    // the stream's exact (batch, doc_id) processing order with the
    // q173 recursive-CTE machinery — every cross-batch bin hit and
    // every bin number after it depends on the open-bin state having
    // persisted, so a state loss hash-mismatches (see q205StreamPath;
    // the close-fullest cap is sized to provably never fire and stays
    // unit-pinned)
    "q205_streaming_pack" -> ((s, dir) =>
      s.read.parquet(s"${q205StreamPath(s, dir)}/out")
        .select("doc_id", "shard", "n_tokens", "local_bin", "bin_id")),

    // the STREAMING threshold alerter, oracle-gated: per-user running
    // totals in keyed state fire ONCE at the first crossing; waves
    // stage one event per user per micro-batch so arrival order is the
    // (µs, event_id) rank order the oracle replays (see q209StreamPath;
    // values ride as exact integer-valued µ-doubles so the running sum
    // is bit-exact against the oracle's BIGINT fold)
    "q209_streaming_threshold_alerts" -> ((s, dir) =>
      s.read.parquet(s"${q209StreamPath(s, dir)}/out")
        .select("user_id", "total", "n_events")),

    // the EVICTION arm of the streaming packer, oracle-gated: a tiny
    // cap (2 open bins, 128-token bins, one shard) over 40 real docs
    // makes close-fullest fire ~20 times, and the CTE oracle simulates
    // the cap exactly (see q206StreamPath — the fixture also proves the
    // cap BOUND by requiring divergence from uncapped first-fit)
    "q206_streaming_pack_evict" -> ((s, dir) =>
      s.read.parquet(s"${q206StreamPath(s, dir)}/out")
        .select("doc_id", "shard", "n_tokens", "local_bin", "bin_id")),

    // CHECKPOINT RECOVERY, oracle-gated: q205's packer STOPPED after
    // micro-batch 0 and RESTARTED against the same checkpoint for
    // batches 1-2 (see q207StreamPath). The combined sink passes q205's
    // recursive-CTE oracle only if the open-bin state recovered exactly
    // (bin numbering replays the whole arrival history) AND the file
    // sink stayed exactly-once across the stop/start
    "q207_streaming_pack_restart" -> ((s, dir) =>
      s.read.parquet(s"${q207StreamPath(s, dir)}/out")
        .select("doc_id", "shard", "n_tokens", "local_bin", "bin_id")),

    // CHECKPOINT RECOVERY of the family's largest keyed state: q199's
    // band-bucket MinHash candidates with the stream stopped after
    // batch 0 and restarted for batches 1-2 (see q208StreamPath) —
    // every planted pair spans the restart, so the q53-shared oracle
    // passes only if the per-(band, bucket) doc-id arrays survived the
    // stop/start
    "q208_streaming_minhash_restart" -> ((s, dir) => {
      val pairs = s.read.parquet(s"${q208StreamPath(s, dir)}/out")
        .select(org.apache.spark.sql.functions.col("doc1"),
          org.apache.spark.sql.functions.col("doc2"))
        .distinct()
      Dedup.jaccardVerify(derivedDocuments(s, dir), pairs, n = 3, threshold = 0.9)
    }),

    // CHECKPOINT RECOVERY of session_window MERGE state: q200's chat
    // renderer stopped after micro-batch 0 — with every session still
    // OPEN — and restarted for batches 1-2 + sentinels against the same
    // checkpoint (see q210StreamPath). Nearly every session spans the
    // split, so each transcript is complete only if run-1 window state
    // recovered and merged with run-2 turns; q190's oracle verbatim
    "q210_streaming_chat_restart" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sess_start")
      s.read.parquet(s"${q210StreamPath(s, dir)}/out")
        .withColumn("session_id", row_number().over(byUser).cast("int"))
        .select(col("user_id"), col("session_id"), col("n_turns"),
          col("transcript"), col("n_chars"), col("fits_context"))
    }),

    // CHECKPOINT RECOVERY of funnel TIMERS: q202's funnel restarted
    // mid-corpus with every fifth user's whole burst in run 1 — those
    // users get no run-2 data, so they reach the sink only if their
    // timeout timestamp and buffered events survived the stop/start
    // (see q211StreamPath). q81's oracle verbatim; a lost timer means a
    // missing user and a row-count mismatch
    "q211_streaming_funnel_restart" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(s"${q211StreamPath(s, dir)}/out")
        .select(col("user_id"),
          element_at(col("reach_us"), 1).as("t1"),
          element_at(col("reach_us"), 2).as("t2"),
          element_at(col("reach_us"), 3).as("t3"),
          col("funnel_stage"))
    }),

    // STREAM-STREAM interval join, run for real (one file stream
    // self-joined: views LEFT-joined to same-user clicks within 30 min,
    // both sides watermarked, append mode) over the events staged by
    // event_id % 3 — most pairs span micro-batches, so matches exist
    // only because both sides' join buffers persisted, and the ~99%
    // unmatched views null-emit only at the sentinel-advanced watermark
    // (see q212StreamPath). The DuckDB left join replays it exactly
    "q212_streaming_click_attribution" -> ((s, dir) =>
      s.read.parquet(s"${q212StreamPath(s, dir)}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // CHECKPOINT RECOVERY of stream-stream JOIN buffers — the fifth
    // restart-proven state kind: q212's join stopped after batch 0 with
    // everything buffered and nothing emitted, restarted for batches
    // 1-2 + sentinels (see q213StreamPath). Cross-restart pairs gate
    // both sides' buffer recovery; the null-emission arm gates the
    // recovered bookkeeping; q212's oracle verbatim
    "q213_streaming_join_restart" -> ((s, dir) =>
      s.read.parquet(s"${q213StreamPath(s, dir)}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // WATERMARK LATE-DATA DROP for the stream-stream JOIN: the odd half
    // of the corpus re-delivers months late after the sentinels settled
    // every on-time row and evicted both sides' buffers — all of it
    // must vanish from join consideration (no resurrected pairs, no
    // spurious null rows from wrongly-admitted late views; trailing
    // batches flush any such row into the sink — see q218StreamPath).
    // The oracle is the batch left join over ONLY the on-time halves
    "q218_streaming_join_late_drop" -> ((s, dir) =>
      s.read.parquet(s"${q218StreamPath(s, dir)}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // RIGHT-OUTER stream-stream join: the null-emission bookkeeping
    // flips sides — unmatched CLICKS null-emit once the watermark
    // passes their match horizon (click_ts: no earlier-or-equal view
    // can still arrive), unmatched views emit nothing. Same staging,
    // operator, and sentinel mechanics as q212; the DuckDB RIGHT JOIN
    // replays it exactly
    "q219_streaming_join_right_outer" -> ((s, dir) =>
      s.read.parquet(s"${attributionJoinFixture("q219", s, dir, "right_outer")}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // FULL-OUTER stream-stream join: BOTH null-emission arms at once —
    // unmatched views null-emit at view_ts + window, unmatched clicks
    // at click_ts, each gated by its own side's state bookkeeping
    // under the shared min-watermark. The DuckDB FULL JOIN replays it
    "q220_streaming_join_full_outer" -> ((s, dir) =>
      s.read.parquet(s"${attributionJoinFixture("q220", s, dir, "full_outer")}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // FULL-OUTER restart twin: q220's join stopped after batch 0 (all
    // buffers loaded, nothing emitted) and resumed — cross-restart
    // pairs gate BOTH recovered buffers, and every permanently
    // unmatched run-1 row must null-emit from recovered state on its
    // own side's arm (see q250StreamPath). q220's oracle verbatim
    "q250_streaming_full_outer_restart" -> ((s, dir) =>
      s.read.parquet(s"${q250StreamPath(s, dir)}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // RIGHT-OUTER restart twin: q219's join stopped after batch 0 and
    // resumed — the null arm lives on the CLICKS side, so every
    // permanently-unmatched run-1 click must null-emit from RECOVERED
    // click-side state (see q255StreamPath). q219's oracle verbatim
    "q255_streaming_right_outer_restart" -> ((s, dir) =>
      s.read.parquet(s"${q255StreamPath(s, dir)}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // LEFT-SEMI restart twin: q221's join stopped after batch 0 and
    // resumed — emit-once bookkeeping across the restart: a run-1 view
    // first matched by a run-2 click emits exactly once, a run-1 match
    // must not re-emit on a second click (see q256StreamPath). q221's
    // EXISTS oracle verbatim
    "q256_streaming_semi_restart" -> ((s, dir) =>
      s.read.parquet(s"${q256StreamPath(s, dir)}/out")
        .select("view_id", "user_id", "view_us")),

    // LEFT-SEMI stream-stream join: attribution as a FILTER — a view
    // emits exactly once at its first in-window click (a multi-click
    // view must not multiply), never null-emits, and a click-less view
    // never appears. The DuckDB EXISTS replays the dedup contract
    "q221_streaming_join_semi" -> ((s, dir) =>
      s.read.parquet(s"${attributionJoinFixture("q221", s, dir, "left_semi")}/out")
        .select("view_id", "user_id", "view_us")),

    // STREAMING IVF APPEND: the held-out embedding quarter arrived as
    // three foreachBatch waves, each folded against the frozen
    // centroids (see q222StoresPath) — probing all cells must STILL
    // equal brute force over the whole corpus (q110's oracle verbatim:
    // append ≡ rebuild, now across micro-batch arrival)
    "q222_streaming_ivf_append" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.ivfTopKFromIndex(s, s"${q222StoresPath(s, dir)}/ivf",
        Tables.embeddings(s, dir).filter(col("vec_id") < 10), k = 5, nProbe = 16)
    }),

    // STREAMING INVERTED-INDEX APPEND: the held-out corpus quarter
    // arrived as three foreachBatch waves, each appended into the
    // postings/manifest layout — probing must equal the FULL-corpus
    // BM25 (q121's oracle verbatim)
    "q223_streaming_bm25_append" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, s"${q222StoresPath(s, dir)}/inv", bm25Terms)),

    // STREAMING BLOOM-GATED INGEST: q67's duplicate-heavy batch arrived
    // as the q185 waves, each gated against corpus ∪ already-accepted
    // survivors — the front gate whose reference grows with ingest;
    // the sink equals the batch gate's output (q67's oracle verbatim)
    "q224_streaming_bloom_ingest" -> ((s, dir) =>
      s.read.parquet(s"${q222StoresPath(s, dir)}/survivors")
        .select("doc_id", "text")),

    // WINDOWED serving table: q214's upsert pattern re-keyed by
    // (user, day window) — the bounded-state keying for churning user
    // populations, merged on a composite serving_key through the
    // bucketed sink; the view must equal the batch (window, user)
    // GROUP BY (see q225StreamPath)
    "q225_streaming_windowed_serving" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q225StreamPath(s, dir)}/serving").get
        .select("win_start_us", "user_id", "n_events", "last_us")),

    // INNER stream-stream join — the matrix's remaining side: matched
    // pairs only, emitted as they form (no null-emission arm at all,
    // so the watermark's only job is state cleanup). Same staging and
    // operator; the DuckDB INNER JOIN replays it
    "q226_streaming_join_inner" -> ((s, dir) =>
      s.read.parquet(s"${attributionJoinFixture("q226", s, dir, "inner")}/out")
        .select("view_id", "user_id", "view_us", "click_id", "click_us")),

    // SERVING-TABLE COMPACTION: q214's stream run to completion, then
    // the versioned snapshot chain vacuumed to ONE full version (see
    // q227StreamPath) — the compacted view must still equal the batch
    // GROUP BY, q214's oracle verbatim
    "q227_streaming_serving_compact" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q227StreamPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us")),

    // SERVING-TABLE RETENTION: q225's windowed view with windows before
    // Jan 16 EXPIRED — deleted from the table, not just state-evicted
    // (see q231StreamPath); oracle = the batch GROUP BY over kept
    // windows only
    "q231_streaming_serving_expire" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q231StreamPath(s, dir)}/serving").get
        .select("win_start_us", "user_id", "n_events", "last_us")),

    // SERVING-TABLE VACUUM: the chain reclaimed to a two-version
    // time-travel window (manifests below it deleted, donor data kept
    // — see q246StreamPath); the current view must be UNAFFECTED,
    // q214's oracle verbatim
    "q246_serving_vacuum" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q246StreamPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us")),

    // FORGET-EVERYWHERE CAPSTONE: one deletion-request set applied to
    // all three index layouts (see q253StoresPath), then the per-doc
    // consistency matrix read back from the physical artifacts — a
    // retracted doc present in ANY store's data files, or a survivor
    // missing from any, flips a boolean and hash-mismatches
    "q253_forget_everywhere" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val stores = q253StoresPath(s, dir)
      val docs = Tables.documents(s, dir).select("doc_id")
      def presence(df: DataFrame, name: String): DataFrame =
        df.distinct().withColumn(name, lit(true))
      docs
        .join(presence(s.read.parquet(s"$stores/inv/postings")
          .select("doc_id"), "in_postings"), Seq("doc_id"), "left")
        .join(presence(s.read.parquet(s"$stores/ivf/cells")
          .select(col("vec_id").as("doc_id")), "in_ivf"), Seq("doc_id"), "left")
        .join(presence(s.read.parquet(s"$stores/mh/grams")
          .select("doc_id"), "in_minhash"), Seq("doc_id"), "left")
        // a doc with no embedding has nothing to forget in the ANN
        // store — its in_ivf is NULL, not false (at sf0.1 the
        // embedding table covers a subset of the corpus)
        .join(presence(Tables.embeddings(s, dir)
          .select(col("vec_id").as("doc_id")), "__has_vec"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("in_postings"), lit(false)).as("in_postings"),
          when(col("__has_vec"), coalesce(col("in_ivf"), lit(false)))
            .as("in_ivf"),
          coalesce(col("in_minhash"), lit(false)).as("in_minhash"))
    }),

    // CHANGEFEED APPLY: materialize a downstream REPLICA from the
    // delete-capable changefeed ALONE — per key, the last change row
    // in version order wins, and a last-op delete means absent. The
    // replica must equal the serving view (q248's oracle verbatim):
    // this is the consumer-side proof the insert/update/delete op set
    // is COMPLETE (before r18, a deleted key could never leave a
    // replica — the op didn't exist)
    "q254_changefeed_apply" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val feed = streaming.StreamingWindows.servingChangefeed(s,
        s"${q248StreamPath(s, dir)}/serving").get
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("version").desc)
      feed.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("op") =!= "delete")
        .select("user_id", "n_events", "last_us")
    }),

    // SERVING-TABLE TOMBSTONE DELETES: the upsert chain + a tombstone
    // batch removing every % 7 == 3 user + a re-ingest of the % 14 == 3
    // half (see q248StreamPath). The current view must equal the batch
    // GROUP BY excluding the still-deleted keys: a tombstone that
    // leaks its marker column, misses a bucket, or strands a dangling
    // manifest entry for an emptied bucket all fail here
    "q248_serving_tombstone_delete" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q248StreamPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us")),

    // CHANGEFEED WITH DELETES: q233's per-version diff rows extended by
    // the two delete arms — op='delete' rows carrying the PRE-IMAGE at
    // the tombstone version (from the full-outer diff, or the
    // emptied-bucket arm when the whole bucket left the manifest), and
    // the deleted-then-reinserted users reading delete → insert
    "q249_serving_delete_changefeed" -> ((s, dir) =>
      streaming.StreamingWindows.servingChangefeed(s,
        s"${q248StreamPath(s, dir)}/serving").get
        .select("version", "op", "user_id", "n_events", "last_us")),

    // SERVING-TABLE SCHEMA EVOLUTION: the third upsert batch ADDS
    // n_clicks (see q260ServingPath) — the current view must read
    // even users' recomputed rows with the new column and odd users'
    // CARRIED pre-change rows with n_clicks NULL; a merge that dropped
    // carried rows, nulled the wrong side, or leaked the old shape
    // into the snapshot schema all fail here
    "q260_serving_schema_evolution" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q260ServingPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us", "n_clicks")),

    // CHANGEFEED ACROSS A SCHEMA CHANGE: v0/v1 rows NULL-fill the
    // added column, v2 diffs against the prior ALIGNED to the new
    // schema — every even user emits at v2 (NULL→n_clicks is an
    // update under the null-safe compare; first appearance is an
    // insert), odd carried rows emit NOTHING
    "q261_evolution_changefeed" -> ((s, dir) =>
      streaming.StreamingWindows.servingChangefeed(s,
        s"${q260ServingPath(s, dir)}/serving").get
        .select("version", "op", "user_id", "n_events", "last_us",
          "n_clicks")),

    // SERVING-TABLE COLUMN RENAME: v2 declares last_us -> last_seen_us
    // and recomputes only the EVEN users (see q262ServingPath) — the
    // snapshot must read odd users' CARRIED pre-rename rows under the
    // new name via the ledger projection (no rewrite), even users'
    // recomputed values directly; a reader that dropped the column,
    // double-exposed both names, or lost carried rows all fail here
    "q262_serving_rename" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q262ServingPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_seen_us")),

    // COMPACTION x EVOLUTION: q260's evolved chain compacted to ONE
    // version (see q263ServingPath) — the rewrite reads through the
    // aligned snapshot, so it must emit the newest schema with odd
    // users' n_clicks NULL-backfilled AT REST; q260's oracle verbatim
    "q263_evolution_compacted" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q263ServingPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us", "n_clicks")),

    // FORCED foreachBatch REPLAY across a restart: batch 0's commit
    // record deleted after run 1, so run 2 re-delivers it (the
    // at-least-once window the upsert's idempotence exists for) before
    // folding the remaining waves (see q264StreamPath) — q214's oracle
    // verbatim
    "q264_streaming_upsert_replay" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q264StreamPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us")),

    // SERVING-TABLE TIME TRAVEL: q214's versioned chain read AS OF
    // version 1 — the view after batches 0–1 only, resolved through
    // v1's manifest (which still points untouched buckets at v0). The
    // oracle is the batch GROUP BY over the first two waves: a reader
    // that resolves the wrong manifest, leaks v2 rows, or loses v0
    // carry-forwards all hash-mismatch
    "q232_serving_time_travel" -> ((s, dir) =>
      streaming.StreamingWindows.readServingAsOf(s,
        s"${q214StreamPath(s, dir)}/serving", version = 1L).get
        .select("user_id", "n_events", "last_us")),

    // SERVING-TABLE CHANGEFEED: the per-version (insert | update)
    // change rows the versioned layout records for free — a table
    // format's CDF read on plain parquet. Reads ONLY each version's
    // owned buckets + their prior dirs; carried-forward rows that
    // merely share a bucket with a changed key must emit NOTHING (the
    // value-diff arm), first-appearance users must emit insert at
    // their first wave. Oracle: per-wave cumulative GROUP BY diffs
    "q233_serving_changefeed" -> ((s, dir) =>
      streaming.StreamingWindows.servingChangefeed(s,
        s"${q214StreamPath(s, dir)}/serving").get
        .select("version", "op", "user_id", "n_events", "last_us")),

    // SCHEMA EVOLUTION: three parquet eras of one table (renamed column,
    // added-then-widened value, added src) read as ONE frame under the
    // current schema — rename map applied, history NULL-backfilled,
    // float widened to double (see q239GensPath). The oracle replays
    // each era's projection from the events table
    "q239_schema_evolution" -> ((s, dir) => {
      val p = q239GensPath(s, dir)
      sources.Evolution.readEvolved(s, Seq(
        s"$p/gen0" -> Map("etype" -> "event_type"),
        s"$p/gen1" -> Map.empty[String, String],
        s"$p/gen2" -> Map.empty[String, String]))
    }),

    // BINARY (1-bit) QUANTIZED top-k: sign bits packed 32-per-word,
    // Hamming (xor + popcount) shortlists 20 candidates per query, exact
    // cosine reranks — the bits-in-memory / floats-on-shortlist serving
    // split. Sign-bit Hamming replays as per-dim sign disagreement, so
    // the whole two-stage ranking is oracle-exact
    "q240_binary_topk" -> ((s, dir) =>
      Similarity.binaryTopK(Tables.embeddings(s, dir), 0L until 10L,
        k = 5, rerank = 20)),

    // PERSISTED MERGEABLE DISTINCT-COUNT SKETCHES: per-wave HLL shard
    // artifacts unioned to answer per-type uniques WITHOUT rescanning
    // profiled data (see q234ShardsPath) — q42's sketch contract moved
    // to the persisted, appendable form the index artifacts use. The
    // exact counts ride along; union-vs-rebuild equality and the ±5%
    // bound reduce to oracle-comparable booleans. Resolved through the
    // live-set MANIFEST (r20), not a dir listing
    "q234_sketch_shards" -> ((s, dir) =>
      operators.Sketches.distinctShardsChecked(s,
        operators.Sketches.shardPaths(q234ShardsPath(s, dir)),
        Tables.events(s, dir), groupCol = "event_type",
        distinctCol = "user_id")),

    // PERSISTED MERGEABLE QUANTILE SKETCHES: per-wave KLL shard
    // artifacts unioned to answer per-type p50/p95 WITHOUT rescanning
    // profiled data (see q251ShardsPath) — q234's sketch posture for
    // percentiles. Exact percentiles ride along; union-N ≡ rebuild-N ≡
    // exact count and the ±4-rank-point bands (both the union and the
    // one-pass rebuild) reduce to oracle-comparable booleans
    "q251_quantile_shards" -> ((s, dir) =>
      operators.Sketches.quantileShardsChecked(s,
        operators.Sketches.shardPaths(q251ShardsPath(s, dir)),
        Tables.events(s, dir), groupCol = "event_type",
        valueCol = "value")),

    // STREAM-MAINTAINED quantile shards: q251's KLL artifacts written
    // by a foreachBatch stream, one shard per arrival wave (see
    // q252StoresPath) — the accumulated artifacts answer q251's full
    // contract (union N ≡ rebuild N ≡ exact count, both paths in the
    // exact rank band), q251's oracle verbatim
    "q252_streaming_quantile_shards" -> ((s, dir) =>
      operators.Sketches.quantileShardsChecked(s,
        shardPathsUnder(q252StoresPath(s, dir)),
        Tables.events(s, dir), groupCol = "event_type",
        valueCol = "value")),

    // SHARD COMPACTION (HLL): the three wave artifacts collapsed into
    // ONE at the max id under the maintenance lease (see
    // q258ShardsPath) — retention for the artifact family; the
    // compacted shard answers q234's oracle verbatim (associative
    // register union), read through the same checked contract
    "q258_sketch_shards_compacted" -> ((s, dir) =>
      checkedShardsUnder(s, dir, q258ShardsPath(s, dir))),

    // SHARD COMPACTION (KLL): the quantile sibling (see q259ShardsPath)
    // — merge is exact in N, so the union-N pin is unchanged and
    // q251's oracle holds verbatim over the single compacted artifact
    "q259_quantile_shards_compacted" -> ((s, dir) =>
      operators.Sketches.quantileShardsChecked(s,
        shardPathsUnder(q259ShardsPath(s, dir)),
        Tables.events(s, dir), groupCol = "event_type",
        valueCol = "value")),

    // KLL ARTIFACT-STREAM RESTART: q252's stream stopped after wave 0
    // and resumed against the same checkpoint (see q257StoresPath) —
    // q242's restart proof for the percentile sibling; a re-delivered
    // or lost wave breaks the exact union-N pin. q251's oracle verbatim
    "q257_streaming_quantile_restart" -> ((s, dir) =>
      operators.Sketches.quantileShardsChecked(s,
        shardPathsUnder(q257StoresPath(s, dir)),
        Tables.events(s, dir), groupCol = "event_type",
        valueCol = "value")),

    // STREAM-MAINTAINED sketch shards: q234's artifacts written by a
    // foreachBatch stream, one shard per arrival wave (see
    // q241StoresPath) — the accumulated artifacts answer the same
    // union ≡ rebuild + exact-count contract, q234's oracle verbatim
    "q241_streaming_sketch_shards" -> ((s, dir) =>
      checkedShardsUnder(s, dir, q241StoresPath(s, dir))),

    // ARTIFACT-STREAM RESTART: q241's stream stopped after wave 0 and
    // resumed against the same checkpoint (see q242StoresPath) — the
    // file-sink-state analogue of the state-store restart fixtures;
    // q234's oracle verbatim (a re-delivered wave 0 inflates n_rows, a
    // lost wave starves the union)
    "q242_streaming_sketch_restart" -> ((s, dir) =>
      checkedShardsUnder(s, dir, q242StoresPath(s, dir))),

    // APPEND-STREAM RESTART: the ingest triple's anti-join idempotence
    // carried across a stop/start (see q247StorePath) — the resumed
    // stream folds exactly the unseen waves into the postings layout;
    // q121's full-corpus BM25 oracle verbatim
    "q247_streaming_append_restart" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, s"${q247StorePath(s, dir)}/inv",
        bm25Terms)),

    // UPDATE-mode streaming + foreachBatch UPSERT serving table: the
    // per-user running totals merge into a hash-bucketed versioned
    // snapshot (only key-touched buckets rewrite per batch — see
    // upsertBatch). The manifest-resolved CURRENT view must equal the
    // batch GROUP BY: stale-row replacement, cross-batch state
    // accumulation, and cross-version bucket resolution all gate it
    "q214_streaming_upsert_serving" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q214StreamPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us")),

    // CHECKPOINT RECOVERY of BUILT-IN streaming-aggregation state — the
    // sixth restart-proven state kind and the production-commonest:
    // q214's running totals stopped after batch 0 (snapshot v0 = partial
    // counts) and resumed against the same checkpoint (see
    // q215StreamPath). The final snapshot matches the batch GROUP BY
    // only if the agg state recovered — a reset would undercount every
    // user — and the upsert kept replacing across the restart
    "q215_streaming_upsert_restart" -> ((s, dir) =>
      streaming.StreamingWindows.readServingSnapshot(s,
        s"${q215StreamPath(s, dir)}/serving").get
        .select("user_id", "n_events", "last_us")),

    // STATE EVICTION at oracle grade: the horizon-bounded dedup must
    // FORGET — re-delivered texts after eviction are kept again, while
    // an in-horizon duplicate in the same batch still drops (see
    // q217StreamPath). The oracle states the whole sink from the
    // construction; a never-evicting engine fails the row count
    "q217_streaming_dedup_horizon" -> ((s, dir) =>
      s.read.parquet(s"${q217StreamPath(s, dir)}/out")
        .select("doc_id", "content_hash")),

    // WATERMARK LATE-DATA DROP at oracle grade: half the corpus arrives
    // months late into long-closed tumbling windows and must vanish —
    // no surviving late row, no double-emitted window, no
    // over-aggressive drop (see q216StreamPath). The oracle is the
    // batch GROUP BY over only the on-time half
    "q216_streaming_late_drop" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(s"${q216StreamPath(s, dir)}/out")
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // REAL RIFF/AVI container walk over the synthetic MJPEG corpus:
    // avih dimensions/stream count, the strh handler fourcc, and the
    // header frame claim CROSS-CHECKED against the actual movi chunk
    // count — the q175 container-triage posture for AVI, with the
    // oracle stating every field from the fixture's construction
    "q186_avi_meta" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.extractAviMeta(aviRecords(s, dir)).toDF()
    }),

    // keyframe perceptual VIDEO dedup — the pure-JDK frame-decode path
    // (MJPEG '00dc' chunks ARE JPEGs): every sampled frame decodes
    // through javax.imageio and dHashes; videos pair on identical
    // keyframe-hash sequences, so re-muxed copies (byte-unique
    // containers, equal footage) match while different footage never
    // does. Closes the r10 "video frame decode" gap for the one format
    // the JDK can decode; avc1/hevc stay the documented carve-out.
    "q187_video_keyframe_dedup" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.videoDupPairs(aviRecords(s, dir), stride = 2)
    }),

    // the unigram tokenizer from its PERSISTED artifact: the piece table
    // round-trips through parquet (the q119/q110 serving posture for
    // tokenizers) and the counts must be bit-identical to q171's — which
    // is why this query EARNS q171's oracle
    "q183_unigram_persisted" -> ((s, dir) => {
      val path = q183TokenizerPath(s, dir)
      operators.Unigram.tokenCounts(Tables.documents(s, dir),
        operators.Unigram.loadPieces(s, path))
    }),

    // ranked-list evaluation: recall@5 + reciprocal rank of the q162
    // matryoshka 8-dim prefix ranking against the q25 full-dim exact
    // reference — the ANN quality dial as a MEASURED query rather than a
    // buried unit assertion; all metric arithmetic integer micro-units
    "q182_ann_eval" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, dir)
      val approx = Similarity.matryoshkaTopK(emb, queryIds = (0L until 10L),
        k = 5, dims = 8)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rnk").as("rank"))
      val exact = Similarity.bruteForceTopK(emb, queryIds = (0L until 10L), k = 5)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rnk").as("rank"))
      Similarity.rankingMetrics(approx, exact)
    }),

    // multi-term QUERY-level BM25 (q74 ranks per single term; a real
    // query is a bag of terms): per-(term, doc) contributions integerize
    // before the per-(query, doc) LONG sum — no float-order hazard at
    // any query length; top-10 docs per query
    "q180_bm25_query" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      TextAnalysis.bm25QueryTopK(docs,
        docs.filter(col("doc_id") < 8)
          .select(col("doc_id").as("query_id"), col("text")))
    }),

    // the TRUE hybrid: reciprocal-rank fusion of q180's multi-term BM25
    // with q25's dense cosine ranks over the same 8 queries — q170's
    // fusion kernel with real BM25 on the lexical side
    "q181_hybrid_bm25_dense" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val lex = TextAnalysis.bm25QueryTopK(docs,
        docs.filter(col("doc_id") < 8)
          .select(col("doc_id").as("query_id"), col("text")))
        .select("query_id", "doc_id", "rank")
      val dense = Similarity.bruteForceTopK(Tables.embeddings(s, dir),
        queryIds = (0L until 8L), k = 10)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rnk").as("rank"))
      Similarity.rrfFuse(lex, dense, kRrf = 60, topK = 10)
    }),

    // within-doc line dedup (detect q176 → REMOVE): first occurrence of
    // each line survives in document order; in-row positional filter,
    // relationally replayed by the oracle (independent formulation)
    "q179_dedup_doc_lines" -> ((s, dir) =>
      TextAnalysis.dedupeLinesWithinDoc(repLinedDocuments(s, dir))),

    // multinomial Naive Bayes domain/language classifier (the model-based
    // labeling slot beside q28's rank-profile langID and q137's DSIR
    // log-ratio): trained on the %7!=0 split of the planted-phrase
    // fixture, scores integer micro-unit log-prob sums, argmax with name
    // ties — the oracle replays train AND inference
    "q178_nb_classifier" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val fx = langIdDocuments(s, dir).withColumn("label", element_at(
        array(langIdPhrases.map(p => lit(p._1)): _*),
        (col("doc_id") % 5).cast("int") + 1))
      operators.Selection.naiveBayesClassify(fx, "label", col("doc_id") % 7 === 0)
    }),

    // q88's packing layout budgeted in UNIGRAM-LM tokens: whichever
    // tokenizer a pipeline trains, packing budgets in the same tokens —
    // boundaries move where the two tokenizers' counts diverge
    "q177_pack_unigram" -> ((s, dir) =>
      operators.Unigram.packSequencesUnigram(Tables.documents(s, dir),
        unigramPieces, maxTokens = 256, shards = 8)),

    // packing budgeted in WORDPIECE tokens — the per-tokenizer packing
    // triple completed (q88 BPE, q177 unigram, this): [UNK] budgets as 1
    // token, exactly what a BERT-family model would consume; runs over
    // the accented fixture so UNK-budgeted docs are in the compared data
    "q195_pack_wordpiece" -> ((s, dir) =>
      operators.WordPiece.packSequencesWordPiece(accentedDocuments(s, dir),
        wordPieceVocab, maxTokens = 256, shards = 8)),

    // Gopher line-repetition signals (Rae §A1.1's line/paragraph half;
    // qualityRules carries the word half): duplicated-line occurrence and
    // character fractions from one in-row sorted-run fold; the oracle
    // recomputes INDEPENDENTLY via a per-line group-by — two different
    // algorithms, one answer
    "q176_line_repetition" -> ((s, dir) =>
      TextAnalysis.lineRepetitionSignals(repLinedDocuments(s, dir))),

    // MP4/ISO-BMFF container metadata over REAL synthesized containers:
    // brand, timescale-normalized duration, track handlers and codec 4ccs
    // from a pure-JDK box walk (both mvhd versions exercised); truncated
    // payloads quarantine (drop) — frame decode stays out of scope
    "q175_video_meta" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.extractMp4Meta(videoRecords(s, dir)).toDF()
    }),

    // continuous-ingest capstone: ONE batch through the bloom dedup gate,
    // then appended to the postings index, the IVF index, and the
    // incremental score table (the q114→q121→q110→q127 composition in
    // one arrival); the report reads all four PHYSICAL artifacts back —
    // a survivor lands everywhere with its exact term/word counts, a
    // dropped doc lands nowhere
    "q174_ingest_capstone" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val p = q174StoresPath(s, dir)
      val batch = incrementalBatch(s, dir).select("doc_id")
      val surv = s.read.parquet(s"$p/survivors")
        .select(col("doc_id"), lit(true).as("__s"))
      val post = s.read.parquet(s"$p/inv/postings")
        .filter(col("doc_id") >= 1000000L)
        .groupBy("doc_id").agg(count(lit(1)).as("__np"))
      val ivf = s.read.parquet(s"$p/ivf/cells")
        .filter(col("vec_id") >= 1000000L)
        .select(col("vec_id").as("doc_id"), lit(true).as("__iv"))
      val scores = s.read.parquet(s"$p/scores")
        .filter(col("doc_id") >= 1000000L)
        .select(col("doc_id"), col("n_words").as("__nw"))
      batch.join(surv, Seq("doc_id"), "left")
        .join(post, Seq("doc_id"), "left")
        .join(ivf, Seq("doc_id"), "left")
        .join(scores, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__s"), lit(false)).as("survived"),
          coalesce(col("__np"), lit(0L)).as("n_postings"),
          coalesce(col("__iv"), lit(false)).as("in_ivf"),
          col("__nw").as("scored_n_words"))
    }),

    // first-fit-decreasing bin packing (whole-doc sequences, the q57
    // splitter's no-cut sibling): per shard, docs sorted (tokens desc,
    // id) first-fit into capacity-256 bins; the oracle replays the fold
    // step by step in a recursive CTE — all integer state
    "q173_pack_ffd" -> ((s, dir) =>
      TextAnalysis.packFirstFitDecreasing(Tables.documents(s, dir),
        maxTokens = 256, shards = 8)),

    // hybrid retrieval: reciprocal-rank fusion of the q153 hashed-lexical
    // ranker (whole docs as single passages) with the q25 dense cosine
    // ranker over the SAME 8 queries — integer micro-unit contributions
    // 10^6 div (60 + rank), both upstream chains already oracle-replayable
    "q170_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") < 8)
        .select(col("doc_id").as("query_id"), col("text"))
      val lex = Similarity.hashedRetrievalTopK(
        docs.select(col("doc_id"), lit(0L).as("chunk_id"),
          col("text").as("chunk_text")),
        queries, buckets = 256, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(Tables.embeddings(s, dir),
        queryIds = (0L until 8L), k = 10)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rnk").as("rank"))
      Similarity.rrfFuse(lex, dense, kRrf = 60, topK = 10)
    }),

    // deflate compression-ratio gibberish signal on the planted
    // 3-class fixture: LZ77 catches the long-range template repetition
    // entropy can't see; verdicts are a pure function of the planted
    // class (probed band gaps >= 58k micro-units), the q136 structural
    // posture — exact ratios are unit-pinned on hand-built strings
    "q169_compression_ratio" -> ((s, dir) =>
      TextAnalysis.compressionRatio(deflateDocuments(s, dir))
        .select("doc_id", "n_bytes", "verdict")),

    // ---- SFT/instruction-data prep: conversations, masks, preferences ----
    // chat-template rendering: events thread into sessions (the q33 gap
    // rule), roles alternate user/assistant by turn parity, each session
    // renders to one <|role|>-templated transcript with the context-length
    // gate an SFT pipeline drops on; in-group array_sort makes the join
    // order bit-deterministic under any partitioning
    "q190_chat_render" -> ((s, dir) =>
      operators.Dialogue.renderConversations(Tables.events(s, dir))),

    // DPO preference-pair construction: per source, rank-k-best paired
    // with rank-k-worst by the q102 pinned-weights quality score, 2k <= n
    // keeps chosen/rejected disjoint; WindowGroupLimit prunes both rank
    // windows, counts join by broadcast — no cartesian anywhere
    "q191_preference_pairs" -> ((s, dir) =>
      operators.Dialogue.preferencePairs(
        TextAnalysis.qualityScore(Tables.documents(s, dir))
          .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id"))),

    // per-turn LOSS-MASK spans: character offsets [char_start, char_end)
    // of every turn in q190's transcript (separators accounted), loss on
    // assistant turns only — the standard SFT masking; pure integer
    // window arithmetic, substring-reassembly pinned in DialogueSpec
    "q192_loss_mask" -> ((s, dir) =>
      operators.Dialogue.lossMaskSpans(Tables.events(s, dir))),

    // TOKEN-aligned loss masks: q192's char spans lifted to WordPiece
    // token ranges under the pinned [[wordPieceVocab]] — what a trainer
    // masks is token positions; per-turn counts come from the q188
    // greedy walk over the turn text's letter runs (a letter run never
    // spans the \n separator, so per-turn tokenization concatenates to
    // the transcript's token stream), [tok_start, tok_end) by the same
    // per-session running-sum window as the char spans
    "q198_token_loss_mask" -> ((s, dir) =>
      operators.Dialogue.tokenLossMasks(Tables.events(s, dir), wordPieceVocab)),

    // few-shot (ICL) prompt assembly: the held-out query slice retrieves
    // its k most lexically similar pool docs (bucket equi-join with the
    // join strategy left to AQE — the query slice is corpus-proportional,
    // so no broadcast hint; WindowGroupLimit top-k — the q153 machinery)
    // and renders the Input:/Label: few-shot block, query last with a
    // blank label — exemplar selection by similarity, the standard ICL recipe
    "q196_fewshot_prompts" -> ((s, dir) =>
      operators.Dialogue.fewShotPrompts(fewshotDocuments(s, dir))),

    // exact conversation dedup, keep-first: identical transcripts collapse
    // to the (user, session)-smallest keeper with a dup count — the
    // dedup-your-SFT-set step; md5(transcript) is the fixed-width shuffle
    // key (the q20 posture)
    "q194_dedup_conversations" -> ((s, dir) =>
      operators.Dialogue.dedupConversations(Tables.events(s, dir))),

    // the SFT mini-capstone: render → exact-dedup → context gate → pack
    // survivors into 128-char budgets under the q57 packing contract
    // (sharded streams, running offsets, unique seq ids, straddle flag) —
    // one lazy plan across all three shuffles, each keyed by its grouping
    "q193_pack_conversations" -> ((s, dir) =>
      operators.Dialogue.packConversations(Tables.events(s, dir))),

    // retention cohorts: users cohort by first active day, cells count
    // who is still active at each day offset — groupBys only, no window
    "q168_retention_cohorts" -> ((s, dir) =>
      operators.Funnel.retentionCohorts(Tables.events(s, dir))),

    // per-user burst detection over the events table: a user-day with
    // >= 2x the user's own average AND >= 5 events flags — the
    // cross-multiplied integer form, no division anywhere
    "q167_event_bursts" -> ((s, dir) =>
      operators.Funnel.eventBursts(Tables.events(s, dir))),

    // exactly-103 held-out docs mirroring the corpus mix: Hamilton
    // largest-remainder apportionment (integer seat math, ties by name —
    // 103 forces fractional seats AND the tie path on this corpus's
    // uniform strata), md5-ranked picks within each stratum
    "q166_proportional_split" -> ((s, dir) =>
      operators.Sampling.proportionalSplit(Tables.documents(s, dir), k = 103L)
        .select("doc_id", "source")),

    // context-window planning: per-source cost of a 64-token hard cap —
    // docs that fit, tokens kept/lost, integer-micro loss (64 so the cap
    // BINDS on this corpus's ~55-word docs; 256 would be a no-op report)
    "q165_truncation_report" -> ((s, dir) =>
      TextAnalysis.truncationReport(Tables.documents(s, dir), maxTokens = 64)),

    // Zipf rank-frequency slope per source (ln f vs ln r least squares
    // over each source's top-64 words) — the broken-extractor tripwire
    // beside q145's entropy and q158's score drift
    "q164_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir))),

    // Luhn-verified card detection: 13-19-digit candidates through the
    // ISO 7812 mod-10 fold — the precision stage after q62's
    // recall-oriented regex redaction (~90% of random digit runs fail)
    "q163_luhn_pii" -> ((s, dir) =>
      TextAnalysis.luhnCardCandidates(cardDocuments(s, dir))),

    // matryoshka serving point: exact top-5 using only the first 8 of 64
    // embedding components — the sliced column flows through the verified
    // brute-force kernel, an 8× cheaper ranking whose agreement with the
    // full-dim answer is the caller's quality dial
    "q162_ann_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaTopK(Tables.embeddings(s, dir),
        queryIds = (0L until 10L), k = 5, dims = 8)),

    // sitemap TREE resolution: roots → <sitemapindex> children →
    // second-level index → leaf <urlset> pages, depth-bounded; missing
    // children and orphan files contribute nothing, page URLs dedup
    // across leaves
    "q161_sitemap_tree" -> ((s, dir) => {
      import s.implicits._
      operators.Frontier.resolveSitemapTree(
        sitemapTreeDocuments(s),
        Seq("http://www.example0.com/sitemap.xml",
          "http://www.example1.com/sitemap.xml").toDF("sitemap_url"),
        maxDepth = 3)
    }),

    // notebook mining: parse REAL nbformat JSON (from_json, permissive —
    // corrupt payloads contribute zero rows), explode cells, keep code
    // cells with line-arrays joined; the oracle states the expected
    // cells from the construction without touching JSON
    "q160_notebook_cells" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      operators.CodeAnalysis.notebookCells(notebookDocuments(s, dir))
        .filter(col("cell_type") === "code")
        .select("doc_id", "cell_idx", "src")
    }),

    // the MIXTURE capstone — what-to-train-on end to end, across operator
    // families in ONE plan: q154's scorecard gates the corpus → the q150
    // UniMax walk allocates a 5k-token budget across the SURVIVORS'
    // sources (3-epoch cap) → q155's coin materializes the epochs →
    // q128's manifest checksums the expanded corpus per shard (epoch-
    // qualified keys so copies stay distinguishable). The oracle chains
    // the four verified replays end to end
    "q159_mixture_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // eager pin (the q135 frontier posture): uniMaxApply consumes the
      // gated corpus TWICE — the walk's per-source size collect and the
      // expansion plan — and each would otherwise re-derive the whole
      // 4-chain scorecard; the pinned set is selection-sized
      val kept = Tables.documents(s, dir).join(
        curationScorecard(s, dir).filter(col("keep")).select("doc_id"), "doc_id")
        .localCheckpoint()
      val mixed = operators.Sampling.uniMaxApply(kept, budget = 5000L, epochCap = 3)
      operators.Sampling.shardManifest(
        mixed.select(
          concat(col("doc_id"), lit("#"), col("epoch")).as("doc_id"), col("text")),
        shards = 8, seed = "mix")
    }),

    // per-source robust quality drift: median/MAD outlier flags on the
    // q102 micro scores — dyadic-exact arithmetic end to end (integer
    // micro inputs, interpolated medians are halves, deviations quarters
    // — all exact doubles), so no rounding policy is needed anywhere
    "q158_score_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir))
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      operators.Selection.robustOutliers(scored, "source",
          round(col("quality_score") * 1000000).cast("long"))
        .select("doc_id", "source", "score_e6", "med_e6", "mad_e6", "is_outlier")
    }),

    // mirror CLUSTERS: q143's slice-level duplicate matrix thresholded
    // into source-graph edges (≥ 20 shared texts), sources keyed by
    // md5-prefix numeric ids, resolved by the q41 connected-components
    // operator — "which slices are one hosting family" as a first-class
    // verdict rather than a pairwise report. Sources without a heavy
    // mirror edge are absent (no edge → no cluster membership)
    "q157_mirror_clusters" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = mirrorDocuments(s, dir)
      def sid(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val edges = Dedup.crossSourceDupMatrix(docs)
        .filter(col("n_shared_texts") >= 20)
        .select(sid(col("src_a")).as("doc1"), sid(col("src_b")).as("doc2"))
      val names = docs.select(col("source")).distinct()
        .select(col("source"), sid(col("source")).as("doc_id"))
      Dedup.connectedComponents(edges).join(names, "doc_id")
        .select(col("source"), col("cluster_id"))
    }),

    // keep-best on the PERCEPTUAL key: within each dHash group the keeper
    // maximizes real decoded resolution (the 2× replicas win over their
    // 1× originals), ties to smallest id — q149's hash composed with
    // q132's argmax-aggregate shape; the oracle groups on the render
    // parameter and replays resolution from the construction
    "q156_image_keep_best" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.dHashKeepBest(imageRecords(s, dir))
    }),

    // UniMax budget allocation across sources: ascending-size walk, each
    // source takes min(epochCap·size, fair share of what's left) — pure
    // integer arithmetic, so the oracle replays the walk as a recursive
    // CTE. budget 52k at sf0.001 makes the 2-epoch cap BIND on the small
    // sources (their rollover funds the larger ones); at bigger SFs the
    // same literals exercise the uncapped uniform regime
    "q150_unimax_mix" -> ((s, dir) =>
      operators.Sampling.uniMaxMix(Tables.documents(s, dir),
        budget = 52000L, epochCap = 2)),

    // the q150 allocation MATERIALIZED: ⌊epochs⌋ full copies + md5-coin
    // fractional copy per doc (q106's realization idiom, integer-ceiling
    // threshold) — the sampled corpus the walk's numbers promise
    "q155_unimax_apply" -> ((s, dir) =>
      operators.Sampling.uniMaxApply(Tables.documents(s, dir),
        budget = 52000L, epochCap = 2)
        .select("doc_id", "source", "epoch")),

    // crawl-trap detection over the planted fixture: depth, segment-loop,
    // param-bomb (in-row folds) and digit-masked template explosion (one
    // census groupBy); each trap class trips exactly one signal
    "q151_crawl_traps" -> ((s, dir) =>
      operators.UrlOps.crawlTraps(trapUrlDocuments(s, dir))),

    // the Dolma tagger→mixer shape: every per-doc text-quality family
    // composed into ONE per-doc scorecard — reason flags (Gopher rules,
    // pinned-weights score, badword fraction, char-entropy floor) + the
    // keep verdict that is their conjunction. All four signal chains are
    // individually verified (q55/q102/q116/q145); this verifies their
    // composition as a whole (the q61/q96/q135 capstone pattern). One
    // lazy plan: three per-doc projections + id-keyed equi-joins, the
    // only shuffles the entropy/bigram aggregations already pay alone
    "q154_curation_scorecard" -> ((s, dir) => curationScorecard(s, dir)),

    // RAG-style passage retrieval composed from verified stages: q63's
    // chunker feeds hashed term-frequency vectors; per-query top-3 by the
    // fully-integer cos² score (dot² div norm-product — no square roots,
    // no float policy). Query side = the first 8 documents, broadcast
    "q153_passage_retrieval" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val chunks = TextAnalysis.chunkDocuments(Tables.documents(s, dir),
        chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val queries = Tables.documents(s, dir).filter(col("doc_id") < 8)
        .select(col("doc_id").as("query_id"), col("text"))
      Similarity.hashedRetrievalTopK(chunks, queries, buckets = 256, k = 3)
    }),

    // audio-corpus triage over REAL WAV bytes: encode the formula-PCM
    // fixture through the JDK's javax.sound writer, decode it back in the
    // operator, integer amplitude/silence stats; the oracle replays the
    // sample formula with a range join — it never parses a container
    "q152_audio_stats" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.audioStats(audioRecords(s, dir)).toDF()
    }),

    // ---- training-data pipeline: similarity search ------------------------
    "q24_embed_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)),

    "q25_ann_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), queryIds = (0L until 10L), k = 5)),

    // LSH bucketed top-k under its DETERMINISTIC retrieval contract: on the
    // derived-embeddings fixture the planted exact copies (+10M) hash into
    // the same bucket as their originals with certainty (identical vector ⇒
    // identical signature), and the original is the unique top-1 at cosine
    // 1.0 (background ≤ 0.57, mixed copies ≈ 0.995) — so lshTopK's k=1
    // answer for each planted query is a pure function of the construction
    // and the oracle reproduces it. At the corpus's natural neighbor
    // distances (cos ≈ 0.5, per-plane agreement ~2/3) bucketed recall@5 is
    // near zero BY DESIGN — single-bucket LSH is an exact-duplicate /
    // high-similarity retriever; serving at low similarity belongs to IVF
    // (q50) or brute force (q25).
    "q26_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(derivedEmbeddings(s, dir),
        queryIds = (0L until 50L by 5).map(_ + 10000000L), k = 1, numPlanes = 6)),

    // int8 quantization, checked through positional CHECKSUMS of the code
    // array (sum, abs-sum, max, position-weighted sum) — scalar columns
    // because the gate's pandas compare sorts by every output column and
    // list cells don't sort; the weighted sum pins element ORDER, so any
    // divergence in any code at any position is a hash mismatch
    "q56_embed_quantize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.quantizeInt8(Tables.embeddings(s, dir)).select(
        col("vec_id"),
        round(col("q_scale"), 6).as("q_scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long")).as("sum_codes"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c.cast("long"))).as("sum_abs"),
        array_max(col("codes")).cast("int").as("max_code"),
        aggregate(zip_with(col("codes"), sequence(lit(1), size(col("codes"))),
          (c, i) => c.cast("long") * i.cast("long")), lit(0L), (a, x) => a + x)
          .as("pos_checksum"))
    }),

    // IVF cell-probe ANN at FULL probe (nProbe = nCells): every cell is
    // probed, so the cell partition is exhaustive and the output provably
    // equals brute force (OperatorsSpec pins the equality; the q25 oracle
    // applies verbatim) while still exercising the whole IVF machinery —
    // centroid seeding, broadcast assignment argmax, cell equi-join,
    // windowed rerank. The production point (nProbe < nCells, recall < 1
    // by construction) stays pinned by OperatorsSpec's recall test.
    "q50_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), queryIds = (0L until 10L), k = 5,
        nCells = 16, nProbe = 16)),

    // product-quantized ANN (PQ/ADC): vectors compress to m one-byte codes
    // against seeded sub-codebooks and queries rank by integer lookup-table
    // sums — the memory-bound serving shape; the ENTIRE path (seeding,
    // encode argmin, LUT, ADC top-k) replays in the SQL oracle exactly
    "q111_ann_pq" -> ((s, dir) =>
      Similarity.pqTopKSeeded(Tables.embeddings(s, dir), queryIds = (0L until 10L),
        k = 5, m = 4, ksub = 16)),

    // domain-authority from the crawl's own hyperlink graph: absolute-href
    // extraction → distinct domain edges → 5 integer-exact PageRank rounds
    "q113_domain_pagerank" -> ((s, dir) => {
      val pages = linkedHtmlDocuments(s, dir)
      val edges = operators.LinkGraph.domainEdges(
        operators.LinkGraph.extractOutlinks(pages))
      operators.LinkGraph.pageRank(edges, iterations = 5, dampingPct = 85)
    }),

    // IVF-PQ — the production composition: coarse cells bound the I/O,
    // one-byte codes bound the memory; at nProbe = nCells it provably
    // degenerates to plain PQ, so q111's full-replay oracle gates it
    "q112_ann_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopKSeeded(Tables.embeddings(s, dir), queryIds = (0L until 10L),
        k = 5, nCells = 16, nProbe = 16, m = 4, ksub = 16)),

    // continuous-ingest IVF: the index is built on 3/4 of the corpus and
    // the last quarter APPENDED against the frozen persisted centroids;
    // probing all cells must still equal brute force over the whole corpus
    // (q50's equality trick) — the append provably loses no vector
    "q110_ann_ivf_appended" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.ivfTopKFromIndex(s, q110IndexPath(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 10), k = 5, nProbe = 16)
    }),

    // ---- training-data pipeline: text analysis ----------------------------
    "q27_text_stats" -> ((s, dir) => TextAnalysis.stats(Tables.documents(s, dir))),

    // language ID via char-n-gram rank profiles (Cavnar-Trenkle 1994),
    // pinned profile table, out-of-place distance argmin — replaces the
    // r1-r7 marker-word argmax; the planted label is recomputed from
    // doc_id (a pure projection) rather than joined back
    "q28_lang_id" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.classifyLanguage(langIdDocuments(s, dir), langProfiles, k = 60)
        .withColumn("planted_lang", element_at(
          array(langIdPhrases.map(p => lit(p._1)): _*),
          (col("doc_id") % 5).cast("int") + 1))
        .select("doc_id", "planted_lang", "pred_lang", "oop_distance")
    }),

    "q29_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),

    // tokenizer-FAITHFUL token counts: real byte-pair-encoding under the
    // pinned merge table [[bpeMerges]] (trained once on the corpus by
    // Bpe.trainMerges — deterministic, unit-pinned), replacing q29's
    // chars/4 heuristic where budgets must be model tokens. The oracle
    // replays the identical leftmost-lowest-rank merge loop per distinct
    // word in a recursive CTE over the same pinned table.
    "q87_bpe_tokens" -> ((s, dir) =>
      operators.Bpe.tokenCounts(Tables.documents(s, dir), bpeMerges)),

    // tokenizer fertility (tokens per word) by source under the pinned
    // merge table — the per-slice diagnostic multilingual tokenizer
    // surveys report; ratio integer-exact in micro-units
    "q131_tokenizer_fertility" -> ((s, dir) =>
      operators.Bpe.fertilityReport(Tables.documents(s, dir), bpeMerges)),

    // unigram-LM (SentencePiece-family) token counts under the pinned
    // piece table [[unigramPieces]] — the OTHER production tokenizer
    // beside q87's BPE: explicit piece log-probs (integer micro-units),
    // max-likelihood Viterbi segmentation per distinct word; the oracle
    // enumerates segmentations in a recursive CTE over the SAME table and
    // picks the same (score DESC, path ASC) maximum
    "q171_unigram_tokens" -> ((s, dir) =>
      operators.Unigram.tokenCounts(Tables.documents(s, dir), unigramPieces)),

    // the two-tokenizer fertility table: q131's per-source BPE diagnostic
    // joined with the unigram-LM twin, both ratios integer-exact — the
    // comparison a tokenizer bake-off actually reads
    "q172_unigram_fertility" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val b = operators.Bpe.fertilityReport(Tables.documents(s, dir), bpeMerges)
        .withColumnRenamed("fertility_micro", "bpe_fertility_micro")
      val u = operators.Unigram
        .fertilityReport(Tables.documents(s, dir), unigramPieces)
        .select(col("source"), col("n_unigram_tokens"),
          col("unigram_fertility_micro"))
      b.join(u, "source")
    }),

    // WordPiece (BERT-family) token counts under the pinned vocabulary
    // [[wordPieceVocab]] — the THIRD production tokenizer beside q87's
    // BPE and q171's unigram-LM: greedy longest-match-first against a
    // vocabulary set (`##` continuations), whole-word [UNK] collapse on
    // any unmatched position. n_unk is the out-of-vocabulary signal the
    // other two tokenizers structurally can't produce — exercised on REAL
    // data via the q93 accented fixture (café/über/naïve carry symbols
    // outside the pinned vocabulary, so every 4th doc collapses 3 words
    // to [UNK]). The oracle replays the greedy walk in a recursive CTE
    // over the SAME vocabulary literal.
    "q188_wordpiece_tokens" -> ((s, dir) =>
      operators.WordPiece.tokenCounts(accentedDocuments(s, dir), wordPieceVocab)),

    // WordPiece fertility + UNK rate by source — q131's diagnostic for
    // the BERT tokenizer, plus the out-of-vocabulary dimension: a slice
    // with high unk_rate_micro is a slice this vocabulary cannot
    // represent (the wrong-language-mix catch). Integer micro-unit ratios.
    "q189_wordpiece_fertility" -> ((s, dir) =>
      operators.WordPiece.fertilityReport(accentedDocuments(s, dir), wordPieceVocab)),

    // q87 re-based on the GPT-2 byte alphabet: UTF-8 bytes as base symbols
    // (no OOV ever), pinned byte-merge table, non-ASCII fixture rows where
    // char and byte tokenization visibly diverge (é = 2 base symbols)
    "q93_bpe_byte_tokens" -> ((s, dir) =>
      operators.Bpe.byteTokenCounts(accentedDocuments(s, dir), bpeByteMerges)),

    // HTML boilerplate extraction — the pre-clean stage of a web-corpus
    // pipeline: block segmentation at block-tag boundaries, length +
    // link-density scoring (jusText/boilerpipe family), pure projection
    // (no shuffle — PlanSpec-pinned); nav/sidebar/footer drop, the
    // article paragraph survives and reproduces the original corpus text
    "q92_boilerplate" -> ((s, dir) =>
      operators.Boilerplate.extractMainText(htmlDocuments(s, dir))),

    // URL dedup — the FIRST dedup a crawl pipeline runs: normalization
    // (case, default port, tracking params, fragment) folds raw variants
    // onto one canonical URL, then the exact-dedup hash shuffle
    "q94_url_dedup" -> ((s, dir) =>
      operators.UrlOps.urlDedup(urlDocuments(s, dir))),

    // per-domain over-representation cap: ≤ 40 docs per host in
    // deterministic md5 order — the C4/Gopher anti-domination stage
    "q95_domain_cap" -> ((s, dir) =>
      operators.UrlOps.domainCap(urlDocuments(s, dir), maxPerDomain = 40)),

    // LINE-level cross-doc dedup (CCNet/RefinedWeb paragraph stage): lines
    // in ≥ 2 distinct docs drop, unique lines and within-doc repeats stay;
    // df aggregates over per-doc-distinct line hashes, rebuild shuffles
    // survivors only
    "q97_line_dedup" -> ((s, dir) =>
      Dedup.removeCommonLines(linedDocuments(s, dir))),

    // corpus card — the dataset-documentation report: doc/word/char
    // volumes and distinct-text counts per (source, lang) with ROLLUP
    // subtotals and a grand total, one pass
    "q99_corpus_card" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.withWords(Tables.documents(s, dir))
        .select(col("source"), col("lang"),
          size(col("__words")).cast("long").as("nw"),
          length(col("text")).cast("long").as("nc"), col("text"))
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
          sum("nc").as("n_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
    }),

    // THE crawl front-end, composed end to end from the individually
    // verified stages and checked AS A WHOLE: boilerplate-extract the raw
    // html → keep canonical-URL winners → cap per-domain contribution →
    // floor on extracted word count. Everything upstream of the text
    // pipeline (q61) that a web corpus runs, in one lazy plan.
    "q96_web_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // encoding repair runs AHEAD of boilerplate, where a real crawl needs
      // it; on this fixture (probed pure-ASCII html) it is provably the
      // identity, so the oracle's replay is unchanged — the stage's own
      // reversal correctness is q101's round-trip contract
      val html = htmlDocuments(s, dir)
        .withColumn("html", TextAnalysis.fixEncodingCol(col("html")))
      val text = operators.Boilerplate.extractMainText(html)
        .select(col("doc_id"), col("main_text"))
      val keep = operators.UrlOps.urlDedup(urlDocuments(s, dir))
        .select(col("keep_id").as("doc_id"))
      val capped = operators.UrlOps.domainCap(urlDocuments(s, dir), maxPerDomain = 40)
      text.join(keep, "doc_id").join(capped, "doc_id")
        .withColumn("n_words", size(split(col("main_text"), " ")).cast("long"))
        .filter(col("n_words") >= 30)
        .select("doc_id", "domain", "n_words")
    }),

    // the q96 crawl front-end fed from a WARC CONTAINER instead of parquet
    // columns: the envelope (per-record-gzip response records, the Common
    // Crawl layout) carries url as WARC-Target-URI and html as the HTTP
    // body; reading it back and running the SAME pipeline must reproduce
    // q96's oracle — the round-trip-losslessness gate for the one source
    // format raw web corpora actually arrive in
    "q104_warc_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // declared-charset decode FIRST (the fixture's envelope declares
      // utf-8, so this is provably the plain utf-8 read there — WarcSpec
      // pins the latin-1/windows-1252 declarations), heuristic repair next
      val pages = graft.sources.Warc.readResponses(s, warcFixturePath(s, dir))
        .select(
          regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long").as("doc_id"),
          col("target_uri").as("url"),
          graft.sources.Warc.decodeBody(col("body"), col("http_content_type")).as("html"))
      val html = pages.select(col("doc_id"),
        TextAnalysis.fixEncodingCol(col("html")).as("html"))
      val text = operators.Boilerplate.extractMainText(html)
        .select(col("doc_id"), col("main_text"))
      val urls = pages.select("doc_id", "url")
      val keep = operators.UrlOps.urlDedup(urls).select(col("keep_id").as("doc_id"))
      val capped = operators.UrlOps.domainCap(urls, maxPerDomain = 40)
      text.join(keep, "doc_id").join(capped, "doc_id")
        .withColumn("n_words", size(split(col("main_text"), " ")).cast("long"))
        .filter(col("n_words") >= 30)
        .select("doc_id", "domain", "n_words")
    }),

    "q30_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))),

    // Gopher-style repetition/quality rules — the doc-level filter stage;
    // top-bigram fraction computed map-side (sorted-hash longest run), no
    // per-(doc, bigram) shuffle at any scale
    "q55_quality_rules" -> ((s, dir) => TextAnalysis.qualityRules(Tables.documents(s, dir))),

    // sequence packing: sharded token streams cut into fixed 256-token
    // training sequences (per-shard ACCUMULATE — no single global window)
    "q57_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), maxTokens = 256, shards = 8)),

    // q57's packing layout re-budgeted in REAL BPE tokens (q87's counts):
    // what a dataloader actually consumes — sequence boundaries move where
    // the whitespace heuristic over-counted multi-token words
    "q88_pack_bpe" -> ((s, dir) =>
      operators.Bpe.packSequencesBpe(Tables.documents(s, dir), bpeMerges,
        maxTokens = 256, shards = 8)),

    // unigram-LM quality score (CCNet-style): mean log-prob per doc under
    // the corpus's own smoothed unigram model
    "q60_lm_score" -> ((s, dir) => TextAnalysis.lmScore(Tables.documents(s, dir))),

    // the ORDER-aware upgrade: mean ln P(w2|w1) under the corpus's own
    // add-α bigram model — word-salad scores low where unigram frequency
    // alone cannot see it
    "q100_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, dir))),

    // pinned-weights linear quality scorer (DCLM-style model-based filter)
    // over the verified features: the soft-score upgrade of q55's hard
    // gates. Same linear form replayed in the oracle; threshold splits the
    // corpus ~40/60 at every SF so quality_keep is a real decision
    "q102_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir))),

    // the scorer AS A PIPELINE STAGE (the optional q61-position filter,
    // composed and verified end to end): score → keep → pack survivors
    // into training sequences — one lazy plan
    "q103_quality_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val keep = TextAnalysis.qualityScore(Tables.documents(s, dir))
        .filter(col("quality_keep")).select("doc_id")
      TextAnalysis.packSequences(Tables.documents(s, dir).join(keep, "doc_id"),
        maxTokens = 256, shards = 8)
    }),

    // encoding repair (ftfy's deterministic core): guarded cp1252-mojibake
    // reversal ×2 (round two catches double-encoded UTF-8) + control strip,
    // over a four-way damaged fixture. The oracle states the CLEAN
    // construction directly — round-trip identity proves the reversal
    // exact, clean-ASCII and real-accent docs prove the guard's precision
    "q101_fix_encoding" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.fixEncoding(mojibakeDocuments(s, dir))
        .select(col("doc_id"), col("fixed_text"))
    }),

    // PII scrub on a derived fixture: the synthetic corpus carries no PII,
    // so every third doc gets a deterministic email + IP + phone appended
    // IN-QUERY (same concat in the oracle) — the redaction then has real
    // matches to replace and count, and docs without injections pin the
    // no-match path (n_redactions = 0, text unchanged)
    "q62_redact_pii" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val base = Tables.documents(s, dir)
      val withPii = base.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10."), (col("doc_id") % 200).cast("string"),
          lit(".4.25 or 555-867-5309"))).otherwise(col("text")).as("text"))
      TextAnalysis.redactPii(withPii)
    }),

    // overlapping-window chunking (RAG/embedding prep): 64-token chunks
    // every 48 tokens (16-token overlap)
    "q63_chunk_docs" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), chunkTokens = 64, overlap = 16)),

    // THE CAPSTONE: the five-stage training-data pipeline end to end —
    // quality filter → LSH dedup (keep cluster canonicals) → eval
    // decontamination → sequence packing — every stage an operator verified
    // alone by its own query, composed here and verified AS A WHOLE against
    // one five-stage DuckDB oracle. What a user actually runs.
    "q61_pipeline_e2e" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val base = Tables.documents(s, dir)
      val bench = base.filter(col("doc_id") % 17 === 0)
      // each stage's output feeds 2-3 downstream consumers (the LSH dedup
      // stage even executes eagerly inside connectedComponents) — cache the
      // stage boundaries so the quality regexp/fold work runs once, not per
      // consumer; blocks are (doc_id, text)-sized and live to LRU, the same
      // posture as the guarded-Jaccard path
      val pool = TextAnalysis.qualityRules(base.filter(col("doc_id") % 17 =!= 0))
        .filter(col("quality_pass")).select("doc_id")
        .join(base, "doc_id").cache()
      val dupDrops = Dedup.lshDedupClusters(pool, n = 3, numHashes = 16, bands = 16,
        threshold = 0.5)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      val deduped = pool.join(dupDrops, Seq("doc_id"), "left_anti").cache()
      val clean = deduped.join(
        Dedup.contamination(deduped, bench, n = 3)
          .filter(col("contamination") < 0.3).select("doc_id"),
        Seq("doc_id"))
      TextAnalysis.packSequences(clean, maxTokens = 256, shards = 8)
    }),

    // ---- training-data pipeline: multimodal columns -----------------------
    "q31_multimodal_meta" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.extractMeta(Multimodal.asMediaRecords(Tables.documents(s, dir))).toDF()
    }),

    "q32_frame_sample" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.sampleFrames(
        Multimodal.extractMeta(Multimodal.asMediaRecords(Tables.documents(s, dir))), stride = 2)
    }),

    // aspect-preserving resize stage (integer-exact fit into 224×224)
    "q51_resize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.resizeFit(
        Multimodal.extractMeta(Multimodal.asMediaRecords(Tables.documents(s, dir)))).toDF()
    }),

    // ---- events: sessionization (gap > 30 min) via chained windows --------
    "q33_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("prev_ns", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ns").isNull ||
            col("ts") - col("prev_ns") > 1800000000000L, 1).otherwise(0))
        .withColumn("session_id", sum("new_session").over(byUser).cast("int"))
        .select("event_id", "user_id", "event_type", "new_session", "session_id")
    }),

    // ---- §2.5 plumbing: rollup, set ops, scalar functions ------------------
    "q34_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
    }),

    "q44_cube" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
    }),

    "q35_setops" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("custkey")).distinct()
      val building = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey")).distinct()
      big.intersect(building).withColumn("tag", lit("both"))
        .unionAll(big.except(building).withColumn("tag", lit("only_big")))
        .unionAll(building.except(big).withColumn("tag", lit("only_building")))
    }),

    "q36_scalar_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        upper(substring(col("o_orderpriority"), 1, 8)).as("prio_upper"),
        length(col("o_orderstatus")).as("status_len"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        pmod(col("o_orderkey"), lit(7)).as("key_mod7"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"))
    }),

    // skew-safe whole-partition aggregate: groupBy+join instead of WindowExec
    "q43_skewsafe_partition_sum" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      SkewJoin.partitionAgg(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
        Seq("l_returnflag"),
        Seq("total_qty" -> sum(col("l_quantity")), "part_rows" -> count(lit(1))))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "total_qty", "part_rows")
    }),

    // sketch profiling with the error contract evaluated IN-QUERY: exact
    // distinct counts ride along (oracle-comparable) and each approximate
    // value reduces to a deterministic within-bound boolean, so the
    // HLL++/approx-percentile error model is driver-checked instead of
    // unit-only. Sketches.profile stays the production one-pass operator.
    "q42_sketch_profile" -> ((s, dir) =>
      operators.Sketches.profileChecked(Tables.lineitem(s, dir))),

    // Misra-Gries heavy hitters over corpus words at capacity 64 ≥ the
    // vocabulary: nothing is ever evicted, so the bounded-memory sketch
    // degenerates to EXACT counts and the plain count(*) oracle applies —
    // the whole sketch machinery (update eviction, mergeable reduction)
    // exercised under oracle, with the compressed regime's error bounds
    // pinned by SketchesSpec
    "q91_heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      operators.Sketches.heavyHitters(
        TextAnalysis.withWords(Tables.documents(s, dir))
          .select(explode(col("__words")).as("word")),
        "word", capacity = 64)
    }),

    // near-dup clusters: jaccard pairs → connected components → canonical keeper
    "q41_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.1))),

    // THE scale dedup pipeline: MinHash-LSH candidates → exact-Jaccard verify
    // of candidates only → connected components. bands=numHashes (1-row
    // bands) ⇒ a true pair at jaccard j is missed with prob (1-j)^16 ≤ 7e-12
    // at j≥0.8; the testdata's near-dup pairs all sit ≥ 0.8 (gap to 0.14), so
    // the verified pair set provably equals the exact ≥0.5 set and the
    // all-pairs recursive-CTE oracle applies. Probe-verified at sf0.001/0.01/0.1.
    // CAVEAT (holds for q47/q52/q53 too): exact-oracle equality of an
    // LSH-derived result is a property of THESE fixed datasets + the
    // deterministic hash planes, not of the operator — a regenerated or new
    // SF needs a fresh completeness probe first, or a recall-tolerant /
    // rows-only check instead.
    "q46_dedup_lsh_clusters" -> ((s, dir) =>
      Dedup.lshDedupClusters(Tables.documents(s, dir),
        n = 3, numHashes = 16, bands = 16, threshold = 0.5)),

    // LEAKAGE-SAFE SPLIT: train/val/test assignment keyed by the q46
    // dedup cluster's canonical (docs in no cluster key by themselves),
    // then q40's md5 bucket coin — near-duplicates share the key, so no
    // pair can straddle splits and contaminate held-out evaluation
    "q238_cluster_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Sampling.clusterSafeSplit(docs.select("doc_id"),
        Dedup.lshDedupClusters(docs, n = 3, numHashes = 16, bands = 16,
          threshold = 0.5))
    }),

    // bucketed embedding near-dup (equi-join LSH tables + exact rerank) run
    // at q24's threshold: sign-bit tables (b=1, T=12) give per-pair miss
    // (1-p)^12 ≈ 6.6e-6 at cos 0.4 — probe-verified identical to the exact
    // self-join at all three SFs (T=8/10/12/16 all complete), so q24's
    // oracle applies verbatim. At this LOW threshold the candidate volume is
    // brute-force-like (see scaladoc); the operator's production regime
    // (cos≥0.9, b=8, T=14) is where the equi-join shape wins — the plan
    // shape (no BNLJ) is what PlanSpec pins.
    "q47_embed_neardup_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir), threshold = 0.4,
        planesPerTable = 1, numTables = 12)),

    // the PRODUCTION operating point of the same operator — threshold 0.9
    // with multi-bit tables — on the derived fixture that plants real
    // high-cos pairs (see derivedEmbeddings). b=16 (not the b=8 scaladoc
    // default) because THIS corpus's background pairs sit at cos ≈ 0.5,
    // where 8-bit tables collide at ~4%/table (≈40% over 14 tables ⇒
    // candidates ≈ n²/2); 16 bits cut background collisions ~25× while
    // keeping planted-pair misses ≤ 3e-6 (probe-verified 0 at all 3 SFs).
    "q52_embed_neardup_lsh_prod" -> ((s, dir) =>
      Similarity.lshNearDupPairs(derivedEmbeddings(s, dir), threshold = 0.9,
        planesPerTable = 16, numTables = 14)),

    // banded-MinHash production shape (multi-row bands, unlike q46's 16×1
    // completeness regime): 32 hashes in 8 bands × 4 rows, verified by exact
    // Jaccard at 0.9 — the banding actually prunes (a j=0.5 pair matches a
    // 4-row band with p=0.0625) while a true j≥0.9 pair is missed only if
    // all 8 bands break ((1-j⁴)⁸ ≤ 2e-4 at j=0.9; misses probe-verified 0 at
    // all 3 SFs against the exact all-pairs oracle).
    "q53_dedup_minhash_prod" -> ((s, dir) => {
      val d = derivedDocuments(s, dir)
      Dedup.jaccardVerify(d,
        Dedup.minHashLshCandidates(d, n = 3, numHashes = 32, bands = 8),
        n = 3, threshold = 0.9)
    }),

    // eval-decontamination screen: corpus docs vs a pseudo-benchmark slice
    // (doc_id % 17 == 0) — broadcast benchmark gram set, map-side fraction
    "q58_contamination" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val all = Tables.documents(s, dir)
      Dedup.contamination(
        all.filter(col("doc_id") % 17 =!= 0),
        all.filter(col("doc_id") % 17 === 0), n = 3)
    }),

    // source-mixture downsampling to a 50/30/20 composition over three
    // sources; most-constrained source keeps everything, others downsample
    // by deterministic md5 bucket
    "q59_mix_sources" -> ((s, dir) =>
      operators.Sampling.mixSources(
        Tables.documents(s, dir).select("doc_id", "source"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),

    // page-level metadata extraction: title/description (entity-decoded,
    // null when absent), the page's own canonical URL, and the
    // robots-noindex compliance gate — what a crawl filters and joins on
    // before body text ever enters the corpus
    "q108_page_meta" -> ((s, dir) =>
      operators.Boilerplate.extractPageMeta(metaHtmlDocuments(s, dir))),

    // the crawl FRONT DOOR: page-meta compliance + identity ahead of the
    // q96 chain — drop noindex pages, prefer each page's own canonical URL
    // over its fetch URL for dedup and domain accounting (canonical
    // CONSOLIDATES distinct fetches of one resource), then boilerplate →
    // URL winners → domain cap → word floor. One lazy plan over verified
    // stages; the oracle derives noindex/canonical from the fixture's
    // construction and reuses the shared CTE prefixes
    "q109_crawl_frontdoor" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pages = metaHtmlDocuments(s, dir)
      val meta = operators.Boilerplate.extractPageMeta(pages)
        .filter(!col("robots_noindex"))
        .select("doc_id", "canonical_url")
      val resolved = meta.join(urlDocuments(s, dir), "doc_id")
        .select(col("doc_id"), coalesce(col("canonical_url"), col("url")).as("url"))
      val text = operators.Boilerplate.extractMainText(pages)
        .select(col("doc_id"), col("main_text"))
      val keep = operators.UrlOps.urlDedup(resolved).select(col("keep_id").as("doc_id"))
      val capped = operators.UrlOps.domainCap(resolved, maxPerDomain = 40)
      text.join(keep, "doc_id").join(capped, "doc_id")
        .withColumn("n_words", size(split(col("main_text"), " ")).cast("long"))
        .filter(col("n_words") >= 30)
        .select("doc_id", "domain", "n_words")
    }),

    // the COMPLETE crawl gate: fetch-URL compliance FIRST (robots.txt
    // verdict ∧ domain blocklist — the checks a crawler runs before
    // spending a fetch), then the q109 front door (noindex, canonical
    // resolution, boilerplate, URL winners, domain cap, word floor) over
    // the compliant survivors only. One lazy plan over verified stages
    "q123_crawl_gate_compose" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val urls = urlDocuments(s, dir)
      val gate = operators.Robots
        .robotsGate(urls, robotsDocuments(s, dir), agent = "graftbot")
        .filter(col("allowed")).select("doc_id")
        .join(operators.UrlOps.domainBlocklist(urls, blockedDomainEntries.toDF("domain"))
          .filter(!col("blocked")).select("doc_id"), "doc_id")
      val pages = metaHtmlDocuments(s, dir)
      val meta = operators.Boilerplate.extractPageMeta(pages)
        .filter(!col("robots_noindex"))
        .select("doc_id", "canonical_url")
      val resolved = meta.join(urls, "doc_id").join(gate, "doc_id")
        .select(col("doc_id"), coalesce(col("canonical_url"), col("url")).as("url"))
      val text = operators.Boilerplate.extractMainText(pages)
        .select(col("doc_id"), col("main_text"))
      val keep = operators.UrlOps.urlDedup(resolved).select(col("keep_id").as("doc_id"))
      val capped = operators.UrlOps.domainCap(resolved, maxPerDomain = 40)
      text.join(keep, "doc_id").join(capped, "doc_id")
        .withColumn("n_words", size(split(col("main_text"), " ")).cast("long"))
        .filter(col("n_words") >= 30)
        .select("doc_id", "domain", "n_words")
    }),

    // crawl-frontier fetch scheduling: robots-allowed URLs get a
    // per-domain politeness sequence (two-level salted rank — no
    // single-reducer hot-domain window) and fetch_at = seq × the
    // domain's robots Crawl-delay (default 1 s); the pinned robots
    // bodies exercise specific-group shadowing, '*'-group fallback, and
    // non-numeric delay rejection
    "q124_fetch_schedule" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val urls = urlDocuments(s, dir)
      val robots = robotsDocuments(s, dir)
      val allowed = operators.Robots
        .robotsGate(urls, robots, agent = "graftbot")
        .filter(col("allowed")).select("doc_id")
      operators.Frontier.fetchSchedule(urls.join(allowed, "doc_id"),
        operators.Robots.crawlDelays(robots, agent = "graftbot"))
    }),

    // readability grades (Flesch-Kincaid + ARI) from three integer
    // counts — sentences, vowel-group syllables, letters — in one
    // shuffle-free projection
    "q125_readability" -> ((s, dir) =>
      operators.TextAnalysis.readability(Tables.documents(s, dir))),

    // domain-level quality gate (the RefinedWeb/DCLM aggregation above
    // per-doc filters): q102's verified scorer rolls up per domain in
    // integer micro-units — exact bigint mean, no float-sum order hazard
    "q126_domain_quality" -> ((s, dir) =>
      operators.UrlOps.domainQualityGate(
        operators.TextAnalysis.qualityScore(Tables.documents(s, dir)),
        urlDocuments(s, dir))),

    // incremental materialization: recompute readability ONLY for the
    // q122-snapshot delta (added/changed docs), carry the old run's rows
    // for unchanged ids — the oracle scores the new corpus IN FULL, so
    // equality proves incremental ≡ recompute
    "q127_incremental_scores" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val next = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            concat(lit("fresh doc "), col("doc_id").cast("string")).as("text")))
      operators.Incremental.materialize(docs,
        operators.TextAnalysis.readability(docs), next,
        operators.TextAnalysis.readability(_))
    }),

    // shard manifest: per-shard doc/token counts + order-independent
    // bit_xor checksum over md5(id:text) — the publish-step integrity
    // record a consumer re-derives after transfer
    "q128_shard_manifest" -> ((s, dir) =>
      operators.Sampling.shardManifest(
        Tables.documents(s, dir), shards = 8, seed = "r8")),

    // sitemap discovery: robots Sitemap declarations scope which pinned
    // XML bodies parse; <loc> entries entity-decode, normalize with the
    // q94 chain, and anti-join the crawled corpus's normalized URLs —
    // output = the genuinely NEW frontier candidates per domain
    "q129_sitemap_discovery" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      discoveredCandidates(s, dir)
        .select(operators.UrlOps.domainOf(col("url")).as("domain"), col("norm_url"))
        .distinct()
    }),

    // the FULL crawl-planning loop in one lazy plan: discover (sitemaps)
    // → drop already-crawled (normalized anti-join) → comply (robots
    // verdict on each candidate) → schedule (politeness slots × the
    // domain's Crawl-delay). Candidate identity IS the normalized URL —
    // no synthetic ids, so the composition scales exactly like its
    // stages (the schedule salts/orders on md5 of the url string)
    "q130_discovery_to_fetch" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val robots = robotsDocuments(s, dir)
      // eager localCheckpoint: the gate branch and the schedule input
      // would each re-derive the whole discovery chain (sitemap parse +
      // corpus-wide anti-join — probe-measured 2× the q129 cost without
      // the pin). Persisting the surviving candidate batch is also what
      // a real crawler does between discovery and fetch — the pinned set
      // IS the frontier batch, and it is discovery-cycle-sized, not
      // corpus-sized
      val fresh = discoveredCandidates(s, dir)
        .select(col("norm_url").as("doc_id"), col("norm_url").as("url"))
        .distinct().localCheckpoint()
      val allowed = operators.Robots
        .robotsGate(fresh, robots, agent = "graftbot")
        .filter(col("allowed")).select("doc_id")
      operators.Frontier.fetchSchedule(fresh.join(allowed, "doc_id"),
        operators.Robots.crawlDelays(robots, agent = "graftbot"))
    }),

    // VALUE-ORDERED frontier (the Nutch/Heritrix priority queue): q113's
    // integer-exact domain PageRank feeds per-URL in-link authority
    // (Σ rank over distinct linking domains, OPIC-style), and each
    // domain's politeness queue drains in authority-DESC order via the
    // prioritized two-level salted rank — no hot-domain single-reducer
    // window. Candidates = link targets not yet crawled (normalized
    // identity, the q130 convention); unlinked-from-ranked-domains
    // candidates keep priority 0 rather than silently dropping
    "q133_priority_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pages = linkedHtmlDocuments(s, dir)
      // one eager pin for the outlink table: the edge chain (inside
      // pageRank), the authority chain, AND the candidate set all consume
      // it — lazy, each branch would re-run the page-scale html
      // extraction (the LinkGraph.pageRank leaf posture, one level up)
      val links = operators.LinkGraph.extractOutlinks(pages).localCheckpoint()
      val ranks = operators.LinkGraph.pageRank(
        operators.LinkGraph.domainEdges(links), iterations = 5, dampingPct = 85)
      val normLinks = operators.UrlOps.withNormalizedUrl(links, urlCol = "href")
      val auth = operators.LinkGraph.urlAuthority(normLinks, ranks,
        dstUrlCol = "norm_url")
      val crawled = operators.UrlOps.withNormalizedUrl(pages.select("doc_id", "url"))
        .select("norm_url")
      val cand = normLinks.select("norm_url").distinct()
        .join(crawled, Seq("norm_url"), "left_anti")
        .join(auth, Seq("norm_url"), "left")
        .select(col("norm_url").as("doc_id"), col("norm_url").as("url"),
          coalesce(col("authority_e6"), lit(0L)).as("priority_e6"))
      operators.Frontier.fetchSchedulePrioritized(cand, siteDelays(s), "priority_e6")
    }),

    // adaptive REVISIT scheduling (freshness half of the crawl planner):
    // two-snapshot hash diff → per-URL interval doubling on unchanged,
    // halving on changed, clamped to [5 min, 1 day]; history from a
    // derived prior-interval store covering both clamp edges and the
    // no-history default. All integer — the oracle replays exactly
    "q134_recrawl_schedule" -> ((s, dir) =>
      operators.Frontier.recrawlSchedule(
        recrawlOldSnapshot(s, dir).select("url", "text"),
        recrawlNewSnapshot(s, dir), recrawlIntervals(s, dir),
        nowSec = 1700000000L)),

    // the CAPSTONE value-aware crawl loop — every planning stage this
    // engine owns, composed end to end in one plan: DISCOVER (sitemap
    // candidates minus the crawled corpus, q129/q130) ∪ RECRAWL (q134's
    // change-adaptive revisit, due within 30 min) → COMPLY (robots
    // verdict on every candidate — recrawls re-check policy too; domain
    // 6's full Disallow prunes its due pages) → RANK (q113's
    // integer-exact PageRank over the crawl's own 7-domain link graph)
    // → SCHEDULE (the q133 prioritized two-level salted rank ordered
    // rank-DESC, politeness delays from robots Crawl-delay). Candidate
    // identity is the normalized URL throughout; fresh and recrawl sets
    // are disjoint by construction (fresh is anti-joined against the
    // crawled corpus, recrawl is a subset of it)
    "q135_crawl_loop" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val robots = robotsDocuments(s, dir)
      // r22 (guide §2.6 — overlap independent jobs): the PageRank walk
      // (its own eager checkpoint chain over the link fixture) and the
      // frontier pin below are independent; building the ranks on a
      // helper thread lets the two chains' jobs back-fill each other
      // instead of running strictly in sequence. The composed plan is
      // unchanged — both sides materialize the same leaves.
      val fRanks = Future(operators.LinkGraph.pageRank(
        operators.LinkGraph.domainEdges(
          operators.LinkGraph.extractOutlinks(exampleLinkedPages(s, dir))),
        iterations = 5, dampingPct = 85))(
        scala.concurrent.ExecutionContext.global)
      val fresh = discoveredCandidates(s, dir).select("norm_url").distinct()
        .withColumn("kind", lit("discovered"))
      val due = operators.Frontier.recrawlSchedule(
          recrawlOldSnapshot(s, dir).select("url", "text"),
          recrawlNewSnapshot(s, dir), recrawlIntervals(s, dir),
          nowSec = 1700000000L)
        .filter(col("interval_sec") <= 1800L)
      val dueNorm = operators.UrlOps.withNormalizedUrl(due.select("url"))
        .select("norm_url").distinct().withColumn("kind", lit("recrawl"))
      // eager pin, the q130 posture: the robots gate and the schedule
      // would each re-derive the whole discovery + diff chain; the pinned
      // set IS the cycle's frontier batch — cycle-sized, not corpus-sized
      val frontier = fresh.unionByName(dueNorm)
        .select(col("norm_url").as("doc_id"), col("norm_url").as("url"), col("kind"))
        .localCheckpoint()
      val ranks = Await.result(fRanks, Duration.Inf)
      val allowed = operators.Robots.robotsGate(frontier, robots, agent = "graftbot")
        .filter(col("allowed")).select("doc_id")
      val prioritized = frontier.join(allowed, "doc_id")
        .withColumn("__dom", operators.UrlOps.domainOf(col("url")))
        .join(ranks.withColumnRenamed("domain", "__dom"), Seq("__dom"), "left")
        .select(col("doc_id"), col("url"), col("kind"),
          coalesce(col("rank_e6"), lit(0L)).as("priority_e6"))
      operators.Frontier.fetchSchedulePrioritized(prioritized,
          operators.Robots.crawlDelays(robots, agent = "graftbot"), "priority_e6")
        .join(prioritized.select("doc_id", "kind"), "doc_id")
        .select("doc_id", "domain", "kind", "priority_e6", "seq", "fetch_at")
    }),

    // robots.txt compliance gate (RFC 9309): parse per-domain robots
    // bodies, select the applicable group (specific shadows '*'), compile
    // rules to (LIKE pattern, 2·len+isAllow rank) arrays, and give each
    // page its longest-match verdict IN-ROW (max rank, odd = allowed) —
    // pages shuffle once on domain, never by doc_id, never with text
    "q115_robots_gate" -> ((s, dir) =>
      operators.Robots.robotsGate(urlDocuments(s, dir), robotsDocuments(s, dir),
        agent = "graftbot")),

    // token-budget curation: keep the highest-quality docs (q102's
    // verified scorer) until a 20k-token budget, in deterministic
    // (score DESC, md5, doc_id) order — distributed prefix sum: quantile
    // buckets + exact per-bucket totals on the driver; only the ONE
    // boundary bucket pays a window, fully-kept buckets pass window-free
    "q118_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val in = TextAnalysis.qualityScore(docs)
        .join(docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
        .select("doc_id", "quality_score", "n_tokens")
      operators.Sampling.tokenBudget(in, budget = 20000L, buckets = 16)
    }),

    // corpus snapshot diff: old = documents; new = %7 ids removed, %5
    // texts rewritten, %6-derived fresh ids added — per-source
    // added/removed/changed/unchanged counts + net word delta. Text never
    // enters the full-outer join (hash + word-count projections only)
    "q122_corpus_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val next = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            concat(lit("fresh doc "), col("doc_id").cast("string")).as("text")))
      TextAnalysis.corpusDiff(docs, next)
    }),

    // Unicode script profile: per-doc character counts in the major
    // script blocks (shared Java∩RE2 hex-range classes) + dominant-script
    // verdict — the routing signal ahead of language-specific stages.
    // Pure codegen'd projection, zero shuffle
    "q120_script_stats" -> ((s, dir) =>
      TextAnalysis.scriptStats(scriptDocuments(s, dir))),

    // C4/RefinedWeb badword screening: pinned term list as a literal
    // array, per-row hash-set intersect (O(tokens+terms)), occurrence
    // count + integer cross-multiplied fraction verdict — ZERO shuffle,
    // pure codegen'd projection ('spam' never occurs: the empty-hit path)
    "q116_badword_filter" -> ((s, dir) =>
      TextAnalysis.badwordStats(Tables.documents(s, dir),
        Seq("dup", "slow", "spam"), maxFracMicro = 40000L)),

    // UT1-style domain blocklist: host → bounded label-suffix expansion →
    // suffix equi-join (only (doc_id, suffix) shuffles, never text) →
    // distinct blocked ids → id-keyed verdict join. Entries cover exact
    // host, parent suffix, and a never-matching domain
    "q117_domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      operators.UrlOps.domainBlocklist(urlDocuments(s, dir),
        blockedDomainEntries.toDF("domain"))
    }),

    // Unicode NFC normalization (codegen'd NfcNormalize expression): the
    // canonicalization ahead of every hash-based stage — composed and
    // decomposed spellings of the same text must collapse before dedup/
    // BPE ever see them. Derived fixture plants the same phrase both ways
    "q107_nfc_normalize" -> ((s, dir) =>
      TextAnalysis.nfcNormalize(nfdDocuments(s, dir)).select("doc_id", "text_nfc")),

    // deterministic corpus shuffle: sharded pseudo-random training order
    // (md5 of seed+key → shard, full-md5 rank within shard) — reproducible
    // dataloader order with NO global sort/window
    "q105_shuffle_shards" -> ((s, dir) =>
      operators.Sampling.deterministicShuffle(
        Tables.documents(s, dir).select("doc_id"), shards = 8, seed = "r8")
        .select("doc_id", "shard", "pos")),

    // weighted EPOCH upsampling: mixSources' complement — hit the target
    // composition by repeating small high-weight sources (integer epochs +
    // md5-fraction final epoch), nothing drops; `epoch` indexes the copies
    "q106_epoch_mix" -> ((s, dir) =>
      operators.Sampling.epochMix(
        Tables.documents(s, dir).select("doc_id", "source"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),

    // deterministic sampling / splitting for training pipelines
    "q39_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      operators.Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang"), "lang", col("doc_id"), 20)
    }),

    "q40_hash_split" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      operators.Sampling.hashSplit(
        Tables.documents(s, dir).select("doc_id"), col("doc_id"))
    }),

    // salted two-phase running sum: equals ACCUMULATE but keyed by
    // (suppkey, month-chunk) so a hot supplier spreads across chunk tasks
    "q48_salted_accumulate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val df = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate", "l_quantity")
        .withColumn("chunk", year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
      operators.SkewSafe.saltedAccumulate(df, Seq("l_suppkey"),
        Seq("l_shipdate", "l_orderkey", "l_linenumber"), "chunk", "l_quantity", "run_qty")
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", "run_qty")
    }),

    // the Spec→SQL emitter driving spark.sql end to end — the single-engine
    // analogue of the reference's BQ pushdown (templates at
    // WindowAggregation.java:75-93), checked against the DuckDB oracle
    // emitted from the SAME spec
    "q49_sql_emitter" -> ((s, dir) => {
      val d = winDefs("q49_sql_emitter")
      // direct-path table syntax — no temp-view registration mutating the
      // session catalog as a query side effect; the emitted select list only
      // names li()'s columns, so the scan still prunes
      s.sql(SqlEmitter.emit(d.spec, s"parquet.`$dir/lineitem.parquet`", li(s, dir).schema))
        .select(d.outCols.map(org.apache.spark.sql.functions.col): _*)
    }),

    // as-of join: each event gets the user's most recent order price
    "q38_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
      val r = Tables.orders(s, dir)
        // o_orderdate reads as TIMESTAMP_NTZ; session tz is UTC, so the cast
        // pins the same instant DuckDB's epoch_us sees
        .groupBy(col("o_custkey").as("k"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
        .agg(max_by(col("o_totalprice"), col("o_orderkey")).as("price"))
      operators.AsOfJoin.asOf(e, r,
        leftKey = "user_id", leftTime = "us",
        rightKey = "k", rightTime = "us", payload = Seq("price"))
        .select("event_id", "user_id", "asof_price")
    }),

    "q37_events_leadlag" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(byUser))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .select("event_id", "user_id", "event_type", "value", "prev_value", "next_type")
    }),

    // ---- round 5: vocab / keywords / spans / incremental dedup / sampling --
    // corpus vocabulary with frequency-ranked ids (tokenizer-training stage)
    "q64_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), minCount = 2)),

    // top-3 TF-IDF keywords per document (topical fingerprints for curation)
    "q65_tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfIdfKeywords(Tables.documents(s, dir), topK = 3)),

    // cluster-balanced embedding sample: 8 anchor clusters × top-10 each
    "q66_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(Tables.embeddings(s, dir), nClusters = 8, perCluster = 10)),

    // incremental EXACT dedup of a derived "new crawl" batch against the
    // corpus: fresh docs (never seen — ' fresh <id>' suffix) survive, exact
    // copies of corpus docs are dropped by the hash anti-join, and an
    // intra-batch duplicate pair pins first-id-wins
    "q67_dedup_incremental" -> ((s, dir) =>
      Dedup.dedupAgainstCorpus(incrementalBatch(s, dir), Tables.documents(s, dir))),

    // Bloom-gated incremental dedup: the corpus compresses to a Bloom
    // filter; only might_contain rows pay the anti-join, and the exact
    // verify removes the false positives — output provably identical to
    // q67, which is why it earns the same oracle
    "q114_dedup_bloom_gated" -> ((s, dir) =>
      Dedup.bloomGatedDedupAgainstCorpus(incrementalBatch(s, dir),
        Tables.documents(s, dir))),

    // incremental NEAR-dup dedup (LSH candidates → exact-Jaccard verify,
    // batch × corpus): exact copies (j=1.0) and doubled texts (j≈0.93 vs
    // their source) drop; x-suffixed docs share ZERO grams with the corpus
    // (no corpus word ends in 'x') and survive. One-slot bands = the q46
    // completeness regime: planted true pairs sit ≥ 0.8 - ε (doubled-vs-
    // source's OTHER neighbors bottom out ≈ 0.6), so per-pair miss ≤
    // (0.4)^16 ≈ 4e-7 — probe-verified 0 missed at all 3 SFs (same
    // dataset-dependence caveat as q46).
    "q68_neardup_incremental" -> ((s, dir) =>
      Dedup.nearDupAgainstCorpus(nearDupBatch(s, dir), Tables.documents(s, dir),
        n = 3, numHashes = 16, bands = 16, threshold = 0.5)),

    // q68's PRODUCTION shape: corpus band keys + verification grams persist
    // once (writeMinHashIndex), every later batch probes the parquet layout
    // without re-reading corpus text. The index builds lazily on the FIRST
    // q98 construction for an SF dir and is reused by every later one (the
    // steady-state serving shape), and the result must hash-match q68's
    // oracle exactly: the layout loses nothing vs recomputation.
    "q98_neardup_indexed" -> ((s, dir) =>
      Dedup.nearDupAgainstIndex(nearDupBatch(s, dir), q98IndexPath(s, dir),
        threshold = 0.5)),

    // exact-substring duplicated spans: maximal token spans covered by
    // 5-grams occurring in ≥ 2 documents (ExactSubstr-style span dedup)
    "q69_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.documents(s, dir), k = 5, broadcastHot = true)),

    // ExactSubstr span REMOVAL: q69's spans dropped from the text; row count
    // stable (untouched docs verbatim, fully-covered docs → empty string)
    "q70_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(Tables.documents(s, dir), k = 5, broadcastHot = true)),

    // repetition SCRUB mode: occurrence-count ≥ 2 anywhere (a doc repeating
    // its own content gets spans too — Gopher repetition as removal, not
    // just the q55 doc-level flag)
    "q71_selfrep_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.documents(s, dir), k = 3, crossDocOnly = false,
        broadcastHot = true)),

    // BYTE-level ExactSubstr (the paper's own granularity): 20-byte windows
    // shared across docs merge to maximal byte spans — catches sub-word /
    // whitespace-variant duplication that word 5-grams miss
    "q89_byte_spans" -> ((s, dir) =>
      Dedup.duplicatedByteSpans(Tables.documents(s, dir), k = 20, broadcastHot = true)),

    // byte-span removal by interval COMPLEMENT (no per-byte explode: one
    // row per span, substring slicing against the original text)
    "q90_remove_byte_spans" -> ((s, dir) =>
      Dedup.removeDuplicatedByteSpans(Tables.documents(s, dir), k = 20, broadcastHot = true)),

    // interval join (Flink-style): pairs of a user's events within ±10 min,
    // bucketized into a pure equi-join on (user, time-bucket) — the raw
    // |Δt| <= d theta condition would plan as a per-key cartesian
    "q72_interval_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
      operators.AsOfJoin.interval(
        e, e.select(col("event_id").as("other_id"), col("user_id"), col("us")),
        leftKey = "user_id", leftTime = "us",
        rightKey = "user_id", rightTime = "us",
        tolerance = 600000000L, payload = Seq("other_id"))
        .filter(col("event_id") =!= col("right_other_id"))
        .select(col("event_id"), col("user_id"), col("us"),
          col("right_other_id").as("other_id"))
    }),

    // SemDeDup on the derived fixture that plants real semantic duplicates:
    // exact copies (cos 1.0) and mixed copies (cos ≈ 0.995) both clear the
    // 0.99 threshold and land in their original's cluster, so the pruning
    // actually fires; corpus background pairs sit at cos ≈ 0.5, far from
    // the rounding boundary
    "q73_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(derivedEmbeddings(s, dir), nClusters = 8, threshold = 0.99)),

    // BM25 top-10 per query term over the documents corpus
    "q74_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Scores(Tables.documents(s, dir), bm25Terms)),

    // q74's PRODUCTION shape: the corpus tokenizes ONCE into a
    // term-bucketed posting-list layout (the MinHash-index / IVF-cells
    // serving convention); every probe reads only its terms' buckets
    // (planning-time PartitionFilters) and never corpus text. Shares
    // bm25Scores' ranking core, so q74's oracle gating this query proves
    // the layout is lossless
    "q119_bm25_indexed" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, q119IndexPath(s, dir), bm25Terms)),

    // continuous ingest for the inverted index: 3/4 of the corpus builds,
    // the last quarter APPENDS (manifest-modulus buckets, idempotent id
    // skip, exact counter bump) — probing under the FULL-corpus oracle
    // proves append ≡ rebuild
    "q121_bm25_index_append" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, q121IndexPath(s, dir), bm25Terms)),

    // INDEX COMPACTION, postings side: the q121 build+append chain's
    // per-batch small files collapse to one file per bucket (see
    // compactInvertedIndex); the probe must still equal the
    // full-corpus BM25 — compaction moves bytes, never rows
    "q228_bm25_index_compact" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, q228IndexPath(s, dir), bm25Terms)),

    // INDEX COMPACTION, MinHash side: band/gram tables built on 3/4,
    // appended with the last quarter, compacted to a fixed file count —
    // the probe must equal q98's full-corpus-index result (append ≡
    // rebuild and compaction ≡ identity, one gate)
    "q230_neardup_index_compact" -> ((s, dir) =>
      Dedup.nearDupAgainstIndex(nearDupBatch(s, dir), q230IndexPath(s, dir),
        threshold = 0.5)),

    // INDEX COMPACTION, IVF side: q110's build+append chain compacted
    // to one file per cell; probing all cells must still equal brute
    // force over the whole corpus
    "q229_ann_ivf_compact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.ivfTopKFromIndex(s, q229IndexPath(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 10), k = 5, nProbe = 16)
    }),

    // INDEX DELETION, postings side: a retracted ninth of the corpus
    // deleted from the layout (rows gone, manifest counters
    // decremented) — the probe must equal BM25 over a corpus that
    // never contained those docs (delete ≡ rebuild-without)
    "q235_bm25_index_delete" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, q235IndexPath(s, dir), bm25Terms)),

    // INDEX LIFECYCLE capstone: build → append → retract → recrawl-
    // UPDATE (delete stale + append re-texted) → compact, probed once
    // (see q243IndexPath) — the composition gate over the individually-
    // verified ops; the updated text injects extra query-term hits so
    // tf/df/avgdl all shift through the update
    "q243_index_lifecycle" -> ((s, dir) =>
      TextAnalysis.bm25FromIndex(s, q243IndexPath(s, dir), bm25Terms)),

    // IVF LIFECYCLE: build → append → retract → re-embed (delete +
    // append negated vectors) → compact; probe-all == brute force over
    // the corpus as it now stands (see q244IndexPath)
    "q244_ann_ivf_lifecycle" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.ivfTopKFromIndex(s, q244IndexPath(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 10), k = 5, nProbe = 16)
    }),

    // MINHASH LIFECYCLE: build → append → retract → recrawl-update →
    // compact; the probe equals the exact screen over the corpus as it
    // now stands (see q245IndexPath)
    "q245_neardup_lifecycle" -> ((s, dir) =>
      Dedup.nearDupAgainstIndex(nearDupBatch(s, dir), q245IndexPath(s, dir),
        threshold = 0.5)),

    // INDEX DELETION, IVF side: the retracted vectors' cell rows gone
    // under frozen centroids; probe-all must equal brute force over
    // only the survivors (deleted ids still arrive as queries, never
    // as neighbors)
    "q236_ann_ivf_delete" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.ivfTopKFromIndex(s, q236IndexPath(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 10), k = 5, nProbe = 16)
    }),

    // INDEX DELETION, MinHash side: the retracted docs' band and gram
    // rows gone (the rewrite fuses with compaction); a batch doc whose
    // only near-match was retracted must now survive the screen
    "q237_neardup_index_delete" -> ((s, dir) =>
      Dedup.nearDupAgainstIndex(nearDupBatch(s, dir), q237IndexPath(s, dir),
        threshold = 0.5)),

    // normalization-aware exact dedup on the shouty fixture — upper-cased,
    // re-punctuated copies collapse onto their originals' normalized key
    "q75_normalized_dedup" -> ((s, dir) =>
      TextAnalysis.normalizedDedup(shoutyDocuments(s, dir))),

    // corpus-level top-20 word bigrams by exact count
    "q76_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(Tables.documents(s, dir), n = 2, k = 20)),

    // kNN graph at FULL probe (nProbe = nCells) for a 10% query subset —
    // exact, so the brute-force SQL oracle applies; the production probe
    // point (nProbe=4) is recall-pinned in OperatorsSpec. The blocked
    // equi-join plan shape is what PlanSpec pins — identical at any nProbe.
    "q77_knn_graph" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.knnGraph(Tables.embeddings(s, dir), k = 5,
        nCells = 16, nProbe = 16, queryPred = col("vec_id") % 10 === 0)
    }),

    // edit-distance fuzzy pairs on the suffix-edited fixture: ' xyz' copies
    // (distance 4) pair with their originals; ' abcdefghij' copies
    // (distance 11) stay out at maxDist=8; both preserve the block prefix
    "q78_fuzzy_pairs" -> ((s, dir) =>
      Dedup.fuzzyDupPairs(editedDocuments(s, dir), maxDist = 8, blockChars = 12)),

    // GROUPING SETS — the general form of q34's rollup / q44's cube
    "q79_grouping_sets" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
    }),

    // salted skew-join: semantically a plain inner join (the oracle), with
    // the hot-key spread plan shape pinned in PlanSpec
    "q80_salted_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"), col("o_totalprice"))
      SkewJoin.saltedJoin(li, o, "l_orderkey", saltBuckets = 8,
        saltSource = "l_linenumber")
    }),

    // per-group winsorization at exact 5/95 percentiles — the outlier-clip
    // data-cleaning stage; bounds attach via the window-free skew-safe
    // partition aggregate (no WindowExec sort), clip is a map-side
    // least/greatest. Percentile interpolation parity with quantile_cont is
    // q07's established result.
    "q82_winsorize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
      SkewJoin.partitionAgg(li, Seq("l_returnflag"), Seq(
          "q_lo" -> expr("percentile(l_quantity, 0.05)"),
          "q_hi" -> expr("percentile(l_quantity, 0.95)")))
        .withColumn("q_clipped", least(greatest(col("l_quantity"), col("q_lo")), col("q_hi")))
        .withColumn("was_clipped",
          col("l_quantity") < col("q_lo") || col("l_quantity") > col("q_hi"))
    }),

    // fixed-width histogram on integer cents — float prices convert to
    // exact cents first (round(x*100): 2-decimal values land within an ulp
    // of an integer, so both engines round identically), then pure integer
    // division bins; min/max are order-insensitive so doubles are safe
    "q83_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.orders(s, dir)
        .select(col("o_totalprice"), round(col("o_totalprice") * 100).cast("long").as("__cents"))
        .groupBy(expr("__cents div 5000000").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"), max(col("o_totalprice")).as("max_price"))
    }),

    // semi/anti joins — existence filtering without materializing the probe
    // side's columns (the build side reduces to distinct keys map-side);
    // here: customers WITH an urgent order and customers WITHOUT any order
    "q85_semi_anti_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val any = Tables.orders(s, dir).select(col("o_custkey"))
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("status", lit("has_urgent"))
        .unionAll(c.join(any, col("c_custkey") === col("o_custkey"), "left_anti")
          .withColumn("status", lit("no_orders")))
    }),

    // pivot (crosstab): wide per-group columns from the l_returnflag domain
    "q86_pivot" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))
        .select(col("l_linestatus"), col("A").as("qty_a"), col("N").as("qty_n"),
          col("R").as("qty_r"))
    }),

    // temperature mixing on the derived skewed relabeling (natural sources
    // are uniform — τ-sampling would be a no-op); τ=0.5 halves the big
    // source's share advantage: keep(big) = (n_small/n_big)^0.5
    "q84_temperature_mix" -> ((s, dir) =>
      operators.Sampling.temperatureMix(skewedSources(s, dir), tau = 0.5)),

    // three-stage ordered funnel over the events stream; times in
    // MICROseconds (ts div 1000) — DuckDB timestamps are µs-precision, so
    // raw-ns reach times can never hash-match (same idiom as q72/q38)
    "q81_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      operators.Funnel.funnel(e, stages = Seq("view", "click", "purchase"),
        timeCol = "us")
    }),
  )

  /** Query terms for the BM25 retrieval query (q74) — mid-frequency corpus
    * words so df spreads across the range instead of saturating at N. */
  private val bm25Terms = Seq("spark", "vector", "window", "merge", "scan")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted keys get a weaker rows-only check.
    * Window-query oracles are EMITTED ([[winOracle]]) from the same specs
    * the engine executes — hand-written oracle drift is structurally
    * impossible for q01–q17, q45, q49. */
  def oracleSql: Map[String, String] =
    winDefs.map { case (name, d) => name -> winOracle(d) } ++ Map(
      "q18_groupby_agg" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |sum(l_quantity) / count(*) AS avg_qty, count(*) AS n_rows
          |FROM lineitem WHERE l_quantity < 45
          |GROUP BY l_returnflag, l_linestatus""".stripMargin,

      "q19_join_topn" ->
        """WITH r AS (
          |  SELECT c_mktsegment, o_orderkey, o_totalprice,
          |         CAST(row_number() OVER (PARTITION BY c_mktsegment
          |           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
          |  FROM orders JOIN customer ON o_custkey = c_custkey)
          |SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM r WHERE rnk <= 3""".stripMargin,

      "q20_dedup_exact" ->
        """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM documents GROUP BY md5(text)""".stripMargin,

      // q132: the argmax replayed as the equivalent window form —
      // highest micro priority wins, smallest id breaks ties
      "q132_dedup_keep_best" ->
        s"""WITH $qualityScoreCte,
           |sm AS (SELECT doc_id, CAST(round(quality_score * 1000000) AS BIGINT) AS p
           |       FROM score),
           |hh AS (SELECT d.doc_id, md5(text) AS content_hash, p
           |       FROM documents d JOIN sm USING (doc_id)),
           |r AS (SELECT content_hash, doc_id,
           |  row_number() OVER (PARTITION BY content_hash ORDER BY p DESC, doc_id) AS rn,
           |  count(*) OVER (PARTITION BY content_hash) AS nd FROM hh)
           |SELECT content_hash, doc_id AS keep_id, nd::BIGINT AS n_dups
           |FROM r WHERE rn = 1""".stripMargin,

      "q21_dedup_ngram_jaccard" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
          |c AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
          |p AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS n_common
          |      FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
          |      GROUP BY 1, 2)
          |SELECT doc1, doc2, n_common,
          |       CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) AS jaccard
          |FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
          |WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.1""".stripMargin,

      "q54_dedup_jaccard_guarded" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
          |k AS (SELECT doc_id, gram FROM g
          |      QUALIFY count(*) OVER (PARTITION BY gram) <= 0.01 * (SELECT count(*) FROM documents)),
          |c AS (SELECT doc_id, count(*) AS n_grams FROM k GROUP BY doc_id),
          |p AS (SELECT k1.doc_id AS doc1, k2.doc_id AS doc2, count(*) AS n_common
          |      FROM k k1 JOIN k k2 ON k1.gram = k2.gram AND k1.doc_id < k2.doc_id
          |      GROUP BY 1, 2)
          |SELECT doc1, doc2, n_common,
          |       CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) AS jaccard
          |FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
          |WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.1""".stripMargin,

      "q24_embed_neardup" ->
        """SELECT a.vec_id AS id1, b.vec_id AS id2,
          |round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4""".stripMargin,

      // the signature fixture's true pair set is its construction: surviving
      // %5==0 docs pair with their +10M exact copies — slot agreement 16/16
      // (est 1.0), SimHash Hamming 0 (see signatureDocuments)
      "q22_dedup_minhash" ->
        s"""WITH $signatureDocsSql
           |SELECT doc_id AS doc1, doc_id + 10000000 AS doc2, 1.0::DOUBLE AS est_jaccard
           |FROM planted""".stripMargin,

      // full SimHash semantics: recompute the portable signature (same
      // > 0 bit rule as SimHashSignature; bits 60–63 identically 0) and
      // brute-force the Hamming join — Spark's banded candidates are
      // complete for <= 3 by pigeonhole, so the sets must match exactly
      "q23_dedup_simhash" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |hs AS (SELECT doc_id, ('0x' || substring(md5(u.w), 1, 15))::BIGINT AS h
          |       FROM w, UNNEST(ws) AS u(w)),
          |bits AS (SELECT doc_id, j,
          |         CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
          |              THEN (1::BIGINT << j) ELSE 0 END AS bitv
          |         FROM hs, UNNEST(range(0, 60)) AS t(j)
          |         GROUP BY doc_id, j),
          |sig AS (SELECT doc_id, sum(bitv)::BIGINT AS simhash FROM bits GROUP BY doc_id)
          |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

      // q136: the STRUCTURAL replay (see the query comment) — rebuild the
      // signature fixture's doc set, then pair docs whose word MULTISETS
      // are equal (sorted word lists): exactly the Hamming-0 pairs any
      // hash function must produce, and — on this near-dup-free fixture —
      // the entire Hamming ≤ 3 set
      "q136_simhash_prod" ->
        s"""WITH $signatureDocsSql,
           |sd AS (SELECT doc_id, text FROM documents
           |         WHERE doc_id NOT IN (SELECT doc_id FROM members)
           |       UNION ALL
           |       SELECT doc_id + 10000000, text FROM documents
           |         WHERE doc_id % 5 = 0
           |           AND doc_id NOT IN (SELECT doc_id FROM members)),
           |sw AS (SELECT doc_id, list_sort(string_split(text, ' ')) AS sl FROM sd)
           |SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(0 AS INT) AS hamming
           |FROM sw a JOIN sw b ON a.sl = b.sl AND a.doc_id < b.doc_id""".stripMargin,

      // q137: the DSIR replay (chain shared verbatim with q142)
      "q137_dsir_weights" ->
        s"""WITH $dsirCtes
           |SELECT doc_id, n_words, log_weight FROM dw""".stripMargin,

      // q142: the q118 naive-global-window selection replay over the SAME
      // dsir chain — the operator's bucketed decomposition must reproduce
      // the global prefix-sum verdict on the composed scorer too
      "q142_dsir_selection" ->
        s"""WITH $dsirCtes,
           |o AS (SELECT doc_id, log_weight, n_words,
           |  sum(n_words) OVER (ORDER BY log_weight DESC,
           |    md5(CAST(doc_id AS VARCHAR)), doc_id
           |    ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM dw)
           |SELECT doc_id, log_weight, n_words FROM o WHERE cum <= 10000""".stripMargin,

      // q144: full margin replay — round-6-then-integerize cosines (the
      // engine-ulp policy), top-k sums per side, the integer ratio margin
      // cos·2·kx·ky·10⁶ // (sx·ky + sy·kx) on all-positive operands
      // (// ≡ div there), best-margin row per source vector
      "q144_bitext_mine" ->
        """WITH l AS (SELECT doc_id, lang FROM documents),
          |a AS (SELECT e.vec_id AS src_id, e.embedding::DOUBLE[] AS v FROM embeddings e JOIN l ON e.vec_id = l.doc_id WHERE l.lang = 'en'),
          |b AS (SELECT e.vec_id AS tgt_id, e.embedding::DOUBLE[] AS v FROM embeddings e JOIN l ON e.vec_id = l.doc_id WHERE l.lang = 'de'),
          |p AS (SELECT src_id, tgt_id,
          |      CAST(round(round(list_cosine_similarity(a.v, b.v), 6) * 1000000, 0) AS BIGINT) AS cos_e6 FROM a, b),
          |f AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cos_e6 DESC, tgt_id) AS rf FROM p),
          |fk AS (SELECT src_id, tgt_id, cos_e6 FROM f WHERE rf <= 4),
          |sx AS (SELECT src_id, sum(cos_e6) AS sx, count(*) AS kx FROM fk GROUP BY 1),
          |g AS (SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY cos_e6 DESC, src_id) AS rb FROM p),
          |sy AS (SELECT tgt_id, sum(cos_e6) AS sy, count(*) AS ky FROM g WHERE rb <= 4 GROUP BY 1),
          |m AS (SELECT fk.src_id, fk.tgt_id, fk.cos_e6,
          |      CAST((fk.cos_e6 * 2 * kx * ky * 1000000) // (sx * ky + sy * kx) AS BIGINT) AS margin_e6
          |      FROM fk JOIN sx USING (src_id) JOIN sy USING (tgt_id)
          |      WHERE fk.cos_e6 > 0 AND (sx * ky + sy * kx) > 0),
          |r AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY margin_e6 DESC, tgt_id) AS rr FROM m)
          |SELECT src_id, tgt_id, cos_e6, margin_e6 FROM r WHERE rr = 1 AND margin_e6 >= 1050000""".stripMargin,

      // q145: group-by entropy replay — H = ln N − Σ n·ln n / N per doc;
      // the operator's in-row sorted-run fold and this group-by sum add
      // the same terms in different orders, which round-6 absorbs (the
      // q60 policy); empty-text docs excluded on both sides (the engines'
      // char-split conventions diverge on '')
      "q145_entropy_stats" ->
        """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents WHERE len(text) > 0),
          |cc AS (SELECT doc_id, ch, count(*) AS n FROM c GROUP BY 1, 2),
          |ce AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
          |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS char_entropy FROM cc GROUP BY doc_id),
          |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents WHERE len(text) > 0),
          |wc AS (SELECT doc_id, wd, count(*) AS n FROM w GROUP BY 1, 2),
          |we AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
          |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS word_entropy FROM wc GROUP BY doc_id)
          |SELECT ce.doc_id, n_chars, char_entropy, n_words, word_entropy
          |FROM ce JOIN we ON ce.doc_id = we.doc_id""".stripMargin,

      // q146: full replay — SPDX extraction with the operator's own regex,
      // phrase CASE generated from the SAME priority list, IN-list from the
      // SAME permissive set (drift-free)
      "q146_license_detect" -> {
        val phraseCase = operators.CodeAnalysis.licensePhrases.map {
          case (id, p) => s"WHEN contains(text, ${sqlTextLit(p)}) THEN '$id'"
        }.mkString(" ")
        val permissive = operators.CodeAnalysis.permissiveIds.toSeq.sorted
          .map(i => s"'$i'").mkString(", ")
        s"""WITH cd AS ($codeFixtureSql),
           |x AS (SELECT doc_id,
           |  regexp_extract(text, '${operators.CodeAnalysis.spdxRe}', 1) AS spdx,
           |  CASE $phraseCase ELSE 'none' END AS phrase FROM cd),
           |v AS (SELECT doc_id,
           |  CASE WHEN spdx <> '' THEN spdx ELSE phrase END AS license,
           |  CASE WHEN spdx <> '' THEN 'spdx'
           |       WHEN phrase <> 'none' THEN 'phrase'
           |       ELSE 'none' END AS detection FROM x)
           |SELECT doc_id, license, detection,
           |  license IN ($permissive) AS permissive FROM v""".stripMargin
      },

      // q147: integer-count replay — translate-delta symbol count, line
      // splits on chr(10), starts_with/ends_with filters, micro score via
      // `//` (≡ div on the non-negative operands)
      "q147_code_score" ->
        s"""WITH cd AS ($codeFixtureSql),
           |s AS (SELECT doc_id,
           |  greatest(len(text), 1)::BIGINT AS nc,
           |  (len(text) - len(translate(text, '${operators.CodeAnalysis.symbolChars}', '')))::BIGINT AS n_symbols,
           |  len(string_split(text, chr(10)))::BIGINT AS n_lines,
           |  len(list_filter(string_split(text, chr(10)),
           |    l -> starts_with(l, '  ') OR starts_with(l, chr(9))))::BIGINT AS n_indented,
           |  len(list_filter(string_split(text, chr(10)),
           |    l -> ends_with(l, ';') OR ends_with(l, '{') OR ends_with(l, '}')))::BIGINT AS n_punct_end
           |  FROM cd)
           |SELECT doc_id, n_symbols, n_lines, n_indented, n_punct_end,
           |  CAST(4 * ((1000000 * n_symbols) // nc)
           |     + 2 * ((1000000 * n_indented) // n_lines)
           |     + 2 * ((1000000 * n_punct_end) // n_lines) AS BIGINT) AS score_e6,
           |  (4 * ((1000000 * n_symbols) // nc)
           |     + 2 * ((1000000 * n_indented) // n_lines)
           |     + 2 * ((1000000 * n_punct_end) // n_lines))
           |    >= ${operators.CodeAnalysis.defaultCodeThresholdE6} AS is_code
           |FROM s""".stripMargin,

      // q148: window replay of the in-row CDC fold — chunk index = count of
      // boundary words strictly BEFORE each position, chunk text via
      // ordered string_agg (the fold's has-flag join is defined to match it
      // exactly), boundary = 16-bit md5 bucket ≡ 0 mod 16 (the q40 idiom)
      "q148_cdc_chunks" ->
        s"""WITH dd AS ($dupFixtureSql),
           |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM dd WHERE len(text) > 0),
           |t AS (SELECT doc_id, CAST(i AS INT) AS pos, ws[i+1] AS word
           |      FROM w, UNNEST(range(0, len(ws))) t(i)),
           |b AS (SELECT doc_id, pos, word,
           |      CASE WHEN ('0x' || substr(md5(word), 1, 4))::INT % 16 = 0
           |           THEN 1 ELSE 0 END AS bd FROM t),
           |c AS (SELECT doc_id, pos, word,
           |      COALESCE(sum(bd) OVER (PARTITION BY doc_id ORDER BY pos
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           |      FROM b),
           |ch AS (SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           |       string_agg(word, ' ' ORDER BY pos) AS ctext,
           |       CAST(count(*) AS BIGINT) AS n_words
           |       FROM c GROUP BY doc_id, ci)
           |SELECT doc_id, chunk_idx, n_words, md5(ctext) AS chunk_hash
           |FROM ch""".stripMargin,

      // q149: the structural replay (q136 pattern) — the oracle never sees
      // pixels; it pairs image docs on the RENDER PARAMETER, which is by
      // construction exactly the set of picture-identical pairs the
      // scale-invariant dHash must recover at Hamming 0 (equal param ⇒
      // same picture ⇒ equal hash even across the 2× resolution split;
      // distinct params ⇒ independent 64-bit gradient signatures)
      "q149_image_phash_dedup" ->
        """WITH im AS (SELECT doc_id, doc_id % 13 AS p FROM documents WHERE doc_id % 7 = 0)
          |SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(0 AS INT) AS hamming
          |FROM im a JOIN im b ON a.p = b.p AND a.doc_id < b.doc_id""".stripMargin,

      // q158: the q102 chain → integer micro scores → per-source
      // quantile_cont median and MAD (both dyadic-exact doubles) → k=3 flag
      "q158_score_outliers" ->
        s"""WITH $qualityScoreCte,
           |sc AS (SELECT score.doc_id, d.source,
           |         CAST(round(quality_score * 1000000) AS BIGINT) AS score_e6
           |       FROM score JOIN documents d ON score.doc_id = d.doc_id),
           |m AS (SELECT source, quantile_cont(score_e6, 0.5) AS med_e6
           |      FROM sc GROUP BY source),
           |dv AS (SELECT sc.doc_id, sc.source, sc.score_e6, m.med_e6,
           |         abs(sc.score_e6 - m.med_e6) AS dev
           |       FROM sc JOIN m USING (source)),
           |md AS (SELECT source, quantile_cont(dev, 0.5) AS mad_e6
           |       FROM dv GROUP BY source)
           |SELECT dv.doc_id, dv.source, dv.score_e6, dv.med_e6, md.mad_e6,
           |  dv.dev > 3 * md.mad_e6 AS is_outlier
           |FROM dv JOIN md USING (source)""".stripMargin,

      // q157: the q143 matrix → ≥20-shared edges on md5-prefix numeric
      // source ids → the q41 reachability min-label replay → names back
      "q157_mirror_clusters" ->
        s"""WITH RECURSIVE md AS ($mirrorFixtureSql),
           |hs AS (SELECT md5(text) AS h, source AS src, count(*) AS n FROM md GROUP BY 1, 2),
           |mx AS (SELECT a.src AS src_a, b.src AS src_b
           |       FROM hs a JOIN hs b ON a.h = b.h AND a.src < b.src
           |       GROUP BY 1, 2 HAVING count(*) >= 20),
           |ids AS (SELECT DISTINCT source,
           |        ('0x' || substr(md5(source), 1, 15))::BIGINT AS nid FROM md),
           |edges AS (SELECT ia.nid AS src, ib.nid AS dst FROM mx
           |            JOIN ids ia ON mx.src_a = ia.source
           |            JOIN ids ib ON mx.src_b = ib.source
           |          UNION
           |          SELECT ib.nid, ia.nid FROM mx
           |            JOIN ids ia ON mx.src_a = ia.source
           |            JOIN ids ib ON mx.src_b = ib.source),
           |reach AS (
           |  SELECT src AS node, src AS lab FROM edges
           |  UNION
           |  SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.node),
           |cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
           |SELECT ids.source, cc.cluster_id FROM cc JOIN ids ON cc.node = ids.nid""".stripMargin,

      // q156: group on the render parameter (≡ the dhash, q149's
      // structural argument), pixels from the construction (36·32, ×4 for
      // the 2×-replicated odd half), keeper = min id among max pixels
      "q156_image_keep_best" ->
        """WITH im AS (SELECT doc_id,  doc_id % 13 AS p,
          |  CAST(CASE WHEN doc_id % 2 = 1 THEN 72 * 64 ELSE 36 * 32 END AS BIGINT) AS pixels
          |  FROM documents WHERE doc_id % 7 = 0),
          |g AS (SELECT p, max(pixels) AS mp, CAST(count(*) AS BIGINT) AS n FROM im GROUP BY p)
          |SELECT min(i.doc_id) AS keep_id, g.n AS n_members, g.mp AS pixels
          |FROM g JOIN im i ON i.p = g.p AND i.pixels = g.mp
          |GROUP BY g.p, g.n, g.mp""".stripMargin,

      // q150: the UniMax walk as a recursive CTE — sources ascending by
      // (n_tokens, source), state = budget remaining after each step; the
      // per-source take is min(cap, rem // sources_left), all floor-integer
      "q150_unimax_mix" ->
        """WITH RECURSIVE c AS (
          |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1),
          |o AS (
          |  SELECT source, n_tokens,
          |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rn,
          |    CAST(count(*) OVER () AS BIGINT) AS m
          |  FROM c),
          |walk AS (
          |  SELECT CAST(0 AS BIGINT) AS rn, CAST(52000 AS BIGINT) AS rem
          |  UNION ALL
          |  SELECT o.rn, walk.rem - least(o.n_tokens * 2, walk.rem // (o.m - walk.rn))
          |  FROM walk JOIN o ON o.rn = walk.rn + 1)
          |SELECT o.source, o.n_tokens,
          |  least(o.n_tokens * 2, w.rem // (o.m - o.rn + 1)) AS alloc_tokens,
          |  CASE WHEN o.n_tokens > 0
          |    THEN least(o.n_tokens * 2, w.rem // (o.m - o.rn + 1)) * 1000000 // o.n_tokens
          |    ELSE 0 END AS epochs_e6,
          |  least(o.n_tokens * 2, w.rem // (o.m - o.rn + 1)) * 1000000 // 52000 AS share_e6
          |FROM o JOIN walk w ON w.rn = o.rn - 1""".stripMargin,

      // q155: the q150 walk feeding the q106 coin — epochs_e6 splits into
      // floor + integer-ceiling 1/65536 threshold, generate_series(0,
      // nc-1) empties at nc = 0 exactly like the operator's filter
      "q155_unimax_apply" ->
        """WITH RECURSIVE c AS (
          |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1),
          |o AS (
          |  SELECT source, n_tokens,
          |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rn,
          |    CAST(count(*) OVER () AS BIGINT) AS m
          |  FROM c),
          |walk AS (
          |  SELECT CAST(0 AS BIGINT) AS rn, CAST(52000 AS BIGINT) AS rem
          |  UNION ALL
          |  SELECT o.rn, walk.rem - least(o.n_tokens * 2, walk.rem // (o.m - walk.rn))
          |  FROM walk JOIN o ON o.rn = walk.rn + 1),
          |a AS (
          |  SELECT o.source,
          |    least(o.n_tokens * 2, w.rem // (o.m - o.rn + 1)) * 1000000 // o.n_tokens AS e6
          |  FROM o JOIN walk w ON w.rn = o.rn - 1),
          |x AS (
          |  SELECT d.doc_id, d.source,
          |    CAST(e6 // 1000000 AS INT) +
          |    CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR || ':up'), 1, 4))::BIGINT
          |         < ((e6 % 1000000) * 65536 + 999999) // 1000000
          |         THEN 1 ELSE 0 END AS nc
          |  FROM documents d JOIN a ON d.source = a.source)
          |SELECT doc_id, source, epoch::INT AS epoch
          |FROM x, UNNEST(generate_series(0, nc - 1)) t(epoch)""".stripMargin,

      // q151: full replay of the trap signals — the same path regex, the
      // same in-list lambda folds (depth / max repeat / param count), the
      // same digit-mask census; thresholds 8/3/5/40 mirrored as literals
      "q151_crawl_traps" ->
        s"""WITH f AS ($trapUrlFixtureSql),
           |s AS (SELECT doc_id, url,
           |  regexp_replace(url, '[0-9]+', '0', 'g') AS tpl,
           |  list_filter(string_split(regexp_extract(url, '${operators.UrlOps.pathRe}', 1), '/'), x -> x <> '') AS segs,
           |  regexp_extract(regexp_replace(url, '#.*$$', ''), '\\?(.*)$$', 1) AS q
           |  FROM f),
           |t AS (SELECT doc_id, tpl,
           |  CAST(len(segs) AS INT) AS depth,
           |  CAST(coalesce(list_max(list_transform(segs, s1 -> len(list_filter(segs, x -> x = s1)))), 0) AS INT) AS max_seg_repeat,
           |  CAST(CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END AS INT) AS n_params
           |  FROM s),
           |c AS (SELECT tpl, count(DISTINCT url) AS n_template_urls FROM s GROUP BY 1)
           |SELECT t.doc_id, t.depth, t.max_seg_repeat, t.n_params,
           |  CAST(c.n_template_urls AS BIGINT) AS n_template_urls,
           |  (t.depth > 8 OR t.max_seg_repeat >= 3 OR t.n_params > 5
           |    OR c.n_template_urls >= 40) AS is_trap
           |FROM t JOIN c ON t.tpl = c.tpl""".stripMargin,

      // q154: the four verified signal chains composed in one WITH —
      // qualityScoreCte carries both the rule fractions (qf) and the
      // pinned-weights score; the badword and entropy chains replay
      // q116/q145 under collision-free CTE names; flags and the keep
      // conjunction are pure boolean algebra over them
      "q154_curation_scorecard" ->
        s"""WITH $scorecardCtes
           |SELECT doc_id, gopher_fail, score_low, badword_hit, entropy_low,
           |  NOT (gopher_fail OR score_low OR badword_hit OR entropy_low) AS keep
           |FROM fl""".stripMargin,

      // q183: the persisted-tokenizer query is semantically IDENTICAL to
      // q171 (tokenCounts under the same table, loaded vs constant), so
      // it earns the same oracle — the gate proves the parquet round trip
      // loses nothing (the q104/q119 shared-oracle pattern)
      "q183_unigram_persisted" ->
        s"""WITH RECURSIVE $wordCountCtes,
           |$unigramCtes
           |SELECT doc_id, n_words, n_unigram_tokens FROM uni""".stripMargin,

      // q182: both ranking chains replayed (q162's 8-dim prefix, q25's
      // full-dim) + the integer metrics join
      "q182_ann_eval" ->
        """WITH q8 AS (SELECT vec_id AS q_id, (embedding::DOUBLE[])[1:8] AS qv
          |           FROM embeddings WHERE vec_id < 10),
          |c8 AS (SELECT vec_id AS n_id, (embedding::DOUBLE[])[1:8] AS nv FROM embeddings),
          |s8 AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cs
          |      FROM q8, c8 WHERE q_id <> n_id),
          |ap AS (SELECT q_id AS query_id, n_id AS doc_id,
          |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS INT)
          |        AS a_rank
          |      FROM s8 QUALIFY a_rank <= 5),
          |qf AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
          |      WHERE vec_id < 10),
          |cf AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
          |sf AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cs
          |      FROM qf, cf WHERE q_id <> n_id),
          |ex AS (SELECT q_id AS query_id, n_id AS doc_id
          |      FROM (SELECT q_id, n_id,
          |            CAST(row_number() OVER (PARTITION BY q_id
          |              ORDER BY cs DESC, n_id) AS INT) AS rnk FROM sf)
          |      WHERE rnk <= 5),
          |pq AS (SELECT ap.query_id,
          |      CAST(count(*) AS BIGINT) AS n_ranked,
          |      CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |        AS n_hits,
          |      min(CASE WHEN ex.doc_id IS NOT NULL THEN ap.a_rank END) AS fr
          |      FROM ap LEFT JOIN ex
          |        ON ap.query_id = ex.query_id AND ap.doc_id = ex.doc_id
          |      GROUP BY 1),
          |rl AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
          |      FROM ex GROUP BY 1)
          |SELECT coalesce(rl.query_id, pq.query_id) AS query_id,
          |  coalesce(rl.n_relevant, 0) AS n_relevant,
          |  coalesce(pq.n_ranked, 0) AS n_ranked,
          |  coalesce(pq.n_hits, 0) AS n_hits,
          |  (1000000 * coalesce(pq.n_hits, 0))
          |    // greatest(coalesce(rl.n_relevant, 0), 1) AS recall_e6,
          |  coalesce(1000000 // pq.fr, 0)::BIGINT AS rr_e6
          |FROM rl FULL OUTER JOIN pq ON rl.query_id = pq.query_id""".stripMargin,

      // q180: the multi-term BM25 replay (shared chain)
      "q180_bm25_query" ->
        s"""WITH $bm25QueryCtes
           |SELECT query_id, doc_id, score_micro, rank FROM bq""".stripMargin,

      // q181: the q180 chain fused with the q25 dense chain through the
      // integer RRF kernel (the q170 fusion SQL with bq as the lexical
      // side)
      "q181_hybrid_bm25_dense" ->
        s"""WITH $bm25QueryCtes,
           |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
           |      WHERE vec_id < 8),
           |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
           |s AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
           |      FROM q, c WHERE q_id <> n_id),
           |dn AS (SELECT q_id AS query_id, n_id AS doc_id,
           |        CAST(row_number() OVER (PARTITION BY q_id
           |          ORDER BY cos_sim DESC, n_id) AS INT) AS dense_rank
           |      FROM s QUALIFY dense_rank <= 10),
           |lx AS (SELECT query_id, doc_id, rank AS lex_rank FROM bq),
           |fu AS (SELECT coalesce(lx.query_id, dn.query_id) AS query_id,
           |        coalesce(lx.doc_id, dn.doc_id) AS doc_id,
           |        lx.lex_rank, dn.dense_rank,
           |        coalesce(1000000 // (60 + lx.lex_rank), 0) +
           |        coalesce(1000000 // (60 + dn.dense_rank), 0) AS rrf_e6
           |      FROM lx FULL OUTER JOIN dn
           |        ON lx.query_id = dn.query_id AND lx.doc_id = dn.doc_id)
           |SELECT query_id, doc_id, lex_rank, dense_rank,
           |  CAST(rrf_e6 AS BIGINT) AS rrf_e6,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY rrf_e6 DESC, doc_id) AS INT) AS fused_rank
           |FROM fu QUALIFY fused_rank <= 10""".stripMargin,

      // q179: relational replay — first occurrence per (doc, line) by
      // position, ordered re-aggregation (vs the operator's in-row
      // positional filter)
      "q179_dedup_doc_lines" ->
        """WITH fx AS (SELECT doc_id, text ||
          |    repeat(chr(10) || 'please subscribe to our newsletter',
          |           CAST(doc_id % 3 AS INT) + 1) ||
          |    chr(10) || 'ref code ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents),
          |b AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM fx),
          |l AS (SELECT doc_id, i, ls[i] AS line
          |      FROM b, UNNEST(range(1, len(ls) + 1)) t(i)),
          |r AS (SELECT doc_id, i, line,
          |      row_number() OVER (PARTITION BY doc_id, line ORDER BY i) AS rn
          |      FROM l),
          |k AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS txt,
          |      count(*) AS nk FROM r WHERE rn = 1 GROUP BY 1)
          |SELECT b.doc_id, coalesce(k.txt, '') AS text_deduped,
          |  CAST(len(b.ls) - coalesce(k.nk, 0) AS INT) AS n_removed_lines
          |FROM b LEFT JOIN k ON b.doc_id = k.doc_id""".stripMargin,

      // q178: FULL replay of NB training and inference — add-1 word
      // log-probs in the q144 round-6-then-integerize micro-units,
      // unseen-word class mass, prior + integer sum, argmax by
      // (score desc, class asc)
      "q178_nb_classifier" -> {
        val langCase = langIdPhrases.zipWithIndex
          .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ")
        val phraseCase = "(CASE doc_id % 5 " + langIdPhrases.zipWithIndex
          .map { case ((_, p), i) => s"WHEN $i THEN '$p'" }.mkString(" ") + " END)"
        s"""WITH fx AS (SELECT doc_id, CASE doc_id % 5 $langCase END AS lbl,
           |  text || ' ' || $phraseCase || ' ' || $phraseCase || ' ' || $phraseCase AS t
           |  FROM documents),
           |w AS (SELECT doc_id, lbl, doc_id % 7 = 0 AS held,
           |      unnest(string_split(t, ' ')) AS word FROM fx),
           |wc AS (SELECT lbl, word, CAST(count(*) AS BIGINT) AS c
           |      FROM w WHERE NOT held GROUP BY 1, 2),
           |ct AS (SELECT lbl, CAST(sum(c) AS BIGINT) AS tot FROM wc GROUP BY 1),
           |vs AS (SELECT count(DISTINCT word) AS v FROM wc),
           |nt AS (SELECT count(*) AS n FROM fx WHERE doc_id % 7 <> 0),
           |nd AS (SELECT lbl, CAST(count(*) AS DOUBLE) AS nd
           |      FROM fx WHERE doc_id % 7 <> 0 GROUP BY 1),
           |ci AS (SELECT ct.lbl AS cls,
           |    CAST(round(round(ln(nd.nd / nt.n), 6) * 1000000, 0) AS BIGINT)
           |      AS prior_micro,
           |    CAST(round(round(ln(1.0 / (ct.tot + vs.v)), 6) * 1000000, 0) AS BIGINT)
           |      AS unseen_micro
           |  FROM ct CROSS JOIN vs CROSS JOIN nt JOIN nd ON nd.lbl = ct.lbl),
           |lp AS (SELECT wc.lbl AS cls, wc.word,
           |    CAST(round(round(ln((wc.c + 1) / CAST(ct.tot + vs.v AS DOUBLE)), 6)
           |      * 1000000, 0) AS BIGINT) AS lp_micro
           |  FROM wc JOIN ct ON wc.lbl = ct.lbl CROSS JOIN vs),
           |dw AS (SELECT doc_id, lbl, word, CAST(count(*) AS BIGINT) AS n
           |      FROM w WHERE held GROUP BY 1, 2, 3),
           |sc AS (SELECT dw.doc_id, dw.lbl, ci.cls,
           |    CAST(ci.prior_micro +
           |      sum(dw.n * coalesce(lp.lp_micro, ci.unseen_micro)) AS BIGINT) AS score
           |  FROM dw CROSS JOIN ci
           |  LEFT JOIN lp ON lp.cls = ci.cls AND lp.word = dw.word
           |  GROUP BY 1, 2, 3, ci.prior_micro),
           |rk AS (SELECT doc_id, lbl, cls, score,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
           |  FROM sc)
           |SELECT doc_id, lbl AS true_label, cls AS pred_label, score AS score_micro
           |FROM rk WHERE rn = 1""".stripMargin
      },

      // q177: the q88 pack replay over the q171 Viterbi chain
      "q177_pack_unigram" ->
        s"""WITH RECURSIVE $wordCountCtes,
           |$unigramCtes,
           |t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
           |      n_unigram_tokens AS n_tokens FROM uni),
           |s AS (SELECT doc_id, shard, n_tokens,
           |      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
           |           - n_tokens AS BIGINT) AS start_off FROM t)
           |SELECT doc_id, shard, n_tokens, start_off,
           |CAST(shard AS BIGINT) * 281474976710656 + start_off // 256 AS seq_id,
           |(start_off // 256) <> ((start_off + n_tokens - 1) // 256) AS crosses_boundary
           |FROM s""".stripMargin,

      // q195: the q177 pack arithmetic with the wp token counts (the
      // q188 greedy-walk CTE) as the budget column
      "q195_pack_wordpiece" ->
        s"""WITH RECURSIVE fx AS ($accentedFixtureSql),
           |$accentedWordCountCtes,
           |$wordPieceCtes,
           |t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
           |      n_wp_tokens AS n_tokens FROM wp),
           |s AS (SELECT doc_id, shard, n_tokens,
           |      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
           |           - n_tokens AS BIGINT) AS start_off FROM t)
           |SELECT doc_id, shard, n_tokens, start_off,
           |CAST(shard AS BIGINT) * 281474976710656 + start_off // 256 AS seq_id,
           |(start_off // 256) <> ((start_off + n_tokens - 1) // 256) AS crosses_boundary
           |FROM s""".stripMargin,

      // q176: INDEPENDENT recomputation — per-line group-by counts (vs
      // the operator's sorted-run fold), dup fractions over c >= 2 lines
      "q176_line_repetition" ->
        """WITH fx AS (SELECT doc_id, text ||
          |    repeat(chr(10) || 'please subscribe to our newsletter',
          |           CAST(doc_id % 3 AS INT) + 1) ||
          |    chr(10) || 'ref code ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents),
          |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM fx),
          |g AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2),
          |a AS (SELECT doc_id,
          |  CAST(sum(c) AS BIGINT) AS n_lines,
          |  CAST(count(*) AS BIGINT) AS n_distinct_lines,
          |  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occ,
          |  CAST(sum(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END) AS BIGINT)
          |    AS dup_chars,
          |  CAST(sum(c * length(line)) AS BIGINT) AS total_chars
          |  FROM g GROUP BY doc_id)
          |SELECT doc_id, n_lines, n_distinct_lines,
          |  (1000000 * dup_occ) // n_lines AS dup_line_frac_e6,
          |  (1000000 * dup_chars) // greatest(total_chars, 1) AS dup_char_frac_e6
          |FROM a""".stripMargin,

      // q175: the structural statement of [[videoRecords]]'s construction
      // — the walker must recover every field through actual byte
      // parsing, and the %5==3 truncated class contributes NO rows
      "q175_video_meta" ->
        """SELECT doc_id, 'isom' AS major_brand, 600::BIGINT AS timescale,
          |  CAST(1000 + (doc_id % 7) * 500 AS BIGINT) AS duration_ms,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
          |  1::INT AS n_video,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS n_audio,
          |  CASE WHEN doc_id % 2 = 0 THEN 'avc1,mp4a' ELSE 'avc1' END AS codecs
          |FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 <> 3""".stripMargin,

      // q174: the composition report from the CONSTRUCTION — the q114
      // gate replay decides survival; a survivor's term count / word
      // count state what the postings append and score materialization
      // must have written, its base embedding what the IVF append must
      // have landed; a dropped doc must appear in no store
      "q174_ingest_capstone" ->
        """WITH batch AS (
          |  SELECT doc_id + 1000000 AS doc_id,
          |         text || ' fresh ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 4 = 1
          |  UNION ALL
          |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 5 = 0
          |  UNION ALL
          |  SELECT doc_id + 3000000, text || ' fresh ' || CAST(doc_id AS VARCHAR)
          |  FROM documents WHERE doc_id % 4 = 1),
          |firsts AS (SELECT doc_id, text,
          |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |           FROM batch),
          |surv AS (SELECT doc_id, text FROM firsts
          |         WHERE rn = 1
          |           AND NOT EXISTS (SELECT 1 FROM documents d
          |                           WHERE d.text = firsts.text)),
          |np AS (SELECT doc_id, CAST(count(DISTINCT u.w) AS BIGINT) AS n_terms
          |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM surv),
          |            UNNEST(ws) AS u(w)
          |       GROUP BY doc_id)
          |SELECT b.doc_id,
          |  s.doc_id IS NOT NULL AS survived,
          |  coalesce(np.n_terms, 0::BIGINT) AS n_postings,
          |  (s.doc_id IS NOT NULL AND EXISTS (SELECT 1 FROM embeddings e
          |     WHERE e.vec_id = b.doc_id % 1000000)) AS in_ivf,
          |  CASE WHEN s.doc_id IS NOT NULL
          |       THEN CAST(len(string_split(s.text, ' ')) AS BIGINT)
          |  END AS scored_n_words
          |FROM batch b
          |LEFT JOIN surv s ON b.doc_id = s.doc_id
          |LEFT JOIN np ON b.doc_id = np.doc_id""".stripMargin,

      // q173: the exact FFD fold replay — docs per shard in (tokens desc,
      // id) order; the recursion carries each shard's per-bin remaining
      // capacities as an INT list, placing one doc per level (first fit
      // via list_position, else open a bin; >= cap docs open a closed bin)
      // q173: the shared first-fit CTE in FFD order (INT bin numbering —
      // the batch packer's type)
      "q173_pack_ffd" -> firstFitCteSql("n_tokens DESC, doc_id", "INT"),

      // q170: full replay of BOTH retrieval chains — the q153 hashed
      // cos² ranker on whole docs (top-10), the q25 dense cosine ranker
      // (queries < 8, top-10) — then the integer RRF fusion: full-outer
      // join, 10^6 // (60 + rank) per side, fused top-10 per query
      "q170_hybrid_rrf" ->
        """WITH pw AS (SELECT doc_id,
          |        ('0x' || substr(md5(w), 1, 4))::INT % 256 AS b
          |       FROM documents, UNNEST(string_split(text, ' ')) t(w)),
          |pv AS (SELECT doc_id, b, count(*) AS pc FROM pw GROUP BY 1, 2),
          |qv AS (SELECT doc_id AS query_id, b, count(*) AS qc FROM pw
          |       WHERE doc_id < 8 GROUP BY 1, 2),
          |pn AS (SELECT doc_id, sum(pc * pc) AS pss FROM pv GROUP BY 1),
          |qn AS (SELECT query_id, sum(qc * qc) AS qss FROM qv GROUP BY 1),
          |dt AS (SELECT qv.query_id, pv.doc_id, sum(pv.pc * qv.qc) AS dot
          |      FROM pv JOIN qv ON pv.b = qv.b GROUP BY 1, 2),
          |sc AS (SELECT dt.query_id, dt.doc_id,
          |        (dt.dot * dt.dot * 1000000) // (pn.pss * qn.qss) AS cos2_e6
          |      FROM dt JOIN pn ON dt.doc_id = pn.doc_id
          |              JOIN qn ON dt.query_id = qn.query_id),
          |lx AS (SELECT query_id, doc_id,
          |        CAST(row_number() OVER (PARTITION BY query_id
          |          ORDER BY cos2_e6 DESC, doc_id) AS INT) AS lex_rank
          |      FROM sc QUALIFY lex_rank <= 10),
          |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
          |      WHERE vec_id < 8),
          |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
          |s AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
          |      FROM q, c WHERE q_id <> n_id),
          |dn AS (SELECT q_id AS query_id, n_id AS doc_id,
          |        CAST(row_number() OVER (PARTITION BY q_id
          |          ORDER BY cos_sim DESC, n_id) AS INT) AS dense_rank
          |      FROM s QUALIFY dense_rank <= 10),
          |fu AS (SELECT coalesce(lx.query_id, dn.query_id) AS query_id,
          |        coalesce(lx.doc_id, dn.doc_id) AS doc_id,
          |        lx.lex_rank, dn.dense_rank,
          |        coalesce(1000000 // (60 + lx.lex_rank), 0) +
          |        coalesce(1000000 // (60 + dn.dense_rank), 0) AS rrf_e6
          |      FROM lx FULL OUTER JOIN dn
          |        ON lx.query_id = dn.query_id AND lx.doc_id = dn.doc_id)
          |SELECT query_id, doc_id, lex_rank, dense_rank,
          |  CAST(rrf_e6 AS BIGINT) AS rrf_e6,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY rrf_e6 DESC, doc_id) AS INT) AS fused_rank
          |FROM fu QUALIFY fused_rank <= 10""".stripMargin,

      // q169: the structural replay — DuckDB rebuilds the identical
      // planted strings (md5 agrees across engines) and states n_bytes
      // from length() (all-ASCII construction) and the verdict from the
      // class residue; the ENGINE must reach the same verdict through
      // an actual deflate
      "q169_compression_ratio" -> {
        val rnd = (0 until 32)
          .map(k => s"md5(CAST(doc_id AS VARCHAR) || ':$k')").mkString(" || ")
        val mix = (0 until 16)
          .map(k => s"md5(CAST(doc_id AS VARCHAR) || '#$k') || ' filler words here '")
          .mkString(" || ")
        s"""WITH dd AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0
           |         THEN repeat('the quick brown fox jumps over the lazy dog ', 24)
           |              || CAST(doc_id AS VARCHAR)
           |       WHEN doc_id % 3 = 1 THEN $rnd
           |       ELSE $mix END AS text
           |  FROM documents)
           |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
           |  CASE WHEN doc_id % 3 = 0 THEN 'repetitive'
           |       WHEN doc_id % 3 = 1 THEN 'random'
           |       ELSE 'ok' END AS verdict
           |FROM dd""".stripMargin
      },

      // q190: the chat-render replay (shared with q200 — see
      // [[chatRenderOracleSql]])
      "q190_chat_render" -> chatRenderOracleSql,

      // q200 reads the SAME transcripts back out of the STREAMING
      // session_window state's parquet file sink under the identical
      // oracle — stream ≡ batch ≡ oracle (the q53/q199 shared-gate
      // pattern; cross-batch merge rationale at [[chatRenderOracleSql]])
      "q200_streaming_chat" -> chatRenderOracleSql,

      // q192: per-turn char spans — running sum of (len + 1) per session
      // (the \n separators), loss flags assistant turns
      "q192_loss_mask" ->
        s"""WITH $dialogueTurnsCtes,
           |m AS (SELECT user_id, session_id, turn_idx, role,
           |      CAST(length(turn_txt) AS BIGINT) AS n_chars,
           |      CAST(sum(length(turn_txt) + 1) OVER (
           |        PARTITION BY user_id, session_id ORDER BY turn_idx)
           |        - length(turn_txt) - 1 AS BIGINT) AS char_start
           |      FROM u)
           |SELECT user_id, session_id, turn_idx, role, n_chars, char_start,
           |  char_start + n_chars AS char_end,
           |  role = 'assistant' AS loss
           |FROM m""".stripMargin,

      // q198: the q192 span replay joined to the q188 greedy-walk CTE —
      // per-turn words are the turn text's letter runs, the wordPieceCtes
      // recursion tokenizes each distinct word under the SAME vocabulary
      // literal, and the token running sum rides the same per-session
      // window as the char spans (dw carries a constant doc_id only so
      // the shared CTE block binds; its per-doc rollup goes unused here)
      "q198_token_loss_mask" ->
        s"""WITH RECURSIVE $dialogueTurnsCtes,
           |tw AS (SELECT user_id, session_id, turn_idx, u2.w AS word
           |       FROM u, UNNEST(regexp_extract_all(turn_txt, '[A-Za-z]+')) u2(w)),
           |dw AS (SELECT 0::BIGINT AS doc_id, word, count(*) AS n
           |       FROM tw GROUP BY 2),
           |vocab AS (SELECT DISTINCT word FROM dw),
           |$wordPieceCtes,
           |tt AS (SELECT user_id, session_id, turn_idx,
           |       CAST(sum(n_wp) AS BIGINT) AS n_tokens
           |       FROM tw JOIN wnk USING (word) GROUP BY 1, 2, 3),
           |m AS (SELECT w.user_id, w.session_id, w.turn_idx, w.role,
           |      CAST(length(w.turn_txt) AS BIGINT) AS n_chars,
           |      CAST(sum(length(w.turn_txt) + 1) OVER (
           |        PARTITION BY w.user_id, w.session_id ORDER BY w.turn_idx)
           |        - length(w.turn_txt) - 1 AS BIGINT) AS char_start,
           |      t.n_tokens,
           |      CAST(sum(t.n_tokens) OVER (
           |        PARTITION BY w.user_id, w.session_id ORDER BY w.turn_idx)
           |        - t.n_tokens AS BIGINT) AS tok_start
           |      FROM u w JOIN tt t USING (user_id, session_id, turn_idx))
           |SELECT user_id, session_id, turn_idx, role, n_chars, char_start,
           |  char_start + n_chars AS char_end, n_tokens, tok_start,
           |  tok_start + n_tokens AS tok_end,
           |  role = 'assistant' AS loss
           |FROM m""".stripMargin,

      // q191: the preference-pair replay — per-source best-k/worst-k rank
      // windows over the q102 score, 2k <= n disjointness, round-6 margin
      "q191_preference_pairs" ->
        s"""WITH $qualityScoreCte,
           |src AS (SELECT s.doc_id, d.source, s.quality_score
           |        FROM score s JOIN documents d USING (doc_id)),
           |cnt AS (SELECT source, count(*) AS n FROM src GROUP BY source),
           |tp AS (SELECT source, doc_id, quality_score,
           |       row_number() OVER (PARTITION BY source
           |         ORDER BY quality_score DESC, doc_id) AS pair_rank
           |       FROM src),
           |bt AS (SELECT source, doc_id, quality_score,
           |       row_number() OVER (PARTITION BY source
           |         ORDER BY quality_score ASC, doc_id DESC) AS pair_rank
           |       FROM src)
           |SELECT t.source, CAST(t.pair_rank AS INT) AS pair_rank,
           |  t.doc_id AS chosen_id, b.doc_id AS rejected_id,
           |  t.quality_score AS chosen_score, b.quality_score AS rejected_score,
           |  round(t.quality_score - b.quality_score, 6) AS margin
           |FROM tp t JOIN bt b USING (source, pair_rank)
           |JOIN cnt USING (source)
           |WHERE t.pair_rank <= 4 AND 2 * t.pair_rank <= cnt.n""".stripMargin,

      // q196: the q153 retrieval replay over whole docs (pool = doc_id
      // not ≡ 0 mod 100, queries = the complement) + the Input:/Label:
      // rendering, string_agg'd in rank order
      "q196_fewshot_prompts" ->
        """WITH fx AS (SELECT doc_id,
          |        text || ' ' ||
          |          rtrim(repeat('ta' || CAST(doc_id // 20 AS VARCHAR) || ' ',
          |                       CAST(1 + doc_id % 2 AS INT))) || ' ' ||
          |          rtrim(repeat('tb' || CAST(doc_id // 20 AS VARCHAR) || ' ',
          |                       CAST(1 + doc_id % 3 AS INT))) AS text,
          |        source
          |       FROM documents),
          |pw AS (SELECT doc_id,
          |        ('0x' || substr(md5(w), 1, 4))::INT % 65536 AS b
          |       FROM fx, UNNEST(string_split(text, ' ')) t(w)
          |       WHERE doc_id % 100 <> 0),
          |pv0 AS (SELECT doc_id, b, count(*) AS pc FROM pw GROUP BY 1, 2),
          |np AS (SELECT count(DISTINCT doc_id) AS n FROM pv0),
          |hot AS (SELECT b FROM pv0 GROUP BY b
          |        HAVING count(*) > 0.05 * (SELECT n FROM np)),
          |pv AS (SELECT * FROM pv0 WHERE b NOT IN (SELECT b FROM hot)),
          |qw AS (SELECT doc_id AS query_id,
          |        ('0x' || substr(md5(w), 1, 4))::INT % 65536 AS b
          |       FROM fx, UNNEST(string_split(text, ' ')) t(w)
          |       WHERE doc_id % 100 = 0),
          |qv0 AS (SELECT query_id, b, count(*) AS qc FROM qw GROUP BY 1, 2),
          |qv AS (SELECT * FROM qv0 WHERE b NOT IN (SELECT b FROM hot)),
          |pn AS (SELECT doc_id, sum(pc * pc) AS pss FROM pv GROUP BY 1),
          |qn AS (SELECT query_id, sum(qc * qc) AS qss FROM qv GROUP BY 1),
          |d AS (SELECT qv.query_id, pv.doc_id, sum(pv.pc * qv.qc) AS dot
          |      FROM pv JOIN qv ON pv.b = qv.b GROUP BY 1, 2),
          |sc AS (SELECT d.query_id, d.doc_id,
          |        CAST((d.dot * d.dot * 1000000) // (pn.pss * qn.qss) AS BIGINT) AS cos2_e6
          |       FROM d JOIN pn ON d.doc_id = pn.doc_id
          |              JOIN qn ON d.query_id = qn.query_id),
          |tk AS (SELECT query_id, doc_id,
          |        CAST(row_number() OVER (PARTITION BY query_id
          |          ORDER BY cos2_e6 DESC, doc_id) AS INT) AS rank
          |       FROM sc QUALIFY rank <= 3),
          |ex AS (SELECT t.query_id, t.rank,
          |        'Input: ' || substring(dd.text, 1, 40) || chr(10) ||
          |          'Label: ' || dd.source || chr(10) || chr(10) AS piece
          |       FROM tk t JOIN fx dd USING (doc_id)),
          |qp AS (SELECT doc_id AS query_id,
          |        'Input: ' || substring(text, 1, 40) || chr(10) || 'Label:' AS qpiece
          |       FROM fx WHERE doc_id % 100 = 0),
          |ag AS (SELECT query_id, CAST(count(*) AS INT) AS n_exemplars,
          |        string_agg(piece, '' ORDER BY rank) AS shots FROM ex GROUP BY 1)
          |SELECT query_id, n_exemplars, shots || qpiece AS prompt,
          |  CAST(length(shots || qpiece) AS BIGINT) AS n_chars
          |FROM ag JOIN qp USING (query_id)""".stripMargin,

      // q194: render replay + md5 grouping, keep-first by (user, session)
      "q194_dedup_conversations" ->
        s"""WITH $dialogueTurnsCtes,
           |r AS (SELECT user_id, session_id,
           |      string_agg(turn_txt, chr(10) ORDER BY turn_idx) AS transcript
           |      FROM u GROUP BY 1, 2),
           |h AS (SELECT user_id, session_id, md5(transcript) AS t_hash FROM r),
           |k AS (SELECT t_hash, user_id, session_id,
           |      row_number() OVER (PARTITION BY t_hash
           |        ORDER BY user_id, session_id) AS rn,
           |      count(*) OVER (PARTITION BY t_hash) AS n_dups
           |      FROM h)
           |SELECT t_hash, user_id AS keep_user_id, session_id AS keep_session_id,
           |  CAST(n_dups AS BIGINT) AS n_dups
           |FROM k WHERE rn = 1""".stripMargin,

      // q193: the capstone replay — render, md5 keep-first, 32-char gate,
      // then the q57 pack-window arithmetic over (user_id + session_id)
      // mod 8 shards
      "q193_pack_conversations" ->
        s"""WITH $dialogueTurnsCtes,
           |r AS (SELECT user_id, session_id,
           |      string_agg(turn_txt, chr(10) ORDER BY turn_idx) AS transcript
           |      FROM u GROUP BY 1, 2),
           |h AS (SELECT user_id, session_id, transcript,
           |      md5(transcript) AS t_hash,
           |      CAST(length(transcript) AS BIGINT) AS n_chars FROM r),
           |k AS (SELECT *, row_number() OVER (PARTITION BY t_hash
           |        ORDER BY user_id, session_id) AS rn FROM h),
           |pt AS (SELECT user_id, session_id,
           |       CAST((user_id + session_id) % 8 AS INT) AS shard, n_chars
           |       FROM k WHERE rn = 1 AND length(transcript) <= 32),
           |s2 AS (SELECT user_id, session_id, shard, n_chars,
           |       CAST(sum(n_chars) OVER (PARTITION BY shard
           |         ORDER BY user_id, session_id) - n_chars AS BIGINT) AS start_off
           |       FROM pt)
           |SELECT user_id, session_id, shard, n_chars, start_off,
           |  shard * 281474976710656 + (start_off // 128) AS seq_id,
           |  (start_off // 128) <> ((start_off + n_chars - 1) // 128)
           |    AS crosses_boundary
           |FROM s2""".stripMargin,

      // q168: distinct (user, day) activity → per-user min day → offset
      // cells; count(*) over distinct rows ≡ count distinct users
      "q168_retention_cohorts" ->
        """WITH a AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS bucket
          |  FROM events),
          |c AS (SELECT user_id, min(bucket) AS cohort_bucket FROM a GROUP BY 1)
          |SELECT c.cohort_bucket, a.bucket - c.cohort_bucket AS day_offset,
          |  count(*)::BIGINT AS n_users
          |FROM a JOIN c USING (user_id)
          |GROUP BY 1, 2""".stripMargin,

      // q167: per-(user, day) counts + per-user totals, the
      // cross-multiplied 2x-average burst rule
      "q167_event_bursts" ->
        """WITH pb AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS bucket,
          |  count(*) AS n_events
          |  FROM events GROUP BY 1, 2),
          |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_active_buckets,
          |  CAST(sum(n_events) AS BIGINT) AS n_total FROM pb GROUP BY 1)
          |SELECT pb.user_id, pb.bucket, CAST(pb.n_events AS BIGINT) AS n_events,
          |  u.n_active_buckets, u.n_total,
          |  (pb.n_events * u.n_active_buckets >= 2 * u.n_total
          |   AND pb.n_events >= 5) AS is_burst
          |FROM pb JOIN u USING (user_id)""".stripMargin,

      // q166: the apportionment replay — integer seats k·n//N, leftover
      // seats by (remainder DESC, source), md5-ranked in-stratum picks
      "q166_proportional_split" ->
        """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
          |t AS (SELECT sum(n) AS total FROM c),
          |b AS (SELECT source, n, (103 * n) // total AS seats, (103 * n) % total AS rem
          |      FROM c CROSS JOIN t),
          |lo AS (SELECT 103 - sum(seats) AS leftover FROM b),
          |rk AS (SELECT source, seats,
          |       row_number() OVER (ORDER BY rem DESC, source) AS pr FROM b),
          |q AS (SELECT source,
          |      seats + CASE WHEN pr <= leftover THEN 1 ELSE 0 END AS seats
          |      FROM rk CROSS JOIN lo),
          |sel AS (SELECT d.doc_id, d.source,
          |        row_number() OVER (PARTITION BY d.source
          |          ORDER BY md5(d.doc_id::VARCHAR), d.doc_id) AS rn
          |        FROM documents d)
          |SELECT sel.doc_id, sel.source
          |FROM sel JOIN q ON sel.source = q.source WHERE sel.rn <= q.seats""".stripMargin,

      // q165: straight aggregate replay — counts, fit threshold, least(),
      // integer-micro loss
      "q165_truncation_report" ->
        """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
          |  FROM documents)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |  CAST(sum(CASE WHEN nw <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
          |  CAST(sum(nw) AS BIGINT) AS tokens_total,
          |  CAST(sum(least(nw, 64)) AS BIGINT) AS tokens_kept,
          |  CAST(((sum(nw) - sum(least(nw, 64))) * 1000000) // sum(nw) AS BIGINT) AS loss_e6
          |FROM d GROUP BY source""".stripMargin,

      // q164: same count → rank → ln-ln least squares; QUALIFY keeps the
      // per-source top-64, slope rounds to 6 at the end (ulp policy)
      "q164_zipf_fit" ->
        """WITH wc AS (SELECT source, w AS word, count(*) AS n
          |  FROM documents, UNNEST(string_split(text, ' ')) t(w)
          |  GROUP BY 1, 2),
          |rk AS (SELECT source, n,
          |    row_number() OVER (PARTITION BY source ORDER BY n DESC, word) AS r
          |  FROM wc QUALIFY r <= 64),
          |pt AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM rk),
          |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_top,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
          |  FROM pt GROUP BY source)
          |SELECT source, n_top,
          |  CASE WHEN n_top > 1 THEN
          |    round((n_top * sxy - sx * sy) / (n_top * sxx - sx * sx), 6)
          |  END AS zipf_slope
          |FROM ag""".stripMargin,

      // q163: the identical Luhn fold per candidate — double every second
      // digit from the right, subtract 9 above 9, sum mod 10
      "q163_luhn_pii" ->
        """WITH cd AS (SELECT doc_id,
          |  text || ' card ' || CAST(4000000000000000 + doc_id AS VARCHAR) ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' ref 12345678' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' alt 4111111111111111' ELSE '' END AS text
          |  FROM documents),
          |x AS (SELECT doc_id,
          |  unnest(regexp_extract_all(text, '[0-9]+', 0)) AS candidate FROM cd)
          |SELECT doc_id, candidate,
          |  list_sum(list_transform(range(0, length(candidate)),
          |    i -> CASE WHEN i % 2 = 1 THEN
          |      CASE WHEN 2 * (ascii(substring(reverse(candidate), i + 1, 1)) - 48) > 9
          |           THEN 2 * (ascii(substring(reverse(candidate), i + 1, 1)) - 48) - 9
          |           ELSE 2 * (ascii(substring(reverse(candidate), i + 1, 1)) - 48) END
          |      ELSE ascii(substring(reverse(candidate), i + 1, 1)) - 48 END)) % 10 = 0
          |    AS luhn_valid
          |FROM x WHERE length(candidate) BETWEEN 13 AND 19""".stripMargin,

      // q162: the q25 replay on the 8-component prefix — DuckDB slices
      // the same lists the engine slices, cosine re-rounds at 6
      "q162_ann_matryoshka" ->
        """WITH q AS (SELECT vec_id AS q_id, (embedding::DOUBLE[])[1:8] AS qv
          |           FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS n_id, (embedding::DOUBLE[])[1:8] AS nv FROM embeddings),
          |s AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
          |      FROM q, c WHERE q_id <> n_id),
          |r AS (SELECT q_id, n_id, cos_sim,
          |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INT) AS rnk
          |      FROM s)
          |SELECT q_id, n_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,

      // q161: three unrolled parse levels over the pinned tree VALUES —
      // each level joins the frontier to the fetched-sitemap table, takes
      // urlset locs as pages and sitemapindex locs as the next frontier
      "q161_sitemap_tree" -> {
        val values = sitemapTreeFixture.map { case (u, d, x) =>
          s"(${sqlTextLit(u)}, ${sqlTextLit(d)}, ${sqlTextLit(x)})"
        }.mkString(", ")
        def level(frontier: String, out: String) =
          s"""$out AS (SELECT st.domain,
             |  lower(regexp_extract(st.sitemap_xml, '${operators.Frontier.rootRe}', 1)) AS root,
             |  unnest(regexp_extract_all(st.sitemap_xml, '${operators.Frontier.locRe}', 1)) AS loc
             |  FROM st JOIN $frontier fr ON st.sitemap_url = fr.su)""".stripMargin
        s"""WITH st AS (SELECT * FROM (VALUES $values) t(sitemap_url, domain, sitemap_xml)),
           |f1 AS (SELECT 'http://www.example0.com/sitemap.xml' AS su
           |       UNION ALL SELECT 'http://www.example1.com/sitemap.xml'),
           |${level("f1", "p1")},
           |f2 AS (SELECT DISTINCT loc AS su FROM p1 WHERE root = 'sitemapindex'),
           |${level("f2", "p2")},
           |f3 AS (SELECT DISTINCT loc AS su FROM p2 WHERE root = 'sitemapindex'),
           |${level("f3", "p3")}
           |SELECT DISTINCT domain, loc
           |FROM (SELECT domain, loc FROM p1 WHERE root = 'urlset' AND loc <> ''
           |      UNION ALL SELECT domain, loc FROM p2 WHERE root = 'urlset' AND loc <> ''
           |      UNION ALL SELECT domain, loc FROM p3 WHERE root = 'urlset' AND loc <> '')""".stripMargin
      },

      // q160: the structural statement of the notebook construction —
      // cell 1 is the two-line code cell (JSON \n unescapes to a real
      // newline), cell 2 exists on even ids; markdown cell 0 is filtered
      "q160_notebook_cells" ->
        """SELECT doc_id, CAST(1 AS INT) AS cell_idx,
          |  'x = ' || CAST(doc_id AS VARCHAR) || chr(10) || 'print(x)' AS src
          |FROM documents
          |UNION ALL
          |SELECT doc_id, CAST(2 AS INT) AS cell_idx,
          |  'y = ' || CAST(doc_id * 2 AS VARCHAR) AS src
          |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

      // q159: the four replays chained — scorecard keep → per-source
      // sizes of the SURVIVORS → the UniMax walk (budget 5000, cap 3) →
      // the q155 coin expansion on epoch-qualified keys → the q128
      // manifest checksum per shard
      "q159_mixture_pipeline" ->
        s"""WITH RECURSIVE $scorecardCtes,
           |kd AS (SELECT d.doc_id, d.text, d.source
           |       FROM documents d JOIN fl ON d.doc_id = fl.doc_id
           |       WHERE NOT (fl.gopher_fail OR fl.score_low
           |                  OR fl.badword_hit OR fl.entropy_low)),
           |kc AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |       FROM kd GROUP BY 1),
           |ko AS (SELECT source, n_tokens,
           |         CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rn,
           |         CAST(count(*) OVER () AS BIGINT) AS m
           |       FROM kc),
           |kwalk AS (
           |  SELECT CAST(0 AS BIGINT) AS rn, CAST(5000 AS BIGINT) AS rem
           |  UNION ALL
           |  SELECT ko.rn, kwalk.rem - least(ko.n_tokens * 3, kwalk.rem // (ko.m - kwalk.rn))
           |  FROM kwalk JOIN ko ON ko.rn = kwalk.rn + 1),
           |ka AS (SELECT ko.source,
           |         least(ko.n_tokens * 3, w.rem // (ko.m - ko.rn + 1)) * 1000000
           |           // ko.n_tokens AS e6
           |       FROM ko JOIN kwalk w ON w.rn = ko.rn - 1),
           |kx AS (SELECT kd.doc_id, kd.text,
           |         CAST(e6 // 1000000 AS INT) +
           |         CASE WHEN ('0x' || substr(md5(kd.doc_id::VARCHAR || ':up'), 1, 4))::BIGINT
           |              < ((e6 % 1000000) * 65536 + 999999) // 1000000
           |              THEN 1 ELSE 0 END AS nc
           |       FROM kd JOIN ka ON kd.source = ka.source),
           |kex AS (SELECT doc_id::VARCHAR || '#' || epoch::VARCHAR AS key, text
           |        FROM kx, UNNEST(generate_series(0, nc - 1)) t(epoch)),
           |kh AS (SELECT key, text,
           |         ('0x' || substr(md5('mix:' || key), 1, 4))::INT % 8 AS shard
           |       FROM kex)
           |SELECT shard, count(*)::BIGINT AS n_docs,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           |  bit_xor(('0x' || substr(md5(key || ':' || text), 1, 15))::BIGINT) AS checksum
           |FROM kh GROUP BY shard""".stripMargin,

      // q153: full replay — q63's chunk chain, the dsir bucket idiom, the
      // integer cos² rank; QUALIFY mirrors the WindowGroupLimit top-3
      "q153_passage_retrieval" ->
        """WITH ch AS (
          |  SELECT doc_id, CAST(i // 48 AS BIGINT) AS chunk_id,
          |         array_to_string(ws[i+1:i+64], ' ') AS chunk_text
          |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
          |       UNNEST(range(0, len(ws), 48)) t(i)),
          |pw AS (SELECT doc_id, chunk_id,
          |        ('0x' || substr(md5(w), 1, 4))::INT % 256 AS b
          |       FROM ch, UNNEST(string_split(chunk_text, ' ')) t(w)),
          |pv AS (SELECT doc_id, chunk_id, b, count(*) AS pc FROM pw GROUP BY 1, 2, 3),
          |qw AS (SELECT doc_id AS query_id,
          |        ('0x' || substr(md5(w), 1, 4))::INT % 256 AS b
          |       FROM documents, UNNEST(string_split(text, ' ')) t(w) WHERE doc_id < 8),
          |qv AS (SELECT query_id, b, count(*) AS qc FROM qw GROUP BY 1, 2),
          |pn AS (SELECT doc_id, chunk_id, sum(pc * pc) AS pss FROM pv GROUP BY 1, 2),
          |qn AS (SELECT query_id, sum(qc * qc) AS qss FROM qv GROUP BY 1),
          |d AS (SELECT qv.query_id, pv.doc_id, pv.chunk_id,
          |        sum(pv.pc * qv.qc) AS dot
          |      FROM pv JOIN qv ON pv.b = qv.b GROUP BY 1, 2, 3),
          |sc AS (SELECT d.query_id, d.doc_id, d.chunk_id,
          |        CAST((d.dot * d.dot * 1000000) // (pn.pss * qn.qss) AS BIGINT) AS cos2_e6
          |       FROM d JOIN pn ON d.doc_id = pn.doc_id AND d.chunk_id = pn.chunk_id
          |              JOIN qn ON d.query_id = qn.query_id)
          |SELECT query_id, doc_id, chunk_id, cos2_e6,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos2_e6 DESC, doc_id, chunk_id) AS INT) AS rank
          |FROM sc QUALIFY rank <= 3""".stripMargin,

      // q152: per-sample replay of the PCM formula — the oracle computes
      // the same integer amplitude stats from ((id·31 + i·7919) % 65536)
      // − 32768 directly; the engine must recover them through the real
      // WAV encode→parse→byte-decode round trip
      "q152_audio_stats" ->
        """WITH a AS (SELECT doc_id, 400 + (doc_id % 5) * 100 AS n
          |  FROM documents WHERE doc_id % 3 = 0),
          |s AS (SELECT doc_id, n,
          |  abs(((doc_id * 31 + i * 7919) % 65536) - 32768) AS a
          |  FROM a, UNNEST(range(0, n)) t(i))
          |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
          |  CAST(sum(a) // n AS BIGINT) AS mean_abs,
          |  CAST(max(a) AS BIGINT) AS peak_abs,
          |  CAST(sum(CASE WHEN a < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
          |  CAST(sum(CASE WHEN a < 1000 THEN 1 ELSE 0 END) * 1000000 // n AS BIGINT) AS silence_ratio_e6
          |FROM s GROUP BY doc_id, n""".stripMargin,

      // q143: per-(hash, source) counts, hash-keyed pair join, Σ n_a·n_b
      "q143_mirror_matrix" ->
        s"""WITH md AS ($mirrorFixtureSql),
           |hs AS (SELECT md5(text) AS h, source AS src, count(*) AS n FROM md GROUP BY 1, 2)
           |SELECT a.src AS src_a, b.src AS src_b,
           |count(*)::BIGINT AS n_shared_texts,
           |CAST(sum(a.n * b.n) AS BIGINT) AS n_dup_pairs
           |FROM hs a JOIN hs b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2""".stripMargin,

      // q138: DuckDB's OWN ntile over the q60 unigram-LM chain — the
      // operator's histogram-offset + local-rank decomposition must
      // reproduce the single-window form exactly
      "q138_perplexity_tiles" ->
        """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |dw AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
          |c AS (SELECT word, sum(n) AS cnt FROM dw GROUP BY word),
          |t AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM c),
          |sc AS (SELECT doc_id,
          |  round(sum(n * ln((cnt + 1.0) / (total + 1.0 * vocab))) / sum(n), 6) AS avg_logprob
          |  FROM dw JOIN c USING (word) CROSS JOIN t GROUP BY doc_id)
          |SELECT sc.doc_id, d.lang, sc.avg_logprob,
          |ntile(3) OVER (PARTITION BY d.lang ORDER BY sc.avg_logprob DESC, sc.doc_id) AS tile
          |FROM sc JOIN documents d ON sc.doc_id = d.doc_id""".stripMargin,

      // q139: reciprocal group-size weights over the duplicated fixture —
      // row count must equal the fixture's (nothing dropped)
      "q139_soft_dedup" ->
        s"""WITH dd AS ($dupFixtureSql),
           |h AS (SELECT doc_id, md5(text) AS ch FROM dd),
           |c AS (SELECT ch, count(*) AS group_size FROM h GROUP BY 1)
           |SELECT doc_id, group_size, (1000000 // group_size)::BIGINT AS weight_e6
           |FROM h JOIN c USING (ch)""".stripMargin,

      // q140: the anchor-pair extraction (both capture groups of the SAME
      // pattern, zipped by index), the q94 strip+norm chain on the href,
      // then the argmax replayed as a row_number window
      "q140_anchor_text" -> {
        val re = operators.LinkGraph.absAnchorPairRe
        val tp = operators.UrlOps.trackingParams
        s"""WITH pages AS ($linkedHtmlFixtureSql),
           |u AS (SELECT regexp_extract_all(html, '$re', 1) AS hs,
           |             regexp_extract_all(html, '$re', 2) AS ts FROM pages),
           |l AS (SELECT hs[i] AS url0, trim(ts[i]) AS anchor
           |      FROM u, UNNEST(range(1, len(hs) + 1)) t(i)),
           |sq AS (SELECT anchor,
           |  regexp_replace(nf, '\\?.*$$', '') AS base,
           |  regexp_replace(
           |    regexp_replace(
           |      regexp_replace(regexp_extract(nf, '\\?(.*)$$', 1),
           |        '&$tp=[^&]*', '', 'g'),
           |      '^$tp=[^&]*&', ''),
           |    '^$tp=[^&]*$$', '') AS q
           |  FROM (SELECT anchor, regexp_replace(url0, '#.*$$', '') AS nf FROM l)),
           |s2 AS (SELECT anchor, CASE WHEN q = '' THEN base ELSE base || '?' || q END AS u FROM sq),
           |n AS (SELECT anchor, $urlNormSql AS dst_url FROM s2),
           |ga AS (SELECT dst_url, anchor, count(*) AS c FROM n GROUP BY 1, 2),
           |g AS (SELECT dst_url, anchor, c,
           |  row_number() OVER (PARTITION BY dst_url ORDER BY c DESC, anchor) AS rn,
           |  sum(c) OVER (PARTITION BY dst_url) AS nl,
           |  count(*) OVER (PARTITION BY dst_url) AS na FROM ga)
           |SELECT dst_url, nl::BIGINT AS n_links, na::BIGINT AS n_anchors,
           |anchor AS top_anchor, c::BIGINT AS top_count FROM g WHERE rn = 1""".stripMargin
      },

      // q141: exact pairwise source-vocabulary Jaccard, integer micro-units
      "q141_source_overlap" ->
        """WITH sw AS (SELECT DISTINCT src, word FROM
          |  (SELECT source AS src, unnest(string_split(text, ' ')) AS word FROM documents)),
          |sz AS (SELECT src, count(*) AS n FROM sw GROUP BY 1),
          |it AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
          |       FROM sw a JOIN sw b USING (word) WHERE a.src < b.src GROUP BY 1, 2)
          |SELECT src_a, src_b, n_common,
          |((1000000 * n_common) // (sa.n + sb.n - n_common))::BIGINT AS jaccard_e6
          |FROM it JOIN sz sa ON it.src_a = sa.src JOIN sz sb ON it.src_b = sb.src""".stripMargin,

      // q26's planted-copy retrieval contract (see the query comment): each
      // +10M exact copy retrieves its original as the unique top-1 at
      // cosine 1.0
      "q26_ann_lsh" ->
        """SELECT vec_id + 10000000 AS q_id, vec_id AS n_id,
          |1.0::DOUBLE AS cos_sim, CAST(1 AS INT) AS rnk
          |FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 50""".stripMargin,

      "q91_heavy_hitters" ->
        """SELECT u.w AS item, count(*)::BIGINT AS est_count
          |FROM (SELECT string_split(text, ' ') AS ws FROM documents), UNNEST(ws) u(w)
          |GROUP BY 1""".stripMargin,

      "q42_sketch_profile" ->
        """SELECT l_returnflag, count(*) AS n_rows,
          |count(DISTINCT l_orderkey) AS exact_orders,
          |count(DISTINCT l_partkey) AS exact_parts,
          |true AS orders_within_bound, true AS parts_within_bound,
          |true AS median_within_bound, true AS p95_within_bound
          |FROM lineitem GROUP BY l_returnflag""".stripMargin,

      "q57_pack_sequences" ->
        """WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
          |           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents),
          |s AS (SELECT doc_id, shard, n_tokens,
          |      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
          |           - n_tokens AS BIGINT) AS start_off FROM t)
          |SELECT doc_id, shard, n_tokens, start_off,
          |CAST(shard AS BIGINT) * 281474976710656 + start_off // 256 AS seq_id,
          |(start_off // 256) <> ((start_off + n_tokens - 1) // 256) AS crosses_boundary
          |FROM s""".stripMargin,

      // the five-stage pipeline as ONE query: quality CTEs (q55 logic over
      // the non-bench slice) → exact-Jaccard clusters via recursive CTE
      // (q46 logic; LSH completeness on this subset is the probe-verified
      // q46 property) → keep cluster canonicals → contamination vs bench
      // grams (q58 logic) → packing windows (q57 logic)
      "q61_pipeline_e2e" ->
        """WITH RECURSIVE
          |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
          |w0 AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
          |       WHERE doc_id % 17 <> 0),
          |b0 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg FROM w0, UNNEST(range(1, len(ws))) t(i)),
          |bc0 AS (SELECT doc_id, max(c) AS mx, sum(c) AS total
          |        FROM (SELECT doc_id, bg, count(*) AS c FROM b0 GROUP BY 1, 2) GROUP BY doc_id),
          |qual AS (SELECT w0.doc_id, text, ws FROM w0 LEFT JOIN bc0 ON w0.doc_id = bc0.doc_id
          |  WHERE len(ws) >= 20
          |    AND CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) <= 0.6
          |    AND COALESCE(CAST(mx AS DOUBLE) / total, 0.0) <= 0.1
          |    AND CASE WHEN length(text) > 0
          |             THEN CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / length(text)
          |             ELSE 0.0 END >= 0.8),
          |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |      FROM qual, UNNEST(range(1, len(ws)-1)) AS t(i)),
          |c AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
          |p AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS n_common
          |      FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
          |      GROUP BY 1, 2),
          |pairs AS (SELECT doc1, doc2 FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
          |          WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.5),
          |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
          |          UNION SELECT doc2, doc1 FROM pairs),
          |reach AS (SELECT src AS node, src AS lab FROM edges
          |          UNION SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.node),
          |clus AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
          |surv AS (SELECT qual.doc_id, qual.ws FROM qual LEFT JOIN clus ON qual.doc_id = clus.doc_id
          |         WHERE clus.doc_id IS NULL OR clus.cluster_id = qual.doc_id),
          |bw AS (SELECT string_split(text, ' ') AS ws FROM bench),
          |bg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |       FROM bw, UNNEST(range(1, len(ws)-1)) AS t(i)),
          |cont AS (SELECT g.doc_id,
          |         CAST(sum(CASE WHEN bg.gram IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / count(*) AS frac
          |         FROM g JOIN surv ON g.doc_id = surv.doc_id
          |         LEFT JOIN bg ON g.gram = bg.gram GROUP BY g.doc_id),
          |keep AS (SELECT surv.doc_id, surv.ws FROM surv JOIN cont ON surv.doc_id = cont.doc_id
          |         WHERE frac < 0.3),
          |t2 AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
          |       CAST(len(ws) AS INT) AS n_tokens FROM keep),
          |s2 AS (SELECT doc_id, shard, n_tokens,
          |       CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
          |            - n_tokens AS BIGINT) AS start_off FROM t2)
          |SELECT doc_id, shard, n_tokens, start_off,
          |CAST(shard AS BIGINT) * 281474976710656 + start_off // 256 AS seq_id,
          |(start_off // 256) <> ((start_off + n_tokens - 1) // 256) AS crosses_boundary
          |FROM s2""".stripMargin,

      "q60_lm_score" ->
        """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |dw AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
          |c AS (SELECT word, sum(n) AS cnt FROM dw GROUP BY word),
          |t AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM c)
          |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
          |round(sum(n * ln((cnt + 1.0) / (total + 1.0 * vocab))) / sum(n), 6) AS avg_logprob
          |FROM dw JOIN c USING (word) CROSS JOIN t
          |GROUP BY doc_id""".stripMargin,

      "q100_bigram_lm" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM w, UNNEST(range(1, len(ws))) t(i)),
          |db AS (SELECT doc_id, w1, w2, count(*) AS n FROM b GROUP BY 1, 2, 3),
          |c12 AS (SELECT w1, w2, sum(n) AS c12 FROM db GROUP BY 1, 2),
          |c1 AS (SELECT w1, sum(n) AS c1 FROM db GROUP BY 1),
          |v AS (SELECT count(DISTINCT u.word) AS vocab
          |      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u)
          |SELECT doc_id, sum(n)::BIGINT AS n_bigrams,
          |round(sum(n * ln((c12 + 1.0) / (c1 + 1.0 * vocab))) / sum(n), 6) AS avg_logprob
          |FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
          |GROUP BY doc_id""".stripMargin,

      "q102_quality_score" ->
        s"""WITH $qualityScoreCte
           |SELECT doc_id, quality_score,
           |quality_score >= 0.4 AS quality_keep FROM score""".stripMargin,

      "q103_quality_pipeline" ->
        s"""WITH $qualityScoreCte,
           |keep AS (SELECT doc_id FROM score WHERE quality_score >= 0.4),
           |pt AS (SELECT d.doc_id, CAST(d.doc_id % 8 AS INT) AS shard,
           |       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
           |       FROM documents d JOIN keep USING (doc_id)),
           |ps AS (SELECT doc_id, shard, n_tokens,
           |       CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
           |            - n_tokens AS BIGINT) AS start_off FROM pt)
           |SELECT doc_id, shard, n_tokens, start_off,
           |CAST(shard AS BIGINT) * 281474976710656 + start_off // 256 AS seq_id,
           |(start_off // 256) <> ((start_off + n_tokens - 1) // 256) AS crosses_boundary
           |FROM ps""".stripMargin,

      // clean construction only — the oracle never touches mojibake; the
      // phrase literal is the SAME Scala constant the fixture injects
      "q101_fix_encoding" ->
        s"""SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN text
           |ELSE text || '$mojibakePhrase' END AS fixed_text FROM documents""".stripMargin,

      "q56_embed_quantize" ->
        """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          |s AS (SELECT vec_id, e,
          |      CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
          |           THEN 127.0 / list_max(list_transform(e, x -> abs(x)))
          |           ELSE 0.0 END AS q_scale FROM v),
          |c AS (SELECT vec_id, q_scale,
          |      list_transform(e, x -> CAST(floor(x * q_scale + 0.5) AS BIGINT)) AS codes FROM s)
          |SELECT vec_id, round(q_scale, 6) AS q_scale,
          |CAST(list_sum(codes) AS BIGINT) AS sum_codes,
          |CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS sum_abs,
          |CAST(list_max(codes) AS INT) AS max_code,
          |CAST(list_sum(list_transform(range(1, len(codes) + 1), i -> codes[i] * i)) AS BIGINT) AS pos_checksum
          |FROM c""".stripMargin,

      "q25_ann_topk" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
          |s AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
          |      FROM q, c WHERE q_id <> n_id),
          |r AS (SELECT q_id, n_id, cos_sim,
          |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INT) AS rnk
          |      FROM s)
          |SELECT q_id, n_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,

      // full-probe IVF (nProbe = nCells) provably equals brute force — the
      // q25 oracle verbatim
      "q50_ann_ivf" -> bruteForceAnnSql,

      // the appended layout probes all cells, so the SAME brute-force
      // oracle gates it — equality proves the append lost no vector
      "q110_ann_ivf_appended" -> bruteForceAnnSql,

      // full PQ replay: md5-seeded sub-codebooks, encode argmin, LUT, ADC
      // integer sums — every distance in exact micro-units (round-6 then
      // *1e6 BIGINT) so comparisons and the m-term sum are integer-exact
      "q111_ann_pq" -> pqAdcSql,

      "q113_domain_pagerank" -> pageRankSql(iterations = 5, dampingPct = 85),

      // IVF-PQ probes every cell in q112, so candidate pruning is a no-op
      // by construction and the SAME full-replay PQ oracle gates it — the
      // composition provably adds no scoring error at this operating point
      "q112_ann_ivfpq" -> pqAdcSql,

      "q27_text_stats" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
          |SELECT doc_id, CAST(length(text) AS INT) AS len_chars, CAST(len(ws) AS INT) AS n_words,
          |CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) AS avg_word_len,
          |CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS INT) AS n_stopwords,
          |CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS DOUBLE) / len(ws) AS stopword_ratio
          |FROM w""".stripMargin,

      // replays training-free classification against the PINNED profile
      // VALUES (generated from the same Scala constant) over the same
      // planted fixture — rank, out-of-place distance, argmin, all in SQL
      "q28_lang_id" -> {
        val profVals = langProfiles.map { case (l, g, r) => s"('$l','$g',$r)" }
          .mkString(", ")
        val langCase = langIdPhrases.zipWithIndex
          .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ")
        val phraseCase = "(CASE doc_id % 5 " + langIdPhrases.zipWithIndex
          .map { case ((_, p), i) => s"WHEN $i THEN '$p'" }.mkString(" ") + " END)"
        s"""WITH fx AS (SELECT doc_id, CASE doc_id % 5 $langCase END AS planted_lang,
           |  text || ' ' || $phraseCase || ' ' || $phraseCase || ' ' || $phraseCase AS t
           |  FROM documents),
           |norm AS (SELECT doc_id,
           |  ' ' || trim(regexp_replace(lower(t), '[^a-z]+', ' ', 'g')) || ' ' AS s FROM fx),
           |g AS (SELECT doc_id, substring(s, i, 2) AS gram
           |      FROM norm, UNNEST(range(1, length(s))) t(i)
           |      UNION ALL
           |      SELECT doc_id, substring(s, i, 3) AS gram
           |      FROM norm, UNNEST(range(1, length(s) - 1)) t(i)),
           |dg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
           |dr AS (SELECT doc_id, gram, c,
           |       row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS r FROM dg),
           |dk AS (SELECT * FROM dr WHERE r <= 60),
           |prof AS (SELECT * FROM (VALUES $profVals) p(lang, gram, pr)),
           |ls AS (SELECT DISTINCT lang FROM prof),
           |dist AS (SELECT doc_id, ls.lang, sum(coalesce(abs(dk.r - prof.pr), 60)) AS d
           |         FROM dk CROSS JOIN ls
           |         LEFT JOIN prof ON prof.lang = ls.lang AND prof.gram = dk.gram
           |         GROUP BY 1, 2),
           |best AS (SELECT doc_id, lang, d,
           |         row_number() OVER (PARTITION BY doc_id ORDER BY d, lang) AS rn FROM dist)
           |SELECT b.doc_id, fx.planted_lang, b.lang AS pred_lang,
           |CAST(b.d AS BIGINT) AS oop_distance
           |FROM best b JOIN fx ON b.doc_id = fx.doc_id WHERE rn = 1""".stripMargin
      },

      "q29_token_count" -> tokenCountSql,

      // q184 reads the SAME documents back out of the Avro container and
      // runs the SAME operator, so ONE oracle covers both — the shared
      // gate proves the container round trip loses nothing (the q104
      // WARC pattern applied to Avro)
      "q184_avro_roundtrip" -> tokenCountSql,

      // the streaming run's file sink must reproduce the BATCH q67
      // result exactly — same oracle, the persistence/container
      // shared-oracle gate applied to a stream
      "q185_streaming_dedup" -> incrementalDedupSql,

      // q197: the q124 replay made STAGE-AWARE — the streaming operator
      // sorts each micro-batch's rows per domain by (salt, md5, doc_id)
      // and continues sequences from keyed state, so seq = the in-stage
      // rank plus the domain's cumulative count over earlier stages
      // (stage = doc_id % 3, the fixture's staging rule)
      "q197_streaming_fetch" ->
        s"""WITH $robotsVerdictCtes,
           |$robotsDelayCtes,
           |sched AS (SELECT doc_id, domain, doc_id % 3 AS stage,
           |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 16 AS salt,
           |    md5(doc_id::VARCHAR) AS m
           |  FROM rv WHERE allowed),
           |stageseq AS (SELECT doc_id, domain, stage,
           |    row_number() OVER (PARTITION BY domain, stage
           |      ORDER BY salt, m, doc_id) - 1 AS sseq
           |  FROM sched),
           |pern AS (SELECT domain, stage, count(*) AS n
           |  FROM sched GROUP BY domain, stage),
           |cum AS (SELECT domain, stage,
           |    CAST(sum(n) OVER (PARTITION BY domain ORDER BY stage) - n AS BIGINT)
           |      AS base_seq
           |  FROM pern),
           |sq AS (SELECT doc_id, ss.domain, CAST(sseq + base_seq AS BIGINT) AS seq
           |  FROM stageseq ss JOIN cum USING (domain, stage))
           |SELECT doc_id, domain, seq,
           |  CAST(seq * coalesce(crawl_delay, 1) AS BIGINT) AS fetch_at
           |FROM sq LEFT JOIN rdel USING (domain)""".stripMargin,

      // q186: the structural replay (q175 pattern) — every container
      // field is a pure function of doc_id in the fixture's muxer, so
      // the oracle states them without parsing a byte; the engine must
      // recover them from the real RIFF walk
      "q186_avi_meta" ->
        """SELECT doc_id,
          |  CAST(36 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
          |  CAST(3 + ((doc_id // 6) % 9) % 3 AS BIGINT) AS n_frames_header,
          |  CAST(3 + ((doc_id // 6) % 9) % 3 AS BIGINT) AS n_frames,
          |  CAST(100000 AS BIGINT) AS us_per_frame,
          |  CAST(1 AS INT) AS n_streams,
          |  'MJPG' AS handler
          |FROM documents WHERE doc_id % 6 = 0""".stripMargin,

      // q187: the q149 structural-replay pattern lifted to video — the
      // oracle never sees pixels, it pairs videos on the footage class
      // the muxer used, exactly the equal-keyframe-sequence set the
      // JPEG-decode + dHash path must recover
      "q187_video_keyframe_dedup" ->
        """WITH av AS (SELECT doc_id, (doc_id // 6) % 9 AS p
          |            FROM documents WHERE doc_id % 6 = 0)
          |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
          |  CAST((3 + a.p % 3 + 1) // 2 AS INT) AS n_keyframes
          |FROM av a JOIN av b ON a.p = b.p AND a.doc_id < b.doc_id""".stripMargin,

      "q87_bpe_tokens" ->
        s"""WITH RECURSIVE $bpeSql
           |SELECT doc_id, n_words, n_bpe_tokens FROM bpe""".stripMargin,

      // q131: the q87 replay rolled up per source, ratio in exact
      // integer micro-units (`//` ≡ `div` on these non-negative sums)
      "q131_tokenizer_fertility" ->
        s"""WITH RECURSIVE $bpeSql,
           |fj AS (SELECT d.source, bpe.n_words, bpe.n_bpe_tokens
           |       FROM bpe JOIN documents d USING (doc_id))
           |SELECT source, count(*)::BIGINT AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           |  ((1000000 * CAST(sum(n_bpe_tokens) AS BIGINT))
           |    // CAST(sum(n_words) AS BIGINT)) AS fertility_micro
           |FROM fj GROUP BY source""".stripMargin,

      // q171: the Viterbi replay — enumerate segmentations over the
      // pinned piece table (each path exactly once), take the operator's
      // exact (score DESC, path ASC) maximum per word
      "q171_unigram_tokens" ->
        s"""WITH RECURSIVE $wordCountCtes,
           |$unigramCtes
           |SELECT doc_id, n_words, n_unigram_tokens FROM uni""".stripMargin,

      // q172: BOTH tokenizer chains over the one dw/vocab tokenization —
      // the q87 recursive BPE replay and the q171 Viterbi replay — joined
      // per doc, rolled up per source with integer micro-unit ratios
      "q172_unigram_fertility" ->
        s"""WITH RECURSIVE $bpeSql,
           |$unigramCtes,
           |j AS (SELECT d.source, bpe.n_words, bpe.n_bpe_tokens,
           |        uni.n_unigram_tokens
           |      FROM bpe JOIN uni USING (doc_id)
           |           JOIN documents d USING (doc_id))
           |SELECT source, count(*)::BIGINT AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           |  ((1000000 * CAST(sum(n_bpe_tokens) AS BIGINT))
           |    // CAST(sum(n_words) AS BIGINT)) AS bpe_fertility_micro,
           |  CAST(sum(n_unigram_tokens) AS BIGINT) AS n_unigram_tokens,
           |  ((1000000 * CAST(sum(n_unigram_tokens) AS BIGINT))
           |    // CAST(sum(n_words) AS BIGINT)) AS unigram_fertility_micro
           |FROM j GROUP BY source""".stripMargin,

      // q188: the greedy longest-match replay over the pinned vocabulary
      // literal — one matched piece per recursion level, whole-word [UNK]
      // collapse, 200-char cap at the seed; runs over the q93 accented
      // fixture so the [UNK] path fires on oracle-compared data
      "q188_wordpiece_tokens" ->
        s"""WITH RECURSIVE fx AS ($accentedFixtureSql),
           |$accentedWordCountCtes,
           |$wordPieceCtes
           |SELECT doc_id, n_words, n_wp_tokens, n_unk FROM wp""".stripMargin,

      // q189: the q188 replay rolled up per source with integer
      // micro-unit fertility and UNK-rate ratios
      "q189_wordpiece_fertility" ->
        s"""WITH RECURSIVE fx AS ($accentedFixtureSql),
           |$accentedWordCountCtes,
           |$wordPieceCtes,
           |fj AS (SELECT d.source, wp.n_words, wp.n_wp_tokens, wp.n_unk
           |       FROM wp JOIN fx d USING (doc_id))
           |SELECT source, count(*)::BIGINT AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(sum(n_wp_tokens) AS BIGINT) AS n_wp_tokens,
           |  CAST(sum(n_unk) AS BIGINT) AS n_unk,
           |  ((1000000 * CAST(sum(n_wp_tokens) AS BIGINT))
           |    // CAST(sum(n_words) AS BIGINT)) AS wp_fertility_micro,
           |  ((1000000 * CAST(sum(n_unk) AS BIGINT))
           |    // CAST(sum(n_words) AS BIGINT)) AS unk_rate_micro
           |FROM fj GROUP BY source""".stripMargin,

      "q93_bpe_byte_tokens" ->
        s"""WITH RECURSIVE $bpeByteSql
           |SELECT doc_id, n_words, n_bpe_tokens FROM bpe""".stripMargin,

      // q94: the URL-dedup replay (shared with q201 — the streaming
      // operator's verified sink earns the batch oracle verbatim)
      "q94_url_dedup" -> urlDedupOracleSql,

      // q201 reads the SAME fixture's kept pages back out of the
      // STREAMING state's file sink, so the batch SQL is the full
      // oracle — stream ≡ batch ≡ oracle (the q53/q199 shared-gate
      // pattern; wave-staging rationale at q201StreamPath)
      "q201_streaming_url_dedup" -> urlDedupOracleSql,

      "q95_domain_cap" ->
        s"""WITH $urlCanonCte
           |SELECT doc_id, domain FROM (
           |  SELECT doc_id, domain, row_number() OVER (
           |    PARTITION BY domain
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM d)
           |WHERE rn <= 40""".stripMargin,

      "q97_line_dedup" ->
        s"""WITH fx AS ($linedFixtureSql),
           |base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM fx),
           |l AS (SELECT doc_id, i, ls[i] AS line FROM base, UNNEST(range(1, len(ls)+1)) AS t(i)),
           |hot AS (SELECT line FROM (
           |  SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1) WHERE df >= 2),
           |kept AS (SELECT doc_id, i, line FROM l WHERE line NOT IN (SELECT line FROM hot)),
           |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS txt,
           |      count(*) AS nk FROM kept GROUP BY 1)
           |SELECT b.doc_id, coalesce(txt, '') AS text_deduped,
           |(len(ls) - coalesce(nk, 0))::INT AS n_removed_lines
           |FROM base b LEFT JOIN r ON b.doc_id = r.doc_id""".stripMargin,

      "q99_corpus_card" ->
        """SELECT source, lang, count(*) AS n_docs,
          |sum(len(string_split(text, ' ')))::BIGINT AS n_words,
          |sum(length(text))::BIGINT AS n_chars,
          |count(DISTINCT md5(text)) AS n_distinct_texts
          |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,

      "q96_web_pipeline" -> webPipelineSql,

      // q104 reads the SAME inputs back out of the WARC envelope and runs
      // the SAME pipeline, so ONE oracle covers both — and the shared gate
      // proves the container round-trip loses nothing (the q98/q68 pattern)
      "q104_warc_pipeline" -> webPipelineSql,

      "q92_boilerplate" ->
        s"""WITH $boilerplateCte
           |SELECT doc_id,
           |  array_to_string(list_transform(content, s -> s.t), ' ') AS main_text,
           |  len(nonempty)::BIGINT AS n_blocks,
           |  len(content)::BIGINT AS n_content_blocks,
           |  coalesce(list_sum(list_transform(content, s -> length(s.t))), 0)::BIGINT AS n_content_chars,
           |  coalesce(list_sum(list_transform(nonempty, s -> length(s.t))), 0)::BIGINT AS n_text_chars
           |FROM cl""".stripMargin,

      "q88_pack_bpe" ->
        s"""WITH RECURSIVE $bpeSql,
           |t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
           |      n_bpe_tokens AS n_tokens FROM bpe),
           |s AS (SELECT doc_id, shard, n_tokens,
           |      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
           |           - n_tokens AS BIGINT) AS start_off FROM t)
           |SELECT doc_id, shard, n_tokens, start_off,
           |CAST(shard AS BIGINT) * 281474976710656 + start_off // 256 AS seq_id,
           |(start_off // 256) <> ((start_off + n_tokens - 1) // 256) AS crosses_boundary
           |FROM s""".stripMargin,

      "q30_fingerprint" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          |SELECT doc_id,
          |list_reduce(list_prepend(0::BIGINT,
          |  list_transform(ws, x -> (length(x)*7919 + ascii(substr(x,1,1)))::BIGINT)),
          |  (acc, x) -> (acc*1000003 + x) % 2147483647) AS fingerprint
          |FROM w""".stripMargin,

      // redaction SQL is BUILT from TextAnalysis.piiPatterns (same strings,
      // same application order) so operator and oracle cannot drift; DuckDB
      // regexp_replace needs the 'g' flag to match Java's replace-all
      "q62_redact_pii" -> {
        val redact = TextAnalysis.piiPatterns.foldLeft("text") {
          case (c, (pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
        }
        val counts = TextAnalysis.piiPatterns
          .map { case (pat, _) => s"len(regexp_extract_all(text, '$pat'))" }
          .mkString(" + ")
        s"""WITH p AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0
           |       THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
           |            '@example.com at 10.' || CAST(doc_id % 200 AS VARCHAR) ||
           |            '.4.25 or 555-867-5309'
           |       ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id, $redact AS text_redacted,
           |       CAST(COALESCE($counts, 0) AS INT) AS n_redactions
           |FROM p""".stripMargin
      },

      "q63_chunk_docs" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          |SELECT doc_id,
          |  CAST(i // 48 AS BIGINT) AS chunk_id,
          |  array_to_string(ws[i+1:i+64], ' ') AS chunk_text,
          |  CAST(least(i + 64, len(ws)) - i AS INT) AS n_chunk_tokens
          |FROM w, UNNEST(range(0, len(ws), 48)) t(i)""".stripMargin,

      // doc_freq via counting (word, doc) groups — the same no-Expand
      // formulation as the operator; sum(BIGINT) is HUGEINT in DuckDB,
      // hence the CAST
      "q64_vocabulary" ->
        """WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |pd AS (SELECT word, doc_id, count(*) AS cnt FROM wd GROUP BY word, doc_id),
          |g AS (SELECT word, CAST(sum(cnt) AS BIGINT) AS term_count,
          |             count(*) AS doc_freq FROM pd GROUP BY word)
          |SELECT word, term_count, doc_freq,
          |       CAST(row_number() OVER (ORDER BY term_count DESC, word) - 1 AS BIGINT) AS vocab_id
          |FROM g WHERE term_count >= 2""".stripMargin,

      // score rounds to 6 BEFORE ranking on both engines (see tfIdfKeywords)
      "q65_tfidf_keywords" ->
        """WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |tf AS (SELECT doc_id, word, count(*) AS tf FROM wd GROUP BY doc_id, word),
          |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
          |nd AS (SELECT count(*) AS n_docs FROM documents),
          |s AS (SELECT doc_id, tf.word,
          |        round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
          |          AS tf_idf
          |      FROM tf JOIN df USING (word), nd),
          |r AS (SELECT doc_id, word, tf_idf,
          |        CAST(row_number() OVER (PARTITION BY doc_id
          |                                ORDER BY tf_idf DESC, word) AS INT) AS rnk
          |      FROM s)
          |SELECT doc_id, word, tf_idf, rnk FROM r WHERE rnk <= 3""".stripMargin,

      // anchors = 8 lowest vec_ids; assignment tie-break toward the LARGER
      // anchor id (ORDER BY cos DESC, centroid_id DESC), matching max_by
      "q66_cluster_sample" ->
        """WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
          |           FROM embeddings ORDER BY vec_id LIMIT 8),
          |s AS (SELECT e.vec_id, c.centroid_id,
          |        round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS cos_sim
          |      FROM embeddings e CROSS JOIN c),
          |a AS (SELECT vec_id, centroid_id, cos_sim,
          |        row_number() OVER (PARTITION BY vec_id
          |                           ORDER BY cos_sim DESC, centroid_id DESC) AS rn
          |      FROM s),
          |b AS (SELECT vec_id, centroid_id AS cluster_id, cos_sim FROM a WHERE rn = 1),
          |r AS (SELECT cluster_id, vec_id, cos_sim,
          |        CAST(row_number() OVER (PARTITION BY cluster_id
          |                                ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
          |      FROM b)
          |SELECT cluster_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 10""".stripMargin,

      // batch derivation mirrors incrementalBatch; survivors = in-batch
      // first-id-per-text AND text not present in the corpus
      "q67_dedup_incremental" ->
        incrementalDedupSql,

      // the Bloom gate is a pure pruning lever (no false negatives; false
      // positives die in the exact verify), so the output is provably q67's
      // and the SAME oracle gates it
      "q114_dedup_bloom_gated" ->
        incrementalDedupSql,

      // ground truth = EXACT batch×corpus Jaccard screen (no LSH): batch
      // docs with any corpus doc at j >= 0.5 drop; gram join formulation
      // as in q21's oracle
      "q68_neardup_incremental" -> nearDupIncrementalSql,

      // the index-backed probe is SEMANTICALLY IDENTICAL to q68 (shared
      // candidates->verify->anti-join core in the operator), so it earns
      // the same oracle — the gate proves the persisted layout loses
      // nothing vs recomputing the corpus side
      "q98_neardup_indexed" -> nearDupIncrementalSql,


      // duplicated 5-gram starts → gaps-and-islands span merge, identical
      // window logic to the operator (NULL lag opens the first island)
      "q69_dup_spans" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, CAST(i AS INT) AS start,
          |             array_to_string(ws[i+1:i+5], ' ') AS gram
          |      FROM w, UNNEST(range(0, len(ws)-4)) t(i)),
          |hot AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
          |        GROUP BY gram HAVING count(*) >= 2),
          |d AS (SELECT doc_id, start FROM g WHERE gram IN (SELECT gram FROM hot)),
          |f AS (SELECT doc_id, start,
          |        CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 5
          |             THEN 0 ELSE 1 END AS gap
          |      FROM d),
          |i AS (SELECT doc_id, start,
          |        sum(gap) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM f)
          |SELECT doc_id, CAST(min(start) AS INT) AS span_start,
          |       CAST(max(start) + 4 AS INT) AS span_end,
          |       CAST(max(start) - min(start) + 5 AS INT) AS n_tokens
          |FROM i GROUP BY doc_id, island""".stripMargin,

      // q69's span CTEs extended with covered positions → token anti-join →
      // ordered rebuild; LEFT JOIN + IS NULL instead of ANTI JOIN for
      // engine portability
      "q70_remove_dup_spans" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, CAST(i AS INT) AS start,
          |             array_to_string(ws[i+1:i+5], ' ') AS gram
          |      FROM w, UNNEST(range(0, len(ws)-4)) t(i)),
          |hot AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
          |        GROUP BY gram HAVING count(*) >= 2),
          |d AS (SELECT doc_id, start FROM g WHERE gram IN (SELECT gram FROM hot)),
          |f AS (SELECT doc_id, start,
          |        CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 5
          |             THEN 0 ELSE 1 END AS gap
          |      FROM d),
          |i AS (SELECT doc_id, start,
          |        sum(gap) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM f),
          |spans AS (SELECT doc_id, min(start) AS s, max(start) + 4 AS e
          |          FROM i GROUP BY doc_id, island),
          |cov AS (SELECT DISTINCT doc_id, p FROM spans, UNNEST(range(s, e + 1)) t(p)),
          |tok AS (SELECT doc_id, CAST(p AS INT) AS pos, ws[p+1] AS word
          |        FROM w, UNNEST(range(0, len(ws))) t(p)),
          |kept AS (SELECT tok.doc_id, string_agg(word, ' ' ORDER BY pos) AS kept_text,
          |                count(*) AS n_kept
          |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
          |         WHERE cov.doc_id IS NULL
          |         GROUP BY tok.doc_id)
          |SELECT w.doc_id, COALESCE(kept_text, '') AS text_deduped,
          |       CAST(len(ws) - COALESCE(n_kept, 0) AS INT) AS n_removed_tokens
          |FROM w LEFT JOIN kept ON w.doc_id = kept.doc_id""".stripMargin,

      // byte-level spans: 20-byte windows via substr (char == byte on this
      // all-ASCII corpus; the operator's contract is byte offsets) — same
      // hot/island CTE shape as q69 at byte granularity
      "q89_byte_spans" ->
        """WITH g AS (SELECT doc_id, CAST(i AS INT) AS start, substr(text, i+1, 20) AS gram
          |      FROM documents, UNNEST(range(0, length(text)-19)) t(i)),
          |hot AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
          |        GROUP BY gram HAVING count(*) >= 2),
          |d AS (SELECT doc_id, start FROM g WHERE gram IN (SELECT gram FROM hot)),
          |f AS (SELECT doc_id, start,
          |        CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 20
          |             THEN 0 ELSE 1 END AS gap FROM d),
          |i AS (SELECT doc_id, start,
          |        sum(gap) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM f)
          |SELECT doc_id, CAST(min(start) AS INT) AS span_start,
          |       CAST(max(start) + 19 AS INT) AS span_end,
          |       CAST(max(start) - min(start) + 20 AS INT) AS n_bytes
          |FROM i GROUP BY doc_id, island""".stripMargin,

      // q89's spans → interval complement (gaps between consecutive spans +
      // tail) concatenated in order; length invariant len(kept) + removed =
      // len(text) checked by OperatorsSpec
      "q90_remove_byte_spans" ->
        """WITH g AS (SELECT doc_id, CAST(i AS INT) AS start, substr(text, i+1, 20) AS gram
          |      FROM documents, UNNEST(range(0, length(text)-19)) t(i)),
          |hot AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
          |        GROUP BY gram HAVING count(*) >= 2),
          |d AS (SELECT doc_id, start FROM g WHERE gram IN (SELECT gram FROM hot)),
          |f AS (SELECT doc_id, start,
          |        CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 20
          |             THEN 0 ELSE 1 END AS gap FROM d),
          |i AS (SELECT doc_id, start,
          |        sum(gap) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM f),
          |sp AS (SELECT doc_id, min(start) AS span_start, max(start) + 19 AS span_end
          |       FROM i GROUP BY doc_id, island),
          |seg AS (
          |  SELECT doc_id,
          |         COALESCE(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start) + 1,
          |                  0) AS ps,
          |         span_start - 1 AS pe
          |  FROM sp
          |  UNION ALL
          |  SELECT doc_id, max(span_end) + 1 AS ps, 2147483646 AS pe FROM sp GROUP BY doc_id),
          |kept AS (
          |  SELECT seg.doc_id,
          |         string_agg(CASE WHEN least(pe, length(text)-1) >= ps
          |                         THEN substr(text, ps+1, least(pe, length(text)-1) - ps + 1)
          |                         ELSE '' END, '' ORDER BY ps) AS kept_text
          |  FROM seg JOIN documents USING (doc_id) GROUP BY seg.doc_id),
          |nr AS (SELECT doc_id, sum(span_end - span_start + 1) AS n_removed
          |       FROM sp GROUP BY doc_id)
          |SELECT d.doc_id, COALESCE(kept_text, d.text, '') AS text_deduped,
          |       CAST(COALESCE(n_removed, 0) AS INT) AS n_removed_bytes
          |FROM documents d LEFT JOIN kept ON d.doc_id = kept.doc_id
          |LEFT JOIN nr ON d.doc_id = nr.doc_id""".stripMargin,

      // occurrence-count mode (crossDocOnly=false, k=3): hot grams by TOTAL
      // occurrences — no DISTINCT doc dedup — so self-repetition qualifies
      "q71_selfrep_spans" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, CAST(i AS INT) AS start,
          |             ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
          |      FROM w, UNNEST(range(0, len(ws)-2)) t(i)),
          |hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          |d AS (SELECT doc_id, start FROM g WHERE gram IN (SELECT gram FROM hot)),
          |f AS (SELECT doc_id, start,
          |        CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 3
          |             THEN 0 ELSE 1 END AS gap
          |      FROM d),
          |i AS (SELECT doc_id, start,
          |        sum(gap) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM f)
          |SELECT doc_id, CAST(min(start) AS INT) AS span_start,
          |       CAST(max(start) + 2 AS INT) AS span_end,
          |       CAST(max(start) - min(start) + 3 AS INT) AS n_tokens
          |FROM i GROUP BY doc_id, island""".stripMargin,

      "q55_quality_rules" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
          |b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg FROM w, UNNEST(range(1, len(ws))) t(i)),
          |bc AS (SELECT doc_id, max(c) AS mx, sum(c) AS total
          |       FROM (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2) GROUP BY doc_id),
          |s AS (SELECT w.doc_id,
          |  CAST(len(ws) AS INT) AS n_words,
          |  CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
          |  COALESCE(CAST(mx AS DOUBLE) / total, 0.0) AS top_bigram_frac,
          |  CASE WHEN length(text) > 0
          |       THEN CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / length(text)
          |       ELSE 0.0
          |  END AS alpha_frac
          |  FROM w LEFT JOIN bc ON w.doc_id = bc.doc_id)
          |SELECT doc_id, n_words, dup_word_frac, top_bigram_frac, alpha_frac,
          |(n_words >= 20 AND dup_word_frac <= 0.6 AND top_bigram_frac <= 0.1
          | AND alpha_frac >= 0.8) AS quality_pass
          |FROM s""".stripMargin,

      // height mixes in the first UTF-8 BYTE (hex-of-blob trick), matching
      // Multimodal.decodeStub's payload(0) & 0xff — ascii() would return the
      // first CODE POINT, which diverges on non-ASCII leading characters.
      "q31_multimodal_meta" ->
        """SELECT doc_id, 'media/' || source AS media_type,
          |CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
          |CAST(64 + (octet_length(encode(text))*31 +
          |  CASE WHEN octet_length(encode(text)) = 0 THEN 0
          |       ELSE ('0x' || substr(hex(encode(text)), 1, 2))::INT END) % 512 AS INT) AS height,
          |CAST(1 + doc_id % 8 AS INT) AS n_frames
          |FROM documents""".stripMargin,

      "q32_frame_sample" ->
        """WITH m AS (
          |  SELECT doc_id, 'media/' || source AS media_type,
          |  CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
          |  CAST(64 + (octet_length(encode(text))*31 +
          |    CASE WHEN octet_length(encode(text)) = 0 THEN 0
          |         ELSE ('0x' || substr(hex(encode(text)), 1, 2))::INT END) % 512 AS INT) AS height,
          |  CAST(1 + doc_id % 8 AS INT) AS n_frames
          |  FROM documents)
          |SELECT doc_id, media_type, width, height, CAST(t.f AS INT) AS frame_idx
          |FROM m, UNNEST(range(0, n_frames, 2)) t(f)""".stripMargin,

      "q51_resize" ->
        """WITH m AS (
          |  SELECT doc_id, 'media/' || source AS media_type,
          |  CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
          |  CAST(64 + (octet_length(encode(text))*31 +
          |    CASE WHEN octet_length(encode(text)) = 0 THEN 0
          |         ELSE ('0x' || substr(hex(encode(text)), 1, 2))::INT END) % 512 AS INT) AS height
          |  FROM documents)
          |SELECT doc_id, media_type, width, height,
          |CAST(CASE WHEN width >= height THEN 224 ELSE width * 224 // height END AS INT) AS out_w,
          |CAST(CASE WHEN width >= height THEN height * 224 // width ELSE 224 END AS INT) AS out_h
          |FROM m""".stripMargin,

      "q34_rollup" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

      "q44_cube" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

      "q35_setops" ->
        """WITH big AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000),
          |b AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          |SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM big INTERSECT SELECT custkey FROM b)
          |UNION ALL
          |SELECT custkey, 'only_big' AS tag FROM (SELECT custkey FROM big EXCEPT SELECT custkey FROM b)
          |UNION ALL
          |SELECT custkey, 'only_building' AS tag FROM (SELECT custkey FROM b EXCEPT SELECT custkey FROM big)""".stripMargin,

      "q36_scalar_funcs" ->
        """SELECT o_orderkey,
          |CAST(year(o_orderdate) AS INT) AS order_year,
          |CAST(month(o_orderdate) AS INT) AS order_month,
          |upper(substr(o_orderpriority, 1, 8)) AS prio_upper,
          |CAST(length(o_orderstatus) AS INT) AS status_len,
          |CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
          |o_orderkey % 7 AS key_mod7,
          |concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio
          |FROM orders""".stripMargin,

      "q43_skewsafe_partition_sum" ->
        """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          |sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total_qty,
          |count(*) OVER (PARTITION BY l_returnflag) AS part_rows
          |FROM lineitem""".stripMargin,

      "q41_dedup_clusters" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)),
          |c AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
          |p AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS n_common
          |      FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
          |      GROUP BY 1, 2),
          |pairs AS (SELECT doc1, doc2 FROM p JOIN c c1 ON doc1 = c1.doc_id JOIN c c2 ON doc2 = c2.doc_id
          |          WHERE CAST(n_common AS DOUBLE) / (c1.n_grams + c2.n_grams - n_common) >= 0.1),
          |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
          |          UNION SELECT doc2, doc1 FROM pairs),
          |reach AS (
          |  SELECT src AS node, src AS lab FROM edges
          |  UNION
          |  SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.node)
          |SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node""".stripMargin,

      "q46_dedup_lsh_clusters" ->
        s"""WITH RECURSIVE $lshClusterCtes
          |SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node""".stripMargin,

      // q238: the q46 cluster chain feeds the split key — every doc
      // keys by its cluster canonical (or itself), then the q40 md5
      // bucket coin decides; near-dup pairs can never straddle splits
      "q238_cluster_safe_split" ->
        s"""WITH RECURSIVE $lshClusterCtes,
          |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
          |k AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS split_key
          |      FROM documents d LEFT JOIN cc USING (doc_id)),
          |b AS (SELECT doc_id, split_key,
          |      ('0x' || substr(md5(split_key::VARCHAR), 1, 4))::INT AS bucket FROM k)
          |SELECT doc_id, split_key, bucket,
          |CASE WHEN bucket < 52428 THEN 'train'
          |     WHEN bucket < 58982 THEN 'val'
          |     ELSE 'test' END AS split
          |FROM b""".stripMargin,

      "q47_embed_neardup_lsh" ->
        """SELECT a.vec_id AS id1, b.vec_id AS id2,
          |round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4""".stripMargin,

      "q52_embed_neardup_lsh_prod" ->
        s"""WITH $derivedEmbSql
           |SELECT a.vec_id AS id1, b.vec_id AS id2,
           |round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
           |FROM d a JOIN d b ON a.vec_id < b.vec_id
           |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9""".stripMargin,

      "q53_dedup_minhash_prod" -> minHashProdVerifySql,

      // q199 reads the SAME fixture's candidate pairs back out of the
      // STREAMING band-bucket state's file sink and verifies them with
      // the same exact-Jaccard stage, so ONE oracle covers both — and
      // the shared gate proves the cross-batch state loses nothing (the
      // q185/q104 pattern: every planted pair spans micro-batches by
      // construction, so a state that forgot earlier batches would miss
      // pairs and hash-mismatch here)
      "q199_streaming_minhash" -> minHashProdVerifySql,
      // q208: the SAME oracle across a checkpoint restart — recovery of
      // the band-bucket state is exactly what keeps the pair set equal
      "q208_streaming_minhash_restart" -> minHashProdVerifySql,
      // q210: q190's oracle across a session_window checkpoint restart —
      // merge-state recovery is exactly what keeps transcripts complete
      "q210_streaming_chat_restart" -> chatRenderOracleSql,
      // q211: q81's oracle across a funnel checkpoint restart — a lost
      // timeout timestamp silently drops a user and fails the row count
      "q211_streaming_funnel_restart" -> funnelOracleSql,
      // q212: the stream-stream interval join must converge to the batch
      // left join — matches AND watermark-gated null rows
      "q212_streaming_click_attribution" -> clickAttributionOracleSql,
      // q213: the SAME oracle across a join checkpoint restart
      "q213_streaming_join_restart" -> clickAttributionOracleSql,
      // q218: the left join over ONLY the on-time (even) halves — the
      // months-late odd half must vanish from join consideration
      "q218_streaming_join_late_drop" ->
        clickAttributionOracleSqlFor("left", onTimeOnly = true),
      // q219/q220: the same batch join, sides flipped / both arms
      "q219_streaming_join_right_outer" -> clickAttributionOracleSqlFor("right"),
      "q220_streaming_join_full_outer" -> clickAttributionOracleSqlFor("full"),
      // q255/q256: the right-outer and semi oracles across a join
      // checkpoint restart — null-emission from recovered click-side
      // state, and emit-once across the stop/start, respectively
      "q255_streaming_right_outer_restart" -> clickAttributionOracleSqlFor("right"),
      "q256_streaming_semi_restart" -> clickAttributionOracleSqlFor("semi"),
      // q250: the SAME full-outer oracle across a join checkpoint
      // restart — both recovered arms must still null-emit
      "q250_streaming_full_outer_restart" -> clickAttributionOracleSqlFor("full"),
      // q221: EXISTS — one row per attributed view, however many clicks
      "q221_streaming_join_semi" -> clickAttributionOracleSqlFor("semi"),
      // q222/q223: append ≡ rebuild across micro-batch arrival — the
      // existing index oracles gate the streamed folds verbatim
      "q222_streaming_ivf_append" -> bruteForceAnnSql,
      "q223_streaming_bm25_append" -> bm25Sql,
      // q224: per-wave gating against the growing reference equals the
      // whole-batch gate — q67's oracle verbatim
      "q224_streaming_bloom_ingest" -> incrementalDedupSql,
      // q226: matched pairs only — the plain INNER join
      "q226_streaming_join_inner" -> clickAttributionOracleSqlFor("inner"),
      // q228/q229: compaction moves bytes, never rows — the original
      // append oracles gate the compacted layouts verbatim
      "q228_bm25_index_compact" -> bm25Sql,
      "q229_ann_ivf_compact" -> bruteForceAnnSql,
      "q230_neardup_index_compact" -> nearDupIncrementalSql,
      // q235–q237: deletion — each original oracle over a corpus that
      // never contained the retracted ninth (delete ≡ rebuild-without)
      "q235_bm25_index_delete" -> bm25SqlFor(" WHERE doc_id % 9 <> 4"),
      // q243: the corpus as it stands after the whole lifecycle —
      // retracted ninth absent, % 6 == 2 survivors re-texted
      "q243_index_lifecycle" -> bm25SqlFor(" WHERE doc_id % 9 <> 4",
        "CASE WHEN doc_id % 6 = 2 THEN text || ' spark rev2' ELSE text END"),
      "q236_ann_ivf_delete" -> bruteForceAnnSqlFor(" WHERE vec_id % 9 <> 4"),
      "q237_neardup_index_delete" ->
        nearDupIncrementalSqlFor(" WHERE doc_id % 9 <> 4"),
      // q244/q245: the lifecycle oracles — the same builders with the
      // % 6 == 2 survivors re-embedded / re-texted
      "q244_ann_ivf_lifecycle" -> bruteForceAnnSqlFor(
        " WHERE vec_id % 9 <> 4",
        "CASE WHEN vec_id % 6 = 2 THEN list_transform(embedding::DOUBLE[], x -> -x) " +
          "ELSE embedding::DOUBLE[] END"),
      "q245_neardup_lifecycle" -> nearDupIncrementalSqlFor(
        " WHERE doc_id % 9 <> 4",
        "CASE WHEN doc_id % 6 = 2 THEN text || ' rev2x rev2y rev2z' ELSE text END"),
      // q227: compaction must preserve the view — q214's oracle
      "q227_streaming_serving_compact" -> servingViewOracleSql,
      // q231: retention — q225's view over only the kept windows
      "q231_streaming_serving_expire" ->
        """WITH v AS (SELECT epoch_ns(ts) // 1000 // 86400000000
          |             * 86400000000 AS win_start_us,
          |           user_id, count(*)::BIGINT AS n_events,
          |           max(epoch_ns(ts) // 1000) AS last_us
          |           FROM events GROUP BY 1, 2)
          |SELECT * FROM v WHERE win_start_us >= 1705363200000000""".stripMargin,
      // q225: the (window, user) serving view — day windows are
      // epoch-aligned in UTC, so µs floor-division replays window()
      "q225_streaming_windowed_serving" ->
        """SELECT epoch_ns(ts) // 1000 // 86400000000 * 86400000000
          |         AS win_start_us,
          |       user_id, count(*)::BIGINT AS n_events,
          |       max(epoch_ns(ts) // 1000) AS last_us
          |FROM events GROUP BY 1, 2""".stripMargin,
      // q232: time travel — the view as of version 1 is the batch
      // GROUP BY over the first two ingest waves only
      "q232_serving_time_travel" ->
        """SELECT user_id, count(*)::BIGINT AS n_events,
          |max(epoch_ns(ts) // 1000) AS last_us
          |FROM events WHERE event_id % 3 <= 1
          |GROUP BY user_id""".stripMargin,
      // q233: changefeed — each wave's change rows are the cumulative
      // per-user totals through that wave, for users WITH events in
      // the wave; first such wave is the insert
      "q233_serving_changefeed" ->
        """WITH e AS (SELECT user_id, event_id % 3 AS wave,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |w AS (SELECT user_id, wave, count(*) AS n, max(us) AS m
          |      FROM e GROUP BY user_id, wave),
          |c AS (SELECT user_id, wave,
          |        sum(n) OVER (PARTITION BY user_id ORDER BY wave) AS n_events,
          |        max(m) OVER (PARTITION BY user_id ORDER BY wave) AS last_us,
          |        row_number() OVER (PARTITION BY user_id ORDER BY wave) AS rn
          |      FROM w)
          |SELECT CAST(wave AS BIGINT) AS version,
          |  CASE WHEN rn = 1 THEN 'insert' ELSE 'update' END AS op,
          |  user_id, CAST(n_events AS BIGINT) AS n_events, last_us
          |FROM c""".stripMargin,
      // q253: the cross-store consistency matrix — every doc's
      // presence in all three stores is exactly "not in the request
      // set" (ids share one domain, every doc has terms/grams/vector)
      "q253_forget_everywhere" ->
        """SELECT d.doc_id, (d.doc_id % 9 <> 4) AS in_postings,
          |  CASE WHEN e.vec_id IS NULL THEN NULL
          |       ELSE (d.doc_id % 9 <> 4) END AS in_ivf,
          |  (d.doc_id % 9 <> 4) AS in_minhash
          |FROM documents d
          |LEFT JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin,
      // q254: applying the changefeed reconstructs the view — q248's
      // oracle verbatim (the replica a CDF consumer materializes)
      "q254_changefeed_apply" -> tombstoneViewOracleSql,
      // q248: the view after tombstones + re-ingest — the batch GROUP
      // BY excluding the still-deleted keys (% 7 == 3 minus the
      // % 14 == 3 reinserted half)
      "q248_serving_tombstone_delete" -> tombstoneViewOracleSql,
      // q249: q233's cumulative per-wave diffs (versions 0-2), then the
      // tombstone version's deletes carrying the PRE-IMAGE (the users'
      // full totals — every wave is below the delete), then the
      // re-ingest version's inserts with the same recomputed totals
      "q249_serving_delete_changefeed" ->
        """WITH e AS (SELECT user_id, event_id % 3 AS wave,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |w AS (SELECT user_id, wave, count(*) AS n, max(us) AS m
          |      FROM e GROUP BY user_id, wave),
          |c AS (SELECT user_id, wave,
          |        sum(n) OVER (PARTITION BY user_id ORDER BY wave) AS n_events,
          |        max(m) OVER (PARTITION BY user_id ORDER BY wave) AS last_us,
          |        row_number() OVER (PARTITION BY user_id ORDER BY wave) AS rn
          |      FROM w),
          |f AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_us FROM e GROUP BY user_id)
          |SELECT CAST(wave AS BIGINT) AS version,
          |  CASE WHEN rn = 1 THEN 'insert' ELSE 'update' END AS op,
          |  user_id, CAST(n_events AS BIGINT) AS n_events, last_us
          |FROM c
          |UNION ALL
          |SELECT 3 AS version, 'delete' AS op, user_id, n_events, last_us
          |FROM f WHERE user_id % 7 = 3
          |UNION ALL
          |SELECT 4 AS version, 'insert' AS op, user_id, n_events, last_us
          |FROM f WHERE user_id % 14 = 3""".stripMargin,
      // q260: the evolved serving view — even users' full totals with
      // the new n_clicks column, odd users' carried pre-change rows
      // with n_clicks NULL (totals as of their last wave in {0,1}:
      // waves<=1 totals equal wave-0 totals for users without wave-1
      // events, so one cumulative arm covers both carried classes)
      "q260_serving_schema_evolution" ->
        """WITH e AS (SELECT user_id, event_id % 3 AS wave, event_type,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |f AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_us,
          |        (count(*) FILTER (WHERE event_type = 'click'))::BIGINT
          |          AS n_clicks
          |      FROM e GROUP BY user_id),
          |p AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_us
          |      FROM e WHERE wave <= 1 GROUP BY user_id)
          |SELECT user_id, n_events, last_us, n_clicks
          |FROM f WHERE user_id % 2 = 0
          |UNION ALL
          |SELECT user_id, n_events, last_us, CAST(NULL AS BIGINT) AS n_clicks
          |FROM p WHERE user_id % 2 = 1""".stripMargin,
      // q261: the change rows across the boundary — v0 inserts, v1
      // insert/update (both pre-change shape: n_clicks NULL), v2 every
      // even user (update when any prior row existed, else insert)
      // carrying the new column
      "q261_evolution_changefeed" ->
        """WITH e AS (SELECT user_id, event_id % 3 AS wave, event_type,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |w AS (SELECT user_id, wave, count(*) AS n, max(us) AS m
          |      FROM e GROUP BY user_id, wave),
          |v0 AS (SELECT user_id, n::BIGINT AS n_events, m AS last_us
          |       FROM w WHERE wave = 0),
          |v1 AS (SELECT user_id, sum(n)::BIGINT AS n_events,
          |         max(m) AS last_us
          |       FROM w WHERE wave <= 1 GROUP BY user_id
          |       HAVING max(CASE WHEN wave = 1 THEN 1 ELSE 0 END) = 1),
          |f AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_us,
          |        (count(*) FILTER (WHERE event_type = 'click'))::BIGINT
          |          AS n_clicks
          |      FROM e GROUP BY user_id)
          |SELECT CAST(0 AS BIGINT) AS version, 'insert' AS op, user_id,
          |       n_events, last_us, CAST(NULL AS BIGINT) AS n_clicks
          |FROM v0
          |UNION ALL
          |SELECT 1, CASE WHEN user_id IN (SELECT user_id FROM v0)
          |            THEN 'update' ELSE 'insert' END,
          |       user_id, n_events, last_us, CAST(NULL AS BIGINT)
          |FROM v1
          |UNION ALL
          |SELECT 2, CASE WHEN user_id IN (SELECT user_id FROM v0
          |                                UNION SELECT user_id FROM v1)
          |            THEN 'update' ELSE 'insert' END,
          |       user_id, n_events, last_us, n_clicks
          |FROM f WHERE user_id % 2 = 0""".stripMargin,
      // q262: q260's two-arm shape under the RENAMED column — even
      // users' full totals, odd users' carried waves<=1 totals, both
      // reading as last_seen_us (the carried arm's data predates the
      // rename; the ledger projection exposes it under the new name)
      "q262_serving_rename" ->
        """WITH e AS (SELECT user_id, event_id % 3 AS wave,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |f AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_seen_us FROM e GROUP BY user_id),
          |p AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_seen_us
          |      FROM e WHERE wave <= 1 GROUP BY user_id)
          |SELECT user_id, n_events, last_seen_us
          |FROM f WHERE user_id % 2 = 0
          |UNION ALL
          |SELECT user_id, n_events, last_seen_us
          |FROM p WHERE user_id % 2 = 1""".stripMargin,
      // q263: q260's oracle verbatim — compaction must be invisible to
      // the evolved view (newest schema, NULL-backfilled history)
      "q263_evolution_compacted" ->
        """WITH e AS (SELECT user_id, event_id % 3 AS wave, event_type,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |f AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_us,
          |        (count(*) FILTER (WHERE event_type = 'click'))::BIGINT
          |          AS n_clicks
          |      FROM e GROUP BY user_id),
          |p AS (SELECT user_id, count(*)::BIGINT AS n_events,
          |        max(us) AS last_us
          |      FROM e WHERE wave <= 1 GROUP BY user_id)
          |SELECT user_id, n_events, last_us, n_clicks
          |FROM f WHERE user_id % 2 = 0
          |UNION ALL
          |SELECT user_id, n_events, last_us, CAST(NULL AS BIGINT) AS n_clicks
          |FROM p WHERE user_id % 2 = 1""".stripMargin,
      // q239: each era's projection replayed from events — NULL
      // backfill for pre-value history, REAL→DOUBLE widening for gen1
      "q239_schema_evolution" ->
        """WITH e AS (SELECT event_id, user_id, event_type,
          |             epoch_ns(ts) // 1000 AS us FROM events),
          |g0 AS (SELECT event_id, user_id, event_type, us,
          |       CAST(NULL AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS src
          |       FROM e WHERE event_id % 3 = 0),
          |g1 AS (SELECT event_id, user_id, event_type, us,
          |       CAST(CAST(event_id % 97 AS REAL) AS DOUBLE) AS value,
          |       CAST(NULL AS VARCHAR) AS src
          |       FROM e WHERE event_id % 3 = 1),
          |g2 AS (SELECT event_id, user_id, event_type, us,
          |       CAST(event_id % 97 AS DOUBLE) + 0.5 AS value, 'v2' AS src
          |       FROM e WHERE event_id % 3 = 2)
          |SELECT * FROM g0 UNION ALL SELECT * FROM g1
          |UNION ALL SELECT * FROM g2""".stripMargin,
      // q240: the two-stage binary ranking replayed — Hamming = per-dim
      // sign disagreement, shortlist 20 by (hamming, n_id), rerank by
      // exact cosine
      "q240_binary_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
          |h AS (SELECT q_id, vec_id AS n_id, qv, v AS nv,
          |        CAST(len(list_filter(range(1, len(qv) + 1),
          |          i -> (qv[i] > 0) <> (nv[i] > 0))) AS BIGINT) AS hamming
          |      FROM q, e WHERE q_id <> vec_id),
          |s AS (SELECT q_id, n_id, hamming, qv, nv,
          |        row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hr
          |      FROM h),
          |r AS (SELECT q_id, n_id, hamming,
          |        round(list_cosine_similarity(qv, nv), 6) AS cos_sim
          |      FROM s WHERE hr <= 20),
          |t AS (SELECT q_id, n_id, hamming, cos_sim,
          |        CAST(row_number() OVER (PARTITION BY q_id
          |          ORDER BY cos_sim DESC, n_id) AS INT) AS rnk
          |      FROM r) SELECT * FROM t WHERE rnk <= 5""".stripMargin,
      // q234: sketch shards — exact counts from the full corpus; the
      // sketch-side contracts reduce to literal-true booleans
      "q234_sketch_shards" -> sketchShardsOracleSql,
      // q251: quantile shards — exact percentiles from the full corpus
      // (quantile_cont ≡ Spark's exact interpolated percentile); the
      // sketch-side contracts reduce to literal-true booleans
      "q251_quantile_shards" -> quantileShardsOracleSql,
      // q252: the SAME contract over stream-maintained KLL shards
      "q252_streaming_quantile_shards" -> quantileShardsOracleSql,
      // q257: and across a checkpoint restart of the KLL artifact stream
      "q257_streaming_quantile_restart" -> quantileShardsOracleSql,
      // q258/q259: the SAME contracts over COMPACTED artifacts — the
      // merge is associative (HLL) / N-exact (KLL), so compaction must
      // be invisible to both oracles
      "q258_sketch_shards_compacted" -> sketchShardsOracleSql,
      "q259_quantile_shards_compacted" -> quantileShardsOracleSql,
      // q241: the SAME contract over stream-maintained shards
      "q241_streaming_sketch_shards" -> sketchShardsOracleSql,
      // q242: and across a checkpoint restart of the artifact stream
      "q242_streaming_sketch_restart" -> sketchShardsOracleSql,
      // q247: the append-style restart — the full-corpus BM25 oracle
      "q247_streaming_append_restart" -> bm25Sql,
      // q214: the serving view the upsert stream must converge to
      "q214_streaming_upsert_serving" -> servingViewOracleSql,
      // q215: the SAME serving view across an agg-state checkpoint
      // restart — a reset agg undercounts every user
      "q215_streaming_upsert_restart" -> servingViewOracleSql,
      "q264_streaming_upsert_replay" -> servingViewOracleSql,
      // q246: vacuum reclaims history, never the current view
      "q246_serving_vacuum" -> servingViewOracleSql,
      // q217: the full sink from the construction — both copies of
      // every corpus text (pre- and post-eviction), both advancers, and
      // NO third alpha row (its state was still in-horizon)
      "q217_streaming_dedup_horizon" ->
        """WITH k AS (SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
          |           FROM documents GROUP BY md5(text))
          |SELECT doc_id, content_hash FROM k
          |UNION ALL SELECT doc_id + 20000000, content_hash FROM k
          |UNION ALL SELECT CAST(-1 AS BIGINT), md5('graft horizon sentinel alpha')
          |UNION ALL SELECT CAST(-2 AS BIGINT), md5('graft horizon sentinel beta')""".stripMargin,
      // q216: the tumbling view over ONLY the on-time half — the
      // months-late other half must have been dropped by the watermark
      "q216_streaming_late_drop" ->
        """WITH e AS (SELECT event_id, event_type, epoch_ns(ts) // 1000 AS us,
          |             CAST(event_id % 97 AS DOUBLE) AS value
          |           FROM events WHERE event_id % 2 = 0)
          |SELECT us // 600000000 * 600000000 AS win_start_us, event_type,
          |count(*)::BIGINT AS n_events, sum(value) AS sum_value
          |FROM e GROUP BY 1, 2""".stripMargin,

      "q58_contamination" ->
        """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
          |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
          |cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
          |cg AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |       FROM cw, UNNEST(range(1, len(ws)-1)) AS t(i)),
          |bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM bench),
          |bg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          |       FROM bw, UNNEST(range(1, len(ws)-1)) AS t(i))
          |SELECT cg.doc_id, count(*) AS n_grams,
          |CAST(sum(CASE WHEN bg.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
          |CAST(sum(CASE WHEN bg.gram IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / count(*) AS contamination
          |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
          |GROUP BY cg.doc_id""".stripMargin,

      "q59_mix_sources" ->
        """WITH wts(source, w) AS (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE)),
          |d AS (SELECT doc_id, documents.source, w FROM documents JOIN wts USING (source)),
          |c AS (SELECT source, w, count(*) AS n FROM d GROUP BY 1, 2),
          |t AS (SELECT min(n / w) AS t_total FROM c),
          |thr AS (SELECT source, CAST(ceil(t_total * w / n * 65536) AS BIGINT) AS thr
          |        FROM c CROSS JOIN t)
          |SELECT doc_id, d.source
          |FROM d JOIN thr ON d.source = thr.source
          |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT < thr""".stripMargin,

      "q39_stratified_sample" ->
        """WITH r AS (SELECT doc_id, lang,
          |  row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
          |  FROM documents)
          |SELECT doc_id, lang FROM r WHERE rn <= 20""".stripMargin,

      // q109's oracle: noindex and canonical come FROM the fixture's
      // construction (doc_id arithmetic — the q101 identity pattern;
      // q108 already proves the extractor recovers them from the html),
      // then the q96 tail over the RESOLVED url fixture
      "q109_crawl_frontdoor" -> {
        val resolvedUrlSql =
          s"""SELECT doc_id, CASE WHEN doc_id % 3 = 0
             |  THEN 'http://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/a/' || CAST(doc_id % 25 AS VARCHAR)
             |  ELSE url END AS url
             |FROM ($urlFixtureSql) fetch_urls WHERE doc_id % 7 <> 0""".stripMargin
        s"""WITH ${boilerplateCteFor(metaHtmlFixtureSql)},
           |${urlCanonCteFor(resolvedUrlSql)},
           |x AS (SELECT doc_id,
           |  array_to_string(list_transform(content, s -> s.t), ' ') AS main_text
           |  FROM cl),
           |keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY norm_url),
           |cap AS (SELECT doc_id, domain FROM (
           |  SELECT doc_id, domain, row_number() OVER (
           |    PARTITION BY domain
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM d) WHERE rn <= 40),
           |j AS (SELECT x.doc_id, cap.domain,
           |  len(string_split(main_text, ' ')) AS nw
           |  FROM x JOIN keep USING (doc_id) JOIN cap USING (doc_id))
           |SELECT doc_id, domain, nw::BIGINT AS n_words FROM j WHERE nw >= 30""".stripMargin
      },

      // q123 = the q109 chain over the robots ∧ blocklist survivors: the
      // verdict CTE chains (rv, bv) gate the resolved-urls source, then
      // the shared boilerplate/url-canon prefixes replay the front door
      "q123_crawl_gate_compose" -> {
        val gatedResolvedSql =
          s"""SELECT doc_id, CASE WHEN doc_id % 3 = 0
             |  THEN 'http://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/a/' || CAST(doc_id % 25 AS VARCHAR)
             |  ELSE url END AS url
             |FROM ($urlFixtureSql) fetch_urls
             |JOIN cgate USING (doc_id) WHERE doc_id % 7 <> 0""".stripMargin
        s"""WITH ${boilerplateCteFor(metaHtmlFixtureSql)},
           |$robotsVerdictCtes,
           |$blocklistVerdictCtes,
           |cgate AS (SELECT rv.doc_id FROM rv JOIN bv USING (doc_id)
           |          WHERE allowed AND NOT blocked),
           |${urlCanonCteFor(gatedResolvedSql)},
           |x AS (SELECT doc_id,
           |  array_to_string(list_transform(content, s -> s.t), ' ') AS main_text
           |  FROM cl),
           |keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY norm_url),
           |cap AS (SELECT doc_id, domain FROM (
           |  SELECT doc_id, domain, row_number() OVER (
           |    PARTITION BY domain
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM d) WHERE rn <= 40),
           |j AS (SELECT x.doc_id, cap.domain,
           |  len(string_split(main_text, ' ')) AS nw
           |  FROM x JOIN keep USING (doc_id) JOIN cap USING (doc_id))
           |SELECT doc_id, domain, nw::BIGINT AS n_words FROM j WHERE nw >= 30""".stripMargin
      },

      // q124: the rv chain gates to allowed URLs; a 4-kind re-parse of
      // the SAME rlines (retaining crawl-delay) replays group selection
      // for the delay table; the two-level salted rank collapses to the
      // single window it provably equals — row_number over (domain ORDER
      // BY salt, md5, doc_id)
      "q124_fetch_schedule" ->
        s"""WITH $robotsVerdictCtes,
           |$robotsDelayCtes,
           |sched AS (SELECT doc_id, domain,
           |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 16 AS salt,
           |    md5(doc_id::VARCHAR) AS m
           |  FROM rv WHERE allowed),
           |sq AS (SELECT doc_id, domain,
           |    row_number() OVER (PARTITION BY domain ORDER BY salt, m, doc_id) - 1 AS seq
           |  FROM sched)
           |SELECT doc_id, domain, seq,
           |  seq * coalesce(crawl_delay, 1) AS fetch_at
           |FROM sq LEFT JOIN rdel USING (domain)""".stripMargin,

      // q125: lateral aliases feed the two grade formulas; every literal
      // casts ::DOUBLE so DuckDB's DECIMAL inference never enters the
      // arithmetic, keeping both engines in bit-identical IEEE doubles
      "q125_readability" -> readabilitySql("documents"),

      // q126: the q102 score chain rolls up per fixture domain in
      // integer micro-units; `//` (floor) ≡ Spark's `div` (truncate) on
      // the non-negative sums the scorer guarantees at this gate
      "q126_domain_quality" ->
        s"""WITH $qualityScoreCte,
           |ud AS ($urlFixtureSql),
           |dom AS (SELECT doc_id,
           |  lower(regexp_extract(url, '${operators.UrlOps.bareHostRe}', 1)) AS domain
           |  FROM ud),
           |m AS (SELECT domain, CAST(round(quality_score * 1000000) AS BIGINT) AS mi
           |      FROM score JOIN dom USING (doc_id))
           |SELECT domain, count(*)::BIGINT AS n_docs,
           |  sum(CASE WHEN mi >= 400000 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           |  (CAST(sum(mi) AS BIGINT) // count(*)) AS avg_quality_micro,
           |  (CAST(sum(mi) AS BIGINT) // count(*)) >= 400000 AS domain_keep
           |FROM m GROUP BY domain""".stripMargin,

      // q127's oracle scores the NEW corpus in full — equality against
      // the operator's delta-compute + carry-forward plan proves
      // incremental ≡ recompute on the q122 snapshot fixture
      "q127_incremental_scores" ->
        s"""WITH n0 AS (SELECT doc_id,
           |         CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
           |       FROM documents WHERE doc_id % 7 <> 0
           |       UNION ALL
           |       SELECT doc_id + 1000000, 'fresh doc ' || CAST(doc_id AS VARCHAR)
           |       FROM documents WHERE doc_id % 6 = 0)
           |${readabilitySql("n0")}""".stripMargin,

      // q128: same md5 shard coin as q105; checksum = bit_xor over the
      // 60-bit md5(id:text) image — order-independent in both engines
      "q128_shard_manifest" ->
        """WITH h AS (SELECT doc_id, text,
          |    ('0x' || substr(md5('r8:' || doc_id::VARCHAR), 1, 4))::INT % 8 AS shard
          |  FROM documents)
          |SELECT shard, count(*)::BIGINT AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
          |  bit_xor(('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT)
          |    AS checksum
          |FROM h GROUP BY shard""".stripMargin,

      // q129: full replay — Sitemap declarations from the robots VALUES,
      // <loc> extraction + entity decode from the sitemap VALUES, both
      // normalization chains (candidates prefixed `c`, crawled default),
      // anti-join on the normalized URL
      "q129_sitemap_discovery" ->
        s"""WITH $sitemapCandidateCtes
           |SELECT DISTINCT domain, norm_url FROM smnew""".stripMargin,

      // q130: the discovery chain's survivors (identity = norm_url) take
      // the robots verdict against the shared rule arrays, then the
      // collapsed single-window schedule replay keyed on md5(norm_url)
      "q130_discovery_to_fetch" ->
        s"""WITH $sitemapCandidateCtes,
           |$robotsRulesCtes,
           |$robotsDelayCtes,
           |fcand AS (SELECT DISTINCT norm_url FROM smnew),
           |fv AS (SELECT norm_url,
           |  lower(regexp_extract(norm_url, '${operators.UrlOps.bareHostRe}', 1)) AS domain,
           |  coalesce(nullif(regexp_extract(norm_url, '${operators.Robots.pathQueryRe}', 1), ''), '/') AS path
           |  FROM fcand),
           |fallow AS (SELECT norm_url, fv.domain FROM fv LEFT JOIN ra USING (domain)
           |  WHERE coalesce(list_max(list_transform(
           |    list_filter(ra.rules, q -> fv.path LIKE q.lp ESCAPE '!'),
           |    q -> q.rank)) % 2 = 1, true)),
           |fsched AS (SELECT norm_url AS doc_id, domain,
           |    ('0x' || substr(md5(norm_url), 1, 4))::INT % 16 AS salt,
           |    md5(norm_url) AS m
           |  FROM fallow),
           |fsq AS (SELECT doc_id, domain,
           |    row_number() OVER (PARTITION BY domain ORDER BY salt, m, doc_id) - 1 AS seq
           |  FROM fsched)
           |SELECT doc_id, domain, seq,
           |  seq * coalesce(crawl_delay, 1) AS fetch_at
           |FROM fsq LEFT JOIN rdel USING (domain)""".stripMargin,

      // q133: the q113 PageRank chain feeds per-URL authority (distinct
      // linking domains × their ranks, summed), candidates = normalized
      // link targets minus the crawled set, and the prioritized schedule
      // collapses to its provable single window — row_number over
      // (domain ORDER BY priority DESC, salt, md5, doc_id)
      "q133_priority_frontier" -> {
        val host = (c: String) =>
          s"lower(regexp_extract($c, '${operators.UrlOps.bareHostRe}', 1))"
        s"""WITH ${pageRankCtes(linkedHtmlFixtureSql, 5, 85)},
           |hcand AS (SELECT row_number() OVER (ORDER BY href) AS doc_id, href AS url
           |  FROM (SELECT DISTINCT href FROM links)),
           |${urlCanonCteFor("SELECT doc_id, url FROM hcand", "h")},
           |hmap AS (SELECT hcand.url AS href, hn.norm_url
           |  FROM hcand JOIN hn USING (doc_id)),
           |pairs AS (SELECT DISTINCT ${host("l.url")} AS src_domain, hm.norm_url
           |  FROM links l JOIN hmap hm ON l.href = hm.href
           |  WHERE ${host("l.url")} <> '' AND hm.norm_url <> ''),
           |auth AS (SELECT norm_url, CAST(sum(rank_e6) AS BIGINT) AS priority_e6
           |  FROM pairs JOIN ranks ON src_domain = domain GROUP BY norm_url),
           |${urlCanonCteFor("SELECT doc_id, url FROM pages", "p")},
           |cand AS (SELECT h2.norm_url FROM (SELECT DISTINCT norm_url FROM hmap) h2
           |  WHERE h2.norm_url NOT IN (SELECT DISTINCT norm_url FROM pn)),
           |dly AS (SELECT 'www.site' || CAST(i AS VARCHAR) || '.com' AS domain,
           |    CAST(1 + i % 3 AS BIGINT) AS crawl_delay
           |  FROM range(0, 97) t(i) WHERE i % 4 = 0),
           |sched AS (SELECT c.norm_url AS doc_id, ${host("c.norm_url")} AS domain,
           |    coalesce(a.priority_e6, 0) AS priority_e6,
           |    ('0x' || substr(md5(c.norm_url), 1, 4))::INT % 16 AS salt,
           |    md5(c.norm_url) AS m
           |  FROM cand c LEFT JOIN auth a USING (norm_url)),
           |sq AS (SELECT doc_id, domain, priority_e6,
           |    row_number() OVER (PARTITION BY domain
           |      ORDER BY priority_e6 DESC, salt, m, doc_id) - 1 AS seq
           |  FROM sched)
           |SELECT doc_id, domain, priority_e6, seq,
           |  seq * coalesce(crawl_delay, 1) AS fetch_at
           |FROM sq LEFT JOIN dly USING (domain)""".stripMargin
      },

      // q134: hash-diff statuses (added has no old row, changed differs,
      // removed filtered), prior interval clamped into range then
      // doubled/halved — `//` ≡ Spark `div` on the non-negative clamp
      // per-URL collapse (og/ng/ivg — min hash, min interval) mirrors the
      // operator's snapshot contract: a snapshot is url → content, so the
      // 16 colliding fixture URLs reduce to one row instead of fanning
      // through the diff join
      "q134_recrawl_schedule" ->
        s"""WITH u AS ($urlFixtureSql),
           |o AS (SELECT u.url, d.doc_id, md5(d.text) AS h, d.text
           |      FROM u JOIN documents d USING (doc_id)),
           |og AS (SELECT url, min(h) AS h FROM o GROUP BY url),
           |n AS (SELECT url,
           |        md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h
           |      FROM o WHERE doc_id % 7 <> 0
           |      UNION ALL
           |      SELECT 'http://www.example' || CAST(doc_id % 7 AS VARCHAR) ||
           |               '.com/fresh/' || CAST(doc_id AS VARCHAR),
           |             md5('fresh doc ' || CAST(doc_id AS VARCHAR))
           |      FROM documents WHERE doc_id % 6 = 0),
           |ng AS (SELECT url, min(h) AS h FROM n GROUP BY url),
           |iv AS (SELECT url, CASE (doc_id // 2) % 4 WHEN 0 THEN 900 WHEN 1 THEN 7200
           |         WHEN 2 THEN 86400 ELSE 500 END AS interval_sec
           |       FROM o WHERE doc_id % 2 = 0),
           |ivg AS (SELECT url, min(interval_sec) AS interval_sec FROM iv GROUP BY url),
           |j AS (SELECT ng.url,
           |        CASE WHEN og.url IS NULL THEN 'added'
           |             WHEN og.h <> ng.h THEN 'changed'
           |             ELSE 'unchanged' END AS status,
           |        greatest(300, least(86400, coalesce(ivg.interval_sec, 3600))) AS pc
           |      FROM ng LEFT JOIN og ON ng.url = og.url LEFT JOIN ivg ON ng.url = ivg.url),
           |k AS (SELECT url, status,
           |        CASE WHEN status = 'added' THEN 3600
           |             WHEN status = 'changed' THEN greatest(300, pc // 2)
           |             ELSE least(86400, pc * 2) END AS interval_sec
           |      FROM j)
           |SELECT url, status, CAST(interval_sec AS BIGINT) AS interval_sec,
           |  CAST(1700000000 + interval_sec AS BIGINT) AS next_fetch_at
           |FROM k""".stripMargin,

      // q135: ONE CTE chain replays the whole loop — discovery (the
      // q129/q130 smnew chain), the recrawl diff (q134's chain, rc-
      // prefixed, rejoined to the crawled normalization CTE `n` for
      // candidate identity), the union'd frontier's robots verdict
      // against the shared rule arrays, the PageRank unroll on the
      // derived example-domain link fixture, and the collapsed
      // prioritized window keyed (priority DESC, salt, md5, doc_id)
      "q135_crawl_loop" -> {
        val host = (c: String) =>
          s"lower(regexp_extract($c, '${operators.UrlOps.bareHostRe}', 1))"
        s"""WITH $sitemapCandidateCtes,
           |$robotsRulesCtes,
           |$robotsDelayCtes,
           |${pageRankCtes(exampleLinkedFixtureSql, 5, 85)},
           |rco AS (SELECT f.url, f.doc_id, md5(dd.text) AS h, dd.text AS text
           |        FROM f JOIN documents dd USING (doc_id)),
           |rcn AS (SELECT url,
           |          md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h
           |        FROM rco WHERE doc_id % 7 <> 0
           |        UNION ALL
           |        SELECT 'http://www.example' || CAST(doc_id % 7 AS VARCHAR) ||
           |                 '.com/fresh/' || CAST(doc_id AS VARCHAR),
           |               md5('fresh doc ' || CAST(doc_id AS VARCHAR))
           |        FROM documents WHERE doc_id % 6 = 0),
           |rciv AS (SELECT url, CASE (doc_id // 2) % 4 WHEN 0 THEN 900 WHEN 1 THEN 7200
           |           WHEN 2 THEN 86400 ELSE 500 END AS interval_sec
           |         FROM rco WHERE doc_id % 2 = 0),
           |rcog AS (SELECT url, min(h) AS h FROM rco GROUP BY url),
           |rcng AS (SELECT url, min(h) AS h FROM rcn GROUP BY url),
           |rcivg AS (SELECT url, min(interval_sec) AS interval_sec FROM rciv GROUP BY url),
           |rcj AS (SELECT rcng.url,
           |          CASE WHEN rcog.url IS NULL THEN 'added'
           |               WHEN rcog.h <> rcng.h THEN 'changed'
           |               ELSE 'unchanged' END AS status,
           |          greatest(300, least(86400, coalesce(rcivg.interval_sec, 3600))) AS pc
           |        FROM rcng LEFT JOIN rcog ON rcng.url = rcog.url
           |          LEFT JOIN rcivg ON rcng.url = rcivg.url),
           |rck AS (SELECT url,
           |          CASE WHEN status = 'added' THEN 3600
           |               WHEN status = 'changed' THEN greatest(300, pc // 2)
           |               ELSE least(86400, pc * 2) END AS interval_sec
           |        FROM rcj),
           |rcdue AS (SELECT DISTINCT n.norm_url
           |          FROM rck JOIN rco ON rck.url = rco.url
           |            JOIN n ON n.doc_id = rco.doc_id
           |          WHERE rck.interval_sec <= 1800),
           |frontier AS (SELECT norm_url, 'discovered' AS kind
           |               FROM (SELECT DISTINCT norm_url FROM smnew) sn
           |             UNION ALL
           |             SELECT norm_url, 'recrawl' FROM rcdue),
           |fv2 AS (SELECT norm_url, kind, ${host("norm_url")} AS domain,
           |    coalesce(nullif(regexp_extract(norm_url,
           |      '${operators.Robots.pathQueryRe}', 1), ''), '/') AS path
           |  FROM frontier),
           |fallow2 AS (SELECT norm_url, kind, fv2.domain
           |  FROM fv2 LEFT JOIN ra USING (domain)
           |  WHERE coalesce(list_max(list_transform(
           |    list_filter(ra.rules, q -> fv2.path LIKE q.lp ESCAPE '!'),
           |    q -> q.rank)) % 2 = 1, true)),
           |prio AS (SELECT norm_url, kind, fallow2.domain,
           |    CAST(coalesce(ranks.rank_e6, 0) AS BIGINT) AS priority_e6
           |  FROM fallow2 LEFT JOIN ranks ON fallow2.domain = ranks.domain),
           |fsch AS (SELECT norm_url AS doc_id, domain, kind, priority_e6,
           |    ('0x' || substr(md5(norm_url), 1, 4))::INT % 16 AS salt,
           |    md5(norm_url) AS m
           |  FROM prio),
           |fsq2 AS (SELECT doc_id, domain, kind, priority_e6,
           |    row_number() OVER (PARTITION BY domain
           |      ORDER BY priority_e6 DESC, salt, m, doc_id) - 1 AS seq
           |  FROM fsch)
           |SELECT doc_id, domain, kind, priority_e6, seq,
           |  seq * coalesce(crawl_delay, 1) AS fetch_at
           |FROM fsq2 LEFT JOIN rdel USING (domain)""".stripMargin
      },

      // the q108 oracle embeds the OPERATOR'S OWN regex constants
      // (single-quotes doubled for the SQL literal) — two-step tag→attr
      // extraction replayed verbatim; nullif normalizes both engines'
      // no-match value to the shared null contract
      // q115's oracle replays the WHOLE RFC 9309 pipeline — line split
      // (zipped unnest), comment strip, directive parse (the operator's
      // own regex constants), group-run ids via lag+running-sum, specific-
      // shadows-'*' selection, LIKE-pattern compilation, and the in-row
      // longest-match/Allow-ties verdict as max(2·len+isAllow) parity —
      // over the same pinned robots bodies the Scala fixture serves
      "q115_robots_gate" ->
        s"""WITH $robotsVerdictCtes
           |SELECT doc_id, domain, path, allowed FROM rv""".stripMargin,

      // the oracle is the NAIVE form the operator avoids: one global
      // running-sum window — tractable at oracle scale, and exactly the
      // selection the bucketed plan must reproduce
      "q118_token_budget" ->
        s"""WITH $qualityScoreCte,
           |inp AS (SELECT w.doc_id, quality_score, len(ws)::BIGINT AS n_tokens
           |        FROM w JOIN score ON w.doc_id = score.doc_id),
           |o AS (SELECT doc_id, quality_score, n_tokens,
           |  sum(n_tokens) OVER (ORDER BY quality_score DESC,
           |    md5(CAST(doc_id AS VARCHAR)), doc_id
           |    ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM inp)
           |SELECT doc_id, quality_score, n_tokens FROM o WHERE cum <= 20000""".stripMargin,

      // the same slim-projection FULL OUTER JOIN; counts as CASE sums
      "q122_corpus_diff" ->
        """WITH o AS (SELECT doc_id, source, md5(text) AS h,
          |             len(string_split(text, ' '))::BIGINT AS nw FROM documents),
          |n0 AS (SELECT doc_id, source,
          |         CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
          |       FROM documents WHERE doc_id % 7 <> 0
          |       UNION ALL
          |       SELECT doc_id + 1000000, source, 'fresh doc ' || CAST(doc_id AS VARCHAR)
          |       FROM documents WHERE doc_id % 6 = 0),
          |n AS (SELECT doc_id, source, md5(text) AS h,
          |        len(string_split(text, ' '))::BIGINT AS nw FROM n0),
          |j AS (SELECT coalesce(n.source, o.source) AS source,
          |        CASE WHEN o.doc_id IS NULL THEN 'added'
          |             WHEN n.doc_id IS NULL THEN 'removed'
          |             WHEN o.h <> n.h THEN 'changed'
          |             ELSE 'unchanged' END AS st,
          |        coalesce(n.nw, 0) - coalesce(o.nw, 0) AS dw
          |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
          |SELECT source,
          |  sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
          |  sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
          |  sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
          |  sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged,
          |  sum(dw)::BIGINT AS word_delta
          |FROM j GROUP BY source""".stripMargin,

      // fixture text via chr() (the q107 convention), counts via the
      // operator's own hex-range classes, verdict via the same
      // greatest + first-match CASE priority
      "q120_script_stats" -> {
        val fixture =
          s"""SELECT doc_id, CASE
             |  WHEN doc_id % 5 = 1 THEN repeat(${sqlChrLit(scriptPhrases("cyrillic") + " ")}, 12) || 'latin tail'
             |  WHEN doc_id % 5 = 2 THEN repeat(${sqlChrLit(scriptPhrases("cjk"))}, 15) || ' small latin'
             |  WHEN doc_id % 5 = 3 THEN repeat(${sqlChrLit(scriptPhrases("arabic") + " ")}, 12) || 'tail'
             |  WHEN doc_id % 5 = 4 THEN repeat(${sqlChrLit(scriptPhrases("hangul") + " ")}, 12) || 'end'
             |  ELSE text END AS text FROM documents""".stripMargin
        val counts = operators.TextAnalysis.scriptBlocks.map { case (n, pat) =>
          s"len(regexp_extract_all(text, '$pat'))::BIGINT AS n_$n" }.mkString(",\n|  ")
        val names = operators.TextAnalysis.scriptBlocks.map(_._1)
        val g = names.map(n => s"n_$n").mkString("greatest(", ", ", ")")
        val verdict = names.map(n => s"WHEN n_$n = $g THEN '$n'").mkString("\n|       ")
        s"""WITH f AS ($fixture),
           |c AS (SELECT doc_id,
           |  $counts
           |  FROM f)
           |SELECT doc_id, ${names.map(n => s"n_$n").mkString(", ")},
           |  CASE WHEN $g = 0 THEN 'none'
           |       $verdict
           |       ELSE 'none' END AS main_script
           |FROM c""".stripMargin
      },

      // the same tokenization + hit-set + integer cross-multiply chain;
      // list_intersect/list_contains mirror array_intersect/array_contains
      "q116_badword_filter" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
          |  FROM documents),
          |h AS (SELECT doc_id, toks,
          |  list_intersect(toks, ['dup', 'slow', 'spam']) AS hits FROM t),
          |c AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
          |  len(list_filter(toks, x -> list_contains(hits, x)))::BIGINT AS bad_count
          |  FROM h)
          |SELECT doc_id, n_words, bad_count,
          |  bad_count * 1000000 <= n_words * 40000 AS keep
          |FROM c""".stripMargin,

      // suffix chain via list slicing l[i:], equi-joined to the entries
      "q117_domain_blocklist" ->
        s"""WITH $blocklistVerdictCtes
           |SELECT doc_id, domain, blocked FROM bv""".stripMargin,

      "q108_page_meta" -> {
        def re(r: String) = r.replace("'", "''")
        val title = re(operators.Boilerplate.titleRe)
        val descTag = re(operators.Boilerplate.metaTagRe("description"))
        val robotsTag = re(operators.Boilerplate.metaTagRe("robots"))
        val canonTag = re(operators.Boilerplate.linkCanonicalRe)
        val content = re(operators.Boilerplate.contentAttrRe)
        val href = re(operators.Boilerplate.hrefAttrRe)
        def clean(inner: String) =
          s"trim(regexp_replace(${entityDecodeSql(inner)}, '\\s+', ' ', 'g'))"
        s"""WITH h AS ($metaHtmlFixtureSql)
           |SELECT doc_id,
           |nullif(${clean(s"regexp_extract(html, '$title', 1)")}, '') AS page_title,
           |nullif(${clean(
            s"regexp_extract(regexp_extract(html, '$descTag', 0), '$content', 1)")}, '')
           |  AS meta_description,
           |nullif(regexp_extract(regexp_extract(html, '$canonTag', 0), '$href', 1), '')
           |  AS canonical_url,
           |regexp_matches(
           |  regexp_extract(regexp_extract(html, '$robotsTag', 0), '$content', 1),
           |  '(?i)noindex') AS robots_noindex
           |FROM h""".stripMargin
      },

      // chr(769)/chr(768) spell the combining marks (the Scala side uses
      // \u escapes) — no raw combining characters travel through either
      // source file; nfc_normalize is DuckDB's own UAX #15 NFC
      "q107_nfc_normalize" ->
        """SELECT doc_id, nfc_normalize(CASE
          |  WHEN doc_id % 3 = 1
          |    THEN text || ' cafe' || chr(769) || ' de' || chr(769) || 'ja' || chr(768) || ' vu'
          |  WHEN doc_id % 3 = 2 THEN text || ' caf' || chr(233) || ' d' || chr(233) || 'j' || chr(224) || ' vu'
          |  ELSE text END) AS text_nfc
          |FROM documents""".stripMargin,

      "q105_shuffle_shards" ->
        """WITH h AS (SELECT doc_id, md5('r8:' || doc_id::VARCHAR) AS hh FROM documents)
          |SELECT doc_id,
          |(('0x' || substr(hh, 1, 4))::INT % 8) AS shard,
          |row_number() OVER (PARTITION BY ('0x' || substr(hh, 1, 4))::INT % 8
          |                   ORDER BY hh, doc_id) AS pos
          |FROM h""".stripMargin,

      "q106_epoch_mix" ->
        """WITH wts(source, w) AS (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE)),
          |d AS (SELECT doc_id, documents.source, w FROM documents JOIN wts USING (source)),
          |c AS (SELECT source, w, count(*) AS n FROM d GROUP BY 1, 2),
          |t AS (SELECT max(n / w) AS t_total FROM c),
          |r AS (SELECT source, round(t_total * w / n, 6) AS rate FROM c CROSS JOIN t),
          |x AS (SELECT doc_id, d.source,
          |  floor(rate)::INT +
          |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':up'), 1, 4))::BIGINT
          |       < CAST(ceil((rate - floor(rate)) * 65536) AS BIGINT)
          |       THEN 1 ELSE 0 END AS nc
          |  FROM d JOIN r ON d.source = r.source)
          |SELECT doc_id, source, epoch::INT AS epoch
          |FROM x, UNNEST(generate_series(0, nc - 1)) AS t(epoch)""".stripMargin,

      "q40_hash_split" ->
        """SELECT doc_id,
          |('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT AS bucket,
          |CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT < 52428 THEN 'train'
          |     WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT < 58982 THEN 'val'
          |     ELSE 'test' END AS split
          |FROM documents""".stripMargin,

      "q38_asof_join" ->
        """WITH r AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS us,
          |           arg_max(o_totalprice, o_orderkey) AS price
          |           FROM orders GROUP BY 1, 2),
          |e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS us FROM events)
          |SELECT event_id, user_id, price AS asof_price
          |FROM e ASOF LEFT JOIN r ON e.user_id = r.k AND e.us >= r.us""".stripMargin,

      "q48_salted_accumulate" ->
        """SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
          |sum(l_quantity) OVER
          |(PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS run_qty
          |FROM lineitem""".stripMargin,

      // ground truth is the plain range join; the operator's bucket
      // decomposition must reproduce it exactly (inclusive bounds)
      "q72_interval_join" ->
        """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS us FROM events)
          |SELECT a.event_id, a.user_id, a.us, b.event_id AS other_id
          |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id <> b.event_id
          | AND abs(a.us - b.us) <= 600000000""".stripMargin,

      "q37_events_leadlag" ->
        """SELECT event_id, user_id, event_type, value,
          |lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
          |lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          |FROM events""".stripMargin,

      "q33_sessionize" ->
        """WITH e AS (
          |  SELECT event_id, user_id, event_type, epoch_ns(ts) AS ns,
          |         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
          |  FROM events),
          |f AS (SELECT event_id, user_id, event_type,
          |      CASE WHEN prev_ns IS NULL OR ns - prev_ns > 1800000000000 THEN 1 ELSE 0 END AS new_session,
          |      ns FROM e)
          |SELECT event_id, user_id, event_type, new_session,
          |CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS INT) AS session_id
          |FROM f""".stripMargin,

      // SemDeDup ground truth: same anchor assignment as q66 (tie toward the
      // LARGER centroid id), then the within-cluster lower-id-neighbor prune
      "q73_semantic_dedup" ->
        s"""WITH $derivedEmbSql,
          |c AS (SELECT vec_id AS centroid_id, embedding AS cv
          |      FROM d ORDER BY vec_id LIMIT 8),
          |s AS (SELECT e.vec_id, c.centroid_id,
          |        round(list_cosine_similarity(e.embedding, c.cv), 6) AS ccos
          |      FROM d e CROSS JOIN c),
          |a AS (SELECT vec_id, centroid_id,
          |        row_number() OVER (PARTITION BY vec_id
          |                           ORDER BY ccos DESC, centroid_id DESC) AS rn
          |      FROM s),
          |asg AS (SELECT vec_id, centroid_id AS cluster_id FROM a WHERE rn = 1),
          |m AS (SELECT asg.vec_id, asg.cluster_id, d.embedding
          |      FROM asg JOIN d USING (vec_id)),
          |drp AS (SELECT DISTINCT x.vec_id
          |        FROM m x JOIN m y ON x.cluster_id = y.cluster_id
          |          AND y.vec_id < x.vec_id
          |          AND round(list_cosine_similarity(x.embedding, y.embedding), 6) >= 0.99)
          |SELECT vec_id, cluster_id FROM asg
          |WHERE vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin,

      // BM25: exact integer tf/df/dl/N, one exact division for avgdl, the
      // ln rounds to 6 (q60's cross-engine ulp policy); expression text
      // mirrors the Spark operand order so double association is identical
      "q74_bm25" -> bm25Sql,

      // the posting-list layout must lose nothing vs direct tokenization:
      // the SAME BM25 oracle gates the index probe
      "q119_bm25_indexed" -> bm25Sql,

      // append-then-probe must reproduce the full-corpus BM25 exactly
      "q121_bm25_index_append" -> bm25Sql,

      "q75_normalized_dedup" ->
        """WITH d AS (SELECT doc_id, text FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000, upper(text) || ' !!'
          |           FROM documents WHERE doc_id % 3 = 0),
          |k AS (SELECT doc_id,
          |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
          |                            ' +', ' ', 'g')) AS norm
          |      FROM d)
          |SELECT md5(norm) AS norm_hash, min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM k GROUP BY 1""".stripMargin,

      "q76_top_ngrams" ->
        """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT ws[i] || ' ' || ws[i+1] AS gram
          |      FROM w, UNNEST(range(1, len(ws))) AS t(i)),
          |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
          |SELECT gram, cnt,
          |  CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS INT) AS rnk
          |FROM c QUALIFY rnk <= 20""".stripMargin,

      // full-probe kNN graph == exact brute force, so the ground truth is
      // the plain top-k window over the (sampled queries × corpus) cosines
      "q77_knn_graph" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
          |           FROM embeddings WHERE vec_id % 10 = 0),
          |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
          |s AS (SELECT q_id, n_id,
          |        round(list_cosine_similarity(qv, nv), 6) AS cos_sim
          |      FROM q CROSS JOIN c WHERE q_id <> n_id),
          |r AS (SELECT q_id, n_id, cos_sim,
          |        CAST(row_number() OVER (PARTITION BY q_id
          |                                ORDER BY cos_sim DESC, n_id) AS INT) AS rnk
          |      FROM s)
          |SELECT q_id, n_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,

      // ground truth mirrors the operator's prefix-blocking contract (the
      // recall trade IS the contract, as with the LSH oracles)
      "q78_fuzzy_pairs" ->
        """WITH d AS (SELECT doc_id, text FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000, text || ' xyz'
          |           FROM documents WHERE doc_id % 6 = 1
          |           UNION ALL
          |           SELECT doc_id + 20000000, text || ' abcdefghij'
          |           FROM documents WHERE doc_id % 6 = 2),
          |k AS (SELECT doc_id, text, substr(text, 1, 12) AS bk FROM d)
          |SELECT a.doc_id AS id1, b.doc_id AS id2,
          |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
          |FROM k a JOIN k b ON a.bk = b.bk AND a.doc_id < b.doc_id
          |WHERE levenshtein(a.text, b.text) <= 8""".stripMargin,

      "q79_grouping_sets" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))""".stripMargin,

      // the salt is distribution-only — ground truth is the plain inner join
      "q80_salted_join" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, o_custkey, o_totalprice
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

      "q85_semi_anti_join" ->
        """SELECT c_custkey, c_mktsegment, 'has_urgent' AS status FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |UNION ALL
          |SELECT c_custkey, c_mktsegment, 'no_orders' AS status FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

      // portable crosstab spelling (conditional aggregation == PIVOT)
      "q86_pivot" ->
        """SELECT l_linestatus,
          |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
          |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
          |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
          |FROM lineitem GROUP BY l_linestatus""".stripMargin,

      // keep fraction rounds to 6 decimals BEFORE the 1/65536 quantization
      // (pow can differ by an ulp across engines; the ratios in q59 could not)
      "q84_temperature_mix" ->
        """WITH d AS (SELECT doc_id,
          |             CASE WHEN doc_id % 2 = 0 THEN 'big'
          |                  WHEN doc_id % 8 = 3 THEN 'small'
          |                  ELSE 'mid' END AS source FROM documents),
          |c AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
          |w AS (SELECT source, n, pow(n::DOUBLE, 0.5::DOUBLE) AS pw FROM c),
          |t AS (SELECT min(n / pw) AS t_total FROM w),
          |thr AS (SELECT source, CAST(ceil(round(t_total * pw / n, 6) * 65536) AS BIGINT) AS thr
          |        FROM w CROSS JOIN t)
          |SELECT doc_id, d.source
          |FROM d JOIN thr USING (source)
          |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT < thr""".stripMargin,

      "q82_winsorize" ->
        """WITH b AS (SELECT l_returnflag AS rf,
          |             quantile_cont(l_quantity, 0.05) AS q_lo,
          |             quantile_cont(l_quantity, 0.95) AS q_hi
          |           FROM lineitem GROUP BY 1)
          |SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, q_lo, q_hi,
          |  least(greatest(l_quantity, q_lo), q_hi) AS q_clipped,
          |  (l_quantity < q_lo OR l_quantity > q_hi) AS was_clipped
          |FROM lineitem JOIN b ON l_returnflag = rf""".stripMargin,

      "q83_histogram" ->
        """WITH c AS (SELECT o_totalprice,
          |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
          |SELECT cents // 5000000 AS bucket, count(*) AS n_orders,
          |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
          |FROM c GROUP BY 1""".stripMargin,

      // q81: the chained-running-min funnel replay (shared with q202 —
      // the streaming buffer-at-eviction sink earns the batch oracle
      // verbatim, see [[funnelOracleSql]])
      "q81_funnel" -> funnelOracleSql,

      // q202 reads the SAME events' per-user funnels back out of the
      // STREAMING state's file sink, so the batch SQL is the full
      // oracle — stream ≡ batch ≡ oracle (the q53/q199 shared-gate
      // pattern; sentinel/watermark mechanics at q202StreamPath)
      "q202_streaming_funnel" -> funnelOracleSql,

      // q203: q20's exact-dedup shape over the q53/q199 derived
      // exact-copy fixture — the TRUE (hash, keep, size) set is a pure
      // function of the derivation, and the streaming state's kept-doc
      // sink must reproduce it (wave-staging rationale at
      // q203StreamPath)
      "q203_streaming_exact_dedup" ->
        """WITH docs2 AS (SELECT doc_id, text FROM documents
          |               UNION ALL
          |               SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 5 = 0)
          |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM docs2 GROUP BY md5(text)""".stripMargin,

      // q204: the trap-alert set stated from the fixture construction —
      // under distinct-URL wave staging the census at crossing is the
      // threshold EXACTLY, so every template with >= 5 distinct URLs
      // appears once with n_urls = 5 (wave rationale at q204StreamPath)
      "q204_streaming_trap_census" ->
        s"""WITH f AS ($trapUrlFixtureSql),
           |t AS (SELECT regexp_replace(url, '[0-9]+', '0', 'g') AS template, url FROM f)
           |SELECT template, $trapCensusThreshold::INT AS n_urls FROM t
           |GROUP BY template HAVING count(DISTINCT url) >= $trapCensusThreshold""".stripMargin,

      // q205: the shared first-fit CTE with the STREAM's online order
      // key — (batch = doc_id % 3, doc_id) per shard instead of FFD's
      // (n_tokens desc, doc_id) — and the streaming operator's BIGINT
      // bin numbering (wave rationale at q205StreamPath)
      "q205_streaming_pack" -> firstFitCteSql("doc_id % 3, doc_id", "BIGINT"),

      // q206: the first-fit CTE extended with the close-fullest cap
      // simulation — the eviction arm's oracle
      "q206_streaming_pack_evict" -> firstFitEvictCteSql,

      // q209: per-user running-sum replay in the SAME (µs, event_id)
      // order as the staged arrival waves, capped at the same per-user
      // event count, keeping the FIRST crossing row only
      "q209_streaming_threshold_alerts" ->
        s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
           |             CAST(round(value * 1e6) AS BIGINT) AS vm FROM events
           |           QUALIFY row_number() OVER (PARTITION BY user_id
           |             ORDER BY epoch_ns(ts) // 1000, event_id)
           |             <= $thresholdAlertMaxEvents),
           |r AS (SELECT user_id,
           |        sum(vm) OVER (PARTITION BY user_id ORDER BY us, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tot,
           |        row_number() OVER (PARTITION BY user_id
           |          ORDER BY us, event_id) AS n
           |      FROM e),
           |c AS (SELECT user_id, CAST(tot AS DOUBLE) AS total,
           |        n AS n_events,
           |        row_number() OVER (PARTITION BY user_id ORDER BY n) AS k
           |      FROM r WHERE tot >= $thresholdAlertMicro)
           |SELECT user_id, total, n_events FROM c WHERE k = 1""".stripMargin,

      // q207: q205's oracle VERBATIM across a checkpoint restart — the
      // CTE replays the whole arrival order, so recovered state and an
      // exactly-once sink are the only way the combined output matches
      "q207_streaming_pack_restart" -> firstFitCteSql("doc_id % 3, doc_id", "BIGINT"),
    )

  /** The q81/q202 shared oracle: chained running-min windows, one per
    * stage; the same (user, (us, event_id)) order as both the batch
    * operator and the streaming buffer's eviction-time sort, reach
    * times in microseconds. */
  private def funnelOracleSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             epoch_ns(ts) // 1000 AS us FROM events),
      |r0 AS (SELECT user_id, event_id, event_type, us,
      |         min(CASE WHEN event_type = 'view' THEN us END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
      |       FROM e),
      |r1 AS (SELECT user_id, event_id, event_type, us, a,
      |         min(CASE WHEN event_type = 'click' AND a IS NOT NULL THEN us END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
      |       FROM r0),
      |r2 AS (SELECT user_id, event_id, us, a, b,
      |         min(CASE WHEN event_type = 'purchase' AND b IS NOT NULL THEN us END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |       FROM r1)
      |SELECT user_id, min(a) AS t1, min(b) AS t2, min(c) AS t3,
      |  CASE WHEN min(c) IS NOT NULL THEN 3 WHEN min(b) IS NOT NULL THEN 2
      |       WHEN min(a) IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage
      |FROM r2 GROUP BY user_id""".stripMargin

  /** The q173/q205 shared first-fit recursive-CTE replay: per shard,
    * docs process in `orderSql` order and first-fit into 256-token
    * bins (list state carried through the recursion, one item per
    * level). `binType` is the operator's bin-numbering type — the
    * batch FFD packer emits INT, the streaming packer's counter is
    * BIGINT. One body means the bin formula (first fit by remaining
    * capacity, `greatest(256 - n, 0)` remainder, 2^48 shard prefix)
    * can never drift between the two oracles. */
  private def firstFitCteSql(orderSql: String, binType: String): String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
       |        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
       |      FROM documents),
       |o AS (SELECT doc_id, shard, n_tokens,
       |        CAST(row_number() OVER (PARTITION BY shard
       |          ORDER BY $orderSql) AS INT) AS rn
       |      FROM t),
       |rec AS (
       |  SELECT shard, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
       |         CAST(NULL AS INT) AS n_tokens, CAST(NULL AS $binType) AS local_bin,
       |         CAST([] AS INT[]) AS bins
       |  FROM (SELECT DISTINCT shard FROM o)
       |  UNION ALL
       |  SELECT shard, rn, doc_id, n_tokens,
       |    CAST(CASE WHEN p > 0 THEN p ELSE len(bins) + 1 END AS $binType)
       |      AS local_bin,
       |    CASE WHEN p > 0
       |      THEN list_transform(range(1, len(bins) + 1),
       |             i -> CASE WHEN i = p THEN bins[i] - n_tokens
       |                  ELSE bins[i] END)
       |      ELSE bins || [greatest(256 - n_tokens, 0)] END AS bins
       |  FROM (
       |    SELECT o.shard, o.rn, o.doc_id, o.n_tokens, r.bins,
       |      coalesce(list_position(
       |        list_transform(r.bins, x -> x >= o.n_tokens), true), 0) AS p
       |    FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1))
       |SELECT doc_id, shard, n_tokens, local_bin,
       |  CAST(shard AS BIGINT) * 281474976710656 + local_bin AS bin_id
       |FROM rec WHERE doc_id IS NOT NULL""".stripMargin
}
