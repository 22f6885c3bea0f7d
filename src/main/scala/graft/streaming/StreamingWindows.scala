package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expressions of the engine's event-time operators.
  * The reference is batch-only (SparkCompute); these extend the same
  * semantics to unbounded input, composing built-ins first:
  * `window()` for tumbling/sliding, `session_window()` for gap sessions,
  * `flatMapGroupsWithState` only where no built-in holds the state shape.
  *
  * Scale notes: windowed-aggregation state is bounded by the watermark (late
  * rows beyond it are dropped and closed windows evicted); custom keyed state
  * is bounded by its processing-time timeout. Keys hash-partition across
  * executors, so state grows with ACTIVE keys, not stream length.
  */
object StreamingWindows {

  /** Tumbling event-time counts/sums per event type. Works identically on a
    * batch DataFrame (window() is the same expression) — used by the batch
    * parity test. */
  def tumblingAgg(events: DataFrame, windowLength: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization with the built-in session_window — the
    * streaming analogue of the batch q33 sessionize query. */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming EXACT dedup — the ingest-time analogue of the batch
    * `Dedup.exact` content-hash dedup: documents whose `textCol` already
    * appeared within the watermark horizon are dropped. State is one row per
    * DISTINCT content hash seen inside the horizon, evicted as the watermark
    * passes (dropDuplicatesWithinWatermark), so a continuously-ingesting
    * pipeline holds state proportional to the dedup window, not the stream's
    * history — the property that makes ingest dedup viable on an unbounded
    * crawl. The hash column rides along in the output for downstream
    * exact-vs-candidate joins; the text itself never enters the state store. */
  def streamingExactDedup(docs: DataFrame, watermark: String,
      textCol: String = "text", tsCol: String = "ts"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming canonical-URL dedup — the ingest-time front door of a crawl:
    * arriving pages drop when their NORMALIZED URL (case, default port,
    * tracking params, fragment — [[graft.operators.UrlOps]]'s exact batch
    * chain, so stream and batch canonicalize identically) was already seen
    * within the watermark horizon. Runs BEFORE any content operator — the
    * page body never even enters the state store, which holds one
    * normalized-URL key per in-horizon page. NULL urls (failed-fetch rows)
    * bypass the dedup entirely: `dropDuplicates` would treat NULL as one
    * key and silently discard every URL-less page after the first —
    * unbounded data loss at the front door — so they pass through for a
    * downstream content-keyed dedup to handle instead. */
  def streamingUrlDedup(docs: DataFrame, watermark: String,
      urlCol: String = "url", tsCol: String = "ts"): DataFrame = {
    val normed = graft.operators.UrlOps.withNormalizedUrl(docs, urlCol)
      .withWatermark(tsCol, watermark)
    normed.filter(col("norm_url").isNotNull)
      .dropDuplicatesWithinWatermark("norm_url")
      .unionByName(normed.filter(col("norm_url").isNull))
  }

  /** Streaming INCREMENTAL exact dedup — the ingest-time analogue of the
    * batch [[graft.operators.Dedup.dedupAgainstCorpus]]: arriving documents
    * drop when their content hash was already seen in the stream within the
    * watermark horizon ([[streamingExactDedup]]) OR exists in a static,
    * already-ingested corpus. The corpus side joins stream-static (re-read
    * per micro-batch planning, no state): reduced map-side to DISTINCT
    * hashes, it broadcast-anti-joins each micro-batch, so corpus text never
    * shuffles and the state store still holds only in-horizon stream hashes.
    * Store the corpus hash set as its own compact table and ingest never
    * touches corpus text at all. */
  def streamingIncrementalDedup(docs: DataFrame, corpus: DataFrame, watermark: String,
      textCol: String = "text", tsCol: String = "ts"): DataFrame = {
    val corpusHashes = corpus.select(md5(col(textCol)).as("content_hash")).distinct()
    streamingExactDedup(docs, watermark, textCol, tsCol)
      .join(corpusHashes, Seq("content_hash"), "left_anti")
  }

  /** Streaming MinHash-LSH near-duplicate candidates — the ingest-time
    * analogue of the batch [[graft.operators.Dedup.minHashLshCandidates]]:
    * each arriving document is banded with the SAME codegen'd
    * signature/banding expressions as the batch path (shared
    * `Dedup.bandedKeys`, so the two can never disagree on the formula), and
    * emits a candidate pair against every earlier document that shares a
    * band bucket within the watermark horizon.
    *
    * State is keyed by (band, band_key) and holds only the doc_ids seen in
    * that bucket — one long per doc per band, never text or signatures —
    * evicted by event-time timeout as the watermark passes, so an unbounded
    * crawl holds state proportional to the dedup window. Pairs always emit
    * as (min, max); a pair colliding in several bands emits once per band
    * (the batch operator's `.distinct()` needs a global shuffle that append
    * streaming cannot express) — downstream exact verification is idempotent,
    * and consumers needing unique pairs dedup per micro-batch downstream.
    * Within a micro-batch, bucket rows process in doc_id order so output is
    * deterministic regardless of arrival interleaving. */
  def streamingMinHashCandidates(docs: DataFrame, watermark: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 16,
      tsCol: String = "ts"): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val sigs = graft.operators.Dedup
      .minHashSignatures(docs, n, numHashes, riderCols = Seq(tsCol))
      .filter(element_at(col("minhash"), 1) =!= Long.MaxValue) // < n words: no grams
    graft.operators.Dedup.bandedKeys(sigs, numHashes, bands)
      .select(col("doc_id"), col(tsCol).as("ts"), col("band"), col("band_key"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Int, Long)]
      .groupByKey { case (_, _, band, key) => (band, key) }
      .flatMapGroupsWithState[BandBucketState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = scala.collection.mutable.ArrayBuffer.from(
              state.getOption.map(_.seen).getOrElse(Array.empty[Long]))
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[CandidatePair]
            rows.toSeq.sortBy(_._1).foreach { case (docId, ts, _, _) =>
              maxTs = math.max(maxTs, ts.getTime)
              if (!seen.contains(docId)) { // re-delivery of a doc pairs nothing
                seen.foreach { other =>
                  out += CandidatePair(math.min(docId, other), math.max(docId, other))
                }
                seen += docId
              }
            }
            state.update(BandBucketState(seen.toArray))
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, watermark)
            out.result().iterator
          }
      }
  }

  /** Streaming crawl-frontier scheduling — the ingest-time analogue of
    * batch [[graft.operators.Frontier.fetchSchedule]]: each arriving URL
    * gets the NEXT per-domain politeness slot, with per-domain sequence
    * counters held in keyed state (one long per active domain — the
    * state a real frontier keeps anyway). `delays` is the
    * [[graft.operators.Robots.crawlDelays]] table collected to a map
    * (bounded: one entry per domain with an explicit delay — broadcast
    * with the closure).
    *
    * Determinism + batch parity: within a micro-batch each domain's rows
    * order by the SAME (salt, md5, doc_id) triple as the batch
    * operator, so a single-batch stream reproduces
    * `fetchSchedule(salts = salts)` bit-for-bit (StreamingSpec pins it);
    * across batches, sequences CONTINUE from state — arrival order
    * decides inter-batch priority, as a live frontier must. State evicts
    * by event-time timeout: a domain idle past the watermark restarts at
    * slot 0, which is semantically sound because `fetch_at` counts
    * politeness spacing from "now", and politeness only constrains
    * close-in-time fetches. */
  def streamingFetchSchedule(pages: DataFrame, delays: Map[String, Long],
      watermark: String, defaultDelaySec: Long = 1L, salts: Int = 16,
      urlCol: String = "url", tsCol: String = "ts"): Dataset[FetchAssignment] = {
    import pages.sparkSession.implicits._
    require(defaultDelaySec >= 0,
      s"defaultDelaySec must be >= 0, got $defaultDelaySec")
    require(salts >= 1 && salts <= 4096, s"salts must be in [1, 4096], got $salts")
    pages
      .select(col("doc_id"),
        graft.operators.UrlOps.domainOf(col(urlCol)).as("domain"),
        md5(col("doc_id").cast("string")).as("m"), col(tsCol).as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, String, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[DomainSeqState, FetchAssignment](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (domain, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val delay = delays.getOrElse(domain, defaultDelaySec)
            var next = state.getOption.map(_.next).getOrElse(0L)
            var maxTs = Long.MinValue
            val out = rows.toSeq
              .sortBy { case (id, _, m, _) =>
                (Integer.parseInt(m.substring(0, 4), 16) % salts, m, id)
              }
              .map { case (id, _, _, ts) =>
                maxTs = math.max(maxTs, ts.getTime)
                val a = FetchAssignment(id, domain, next, next * delay)
                next += 1
                a
              }
            state.update(DomainSeqState(next))
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, watermark)
            out.iterator
          }
      }
  }

  /** Streaming crawl-trap census — the stateful half of
    * [[graft.operators.UrlOps.crawlTraps]] at ingest time: URLs key by
    * their digit-masked template, and a [[TrapAlert]] fires ONCE when a
    * template's distinct-URL count crosses `templateThreshold` — the
    * live "this link generator is exploding" signal a frontier consumes
    * to stop enqueueing a pattern mid-crawl rather than at the next
    * batch audit. (The in-row signals — depth, segment loops, param
    * bombs — are stateless and stay with the batch operator / a plain
    * streaming projection.)
    *
    * State discipline: the distinct set stores FULL md5 URL digests —
    * exact distinct counting (a truncated hash could collide, undercount
    * the census and silently delay an alert; the 32-char strings cost
    * little because the set is threshold-bounded) — and grows only UNTIL
    * the threshold fires; at that moment the alert emits
    * (with the exact census at crossing — mid-batch arrivals can push it
    * past the threshold), the set EMPTIES, and only the `trapped` pin
    * remains — so per-template state is ≤ threshold longs while innocent
    * and ~one boolean once guilty. Event-time timeout evicts idle
    * templates past the watermark horizon (a generator must re-prove
    * itself within a horizon — the finite-memory posture every stateful
    * operator here shares). Single-batch parity with the batch census is
    * pinned in StreamingSpec. */
  def streamingTrapCensus(pages: DataFrame, templateThreshold: Int,
      watermark: String, urlCol: String = "url",
      tsCol: String = "ts"): Dataset[TrapAlert] = {
    import pages.sparkSession.implicits._
    require(templateThreshold > 1,
      s"templateThreshold must be > 1, got $templateThreshold")
    pages
      .select(regexp_replace(col(urlCol), "[0-9]+", "0").as("template"),
        md5(col(urlCol)).as("uh"),
        col(tsCol).as("ts"))
      .withWatermark("ts", watermark)
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TrapCensusState, TrapAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (tpl, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val s0 = state.getOption.getOrElse(TrapCensusState(Set.empty, trapped = false))
            var seen = s0.seen
            var maxTs = Long.MinValue
            rows.foreach { case (_, uh, ts) =>
              maxTs = math.max(maxTs, ts.getTime)
              if (!s0.trapped) seen += uh
            }
            val fires = !s0.trapped && seen.size >= templateThreshold
            state.update(
              if (s0.trapped || fires) TrapCensusState(Set.empty, trapped = true)
              else TrapCensusState(seen, trapped = false))
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, watermark)
            if (fires) Iterator(TrapAlert(tpl, seen.size)) else Iterator.empty
          }
      }
  }

  /** STREAMING chat-template rendering — the ingest-time analogue of
    * [[graft.operators.Dialogue.renderConversations]]: events group into
    * gap sessions with the built-in `session_window`, each session's
    * turns sort in state ((ts, event_id) struct order), roles alternate
    * by post-sort position and the whole session renders to one
    * transcript when the watermark closes it — an SFT corpus assembling
    * itself as interaction logs arrive. One stateful aggregation; state
    * per open session is its turn structs, evicted at watermark close.
    *
    * Boundary behavior (pinned in StreamingSpec): `session_window`
    * MERGES touching windows — an event exactly `gap` after its
    * predecessor opens a window starting at the previous session's end,
    * and Spark coalesces the two — so streaming agrees with the batch
    * q33 rule (a new session only when the gap is STRICTLY greater than
    * the threshold) everywhere, including the exact-gap boundary. The
    * parity test matches transcripts on real data. */
  def streamingChatRender(events: DataFrame, gap: String, watermark: String,
      maxChars: Int = 32): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(sort_array(collect_list(struct(
        col("ts"), col("event_id"), col("event_type"), col("props")))).as("__turns"))
      .select(col("session_window.start").as("sess_start"), col("user_id"),
        size(col("__turns")).as("n_turns"),
        array_join(
          transform(col("__turns"), (x, i) =>
            concat(lit("<|"),
              when(pmod(i, lit(2)) === 0, lit("user")).otherwise(lit("assistant")),
              lit("|>"), x.getField("event_type"), lit(" k="),
              // coalesce to '' so a null-props event renders 'k=' like the
              // batch operator and the shared oracle (r14: without it the
              // concat null-propagates and array_join silently DROPS the
              // turn from the transcript while n_turns still counts it)
              coalesce(regexp_extract(x.getField("props"), "(\\d+)", 1), lit("")))),
          "\n").as("transcript"))
      .withColumn("n_chars", length(col("transcript")).cast("long"))
      .withColumn("fits_context", col("n_chars") <= maxChars)

  /** STREAMING online first-fit packing — the ingest-time analogue of
    * [[graft.operators.TextAnalysis.packFirstFitDecreasing]]: arriving
    * documents drop into the first open bin with room in their shard, a
    * new bin opens otherwise, and assignments emit immediately (a
    * dataloader can start on a bin the moment it closes). A stream
    * cannot sort globally, so this is plain FIRST-FIT in (batch, doc_id)
    * order — the online regime's price (FFD's sort is the offline
    * luxury); per micro-batch, rows process in doc_id order so replays
    * are deterministic.
    *
    * State is BOUNDED BY CONSTRUCTION twice over: the key space is the
    * `shards` ring (not data-scale), and each shard's open-bin list caps
    * at `maxOpenBins` — when a new bin would exceed it, the FULLEST open
    * bin (smallest remaining, ties oldest) closes permanently. That is
    * the standard online-packing trade: a closed bin can no longer
    * absorb a late small doc (slightly more padding), but state stays
    * O(shards · maxOpenBins) forever, so no watermark eviction is even
    * needed (NoTimeout). Docs at/over `maxTokens` get an immediately
    * closed bin of their own, as in the batch packer. */
  def streamingFirstFitPack(docs: DataFrame, maxTokens: Int, shards: Int = 8,
      maxOpenBins: Int = 64, textCol: String = "text"): Dataset[PackAssignment] = {
    import docs.sparkSession.implicits._
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(shards > 0, s"shards must be positive, got $shards")
    require(maxOpenBins > 0, s"maxOpenBins must be positive, got $maxOpenBins")
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(shards.toLong)).cast("int").as("shard"),
        size(split(col(textCol), " ")).cast("int").as("n_tokens"))
      .as[(Long, Int, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[PackBinsState, PackAssignment](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val s0 = state.getOption.getOrElse(PackBinsState(0L, Array.empty))
          var nBins = s0.n_bins
          // (local_bin, remaining) for the OPEN bins only, open order
          var open = s0.open_bins.grouped(2).map(a => (a(0), a(1))).toVector
          val out = Seq.newBuilder[PackAssignment]
          rows.toSeq.sortBy(_._1).foreach { case (id, _, n) =>
            val fit = open.indexWhere(_._2 >= n)
            val bin =
              if (fit >= 0) {
                val (b, rem) = open(fit)
                open = open.updated(fit, (b, rem - n))
                b
              } else {
                nBins += 1
                val rem = math.max(maxTokens - n, 0)
                open = open :+ ((nBins, rem.toLong))
                if (open.length > maxOpenBins) {
                  // close the fullest (min remaining, ties oldest)
                  val drop = open.zipWithIndex
                    .minBy { case ((b, r), i) => (r, i) }._2
                  open = open.patch(drop, Nil, 1)
                }
                nBins
              }
            out += PackAssignment(id, shard, n,
              bin, shard.toLong * (1L << 48) + bin)
          }
          state.update(PackBinsState(nBins,
            open.flatMap { case (b, r) => Seq(b, r) }.toArray))
          out.result().iterator
      }
  }

  /** Per-user running activity totals for the UPDATE-mode serving-table
    * pattern: event count and last event time (µs) per user. In update
    * mode the agg emits each CHANGED group's new totals every
    * micro-batch — the shape a foreachBatch upsert sink consumes. Keyed
    * by raw user_id, so state is proportional to the distinct-user
    * population (the serving table's own size — at 100 TB key the agg by
    * (user, window) instead if the key space churns unboundedly). */
  def userActivityCounts(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))

  /** Per-(user, WINDOW) running activity totals — the keying
    * [[userActivityCounts]]'s scaladoc prescribes when the user
    * population churns unboundedly: state is (active users ×
    * in-horizon windows) and closed windows EVICT as the watermark
    * passes, so a year-long stream holds state for the horizon, not
    * for every user ever seen — the raw-user aggregate's one
    * acknowledged scale soft spot, made real. `serving_key` is the
    * composite (window start µs):(user) string the bucketed upsert
    * sink merges on — one column, so [[upsertBatch]]'s single-key
    * anti-join replaces exactly the changed (user, window) rows. */
  def userActivityCountsWindowed(events: DataFrame, windowLength: String,
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(
        concat(unix_micros(col("window.start")).cast("string"), lit(":"),
          col("user_id").cast("string")).as("serving_key"),
        unix_micros(col("window.start")).as("win_start_us"),
        col("user_id"), col("n_events"), col("last_us"))

  /** foreachBatch MERGE INTO a hash-BUCKETED, versioned parquet serving
    * table — the scale-correct reproduction of a table format's
    * `MERGE INTO` without the table format (Delta/Iceberg supply the
    * commit protocol at production; this layout reproduces the two
    * properties that matter — versioned snapshots and
    * touched-data-only rewrites — on plain parquet, so it stays
    * testable here and honest at 100 TB).
    *
    * Layout: rows hash into `buckets` buckets by
    * `pmod(xxhash64(keyCol), buckets)` (the q119 postings posture).
    * Version directory `v<batchId>` holds parquet data ONLY for the
    * buckets this batch touched, plus a manifest line per LIVE bucket
    * naming the version that owns its current rows. Untouched buckets
    * carry forward BY REFERENCE — their files are never re-read,
    * re-written, or copied — so per-batch I/O is
    * O(touched buckets + batch), not O(serving table): the full-
    * snapshot rewrite this replaces re-read and re-wrote the whole
    * table through one task every micro-batch. Size `buckets` so one
    * bucket ≈ one comfortable task's worth of the steady-state table;
    * a batch's write parallelism is then its touched-bucket count.
    *
    * Crash-safe: the version assembles in a dot-prefixed temp dir —
    * bucket data first, manifest last — and RENAMEs into `v<batchId>`
    * (`FileSystem.rename` via [[graft.util.Fs]]: atomic on HDFS and
    * local disk; on object stores the manifest-last ordering is what
    * keeps the non-atomic rename safe). All control I/O goes through
    * the Hadoop FileSystem API, so the table lives wherever its path
    * points — local disk under test, HDFS/S3A at 100 TB. Readers
    * ([[readServingSnapshot]]) only trust versions whose manifest
    * exists, so a crash mid-assembly leaves an inert `.tmp-v*` dir and
    * the previous snapshot stays the committed one — no reader can
    * select a half-written version (the r16 non-atomicity gap).
    *
    * Idempotent under foreachBatch's at-least-once contract: a
    * replayed batch resolves its base manifest from versions strictly
    * BELOW batchId and rebuilds the same `v<batchId>` from the same
    * inputs, so readers of the latest committed version never see a
    * double-applied batch. Empty batches (the trailing no-data batch)
    * write nothing.
    *
    * TOMBSTONES (`tombstoneCol`): when set, batch rows whose boolean
    * marker is true are KEY DELETES — the GDPR-style "remove user X"
    * a serving table needs beyond whole-window TTL. A deleted key
    * leaves its bucket in this version (the anti-join drops it from
    * the carried base, and it is not re-added), so every reader —
    * current view, time travel at or after this version — never sees
    * it, while versions BELOW still do (time travel preserves
    * history; [[vacuumServing]]/[[compactServing]] are what erase
    * it at rest). A bucket emptied by deletion leaves the manifest
    * entirely. Deleting an absent key is a no-op. The marker column
    * never lands in the table; non-tombstone rows in the same batch
    * upsert as usual. [[servingChangefeed]] reports these as
    * op='delete' rows carrying the pre-image. A batch that is ALL
    * deletions may carry just (key, marker) — it writes no values, so
    * the schema-evolution rules below don't bind it and a GDPR
    * delete-queue drain stays decoupled from the table's schema; a
    * MIXED batch must carry the full schema like any upsert.
    *
    * SCHEMA EVOLUTION: a batch may ADD columns (the carried base
    * NULL-backfills — those rows predate the column) and WIDEN types
    * (`Cast.canUpCast`-validated in both directions, so a narrower
    * batch up-casts rather than corrupting the base), but never DROP an
    * existing column — that fails loudly, since an absent column would
    * silently NULL served data on a consumer bug. Version dirs are
    * immutable, so evolution is purely a READ concern thereafter: a
    * snapshot's schema is its resolving version's batch schema, donor
    * buckets older than a change read with NULL for the added columns,
    * time travel below the change keeps the old shape, and the
    * changefeed diffs a version against its prior ALIGNED to the newer
    * schema (a NULL→value transition on an added column is a plain
    * update; delete pre-images carry NULL for columns their row never
    * had).
    *
    * Each version also records its DECLARED table schema
    * (`_table_schema`, written with the manifest): the write-path
    * validation binds against the newest committed version's
    * declaration rather than a data-file footer, so the no-drop /
    * widen-only guarantees hold even when a delete emptied every
    * bucket dir of the newest generation (r19 ADVICE: with a
    * footer-derived schema, the table shape silently reverted to the
    * older generation's there, and a lapsed column could re-enter at
    * an incompatible type unchecked). Pre-declaration chains fall back
    * to the footer read.
    *
    * COLUMN RENAME (`renames`: old → new, the one evolution verb
    * add/widen can't express): a batch may declare that an existing
    * column continues under a new name — the batch carries the NEW
    * name, carried pre-rename rows READ under it (plan-level
    * projection, no rewrite — version dirs stay immutable), time
    * travel below the declaration keeps the old name, and the
    * changefeed aligns each version's prior through the rename so a
    * pure rename emits NO spurious rows (the value is unchanged; only
    * genuinely-changed keys diff). Declarations accumulate in a
    * per-version `_renames` ledger (`<declaredAtVersion> <old> <new>`
    * lines, carried forward by every later version) that every reader
    * applies to generations OLDER than each declaration — chained
    * renames compose in declaration order. Validation: the old name
    * must exist, the new must not, the batch must not still carry the
    * old, the renamed column's type obeys the same widen-only rule,
    * the KEY cannot rename (its name is the merge identity every
    * manifest and consumer holds), and a delete-only batch cannot
    * declare one (a rename must ride a full-schema batch). A DROP
    * disguised as a rename is impossible by construction: the old
    * column's data remains, readable under the new name. */
  def upsertBatch(serving: String, buckets: Int = 16,
      keyCol: String = "user_id", tombstoneCol: Option[String] = None,
      renames: Map[String, String] = Map.empty)(
      batch: org.apache.spark.sql.Dataset[
      org.apache.spark.sql.Row], batchId: Long): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // checked before ANY plan references keyCol: a renamed key would
    // otherwise surface as an analyzer error on the bucket probe
    // instead of this contract message
    renames.foreach { case (from, to) =>
      require(from != keyCol && to != keyCol,
        s"upsertBatch: key column $keyCol cannot be renamed — it is " +
          "the merge identity every manifest and consumer holds")
    }
    // foreachBatch guidance: the batch plan re-executes per action (here
    // isEmpty, the bucket probe, the anti-join, and the union) — persist
    batch.persist()
    try {
      if (!batch.isEmpty) graft.util.MaintenanceLease.withWriterLease(
          serving, "upsertBatch") {
        val s = batch.sparkSession
        val bucketOf = pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int")
        val isTomb = tombstoneCol.map(t => coalesce(col(t), lit(false)))
          .getOrElse(lit(false))
        // bounded collect: ≤ `buckets` rows by construction, never
        // data-scale — and the SAME single job also answers "does any
        // row upsert" (the delete-only decision below), instead of a
        // second isEmpty action per micro-batch (r19 review round 2)
        val probe = batch.groupBy(bucketOf.as("__bucket"))
          .agg(max(when(isTomb, 0).otherwise(1)).as("__any_upsert"))
          .collect()
        val touched = probe.map(_.getInt(0)).sorted
        val prev = latestManifest(serving, belowVersion = batchId)
        val tmp = s"$serving/.tmp-v$batchId"
        graft.util.Fs.rmTree(tmp)
        // rows to MERGE IN: tombstone rows participate in the anti-join
        // below (their key must leave the base) but never re-add
        val upserts = tombstoneCol.fold(batch.toDF()) { t =>
          batch.toDF().filter(!coalesce(col(t), lit(false))).drop(t)
        }
        val prevVersion = committedVersions(serving)
          .filter(_ < batchId).maxOption
        val priorLedger = prevVersion
          .map(readRenames(serving, _)).getOrElse(Seq.empty)
        // prior rows of ONLY the touched buckets, each read from the
        // version that owns it (leaf-dir reads: no partition discovery,
        // so the files' own schema — their batch's schema — comes back;
        // grouped by owning version so generations align if a prior
        // batch evolved the schema, through the rename ledger), then
        // THIS batch's renames applied so carried rows merge under the
        // new names
        val priorByVer = pathsByVersion(serving,
          touched.toSeq.flatMap(b => prev.get(b).map(b -> _)).toMap)
        val base =
          if (priorByVer.isEmpty) upserts.limit(0)
          else renames.foldLeft(readAligned(s, priorByVer, priorLedger)) {
            case (df, (from, to)) => df.withColumnRenamed(from, to)
          }.join(batch.select(keyCol), Seq(keyCol), "left_anti")
        // the TABLE schema: the newest committed version's DECLARED
        // schema (`_table_schema` — survives a delete emptying that
        // generation's every bucket dir, r19 ADVICE), falling back on a
        // pre-declaration chain to the newest dir-owning generation's
        // footer. Validation must run against the WHOLE table, not the
        // touched buckets' priors alone — a batch touching only bucket
        // B could otherwise introduce a type incompatible with a column
        // living only in untouched bucket A (poisoning every later
        // read) or silently drop such a column (r19 review #3). The
        // newest declaration suffices because the contract this
        // function itself enforces makes it complete: no-drop means
        // every later batch carries all earlier columns (under their
        // current names), widen means types only grow, and a
        // delete-only version re-states the table schema.
        val tableSchema = prevVersion.flatMap(readTableSchema(serving, _))
          .orElse(pathsByVersion(serving, prev).sortBy(-_._1)
            .headOption.map { case (_, ps) => s.read.parquet(ps.head).schema })
        // a batch that is ALL deletions (every row tombstoned) writes no
        // values — its version holds carried base rows only — so the
        // schema rules below don't apply to it: a delete-queue drain
        // carries (key, marker) alone, and coupling the GDPR queue to
        // every schema change would be a false requirement. Its merge
        // target is the TABLE schema. (Decided by the bucket probe's
        // piggybacked aggregate — no extra action.)
        val deleteOnly = tombstoneCol.isDefined &&
          probe.forall(_.getInt(1) == 0)
        // RENAME declarations validate against the declared table shape:
        // old exists, new does not, the batch carries only the new name,
        // the key never renames (it is the merge identity), and a
        // delete-only batch carries no values to rename
        if (renames.nonEmpty) {
          require(!deleteOnly, "upsertBatch: a rename must ride a " +
            "full-schema batch, not an all-deletions one")
          // two sources renaming to ONE target (or a target that is
          // also a source) would pass the per-pair checks whenever the
          // colliding columns live in different generations, COMMIT a
          // poisoned ledger, and make every later aligned read throw
          // on the ambiguous column — permanently (r20 review #3)
          val targets = renames.values.toSeq
          require(targets.distinct.size == targets.size,
            s"upsertBatch: rename targets must be distinct ($renames) — " +
              "two sources renaming to one target would make every " +
              "later read of the table ambiguous")
          require(renames.keySet.intersect(targets.toSet).isEmpty,
            s"upsertBatch: a rename target cannot also be a rename " +
              s"source in the same batch ($renames) — declare chained " +
              "renames across separate batches")
          renames.foreach { case (from, to) =>
            require(tableSchema.exists(_.fieldNames.contains(from)),
              s"upsertBatch: rename source $from does not exist in the table")
            require(!tableSchema.exists(_.fieldNames.contains(to)),
              s"upsertBatch: rename target $to already exists in the table")
            require(!upserts.columns.contains(from),
              s"upsertBatch: batch still carries $from — a renaming batch " +
                s"carries only the new name $to")
          }
        }
        // SCHEMA EVOLUTION at the merge point: the batch may ADD columns
        // (carried base rows NULL-backfill — they predate the column)
        // and WIDEN types (canUpCast-validated, both directions checked
        // so a narrower batch up-casts instead of corrupting the base),
        // but never DROP a column — silently nulling served data on a
        // consumer bug is the one evolution this table refuses (a
        // renamed column satisfies the check under its NEW name). The
        // batch defines the new column order.
        if (!deleteOnly) tableSchema.foreach(_.fieldNames.foreach(c => require(
          upserts.columns.contains(renames.getOrElse(c, c)),
          s"upsertBatch: batch is missing existing column $c — a serving " +
            "batch may add columns, widen types, or rename via an explicit " +
            "declaration, never drop them (an absent column would " +
            "silently NULL served data)")))
        // the KEY is exempt from type evolution: buckets are
        // pmod(xxhash64(key), B) and xxhash64 hashes the PHYSICAL type
        // (an int and a long with the same value hash differently), so
        // a key retype would scatter carried rows across buckets their
        // manifests never list — silent loss — instead of widening
        // (r19 review #1)
        tableSchema.flatMap(_.find(_.name == keyCol)).foreach(k0 => require(
          upserts.schema(keyCol).dataType == k0.dataType,
          s"upsertBatch: key column $keyCol cannot change type " +
            s"(${k0.dataType} -> ${upserts.schema(keyCol).dataType}): " +
            "bucketing hashes the key's physical type, so a retyped key " +
            "re-buckets carried rows out of every manifest"))
        // a batch column's prior type lives under its PRE-rename name
        val oldNameOf = renames.map(_.swap)
        val target =
          if (deleteOnly && tableSchema.isDefined) tableSchema.get
          else org.apache.spark.sql.types.StructType(
            upserts.schema.map { f =>
              val prior = oldNameOf.getOrElse(f.name, f.name)
              tableSchema.flatMap(_.find(_.name == prior)) match {
                case Some(t0) => f.copy(
                  dataType = widen(t0.dataType, f.dataType, f.name, "upsertBatch"),
                  nullable = true)
                case None => f.copy(nullable = true)
              }
            })
        val merged =
          if (deleteOnly) alignTo(base, target)
          else alignTo(base, target).unionByName(alignTo(upserts, target))
        merged
          .withColumn("__bucket", bucketOf)
          .repartition(touched.length, col("__bucket"))
          .write.partitionBy("__bucket").mode("overwrite")
          .parquet(tmp)
        // manifest from the buckets actually WRITTEN: a touched bucket
        // whose every key a tombstone removed has no dir in this
        // version and must leave the manifest (a dead bucket), not
        // point at a dir that does not exist
        val written = graft.util.Fs.listChildren(tmp)
          .flatMap { case (name, _) => Option(name.stripPrefix("__bucket="))
            .filter(_ != name).flatMap(_.toIntOption) }.toSet
        val survived = (prev -- touched.filterNot(written)) ++
          touched.filter(written).map(_ -> batchId)
        // a batch that deletes the table's LAST key would leave an
        // empty manifest — no data file anywhere to carry the schema,
        // and every reader would fail on a zero-path parquet read. An
        // empty table is a legitimate state (tombstone-everything,
        // then re-ingest), so keep it READABLE: one schema-carrying
        // empty bucket dir, written non-partitioned so the 0-row file
        // still lands
        val manifest =
          if (survived.nonEmpty) survived
          else {
            alignTo(upserts, target).limit(0).coalesce(1)
              .write.mode("overwrite")
              .parquet(s"$tmp/__bucket=${touched.head}")
            Map(touched.head -> batchId)
          }
        // the version's DECLARED shape + cumulative rename ledger ride
        // the dir (written before the manifest move lands, like the
        // bucket data — a version is never committed without them)
        graft.util.Fs.writeString(s"$tmp/$TableSchemaName", target.toDDL + "\n")
        val ledger = priorLedger ++
          renames.toSeq.sorted.map { case (from, to) => (batchId, from, to) }
        if (ledger.nonEmpty)
          graft.util.Fs.writeString(s"$tmp/$RenamesName",
            ledger.map { case (v, f, t) => s"$v $f $t" }
              .mkString("", "\n", "\n"))
        graft.util.Fs.writeString(s"$tmp/$ManifestName",
          manifest.toSeq.sorted.map { case (b, v) => s"$b $v" }
            .mkString("", "\n", "\n"))
        val dst = s"$serving/v$batchId"
        graft.util.Fs.rmTree(dst) // replay: replace the prior attempt wholesale
        graft.util.Fs.move(tmp, dst)
        ()
      }
    } finally { batch.unpersist(); () }
  }

  /** COMPACT an [[upsertBatch]] serving table: rewrite the current view
    * as one full snapshot at the CURRENT max version number and delete
    * every older version — the vacuum a long-running upsert stream
    * needs (versions otherwise accumulate one per micro-batch forever,
    * and a view fragmented across many versions reads many small
    * files). Keeping the max version NUMBER means the next stream
    * batch (whose batchId exceeds it) resolves its base manifest
    * unchanged.
    *
    * Protocol mirrors the writer's crash safety: the full snapshot
    * assembles in a temp dir (the view is EXECUTED during that write,
    * while every old dir is still intact), manifest last (all buckets →
    * vMax), then the old v<max> is replaced and versions below it are
    * deleted. Mid-compaction readers see the previous version's
    * manifest — stale by one batch but consistent; a crash at any point
    * leaves a readable chain (at worst with undeleted old versions, the
    * next compaction's work).
    *
    * PRECONDITION (the same single-writer window a table format's
    * OPTIMIZE needs): run while the stream is stopped with its
    * checkpoint committed through v<max> — a foreachBatch REPLAY of the
    * max batch after compaction would find its base versions deleted
    * and rebuild from an empty base. */
  def compactServing(s: org.apache.spark.sql.SparkSession, serving: String,
      buckets: Int = 16, keyCol: String = "user_id"): Unit =
    rewriteServing(s, serving, identity, buckets, keyCol)

  /** EXPIRE rows from an [[upsertBatch]] serving table: compact to one
    * full snapshot KEEPING only rows satisfying `keep` — the retention
    * pass every serving view eventually needs (rows past a TTL leave
    * the table entirely; the streaming agg's watermark evicts STATE but
    * nothing ever deletes already-served rows). Same protocol, version
    * numbering, and stopped-writer window as [[compactServing]]. */
  def expireServing(s: org.apache.spark.sql.SparkSession, serving: String,
      keep: org.apache.spark.sql.Column, buckets: Int = 16,
      keyCol: String = "user_id"): Unit =
    rewriteServing(s, serving, _.filter(keep), buckets, keyCol)

  private def rewriteServing(s: org.apache.spark.sql.SparkSession,
      serving: String, transform: DataFrame => DataFrame, buckets: Int,
      keyCol: String): Unit =
    // vMax resolves INSIDE the lease (the outer check is a fast-path
    // no-op guard only): bound outside, a commit racing the acquire
    // would make this pass install the newer view under the stale
    // number and then delete dirs the newer manifest still references
    // (r18 review #2)
    if (committedVersions(serving).nonEmpty)
      graft.util.MaintenanceLease.withLease(serving, "rewriteServing") {
      committedVersions(serving).maxOption.foreach { vMax =>
      import graft.util.Fs
      val view = transform(readServingSnapshot(s, serving).get)
      val bucketOf = pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int")
      val tmp = s"$serving/.tmp-compact-v$vMax"
      Fs.rmTree(tmp)
      // the write below is what executes the multi-version read — old
      // dirs must stay intact until it finishes, so the swap comes after
      view.withColumn("__bucket", bucketOf)
        .repartition(buckets, col("__bucket"))
        .write.partitionBy("__bucket").mode("overwrite")
        .parquet(tmp)
      val written = Fs.listChildren(tmp)
        .flatMap { case (name, _) => Option(name.stripPrefix("__bucket="))
          .filter(_ != name).flatMap(_.toIntOption) }
      // an expire that removes EVERY row must still leave a readable
      // (empty) view — one schema-carrying empty bucket dir, the
      // upsertBatch tombstone-everything posture
      val live =
        if (written.nonEmpty) written
        else {
          view.limit(0).coalesce(1).write.mode("overwrite")
            .parquet(s"$tmp/__bucket=0")
          Seq(0)
        }
      // the rewrite materializes the CURRENT shape under the CURRENT
      // names, so the new version declares that schema and carries NO
      // rename ledger (no generation in the rewritten chain predates
      // any declaration); the dropped __bucket rides as the partition
      // column, not a data column
      Fs.writeString(s"$tmp/$TableSchemaName",
        view.schema.toDDL + "\n")
      Fs.writeString(s"$tmp/$ManifestName",
        live.sorted.map(b => s"$b $vMax").mkString("", "\n", "\n"))
      // the rewrite re-states the whole table at vMax: diffs at or
      // below it are no longer derivable — record the horizon BEFORE
      // any old state is displaced (a crash between the deletions below
      // and a later horizon write would leave the lowest surviving
      // version's priors gone with no horizon, and the changefeed would
      // fabricate its carried-forward rows as inserts). A too-early
      // horizon is merely conservative: the changefeed reports nothing
      // at or below vMax, which is exactly the post-rewrite contract.
      writeHorizon(serving, vMax)
      val dst = s"$serving/v$vMax"
      Fs.rmTree(dst)
      Fs.move(tmp, dst)
      committedVersions(serving).filter(_ < vMax)
        .foreach(v => Fs.rmTree(s"$serving/v$v"))
      ()
      }
    }

  /** VACUUM an [[upsertBatch]] serving table to a bounded TIME-TRAVEL
    * window: keep the newest `keepLast` versions fully readable and
    * reclaim everything older — the middle ground between doing nothing
    * (one version per micro-batch forever) and [[compactServing]]
    * (which collapses ALL history into one version). Version dirs older
    * than the window fall into two classes:
    *
    *  - still REFERENCED as bucket donors by a kept manifest (their
    *    untouched buckets carried forward) — their data dirs must stay,
    *    but their MANIFEST is deleted, which atomically removes them
    *    from [[committedVersions]]: no reader can ever resolve them as
    *    a snapshot again, while kept manifests keep reading their
    *    bucket dirs;
    *  - unreferenced — deleted entirely.
    *
    * After a vacuum, [[readServingAsOf]] inside the window behaves
    * exactly as before; below the window it returns None (never a
    * partially-reclaimed snapshot — that is what the manifest deletion
    * guarantees). [[servingChangefeed]] is bounded to versions ABOVE
    * the lowest kept one (recorded in a horizon marker): the lowest
    * kept version's prior manifest is gone, so its diff is
    * unresolvable — it reports nothing rather than fabricating
    * inserts. Same stopped-writer window as the other maintenance
    * passes. Crash-safe in both branches: a reclaimed version loses
    * its MANIFEST first (so a half-deleted version can never be
    * resolved as a snapshot), and previously-decommissioned donor dirs
    * are re-swept — the scan walks every `v*` dir on disk, not just
    * the committed ones, so a donor stranded by an earlier vacuum is
    * reclaimed the first time no kept manifest references it. */
  def vacuumServing(serving: String, keepLast: Int): Unit = {
    import graft.util.Fs
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    // fast-path no-op guard only — the authoritative kept set resolves
    // INSIDE the lease: snapshotted outside, a version committed in
    // the acquire gap would land outside `kept` and be silently
    // destroyed — the exact quiet corruption the lease exists to
    // prevent (r18 review #1)
    if (committedVersions(serving).nonEmpty)
      graft.util.MaintenanceLease.withLease(serving, "vacuumServing") {
    val kept = committedVersions(serving).sorted.takeRight(keepLast).toSet
    if (kept.nonEmpty) {
      val referenced = kept.flatMap(v => readManifest(serving, v).values)
      // every version DIR on disk — committed or already decommissioned
      val onDisk = Fs.listChildren(serving)
        .collect { case (name, true) => name }
        .flatMap(name => name.stripPrefix("v").toLongOption
          .filter(_ => name.startsWith("v")).map(_ -> name))
      val drop = onDisk.filterNot { case (v, _) => kept.contains(v) }
      // horizon FIRST, and only when this vacuum actually decommissions
      // a committed version (its manifest still exists and is about to
      // go). A no-op vacuum (keepLast >= committed versions) must leave
      // the existing horizon untouched — writing kept.min would silently
      // drop the first version's fully-resolvable insert diffs — and a
      // crash between the deletions and a later horizon write would
      // leave the lowest kept version's priors gone with no horizon,
      // fabricating its carried-forward rows as inserts. Written before
      // any deletion, the worst crash outcome is a conservatively-early
      // horizon (diffs suppressed, never fabricated). Monotonic: a
      // horizon some earlier pass advanced further (e.g. a compaction)
      // is never pulled back down.
      if (drop.exists { case (_, name) =>
          Fs.isFile(s"$serving/$name/$ManifestName") })
        writeHorizon(serving, math.max(kept.min, changefeedHorizon(serving)))
      drop.foreach { case (v, name) =>
        // manifest first, in BOTH branches: a version that loses any
        // data must already be unresolvable as a snapshot
        Fs.deleteIfExists(s"$serving/$name/$ManifestName")
        if (!referenced.contains(v)) Fs.rmTree(s"$serving/$name")
      }
      ()
    }
    }
  }

  /** The CURRENT serving view maintained by [[upsertBatch]]: the newest
    * committed version's manifest, resolved to its per-bucket data dirs
    * (which span versions — that is the point). None before the first
    * commit. The path list is bounded by the bucket count. */
  def readServingSnapshot(s: org.apache.spark.sql.SparkSession,
      serving: String): Option[DataFrame] =
    readServingAsOf(s, serving, Long.MaxValue)

  /** TIME TRAVEL over an [[upsertBatch]] serving table: the view AS OF
    * `version` — the newest committed version ≤ it, resolved through
    * that version's manifest exactly as the current-view reader. The
    * layout gives this for free: every version dir is immutable once
    * its rename lands and a manifest names the complete view at its
    * commit, so any retained version is a consistent snapshot (the
    * Delta/Iceberg `VERSION AS OF` read, on plain parquet). Costs
    * nothing extra at write time; what bounds the travel horizon is
    * retention — [[compactServing]] collapses the chain to one
    * version, so run it at the cadence your audit window allows.
    * None if no version ≤ `version` has committed. */
  def readServingAsOf(s: org.apache.spark.sql.SparkSession,
      serving: String, version: Long): Option[DataFrame] =
    committedVersions(serving).filter(_ <= version).maxOption.map { v =>
      // bucket dirs grouped by owning version: donor buckets may predate
      // a schema change, so the read aligns generations (NULL for
      // columns added after the donor wrote, the current name for
      // columns renamed since — see readAligned; a never-evolved chain
      // keeps its single-scan plan). The ledger is the RESOLVING
      // version's: time travel below a rename keeps the old name.
      readAligned(s, pathsByVersion(serving, readManifest(serving, v)),
        readRenames(serving, v))
    }

  /** CHANGEFEED from an [[upsertBatch]] serving table: the per-version
    * change rows (op ∈ insert | update | delete) the versioned layout
    * records for free — a table format's CDF read, on plain parquet.
    * For each committed version, ONLY the bucket dirs that version
    * owns are read (they hold every row of the buckets its batch
    * touched), full-outer-compared against the same buckets'
    * prior-version dirs: a key absent before is an `insert`, a key
    * whose non-key columns differ is an `update`, a key present
    * before but absent now (a tombstone removed it) is a `delete`
    * carrying the PRE-IMAGE row (the CDF convention — the consumer
    * needs to know what was removed), and a carried-forward row that
    * merely shares a bucket with a changed key (byte-equal before and
    * after) emits nothing. A bucket the version EMPTIED (every key
    * deleted — it left the manifest entirely) contributes all its
    * prior rows as deletes. Retention via [[expireServing]] compacts
    * the chain rather than writing a delta, so it stays out of
    * changefeed scope by construction.
    *
    * 100 TB shape: I/O is O(Σ touched-bucket data per version), never
    * O(versions × table) — the diff joins per version are equi-joins
    * on the serving key between two bounded path lists, and version
    * 0 short-circuits (everything is an insert, no join). A long
    * chain means a wide union plan, so production tails the feed
    * incrementally (`fromVersion` = last consumed + 1) instead of
    * re-deriving history. None if nothing has committed in range. */
  def servingChangefeed(s: org.apache.spark.sql.SparkSession,
      serving: String, keyCol: String = "user_id",
      fromVersion: Long = 0L,
      toVersion: Long = Long.MaxValue): Option[DataFrame] = {
    // diffs at or below a vacuum horizon are unresolvable (their prior
    // manifests are gone) — excluded rather than fabricated as inserts
    val from = math.max(fromVersion, changefeedHorizon(serving) + 1L)
    val frames = committedVersions(serving).sorted
      .filter(v => v >= from && v <= toVersion).flatMap { v =>
        val man = readManifest(serving, v)
        val owned = man.collect { case (b, ver) if ver == v => b }.toSeq.sorted
        val prevMan = latestManifest(serving, belowVersion = v)
        // this version's ledger: priors read through any rename IT (or
        // an earlier version) declared, so a pure rename diffs value-
        // to-value and emits nothing, and pre-images carry current names
        val ledger = readRenames(serving, v)
        // buckets the prior view had that this version's manifest no
        // longer lists at all: emptied by tombstones — every prior row
        // is a delete (no current side exists to join against)
        val removed = (prevMan.keySet -- man.keySet).toSeq.sorted
        val emptiedArm =
          if (removed.isEmpty) None
          else {
            val prior = readAligned(s, pathsByVersion(serving,
              removed.map(b => b -> prevMan(b)).toMap), ledger)
            Some(prior.withColumn("op", lit("delete")))
          }
        val ownedArm =
          if (owned.isEmpty) None
          else {
            val cur = s.read.parquet(
              owned.map(b => s"$serving/v$v/__bucket=$b"): _*)
            val priorByVer = pathsByVersion(serving,
              owned.flatMap(b => prevMan.get(b).map(b -> _)).toMap)
            if (priorByVer.isEmpty) Some(cur.withColumn("op", lit("insert")))
            else {
              val valueCols = cur.columns.filterNot(_ == keyCol).toSeq
              // a key-only table has no values to diff: updates are
              // undetectable by definition, so only inserts emit
              val valuesEqual = valueCols.map(c => col(c) <=> col(s"__prior_$c"))
                .reduceOption(_ && _).getOrElse(lit(true))
              // the prior side aligns to THIS version's schema: a column
              // this version introduced reads NULL from the pre-change
              // prior, so a NULL→value transition on it diffs as a plain
              // update (<=> is null-safe) — the defined changefeed
              // semantics across a schema change; a column this version
              // RENAMED reads through the ledger first, so its values
              // compare name-aligned and a pure rename emits nothing;
              // delete pre-images carry NULL for columns their row
              // never had
              val prior = alignTo(
                readAligned(s, priorByVer, ledger), cur.schema)
              val p = prior.select(
                prior.columns.toSeq.map(c => col(c).as(s"__prior_$c")): _*)
              // TWO broadcast-able joins rather than one full-outer: a
              // full outer cannot BroadcastHashJoin, so it would demote
              // every per-version diff to a both-sides shuffle (the r18
              // lifecycle band caught exactly that — q233 at 2.06x its
              // committed reading). The left join keeps the r17-audited
              // broadcast shape for insert/update; deletes come from a
              // separate anti-join of prior against cur's KEYS (build
              // side ∝ touched-bucket keys), carrying the pre-image.
              val updIns = cur
                .join(p, cur(keyCol) === p(s"__prior_$keyCol"), "left")
                .filter(col(s"__prior_$keyCol").isNull || !valuesEqual)
                .withColumn("op",
                  when(col(s"__prior_$keyCol").isNull, lit("insert"))
                    .otherwise(lit("update")))
                .select(cur.columns.toSeq.map(col) :+ col("op"): _*)
              val dels = prior
                .join(cur.select(keyCol), Seq(keyCol), "left_anti")
                .withColumn("op", lit("delete"))
              Some(updIns.unionByName(dels))
            }
          }
        // allowMissingColumns on both unions: frames from versions below
        // a schema change lack its columns — they NULL-fill, exactly the
        // pre-change pre-image/row shape
        (emptiedArm.toSeq ++ ownedArm.toSeq)
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(_.withColumn("version", lit(v)))
      }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  private val ManifestName = "manifest.txt"
  private val HorizonName = "_changefeed_horizon"
  private val TableSchemaName = "_table_schema"
  private val RenamesName = "_renames"

  /** Version `v`'s declared table schema (its batch's merge target as
    * DDL) — None on a pre-declaration chain. */
  private def readTableSchema(serving: String,
      v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val p = s"$serving/v$v/$TableSchemaName"
    if (graft.util.Fs.isFile(p))
      Some(org.apache.spark.sql.types.StructType
        .fromDDL(graft.util.Fs.readString(p).trim))
    else None
  }

  /** Version `v`'s cumulative rename ledger, oldest declaration first:
    * (declaredAtVersion, oldName, newName). A declaration applies to
    * every generation STRICTLY OLDER than it. Empty on chains that
    * never renamed. */
  private def readRenames(serving: String,
      v: Long): Seq[(Long, String, String)] = {
    val p = s"$serving/v$v/$RenamesName"
    if (!graft.util.Fs.isFile(p)) Seq.empty
    else graft.util.Fs.readLines(p).filter(_.nonEmpty).map { l =>
      val Array(ver, from, to) = l.split(" ", 3)
      (ver.toLong, from, to)
    }.sortBy(_._1)
  }

  /** The rename chain generation `g` reads through: every declaration
    * made AFTER g wrote, applied oldest-first (chained renames
    * compose). */
  private def applyRenames(df: DataFrame,
      ledger: Seq[(Long, String, String)], generation: Long): DataFrame =
    ledger.collect { case (v, from, to) if v > generation => (from, to) }
      .foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** The lowest version [[vacuumServing]] kept, if one ever ran: diffs
    * at or below it are unresolvable (their prior manifests are gone).
    * The horizon is stored as a VALUE-STAMPED marker file
    * (`_changefeed_horizon.<v>`) rather than one rewritten file:
    * readers are deliberately un-gated by the lease, and a
    * truncate-in-place rewrite has a window where a concurrent reader
    * sees an empty file, reads "no horizon", and fabricates inserts
    * for every carried-forward row (r18 review #4). Writes create the
    * new stamp BEFORE deleting old ones and readers take the MAX, so
    * a reader always sees a stamp: the new one, or — only in the
    * instant before the old stamps are swept, which is itself before
    * any manifest deletion — the previous one, i.e. exactly the still-
    * consistent pre-pass state. */
  private def changefeedHorizon(serving: String): Long =
    graft.util.Fs.listChildren(serving).collect {
      case (name, false) if name.startsWith(s"$HorizonName.") =>
        name.stripPrefix(s"$HorizonName.").toLongOption
    }.flatten.maxOption.getOrElse(-1L)

  /** Install a new horizon stamp: new file first, stale stamps removed
    * after — a reader can never observe zero stamps once one exists. */
  private def writeHorizon(serving: String, h: Long): Unit = {
    graft.util.Fs.writeString(s"$serving/$HorizonName.$h", s"$h\n")
    graft.util.Fs.listChildren(serving).foreach {
      case (name, false) if name.startsWith(s"$HorizonName.") &&
          name.stripPrefix(s"$HorizonName.").toLongOption.exists(_ < h) =>
        graft.util.Fs.deleteIfExists(s"$serving/$name")
      case _ => ()
    }
  }

  /** Loss-free widening between two column types — equal, or one side
    * up-casts to the other (`Cast.canUpCast`, Spark's own no-data-loss
    * judgment, the [[graft.sources.Evolution]] rule applied to the
    * serving chain). Anything else is a loud error: a narrowing or
    * incompatible cast would silently corrupt carried-forward rows. */
  private def widen(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType, colName: String,
      where: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.StringType
    // canUpCast alone would admit any-atomic → string (representable,
    // but a RETYPE, not a widening — a batch bug would silently turn a
    // numeric column into text); a string target is legal only when
    // both sides already are
    def up(x: org.apache.spark.sql.types.DataType,
        y: org.apache.spark.sql.types.DataType) =
      (y != StringType || x == StringType) &&
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(x, y)
    if (a == b) a
    else if (up(a, b)) b
    else if (up(b, a)) a
    else throw new IllegalArgumentException(
      s"$where: column $colName cannot evolve between $a and $b — neither " +
        "direction is a loss-free widening (canUpCast, string excluded as " +
        "a retype); a serving batch may add columns or widen types, never " +
        "narrow or retype them")
  }

  /** Merge per-generation schemas (NEWEST first) into one read target:
    * newest column order wins, shared columns widen, columns a newer
    * generation lacks append at the end (they only arise outside the
    * no-drop write contract, but a reader must never lose data). */
  private def mergedReadSchema(schemas: Seq[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType =
    schemas.reduceLeft { (acc, older) =>
      val accNames = acc.fieldNames.toSet
      org.apache.spark.sql.types.StructType(acc.map { f =>
        older.find(_.name == f.name) match {
          case Some(o) => f.copy(
            dataType = widen(f.dataType, o.dataType, f.name, "serving read"),
            nullable = true)
          case None => f.copy(nullable = true)
        }
      } ++ older.filterNot(f => accNames.contains(f.name)).map(_.copy(nullable = true)))
    }

  /** Project `df` onto `target`: shared columns cast (write-time
    * validation guarantees the cast widens), missing columns NULL-fill
    * — added-column evolution's only honest backfill for pre-change
    * history. */
  private def alignTo(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    df.select(target.map { f =>
      have.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
  }

  /** Read bucket dirs that may span SCHEMA GENERATIONS (a version's
    * manifest points untouched buckets at older versions, whose files
    * predate any columns added — or renamed — since). Single-generation
    * reads — and multi-generation reads whose schemas never diverged,
    * i.e. every pre-evolution table — take the exact one-scan plan they
    * always did; only a genuinely evolved chain pays the per-generation
    * align-and-union (plan-level: N pruned scans, no shuffle; a rename
    * is a per-generation projection, also shuffle-free). The snapshot's
    * schema is its RESOLVING version's batch schema; carried pre-change
    * buckets read with NULL for added columns and under the CURRENT
    * name for renamed ones (`renames` = the resolving version's
    * ledger). */
  private def readAligned(s: org.apache.spark.sql.SparkSession,
      pathsByVersion: Seq[(Long, Seq[String])],
      renames: Seq[(Long, String, String)] = Seq.empty): DataFrame = {
    // a generation at-or-after every declaration needs no projection;
    // the fast paths stay available whenever NO generation does
    def renamed(g: Long) = renames.exists(_._1 > g)
    if (pathsByVersion.size == 1 && !renamed(pathsByVersion.head._1))
      s.read.parquet(pathsByVersion.head._2: _*)
    else {
      val newestFirst = pathsByVersion.sortBy(-_._1)
      val frames = newestFirst.map { case (g, ps) =>
        applyRenames(s.read.parquet(ps: _*), renames, g)
      }
      val schemas = frames.map(_.schema)
      if (schemas.forall(_ == schemas.head))
        if (newestFirst.forall { case (g, _) => !renamed(g) })
          s.read.parquet(newestFirst.flatMap(_._2): _*)
        else frames.reduce(_ unionByName _)
      else {
        val target = mergedReadSchema(schemas)
        frames.map(alignTo(_, target)).reduce(_ unionByName _)
      }
    }
  }

  /** Bucket→version manifest entries regrouped as (version, its bucket
    * dirs) — [[readAligned]]'s input shape. */
  private def pathsByVersion(serving: String,
      manifest: Map[Int, Long]): Seq[(Long, Seq[String])] =
    manifest.toSeq.groupBy(_._2).toSeq.map { case (v, entries) =>
      (v, entries.map { case (b, _) => s"$serving/v$v/__bucket=$b" }.sorted)
    }

  /** Versions whose manifest exists — i.e. whose assembling rename
    * landed. A crash mid-assembly leaves only a `.tmp-v*` dir, which
    * never matches. */
  private def committedVersions(serving: String): Seq[Long] =
    graft.util.Fs.listChildren(serving)
      .collect { case (name, true)
        if graft.util.Fs.isFile(s"$serving/$name/$ManifestName") => name }
      .flatMap(_.stripPrefix("v").toLongOption)

  /** bucket → owning version as of the newest committed version strictly
    * below `belowVersion` (a replayed batch must never read its own
    * prior attempt). Empty before the first commit. */
  private def latestManifest(serving: String, belowVersion: Long): Map[Int, Long] =
    committedVersions(serving).filter(_ < belowVersion).maxOption
      .map(readManifest(serving, _)).getOrElse(Map.empty)

  private def readManifest(serving: String, v: Long): Map[Int, Long] =
    graft.util.Fs.readLines(s"$serving/v$v/$ManifestName")
      .filter(_.nonEmpty).map { l =>
        val Array(b, ver) = l.split(" ")
        b.toInt -> ver.toLong
      }.toMap

  /** Stream-stream INTERVAL JOIN — click attribution: every view event
    * LEFT-joined to the same user's click events within
    * `attributionWindow` AFTER the view. This is the one Structured
    * Streaming join shape an event-ingest pipeline needs: both sides are
    * live streams (here two filters of the same stream — a supported
    * self-join), so neither can be broadcast or pre-materialized, and
    * the engine must buffer BOTH sides in keyed state until the other
    * side's watermark proves no counterpart can still arrive.
    *
    * Semantics under the append-mode stream-stream join contract:
    * matched (view, click) pairs emit as they form, in either arrival
    * order — a view buffered in an earlier micro-batch pairs with a
    * later click and vice versa; an unmatched view null-emits ONLY once
    * the watermark passes its attribution horizon (no in-window click
    * can still arrive), so the final sink equals the equivalent batch
    * left join exactly. The event-time RANGE in the join condition is
    * what bounds state: each side's rows evict as the opposite
    * watermark passes `attributionWindow`, so state is proportional to
    * the attribution horizon (times arrival rate), not stream history —
    * the property that lets this run forever at crawl scale. Output
    * times are unix MICROseconds (TimestampType's native precision, the
    * family convention).
    *
    * `joinType` selects the append-mode stream-stream join contract
    * variant — the null-emission bookkeeping differs per side:
    *  - `left_outer` (default): unmatched VIEWS null-emit once the
    *    watermark passes view_ts + window (no in-window click can
    *    still arrive); unmatched clicks emit nothing.
    *  - `right_outer`: unmatched CLICKS null-emit once the watermark
    *    passes click_ts (no view in [click_ts − window, click_ts] can
    *    still arrive); unmatched views emit nothing.
    *  - `full_outer`: both null-emission arms at once.
    *  - `left_semi`: a view emits EXACTLY ONCE, at its first in-window
    *    click, with no click columns — attribution as a filter; a view
    *    with several in-window clicks does not multiply.
    * The `user_id` output column coalesces the two sides so it is
    * non-null whichever side survived; for `left_semi` the output is
    * the view triple only. */
  def streamingClickAttribution(events: DataFrame, attributionWindow: String,
      watermark: String, joinType: String = "left_outer"): DataFrame = {
    val views = events
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val joined = views.join(clicks,
      views.col("user_id") === clicks.col("click_user") &&
        clicks.col("click_ts") >= views.col("view_ts") &&
        clicks.col("click_ts") <= views.col("view_ts") +
          expr(s"INTERVAL $attributionWindow"),
      joinType)
    if (joinType == "left_semi")
      joined.select(col("view_id"), col("user_id"),
        unix_micros(col("view_ts")).as("view_us"))
    else
      joined.select(col("view_id"),
        coalesce(col("user_id"), col("click_user")).as("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        col("click_id"), unix_micros(col("click_ts")).as("click_us"))
  }
}

/** Per-template census state for the streaming trap detector: distinct URL
  * md5 digests seen — FULL digests, so the census is exact (grows only
  * UNTIL the threshold fires — then the set empties and `trapped` pins, so
  * long-lived state per trapped template is one boolean, and untrapped
  * state is bounded by the threshold). */
case class TrapCensusState(seen: Set[String], trapped: Boolean)
/** Emitted ONCE per template, at the moment its distinct-URL census crosses
  * the trap threshold. */
case class TrapAlert(template: String, n_urls: Int)

/** Near-duplicate candidate pair emitted by the streaming MinHash operator. */
case class CandidatePair(doc1: Long, doc2: Long)
/** Per-(band, band_key) bucket state: doc_ids seen inside the horizon. */
case class BandBucketState(seen: Array[Long])

/** Input row for the streaming funnel. */
case class FunnelEvent(event_id: Long, user_id: Long, event_type: String,
    ts: java.sql.Timestamp)
/** Buffered per-user funnel state: (event_id, us, type) triples within the
  * watermark horizon — type strings are small and bounded by the stage
  * vocabulary; ids/times are two longs per event. */
case class FunnelBuffer(ids: Array[Long], us: Array[Long], types: Array[String])

/** Per-domain frontier counter: the next politeness slot to hand out. */
case class DomainSeqState(next: Long)

/** Per-shard packing state: total bins ever opened + the OPEN bins as a
  * flat (local_bin, remaining) pair array (encoder-friendly). */
case class PackBinsState(n_bins: Long, open_bins: Array[Long])
/** One streaming packing assignment: doc → its shard's bin. */
case class PackAssignment(doc_id: Long, shard: Int, n_tokens: Int,
    local_bin: Long, bin_id: Long)

/** One scheduled fetch: the streaming scheduler's output row. */
case class FetchAssignment(doc_id: Long, domain: String, seq: Long, fetch_at: Long)
/** One funnel result per user, emitted when the user goes idle past the
  * horizon: reach times (µs epoch, null = stage not reached) and the
  * deepest stage index. */
case class FunnelReach(user_id: Long, reach_us: Seq[Option[Long]], funnel_stage: Int)

/** Streaming ordered funnel — the ingest-time analogue of
  * [[graft.operators.Funnel.funnel]]: events buffer per user inside the
  * watermark horizon and the funnel evaluates ONCE PER IDLE PERIOD — when
  * the user goes idle past the horizon (event-time timeout), the buffered
  * burst is evaluated, emitted, and the state removed. A user who becomes
  * active again later starts a FRESH buffer and will emit a second
  * FunnelReach row for the new burst (append mode cannot retract the
  * first): downstream consumers keying by user_id should expect one row
  * per activity burst and merge accordingly (e.g. keep the max-reach or
  * latest row). Buffering is what makes each burst's result EXACT under
  * out-of-order arrival: a late view that precedes an already-seen click
  * still counts, because nothing is evaluated until the watermark
  * guarantees no earlier event can arrive. Evaluation sorts the buffer by
  * (time, event_id) and applies the same sequential
  * qualifies-after-previous-stage rule as the batch operator —
  * StreamingSpec pins parity against `Funnel.funnel` on the same events,
  * and q202 earns q81's full DuckDB oracle from a staged file-sink run.
  * Times are epoch MICROseconds (`unix_micros` — TimestampType's native
  * precision, so the batch operator's µs reach times reproduce exactly;
  * ms-truncated times could never hash-match the q81 oracle).
  *
  * State per user is the in-horizon event triples — proportional to the
  * funnel window, not stream history; idle users evict at timeout. */
object StreamingFunnel {
  def apply(events: Dataset[FunnelEvent], stages: Seq[String],
      idleTimeout: String = "1 hour"): Dataset[FunnelReach] = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      s"stages must be non-empty and distinct: $stages")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    events.toDF()
      .withWatermark("ts", idleTimeout)
      // ts stays in the projection — the watermark rides its attribute
      // and event-time timeout requires it downstream; us is the exact
      // µs the buffer stores
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, String, java.sql.Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[FunnelBuffer, FunnelReach](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp, Long)],
            state: GroupState[FunnelBuffer]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            val order = buf.ids.indices.sortBy(i => (buf.us(i), buf.ids(i)))
            val reach = Array.fill[Option[Long]](stages.size)(None)
            order.foreach { i =>
              val s = stages.indexOf(buf.types(i))
              if (s >= 0 && reach(s).isEmpty && (s == 0 || reach(s - 1).isDefined))
                reach(s) = Some(buf.us(i))
            }
            Iterator.single(
              FunnelReach(userId, reach.toSeq, reach.lastIndexWhere(_.isDefined) + 1))
          } else {
            val prev = state.getOption.getOrElse(
              FunnelBuffer(Array.empty, Array.empty, Array.empty))
            val ids = Array.newBuilder[Long]; val us = Array.newBuilder[Long]
            val tps = Array.newBuilder[String]
            rows.foreach { case (eventId, _, tp, _, eventUs) =>
              ids += eventId; us += eventUs; tps += tp
            }
            val next = FunnelBuffer(prev.ids ++ ids.result(),
              prev.us ++ us.result(), prev.types ++ tps.result())
            state.update(next)
            // timeout from the max over the WHOLE buffer, not this batch —
            // a batch of only older (in-horizon) events must never pull an
            // already-set timeout backward and evict the user early
            if (next.us.nonEmpty)
              state.setTimeoutTimestamp(Math.floorDiv(next.us.max, 1000L), idleTimeout)
            Iterator.empty
          }
      }
  }
}

/** Input row for the custom-state operator. */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
/** Emitted when a user's running total crosses a threshold (once per cross). */
case class ThresholdCross(user_id: Long, total: Double, n_events: Long)

/** Custom keyed state where no built-in aggregation fits: emit a row the
  * first time each user's running value total crosses a threshold.
  * State per key is two numbers; keys idle longer than `idleTimeout` of
  * EVENT time are evicted as the watermark passes them, so the state store
  * tracks recently active users, not every user ever seen — without a
  * timeout a high-churn keyspace grows unbounded. (Event-time rather than
  * processing-time timeout: eviction is then deterministic w.r.t. the data,
  * and the engine doesn't need to keep running empty batches on a quiet
  * stream just to check wall-clock timers.) */
object ThresholdAlerts {
  def apply(events: Dataset[UserEvent], threshold: Double,
      idleTimeout: String = "1 hour"): Dataset[ThresholdCross] = {
    import events.sparkSession.implicits._
    val spark = events.sparkSession
    events.toDF()
      .withWatermark("ts", idleTimeout)
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Long, Boolean), ThresholdCross](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[(Double, Long, Boolean)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (total0, n0, fired0) = state.getOption.getOrElse((0.0, 0L, false))
            var total = total0; var n = n0; var fired = fired0
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[ThresholdCross]
            rows.foreach { e =>
              total += e.value; n += 1
              maxTs = math.max(maxTs, e.ts.getTime)
              if (!fired && total >= threshold) {
                fired = true
                out += ThresholdCross(userId, total, n)
              }
            }
            state.update((total, n, fired))
            if (maxTs != Long.MinValue) state.setTimeoutTimestamp(maxTs, idleTimeout)
            out.result().iterator
          }
      }
  }
}
