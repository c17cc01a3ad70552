package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface — post-parity extension (SURVEY.md §7.6:
  * the reference has zero streaming). The `events` table doubles as the
  * bounded stand-in for an unbounded source: the same plan runs on
  * `readStream` in production and on a directory of parquet in tests
  * (`format("memory")` + `processAllAvailable`).
  *
  * Scale posture: watermarks bound state; windowed aggregations compile
  * to incremental partial aggregation with state store per key-window —
  * the streaming analog of the batch partial+final HashAggregate.
  */
object StreamOps {

  /** Open the events directory as an unbounded stream. The schema is
    * DERIVED from a batch read of the same path (its footer, read on the
    * driver by [[graft.api.FooterSchema]], so opening the stream runs no
    * job once the probe below has run for the path) — never hardcoded: a
    * hardcoded `ts: LongType` once read a TIMESTAMP(MICROS) column as
    * micros-as-long, the ÷1000 nanos conversion collapsed every event to
    * ~1970, and the windowed queries emitted confidently wrong rows with
    * zero errors (the r9 incident). `ts` is adapted via the canonical
    * [[graft.queries.QueryUtil.adaptTs]] (same conversion as batch, so
    * stream and batch results stay comparable bit-for-bit) and the batch
    * twin is unit-sanity-checked up front so drift throws at plan time
    * instead of corrupting state downstream. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.QueryUtil
    val batch = graft.api.FooterSchema.read(spark, dir)
    val tsType = batch.schema("ts").dataType
    QueryUtil.assertPlausibleTs(
      batch.withColumn("ts", QueryUtil.adaptTs(tsType, "ts")), "ts", dir)
    spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withColumn("ts", QueryUtil.adaptTs(tsType, "ts"))
  }

  /** tumbling-window counts+sums per event type with late-data bound.
    * The value sum rides DECIMAL(18,4) (emitted as double): decimal
    * addition is order-independent, so the result is identical across
    * trigger orders, partial-aggregation orders, and the batch twin —
    * which is what lets the DuckDB oracle hash-compare it (q126). */
  def windowedTypeCounts(events: DataFrame,
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-window heavy hitters: keys whose count inside a tumbling
    * window reaches `minCount` — the streaming twin of
    * [[graft.operators.Profiling.heavyHitters]] (hot users/domains per
    * hour, live). The threshold filter sits ON TOP of the windowed
    * aggregation, so state is one count per (window, key) — bounded by
    * the watermark like every windowed agg here — and only rows that
    * clear the bar are emitted when the window finalizes. */
  def windowedHeavyHitters(events: DataFrame, keyCol: String,
                           minCount: Long,
                           windowLen: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame =
    events
      .where(col(keyCol).isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select(col("window.start").as("win_start"), col(keyCol), col("n"))

  /** sliding-window per-user activity rate */
  def slidingUserActivity(events: DataFrame,
                          windowLen: String = "1 hour",
                          slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), windowLen, slide), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("user_id"), col("n_events"))

  /** session windows: events separated by less than `gap` merge into one
    * session per user. Works over batch frames (used in the spec and
    * the q90 oracle query) and streams: streaming session aggregation
    * REQUIRES a watermark (Spark rejects it otherwise — unbounded
    * state), so one is attached whenever the input is a stream; on
    * batch frames a watermark is meaningless and skipped. */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           // decimal sum: order-independent across session merges →
           // oracle hash-comparable (the windowedTypeCounts convention)
           sum(col("value").cast("decimal(18,4)")).cast("double")
             .as("session_value"))
      .select(col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("user_id"),
        col("n_events"), col("session_value"))
  }

  /** Custom per-key state via flatMapGroupsWithState: running per-user
    * totals that survive across triggers (the state-store-backed escape
    * hatch when windowed aggregation can't express the logic —
    * sessionization with business rules, CDC merge, rate limiting).
    *
    * Emits one update per user per trigger. State is bounded by the
    * user-id cardinality; production pipelines add a timeout
    * (`GroupStateTimeout.EventTimeTimeout`) to expire idle keys. */
  def statefulUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // primitive-tuple encoders reject null fields at runtime — drop
    // null keys/values up front instead of killing the whole query on
    // the first bad event
    val typed = events.selectExpr("user_id", "value")
      .na.drop(Seq("user_id", "value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator((user, n, s))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Streaming drift monitor: per-key EWMA + EW-variance maintained in
    * the state store (`flatMapGroupsWithState`), recursive unadjusted
    * form (`y ← αx + (1−α)y`; `v ← (1−α)(v + α(x−y)²)` — West 1979),
    * with rows folded in (ts, tiebreak) order inside each trigger so
    * the recursion is deterministic regardless of partition
    * interleaving. A row is an anomaly when it lands more than
    * `z`·σ from the running mean (after a `warmup` so the first rows
    * can't all flag). This is the ingest-rate/quality-score tripwire
    * that runs INSIDE the feed — the batch [[graft.operators
    * .Constraints]] suite verifies a snapshot after the fact; this
    * catches the drift while it arrives.
    *
    * Emits one row per key per trigger: (key, n_events, ewma,
    * n_anomalies) — the state summary, O(keys) output. State is two
    * doubles + two longs per key; add an event-time timeout upstream
    * for unbounded key domains.
    *
    * In-trigger buffering sorts each key's batch slice in memory —
    * bounded by a key's per-trigger arrival, the same bound windowed
    * aggregation state carries. */
  def streamingEwmaAnomaly(events: DataFrame, keyCol: String = "event_type",
                           alpha: Double = 0.5, z: Double = 3.0,
                           warmup: Int = 10): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(alpha > 0 && alpha < 1, s"streamingEwmaAnomaly: alpha in (0,1): $alpha")
    val spark = events.sparkSession
    import spark.implicits._
    // microsecond ordinal, not a seconds cast — a seconds truncation
    // would re-order same-second rows vs the (ts, id) contract
    val typed = events
      .select(col(keyCol).cast("string"), unix_micros(col("ts")),
        col("event_id"), col("value"))
      .na.drop().as[(String, Long, Long, Double)]
    // state: (n, ewma, ewvar, nAnomalies)
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Double, Long),
        (String, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long, Double)],
         state: GroupState[(Long, Double, Double, Long)]) =>
          var (n, y, v, bad) = state.getOption.getOrElse((0L, 0.0, 0.0, 0L))
          // deterministic fold order: (ts, event_id) within the trigger
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            val x = r._4
            if (n == 0L) { y = x; v = 0.0 }
            else {
              if (n >= warmup && math.abs(x - y) > z * math.sqrt(v)) bad += 1
              v = (1 - alpha) * (v + alpha * (x - y) * (x - y))
              y = alpha * x + (1 - alpha) * y
            }
            n += 1
          }
          state.update((n, y, v, bad))
          Iterator((key, n, y, bad))
      }
      .toDF(keyCol, "n_events", "ewma", "n_anomalies")
  }

  /** Per-key streaming top-k selection on the Spark 4 arbitrary-state
    * API (`transformWithState` + `ListState`, RocksDB-backed): keep
    * the `k` best (value, tiebreak id) rows per key as the feed
    * arrives — "best k docs per domain" corpus selection running
    * INSIDE ingest instead of as a nightly batch top-k. Each trigger
    * merges the key's arrivals into its k-row `ListState` and emits
    * the current top-k with ranks; state per key is EXACTLY k tuples,
    * so total state is k·|keys| regardless of feed volume. The final
    * emission equals the batch `row_number ≤ k` over everything that
    * ever arrived — order-insensitive by construction (max-merge is a
    * monoid), which is what makes it oracle-checkable.
    *
    * transformWithState requires the RocksDB state store; run it via
    * [[runWithRocksDbState]] (or set
    * `spark.sql.streaming.stateStore.providerClass` yourself). */
  def streamingTopKPerKey(events: DataFrame, keyCol: String = "user_id",
                          k: Int = 3): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    require(k >= 1, s"streamingTopKPerKey: k must be >= 1: $k")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col(keyCol), col("event_id"), col("value"))
      .na.drop().as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .transformWithState(new TopKProcessor(k), TimeMode.None(),
        OutputMode.Append())
      .toDF(keyCol, "event_id", "value", "rank")
  }

  /** Event-time sessionization with EXPLICIT gap timers on the Spark 4
    * arbitrary-state API — what `session_window` cannot express is the
    * point: the processor owns the session record (start, last, count,
    * exact decimal value sum), closes a session in-batch the moment a
    * gap appears, and registers an event-time TIMER at `last + gap` so
    * the watermark closes the final session of an idle key without any
    * further input (`handleExpiredTimer`). That idle-key close is the
    * piece business-rule sessionizers need (emit on abandon, cap
    * duration, step-aware merges) and windowed aggregation can't do.
    *
    * Input contract: rows carry `ts` (timestamp) + `user_id` +
    * `event_id` + `value`, a watermark is REQUIRED upstream (event-
    * time timers fire off it). Rows with `event_id < 0` are
    * PUNCTUATION: they advance the watermark but never join a session
    * — the bounded-feed flush pattern (stage a far-future sentinel to
    * drain final sessions; an unbounded production feed just keeps
    * flowing and needs none).
    *
    * Output: one row per CLOSED session — (user_id, start, end =
    * last + gap, n_events, value sum as DECIMAL(18,4)-exact double) —
    * emitted exactly once, at close. Session split uses the
    * `diff >= gap` convention (the session_window/q90 semantics).
    * State per key: one open-session record + one timer. */
  def streamingSessionizeWithTimers(events: DataFrame,
                                    gap: String = "30 minutes",
                                    watermark: String = "2 hours")
      : DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val gapMicros = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(gap)) match {
      case iv =>
        require(iv.months == 0 && iv.days == 0,
          s"streamingSessionizeWithTimers: gap must be sub-day: $gap")
        iv.microseconds
    }
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMicros),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "start_us", "end_us", "n_events", "session_value")
      .select(
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))
  }

  /** Run `body` with the RocksDB state store provider active (required
    * by transformWithState), restoring the previous provider after —
    * the rest of the suite keeps the default HDFS-backed store. */
  def runWithRocksDbState[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Streaming exact dedup — the ingestion-side twin of
    * [[graft.operators.Dedup.exactByFingerprint]]: canonical fingerprint
    * + streaming `dropDuplicates`, so a document that re-arrives (retry,
    * re-crawl, mirrored feed) is emitted once. Works on batch frames
    * identically (same plan, batch dropDuplicates).
    *
    * State = one entry per DISTINCT fingerprint — at 100 TB that is the
    * dedup table itself, a deliberate choice; pipelines that only need
    * within-window dedup bound state with a watermark +
    * `dropDuplicatesWithinWatermark` instead. */
  def streamingExactDedup(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("__fp",
        graft.functions.TextFunctions.fingerprint(col(textCol)))
      .dropDuplicates("__fp").drop("__fp")

  /** BOUNDED-STATE streaming dedup — the production twin of
    * [[streamingExactDedup]] for feeds where duplicates arrive close in
    * event time (retries, mirrored feeds, re-delivery): state per
    * fingerprint is EVICTED once the watermark passes it, so the state
    * store stays proportional to the dedup horizon instead of the
    * all-time distinct count. A duplicate arriving LATER than the
    * watermark delay is re-emitted — the documented trade for bounded
    * state (run the batch [[graft.operators.Dedup.exactByFingerprint]]
    * periodically to catch the long tail). */
  def streamingDedupWithinWatermark(docs: DataFrame, textCol: String,
                                    tsCol: String,
                                    watermark: String = "2 hours"): DataFrame =
    docs.withColumn("__fp",
        graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming URL dedup — the realistic crawl-ingest composition:
    * canonicalize each arriving URL with
    * [[graft.operators.Curation.normalizeUrl]] (a pure codegen'd column
    * expression, so it runs unchanged inside a streaming plan), then
    * bounded-state dedup on the canonical form within the watermark
    * horizon — the first arrival of each logical URL is emitted with
    * its `canonical_url`, re-crawls and disguised duplicates
    * (www/ports/tracking params/fragments/percent-encoding) are
    * dropped, and state evicts as the watermark passes (the
    * [[streamingDedupWithinWatermark]] trade).
    *
    * NULL urls are all KEPT — an unknown URL is not evidence of
    * duplication ([[graft.operators.Curation.dedupByUrl]]'s batch
    * contract). `dropDuplicatesWithinWatermark` would treat NULL keys
    * as equal and collapse them, so null rows get a per-row sentinel
    * key derived from `idCol` instead. */
  def streamingUrlDedup(docs: DataFrame, urlCol: String, idCol: String,
                        tsCol: String, watermark: String = "2 hours"): DataFrame =
    docs.withColumn("canonical_url",
        graft.operators.Curation.normalizeUrl(col(urlCol)))
      .withColumn("__k", coalesce(col("canonical_url"),
        concat(lit("\u0000id:"), col(idCol).cast("string"))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__k")
      .drop("__k")

  /** Stream-static enrichment — the crawl-ingest join: every arriving
    * row picks up its dimension attributes (domain weights, category,
    * blocklist flags) from a STATIC table. Spark plans the join fresh
    * per micro-batch, which is exactly why `broadcastDim` defaults
    * true: a shuffled stream-static join re-shuffles the static side
    * EVERY trigger (the per-batch planner has no AQE to save it), while
    * a broadcast dim is shipped once per executor and the stream side
    * never leaves its source partitioning. Set it false only when the
    * dim is genuinely too big to broadcast — and then pre-bucket both
    * sides on the key so the per-batch exchange is map-side.
    *
    * `how`: "left" keeps unmatched stream rows with null attributes
    * (enrichment); "inner" drops them (allowlist); both are
    * append-safe stateless joins — no watermark, no state store. */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
                         keys: Seq[String], how: String = "left",
                         broadcastDim: Boolean = true): DataFrame = {
    require(how == "left" || how == "inner",
      s"streamStaticEnrich supports left/inner, got: $how")
    val d = if (broadcastDim) broadcast(dim) else dim
    stream.join(d, keys, how)
  }

  /** Stream-stream inner interval join — the attribution shape: every
    * right event on the same key within `[l_ts, l_ts + upper]` of a
    * left event (click-after-view, download-after-crawl). The ONLY
    * stream-stream join Spark can run with bounded state: both sides
    * carry a watermark and the join condition carries the time bound,
    * so the state store evicts a row once the other side's watermark
    * passes its match window — without both, state grows forever and a
    * 100 TB/day feed OOMs the cluster (the condition is what turns the
    * join into a sliding band, not a full history join).
    *
    * Output: (key, l_ts, r_ts) per matched pair, append-mode only
    * (inner stream-stream joins cannot run complete). Late rows beyond
    * `watermark` are dropped by contract — size it to the feed's
    * real-world disorder.
    *
    * `how = "leftOuter"` adds the NO-MATCH left rows (r_ts null) — the
    * "views that never converted" shape. An outer stream-stream row can
    * only emit once the watermark proves no match can still arrive
    * (past `l_ts + upper`), so on a BOUNDED feed the tail of the left
    * side stays withheld unless the feed ends with watermark-advancing
    * punctuation (the q227 sentinel-wave pattern) — and the null-match
    * timing is also why outer results trail the matched ones in
    * production. Same bounded state either way: the time-range
    * condition is what lets the store evict. */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
                               keyCol: String, tsCol: String = "ts",
                               watermark: String = "2 hours",
                               upper: String = "1 hour",
                               how: String = "inner"): DataFrame = {
    require(Set("inner", "leftOuter").contains(how),
      s"streamStreamIntervalJoin: how must be inner|leftOuter: $how")
    val l = left.select(col(keyCol).as("key"), col(tsCol).as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col(keyCol).as("__rkey"), col(tsCol).as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("key") === col("__rkey") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $upper"), how)
      .select(col("key"), col("l_ts"), col("r_ts"))
  }

  /** Streaming distribution monitoring: a KLL quantile SKETCH per key
    * living in the RocksDB state store — the "what does the value
    * distribution of each event type look like, measured AT ingest"
    * pass. State per key is the sketch's fixed budget (k=400 ≈ 3 KB,
    * ~0.9% rank error) regardless of feed volume — the streaming twin
    * of the batch mergeable-sketch column ([[graft.operators.Sketches]]).
    * Values fold in deterministic (ts, event_id) order; rows with
    * `event_id < 0` are watermark punctuation (the q227 convention) and
    * never enter a sketch. Each batch re-arms an event-time timer at
    * `lastSeen + horizon`; when the watermark passes it, the key emits
    * ONE final snapshot — (key, n, q25, q50, q75) — and clears.
    * Quantile ESTIMATES carry sketch randomness, so oracle checks pin
    * them inside exact rank bands rather than hashing them. */
  def streamingKllQuantiles(events: DataFrame, keyCol: String = "event_type",
                            k: Int = 400,
                            horizon: String = "1 hour"): DataFrame = {
    val horizonMicros = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(horizon)).microseconds
    val spark = events.sparkSession
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "0 seconds")
      .select(col(keyCol).cast("string"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(String, Long, Long, Double)]
    typed.groupByKey(_._1)
      .transformWithState(new KllQuantileProcessor(k, horizonMicros),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(keyCol, "n", "q25", "q50", "q75")
  }

  /** CHAINED stateful aggregation (Spark 4 multiple-stateful-operator
    * support): tumbling 1-hour per-key counts re-windowed into a daily
    * rollup INSIDE one streaming job — the "ingest metrics cascade"
    * that previously needed two jobs with a sink between them. The
    * second aggregation windows over the first's window STRUCT
    * (`window(hw, '1 day')`), so watermark propagation finalizes an
    * hourly window first and the day it falls in afterwards; append
    * mode emits each exactly once.
    *
    * Rows with negative keys are watermark punctuation (the q227
    * sentinel convention): they pass the watermark node — advancing
    * event time — and are filtered BEFORE aggregation, so they close
    * windows without polluting counts. State is |open hours × keys| +
    * |open days| — bounded by the watermark either way. */
  def streamingHourlyDailyRollup(events: DataFrame,
                                 keyCol: String = "user_id"): DataFrame = {
    // the sentinel cut must stay ABOVE the watermark node: a predicate
    // that doesn't reference the event-time column gets pushed below
    // EventTimeWatermark by the optimizer, and the punctuation rows
    // would then be dropped before the watermark ever observes them —
    // the final windows would never close. `ts IS NULL` is never true
    // (ingest adapts ts); its only job is the ts reference that blocks
    // the pushdown.
    val marked = events.withWatermark("ts", "0 seconds")
      .where(col(keyCol) >= 0 || col("ts").isNull)
    val hourly = marked
      .groupBy(window(col("ts"), "1 hour").as("hw"), col(keyCol))
      .agg(count(lit(1)).as("n"))
    hourly
      .groupBy(window(col("hw"), "1 day").as("dw"))
      .agg(sum(col("n")).cast("long").as("n_events"),
        max(col("n")).as("max_user_hour"),
        count(lit(1)).as("n_user_hours"))
      .select(col("dw.start").as("day"), col("n_events"),
        col("max_user_hour"), col("n_user_hours"))
  }

  /** Drain a bounded stream into a PARQUET file sink (the production
    * landing-zone shape: append-mode files + a checkpoint directory
    * for exactly-once restart semantics) and read the result back.
    * Unlike the memory sink, this exercises the real file-commit
    * protocol — partial trigger output is never visible to readers,
    * and a restart from `checkpointDir` resumes without duplicating
    * files. Stateless/append plans only (a complete-mode aggregation
    * has no file-sink representation). */
  def runToParquet(streamed: DataFrame, outDir: String,
                   checkpointDir: String): DataFrame = {
    val q = streamed.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // read back under the stream's own schema: a bounded stream that
    // emitted ZERO rows leaves no part files, and a schema-inferring
    // read would throw "unable to infer schema" instead of returning
    // the empty frame the caller asked for
    streamed.sparkSession.read.schema(streamed.schema).parquet(outDir)
  }

  /** run a streaming plan to completion against the bounded test input
    * and return the materialized result (memory sink).
    *
    * `complete` mode: with bounded input, `append` would hold back every
    * window the watermark has not passed yet — the tail of the data
    * would never emit. Production unbounded pipelines use `append` (only
    * finalized windows, bounded state); for batch-equivalence testing
    * `complete` emits all windows. */
  def runToCompletion(streamed: DataFrame, name: String,
                      mode: String = "complete"): DataFrame = {
    val spark = streamed.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    // Bounded-replay harness: cap the stateful-operator partition count
    // for the run. Each micro-batch spins up one state store PER shuffle
    // partition PER stateful operator, and a staged-file replay fires
    // one trigger per file — at the session default (32+) that is
    // hundreds of kilobyte-sized state stores doing fixed-cost setup,
    // which IS the per-trigger overhead the bench's staged_files class
    // annotates. Results are partition-count independent; production
    // writeStream paths size this via the session conf, not here.
    spark.conf.set(key, math.min(saved.toInt, 8).toString)
    try {
      val q = streamed.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      // always release the query: a failure inside processAllAvailable
      // would otherwise leave the name registered as an active query and
      // make any retry under the same name fail
      try q.processAllAvailable()
      finally q.stop()
    } finally spark.conf.set(key, saved)
    spark.table(name)
  }
}

/** Open-session record + gap timer per key — the
  * [[StreamOps.streamingSessionizeWithTimers]] processor. Value sums
  * accumulate as exact scale-4 BigDecimal (each double rounds to 4dp
  * the way Spark's decimal cast does — via the double's shortest
  * string — so the emitted sum replays in SQL as
  * `SUM(CAST(value AS DECIMAL(18,4)))`). */
private[streaming] class SessionProcessor(gapMicros: Long)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Double), (Long, Long, Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  // (startMicros, lastMicros, nEvents, valueSum scale-4)
  @transient private var session: ValueState[(Long, Long, Long, BigDecimal)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    session = getHandle.getValueState[(Long, Long, Long, BigDecimal)](
      "session", Encoders.product[(Long, Long, Long, BigDecimal)],
      TTLConfig.NONE)

  private def dec4(v: Double): BigDecimal =
    BigDecimal(java.lang.Double.toString(v))
      .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)

  private def timerMsFor(lastMicros: Long): Long =
    (lastMicros + gapMicros) / 1000 + 1 // ceil to the ms timer clock

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, Long, Double)],
                               timers: TimerValues)
      : Iterator[(Long, Long, Long, Long, Double)] = {
    val closed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Double)]
    var cur: Option[(Long, Long, Long, BigDecimal)] =
      if (session.exists()) Some(session.get()) else None
    // deterministic fold: (ts, event_id); event_id < 0 = punctuation
    rows.toSeq.filter(_._3 >= 0).sortBy(r => (r._2, r._3)).foreach { r =>
      val (ts, v) = (r._2, r._4)
      cur match {
        case Some((start, last, n, sum)) if ts - last < gapMicros =>
          cur = Some((start, ts, n + 1, sum + dec4(v)))
        case Some((start, last, n, sum)) => // gap reached: close, reopen
          closed += ((key, start, last + gapMicros, n, sum.toDouble))
          cur = Some((ts, ts, 1L, dec4(v)))
        case None =>
          cur = Some((ts, ts, 1L, dec4(v)))
      }
    }
    cur.foreach { case s @ (_, last, _, _) =>
      session.update(s)
      // one live timer per key: re-arm at the new session horizon
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(timerMsFor(last))
    }
    closed.iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
                                  info: ExpiredTimerInfo)
      : Iterator[(Long, Long, Long, Long, Double)] =
    (if (session.exists()) Some(session.get()) else None) match {
      // fire only the CURRENT session's horizon (a stale timer from a
      // since-extended session re-arms smaller and is deleted anyway)
      case Some((start, last, n, sum))
          if info.getExpiryTimeInMs() >= timerMsFor(last) =>
        session.clear()
        Iterator((key, start, last + gapMicros, n, sum.toDouble))
      case _ => Iterator.empty
    }
}

/** KLL-sketch-per-key state — the [[StreamOps.streamingKllQuantiles]]
  * processor. The sketch serializes into the store between triggers
  * (`toByteArray`/`heapify`), so state size is the sketch budget, not
  * the stream. */
private[streaming] class KllQuantileProcessor(k: Int, horizonMicros: Long)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, (String, Long, Long, Double), (String, Long, Double, Double, Double)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders
  import org.apache.datasketches.kll.KllDoublesSketch
  import org.apache.datasketches.memory.Memory

  // (serialized sketch, n, lastSeenMicros)
  @transient private var st: ValueState[(Array[Byte], Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Array[Byte], Long, Long)]("kll",
      Encoders.product[(Array[Byte], Long, Long)], TTLConfig.NONE)

  private def timerMsFor(lastMicros: Long): Long =
    (lastMicros + horizonMicros) / 1000 + 1

  override def handleInputRows(key: String,
                               rows: Iterator[(String, Long, Long, Double)],
                               timers: TimerValues)
      : Iterator[(String, Long, Double, Double, Double)] = {
    val real = rows.toSeq.filter(_._3 >= 0).sortBy(r => (r._2, r._3))
    if (real.nonEmpty) {
      val (sketch, n0, last0) =
        if (st.exists()) {
          val (bytes, n, last) = st.get()
          (KllDoublesSketch.heapify(Memory.wrap(bytes)), n, last)
        } else (KllDoublesSketch.newHeapInstance(k), 0L, Long.MinValue)
      real.foreach(r => sketch.update(r._4))
      val last = math.max(last0, real.map(_._2).max)
      st.update((sketch.toByteArray, n0 + real.size, last))
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(timerMsFor(last))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
                                  info: ExpiredTimerInfo)
      : Iterator[(String, Long, Double, Double, Double)] =
    (if (st.exists()) Some(st.get()) else None) match {
      case Some((bytes, n, last))
          if info.getExpiryTimeInMs() >= timerMsFor(last) =>
        val s = KllDoublesSketch.heapify(Memory.wrap(bytes))
        st.clear()
        Iterator((key, n, s.getQuantile(0.25), s.getQuantile(0.5),
          s.getQuantile(0.75)))
      case _ => Iterator.empty
    }
}

/** k-best (value desc, id asc) tuples per key in RocksDB ListState —
  * the [[StreamOps.streamingTopKPerKey]] processor. Kept top-level:
  * the processor is serialized to executors, and an inner class would
  * drag the enclosing object graph along. */
private[streaming] class TopKProcessor(k: Int)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Double), (Long, Long, Double, Int)] {
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var top: ListState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    top = getHandle.getListState[(Long, Double)]("topk",
      Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, Double)],
                               timers: TimerValues)
      : Iterator[(Long, Long, Double, Int)] = {
    val merged = (top.get().toSeq ++ rows.map(r => (r._2, r._3)))
      .sortBy { case (id, v) => (-v, id) }.take(k)
    top.put(merged.toArray)
    merged.iterator.zipWithIndex.map { case ((id, v), i) =>
      (key, id, v, i + 1)
    }
  }
}
