package graft.queries

import graft.api.FooterSchema
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import QueryUtil._

/** Streaming suite (q126–q130): the Structured Streaming operators
  * (`graft.streaming.StreamOps`) run to completion over the bounded
  * driver tables and hash-compared against the SAME SQL oracles the
  * batch window family uses (q90/q96/q97) — closing the one operator
  * family that previously had only ScalaTest batch-equivalence and no
  * driver CORRECTNESS row.
  *
  * Harness shape: FileStreamSource requires a DIRECTORY of arriving
  * files, so each query stages the single driver parquet file into a
  * temp dir (one copy per desired trigger) and runs the streaming plan
  * through a memory sink (`StreamOps.runToCompletion`). The plan under
  * test is byte-identical to the production `readStream` plan; only
  * the source boundedness differs.
  */
object StreamingQueries {

  /** stage `src` (a single parquet file, or a Spark-written directory
    * of part files) into a fresh directory as `copies` arriving waves —
    * `maxFilesPerTrigger=1` then yields one trigger per staged file,
    * exercising cross-trigger state. A directory source is flattened to
    * its part files (a bare `Files.copy` of the directory entry would
    * silently stage ZERO files and the stream would emit nothing).
    *
    * Memoized per (src, copies): bench reps re-run the same query many
    * times and must not re-copy the corpus each rep. Every staged file
    * AND the directory register deleteOnExit (directory first — the JVM
    * deletes in reverse registration order, so the files go before the
    * then-empty directory), so a bench/verify JVM cleans up after
    * itself instead of accreting copies in the host tmpdir. */
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]
  private def stage(src: String, copies: Int): String =
    staged.computeIfAbsent((src, copies), { case (s, n) =>
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      val d = Files.createTempDirectory("graft_stream_q")
      d.toFile.deleteOnExit()
      val srcPath = Paths.get(s)
      val parts: Seq[Path] =
        if (Files.isDirectory(srcPath)) {
          val ls = Files.list(srcPath)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.endsWith(".parquet")).sorted
          finally ls.close()
        } else Seq(srcPath)
      require(parts.nonEmpty, s"stage: no parquet files under $s")
      for (i <- 1 to n; (p, j) <- parts.zipWithIndex) {
        val t = d.resolve(f"arrival_$i%02d_$j%04d.parquet")
        Files.copy(p, t)
        t.toFile.deleteOnExit()
      }
      d.toString
    })

  /** `src` [[stage]]d as `copies` arriving waves, opened as a stream
    * with `src`'s own schema, one staged file per trigger */
  private def stagedStream(s: org.apache.spark.sql.SparkSession, src: String,
                           copies: Int): org.apache.spark.sql.DataFrame =
    s.readStream.schema(FooterSchema.read(s, src).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage(src, copies))

  /** [[stage]] + `waves` PUNCTUATION waves: one sentinel row each at
    * max(ts)+1h, +2h, … (event_id/user_id = −1, the timer-drain
    * convention [[graft.streaming.StreamOps.streamingSessionizeWithTimers]]
    * documents) — their only job is advancing the watermark across
    * extra triggers so every event-time timer fires / window finalizes
    * before the bounded feed ends. CHAINED stateful operators need one
    * wave per cascade level beyond the first: an upstream window that
    * closes in trigger N reaches the downstream state in trigger N, and
    * the downstream eviction that emits it runs against trigger N+1's
    * watermark (q246 uses waves = 3). Memoized per (src, waves). */
  private val stagedFlush =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]
  private def stageWithFlush(s: org.apache.spark.sql.SparkSession,
                             src: String, waves: Int = 2): String =
    stagedFlush.computeIfAbsent((src, waves), { case (src, waves) =>
      import java.nio.file.{Files, Paths}
      val d = Files.createTempDirectory("graft_stream_flush")
      d.toFile.deleteOnExit()
      val real = d.resolve("arrival_01.parquet")
      Files.copy(Paths.get(src), real)
      real.toFile.deleteOnExit()
      val raw = FooterSchema.read(s, src)
      for ((hours, i) <- (1 to waves).map(w => w -> (w + 1))) {
        val side = Files.createTempDirectory("graft_stream_sent")
        raw.orderBy(col("ts").desc).limit(1)
          .withColumn("ts", expr(s"ts + INTERVAL $hours HOUR"))
          .withColumn("event_id", lit(-1L))
          .withColumn("user_id", lit(-1L))
          .coalesce(1).write.mode("overwrite").parquet(side.toString)
        import scala.jdk.CollectionConverters._
        val part = Files.list(side).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val t = d.resolve(f"arrival_$i%02d.parquet")
        Files.copy(part, t)
        t.toFile.deleteOnExit()
      }
      d.toString
    })

  val defs: Map[String, Q] = Map(
    // ---- streaming tumbling windows: the q96 aggregation as an
    // actual streaming query (watermark + state store), emitted via
    // the memory sink in complete mode ----
    "q126_stream_tumbling" -> ((s, dir) => {
      val stream = StreamOps.readEventsStream(s, stage(s"$dir/events.parquet", 1))
      StreamOps.runToCompletion(
        StreamOps.windowedTypeCounts(stream), "q126_sink")
        .orderBy("win_start", "event_type")
    }),

    // ---- streaming per-window heavy hitters: users clearing 2 events
    // inside a tumbling hour — the threshold filter rides ON the
    // windowed agg state, only finalized heavy rows emit ----
    "q198_stream_heavy_hitters" -> ((s, dir) => {
      val stream = StreamOps.readEventsStream(s, stage(s"$dir/events.parquet", 1))
      StreamOps.runToCompletion(
        StreamOps.windowedHeavyHitters(stream, "user_id", minCount = 2),
        "q198_sink")
        .orderBy("win_start", "user_id")
    }),

    // ---- streaming sliding windows (1h/30m — every event in exactly
    // two windows), per-user, users < 50 to mirror q97's scale ----
    "q127_stream_sliding" -> ((s, dir) => {
      val stream = StreamOps.readEventsStream(s, stage(s"$dir/events.parquet", 1))
      StreamOps.runToCompletion(
        StreamOps.slidingUserActivity(stream.where(col("user_id") < 50)),
        "q127_sink")
        .orderBy("win_start", "user_id")
    }),

    // ---- streaming session windows: session_window merge semantics
    // under the streaming aggregation path, vs the SAME gaps-and-
    // islands oracle construction as batch q90 ----
    "q128_stream_sessions" -> ((s, dir) => {
      val stream = StreamOps.readEventsStream(s, stage(s"$dir/events.parquet", 1))
      StreamOps.runToCompletion(
        StreamOps.userSessions(stream.where(col("user_id") < 20)), "q128_sink")
        .orderBy("user_id", "session_start")
    }),

    // ---- streaming exact dedup across triggers: the corpus arrives
    // TWICE (two files, one per trigger — the re-crawl shape); the
    // dedup state must emit each fingerprint exactly once. Projected
    // to the fingerprint itself: WHICH copy survives is arrival-order
    // dependent (not oracle-able); the fingerprint set is exact ----
    "q129_stream_dedup" -> ((s, dir) => {
      val src = s"$dir/documents.parquet"
      val st = stagedStream(s, src, 2)
      StreamOps.runToCompletion(
        StreamOps.streamingExactDedup(st, "text"), "q129_sink", mode = "append")
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("fp")
    }),

    // ---- bounded-state dedup (dropDuplicatesWithinWatermark): the
    // production path when duplicates arrive within a horizon. Event
    // time is derived from doc_id (one doc per second, both engines
    // compute it identically), so EVERY duplicate pair — the re-arrival
    // wave and the corpus's own exact dups, ≤ 500 s apart — sits inside
    // the 2 h watermark and the result equals global distinct ----
    "q134_stream_dedup_bounded" -> ((s, dir) => {
      val src = s"$dir/documents.parquet"
      val st = stagedStream(s, src, 2)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      StreamOps.runToCompletion(
        StreamOps.streamingDedupWithinWatermark(st, "text", "ts", "2 hours"),
        "q134_sink", mode = "append")
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("fp")
    }),

    // ---- streaming URL dedup (normalizeUrl ∘ bounded-state dedup —
    // the crawl-ingest composition): three URL disguises per logical
    // page arrive twice (staged re-delivery); the canonical key
    // collapses all six arrivals to one emission. NULL urls (every
    // 50th doc) are all kept via per-id sentinel keys. The oracle is
    // INDEPENDENT: it computes the expected canonical analytically
    // instead of replaying the canonicalizer ----
    "q138_stream_url_dedup" -> ((s, dir) => {
      val src = s"$dir/documents.parquet"
      val st = stagedStream(s, src, 2)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
        .selectExpr("doc_id", "ts",
          """CASE WHEN doc_id % 50 = 0 THEN CAST(NULL AS STRING)
            |WHEN doc_id % 3 = 0 THEN concat('https://www.site.example.com/p/',
            |  CAST(doc_id div 3 AS STRING), '/#frag')
            |WHEN doc_id % 3 = 1 THEN concat('HTTPS://SITE.EXAMPLE.COM:443/p/',
            |  CAST(doc_id div 3 AS STRING))
            |ELSE concat('https://site.example.com/p/',
            |  CAST(doc_id div 3 AS STRING), '?utm_source=x')
            |END AS url""".stripMargin)
      StreamOps.runToCompletion(
        StreamOps.streamingUrlDedup(st, "url", "doc_id", "ts", "2 hours"),
        "q138_sink", mode = "append")
        .select("canonical_url").orderBy("canonical_url")
    }),

    // ---- stream-static enrichment: arriving docs pick up (weight,
    // category) from a broadcast 4-row dim; site4 has no dim row and
    // rides the left join with NULL attributes. Two staged arrival
    // waves -> every doc appends twice; the oracle doubles the batch
    // counts ----
    "q148_stream_enrich" -> ((s, dir) => {
      val src = s"$dir/documents.parquet"
      val st = stagedStream(s, src, 2)
        .selectExpr("doc_id",
          "concat('site', CAST(doc_id % 5 AS STRING), '.example.com') AS domain")
      val dim = s.range(0, 4).selectExpr(
        "concat('site', CAST(id AS STRING), '.example.com') AS domain",
        "CAST(id AS DOUBLE) / 10 AS weight",
        "CASE WHEN id % 2 = 0 THEN 'news' ELSE 'blog' END AS category")
      StreamOps.runToCompletion(
        StreamOps.streamStaticEnrich(st, dim, Seq("domain")),
        "q148_sink", mode = "append")
        .groupBy("category")
        .agg(count(lit(1)).as("n_docs"),
          decSum(col("weight")).as("weight_sum"))
        .orderBy("category")
    }),

    // ---- stream-stream interval join (attribution): clicks within
    // 1h after a view by the same user, both sides streaming with
    // watermarks (bounded join state). One staged file per side — all
    // rows arrive inside the watermark, so the append-mode join emits
    // exactly the batch interval join; the memory-sink pairs are then
    // batch-aggregated per user ----
    "q159_stream_interval_join" -> ((s, dir) => {
      val src = stage(s"$dir/events.parquet", 1)
      val views = StreamOps.readEventsStream(s, src)
        .where(col("event_type") === "view" && col("user_id") < 30)
      val clicks = StreamOps.readEventsStream(s, src)
        .where(col("event_type") === "click" && col("user_id") < 30)
      StreamOps.runToCompletion(
        StreamOps.streamStreamIntervalJoin(views, clicks, "user_id"),
        "q159_sink", mode = "append")
        .groupBy(col("key").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // ---- streaming Gopher quality battery: the stateless rule
    // projection (q144's exact augmentation + thresholds) applied to
    // ARRIVING documents — proves the map-side curation family
    // composes with readStream; oracle = q144's battle-tested battery
    // replay, verbatim ----
    "q179_stream_gopher" -> ((s, dir) => {
      val src = s"$dir/documents.parquet"
      val st = stagedStream(s, src, 1)
        .selectExpr("doc_id", s"${CurationQueries.gopherAug} AS text")
      StreamOps.runToCompletion(
        graft.operators.Quality.gopherQualityStats(
          new graft.api.Df(st), "text", "doc_id",
          minWords = 10, maxWords = 1000).sdf,
        "q179_sink", mode = "append")
        .orderBy("doc_id")
    }),

    // ---- streaming PARQUET file sink round-trip: arriving docs land
    // in an append-mode file sink (real commit protocol + checkpoint,
    // not the memory sink) and are read back — identity vs the batch
    // table proves the landing-zone write path ----
    "q185_stream_sink" -> ((s, dir) => {
      val src = s"$dir/documents.parquet"
      val st = stagedStream(s, src, 1)
        .select("doc_id", "lang", "n_chars")
      val out = java.nio.file.Files.createTempDirectory("graft_sinkq")
      out.toFile.deleteOnExit()
      StreamOps.runToParquet(st, s"$out/data", s"$out/cp")
        .orderBy("doc_id")
    }),

    // ---- flatMapGroupsWithState running totals: the final state per
    // user (its LAST emission = the max cumulative count) must equal
    // the batch per-user count. total_value is deliberately excluded:
    // the state accumulates raw doubles in arrival order (not order-
    // independent, so not hash-oracle-able); its value is covered by
    // StreamingSpec's batch-equivalence with a tolerance ----
    "q130_stream_stateful" -> ((s, dir) => {
      val stream = StreamOps.readEventsStream(s, stage(s"$dir/events.parquet", 1))
      StreamOps.runToCompletion(
        StreamOps.statefulUserTotals(stream), "q130_sink", mode = "append")
        .groupBy("user_id").agg(max(col("n_events")).as("n_events"))
        .orderBy("user_id")
    }),

    // ---- streaming EWMA drift monitor: per-type recursive EWMA kept
    // in the state store, folded in (ts, id) order — the final state
    // must replay the batch recursion. Oracle = the closed-form
    // truncated weighted sum over each type's last 41 rows (the
    // dropped tail is ≤ 0.5^41·|x|, far under the 6dp round) ----
    "q222_stream_ewma_anomaly" -> ((s, dir) => {
      val stream = StreamOps.readEventsStream(s, stage(s"$dir/events.parquet", 1))
      StreamOps.runToCompletion(
        StreamOps.streamingEwmaAnomaly(stream), "q222_sink", mode = "append")
        .select(col("event_type"), col("n_events"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_type")
    }),

    // ---- transformWithState + EVENT-TIME TIMERS: explicit-state
    // sessionization; in-batch gap closes emit immediately, idle-key
    // finals drain when punctuation advances the watermark past each
    // gap timer. Must equal the q128 session_window oracle exactly ----
    "q227_stream_timer_sessions" -> ((s, dir) => {
      val stream = StreamOps
        .readEventsStream(s, stageWithFlush(s, s"$dir/events.parquet"))
        .where(col("user_id") < 20)
      StreamOps.runWithRocksDbState(s) {
        StreamOps.runToCompletion(
          StreamOps.streamingSessionizeWithTimers(stream,
            watermark = "0 seconds"),
          "q227_sink", mode = "append")
      }
        .orderBy("user_id", "session_start")
    }),

    // ---- transformWithState (Spark 4 arbitrary state, RocksDB):
    // per-user streaming top-3 selection; single trigger → the
    // emission IS the batch row_number ≤ 3 cut. No arithmetic, so
    // values replay exactly ----
    "q226_stream_topk_state" -> ((s, dir) => {
      val stream = StreamOps
        .readEventsStream(s, stage(s"$dir/events.parquet", 1))
        .where(col("user_id") < 30)
      StreamOps.runWithRocksDbState(s) {
        StreamOps.runToCompletion(
          StreamOps.streamingTopKPerKey(stream, k = 3),
          "q226_sink", mode = "append")
      }
        .select("user_id", "event_id", "value", "rank")
        .orderBy("user_id", "rank")
    }),

    // ---- stream-stream LEFT OUTER interval join: q159's attribution
    // shape plus the views that never converted (r_ts null). Outer
    // rows only emit once the watermark proves no match can arrive, so
    // the bounded feed ends with stageWithFlush's sentinel waves
    // (user_id = -1: they advance BOTH sides' watermarks, join only
    // with each other, and are dropped by the key >= 0 cut). The
    // watermark-0 contract mirrors q227 ----
    "q237_stream_left_join" -> ((s, dir) => {
      val src = stageWithFlush(s, s"$dir/events.parquet")
      def side(t: String) = StreamOps.readEventsStream(s, src)
        .where(col("user_id") < 0 ||
          (col("event_type") === t && col("user_id") < 30))
      StreamOps.runToCompletion(
        StreamOps.streamStreamIntervalJoin(side("view"), side("click"),
          "user_id", watermark = "0 seconds", how = "leftOuter"),
        "q237_sink", mode = "append")
        .where(col("key") >= 0)
        .groupBy(col("key").as("user_id"))
        .agg(count(col("r_ts")).as("n_clicks"),
          count(lit(1)).cast("long").as("n_rows"))
        .orderBy("user_id")
    }),

    // ---- KLL sketch in RocksDB state: per-type value distribution
    // measured AT ingest; final snapshots drain via event-time timers
    // + sentinel waves; estimates pinned in exact ±3%-rank bands ----
    "q254_stream_kll_quantiles" -> ((s, dir) => {
      val stream = StreamOps
        .readEventsStream(s, stageWithFlush(s, s"$dir/events.parquet"))
      val snap = StreamOps.runWithRocksDbState(s) {
        StreamOps.runToCompletion(
          StreamOps.streamingKllQuantiles(stream),
          "q254_sink", mode = "append")
      }
      val exact = events(s, dir).sdf.groupBy(col("event_type")).agg(
        expr("percentile(value, array(0.22, 0.47, 0.72))").as("lo"),
        expr("percentile(value, array(0.28, 0.53, 0.78))").as("hi"))
      def ok(q: String, i: Int) =
        (col(q) >= element_at(col("lo"), i) &&
          col(q) <= element_at(col("hi"), i)).as(s"ok_$q")
      snap.join(exact, "event_type")
        .select(col("event_type"), col("n"),
          ok("q25", 1), ok("q50", 2), ok("q75", 3))
        .orderBy("event_type")
    }),

    // ---- chained stateful aggregation (Spark 4 multiple stateful
    // operators): hourly per-user counts re-windowed to a daily rollup
    // in ONE streaming job; sentinel waves close the final day, append
    // mode emits each finalized window exactly once ----
    "q246_stream_chained_agg" -> ((s, dir) => {
      val stream = StreamOps
        .readEventsStream(s, stageWithFlush(s, s"$dir/events.parquet",
          waves = 3))
        .where(col("user_id") < 30)
      StreamOps.runToCompletion(
        StreamOps.streamingHourlyDailyRollup(stream),
        "q246_sink", mode = "append")
        .orderBy("day")
    }))

  /** gaps-and-islands session replay (diff >= 30 min splits; end =
    * last + gap; DECIMAL(18,4) value sums) — shared by the
    * session_window query (q128) and the timer-state one (q227),
    * which must agree with each other by construction. */
  private val sessionsOracleSql: String =
    """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value
      |  FROM events WHERE user_id < 20),
      |flags AS (SELECT user_id, ts, value,
      |  CASE WHEN LAG(ts) OVER w IS NULL
      |       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
      |  THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (SELECT user_id, ts, value,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flags)
      |SELECT MIN(ts) AS session_start,
      |MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |user_id, COUNT(*) AS n_events,
      |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  val oracles: Map[String, String] = Map(
    // stateless streaming = the batch rule battery, verbatim
    "q179_stream_gopher" -> CurationQueries.oracles("q144_gopher_quality"),
    // recursive y_i = ½x_i + ½y_{i-1} closed-form: y_n ≈ ½·Σ_{d≤40}
    // ½^d·x_{n-d} (power-of-two weights exact; DECIMAL(28,16) terms
    // order-independent; tail < 0.5^41·|x| ≪ the 6dp round)
    "q222_stream_ewma_anomaly" ->
      """WITH r AS (SELECT event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY ts, event_id) AS rn
        |  FROM events),
        |m AS (SELECT event_type, MAX(rn) AS nmax, COUNT(*) AS n
        |  FROM r GROUP BY 1),
        |j AS (SELECT m.event_type, m.n,
        |    SUM(CAST(0.5::DOUBLE * b.value *
        |      POWER(0.5::DOUBLE, (m.nmax - b.rn)::DOUBLE)
        |      AS DECIMAL(28,16))) AS y
        |  FROM m JOIN r b ON b.event_type = m.event_type
        |    AND b.rn > m.nmax - 41
        |  GROUP BY 1, 2)
        |SELECT event_type, n AS n_events, ROUND(CAST(y AS DOUBLE), 6)
        |  AS ewma
        |FROM j ORDER BY event_type""".stripMargin,

    "q226_stream_topk_state" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS rank
        |  FROM events WHERE user_id < 30)
        |SELECT user_id, event_id, value, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,
    // file-sink identity: what arrived is what landed
    "q185_stream_sink" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    // the batch interval join: views x clicks per user with the click
    // inside [view_ts, view_ts + 1h] — the streaming join over fully
    // on-time bounded input must emit exactly this
    "q159_stream_interval_join" ->
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type
        |  FROM events WHERE user_id < 30),
        |v AS (SELECT user_id, ts FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click')
        |SELECT v.user_id AS user_id, COUNT(*) AS n_pairs
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '1 hour'
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    // q254's invariant: per-type counts are exact state bookkeeping
    // (replayed), each sketch quantile must land inside the exact
    // ±3%-rank band (k=400 ⇒ ~0.9% rank error)
    "q254_stream_kll_quantiles" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  TRUE AS ok_q25, TRUE AS ok_q50, TRUE AS ok_q75
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // q246: the two-level window cascade replayed as two batch
    // aggregations; the sentinel waves (user_id < 0) are excluded
    // exactly as the streaming side filters them post-watermark
    "q246_stream_chained_agg" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE user_id < 30 AND user_id >= 0),
        |h AS (
        |  SELECT date_trunc('hour', ts) AS hw, user_id,
        |    count(*)::BIGINT AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT date_trunc('day', hw)::TIMESTAMP AS day,
        |  sum(n)::BIGINT AS n_events,
        |  max(n)::BIGINT AS max_user_hour,
        |  count(*)::BIGINT AS n_user_hours
        |FROM h GROUP BY 1 ORDER BY day""".stripMargin,
    // q237: the batch LEFT join replay — n_rows counts view rows AND
    // their pair multiplicity, n_clicks only the matched ones; the gap
    // is exactly the never-converted views the outer side adds
    "q237_stream_left_join" ->
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type
        |  FROM events WHERE user_id < 30 AND user_id >= 0),
        |v AS (SELECT user_id, ts FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click')
        |SELECT v.user_id AS user_id,
        |  COUNT(c.ts)::BIGINT AS n_clicks,
        |  COUNT(*)::BIGINT AS n_rows
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '1 hour'
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    // the batch join doubled (two staged arrival waves); decimal-exact
    // weight sums; the NULL-category group is site4's unmatched rows
    "q148_stream_enrich" ->
      """WITH dim(domain, weight, category) AS (VALUES
        |  ('site0.example.com', CAST(0.0 AS DOUBLE), 'news'),
        |  ('site1.example.com', CAST(0.1 AS DOUBLE), 'blog'),
        |  ('site2.example.com', CAST(0.2 AS DOUBLE), 'news'),
        |  ('site3.example.com', CAST(0.3 AS DOUBLE), 'blog')),
        |src AS (SELECT doc_id,
        |  'site' || (doc_id % 5)::VARCHAR || '.example.com' AS domain
        |  FROM documents),
        |j AS (SELECT d.weight, d.category FROM src s
        |  LEFT JOIN dim d ON s.domain = d.domain)
        |SELECT category, (2 * COUNT(*))::BIGINT AS n_docs,
        |  CAST(2 * SUM(CAST(weight AS DECIMAL(18,2))) AS DOUBLE) AS weight_sum
        |FROM j GROUP BY category ORDER BY category""".stripMargin,
    // identical to the q96 oracle: the streaming and batch tumbling
    // aggregations must agree with the same SQL
    "q126_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS win_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // the q126 tumbling replay with the HAVING threshold on top
    "q198_stream_heavy_hitters" ->
      """SELECT win_start, user_id, n FROM (
        |SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS win_start,
        |user_id, COUNT(*) AS n FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1, 2) WHERE n >= 2 ORDER BY win_start, user_id""".stripMargin,
    // the q97 two-row VALUES expansion, keyed by user instead of type
    "q127_stream_sliding" ->
      """SELECT win_start, user_id, COUNT(*) AS n_events FROM (
        |SELECT user_id,
        |time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP)
        |  - (k.k * INTERVAL '30 minutes') AS win_start
        |FROM events, (VALUES (0), (1)) k(k)
        |WHERE user_id < 50)
        |GROUP BY 1, 2 ORDER BY win_start, user_id""".stripMargin,
    // the q90 gaps-and-islands construction (new session when the gap
    // is >= 30 minutes; session end = last event + gap, exclusive)
    "q227_stream_timer_sessions" -> sessionsOracleSql,
    "q128_stream_sessions" -> sessionsOracleSql,
    // distinct canonical fingerprints of the corpus — duplicate
    // arrivals (and the corpus's own exact dups) collapse to one row
    "q129_stream_dedup" ->
      s"SELECT DISTINCT ${ExtensionQueries.fpSql} AS fp FROM documents ORDER BY fp",
    // all duplicate pairs sit within the watermark horizon by
    // construction, so bounded-state dedup equals global distinct
    "q134_stream_dedup_bounded" ->
      s"SELECT DISTINCT ${ExtensionQueries.fpSql} AS fp FROM documents ORDER BY fp",
    // independent oracle: every non-null disguise of page g
    // canonicalizes to https://site.example.com/p/g (computed directly,
    // not replayed); null-url docs emit one NULL row each
    "q138_stream_url_dedup" ->
      """WITH canon AS (SELECT DISTINCT
        |  'https://site.example.com/p/' || (doc_id // 3)::VARCHAR AS canonical_url
        |  FROM documents WHERE doc_id % 50 <> 0),
        |nulls AS (SELECT CAST(NULL AS VARCHAR) AS canonical_url
        |  FROM documents WHERE doc_id % 50 = 0)
        |SELECT canonical_url FROM canon
        |UNION ALL SELECT canonical_url FROM nulls
        |ORDER BY canonical_url""".stripMargin,
    // the operator drops null keys/values up front (tuple-encoder
    // contract) — mirrored in the oracle's WHERE
    "q130_stream_stateful" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |WHERE user_id IS NOT NULL AND value IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
