package graft

import org.apache.spark.sql.functions._

/** One-off scale probe for the iterative operators' ABOVE-GATE paths
  * (VERDICT r17 item 8): the shuffle modes of `connectedComponents` and
  * `pageRank` are oracle-checked every round (q269/q270) but only ever
  * timed on tiny sf0.1 graphs, so the `broadcastMaxNodes = 250k`
  * default had no measured datapoint on its far side. This main builds
  * a synthetic |V| ≈ 1M graph (nodes just above the gate), runs both
  * operators with the DEFAULT gate (1M > 250k → the distributed
  * shuffle rounds engage), and reports wall seconds plus total shuffle
  * read/write bytes per run. Results are recorded in BENCHLOG.md.
  *
  * Test scope on purpose: a measurement harness, not library surface.
  * Run: sbt "Test/runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // heap comes from build.sbt's javaOptions -Xmx (SPARK_DRIVER_MEM,
    // default 8g): spark.driver.memory on a running local JVM is a no-op
    val spark = GraftSession.local(32)

    // AtomicLong, not `@volatile var += ...`: the += is a non-atomic
    // read-modify-write that only happens to be safe while the shared
    // listener bus drains on a single thread — a dedicated listener
    // queue would silently undercount (ADVICE r18).
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // SPARK_GRAFT_PROBE_ONLY=substring[,substring...] runs matching legs
    // only (cheap single-leg A/Bs); unset = all legs (the round gate)
    val onlyLegs = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // machine-readable record of the per-round gate (VERDICT r18 item
    // 4): one JSON object per leg, written to SPARK_GRAFT_PROBE_OUT at
    // exit, so a gate-path regression shows up as an artifact diff
    val legRecords = scala.collection.mutable.ArrayBuffer[String]()
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def measure(name: String)(body: => Long): Unit = {
      if (!onlyLegs.forall(_.exists(name.contains))) return
      // per-leg host calibration (graft.HostCal, same probe as Bench):
      // probe walls drifted 34.2 -> 40.5 s on IDENTICAL CC code between
      // r18 and r19 runs — without a normalizer the gate record reads
      // as a regression. min-of-2 right before the leg.
      val cal = HostCal.minOf2(spark)
      // drain the listener bus BEFORE resetting the counters: the HostCal
      // probe's async SparkListenerStageCompleted events would otherwise
      // race the reset and leak the probe's shuffle bytes into this leg's
      // record (ADVICE r19).
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(spark.sparkContext)
      shufWrite.set(0L); shufRead.set(0L)
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(spark.sparkContext)
      println(f"[probe] $name: wall=$wall%.1fs cal=$cal%.2f rows=$rows " +
        f"shuffle_write=${shufWrite.get / 1e6}%.1fMB shuffle_read=${shufRead.get / 1e6}%.1fMB")
      legRecords += s"""{"leg":${jstr(name)},"wall_sec":$wall,""" +
        s""""cal_sec":$cal,"rows":$rows,"shuffle_write_bytes":${shufWrite.get},""" +
        s""""shuffle_read_bytes":${shufRead.get}}"""
      graft.api.Df.releaseRetained()
      spark.catalog.clearCache()
    }

    // --- connectedComponents, |V| = 1M and 2M (4x/8x the 250k gate) ---
    // n/100 chains x 100 nodes: diameter 100 exercises the adaptive
    // pointer doubling (log-d rounds), unlike the clique-like near-dup
    // graphs that converge in 2-3. Chain edges + n/200 cross edges that
    // merge chains pairwise (so labels genuinely propagate). TWO sizes
    // per leg (VERDICT r19 item 6): the wall and shuffle-byte SLOPE is
    // the first direct measurement of the scaling exponent — a
    // super-linear term the single far-side points can't expose shows
    // up as slope > size ratio (shuffle bytes should scale ~|E|).
    def ccGraph(n: Long) = {
      val chain = spark.range(n)
        .where(col("id") % 100 =!= 99) // no edge across chain boundaries
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val cross = spark.range(n / 200)
        .select((col("id") * 2 * 100).as("id_a"), // head of chain 2k
          ((col("id") * 2 + 1) * 100).as("id_b")) // head of chain 2k+1
      new graft.api.Df(chain.union(cross))
    }
    for (n <- Seq(1000000L, 2000000L)) {
      val m = n / 1000000
      measure(s"connectedComponents |V|=${m}M above-gate (default 250k)") {
        val labels = graft.operators.Dedup
          .connectedComponents(ccGraph(n), "id_a", "id_b")
        val out = labels.sdf.agg(
          count(lit(1)).as("n"),
          countDistinct(col("cluster")).as("k")).head()
        val (rows, k) = (out.getLong(0), out.getLong(1))
        // n/100 chains merged pairwise -> n/200 components over n nodes
        assert(rows == n && k == n / 200, s"rows=$rows components=$k")
        rows
      }
    }

    // --- pageRank, |V| = 1M/2M, |E| = 3M/6M ---------------------------
    // three deterministic functional edges per node (affine maps mod N,
    // coprime multipliers): every node has out-degree 3, in-degrees
    // vary, nothing collapses to a hub.
    def prEdges(n: Long) = spark.range(n).select(col("id").as("src"),
        ((col("id") * 31 + 7) % n).as("dst"))
      .union(spark.range(n).select(col("id").as("src"),
        ((col("id") * 131 + 3) % n).as("dst")))
      .union(spark.range(n).select(col("id").as("src"),
        ((col("id") * 7919 + 11) % n).as("dst")))
    for (n <- Seq(1000000L, 2000000L)) {
      val m = n / 1000000
      measure(s"pageRank |V|=${m}M |E|=${3 * m}M above-gate (default 250k), 5 iters") {
        val pr = graft.operators.Graphs.pageRank(prEdges(n), "src", "dst")
        val out = pr.sdf.agg(count(lit(1)).as("n"),
          sum(col("rank")).as("mass")).head()
        val (rows, mass) = (out.getLong(0), out.getDouble(1))
        // rank mass is conserved (no dangling nodes: out-degree 3 all)
        assert(rows == n && math.abs(mass - 1.0) < 1e-3,
          s"rows=$rows mass=$mass")
        rows
      }
    }

    // --- bpeMerges, |vocab| ≈ 1.2M (1.2x the 1M driverMaxVocab gate) --
    // synthetic corpus with 1.2M DISTINCT words so the measured
    // vocabulary exceeds the gate and the distributed rounds engage
    // (the q271 path — per round one explode+agg+TakeOrdered(1) and a
    // chained replace with a 16-round localCheckpoint cut). Words are
    // base-36 ids padded with a shared prefix, so early rounds find
    // genuinely frequent pairs to merge.
    val words = spark.range(1200000L).select(
      concat(lit("aab"),
        conv(col("id").cast("string"), 10, 36)).as("w"))
    val docsDf = new graft.api.Df(words
      .groupBy((col("w").substr(lit(4), lit(2))).as("g"))
      .agg(concat_ws(" ", collect_list(col("w"))).as("text"))
      .select(monotonically_increasing_id().as("doc_id"), col("text")))
    measure("bpeMerges |vocab|=1.2M above-gate (default 1M), 6 merges") {
      val m = graft.operators.TextAnalytics.bpeMerges(docsDf, "text",
        nMerges = 6)
      val rows = m.sdf.count()
      assert(rows == 6L, s"merge rows=$rows")
      rows
    }

    // --- scanKeyless 5-verb batch, 50M and 100M rows ------------------
    // q268_scan_batch is the worst non-streaming sf1 ratio (7.2x on 10x
    // data); these legs give the range-exchange + two-post-shuffle-sort
    // protocol far-side datapoints AND a slope (r19 item 6 asked for
    // 100M as the second size). The k=512 rolling verbs also exercise
    // the r19 O(1) sliding kernel at k >> 8 (the regime where the old
    // O(n*k) re-sum actually bit). Order key = a hashed permutation of
    // id, so the range exchange does real redistribution work, not a
    // presorted no-op.
    def bigRows(n: Long) = spark.range(n).select(
      pmod(hash(col("id")), lit(1000000007L)).as("ok"),
      col("id"),
      (col("id") % 997L).as("v"),
      (col("id") % 10007L).cast("double").as("d"))
    for (n <- Seq(50000000L, 100000000L)) {
      val m = n / 1000000
      measure(s"scanKeyless 5-verb batch, ${m}M rows (k=512 rolling)") {
        val scanned = new graft.api.Df(bigRows(n))
          .scanKeyless(Seq("ok", "id"))(_
            .cumsum("v", "cs")
            .rolling("v", 512, "mean", "rm")
            .rolling("v", 512, "count", "rc")
            .shift("v", "sh", 1)
            .diff("d", "df", 1))
        val out = scanned.sdf.agg(count(lit(1)).as("n"),
          sum(col("rc")).as("rcs")).head()
        val rows = out.getLong(0)
        assert(rows == n, s"rows=$rows")
        rows
      }
    }

    // --- rolling min/max deque, 50M rows, k=512 (r19) -----------------
    // focused datapoint for the monotonic-deque kernel: min+max only,
    // so the wall isolates the extremum verbs' cost on top of the
    // shared protocol (compare against the 5-verb leg above).
    measure("rollingMinMax 50M rows k=512 (deque)") {
      val scanned = new graft.api.Df(bigRows(50000000L))
        .scanKeyless(Seq("ok", "id"))(_
          .rolling("v", 512, "min", "rmn")
          .rolling("v", 512, "max", "rmx"))
      val out = scanned.sdf.agg(count(lit(1)).as("n"),
        sum(col("rmx") - col("rmn")).as("spread")).head()
      val rows = out.getLong(0)
      assert(rows == 50000000L, s"rows=$rows")
      rows
    }

    sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach { out =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        legRecords.mkString("{\"legs\":[", ",", "]}\n"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[probe] could not write $out: ${e.getMessage}") }
    }
    spark.stop()
  }
}
