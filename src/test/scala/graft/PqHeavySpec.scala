package graft

import graft.api.Df
import graft.operators.{Curation, Profiling, Similarity}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization, CMS heavy hitters, and temporal split specs. */
class PqHeavySpec extends AnyFunSuite {
  import TestSpark._

  private def vecDf(rows: Seq[(Long, Seq[Float])]): Df =
    Df.fromRows(spark,
      rows.map { case (id, v) => Row(id, if (v == null) null else v) },
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

  private val tinyCorpus = vecDf(Seq(
    0L -> Seq(0f, 0f, 0f, 0f),
    1L -> Seq(1f, 0f, 0f, 0f),
    2L -> Seq(0f, 2f, 0f, 0f),
    3L -> Seq(3f, 3f, 0f, 1f)))

  test("pqEncode: m rows per usable vector, codes in range, undefined vectors dropped") {
    val withBad = vecDf(Seq(
      0L -> Seq(0f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0f, 2f, 0f, 0f),
      3L -> Seq(3f, 3f, 0f, 1f),
      4L -> null,
      5L -> Seq(Float.NaN, 0f, 0f, 0f)))
    val enc = Similarity.pqEncode(withBad, "embedding", "vec_id",
      m = 2, codes = 2, iters = 2).sdf.collect()
    assert(enc.length == 8) // 4 usable vectors × m=2
    assert(enc.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
    assert(enc.map(_.getInt(1)).toSet == Set(0, 1))
    assert(enc.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 2))
  }

  test("pqTopK with codes >= corpus size and iters=1 is exact squared-L2 ranking") {
    // every corpus vector becomes its own codebook centroid (lowest-id
    // init over 4 vectors with codes=4 = the whole corpus; one
    // assignment round maps each vector to itself at distance 0), so
    // ADC distance degenerates to the exact distance
    val res = Similarity.pqTopK(tinyCorpus, tinyCorpus, "embedding", "vec_id",
      k = 3, m = 1, codes = 4, iters = 1).sdf.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // exact d2 from 0: →1 (1), →2 (4), →3 (19)
    assert(res((0L, 1)) == (1L, 1.0))
    assert(res((0L, 2)) == (2L, 4.0))
    assert(res((0L, 3)) == (3L, 19.0))
    // exact d2 from 3: →2 (11²? no: (3-0)²+(3-2)²+0+1 = 11), →1 (14), →0 (19)
    assert(res((3L, 1)) == (2L, 11.0))
    assert(res((3L, 2)) == (1L, 14.0))
    assert(res((3L, 3)) == (0L, 19.0))
  }

  test("pqEncode/pqTopK: dim mismatch fails loudly, never silent garbage codes") {
    val mixed = vecDf(Seq(
      0L -> Seq(0f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0f, 2f, 0f, 0f),
      3L -> Seq(3f, 3f, 0f)))
    val e = intercept[Exception] {
      Similarity.pqEncode(mixed, "embedding", "vec_id",
        m = 2, codes = 2, iters = 1).sdf.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("expected dim=4")))
  }

  test("pq requires dim divisible by m") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqEncode(tinyCorpus, "embedding", "vec_id",
        m = 3, codes = 2, iters = 1).sdf.collect()
    }
    assert(e.getMessage.contains("must split evenly"))
  }

  test("heavyHitters equals plain GROUP BY/HAVING; NULL keys excluded") {
    val rows = (1 to 200).map(i => Row("hot": Any)) ++
      (1 to 40).map(i => Row("warm": Any)) ++
      (1 to 200).map(i => Row(s"cold_$i": Any)) ++
      Seq(Row(null: Any), Row(null: Any))
    val df = Df.fromRows(spark, rows,
      StructType(Seq(StructField("k", StringType))))
    val hh = Profiling.heavyHitters(df, "k", minCount = 40)
      .sdf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == Map("hot" -> 200L, "warm" -> 40L))
  }

  test("heavyHitters on a long key (sketch probes the string rendering)") {
    val rows = (1 to 50).map(_ => Row(7L: Any)) ++ (1 to 3).map(_ => Row(8L: Any))
    val df = Df.fromRows(spark, rows,
      StructType(Seq(StructField("k", LongType))))
    val hh = Profiling.heavyHitters(df, "k", minCount = 10)
      .sdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hh == Map(7L -> 50L))
  }

  test("timeSplit: holdout days strictly after train days, NULL ts dropped") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    def ts(day: Int) = new java.sql.Timestamp(
      base.getTime + day.toLong * 24 * 3600 * 1000)
    val rows = (0 until 10).flatMap(d =>
      Seq(Row(d.toLong * 2, ts(d)), Row(d.toLong * 2 + 1, ts(d)))) :+
      Row(99L, null)
    val df = Df.fromRows(spark, rows,
      StructType(Seq(StructField("id", LongType),
        StructField("ts", TimestampType))))
    val split = Curation.timeSplit(df, "ts", holdoutFrac = 0.2)
    val got = split.sdf.collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("split")))
    assert(got.length == 20) // the NULL-ts row is dropped
    // 10 distinct days × 0.2 → last 2 days (days 8, 9 = ids 16..19) hold out
    val hold = got.filter(_._2 == "holdout").map(_._1).toSet
    assert(hold == Set(16L, 17L, 18L, 19L))
    val trainMax = split.sdf.where(col("split") === "train")
      .agg(max("ts")).head.getTimestamp(0)
    val holdMin = split.sdf.where(col("split") === "holdout")
      .agg(min("ts")).head.getTimestamp(0)
    assert(trainMax.before(holdMin))
  }

  test("bpeMerges learns the obvious merge first and re-symbolizes greedily") {
    val docs = Df.fromRows(spark,
      // "abab" ×3, "aaa" ×2 — pair counts round 1: (a,b)=6, (b,a)=3,
      // (a,a)=2 (greedy within "aaa" yields 2 adjacent positions,
      // weighted by word count: wf-weighted over DISTINCT words:
      // (a,b)=2·1, (b,a)=1·1, (a,a)=2·1 — wf weighting counts words)
      Seq(Row(1L, "abab abab abab aaa aaa")),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val m = graft.operators.TextAnalytics.bpeMerges(docs, "text", nMerges = 2)
      .sdf.collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // word freqs: abab×3, aaa×2. round 1 pairs: (a,b) 3+3=6, (b,a) 3,
    // (a,a) 2+2=4 → merge (a,b). round 2 over "|ab||ab|", "|a||a||a|":
    // (ab,ab) 3, (a,a) 4 → merge (a,a) — and greedy non-overlap means
    // "aaa" contributed BOTH adjacent pairs before, but only one
    // merged occurrence after
    assert(m(0) == ((1, "a", "b", 6L)))
    assert(m(1) == ((2, "a", "a", 4L)))
  }

  test("bpeMerges: driver-collected and distributed rounds learn identical merges") {
    // the vocab gate only moves WHERE the count-argmax-merge rounds run;
    // pair counts (incl. overlap counting: "aaa" → (a,a)×2), the
    // (n desc, l asc, r asc) tie-break, and greedy non-overlapping
    // re-symbolization must agree round for round. The corpus mixes
    // repeated fragments, an overlap run, and tie candidates.
    val docs = Df.fromRows(spark, Seq(
      Row(1L, "low lower lowest low low"),
      Row(2L, "aaa aa aaaa banana bandana"),
      Row(3L, "net new newer nets nets new")),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    def learn(gate: Long) = {
      val m = graft.operators.TextAnalytics.bpeMerges(docs, "text",
        nMerges = 12, driverMaxVocab = gate)
      val rows = m.sdf.orderBy("merge_rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      Df.releaseRetained()
      rows
    }
    val driver = learn(1000000)
    val dist = learn(0)
    assert(driver == dist, s"driver=$driver\ndist=$dist")
    assert(driver.nonEmpty)
  }

  test("bpeMerges stops early when no pairs remain") {
    val docs = Df.fromRows(spark, Seq(Row(1L, "a b c a b")),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    // all words are single chars — zero pairs, zero merges
    val m = graft.operators.TextAnalytics.bpeMerges(docs, "text", nMerges = 5)
    assert(m.sdf.collect().isEmpty)
  }

  test("searchIvfIndex prunes cell partitions DYNAMICALLY at the scan; planning runs only the codebook read") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_spec"
    val cells = graft.operators.Similarity.buildIvfIndex(
      e, "embedding", "vec_id", path, nlist = 4)
    assert(cells.sdf.agg(sum("n")).head.getLong(0) == e.count())
    // search planning must not run the query-side plan eagerly — the
    // pre-r15 probe-list collect() did. The one allowed job is the tiny
    // nlist×dim centroid (codebook) read.
    // count ONLY jobs tagged with this test's job group — late-arriving
    // job events from earlier suites/queries on the shared session (the
    // listener bus is async) can otherwise inflate the count and flake
    // the ≤1 assertion on a loaded host. SQL execution propagates the
    // calling thread's local properties (incl. the group id) to its
    // worker threads, so every job the search call triggers is counted.
    val group = "pq-heavy-ivf-planning"
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            p => p.getProperty("spark.jobGroup.id") == group))
          jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        spark.sparkContext.setJobGroup(group, "ivf search planning")
        // clearJobGroup in a finally: if the search throws, the group
        // must not leak onto the shared session thread for later tests
        val r =
          try graft.operators.Similarity.searchIvfIndex(
            e.where(col("vec_id") < 2), "embedding", "vec_id", path,
            k = 2, nprobe = 1)
          finally spark.sparkContext.clearJobGroup()
        // deterministic drain of the async listener bus (not a
        // sleep-poll, which can under-wait on a loaded host): every job
        // event submitted above is delivered before the count is read
        org.apache.spark.GraftListenerBusSync.waitUntilEmpty(
          spark.sparkContext)
        // at least one grouped job must be SEEN — if job-group
        // propagation to the SQL worker threads ever breaks, the <=1
        // bound would otherwise pass vacuously and mask an
        // eager-evaluation regression instead of flagging it
        assert(jobs >= 1,
          "no grouped jobs observed — job-group propagation lost")
        // 1 = the codebook collect (nlist×dim rows); the centroid and
        // index reads take their schemas from footers on the driver
        // (FooterSchema) and run no job. The pre-r15 probe-list
        // round-trip added a persist + distinct + collect over the
        // query-side plan on top (≥ 5 jobs, data-sized).
        assert(jobs <= 1, s"search planning ran $jobs jobs — the query-side plan is being evaluated eagerly")
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    // probed cells reach the scan as a DYNAMIC partition-pruning
    // subquery reusing the probe-side broadcast — in-plan, not a
    // driver-collected IN list
    val plan = res.sdf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    val got = res.sdf.collect()
    assert(got.nonEmpty && got.forall(_.getInt(1) <= 2))
    // nprobe = nlist reproduces brute force exactly
    val full = graft.operators.Similarity.searchIvfIndex(
      e.where(col("vec_id") < 2), "embedding", "vec_id", path,
      k = 2, nprobe = 4).sdf.collect().map(_.toSeq).toSet
    val brute = graft.operators.Similarity.bruteForceTopK(
      e.where(col("vec_id") < 2), e, "embedding", "vec_id", k = 2)
      .sdf.collect().map(_.toSeq).toSet
    assert(full == brute)
    // cell pruning is the operator's I/O contract: with DPP off the
    // search must FALL BACK to the static driver-collected IN list —
    // same results, pruning in PartitionFilters, no dynamicpruning
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    try {
      val fb = graft.operators.Similarity.searchIvfIndex(
        e.where(col("vec_id") < 2), "embedding", "vec_id", path,
        k = 2, nprobe = 1)
      val fplan = fb.sdf.queryExecution.executedPlan.toString
      assert(!fplan.toLowerCase.contains("dynamicpruning"), fplan)
      assert(fplan.contains("PartitionFilters") && fplan.contains("cell"), fplan)
      assert(fb.sdf.collect().map(_.toSeq).toSet ==
        res.sdf.collect().map(_.toSeq).toSet)
      graft.api.Df.releaseRetained() // the fallback persists its probe side
    } finally spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled")
  }

  test("timeSplit validates its knobs") {
    val df = Df.fromRows(spark,
      Seq(Row(1L, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"))),
      StructType(Seq(StructField("id", LongType),
        StructField("ts", TimestampType))))
    assert(intercept[IllegalArgumentException] {
      Curation.timeSplit(df, "ts", 1.0)
    }.getMessage.contains("holdoutFrac"))
    assert(intercept[IllegalArgumentException] {
      Curation.timeSplit(df, "ts", 0.5, "same", "same")
    }.getMessage.contains("labels must differ"))
    val empty = df.where(col("id") < 0)
    assert(intercept[IllegalArgumentException] {
      Curation.timeSplit(empty, "ts", 0.5)
    }.getMessage.contains("no non-NULL"))
  }
}
