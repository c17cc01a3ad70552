package graft

import graft.api.Df
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-structure tests — the Spark analog of the reference's
  * optimizer-shape assertions (SURVEY.md §5 species 2: e.g. pushed
  * filters verified as DNF tuples, `io/tests/test_io.py:83-141`).
  * Here we assert the OPTIMIZED PHYSICAL plan: filters and column
  * pruning must reach the parquet scan, small join sides must
  * broadcast, top-k must compile to TakeOrderedAndProject. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter is pushed down into the parquet scan") {
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
    val p = plan(o.where(o("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice").sdf)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"), p)
  }

  test("mask-verb filters (isin/between) keep parquet pushdown") {
    // the total-mask form coalesce(pred, false) is opaque to filter
    // translation; the filter path must compile Ser.filterCol (the
    // bare predicate) or the scan silently reads everything
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val p = plan(li(li("l_returnflag").isin("A", "R") &&
        li("l_quantity").between(10, 20))
      .select("l_orderkey").sdf)
    assert(p.contains("In(l_returnflag, [A,R])"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), p)
    // the plan string truncates PushedFilters at ~100 chars, so the
    // upper bound is asserted on the untruncated DataFilters rendering
    assert(p.contains("<= 20.0)"), p)
    assert(!p.contains("PushedFilters: []"), p)
    assert(!p.contains("coalesce"), p)
    // but the MATERIALIZED mask keeps the total form: nulls are false
    val d = Df.fromRows(spark,
      Seq(org.apache.spark.sql.Row(null), org.apache.spark.sql.Row("A")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("f",
          org.apache.spark.sql.types.StringType))))
    val mask = d.assign("m", d("f").isin("A", "R"))
      .sdf.select("m").collect().map(_.get(0)).toList
    assert(mask == List(false, true), mask.toString)
  }

  test("ORC scans get pushed filters and pruned schema (readOrc contract)") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_orc"
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    li.select("l_orderkey", "l_quantity", "l_discount").toOrc(dir)
    val o = Df.readOrc(spark, dir)
    val p = plan(o.where(o("l_quantity") > 45.0).select("l_orderkey").sdf)
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
    assert(p.contains("Scan orc"), p)
  }

  test("readBinaryFiles: glob prunes listing, content round-trips exactly") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_bin"
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    Files.createDirectories(root)
    val payload = Array[Byte](0, 1, -128, 127, 42)
    Files.write(root.resolve("a.bin"), payload)
    Files.write(root.resolve("skip.txt"), "nope".getBytes)
    val rows = Df.readBinaryFiles(spark, dir, globFilter = "*.bin")
      .sdf.select("path", "length", "content").collect()
    assert(rows.length == 1)  // the glob dropped skip.txt at listing
    assert(rows.head.getAs[String]("path").endsWith("a.bin"))
    assert(rows.head.getAs[Long]("length") == 5L)
    assert(rows.head.getAs[Array[Byte]]("content").toSeq == payload.toSeq)
  }

  test("duplicatedWindows plans hash-keyed (dup-detect reuses the window exchange; no cartesian)") {
    // a read Spark splits: a single-split read plans no exchange at all
    val d = Df.readParquet(multiSplit, s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_returnflag")
      .rename(Map("l_orderkey" -> "doc_id", "l_returnflag" -> "text"))
    val res = graft.operators.Dedup.duplicatedWindows(d, "text", "doc_id", k = 1)
    val p = plan(res.sdf)
    res.unpersistIntermediates()
    assert(!p.contains("CartesianProduct"), p)
    // dup-hash aggregate and mark-back join share the wh-keyed shuffle
    assert(p.contains("hashpartitioning(wh"), p)
  }

  test("column pruning reaches the scan (ReadSchema only needed cols)") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val p = plan(li.select("l_orderkey", "l_quantity")
      .groupby("l_orderkey").sum().sdf)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("projection+filter compose: both pushed, no extra columns read") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val q = li.where(li("l_quantity") > 45.0).select("l_orderkey", "l_quantity").sdf
    val p = plan(q)
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("broadcast hint produces BroadcastHashJoin") {
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
    val c = Df.readParquet(spark, s"$sf/customer.parquet")
      .rename(Map("c_custkey" -> "o_custkey")).broadcastHint
    val p = plan(o.merge(c, on = Seq("o_custkey"), how = "inner").sdf)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("nlargest compiles to TakeOrderedAndProject (no global sort)") {
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
    val p = plan(o.nlargest(10, Seq("o_totalprice", "o_orderkey")).sdf)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("groupby compiles to partial+final HashAggregate pair") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val p = plan(li.select("l_returnflag", "l_quantity")
      .groupby("l_returnflag").sum().sdf)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("elementwise chains stay inside one WholeStageCodegen span") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val q = li.assign("a", li("l_quantity").clip(5, 45))
      .assign("b", (li("l_extendedprice") * 2).round(2))
      .where(li("l_discount") > 0.01)
      .select("a", "b").sdf
    val p = plan(q)
    // filter+projects+scan must fuse into a single codegen stage:
    // every codegen'd operator carries the same `*(N)` stage id
    val stageIds = """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(stageIds == Set("1"), p)
  }

  test("partitioned layout prunes directories via PartitionFilters") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    val e = graft.queries.QueryUtil.events(spark, sf)
    e.toParquetPartitioned(tmp, Seq("event_type"))
    val back = Df.readParquet(spark, tmp)
    val q = back.where(back("event_type") === "purchase").select("event_id").sdf
    val p = plan(q)
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    assert(q.count() == e.where(e("event_type") === "purchase").count())
  }

  test("OR predicates push down as DNF (reference _DNF analog)") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val q = li.where((li("l_quantity") > 45.0) || (li("l_discount") > 0.09))
      .select("l_orderkey").sdf
    val p = plan(q)
    assert(p.contains("Or(GreaterThan(l_quantity,45.0),GreaterThan(l_discount,0.09))"), p)
  }

  test("identical agg subtrees reuse one exchange (scan-CSE story, SURVEY §4.11)") {
    // the reference needs a combine_similar pass for this; in Spark,
    // sharing the Df keeps one plan subtree and the physical planner
    // reuses the shuffle for its second appearance
    // AQE defers reuse to stage materialization; turn it off to see the
    // static ReusedExchange (at runtime AQE reuses the stage either way).
    // The read is one Spark splits: a single-split read's aggregate
    // plans no exchange to reuse.
    val spark = multiSplit
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
      val agg = li.select("l_orderkey", "l_quantity")
        .groupby("l_orderkey").sum()
      val self = agg.merge(agg.rename(Map("l_quantity" -> "q2")),
        on = Seq("l_orderkey"), how = "inner")
      val p = plan(self.sdf)
      assert(p.contains("ReusedExchange"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("scan-CSE bounds: independent same-path reads dedupe through exchange reuse") {
    // the reference merges two ReadParquet nodes built INDEPENDENTLY
    // (combine_similar, io/parquet.py:123-160). Spark's equivalent is
    // canonicalized exchange reuse, and it is NOT limited to shared Df
    // lineage: two separate readParquet(path) calls canonicalize to the
    // same plan, so whenever an exchange sits above each scan the
    // second one becomes a ReusedExchange and only ONE file scan runs.
    // Reads Spark splits, as above: single-split reads plan no exchange.
    val spark = multiSplit
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def agg() = Df.readParquet(spark, s"$sf/lineitem.parquet")   // new lineage each call
        .select("l_orderkey", "l_quantity").groupby("l_orderkey").sum()
      val j = agg().merge(agg().rename(Map("l_quantity" -> "q2")),
        on = Seq("l_orderkey"), how = "inner")
      val p = plan(j.sdf)
      assert(p.contains("ReusedExchange"), p)
      assert("Scan parquet".r.findAllIn(p).length == 1, p)

      // DEFAULT divergence — DIVERGENCES.md #15: bare exchange-less
      // scans side by side plan one scan EACH out of the box; each
      // prunes to its own columns, which for hot columnar data beats
      // the reference's merged scan reading the UNION of columns.
      val bare = Df.readParquet(spark, s"$sf/lineitem.parquet").select("l_orderkey").sdf
        .crossJoin(Df.readParquet(spark, s"$sf/lineitem.parquet").select("l_partkey").sdf.limit(1))
      assert("Scan parquet".r.findAllIn(plan(bare)).length == 2)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ScanCSE (opt-in) merges independently built bare same-path reads into ONE scan") {
    // the reference merges two ReadParquet nodes built independently
    // (combine_similar, io/parquet.py:123-160) unconditionally — its
    // executor computes each node once, so merging is free. In Spark
    // the merge buys N-1 scans at the price of one shuffle
    // materialization, so graft ships it conf-gated (ScanCSE scaladoc
    // argues the 100 TB trade) — enabled, the two consumers share one
    // ReusedExchange over a single union-column file scan.
    import graft.plans.ScanCSE
    ScanCSE.install(spark)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the broadcast side is an AGGREGATE, not limit(1): a limit with no
    // order is free to return a different row once the shared shuffle
    // reorders the scan, which would fail the value comparison below
    // for non-determinism, not incorrectness
    def q() = Df.readParquet(spark, s"$sf/nation.parquet").select("n_nationkey").sdf
      .crossJoin(Df.readParquet(spark, s"$sf/nation.parquet")
        .select("n_regionkey").sdf.groupBy().max("n_regionkey"))
    val before = q().collect().map(_.toSeq).sortBy(_.toString)
    spark.conf.set(ScanCSE.ConfKey, "true")
    try {
      val p = plan(q())
      assert("Scan parquet".r.findAllIn(p).length == 1, p)
      assert(p.contains("ReusedExchange"), p)
      // same rows as the unmerged plan — the rewrite is pure sharing
      assert(q().collect().map(_.toSeq).sortBy(_.toString).toSeq == before.toSeq)
      // a FILTERED scan never merges: its pushed-down pruned read is
      // semantically narrower, and trading it for a full-width shared
      // scan + shuffle would be the anti-pattern the rule excludes
      val filtered = Df.readParquet(spark, s"$sf/nation.parquet")
        .where(col("n_nationkey") > 20).select("n_name").sdf
        .crossJoin(Df.readParquet(spark, s"$sf/nation.parquet")
          .select("n_regionkey").sdf.groupBy().max("n_regionkey"))
      val pf = plan(filtered)
      assert("Scan parquet".r.findAllIn(pf).length == 2, pf)
      assert(pf.contains("PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,20)]"), pf)
    } finally {
      spark.conf.set(ScanCSE.ConfKey, "false")
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("lshTopK broadcasts the query side; corpus never cross-joins") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(e("vec_id") < 3)
    val p = plan(graft.operators.Similarity
      .lshTopK(q, e, "embedding", "vec_id", k = 3).sdf)
    assert(p.contains("BroadcastHashJoin"), p)      // bucket equi-join
    assert(!p.contains("CartesianProduct"), p)      // no all-pairs
  }

  test("ivfTopK plan is expression-only: no row-level UDF, no cross join") {
    // the quantizer fit is driver-side, but the SEARCH plan must be pure
    // codegen'd expressions — centroid distances as array-literal
    // folds, not a predict()/probe UDF per row (SURVEY §2.11 rule)
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(e("vec_id") < 3)
    val p = plan(graft.operators.Similarity
      .ivfTopK(q, e, "embedding", "vec_id", k = 3, nlist = 4, nprobe = 2).sdf)
    assert(!p.contains("UDF"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)      // cell equi-join
  }

  test("contamination and minhashJoin plan as hash joins, never cartesian") {
    val d = Df.readParquet(spark, s"$sf/documents.parquet")
    val bench = d.where(d("doc_id") % 50 === 0)
    val p1 = plan(graft.operators.TextAnalytics
      .ngramContamination(d, bench, "text", "doc_id").sdf)
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"), p1)
    val batch = d.where(d("doc_id") % 10 === 0)
    val p2 = plan(graft.operators.Dedup
      .minhashJoin(d, batch, "text", "doc_id").sdf)
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"), p2)
    spark.catalog.clearCache()
  }

  test("bloomDedupNew probes literal sketches map-side; verify join is hash, never cartesian") {
    val d = Df.readParquet(spark, s"$sf/documents.parquet").select("doc_id", "text")
    val corpus = d.where(col("doc_id") % 10 < 7)
    val fresh = d.where(col("doc_id") % 10 >= 7)
    val got = graft.operators.Dedup.bloomDedupNew(fresh, corpus, "text", "doc_id")
    val p = plan(got.sdf)
    got.unpersistIntermediates()
    // the sketch probes are literal predicates in the scan-side filters
    // (no subquery, no extra join to ship the bloom)
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache()
  }

  test("zorderBy plans ONE range exchange on the Morton key, no global sort") {
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
    val p = plan(graft.operators.Layout
      .zorderBy(o, Seq("o_totalprice", "o_custkey"), bits = 8).sdf)
    assert(p.contains("rangepartitioning(zval"), p)
    // in-partition sort only: the Sort node is non-global
    assert("Sort \\[zval.*\\], false".r.findFirstIn(p).isDefined, p)
    assert("rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("removeDuplicatedWindows plans hash joins + one doc-keyed window, never cartesian") {
    val d = Df.readParquet(spark, s"$sf/documents.parquet")
    val r = graft.operators.Dedup.removeDuplicatedWindows(d, "text", "doc_id", k = 10)
    val p = plan(r.sdf)
    r.unpersistIntermediates()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the span merge is ONE running window pass per doc, not an
    // interval tree or a per-position explode
    assert("Window".r.findAllIn(p).length >= 1, p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
    spark.catalog.clearCache()
  }

  test("rangeJoin plans as an equi-join on buckets, never nested-loop") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val bands = Df.readParquet(spark, s"$sf/region.parquet")
      .selectExpr("r_regionkey AS band",
        "r_regionkey * 20.0 AS lo", "r_regionkey * 20.0 + 15.0 AS hi")
    val p = plan(li.rangeJoin(bands, "l_quantity", "lo", "hi", 5.0).sdf)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("covarianceMatrix: one scan, native vector-sum aggregate, no joins, no row explosion") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val p = plan(graft.operators.Similarity.covarianceMatrix(e, "embedding").sdf)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // the moment pass is ONE parquet scan feeding graft_vector_sum
    // (TypedImperativeAggregate → ObjectHashAggregate, partial+final);
    // the only Generate is the d²-row expansion ABOVE the aggregate
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("graft_vector_sum"), p)
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(!p.toLowerCase.contains("scalaudf"), p)  // codegen'd expressions only
  }

  test("semi join plans as LeftSemi (no row multiplication)") {
    val c = Df.readParquet(spark, s"$sf/customer.parquet")
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
      .rename(Map("o_custkey" -> "c_custkey"))
    val p = plan(c.semiJoin(o, Seq("c_custkey")).sdf)
    assert(p.contains("LeftSemi"), p)
  }

  test("kMeans assignment plan is join-free: centroid literals ride the expressions") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val p = plan(graft.operators.Similarity
      .kMeans(e, "embedding", "vec_id", k = 2, iters = 1).sdf)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    Df.releaseRetained()
  }

  test("bpePairCounts compiles to partial+final aggs and a TakeOrdered top-k") {
    val d = Df.readParquet(spark, s"$sf/documents.parquet")
    val p = plan(graft.operators.TextAnalytics
      .bpePairCounts(d, "text", "doc_id", k = 20).sdf)
    assert(p.contains("TakeOrderedAndProject"), p)  // never a global sort
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("hashedLinearScore broadcasts the model; int8TopK broadcasts probes") {
    val d = Df.readParquet(spark, s"$sf/documents.parquet")
    val w = new Df(spark.range(0, 64).selectExpr("id AS bucket",
      "CAST(id % 3 AS DOUBLE) / 10.0 AS weight"))
    val p1 = plan(graft.operators.Curation
      .hashedLinearScore(d, "text", "doc_id", w, buckets = 64).sdf)
    assert(p1.contains("BroadcastHashJoin"), p1)
    assert(!p1.contains("CartesianProduct"), p1)
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val p2 = plan(graft.operators.Similarity
      .int8TopK(e.where(e("vec_id") < 3), e, "embedding", "vec_id", k = 3).sdf)
    // brute-force in-bucket scorer: broadcast NLJ over the tiny probe
    // side is the intended shape; an un-broadcast cartesian is not
    assert(p2.contains("BroadcastNestedLoopJoin"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("qcut assignment is a codegen'd projection: no sort, no window, no join") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val p = plan(li.qcut("l_extendedprice", 4, "bucket").sdf)
    // the break computation ran eagerly (one agg collect of 3 scalars);
    // the PLAN under test is the assignment — a naive rank/ntile qcut
    // would show Sort + Window here
    assert(!p.contains("Sort"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("targetEncodeLoo broadcasts the category stats back") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val p = plan(graft.operators.Features
      .targetEncodeLoo(li, "l_returnflag", "l_quantity", "te").sdf)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("olsFit2 is ONE scan: moment aggregate + projection, no join") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val p = plan(graft.operators.Regression
      .olsFit2(li, "l_extendedprice", "l_quantity", "l_discount").sdf)
    assert(!p.contains("Join"), p)
    // one partial+final aggregate pair over one parquet scan
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("chi2Terms touches the corpus at most twice; margins are derived") {
    val d = Df.readParquet(spark, s"$sf/documents.parquet")
    val sdf = graft.operators.TextAnalytics
      .chi2Terms(d, "text", "lang", "doc_id", k = 3, minDf = 2).sdf
    // tokenize pass (cached vocabulary table) + class-margin pass; term
    // margins and N must come from the vocabulary-sized count table,
    // not extra corpus scans. Count PARQUET LEAVES of the optimized
    // LOGICAL plan — the cached vocabulary is its own leaf there, and
    // plan TEXT embeds the cached child and over-counts.
    val leaves = sdf.queryExecution.optimizedPlan.collectLeaves()
    val parquetLeaves = leaves.count {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }
    assert(parquetLeaves <= 2, sdf.queryExecution.optimizedPlan.toString)
    // and the vocabulary table IS consumed from cache
    assert(leaves.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      sdf.queryExecution.optimizedPlan.toString)
    assert(!plan(sdf).contains("CartesianProduct"))
    graft.api.Df.releaseRetained()
  }

  test("FanOut sizes scans at planning time: fans narrow scans, no-ops on wide/streaming plans, runs no job") {
    import graft.operators.FanOut
    // count jobs started while FanOut decides — the old .rdd probe
    // under AQE materialized every upstream query stage eagerly
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val li = Df.readParquet(spark, s"$sf/lineitem.parquet").sdf
      val narrow = li.select(col("l_orderkey"))
      val wide = li.groupBy("l_returnflag").count()
      // the read takes its schema from a footer on the driver: building
      // the frames above ran no job either
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(spark.sparkContext)
      assert(jobs == 0, s"the parquet read ran $jobs schema-inference job(s)")
      // narrow one-row-group scan → round-robin fan to session width
      val fanned = FanOut(narrow)
      assert(fanned.queryExecution.executedPlan.toString
        .contains("RoundRobinPartitioning"),
        fanned.queryExecution.executedPlan.toString)
      // wide plan (its own exchange already redistributes) → the SAME
      // object back, no second shuffle stacked on top
      assert(FanOut(wide) eq wide)
      // union of narrow scans is still narrow (the mutatedCorpus shape
      // every planted-duplicate dedup query feeds): it must stay
      // SIZABLE — the r12 q64/q66 regression was Union falling to the
      // unknown-node branch and silently serializing the CPU-heavy
      // pipeline above it. (At this suite's local[4] two estimated
      // partitions legitimately don't fan; the sizing is the contract.)
      val unioned = narrow.union(li.select(col("l_orderkey")))
      assert(FanOut.narrowScanPartitions(unioned) == Some(2L),
        FanOut.narrowScanPartitions(unioned).toString)
      assert(FanOut.narrowScanPartitions(wide).isEmpty)
      // streaming frame → untouched (the old probe threw outright)
      val stream = spark.readStream.format("rate").load()
      assert(FanOut(stream) eq stream)
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(spark.sparkContext)
      assert(jobs == 0, s"FanOut ran $jobs eager job(s) while planning")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
