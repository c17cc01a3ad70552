package graft

import graft.api.Df
import graft.operators.{Constraints, Curation, Linkage, TimeSeries, Upsert}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 governance wave: constraint suites, CDC upserts,
  * deterministic sampling, sorted-neighborhood linkage, EWMA,
  * interleaved selection — semantics + the plan shapes that carry the
  * 100 TB posture. */
class GovernanceSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def docs = Df.readParquet(spark, s"$sf/documents.parquet")

  // ---- Constraints ----

  test("constraint suite is ONE aggregation pass: no join, no Expand, one scan") {
    import Constraints._
    val rep = Constraints.verify(docs, Seq(
      Constraint("complete", completeness("text"), _ === 1.0),
      Constraint("sane mean", meanOf("n_chars"), _.between(1.0, 1e6)),
      Constraint("bounded", maxOf("n_chars"), _ <= 1e6),
      Constraint("keyish", distinctRatioApprox("doc_id"), _ > 0.9)))
    val p = plan(rep.sdf)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    val rows = rep.sdf.collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Boolean]("passed")))
  }

  test("constraints fail on violated expectations; assertAll throws with names") {
    import Constraints._
    val d = Df.fromRows(spark,
      Seq(Row("en", 5L), Row(null, 50L), Row("xx", 500L)),
      StructType(Seq(StructField("lang", StringType),
        StructField("n", LongType))))
    val rep = Constraints.verify(d, Seq(
      Constraint("lang complete", completeness("lang"), _ === 1.0),
      Constraint("n bounded", maxOf("n"), _ <= 100.0),
      Constraint("rows", rowCount, _ === 3.0))).sdf.collect()
    val byName = rep.map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(byName == Map("lang complete" -> false, "n bounded" -> false,
      "rows" -> true))
    val e = intercept[IllegalArgumentException] {
      Constraints.assertAll(d, Seq(
        Constraint("lang complete", completeness("lang"), _ === 1.0)))
    }
    assert(e.getMessage.contains("lang complete"), e.getMessage)
  }

  test("constraints on an empty table report null values instead of an ANSI divide-by-zero") {
    import Constraints._
    // an empty snapshot killed the whole pass before the guards:
    // completeness/match_ratio/distinct_ratio divide 0 (non-null) by 0.
    // Contract now: value null, passed null — "not evaluable"; callers
    // who must reject empty snapshots add a rowCount constraint.
    val empty = Df.fromRows(spark, Seq(),
      StructType(Seq(StructField("lang", StringType))))
    val rep = Constraints.verify(empty, Seq(
      Constraint("complete", completeness("lang"), _ === 1.0),
      Constraint("fmt", matchRatio("lang", "^[a-z]+$"), _ > 0.9),
      Constraint("keyish", distinctRatioApprox("lang"), _ > 0.9),
      Constraint("rows", rowCount, _ > 0.0))).sdf.collect()
    val byName = rep.map(r => r.getString(0) ->
      (r.isNullAt(2), if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toMap
    assert(byName("complete") == ((true, None)), byName.toString)
    assert(byName("fmt") == ((true, None)))
    assert(byName("keyish") == ((true, None)))
    assert(byName("rows") == ((false, Some(false)))) // the loud gate
    // all-null column on a NON-empty table: match_ratio guarded too
    val allNull = Df.fromRows(spark, Seq(Row(null), Row(null)),
      StructType(Seq(StructField("lang", StringType))))
    val rep2 = Constraints.verify(allNull, Seq(
      Constraint("fmt", matchRatio("lang", "^[a-z]+$"), _ > 0.9))).sdf.collect()
    assert(rep2(0).isNullAt(2) && rep2(0).isNullAt(3))
  }

  test("two constraints on the same metric compute the aggregate once") {
    import Constraints._
    val m = meanOf("n_chars")
    val rep = Constraints.verify(docs, Seq(
      Constraint("lo", m, _ >= 1.0), Constraint("hi", m, _ <= 1e9)))
    // one shared metric slot → the agg carries exactly one expression
    val aggs = rep.sdf.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.size
    }
    assert(aggs == Seq(1), aggs)
    assert(rep.sdf.count() == 2)
  }

  // ---- Upsert ----

  private def upsertBase = Df.fromRows(spark,
    Seq(Row(1L, "a", 1), Row(2L, "b", 1), Row(3L, "c", 1)),
    StructType(Seq(StructField("k", LongType), StructField("v", StringType),
      StructField("version", IntegerType))))

  test("applyChanges: latest version wins, tombstones delete, ties favor changes") {
    val changes = Df.fromRows(spark,
      Seq(Row(1L, "a2", 2, false),  // plain update
          Row(2L, "b2", 2, true),   // tombstone
          Row(3L, "c2", 1, false),  // version TIE → change wins
          Row(4L, "d", 2, false)),  // brand-new key
      StructType(Seq(StructField("k", LongType), StructField("v", StringType),
        StructField("version", IntegerType),
        StructField("deleted", BooleanType))))
    val out = Upsert.applyChanges(upsertBase, changes, Seq("k"),
      "version", "deleted")
      .sdf.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "a2", 3L -> "c2", 4L -> "d"))
  }

  test("applyChanges is idempotent: re-applying the same delta is a no-op") {
    val changes = Df.fromRows(spark,
      Seq(Row(1L, "a2", 2, false), Row(2L, "b2", 2, true)),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType),
        StructField("version", IntegerType),
        StructField("deleted", BooleanType))))
    val once = Upsert.applyChanges(upsertBase, changes, Seq("k"),
      "version", "deleted")
    val twice = Upsert.applyChanges(once, changes, Seq("k"),
      "version", "deleted")
    assert(twice.sdf.orderBy("k").collect().toSeq ==
      once.sdf.orderBy("k").collect().toSeq)
  }

  test("applyChanges plans as partial-aggregable max_by — no window sort") {
    val changes = Df.fromRows(spark,
      Seq(Row(1L, "a2", 2, false)),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType),
        StructField("version", IntegerType),
        StructField("deleted", BooleanType))))
    val p = plan(Upsert.applyChanges(upsertBase, changes, Seq("k"),
      "version", "deleted").sdf)
    assert(p.contains("max_by"), p)
    assert(!p.contains("Window"), p)   // the monoid, not a row_number sort
    // partial agg present: map-side combine collapses multi-change keys
    assert(p.contains("partial_max_by") || p.contains("partial max_by"), p)
  }

  // ---- groupSample ----

  test("groupSample: exactly k per group, deterministic, WindowGroupLimit pushdown") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .assign("id", concat_ws("-", col("l_orderkey"), col("l_linenumber")))
    val s1 = Curation.groupSample(li, Seq("l_returnflag"), "id", k = 7)
    val counts = s1.sdf.groupBy("l_returnflag").count().collect()
      .map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ == 7L))
    // pure function of (corpus, seed): a re-run picks the SAME rows
    val a = s1.sdf.select("id").collect().map(_.getString(0)).sorted.toSeq
    val b = Curation.groupSample(li, Seq("l_returnflag"), "id", k = 7)
      .sdf.select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(a == b)
    // different seed → different permutation (overwhelmingly)
    val c = Curation.groupSample(li, Seq("l_returnflag"), "id", k = 7,
      seed = 43L).sdf.select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(a != c)
    val p = plan(s1.sdf)
    assert(p.contains("WindowGroupLimit"), p) // k-row heap per group pre-shuffle
  }

  // ---- sortedNeighborhood ----

  test("sortedNeighborhood finds in-block neighbors only, within w, under maxDist") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("block", StringType), StructField("name", StringType)))
    val d = Df.fromRows(spark, Seq(
      Row(1L, "A", "smith john"), Row(2L, "A", "smith jon"),
      Row(3L, "A", "smith j0hn"), Row(4L, "A", "zzzz totally else"),
      Row(5L, "B", "smith john")), schema) // same name, OTHER block → never paired
    val pairs = Linkage.sortedNeighborhood(d, Seq("block"), "name", "name",
      "id", maxDist = 3, w = 2)
      .sdf.select("left_id", "right_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // sort order in block A: j0hn(3) < john(1) < jon(2); zzzz too far
    assert(pairs == Set((3L, 1L, 1), (3L, 2L, 2), (1L, 2L, 1)), pairs)
  }

  test("sortedNeighborhood is one exchange + window — no join, O(n·w) not O(n²)") {
    val c = Df.readParquet(spark, s"$sf/customer.parquet")
    val p = plan(Linkage.sortedNeighborhood(c, Seq("c_nationkey"), "c_name",
      "c_name", "c_custkey", maxDist = 3, w = 2).sdf)
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  // ---- EWMA ----

  test("ewmaMean matches the exact pandas adjusted-ewm recurrence") {
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("t", LongType), StructField("x", DoubleType)))
    val d = Df.fromRows(spark,
      xs.zipWithIndex.map { case (x, i) => Row("g", i.toLong, x) }, schema)
    val got = TimeSeries.ewmaMean(d, Seq("k"), Seq("t"), "x", alpha = 0.5)
      .sdf.orderBy("t").select("ewma").collect().map(_.getDouble(0))
    // reference: y_i = Σ (1-a)^j x_{i-j} / Σ (1-a)^j over full history
    val a = 0.5
    val want = xs.indices.map { i =>
      val terms = (0 to i).map(j => math.pow(1 - a, j) * xs(i - j))
      terms.sum / (0 to i).map(j => math.pow(1 - a, j)).sum
    }
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-9, s"$g vs $w") }
  }

  test("ewmaMean lookback is bounded: one window frame, no self-join, no full-history state") {
    val e = QueryTables.events
    val p = plan(TimeSeries.ewmaMean(e, Seq("user_id"), Seq("ts", "event_id"),
      "value").sdf)
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // the frame is ROWS -W..current, not unboundedpreceding$()
    assert(p.contains("specifiedwindowframe(RowFrame, -40, currentrow$())"), p)
    assert(!p.contains("unboundedpreceding"), p)
  }

  test("ewmaMean truncation error is below eps on a long constant-free series") {
    // 300-row geometric-ish series: truncated (W=40) vs untruncated
    val xs = (0 until 300).map(i => math.sin(i * 0.7) * 100 + 150)
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("t", LongType), StructField("x", DoubleType)))
    val d = Df.fromRows(spark,
      xs.zipWithIndex.map { case (x, i) => Row("g", i.toLong, x) }, schema)
    val got = TimeSeries.ewmaMean(d, Seq("k"), Seq("t"), "x", alpha = 0.5)
      .sdf.orderBy("t").select("ewma").collect().map(_.getDouble(0)).last
    val a = 0.5
    val n = xs.length
    val full = xs.indices.map(j => math.pow(1 - a, n - 1 - j) * xs(j)).sum /
      xs.indices.map(j => math.pow(1 - a, j.toDouble)).sum
    assert(math.abs(got - full) / math.abs(full) < 1e-10, s"$got vs $full")
  }

  // ---- interleavedSelect ----

  test("interleavedSelect fills the budget round-robin: per-source counts differ by ≤ 1") {
    val sel = Curation.interleavedSelect(docs, "source", "n_chars",
      "doc_id", n = 100)
    val counts = sel.sdf.groupBy("source").count().collect()
      .map(_.getLong(1))
    assert(counts.sum == 100L)
    assert(counts.max - counts.min <= 1,
      s"unbalanced: ${counts.mkString(",")}")
    // vs the naive quality-top-100, which concentrates on long docs
    // regardless of source — interleave must touch every source
    val nSources = docs.sdf.select("source").distinct().count()
    assert(counts.length == nSources)
  }

  test("interleavedSelect global cut compiles to TakeOrdered, not a global sort") {
    val p = plan(Curation.interleavedSelect(docs, "source", "n_chars",
      "doc_id", n = 100).sdf)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // ---- psiDrift ----

  test("psiDrift: identical snapshots score ~0, a shifted one crosses the 0.25 bar") {
    import graft.operators.Profiling
    val schema = StructType(Seq(StructField("x", DoubleType)))
    def frame(xs: Seq[Double]) =
      Df.fromRows(spark, xs.map(Row(_)), schema)
    val base = frame((0 until 1000).map(i => (i % 100).toDouble))
    val same = Profiling.psiDrift(base, frame((0 until 1000).map(i =>
      (i % 100).toDouble)), "x", bins = 10)
      .sdf.select("psi_total").head().getDouble(0)
    assert(same == 0.0, s"identical distributions scored $same")
    // shift the mass up by 60: most rows change bins
    val shifted = Profiling.psiDrift(base, frame((0 until 1000).map(i =>
      ((i % 100) + 60).toDouble)), "x", bins = 10)
      .sdf.select("psi_total").head().getDouble(0)
    assert(shifted > 0.25, s"shifted distribution scored only $shifted")
  }

  test("psiDrift joins only bin-sized frames — no data-sized shuffle join") {
    import graft.operators.Profiling
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
    val base = new Df(o.sdf.where(year(col("o_orderdate")) < 1998))
    val cur = new Df(o.sdf.where(year(col("o_orderdate")) >= 1998))
    val out = Profiling.psiDrift(base, cur, "o_totalprice", bins = 10)
    assert(out.sdf.count() <= 10)
    // the only join in the plan is the k-row bin join, downstream of
    // BOTH aggregations (counts collapse before anything joins)
    val joins = out.sdf.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // every join must touch an aggregated (≤ bins- or 1-row) side:
    // raw-x-raw would mean the snapshots were joined data-sized
    val dataSized = joins.filterNot(_.children.exists(side =>
      side.collectFirst {
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ()
      }.isDefined))
    assert(dataSized.isEmpty,
      out.sdf.queryExecution.optimizedPlan.toString)
  }

  // ---- sequenceIslands ----

  test("sequenceIslands collapses runs, exposes gaps, and reuses one exchange") {
    import graft.operators.Profiling
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("seq", LongType)))
    val d = Df.fromRows(spark,
      (Seq(1L, 2L, 3L, 7L, 8L, 12L).map(Row("a", _)) ++
        Seq(5L, 6L).map(Row("b", _))), schema)
    val got = Profiling.sequenceIslands(d, Seq("k"), "seq")
      .sdf.orderBy("k", "island_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", 1L, 3L, 3L), ("a", 7L, 8L, 2L),
      ("a", 12L, 12L, 1L), ("b", 5L, 6L, 2L)))
    // window partitioning (k) ⊂ agg grouping (k, run) → one exchange
    // (over a read Spark splits; a single-split read plans none)
    val li = Df.readParquet(multiSplit, s"$sf/lineitem.parquet")
    val p = plan(Profiling.sequenceIslands(li, Seq("l_returnflag"),
      "l_orderkey").sdf)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  // ---- kFoldSplit ----

  test("kFoldSplit: folds are disjoint residue classes, add-data stable, shuffle-free") {
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
    val folded = o.kFoldSplit("o_orderkey", k = 5)
    val counts = folded.sdf.groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0, 1, 2, 3, 4))
    assert(counts.values.sum == o.sdf.count())
    // adding data never moves an existing key's fold: the assignment
    // on a half corpus equals the full corpus's for shared keys
    val half = new Df(o.sdf.where(col("o_orderkey") % 2 === 0))
      .kFoldSplit("o_orderkey", k = 5)
      .sdf.select("o_orderkey", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = folded.sdf.select("o_orderkey", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(half.forall { case (k, f) => full(k) == f })
    assert(!plan(folded.sdf).contains("Exchange"),
      plan(folded.sdf)) // pure map-side expression
  }

  // ---- curriculumOrder ----

  test("curriculumOrder: equal-mass phases, deterministic key, literal cuts") {
    val cur = Curation.curriculumOrder(docs, "n_chars", "doc_id",
      phases = 4)
    val sizes = cur.sdf.groupBy("phase").count().orderBy("phase")
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(sizes.map(_._1).toSeq == Seq(0, 1, 2, 3))
    val n = sizes.map(_._2).sum
    // equi-depth: each phase within one tie-cluster of n/4
    assert(sizes.forall { case (_, c) =>
      math.abs(c - n / 4.0) <= n * 0.06 }, sizes.mkString(","))
    // phase boundaries respect the score order: max(n_chars) of phase
    // i ≤ min(n_chars) of phase i+1 up to cut ties
    val bounds = cur.sdf.groupBy("phase")
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("phase").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    bounds.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, bounds.mkString(","))
    }
    // reproducible: same (corpus, seed) → same key for every doc
    val k1 = cur.sdf.select("doc_id", "curriculum_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val k2 = Curation.curriculumOrder(docs, "n_chars", "doc_id", 4)
      .sdf.select("doc_id", "curriculum_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(k1 == k2)
    val p = plan(cur.sdf)
    // cuts are LITERALS from the order-statistic selection — the plan
    // is a pure projection: no join node of any kind remains
    assert(!p.contains("Join"), p)
    assert(p.contains("CASE WHEN"), p)
  }

  // ---- goldenRecord ----

  test("goldenRecord: modal value survives, ties pick smallest, all-null stays null") {
    import graft.operators.Linkage
    val schema = StructType(Seq(StructField("cl", LongType),
      StructField("seg", StringType), StructField("nat", LongType)))
    val d = Df.fromRows(spark, Seq(
      Row(1L, "AUTO", 7L), Row(1L, "AUTO", 7L), Row(1L, "BIKE", 9L),
      Row(2L, "SHIP", null), Row(2L, "RAIL", null),  // tie → RAIL; nat all-null
      Row(3L, null, 4L)), schema)
    val got = Linkage.goldenRecord(d, "cl", Seq("seg", "nat"))
      .sdf.orderBy("cl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, "AUTO", 7L), (2L, 2L, "RAIL", -1L),
      (3L, 1L, null, 4L)), got.mkString(","))
  }

  test("goldenRecord aggregates are partial (map-side combine before either shuffle)") {
    import graft.operators.Linkage
    val c = Df.readParquet(spark, s"$sf/customer.parquet")
    val clustered = new Df(c.sdf.withColumn("entity",
      expr("c_custkey div 3")))
    val p = plan(Linkage.goldenRecord(clustered, "entity",
      Seq("c_mktsegment")).sdf)
    assert(p.contains("partial_min_by") || p.contains("partial min_by") ||
      p.contains("min_by"), p)
    assert(!p.contains("Window"), p)
  }

  test("incrementalJoinDelta: old ∪ delta equals the full join as a multiset") {
    def f(rows: Seq[Row], names: (String, String)): Df =
      Df.fromRows(spark, rows, StructType(Seq(
        StructField(names._1, LongType), StructField(names._2, StringType))))
    val oldL = f(Seq(Row(1L, "a"), Row(2L, "b"), Row(1L, "c")), ("k", "l"))
    val dL = f(Seq(Row(2L, "d"), Row(3L, "e")), ("k", "l"))
    val oldR = f(Seq(Row(1L, "X"), Row(3L, "Y")), ("k", "r"))
    val dR = f(Seq(Row(1L, "Z"), Row(2L, "W")), ("k", "r"))
    val delta = Upsert.incrementalJoinDelta(oldL, dL, oldR, dR, Seq("k")).sdf
    val oldJoin = oldL.sdf.join(oldR.sdf, Seq("k"))
    val full = oldL.sdf.unionAll(dL.sdf)
      .join(oldR.sdf.unionAll(dR.sdf), Seq("k"))
    val maintained = oldJoin.unionAll(delta.select(oldJoin.columns.map(col): _*))
    assert(full.exceptAll(maintained).count() == 0)
    assert(maintained.exceptAll(full).count() == 0)
    assert(delta.count() > 0)
  }

  test("scd2: intervals chain per key, exactly one current, no overlap") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val rows = Seq(Row(1L, t(1), 10L), Row(1L, t(5), 11L), Row(1L, t(9), 12L),
      Row(2L, t(3), 20L))
    val d = Df.fromRows(spark, rows, StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType),
      StructField("v", LongType))))
    val got = Upsert.scd2(d, Seq("k"), "ts", "v").sdf
      .orderBy("k", "valid_from").collect()
    val k1 = got.filter(_.getLong(0) == 1L)
    assert(k1.map(r => Option(r.getTimestamp(4))).toSeq ==
      Seq(Some(t(5)), Some(t(9)), None).map(_.map(identity)))
    // exactly one current row per key
    assert(got.count(_.getBoolean(5)) == 2)
    // each valid_to equals the next row's valid_from (chained, no gap)
    k1.sliding(2).foreach {
      case Array(a, b) => assert(a.getTimestamp(4) == b.getTimestamp(3))
      case _ =>
    }
  }
}

/** Shared small-table handles for governance tests. */
private object QueryTables {
  import TestSpark._
  def events: Df = graft.queries.QueryUtil.events(spark, sf)
}
