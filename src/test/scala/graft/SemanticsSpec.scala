package graft

import graft.api.Df
import graft.functions.PandasAgg._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** pandas-fidelity semantics (SURVEY.md §7.4 hard parts): skipna,
  * min_count, ddof, accessors, align, multi-join, apply escape hatch. */
class SemanticsSpec extends AnyFunSuite {
  import TestSpark._

  private def nullable: Df = Df.fromRows(spark,
    Seq(Row(1.0), Row(2.0), Row(null), Row(null), Row(5.0), Row(6.0)),
    StructType(Seq(StructField("x", DoubleType))))

  test("sum skipna=False returns null when nulls present") {
    val d = nullable
    val r = d.agg(
      sumSkipnaFalse(col("x")).as("s_strict"),
      sum(col("x")).as("s_skip")).compute()(0)
    assert(r.isNullAt(0) && r.getDouble(1) == 14.0)
  }

  test("sum min_count gates on non-null count") {
    val d = nullable
    val r = d.agg(
      sumMinCount(col("x"), 4).as("ok"),
      sumMinCount(col("x"), 5).as("too_few")).compute()(0)
    assert(r.getDouble(0) == 14.0 && r.isNullAt(1))
  }

  test("prod with min_count and zero/negative handling") {
    val d = Df.fromRows(spark, Seq(Row(-2.0), Row(3.0), Row(0.5)),
      StructType(Seq(StructField("x", DoubleType))))
    val r = d.agg(prodMinCount(col("x"), 1).as("p")).compute()(0)
    assert(math.abs(r.getDouble(0) - (-3.0)) < 1e-9)
  }

  test("str accessor maps onto codegen'd functions") {
    val d = Df.fromRows(spark, Seq(Row("Hello World"), Row("spark")),
      StructType(Seq(StructField("t", StringType))))
    val s = d("t")
    val r = d.assign("u", s.str.upper)
      .assign("l", s.str.len)
      .assign("c", s.str.contains("o"))
      .assign("z", s.str.slice(0, 5))
      .compute()
    assert(r(0).getAs[String]("u") == "HELLO WORLD")
    assert(r(0).getAs[Int]("l") == 11)
    assert(r(1).getAs[Boolean]("c") == false)
    assert(r(1).getAs[String]("z") == "spark")
  }

  test("dt accessor + toTimestamp end-of-period") {
    val d = Df.fromRows(spark,
      Seq(Row(java.sql.Timestamp.valueOf("2024-03-15 13:45:30"))),
      StructType(Seq(StructField("ts", TimestampType))))
    val s = d("ts")
    val r = d.assign("y", s.dt.year).assign("m", s.dt.month)
      .assign("day_start", s.dt.toTimestamp("day", "start"))
      .assign("day_end", s.dt.toTimestamp("day", "end"))
      .compute()(0)
    assert(r.getAs[Int]("y") == 2024 && r.getAs[Int]("m") == 3)
    assert(r.getAs[java.sql.Timestamp]("day_start").toString == "2024-03-15 00:00:00.0")
    assert(r.getAs[java.sql.Timestamp]("day_end").toString == "2024-03-15 23:59:59.999999")
  }

  test("align outer produces equal-length frames with null fill") {
    val a = Df.fromRows(spark, Seq(Row(1L, 10.0), Row(2L, 20.0)),
      StructType(Seq(StructField("i", LongType), StructField("x", DoubleType))))
      .setIndex("i")
    val b = Df.fromRows(spark, Seq(Row(2L, 200.0), Row(3L, 300.0)),
      StructType(Seq(StructField("i", LongType), StructField("y", DoubleType))))
      .setIndex("i")
    val (al, ar) = a.align(b, "outer")
    assert(al.count() == 3 && ar.count() == 3)
    val lrow = al.sdf.filter(col("i") === 3).collect()(0)
    assert(lrow.isNullAt(lrow.fieldIndex("x")))
  }

  test("joinMulti folds index joins over several frames") {
    def mk(c: String, n: Int) = Df.fromRows(spark,
      (1 to n).map(i => Row(i.toLong, i.toDouble)),
      StructType(Seq(StructField("i", LongType), StructField(c, DoubleType))))
      .setIndex("i")
    val j = mk("a", 3).joinMulti(Seq(mk("b", 5), mk("c", 2)), "outer")
    assert(j.columns.toSet == Set("i", "a", "b", "c"))
    assert(j.count() == 5)
  }

  test("cat accessor: categories sorted, codes via dictionary") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
    val cats = li("l_returnflag").cat.categories.compute().map(_.getString(0))
    assert(cats.toSeq == Seq("A", "N", "R"))
  }

  test("applyRows escape hatch distributes a Scala closure") {
    import spark.implicits._
    val d = Df.fromRows(spark, Seq(Row(1L), Row(2L), Row(3L)),
      StructType(Seq(StructField("x", LongType))))
    val r = d.applyRows(row => row.getLong(0) * 10)
    assert(r.sdf.as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("memoryUsage yields schema-width estimate") {
    val d = nullable
    val bytes = d.memoryUsage.compute()(0).getLong(0)
    assert(bytes == 6 * 8)
  }

  test("duplicated marks all but first occurrence by order key") {
    val d = Df.fromRows(spark,
      Seq(Row("a", 1L), Row("a", 2L), Row("b", 3L), Row("a", 4L)),
      StructType(Seq(StructField("k", StringType), StructField("t", LongType))))
    val m = d.duplicated(Seq("k"), "t").sdf.orderBy("t").collect()
      .map(_.getBoolean(2))
    assert(m.toSeq == Seq(false, true, false, true))
  }

  test("diff subtracts the value periods rows earlier") {
    val d = Df.fromRows(spark, Seq(Row(1L, 10.0), Row(2L, 15.0), Row(3L, 11.0)),
      StructType(Seq(StructField("t", LongType), StructField("v", DoubleType))))
    val out = d.diff("v", Seq("t"), "d").sdf.orderBy("t").collect()
      .map(r => Option(r.get(2)))
    assert(out(0).isEmpty && out(1).contains(5.0) && out(2).contains(-4.0))
  }

  test("saltedJoin equals plain join result") {
    val li = Df.readParquet(spark, s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = Df.readParquet(spark, s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .rename(Map("o_orderkey" -> "l_orderkey"))
    val plain = li.merge(o, on = Seq("l_orderkey"), how = "inner").count()
    val salted = li.saltedJoin(o, Seq("l_orderkey"), "inner", salt = 8).count()
    assert(plain == salted)
    // r22 broadcast gate: with auto-broadcast disabled the SALTED path
    // must engage (no broadcast → reduce skew possible) and still match
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val forced = li.saltedJoin(o, Seq("l_orderkey"), "inner", salt = 8)
      assert(forced.sdf.queryExecution.analyzed.toString.contains("__salt"))
      assert(forced.count() == plain)
    } finally spark.conf.set(key, saved)
  }

  test("saltedJoin keeps the salt unless the right side fits the broadcast threshold twice") {
    // a fresh session, so the threshold set here reaches no other suite
    val ss = spark.newSession()
    val li = Df.readParquet(ss, s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = Df.readParquet(ss, s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .rename(Map("o_orderkey" -> "l_orderkey"))
    val rSize = o.sdf.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    def run(threshold: Long) = {
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val j = li.saltedJoin(o, Seq("l_orderkey"), "inner", salt = 8)
      (j.sdf.queryExecution.analyzed.toString.contains("__salt"),
        j.sdf.collect().map(_.toString).sorted.toSeq)
    }
    // fits once but not twice: the estimate may underrun the runtime
    // size, so the requested salting stays
    val (saltedBetween, between) = run(rSize + rSize / 2)
    val (saltedAbove, above) = run(rSize * 2)
    assert(saltedBetween, s"threshold 1.5x the $rSize-byte estimate must salt")
    assert(!saltedAbove, s"threshold 2x the $rSize-byte estimate must not salt")
    assert(between.nonEmpty && between == above)
  }

  test("pivotTable spreads explicit values into static columns") {
    val d = Df.fromRows(spark,
      Seq(Row(1L, "a", 10.0), Row(1L, "b", 20.0), Row(2L, "a", 5.0)),
      StructType(Seq(StructField("k", LongType),
        StructField("t", StringType), StructField("v", DoubleType))))
    val p = d.pivotTable("k", "t", "v", Seq("a", "b"), "sum")
    assert(p.columns == Seq("k", "a", "b"))
    val r1 = p.sdf.filter(col("k") === 2).collect()(0)
    assert(r1.getDouble(1) == 5.0 && r1.isNullAt(2))
  }

  test("describeStats long format with quantile battery") {
    val d = nullable
    val st = d.describeStats(Seq("x")).sdf.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(st("count") == 4.0 && st("min") == 1.0 && st("max") == 6.0)
    assert(st("q50") == 3.5)
    // DECIMAL columns: avg(decimal) returns DecimalType(p+4,s+4) — the
    // driver-side row read must coerce it (the r15 review's CCE)
    val dd = Df.fromRows(spark,
      Seq(Row(new java.math.BigDecimal("1.50")),
        Row(new java.math.BigDecimal("2.50")),
        Row(new java.math.BigDecimal("4.00"))),
      StructType(Seq(StructField("m", DecimalType(9, 2)))))
    val sd = dd.describeStats().sdf.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // decimal avg keeps decimal(p+4,s+4) precision: 8.00/3 -> 2.666667
    assert(sd("mean") == 2.666667 && sd("q50") == 2.5 && sd("count") == 3.0)
    // no numeric columns -> named error, not aggs.head on Nil
    val strOnly = Df.fromRows(spark, Seq(Row("a")),
      StructType(Seq(StructField("s", StringType))))
    assert(intercept[IllegalArgumentException](strOnly.describeStats())
      .getMessage.contains("no numeric columns"))
    // empty frame: full 8-row battery, count 0.0, every other stat null
    val empty = Df.fromRows(spark, Nil,
      StructType(Seq(StructField("x", DoubleType))))
    val se = empty.describeStats(Seq("x")).sdf.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null
        else java.lang.Double.valueOf(r.getDouble(1)))).toMap
    assert(se.size == 8 && se("count") == 0.0)
    assert(Seq("mean", "std", "min", "max", "q25", "q50", "q75")
      .forall(se(_) == null), se.toString)
  }

  test("describeStats agg thread inherits the caller's job group and tags its job") {
    // the mergeable-agg pass runs on a fresh thread CONCURRENT with the
    // quantile selection protocol. Two properties make that safe on a
    // shared cluster, both asserted here: (a) the thread inherits the
    // CALLER's job group (InheritableThreadLocal), so caller-side
    // cancellation reaches the agg job; (b) the thread adds the
    // graft-describe job TAG, which the failure path uses to cancel the
    // orphaned agg when the selection protocol throws.
    val sc = spark.sparkContext
    val group = "semantics-describe-propagation"
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        seen.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("spark.job.tags")).orNull))
      }
    }
    sc.addSparkListener(listener)
    try {
      // drain events queued by EARLIER tests before recording: a late
      // graft-describe JobStart from a previous describeStats call would
      // match the tag filter with the wrong (null) job group
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(sc)
      seen.clear()
      sc.setJobGroup(group, "describe propagation spec")
      try nullable.describeStats(Seq("x")).sdf.collect()
      finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(sc)
      import scala.jdk.CollectionConverters._
      val tagged = seen.asScala.toList.filter(t =>
        Option(t._2).exists(_.contains("graft-describe-")))
      assert(tagged.nonEmpty,
        s"no job carried the graft-describe tag — agg-thread tagging lost: $seen")
      assert(tagged.forall(_._1 == group),
        s"tagged agg job lost the caller's job group (cancellation would " +
          s"not reach it): $tagged")
    } finally sc.removeSparkListener(listener)
  }

  test("cut bins with (lo, hi] intervals, outside -> null") {
    val d = Df.fromRows(spark, Seq(Row(5.0), Row(15.0), Row(50.0)),
      StructType(Seq(StructField("v", DoubleType))))
    val b = d.cut("v", Seq(0.0, 10.0, 20.0), Seq("low", "high"), "band")
      .sdf.collect().map(r => Option(r.getString(1)))
    assert(b.toSeq == Seq(Some("low"), Some("high"), None))
  }

  // ---- event-time ingest: encoding adaptation + unit-drift guard ----
  // (the r9 incident: testdata flipped nanos-as-long -> TIMESTAMP(MICROS);
  // batch queries died with analysis errors, streaming windows silently
  // collapsed to ~1970. Ingest must adapt to the loaded dtype and REJECT
  // implausible event times instead of computing over them.)

  /** write an events.parquet whose ts is a raw LONG of the given values */
  private def writeLongTsEvents(values: Seq[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ts_guard").toString
    val rows = values.zipWithIndex.map { case (v, i) => Row(i.toLong, v, i.toLong % 7) }
    Df.fromRows(spark, rows, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType)))).sdf
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events ingest adapts the current testdata encoding to a plausible TIMESTAMP") {
    val e = graft.queries.QueryUtil.events(spark, sf)
    assert(e.sdf.schema("ts").dataType == TimestampType)
    val t = e.sdf.select(min(col("ts")), max(col("ts"))).collect()(0)
    val years = Seq(t.getTimestamp(0), t.getTimestamp(1))
      .map(_.toInstant.atOffset(java.time.ZoneOffset.UTC).getYear)
    assert(years.forall(y => y >= 1990 && y <= 2100), years)
  }

  test("events ingest converts legacy nanos-as-long with micros truncation") {
    val base = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z in nanos
    val dir = writeLongTsEvents(Seq(base + 123456789L, base + 987654321L))
    val got = graft.queries.QueryUtil.events(spark, dir)
      .sdf.orderBy("event_id").select("ts").collect().map(_.getTimestamp(0))
    assert(got(0).toInstant.toEpochMilli == 1704067200123L)
    // micros truncation, not rounding: .987654321s -> .987654s
    assert(got(1).getNanos == 987654000)
  }

  test("unit drift fails loudly: micros stored as long throws, never windows over ~1970") {
    val micros = 1704067200L * 1000000L // 2024 in MICROS; nanos read -> 1970
    val dir = writeLongTsEvents(Seq(micros, micros + 1000L))
    val ex = intercept[IllegalArgumentException] {
      graft.queries.QueryUtil.events(spark, dir)
    }
    assert(ex.getMessage.contains("drift"), ex.getMessage)
    // the streaming reader shares the guard: same drifted dir, same error
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.readEventsStream(spark, s"$dir/events.parquet")
    }
  }

  test("adaptTs refuses to guess unknown encodings") {
    intercept[IllegalArgumentException] {
      graft.queries.QueryUtil.adaptTs(StringType, "ts")
    }
  }
}
