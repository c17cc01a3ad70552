package graft

import graft.api.Df
import graft.operators.GroupedScan
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Differential pinning for [[graft.operators.GroupedScan]] — the
  * two-phase scalable scan vs the window verbs it replaces (which are
  * themselves fuzz-pinned against a brute pandas model in
  * GroupedFuzzSpec). Every trial forces MORE partitions than groups so
  * groups genuinely span partition boundaries and the driver carry
  * chain is exercised, not bypassed: 3 groups ride 7+ range partitions,
  * and dedicated cases run ONE group across 16 partitions (the deepest
  * carry). Nulls, decimals, strings, ties, empty frames, and the
  * keyless path (groupby() with no keys — DIVERGENCES #10's scalable
  * alternative) are all drawn. */
class ScanSpec extends AnyFunSuite {
  import TestSpark._

  // GRAFT_FUZZ_TRIALS multiplies the per-test draw count for one-off
  // robustness sweeps (unset -> 1, the committed default)
  private val trialMult = sys.env.get("GRAFT_FUZZ_TRIALS")
    .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
  private def trials[T](g: Gen[T], n: Int = 8)(body: T => Unit): Unit = {
    var s = org.scalacheck.rng.Seed(421L)
    (0 until n * trialMult).foreach { _ =>
      g.apply(org.scalacheck.Gen.Parameters.default, s).foreach(body)
      s = s.next
    }
  }

  // id = unique tiebreak; g = group (3 values); o = order key with
  // collisions; v = double with nulls; d = decimal(9,2) with nulls;
  // s = string with nulls
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("o", IntegerType, nullable = false),
    StructField("v", DoubleType, nullable = true),
    StructField("d", DecimalType(9, 2), nullable = true),
    StructField("s", StringType, nullable = true)))

  private val rowsGen: Gen[List[Row]] =
    Gen.choose(0, 60).flatMap { n =>
      Gen.listOfN(n, for {
        g <- Gen.choose(0, 2)
        o <- Gen.choose(0, 4)
        v <- Gen.option(Gen.choose(-6, 6).map(_ / 2.0))
        d <- Gen.option(Gen.choose(-300, 300))
        s <- Gen.option(Gen.oneOf("a", "b", "zz", "É", ""))
      } yield (g, o, v, d, s))
    }.map(_.zipWithIndex.map { case ((g, o, v, d, s), i) =>
      Row(i.toLong, g, o, v.orNull,
        d.map(c => new java.math.BigDecimal(c).movePointLeft(2)).orNull,
        s.orNull)
    })

  private def mkDf(xs: List[Row]): Df = Df.fromRows(spark, xs, schema)

  /** collect a named column keyed by id, as a map */
  private def byId(d: Df, out: String): Map[Long, Any] =
    d.sdf.select("id", out).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap

  test("cumsum/cummax/cumcount/shift/ffill: scalable ≡ window, groups spanning 7 partitions") {
    trials(rowsGen) { xs =>
      val df = mkDf(xs)
      val okeys = Seq("o", "id") // total order inside each group
      val scan = df.groupby("g").scanScalable(okeys, Seq(
        GroupedScan.CumSum("d", "cs"), GroupedScan.CumMax("v", "cx"),
        GroupedScan.CumMin("s", "cn"), GroupedScan.CumCount("cc"),
        GroupedScan.Shift("v", 2, "sh"), GroupedScan.Ffill("d", "ff")),
        numPartitions = 7)
      val win = df.groupby("g").cumsum("d", okeys, "cs")
      val winx = df.groupby("g").cummax("v", okeys, "cx")
      val winn = df.groupby("g").cummin("s", okeys, "cn")
      val winc = df.groupby("g").cumcount(okeys, "cc")
      val winh = df.groupby("g").shift("v", okeys, periods = 2, out = "sh")
      val winf = df.ffill(Seq("d"), okeys, partitionBy = Seq("g"))
      assert(byId(scan, "cs") == byId(win, "cs"))
      assert(byId(scan, "cx") == byId(winx, "cx"))
      assert(byId(scan, "cn") == byId(winn, "cn"))
      assert(byId(scan, "cc") == byId(winc, "cc"))
      assert(byId(scan, "sh") == byId(winh, "sh"))
      assert(byId(scan, "ff") == byId(winf, "d"))
    }
  }

  test("rank min + dense: scalable ≡ window under heavy ties") {
    trials(rowsGen) { xs =>
      val df = mkDf(xs)
      val sc1 = df.groupby("g").rankScalable("o", "rk", method = "min")
      val sc2 = df.groupby("g").rankScalable("o", "dr", method = "dense")
      val sc3 = df.groupby("g").rankScalable("o", "rd", method = "min",
        ascending = false)
      val w1 = df.groupby("g").rank("o", "rk", method = "min")
      val w2 = df.groupby("g").rank("o", "dr", method = "dense")
      val w3 = df.groupby("g").rank("o", "rd", method = "min",
        ascending = false)
      assert(byId(sc1, "rk") == byId(w1, "rk"))
      assert(byId(sc2, "dr") == byId(w2, "dr"))
      assert(byId(sc3, "rd") == byId(w3, "rd"))
    }
  }

  test("one group across 16 partitions: deepest carry chain, exact long cumsum") {
    val n = 400
    val rows = (0 until n).map { i =>
      Row(i.toLong, 1, i % 7, if (i % 11 == 0) null else (i % 5).toDouble,
        new java.math.BigDecimal(i).movePointLeft(2), s"s${i % 3}")
    }.toList
    val df = mkDf(rows)
    val scan = df.groupby("g").scanScalable(Seq("id"), Seq(
      GroupedScan.CumSum("d", "cs"), GroupedScan.CumCount("cc"),
      GroupedScan.Shift("v", 1, "sh"), GroupedScan.RankMin("rk")),
      numPartitions = 16)
    // exact triangular-number decimal sum at every position
    val got = scan.sdf.select("id", "cs", "cc", "sh", "rk").collect()
      .map(r => (r.getLong(0), r.getDecimal(1), r.getInt(2), r.get(3),
        r.getInt(4))).sortBy(_._1)
    got.foreach { case (id, cs, cc, sh, rk) =>
      val i = id.toInt
      assert(cs == new java.math.BigDecimal(i.toLong * (i + 1) / 2)
        .movePointLeft(2).setScale(2), s"cumsum at $id")
      assert(cc == i)
      assert(rk == i + 1) // order key is the unique id → all ranks distinct
      val expSh = if (i == 0) null
        else if ((i - 1) % 11 == 0) null else ((i - 1) % 5).toDouble
      assert(sh == expSh, s"shift at $id")
    }
    // and the scan really did fan out: >1 task held rows of the group
    assert(scan.sdf.rdd.getNumPartitions == 16)
  }

  test("keyless scan (groupby() with no keys) ≡ keyless window verbs") {
    val rows = (0 until 50).map { i =>
      Row(i.toLong, 0, i % 3, if (i % 4 == 0) null else i.toDouble,
        null, null)
    }.toList
    val df = mkDf(rows)
    val scan = df.groupby().scanScalable(Seq("id"), Seq(
      GroupedScan.Ffill("v", "ff"), GroupedScan.CumSum("v", "cs")),
      numPartitions = 5)
    // raw keyless window reference (Df.ffill itself routes through the
    // scan since r15 — comparing against it would be scan ≡ scan)
    val winf = df.sdf.withColumn("v",
      last(col("v"), ignoreNulls = true)
        .over(org.apache.spark.sql.expressions.Window
          .orderBy("id").rowsBetween(Long.MinValue, 0)))
    assert(byId(scan, "ff") ==
      winf.select("id", "v").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
    // keyless double cumsum: same values up to fp association; here the
    // inputs are small integers, so even the doubles are exact
    val winSum = df.sdf.withColumn("cs",
      sum(col("v")).over(org.apache.spark.sql.expressions.Window
        .orderBy("id").rowsBetween(Long.MinValue, 0)))
    assert(byId(scan, "cs") ==
      winSum.select("id", "cs").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
  }

  test("keyless Df.diff/pctChange/ffill/bfill route through GroupedScan: ≡ window forms, ceiling unreachable") {
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 50).map { i =>
      Row(i.toLong, 0, i % 3, if (i % 4 == 0) null else i.toDouble,
        if (i % 5 == 0) null
        else new java.math.BigDecimal(i).movePointLeft(2), null)
    }.toList
    val df = mkDf(rows)
    val w = Window.partitionBy().orderBy(col("id").asc)
    // a 5-row ceiling would raise on all 50-row keyless windows — the
    // scalable routing must never construct one
    spark.conf.set("graft.keylessWindowMaxRows", "5")
    try {
      val gotDiff = df.diff("v", Seq("id"), "d1", periods = 2)
      assert(!gotDiff.sdf.queryExecution.executedPlan.toString.contains("Window"))
      val wantDiff = df.sdf.withColumn("d1", col("v") - lag(col("v"), 2).over(w))
      assert(byId(gotDiff, "d1") ==
        wantDiff.select("id", "d1").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
      // negative periods = lead-diff
      val gotLead = df.diff("v", Seq("id"), "d2", periods = -1)
      val wantLead = df.sdf.withColumn("d2", col("v") - lag(col("v"), -1).over(w))
      assert(byId(gotLead, "d2") ==
        wantLead.select("id", "d2").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
      val gotPct = df.pctChange("v", Seq("id"), "p1", periods = 1)
      val wantPct = df.sdf.withColumn("p1",
        col("v") / lag(col("v"), 1).over(w) - lit(1.0))
      assert(byId(gotPct, "p1") ==
        wantPct.select("id", "p1").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
      // multi-column ffill fills BOTH columns in one scan, in place
      val gotFf = df.ffill(Seq("v", "d"), Seq("id"))
      assert(gotFf.columns == df.columns) // order + names preserved
      val wf = w.rowsBetween(Window.unboundedPreceding, 0)
      val wantFf = df.sdf
        .withColumn("v", last(col("v"), ignoreNulls = true).over(wf))
        .withColumn("d", last(col("d"), ignoreNulls = true).over(wf))
      Seq("v", "d").foreach { c =>
        assert(byId(gotFf, c) ==
          wantFf.select("id", c).collect().map(r => r.getLong(0) -> r.get(1)).toMap, c)
      }
      val gotBf = df.bfill(Seq("v"), Seq("id"))
      val wb = w.rowsBetween(0, Window.unboundedFollowing)
      val wantBf = df.sdf.withColumn("v",
        first(col("v"), ignoreNulls = true).over(wb))
      assert(byId(gotBf, "v") ==
        wantBf.select("id", "v").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
      // withColumn overwrite semantics survive the routing: out naming
      // an EXISTING column replaces it in place (position + dtype-free)
      val over = df.diff("v", Seq("id"), out = "v", periods = 1)
      assert(over.columns == df.columns)
      val wantOver = df.sdf.withColumn("v", col("v") - lag(col("v"), 1).over(w))
      assert(byId(over, "v") ==
        wantOver.select("id", "v").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
      // byte/short inputs widen to int (the kernel's explicit form of
      // the window's implicit widening), and the temp column drops
      val sh = mkDf(rows).sdf.withColumn("sv", (col("id") % 7).cast("short"))
      val gotSh = new graft.api.Df(sh).diff("sv", Seq("id"), "sd")
      assert(gotSh.columns.toSeq == (sh.columns :+ "sd").toSeq)
      val wantSh = sh.withColumn("sd",
        (col("sv").cast("int") - lag(col("sv").cast("int"), 1).over(w)))
      assert(gotSh.sdf.select("id", "sd").collect().map(r => r.getLong(0) -> r.get(1)).toMap ==
        wantSh.select("id", "sd").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
      // empty cols: ffill/bfill no-op on both routes
      assert(df.ffill(Nil, Seq("id")).columns == df.columns)
    } finally spark.conf.unset("graft.keylessWindowMaxRows")
  }

  test("empty frame, empty partitions, and a group smaller than shift k") {
    val df = mkDf(Nil)
    val out = df.groupby("g").cummaxScalable("v", Seq("id"), "cx")
    assert(out.sdf.count() == 0 && out.columns.contains("cx"))

    val tiny = mkDf(List(Row(0L, 1, 0, 2.0, null, null),
      Row(1L, 2, 0, 3.0, null, null)))
    val sh = tiny.groupby("g").shiftScalable("v", Seq("id"), periods = 5,
      out = "sh")
    assert(sh.sdf.select("sh").collect().forall(_.isNullAt(0)))
  }

  test("null group keys form one group; -0.0 and 0.0 order keys tie") {
    val schema2 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("gk", DoubleType, nullable = true),
      StructField("ok", DoubleType, nullable = true),
      StructField("v", DoubleType, nullable = true)))
    val rows2 = List(
      Row(0L, null, 1.0, 1.0), Row(1L, null, 2.0, 2.0),
      Row(2L, null, 3.0, 3.0), // null keys: ONE group of 3
      Row(3L, 5.0, -0.0, 4.0), Row(4L, 5.0, 0.0, 5.0)) // -0.0 ties 0.0
    val df = Df.fromRows(spark, rows2, schema2)
    val cc = df.groupby("gk").cumcountScalable(Seq("ok", "id"), "cc")
    assert(byId(cc, "cc") == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 0, 4L -> 1))
    val rk = df.groupby("gk").rankScalable("ok", "rk")
    assert(byId(rk, "rk") == Map(0L -> 1, 1L -> 2, 2L -> 3, 3L -> 1, 4L -> 1))
  }

  test("rolling sum/mean/min/max/count: scalable ≡ rowsBetween window across partitions") {
    import org.apache.spark.sql.expressions.Window
    trials(rowsGen, n = 6) { xs =>
      val df = mkDf(xs)
      val okeys = Seq("o", "id")
      val k = 3
      val scan = df.groupby("g").scanScalable(okeys, Seq(
        GroupedScan.Rolling("v", k, "sum", "rs"),
        GroupedScan.Rolling("v", k, "mean", "rm"),
        GroupedScan.Rolling("d", k, "sum", "rd"),
        GroupedScan.Rolling("s", k, "max", "rx"),
        GroupedScan.Rolling("v", k, "count", "rc")), numPartitions = 7)
      val w = Window.partitionBy("g").orderBy(col("o").asc, col("id").asc)
        .rowsBetween(-(k - 1), 0)
      val win = df.sdf
        .withColumn("rs", sum(col("v")).over(w))
        .withColumn("rm", avg(col("v")).over(w))
        .withColumn("rd", sum(col("d")).over(w))
        .withColumn("rx", max(col("s")).over(w))
        .withColumn("rc", count(col("v")).over(w))
      def wm(c: String): Map[Long, Any] = win.select("id", c).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      assert(byId(scan, "rs") == wm("rs"))
      assert(byId(scan, "rm") == wm("rm"))
      assert(byId(scan, "rd") == wm("rd"))
      assert(byId(scan, "rx") == wm("rx"))
      assert(byId(scan, "rc") == wm("rc"))
    }
  }

  test("rolling min/max deque: heavy duplicates + nulls, k=16 ≡ window, groups spanning 9 partitions") {
    // dedicated r19 pin for the monotonic-deque kernel: values from a
    // TINY domain (0..3, so the deque holds long runs of equal
    // candidates and evict-by-front-equality fires constantly) plus
    // nulls, k larger than most group runs (all-window states), one
    // group spanning many partitions (carry rebuild via mmFromRing)
    import org.apache.spark.sql.expressions.Window
    val dupGen: Gen[List[Row]] = Gen.choose(0, 120).flatMap { n =>
      Gen.listOfN(n, for {
        g <- Gen.choose(0, 1)
        o <- Gen.choose(0, 3)
        v <- Gen.option(Gen.choose(0, 3).map(_.toDouble))
      } yield (g, o, v))
    }.map(_.zipWithIndex.map { case ((g, o, v), i) =>
      Row(i.toLong, g, o, v.orNull, null, null)
    })
    trials(dupGen, n = 6) { xs =>
      val df = mkDf(xs)
      val k = 16
      val scan = df.groupby("g").scanScalable(Seq("o", "id"), Seq(
        GroupedScan.Rolling("v", k, "min", "rmin"),
        GroupedScan.Rolling("v", k, "max", "rmax")), numPartitions = 9)
      val w = Window.partitionBy("g").orderBy(col("o").asc, col("id").asc)
        .rowsBetween(-(k - 1), 0)
      val win = df.sdf
        .withColumn("rmin", min(col("v")).over(w))
        .withColumn("rmax", max(col("v")).over(w))
      def wm(c: String): Map[Long, Any] = win.select("id", c).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      assert(byId(scan, "rmin") == wm("rmin"))
      assert(byId(scan, "rmax") == wm("rmax"))
    }
  }

  test("ewm: scalable ≡ driver-side sequential recurrence across partition carries") {
    trials(rowsGen, n = 6) { xs =>
      val df = mkDf(xs)
      val alpha = 0.35
      val got = byId(
        df.groupby("g").ewmScalable("v", Seq("o", "id"), alpha, "ew"), "ew")
      // independent model: sequential adjusted-EWM per group in sort order
      val want = xs.groupBy(_.getInt(1)).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r.getInt(2), r.getLong(0)))
        var num = 0.0; var den = 0.0; var seen = false
        sorted.map { r =>
          val vOpt = Option(r.get(3)).map(_.asInstanceOf[Double])
          vOpt.foreach { x =>
            num = (1 - alpha) * num + x; den = (1 - alpha) * den + 1.0
            seen = true
          }
          r.getLong(0) -> (if (seen) num / den else null)
        }
      }
      assert(got.keySet == want.keySet)
      got.foreach { case (id, g) =>
        (g, want(id)) match {
          case (null, null) => ()
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
              s"ewm at $id: $a vs $b")
          case (a, b) => fail(s"ewm at $id: $a vs $b")
        }
      }
    }
  }

  test("ntile/percent_rank/cume_dist derived from (rn, n) ≡ Spark's window forms") {
    import org.apache.spark.sql.expressions.Window
    // group sizes drawn to hit every n % 4 residue and n < 4
    trials(rowsGen, n = 6) { xs =>
      val df = mkDf(xs)
      val d = df.groupby("g")
        .scanScalableOrdered(Seq("o" -> false, "id" -> true),
          Seq(GroupedScan.CumCount("__rn0")))
        .groupby("g").transform("__n" -> count(lit(1)))
      val got = d.sdf
        .withColumn("__rn", (col("__rn0") + 1).cast("long"))
        .withColumn("tile", expr(
          """CAST(CASE WHEN __rn <= (__n % 4) * (__n div 4 + 1)
            |  THEN (__rn - 1) div (__n div 4 + 1) + 1
            |  ELSE __n % 4 + (__rn - (__n % 4) * (__n div 4 + 1) - 1)
            |       div (__n div 4) + 1 END AS INT)""".stripMargin))
        .withColumn("pr", when(col("__n") === 1, lit(0.0))
          .otherwise((col("__rn") - 1).cast("double") /
            (col("__n") - 1).cast("double")))
        .withColumn("cd",
          col("__rn").cast("double") / col("__n").cast("double"))
      val w = Window.partitionBy("g").orderBy(col("o").desc, col("id").asc)
      val want = df.sdf
        .withColumn("tile", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
      def m(dd: org.apache.spark.sql.DataFrame, c: String): Map[Long, Any] =
        dd.select("id", c).collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(m(got, "tile") == m(want, "tile"))
      assert(m(got, "pr") == m(want, "pr"))
      assert(m(got, "cd") == m(want, "cd"))
    }
  }

  test("temporal and boolean extremes: cummax over timestamp/date/bool ≡ window") {
    import org.apache.spark.sql.expressions.Window
    val schema2 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", IntegerType, nullable = false),
      StructField("ts", TimestampType, nullable = true),
      StructField("dt", DateType, nullable = true),
      StructField("b", BooleanType, nullable = true)))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = (0 until 80).map { i =>
      Row(i.toLong, i % 2,
        if (i % 7 == 0) null
        else java.sql.Timestamp.from(base.plusSeconds((i * 37) % 100)),
        if (i % 5 == 0) null
        else java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + (i * 13) % 28)),
        if (i % 4 == 0) null else (i % 3 == 0))
    }.toList
    val df = Df.fromRows(spark, rows, schema2)
    val scan = df.groupby("g").scanScalable(Seq("id"), Seq(
      GroupedScan.CumMax("ts", "mts"), GroupedScan.CumMin("dt", "mdt"),
      GroupedScan.CumMax("b", "mb")), numPartitions = 9)
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Long.MinValue, 0)
    val win = df.sdf
      .withColumn("mts", max(col("ts")).over(w))
      .withColumn("mdt", min(col("dt")).over(w))
      .withColumn("mb", max(col("b")).over(w))
    def m(dd: org.apache.spark.sql.DataFrame, c: String): Map[Long, Any] =
      dd.select("id", c).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byId(scan, "mts") == m(win, "mts"))
    assert(byId(scan, "mdt") == m(win, "mdt"))
    assert(byId(scan, "mb") == m(win, "mb"))
  }

  test("partition-count sweep: numPartitions 1, 2, 31 and > rows all agree") {
    val xs = (0 until 50).map { i =>
      Row(i.toLong, i % 3, i % 4, if (i % 6 == 0) null else (i % 7).toDouble,
        new java.math.BigDecimal(i % 9).movePointLeft(2), s"v${i % 4}")
    }.toList
    val df = mkDf(xs)
    val ref = byId(df.groupby("g").cumsumScalable("d", Seq("o", "id"), "cs"), "cs")
    for (p <- Seq(1, 2, 31, 200)) {
      val got = byId(df.groupby("g").scanScalable(Seq("o", "id"),
        Seq(GroupedScan.CumSum("d", "cs")), numPartitions = p), "cs")
      assert(got == ref, s"numPartitions=$p")
    }
  }

  test("negative shift (lead), binary group keys, and output-name collision guards") {
    import org.apache.spark.sql.expressions.Window
    // lead via reversed single-verb scan ≡ window lead
    trials(rowsGen, n = 4) { xs =>
      val df = mkDf(xs)
      val sc = df.groupby("g").shiftScalable("v", Seq("o", "id"),
        periods = -2, out = "ld")
      val w = Window.partitionBy("g").orderBy(col("o").asc, col("id").asc)
      val win = df.sdf.withColumn("ld", lead(col("v"), 2).over(w))
      assert(byId(sc, "ld") ==
        win.select("id", "ld").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
    }
    // binary group keys: content equality, not reference equality
    val bschema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bk", BinaryType, nullable = true),
      StructField("v", DoubleType, nullable = true)))
    val brows = List(
      Row(0L, Array[Byte](1, 2), 1.0), Row(1L, Array[Byte](1, 2), 2.0),
      Row(2L, Array[Byte](3), 5.0), Row(3L, null, 7.0))
    val bdf = Df.fromRows(spark, brows, bschema)
    val cc = bdf.groupby("bk").cumcountScalable(Seq("id"), "cc")
    assert(byId(cc, "cc") == Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 0))
    // collision guards: scan and transform both refuse duplicate outs
    val df2 = mkDf(List(Row(0L, 0, 0, 1.0, null, null)))
    intercept[IllegalArgumentException] {
      df2.groupby("g").scanScalable(Seq("id"), Seq(
        GroupedScan.CumSum("v", "x"), GroupedScan.CumMax("v", "x")))
    }
    intercept[IllegalArgumentException] {
      df2.groupby("g").transform("v" -> avg(col("v")))
    }
  }

  test("float cumsum carry re-association stays within the standard summation error bound") {
    // The object scaladoc claims double cumsum may differ from the
    // window's sequential adds only by re-association ulps. Pin it
    // quantitatively: any two associations of a length-i sum each lie
    // within (i−1)·eps·Σ|v| of the exact sum (classic first-order
    // bound, eps = 2⁻⁵³), so the two engines differ by ≤ 2(i−1)·eps·Σ|v|
    // — asserted with a 2× safety factor for the second-order terms.
    // Magnitudes span 15 decades so the bound is actually exercised.
    val magGen: Gen[java.lang.Double] = for {
      m <- Gen.choose(-1.0, 1.0)
      e <- Gen.choose(-6, 9)
    } yield java.lang.Double.valueOf(m * math.pow(10.0, e))
    val gen: Gen[List[Row]] = Gen.choose(30, 60).flatMap { n =>
      Gen.listOfN(n, Gen.frequency(
        9 -> magGen, 1 -> Gen.const(null: java.lang.Double)))
    }.map(_.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, 0, 0, v: Any, null, null) })
    trials(gen, n = 8) { xs =>
      val df = mkDf(xs)
      // ONE group across 16 partitions: the deepest carry chain
      val scan = df.groupby("g").scanScalable(Seq("id"),
        Seq(GroupedScan.CumSum("v", "cs")), numPartitions = 16)
      val win = df.sdf.withColumn("cs",
        sum(col("v")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("id").rowsBetween(Long.MinValue, 0)))
      val got = byId(scan, "cs")
      val want = win.select("id", "cs").collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      val eps = math.pow(2.0, -53)
      var absSum = 0.0
      xs.foreach { r =>
        val id = r.getLong(0)
        val v = r.get(3).asInstanceOf[java.lang.Double]
        if (v != null) absSum += math.abs(v.doubleValue())
        (got(id), want(id)) match {
          case (null, null) => // no non-null seen yet in either engine
          case (g: java.lang.Double, w: java.lang.Double) =>
            if (g.isNaN || w.isNaN) assert(g.isNaN && w.isNaN, s"id=$id")
            else assert(math.abs(g - w) <= 4 * (id + 1) * eps * absSum,
              s"id=$id scan=$g window=$w bound=${4 * (id + 1) * eps * absSum}")
          case (g, w) => fail(s"id=$id null mismatch: scan=$g window=$w")
        }
      }
    }
  }

  test("exactQuantilesCont ≡ percentile() aggregate: duplicates, NaN, nulls, edges") {
    import graft.operators.Quantiles
    val probs = Seq(0.0, 0.25, 1.0 / 3, 0.5, 0.75, 0.999, 1.0)
    trials(rowsGen, n = 6) { xs =>
      val df = mkDf(xs)
      val withNaN = df.sdf.withColumn("v2",
        when(col("id") % 9 === 0, lit(Double.NaN)).otherwise(col("v")))
      val got = Quantiles.exactQuantilesCont(withNaN, "v2", probs)
      val want = withNaN.agg(expr(
        s"percentile(v2, array(${probs.mkString(", ")}))").as("q")).head
      if (want.isNullAt(0))
        assert(got.forall(_ == null)) // empty / all-null input
      else {
        val ws = want.getSeq[Double](0)
        probs.indices.foreach { i =>
          val g = got(i).doubleValue()
          // exact-double parity, NaN == NaN
          assert(java.lang.Double.compare(g, ws(i)) == 0,
            s"p=${probs(i)}: $g vs ${ws(i)}")
        }
      }
    }
    // empty frame → all-null cuts
    assert(Quantiles.exactQuantilesCont(mkDf(Nil).sdf, "v", Seq(0.5))
      .forall(_ == null))
  }

  test("exactOrdinalQuantilesCont ≡ per-column percentile(): weighted collapse, NaN, nulls, all-null, -0.0") {
    import graft.operators.Quantiles
    val probs = Seq(0.0, 0.25, 1.0 / 3, 0.5, 0.75, 0.999, 1.0)
    trials(rowsGen, n = 6) { xs =>
      val df = mkDf(xs)
      // v duplicates heavily (13 distinct values) — the map-side
      // collapse and the weighted cumulative walk carry real weights
      val wide = df.sdf
        .withColumn("v2",
          when(col("id") % 9 === 0, lit(Double.NaN)).otherwise(col("v")))
        .withColumn("vnull", lit(null).cast("double"))
        .withColumn("dd", col("d").cast("double"))
      val cols = Seq("v", "v2", "vnull", "dd")
      val got = Quantiles.exactOrdinalQuantilesCont(wide, cols, probs)
      cols.zipWithIndex.foreach { case (c, ci) =>
        val want = wide.agg(expr(
          s"percentile($c, array(${probs.mkString(", ")}))").as("q")).head
        if (want.isNullAt(0)) assert(got(ci).forall(_ == null), c)
        else {
          val ws = want.getSeq[Double](0)
          probs.indices.foreach { i =>
            assert(java.lang.Double.compare(
              got(ci)(i).doubleValue(), ws(i)) == 0,
              s"$c p=${probs(i)}: ${got(ci)(i)} vs ${ws(i)}")
          }
        }
      }
    }
    // empty frame → nulls for every column and prob
    assert(Quantiles.exactOrdinalQuantilesCont(
      mkDf(Nil).sdf, Seq("v", "d"), Seq(0.5))
      .forall(_.forall(_ == null)))
    // -0.0 inputs: SQL grouping normalizes the sign bit, so a quantile
    // landing on a -0.0 value surfaces as +0.0 — numerically equal
    val z = mkDf(List(
      Row(0L, 0, 0, -0.0, null, null), Row(1L, 0, 0, -0.0, null, null),
      Row(2L, 0, 0, 1.0, null, null)))
    val q = Quantiles.exactOrdinalQuantilesCont(
      z.sdf, Seq("v"), Seq(0.5)).head.head
    assert(q.doubleValue() == 0.0)
  }

  test("exactGroupQuantilesCont ≡ per-group percentile(); null groups out; maxGroups guard") {
    import graft.operators.Quantiles
    val probs = Seq(1.0 / 3, 0.5, 2.0 / 3)
    trials(rowsGen, n = 6) { xs =>
      val df = mkDf(xs)
      // group by "s" (strings with nulls) over value "v" (with nulls)
      val got = Quantiles.exactGroupQuantilesCont(df.sdf, "s", "v", probs)
      val want = df.sdf.where(col("s").isNotNull && col("v").isNotNull)
        .groupBy("s")
        .agg(expr(s"percentile(v, array(${probs.mkString(", ")}))").as("q"))
        .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, qs) =>
        probs.indices.foreach { i =>
          assert(java.lang.Double.compare(qs(i).doubleValue(),
            want(k)(i)) == 0, s"group $k p=${probs(i)}")
        }
      }
    }
    val df = mkDf((0 until 30).map(i =>
      Row(i.toLong, i % 3, i % 4, i.toDouble, null, s"g${i % 10}")).toList)
    intercept[IllegalArgumentException] {
      Quantiles.exactGroupQuantilesCont(df.sdf, "s", "v", Seq(0.5),
        maxGroups = 5)
    }
    // the guard fires from the cheap HLL pre-check too (no count-map
    // collect) AND from the exact count when the pre-check is skipped
    intercept[IllegalArgumentException] {
      Quantiles.exactGroupQuantilesCont(df.sdf, "s", "v", Seq(0.5),
        maxGroups = 5, preCheckCardinality = false)
    }
  }

  test("DIVERGENCES #20 pin: zero lagged decimal — keyless pctChange gives IEEE ±Inf/NaN, keyed window follows ANSI division") {
    // the keyless route computes in JVM doubles (the GroupedScan
    // kernel): IEEE division, so a zero lagged value yields +Infinity
    // (x/0) or NaN (0/0) — never a throw, never a NULL, independent of
    // spark.sql.ansi.enabled. The keyed window form divides with the
    // Column `/` operator, which follows the SESSION's ANSI semantics:
    // DIVIDE_BY_ZERO error under Spark 4's ANSI default, NULL with ANSI
    // off. This spec pins both sides on this session (ansi=true).
    val d = Df.fromRows(spark, Seq(
      Row(1L, "g", new java.math.BigDecimal("2.00")),
      Row(2L, "g", new java.math.BigDecimal("0.00")),
      Row(3L, "g", new java.math.BigDecimal("3.00")),
      Row(4L, "g", new java.math.BigDecimal("0.00")),
      Row(5L, "g", new java.math.BigDecimal("0.00"))),
      StructType(Seq(StructField("id", LongType),
        StructField("g", StringType), StructField("m", DecimalType(9, 2)))))
    val rows = d.pctChange("m", Seq("id"), "p").sdf.orderBy("id").collect()
    val p = rows.map(r =>
      if (r.isNullAt(r.fieldIndex("p"))) null
      else java.lang.Double.valueOf(r.getDouble(r.fieldIndex("p"))))
    assert(p(0) == null) // no lagged value on the first row
    assert(p(1) == -1.0) // 0/2 - 1
    assert(p(2) == Double.PositiveInfinity, p.toSeq) // 3/0: IEEE, not NULL
    assert(p(3) == -1.0) // 0/3 - 1
    assert(p(4) != null && p(4).isNaN, p.toSeq) // 0/0: IEEE NaN
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val thrown = intercept[Throwable] {
      d.pctChange("m", Seq("id"), "p", partitionBy = Seq("g")).sdf.collect()
    }
    val msgs = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("DIVIDE_BY_ZERO"), msgs.take(300))
  }

  test("diff/pctChange/bfill: scalable ≡ window, groups spanning 7 partitions") {
    import org.apache.spark.sql.expressions.Window
    trials(rowsGen) { xs =>
      // zero-free copies for the pct_change pins: Spark 4 ANSI raises
      // DIVIDE_BY_ZERO even for double/double, so the window form can
      // never see a 0 denominator (the kernel's IEEE ±Inf behavior on
      // zeros is pinned separately below)
      val df = new Df(mkDf(xs).sdf
        .withColumn("vnz", when(col("v") === 0.0, 0.25).otherwise(col("v")))
        .withColumn("onz", col("o") + 1))
      val okeys = Seq("o", "id")
      val w = Window.partitionBy("g").orderBy(col("o").asc, col("id").asc)
      // diff over int (o), double (v), decimal (d) — exact, incl. dtype
      val sd = df.groupby("g").scanScalable(okeys, Seq(
        GroupedScan.Diff("o", 1, "di"), GroupedScan.Diff("v", 2, "dv"),
        GroupedScan.Diff("d", 1, "dd"),
        GroupedScan.PctChange("vnz", 1, "pv"),
        GroupedScan.PctChange("onz", 2, "po")), numPartitions = 7)
      val wd = df.sdf
        .withColumn("di", col("o") - lag(col("o"), 1).over(w))
        .withColumn("dv", col("v") - lag(col("v"), 2).over(w))
        .withColumn("dd", col("d") - lag(col("d"), 1).over(w))
        .withColumn("pv", col("vnz") / lag(col("vnz"), 1).over(w) - lit(1.0))
        .withColumn("po", col("onz").cast("double") /
          lag(col("onz").cast("double"), 2).over(w) - lit(1.0))
      Seq("di", "dv", "dd", "pv", "po").foreach { c =>
        assert(byId(sd, c) == byId(new Df(wd), c), c)
        assert(sd.sdf.schema(c).dataType == wd.schema(c).dataType, c)
      }
      // bfill ≡ the window first(ignoreNulls) over-following form
      val sb = df.groupby("g").bfillScalable("v", okeys, "bf")
      val wb = df.bfill(Seq("v"), okeys, partitionBy = Seq("g"))
      assert(byId(sb, "bf") == byId(wb, "v"))
      // lead-diff: negative periods reverse the scan order
      val sl = df.groupby("g").diffScalable("v", okeys, periods = -1,
        out = "ld")
      val wl = df.sdf.withColumn("ld",
        col("v") - lag(col("v"), -1).over(w))
      assert(byId(sl, "ld") == byId(new Df(wl), "ld"))
    }
    // the kernel's IEEE zero-denominator contract (pandas): x/0−1 =
    // ±Inf, 0/0−1 = NaN — where the ANSI window form would error
    val zdf = mkDf(List(
      Row(0L, 0, 0, 0.0, null, null), Row(1L, 0, 1, 2.0, null, null),
      Row(2L, 0, 2, -3.0, null, null), Row(3L, 0, 3, 0.0, null, null),
      Row(4L, 0, 4, 0.0, null, null)))
    val zp = byId(
      zdf.groupby("g").pctChangeScalable("v", Seq("o", "id"), out = "p"), "p")
    assert(zp(0L) == null)
    assert(zp(1L) == java.lang.Double.valueOf(Double.PositiveInfinity))
    assert(zp(2L) == java.lang.Double.valueOf(-3.0 / 2.0 - 1.0))
    assert(zp(3L) == java.lang.Double.valueOf(0.0 / -3.0 - 1.0))
    assert(zp(4L).asInstanceOf[java.lang.Double].isNaN)
  }

  test("rolling var/std: scalable ≈ window var_samp/stddev_samp (incl. n<=1 → null)") {
    import org.apache.spark.sql.expressions.Window
    def approxEq(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: java.lang.Double, y: java.lang.Double) =>
        (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case _ => a == b
    }
    trials(rowsGen) { xs =>
      val df = mkDf(xs)
      val w = Window.partitionBy("g").orderBy(col("o").asc, col("id").asc)
        .rowsBetween(-2, 0)
      val sd = df.groupby("g").scanScalable(Seq("o", "id"), Seq(
        GroupedScan.Rolling("v", 3, "var", "rv"),
        GroupedScan.Rolling("v", 3, "std", "rs"),
        GroupedScan.Rolling("d", 3, "var", "rd")), numPartitions = 7)
      val wd = df.sdf
        .withColumn("rv", var_samp(col("v")).over(w))
        .withColumn("rs", stddev_samp(col("v")).over(w))
        .withColumn("rd", var_samp(col("d")).over(w))
      Seq("rv", "rs", "rd").foreach { c =>
        val got = byId(sd, c); val want = byId(new Df(wd), c)
        assert(got.keySet == want.keySet)
        got.foreach { case (id, v) =>
          assert(approxEq(v, want(id)), s"$c id=$id: $v vs ${want(id)}")
        }
      }
    }
  }

  test("exactGroupQuantilesCont: BinaryType keys group by CONTENT, -0.0 joins 0.0 (SQL grouping)") {
    import graft.operators.Quantiles
    val schemaB = StructType(Seq(
      StructField("b", BinaryType, nullable = true),
      StructField("z", DoubleType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    // fresh Array[Byte] per row: identical CONTENT, distinct objects —
    // reference-keyed maps would make every row its own cohort
    val rows = (0 until 40).map { i =>
      Row(Array[Byte]((i % 2).toByte, 7.toByte),
        if (i % 2 == 0) 0.0 else -0.0, i.toDouble)
    }.toList
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schemaB)
    val got = Quantiles.exactGroupQuantilesCont(df, "b", "v", Seq(0.5, 0.9))
    val want = df.groupBy("b")
      .agg(expr("percentile(v, array(0.5, 0.9))").as("q"))
      .collect().map(r => r.getAs[Array[Byte]](0).toSeq -> r.getSeq[Double](1))
      .toMap
    assert(got.size == want.size && got.size == 2) // 2 content cohorts
    got.foreach { case (k, qs) =>
      val w = want(k.asInstanceOf[Array[Byte]].toSeq)
      qs.indices.foreach(i => assert(
        java.lang.Double.compare(qs(i).doubleValue(), w(i)) == 0))
    }
    // -0.0 and 0.0 are ONE cohort, like Spark/DuckDB grouping
    val gz = Quantiles.exactGroupQuantilesCont(df, "z", "v", Seq(0.5))
    assert(gz.size == 1)
    val wz = df.agg(expr("percentile(v, 0.5)")).head.getDouble(0)
    assert(java.lang.Double.compare(
      gz.values.head.head.doubleValue(), wz) == 0)
    // NESTED canonicalization: a struct key holding the byte array and
    // the ±0.0 double must still form 2 content cohorts (one per byte
    // pattern), not 40 reference cohorts or 4 sign-split ones — and
    // quantileScalable must rebuild the raw struct Rows for its output
    val sdf2 = df.withColumn("k", struct(col("b"), col("z")))
    val gs = Quantiles.exactGroupQuantilesCont(sdf2, "k", "v", Seq(0.5))
    assert(gs.size == 2, gs.keys.toString)
    val ws = sdf2.groupBy("k").agg(expr("percentile(v, 0.5)").as("q"))
      .collect().map(r => r.getStruct(0).getAs[Array[Byte]](0).toSeq -> r.getDouble(1)).toMap
    gs.foreach { case (k, qs) =>
      val raw = k.asInstanceOf[Row]
      assert(java.lang.Double.compare(qs.head.doubleValue(),
        ws(raw.getAs[Array[Byte]](0).toSeq)) == 0)
    }
    val viaApi = new graft.api.Df(sdf2).groupby("k")
      .quantileScalable("v", 0.5, out = "q50").sdf.collect()
    assert(viaApi.length == 2 &&
      viaApi.forall(r => r.getStruct(0).getAs[Array[Byte]](0).length == 2))
    // GroupedScan shares the canonicalization: a scan grouped by the
    // same struct key must see 2 groups (cumcount restarts), not 4
    // sign-split or 40 reference-keyed ones
    val sc = new graft.api.Df(sdf2).groupby("k")
      .cumcountScalable(Seq("v"), "cc").sdf
      .groupBy("k").agg(max(col("cc")).as("mx")).collect()
    assert(sc.length == 2 && sc.forall(_.getInt(1) == 19), sc.mkString(";"))
  }

  test("grouped selection: collapse and raw branches agree bitwise") {
    import graft.operators.Quantiles
    // duplicate-heavy values: preCheckCardinality=true takes the
    // weighted-collapse branch, =false runs raw rows — same doubles
    val rows = (0 until 200).map { i =>
      Row(i.toLong, i % 3, 0, (i % 7).toDouble, null, null)
    }.toList
    val df = mkDf(rows).sdf
    val probs = Seq(0.25, 0.5, 0.75)
    val collapsed = Quantiles.exactGroupQuantilesContMulti(
      df, Seq("g"), "v", probs, preCheckCardinality = true)
    val raw = Quantiles.exactGroupQuantilesContMulti(
      df, Seq("g"), "v", probs, preCheckCardinality = false)
    assert(collapsed.keySet == raw.keySet && collapsed.keySet.size == 3)
    collapsed.foreach { case (k, qs) =>
      qs.indices.foreach(i => assert(java.lang.Double.compare(
        qs(i).doubleValue(), raw(k)(i).doubleValue()) == 0, s"$k p=$i"))
    }
  }

  test("quantileScalable: multi-key groups ≡ per-group percentile aggregate") {
    import org.apache.spark.sql.functions.{col => fcol}
    trials(rowsGen, n = 4) { xs =>
      val df = mkDf(xs)
      val got = df.groupby("g", "o")
        .quantileScalable("v", 0.25, out = "q25")
        .sdf.collect()
        .map(r => (r.get(0), r.get(1)) -> r.get(2)).toMap
      val want = df.sdf.where(fcol("v").isNotNull)
        .groupBy("g", "o").agg(expr("percentile(v, 0.25)").as("q25"))
        .collect().map(r => (r.get(0), r.get(1)) -> r.get(2)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, v) =>
        (v, want(k)) match {
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(java.lang.Double.compare(a, b) == 0, s"group $k")
          case (a, b) => assert(a == b, s"group $k")
        }
      }
    }
  }

  test("transform (agg + join back) ≡ whole-group window, incl. null keys and keyless") {
    import org.apache.spark.sql.expressions.Window
    val schema2 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("gk", StringType, nullable = true),
      StructField("v", DoubleType, nullable = true)))
    val rows = List(
      Row(0L, "a", 1.0), Row(1L, "a", 3.0), Row(2L, "b", 10.0),
      Row(3L, null, 7.0), Row(4L, null, null), Row(5L, "b", null))
    val df = Df.fromRows(spark, rows, schema2)
    val got = df.groupby("gk")
      .transform("m" -> avg(col("v")), "n" -> count(col("v")))
    val w = Window.partitionBy("gk")
    val want = df.sdf
      .withColumn("m", avg(col("v")).over(w))
      .withColumn("n", count(col("v")).over(w))
    assert(got.columns.sorted.toSeq ==
      Seq("gk", "id", "m", "n", "v")) // all original cols survive
    assert(byId(got, "m") ==
      want.select("id", "m").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
    assert(byId(got, "n") ==
      want.select("id", "n").collect().map(r => r.getLong(0) -> r.get(1)).toMap)
    // keyless: the global aggregate onto every row
    val g = df.groupby().transform("gm" -> max(col("v")))
    assert(byId(g, "gm").values.toSet == Set(10.0))
  }

  test("tie disambiguator: duplicate order keys across 16 partitions " +
       "yield ONE internally consistent order") {
    // every row ties on (g, o): pre-r16 the two protocol passes could
    // sort the ties differently, so a boundary carry (shift's last-k
    // ring) might disagree with the emit order — shifted values could
    // duplicate or skip rows at partition seams. With the frozen
    // map-stage tiebreak, shift(1) must read as the predecessor along
    // ONE total order: each distinct value appears at most once in the
    // shifted column, exactly one row gets null, and cumcount is a
    // permutation of 0..n-1.
    val n = 400
    val rows = (0 until n).map(i =>
      Row(i.toLong, 0, 0, i * 1.0, null, null)).toList
    val out = mkDf(rows).groupby()
      .scanScalable(Seq("o"), Seq(
        GroupedScan.Shift("v", 1, "sh"),
        GroupedScan.CumCount("cc")), numPartitions = 16)
    val got = out.sdf.select("v", "sh", "cc").collect()
      .map(r => (r.getDouble(0), if (r.isNullAt(1)) null else r.getDouble(1),
        r.getAs[Number](2).longValue))
    assert(got.length == n)
    assert(got.count(_._2 == null) == 1, "exactly one head row")
    val shifted = got.collect { case (_, s: java.lang.Double, _) => s.doubleValue }
    assert(shifted.distinct.length == n - 1,
      "a predecessor appeared twice — passes disagreed on tie order")
    assert(got.map(_._3).sorted.toSeq == (0L until n.toLong),
      "cumcount must be a permutation of 0..n-1")
    // a shifted value must be some row's value, never invented
    val vals = got.map(_._1).toSet
    assert(shifted.forall(vals.contains))
    // the reserved internal name is refused on input
    intercept[IllegalArgumentException] {
      new Df(mkDf(rows).sdf.withColumn("__graft_scan_tie", lit(1L)))
        .groupby().scanScalable(Seq("o"),
          Seq(GroupedScan.CumCount("cc2")))
    }
  }

  test("scanKeyless batch ≡ the single-verb chain, in ONE protocol") {
    // nulls for the fills, duplicates for pct/diff, unique id order key
    val rows = List(
      Row(0L, 0, 0, 2.0, null, null), Row(1L, 0, 1, null, null, "a"),
      Row(2L, 0, 2, 5.0, null, null), Row(3L, 0, 3, null, null, "b"),
      Row(4L, 0, 4, 0.0, null, null), Row(5L, 0, 5, 3.0, null, null))
    val df = mkDf(rows)
    // count scan protocols (each GroupedScan.scan runs exactly one
    // summary-collect job) — the batch must run ONE for all 7 verbs
    @volatile var protocols = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        // the summary pass is the ONLY collect in GroupedScan.scala,
        // so its result-stage name identifies one protocol run exactly
        // (exchange/emit stages are named at other call sites)
        if (j.stageInfos.exists(_.name.contains("collect at GroupedScan")))
          protocols += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val batch =
      try {
        // deterministic drain of earlier tests' queued events (not a
        // sleep-poll, which can under-wait on a loaded host)
        org.apache.spark.GraftListenerBusSync.waitUntilEmpty(
          spark.sparkContext)
        protocols = 0
        val b = df.scanKeyless(Seq("id"))(_
          .diff("v", out = "dv")
          .pctChange("v", out = "pv")
          .shift("s", out = "sh", periods = 2)
          .ffill("v", out = "v") // overwrite-in-place through the batch
          .cumsum("o", out = "cs")
          .rolling("v", 3, "mean", out = "rm")
          .cumcount(out = "cc"))
        org.apache.spark.GraftListenerBusSync.waitUntilEmpty(
          spark.sparkContext)
        assert(protocols == 1,
          s"batch ran $protocols protocols — want ONE for the whole chain")
        b
      } finally spark.sparkContext.removeSparkListener(listener)
    val chain = {
      val d1 = df.diff("v", Seq("id"), "dv")
        .pctChange("v", Seq("id"), "pv")
      val d2 = d1.groupby().shiftScalable("s", Seq("id"), 2, "sh")
      val d3 = d2.ffill(Seq("v"), Seq("id"))
      val d4 = d3.groupby().cumsumScalable("o", Seq("id"), "cs")
      val d5 = d4.groupby().rollingScalable("v", Seq("id"), 3, "mean", "rm")
      d5.groupby().cumcountScalable(Seq("id"), "cc")
    }
    assert(batch.columns.sorted.toSeq == chain.columns.sorted.toSeq)
    // NOTE: the chain applies ffill BEFORE the rolling (sequential
    // verbs see earlier outputs); the batch reads the INPUT column for
    // every verb. Keep the comparison on verbs over input columns:
    // rolling/pct/diff in the chain above also read pre-fill `v`
    // because d3 overwrites v AFTER diff/pct ran — rolling reads the
    // FILLED v in the chain but the RAW v in the batch, so compare
    // rolling against a filled-input batch instead.
    for (c <- Seq("dv", "pv", "sh", "cs", "cc", "v"))
      assert(byId(batch, c) == byId(chain, c), s"column $c diverged")
    val batchFilled = df.ffill(Seq("v"), Seq("id"))
      .scanKeyless(Seq("id"))(_.rolling("v", 3, "mean", out = "rm"))
    assert(byId(batchFilled, "rm") == byId(chain, "rm"))
    // reverse batch: bfill + lead share the reversed sort
    val rev = df.scanKeyless(Seq("id"))(_
      .bfill("v", out = "bv").shift("v", out = "lead", periods = -1))
    val revChain = df.bfill(Seq("v"), Seq("id"))
    assert(byId(rev, "bv") == byId(revChain, "v"))
    assert(byId(rev, "lead") == Map(0L -> null, 1L -> 5.0, 2L -> null,
      3L -> 0.0, 4L -> 3.0, 5L -> null))
    // mixed directions fail fast; empty batch fails fast
    intercept[IllegalArgumentException] {
      df.scanKeyless(Seq("id"))(_.ffill("v", "f").bfill("v", "b"))
    }
    intercept[IllegalArgumentException] { df.scanKeyless(Seq("id"))(b => b) }
    // a verb consuming another verb's OUTPUT names the batch
    // shared-pass contract instead of dying on a missing field
    val depErr = intercept[IllegalArgumentException] {
      df.scanKeyless(Seq("id"))(_.ffill("v", "f").cumsum("f", "cf"))
    }
    assert(depErr.getMessage.contains("another verb's OUTPUT"))
    intercept[IllegalArgumentException] {
      df.scanKeyless(Seq("id"))(_.cumsum("nope", "c"))
    }
    Df.releaseRetained()
  }

  test("scanKeyless cummax/cummin/ewm ≡ their single-verb forms") {
    val rows = (0 until 40).map { i =>
      Row(i.toLong, 0, i % 5, if (i % 6 == 0) null else ((i * 7) % 13).toDouble,
        null, if (i % 4 == 0) null else s"s${(i * 3) % 7}")
    }.toList
    val df = mkDf(rows)
    val batch = df.scanKeyless(Seq("id"))(_
      .cummax("v", out = "cx").cummin("s", out = "cn")
      .ewm("v", alpha = 0.3, out = "ew"))
    val cx = df.groupby().cummaxScalable("v", Seq("id"), "cx")
    val cn = df.groupby().cumminScalable("s", Seq("id"), "cn")
    val ew = df.groupby().ewmScalable("v", Seq("id"), 0.3, "ew")
    assert(byId(batch, "cx") == byId(cx, "cx"))
    assert(byId(batch, "cn") == byId(cn, "cn"))
    assert(byId(batch, "ew") == byId(ew, "ew"))
    Df.releaseRetained()
  }

  /** a LocalRelation-backed frame of `rows`: the scan persist gate reads
    * the optimizer's size estimate, and an RDD-backed frame
    * (`Df.fromRows`) has none, which the gate treats as OFF */
  private def localDf(rows: Seq[Row]): Df =
    new Df(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))

  test("scan persist gate forced both ways by persistAutoBytes, keyed and keyless") {
    val df = localDf((0 until 200).map { i =>
      Row(i.toLong, 0, i % 7, if (i % 9 == 0) null else (i % 11).toDouble,
        null, null)
    })
    val sc = spark.sparkContext
    val key = "spark.graft.scan.persistAutoBytes"
    Df.releaseRetained(); spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.size
    def keyless = df.scanKeyless(Seq("id"))(_
      .cumsum("v", "cs").rolling("v", 4, "min", "rm"))
    def keyed = df.groupby("g").scanScalable(Seq("id"),
      Seq(graft.operators.GroupedScan.CumSum("v", "cs")))
    try {
      // above any real frame: the two-pass re-fetch, nothing persisted
      spark.conf.set(key, Long.MaxValue.toString)
      val off = keyless
      val offCs = byId(off, "cs")
      val keyedOff = byId(keyed, "cs")
      assert(sc.getPersistentRDDs.size == before,
        "the gate OFF must not persist")
      // below any real frame: the sorted partitions are cached (pass 1
      // materializes them, so the block is observable right after)
      spark.conf.set(key, "1")
      val on = keyless
      assert(sc.getPersistentRDDs.size > before,
        "the gate ON must persist the sorted pass")
      assert(byId(on, "cs") == offCs)
      assert(byId(on, "rm") == byId(off, "rm"))
      assert(byId(keyed, "cs") == keyedOff)
      Df.releaseRetained()
      assert(sc.getPersistentRDDs.size == before,
        "releaseRetained must drain the gated persists")
    } finally {
      spark.conf.unset(key)
      Df.releaseRetained()
    }
  }

  test("adaptive scan persist gate: flips ON past the size threshold, stays OFF below it") {
    val df = localDf((0 until 200).map { i =>
      Row(i.toLong, 0, i % 7, (i % 11).toDouble, null, null)
    })
    val sc = spark.sparkContext
    val key = "spark.graft.scan.persistAutoBytes"
    Df.releaseRetained(); spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.size
    try {
      // threshold below any real frame: the gate takes the persist path
      spark.conf.set(key, "1")
      val on = df.scanKeyless(Seq("id"))(_.cumsum("v", "cs"))
      val onRows = byId(on, "cs")
      assert(sc.getPersistentRDDs.size > before,
        "the gate must persist when the size estimate >= threshold")
      Df.releaseRetained()
      // threshold above any real frame: the gate takes the re-fetch path
      spark.conf.set(key, Long.MaxValue.toString)
      val off = df.scanKeyless(Seq("id"))(_.cumsum("v", "cs"))
      val offRows = byId(off, "cs")
      assert(sc.getPersistentRDDs.size == before,
        "the gate must not persist below the threshold")
      assert(onRows == offRows,
        "results must be identical on both sides of the gate")
    } finally {
      spark.conf.unset(key)
      Df.releaseRetained()
    }
  }

  test("scanKeyless diff widens byte/short like Df.diff") {
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sv", ShortType, nullable = true)))
    val d = Df.fromRows(spark, List(Row(0L, 100.toShort),
      Row(1L, (-200).toShort), Row(2L, null)), sch)
    val b = d.scanKeyless(Seq("id"))(_.diff("sv", out = "dsv"))
    val c = d.diff("sv", Seq("id"), "dsv")
    assert(b.sdf.schema("dsv").dataType == c.sdf.schema("dsv").dataType)
    assert(byId(b, "dsv") == byId(c, "dsv"))
    // the widen temp never leaks into the output
    assert(b.columns.sorted.toSeq == Seq("dsv", "id", "sv"))
  }

  test("protocol pin sizes by Catalyst estimate: small input coalesces, " +
       "unknown-size (RDD-backed) keeps the conf") {
    import graft.operators.Gate
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a 100-row local frame estimates kilobytes → the pin drops to the
    // floor instead of launching `conf` near-empty protocol tasks
    // (the r15 q192 regression)
    val tiny = spark.range(100).selectExpr("id", "cast(id as double) as v")
    val tinyPin = Gate.shufflePartitions(tiny)
    assert(tinyPin >= 2 && tinyPin < conf, s"tiny pin $tinyPin vs conf $conf")
    // an RDD-backed frame reports defaultSizeInBytes = Long.MaxValue;
    // the BigInt ceil-division must NOT overflow negative (which pinned
    // 2 tasks on chained GroupedScans — measured q247 +60%): unknown
    // size keeps full conf parallelism
    val rddBacked = spark.createDataFrame(
      tiny.rdd.map(r => Row(r.getLong(0), r.getDouble(1))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", DoubleType, nullable = false))))
    assert(Gate.shufflePartitions(rddBacked) == conf)
    // sizing never changes RESULTS, only the partition count: a chained
    // keyless scan (RDD-backed second input) still matches the window
    val out = mkDf(List(Row(0L, 0, 1, 2.0, null, null),
        Row(1L, 0, 2, 5.0, null, null), Row(2L, 0, 3, 1.0, null, null)))
      .groupby().scanScalable(Seq("o"),
        Seq(GroupedScan.CumMax("v", "c1")))
      .groupby().scanScalable(Seq("o"),
        Seq(GroupedScan.Shift("c1", 1, "c2")))
    assert(byId(out, "c2") == Map(0L -> null, 1L -> 2.0, 2L -> 5.0))
  }
}
