package graft

import graft.api.Df
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** A session whose file reads split into several partitions even at
    * [[sf]]'s size (16 KiB splits: lineitem 8, orders 3), so they are not
    * single-split reads and keep the exchanges above them. Specs that
    * pin an exchange of that path read through it. */
  lazy val multiSplit: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    s
  }

  // NOTE: suites that count jobs via SparkListener drain the async bus
  // deterministically with org.apache.spark.GraftListenerBusSync
  // .waitUntilEmpty — do NOT reintroduce sleep-polling (the r17 flake
  // class: quiet-window polls can under-wait on a loaded host).

  /** jobs started while `body` runs, after the listener bus drains;
    * `counted` selects jobs by their first stage's name (the call site) */
  def jobsDuring[T](body: => T, counted: String => Boolean = _ => true): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBusSync.waitUntilEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (counted(j.stageInfos.sortBy(_.stageId).headOption.fold("")(_.name)))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftListenerBusSync.waitUntilEmpty(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** Differential tests for the wrapper surface itself — the reference's
  * test species 1 (SURVEY.md §5): operator output vs an independently
  * computed expectation. Oracle-level checks live in the driver's
  * Verify/DuckDB gate; these cover API paths the gate doesn't reach. */
class ApiSpec extends AnyFunSuite {
  import TestSpark._

  private def li = Df.readParquet(spark, s"$sf/lineitem.parquet")
  private def f1: Df = {
    val rows = (0L until 100L).map(i => Row(i, i * 10.0))
    Df.fromRows(spark, rows, StructType(Seq(
      StructField("x", LongType), StructField("y", DoubleType))))
  }

  test("projection: scalar key yields Ser, list yields Df") {
    assert(f1.select("x").columns == Seq("x"))
    assert(f1("y").name == "y")
    assert(f1(Seq("y", "x")).columns == Seq("y", "x"))
  }

  test("filter via boolean mask Ser") {
    val d = f1
    assert(d(d("x") < 10).count() == 10)
    assert(d(d("x").between(10, 19) && d("y") > 150.0).count() == 4)
  }

  test("assign + binop chains match manual computation") {
    val d = f1
    val r = d.assign("z", d("x") * 2 + 1).sdf
      .agg(sum("z")).collect()(0).getLong(0)
    assert(r == (0 until 100).map(i => i * 2 + 1).sum)
  }

  test("xor and invert boolean semantics") {
    val d = f1
    val both = d.assign("a", d("x") < 50).assign("b", d("x") < 25)
    val x = both.sdf.filter((col("a") =!= col("b"))).count()
    val viaXor = d(((d("x") < 50) ^ (d("x") < 25))).count()
    assert(x == viaXor && viaXor == 25)
  }

  test("fillna/isna honor both null and NaN (pandas missing semantics)") {
    val rows = Seq(Row(1.0), Row(Double.NaN), Row(null))
    val d = Df.fromRows(spark, rows,
      StructType(Seq(StructField("v", DoubleType))))
    assert(d(d("v").isna).count() == 2)
    assert(d(d("v").notna).count() == 1)
  }

  test("head with keys is deterministic top-k, tail reverses") {
    val h = li.head(3, byKeys = Seq("l_orderkey", "l_linenumber")).compute()
    val keys = h.map(r => (r.getLong(0), r.getInt(3)))
    assert(keys.sliding(2).forall(p => implicitly[Ordering[(Long, Int)]].lteq(p(0), p(1))))
    val t = li.tail(3, byKeys = Seq("l_orderkey", "l_linenumber")).compute()
    assert(t.length == 3)
    assert(t.head.getLong(0) >= h.head.getLong(0))
  }

  test("dropDuplicates subset") {
    assert(li.dropDuplicates(Seq("l_returnflag")).count() == 3)
  }

  test("merge suffixes rename only overlapping non-key columns") {
    val a = f1
    val b = a.assign("y", a("y") * 2)
    val m = a.merge(b, on = Seq("x"), how = "inner")
    assert(m.columns.toSet == Set("x", "y_x", "y_y"))
    val r = m.sdf.filter(col("x") === 3).collect()(0)
    assert(r.getAs[Double]("y_x") == 30.0 && r.getAs[Double]("y_y") == 60.0)
  }

  test("merge indicator marks both/left_only/right_only") {
    val a = f1.where(col("x") < 60).select("x")
    val b = f1.where(col("x") >= 40).select("x")
    val m = a.merge(b, on = Seq("x"), how = "outer", indicator = true)
    val counts = m.sdf.groupBy("_merge").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("left_only" -> 40L, "both" -> 20L, "right_only" -> 40L))
  }

  test("concat outer null-fills missing columns; inner keeps common") {
    val a = f1
    val b = f1.rename(Map("y" -> "z"))
    val outer = Df.concat(Seq(a, b), "outer")
    assert(outer.columns.toSet == Set("x", "y", "z") && outer.count() == 200)
    val inner = Df.concat(Seq(a, b), "inner")
    assert(inner.columns == Seq("x") && inner.count() == 200)
  }

  test("combineFirst patches nulls from other frame") {
    val a = f1.where(col("x") < 50)
    val b = f1.assign("y", lit(-1.0))
    val cf = a.combineFirst(b, on = Seq("x"))
    assert(cf.count() == 100)
    val vals = cf.sdf.filter(col("x").isin(10, 60)).orderBy("x").collect()
    assert(vals(0).getAs[Double]("y") == 100.0) // from a
    assert(vals(1).getAs[Double]("y") == -1.0)  // patched from b
  }

  test("groupby agg spec flattens names pandas-style") {
    val d = f1
    val g = d.assign("k", d("x") % 10)
      .groupby("k").agg(Map("y" -> Seq("sum", "mean"), "x" -> Seq("count")))
    assert(g.columns.toSet == Set("k", "y_sum", "y_mean", "x_count"))
    assert(g.count() == 10)
  }

  test("groupby prod matches direct product") {
    val d = Df.fromRows(spark,
      Seq(Row("a", 2.0), Row("a", 3.0), Row("b", -4.0), Row("b", 0.5), Row("c", 0.0)),
      StructType(Seq(StructField("k", StringType), StructField("v", DoubleType))))
    val r = d.groupby("k").prod().sdf.orderBy("k").collect()
      .map(r => r.getString(0) -> math.rint(r.getDouble(1) * 1e9) / 1e9).toMap
    assert(r == Map("a" -> 6.0, "b" -> -2.0, "c" -> 0.0))
  }

  test("ddof variance beyond 0/1") {
    val d = f1.assign("k", lit(1L)).select("k", "y")
    val v2 = d.groupby("k").varr(ddof = 2).sdf.collect()(0).getAs[Double]("y")
    val ys = (0 until 100).map(_ * 10.0)
    val mean = ys.sum / ys.size
    val m2 = ys.map(y => (y - mean) * (y - mean)).sum
    assert(math.abs(v2 - m2 / (ys.size - 2)) < 1e-6)
  }

  test("setIndex/joinIndex/resetIndex round-trip") {
    val d = f1
    val a = d.setIndex("x")
    assert(a.indexCol.contains("x"))
    val b = d.assign("w", d("y") + 1).select("x", "w")
      .rename(Map("x" -> "i")).setIndex("i")
    val j = a.joinIndex(b, how = "left")
    assert(j.columns.toSet == Set("x", "y", "w"))
    assert(j.resetIndex.indexCol.isEmpty)
  }

  test("withCatCodes builds sorted-distinct dictionary codes") {
    val codes = li.withCatCodes("l_returnflag", "code")
      .select("l_returnflag", "code").dropDuplicates().sdf
      .orderBy("l_returnflag").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(codes == Map("A" -> 0, "N" -> 1, "R" -> 2))
  }

  test("withCatCodes refuses high-cardinality columns at the cap") {
    // l_orderkey is no categorical: with a tiny cap the guard must fire
    // BEFORE any window/broadcast is planned
    val e = intercept[IllegalArgumentException](
      li.withCatCodes("l_orderkey", "code", maxCategories = 10))
    assert(e.getMessage.contains("maxCategories") ||
      e.getMessage.contains("distinct values"))
    spark.catalog.clearCache()
  }

  test("splitByHash is deterministic and stable under reordering") {
    val a = li.splitByHash("l_orderkey", 0.2).sdf
      .select("l_orderkey", "l_linenumber", "split")
    val b = new Df(li.sdf.repartition(7)).splitByHash("l_orderkey", 0.2).sdf
      .select("l_orderkey", "l_linenumber", "split")
    // same key → same split, regardless of partitioning or run
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val frac = a.where(col("split") === "holdout").count().toDouble / a.count()
    assert(math.abs(frac - 0.2) < 0.05)
    intercept[IllegalArgumentException](li.splitByHash("l_orderkey", 1.5))
  }

  test("groupby sampleN draws exactly min(n, group size) per group") {
    val g = li.select("l_orderkey", "l_returnflag").groupby("l_returnflag")
    val counts = g.sampleN(7, seed = 3L).groupby("l_returnflag").size()
      .sdf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val srcCounts = li.groupby("l_returnflag").size()
      .sdf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == srcCounts.keySet)
    assert(counts.forall { case (k, n) => n == math.min(7L, srcCounts(k)) })
  }

  test("withRowIndex materializes 0-based ordinal by sort key") {
    val d = li.withRowIndex(Seq("l_orderkey", "l_linenumber"))
    val first = d.sdf.orderBy("__index__").limit(2).collect()
    assert(first(0).getAs[Int]("__index__") == 0)
    assert(first(1).getAs[Int]("__index__") == 1)
  }

  test("withRowIndexScalable equals the window ordinal, multi-partition") {
    val keys = Seq("l_orderkey", "l_linenumber")
    val win = li.withRowIndex(keys).sdf
      .selectExpr("l_orderkey", "l_linenumber", "cast(__index__ AS long) AS i")
    val scalable = li.withRowIndexScalable(keys, numPartitions = 7).sdf
      .selectExpr("l_orderkey", "l_linenumber", "__index__ AS i")
    assert(scalable.rdd.getNumPartitions > 1) // genuinely parallel
    assert(win.exceptAll(scalable).isEmpty && scalable.exceptAll(win).isEmpty)
  }

  test("partitionLengths: one length per partition, sums to len") {
    val d = new Df(li.sdf.repartition(5))
    val lens = d.partitionLengths.sdf.collect()
    assert(lens.length == 5)
    assert(lens.map(_.getLong(1)).sum == li.count())
    // empty partitions report 0 instead of vanishing
    val sparse = new Df(li.sdf.limit(2).repartition(6))
    val sl = sparse.partitionLengths.sdf.collect()
    assert(sl.length == 6 && sl.map(_.getLong(1)).sum == 2)
  }

  test("eval parses SQL expressions (pandas df.eval analog)") {
    val r = f1.eval("z", "x + y / 10").sdf.agg(sum("z")).collect()(0)
    assert(r.getDouble(0) == (0 until 100).map(i => i + i.toDouble).sum)
  }

  test("eval single-string form parses 'name = expr' like pandas") {
    val d = f1
    val a = d.eval("z = x + y / 10").sdf.agg(sum("z")).collect()(0).getDouble(0)
    val b = d.eval("z", "x + y / 10").sdf.agg(sum("z")).collect()(0).getDouble(0)
    assert(a == b)
    // comparisons are not assignments: == survives the split, <= rejects
    val cmp = d.eval("w = x == 3").sdf.where(col("w")).count()
    assert(cmp == 1)
    val e = intercept[IllegalArgumentException](d.eval("x <= 3"))
    assert(e.getMessage.contains("name = expression"))
    // a second bare '=' must not silently become SQL equality
    val e2 = intercept[IllegalArgumentException](d.eval("z = x = 3"))
    assert(e2.getMessage.contains("=="))
  }

  test("eval single-string form: '=' inside quoted literals is not chained assignment") {
    val d = Df.fromRows(spark, Seq(Row(1L, "a=b"), Row(2L, "c")),
      StructType(Seq(StructField("x", LongType), StructField("s", StringType))))
    // a bare '=' INSIDE a string literal is data, not assignment
    assert(d.eval("z = s == 'a=b'").sdf.where(col("z")).count() == 1)
    assert(d.eval("z = concat(s, \"t=u\")").sdf
      .where(col("z") === "a=bt=u").count() == 1)
    // a backslash-ESCAPED quote inside the literal must not split it
    // (Spark parses 'a\'=b' as the literal a'=b)
    assert(d.eval("z = s == 'a\\'=b'").sdf.where(col("z")).count() == 0)
    // and stripping literals must not mask a REAL chained assignment
    val e = intercept[IllegalArgumentException](d.eval("z = s = 'a=b'"))
    assert(e.getMessage.contains("=="))
  }

  test("assign with stale Ser fails fast with lineage-rule message") {
    val d = f1
    val stale = d("y") * 2           // bound to d, which still has y
    val narrowed = d.select("x")     // y dropped
    val e = intercept[IllegalArgumentException](narrowed.assign("z", stale))
    assert(e.getMessage.contains("Re-derive the Ser"))
  }

  test("explode_outer keeps empty/null rows like pandas explode") {
    val d = Df.fromRows(spark,
      Seq(Row(1L, Seq(10L, 20L)), Row(2L, Seq.empty[Long]), Row(3L, null)),
      StructType(Seq(StructField("id", LongType),
        StructField("a", ArrayType(LongType)))))
    val e = d.explode("a")
    assert(e.count() == 4) // 2 + empty-row + null-row
  }

  test("categorical: asKnown computes the sorted dictionary eagerly") {
    val d = Df.fromRows(spark,
      Seq(Row("b"), Row("a"), Row("c"), Row("a"), Row(null)),
      StructType(Seq(StructField("v", StringType))))
    assert(!d("v").cat.known)
    val kc = d("v").cat.asKnown
    assert(kc.known && kc.categories == Seq("a", "b", "c"))
    val codes = d.assign("code", kc.codes).sdf.collect()
      .map(r => Option(r.getString(0)).getOrElse("∅") -> r.getInt(1)).toSet
    assert(codes == Set("a" -> 0, "b" -> 1, "c" -> 2, "∅" -> -1))
    // miscalled high-cardinality column: the withCatCodes guard — a
    // clear fail-fast, not an unbounded dictionary collect (the limit
    // is pushed into the job, so ≤ cap+1 rows ever ship)
    val wide = new Df(spark.range(0, 50)
      .selectExpr("cast(id as string) as v"))
    val err = intercept[IllegalArgumentException] {
      wide("v").cat.asKnown(maxCategories = 10)
    }
    assert(err.getMessage.contains("over 10 distinct values"))
    // at exactly the cap it still succeeds
    assert(wide("v").cat.asKnown(maxCategories = 50).categories.length == 50)
  }

  test("categorical: remove nulls values out and compacts codes") {
    val d = Df.fromRows(spark, Seq(Row("a"), Row("b"), Row("c")),
      StructType(Seq(StructField("v", StringType))))
    val kc = d("v").cat.asKnown.removeCategories(Seq("b"))
    assert(kc.categories == Seq("a", "c"))
    val out = d.assign("val2", kc.values).assign("code", kc.codes).sdf
      .orderBy("v").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getInt(2)))
    assert(out.toSeq == Seq(("a", Some("a"), 0), ("b", None, -1), ("c", Some("c"), 1)))
    intercept[IllegalArgumentException](kc.removeCategories(Seq("zzz")))
  }

  test("categorical: rename relabels dictionary AND data, codes unchanged") {
    val d = Df.fromRows(spark, Seq(Row("a"), Row("b")),
      StructType(Seq(StructField("v", StringType))))
    val kc = d("v").cat.asKnown.renameCategories(Map("a" -> "z"))
    assert(kc.categories == Seq("z", "b"))
    val out = d.assign("val2", kc.values).assign("code", kc.codes).sdf
      .orderBy("v").collect()
      .map(r => (r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq(("z", 0), ("b", 1)))
  }

  test("categorical: renames apply simultaneously (swap) and reject dups") {
    val d = Df.fromRows(spark, Seq(Row("a"), Row("b")),
      StructType(Seq(StructField("v", StringType))))
    val kc = d("v").cat.asKnown
    // swap: a→b, b→a must NOT chain (sequential folding would turn
    // every "a" into "b" and then back into "a")
    val swapped = kc.renameCategories(Map("a" -> "b", "b" -> "a"))
    assert(swapped.categories == Seq("b", "a"))
    val out = d.assign("val2", swapped.values).sdf
      .orderBy("v").collect().map(_.getString(1))
    assert(out.toSeq == Seq("b", "a"))
    // collapsing two categories into one is a pandas ValueError
    intercept[IllegalArgumentException](kc.renameCategories(Map("a" -> "b")))
    // non-category keys are ignored (pandas), never rewriting
    // out-of-dictionary data values into a live category
    val narrowed = kc.removeCategories(Seq("b"))
    val ignored = narrowed.renameCategories(Map("b" -> "a2", "a" -> "z"))
    assert(ignored.categories == Seq("z"))
    val vals = d.assign("val2", ignored.values).sdf
      .orderBy("v").collect().map(r => Option(r.getString(1)))
    assert(vals.toSeq == Seq(Some("z"), None)) // "b" stays null, not "a2"
  }

  test("categorical: reorder recodes, add grows dict, set nulls outsiders") {
    val d = Df.fromRows(spark, Seq(Row("a"), Row("b"), Row("c")),
      StructType(Seq(StructField("v", StringType))))
    val kc = d("v").cat.asKnown
    val re = kc.reorderCategories(Seq("c", "b", "a"))
    val codes = d.assign("code", re.codes).sdf.orderBy("v").collect().map(_.getInt(1))
    assert(codes.toSeq == Seq(2, 1, 0))
    intercept[IllegalArgumentException](kc.reorderCategories(Seq("c", "b")))
    val added = kc.addCategories(Seq("d"))
    assert(added.categories == Seq("a", "b", "c", "d"))
    intercept[IllegalArgumentException](kc.addCategories(Seq("a")))
    val set = kc.setCategories(Seq("b"))
    assert(d.assign("val2", set.values).sdf
      .filter(col("val2").isNotNull).count() == 1)
    assert(kc.asOrdered.ordered && !kc.asOrdered.asUnordered.ordered)
    assert(!kc.asUnknown.cat.known)
  }

  test("map honors na_action and null keys (pandas na_action semantics)") {
    val d = Df.fromRows(spark, Seq(Row("a"), Row("b"), Row(null)),
      StructType(Seq(StructField("v", StringType))))
    // default: null key in the mapping rewrites missing values
    val viaNullKey = d.assign("m", d("v").map(Map("a" -> "A", (null: Any) -> "NA")))
      .sdf.collect().map(_.getString(1)).toSet
    assert(viaNullKey == Set("A", null, "NA"))
    // na_action='ignore': nulls short-circuit, mapping never consulted
    val ignored = d.assign("m",
        d("v").map(Map("a" -> "A", (null: Any) -> "NA"), naAction = Some("ignore")))
      .sdf.collect().map(_.getString(1)).toSet
    assert(ignored == Set("A", null))
  }

  test("selectDtypes exclude drops matching columns (exclude wins)") {
    val c = Df.readParquet(spark, s"$sf/customer.parquet")
    val noStrings = c.selectDtypes(exclude = _ == StringType)
    assert(noStrings.columns == Seq("c_custkey", "c_nationkey", "c_acctbal"))
    val both = c.selectDtypes(
      include = _.isInstanceOf[NumericType], exclude = _ == DoubleType)
    assert(both.columns == Seq("c_custkey", "c_nationkey"))
  }

  test("toFrameWithIndex carries the index column (ToFrameIndex)") {
    val d = f1.setIndex("x")
    val fr = (d("y") * 2).as("y2").toFrameWithIndex("x")
    assert(fr.columns == Seq("x", "y2") && fr.indexCol.contains("x"))
    assert(fr.sdf.filter(col("x") === 3).collect()(0).getAs[Double]("y2") == 60.0)
  }

  test("replaceRegex rewrites via pattern; saltedJoin rejects outer") {
    val d = Df.fromRows(spark, Seq(Row("ab12", 1L), Row("cd34", 2L)),
      StructType(Seq(StructField("s", StringType), StructField("k", LongType))))
    val r = d.replaceRegex("[0-9]+", "#").sdf.collect().map(_.getString(0)).toSet
    assert(r == Set("ab#", "cd#"))
    val e = intercept[IllegalArgumentException](
      d.saltedJoin(d, Seq("k"), "outer", salt = 4))
    assert(e.getMessage.contains("inner|left"))
  }

  test("applyRows with args operand and applyColumns (axis=0) forms") {
    import spark.implicits._
    val withArgs = f1.applyRows[(Long, Double)](
      (r: Row, args: Seq[Any]) =>
        (r.getLong(0), r.getDouble(1) * args.head.asInstanceOf[Double]),
      args = Seq(0.5))
    val v = withArgs.sdf.filter(col("_1") === 4).collect()(0).getDouble(1)
    assert(v == 20.0)
    val perCol = f1.applyColumns(c => org.apache.spark.sql.functions.max(c), "_max")
    val row = perCol.sdf.collect()(0)
    assert(perCol.columns == Seq("x_max", "y_max"))
    assert(row.getLong(0) == 99L && row.getDouble(1) == 990.0)
  }

  test("rangeJoin equals the naive theta join, at any bucket width") {
    val points = f1.select("x", "y") // y = x*10 in [0, 990]
    val ivs = Df.fromRows(spark, Seq(
      Row(1L, 0.0, 100.0), Row(2L, 50.0, 260.0), Row(3L, 990.0, 2000.0),
      Row(4L, -50.0, -10.0)),
      StructType(Seq(StructField("iv", LongType),
        StructField("lo", DoubleType), StructField("hi", DoubleType))))
    val naive = points.sdf.join(ivs.sdf,
      col("y") >= col("lo") && col("y") <= col("hi"))
      .select("x", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(7.0, 100.0, 1000.0)) {
      val got = points.rangeJoin(ivs, "y", "lo", "hi", bucketWidth = w)
        .select("x", "iv").sdf.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive, s"bucketWidth=$w")
    }
  }

  test("groupby cumsum convenience matches running total") {
    val d0 = f1
    val d = d0.assign("k", d0("x") % 2)
    val out = d.groupby("k").cumsum("y", Seq("x")).sdf
      .filter(col("x") === 6).collect()(0)
    // even xs up to 6: y = 0 + 20 + 40 + 60
    assert(out.getAs[Double]("cumsum") == 120.0)
  }

  test("str pad/get/isalpha accessor additions") {
    val d = Df.fromRows(spark, Seq(Row("ab")),
      StructType(Seq(StructField("v", StringType))))
    assert(d.assign("p", d("v").str.pad(4, "*")).sdf.collect()(0).getString(1) == "**ab")
    assert(d.assign("p", d("v").str.pad(4, "*", "right")).sdf.collect()(0).getString(1) == "ab**")
    // CPython center quirk: odd width + odd margin → extra char LEFT
    assert(d.assign("p", d("v").str.pad(5, "*", "both")).sdf.collect()(0).getString(1) == "**ab*")
    assert(d.assign("p", d("v").str.pad(6, "*", "both")).sdf.collect()(0).getString(1) == "**ab**")
    intercept[IllegalArgumentException](d("v").str.pad(5, "*", "Left"))
    intercept[IllegalArgumentException](d("v").str.pad(5, "**"))
    assert(d.assign("g", d("v").str.get(1)).sdf.collect()(0).getString(1) == "b")
    // negative index counts from the end (pandas); out-of-range → null
    assert(d.assign("g", d("v").str.get(-1)).sdf.collect()(0).getString(1) == "b")
    assert(d.assign("g", d("v").str.get(-2)).sdf.collect()(0).getString(1) == "a")
    assert(d.assign("g", d("v").str.get(5)).sdf.collect()(0).isNullAt(1))
    assert(d.assign("a", d("v").str.isalpha).sdf.collect()(0).getBoolean(1))
    // Unicode classes, like pandas
    val u = Df.fromRows(spark, Seq(Row("café")),
      StructType(Seq(StructField("v", StringType))))
    assert(u.assign("a", u("v").str.isalpha).sdf.collect()(0).getBoolean(1))
  }

  test("isna/notna dispatch on dtype — string cols survive ANSI mode") {
    // restore the UNSET state if ansi wasn't explicitly set: restoring
    // a read-with-default would pin ansi=false for every later suite
    // in this JVM and mask ANSI-only failures (test-order dependency)
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val d = Df.fromRows(spark,
        Seq(Row(1L, "abc", 1.0), Row(2L, null, Double.NaN), Row(3L, "5", null)),
        StructType(Seq(StructField("k", LongType),
          StructField("s", StringType), StructField("v", DoubleType))))
      // string col: no cast-to-double (would throw CAST_INVALID_INPUT
      // under ANSI on "abc"; with ANSI off it would yield null and
      // silently drop row 1 from the notna filter)
      val kept = d.where(d("s").notna).sdf.collect().map(_.getLong(0)).sorted
      assert(kept.toSeq == Seq(1L, 3L))
      // float col: NaN still counts as missing (pandas semantics)
      val naFlags = d.assign("na", d("v").isna).sdf
        .orderBy("k").collect().map(_.getBoolean(3))
      assert(naFlags.toSeq == Seq(false, true, true))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None    => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }
}
