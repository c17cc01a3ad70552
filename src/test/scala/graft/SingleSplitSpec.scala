package graft

import graft.api.Df
import graft.operators.{FanOut, GroupedScan, Quantiles}
import graft.plans.SingleSplit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Single-split reads ([[graft.operators.FanOut.singleSplit]]): a file
  * read Spark scans in one partition is marked `coalesce(1)`, so the
  * query above it plans no exchange and runs as one stage, and the marker
  * plans as the codegen-transparent [[graft.plans.SingleSplitExec]]. The other
  * side — a read Spark splits — keeps its exchanges, and both sides give
  * the same rows. [[TestSpark.multiSplit]] is the other side: the same
  * files read with a split size small enough that every table splits. */
class SingleSplitSpec extends AnyFunSuite {
  import TestSpark._

  private def marked(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  private def li(s: SparkSession) = Df.readParquet(s, s"$sf/lineitem.parquet")
  private def orders(s: SparkSession) = Df.readParquet(s, s"$sf/orders.parquet")

  /** a frame's rows as sorted strings: a multiset compare */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `q` gives identical rows over single-split and split reads */
  private def sameBothSides(what: String)(q: SparkSession => DataFrame): Unit = {
    val one = q(spark)
    val split = q(multiSplit)
    // the marker only ever removes exchanges (a broadcast join, say,
    // has none to remove on either side)
    assert(PlanCensus.of(split).shuffleExchanges >= PlanCensus.of(one).shuffleExchanges,
      s"$what: the single-split side planned more exchanges\n" +
        s"${one.queryExecution.executedPlan}\n${split.queryExecution.executedPlan}")
    val (a, b) = (rows(one), rows(split))
    assert(a.nonEmpty, what)
    assert(a == b, what)
  }

  private def aggSorted(s: SparkSession): DataFrame =
    li(s).sdf.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"), count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  test("a single-file read plans groupby-agg + sort with no exchange and runs one job") {
    assert(marked(li(spark).sdf))
    val q = aggSorted(spark)
    val c = PlanCensus.of(q)
    assert(c.shuffleExchanges == 0, q.queryExecution.executedPlan.toString)
    assert(q.queryExecution.executedPlan.toString.contains("SingleSplit"),
      q.queryExecution.executedPlan.toString)
    val (got, jobs) = jobsDuring(aggSorted(spark).collect())
    assert(got.nonEmpty)
    assert(jobs == 1, s"the action ran $jobs jobs")
  }

  test("the fused marker gives one partition over any scan, and one row for a global agg of none") {
    SingleSplit.install(multiSplit)
    val split = li(multiSplit).sdf
    assert(split.rdd.getNumPartitions > 1)
    val one = split.coalesce(1)
    assert(one.queryExecution.executedPlan.toString.contains("SingleSplit"))
    assert(one.rdd.getNumPartitions == 1)
    assert(rows(one) == rows(split))
    // all files pruned: the scan has no partition, the marker still one
    val tmp = java.nio.file.Files.createTempDirectory("graft_single_pruned").toString
    val r = li(spark).select("l_orderkey", "l_returnflag")
    r.where(r("l_returnflag") === "R").toParquetPartitioned(tmp, Seq("l_returnflag"))
    val back = Df.readParquet(spark, tmp)
    assert(marked(back.sdf))
    val none = back.sdf.where(col("l_returnflag") === "none")
    val scan = none.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
    assert(scan.inputRDDs().head.getNumPartitions == 0)
    assert(none.agg(count(lit(1)), sum("l_orderkey")).collect().toSeq.map(_.toSeq) ==
      Seq(Seq(0L, null)))
  }

  test("a coalesce(1) over a partition-index-dependent projection keeps CoalesceExec") {
    SingleSplit.install(multiSplit)
    val q = li(multiSplit).sdf.withColumn("id", monotonically_increasing_id()).coalesce(1)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("Coalesce 1"), p)
    val ids = q.select("id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
  }

  test("a multi-split read keeps its exchanges and is not marked") {
    assert(!marked(li(multiSplit).sdf))
    assert(FanOut.narrowScanPartitions(li(multiSplit).sdf).exists(_ > 1L))
    val c = PlanCensus.of(aggSorted(multiSplit))
    // hash exchange for the aggregate, range exchange for the sort
    assert(c.shuffleExchanges >= 2, c.toString)
    assert(rows(aggSorted(spark)) == rows(aggSorted(multiSplit)))
  }

  test("identical rows on both sides: groupby, window, merge, concat + distinct, sortValues") {
    sameBothSides("groupby")(s => li(s).select("l_orderkey", "l_quantity")
      .groupby("l_orderkey").sum().sdf)
    sameBothSides("window")(s => li(s).groupby("l_orderkey")
      .cumsum("l_linenumber", Seq("l_linenumber"), out = "cs").sdf
      .select("l_orderkey", "l_linenumber", "cs"))
    sameBothSides("merge")(s => li(s).select("l_orderkey", "l_quantity")
      .merge(orders(s).select("o_orderkey", "o_orderstatus")
        .rename(Map("o_orderkey" -> "l_orderkey")), on = Seq("l_orderkey")).sdf)
    sameBothSides("concat + distinct")(s => Df.concat(Seq(
      li(s).select("l_orderkey"),
      orders(s).select("o_orderkey").rename(Map("o_orderkey" -> "l_orderkey"))))
      .dropDuplicates().sdf)
    // a global sort: compare in ORDER, not as a multiset
    val sorted = Seq(spark, multiSplit).map(s =>
      li(s).sortValues(Seq("l_orderkey", "l_linenumber")).sdf
        .select("l_orderkey", "l_linenumber").collect().toSeq)
    assert(sorted(0).nonEmpty && sorted(0) == sorted(1))
  }

  test("identical rows on both sides: GroupedScan and Quantiles") {
    sameBothSides("GroupedScan")(s => GroupedScan.scan(
      li(s).sdf.select("l_orderkey", "l_linenumber", "l_quantity"),
      Seq("l_orderkey"), Seq("l_linenumber" -> true),
      Seq(GroupedScan.CumSum("l_quantity", "cs"))).sdf)
    val q = Seq(spark, multiSplit).map(s =>
      Quantiles.exactQuantilesCont(li(s).sdf, "l_extendedprice", Seq(0.1, 0.5, 0.9)))
    assert(q(0) == q(1))
    val g = Seq(spark, multiSplit).map(s => Quantiles.exactGroupQuantilesCont(
      li(s).sdf, "l_returnflag", "l_quantity", Seq(0.25, 0.75)))
    assert(g(0).nonEmpty && g(0) == g(1))
  }

  test("a FanOut site over a single-split read still plans its RoundRobin exchange") {
    val read = li(spark).sdf
    assert(marked(read))
    assert(FanOut.narrowScanPartitions(read).contains(1L))
    val narrow = read.select(col("l_orderkey"), explode(split(col("l_returnflag"), "")))
    assert(FanOut.narrowScanPartitions(narrow).contains(1L))
    val plan = FanOut(narrow).queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"), plan)
  }

  test("the decision runs no job, and marking is idempotent") {
    val (read, jobs) = jobsDuring(li(spark).sdf)
    assert(jobs == 0)
    assert(FanOut.singleSplit(read) eq read) // already marked: a plan, not a relation
  }

  test("readEventsStream is unchanged: a streaming read is never marked") {
    val dir = java.nio.file.Files.createTempDirectory("graft_single_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = graft.streaming.StreamOps.readEventsStream(spark, dir.toString)
    assert(stream.isStreaming)
    assert(!stream.queryExecution.analyzed.exists(_.isInstanceOf[Repartition]),
      stream.queryExecution.analyzed.toString)
  }

  test("spark.sql.maxSinglePartitionBytes guards joins of marked reads, not aggregates") {
    val s = spark.newSession()
    s.conf.set("spark.sql.maxSinglePartitionBytes", "1")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = li(s).select("l_orderkey").merge(orders(s).select("o_orderkey")
      .rename(Map("o_orderkey" -> "l_orderkey")), on = Seq("l_orderkey")).sdf
    assert(PlanCensus.of(j).shuffleExchanges == 2, j.queryExecution.executedPlan.toString)
    assert(PlanCensus.of(aggSorted(s)).shuffleExchanges == 0)
  }
}
