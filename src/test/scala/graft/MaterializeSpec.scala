package graft

import graft.api.Df
import graft.operators.{Curation, Dedup, Funnels, Graphs, Materialize}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The one-owner contract of [[graft.operators.Materialize]]: an
  * operator whose construction job fails strands nothing that
  * `Df.releaseRetained()` cannot reach, and no operator code persists,
  * checkpoints or attaches around the scope. */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  private def cacheIsEmpty(): Boolean =
    spark.sparkContext.getPersistentRDDs.isEmpty &&
      spark.sharedState.cacheManager.isEmpty

  /** Run `body`, which must fail with the test's "boom", then release
    * through `Df.releaseRetained()` alone (no `clearCache`) and require
    * that no persistent RDD and no cached plan is left. */
  private def strandsNothing(body: => Any): Unit = {
    Df.releaseRetained()
    spark.catalog.clearCache()
    assert(cacheIsEmpty(), "dirty slate")
    val e = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    Df.releaseRetained()
    val left = spark.sparkContext.getPersistentRDDs
    val cacheEmpty = spark.sharedState.cacheManager.isEmpty
    spark.catalog.clearCache() // keep a failure here from cascading
    left.values.foreach(_.unpersist(false))
    assert(left.isEmpty && cacheEmpty,
      s"after releaseRetained: ${left.size} persistent RDDs " +
        s"(${left.values.map(r => s"${r.id}:${r.name}").mkString("; ")}), " +
        s"cacheManager empty: $cacheEmpty")
  }

  /** `c`, except that the row whose `id` is `bad` raises "boom". */
  private def boomAt(id: Column, bad: Long, c: Column): Column =
    when(id === bad, raise_error(lit("boom"))).otherwise(c)

  private def docs: Df = {
    val rows = (1L to 40L).map(i => Row(i, s"line $i\nshared footer\nline ${i % 7}"))
    val d = Df.fromRows(spark, rows, StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))))
    new Df(d.sdf.withColumn("text", boomAt(col("id"), 17L, col("text"))))
  }

  private def pairs: DataFrame = {
    val rows = (1L to 30L).map(i => Row(i, i + 1))
    Df.fromRows(spark, rows, StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))).sdf
      .withColumn("a", boomAt(col("a"), 12L, col("a")))
  }

  test("a barrier operator whose barrier job fails releases its frames") {
    strandsNothing(Curation.dedupLines(docs, "text", "id"))
  }

  test("funnel: a failing step-2 barrier releases the step-1 cohort") {
    import java.sql.Timestamp
    val rows = (1L to 20L).flatMap { u =>
      Seq(Row(u, new Timestamp(u * 1000), "view"),
        Row(u, new Timestamp(u * 1000 + 500), "click"))
    }
    val e = Df.fromRows(spark, rows, StructType(Seq(StructField("u", LongType),
      StructField("ts", TimestampType), StructField("t", StringType)))).sdf
      .withColumn("ts",
        when(col("u") === 9L && col("t") === "click", raise_error(lit("boom")))
          .otherwise(col("ts")))
    strandsNothing(Funnels.funnel(e, "u", "ts", "t", Seq("view", "click"), 60L))
  }

  test("connectedComponents: a failing init checkpoint releases the edges") {
    strandsNothing(Dedup.connectedComponents(new Df(pairs), "a", "b"))
  }

  test("pageRank: a failing node count releases the normalized edges") {
    strandsNothing(Graphs.pageRank(pairs, "a", "b"))
  }

  test("a checkpoint whose own job fails leaves no persisted RDD") {
    // no shuffle below the checkpoint, so the failing job is the
    // checkpoint's own, after Spark has persisted its RDD
    val narrow = pairs.select((col("a") + 1).as("a"))
    strandsNothing(Materialize.scope(_.checkpoint(narrow)))
    // on success it runs the one job an eager localCheckpoint runs
    val ok = Df.fromRows(spark, (1L to 30L).map(Row(_)),
      StructType(Seq(StructField("a", LongType)))).sdf.select((col("a") + 1).as("a"))
    val (eager, eagerJobs) = jobsDuring(ok.localCheckpoint())
    val (held, heldJobs) = jobsDuring(Materialize.scope(_.checkpoint(ok)))
    assert(heldJobs == eagerJobs && heldJobs == 1)
    assert(held.collect().toSeq == eager.collect().toSeq)
    Df.releaseRetained()
    Df.unpersistAny(eager)
    assert(cacheIsEmpty())
  }

  test("a scan's gated sorted frame is attached to its result") {
    val rows = (0 until 200).map(i => Row(i.toLong, i % 7, (i % 11).toDouble))
    // LocalRelation-backed, so the scan persist gate has a size estimate
    val df = new Df(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType), StructField("g", IntegerType),
        StructField("v", DoubleType)))))
    val key = "spark.graft.scan.persistAutoBytes"
    Df.releaseRetained()
    spark.catalog.clearCache()
    assert(cacheIsEmpty(), "dirty slate")
    spark.conf.set(key, "1")
    try {
      val out = df.groupby("g").scanScalable(Seq("id"),
        Seq(graft.operators.GroupedScan.CumSum("v", "cs")))
      assert(out.sdf.count() == 200)
      assert(!cacheIsEmpty(), "the gate must persist the sorted frame")
      out.unpersistIntermediates()
      val left = spark.sparkContext.getPersistentRDDs.size
      val cacheEmpty = spark.sharedState.cacheManager.isEmpty
      assert(left == 0 && cacheEmpty, s"after unpersistIntermediates: " +
        s"$left persistent RDDs, cacheManager empty: $cacheEmpty")
    } finally {
      spark.conf.unset(key)
      Df.releaseRetained()
      spark.catalog.clearCache()
    }
  }

  test("source census: only Materialize persists, checkpoints and attaches") {
    // `s` is the scope handle every operator body names: its calls are
    // the one owner's; any other receiver of these calls is not
    val scopeCall = """(?<![\w.])s\.(persist|barrier|checkpoint|release)\("""
    val forbidden = Seq("""\.persist\(""", """\.(local)?[cC]heckpoint\(""",
      """\.cache\(\)""", """\.retaining\(""", """Materialize\.barrier\(""")
      .map(_.r)
    val root = new java.io.File("src/main/scala/graft")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Materialize.scala")
    assert(sources.size > 40, s"census found only ${sources.size} sources")
    val hits = for {
      f <- sources
      code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("""(?s)/\*.*?\*/""", "")
        .replaceAll("""//[^\n]*""", "")
        .replaceAll(scopeCall, "scope(")
      re <- forbidden
      m <- re.findAllMatchIn(code)
    } yield s"${f.getPath}: ${m.matched.trim}"
    assert(hits.isEmpty,
      s"persist/checkpoint/attach outside Materialize:\n  ${hits.mkString("\n  ")}")
  }
}
