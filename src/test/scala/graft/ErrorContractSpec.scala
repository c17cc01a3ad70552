package graft

import graft.api.Df
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Error-contract specs — the reference asserts its API boundaries raise
  * promptly and clearly (NotImplementedError/KeyError tests,
  * `tests/test_collection.py:126-127,139-143,604-608`). graft's
  * boundaries must fail at call time (eager analysis) with named
  * messages, not deep inside an executor. */
class ErrorContractSpec extends AnyFunSuite {
  import TestSpark._

  private def d: Df = Df.fromRows(spark,
    Seq(Row(1L, 2.0)), StructType(Seq(
      StructField("x", LongType), StructField("y", DoubleType))))

  test("groupby with unknown key names the missing columns") {
    val e = intercept[IllegalArgumentException](d.groupby("nope"))
    assert(e.getMessage.contains("nope"))
  }

  test("grouped slice with unknown column names it") {
    val e = intercept[IllegalArgumentException](d.groupby("x")("zz"))
    assert(e.getMessage.contains("zz"))
  }

  test("joinIndex and align require a designated index") {
    val e1 = intercept[RuntimeException](d.joinIndex(d.setIndex("x")))
    assert(e1.getMessage.contains("no index"))
    val e2 = intercept[RuntimeException](d.align(d.setIndex("x")))
    assert(e2.getMessage.contains("no index"))
  }

  test("cut rejects mismatched break/label arity") {
    intercept[IllegalArgumentException](
      d.cut("y", Seq(0.0, 1.0, 2.0), Seq("only-one-label-for-two-bins", "x", "y"), "b"))
  }

  test("setIndex on a missing column fails at call time") {
    intercept[IllegalArgumentException](d.setIndex("missing"))
  }

  test("selecting a missing column fails eagerly (analysis, not runtime)") {
    intercept[org.apache.spark.sql.AnalysisException](d.select("ghost"))
  }

  test("cross-frame Ser ops are rejected with the lineage message") {
    val other = Df.fromRows(spark, Seq(Row(1L)),
      StructType(Seq(StructField("x", LongType))))
    val e = intercept[IllegalArgumentException](d("x") + other("x"))
    assert(e.getMessage.contains("align"))
  }

  test("agg spec with unsupported function names it") {
    val e = intercept[RuntimeException](
      d.groupby("x").agg(Map("y" -> Seq("medianish"))))
    assert(e.getMessage.contains("medianish"))
  }

  test("dedup/text operator knobs fail at call time with the knob named") {
    import graft.operators.{Dedup, TextAnalytics}
    val docs = Df.fromRows(spark, Seq(Row(1L, "a b c")),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    def named(body: => Any, knob: String): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(knob), e.getMessage)
    }
    named(Dedup.minhashPairs(docs, "text", "doc_id", bands = 0), "bands")
    named(Dedup.minhashPairs(docs, "text", "doc_id", minJaccard = 1.5), "minJaccard")
    named(Dedup.minhashJoin(docs, docs, "text", "doc_id", shingleN = 0), "shingleN")
    named(Dedup.simhash(docs, "text", "doc_id", bits = 61), "bits")
    named(Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 60), "maxHamming")
    named(Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 0), "n")
    named(Dedup.ngramJaccardPairs(docs, "text", "doc_id", maxBucket = 0), "maxBucket")
    named(Dedup.embeddingCosinePairs(docs, "text", "doc_id", "text",
      minCosine = 2.0), "minCosine")
    named(Dedup.embeddingLshPairs(docs, "text", "doc_id",
      minCosine = 0.9, planes = 0), "planes")
    named(Dedup.connectedComponents(docs, "doc_id", "doc_id", maxIter = 0), "maxIter")
    named(Dedup.duplicatedWindows(docs, "text", "doc_id", k = 0), "k")
    named(TextAnalytics.topTerms(docs, "text", "doc_id", k = 0), "k")
    named(TextAnalytics.ngramContamination(docs, docs, "text", "doc_id", n = 0), "n")
    named(TextAnalytics.repetitionStats(docs, "text", "doc_id", n = 0), "n")
  }

  test("qcut on an all-null column raises the named error, not an NPE") {
    val nulls = Df.fromRows(spark,
      Seq(Row(1L, null), Row(2L, null)), StructType(Seq(
        StructField("x", LongType), StructField("y", DoubleType))))
    val e = intercept[IllegalArgumentException](nulls.qcut("y", 4, "b"))
    assert(e.getMessage.contains("no non-null values"), e.getMessage)
  }

  test("session-wave operators reject bad arguments at call time, by name") {
    intercept[IllegalArgumentException](d.qcut("y", 1, "b"))
    val e1 = intercept[IllegalArgumentException](
      d.mergeValidated(d, Seq("x"), validate = "2:2"))
    assert(e1.getMessage.contains("2:2"))
    val e2 = intercept[IllegalArgumentException](
      d.duplicatedKeep(Seq("x"), "y", keep = "middle"))
    assert(e2.getMessage.contains("middle"))
    val e3 = intercept[IllegalArgumentException](
      d.groupby("x").rank("y", method = "average"))
    assert(e3.getMessage.contains("average"))
    intercept[IllegalArgumentException](
      d.groupby("x").rank("y", method = "first")) // no tiebreak keys
    val e4 = intercept[IllegalArgumentException](
      graft.operators.TimeSeries.interpolateByTime(
        d, "y", "x", keyCols = Nil, out = "z"))
    assert(e4.getMessage.contains("partition keys"))
    val e5 = intercept[IllegalArgumentException](
      graft.operators.Profiling.cohortRetention(d, "x", "y", "year"))
    assert(e5.getMessage.contains("year"))
    intercept[IllegalArgumentException](
      graft.operators.TimeSeries.resampleGapfill(d, "y", "x", "minute"))
    intercept[IllegalArgumentException](
      graft.operators.TimeSeries.seasonalResiduals(d, "x", "y", period = 0))
  }

  test("psiDrift names a constant baseline instead of an ANSI divide-by-zero") {
    val sch = StructType(Seq(StructField("v", DoubleType)))
    val base = Df.fromRows(spark, Seq(Row(5.0), Row(5.0), Row(5.0)), sch)
    val cur = Df.fromRows(spark, Seq(Row(5.0), Row(7.0)), sch)
    val e = intercept[Exception](
      graft.operators.Profiling.psiDrift(base, cur, "v", bins = 4)
        .sdf.collect())
    def chain(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(chain(e).contains("psiDrift"), chain(e).take(300))
    // an EMPTY or all-null baseline must hit the same named error — the
    // plain === guard evaluated to NULL there and silently produced
    // NULL bins instead of raising (ADVICE r12)
    val empty = Df.fromRows(spark, Seq.empty[Row], sch)
    val e2 = intercept[Exception](
      graft.operators.Profiling.psiDrift(empty, cur, "v", bins = 4)
        .sdf.collect())
    assert(chain(e2).contains("psiDrift"), chain(e2).take(300))
    val allNull = Df.fromRows(spark, Seq(Row(null), Row(null)), sch)
    val e3 = intercept[Exception](
      graft.operators.Profiling.psiDrift(allNull, cur, "v", bins = 4)
        .sdf.collect())
    assert(chain(e3).contains("psiDrift"), chain(e3).take(300))
  }

  test("malformed graft.keylessWindowMaxRows names the config, not a bare NumberFormatException") {
    val rows = (1 to 10).map(i => Row(i.toLong, i.toDouble))
    val d = Df.fromRows(spark, rows, StructType(Seq(
      StructField("x", LongType), StructField("y", DoubleType))))
    Seq("lots", "-5").foreach { bad =>
      spark.conf.set("graft.keylessWindowMaxRows", bad)
      try {
        // withRank is the remaining keyless-WINDOW verb (diff/ffill/
        // pct_change route through GroupedScan since r15 and never read
        // this config)
        val e = intercept[IllegalArgumentException](d.withRank("y", "r"))
        assert(e.getMessage.contains("graft.keylessWindowMaxRows") &&
          e.getMessage.contains(bad), e.getMessage)
      } finally spark.conf.unset("graft.keylessWindowMaxRows")
    }
  }

  test("malformed spark.graft.dedup.pairsPrecountBytes names the config, not a bare NumberFormatException") {
    val docs = Df.fromRows(spark, Seq(Row(1L, "a b c"), Row(2L, "a b c")),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val key = "spark.graft.dedup.pairsPrecountBytes"
    Seq("16MiB", "-1").foreach { bad =>
      spark.conf.set(key, bad)
      try {
        // NumberFormatException IS an IllegalArgumentException: the raw
        // parse error must not pass for the named one
        val e = intercept[IllegalArgumentException](
          graft.operators.Dedup.minhashPairs(docs, "text", "doc_id"))
        assert(!e.isInstanceOf[NumberFormatException], e.toString)
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  test("malformed spark.graft.scan.persistAutoBytes names the config, not a bare NumberFormatException") {
    // the key is read only when the call did not choose the GroupedScan
    // persist path
    val key = "spark.graft.scan.persistAutoBytes"
    Seq("1.5GiB", "-1").foreach { bad =>
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](
          d.scanKeyless(Seq("x"))(_.cumsum("y", "cs")))
        assert(!e.isInstanceOf[NumberFormatException], e.toString)
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  test("keyless withRank trips a named ceiling; diff/ffill/pctChange route scalably past it") {
    // the keyless default is pandas-parity (DIVERGENCES #10). withRank
    // still rides one window task, so past graft.keylessWindowMaxRows
    // its in-plan guard must fail loudly, naming the fix; the verbs
    // with a GroupedScan routing (r15) must instead sail past the
    // ceiling — it is unreachable, not loud, on those paths.
    val rows = (1 to 100).map(i => Row(i.toLong, i.toDouble))
    val big = Df.fromRows(spark, rows, StructType(Seq(
      StructField("x", LongType), StructField("y", DoubleType))))
    spark.conf.set("graft.keylessWindowMaxRows", "50")
    try {
      def msgChain(t: Throwable): String = {
        var c: Throwable = t; val sb = new StringBuilder
        while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
        sb.toString
      }
      val e = intercept[Exception](big.withRank("y", "r").sdf.collect())
      assert(msgChain(e).contains("keyless window"), msgChain(e))
      // 100 rows over a 50-row ceiling: the scalable routings succeed
      assert(big.diff("y", Seq("x"), "d").sdf.count() == 100)
      assert(big.ffill(Seq("y"), Seq("x")).sdf.count() == 100)
      assert(big.bfill(Seq("y"), Seq("x")).sdf.count() == 100)
      assert(big.pctChange("y", Seq("x"), "p").sdf.count() == 100)
      // ...and explicit partition keys are never capped
      val keyed = big.diff("y", Seq("x"), "d", partitionBy = Seq("x"))
      assert(keyed.sdf.count() == 100)
    } finally spark.conf.unset("graft.keylessWindowMaxRows")
  }
}
