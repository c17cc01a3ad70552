package graft

import graft.api.Df
import graft.operators.Similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** As-of join and IVF ANN specs. */
class AsofIvfSpec extends AnyFunSuite {
  import TestSpark._

  test("asofJoin picks the latest prior right row per key") {
    val trades = Df.fromRows(spark, Seq(
      Row("A", 10L, 100.0), Row("A", 20L, 101.0), Row("B", 15L, 50.0)),
      StructType(Seq(StructField("sym", StringType),
        StructField("t", LongType), StructField("px", DoubleType))))
    val quotes = Df.fromRows(spark, Seq(
      Row("A", 5L, 99.0), Row("A", 18L, 100.5), Row("A", 25L, 102.0),
      Row("B", 14L, 49.5)),
      StructType(Seq(StructField("sym", StringType),
        StructField("t", LongType), StructField("bid", DoubleType))))

    val j = trades.asofJoin(quotes, on = Seq("sym"),
      leftTime = "t", rightTime = "t", valueCols = Seq("bid"))
    val m = j.sdf.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> Option(r.get(r.fieldIndex("bid")))).toMap
    assert(m(("A", 10L)).contains(99.0))   // quote@5 is latest ≤ 10
    assert(m(("A", 20L)).contains(100.5))  // quote@18, not quote@25
    assert(m(("B", 15L)).contains(49.5))
    assert(j.count() == 3) // left rows preserved exactly
  }

  test("asofJoin forward/nearest directions and tolerance (merge_asof)") {
    val trades = Df.fromRows(spark, Seq(
      Row("A", 10L, 100.0), Row("A", 20L, 101.0), Row("A", 100L, 102.0)),
      StructType(Seq(StructField("sym", StringType),
        StructField("t", LongType), StructField("px", DoubleType))))
    val quotes = Df.fromRows(spark, Seq(
      Row("A", 5L, 99.0), Row("A", 18L, 100.5), Row("A", 25L, 102.5)),
      StructType(Seq(StructField("sym", StringType),
        StructField("t", LongType), StructField("bid", DoubleType))))
    def run(dir: String, tol: Long = -1L) =
      trades.asofJoin(quotes, Seq("sym"), "t", "t", Seq("bid"), dir, tol)
        .sdf.collect().map(r =>
          r.getLong(1) -> Option(r.get(r.fieldIndex("bid")))).toMap
    val fwd = run("forward")
    assert(fwd(10L).contains(100.5))  // earliest quote >= 10 is @18
    assert(fwd(20L).contains(102.5))  // @25
    assert(fwd(100L).isEmpty)         // nothing after 100
    val near = run("nearest")
    assert(near(10L).contains(99.0))  // |10-5|=5 < |18-10|=8
    assert(near(20L).contains(100.5)) // |20-18|=2 < |25-20|=5
    assert(near(100L).contains(102.5))// only backward exists
    val tol = run("nearest", tol = 10L)
    assert(tol(100L).isEmpty)         // |100-25|=75 > 10 → nulled
    assert(tol(20L).contains(100.5))  // within 10
  }

  test("asofJoin nearest tie goes backward (pandas semantics)") {
    val l = Df.fromRows(spark, Seq(Row("A", 10L)),
      StructType(Seq(StructField("k", StringType), StructField("t", LongType))))
    val r = Df.fromRows(spark, Seq(Row("A", 5L, 1.0), Row("A", 15L, 2.0)),
      StructType(Seq(StructField("k", StringType),
        StructField("t", LongType), StructField("v", DoubleType))))
    val j = l.asofJoin(r, Seq("k"), "t", "t", Seq("v"), "nearest")
    assert(j.sdf.collect()(0).getDouble(2) == 1.0) // |10-5| == |15-10| → backward
  }

  test("asofJoin with no prior quote yields null") {
    val l = Df.fromRows(spark, Seq(Row("A", 1L)),
      StructType(Seq(StructField("k", StringType), StructField("t", LongType))))
    val r = Df.fromRows(spark, Seq(Row("A", 5L, 1.0)),
      StructType(Seq(StructField("k", StringType),
        StructField("t", LongType), StructField("v", DoubleType))))
    val j = l.asofJoin(r, Seq("k"), "t", "t", Seq("v"))
    assert(j.sdf.collect()(0).isNullAt(2))
  }

  test("IVF with nprobe == nlist equals brute force exactly") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(q, e, "embedding", "vec_id", 3)
      .sdf.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ivfFull = Similarity.ivfTopK(q, e, "embedding", "vec_id", 3,
      nlist = 8, nprobe = 8)
      .sdf.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(brute.toSeq == ivfFull.toSeq)
  }

  test("IVF drops NULL-vector corpus rows (same contract as lshSignature)") {
    import org.apache.spark.sql.types._
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    // corpus with one NULL-embedding row injected: it must never appear
    // as a neighbor (NULL cell drops from the equi-join), results must
    // equal the clean-corpus run, and nothing may throw
    val nullRow = Df.fromRows(spark, Seq(Row(999999L, null, "x")),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", StringType))))
    val dirty = new Df(e.select("vec_id", "embedding", "label").sdf
      .unionByName(nullRow.sdf))
    val clean = Similarity.ivfTopK(q, e, "embedding", "vec_id", 3,
      nlist = 8, nprobe = 8).sdf.orderBy("query_id", "rank").collect()
    val withNull = Similarity.ivfTopK(q, dirty, "embedding", "vec_id", 3,
      nlist = 8, nprobe = 8).sdf.orderBy("query_id", "rank").collect()
    assert(withNull.map(_.getLong(2)).forall(_ != 999999L))
    assert(clean.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      withNull.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
  }

  test("IVF validates fitSample and fails clearly on an empty fit input") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    // out-of-range fractions fail at call time with the named knob
    val bad0 = intercept[IllegalArgumentException](
      Similarity.ivfTopK(q, e, "embedding", "vec_id", 3, fitSample = 0.0))
    assert(bad0.getMessage.contains("fitSample"))
    val badHi = intercept[IllegalArgumentException](
      Similarity.ivfTopK(q, e, "embedding", "vec_id", 3, fitSample = 1.5))
    assert(badHi.getMessage.contains("fitSample"))
    // a legal-but-tiny fraction that samples zero rows must name the
    // problem instead of failing on an empty fit
    val tiny = e.where(col("vec_id") < 20)
    val empty = intercept[IllegalArgumentException](
      Similarity.ivfTopK(q, tiny, "embedding", "vec_id", 3, fitSample = 1e-9))
    assert(empty.getMessage.contains("empty"))
    // fitSample = 1.0 fits on the whole corpus; an all-NULL corpus
    // still gets the named-knob message from the empty fit collect
    val allNull = new Df(e.sdf.limit(5)
      .selectExpr("vec_id", "CAST(NULL AS ARRAY<FLOAT>) AS embedding"))
    val nullFit = intercept[IllegalArgumentException](
      Similarity.ivfTopK(q, allNull, "embedding", "vec_id", 3))
    assert(nullFit.getMessage.contains("empty"))
  }

  test("IVF with partial probes returns k ranked results per query") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(q, e, "embedding", "vec_id", 3,
      nlist = 8, nprobe = 2).sdf.collect()
    val perQ = ivf.groupBy(_.getLong(0))
    assert(perQ.values.forall(rs => rs.length <= 3 && rs.map(_.getInt(1)).min == 1))
    assert(ivf.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0))
  }

  private def corpusOf(e: Df) =
    e.sdf.select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"))

  test("IVF quantizer fit is one construction job") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    for (fs <- Seq(0.25, 1.0)) {
      val (_, jobs) = jobsDuring(Similarity.ivfTopK(q, e, "embedding", "vec_id", 3,
        nlist = 8, nprobe = 8, fitSample = fs))
      assert(jobs == 1, s"ivfTopK(fitSample=$fs) built with $jobs jobs")
    }
    // buildIvfIndex also writes the index (AQE shuffle-stage jobs, then
    // the write) and the centroids; the fit is its only collect
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_fit").toString
    val (_, fitJobs) = jobsDuring(
      Similarity.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8, fitSample = 0.25),
      _.startsWith("collect at"))
    assert(fitJobs == 1, s"buildIvfIndex fitted with $fitJobs jobs")
  }

  test("IVF quantizer fit is deterministic") {
    val c = corpusOf(Df.readParquet(spark, s"$sf/embeddings.parquet"))
    val a = Similarity.fitCentroids(c, 8, 0.25, "spec")
    val b = Similarity.fitCentroids(c, 8, 0.25, "spec")
    assert(a.length == 8)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("IVF quantizer fits on at most 256 rows per cell") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet") // 500 rows
    assert(e.count() > 256)
    assert(Similarity.ivfFitPoints(corpusOf(e), 1, 1.0, "spec").length == 256)
    assert(Similarity.fitCentroids(corpusOf(e), 1, 1.0, "spec").length == 1)
  }

  test("IVF with fewer distinct vectors than nlist still equals brute force") {
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet")
    // three distinct vectors, each shared by a third of the corpus
    val first = e.where(col("vec_id") < 3).sdf
      .select(col("vec_id").as("src"), col("embedding").as("v"))
    val dup = new Df(e.sdf.join(broadcast(first), col("vec_id") % 3 === col("src"))
      .select(col("vec_id"), col("v").as("embedding")))
    assert(Similarity.fitCentroids(corpusOf(dup), 8, 1.0, "spec").length == 3)
    val q = dup.where(col("vec_id") < 5)
    // ties on cosine break by corpus id, so both rankings are total
    val brute = Similarity.bruteForceTopK(q, dup, "embedding", "vec_id", 4)
      .sdf.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ivf = Similarity.ivfTopK(q, dup, "embedding", "vec_id", 4,
      nlist = 8, nprobe = 8)
      .sdf.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(brute.nonEmpty && brute.toSeq == ivf.toSeq)
  }
}
