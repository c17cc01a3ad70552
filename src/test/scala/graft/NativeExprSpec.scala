package graft

import graft.api.Df
import graft.functions.VectorFunctions
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression specs: graft_cosine must be bit-identical
  * to the higher-order-function formulation and participate in codegen. */
class NativeExprSpec extends AnyFunSuite {
  import TestSpark._

  test("graft_cosine equals the HOF cosine bit-for-bit") {
    GraftFunctions.register(spark)
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet").sdf
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .where(col("id_a") < 30)
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      .where(col("id_b") < 30)
    val pairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("native", expr("graft_cosine(va, vb)"))
      .withColumn("hof", VectorFunctions.cosine(col("va"), col("vb")))
    val diff = pairs.where(col("native") =!= col("hof")).count()
    assert(diff == 0)
    assert(pairs.count() == 30 * 29 / 2)
  }

  test("graft_cosine handles nulls and stays in a codegen stage") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(0.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c, " +
        "graft_cosine(NULL, array(CAST(1.0 AS FLOAT))) AS n").collect()(0)
    assert(r.getDouble(0) == 0.0)
    assert(r.isNullAt(1))
  }

  test("undefined inputs yield NULL, never NaN (zero-norm, mismatch, empty)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      // zero-norm vector: cosine undefined → NULL (NaN would sort
      // ABOVE every real similarity and poison top-k ranking)
      "SELECT graft_cosine(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS zero_norm, " +
        // length mismatch: NULL (matches zip_with null-padding), never
        // a silent truncated similarity
        "graft_cosine(array(CAST(1.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS mismatch, " +
        // empty ∪ empty: jaccard undefined → NULL (matches Divide-by-0)
        "graft_jaccard_sorted(cast(array() AS array<bigint>), " +
        "cast(array() AS array<bigint>)) AS empty_pair").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // (the composed Divide formulation returns null here with ANSI off
    // but THROWS DIVIDE_BY_ZERO under Spark 4's ANSI default — the
    // native NULL is deliberate: a zero embedding must not crash a
    // 100 TB dedup job, and NaN would out-rank every real similarity)
  }

  test("wrong arity gets a named error, not IndexOutOfBounds") {
    GraftFunctions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT)))").collect())
    assert(e.getMessage.contains("graft_cosine expects exactly 2 arguments")
      || Option(e.getCause).exists(_.getMessage.contains("graft_cosine expects exactly 2 arguments")))
  }

  test("graft_jaccard_sorted equals the array-function formulation") {
    GraftFunctions.register(spark)
    val d = spark.range(200).selectExpr(
      "id",
      "array_sort(array_distinct(transform(sequence(0, cast(id % 37 as int)), x -> (x * 7919 + id * 13) % 101))) AS a",
      "array_sort(array_distinct(transform(sequence(0, cast(id % 23 as int)), x -> (x * 104729 + id * 7) % 101))) AS b")
    val cmp = d.selectExpr(
      "graft_jaccard_sorted(a, b) AS native",
      "size(array_intersect(a, b)) / cast(size(a) + size(b) - size(array_intersect(a, b)) as double) AS viaFns")
    assert(cmp.where("native != viaFns").count() == 0)
    // edge: identical, disjoint
    val edge = spark.sql(
      "SELECT graft_jaccard_sorted(array(1L,2L,3L), array(1L,2L,3L)) AS same, " +
        "graft_jaccard_sorted(array(1L,2L), array(3L,4L)) AS disjoint").collect()(0)
    assert(edge.getDouble(0) == 1.0 && edge.getDouble(1) == 0.0)
  }

  test("graft_pct_normalize equals the sequential replace chain (differential, fuzzed)") {
    GraftFunctions.register(spark)
    // reference: the literal 78-pass chain the DuckDB oracle replays,
    // folded from the SAME tables as the native kernel — iterated to
    // fixpoint exactly like the kernel (a decode can mint an escape:
    // '%%341' -> '%41' -> 'A'; one pass per CALL would break the
    // normalizeUrl idempotence contract)
    def chainOnce(s: String): String = {
      var u = s
      graft.plans.PercentNormalize.hexLetters.foreach(ch =>
        u = u.replace(s"%$ch", s"%${ch.toUpper}"))
      graft.plans.PercentNormalize.hexLetters.foreach(ch =>
        u = u.replaceAll(s"%([0-9A-F])$ch", s"%$$1${ch.toUpper}"))
      graft.plans.PercentNormalize.decodeTable.foreach { case (esc, c) =>
        u = u.replace(esc, c) }
      u
    }
    def chain(s: String): String = {
      if (s == null || s.indexOf('%') < 0) return s
      var u = s; var prev: String = null
      while (u != prev) { prev = u; u = chainOnce(u) }
      u
    }
    val rnd = new scala.util.Random(42)
    val frags = Array("%7e", "%7E", "%2f", "%aB", "%fa", "%41", "%3", "%",
      "%%", "%2525", "%30", "%5a", "%5A", "a", "/", "?", "%e", "%ax", "x",
      "%%341", "%%34a", "%%25")
    val inputs = (0 until 400).map(_ =>
      (0 until rnd.nextInt(8)).map(_ => frags(rnd.nextInt(frags.length))).mkString) ++
      Seq("", "no escapes at all", "%%32E", "%3%30", "%a%41", "%%af")
    val d = spark.createDataFrame(
      inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }).toDF("id", "s")
    val got = d.selectExpr("id", "graft_pct_normalize(s) AS n", "s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    got.foreach { case (i, n, s) =>
      assert(n == chain(s), s"input $i: '$s' -> native '$n' vs chain '${chain(s)}'")
      assert(chain(n) == n, s"input $i: not idempotent: '$n' -> '${chain(n)}'") }
    // NULL propagates
    assert(spark.sql("SELECT graft_pct_normalize(CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
    // the expression stays inside whole-stage codegen (the reason it
    // exists: the column chain blows the 64 KB method limit). A
    // range-backed source, not LocalTableScan, so a real stage plans.
    val plan = spark.range(10)
      .selectExpr("graft_pct_normalize(concat('%7e/p', id))")
      .queryExecution.executedPlan.toString
    assert(plan.startsWith("*("), plan)   // '*' = inside WholeStageCodegen
  }

  test("graft_jaro_winkler matches the DuckDB/rapidfuzz reference values") {
    GraftFunctions.register(spark)
    // reference values probed from DuckDB jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),                       // rapidfuzz: both-empty is 0
      ("ab", "ba", 0.0),                   // window 0: no matches
      ("frog", "fog", 0.9249999999999999),
      ("aaxxxxxx", "aayyyy", 0.5277777777777778), // jaro<=0.7: NO boost
      ("elephant", "hippo", 0.44166666666666665))
    import spark.implicits._
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .selectExpr("graft_jaro_winkler(a, b)").collect().map(_.getDouble(0))
    cases.map(_._3).zip(got).foreach { case (want, g) =>
      assert(math.abs(g - want) < 1e-12, s"$g vs $want")
    }
    // null-intolerant + stays codegen'd
    val n = spark.sql("SELECT graft_jaro_winkler(NULL, 'x')").collect()(0)
    assert(n.isNullAt(0))
  }

  test("graft_jaro_winkler counts Unicode CODEPOINTS, not UTF-16 code units") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // "😀x" vs "😀y" as codepoints: length 2, window 0, one match →
    // jaro = (1/2 + 1/2 + 1)/3 = 2/3, no boost (≤ 0.7). A charAt-based
    // kernel would see 3 code units (surrogate pair = 2), match both
    // halves of 😀, and land on 0.8222... — the divergence class DuckDB/
    // rapidfuzz (codepoint-based) would expose on any non-BMP text.
    val got = Seq(("😀x", "😀y"),
        ("😀😀", "😀😀"))
      .toDF("a", "b")
      .selectExpr("graft_jaro_winkler(a, b)").collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 2.0 / 3.0) < 1e-12, got(0).toString)
    assert(got(1) == 1.0)
  }

  test("graft_vector_sum equals the posexplode/sum(cast) pipeline bit-for-bit") {
    GraftFunctions.register(spark)
    val e = Df.readParquet(spark, s"$sf/embeddings.parquet").sdf
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .limit(500)
    val native = e.agg(expr("graft_vector_sum(v, 18, 8)")).collect()(0)
      .getSeq[Double](0)
    val composed = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(col("x").cast("decimal(18,8)")).cast("double").as("s"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1)).toSeq
    assert(native.size == composed.size)
    native.zip(composed).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToRawLongBits(a) ==
        java.lang.Double.doubleToRawLongBits(b), s"$a vs $b")
    }
  }

  test("graft_vector_sum: null rows skipped, null elements skipped, empty input is NULL, ragged input named error") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val d = Seq(Seq[java.lang.Double](1.5, null), Seq[java.lang.Double](2.25, 4.0), null)
      .toDF("v").selectExpr("CAST(v AS array<double>) AS v")
    val r = d.selectExpr("graft_vector_sum(v, 18, 8)").collect()(0).getSeq[Double](0)
    assert(r == Seq(3.75, 4.0))
    // groupBy path: per-group buffers, exact decimal sums
    val g = Seq(("a", Seq(0.1, 0.2)), ("a", Seq(0.2, 0.1)), ("b", Seq(1.0, 1.0)))
      .toDF("k", "v")
      .groupBy("k").agg(expr("graft_vector_sum(v, 18, 8)").as("s"))
      .collect().map(row => row.getString(0) -> row.getSeq[Double](1)).toMap
    // 0.1 + 0.2 through the DECIMAL path is exactly 0.3 — a float
    // accumulator would land on 0.30000000000000004
    assert(g("a") == Seq(0.3, 0.3), g("a").toString)
    assert(g("b") == Seq(1.0, 1.0))
    // zero rows → NULL (like SUM)
    val empty = d.where("v IS NULL AND FALSE")
      .selectExpr("graft_vector_sum(v, 18, 8)").collect()(0)
    assert(empty.isNullAt(0))
    // ragged arrays raise the named contract error
    val ragged = Seq(Seq(1.0), Seq(1.0, 2.0)).toDF("v")
    val ex = intercept[Exception](
      ragged.selectExpr("graft_vector_sum(v, 18, 8)").collect())
    assert(ex.getMessage != null)
  }

  test("graft_vector_sum: all-null position is NULL, NaN named error, sum bound min(38,p+10)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // a position whose contributing elements are ALL null evaluates to
    // a null element — what the composed per-position SUM returns
    val d = Seq(Seq[java.lang.Double](1.5, null), Seq[java.lang.Double](2.5, null))
      .toDF("v").selectExpr("CAST(v AS array<double>) AS v")
    val s = d.selectExpr("graft_vector_sum(v, 18, 8)").collect()(0)
      .getSeq[java.lang.Double](0)
    assert(s(0) == 4.0 && s(1) == null, s.toString)
    // NaN/Infinity have no DECIMAL image → named contract error, not a
    // bare NumberFormatException out of JBigDecimal.valueOf
    def rootMsg(t: Throwable): String = {
      var c = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    val nan = Seq(Seq(Double.NaN)).toDF("v")
    val exN = intercept[Exception](
      nan.selectExpr("graft_vector_sum(v, 18, 8)").collect())
    assert(rootMsg(exN).contains("graft_vector_sum"), rootMsg(exN))
    // the finish bound is the engine's sum type DECIMAL(min(38, p+10), s):
    // for (18, 8) that is 1e20 — a 1e21 accumulated sum must overflow
    // even though it is far under the old DECIMAL(38, 8) bound (1e30).
    // Unreachable through real rows (needs ≥1e10 of them), so drive the
    // aggregate object directly.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val agg = graft.plans.VectorDecimalSum(
      Literal.create(null, ArrayType(DoubleType)), Literal(18), Literal(8))
    val over = Array(new java.math.BigDecimal("1e21"))
    val exO = intercept[ArithmeticException](agg.eval(over))
    assert(exO.getMessage.contains("DECIMAL(28, 8)"), exO.getMessage)
    assert(agg.eval(Array(new java.math.BigDecimal("1e19"))) != null)
    // partial-state roundtrip preserves the "never saw a value" marker
    val rt = agg.deserialize(agg.serialize(
      Array(null, new java.math.BigDecimal("2.5"))))
    assert(rt(0) == null && rt(1) == new java.math.BigDecimal("2.5"))
  }

  test("SparkSessionExtensions wiring registers the function") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    // one well-formed call per function; the key set must be the table's
    val calls = Map(
      "graft_cosine" -> "array(CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT))",
      "graft_jaccard_sorted" -> "array(1L, 2L), array(2L, 3L)",
      "graft_pct_normalize" -> "'a%20b'",
      "graft_jaro_winkler" -> "'martha', 'marhta'",
      "graft_bloom_agg" -> "xxhash64('a'), 10",
      "graft_might_contain" -> "X'00', xxhash64('a')",
      "graft_vector_sum" -> "array(1.0D, 2.0D), 18, 8")
    assert(calls.keySet == GraftFunctions.names.toSet)
    // direct path: register on a fresh session
    val s2 = TestSpark.spark.newSession()
    GraftFunctions.register(s2)
    val direct = s2.sessionState.functionRegistry
    // extension path: the registry a session built with the extension gets
    val viaExt = org.apache.spark.sql.GraftExtensionsRegistry
      .functionRegistry(new graft.plans.GraftExtensions)
    GraftFunctions.names.foreach { n =>
      val id = FunctionIdentifier(n)
      assert(direct.functionExists(id), s"$n missing on the direct path")
      assert(viaExt.functionExists(id), s"$n missing on the extension path")
      val args = s2.sessionState.sqlParser.parseExpression(s"$n(${calls(n)})")
        .asInstanceOf[UnresolvedFunction].arguments
      val fromExt = viaExt.lookupFunction(id, args)
      assert(fromExt.getClass.getName == viaExt.lookupFunction(id).get.getClassName, n)
      assert(direct.lookupFunction(id, args).getClass == fromExt.getClass, n)
    }
    assert(s2.sql("SELECT graft_cosine(array(CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT)))")
      .collect()(0).getDouble(0) == 1.0)
  }
  test("a second register leaves every function's ExpressionInfo as it was") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s2 = TestSpark.spark.newSession()
    GraftFunctions.register(s2)
    val reg = s2.sessionState.functionRegistry
    val first = GraftFunctions.names.map(n => n -> reg.lookupFunction(FunctionIdentifier(n)).get)
    GraftFunctions.register(s2)
    first.foreach { case (n, info) =>
      val again = reg.lookupFunction(FunctionIdentifier(n))
      assert(again.exists(_ eq info), s"$n was registered again")
      assert(info.getName == n)
    }
    // every name still resolves through the session
    val r = s2.sql("SELECT graft_jaro_winkler('martha', 'marhta'), " +
      "graft_pct_normalize('a%20b'), graft_jaccard_sorted(array(1L, 2L), array(2L, 3L)), " +
      "graft_cosine(array(CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT))), " +
      "graft_might_contain((SELECT graft_bloom_agg(xxhash64(id), 10L) FROM range(3)), " +
      "xxhash64(1L))").collect()
    assert(r.length == 1 && r(0).getDouble(3) == 1.0 && r(0).getBoolean(4))
    assert(s2.sql("SELECT graft_vector_sum(array(CAST(id AS DOUBLE)), 18, 8) FROM range(3)")
      .collect().length == 1)
  }

  test("operators build native expressions without the session's function registry") {
    val fresh = spark.newSession()
    val e = Df.readParquet(fresh, s"$sf/embeddings.parquet")
    val top = graft.operators.Similarity.bruteForceTopK(e, e, "embedding", "vec_id", 2)
    assert(top.sdf.count() > 0)
    assert(!fresh.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine")),
      "bruteForceTopK registered graft_cosine on the session")
  }
}
