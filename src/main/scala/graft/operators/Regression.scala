package graft.operators

import graft.api.Df
import org.apache.spark.sql.functions._

/** Closed-form least squares at corpus scale — the "fit a scoring
  * model over 100 TB without an ML runtime" shape. Everything reduces
  * to ONE aggregation pass of exact DECIMAL raw moments (sums,
  * squares, cross-products — all order-independent, so partial
  * aggregation merges bit-identically), followed by a k×k solve that
  * is O(k³) on k≈tens of features — driver arithmetic on an
  * already-tiny problem, never a distributed iteration.
  */
object Regression {

  /** Two-feature OLS `y = b0 + b1·x1 + b2·x2` + R², solved entirely
    * INSIDE the plan (the 2×2 centered normal equations have a closed
    * form, so no driver step at all): one aggregate row of exact
    * decimal sums, then a projection computes centered moments →
    * coefficients → R². Every double op is written once, in one
    * expression tree — an oracle replaying the same formula lands on
    * the same IEEE doubles. Inputs are ≤2dp columns (cast
    * DECIMAL(18,2); pairwise products DECIMAL(38,4) — exact). */
  def olsFit2(df: Df, y: String, x1: String, x2: String): Df = {
    def d(c: String) = col(c).cast("decimal(18,2)")
    def p(a: String, b: String) = (d(a) * d(b)).cast("decimal(38,4)")
    // FanOut (r21): the 10 decimal moment sums are the whole cost and a
    // small parquet file is a handful of scan partitions — spread the
    // partial aggregation across the session (planning no-op at scale)
    val agg = FanOut(df.sdf).agg(
      count(lit(1)).cast("double").as("n"),
      sum(d(x1)).cast("double").as("sx1"),
      sum(d(x2)).cast("double").as("sx2"),
      sum(d(y)).cast("double").as("sy"),
      sum(p(x1, x1)).cast("double").as("sx1x1"),
      sum(p(x1, x2)).cast("double").as("sx1x2"),
      sum(p(x2, x2)).cast("double").as("sx2x2"),
      sum(p(x1, y)).cast("double").as("sx1y"),
      sum(p(x2, y)).cast("double").as("sx2y"),
      sum(p(y, y)).cast("double").as("syy"))
    // centered moments, Cramer 2×2, R² — one projection, double math
    val solved = agg.selectExpr(
      "n", "sx1", "sx2", "sy",
      "sx1x1 - sx1 * sx1 / n AS s11",
      "sx1x2 - sx1 * sx2 / n AS s12",
      "sx2x2 - sx2 * sx2 / n AS s22",
      "sx1y - sx1 * sy / n AS s1y",
      "sx2y - sx2 * sy / n AS s2y",
      "syy - sy * sy / n AS scy")
      // singular-design guard INSIDE the plan (same named contract as
      // olsFit's require): a constant/collinear feature zeroes the 2×2
      // determinant, which would otherwise surface as a raw ANSI
      // DIVIDE_BY_ZERO (or NaN) instead of a diagnosable error
      .selectExpr(
        "n", "sx1", "sx2", "sy", "s1y", "s2y", "scy",
        """CASE WHEN s11 * s22 - s12 * s12 = 0
          |  THEN CAST(raise_error(
          |    'olsFit2: singular design (collinear or constant features)')
          |    AS DOUBLE)
          |  ELSE s11 * s22 - s12 * s12 END AS det""".stripMargin,
        "s22", "s12", "s11")
      .selectExpr(
        "n", "sx1", "sx2", "sy", "s1y", "s2y", "scy",
        "(s1y * s22 - s2y * s12) / det AS b1",
        "(s2y * s11 - s1y * s12) / det AS b2")
    new Df(solved.selectExpr(
      "ROUND((sy - b1 * sx1 - b2 * sx2) / n, 6) AS b0",
      "ROUND(b1, 6) AS b1",
      "ROUND(b2, 6) AS b2",
      "ROUND((b1 * s1y + b2 * s2y) / scy, 6) AS r2"))
  }

  /** General k-feature OLS: the same one-pass exact-decimal moment
    * matrix, solved by Gaussian elimination with partial pivoting on
    * the driver (the (k+1)×(k+1) system — microseconds for any sane
    * k). Returns one row: intercept `b0`, `b_<feature>` per feature,
    * `r2`. Driver float order differs from an in-plan closed form, so
    * this variant is spec-tested against [[olsFit2]] (k=2 must agree
    * to ~1e-9) rather than oracle-replayed. */
  def olsFit(df: Df, y: String, features: Seq[String]): Df = {
    require(features.nonEmpty)
    val k = features.size
    def d(c: String) = col(c).cast("decimal(18,2)")
    def p(a: String, b: String) = (d(a) * d(b)).cast("decimal(38,4)")
    val cols = features :+ y
    val aggs =
      Seq(count(lit(1)).cast("double").as("n")) ++
        cols.map(c => sum(d(c)).cast("double").as(s"s_$c")) ++
        (for (i <- cols.indices; j <- i until cols.size) yield {
          val (a, b) = (cols(i), cols(j))
          sum(p(a, b)).cast("double").as(s"p_${i}_$j")
        })
    val row = FanOut(df.sdf).agg(aggs.head, aggs.tail: _*).head() // FanOut: see olsFit2
    val n = row.getAs[Double]("n")
    val s = cols.map(c => row.getAs[Double](s"s_$c"))
    def raw(i: Int, j: Int) =
      row.getAs[Double](s"p_${math.min(i, j)}_${math.max(i, j)}")
    // centered (k+1)-variable moment matrix over [x1..xk, y]
    def cm(i: Int, j: Int) = raw(i, j) - s(i) * s(j) / n
    // normal equations on centered features: C b = c_y
    val a = Array.tabulate(k, k + 1) { (i, j) =>
      if (j < k) cm(i, j) else cm(i, k)
    }
    for (piv <- 0 until k) {
      val best = (piv until k).maxBy(r => math.abs(a(r)(piv)))
      val t = a(piv); a(piv) = a(best); a(best) = t
      require(math.abs(a(piv)(piv)) > 1e-12, "olsFit: singular design")
      for (r <- piv + 1 until k) {
        val f = a(r)(piv) / a(piv)(piv)
        for (cc <- piv to k) a(r)(cc) -= f * a(piv)(cc)
      }
    }
    val b = new Array[Double](k)
    for (i <- k - 1 to 0 by -1) {
      var acc = a(i)(k)
      for (j <- i + 1 until k) acc -= a(i)(j) * b(j)
      b(i) = acc / a(i)(i)
    }
    val b0 = (s(k) - features.indices.map(i => b(i) * s(i)).sum) / n
    val r2 = features.indices.map(i => b(i) * cm(i, k)).sum / cm(k, k)
    val out = Seq(lit(b0).as("b0")) ++
      features.zipWithIndex.map { case (f, i) => lit(b(i)).as(s"b_$f") } :+
      lit(r2).as("r2")
    new Df(df.spark.range(1).select(out: _*))
  }
}
