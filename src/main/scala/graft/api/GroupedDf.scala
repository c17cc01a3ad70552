package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped frame — Spark-first re-expression of the reference's `GroupBy`
  * collection (`/root/reference/pandas_expr/_groupby.py:246-388`) and its
  * `SingleAggregation`/`GroupbyAggregation` nodes (`_groupby.py:24-190`).
  *
  * Every aggregate compiles to a Catalyst `Aggregate`: partial (map-side)
  * HashAggregate → shuffle by group keys → final HashAggregate, with
  * spill — the distributed execution the reference's one-task
  * `df.groupby(...).agg(...)` (`_groupby.py:111-123`) does not have.
  *
  * pandas `first`/`last` mean first/last BY ROW ORDER; Spark's
  * `first(col)` is nondeterministic, so we require an explicit order key
  * and compile to `min_by`/`max_by` — deterministic and still one
  * shuffle.
  */
final class GroupedDf private[api] (
    private val df: Df,
    val keys: Seq[String],
    val slice: Seq[String] = Nil) {

  private def sdf: DataFrame = df.sdf
  /** grouped results inherit the source frame's retained attachments —
    * same contract as the Df combinators (precise release survives
    * `op(...).groupby(...).agg(...)` chains) */
  private def dfOut(s: DataFrame): Df = new Df(s).inheriting(df)
  private def valueCols: Seq[String] =
    (if (slice.nonEmpty) slice else df.columns.filterNot(keys.contains))
  private def numericValueCols: Seq[String] = {
    val numeric = df.schema.fields
      .collect { case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name }
      .toSet
    valueCols.filter(numeric)
  }

  /** sliced groupby `g.y` / `g[["y","z"]]` (`_groupby.py:320-335`) */
  def apply(cols: String*): GroupedDf = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"slice cols not in frame: $missing")
    new GroupedDf(df, keys, cols)
  }

  private def aggEach(fn: Column => Column, suffix: String = ""): Df = {
    val aggs = numericValueCols.map(c => fn(sdf(c)).as(c + suffix))
    dfOut(sdf.groupBy(keys.map(sdf(_)): _*).agg(aggs.head, aggs.tail: _*))
  }

  // `SingleAggregation` subclasses (`_groupby.py:193-238`), each one
  // partial+final HashAggregate pair:
  def sum(): Df = aggEach(org.apache.spark.sql.functions.sum(_))
  def mean(): Df = aggEach(avg(_))
  def min(): Df = aggEach(org.apache.spark.sql.functions.min(_))
  def max(): Df = aggEach(org.apache.spark.sql.functions.max(_))
  def count(): Df = aggEach(org.apache.spark.sql.functions.count(_))
  /** general ddof through [[graft.functions.PandasAgg.varDdof]]: its
    * n ≤ ddof → NULL guard matters here too — one degenerate group
    * would otherwise kill the whole aggregation with an ANSI
    * divide-by-zero (`SURVEY.md §2.5`) */
  def varr(ddof: Int = 1): Df =
    aggEach(c => graft.functions.PandasAgg.varDdof(c, ddof))
  def std(ddof: Int = 1): Df =
    aggEach(c => sqrt(graft.functions.PandasAgg.varDdof(c, ddof)))
  /** product via custom-free formulation: sign-aware exp(sum(log|x|)),
    * zero if any zero (`SURVEY.md §2.5 Prod`). */
  def prod(): Df = aggEach { c =>
    val F = org.apache.spark.sql.functions
    val anyZero = F.max(when(c === 0, 1).otherwise(0)) === 1
    val negCount = F.sum(when(c < 0, 1).otherwise(0))
    val mag = exp(F.sum(log(abs(nullif(c, lit(0))))))
    when(anyZero, lit(0.0))
      .otherwise(mag * when(negCount % 2 === 1, -1.0).otherwise(1.0))
  }
  /** pandas `g.quantile(q)` — exact interpolated percentile per group */
  def quantile(q: Double): Df = {
    val aggs = numericValueCols.map(c => expr(s"percentile($c, $q)").as(c))
    dfOut(sdf.groupBy(keys.map(sdf(_)): _*).agg(aggs.head, aggs.tail: _*))
  }
  /** [[quantile]] for FEW large cohorts — grouped order-statistic
    * selection ([[graft.operators.Quantiles.exactGroupQuantilesContMulti]]):
    * bitwise the same interpolated value as the per-group `percentile`
    * aggregate, without its cohort-sized value buffers (cohort ≈
    * corpus/#groups — the wall exactly when groups are few). Any number
    * of group keys (one multi-column range sort, like GroupedScan);
    * rows with ANY null key are excluded (no cohort). One row per
    * group. Eager (runs the selection jobs at call time) — cache
    * upstream nondeterminism first. */
  def quantileScalable(valueCol: String, q: Double, out: String = "",
                       maxGroups: Int = 10000): Df = {
    require(keys.nonEmpty, "quantileScalable: at least one group key")
    val o = if (out.isEmpty) valueCol else out
    val m = graft.operators.Quantiles.exactGroupQuantilesContMulti(
      sdf, keys, valueCol, Seq(q), maxGroups)
    val gFields = keys.map(sdf.schema(_))
    val rows = m.toSeq.map { case (ks, vs) =>
      org.apache.spark.sql.Row.fromSeq(
        ks.map(graft.operators.Quantiles.decanonKey) :+
          Option(vs.head).map(_.doubleValue()).orNull)
    }
    val spark = sdf.sparkSession
    dfOut(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(gFields :+
        org.apache.spark.sql.types.StructField(o,
          org.apache.spark.sql.types.DoubleType))))
  }

  /** `size` counts rows incl. nulls (vs `count` excl.) (`SURVEY.md §2.6`) */
  def size(): Df =
    dfOut(sdf.groupBy(keys.map(sdf(_)): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("size")))
  /** deterministic pandas-`first`: min_by on an explicit order column. */
  def first(orderCol: String): Df =
    aggEach(c => min_by(c, sdf(orderCol)), "")
  def last(orderCol: String): Df =
    aggEach(c => max_by(c, sdf(orderCol)), "")
  /** per-group value_counts (`_groupby.py:224`) */
  def valueCounts(): Df = {
    val gcols = (keys ++ valueCols).map(sdf(_))
    dfOut(sdf.groupBy(gcols: _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count")))
  }

  /** pandas `g.cumcount()`: 0-based ordinal within the group, by an
    * explicit order (one shuffle on the keys — a grouped window, never
    * a global one). */
  def cumcount(orderKeys: Seq[String], out: String = "cumcount"): Df = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(sdf(_)): _*)
      .orderBy(orderKeys.map(sdf(_).asc): _*)
    dfOut(sdf.withColumn(out, row_number().over(w) - 1))
  }

  /** pandas `g.head(n)`: first n rows per group by an explicit order. */
  def headPerGroup(n: Int, orderKeys: Seq[String]): Df = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(sdf(_)): _*)
      .orderBy(orderKeys.map(sdf(_).asc): _*)
    dfOut(sdf.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n).drop("__rn"))
  }

  /** pandas `g.sample(n=...)`: exactly min(n, group size) rows per
    * group, drawn by a seeded per-row uniform ranked within the group —
    * one window shuffle on the keys, no collect. The DRAW differs
    * across engines (like [[Df.sample]]), but the count contract
    * (= LEAST(n, group size) per group) and containment are exact and
    * oracle-able as invariants. */
  def sampleN(n: Int, seed: Long = 42L): Df = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(sdf(_)): _*)
      .orderBy(rand(seed))
    dfOut(sdf.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n).drop("__rn"))
  }

  /** pandas `g.cumsum()` over one column by an explicit order. */
  def cumsum(valueCol: String, orderKeys: Seq[String],
             out: String = "cumsum"): Df = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(keys.map(sdf(_)): _*)
      .orderBy(orderKeys.map(sdf(_).asc): _*)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    dfOut(sdf.withColumn(out, org.apache.spark.sql.functions.sum(sdf(valueCol)).over(w)))
  }

  /** pandas `g.idxmax()` / `g.idxmin()`: the ID of each group's
    * extreme row — partial-aggregable `max_by`/`min_by` over a
    * (value, tiebreak...) struct, map-side combine, no window sort.
    * Ties break on the id itself (pandas takes first occurrence by
    * positional order; Spark rows are unordered, so the deterministic
    * tiebreak must be named — smallest id wins). */
  def idxmax(valueCol: String, idCol: String, out: String = "idxmax"): Df =
    idxBy(valueCol, idCol, out, largest = true)

  def idxmin(valueCol: String, idCol: String, out: String = "idxmin"): Df =
    idxBy(valueCol, idCol, out, largest = false)

  private def idxBy(valueCol: String, idCol: String, out: String,
                    largest: Boolean): Df = {
    val F = org.apache.spark.sql.functions
    import org.apache.spark.sql.types._
    // max_by on (value, -id) implements "largest value, smallest id on
    // ties" as ONE struct comparison (partial-aggregable, map-side
    // combine); min_by symmetric. The negation is picked per id dtype so
    // it can never overflow: fixed-width ints widen to long (int can't
    // overflow there), long/decimal negate as decimal (symmetric range —
    // -(Long.MinValue) is representable in DECIMAL(20,0)).
    val negId: Option[org.apache.spark.sql.Column] =
      sdf.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType =>
          Some(-sdf(idCol).cast(LongType))
        case LongType => Some(-sdf(idCol).cast(DecimalType(20, 0)))
        case _: DecimalType => Some(-sdf(idCol))
        // Float/Double: a NaN id sorts LARGEST and -NaN is still NaN,
        // so negation silently picks the NaN id on value ties — route
        // through the window fallback like other unreversible dtypes
        case _ => None // float/double/string/date/...
      }
    (largest, negId) match {
      case (true, Some(n)) =>
        val key = F.struct(sdf(valueCol).as("v"), n.as("negid"))
        dfOut(sdf.groupBy(keys.map(sdf(_)): _*)
          .agg(F.max_by(sdf(idCol), key).as(out)))
      case (false, _) =>
        val key = F.struct(sdf(valueCol).as("v"), sdf(idCol).as("id"))
        dfOut(sdf.groupBy(keys.map(sdf(_)): _*)
          .agg(F.min_by(sdf(idCol), key).as(out)))
      case (true, None) =>
        // non-numeric id: "largest value, smallest id" needs opposite
        // sort directions, inexpressible as one struct ordering — fall
        // back to a per-group row_number (same shuffle key; loses only
        // the map-side combine, and only on this dtype class)
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(sdf(_)): _*)
          .orderBy(sdf(valueCol).desc, sdf(idCol).asc)
        dfOut(sdf
          .withColumn("__rn", F.row_number().over(W))
          .where(F.col("__rn") === 1)
          .select(keys.map(sdf(_)) :+ sdf(idCol).as(out): _*))
    }
  }

  private def expandingFrame(orderKeys: Seq[String]) = {
    val W = org.apache.spark.sql.expressions.Window
    W.partitionBy(keys.map(sdf(_)): _*)
      .orderBy(orderKeys.map(sdf(_).asc): _*)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
  }

  /** pandas `g.cummax()` / `g.cummin()` by an explicit order — the
    * same one-window-pass shape as [[cumsum]]. */
  def cummax(valueCol: String, orderKeys: Seq[String],
             out: String = "cummax"): Df =
    dfOut(sdf.withColumn(out, org.apache.spark.sql.functions
      .max(sdf(valueCol)).over(expandingFrame(orderKeys))))

  def cummin(valueCol: String, orderKeys: Seq[String],
             out: String = "cummin"): Df =
    dfOut(sdf.withColumn(out, org.apache.spark.sql.functions
      .min(sdf(valueCol)).over(expandingFrame(orderKeys))))

  /** pandas `g.shift(periods)` by an explicit order (lead for negative
    * periods, like pandas). */
  def shift(valueCol: String, orderKeys: Seq[String], periods: Int = 1,
            out: String = "shifted"): Df = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(keys.map(sdf(_)): _*)
      .orderBy(orderKeys.map(sdf(_).asc): _*)
    val c = if (periods >= 0)
      org.apache.spark.sql.functions.lag(sdf(valueCol), periods).over(w)
    else org.apache.spark.sql.functions.lead(sdf(valueCol), -periods).over(w)
    dfOut(sdf.withColumn(out, c))
  }

  /** pandas `g.rank(method=...)` over one column: "min" (default
    * pandas-on-ties-share-min), "dense", or "first" (row_number by
    * value then order keys — total order required). */
  def rank(valueCol: String, out: String = "rank",
           method: String = "min", ascending: Boolean = true,
           tieBreak: Seq[String] = Nil): Df = {
    val F = org.apache.spark.sql.functions
    val W = org.apache.spark.sql.expressions.Window
    val v = if (ascending) sdf(valueCol).asc else sdf(valueCol).desc
    val w = W.partitionBy(keys.map(sdf(_)): _*)
      .orderBy(v +: tieBreak.map(sdf(_).asc): _*)
    val r = method match {
      case "min"   => F.rank().over(
        W.partitionBy(keys.map(sdf(_)): _*).orderBy(v))
      case "dense" => F.dense_rank().over(
        W.partitionBy(keys.map(sdf(_)): _*).orderBy(v))
      case "first" =>
        require(tieBreak.nonEmpty,
          "rank(method=first) needs tieBreak keys for a total order")
        F.row_number().over(w)
      case other => throw new IllegalArgumentException(
        s"rank: method must be min|dense|first: $other")
    }
    dfOut(sdf.withColumn(out, r))
  }

  /** pandas `g.transform(agg)` — each group's aggregate value repeated
    * onto every member row. NOT a whole-group window (`sum().over(
    * partitionBy(keys))` caps parallelism at the key cardinality and
    * materializes each group inside one task): re-expressed as the
    * partial+final hash AGGREGATE joined back on the keys — null-safe,
    * so null keys form a group exactly like the window's partitionBy.
    * The agg side is one row per group; AQE turns the join into a
    * broadcast at runtime exactly when the window formulation would
    * have been most serialized (few groups). Empty keys = the global
    * aggregate broadcast onto every row (scalable keyless transform). */
  def transform(exprs: (String, Column)*): Df = {
    require(exprs.nonEmpty, "transform: at least one (name, agg) pair")
    val clash = exprs.map(_._1).filter(df.columns.contains)
    require(clash.isEmpty, s"transform: output column(s) already exist: " +
      s"${clash.mkString(", ")} — the join would duplicate them " +
      "(drop or rename first)")
    require(exprs.map(_._1).distinct.size == exprs.size,
      s"transform: duplicate output names: ${exprs.map(_._1).mkString(", ")}")
    val aggs = exprs.map { case (n, c) => c.as(n) }
    if (keys.isEmpty) {
      val g = sdf.agg(aggs.head, aggs.tail: _*)
      return dfOut(sdf.crossJoin(broadcast(g)))
    }
    val agg0 = sdf.groupBy(keys.map(sdf(_)): _*).agg(aggs.head, aggs.tail: _*)
    val renamed = keys.foldLeft(agg0)((d, k) =>
      d.withColumnRenamed(k, s"__transform_$k"))
    val cond = keys.map(k => sdf(k) <=> renamed(s"__transform_$k"))
      .reduce(_ && _)
    dfOut(sdf.join(renamed, cond, "left")
      .drop(keys.map(k => s"__transform_$k"): _*))
  }

  /** The grouped transform verbs WITHOUT the key-cardinality ceiling —
    * [[graft.operators.GroupedScan]]'s two-phase range-partitioned
    * scan. The window verbs above parallelize by group count: three
    * distinct keys ⟹ three tasks, whatever the data size. These
    * variants parallelize by DATA size (range-partition on group ++
    * order keys, O(numPartitions) driver carry — the
    * [[Df.withRowIndexScalable]] pattern), at the cost of leaving
    * whole-stage codegen for the scan itself. Rule of thumb: windows
    * when groups ≫ cores, scans when groups ≲ cores or one group
    * dominates (skew). All verbs in one call share a single sort. */
  def scanScalable(orderKeys: Seq[String],
                   verbs: Seq[graft.operators.GroupedScan.Verb],
                   numPartitions: Int = 0): Df =
    scanScalableOrdered(orderKeys.map(_ -> true), verbs, numPartitions)

  /** [[scanScalable]] with per-key sort direction (name → ascending?). */
  def scanScalableOrdered(orderKeys: Seq[(String, Boolean)],
                          verbs: Seq[graft.operators.GroupedScan.Verb],
                          numPartitions: Int = 0): Df =
    graft.operators.GroupedScan.scan(
      sdf, keys, orderKeys, verbs, numPartitions).inheriting(df)

  def cumsumScalable(valueCol: String, orderKeys: Seq[String],
                     out: String = "cumsum"): Df =
    scanScalable(orderKeys, Seq(graft.operators.GroupedScan.CumSum(valueCol, out)))

  def cummaxScalable(valueCol: String, orderKeys: Seq[String],
                     out: String = "cummax"): Df =
    scanScalable(orderKeys, Seq(graft.operators.GroupedScan.CumMax(valueCol, out)))

  def cumminScalable(valueCol: String, orderKeys: Seq[String],
                     out: String = "cummin"): Df =
    scanScalable(orderKeys, Seq(graft.operators.GroupedScan.CumMin(valueCol, out)))

  def cumcountScalable(orderKeys: Seq[String],
                       out: String = "cumcount"): Df =
    scanScalable(orderKeys, Seq(graft.operators.GroupedScan.CumCount(out)))

  /** negative `periods` (pandas lead) runs the SAME forward-scan
    * kernel over the reversed sort — safe here because the wrapper
    * owns the whole scan (a raw multi-verb scan mixing lead with
    * order-sensitive verbs must not reverse; GroupedScan.Shift itself
    * requires periods ≥ 0 for that reason). */
  def shiftScalable(valueCol: String, orderKeys: Seq[String],
                    periods: Int = 1, out: String = "shifted"): Df =
    scanScalableOrdered(orderKeys.map(_ -> (periods >= 0)),
      Seq(graft.operators.GroupedScan.Shift(valueCol, math.abs(periods), out)))

  def ffillScalable(valueCol: String, orderKeys: Seq[String],
                    out: String): Df =
    scanScalable(orderKeys, Seq(graft.operators.GroupedScan.Ffill(valueCol, out)))

  /** pandas `bfill` (next non-null at-or-after, by the given order) —
    * the Ffill kernel over the REVERSED sort, the same
    * wrapper-owns-the-whole-scan trick as negative-period shift. */
  def bfillScalable(valueCol: String, orderKeys: Seq[String],
                    out: String): Df =
    scanScalableOrdered(orderKeys.map(_ -> false),
      Seq(graft.operators.GroupedScan.Ffill(valueCol, out)))

  /** pandas `diff(periods)` without the key-cardinality ceiling;
    * negative periods (lead-diff) reverse the scan order like
    * [[shiftScalable]]. Output dtype follows the window `c - lag(c)`
    * form (int→int, decimal(p,s)→decimal(p+1,s), …). */
  def diffScalable(valueCol: String, orderKeys: Seq[String],
                   periods: Int = 1, out: String = "diff"): Df = {
    require(periods != 0, "diffScalable: periods must be non-zero")
    scanScalableOrdered(orderKeys.map(_ -> (periods >= 0)),
      Seq(graft.operators.GroupedScan.Diff(valueCol, math.abs(periods), out)))
  }

  /** pandas `pct_change(periods)` without the key-cardinality ceiling
    * (DOUBLE output; negative periods reverse the scan order). */
  def pctChangeScalable(valueCol: String, orderKeys: Seq[String],
                        periods: Int = 1, out: String = "pct_change"): Df = {
    require(periods != 0, "pctChangeScalable: periods must be non-zero")
    scanScalableOrdered(orderKeys.map(_ -> (periods >= 0)),
      Seq(graft.operators.GroupedScan.PctChange(
        valueCol, math.abs(periods), out)))
  }

  /** rolling(k) sum|mean|min|max|count|var|std over the trailing k
    * rows — the `rowsBetween(-(k-1), 0)` frame without the
    * key-cardinality ceiling (SQL skip-null semantics; pandas
    * `min_periods=1`; var/std are ddof=1 like
    * `var_samp`/`stddev_samp`). */
  def rollingScalable(valueCol: String, orderKeys: Seq[String], k: Int,
                      agg: String = "mean", out: String = "rolling"): Df =
    scanScalable(orderKeys,
      Seq(graft.operators.GroupedScan.Rolling(valueCol, k, agg, out)))

  /** pandas `ewm(alpha, adjust=True).mean()` by an explicit order —
    * EXACT (no eps-truncated tail) and cardinality-ceiling-free: the
    * affine recurrence composes across partitions in O(1). */
  def ewmScalable(valueCol: String, orderKeys: Seq[String], alpha: Double,
                  out: String = "ewma"): Df =
    scanScalable(orderKeys,
      Seq(graft.operators.GroupedScan.Ewm(valueCol, alpha, out)))

  /** rank(method=min|dense) by `valueCol` — ties share a rank, so no
    * tiebreak keys are needed (method=first is
    * `cumcountScalable(value +: tieBreaks) + 1`). */
  def rankScalable(valueCol: String, out: String = "rank",
                   method: String = "min", ascending: Boolean = true): Df = {
    val verb = method match {
      case "min"   => graft.operators.GroupedScan.RankMin(out)
      case "dense" => graft.operators.GroupedScan.RankDense(out)
      case other => throw new IllegalArgumentException(
        s"rankScalable: method must be min|dense: $other")
    }
    graft.operators.GroupedScan.scan(
      sdf, keys, Seq(valueCol -> ascending), Seq(verb)).inheriting(df)
  }

  /** `GroupbyAggregation` dict/list spec (`_groupby.py:136-190`):
    * {"x": ["sum","mean"], "y": "count"} → flattened `x_sum` names
    * (SURVEY.md §7.4.6: MultiIndex columns flatten). */
  def agg(spec: Map[String, Seq[String]]): Df = {
    val aggs = for ((c, fns) <- spec.toSeq.sortBy(_._1); fn <- fns) yield {
      val col = sdf(c)
      val out = s"${c}_$fn"
      (fn match {
        case "sum"    => org.apache.spark.sql.functions.sum(col)
        case "mean"   => avg(col)
        case "min"    => org.apache.spark.sql.functions.min(col)
        case "max"    => org.apache.spark.sql.functions.max(col)
        case "count"  => org.apache.spark.sql.functions.count(col)
        case "var"    => var_samp(col)
        case "std"    => stddev_samp(col)
        case "nunique" => countDistinct(col)
        case "median" => expr(s"percentile($c, 0.5)")
        case "first"  => sys.error("agg: 'first' needs an order column — use GroupedDf.first(orderCol)")
        case other    => sys.error(s"agg: unsupported function $other")
      }).as(out)
    }
    dfOut(sdf.groupBy(keys.map(sdf(_)): _*).agg(aggs.head, aggs.tail: _*))
  }
  /** custom aggregate expressions with explicit aliases */
  def agg(exprs: Column*): Df =
    dfOut(sdf.groupBy(keys.map(sdf(_)): _*).agg(exprs.head, exprs.tail: _*))
}
