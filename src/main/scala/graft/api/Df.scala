package graft.api

import graft.operators.FanOut
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lazy pandas-verb DataFrame — the Spark-first re-expression of the
  * reference's `DataFrame` collection
  * (`/root/reference/pandas_expr/_collection.py:323`).
  *
  * Design (SURVEY.md §7.1): we do NOT rebuild the reference's `Expr` IR,
  * optimizer, or scheduler (`_expr.py`, `_schedule.py`). A Spark
  * `DataFrame` already IS a lazy expression tree; Catalyst performs the
  * reference's rewrites (projection pushdown, predicate pushdown into
  * parquet, limit pushdown, fusion ≈ whole-stage codegen) natively.
  * Every method here is pure, immutable, and lazy — it only grows the
  * logical plan. `compute()`/`write` are the actions.
  *
  * Scale notes (100 TB posture):
  *  - no method ever calls `.collect()` on the driver;
  *  - row order is NOT materialized — unlike pandas there is no implicit
  *    global index. Order-sensitive verbs (`head`, `sortValues`,
  *    `nlargest`) take explicit sort keys, which Catalyst turns into
  *    `TakeOrderedAndProject` (no global sort for top-k);
  *  - joins/groupbys shuffle on their keys only; small dimension sides
  *    should be wrapped with [[Df.broadcastHint]].
  */
final class Df(val sdf: DataFrame, val indexCol: Option[String] = None) {

  def spark: SparkSession = sdf.sparkSession
  def schema: StructType = sdf.schema
  def columns: Seq[String] = sdf.columns.toSeq

  /** Persisted intermediates this frame's plan references, attached by
    * the operator that created them. [[graft.operators.Materialize]]
    * states the cache-lifetime contract: what an operator holds, when
    * it is attached here, and release on failure. Release with
    * [[unpersistIntermediates]] after the terminal action — precise,
    * unlike `spark.catalog.clearCache()` which nukes unrelated caches.
    *
    * Frames DERIVED through Df combinators (`.where(...)`,
    * `.select(...)`, joins, …) INHERIT the attachment, so the precise
    * release path survives fluent chains — release through whichever
    * handle you kept (unpersist is idempotent; the JVM-wide registry
    * entry is removed once). Only frames rebuilt from the bare
    * `DataFrame` (`new Df(op.sdf)...`) lose it; then
    * [[Df.releaseRetained]] drops every graft-operator-persisted
    * intermediate still live in the JVM. */
  private val retained =
    new java.util.concurrent.atomic.AtomicReference[List[DataFrame]](Nil)
  /** operator-internal: attach persisted frames (already in the
    * registry) to this result */
  private[graft] def retaining(frames: DataFrame*): Df = {
    retained.getAndUpdate(frames.toList ::: _)
    this
  }
  /** Carry `from`'s retained attachments onto this derived frame (no new
    * registry entries — the originals already stand; a release through
    * EITHER handle unpersists the blocks and clears the registry). */
  private[graft] def inheriting(from: Df*): Df = {
    val fs = from.iterator.flatMap(_.retained.get()).toList
    if (fs.nonEmpty) retained.getAndUpdate(fs ::: _)
    this
  }
  /** combinator-internal: wrap a derived plan, inheriting attachments */
  private def derived(s: DataFrame, idx: Option[String] = None): Df =
    new Df(s, idx).inheriting(this)
  /** Release the persisted intermediates behind this operator result.
    * Call AFTER the terminal action — the blocks back every reference
    * to the intermediate in the plan; derived frames recompute from
    * source if acted on later. Idempotent; the atomic swap makes a
    * racing double-release from two driver threads a no-op for one of
    * them. */
  def unpersistIntermediates(): Unit = {
    val fs = retained.getAndSet(Nil)
    fs.foreach { f => Df.unpersistAny(f); Df.retainedRegistry.remove(f) }
  }

  // ---- projections (`Projection`, `_expr.py:1366`) ----
  def select(cols: String*): Df = derived(sdf.select(cols.map(sdf(_)): _*))
  def apply(cols: Seq[String]): Df = select(cols: _*)
  /** scalar key → Series (`_expr.py:1393-1400`) */
  def apply(name: String): Ser = new Ser(sdf, sdf(name), name)
  /** boolean-mask row selection `df[mask]` (`Filter`, `_expr.py:1355`).
    * Compiles [[Ser.filterCol]], not the materialized mask: the pandas
    * mask verbs wrap their predicate in `coalesce(pred, false)` (total
    * mask), which is opaque to data-source filter translation and
    * would cost the scan its parquet `PushedFilters` (measured on
    * q03); under a WHERE the wrapper is redundant — SQL drops NULL
    * rows anyway — so the bare pushdown-friendly predicate rides along
    * on the Ser and is used here. */
  def apply(mask: Ser): Df = derived(sdf.filter(mask.filterCol))
  def where(cond: Column): Df = derived(sdf.filter(cond))
  def where(mask: Ser): Df = derived(sdf.filter(mask.filterCol))

  /** `Assign` (`_expr.py:1309`): add/overwrite one column.
    *
    * Fails fast (with a named error) when the Ser references columns
    * this frame no longer carries — the "Ser lineage rule": a Ser built
    * from frame F can only be assigned onto F or a descendant that kept
    * the referenced columns. Without this check Spark fails later with
    * a cryptic MISSING_ATTRIBUTES analysis error. */
  def assign(name: String, value: Ser): Df =
    try derived(sdf.withColumn(name, value.col))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null && e.getCondition.startsWith("MISSING_ATTRIBUTES") =>
        throw new IllegalArgumentException(
          s"assign('$name'): the Ser references columns this frame no longer " +
            s"carries (columns here: ${columns.mkString(", ")}). Re-derive the " +
            "Ser from the current frame - Sers don't survive operations that " +
            "drop or rebuild their source columns (select/replace/rename). " +
            s"Analyzer said: ${e.getMessage.linesIterator.next()}", e)
    }
  def assign(name: String, value: Column): Df = derived(sdf.withColumn(name, value))
  /** `Drop` (`_expr.py:1296`) — reference rewrites to Projection; Spark's
    * ColumnPruning does the same. */
  def drop(cols: String*): Df = derived(sdf.drop(cols: _*))
  /** `RenameFrame` (`_expr.py:1034`) */
  def rename(mapping: Map[String, String]): Df =
    derived(sdf.withColumnsRenamed(mapping))
  /** `Eval` (`_expr.py:1344`) — pandas eval strings → Spark SQL exprs. */
  def eval(assignName: String, sqlExpr: String): Df =
    derived(sdf.withColumn(assignName, expr(sqlExpr)))
  /** pandas single-string eval (`df.eval("z = x + y")`,
    * `_expr.py:1344-1352`): split on the lone assignment `=` (not part
    * of ==/!=/<=/>=) and delegate to the (name, expr) form. A second
    * bare `=` in the expression is REJECTED — in pandas-eval semantics
    * equality is `==`, and silently passing `z = x = y` to Spark SQL
    * would bind z to the comparison `x = y`. SQL-style expressions
    * (where `=` is equality) go through the two-arg [[eval]]. */
  def eval(stmt: String): Df = stmt match {
    case Df.EvalAssign(name, e) =>
      if (Df.BareEquals.findFirstIn(Df.stripQuoted(e)).isDefined)
        throw new IllegalArgumentException(
          s"eval: chained/multiple assignment is not supported and '=' is " +
            s"not equality in pandas-eval strings (use '==', or the " +
            s"eval(name, sqlExpr) form for SQL semantics): '$stmt'")
      eval(name, e)
    case _ => throw new IllegalArgumentException(
      s"eval: expected 'name = expression', got '$stmt'")
  }
  def selectExpr(exprs: String*): Df = derived(sdf.selectExpr(exprs: _*))
  /** `select_dtypes` (`_collection.py:489-491`) — eager on schema, like
    * the reference is eager on meta. `include` keeps, `exclude` drops
    * (exclude wins on overlap, as in pandas). */
  def selectDtypes(include: DataType => Boolean = _ => true,
                   exclude: DataType => Boolean = _ => false): Df =
    select(schema.fields
      .filter(f => include(f.dataType) && !exclude(f.dataType))
      .map(_.name).toSeq: _*)

  // ---- elementwise, frame-level (`_expr.py:986-1341`) ----
  /** `Fillna` (`_expr.py:1111`) */
  def fillna(value: Any, subset: Seq[String] = Nil): Df = {
    val s = if (subset.isEmpty) columns else subset
    derived(value match {
      case d: Double => sdf.na.fill(d, s)
      case l: Long   => sdf.na.fill(l, s)
      case i: Int    => sdf.na.fill(i.toLong, s)
      case x: String => sdf.na.fill(x, s)
      case b: Boolean => sdf.na.fill(b, s)
      case other => sys.error(s"fillna: unsupported $other")
    })
  }
  /** `DropnaFrame` (`_expr.py:986`): how ∈ any|all, optional subset/thresh. */
  def dropna(how: String = "any", subset: Seq[String] = Nil, thresh: Int = -1): Df = {
    val s = if (subset.isEmpty) columns else subset
    derived(if (thresh >= 0) sdf.na.drop(thresh, s) else sdf.na.drop(how, s))
  }
  /** `Replace` (`_expr.py:1125`) */
  def replace(mapping: Map[Any, Any], subset: Seq[String] = Nil): Df = {
    val s = if (subset.isEmpty) columns else subset
    derived(sdf.na.replace(s, mapping))
  }
  /** `Replace` with `regex=True` (`_expr.py:1125-1130`): pattern-rewrite
    * string columns (non-string columns pass through untouched when no
    * subset is given). Codegen'd `regexp_replace`, no shuffle. */
  def replaceRegex(pattern: String, replacement: String,
                   subset: Seq[String] = Nil): Df = {
    val s = if (subset.nonEmpty) subset
      else schema.fields.collect { case f if f.dataType == StringType => f.name }.toSeq
    derived(sdf.withColumns(
      s.map(c => c -> regexp_replace(sdf(c), pattern, replacement)).toMap))
  }
  /** `AsType` with per-column dict (`_expr.py:1171-1206`). */
  def astype(dtypes: Map[String, String]): Df =
    derived(sdf.withColumns(dtypes.map { case (c, t) => c -> sdf(c).cast(t) }))
  /** `ExplodeFrame` (`_expr.py:1280`): unnest one column, repeat others.
    * pandas keeps empty/NaN rows → explode_outer. */
  def explode(column: String): Df =
    derived(sdf.withColumn(column, explode_outer(sdf(column))))
  /** Stratified sampling (pandas `groupby(...).sample` shape): per-value
    * fractions on a key column; strata without an entry default to 0.
    * One pass, no shuffle — each row draws against its stratum's
    * fraction (`DataFrameStatFunctions.sampleBy`). */
  def sampleBy(c: String, fractions: Map[Any, Double], seed: Long = 42L): Df =
    derived(sdf.stat.sampleBy(col(c), fractions, seed))
  /** `Sample` (`_expr.py:1055`) */
  def sample(frac: Double, replace: Boolean = false, seed: Long = 42L): Df =
    derived(sdf.sample(replace, frac, seed))

  /** Deterministic hash split — how production pipelines cut train/val/
    * test: bucket = the canonical portable 32-bit hash
    * ([[graft.functions.TextFunctions.hash32]], md5-prefix) of the key
    * mod `buckets`; rows with bucket < threshold go to `matchLabel`.
    * Stable under reshuffling, re-partitioning, and re-runs (no RNG
    * state), portable across engines, and adding data never moves an
    * existing row's split. The threshold ROUNDS fraction·buckets (a
    * bare toLong would floor 0.29·10000 = 2899.9999999999995 and
    * silently lose a whole bucket — the binary-inexactness hazard the
    * PPJoin prefix ε-guards). One codegen'd expression, no shuffle. */
  def splitByHash(keyCol: String, fraction: Double,
                  matchLabel: String = "holdout", restLabel: String = "train",
                  out: String = "split", buckets: Int = 10000): Df = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val bucket =
      graft.functions.TextFunctions.hash32(col(keyCol).cast("string")) % buckets
    derived(sdf.withColumn(out,
      when(bucket < math.round(fraction * buckets), lit(matchLabel))
        .otherwise(lit(restLabel))))
  }

  /** Three-way [[splitByHash]] — the train/val/test shape. Ordered
    * label fractions carve adjacent bucket ranges
    * (`[0, f1) [f1, f1+f2) [rest]`), with the same per-row determinism
    * and add-data stability as [[splitByHash]]. The thresholds are
    * CUMULATIVE, so range stability is asymmetric: changing
    * `valFraction` shifts the test range bodily (rows can move between
    * test and train even though `testFraction` was untouched), while
    * changing only `testFraction` leaves the val range fixed. Pin the
    * earlier fractions if downstream jobs depend on a stable split.
    * Each threshold rounds (the [[splitByHash]] binary-inexactness
    * guard). */
  def splitByHash3(keyCol: String, valFraction: Double, testFraction: Double,
                   labels: (String, String, String) = ("val", "test", "train"),
                   out: String = "split", buckets: Int = 10000): Df = {
    require(valFraction >= 0 && testFraction >= 0 &&
      valFraction + testFraction <= 1,
      s"need valFraction, testFraction >= 0 with sum <= 1: $valFraction, $testFraction")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val bucket =
      graft.functions.TextFunctions.hash32(col(keyCol).cast("string")) % buckets
    val t1 = math.round(valFraction * buckets)
    val t2 = t1 + math.round(testFraction * buckets)
    derived(sdf.withColumn(out,
      when(bucket < t1, lit(labels._1))
        .when(bucket < t2, lit(labels._2))
        .otherwise(lit(labels._3))))
  }

  /** k-fold assignment for cross-validation over a corpus too big to
    * shuffle: `fold = hash32(seed:key) mod k`, the same portable
    * md5-prefix rule as [[splitByHash]] — deterministic, engine-
    * portable, stable under repartitioning, and fold-i membership
    * never changes when data is added. One codegen'd map-side
    * expression, no shuffle, no RNG state. Unlike [[splitByHash]]'s
    * bucket-threshold carve, every fold here is an exact residue
    * class, so folds are disjoint and exhaustive by construction. */
  def kFoldSplit(keyCol: String, k: Int, seed: Long = 42L,
                 out: String = "fold"): Df = {
    require(k >= 2, s"kFoldSplit: k must be >= 2: $k")
    val fold = graft.functions.TextFunctions.hash32(
      concat_ws(":", lit(seed), col(keyCol).cast("string"))) % k
    derived(sdf.withColumn(out, fold.cast("int")))
  }

  // ---- index emulation (SURVEY.md §7.4.1) ----
  /** `SetIndex` (`_expr.py:1118`): Spark rows are unordered, so the
    * pandas index is just a designated key column. We track the name;
    * index-joins (`merge` with `on=Nil`) use it. No data movement. */
  def setIndex(c: String): Df = { require(columns.contains(c)); derived(sdf, Some(c)) }
  /** `ResetIndex` (`_expr.py:1462`): drop index designation. */
  def resetIndex: Df = derived(sdf, None)
  /** Materialize an explicit ordinal index by a deterministic sort key —
    * `row_number` over a global order. Scale note: the keyless window
    * funnels ALL rows through one task; kept for small-frame pandas
    * fidelity — use [[withRowIndexScalable]] on anything big. */
  def withRowIndex(orderBy: Seq[String], name: String = "__index__"): Df = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderBy.map(sdf(_)): _*)
    derived(sdf.withColumn(name, row_number().over(w) - 1), Some(name))
  }

  /** The same global ordinal WITHOUT a single-partition window — the
    * 100 TB path. Classic two-pass zip-with-index: range-partition by
    * the sort keys (so partition p's rows all precede partition p+1's),
    * sort within partitions, count rows per partition (a driver-side
    * array of ONE LONG per partition — not data), then add each
    * partition's cumulative offset to its local ordinal. Every stage is
    * fully parallel; the only sequential state is the tiny offset array.
    *
    * Like Spark's own `RDD.zipWithIndex`, this runs two jobs over the
    * same lineage (count, then index). Range-bound sampling is seeded
    * deterministically, so both jobs see identical partitioning for a
    * deterministic input; cache the input first if its lineage is not. */
  def withRowIndexScalable(orderBy: Seq[String], name: String = "__index__",
                           numPartitions: Int = 0): Df = {
    val keys = orderBy.map(sdf(_).asc)
    // pinned against AQE coalescing: both zipWithIndex jobs need the
    // exchange's full parallelism (the r15 protocol-pin convention)
    val ranged = sdf.repartitionByRange(
      if (numPartitions > 0) numPartitions
      else graft.operators.Gate.shufflePartitions(sdf),
      keys: _*).sortWithinPartitions(keys: _*)
    val schema1 = StructType(
      ranged.schema.fields :+ StructField(name, LongType, nullable = false))
    // RDD.zipWithIndex runs the count job and the index job over the
    // SAME RDD, so both see identical partitioning by construction
    val indexed = ranged.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    derived(spark.createDataFrame(indexed, schema1), Some(name))
  }

  /** Categorical emulation (`_categorical.py:14-129`): pandas `cat.codes`
    * with sorted-distinct categories (`as_known`). The dictionary is the
    * distinct set ranked and broadcast back — no global sort of the data
    * itself.
    *
    * GUARDED: "small by definition of categorical" is enforced, not
    * assumed — both the keyless rank window and the broadcast are sized
    * by the dictionary, so a high-cardinality column passed here by
    * mistake would funnel it through one task and then OOM the driver.
    * The dictionary is built once (distinct → bounded limit → Spark-side
    * sort → driver enumerate, ≤ maxCategories+1 rows — eager, like the
    * rest of the categorical protocol in Accessors); over-cap input
    * fails fast with a clear error instead. The sort happens in SPARK
    * (UTF8 binary order — JVM compareTo disagrees on some strings) and
    * codes are positions in that order, identical to the previous
    * dense_rank window without leaving any cached blocks behind. */
  def withCatCodes(c: String, out: String, maxCategories: Int = 1 << 20): Df = {
    require(maxCategories >= 1 && maxCategories < Int.MaxValue,
      s"withCatCodes: maxCategories must be in [1, ${Int.MaxValue - 1}]: " +
        s"$maxCategories")
    val sorted = sdf.select(c).distinct().orderBy(col(c))
      .limit(maxCategories + 1).collect()
    if (sorted.length > maxCategories) throw new IllegalArgumentException(
      s"withCatCodes('$c'): over $maxCategories distinct values — not a " +
        "categorical column. Raise maxCategories explicitly, or rank with " +
        "a keyed window/zip-with-index pipeline sized for real data.")
    // key field taken from the PROJECTED frame so resolution follows
    // Spark's case-sensitivity conf (a case-sensitive fields.filter
    // would silently drop the key from the dictionary schema for
    // differently-cased but resolvable names)
    val schema1 = StructType(
      sdf.select(c).schema.fields :+ StructField(out, IntegerType))
    val rows = sorted.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }.toSeq
    val dict = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema1)
    derived(sdf.join(broadcast(dict), Seq(c), "left"))
  }

  // ---- order-adjacent (`Head`/`Tail` `_expr.py:1471`; §2.9) ----
  /** `Head`: deterministic only with explicit keys (Spark rows are
    * unordered). With keys → TakeOrderedAndProject, no global sort. */
  def head(n: Int, byKeys: Seq[String] = Nil): Df =
    if (byKeys.isEmpty) derived(sdf.limit(n))
    else derived(sdf.orderBy(byKeys.map(sdf(_).asc): _*).limit(n))
  def tail(n: Int, byKeys: Seq[String]): Df =
    derived(sdf.orderBy(byKeys.map(sdf(_).desc): _*).limit(n)
      .orderBy(byKeys.map(c => col(c).asc): _*))
  /** `sort_values` — §2.9 extension (reference has no general sort). */
  def sortValues(by: Seq[String], ascending: Boolean = true): Df =
    derived(sdf.orderBy(by.map(c => if (ascending) sdf(c).asc else sdf(c).desc): _*))
  def sortValues(cols: Column*): Df = derived(sdf.orderBy(cols: _*))

  // ---- reductions (`_reductions.py`; §2.5) ----
  private def numericCols: Seq[String] =
    schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq
  /** per-column aggregate row, pandas `df.sum()` style (numeric_only). */
  def reduceNumeric(fn: Column => Column, suffix: String = ""): Df =
    derived(sdf.select(numericCols.map(c => fn(sdf(c)).as(c + suffix)): _*))
  def sumAll: Df = reduceNumeric(org.apache.spark.sql.functions.sum(_))
  def meanAll: Df = reduceNumeric(avg(_))
  def minAll: Df = reduceNumeric(org.apache.spark.sql.functions.min(_))
  def maxAll: Df = reduceNumeric(org.apache.spark.sql.functions.max(_))
  def countAll: Df = reduceNumeric(org.apache.spark.sql.functions.count(_))
  /** Full-frame aggregation (`Reduction`, `_reductions.py:8-37`):
    * one partial+final HashAggregate, no group keys. */
  def agg(exprs: Column*): Df = derived(sdf.agg(exprs.head, exprs.tail: _*))
  /** `Len` (`_reductions.py:155`): parquet-metadata-only count is Spark's
    * aggregate pushdown; `df.count()` on a bare scan reads footers only. */
  def len: Df = derived(sdf.groupBy().count().select(col("count").as("len")))
  /** `Lengths` (`_expr.py` per-block lengths): the reference returns one
    * length per block; the Spark block is the partition. One count per
    * partition, no data movement — emitted via mapPartitions so EMPTY
    * partitions report length 0 too (a groupBy on partition id would
    * silently drop them). */
  def partitionLengths: Df = {
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("partition_id", IntegerType, nullable = false),
      StructField("length", LongType, nullable = false))))
    derived(sdf.select(lit(1).as("__one")).mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator(org.apache.spark.sql.Row(
        org.apache.spark.TaskContext.get().partitionId(), n))
    }(enc).toDF())
  }
  /** `NLargest` (`_reductions.py:268`) → TakeOrderedAndProject (top-k per
    * partition + merge on driver side of exchange — no full sort). */
  def nlargest(n: Int, cols: Seq[String]): Df =
    derived(sdf.orderBy(cols.map(sdf(_).desc): _*).limit(n))
  def nsmallest(n: Int, cols: Seq[String]): Df =
    derived(sdf.orderBy(cols.map(sdf(_).asc): _*).limit(n))
  /** `ValueCounts` (`_reductions.py:288`) */
  def valueCounts(c: String, normalize: Boolean = false, dropna: Boolean = true): Df = {
    var base = sdf
    if (dropna) base = base.filter(sdf(c).isNotNull)
    val counted = base.groupBy(c)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
    derived(
      if (!normalize) counted
      else {
        // total via broadcast scalar, not an empty-frame window — the
        // window would funnel every (possibly high-cardinality) group
        // through ONE task; this stays a 1-row broadcast join.
        val total = counted.agg(
          org.apache.spark.sql.functions.sum(col("count")).as("__total"))
        counted.crossJoin(broadcast(total))
          .withColumn("proportion", col("count") / col("__total"))
          .drop("count", "__total")
      })
  }
  /** `Unique` (`_reductions.py:40`) */
  def unique(c: String): Df = derived(sdf.select(c).distinct())
  /** `DropDuplicates` (`_reductions.py:52`): map-side partial distinct +
    * shuffle on the subset — scales (no global sort). */
  def dropDuplicates(subset: Seq[String] = Nil): Df =
    derived(if (subset.isEmpty) sdf.dropDuplicates() else sdf.dropDuplicates(subset))

  /** pandas `duplicated(keep='first')`: boolean mask marking all but the
    * first occurrence (by explicit order key — Spark rows are unordered)
    * of each subset-key group. One shuffle on the subset keys. */
  def duplicated(subset: Seq[String], orderKey: String, out: String = "is_dup"): Df =
    duplicatedKeep(subset, orderKey, "first", out)

  /** pandas `duplicated(keep=...)` in full: "first" / "last" keep one
    * end of each subset-key group unmarked, "none" (pandas
    * `keep=False`) marks EVERY member of any group with a duplicate.
    * One shuffle on the subset keys either way; "none" needs no order
    * key at all (a group count, order-independent). */
  def duplicatedKeep(subset: Seq[String], orderKey: String,
                     keep: String = "first", out: String = "is_dup"): Df = {
    val W = org.apache.spark.sql.expressions.Window
    keep match {
      case "first" =>
        val w = W.partitionBy(subset.map(sdf(_)): _*).orderBy(sdf(orderKey).asc)
        derived(sdf.withColumn(out, row_number().over(w) > 1))
      case "last" =>
        val w = W.partitionBy(subset.map(sdf(_)): _*).orderBy(sdf(orderKey).desc)
        derived(sdf.withColumn(out, row_number().over(w) > 1))
      case "none" =>
        val w = W.partitionBy(subset.map(sdf(_)): _*)
        derived(sdf.withColumn(out,
          org.apache.spark.sql.functions.count(lit(1)).over(w) > 1))
      case other => throw new IllegalArgumentException(
        s"duplicatedKeep: keep must be first|last|none: $other")
    }
  }

  /** pandas `json_normalize`: flatten a JSON string column into typed
    * top-level columns with ONE `from_json` parse per row. The explicit
    * DDL schema is the contract (schema inference over 100 TB of JSON
    * is a full extra scan — refused by design), and the single parse is
    * the performance story: `get_json_object` re-parses the WHOLE
    * document once per extracted field, so k fields cost k parses;
    * this costs one. Malformed documents yield null fields (PERMISSIVE
    * mode), never a poisoned task. */
  def jsonNormalize(c: String, ddl: String, keep: Seq[String]): Df =
    derived(sdf
      .withColumn("__j", from_json(col(c), ddl, Map.empty[String, String]))
      .selectExpr(keep.map(k => s"`$k`") :+ "__j.*": _*))

  /** pandas `df.where(cond, other)` / `mask(cond, other)`: keep values
    * where the condition holds (resp. fails), replace the rest — a
    * pure codegen'd projection over every column. */
  def whereValues(cond: Column, other: Any = null): Df =
    derived(sdf.select(sdf.columns.map(c =>
      when(cond, sdf(c)).otherwise(lit(other)).as(c)).toSeq: _*))

  def maskValues(cond: Column, other: Any = null): Df = whereValues(!cond, other)

  /** A keyless window verb is pandas-parity but funnels ALL rows
    * through ONE task (DIVERGENCES #10). This in-plan ceiling turns
    * that silent single-partition sort into a named error: a
    * row_number over the SAME window spec (same window exec — no extra
    * shuffle or sort) trips past the ceiling. Since r15 the keyless
    * `diff`/`pct_change`/`ffill`/`bfill` route through the two-phase
    * GroupedScan instead (no ceiling to hit); only [[withRank]]'s
    * keyless form still rides the window (its SQL `rank()` IntegerType
    * output is part of the verb's schema contract). Configurable per
    * session via `graft.keylessWindowMaxRows`; defaults to 10M rows,
    * comfortably a single-task sort. */
  private def keylessCeiling(
      w: org.apache.spark.sql.expressions.WindowSpec,
      value: Column, verb: String): Column = {
    val cap = graft.operators.Gate.knob(sdf.sparkSession,
      "graft.keylessWindowMaxRows", 10000000L)
    when(row_number().over(w) > cap, raise_error(lit(
      s"$verb: keyless window over more than $cap rows — a " +
        "single-partition sort at scale. Pass partitionBy keys, use " +
        "the two-phase scan (groupby().ffillScalable/shiftScalable/" +
        "cumsumScalable — GroupedScan) or ordinal (withRowIndexScalable); " +
        "raise graft.keylessWindowMaxRows to override (DIVERGENCES #10)")))
      .otherwise(value)
  }

  /** Run a keyless scan verb that writes `out`, preserving
    * `withColumn` overwrite semantics: when `out` already exists the
    * scan emits to a temp name (the scan itself refuses existing
    * outs) and the value replaces `out` in place. */
  private def keylessScanOut(out: String)(run: String => Df): Df =
    if (sdf.columns.contains(out)) {
      val t = s"__graft_out_$out"
      val r = run(t)
      r.derived(r.sdf.withColumn(out, r.sdf(t)).drop(t))
    } else run(out)

  /** Batch several KEYLESS order-based verbs into ONE
    * [[graft.operators.GroupedScan]] protocol. The single verbs
    * ([[diff]], [[ffill]], [[pctChange]], …, keyless form) are EAGER —
    * each call runs its own summary+emit protocol, so a chain
    * `df.diff(...).ffill(...)` on the same order keys pays the range
    * exchange twice. This batch collects the verbs and runs them as
    * one multi-kernel scan: one range exchange, one summary pass, one
    * emit — the chain's cost becomes the cost of one verb.
    *
    * {{{
    * df.scanKeyless(Seq("ts"))(_
    *   .diff("price", out = "dprice")
    *   .ffill("qty", out = "qty")       // overwrite-in-place works
    *   .cumsum("volume", out = "cvol"))
    * }}}
    *
    * EVERY VERB READS THE INPUT FRAME: the batch is one shared pass,
    * so — unlike the sequential chain, where a later verb sees an
    * earlier verb's output — a verb cannot consume another verb's
    * result. Referencing a batch output as an input fails fast with a
    * named error; an overwrite-in-place verb (`ffill("v", out = "v")`)
    * affects only the emitted column, never what the OTHER verbs in
    * the same batch read. Dependent verbs (`cumsum` of a fill) stay a
    * two-step: fill first (single verb or first batch), then batch the
    * rest. All verbs share the batch's order keys and ONE scan
    * direction: forward verbs (ffill, cum*, rolling, ewm, positive
    * periods) and reverse verbs (bfill, negative periods) sort
    * opposite ways, so a mixed batch fails fast — split it in two.
    * Per-verb semantics, output dtypes, overwrite-existing-column
    * behavior, and diff's byte/short→int widening match the single
    * verbs exactly (ScanSpec pins the batch ≡ the INDEPENDENT-verb
    * chain differentially). Same eager caveat as the single keyless
    * verbs; order-key ties take one consistent arbitrary order
    * (DIVERGENCES #1). */
  def scanKeyless(orderKeys: Seq[String])(
      build: Df.KeylessScanBatch => Df.KeylessScanBatch): Df = {
    import graft.operators.GroupedScan
    val specs = build(new Df.KeylessScanBatch(Nil)).specs.reverse
    require(specs.nonEmpty, "scanKeyless: at least one verb")
    require(specs.map(_.out).distinct.size == specs.size,
      s"scanKeyless: duplicate output names: ${specs.map(_.out).mkString(", ")}")
    // every verb reads the INPUT frame (the verbs share one pass, so
    // there is no "earlier output" to read) — reject a verb input that
    // is only a batch output with a named error instead of letting the
    // scan die on a missing field, and reject missing columns outright
    specs.filter(_.in.nonEmpty).foreach { s =>
      if (!sdf.columns.contains(s.in)) {
        val fromBatch = specs.exists(_.out == s.in)
        throw new IllegalArgumentException(
          if (fromBatch)
            s"scanKeyless: verb input '${s.in}' is another verb's OUTPUT — " +
              "batched verbs all read the input frame (one shared pass); " +
              "run dependent verbs as a second batch or the sequential " +
              "single-verb chain"
          else s"scanKeyless: input column '${s.in}' not found")
      }
    }
    val revs = specs.map(_.reverse).distinct
    require(revs.size == 1,
      "scanKeyless: forward verbs (ffill, cum*, rolling, ewm, positive " +
        "periods) and reverse verbs (bfill, negative periods) need " +
        "opposite sort orders — split into two batches")
    // diff's byte/short→int widening, once per distinct input column
    val widen = specs.collect {
      case s if s.intWiden && s.in.nonEmpty => s.in
    }.distinct.filter(c => Df.diffWidensToInt(sdf.schema(c).dataType))
      .map(c => c -> s"__graft_in_$c").toMap
    val src = widen.foldLeft(sdf) { case (d, (c, t)) =>
      d.withColumn(t, d(c).cast("int")) }
    // withColumn overwrite semantics per out (the keylessScanOut rule)
    val outName = specs.map(_.out).map(o =>
      o -> (if (sdf.columns.contains(o)) s"__graft_out_$o" else o)).toMap
    val verbs = specs.map(s => s.mk(widen.getOrElse(s.in, s.in), outName(s.out)))
    val scanned = GroupedScan.scan(src, Nil, orderKeys.map(_ -> !revs.head), verbs)
    val restored = specs.map(_.out).foldLeft(scanned.sdf) { (d, o) =>
      val t = outName(o)
      if (t == o) d else d.withColumn(o, d(t)).drop(t)
    }
    derived(restored.drop(widen.values.toSeq: _*)).inheriting(scanned)
  }

  /** pandas `diff(periods)` over an explicit order (and optional
    * partitioning): value minus the value `periods` rows earlier.
    * KEYLESS calls route through the two-phase
    * [[graft.operators.GroupedScan]] (no single-partition sort at ANY
    * size — the old keyless-window row ceiling is unreachable here);
    * keyed calls stay on the window, whose per-key parallelism is the
    * point. The keyless form is EAGER (the scan's summary pass runs at
    * call time — cache nondeterministic upstream first) and widens
    * byte/short inputs to int (the kernel's explicit form of the
    * window's implicit widening). TIES: rows tied on `orderKeys` take
    * one consistent arbitrary order per call (the scan's internal
    * disambiguator) — append a unique id as the last key when
    * REPRODUCIBLE output matters (DIVERGENCES #1 tie note). */
  def diff(c: String, orderKeys: Seq[String], out: String,
           periods: Int = 1, partitionBy: Seq[String] = Nil): Df =
    if (partitionBy.isEmpty) {
      if (periods == 0) derived(sdf.withColumn(out, sdf(c) - sdf(c)))
      else {
        val widenTmp =
          if (Df.diffWidensToInt(sdf.schema(c).dataType))
            Some(s"__graft_in_$c")
          else None
        val src = widenTmp.map { t =>
          derived(sdf.withColumn(t, sdf(c).cast("int")))
        }.getOrElse(this)
        val res = src.keylessScanOut(out)(o => src.groupby()
          .diffScalable(widenTmp.getOrElse(c), orderKeys, periods, o))
        widenTmp.map(t => res.derived(res.sdf.drop(t))).getOrElse(res)
      }
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partitionBy.map(sdf(_)): _*)
        .orderBy(orderKeys.map(sdf(_).asc): _*)
      derived(sdf.withColumn(out, sdf(c) - lag(sdf(c), periods).over(w)))
    }

  /** pandas `describe()`: one row per numeric column with the standard
    * stat battery — one aggregation pass for the mergeable stats, and
    * the quartiles from [[graft.operators.Quantiles]]' order-statistic
    * selection (bitwise-identical to `percentile()`, without its
    * all-values-per-column aggregation buffers — describe over three
    * quantiles × k columns held 3k value maps at once). ALL k columns'
    * quartiles come from ONE selection pass
    * ([[graft.operators.Quantiles.exactOrdinalQuantilesCont]]): the
    * columns melt to (ordinal, value, count) triples — the melt key is
    * the column ORDINAL, decoded back to names right here on the
    * driver, and duplicate values collapse map-side before the range
    * exchange — never a string name per melted row. The mergeable agg
    * pass and the quantile selection are INDEPENDENT scans, so they run
    * CONCURRENTLY (the agg's one-row collect on a Future while the
    * driver coordinates the selection protocol); the 8×(1+k) result is
    * assembled driver-side as a LocalRelation. Eager (runs all jobs at
    * call time) — cache upstream nondeterminism first. */
  def describeStats(cols: Seq[String] = Nil): Df = {
    val F = org.apache.spark.sql.functions
    val cs = if (cols.nonEmpty) cols else numericCols
    require(cs.nonEmpty,
      "describeStats: no numeric columns to describe (pass cols= explicitly)")
    val probs = Seq(0.25, 0.5, 0.75)
    val aggs = cs.flatMap { c =>
      // avg(decimal) yields DecimalType(p+4,s+4) — cast the RESULT to
      // double (aggregation stays decimal-exact, like the pre-r15
      // stack() coercion did; an uncast read would CCE in aggAt)
      Seq(F.count(sdf(c)).cast("double").as(s"${c}__count"),
        avg(sdf(c)).cast("double").as(s"${c}__mean"),
        stddev_samp(sdf(c)).as(s"${c}__std"),
        F.min(sdf(c)).cast("double").as(s"${c}__min"),
        F.max(sdf(c)).cast("double").as(s"${c}__max"))
    }
    val one = sdf.agg(aggs.head, aggs.tail: _*)
    // concurrent agg pass on a FRESH thread, not ExecutionContext
    // .global: a thread created here inherits the caller's Spark
    // local properties (job group / scheduler pool / tags are
    // InheritableThreadLocal), so caller-side cancellation still
    // reaches the agg job — a pooled global thread carries whatever
    // properties its first task left behind. A job TAG (composes with
    // any caller group, unlike setJobGroup which would overwrite it)
    // lets the failure path below cancel the orphaned agg job instead
    // of leaving it running while the exception propagates.
    val sc = sdf.sparkSession.sparkContext
    val aggTag = s"graft-describe-${java.util.UUID.randomUUID}"
    val aggP = scala.concurrent.Promise[org.apache.spark.sql.Row]()
    val aggThread = new Thread(() => {
      sc.addJobTag(aggTag)
      aggP.complete(scala.util.Try(one.head()))
    }, "graft-describe-agg")
    aggThread.setDaemon(true)
    aggThread.start()
    val qsSeq =
      try graft.operators.Quantiles.exactOrdinalQuantilesCont(
        sdf, cs, probs)
      catch {
        case e: Throwable =>
          // cancel covers a SUBMITTED agg job; the interrupt covers the
          // window where the agg thread is still planning (a cancel
          // before submission is a no-op and would leak the job)
          try {
            sc.cancelJobsWithTag(aggTag)
            aggThread.interrupt()
          } catch { case scala.util.control.NonFatal(_) => }
          throw e
      }
    val aggRow = scala.concurrent.Await.result(
      aggP.future, scala.concurrent.duration.Duration.Inf)
    def aggAt(ci: Int, j: Int): java.lang.Double = {
      val i = ci * 5 + j
      if (aggRow.isNullAt(i)) null else java.lang.Double.valueOf(aggRow.getDouble(i))
    }
    val stats = Seq("count", "mean", "std", "min", "q25", "q50", "q75", "max")
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList
    stats.foreach { s =>
      val vals: Seq[Any] = cs.indices.map { ci =>
        s match {
          case "count" => aggAt(ci, 0)
          case "mean" => aggAt(ci, 1)
          case "std" => aggAt(ci, 2)
          case "min" => aggAt(ci, 3)
          case "max" => aggAt(ci, 4)
          case "q25" => qsSeq(ci)(0)
          case "q50" => qsSeq(ci)(1)
          case "q75" => qsSeq(ci)(2)
        }
      }
      rows.add(org.apache.spark.sql.Row.fromSeq(s +: vals))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("stat",
        org.apache.spark.sql.types.StringType, nullable = false) +:
        cs.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType, nullable = true)))
    derived(sdf.sparkSession.createDataFrame(rows, schema))
  }

  /** pandas `pivot_table`: rows=index key, columns=spread key (explicit
    * value list keeps the schema static and the plan one-pass), cells =
    * aggregated values. Compiles to a single partial+final aggregate. */
  def pivotTable(index: String, columns: String, values: String,
                 colValues: Seq[Any], aggFn: String = "sum"): Df =
    derived(sdf.groupBy(sdf(index)).pivot(columns, colValues)
      .agg(aggFn match {
        case "sum" => org.apache.spark.sql.functions.sum(sdf(values))
        case "mean" => avg(sdf(values))
        case "count" => org.apache.spark.sql.functions.count(sdf(values))
        case "min" => org.apache.spark.sql.functions.min(sdf(values))
        case "max" => org.apache.spark.sql.functions.max(sdf(values))
      }))

  /** pandas `cut`: fixed-width or explicit-break binning via when-chains
    * (codegen'd; no shuffle). Values outside breaks get null. */
  def cut(c: String, breaks: Seq[Double], labels: Seq[String], out: String): Df = {
    require(labels.size == breaks.size - 1)
    val colRef = sdf(c)
    val binned = labels.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (label, i)) =>
        when(colRef > breaks(i) && colRef <= breaks(i + 1), label).otherwise(acc)
    }
    derived(sdf.withColumn(out, binned))
  }

  /** pandas `rank(method='min')` within optional groups. */
  def withRank(by: String, out: String, partitionBy: Seq[String] = Nil,
               ascending: Boolean = true): Df = {
    val w0 = if (partitionBy.isEmpty)
      org.apache.spark.sql.expressions.Window.partitionBy()
    else org.apache.spark.sql.expressions.Window.partitionBy(partitionBy.map(sdf(_)): _*)
    val w = w0.orderBy(if (ascending) sdf(by).asc else sdf(by).desc)
    val r = rank().over(w)
    derived(sdf.withColumn(out,
      if (partitionBy.isEmpty) keylessCeiling(w, r, "withRank") else r))
  }

  /** pandas `melt` (wide → long): id columns are repeated, each value
    * column becomes a (variable, value) row. Compiles to Catalyst's
    * `stack` generator — a per-row expansion inside whole-stage codegen;
    * NO shuffle, NO extra scan per value column (vs the naive
    * one-UNION-branch-per-column plan, which re-reads the source
    * `valueVars.size` times). Value columns are cast to a common type
    * (`valueType`) since long-format rows share one value column. */
  def melt(idVars: Seq[String], valueVars: Seq[String],
           varName: String = "variable", valueName: String = "value",
           valueType: String = "double"): Df = {
    require(valueVars.nonEmpty)
    val stackArgs = valueVars
      .map(v => s"'$v', CAST(`$v` AS $valueType)").mkString(", ")
    derived(sdf.selectExpr(
      idVars.map(c => s"`$c`") :+
        s"stack(${valueVars.size}, $stackArgs) AS ($varName, $valueName)": _*))
  }

  /** pandas `get_dummies` over one column: one 0/1 indicator column per
    * listed category. The explicit `values` list keeps the schema static
    * (schema inference over data is a driver-side collect at 100 TB —
    * refused by design, mirroring [[pivotTable]]). Pure when-chain
    * projection: codegen'd, no shuffle. */
  def getDummies(c: String, values: Seq[Any], prefix: String = ""): Df = {
    val p = if (prefix.nonEmpty) prefix else c
    val dummies = values.map(v =>
      when(sdf(c) === lit(v), 1).otherwise(0).as(s"${p}_$v"))
    derived(sdf.select(sdf.columns.map(sdf(_)).toSeq ++ dummies: _*))
  }

  /** pandas `crosstab(index, columns)`: contingency counts, rows = index
    * values, one column per listed `colValues` entry. Single
    * partial+final aggregate (map-side combine), never wider than the
    * explicit value list. */
  def crosstabCount(index: String, columns: String, colValues: Seq[Any]): Df =
    derived(sdf.groupBy(sdf(index)).pivot(columns, colValues)
      .agg(org.apache.spark.sql.functions.count(lit(1)))
      // absent combinations pivot to null; pandas crosstab says 0
      .na.fill(0L, colValues.map(_.toString)))

  /** pandas `ffill`/`bfill` over an explicit order (Spark rows are
    * unordered; pandas' implicit positional order must be named). Keyed
    * calls: `last(_, ignoreNulls)` over an expanding row frame — one
    * window pass per column, one shuffle total on the partition keys.
    * KEYLESS calls: ALL columns fill in one two-phase
    * [[graft.operators.GroupedScan]] pass (one range exchange, no
    * single-partition sort at any size); that form is EAGER (the
    * scan's summary pass runs at call time — cache nondeterministic
    * upstream first); rows tied on `orderKeys` take one consistent
    * arbitrary order per call — append a unique id as the last key
    * when reproducible output matters (DIVERGENCES #1 tie note). */
  def ffill(cols: Seq[String], orderKeys: Seq[String],
            partitionBy: Seq[String] = Nil): Df =
    fillDirectional(cols, orderKeys, partitionBy, forward = true)

  /** see [[ffill]]; carries the NEXT non-null backward instead. */
  def bfill(cols: Seq[String], orderKeys: Seq[String],
            partitionBy: Seq[String] = Nil): Df =
    fillDirectional(cols, orderKeys, partitionBy, forward = false)

  private def fillDirectional(cols: Seq[String], orderKeys: Seq[String],
                              partitionBy: Seq[String], forward: Boolean): Df =
    if (cols.isEmpty) this // nothing to fill — both paths no-op
    else if (partitionBy.isEmpty) {
      // one scan, one kernel per column; bfill = the same forward-fill
      // kernel over the reversed sort (GroupedDf.bfillScalable's trick)
      val tmps = cols.map(c => c -> s"__graft_fill_$c")
      val scanned = groupby().scanScalableOrdered(
        orderKeys.map(_ -> forward),
        tmps.map { case (c, t) => graft.operators.GroupedScan.Ffill(c, t) })
      scanned.derived(tmps.foldLeft(scanned.sdf) { case (d, (c, t)) =>
        d.withColumn(c, d(t)) }.drop(tmps.map(_._2): _*))
    } else {
      import org.apache.spark.sql.expressions.Window
      val ordered = Window.partitionBy(partitionBy.map(sdf(_)): _*)
        .orderBy(orderKeys.map(sdf(_).asc): _*)
      val w = if (forward) ordered.rowsBetween(Window.unboundedPreceding, 0)
        else ordered.rowsBetween(0, Window.unboundedFollowing)
      derived(cols.foldLeft(sdf) { (d, c) =>
        d.withColumn(c,
          if (forward) last(d(c), ignoreNulls = true).over(w)
          else first(d(c), ignoreNulls = true).over(w))
      })
    }

  /** pandas `pct_change(periods)` over an explicit order: value / lagged
    * value − 1. Same plan shape, keyless routing, overwrite semantics,
    * eager-keyless caveat, and TIES contract as [[diff]] (rows tied on
    * `orderKeys` take one consistent arbitrary order per call — append a
    * unique id as the last key when reproducible output matters,
    * DIVERGENCES #1 tie note). Division semantics DIFFER
    * across the routing (DIVERGENCES #20, pinned in ScanSpec): the
    * keyless kernel computes in IEEE doubles — a ZERO lagged value
    * yields ±Infinity/NaN regardless of `spark.sql.ansi.enabled`, and
    * high-precision decimals can differ from the keyed form in final
    * ulps — while the keyed window divides with the Column `/`
    * operator, which raises DIVIDE_BY_ZERO under Spark 4's ANSI
    * default (NULL with ANSI off). Cast to double before calling the
    * keyless form for closer keyed agreement on non-zero lags, or
    * null out non-finite results to recover a NULL convention. */
  def pctChange(c: String, orderKeys: Seq[String], out: String,
                periods: Int = 1, partitionBy: Seq[String] = Nil): Df =
    if (partitionBy.isEmpty) {
      if (periods == 0)
        derived(sdf.withColumn(out, sdf(c) / sdf(c) - lit(1.0)))
      else keylessScanOut(out)(o =>
        groupby().pctChangeScalable(c, orderKeys, periods, o))
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(partitionBy.map(sdf(_)): _*)
        .orderBy(orderKeys.map(sdf(_).asc): _*)
      derived(sdf.withColumn(out,
        sdf(c) / lag(sdf(c), periods).over(w) - lit(1.0)))
    }

  /** pandas `qcut(labels=False)`: quantile binning into `q` roughly
    * equal-population buckets (0-based). Two-phase and scalable: one
    * aggregation pass computes the q−1 interior break points (exact
    * interpolated percentile, rounded 6dp so Spark and DuckDB land on
    * the same doubles), then bucket assignment is a codegen'd sum of
    * `value > break` comparisons — NO global sort / single-partition
    * window, which is what a naive ntile-based qcut would need. The
    * break collect is k−1 scalars, O(1) in table size.
    *
    * `exact = false` swaps the exact percentile (sort-based partials —
    * fine to ~10⁹ rows/partition-group, heavy beyond) for the mergeable
    * `percentile_approx` sketch — the 100 TB path; bucket POPULATIONS
    * then deviate by the sketch's rank error but assignment stays
    * deterministic. */
  def qcut(c: String, q: Int, out: String, exact: Boolean = true): Df = {
    require(q >= 2)
    val probs = (1 until q).map(i => i.toDouble / q)
    // rounding happens ENGINE-SIDE semantics-wise (SQL half-up, the
    // same rule DuckDB's ROUND applies) — via BigDecimal HALF_UP here,
    // NOT JVM rint, whose banker's rounding can differ in the last
    // digit and shift boundary rows across buckets
    val breaks: Seq[Double] =
      if (exact) {
        // distributed order-statistic selection — identical doubles to
        // the percentile() aggregate, without its single-buffer
        // value map (the 100 TB wall); null on empty surfaces the
        // same named contract error
        val qs = graft.operators.Quantiles.exactQuantilesCont(sdf, c, probs)
        if (qs.exists(_ == null)) throw new IllegalArgumentException(
          s"qcut: no non-null values in column '$c'")
        qs.map(v => BigDecimal(v.doubleValue())
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      } else {
        val aggRow = sdf.agg(expr(
          s"transform(percentile_approx(`$c`, array(${probs.mkString(", ")}), " +
            "10000), x -> round(x, 6))").as("b")).head()
        if (aggRow.isNullAt(0)) throw new IllegalArgumentException(
          s"qcut: no non-null values in column '$c'")
        aggRow.getSeq[Double](0)
      }
    val bucket = breaks.map(b => when(sdf(c) > lit(b), 1).otherwise(0))
      .reduce(_ + _)
    derived(sdf.withColumn(out, bucket))
  }

  /** frame ⟷ scalar-reduction broadcasting (`df + df.sum()`,
    * reference `tests/test_collection.py:379-387`): cross-join the 1-row
    * aggregate, broadcast — every executor gets the scalar for free. */
  def withScalarColumn(scalar: Df): Df =
    derived(sdf.crossJoin(broadcast(scalar.sdf))).inheriting(scalar)

  /** Skew-safe equi-join: explode the (small) right side `salt`-fold and
    * scatter left rows by a deterministic hash salt, so one hot key
    * spreads over `salt` reducers instead of one. AQE's skew-join
    * handles sort-merge cases adaptively; this handles the hash-join /
    * pre-AQE path explicitly. */
  def saltedJoin(right: Df, on: Seq[String], how: String, salt: Int): Df = {
    // right rows are replicated per salt, so unmatched right rows would
    // surface once PER SALT under right/outer joins — restrict to the
    // join types where unmatched right rows are dropped or irrelevant
    require(how == "inner" || how == "left",
      s"saltedJoin supports how=inner|left (got '$how'): the right side is " +
        "replicated per salt, which would duplicate unmatched right rows")
    // Skew-salting breaks up reduce-side hot keys of a SHUFFLED join —
    // when the right side's optimizer estimate fits the session's
    // broadcast threshold the planner broadcasts it and nothing
    // shuffles, so there is no reduce skew for the salt to break and
    // the ×salt replication only multiplies the broadcast build (r22
    // stage profile, q91: the 8×-exploded build dominated the query as
    // driver/broadcast time, guide §2.2/§3.1). The salt only ever
    // changes partitioning, never rows (the operator's documented
    // contract), so the gate is row-identical on both sides: plain join
    // below, salted shuffle join above — exactly where skew can exist.
    // An unknown estimate (stats-less plan) stays on the salted path.
    // The plain path needs the estimate to fit TWICE over: an estimate
    // that underruns the runtime size would otherwise drop the
    // requested salting for a join that then shuffles after all.
    val bcThresh = sdf.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (bcThresh >= 0 && graft.operators.Gate.estimatedBytes(right.sdf)
        .exists(_ * Df.SaltBroadcastMargin <= BigInt(bcThresh)))
      return derived(sdf.join(right.sdf, on, how)).inheriting(right)
    val l = sdf.withColumn("__salt",
      pmod(hash(on.map(sdf(_)) :+ monotonically_increasing_id(): _*), lit(salt)))
    val r = right.sdf.withColumn("__salt",
      expr(s"explode(sequence(0, ${salt - 1}))"))
    derived(l.join(r, on :+ "__salt", how).drop("__salt")).inheriting(right)
  }

  /** Range (point-in-interval) join: rows of this frame whose
    * `pointCol` falls in [lo, hi] of an interval row, with optional
    * extra equi-keys. A naive theta-join plans as
    * BroadcastNestedLoopJoin — O(|points|·|intervals|), the classic
    * scale-killer. Here the value domain is bucketized: each interval
    * EXPLODES into the coarse buckets it spans, each point lives in
    * exactly one bucket (so no dedup is ever needed), and the join is a
    * plain shuffled equi-join on (keys, bucket) + an exact containment
    * filter. Pick `bucketWidth` near the median interval width: wider
    * buckets → fewer replicas but more false candidates to filter. */
  def rangeJoin(intervals: Df, pointCol: String, loCol: String, hiCol: String,
                bucketWidth: Double, on: Seq[String] = Nil): Df = {
    require(bucketWidth > 0, "rangeJoin: bucketWidth must be positive")
    val l = sdf.withColumn("__bk",
      floor(col(pointCol) / bucketWidth).cast("long"))
    val r = intervals.sdf
      .withColumn("__lo_bk", floor(col(loCol) / bucketWidth).cast("long"))
      .withColumn("__hi_bk", floor(col(hiCol) / bucketWidth).cast("long"))
      .withColumn("__bk", org.apache.spark.sql.functions.explode(
        expr("sequence(__lo_bk, __hi_bk)")))
      .drop("__lo_bk", "__hi_bk")
    derived(l.join(r, on :+ "__bk")
      .where(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bk")).inheriting(intervals)
  }

  /** set operations — free Spark extensions (SURVEY.md §2.8 note):
    * SQL set semantics (distinct), like DuckDB INTERSECT/EXCEPT. */
  def intersect(other: Df): Df = derived(sdf.intersect(other.sdf)).inheriting(other)
  def except(other: Df): Df = derived(sdf.except(other.sdf)).inheriting(other)

  /** grouping-set aggregations — free Spark extensions (SURVEY.md §2.6
    * note): subtotal rows carry nulls in the grouping columns. */
  def cube(by: Seq[String])(aggs: Column*): Df =
    derived(sdf.cube(by.map(sdf(_)): _*).agg(aggs.head, aggs.tail: _*))
  def rollup(by: Seq[String])(aggs: Column*): Df =
    derived(sdf.rollup(by.map(sdf(_)): _*).agg(aggs.head, aggs.tail: _*))

  // ---- groupby (§2.6) ----
  def groupby(by: String*): GroupedDf = {
    val missing = by.filterNot(columns.contains)
    require(missing.isEmpty, s"groupby keys not in columns: $missing")
    new GroupedDf(this, by)
  }

  // ---- joins (§2.7, `_merge.py`) ----
  /** pandas `merge`: equi-join with suffix semantics (`_merge.py:7-79`).
    * Overlapping non-key columns get suffixes; outer joins coalesce keys.
    * Catalyst picks broadcast-hash vs sort-merge; pass the smaller frame
    * through [[Df.broadcastHint]] to force broadcast. */
  def merge(right: Df, on: Seq[String], how: String = "inner",
            suffixes: (String, String) = ("_x", "_y"),
            indicator: Boolean = false): Df = {
    val overlap = (columns.toSet & right.columns.toSet) -- on.toSet
    val l = overlap.foldLeft(sdf)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    var r = overlap.foldLeft(right.sdf)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    var lj = l
    if (indicator) {
      lj = lj.withColumn("_left_marker", lit(1))
      r = r.withColumn("_right_marker", lit(1))
    }
    var joined = lj.join(r, on, how)
    if (indicator) {
      joined = joined.withColumn("_merge",
        when(col("_left_marker").isNotNull && col("_right_marker").isNotNull, lit("both"))
          .when(col("_left_marker").isNotNull, lit("left_only"))
          .otherwise(lit("right_only")))
        .drop("_left_marker", "_right_marker")
    }
    derived(joined).inheriting(right)
  }
  /** pandas `merge(validate=...)`: the join-cardinality CONTRACT —
    * "1:1" / "1:m" / "m:1" / "m:m" — checked BEFORE the join runs. A
    * fan-out nobody declared is how a 100 TB join quietly becomes
    * 300 TB of duplicated rows; pandas raises MergeError, this raises
    * IllegalArgumentException with the offending side. The check is a
    * key-grouped count capped at the first violation (`count > 1
    * limit 1` — partial-agg + early-out, never a full materialize);
    * "m:m" skips it and is a documented no-op, as in pandas. */
  def mergeValidated(right: Df, on: Seq[String], how: String = "inner",
                     validate: String = "m:m",
                     suffixes: (String, String) = ("_x", "_y")): Df = {
    val (checkLeft, checkRight) = validate match {
      case "1:1" => (true, true)
      case "1:m" => (true, false)
      case "m:1" => (false, true)
      case "m:m" => (false, false)
      case other => throw new IllegalArgumentException(
        s"mergeValidated: validate must be 1:1|1:m|m:1|m:m: $other")
    }
    def assertUnique(side: Df, name: String): Unit = {
      val dup = side.sdf.groupBy(on.map(side.sdf(_)): _*)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
        .where(col("__n") > 1).limit(1)
        .collect()
      require(dup.isEmpty,
        s"mergeValidated($validate): $name keys are not unique on " +
          s"(${on.mkString(", ")}) — e.g. ${dup.head.mkString("[", ",", "]")}")
    }
    if (checkLeft) assertUnique(this, "left")
    if (checkRight) assertUnique(right, "right")
    merge(right, on, how, suffixes)
  }

  /** merge with differently-named keys (pandas `left_on`/`right_on`). */
  def merge(right: Df, leftOn: Seq[String], rightOn: Seq[String],
            how: String): Df = {
    val renamed = right.rename(rightOn.zip(leftOn).toMap)
    merge(renamed, on = leftOn, how = how)
  }
  /** index-join (`Merge` with `left_index=right_index=True`,
    * `_merge.py:99-104`): equi-join on both frames' designated index. */
  def joinIndex(right: Df, how: String = "left",
                suffixes: (String, String) = ("_x", "_y")): Df = {
    val li = indexCol.getOrElse(sys.error("joinIndex: left has no index"))
    val ri = right.indexCol.getOrElse(sys.error("joinIndex: right has no index"))
    merge(right.rename(Map(ri -> li)), on = Seq(li), how = how, suffixes = suffixes)
  }
  /** `JoinRecursive` (`_merge.py:82-128`): multi-frame index join — the
    * reference lowers to a tree of pairwise merges; here a fold of
    * index-joins (Catalyst's ReorderJoin/CBO re-orders as needed). */
  def joinMulti(others: Seq[Df], how: String = "outer"): Df =
    others.foldLeft(this)((acc, o) => acc.joinIndex(o, how)
      .setIndex(acc.indexCol.getOrElse(sys.error("joinMulti needs an index"))))

  /** `_Align` (`_expr.py:958-978`): align two frames on their index via
    * full-outer join; returns both sides re-projected with null-filled
    * missing rows (join="outer") or inner rows only. */
  def align(other: Df, join: String = "outer"): (Df, Df) = {
    val li = indexCol.getOrElse(sys.error("align: left has no index"))
    val ri = other.indexCol.getOrElse(sys.error("align: right has no index"))
    val how = if (join == "outer") "outer" else "inner"
    val keys = sdf.select(sdf(li).as("__k"))
      .union(other.sdf.select(other.sdf(ri).as("__k"))).distinct()
    val aligned = if (how == "outer") keys else
      sdf.select(sdf(li).as("__k")).intersect(other.sdf.select(other.sdf(ri).as("__k")))
    val l = derived(aligned.join(sdf.withColumnRenamed(li, "__k"), Seq("__k"), "left")
      .withColumnRenamed("__k", li), Some(li)).inheriting(other)
    val r = derived(aligned.join(other.sdf.withColumnRenamed(ri, "__k"), Seq("__k"), "left")
      .withColumnRenamed("__k", ri), Some(ri)).inheriting(other)
    (l, r)
  }

  /** pandas frame ⟷ frame binop with index alignment
    * (`tests/test_collection.py:762-769`): full-outer join on the index;
    * shared columns get `op(l, r)` (null where either side missing —
    * pandas NaN), one-sided columns become all-null. */
  def binopAligned(other: Df, op: (Column, Column) => Column): Df = {
    val li = indexCol.getOrElse(sys.error("binopAligned: left has no index"))
    val ri = other.indexCol.getOrElse(sys.error("binopAligned: right has no index"))
    val r0 = other.sdf.withColumnRenamed(ri, li)
    val joined = sdf.as("l").join(r0.as("r"), Seq(li), "outer")
    val allCols = (columns ++ other.columns).distinct.filterNot(Seq(li, ri).contains)
    val proj = col(li) +: allCols.map { c =>
      val inL = columns.contains(c); val inR = other.columns.contains(c)
      if (inL && inR) op(col(s"l.$c"), col(s"r.$c")).as(c)
      else lit(null).cast("double").as(c)
    }
    derived(joined.select(proj: _*), Some(li))
  }
  def addAligned(other: Df): Df = binopAligned(other, _ + _)
  def subAligned(other: Df): Df = binopAligned(other, _ - _)
  def mulAligned(other: Df): Df = binopAligned(other, _ * _)

  /** `RenameAxis` (`_expr.py:1227`): rename the index column itself. */
  def renameAxis(name: String): Df = indexCol match {
    case Some(i) => derived(sdf.withColumnRenamed(i, name), Some(name))
    case None => this
  }

  /** `MemoryUsage`/`NBytes` (`_reductions.py:192,308`): schema-based
    * per-row width estimate × row count (exact byte accounting is not
    * observable in Spark's columnar memory model; documented estimate). */
  def memoryUsage: Df = {
    val width = schema.fields.map(_.dataType.defaultSize).sum
    len.selectExpr(s"len * $width AS est_bytes")
  }

  /** `Apply` with a real Scala closure (`_expr.py:1240`) — the UDF
    * escape hatch. Design rule (SURVEY.md §2.11): prefer `Column`
    * expressions (codegen'd); use this only when the logic cannot be
    * expressed as expressions. */
  def applyRows[T: org.apache.spark.sql.Encoder](f: org.apache.spark.sql.Row => T): Df =
    derived(sdf.map(f)(implicitly[org.apache.spark.sql.Encoder[T]]).toDF())

  /** `Apply` with explicit args (`_expr.py:1240-1261` carries
    * `args`/`kwargs` as operands): the args ride the serialized task
    * exactly once, mirroring the reference's operand plumbing (a plain
    * closure capture does the same; this form keeps the call-site shape
    * of the pandas API). */
  def applyRows[T: org.apache.spark.sql.Encoder](
      f: (org.apache.spark.sql.Row, Seq[Any]) => T, args: Seq[Any]): Df =
    applyRows(r => f(r, args))

  /** `Apply` with `axis=0` (per-column): maps every column through an
    * expression builder — one codegen'd projection, no UDF. Aggregate
    * builders yield the pandas one-row per-column result. */
  def applyColumns(fn: Column => Column, suffix: String = ""): Df =
    derived(sdf.select(columns.map(c => fn(sdf(c)).as(c + suffix)): _*))

  /** As-of join (pandas `merge_asof`), composed from built-ins per the
    * preference order (compose > custom plan): union both sides tagged,
    * one sort-shuffle on (keys, time), carry the matched right row as a
    * STRUCT (time + values — so multi-column matches always come from
    * the SAME right row, even when a value column holds nulls) across
    * the unioned timeline, keep left rows. One shuffle, no custom
    * SparkPlan, scales like a window.
    *
    * `direction`: "backward" (default — latest right.time <= left.time),
    * "forward" (earliest right.time >= left.time), "nearest" (closer of
    * the two; ties go backward, as in pandas). `toleranceSec >= 0` nulls
    * matches farther than the tolerance (applied on the chosen match,
    * exactly like pandas). */
  def asofJoin(right: Df, on: Seq[String], leftTime: String,
               rightTime: String, valueCols: Seq[String],
               direction: String = "backward",
               toleranceSec: Long = -1L): Df = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoin: unknown direction '$direction'")
    val W = org.apache.spark.sql.expressions.Window
    // right rows carry their (time, values) as one struct; left rows null
    val rv = struct(col(rightTime).cast("timestamp").as("__rt") +:
      valueCols.map(col): _*)
    val rhs = right.sdf.select((on.map(col) :+ col(rightTime).as("__t")) ++
        Seq(rv.as("__rv")): _*)
      .withColumn("__side", lit(0))
    val lhs = sdf.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
    val unioned = lhs.unionByName(rhs, allowMissingColumns = true)
    // backward: right (side 0) sorts BEFORE left at equal ts → inclusive
    val wB = W.partitionBy(on.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(W.unboundedPreceding, 0)
    // forward: right sorts AFTER left at equal ts → inclusive
    val wF = W.partitionBy(on.map(col): _*)
      .orderBy(col("__t"), col("__side").desc)
      .rowsBetween(0, W.unboundedFollowing)
    val withDirs = unioned
      .withColumn("__b", if (direction != "forward")
        last(col("__rv"), ignoreNulls = true).over(wB) else lit(null))
      .withColumn("__f", if (direction != "backward")
        first(col("__rv"), ignoreNulls = true).over(wF) else lit(null))
    val lts = col("__t").cast("timestamp").cast("double")
    val dB = lts - col("__b.__rt").cast("double")
    val dF = col("__f.__rt").cast("double") - lts
    val chosen = direction match {
      case "backward" => col("__b")
      case "forward"  => col("__f")
      case "nearest"  => // ties go backward; a missing side loses
        when(col("__b").isNotNull &&
          (col("__f").isNull || dB <= dF), col("__b")).otherwise(col("__f"))
    }
    val picked = withDirs.withColumn("__m", chosen)
    val gated = if (toleranceSec < 0) picked else picked.withColumn("__m",
      when(abs(lts - col("__m.__rt").cast("double")) <= toleranceSec, col("__m")))
    val out = valueCols.foldLeft(gated) { (d, c) => d.withColumn(c, col(s"__m.$c")) }
    derived(out.where(col("__side") === 1)
      .drop("__t", "__side", "__rv", "__b", "__f", "__m"))
  }

  /** Semi/anti joins — Spark-native extension beyond the reference. */
  def semiJoin(right: Df, on: Seq[String]): Df = derived(sdf.join(right.sdf, on, "left_semi")).inheriting(right)
  def antiJoin(right: Df, on: Seq[String]): Df = derived(sdf.join(right.sdf, on, "left_anti")).inheriting(right)

  /** MERGE-style upsert — the incremental-maintenance primitive for a
    * corpus/metadata table kept current across crawl batches: rows of
    * `updates` REPLACE same-key rows here (matched → update), keys only
    * in `updates` append (not-matched → insert), everything else stays.
    * Schemas must match column-for-column (order-insensitive).
    * Duplicate keys inside `updates` are the caller's contract to
    * avoid — they pass through untouched, like SQL MERGE's "multiple
    * matched rows" would error only per-engine.
    *
    * Scale: ONE left-anti join on the key (AQE broadcasts `updates`
    * when it's batch-sized — the common case: daily delta vs full
    * corpus) + a union; never a full-outer join, never a shuffle of
    * the union itself. Pair with [[toParquetPartitioned]] to rewrite
    * only touched partitions downstream. */
  def upsert(updates: Df, on: Seq[String]): Df = {
    require(on.nonEmpty, "upsert: need at least one key column")
    require(columns.toSet == updates.columns.toSet,
      s"upsert: schemas differ — target [${columns.mkString(", ")}] vs " +
        s"updates [${updates.columns.mkString(", ")}]")
    val missing = on.filterNot(columns.contains)
    require(missing.isEmpty, s"upsert: no such key column(s): ${missing.mkString(", ")}")
    derived(updates.sdf.select(columns.map(col): _*)
      .unionByName(sdf.join(updates.sdf.select(on.map(col): _*), on, "left_anti")))
      .inheriting(updates)
  }
  def crossJoin(right: Df): Df = derived(sdf.crossJoin(right.sdf)).inheriting(right)
  /** Broadcast the (small) frame for subsequent joins. */
  def broadcastHint: Df = derived(broadcast(sdf))

  /** `CombineFirst` (`_expr.py:1005`): patch nulls from other, union cols.
    * Implemented as full-outer equijoin on explicit key cols + coalesce. */
  def combineFirst(other: Df, on: Seq[String]): Df = {
    // qualified string refs, not df(col): both sides may share lineage
    // (self-join) and df-bound refs would be ambiguous
    val allCols = (columns ++ other.columns.filterNot(columns.contains)).filterNot(on.contains)
    val joined = sdf.as("l").join(other.sdf.as("r"), on, "outer")
    val proj = on.map(col) ++ allCols.map { c =>
      val inL = columns.contains(c); val inR = other.columns.contains(c)
      if (inL && inR) coalesce(col(s"l.$c"), col(s"r.$c")).as(c)
      else if (inL) col(s"l.$c").as(c) else col(s"r.$c").as(c)
    }
    derived(joined.select(proj: _*)).inheriting(other)
  }

  /** Bucketed external table sink: pre-shuffles ONCE on the join keys so
    * every later equi-join or aggregation on those keys runs
    * exchange-free (co-located partitions). The 100 TB pattern for fact
    * tables joined repeatedly on the same key. */
  def toBucketedTable(table: String, keys: Seq[String], buckets: Int,
                      path: String): Df = {
    sdf.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)
    derived(spark.table(table))
  }

  /** Hive-style partitioned parquet sink: one directory per partition
    * value. Reads back with partition PRUNING — a filter on the
    * partition column skips whole directories before any IO
    * (PlanSpec asserts `PartitionFilters`). The standard layout for
    * time/category-partitioned 100 TB datasets. */
  def toParquetPartitioned(path: String, partitionCols: Seq[String]): Unit =
    sdf.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  // ---- actions / sinks ----
  def compute(): Array[org.apache.spark.sql.Row] = sdf.collect()
  def count(): Long = sdf.count()
  /** `ToParquet` (`io/parquet.py:49`) */
  def toParquet(path: String): Unit = sdf.write.mode("overwrite").parquet(path)
  def toCsv(path: String): Unit =
    sdf.write.mode("overwrite").option("header", "true").csv(path)
  /** JSON Lines sink — the interchange format most corpus pipelines
    * ingest/emit. One JSON object per line, splittable for parallel
    * re-reads when UNCOMPRESSED. `compression` rides through to the
    * codec ("none", "gzip", "bzip2", "snappy", "lz4", "zstd"…); at
    * 100 TB pick a SPLITTABLE one (bzip2) or write many sized files:
    * a gzip stream decodes on a single task end-to-end, so one
    * monolithic .jsonl.gz file serializes the whole re-read no matter
    * how many executors wait (Df.readJson handles any of them
    * transparently — the hazard is parallelism, not correctness). */
  def toJson(path: String, compression: String = "none"): Unit =
    sdf.write.mode("overwrite").option("compression", compression).json(path)
  /** ORC sink — the other columnar format Spark ships natively
    * (predicate pushdown + column pruning, like parquet). */
  def toOrc(path: String): Unit = sdf.write.mode("overwrite").orc(path)
  /** XML sink (ingest-format interchange; see [[Df.readXml]]). */
  def toXml(path: String, rowTag: String = "row"): Unit =
    sdf.write.mode("overwrite").option("rowTag", rowTag).xml(path)
  def explain(): Unit = sdf.explain("formatted")
  def pprint(): Unit = explain()
}

object Df {
  /** diff's kernel-input widening — the explicit form of the window
    * `c - lag(c)` implicit byte/short→int promotion. ONE definition,
    * shared by [[Df.diff]] and [[Df.scanKeyless]], so the batch ≡
    * single-verb dtype contract (ScanSpec) can't drift. */
  private[api] def diffWidensToInt(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType => true
    case _ => false
  }

  /** one verb of a [[Df.scanKeyless]] batch: input column (empty for
    * cumcount), output name, whether the scan must run over the
    * REVERSED order, whether diff's byte/short→int widening applies,
    * and the kernel constructor from the (possibly widened) input and
    * (possibly temp) output names. */
  private[api] final case class KeylessVerbSpec(
      in: String, out: String, reverse: Boolean, intWiden: Boolean,
      mk: (String, String) => graft.operators.GroupedScan.Verb)

  /** Fluent accumulator for [[Df.scanKeyless]] — each method mirrors
    * the keyless form of the matching Df/GroupedDf verb (same kernel,
    * same dtype rules, same negative-period handling). Immutable:
    * every call returns a new batch. */
  final class KeylessScanBatch private[api] (
      private[api] val specs: List[KeylessVerbSpec]) {
    import graft.operators.GroupedScan
    private def add(s: KeylessVerbSpec) = new KeylessScanBatch(s :: specs)

    /** [[Df.diff]]: value − value `periods` rows earlier. */
    def diff(c: String, out: String, periods: Int = 1): KeylessScanBatch = {
      require(periods != 0, "scanKeyless.diff: periods must be non-zero")
      add(KeylessVerbSpec(c, out, periods < 0, intWiden = true,
        (i, o) => GroupedScan.Diff(i, math.abs(periods), o)))
    }
    /** [[Df.pctChange]]: value / lagged − 1 (DOUBLE, the kernel). */
    def pctChange(c: String, out: String,
                  periods: Int = 1): KeylessScanBatch = {
      require(periods != 0, "scanKeyless.pctChange: periods must be non-zero")
      add(KeylessVerbSpec(c, out, periods < 0, intWiden = false,
        (i, o) => GroupedScan.PctChange(i, math.abs(periods), o)))
    }
    /** lag (positive periods) / lead (negative). */
    def shift(c: String, out: String, periods: Int = 1): KeylessScanBatch = {
      require(periods != 0, "scanKeyless.shift: periods must be non-zero")
      add(KeylessVerbSpec(c, out, periods < 0, intWiden = false,
        (i, o) => GroupedScan.Shift(i, math.abs(periods), o)))
    }
    /** last non-null at-or-before, in batch order. */
    def ffill(c: String, out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = false, intWiden = false,
        (i, o) => GroupedScan.Ffill(i, o)))
    /** next non-null at-or-after — the Ffill kernel over the REVERSED
      * sort, so it can't share a batch with forward verbs. */
    def bfill(c: String, out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = true, intWiden = false,
        (i, o) => GroupedScan.Ffill(i, o)))
    def cumsum(c: String, out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = false, intWiden = false,
        (i, o) => GroupedScan.CumSum(i, o)))
    def cummax(c: String, out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = false, intWiden = false,
        (i, o) => GroupedScan.CumMax(i, o)))
    def cummin(c: String, out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = false, intWiden = false,
        (i, o) => GroupedScan.CumMin(i, o)))
    def cumcount(out: String): KeylessScanBatch =
      add(KeylessVerbSpec("", out, reverse = false, intWiden = false,
        (_, o) => GroupedScan.CumCount(o)))
    /** trailing-k rolling sum|mean|min|max|count|var|std. */
    def rolling(c: String, k: Int, agg: String,
                out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = false, intWiden = false,
        (i, o) => GroupedScan.Rolling(i, k, agg, o)))
    /** exact `ewm(alpha, adjust=True).mean()`. */
    def ewm(c: String, alpha: Double, out: String): KeylessScanBatch =
      add(KeylessVerbSpec(c, out, reverse = false, intWiden = false,
        (i, o) => GroupedScan.Ewm(i, alpha, o)))
  }

  /** every frame any graft operator persisted, JVM-wide, from the
    * moment it was persisted ([[graft.operators.Materialize]]) —
    * the fallback release path when the operator result Df was not kept
    * (see the instance-level caveat). Entries leave the registry when
    * their owning Df releases them or when [[releaseRetained]] drains
    * them. References are STRONG on purpose: the fallback must still be
    * able to unpersist a frame whose every caller-side handle is gone
    * (a weak referent would be collected first, stranding the cache
    * entry). The flip side — long-lived drivers that release through
    * NEITHER path accumulate plans here — is handled where it bites:
    * the harness loops (graft.Verify / graft.Bench)
    * call [[releaseRetained]] right before their per-query
    * `spark.catalog.clearCache()` fallback, so the registry drains once
    * per query; long-lived embedders should do the same. */
  private[graft] val retainedRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** [[Df.saltedJoin]] skips the salt only when the right side's size
    * estimate times this margin fits the broadcast threshold. */
  private val SaltBroadcastMargin = 2
  /** Release EVERY graft-operator-persisted intermediate still live in
    * the JVM — the precise alternative to `spark.catalog.clearCache()`
    * for callers that dropped their operator-result handles. */
  def releaseRetained(): Unit = {
    var f = retainedRegistry.poll()
    while (f != null) { unpersistAny(f); f = retainedRegistry.poll() }
  }

  /** Storage-aware unpersist. `Dataset.unpersist` only releases
    * CacheManager-cached plans; a `localCheckpoint`'d frame is backed by
    * an RDD-LEVEL persist that only `rdd.unpersist()` can release
    * (measured on 4.1: ds.unpersist leaves the checkpoint block live).
    * Both paths run — each is a no-op for the other's storage. NOTE a
    * released checkpoint cannot recompute (no lineage) — terminal. */
  private[graft] def unpersistAny(f: DataFrame): Unit = {
    f.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist()
      case _ => ()
    }
    f.unpersist()
  }

  /** `name = expr` with a lone `=`: the lookahead rejects `==`, and the
    * identifier-then-`=` shape rejects `<=`/`>=`/`!=` comparisons. */
  private[api] val EvalAssign =
    "(?s)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=(?![=])\\s*(.+)$".r
  /** a bare `=` (not ==, !=, <=, >=) anywhere in an eval expression */
  private[api] val BareEquals = "(?<![=!<>])=(?!=)".r
  /** a complete single- or double-quoted SQL string literal, with
    * backslash escapes consumed (Spark's default string parsing treats
    * `\'` as an escaped quote INSIDE the literal) */
  private[api] val QuotedLiteral =
    "(?s)'(?:[^'\\\\]|\\\\.)*'|\"(?:[^\"\\\\]|\\\\.)*\"".r
  /** Blank out quoted string literals so the chained-assignment scan
    * never fires on an `=` INSIDE a literal (`z = s == 'a=b'` is valid,
    * as is a literal carrying an escaped quote before the `=`). SQL's
    * doubled-quote escape (`'it''s'`) decomposes into adjacent complete
    * literals under this regex, so escaped content is blanked too; an
    * UNTERMINATED literal survives the scan and is rejected by the SQL
    * parser downstream either way. */
  private[api] def stripQuoted(e: String): String =
    QuotedLiteral.replaceAllIn(e, "''")

  /** `ReadParquet` (`io/parquet.py:79`): column pruning + DNF filter
    * pushdown happen in Catalyst (FileSourceScan PushedFilters), the
    * rewrites the reference hand-rolls in `io/parquet.py:162-317`. The
    * schema comes from one footer read on the driver ([[FooterSchema]]),
    * so building the frame runs no Spark job, as `ReadParquet._meta`
    * runs none. A read Spark scans in one partition is marked
    * single-split, as every file reader below marks it
    * ([[graft.operators.FanOut.singleSplit]]). */
  def readParquet(spark: SparkSession, path: String, columns: Seq[String] = Nil): Df = {
    val base = FooterSchema.read(spark, path)
    new Df(if (columns.isEmpty) base else base.select(columns.map(base(_)): _*))
  }
  /** `ReadCSV` (`io/csv.py:8`); `usecols` mirrors the reference's
    * operand (`io/csv.py:8-20`) — a projection pushed onto the read, so
    * Catalyst prunes the parse to the named columns. */
  def readCsv(spark: SparkSession, path: String, header: Boolean = true,
              schema: StructType = null, usecols: Seq[String] = Nil): Df = {
    var r = spark.read.option("header", header.toString)
    r = if (schema != null) r.schema(schema) else r.option("inferSchema", "true")
    val base = FanOut.singleSplit(r.csv(path))
    new Df(if (usecols.isEmpty) base else base.select(usecols.map(base(_)): _*))
  }
  /** JSON Lines reader (beyond the reference's surface — corpus
    * pipelines live on JSONL). ALWAYS pass `schema` at scale: without
    * one Spark runs a full inference pass over the data before the real
    * read — 2× the IO on a 100 TB feed. Filters still push down to the
    * JSON scan (row-group-less, so pushdown prunes rows post-parse, not
    * IO — prefer parquet/orc for hot data; JSONL is the INGEST format). */
  def readJson(spark: SparkSession, path: String,
               schema: StructType = null, columns: Seq[String] = Nil): Df = {
    val r = if (schema != null) spark.read.schema(schema) else spark.read
    val base = FanOut.singleSplit(r.json(path))
    new Df(if (columns.isEmpty) base else base.select(columns.map(base(_)): _*))
  }
  /** ORC reader — same pushdown/pruning contract as [[readParquet]]
    * (PlanSpec asserts the pushed filters reach the ORC scan). */
  def readOrc(spark: SparkSession, path: String, columns: Seq[String] = Nil): Df = {
    val base = FanOut.singleSplit(spark.read.orc(path))
    new Df(if (columns.isEmpty) base else base.select(columns.map(base(_)): _*))
  }
  /** XML reader (native in Spark 4 — the spark-xml package folded into
    * core): one row per `rowTag` element. Same at-scale contract as
    * [[readJson]]: ALWAYS pass `schema` (inference is a second full
    * pass), and XML is an INGEST format — a text parse with no
    * row-group pruning; convert to parquet/orc for hot data. Multiline
    * documents (one element spanning lines) are not splittable within
    * a file; feeds should arrive as many files. */
  def readXml(spark: SparkSession, path: String, rowTag: String,
              schema: StructType = null, columns: Seq[String] = Nil): Df = {
    var r = spark.read.option("rowTag", rowTag)
    if (schema != null) r = r.schema(schema)
    val base = FanOut.singleSplit(r.xml(path))
    new Df(if (columns.isEmpty) base else base.select(columns.map(base(_)): _*))
  }

  /** Binary-file ingest — the multimodal ON-RAMP (images/audio/video
    * arrive as loose files; [[graft.operators.Multimodal]] is where
    * they live once packed). Wraps Spark's `binaryFile` source: one row
    * per file with (path, modificationTime, length, content).
    * `globFilter` narrows at the LISTING level, before any content IO.
    *
    * 100 TB notes: the source parallelizes over files (maxPartitionBytes
    * packs small files into shared tasks), but a billion loose blobs
    * bottleneck on listing and per-file opens, not bytes — ingest once,
    * then store blobs in parquet binary columns (Multimodal.pack) where
    * scans are columnar and prunable. `spark.sql.sources.binaryFile
    * .maxLength` (default 2 GiB) fails fast on oversized files. */
  def readBinaryFiles(spark: SparkSession, path: String,
                      globFilter: String = null): Df = {
    var r = spark.read.format("binaryFile")
    if (globFilter != null) r = r.option("pathGlobFilter", globFilter)
    new Df(FanOut.singleSplit(r.load(path)))
  }

  /** `PandasIO` (`io/io.py:17`): in-memory rows as a LocalRelation. */
  def fromRows(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row], schema: StructType): Df =
    new Df(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))

  /** `Concat` (`_concat.py:9`): row-wise union of k frames.
    * join="outer" → union of columns null-filled; "inner" → common cols. */
  def concat(frames: Seq[Df], join: String = "outer"): Df = (join match {
    case "outer" =>
      new Df(frames.map(_.sdf).reduce(_.unionByName(_, allowMissingColumns = true)))
    case "inner" =>
      val common = frames.map(_.columns.toSet).reduce(_ & _)
      val ordered = frames.head.columns.filter(common.contains)
      new Df(frames.map(_.sdf.select(ordered.map(col): _*)).reduce(_.unionByName(_)))
  }).inheriting(frames: _*)
}
