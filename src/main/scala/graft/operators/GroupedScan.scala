package graft.operators

import graft.api.Df
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.types._

/** Two-phase grouped prefix scans — the 100 TB path for the grouped
  * transform verbs (`cumsum`/`cummax`/`shift`/`rank`/`ffill`/…).
  *
  * The window formulation ([[graft.api.GroupedDf.cumsum]] et al.,
  * re-expressing the reference's `_groupby.py` transform surface)
  * partitions by the group keys, so its parallelism equals the KEY
  * CARDINALITY: `groupby("l_returnflag").cummax(...)` over 100 TB runs
  * THREE tasks, each sorting a third of the table — the same hazard
  * class as the keyless window (DIVERGENCES #10), just one notch up.
  * This engine removes the cardinality ceiling the same way
  * [[graft.api.Df.withRowIndexScalable]] de-serializes the global
  * ordinal:
  *
  *  1. range-partition by (groupKeys ++ orderKeys) and sort within
  *     partitions — each group's rows are globally ordered across
  *     partition boundaries, and a group spans a CONTIGUOUS run of
  *     partitions;
  *  2. one parallel pass computes, per partition, each verb's state
  *     for the partition's LAST group (the only group that can
  *     continue into the next partition — groups are contiguous under
  *     the sort, so every other group is fully local);
  *  3. the driver folds those O(numPartitions) summaries into a
  *     carry-in per partition (an `Array` of one small state per
  *     partition — never data) and broadcasts it. MEASURED ceiling
  *     (BENCHLOG r16): the collected driver state is
  *     `partitions × (|groupKeys| + Σ per-kernel state)` bytes —
  *     FLAT in data size (identical bytes at sf0.1 and 100× that) and
  *     linear in partitions (a 3-kernel scan: 3.7 KB at P=32, 56 KB at
  *     P=512; the largest, a rolling ring of k values per kernel:
  *     12.5 KB at P=32, 188 KB at P=512 — ≈ 0.4 KB × P per rolling
  *     kernel, so even 100k partitions × several kernels stays tens of
  *     MB on the driver);
  *  4. a second parallel pass over the SAME shuffled RDD (the exchange
  *     is reused across the two jobs, like `RDD.zipWithIndex`) replays
  *     the verbs sequentially within each partition, seeding the first
  *     group from its carry-in.
  *
  * Every verb's state is a monoid the driver can fold: running sum /
  * max / count, the last-k ring buffer (shift), the last non-null
  * (ffill), and the (#rows, last-order-key, rank-of-last) triple that
  * makes rank/dense_rank mergeable under a sort by (group, value).
  *
  * Exactness vs the window path: integral/decimal/string/temporal
  * verbs are bit-identical (spec-pinned differentially). Float/double
  * `cumsum` can differ from the window's strictly-sequential adds in
  * final ulps (the carry fold re-associates the addition — same class
  * of divergence as any partial aggregate). Rows tied on the FULL
  * (group ++ order) key have no defined order in either engine (SQL
  * `lag` over ties is equally nondeterministic); since r16 the scan
  * appends an internal `monotonically_increasing_id` as the LAST sort
  * key, whose values are computed in the map stage and therefore
  * FROZEN in the shuffle files both protocol jobs read — pass 1
  * (summaries) and pass 2 (emit) see ONE identical total order, so a
  * boundary carry can never disagree with the replay that consumes it
  * (pre-r16 the two passes sorted ties independently). The tie order
  * among duplicates remains arbitrary per call — pass total-order keys
  * when a REPRODUCIBLE order matters, as pandas' positional semantics
  * already require.
  *
  * Like `zipWithIndex`, the two jobs assume the input lineage is
  * deterministic (range-bound sampling is seeded): cache upstream
  * nondeterminism first.
  *
  * PROJECT BEFORE SCANNING: the scan materializes its input as an RDD,
  * which blocks Catalyst's column pruning — every input column rides
  * the range exchange and both passes, whether downstream reads it or
  * not. Select just the (group ++ order ++ value) columns you need
  * first; a 16-column table scanned for a 6-column answer otherwise
  * shuffles ~2.5× the bytes.
  */
object GroupedScan {

  /** internal tie-disambiguator sort key (see the object scaladoc) —
    * appended before the exchange, stripped before emit */
  private val TieCol = "__graft_scan_tie"

  /** A scan verb: what to compute per row, in (groupKeys, orderKeys)
    * order. `out` is the appended column name. */
  sealed trait Verb { def out: String }
  /** running sum (SQL window-sum semantics: nulls skipped, null until
    * the first non-null; int→long, float→double, decimal p→p+10) */
  final case class CumSum(valueCol: String, out: String) extends Verb
  final case class CumMax(valueCol: String, out: String) extends Verb
  final case class CumMin(valueCol: String, out: String) extends Verb
  /** 0-based ordinal within the group (pandas `cumcount`) */
  final case class CumCount(out: String) extends Verb
  /** `lag(periods)` within the group (periods ≥ 0; 0 = identity) */
  final case class Shift(valueCol: String, periods: Int, out: String) extends Verb
  /** last non-null value at-or-before this row (pandas `ffill`) */
  final case class Ffill(valueCol: String, out: String) extends Verb
  /** pandas `diff(periods)`: value − value `periods` rows earlier in
    * the group (periods ≥ 1; lead via the wrapper's order reversal,
    * like Shift). Output type follows the window `c - lag(c)` form:
    * int→int, long→long, float→float, double→double,
    * decimal(p,s)→decimal(p+1,s); integral overflow errors LOUDLY
    * (subtractExact — the same contract as ANSI window subtraction). */
  final case class Diff(valueCol: String, periods: Int, out: String)
    extends Verb
  /** pandas `pct_change(periods)`: value / value[periods earlier] − 1,
    * computed in DOUBLE (both operands double-widened first). Zero
    * denominators emit ±Infinity/NaN — the pandas/IEEE/DuckDB-double
    * behavior — where the ANSI window `c / lag(c)` form raises
    * DIVIDE_BY_ZERO (Spark 4 ANSI errors even for doubles); on
    * non-zero denominators the two are bit-identical for
    * int/long/float/double inputs (decimal divides in decimal in the
    * window form — cast first for parity). */
  final case class PctChange(valueCol: String, periods: Int, out: String)
    extends Verb
  /** SQL `rank()` over the orderKeys (ties share the min rank) */
  final case class RankMin(out: String) extends Verb
  /** SQL `dense_rank()` over the orderKeys */
  final case class RankDense(out: String) extends Verb
  /** rolling window over the last `k` rows INCLUDING the current one —
    * the `rowsBetween(-(k-1), 0)` frame. `agg` ∈
    * sum|mean|min|max|count|var|std (count counts non-nulls; all skip
    * nulls like their SQL window forms, and emit over however many
    * rows are available — pandas `rolling(k, min_periods=1)`). var/std
    * are SAMPLE (ddof=1) like `var_samp`/`stddev_samp`, emit DOUBLE,
    * and match the window forms' edge contract: ≤1 non-null → null
    * (Spark non-legacy). Decimal inputs accumulate mean and squared
    * deviations in BigDecimal (order-independent under tie
    * nondeterminism) before the final double conversion. */
  final case class Rolling(valueCol: String, k: Int, agg: String,
                           out: String) extends Verb

  /** exponentially weighted mean, pandas `ewm(alpha, adjust=True)`
    * semantics (and `ignore_na=True`: nulls don't decay the weights) —
    * EXACT, unlike the windowed form's eps-truncated tail
    * ([[graft.operators.TimeSeries.ewmaMean]]): the recurrence
    * num_i = (1-α)·num_{i-1} + x_i (den likewise) is affine, so a
    * partition's whole run composes into one (decay^m, localSum) pair
    * and the carry folds in O(1). Emits DOUBLE. */
  final case class Ewm(valueCol: String, alpha: Double, out: String)
    extends Verb

  /** Run `verbs` over `df` grouped by `groupKeys` (empty = one global
    * group — the scalable KEYLESS path DIVERGENCES #10 points at),
    * ordered by `orderKeys` (name → ascending?). Appends one column per
    * verb; row order of the result is the scan order. */
  def scan(df: DataFrame, groupKeys: Seq[String],
           orderKeys: Seq[(String, Boolean)], verbs: Seq[Verb],
           numPartitions: Int = 0): Df = Materialize.scope { s =>
    require(orderKeys.nonEmpty, "scan: orderKeys required")
    require(verbs.nonEmpty, "scan: at least one verb")
    val in = df.schema
    verbs.foreach(v => require(!in.fieldNames.contains(v.out),
      s"scan: output column '${v.out}' already exists"))
    require(verbs.map(_.out).distinct.size == verbs.size,
      s"scan: duplicate output names: ${verbs.map(_.out).mkString(", ")}")

    // TIE DISAMBIGUATOR (r16): both protocol passes re-run the
    // post-shuffle sort from the same shuffle files, and Spark's sort
    // is only stable w.r.t. the (nondeterministic) fetch order — when
    // the caller's keys don't totally order the rows, pass 1's
    // boundary carries could disagree with pass 2's tie order. A
    // monotonically_increasing_id appended as the LAST sort key closes
    // the gap: it is computed in the map stage, so its values (and the
    // partitioner's row placement) are FROZEN in the shuffle files both
    // jobs read — the sort becomes total and identical across passes.
    // The tie order among duplicates stays arbitrary (one consistent
    // order per call, like the single-partition window picked one) —
    // callers needing a REPRODUCIBLE tie order still pass unique keys.
    // Costs 8 bytes/row in the exchange; stripped before emit.
    require(!in.fieldNames.contains(TieCol) && !verbs.exists(_.out == TieCol),
      s"scan: column name '$TieCol' is reserved")
    val tagged = df.withColumn(TieCol, monotonically_increasing_id())
    val sortCols = groupKeys.map(tagged(_).asc) ++
      orderKeys.map { case (c, asc) =>
        if (asc) tagged(c).asc else tagged(c).desc } ++
      Seq(tagged(TieCol).asc)
    // pinned partition count (spark.sql.shuffle.partitions when the
    // caller doesn't choose): an unpinned range exchange lets AQE's
    // 64 MB-target coalesce serialize BOTH protocol passes — the
    // post-shuffle sorts and the kernel replays — onto a handful of
    // tasks (the r15 q55 lesson, applied to the scan). Sized on the
    // UNtagged df (the estimate only feeds the count).
    val pinnedParts = if (numPartitions > 0) numPartitions
    else Gate.shufflePartitions(df)
    val ranged = tagged.repartitionByRange(pinnedParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)

    val nIn = in.length // emit strips the trailing tie column
    val gIdx = groupKeys.map(in.fieldIndex).toArray
    val oIdx = orderKeys.map { case (c, _) => in.fieldIndex(c) }.toArray
    val kernels: Array[Kernel] = verbs.map(kernelFor(_, in, oIdx)).toArray
    val outSchema = StructType(in.fields ++ verbs.zip(kernels).map {
      case (v, k) => k.field(v.out)
    })

    // ONE RDD for both jobs: the range exchange is computed once and
    // reused (job 2's shuffle dependency is satisfied from job 1's
    // shuffle files — only the post-shuffle sort re-executes).
    // `persistOn` additionally caches the SORTED partitions
    // (DataFrame-level persist → compressed columnar cached batches,
    // MEMORY_AND_DISK) so pass 2 skips the shuffle read and
    // the re-sort, at the cost of a second cached copy of the input —
    // the frame is attached to the result like every operator persist.
    // Cached partitions replay pass 1's exact row order; an evicted
    // block re-sorts with the frozen tie column to the identical order.
    // (An RDD[Row]-level persist was tried first and ruled out: 50M-row
    // Java-serialized Row blocks trip a BlockManager put AssertionError
    // under memory pressure on 4.1 — BENCHLOG r19.) The InternalRow→Row
    // conversion is inherently per-pass either way.
    // An estimated gate ([[Gate]], r21): ON once the optimizer's size
    // estimate for the scan input reaches
    // `spark.graft.scan.persistAutoBytes`. The r20 100M-row A/B
    // measured the crossover: caching the sorted partitions beats pass
    // 2's shuffle re-fetch + re-sort by ~1.8x at 100M rows (~4.5 GB
    // sorted) and is a wash at 50M (~2.2 GB) — BENCHLOG r20. Default
    // 1.5 GiB (r22): the r21 default of 2 GiB was set against ACTUAL
    // sorted bytes, but the gate reads the optimizer's ESTIMATE, which
    // ran ~2.0 GB for the measured 100M win case (Range stats + width
    // scaling undercount real row footprint) — the end-to-end probe
    // (BENCHLOG r22) showed auto staying OFF exactly where ON wins
    // 1.2x and halves shuffle read. 1.5 GiB keeps the 50M wash case
    // (~1.0 GB estimate) OFF and engages the measured win band.
    // An unknown estimate stays OFF: it must not trigger a corpus-sized
    // cache.
    val thresh = Gate.knob(df.sparkSession,
      "spark.graft.scan.persistAutoBytes", 3L << 29)
    val persistOn = Gate.estimatedBytes(df).exists(_ >= thresh)
    val rdd = if (persistOn) s.persist(ranged).rdd else ranged.rdd
    val nKernels = kernels.length

    // ---- pass 1: per-partition state of the LAST group ----
    val summaries: Array[PartSummary] = rdd.mapPartitionsWithIndex {
      (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          var firstGroup: Array[Any] = null
          var curGroup: Array[Any] = null
          var states = new Array[AnyRef](nKernels)
          while (it.hasNext) {
            val r = it.next()
            val g = keyOf(r, gIdx)
            if (curGroup == null) { firstGroup = g; curGroup = g }
            else if (!keysEq(curGroup, g)) {
              curGroup = g; states = new Array[AnyRef](nKernels)
            }
            var i = 0
            while (i < nKernels) {
              states(i) = kernels(i).advance(states(i), r); i += 1
            }
          }
          Iterator.single(PartSummary(pid, firstGroup, curGroup, states))
        }
    }.collect()

    // ---- driver fold: carry-in per partition, O(numPartitions) ----
    val nParts = rdd.getNumPartitions
    val carries = new Array[(Array[Any], Array[AnyRef])](nParts)
    var carry: (Array[Any], Array[AnyRef]) = null
    val byPid = summaries.map(s => s.pid -> s).toMap
    var p = 0
    while (p < nParts) {
      carries(p) = carry
      byPid.get(p) match {
        case None => // empty partition: carry passes through
        case Some(s) =>
          // the carry merges into s's last group only if that group
          // spans the whole partition AND continues the carried group
          carry =
            if (carry != null && keysEq(carry._1, s.lastGroup) &&
                keysEq(s.firstGroup, s.lastGroup)) {
              val merged = new Array[AnyRef](nKernels)
              var i = 0
              while (i < nKernels) {
                merged(i) = mergeNullable(kernels(i), carry._2(i), s.states(i))
                i += 1
              }
              (s.lastGroup, merged)
            } else (s.lastGroup, s.states)
      }
      p += 1
    }
    val bc = df.sparkSession.sparkContext.broadcast(carries)

    // ---- pass 2: emit, seeding each partition's first group ----
    val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      val carryIn = bc.value(pid)
      var curGroup: Array[Any] = null
      var states: Array[AnyRef] = null
      it.map { r =>
        val g = keyOf(r, gIdx)
        if (curGroup == null || !keysEq(curGroup, g)) {
          curGroup = g
          states =
            if (carryIn != null && keysEq(carryIn._1, g))
              carryIn._2.clone() // only reachable for the first group
            else new Array[AnyRef](nKernels)
        }
        val outs = new Array[Any](nKernels)
        var i = 0
        while (i < nKernels) {
          val (ns, o) = kernels(i).step(states(i), r)
          states(i) = ns; outs(i) = o; i += 1
        }
        Row.fromSeq(r.toSeq.take(nIn) ++ outs) // strip the tie column
      }
    }
    new Df(df.sparkSession.createDataFrame(outRdd, outSchema))
  }

  // ------------------------------------------------------------------
  // internals
  // ------------------------------------------------------------------

  private final case class PartSummary(pid: Int, firstGroup: Array[Any],
                                       lastGroup: Array[Any],
                                       states: Array[AnyRef])

  /** group/order key canonicalization: SQL grouping and ordering treat
    * -0.0 as 0.0 (Spark normalizes before compare) — mirror it */
  /** group-key canonicalization shared with [[Quantiles.canonKey]]:
    * -0.0 joins 0.0 like SQL grouping, binary wraps to content
    * equality, struct/array keys recurse (a nested -0.0 would
    * otherwise split a group the window form keeps whole) */
  private def keyOf(r: Row, idx: Array[Int]): Array[Any] = {
    val a = new Array[Any](idx.length)
    var i = 0
    while (i < idx.length) { a(i) = Quantiles.canonKey(r.get(idx(i))); i += 1 }
    a
  }
  /** null-safe elementwise equality (null keys form one group, NaN ==
    * NaN — both per SQL grouping; Double.equals delivers the latter;
    * BinaryType keys compare by CONTENT — Objects.equals on two
    * Array[Byte] is reference equality and would mis-group every row) */
  private def keysEq(a: Array[Any], b: Array[Any]): Boolean = {
    var i = 0
    while (i < a.length) {
      val eq = (a(i), b(i)) match {
        case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
        case (x, y) => java.util.Objects.equals(x, y)
      }
      if (!eq) return false
      i += 1
    }
    true
  }
  private def mergeNullable(k: Kernel, carry: AnyRef, local: AnyRef): AnyRef =
    if (carry == null) local else if (local == null) carry
    else k.merge(carry, local)

  /** per-verb sequential state machine. `st == null` is the fresh
    * state; `step` returns (state AFTER the row, value emitted FOR the
    * row); `merge` folds a carried state into a locally-built one
    * (both describe disjoint, ordered runs of the SAME group). */
  private sealed trait Kernel extends Serializable {
    def field(name: String): StructField
    def step(st: AnyRef, row: Row): (AnyRef, Any)
    def merge(carry: AnyRef, local: AnyRef): AnyRef
    /** state-only transition for the summary pass — kernels whose
      * per-row output is expensive (Rolling's O(k) eval) override it */
    def advance(st: AnyRef, row: Row): AnyRef = step(st, row)._1
  }

  /** SQL ordering for max/min state: NaN greatest, binary UTF8 strings,
    * temporals via Comparable (covers both java.sql and java.time) */
  private def cmpFor(dt: DataType): (Any, Any) => Int = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      (a, b) => java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
    case FloatType | DoubleType =>
      (a, b) => java.lang.Double.compare(a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())
    case _: DecimalType =>
      (a, b) => a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal])
    case StringType =>
      (a, b) => org.apache.spark.unsafe.types.UTF8String
        .fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
    case BooleanType =>
      (a, b) => java.lang.Boolean.compare(a.asInstanceOf[Boolean],
        b.asInstanceOf[Boolean])
    case DateType | TimestampType | TimestampNTZType =>
      (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    case other => throw new IllegalArgumentException(
      s"GroupedScan: no ordering for ${other.simpleString}")
  }

  private def kernelFor(v: Verb, in: StructType, oIdx: Array[Int]): Kernel =
    v match {
      case CumSum(c, _) =>
        val i = in.fieldIndex(c)
        in(i).dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            new LongSumKernel(i)
          case FloatType | DoubleType => new DoubleSumKernel(i)
          case d: DecimalType =>
            new DecimalSumKernel(i,
              DecimalType(math.min(38, d.precision + 10), d.scale))
          case other => throw new IllegalArgumentException(
            s"cumsum over non-numeric ${other.simpleString}")
        }
      case CumMax(c, _) =>
        val i = in.fieldIndex(c)
        new ExtremeKernel(i, in(i).dataType, cmpFor(in(i).dataType), 1)
      case CumMin(c, _) =>
        val i = in.fieldIndex(c)
        new ExtremeKernel(i, in(i).dataType, cmpFor(in(i).dataType), -1)
      case CumCount(_) => new CountKernel
      case Shift(c, k, _) =>
        require(k >= 0, "Shift: periods must be >= 0 in a raw scan — " +
          "GroupedDf.shiftScalable handles negative periods (lead) by " +
          "reversing the single-verb scan's order")
        new ShiftKernel(in.fieldIndex(c), in(in.fieldIndex(c)).dataType, k)
      case Ffill(c, _) =>
        new FfillKernel(in.fieldIndex(c), in(in.fieldIndex(c)).dataType)
      case Diff(c, p, _) =>
        require(p >= 1, "Diff: periods must be >= 1 in a raw scan — " +
          "GroupedDf.diffScalable handles negative periods (lead) by " +
          "reversing the single-verb scan's order")
        val i = in.fieldIndex(c)
        new DiffKernel(i, in(i).dataType, p)
      case PctChange(c, p, _) =>
        require(p >= 1, "PctChange: periods must be >= 1 in a raw scan — " +
          "GroupedDf.pctChangeScalable handles negative periods (lead) by " +
          "reversing the single-verb scan's order")
        val i = in.fieldIndex(c)
        require(in(i).dataType.isInstanceOf[NumericType],
          s"pct_change over non-numeric ${in(i).dataType.simpleString}")
        new PctChangeKernel(i, p)
      case RankMin(_) => new RankKernel(oIdx, dense = false)
      case RankDense(_) => new RankKernel(oIdx, dense = true)
      case Ewm(c, alpha, _) =>
        require(alpha > 0 && alpha < 1, s"Ewm: alpha in (0,1): $alpha")
        val i = in.fieldIndex(c)
        require(in(i).dataType.isInstanceOf[NumericType],
          s"ewm over non-numeric ${in(i).dataType.simpleString}")
        new EwmKernel(i, alpha)
      case Rolling(c, k, agg, _) =>
        require(k >= 1, "Rolling: k must be >= 1")
        val i = in.fieldIndex(c)
        val dt = in(i).dataType
        require(Set("sum", "mean", "min", "max", "count", "var", "std")(agg),
          s"Rolling: agg must be sum|mean|min|max|count|var|std: $agg")
        if (agg == "sum" || agg == "mean" || agg == "var" || agg == "std")
          require(dt.isInstanceOf[NumericType],
            s"Rolling $agg over non-numeric ${dt.simpleString}")
        new RollingKernel(i, dt, k, agg)
    }

  /** int/long running sum → LongType (overflow errors like ANSI sum) */
  private final class LongSumKernel(idx: Int) extends Kernel {
    def field(n: String) = StructField(n, LongType, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val ns = if (v == null) st
      else {
        val l = v.asInstanceOf[Number].longValue()
        if (st == null) java.lang.Long.valueOf(l)
        else java.lang.Long.valueOf(
          Math.addExact(st.asInstanceOf[java.lang.Long].longValue(), l))
      }
      (ns, ns)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = java.lang.Long.valueOf(
      Math.addExact(a.asInstanceOf[java.lang.Long].longValue(),
        b.asInstanceOf[java.lang.Long].longValue()))
  }

  private final class DoubleSumKernel(idx: Int) extends Kernel {
    def field(n: String) = StructField(n, DoubleType, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val ns = if (v == null) st
      else {
        val d = v.asInstanceOf[Number].doubleValue()
        if (st == null) java.lang.Double.valueOf(d)
        else java.lang.Double.valueOf(
          st.asInstanceOf[java.lang.Double].doubleValue() + d)
      }
      (ns, ns)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = java.lang.Double.valueOf(
      a.asInstanceOf[java.lang.Double].doubleValue() +
        b.asInstanceOf[java.lang.Double].doubleValue())
  }

  private final class DecimalSumKernel(idx: Int, out: DecimalType)
    extends Kernel {
    def field(n: String) = StructField(n, out, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val ns = if (v == null) st
      else {
        val d = v.asInstanceOf[java.math.BigDecimal]
        if (st == null) d else st.asInstanceOf[java.math.BigDecimal].add(d)
      }
      (ns, ns)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef =
      a.asInstanceOf[java.math.BigDecimal]
        .add(b.asInstanceOf[java.math.BigDecimal])
  }

  /** running max (dir=1) / min (dir=-1), SQL null-skipping */
  private final class ExtremeKernel(idx: Int, dt: DataType,
                                    cmp: (Any, Any) => Int, dir: Int)
    extends Kernel {
    def field(n: String) = StructField(n, dt, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val ns = if (v == null) st
      else if (st == null || cmp(v, st) * dir > 0) v.asInstanceOf[AnyRef]
      else st
      (ns, ns)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef =
      if (cmp(b, a) * dir > 0) b else a
  }

  /** 0-based per-group ordinal; state = boxed count AFTER this row.
    * IntegerType for window row_number parity — a group past 2^31 rows
    * fails LOUDLY (toIntExact), never wraps negative. */
  private final class CountKernel extends Kernel {
    def field(n: String) = StructField(n, IntegerType, nullable = false)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val n = if (st == null) 1L else st.asInstanceOf[java.lang.Long] + 1L
      (java.lang.Long.valueOf(n), Math.toIntExact(n - 1))
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = java.lang.Long.valueOf(
      a.asInstanceOf[java.lang.Long] + b.asInstanceOf[java.lang.Long])
  }

  /** The last-≤k ring every lag-shaped kernel carries (Shift, Diff,
    * PctChange, Rolling), as an immutable Vector state: append-and-trim
    * per step, value k rows back, and the carry merge where the newer
    * side wins outright once it holds k values. */
  private object Ring {
    def append(st: AnyRef, v: Any, k: Int): Vector[Any] = {
      val buf = if (st == null) Vector.empty[Any]
      else st.asInstanceOf[Vector[Any]]
      (buf :+ v).takeRight(k)
    }
    /** the value k rows before the NEXT row (null when fewer than k
      * rows are buffered) */
    def kBack(st: AnyRef, k: Int): Any = {
      val buf = if (st == null) Vector.empty[Any]
      else st.asInstanceOf[Vector[Any]]
      if (buf.length >= k) buf(buf.length - k) else null
    }
    def merge(a: AnyRef, b: AnyRef, k: Int): AnyRef = {
      val bb = b.asInstanceOf[Vector[Any]]
      if (bb.length >= k) bb
      else (a.asInstanceOf[Vector[Any]] ++ bb).takeRight(k)
    }
  }

  /** Rolling state for the SLIDING verbs (count + integral/decimal
    * sum/mean): the last-≤k ring plus running non-null count and exact
    * sum, maintained O(1) per row instead of re-filtering and re-summing
    * k values per emitted row (VERDICT r18 item 5 — the O(n·k) constant
    * factor at large k). Immutable on purpose: carry states are shared
    * between the driver fold and every replay partition via a shallow
    * Array.clone. Exactly ONE of lsum/dsum is live per kernel. */
  private final case class RollSt(ring: Vector[Any], nn: Long,
                                  lsum: Long, dsum: java.math.BigDecimal)

  /** Rolling state for SLIDING min/max (r19, the other half of VERDICT
    * r18 item 5): the last-≤k ring plus the monotone candidate deque —
    * front = current window extremum; candidates strictly dominated by
    * a newer value are popped on append; EQUAL values each keep their
    * own entry, so dropping the front when the evicted row compares
    * equal to it is duplicate-safe (the front is always the oldest
    * alive candidate). Amortized O(1) per row vs the old O(k) ring
    * re-scan; results are the exact same window extrema. */
  private final case class MinMaxSt(ring: Vector[Any], cand: Vector[Any])

  /** lag(k): state = last ≤k raw values (nulls carried like SQL lag) */
  private final class ShiftKernel(idx: Int, dt: DataType, k: Int)
    extends Kernel {
    def field(n: String) = StructField(n, dt, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      if (k == 0) (st, v)
      else (Ring.append(st, v, k), Ring.kBack(st, k))
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = Ring.merge(a, b, k)
  }

  /** last non-null value; state null = none seen yet */
  private final class FfillKernel(idx: Int, dt: DataType) extends Kernel {
    def field(n: String) = StructField(n, dt, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val ns = if (v == null) st else v.asInstanceOf[AnyRef]
      (ns, ns)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = b // b is non-null ⟹ newer
  }

  /** diff(p): the Shift ring plus the typed subtraction. Null when
    * fewer than p prior rows exist, or when either operand is null
    * (SQL `c - lag(c, p)`). Integral overflow is LOUD (subtractExact /
    * toIntExact), matching the ANSI window subtraction's error — never
    * a silent wrap. */
  private final class DiffKernel(idx: Int, dt: DataType, p: Int)
    extends Kernel {
    private val (outType, sub): (DataType, (Any, Any) => Any) = dt match {
      case IntegerType => (IntegerType, (a, b) => Math.toIntExact(
        Math.subtractExact(a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue())))
      case LongType => (LongType, (a, b) => Math.subtractExact(
        a.asInstanceOf[java.lang.Long].longValue(),
        b.asInstanceOf[java.lang.Long].longValue()))
      case FloatType => (FloatType, (a, b) =>
        a.asInstanceOf[java.lang.Float].floatValue() -
          b.asInstanceOf[java.lang.Float].floatValue())
      case DoubleType => (DoubleType, (a, b) =>
        a.asInstanceOf[java.lang.Double].doubleValue() -
          b.asInstanceOf[java.lang.Double].doubleValue())
      case d: DecimalType =>
        (DecimalType(math.min(38, d.precision + 1), d.scale), (a, b) =>
          a.asInstanceOf[java.math.BigDecimal]
            .subtract(b.asInstanceOf[java.math.BigDecimal]))
      case other => throw new IllegalArgumentException(
        s"diff over ${other.simpleString} — cast to int/long/float/" +
          "double/decimal first (byte/short widen implicitly in the " +
          "window form; here the widening must be explicit)")
    }
    def field(n: String) = StructField(n, outType, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val prev = Ring.kBack(st, p)
      val out = if (v == null || prev == null) null else sub(v, prev)
      (Ring.append(st, v, p), out)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = Ring.merge(a, b, p)
  }

  /** pct_change(p): the Shift ring, output cur/prev − 1 in DOUBLE
    * (zero denominators → ±Infinity/NaN, the IEEE/pandas behavior). */
  private final class PctChangeKernel(idx: Int, p: Int) extends Kernel {
    def field(n: String) = StructField(n, DoubleType, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val v = row.get(idx)
      val prev = Ring.kBack(st, p)
      val out = if (v == null || prev == null) null
      else java.lang.Double.valueOf(
        v.asInstanceOf[Number].doubleValue() /
          prev.asInstanceOf[Number].doubleValue() - 1.0)
      (Ring.append(st, v, p), out)
    }
    def merge(a: AnyRef, b: AnyRef): AnyRef = Ring.merge(a, b, p)
  }

  /** rolling agg over the last ≤k raw values (nulls kept in the buffer
    * for position, skipped by the agg — the SQL `f(x) OVER (ROWS
    * BETWEEN k-1 PRECEDING AND CURRENT ROW)` semantics). State = the
    * same last-k ring as Shift, so the carry merge is identical; the
    * agg recomputes over the ≤k buffer per row (k is a small window
    * constant, not data). sum widens like CumSum (int→long,
    * float→double, decimal p→p+10); mean always emits DOUBLE (exact
    * decimal sums divide at the end — NOTE: the window `avg(decimal)`
    * instead emits decimal(p+4,s+4), the one intentional dtype
    * difference); count counts non-nulls as LONG. */
  private final class RollingKernel(idx: Int, dt: DataType, k: Int,
                                    agg: String) extends Kernel {
    private val cmp: (Any, Any) => Int =
      if (agg == "min" || agg == "max") cmpFor(dt) else null
    private val isDecimal = dt.isInstanceOf[DecimalType]
    private val isFloating = dt == FloatType || dt == DoubleType

    def field(n: String) = agg match {
      case "sum" => dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          StructField(n, LongType, nullable = true)
        case FloatType | DoubleType => StructField(n, DoubleType, nullable = true)
        case d: DecimalType => StructField(n,
          DecimalType(math.min(38, d.precision + 10), d.scale), nullable = true)
        case other => throw new IllegalArgumentException(
          s"rolling sum over ${other.simpleString}")
      }
      case "mean" | "var" | "std" => StructField(n, DoubleType, nullable = true)
      case "count" => StructField(n, LongType, nullable = false)
      case _       => StructField(n, dt, nullable = true)
    }

    // O(1) sliding updates where they are EXACT and therefore
    // bit-identical to the per-row recompute: count (any dtype),
    // integral sum/mean (Long running sum, LOUD overflow like the
    // recompute's addExact), decimal sum/mean (BigDecimal). float/
    // double sum/mean deliberately KEEP the O(k) recompute — a
    // subtractive running double sum re-associates the addition and
    // would break the ulp-exact ScanSpec pin against the SQL window,
    // which re-sums each frame left-to-right. min/max/var/std also
    // recompute over the ≤k ring (var/std need the two-pass centered
    // form for stability; min/max eviction would need a deque for a
    // small-constant win).
    private val sliding =
      agg == "count" || ((agg == "sum" || agg == "mean") && !isFloating)
    private val slidingMinMax = agg == "min" || agg == "max"
    private val zero =
      if (isDecimal) java.math.BigDecimal.ZERO else null

    // monotonic-deque sliding min/max (see MinMaxSt): dir flips the
    // domination test; cmp is the same total order the ring re-scan
    // used, so outputs are bit-identical
    private val mmDir = if (agg == "max") 1 else -1
    private def mmAppend(st: AnyRef, v: Any): MinMaxSt = {
      val s = if (st == null) MinMaxSt(Vector.empty, Vector.empty)
      else st.asInstanceOf[MinMaxSt]
      var cand = s.cand
      if (s.ring.length == k) {
        val e = s.ring.head
        if (e != null && cand.nonEmpty && cmp(e, cand.head) == 0)
          cand = cand.tail
      }
      if (v != null) {
        while (cand.nonEmpty && cmp(cand.last, v) * mmDir < 0)
          cand = cand.init
        cand = cand :+ v
      }
      MinMaxSt((s.ring :+ v).takeRight(k), cand)
    }
    private def mmFromRing(ring: Vector[Any]): MinMaxSt = {
      // replay the ring (≤ k values) through the deque; the growing
      // ring never reaches k mid-replay, so no spurious evictions
      var st: AnyRef = null
      ring.foreach { v => st = mmAppend(st, v) }
      if (st == null) MinMaxSt(Vector.empty, Vector.empty)
      else st.asInstanceOf[MinMaxSt]
    }

    private def slideAppend(st: AnyRef, v: Any): RollSt = {
      val s = if (st == null) RollSt(Vector.empty, 0L, 0L, zero)
      else st.asInstanceOf[RollSt]
      var nn = s.nn; var ls = s.lsum; var ds = s.dsum
      if (s.ring.length == k) {
        val e = s.ring.head
        if (e != null) {
          nn -= 1
          if (agg != "count") {
            if (isDecimal) ds = ds.subtract(e.asInstanceOf[java.math.BigDecimal])
            else ls = Math.subtractExact(ls, e.asInstanceOf[Number].longValue())
          }
        }
      }
      if (v != null) {
        nn += 1
        if (agg != "count") {
          if (isDecimal) ds = ds.add(v.asInstanceOf[java.math.BigDecimal])
          else ls = Math.addExact(ls, v.asInstanceOf[Number].longValue())
        }
      }
      RollSt((s.ring :+ v).takeRight(k), nn, ls, ds)
    }
    private def fromRing(ring: Vector[Any]): RollSt = {
      var nn = 0L; var ls = 0L; var ds = zero
      ring.foreach { v =>
        if (v != null) {
          nn += 1
          if (agg != "count") {
            if (isDecimal) ds = ds.add(v.asInstanceOf[java.math.BigDecimal])
            else ls = Math.addExact(ls, v.asInstanceOf[Number].longValue())
          }
        }
      }
      RollSt(ring, nn, ls, ds)
    }
    private def evalSliding(s: RollSt): Any = agg match {
      case "count" => s.nn
      case "sum" =>
        if (s.nn == 0) null else if (isDecimal) s.dsum else s.lsum
      case "mean" =>
        if (s.nn == 0) null
        else if (isDecimal) s.dsum.doubleValue() / s.nn
        else s.lsum.toDouble / s.nn
    }

    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val ns = advance(st, row)
      val out =
        if (sliding) evalSliding(ns.asInstanceOf[RollSt])
        else if (slidingMinMax) {
          val c = ns.asInstanceOf[MinMaxSt].cand
          if (c.isEmpty) null else c.head
        }
        else eval(ns.asInstanceOf[Vector[Any]])
      (ns, out)
    }
    override def advance(st: AnyRef, row: Row): AnyRef =
      if (sliding) slideAppend(st, row.get(idx))
      else if (slidingMinMax) mmAppend(st, row.get(idx))
      else Ring.append(st, row.get(idx), k)
    def merge(a: AnyRef, b: AnyRef): AnyRef =
      if (sliding) fromRing(Ring.merge(a.asInstanceOf[RollSt].ring,
        b.asInstanceOf[RollSt].ring, k).asInstanceOf[Vector[Any]])
      else if (slidingMinMax)
        mmFromRing(Ring.merge(a.asInstanceOf[MinMaxSt].ring,
          b.asInstanceOf[MinMaxSt].ring, k).asInstanceOf[Vector[Any]])
      else Ring.merge(a, b, k)

    private def eval(buf: Vector[Any]): Any = {
      // reached only for the verbs without an exact sliding form:
      // float/double sum/mean (associativity pin) and var/std (two-pass)
      val vs = buf.filter(_ != null)
      agg match {
        case "var" | "std" =>
          // var_samp/stddev_samp window edge contract: 0 or 1 non-null
          // → null (Spark's CentralMomentAgg with ddof=1, non-legacy —
          // legacyStatisticalAggregate's NaN is NOT replicated)
          if (vs.length <= 1) null
          else {
            val variance =
              if (isDecimal) {
                // order-independent under tie nondeterminism: exact
                // decimal sums for the mean and the squared deviations
                val mc = java.math.MathContext.DECIMAL128
                val xs = vs.map(_.asInstanceOf[java.math.BigDecimal])
                val mean = xs.reduce(_.add(_))
                  .divide(new java.math.BigDecimal(xs.length), mc)
                xs.map { x => val d = x.subtract(mean); d.multiply(d, mc) }
                  .reduce(_.add(_, mc))
                  .divide(new java.math.BigDecimal(xs.length - 1), mc)
                  .doubleValue()
              } else {
                // two-pass mean-centered — no catastrophic cancellation
                val xs = vs.map(_.asInstanceOf[Number].doubleValue())
                val mean = xs.sum / xs.length
                xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1)
              }
            if (agg == "var") variance else math.sqrt(variance)
          }
        case "sum" | "mean" =>
          if (vs.isEmpty) null
          else if (isDecimal) {
            val s = vs.map(_.asInstanceOf[java.math.BigDecimal])
              .reduce(_.add(_))
            if (agg == "sum") s else s.doubleValue() / vs.length
          } else if (isFloating) {
            val s = vs.map(_.asInstanceOf[Number].doubleValue()).sum
            if (agg == "sum") s else s / vs.length
          } else { // integral: exact long sum (window avg(int) divides it)
            var s = 0L
            vs.foreach(v => s = Math.addExact(s, v.asInstanceOf[Number].longValue()))
            if (agg == "sum") s else s.toDouble / vs.length
          }
      }
    }
  }

  /** adjusted EWM: ewma_i = num_i/den_i with num_i = Σ decay^(i−j)·x_j,
    * den_i = Σ decay^(i−j) over the non-null prefix. State
    * (m, num, den): a run of m non-null values scales any carried
    * prefix by decay^m and adds its own sums — the affine composition
    * that makes the recurrence mergeable. Nulls emit the carried mean
    * without touching the state (pandas ignore_na=True). */
  private final class EwmKernel(idx: Int, alpha: Double) extends Kernel {
    private val decay = 1.0 - alpha
    def field(n: String) = StructField(n, DoubleType, nullable = true)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val s = st.asInstanceOf[EwmState]
      val v = row.get(idx)
      if (v == null) (st, if (s == null) null else s.num / s.den)
      else {
        val x = v.asInstanceOf[Number].doubleValue()
        val ns = if (s == null) EwmState(1L, x, 1.0)
        else EwmState(s.m + 1, decay * s.num + x, decay * s.den + 1.0)
        (ns, ns.num / ns.den)
      }
    }
    def merge(a0: AnyRef, b0: AnyRef): AnyRef = {
      val a = a0.asInstanceOf[EwmState]; val b = b0.asInstanceOf[EwmState]
      val f = math.pow(decay, b.m.toDouble)
      EwmState(a.m + b.m, f * a.num + b.num, f * a.den + b.den)
    }
  }
  private final case class EwmState(m: Long, num: Double, den: Double)

  /** rank()/dense_rank() over the scan's orderKeys. Sorted input means
    * ties are consecutive, so only EQUALITY with the previous key is
    * needed — no value ordering. State: (#rows, first key, last key,
    * rank of last key | distinct count). */
  private final class RankKernel(oIdx: Array[Int], dense: Boolean)
    extends Kernel {
    def field(n: String) = StructField(n, IntegerType, nullable = false)
    def step(st: AnyRef, row: Row): (AnyRef, Any) = {
      val k = keyOf(row, oIdx)
      val s = st.asInstanceOf[RankState]
      val ns = if (s == null) RankState(1L, k, k, 1L)
      else if (keysEq(s.lastKey, k))
        RankState(s.n + 1, s.firstKey, k, s.lastRank)
      else RankState(s.n + 1, s.firstKey, k,
        if (dense) s.lastRank + 1 else s.n + 1)
      (ns, Math.toIntExact(ns.lastRank)) // loud past 2^31, never wraps
    }
    def merge(a0: AnyRef, b0: AnyRef): AnyRef = {
      val a = a0.asInstanceOf[RankState]; val b = b0.asInstanceOf[RankState]
      // sorted: b's keys all ≥ a.lastKey, so b.lastKey == a.lastKey ⟺
      // every row in b continues a's last tie run
      val rank =
        if (keysEq(b.lastKey, a.lastKey)) a.lastRank
        else if (dense)
          a.lastRank + b.lastRank - (if (keysEq(b.firstKey, a.lastKey)) 1 else 0)
        else a.n + b.lastRank
      RankState(a.n + b.n, a.firstKey, b.lastKey, rank)
    }
  }
  private final case class RankState(n: Long, firstKey: Array[Any],
                                     lastKey: Array[Any], lastRank: Long)
}
