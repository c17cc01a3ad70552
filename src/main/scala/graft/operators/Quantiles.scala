package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed EXACT interpolated quantiles — order-statistic
  * selection instead of a value buffer.
  *
  * Spark's `percentile` aggregate (and DuckDB's `quantile_cont`)
  * interpolate between the floor/ceil order statistics of
  * h = p·(n−1). The aggregate gets there by accumulating EVERY
  * (value → count) into one final aggregation buffer — fine at
  * sf0.1, a single-executor memory wall at 100 TB. This operator
  * computes the same doubles with bounded memory everywhere:
  *
  *  1. COLLAPSE duplicate values map-side (`groupBy(value).count()` —
  *     Spark's partial aggregation) so every later step touches
  *     min(distinct, n) weighted triples — where duplication warrants
  *     it: always in the melted describe path, estimate-gated in the
  *     grouped path, never in the keyless single-column path (each
  *     entry point's scaladoc says why) — then range-partition —
  *     Spark's range exchange already orders partitions globally;
  *  2. one job sums weights per partition (P longs to the driver —
  *     never data);
  *  3. the driver maps each needed global order statistic to
  *     (partition, weighted offset) and broadcasts the want-list;
  *  4. a second job over the SAME shuffled RDD (exchange reused)
  *     sorts ONLY the partitions that host a target and walks their
  *     cumulative weights — ≤ 2·|probs| partitions do any work.
  *
  * NaN sorts greatest in the range exchange, `Arrays.sort`, and the
  * `percentile` aggregate alike, so parity holds on NaN-bearing
  * columns too; nulls are excluded like any SQL aggregate. Returns
  * null (boxed) per prob when no rows survive — the callers keep
  * their existing empty-input contracts.
  *
  * NOTE: both entry points run Spark jobs EAGERLY at call time (the
  * selection is a driver-coordinated two-job protocol, not a plan
  * node). Like `RDD.zipWithIndex`, a nondeterministic upstream
  * lineage (unseeded sample, unordered limit) must be cached first —
  * otherwise the cuts and any downstream bucketing pass can observe
  * different rows. */
object Quantiles {

  /** [[exactQuantilesCont]] + the cross-engine 6dp SQL-HALF-UP round
    * (the convention every quantile-cut operator replays in its DuckDB
    * oracle), embedded as literal Columns — callers clip/bucket against
    * these directly, with no 1-row crossJoin node in the plan. */
  def cutLits(df: DataFrame, c: String,
              probs: Seq[Double]): Seq[org.apache.spark.sql.Column] =
    exactQuantilesCont(df, c, probs).map { v =>
      if (v == null) lit(null).cast("double")
      else lit(BigDecimal(v.doubleValue())
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

  /** Canonicalize one group-key value for use as a driver-side map
    * key, mirroring SQL grouping (and [[GroupedScan]]'s `canon`):
    * -0.0 groups with 0.0 (Spark normalizes floats before grouping),
    * and BinaryType keys — `Array[Byte]`, whose JVM `equals`/
    * `hashCode` are reference-based and would silently make every row
    * its own cohort — are wrapped in a content-equality
    * `ArraySeq.ofByte`. Struct (Row) and array (Seq) keys
    * canonicalize RECURSIVELY — a nested -0.0 or byte array would
    * otherwise split one SQL cohort into driver-side shards — wrapped
    * in [[CanonWrap]], whose equality is the canonical content and
    * which remembers the raw value. [[decanonKey]] restores the raw
    * array/struct for callers rebuilding Rows. */
  private[graft] def canonKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d => ZeroD
    case f: java.lang.Float if f.floatValue() == 0.0f => ZeroF
    case b: Array[Byte] => new scala.collection.immutable.ArraySeq.ofByte(b)
    case r: org.apache.spark.sql.Row =>
      CanonWrap(Vector.tabulate(r.length)(i => canonKey(r.get(i))))(r)
    case s: scala.collection.Seq[_] =>
      CanonWrap(s.iterator.map(canonKey).toVector)(s)
    case x => x
  }
  private[graft] def decanonKey(v: Any): Any = v match {
    case b: scala.collection.immutable.ArraySeq.ofByte => b.unsafeArray
    case w: CanonWrap => w.raw
    case x => x
  }
  /** equality/hashCode on the canonicalized content (first parameter
    * list only — case-class equality ignores the second), raw value
    * carried for [[decanonKey]] */
  private[graft] final case class CanonWrap(canon: Vector[Any])(val raw: Any)
  private val ZeroD = java.lang.Double.valueOf(0.0d)
  private val ZeroF = java.lang.Float.valueOf(0.0f)

  /** canonicalized key tuple from the first `nKeys` fields — an
    * object-level method (NOT a local def) so executor closures call
    * it through the module's static instance instead of capturing the
    * non-serializable module itself */
  private def keyOf(r: org.apache.spark.sql.Row, nKeys: Int): Seq[Any] = {
    val a = new Array[Any](nKeys)
    var i = 0
    while (i < nKeys) { a(i) = canonKey(r.get(i)); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  /** Single-key [[exactGroupQuantilesContMulti]] — map keys are the
    * raw (de-canonicalized) group values. */
  def exactGroupQuantilesCont(df: DataFrame, g: String, c: String,
                              probs: Seq[Double], maxGroups: Int = 10000,
                              preCheckCardinality: Boolean = true)
      : Map[Any, Seq[java.lang.Double]] =
    exactGroupQuantilesContMulti(df, Seq(g), c, probs, maxGroups,
      preCheckCardinality)
      .map { case (ks, vs) => decanonKey(ks.head) -> vs }

  /** Per-GROUP exact interpolated quantiles by the same order-statistic
    * selection — for LOW-CARDINALITY cohorts (languages, sources),
    * where the per-group `percentile` aggregate still accumulates a
    * cohort-sized value buffer (cohort ≈ corpus/#groups — the same
    * wall, divided by a handful). Range-partitioning on (groups, value)
    * makes each group's values monotone across the partitions that
    * host it, so the driver locates every (group, order statistic) from
    * per-(partition, group) counts and only the hosting partitions
    * select. The driver state is O(partitions × groups) — guarded by
    * `maxGroups`; for HIGH-cardinality groups use the per-group
    * aggregate, whose buffers are small exactly then (the same duality
    * as window verbs vs GroupedScan). MEASURED (BENCHLOG r16): the
    * collected count maps are ~75 bytes per (partition, group) entry
    * and FLAT in data size — 2.5 KB for
    * 7 groups × 32 partitions at sf0.1 AND at 100× that data; 8.8 KB
    * at conf=512 (the sized pin used 150 partitions). Ceiling formula:
    * bytes ≈ 75 × partitions × min(groups, maxGroups) — the default
    * 10k-group guard at even 10k partitions is ~7.5 GB, which is why
    * the guard exists and the high-cardinality path is the per-group
    * aggregate. Rows with ANY null group key are
    * excluded (no cohort, pandas groupby semantics); returns
    * CANONICALIZED key tuple ([[canonKey]] per element — callers that
    * rebuild Rows apply [[decanonKey]]) → one double per prob.
    *
    * `preCheckCardinality` (default on) spends one cheap
    * `approx_count_distinct` pass over the narrow (group, value)
    * projection BEFORE the range exchange, so a pathologically
    * high-cardinality group column fails with the named error having
    * shipped only an HLL sketch to the driver — not O(groups) count
    * maps. The same scan estimates distinct (group, value) pairs and
    * gates the duplicate-collapse rewrite (see the body). Callers
    * whose group domain is known small by construction skip it (and
    * run on raw rows). The exact guard still runs after the count
    * pass either way. */
  def exactGroupQuantilesContMulti(df: DataFrame, gs: Seq[String],
                                   c: String, probs: Seq[Double],
                                   maxGroups: Int = 10000,
                                   preCheckCardinality: Boolean = true)
      : Map[Seq[Any], Seq[java.lang.Double]] = {
    require(gs.nonEmpty, "exactGroupQuantilesCont: at least one group key")
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"exactGroupQuantilesCont: probs in [0,1]: $probs")
    val nKeys = gs.length
    val gCols = gs.zipWithIndex.map { case (g, i) => df(g).as(s"__g$i") }
    val vals = df.select(gCols :+ df(c).cast("double").as("__v"): _*)
      .where(col("__v").isNotNull &&
        (0 until nKeys).map(i => col(s"__g$i").isNotNull).reduce(_ && _))
    // The pre-check pass doubles as the COLLAPSE decision: the same
    // one-scan agg that estimates the group cardinality also estimates
    // distinct (groups, value) pairs. When values duplicate heavily
    // (≤ ⅓ of rows distinct), duplicate rows collapse to weighted
    // triples via `groupBy().count()` BEFORE the range exchange —
    // map-side partial aggregation, the r15 describe() win — so the
    // exchange and both protocol jobs touch distinct pairs, not rows.
    // On distinct-heavy values collapse measurably LOSES (sf1
    // winsorize/perplexity: the extra hash exchange + agg CPU outweigh
    // a small collapse; BENCHLOG r15), so those stay on raw rows, as
    // does every call with the pre-check disabled (no free estimate).
    // Collapse normalizes the VALUE's -0.0 to 0.0 and merges NaNs —
    // numerically identical picks, matching `percentile`'s own
    // by-value grouping.
    var collapse = false
    if (preCheckCardinality) {
      // single-key groups hash the bare column (structs hash via a
      // per-row serialization — measurably slower); the collapse gate
      // hashes the bare VALUE: distinct(v) lower-bounds distinct
      // (g, v) pairs, so a high estimate vetoes collapse reliably, and
      // a low one implies pairs ≤ distinct(v)·groups — small under the
      // maxGroups contract this operator already requires
      val gKey = if (nKeys == 1) col("__g0")
      else struct((0 until nKeys).map(i => col(s"__g$i")): _*)
      val stats = vals.agg(
        approx_count_distinct(gKey).as("g"),
        count(lit(1)).as("n"),
        approx_count_distinct(col("__v")).as("v")).head()
      val est = stats.getLong(0)
      // rsd defaults to 5%; 1.5× headroom makes a false trip on a
      // genuinely ≤ maxGroups domain essentially impossible, and the
      // exact guard below still catches the (maxGroups, 1.5×] band
      require(est <= maxGroups * 1.5,
        s"exactGroupQuantilesCont: ~$est groups exceeds " +
          s"maxGroups=$maxGroups — use the per-group percentile " +
          "aggregate (its buffers are small exactly when groups are many)")
      collapse = stats.getLong(2) <= stats.getLong(1) / 3
    }
    val triples =
      if (collapse) vals
        .groupBy((0 until nKeys).map(i => col(s"__g$i")) :+ col("__v"): _*)
        .agg(count(lit(1)).as("__n"))
      else vals
    val ranged = triples.repartitionByRange(Gate.shufflePartitions(df),
      (0 until nKeys).map(i => col(s"__g$i").asc) :+ col("__v").asc: _*)
    val rdd = ranged.rdd
    // weight of one emitted row: its duplicate count when collapsed,
    // 1 on raw rows (a Serializable function, captured by both jobs)
    val weightAt: org.apache.spark.sql.Row => Long =
      if (collapse) { val wi = nKeys + 1; r => r.getLong(wi) }
      else _ => 1L
    val counts: Array[(Int, Map[Seq[Any], Long])] =
      rdd.mapPartitionsWithIndex { (p, it) =>
        val m = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
        while (it.hasNext) {
          val r = it.next()
          val k = keyOf(r, nKeys)
          m.update(k, m.getOrElse(k, 0L) + weightAt(r))
        }
        Iterator.single(p -> m.toMap)
      }.collect()
    val totals = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    counts.foreach { case (_, m) =>
      m.foreach { case (k, n) => totals.update(k, totals.getOrElse(k, 0L) + n) }
    }
    if (totals.isEmpty) return Map.empty
    require(totals.size <= maxGroups,
      s"exactGroupQuantilesCont: ${totals.size} groups exceeds " +
        s"maxGroups=$maxGroups — use the per-group percentile aggregate " +
        "(its buffers are small exactly when groups are many)")
    val targetsByGroup: Map[Seq[Any], Seq[Long]] = totals.iterator.map {
      case (k, n) => k -> targetsFor(n, probs)
    }.toMap
    val bc = df.sparkSession.sparkContext.broadcast(
      locateTargets[Seq[Any]](
        counts.sortBy(_._1).toIndexedSeq, targetsByGroup))
    // hosting partitions sort their distinct (value, weight) pairs per
    // wanted group and walk cumulative weights to the asked offsets
    val picked: Map[(Seq[Any], Long), Double] = rdd.mapPartitionsWithIndex {
      (p, it) =>
        bc.value.get(p) match {
          case None => Iterator.empty
          case Some(ws) =>
            val wanted = ws.map(_._1).toSet
            val buf = scala.collection.mutable.HashMap
              .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[(Double, Long)]]
            while (it.hasNext) {
              val r = it.next()
              val k = keyOf(r, nKeys)
              if (wanted.contains(k))
                buf.getOrElseUpdate(k,
                  new scala.collection.mutable.ArrayBuffer[(Double, Long)]) +=
                  ((r.getDouble(nKeys), weightAt(r)))
            }
            // TotalOrdering: NaN greatest, matching the range sort
            val sorted = buf.map { case (k, b) =>
              k -> b.sortBy(_._1)(Ordering.Double.TotalOrdering)
            }
            walkOffsets(ws, sorted)
        }
    }.collect().toMap
    targetsByGroup.map { case (k, _) =>
      val n = totals(k)
      k -> probs.map { p =>
        java.lang.Double.valueOf(interp(p * (n - 1),
          g => picked((k, g))))
      }
    }.toMap
  }

  /** `describe()`'s melted fast path: exact interpolated quantiles for
    * k numeric columns in one selection protocol. Two design points fix
    * the round-14 pessimization (k·n string-keyed melted rows through a
    * global range sort cost more than the k per-column exchanges they
    * replaced):
    *
    *  - the melt key is DICTIONARY-ENCODED to the column ORDINAL (int),
    *    decoded to names by the caller;
    *  - the melted rows are COLLAPSED to distinct (ordinal, value) →
    *    count triples BEFORE the range exchange — `groupBy().count()`
    *    gives Spark's map-side partial aggregation for free, so the
    *    range exchange and both driver-protocol jobs touch
    *    min(distinct, n) weighted triples, not n raw rows. Real numeric
    *    columns duplicate heavily (quantities, prices, discounts,
    *    scores: lineitem melts 12 M rows to 61 triples); the
    *    fully-distinct worst case shuffles ~2× the raw-melt bytes
    *    (hash + range exchanges) but reads collapsed data in both
    *    protocol jobs — an acceptable ceiling for a path whose common
    *    case collapses by orders of magnitude.
    *
    * The selection then runs on WEIGHTED order statistics: per-partition
    * per-ordinal weight sums locate each (column, global order
    * statistic) on the driver exactly as the unweighted protocol does —
    * values stay monotone per ordinal across partitions under the
    * (ordinal, value) range sort — and hosting partitions walk their
    * sorted distinct values' cumulative weights. Both jobs read
    * `queryExecution.toRdd` InternalRows with ordinal-indexed primitive
    * state: no Row conversion, no boxed keys. The range exchange pins
    * its partition count (bypassing AQE coalescing — the 64 MB-target
    * coalesce serializes the two protocol reads onto a handful of
    * tasks).
    *
    * Same doubles as [[exactQuantilesCont]] per column — same value
    * multiset, same order, same weighted interpolation — with one
    * sign-bit caveat: SQL grouping normalizes -0.0 to 0.0, so a
    * quantile landing exactly on a -0.0 input surfaces as +0.0
    * (numerically equal; `percentile` itself groups by value the same
    * way). NaN groups as one key and sorts greatest, as everywhere.
    * Returns one Seq per input column, positionally; all-null columns
    * yield nulls. Eager — see the object scaladoc's
    * upstream-nondeterminism caveat. */
  def exactOrdinalQuantilesCont(df: DataFrame, cols: Seq[String],
                                probs: Seq[Double])
      : Seq[Seq[java.lang.Double]] = {
    require(cols.nonEmpty, "exactOrdinalQuantilesCont: at least one column")
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"exactOrdinalQuantilesCont: probs in [0,1]: $probs")
    val k = cols.length
    val pairs = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("__g"), df(c).cast("double").as("__v")) }
    val ranged = df.select(explode(array(pairs: _*)).as("__kv"))
      .select(col("__kv.__g").as("__g"), col("__kv.__v").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__n"))
      .repartitionByRange(Gate.shufflePartitions(df),
        col("__g").asc, col("__v").asc)
    val rdd = ranged.queryExecution.toRdd // ONE exchange feeds both jobs
    // job 1: per (partition, ordinal) weight sums — P·k longs, never data
    val counts: Array[(Int, Array[Long])] =
      rdd.mapPartitionsWithIndex { (p, it) =>
        val a = new Array[Long](k)
        while (it.hasNext) { val r = it.next(); a(r.getInt(0)) += r.getLong(2) }
        Iterator.single(p -> a)
      }.collect()
    val byPid = counts.sortBy(_._1)
    val totals = new Array[Long](k)
    byPid.foreach { case (_, a) =>
      var i = 0; while (i < k) { totals(i) += a(i); i += 1 } }
    val targetsByCode: Map[Int, Seq[Long]] =
      (0 until k).filter(totals(_) > 0L)
        .map(code => code -> targetsFor(totals(code), probs)).toMap
    val bc = df.sparkSession.sparkContext.broadcast(
      locateTargets[Int](
        byPid.toIndexedSeq.map { case (pid, a) =>
          pid -> a.indices.map(i => i -> a(i)).toMap },
        targetsByCode))
    // job 2: hosting partitions sort their (value, weight) triples per
    // wanted ordinal and walk cumulative weights to the asked offsets
    val picked: Map[(Int, Long), Double] = rdd.mapPartitionsWithIndex {
      (p, it) =>
        bc.value.get(p) match {
          case None => Iterator.empty
          case Some(ws) =>
            val wanted = new Array[Boolean](k)
            ws.foreach(w => wanted(w._1) = true)
            val bufs = new Array[scala.collection.mutable.ArrayBuffer[(Double, Long)]](k)
            while (it.hasNext) {
              val r = it.next()
              val c = r.getInt(0)
              if (wanted(c)) {
                if (bufs(c) == null)
                  bufs(c) = new scala.collection.mutable.ArrayBuffer[(Double, Long)]
                bufs(c) += ((r.getDouble(1), r.getLong(2)))
              }
            }
            // TotalOrdering: NaN greatest, matching the range sort
            val sorted = bufs.map(b => if (b == null) null else
              b.sortBy(_._1)(Ordering.Double.TotalOrdering))
            walkOffsets[Int](ws, sorted(_))
        }
    }.collect().toMap
    (0 until k).map { code =>
      if (totals(code) == 0L) probs.map(_ => null: java.lang.Double)
      else probs.map(p => java.lang.Double.valueOf(
        interp(p * (totals(code) - 1), g => picked((code, g)))))
    }
  }

  /** the global 0-based order statistics `interp` will ask for:
    * floor/ceil of p·(n−1) per prob, deduped, ascending */
  private def targetsFor(n: Long, probs: Seq[Double]): Seq[Long] =
    probs.flatMap { p =>
      val h = p * (n - 1)
      Seq(math.floor(h).toLong, math.ceil(h).toLong)
    }.distinct.sorted

  /** driver-side locate: map each (key, global order statistic) to
    * (partition, weighted offset into that partition's run of the key)
    * via pid-ascending cumulative weights — values are monotone per
    * key across partitions under the (key, value) range sort */
  private def locateTargets[K](
      byPid: Seq[(Int, scala.collection.Map[K, Long])],
      targetsByKey: scala.collection.Map[K, Seq[Long]])
      : Map[Int, List[(K, Long, Long)]] = {
    val wantByPid = scala.collection.mutable
      .HashMap.empty[Int, scala.collection.mutable.ListBuffer[(K, Long, Long)]]
    targetsByKey.foreach { case (k, ts) =>
      var cum = 0L
      var ti = 0
      byPid.foreach { case (pid, m) =>
        val cnt = m.getOrElse(k, 0L)
        while (ti < ts.length && cnt > 0 && ts(ti) < cum + cnt) {
          wantByPid.getOrElseUpdate(pid,
            scala.collection.mutable.ListBuffer.empty) +=
            ((k, ts(ti), ts(ti) - cum))
          ti += 1
        }
        cum += cnt
      }
    }
    wantByPid.map { case (p, l) => p -> l.toList }.toMap
  }

  /** hosting-partition endgame (runs on executors): walk each wanted
    * key's value-sorted (value, weight) run cumulatively to the asked
    * offsets. `sorted` must order by value with NaN greatest
    * (TotalOrdering), matching the range sort. */
  private def walkOffsets[K](ws: List[(K, Long, Long)],
                             sorted: K => scala.collection.Seq[(Double, Long)])
      : Iterator[((K, Long), Double)] =
    ws.groupBy(_._1).iterator.flatMap { case (k, kws) =>
      val vals = sorted(k)
      val offs = kws.sortBy(_._3)
      var cum = 0L
      var vi = 0
      offs.iterator.map { case (_, gIdx, off) =>
        while (cum + vals(vi)._2 <= off) { cum += vals(vi)._2; vi += 1 }
        (k, gIdx) -> vals(vi)._1
      }
    }

  /** Spark `percentile`'s exact interpolation form — the WEIGHTED
    * average (ceil−h)·lo + (h−floor)·hi, NOT lo + frac·(hi−lo): the two
    * differ in final ulps and the parity pin is bitwise. */
  private def interp(h: Double, at: Long => Double): Double = {
    val lo = math.floor(h).toLong
    val hi = math.ceil(h).toLong
    if (lo == hi) at(lo)
    else (hi - h) * at(lo) + (h - lo) * at(hi)
  }

  /** Single-column exact interpolated quantiles over RAW rows — no
    * duplicate collapse: this keyless entry has no pre-existing scan to
    * piggyback a distinctness estimate on, and an unconditional
    * `groupBy(value).count()` measurably regresses distinct-heavy
    * columns (sf1 winsorize/qcut on l_extendedprice: +0.4-0.6 s — the
    * extra hash exchange + aggregation CPU outweigh the 10× row
    * collapse; see BENCHLOG r15). Callers that KNOW their value domain
    * is small can melt through [[exactOrdinalQuantilesCont]] (describe
    * does). The protocol itself matches the object scaladoc minus the
    * collapse, with the r15 constant-factor fixes: both jobs read
    * `queryExecution.toRdd` InternalRows (no Row boxing) and the range
    * exchange pins its partition count against AQE coalescing. */
  def exactQuantilesCont(df: DataFrame, c: String,
                         probs: Seq[Double]): Seq[java.lang.Double] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"exactQuantilesCont: probs in [0,1]: $probs")
    val ranged = df.select(col(c).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .repartitionByRange(Gate.shufflePartitions(df), col("__v").asc)
    val rdd = ranged.queryExecution.toRdd // ONE exchange feeds both jobs
    val counts = rdd.mapPartitionsWithIndex { (p, it) =>
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(p -> n)
    }.collect().toMap
    val n = counts.valuesIterator.sum
    if (n == 0) return probs.map(_ => null: java.lang.Double)
    // global 0-based order statistics needed: floor/ceil of p·(n−1)
    val targets: Seq[Long] = probs.flatMap { p =>
      val h = p * (n - 1)
      Seq(math.floor(h).toLong, math.ceil(h).toLong)
    }.distinct.sorted
    // prefix-sum the partition counts to locate each target
    val numParts = rdd.getNumPartitions
    val starts = new Array[Long](numParts)
    var acc = 0L
    (0 until numParts).foreach { p =>
      starts(p) = acc; acc += counts.getOrElse(p, 0L)
    }
    val wants: Map[Int, Seq[(Long, Int)]] = targets.map { g =>
      // last partition whose start ≤ g (counts can be zero — skip back)
      var p = java.util.Arrays.binarySearch(starts, g) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      while (counts.getOrElse(p, 0L) == 0L || g >= starts(p) + counts(p)) p += 1
      g -> (p, (g - starts(p)).toInt)
    }.groupBy(_._2._1).map { case (p, xs) =>
      p -> xs.map { case (g, (_, li)) => (g, li) }
    }
    val bc = df.sparkSession.sparkContext.broadcast(wants)
    val picked: Map[Long, Double] = rdd.mapPartitionsWithIndex { (p, it) =>
      bc.value.get(p) match {
        case None => Iterator.empty
        case Some(ws) =>
          val b = new scala.collection.mutable.ArrayBuilder.ofDouble
          while (it.hasNext) b += it.next().getDouble(0)
          val arr = b.result()
          java.util.Arrays.sort(arr) // NaN last, like the range sort
          ws.iterator.map { case (g, li) => g -> arr(li) }
      }
    }.collect().toMap
    probs.map(p => java.lang.Double.valueOf(
      interp(p * (n - 1), g => picked(g))))
  }
}
