package graft.operators

import graft.api.{Df, FooterSchema}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout operators — clustering a table so downstream scans prune.
  *
  * Beyond the reference's surface (it controls partition COUNT via
  * `repartition`/`npartitions`, `/root/reference/pandas_expr/_collection
  * .py`, but has no multi-dimensional layout story): at 100 TB the
  * dominant cost of a filtered scan is row groups that cannot be skipped.
  * Sorting by a Z-order (Morton) key interleaves the bits of several
  * columns so ALL of them become partially sort-clustered — parquet
  * min/max row-group stats then prune selective filters on ANY of the
  * interleaved dimensions, not just the leading sort column.
  *
  * Scale design: bucket bounds come from ONE min/max aggregation
  * (driver result is 2·n doubles — bounded, never data-sized), the
  * Z-value is pure codegen'd arithmetic, and the layout itself is
  * `repartitionByRange` (sampled range exchange — the same machinery as
  * any global sort, one shuffle) + an in-partition sort. Nothing else
  * touches the driver.
  */
object Layout {

  /** Interleave pre-bucketed coordinates into a Morton key: bit j of
    * bucket i lands at position `j * n + i`. Buckets MUST already be in
    * `[0, 2^bits)` — [[withZValue]] produces them; arbitrary inputs
    * would silently overlap bit lanes. n·bits ≤ 63 keeps the key in one
    * signed long. */
  def zvalue(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty, "zvalue: need at least one column")
    require(bits >= 1 && buckets.size * bits <= 63,
      s"zvalue: need 1 <= bits and cols*bits <= 63, got ${buckets.size} cols x $bits bits")
    val n = buckets.size
    val terms = for {
      j <- 0 until bits
      (b, i) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b.cast("long"), j).bitwiseAND(lit(1L)),
      j * n + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Uniform quantization of a numeric column into `[0, 2^bits)` given
    * data min/max: `floor((v - min) / (max - min) * 2^bits)` clamped at
    * the top (v = max lands in the last bucket), 0 for a constant
    * column. Uniform (not quantile) binning is deliberate: it is exactly
    * replayable by any engine from (min, max) alone — skewed columns
    * trade some bucket balance for that determinism, the knob being
    * `bits`. NULL stays NULL — guarded EXPLICITLY on both branches,
    * because Spark's `greatest`/`least` SKIP null arguments rather than
    * propagate them: unguarded, a NULL value would silently land in
    * bucket 0 and mix into the min-value cluster. A row with any NULL
    * coordinate therefore gets a NULL Morton key and range-partitions
    * into its own leading cluster. */
  private def bucketize(v: Column, mn: Double, mx: Double, bits: Int): Column =
    if (mx == mn) when(v.isNull, lit(null)).otherwise(lit(0L))
    else when(v.isNull, lit(null)).otherwise(least(greatest(
      floor((v.cast("double") - lit(mn)) / (lit(mx) - lit(mn))
        * lit((1L << bits).toDouble)).cast("long"),
      lit(0L)), lit((1L << bits) - 1L)))

  /** Append the Morton key of `cols` as `outCol`. One bounded min/max
    * action sizes the buckets; the key itself is codegen'd arithmetic. */
  def withZValue(df: Df, cols: Seq[String], bits: Int = 8,
                 outCol: String = "zval"): Df = {
    require(cols.nonEmpty, "withZValue: need at least one column")
    require(bits >= 1 && cols.size * bits <= 63,
      s"withZValue: need 1 <= bits and cols*bits <= 63, got ${cols.size} cols x $bits bits")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val row = df.sdf.agg(aggs.head, aggs.tail: _*).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      // all-NULL column: a constant-0 LANE (not NULL-per-row, which
      // would NULL the whole key and erase the other dimensions'
      // clustering) — the column genuinely contributes nothing
      if (row.isNullAt(2 * i)) lit(0L)
      else {
        val (mn, mx) = (row.getDouble(2 * i), row.getDouble(2 * i + 1))
        // one NaN would otherwise poison the division for EVERY row
        // (max() sorts NaN greatest) and silently zero the lane —
        // fail at call time with the column named instead
        require(!mn.isNaN && !mx.isNaN,
          s"withZValue: column '$c' contains NaN — filter or clean it first")
        bucketize(col(c), mn, mx, bits)
      }
    }
    new Df(df.sdf.withColumn(outCol, zvalue(buckets, bits)))
  }

  /** Append the 2-D HILBERT curve key of `cols` as `outCol` — the
    * locality upgrade over [[withZValue]]: consecutive Hilbert cells
    * are always grid-NEIGHBORS (Morton order jumps across the map at
    * every power-of-two boundary), so range-clustered row groups cover
    * tighter rectangles and prune better on box filters. The modern
    * lakehouse clustering default for two hot filter dimensions.
    *
    * Buckets come from the same one-pass min/max + uniform
    * quantization as Z-order; the xy→d walk (the standard iterative
    * rotate/reflect loop) is unrolled into `bits` chained projections
    * of plain integer arithmetic — codegen'd, no UDF, and
    * deliberately NOT one giant nested expression (each step's (x, y)
    * feeds the next twice; inlining would grow the tree 3^bits).
    * A row with a NULL coordinate gets a NULL key, matching
    * [[withZValue]] (all-NULL columns degrade to a constant lane).
    * 2·bits ≤ 62 keeps d in a signed long. */
  def withHilbertValue(df: Df, cols: Seq[String], bits: Int = 8,
                       outCol: String = "hval"): Df = {
    require(cols.size == 2,
      s"withHilbertValue: exactly 2 columns (2-D curve): $cols")
    require(bits >= 1 && bits <= 16,
      s"withHilbertValue: need 1 <= bits <= 16: $bits")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val row = df.sdf.agg(aggs.head, aggs.tail: _*).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i)) lit(0L)
      else {
        val (mn, mx) = (row.getDouble(2 * i), row.getDouble(2 * i + 1))
        require(!mn.isNaN && !mx.isNaN,
          s"withHilbertValue: column '$c' contains NaN — clean it first")
        bucketize(col(c), mn, mx, bits)
      }
    }
    var cur = df.sdf.withColumn("__hx", buckets(0))
      .withColumn("__hy", buckets(1))
      .withColumn("__hd", lit(0L))
    for (k <- (bits - 1) to 0 by -1) {
      val s = 1L << k
      val rx = shiftright(col("__hx"), k).bitwiseAND(lit(1L))
      val ry = shiftright(col("__hy"), k).bitwiseAND(lit(1L))
      cur = cur
        .withColumn("__rx", rx).withColumn("__ry", ry)
        .withColumn("__hd", col("__hd") +
          lit(s * s) * (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(s - 1) - col("__hy"))
            .otherwise(col("__hy"))).otherwise(col("__hx")))
        .withColumn("__ny", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(s - 1) - col("__hx"))
            .otherwise(col("__hx"))).otherwise(col("__hy")))
        .withColumn("__hx", col("__nx")).withColumn("__hy", col("__ny"))
        .drop("__rx", "__ry", "__nx", "__ny")
    }
    val nullGuards = cols.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(2 * i) => col(c).isNull
    }
    val hval = if (nullGuards.isEmpty) col("__hd")
      else when(nullGuards.reduce(_ || _), lit(null)).otherwise(col("__hd"))
    new Df(cur.withColumn(outCol, hval).drop("__hx", "__hy", "__hd"))
  }

  /** Cluster `df` for multi-dimensional scan pruning: compute the
    * Morton key, range-repartition on it (sampled range exchange — one
    * shuffle), sort within partitions, and keep the key column so a
    * writer can verify the layout. `numPartitions = 0` leaves the
    * partition count to `spark.sql.shuffle.partitions`/AQE. */
  def zorderBy(df: Df, cols: Seq[String], bits: Int = 8,
               numPartitions: Int = 0): Df = {
    val keyed = withZValue(df, cols, bits).sdf
    val ranged =
      if (numPartitions > 0) keyed.repartitionByRange(numPartitions, col("zval"))
      else keyed.repartitionByRange(col("zval"))
    new Df(ranged.sortWithinPartitions("zval"))
  }

  /** Compact a small-files parquet dataset into a bounded number of
    * bounded-size files — the maintenance pass every streaming or
    * per-trigger ingest needs: a micro-batch sink writing every few
    * seconds accretes millions of tiny files, and at 100 TB the
    * re-read then pays a task per file (scheduler + open/footer
    * overhead dwarfing the IO) while the namenode/listing chokes on
    * the metadata. One round-robin repartition to
    * ceil(rows / targetRecordsPerFile) tasks rebuilds the directory as
    * evenly-sized files; `maxRecordsPerFile` is the belt-and-braces
    * cap so a future append through the same writer can't regress a
    * file past the target. The count() sizing pass reads only parquet
    * footers (count-star pushdown — no row materialization).
    *
    * Returns the re-read compacted dataset; rows are bit-identical to
    * the source (layout changes, data does not). */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
                     srcDir: String, dstDir: String,
                     targetRecordsPerFile: Long): Df = {
    require(targetRecordsPerFile >= 1,
      s"compactParquet: targetRecordsPerFile must be >= 1: $targetRecordsPerFile")
    val src = FooterSchema.read(spark, srcDir)
    val n = src.count()
    val files = math.max(1L,
      (n + targetRecordsPerFile - 1) / targetRecordsPerFile)
    // ceil(n/target) beyond Int range would silently wrap through toInt
    // into a garbage repartition count — name the fix instead
    require(files <= Int.MaxValue,
      s"compactParquet: $n rows / $targetRecordsPerFile per file needs " +
        s"$files output files (> Int.MaxValue) — raise targetRecordsPerFile")
    src.repartition(files.toInt).write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(dstDir)
    new Df(FooterSchema.read(spark, dstDir))
  }
}
