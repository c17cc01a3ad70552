package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of the scale-gate policy: every operator that picks a
  * physical path by input or state size reads the size and its knob
  * here (the reference makes these choices in one optimizer phase,
  * `optimize()` = fixpoint of `simplify()` + `lower_once()`).
  *
  * Scale-gate contract (USAGE.md "Scale gates" tables every gate):
  *  - MEASURED or ESTIMATED: a gate compares either a count of state
  *    the operator has already materialized ([[measured]]) or the
  *    optimizer's size estimate of its input ([[estimatedBytes]]),
  *    never a mix.
  *  - UNKNOWN IS SAFE: an estimate Spark cannot give (`None`) takes the
  *    path that is correct and bounded at any size — no broadcast, no
  *    corpus-sized cache, no small-input shortcut.
  *  - ONE KNOB per gate: an operator argument or a session conf key read
  *    with [[knob]]. For a measured gate `0` disables the small-state
  *    path outright and runs no counting job.
  *  - SAME ROWS on both sides: a gate moves where the work runs, never
  *    what it computes.
  */
private[graft] object Gate {
  /** The optimizer's size estimate of `df`, or `None` when Spark has no
    * statistics (an RDD-backed or otherwise stats-less plan reports the
    * `Long.MaxValue` default) or the estimate throws. */
  def estimatedBytes(df: DataFrame): Option[BigInt] =
    try Some(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .filter(_ < BigInt(Long.MaxValue) / 2)
    catch { case scala.util.control.NonFatal(_) => None }

  /** The small-state side of a measured gate: `size <= max`. At `max = 0`
    * the gate is off and `size` is never evaluated, so no job runs. */
  def measured(max: Long)(size: => Long): Boolean = max > 0 && size <= max

  /** A numeric graft knob from the session conf: `default` when unset,
    * else the value as a non-negative long. A value that is not one is
    * an error that names the key and the value. */
  def knob(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default) { s =>
      s.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a non-negative long, got '$s'"))
    }

  /** The pinned shuffle-partition count of a two-job protocol over `df`
    * (range-partitioned scans, exact quantiles, `withRowIndexScalable`).
    * Both jobs must see the identical partitioning, so AQE must not
    * re-plan the exchange between them; but a full-parallelism pin taxes
    * small inputs (at sf0.1 it doubled rank fusion: three exchanges × two
    * jobs × 32 near-empty tasks). So the count is sized to the estimate,
    * `min(conf, max(2, ceil(bytes / 128 KiB)))`. The estimate is
    * compressed-file-derived and the protocol's post-exchange work (sort
    * + kernel replay) is CPU-bound, so the per-task target sits far
    * below AQE's 64 MB: 128 KiB keeps a ~4 MiB input (sf0.1 lineitem
    * projections; a 512 KiB target cost grouped-rolling +64 %) at full
    * parallelism while kilobyte inputs stop paying a task per core. At
    * cluster scale the estimate exceeds the conf and this is the plain
    * full-parallelism pin. An unknown or zero estimate takes the conf.
    * Write-layout exchanges (zorderBy) stay unpinned: there the size
    * targeting is the point. */
  def shufflePartitions(df: DataFrame): Int = {
    val conf = df.sparkSession.conf
      .getOption("spark.sql.shuffle.partitions").flatMap(_.toIntOption)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    estimatedBytes(df).filter(_ > 0).fold(conf) { est =>
      val target = BigInt(128L * 1024)
      val needed = (est + target - 1) / target
      // the floor of 2 avoids 1-task protocols on tiny inputs, but an
      // explicit conf below it wins (shuffle.partitions=1 asks for
      // serial execution)
      needed.min(BigInt(conf)).max(BigInt(math.min(2, conf))).toInt
    }
  }
}
