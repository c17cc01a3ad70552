package graft.operators

import graft.plans.SingleSplit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan-side parallelism guard for CPU-heavy per-row expansions
  * (tokenize → shingle/n-gram/score pipelines).
  *
  * A small parquet file is ONE scan partition (parquet splits at
  * row-group granularity), so everything up to the first shuffle —
  * including the map-side partial aggregation — runs on a single core
  * no matter how many executors the cluster has. For the text
  * operators, whose per-row work (n-gram assembly, hashing, regex) is
  * 10-100× the row-decode cost, that serial scan IS the wall time.
  *
  * [[FanOut.apply]] redistributes the input across the session's
  * default parallelism ONLY when a purely-narrow file scan is
  * materially narrower than the session. The partition count comes
  * from the analyzed logical plan (file-index bytes run through
  * Spark's own split-packing formula) — never from `df.rdd`, which
  * under AQE materializes every upstream query stage eagerly just to
  * ask its partition count (the stages would then run AGAIN in the
  * real query), and which throws outright on streaming frames. Plans
  * that already contain a wide operator (aggregate/join/sort/window/
  * repartition) are left alone: their own exchange already
  * redistributes, so a fan-out there would only stack a second
  * shuffle. On a 100 TB table (thousands of row groups → thousands of
  * scan partitions) the guard is a planning-time no-op, so it never
  * adds a shuffle where the scan already parallelizes. Round-robin
  * repartition keeps row multiplicity exactly (no key skew, no data
  * dependence), so it is semantics-free for every downstream operator.
  *
  * The same estimate marks single-split reads ([[singleSplit]]): a file
  * read that the packing puts into exactly one partition is wrapped in
  * `coalesce(1)`, so the planner sees `SinglePartition` and adds no
  * exchange above it. [[narrowScanPartitions]] counts that marker as
  * the one narrow partition it is, so a fan-out site over a marked read
  * still fans out.
  */
private[graft] object FanOut {
  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    narrowScanPartitions(df) match {
      case Some(parts) if parts * 2 < p => df.repartition(p)
      case _                            => df
    }
  }

  /** A batch file read that Spark's split packing scans in exactly one
    * partition, marked as such: `coalesce(1)`, a narrow
    * `Repartition(1, shuffle = false)` with `SinglePartition` output.
    * `EnsureRequirements` then adds no exchange for an aggregate, window,
    * global sort or join between such reads, and the query runs as one
    * stage — the reference's one-partition execution, taken only where
    * the scan was one task anyway. The marker plans as
    * [[graft.plans.SingleSplitExec]] (the strategy is installed here on
    * the session), which whole-stage codegen runs through. The scan's
    * parallelism does not change; the post-shuffle parallelism above it
    * is given up (measured on 4 cores only: USAGE.md "Single-split
    * reads"). The decision reads the file listing
    * only ([[narrowScanPartitions]]): no job, and no reader is built. Any
    * other frame (a read Spark splits, a streaming read, a plan above the
    * relation) comes back as is; `repartition(n)` on the result restores
    * parallelism. */
  private[graft] def singleSplit(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
          narrowScanPartitions(df).contains(1L) =>
        SingleSplit.install(df.sparkSession)
        df.coalesce(1)
      case _ => df
    }

  /** Planning-time estimate of the scan parallelism of a purely-narrow
    * plan: projections / filters / generators over file or local
    * relations only, and the [[singleSplit]] marker over a file
    * relation. `None` ⇒ the plan shuffles on its own, or holds a
    * leaf we can't size without running a job — either way FanOut must
    * be a no-op. */
  private[graft] def narrowScanPartitions(df: DataFrame): Option[Long] = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    var parts = 0L
    var sizable = true
    df.queryExecution.analyzed.foreach {
      case l: LogicalRelation =>
        l.relation match {
          case fs: HadoopFsRelation =>
            val n = filePartitionCount(fs, conf.filesMaxPartitionBytes,
              conf.filesOpenCostInBytes,
              conf.filesMinPartitionNum
                .getOrElse(spark.sparkContext.defaultParallelism))
            if (n < 0) sizable = false else parts += n
          case _ => sizable = false
        }
      case _: LocalRelation | _: OneRowRelation => parts += 1L
      // Union concatenates its children's partitions — narrow; its
      // leaf contributions are summed by this same walk
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
           _: Union => ()
      // the single-split marker: its relation, counted by this same
      // walk, packs into the one partition the coalesce keeps
      case Repartition(1, false, _: LogicalRelation) => ()
      case _ => sizable = false // wide node or unknown leaf
    }
    if (sizable) Some(math.max(parts, 1L)) else None
  }

  /** Spark's `FilePartition.maxSplitBytes` packing formula: splits are
    * capped at `min(maxPartitionBytes, max(openCost, bytesPerCore))`,
    * so a mid-sized file still fans across the session while a tiny
    * one stays in one partition — mirroring what the scan will
    * actually plan. */
  private def filePartitionCount(fs: HadoopFsRelation, maxPartBytes: Long,
                                 openCost: Long, minPartNum: Int): Long = {
    val bytes = fs.location.sizeInBytes
    val nFiles = fs.location.inputFiles.length.toLong
    // overflow guard: a stats-less file index reports sizeInBytes =
    // Long.MaxValue (defaultSizeInBytes fallback) and `bytes + n*open`
    // would wrap negative → parts=1 → an unnecessary full repartition.
    // Treat anything un-addable as un-sizable (-1 bubbles to None).
    if (bytes < 0 || nFiles < 0 || openCost < 0 ||
        bytes > Long.MaxValue / 2 ||
        (nFiles > 0 && openCost > (Long.MaxValue - bytes) / nFiles))
      return -1L
    val total = bytes + nFiles * openCost
    val bytesPerCore = total / math.max(1, minPartNum)
    val maxSplit = math.min(maxPartBytes, math.max(openCost, bytesPerCore))
    // the packer charges open cost BETWEEN splits (a lone file is always
    // one partition however small), so the numerator carries n-1 opens
    val packed = bytes + math.max(0L, nFiles - 1L) * openCost
    math.max(1L, (packed + maxSplit - 1) / math.max(1L, maxSplit))
  }
}
