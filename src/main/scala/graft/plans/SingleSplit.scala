package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Physical planning of the single-split marker
  * ([[graft.operators.FanOut.singleSplit]]): `coalesce(1)` over a file
  * read, planned as [[SingleSplitExec]] instead of Spark's `CoalesceExec`.
  *
  * Both give `SinglePartition` output from a narrow dependency, so
  * `EnsureRequirements` adds no exchange above either. They differ in
  * codegen: `CoalesceExec` does not support it, so it ends a
  * whole-stage-codegen stage, and an elementwise chain over a marked read
  * would compile two classes and hand rows between them through an
  * iterator. [[SingleSplitExec]] passes codegen through, and the chain
  * fuses with the scan into one stage, as it does over a read Spark
  * splits.
  *
  * Only a marker over a deterministic projection / filter of a file
  * relation (the shape column pruning and filter pushdown leave under
  * it) is planned this way. Fusing moves the work below the marker into
  * the one coalesced task, which is only the same computation when
  * nothing there reads its partition index (`monotonically_increasing_id`,
  * `spark_partition_id`, a seeded `rand`); any other `coalesce(1)` plans
  * as `CoalesceExec`, as before.
  *
  * Activation: [[install]] appends the strategy to the session's
  * `experimental.extraStrategies` — the [[ScanCSE.install]] convention —
  * and `FanOut.singleSplit` calls it whenever it marks a read, so every
  * session that holds a marked read plans it this way, including one not
  * built by `graft.GraftSession`. */
object SingleSplit extends SparkStrategy {

  /** idempotent per-session activation */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_ eq this))
      spark.experimental.extraStrategies = cur :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Repartition(1, false, child) if fileScan(child) =>
      SingleSplitExec(planLater(child)) :: Nil
    case _ => Nil
  }

  private def fileScan(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
    case Project(list, c)   => list.forall(_.deterministic) && fileScan(c)
    case Filter(cond, c)    => cond.deterministic && fileScan(c)
    case _                  => false
  }
}

/** `CoalesceExec(1, child)` that supports whole-stage codegen: the child's
  * input RDDs are coalesced to one partition (a no-op for the one-split
  * scan the marker is planned over) and rows pass through the generated
  * code unchanged. Like `CoalesceExec`, an input with no partitions (a
  * scan whose files were all pruned) becomes one empty partition, so a
  * global aggregate above it still emits its row. */
case class SingleSplitExec(child: SparkPlan) extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition

  private def one(rdd: RDD[InternalRow]): RDD[InternalRow] = rdd.getNumPartitions match {
    case 1 => rdd
    case 0 => new CoalesceExec.EmptyRDDWithPartitions(sparkContext, 1)
    case _ => rdd.coalesce(1)
  }

  override protected def doExecute(): RDD[InternalRow] = one(child.execute())

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs().map(one)

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)

  override protected def withNewChildInternal(newChild: SparkPlan): SingleSplitExec =
    copy(child = newChild)
}
