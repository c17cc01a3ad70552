package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Logical scan-CSE — the one reference optimizer behavior Spark lacks
  * (`combine_similar`, `/root/reference/pandas_expr/_expr.py:304-381`;
  * `ReadParquet._combine_similar`,
  * `/root/reference/pandas_expr/io/parquet.py:123-160`): two
  * INDEPENDENTLY built reads of the same file set — same path, format,
  * and schema, differing only in required columns — merge into ONE
  * scan of the union of their columns.
  *
  * Spark's logical plan is a tree with no multicast node, so "one
  * scan" cannot be expressed by sharing a subtree alone: every
  * duplicated relation is rewritten to an alias-projection over one
  * SHARED `Repartition(union-columns scan)` instance, and the physical
  * planner's `ReuseExchanges` (or AQE stage reuse) collapses the
  * identical exchanges — the second consumer becomes a
  * `ReusedExchange` and exactly one file scan runs.
  *
  * OPT-IN (`spark.graft.scanCSE.enabled`, default false) because the
  * merge is a genuine trade, not a free win: it buys N−1 scans at the
  * price of ONE shuffle materialization of the union width. At 100 TB
  * that wins when the input is expensive to produce per-pass (remote
  * cold storage, CSV/JSON parse, decode-heavy formats) and loses for
  * hot columnar data, where two column-pruned parquet scans stream
  * cheaper than a shuffle write+read (DIVERGENCES.md #15 — which is
  * why Spark itself never does this). Filtered scans never merge:
  * occurrences differing in pushed predicates are semantically
  * different reads, the same scope `combine_similar` keeps
  * (`io/parquet.py:141-152` merges column sets only).
  *
  * Activation: [[ScanCSE.install]] appends the rule to the session's
  * `experimental.extraOptimizations` — the "User Provided Optimizers"
  * batch is the LAST logical batch, which matters: any earlier slot
  * (`injectOptimizerRule`, `injectPreCBORule`) runs before the
  * `RewriteSubquery` batch, whose `ColumnPruning` pass would narrow
  * each consumer's shared exchange back to its own columns and split
  * the subtrees apart again (leaving the worst of both: two scans AND
  * two shuffles).
  */
object ScanCSE extends Rule[LogicalPlan] {
  val ConfKey = "spark.graft.scanCSE.enabled"

  /** idempotent per-session activation (the
    * [[GraftFunctions.register]] convention); the rule still no-ops
    * until [[ConfKey]] is set true, so installing is always safe. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq this))
      spark.experimental.extraOptimizations = cur :+ this
  }

  /** same file set + format + file schema + READER OPTIONS ⇒ the same
    * read, modulo required columns. Options are part of the identity:
    * two CSV reads of one path with different `header`/`delimiter`
    * parse different DATA — merging them would silently hand one
    * consumer the other's rows, not just a worse plan. */
  private def relKey(r: LogicalRelation): Option[(String, String, String, String)] =
    r.relation match {
      case fs: HadoopFsRelation =>
        Some((fs.location.rootPaths.mkString(","),
          fs.fileFormat.getClass.getName, fs.dataSchema.catalogString,
          fs.options.toSeq.sorted.mkString(",")))
      case _ => None
    }

  /** a file relation, bare or under the single-split marker
    * ([[graft.operators.FanOut.singleSplit]]): the marker is one
    * partition of the same read, so it merges like the bare relation
    * and the shared exchange replaces it along with the relation */
  private object FileRead {
    def unapply(p: LogicalPlan): Option[LogicalRelation] = p match {
      case r: LogicalRelation if relKey(r).isDefined => Some(r)
      case Repartition(1, false, r: LogicalRelation) if relKey(r).isDefined => Some(r)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "false").toBoolean) return plan
    // candidate occurrences, in traversal order: a pruning/aliasing
    // Project directly over a file read, or a bare file read consumed
    // whole by a Join/Union (a read is a relation or its marker).
    // Anything else above the relation (Filter, Sample, limits, …)
    // makes the read semantically different or narrower — out of
    // scope, like the reference.
    val projected = scala.collection.mutable.ArrayBuffer
      .empty[(Project, LogicalRelation)]
    plan.foreach {
      case p @ Project(list, FileRead(r))
          if list.forall(ne =>
            ne.isInstanceOf[AttributeReference] || ne.isInstanceOf[Alias]) =>
        projected += ((p, r))
      case _ =>
    }
    // bare relations merge ONLY under parents that consume the full
    // relation as-is (Join/Union): a relation under a Filter (or
    // Sample, limit, …) is a semantically narrower read — merging it
    // would trade its pushed-down pruned scan for a full-width shared
    // scan + shuffle, the exact anti-pattern the scaladoc excludes
    val bare = scala.collection.mutable.ArrayBuffer
      .empty[(LogicalPlan, LogicalRelation)]
    plan.foreach { node =>
      val allowed = node.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join] ||
        node.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]
      if (allowed) node.children.foreach {
        case read @ FileRead(r) => bare += ((read, r))
        case _ =>
      }
    }
    val occurrences: Seq[(LogicalPlan, LogicalRelation)] =
      (projected.toSeq: Seq[(LogicalPlan, LogicalRelation)]) ++ bare.toSeq
    val replacements = new java.util.IdentityHashMap[LogicalPlan, LogicalPlan]
    occurrences.groupBy { case (_, r) => relKey(r).get }.values.foreach { group =>
      // ≥2 distinct subtree INSTANCES: a group whose occurrences are
      // all the same object is an already-shared subtree (this rule's
      // own output on a later fixpoint pass) — nothing to merge
      val distinct = {
        val seen = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean])
        group.count { case (sub, _) => seen.add(sub) }
      }
      if (distinct >= 2) {
        val canonical = group.head._2
        val canonByName = canonical.output.map(a => a.name -> a).toMap
        val needed = group.flatMap {
          case (p: Project, _) => p.references.map(_.name).toSeq
          case (_, r) => r.output.map(_.name)
        }.toSet
        val unionAttrs = canonical.output.filter(a => needed.contains(a.name))
        // ONE shared instance: every consumer's exchange subtree is
        // then identical (not just canonically equal), so ReuseExchanges
        // / AQE stage reuse fires and a single file scan feeds them all
        val shared = Repartition(conf.numShufflePartitions, shuffle = true,
          Project(unionAttrs, canonical))
        group.foreach { case (sub, rel) =>
          if (!replacements.containsKey(sub)) {
            val attrMap = rel.output.map(a => a.exprId -> canonByName(a.name)).toMap
            def remap(ne: NamedExpression): NamedExpression = ne match {
              case a: AttributeReference =>
                val canon = attrMap(a.exprId)
                // alias pins the ORIGINAL exprId so every consumer
                // upstream of this occurrence resolves unchanged
                if (canon.exprId == a.exprId) canon
                else Alias(canon, a.name)(a.exprId, a.qualifier)
              case al: Alias =>
                Alias(al.child.transform {
                  case ar: AttributeReference => attrMap.getOrElse(ar.exprId, ar)
                }, al.name)(al.exprId, al.qualifier, al.explicitMetadata,
                  al.nonInheritableMetadataKeys)
            }
            val list = sub match {
              case p: Project => p.projectList.map(remap)
              case _ => rel.output.map(remap)
            }
            replacements.put(sub, Project(list, shared))
          }
        }
      }
    }
    if (replacements.isEmpty) plan
    else {
      // manual recursion instead of transformDown: a replacement EMBEDS
      // the canonical relation it may itself replace — re-descending
      // into freshly substituted subtrees would wrap it forever
      def rewrite(p: LogicalPlan): LogicalPlan =
        if (replacements.containsKey(p)) replacements.get(p)
        else p.mapChildren(rewrite)
      rewrite(plan)
    }
  }
}
