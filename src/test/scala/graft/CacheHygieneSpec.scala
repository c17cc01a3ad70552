package graft

import graft.api.Df
import org.scalatest.funsuite.AnyFunSuite

/** Whole-surface cache-lifetime sweep — the systemic pin for the r12
  * leak class. The precise bug it guards against: blocks that survive
  * BOTH release paths the harnesses run between queries
  * (`Df.releaseRetained()` then `spark.catalog.clearCache()`).
  * `clearCache` cannot free RDD-level storage (a `localCheckpoint`'s
  * blocks — exactly how connectedComponents leaked one |V|-row RDD per
  * iteration for four rounds), and `releaseRetained` only frees what an
  * operator registered — so any block still live after both is storage
  * nothing can reach: a leak by construction, in whichever operator the
  * failing query name points at. Stricter still, `releaseRetained` ALONE
  * must leave nothing: [[graft.operators.Materialize]] registers every
  * frame the moment it persists it, so a block that only `clearCache`
  * reaches is a persist outside the one owner.
  *
  * Sweeps EVERY SparkEntry query at sf0.001 (the entry-contract sf), so
  * a new operator wired into the query surface gets this guarantee
  * automatically — no per-operator test to remember. */
class CacheHygieneSpec extends AnyFunSuite {
  import TestSpark._

  // ---- plan lint: loop-invariant expensive work inside HOF lambdas ----
  // The r13 shingle incident class: higher-order-function lambdas
  // re-evaluate captured expression trees PER ELEMENT, so an expensive
  // node (regex split, md5, array sort) inside a lambda body that does
  // NOT consume the lambda variable is O(|array|) recomputation of
  // per-row work — wordGramsAll's captured tokenization was O(tokens²)
  // per doc (5.2× on the sf0.1 corpus). Expensive nodes are legitimate
  // inside lambdas only when they transform the element itself.
  import org.apache.spark.sql.catalyst.expressions._
  private def expensiveNode(e: Expression): Boolean = e match {
    case _: StringSplit | _: RegExpReplace | _: RegExpExtract |
         _: Md5 | _: Sha1 | _: Sha2 => true
    case _: ArraySort | _: ArrayDistinct | _: SortArray => true
    case _ => false
  }
  private def usesLambdaVar(e: Expression): Boolean =
    e.isInstanceOf[NamedLambdaVariable] || e.children.exists(usesLambdaVar)
  private def wasteIn(e: Expression, inLambda: Boolean,
                      out: scala.collection.mutable.ListBuffer[String]): Unit = {
    if (inLambda && expensiveNode(e) && !usesLambdaVar(e))
      out += e.getClass.getSimpleName + " in lambda: " + e.sql.take(90)
    val childScope = inLambda || e.isInstanceOf[LambdaFunction]
    e.children.foreach(wasteIn(_, childScope, out))
  }
  private def lambdaWaste(root: Expression): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    wasteIn(root, inLambda = false, out)
    out.toList
  }

  test("every query leaves zero persisted blocks after releaseRetained + clearCache") {
    // clean slate (earlier suites release in afterAll, but be explicit)
    Df.releaseRetained()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    assert(sc.getPersistentRDDs.isEmpty,
      s"dirty slate before sweep: ${sc.getPersistentRDDs.values.map(_.name)}")
    val leaks = scala.collection.mutable.ListBuffer.empty[String]
    val unregistered = scala.collection.mutable.ListBuffer.empty[String]
    val waste = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      // lint both plan stages: construction-time duplication shows in
      // the analyzed plan, optimizer-introduced inlining (CollapseProject
      // pushing an aliased expression into a lambda) in the optimized one
      Seq(df.queryExecution.analyzed, df.queryExecution.optimizedPlan)
        .foreach(_.foreach(n => n.expressions.flatMap(lambdaWaste)
          .foreach(h => waste += s"$name -> $h")))
      // count() is action enough for leak accounting: every internal
      // persist/checkpoint either materializes during plan CONSTRUCTION
      // (iterative operators) or sits on the path the count scans
      df.count()
      Df.releaseRetained()
      val afterRelease = sc.getPersistentRDDs
      if (afterRelease.nonEmpty || !spark.sharedState.cacheManager.isEmpty)
        unregistered += s"$name -> ${afterRelease.size} persistent RDDs " +
          s"(${afterRelease.values.map(_.name).mkString("; ")}), cacheManager " +
          s"empty: ${spark.sharedState.cacheManager.isEmpty}"
      spark.catalog.clearCache()
      val live = sc.getPersistentRDDs
      if (live.nonEmpty) {
        leaks += s"$name -> ${live.values.map(_.name).mkString("; ")}"
        // free them so one leak doesn't cascade into every later row
        live.values.foreach(_.unpersist(false))
      }
    }
    assert(leaks.isEmpty,
      s"queries leaking unreachable blocks:\n  ${leaks.mkString("\n  ")}")
    assert(unregistered.isEmpty,
      s"queries leaving cached data that releaseRetained does not reach:\n  " +
        unregistered.mkString("\n  "))
    assert(waste.isEmpty,
      s"loop-invariant expensive work inside HOF lambdas (recomputed per " +
        s"array element):\n  ${waste.distinct.mkString("\n  ")}")
  }
}
