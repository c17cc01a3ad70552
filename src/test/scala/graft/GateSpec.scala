package graft

import graft.api.Df
import graft.operators.Gate
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-gate policy of [[graft.operators.Gate]] on its own. Each
  * operator's both-sides row identity is pinned where the operator is:
  * ExtensionSpec (bucketPairs), ScanSpec (the scan persist gate) and
  * SemanticsSpec (saltedJoin). */
class GateSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(StructField("id", LongType)))
  private def rows(n: Int): Seq[Row] = (0 until n).map(i => Row(i.toLong))
  private def local(n: Int) =
    spark.createDataFrame(java.util.Arrays.asList(rows(n): _*), schema)

  test("estimatedBytes: None for an RDD-backed frame, Some for a LocalRelation") {
    assert(Gate.estimatedBytes(Df.fromRows(spark, rows(10), schema).sdf).isEmpty)
    val known = Gate.estimatedBytes(local(10))
    assert(known.exists(b => b > 0 && b < 1024), known)
  }

  test("measured(0) never evaluates its size and runs no job") {
    val d = Df.fromRows(spark, rows(10), schema).sdf
    var evaluated = false
    val (small, jobs) = jobsDuring(Gate.measured(0) { evaluated = true; d.count() })
    assert(!small && !evaluated && jobs == 0)
    assert(Gate.measured(10)(d.count()) && !Gate.measured(9)(d.count()))
  }

  test("shufflePartitions: the conf for an unknown or zero estimate, 2 for a tiny one") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val unknown = Df.fromRows(s, rows(10), schema).sdf
    val empty = s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val tiny = s.createDataFrame(java.util.Arrays.asList(rows(10): _*), schema)
    assert(Gate.estimatedBytes(empty).contains(BigInt(0)))
    assert(Gate.shufflePartitions(unknown) == 8)
    assert(Gate.shufflePartitions(empty) == 8)
    assert(Gate.shufflePartitions(tiny) == 2)
  }
}
