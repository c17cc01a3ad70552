package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build an m× scaled replica of a driver testdata directory for
  * BENCH-ONLY runs (the driver ships sf0.001/0.01/0.1; the round-5
  * near-dup pair scale datapoint in `BENCHLOG.md` used the same
  * replicate-with-offset construction). Correctness is NOT claimed at the
  * scaled sf — the DuckDB gate runs at sf0.01.
  *
  * Scaling rules (join-consistent, artifact-free):
  *  - fact/dim keys are offset per replica (`key + i·1e8`), and every
  *    FOREIGN key is offset by the same rule — joins stay 1:N exactly
  *    as at the source sf (naive replication without offsets would make
  *    every join m× denser and every bench superlinear by construction);
  *  - `nation`/`region` are copied unscaled — TPC-H holds them constant
  *    across scale factors;
  *  - `documents.text` gets a per-replica TOKEN PREFIX (`r3x…`), so
  *    replicas share no shingles with other replicas: near-dup/LSH pair
  *    structure scales LINEARLY (m× the clusters of the source corpus).
  *    Un-prefixed replicas would be near-dups of each other and every
  *    pair query would go quadratic in m — the corpus artifact the
  *    round-5 pair-scaling run (BENCHLOG.md) measured deliberately;
  *  - `embeddings.label` is offset per replica for the same reason:
  *    m× the blocks of the original size, never m²-denser blocks;
  *  - `events.user_id`/`event_id` are offset: m× the users, per-user
  *    session/window structure unchanged.
  *
  * Run: sbt "runMain graft.MakeScaled /root/testdata/sf0.1 /tmp/sf1 10"
  */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, mStr) = args
    val m = mStr.toInt
    require(m >= 1, s"scale multiplier must be >= 1: $m")
    val spark = GraftSession.fromEnv()

    // far above any key at the source sf (sf0.1 max key ~6e5)
    val OFF = 100000000L

    def rep(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val d = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until m).map(i => if (i == 0) d else f(d, i))
        .reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[make-scaled] $name x$m -> $outDir/$name.parquet")
    }
    def off(c: String, i: Int) = col(c) + lit(i * OFF)

    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$srcDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      println(s"[make-scaled] $n copied unscaled (fixed dimension)")
    }
    rep("customer")((d, i) => d.withColumn("c_custkey", off("c_custkey", i)))
    rep("supplier")((d, i) => d.withColumn("s_suppkey", off("s_suppkey", i)))
    rep("part")((d, i) => d.withColumn("p_partkey", off("p_partkey", i)))
    rep("orders")((d, i) => d
      .withColumn("o_orderkey", off("o_orderkey", i))
      .withColumn("o_custkey", off("o_custkey", i)))
    rep("lineitem")((d, i) => d
      .withColumn("l_orderkey", off("l_orderkey", i))
      .withColumn("l_partkey", off("l_partkey", i))
      .withColumn("l_suppkey", off("l_suppkey", i)))
    rep("events")((d, i) => d
      .withColumn("event_id", off("event_id", i))
      .withColumn("user_id", off("user_id", i)))
    rep("documents")((d, i) => d
      .withColumn("doc_id", off("doc_id", i))
      .withColumn("text",
        regexp_replace(col("text"), "(^|\\s)", s"$$1r${i}x")))
    rep("embeddings")((d, i) => d
      .withColumn("vec_id", off("vec_id", i))
      .withColumn("label", (col("label") + lit(i * 1000)).cast("int")))
    spark.stop()
  }
}
