package graft.operators

import graft.api.Df
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames — the web-graph
  * quality-signal family (Common Crawl ranks hosts with centrality
  * scores before curation; a corpus pipeline wants the same signal for
  * source weighting). Complements the connected-components machinery
  * in [[Dedup]] (which is union-find-shaped, not power-iteration).
  */
object Graphs {

  /** PageRank by synchronous power iteration (Page et al. 1999), over
    * a weighted edge list — multi-edges count as weight.
    *
    * Semantics (mirrored exactly by the SQL oracle):
    *  - nodes = distinct(src) ∪ distinct(dst); r₀(v) = 1/N
    *  - rₖ₊₁(v) = (1−d)/N + d · Σ_{(s,v)∈E} rₖ(s) · w(s,v)/outW(s)
    *  - dangling nodes (no out-edges) keep their rank but contribute
    *    nothing — their mass is NOT redistributed, so ranks sum to
    *    < 1 when danglers exist (the documented simplification; the
    *    RELATIVE ordering, which is what source weighting consumes,
    *    is unaffected).
    *
    * Each iteration's inbound sum goes through a DECIMAL(28,16) cast
    * (order-independent — both engines land on bit-identical doubles
    * every iteration, so no drift compounds); the emitted rank rounds
    * to 8dp.
    *
    * Scale: the edge table is normalized ONCE (two edge-keyed
    * partial+final counts + one src-keyed join), hash-partitioned by
    * src and persisted. The per-iteration plan then splits on the
    * measured |V| (already on the driver — N is the teleport
    * denominator):
    *
    *  - |V| ≤ `broadcastMaxNodes` (the common web-HOST / vocabulary
    *    graph — the rank table is |V| rows of (node, double)): the
    *    rank⋈edges join takes an explicit `broadcast` hint and the
    *    whole `iterations`-step recurrence is CHAINED INTO ONE LAZY
    *    PLAN — no per-iteration persist/count actions, so the loop
    *    costs ONE Catalyst planning pass and one job instead of
    *    `iterations` × (plan + materialize + AQE replan). Measured on
    *    the q203 event-transition graph (100 nodes, 98k edges,
    *    sf0.1): the per-iteration driver gaps were over half the
    *    query's wall. Plan depth is bounded by materializing every
    *    `chainDepth` steps, so large `iterations` cannot blow up
    *    optimizer time.
    *  - |V| above the gate (a true web-scale graph): the same chained
    *    cadence over SHUFFLE joins — per iteration only the rank table
    *    shuffles to meet the src-partitioned eNorm (persisted layout
    *    reused, no exchange on the edge side) and the contribution
    *    aggregation is a dst-keyed partial+final sum that feeds the
    *    final nodes join exchange-free; a rotating persisted cut every
    *    `chainDepth` steps bounds lineage and optimizer time. Nothing
    *    |E|-sized ever broadcasts or collects.
    *
    * Driver holds only the scalar N; the broadcast in the gated mode
    * ships |V| × ~40 B (250k nodes ≈ 10 MB, the default ceiling).
    *
    * `broadcastMaxNodes` is a measured scale gate on N ([[Gate]]). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85,
               broadcastMaxNodes: Long = 250000): Df = Materialize.scope { s =>
    require(iterations >= 1, s"pageRank: iterations must be >= 1: $iterations")
    require(damping > 0 && damping < 1,
      s"pageRank: damping must be in (0, 1): $damping")
    require(broadcastMaxNodes >= 0,
      s"pageRank: broadcastMaxNodes must be >= 0: $broadcastMaxNodes")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val w = e.groupBy(col("__src"), col("__dst")).agg(count(lit(1)).as("__w"))
    val outW = w.groupBy(col("__src")).agg(sum(col("__w")).as("__ow"))
    val eNorm = s.persist(w.join(outW, Seq("__src"))
      .select(col("__src"), col("__dst"),
        (col("__w").cast("double") / col("__ow")).as("__frac"))
      .repartition(col("__src")))
    // nodes from the PERSISTED eNorm (src ∪ dst survive the weight
    // aggregation unchanged), via one in-row explode — r22: the old
    // union-of-two-selects over `e` re-ran the caller's whole edge
    // pipeline once per union arm, and the count() below now doubles as
    // the eNorm cache barrier (one upstream pass materializes both).
    val nodes = s.persist(eNorm
      .select(explode(array(col("__src"), col("__dst"))).as("node")).distinct())
    val n = nodes.count()
    val teleport = (1 - damping) / n
    val bcast = Gate.measured(broadcastMaxNodes)(n)

    // identical arithmetic on both paths (the SQL oracle mirrors it):
    // only the JOIN STRATEGY and materialization cadence differ, so the
    // decimal-summed contributions are bit-identical across the gate.
    //
    // r22: the loop passes the inbound-contribution table (__dst, __in)
    // instead of the rank table. rank(v) = teleport + d·coalesce(in, 0)
    // for EVERY node, so the edge join computes the source rank INLINE
    // (same double expression, same order — bit-identical) and the old
    // per-iteration rank materialization (nodes ⟕ contrib, plus its own
    // broadcast in the gated mode) drops out of the loop entirely: one
    // |V|-row join per iteration instead of two, one broadcast instead
    // of two. Danglers never feed the edge join (no out-edges) and
    // src-only nodes hit the coalesce(0) arm — both exactly as the old
    // rank table carried them; the single nodes ⟕ contrib join now runs
    // once, at the end, where dangler/teleport-only ranks are actually
    // emitted. Round 1 uses the uniform rank 1/n directly (no join).
    def contribStep(prev: Option[DataFrame]): DataFrame = {
      val withRank = prev match {
        case None => eNorm.withColumn("__rank", lit(1.0 / n))
        case Some(c0) =>
          val c = (if (bcast) broadcast(c0) else c0)
            .select(col("__dst").as("__cn"), col("__in"))
          eNorm.join(c, eNorm("__src") === col("__cn"), "left")
            .withColumn("__rank",
              lit(teleport) + lit(damping) * coalesce(col("__in"), lit(0.0)))
      }
      withRank.select(col("__dst"),
          (col("__rank") * col("__frac")).cast("decimal(28,16)").as("__c"))
        .groupBy(col("__dst")).agg(sum(col("__c")).cast("double").as("__in"))
    }

    // BOTH modes chain `chainDepth` steps into one lazy plan and cut the
    // chain with a persisted materialization (a ≤8-iteration run stays
    // one unmaterialized plan end-to-end — ONE Catalyst pass, one job).
    // The modes differ only in the join strategy: below the gate the
    // contribution table broadcasts into the edge join; above it the
    // dst-aggregated contributions are already hash-partitioned on the
    // join key, so the src-partitioned persisted eNorm joins them with
    // no exchange on either side and only the dst-keyed partial+final
    // sum shuffles per iteration. The pre-r18 shuffle mode materialized
    // EVERY iteration (persist+count, 2 driver actions each) — pure
    // driver-latency overhead with no memory benefit over the rotating
    // cut: only the LATEST cut stays persisted; once the next cut's
    // count() completes the previous one is dead and unpersisted.
    // chainDepth bounds optimizer time and lineage on both paths.
    val chainDepth = 8
    var contrib: Option[DataFrame] = None
    var prevCut: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      contrib = Some(contribStep(contrib))
      if (i % chainDepth == 0 && i < iterations) {
        val cut = s.barrier(contrib.get)
        prevCut.foreach(s.release)
        prevCut = Some(cut)
        contrib = Some(cut)
      }
    }
    val last = contrib.get
    val lastC = if (bcast) broadcast(last) else last
    val result = nodes.join(lastC, nodes("node") === lastC("__dst"), "left")
      .select(col("node"),
        round(lit(teleport) + lit(damping) * coalesce(col("__in"), lit(0.0)), 8)
          .as("rank"))
    if (bcast) {
      // below the gate the whole ≤chainDepth-step recurrence is one
      // cheap broadcast-join plan; lazy return lets a single-action
      // caller pay exactly one job and Bench time the real plan.
      new Df(result)
    } else {
      // above the gate a lazy return would make EVERY caller action
      // recompute up to chainDepth shuffle iterations (rank exchange +
      // dst-keyed agg + nodes join each) — the pre-r18 shuffle mode
      // returned a materialized table and multi-action consumers relied
      // on it (ADVICE r18). One |V|-row persist+count here restores
      // that contract; the superseded cut is then dead and released.
      val fin = s.barrier(result)
      prevCut.foreach(s.release)
      new Df(fin)
    }
  }

  /** Consecutive-pair edge extraction: order rows per `groupCol` by
    * `orderCols` (a total order — include a tiebreaker) and emit one
    * (src, dst) edge per adjacent pair of `nodeCol` values. The
    * standard session-transition graph builder (page A → page B).
    *
    * Scale: one group-keyed window (lead) — a single shuffle on the
    * group key, no self-join. */
  def transitionEdges(df: DataFrame, groupCol: String, orderCols: Seq[String],
                      nodeCol: String): DataFrame = {
    require(orderCols.nonEmpty, "transitionEdges: orderCols must be non-empty")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(orderCols.map(col): _*)
    df.select(col(nodeCol).as("src"),
        lead(col(nodeCol), 1).over(win).as("dst"))
      .where(col("dst").isNotNull)
  }
}
