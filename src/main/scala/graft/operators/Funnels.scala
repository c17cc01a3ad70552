package graft.operators

import graft.api.Df
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered event-funnel analytics — the conversion instrument over the
  * events stream (view → click → purchase), and for a training-data
  * pipeline the acquisition-funnel audit (crawled → filtered → deduped
  * per source batch when stages are logged as events).
  */
object Funnels {

  /** Strictly-ordered funnel with a completion window, greedy-earliest
    * qualification (the standard product-analytics semantics):
    *
    *  - t₁(user) = MIN ts of a step-1 event;
    *  - tₖ(user) = MIN ts of a step-k event with tₖ₋₁ ≤ ts ≤ t₁ + W
    *    (same-timestamp events may satisfy consecutive steps; the
    *    whole funnel must complete within `withinSec` of t₁).
    *
    * Emits one row per step: (step_idx, step, n_users, conversion)
    * with conversion = n_users / n_users(step 1), 4dp (NULL when step
    * 1 matched nobody).
    *
    * Scale: step 1 is one filter + user-keyed partial+final MIN; each
    * later step is one filter + a user-keyed equi-join against the
    * (shrinking) previous cohort + the same MIN agg — every shuffle is
    * on the SAME user key, so the exchanges line up and AQE reuses the
    * partitioning; cohort frames persist AND materialize eagerly
    * because each feeds both its own count and the next join (see
    * [[Materialize]]). The final counts union then reads only
    * cached cohort frames. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             withinSec: Long): Df = Materialize.scope { s =>
    require(steps.size >= 2, s"funnel: need >= 2 steps: $steps")
    require(steps.distinct.size == steps.size,
      s"funnel: duplicate step in $steps")
    require(withinSec > 0, s"funnel: withinSec must be > 0: $withinSec")
    val e = events.select(col(userCol).as("__u"),
      col(tsCol).cast("timestamp").as("__ts"), col(typeCol).as("__t"))
    // each cohort frame is barriered: it feeds BOTH its own count and
    // the next step's join (u1 additionally the conversion base) —
    // unbarriered, the one-job funnel evaluated every frame once per
    // consumer (u1 three times)
    val u1 = s.barrier(e.where(col("__t") === steps.head)
      .groupBy(col("__u")).agg(min(col("__ts")).as("__cur"))
      .withColumn("__t1", col("__cur")))
    val frames = scala.collection.mutable.ArrayBuffer(u1)
    for (st <- steps.tail) {
      val prev = frames.last
      frames += s.barrier(e.where(col("__t") === st)
        .join(prev.select(col("__u"), col("__cur").as("__pv"), col("__t1")),
          Seq("__u"))
        .where(col("__ts") >= col("__pv") &&
          col("__ts") <= col("__t1") + expr(s"INTERVAL $withinSec SECONDS"))
        .groupBy(col("__u"), col("__t1")).agg(min(col("__ts")).as("__cur")))
    }
    val counts = frames.toSeq.zip(steps).zipWithIndex.map {
      case ((f, name), i) =>
        f.agg(count(lit(1)).cast("long").as("n_users"))
          .select(lit(i + 1).as("step_idx"), lit(name).as("step"),
            col("n_users"))
    }.reduce(_ union _)
    val base = u1.agg(count(lit(1)).cast("long").as("__n1"))
    new Df(counts.crossJoin(broadcast(base))
      .withColumn("conversion", when(col("__n1") > 0,
        round(col("n_users").cast("double") / col("__n1"), 4)))
      .drop("__n1"))
  }
}
