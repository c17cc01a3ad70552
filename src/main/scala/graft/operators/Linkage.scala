package graft.operators

import graft.api.Df
import graft.plans.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record linkage: find candidate duplicate ENTITIES (near-identical
  * records under different ids) without comparing all pairs. The
  * classic sorted-neighborhood method (Hernández & Stolfo 1995):
  * records sort inside a blocking key, and only records within a
  * window of `w` sort-neighbors are compared — O(n·w) comparisons
  * instead of O(n²), and the sort order is chosen so true matches land
  * adjacent. Complements the text-shingle dedup family
  * ([[Dedup]] minhash/simhash target long documents; this targets
  * short structured records — names, addresses — where edit distance
  * is the right similarity and blocking keys are natural).
  */
object Linkage {

  /** Candidate pairs by sorted-neighborhood: within each block
    * (`blockCols`), sort by `sortCol` (id tiebreak), compare each
    * record to its `w` predecessors via Levenshtein distance on
    * `textCol`, and emit pairs with distance ≤ `maxDist`.
    *
    * Output: (left id, right id, left text, right text, `dist`,
    * `offset` — how many sort positions apart, 1 = adjacent), with
    * left = the earlier record in sort order.
    *
    * Scale: ONE shuffle on the block key; each comparison is a
    * lag-window lookup + a codegen'd levenshtein — no join, no
    * row-pair materialization beyond the ≤ w·n emitted lags. Blocks
    * are window partitions, so a pathological mega-block skews one
    * task: pick blocking keys with bounded frequency (or pre-salt) the
    * same way a skewed join side would be handled. */
  def sortedNeighborhood(df: Df, blockCols: Seq[String], sortCol: String,
                         textCol: String, idCol: String,
                         maxDist: Int, w: Int = 1): Df = {
    require(w >= 1, s"sortedNeighborhood: window must be >= 1: $w")
    require(maxDist >= 0, s"sortedNeighborhood: maxDist must be >= 0: $maxDist")
    val win = Window.partitionBy(blockCols.map(col): _*)
      .orderBy(col(sortCol), col(idCol))
    val lagged = (1 to w).foldLeft(df.sdf) { (d, off) =>
      d.withColumn(s"__prev_id_$off", lag(col(idCol), off).over(win))
        .withColumn(s"__prev_text_$off", lag(col(textCol), off).over(win))
    }
    // ONE evaluation of the lagged window (r21): the per-offset union
    // re-ran the block-keyed window pipeline once per offset; exploding
    // an array of per-offset structs derives all w offsets in one pass.
    val offsets = (1 to w).map { off =>
      struct(
        col(s"__prev_id_$off").as("left_id"),
        col(idCol).as("right_id"),
        col(s"__prev_text_$off").as("left_text"),
        col(textCol).as("right_text"),
        levenshtein(col(s"__prev_text_$off"), col(textCol)).as("dist"),
        lit(off).as("offset"))
    }
    val pairs = lagged.select(explode(array(offsets: _*)).as("__p"))
      .select(col("__p.left_id"), col("__p.right_id"), col("__p.left_text"),
        col("__p.right_text"), col("__p.dist"), col("__p.offset"))
      .where(col("left_id").isNotNull)
    new Df(pairs.where(col("dist") <= maxDist))
  }

  /** [[sortedNeighborhood]] with the Jaro–Winkler scorer (native
    * codegen'd expression [[graft.plans.JaroWinkler]], DuckDB-replay
    * semantics): keeps candidate pairs whose similarity clears
    * `minSim`. Prefix-weighted, so it matches the name/address shape
    * where typos cluster at the END of the string — the standard
    * record-linkage complement to edit distance. */
  def sortedNeighborhoodJaro(df: Df, blockCols: Seq[String], sortCol: String,
                             textCol: String, idCol: String,
                             minSim: Double, w: Int = 1): Df = {
    require(w >= 1, s"sortedNeighborhoodJaro: window must be >= 1: $w")
    require(minSim >= 0.0 && minSim <= 1.0,
      s"sortedNeighborhoodJaro: minSim must be in [0,1]: $minSim")
    val win = Window.partitionBy(blockCols.map(col): _*)
      .orderBy(col(sortCol), col(idCol))
    val lagged = (1 to w).foldLeft(df.sdf) { (d, off) =>
      d.withColumn(s"__prev_id_$off", lag(col(idCol), off).over(win))
        .withColumn(s"__prev_text_$off", lag(col(textCol), off).over(win))
    }
    // same one-pass explode as [[sortedNeighborhood]] (r21)
    val offsets = (1 to w).map { off =>
      struct(
        col(s"__prev_id_$off").as("left_id"),
        col(idCol).as("right_id"),
        col(s"__prev_text_$off").as("left_text"),
        col(textCol).as("right_text"),
        round(GraftFunctions.jaroWinkler(col(s"__prev_text_$off"), col(textCol)), 6)
          .as("sim"),
        lit(off).as("offset"))
    }
    val pairs = lagged.select(explode(array(offsets: _*)).as("__p"))
      .select(col("__p.left_id"), col("__p.right_id"), col("__p.left_text"),
        col("__p.right_text"), col("__p.sim"), col("__p.offset"))
      .where(col("left_id").isNotNull)
    new Df(pairs.where(col("sim") >= minSim))
  }

  /** Survivorship: collapse each resolved entity cluster to ONE golden
    * record — per column, the modal non-null value (ties → smallest),
    * plus `n_members`. The endgame after [[sortedNeighborhood]] (or
    * any matcher) and connected components have assigned `clusterCol`:
    * duplicates disagree on fields, the golden record keeps the value
    * most of them agree on.
    *
    * Per column: a (cluster, value) count then a cluster-keyed
    * `min_by(value, (-count, value))` — the monoid form of "mode with
    * smallest-value tiebreak", partial-aggregable on both levels, so
    * map-side combine collapses agreeing members before either
    * shuffle. The per-column frames re-join on the cluster key
    * (|cols| joins of cluster-sized — already collapsed — frames, not
    * data-sized ones). All-null columns in a cluster survive as null
    * via the left join from the membership spine. */
  def goldenRecord(records: Df, clusterCol: String,
                   cols: Seq[String]): Df = {
    require(cols.nonEmpty, "goldenRecord: need at least one column")
    val spine = records.sdf.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"))
    val survived = cols.map { c =>
      records.sdf.where(col(c).isNotNull)
        .groupBy(col(clusterCol), col(c)).agg(count(lit(1)).as("__n"))
        .groupBy(col(clusterCol))
        .agg(min_by(col(c), struct((-col("__n")).as("nn"), col(c))).as(c))
    }
    new Df(survived.foldLeft(spine)(_.join(_, Seq(clusterCol), "left")))
  }
}
