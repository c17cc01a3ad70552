package graft.operators

import graft.api.{Df, FooterSchema}
import graft.plans.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`) — extension family (north star); the reference has
  * no vector operations at all.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is small by
  *    assumption and broadcast; the corpus streams through one codegen'd
  *    projection + per-query top-k (window). Cost O(|Q|·|corpus|) — the
  *    CORRECTNESS baseline.
  *  - [[lshTopK]]: random-hyperplane LSH — per-row signature, bucket
  *    equi-join, exact rerank inside buckets. The 100 TB scale path:
  *    cost O(|collisions|), recall tunable via number of hyperplane bits.
  */
object Similarity {

  /** Shared rerank tail: exact cosine, rank per query (ties broken by
    * corpus id for determinism), keep top k. One definition so the
    * ranking contract can't drift between the three search tiers.
    * `excludeSelf` drops query_id == corpus_id matches — correct for
    * self-search (queries ⊆ corpus, the shipped queries' shape); pass
    * false when query and corpus id spaces are unrelated, where an
    * accidental id collision would silently drop a true neighbor. */
  private def rerankTopK(joined: org.apache.spark.sql.DataFrame, k: Int,
                         excludeSelf: Boolean): org.apache.spark.sql.DataFrame = {
    val filtered =
      if (excludeSelf) joined.where(col("query_id") =!= col("corpus_id"))
      else joined
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id"))
    filtered
      .withColumn("cosine", round(GraftFunctions.cosine(col("q_vec"), col("c_vec")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** Exact top-k neighbors per query vector by cosine. Queries are
    * broadcast (small side); ties broken by corpus id for determinism. */
  def bruteForceTopK(queries: Df, corpus: Df, vecCol: String, idCol: String,
                     k: Int, excludeSelf: Boolean = true): Df = {
    val q = broadcast(queries.sdf.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.sdf.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    new Df(rerankTopK(c.crossJoin(q), k, excludeSelf))
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim i) — derived from a hash so every engine/executor regenerates
    * identical planes with no RNG state or driver broadcast. */
  private def planeComponent(j: Int, i: Int): Double = {
    val h = math.abs((j * 1000003L + i * 8191L) * 2654435761L % 1000L)
    (h / 500.0) - 1.0
  }

  /** Plane j's components as an array, for array-literal dot products. */
  private[graft] def planeWeights(j: Int, dim: Int): Array[Double] =
    (0 until dim).map(i => planeComponent(j, i)).toArray

  /** sign-bit LSH signature: bit j = [dot(vec, plane_j) > 0].
    *
    * One `zip_with` + `aggregate` per plane over an array LITERAL of
    * weights — constant expression-tree size per plane, so planes=16 ×
    * dim=512 stays inside whole-stage codegen (the naive form, dim
    * `element_at` terms per plane, blows up Janino at real dims). The
    * left-fold accumulation order matches an ascending-index sum, so
    * signatures are deterministic and engine-replicable bit-for-bit. */
  def lshSignature(vec: org.apache.spark.sql.Column, planes: Int, dim: Int)
      : org.apache.spark.sql.Column = {
    val bits = (0 until planes).map { j =>
      val dot = aggregate(
        zip_with(vec, lit(planeWeights(j, dim)), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, t) => acc + t)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    // dim mismatch guard: zip_with null-pads the shorter side, the dot
    // goes null, every bit takes the otherwise-branch, and ALL rows
    // silently collapse into bucket 0 — turning the bucketed join into
    // a full cross join. Fail loudly instead — but only for GENUINE
    // mismatches: a NULL vector (or one carrying a NULL element, whose
    // dots also go null → every bit 0 → bucket-0 collapse) is an
    // undefined input, not a schema bug, so it yields a NULL signature
    // and drops out of the bucket equi-join (same contract as
    // graft_cosine: undefined → NULL, never a job-killing error at
    // 100 TB).
    when(vec.isNull || exists(vec, _.isNull), lit(null).cast("long"))
      .when(size(vec) === dim, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"lshSignature: expected dim=$dim, got vector of length "),
        size(vec).cast("string"))))
  }

  /** The coarse quantizer's training points: the usable vectors
    * ([[fullyFinite]]) of a `fitSample` fraction of `c`
    * (`corpus_id`, `c_vec`), capped at 256·nlist rows — FAISS's
    * `max_points_per_centroid` default: k-means on more points than that
    * does not improve a coarse quantizer. The cap keeps the rows with the smallest `xxhash64(corpus_id)` —
    * a hash order, so it favours no partition — and the vector's own
    * hash breaks id ties, so the collected order (and with it the fit)
    * is deterministic. Plans as one TakeOrderedAndProject: one job. */
  private[graft] def ivfFitPoints(c: org.apache.spark.sql.DataFrame,
                                  nlist: Int, fitSample: Double,
                                  who: String): Array[Array[Double]] = {
    require(fitSample > 0.0 && fitSample <= 1.0,
      s"$who: fitSample must be a fraction in (0, 1]: $fitSample")
    val pts = (if (fitSample >= 1.0) c else c.sample(fitSample, 42L))
      .select(col("corpus_id"), transform(col("c_vec"), _.cast("double")).as("v"))
      .where(fullyFinite(col("v")))
      .orderBy(xxhash64(col("corpus_id")), xxhash64(col("v")))
      .limit(256 * nlist)
      .collect().map(_.getSeq[Double](1).toArray)
    // name the knob when the fit input is empty (tiny fitSample × small
    // corpus, or all-NULL vectors) instead of failing on an empty fit
    if (pts.isEmpty) throw new IllegalArgumentException(
      s"$who: the quantizer fit input is empty - fitSample=$fitSample " +
        "sampled no rows with non-NULL, fully-finite vectors; raise " +
        "fitSample or check the vector column")
    val dims = pts.map(_.length).distinct
    require(dims.length == 1,
      s"$who: fit vectors differ in length (${dims.sorted.mkString(", ")})")
    pts
  }

  /** The IVF coarse quantizer, fitted on the driver over
    * [[ivfFitPoints]]: k-means++ seeding (`java.util.Random(42)`), then
    * Lloyd iterations until every centre moves ≤ 1e-4 or 10 iterations
    * pass (MLlib KMeans' defaults; its k-means‖ init approximates
    * k-means++). Assignment takes the first minimum (lowest centre) and
    * an emptied cluster keeps its centre. When the points hold fewer
    * than `nlist` distinct vectors, seeding stops early and fewer
    * centres come back, as MLlib's do. Deterministic: same points, same
    * order, same seed. */
  private[graft] def fitCentroids(c: org.apache.spark.sql.DataFrame,
                                  nlist: Int, fitSample: Double,
                                  who: String): Array[Array[Double]] = {
    require(nlist >= 1, s"$who: nlist must be >= 1: $nlist")
    val pts = ivfFitPoints(c, nlist, fitSample, who)
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rng = new java.util.Random(42L)
    val seeds = scala.collection.mutable.ArrayBuffer(pts(rng.nextInt(pts.length)))
    val d2 = pts.map(dist2(_, seeds.head))
    while (seeds.length < nlist && d2.sum > 0.0) {
      // next seed with probability ∝ D²: the first point whose running
      // weight reaches a uniform draw over the total
      val r = rng.nextDouble() * d2.sum
      val run = d2.scanLeft(0.0)(_ + _).tail
      val pick = d2.indices.find(i => run(i) >= r && d2(i) > 0.0)
        .getOrElse(d2.lastIndexWhere(_ > 0.0))
      seeds += pts(pick)
      for (i <- pts.indices) d2(i) = math.min(d2(i), dist2(pts(i), pts(pick)))
    }
    var centers = seeds.toArray
    var moved = true
    var iter = 0
    while (moved && iter < 10) {
      val groups = pts.groupBy(p => centers.indices.minBy(j => dist2(p, centers(j))))
      val next = centers.indices.map(j => groups.get(j).fold(centers(j)) { g =>
        g.transpose.map(_.sum / g.length)
      }).toArray
      moved = centers.indices.exists(j => dist2(centers(j), next(j)) > 1e-4 * 1e-4)
      centers = next
      iter += 1
    }
    centers
  }

  /** Every centre as a (d, cell) struct of `v`'s squared distance to
    * it, ascending — ties break toward the lower cell, matching Lloyd's
    * first-minimum argmin — handed to `pick` (a slice or the first
    * cell). Each distance is one zip_with + aggregate over an array
    * LITERAL of that centre's components (the constant-tree trick of
    * [[lshSignature]]), so the plan stays codegen'd expressions. Same
    * undefined-input contract as lshSignature: a NULL vector OR one
    * with a NULL element → NULL (the row drops out of the cell
    * equi-join / probe explode); a GENUINE dim mismatch vs the centres
    * fails loudly, naming `who` — an unguarded NULL distance would
    * otherwise sort to cell 0 (struct ordering treats the NULL field as
    * smallest) and silently pair undefined rows with real queries. */
  private def rankCells(v: org.apache.spark.sql.Column,
                        centers: Array[Array[Double]], who: String)(
      pick: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val dim = centers.head.length
    def dist2(ctr: Array[Double]) =
      aggregate(zip_with(v, lit(ctr), (x, w) => (x.cast("double") - w) * (x.cast("double") - w)),
        lit(0.0), (acc, t) => acc + t)
    when(v.isNull || exists(v, _.isNull), lit(null))
      .when(size(v) === dim,
        pick(array_sort(array(centers.zipWithIndex.toIndexedSeq.map { case (ctr, i) =>
          struct(dist2(ctr).as("d"), lit(i).as("cell"))
        }: _*))))
      .otherwise(raise_error(concat(
        lit(s"$who: expected dim=$dim, got vector of length "),
        size(v).cast("string"))))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * cells and reranks exactly (graft_cosine) inside them.
    *
    * The scale path beyond LSH. The quantizer is fitted on the driver
    * ([[fitCentroids]]) from ONE collect of a `fitSample` FRACTION of
    * the corpus, capped at 256·nlist rows — at 100 TB nobody fits on
    * the full data; the sample only shapes the centroids, assignment
    * below is still exact for every row. Driver cost: the sample holds
    * 256·nlist·dim doubles (16 MiB at nlist = 16, dim = 512) and each
    * of ≤ 10 Lloyd rounds is 256·nlist²·dim multiply-adds, so nlist
    * stays in the hundreds, not the 10⁵ of a billion-row FAISS index.
    * Construction runs that one job; everything after the fit is pure
    * codegen'd expressions ([[rankCells]]), no row-at-a-time UDFs.
    * Search touches nprobe/nlist of the data; with nprobe = nlist the
    * result provably equals brute force (spec-tested).
    */
  def ivfTopK(queries: Df, corpus: Df, vecCol: String, idCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              excludeSelf: Boolean = true, fitSample: Double = 1.0): Df = {
    val c = corpus.sdf.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    // nlist centroids (driver-side, tiny) become expression literals —
    // the plan carries them to every executor, no broadcast variable.
    // NULL vectors and vectors carrying NULL elements drop out of the
    // fit and, via NULL cells, of the search too
    val centers = fitCentroids(c, nlist, fitSample, "ivfTopK")
    def nearestCells(v: org.apache.spark.sql.Column, n: Int) =
      rankCells(v, centers, "ivfTopK")(slice(_, 1, n))
    val assigned = c.withColumn("cell",
      nearestCells(col("c_vec"), 1).getItem(0).getField("cell"))
    val q = broadcast(queries.sdf.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell",
        explode(transform(nearestCells(col("q_vec"), nprobe), s => s.getField("cell")))))
    new Df(rerankTopK(assigned.join(q, Seq("cell")), k, excludeSelf))
  }

  /** Materialize an IVF index as a PARTITIONED parquet layout: the
    * corpus is coarse-quantized with the [[ivfTopK]] driver-side
    * k-means fit (one collect of at most 256·nlist sampled rows, the
    * same driver cost) and written under `path`/index partitioned by
    * cell, with the centroids (the only state a searcher needs) in long
    * format under `path`/centroids. This moves the inverted-file idea to the
    * STORAGE layer: at 100 TB the index is built once, and every probe
    * after that reads only its nprobe cell DIRECTORIES — partition
    * pruning at the scan, so the other nlist−nprobe cells cost zero
    * I/O (vs ivfTopK recomputing assignment per search). Same vector
    * contract as [[ivfTopK]] (undefined vectors drop out via NULL
    * cells). Returns per-cell row counts — the balance audit that
    * tells you whether the quantizer needs refitting before you pay
    * for a skewed layout. */
  def buildIvfIndex(corpus: Df, vecCol: String, idCol: String, path: String,
                    nlist: Int = 16, fitSample: Double = 1.0): Df = {
    val c = corpus.sdf.select(col(idCol).as("corpus_id"),
      col(vecCol).as("c_vec"))
    val centers = fitCentroids(c, nlist, fitSample, "buildIvfIndex")
    val cellOf = rankCells(col("c_vec"), centers, "buildIvfIndex")(
      _.getItem(0).getField("cell"))
    // co-locate each cell before the write: without this every task
    // writes a fragment into every cell directory (tasks × nlist small
    // files); with it each cell's rows land in contiguous files — the
    // layout the probe-side partition pruning is buying I/O from
    c.withColumn("cell", cellOf).where(col("cell").isNotNull)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
    val spark = corpus.spark
    val centroidRows = for {
      (ctr, i) <- centers.zipWithIndex.toSeq
      (x, p) <- ctr.zipWithIndex
    } yield org.apache.spark.sql.Row(i, p, x)
    Df.fromRows(spark, centroidRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.DoubleType))))
      .sdf.coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    new Df(FooterSchema.read(spark, s"$path/index").groupBy("cell")
      .agg(count(lit(1)).as("n")))
  }

  /** Probe a [[buildIvfIndex]] layout: each query ranks the stored
    * centroids (read back from `path`/centroids — nlist×dim rows, the
    * k·d codebook as a driver-side literal after one tiny read — the
    * ONLY job this method runs), explodes into its `nprobe` nearest
    * cells, and broadcast-joins the partitioned index scan on `cell`.
    * The probed-cell pruning is IN-PLAN: the scan carries a
    * DYNAMIC PARTITION PRUNING subquery that reuses the broadcast
    * exchange, so only the probed cell directories are read at
    * execution — no driver round-trip materializes the probe list
    * (the pre-r15 `collect()` forced the query-side plan eagerly at
    * call time). The DPP branch ASSUMES exchange reuse: with it, the
    * subquery and the join read ONE evaluation of the query side, so
    * probed cells and joined rows agree even if upstream is
    * nondeterministic. The branch is therefore gated on
    * `spark.sql.exchange.reuse` (off → the static-IN fallback, which
    * persists the query side before reading it twice); with reuse on
    * but a nondeterministic query side that AQE replans around, cache
    * the queries frame first — the same caveat as every eager
    * protocol here. The no-op `cell >= 0` filter on the probe side is
    * load-bearing: Catalyst's DPP heuristic only prunes against a side
    * with a LIKELY-SELECTIVE predicate (isLikelySelective — a
    * comparison/IN/LIKE), which a bare explode-projection lacks; cells
    * are 0-based ordinals, so the filter drops nothing. Exact
    * graft_cosine rerank inside the probed cells; with nprobe = nlist
    * the result provably equals brute force — the oracle contract —
    * while any smaller nprobe trades recall for reading
    * nprobe/nlist of the data. */
  def searchIvfIndex(queries: Df, vecCol: String, idCol: String,
                     path: String, k: Int, nprobe: Int = 4,
                     excludeSelf: Boolean = true): Df = Materialize.scope { s =>
    require(k >= 1, s"searchIvfIndex: k must be >= 1: $k")
    require(nprobe >= 1, s"searchIvfIndex: nprobe must be >= 1: $nprobe")
    val spark = queries.spark
    val centers = FooterSchema.read(spark, s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toArray }.toArray
    require(centers.nonEmpty, s"searchIvfIndex: no centroids under $path")
    val nearest = rankCells(col("q_vec"), centers, "searchIvfIndex")(
      slice(_, 1, math.min(nprobe, centers.length)))
    val q = queries.sdf
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell",
        explode(transform(nearest, s => s.getField("cell"))))
      .where(col("cell") >= 0) // no-op; marks the side DPP-selective
    val c = FooterSchema.read(spark, s"$path/index")
    val joined = rerankTopK(c.join(broadcast(q), Seq("cell")), k, excludeSelf)
    // cell pruning is this operator's I/O CONTRACT (read nprobe/nlist
    // of the index), not an optimization hint — verify the DPP
    // subquery actually reached the scan (heuristics are
    // Catalyst-internal and the feature is a session conf away from
    // off); if it didn't, fall back to the pre-r15 driver-collected
    // static IN list, which prunes unconditionally at plan time.
    // Exchange reuse is what makes the DPP subquery and the join read
    // ONE evaluation of the query side (see scaladoc) — without it,
    // take the fallback, whose persist pins a single evaluation.
    if (spark.conf.get("spark.sql.exchange.reuse", "true")
          .trim.equalsIgnoreCase("true") &&
        joined.queryExecution.executedPlan.toString
        .toLowerCase.contains("dynamicpruning"))
      new Df(joined)
    else {
      val qq = s.persist(q)
      val probed = qq.select("cell").distinct().collect().map(_.getInt(0))
      val cf = FooterSchema.read(spark, s"$path/index")
        .where(col("cell").isin(probed.map(Int.box).toIndexedSeq: _*))
      new Df(rerankTopK(cf.join(broadcast(qq), Seq("cell")), k, excludeSelf))
    }
  }

  /** Per-key mean embedding (centroid / mean-pool) in LONG format —
    * one row per (key, dim position): posexplode + one partial+final
    * aggregate pair keyed by (key, pos). Long format keeps the result
    * relational (re-assemble with sort_array(collect_list(struct)) when
    * an array is wanted) and lets SQL oracles replay it exactly.
    *
    * Sums go through DECIMAL(28,10) of the double-widened floats:
    * decimal addition is ORDER-INDEPENDENT, so the centroid is
    * bit-reproducible under Spark's nondeterministic partial-agg
    * ordering (a plain double sum is not). */
  def meanPool(vecs: Df, vecCol: String, keyCol: String): Df = {
    val exploded = vecs.sdf
      .where(col(vecCol).isNotNull)
      .select(col(keyCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      // undefined/corrupt elements (NULL, NaN, |x| ≥ 1e18 — beyond any
      // unit-scale embedding and beyond DECIMAL(28,10)) are dropped
      // from BOTH sum and divisor: an unfiltered NULL would be skipped
      // by sum but counted by count (silently wrong centroid), and an
      // over-range cast would kill the job under ANSI
      .where(col("v").isNotNull && !isnan(col("v")) && abs(col("v")) < 1e18)
    new Df(exploded.groupBy(col(keyCol), col("pos"))
      .agg(round(sum(col("v").cast("double").cast("decimal(28,10)")).cast("double") /
        count(lit(1)), 6).as("centroid")))
  }

  /** ANN: bucket by LSH signature, exact cosine rerank inside buckets.
    * Queries broadcast; corpus shuffles once on the bucket key. */
  def lshTopK(queries: Df, corpus: Df, vecCol: String, idCol: String,
              k: Int, planes: Int = 8, dim: Int = 64,
              excludeSelf: Boolean = true): Df = {
    val sig = lshSignature(col(vecCol), planes, dim)
    val q = broadcast(queries.sdf.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"), sig.as("bucket")))
    val c = corpus.sdf.select(
      col(idCol).as("corpus_id"), col(vecCol).as("c_vec"), sig.as("bucket"))
    new Df(rerankTopK(c.join(q, Seq("bucket")), k, excludeSelf))
  }

  /** The cross-engine "usable vector" corpus contract shared by the
    * quantization / k-means / embedding-join family and their DuckDB
    * oracles: non-NULL, and every element defined and finite (not
    * NULL, not NaN, |x| < 1e18). Single-sourced so the three operator
    * copies and the oracle CASE clauses cannot drift apart — the
    * threshold and the comparison direction ARE the contract. */
  private[operators] def fullyFinite(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    v.isNotNull && !exists(v, x => x.isNull || isnan(x) || abs(x) >= lit(1e18))

  /** Per-vector symmetric int8 scalar quantization — the standard 4×
    * memory/bandwidth reduction before ANN serving at scale: a 100 TB
    * float32 embedding store becomes 25 TB, and integer dot products
    * SIMD-vectorize. `scale = max(|v|)/127`, `q_i = round(v_i/scale)`
    * (half-away-from-zero, so |q_i| ≤ 127 with no clamp — the max
    * component lands on ±127 exactly); reconstruct with `q_i · scale`.
    * The all-zero vector gets scale 0 and all-zero codes. Output in
    * LONG format (`idCol`, pos, q, scale) — relational, exactly
    * SQL-replayable, re-assembleable with sort_array(collect_list).
    * Vectors that are NULL or carry a non-finite element are dropped
    * (the q110/q158 corpus contract).
    *
    * Scale: pure per-row codegen'd expressions — no shuffle at all;
    * the posexplode is the only row multiplication (×dim) and exists
    * for the relational output shape, not the algorithm. */
  def quantizeInt8(vecs: Df, vecCol: String, idCol: String): Df = {
    val corpus = vecs.sdf
      .select(col(idCol), transform(col(vecCol), _.cast("double")).as("__v"))
      .where(fullyFinite(col("__v")))
    new Df(corpus
      .withColumn("scale", array_max(transform(col("__v"), x => abs(x))) / lit(127.0))
      .select(col(idCol), col("scale"),
        posexplode(col("__v")).as(Seq("pos", "x")))
      .select(col(idCol), col("pos"),
        when(col("scale") === 0, lit(0))
          .otherwise(round(col("x") / col("scale"))).cast("int").as("q"),
        col("scale")))
  }

  /** Brute-force top-k over int8-quantized vectors — the serving-side
    * payoff of [[quantizeInt8]]: the score is the reconstructed inner
    * product `(q_a·q_b) · scale_a · scale_b`, whose integer dot product
    * is EXACT (≤ 64·127² fits a long with room to spare) and
    * SIMD-friendly, touching 4× less memory bandwidth than the float
    * path — at 100 TB of embeddings, ANN is bandwidth-bound and this
    * is the difference between scanning 25 TB and 100 TB per probe.
    * Queries broadcast (small side); ranking is per-query with
    * corpus-id tie-break on the 6dp-rounded score — a total order.
    * Compose with [[lshSignature]] bucketing for the sub-linear path;
    * this is the in-bucket scorer. Same non-finite-vector drop
    * contract as [[quantizeInt8]]. */
  def int8TopK(queries: Df, corpus: Df, vecCol: String, idCol: String,
               k: Int, excludeSelf: Boolean = true): Df = {
    require(k >= 1, s"int8TopK: k must be >= 1: $k")
    def quant(d: org.apache.spark.sql.DataFrame, idAs: String,
              qAs: String, sAs: String) =
      d.select(col(idCol).as(idAs),
          transform(col(vecCol), _.cast("double")).as("__v"))
        .where(col("__v").isNotNull &&
          !exists(col("__v"), x => x.isNull || isnan(x) || abs(x) >= lit(1e18)))
        .withColumn(sAs, array_max(transform(col("__v"), x => abs(x))) / lit(127.0))
        .withColumn(qAs,
          when(col(sAs) === 0, transform(col("__v"), _ => lit(0)))
            .otherwise(transform(col("__v"), x => round(x / col(sAs)).cast("int"))))
        .select(col(idAs), col(qAs), col(sAs))
    val q = broadcast(quant(queries.sdf, "query_id", "q_q", "q_s"))
    val c = quant(corpus.sdf, "corpus_id", "c_q", "c_s")
    val dot = aggregate(
      zip_with(col("q_q"), col("c_q"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("corpus_id"))
    val joined = c.join(q,
      if (excludeSelf) col("query_id") =!= col("corpus_id") else lit(true))
    new Df(joined
      .withColumn("score", round(dot * col("q_s") * col("c_s"), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "score"))
  }

  /** Deterministic Lloyd k-means over an embedding column — the
    * clustering primitive data-mixing and SemDeDup-style pipelines run
    * before per-cluster work (Abbas et al. 2023 cluster with k-means,
    * then dedup inside clusters). Unlike [[ivfTopK]]'s MLlib quantizer
    * (seeded k-means||, reproducible but not replayable in SQL), every
    * step here is exact-arithmetic-replayable: init = the `k`
    * lowest-id vectors (cluster index = id rank), assignment =
    * argmin of the 6dp-rounded squared L2 distance with cluster-index
    * tie-break (a total order), update = per-dimension mean through
    * DECIMAL(28,10) sums ([[meanPool]]'s order-independence trick)
    * rounded to 6dp. Runs exactly `iters` assignment rounds with an
    * update between consecutive ones. Vectors that are NULL or carry a
    * non-finite element are dropped up front (same corpus contract as
    * the q110 centroid battery). A cluster left empty keeps its
    * previous centroid.
    *
    * Output: (`idCol`, `cluster`). Scale: the corpus is touched once
    * per round with k×dim centroid LITERALS riding the plan (no
    * broadcast variable, no MLlib Vector conversion); the update is
    * one partial+final agg keyed on (cluster, pos) — k×dim rows to the
    * driver per round, independent of corpus size. Lloyd's driver-side
    * iteration is inherent (MLlib does the same); rounds = `iters`,
    * typically ≤ 10 for curation use. */
  /** The Lloyd assignment's argmin as one expression: index of the
    * nearest codebook entry under the 6dp-rounded squared L2 with
    * code-index tie-break (a total order — the same one the kMeans
    * family uses, so training and encode agree exactly). */
  private def argminCode(sub: org.apache.spark.sql.Column,
                         book: Array[Array[Double]])
      : org.apache.spark.sql.Column =
    array_sort(array(book.zipWithIndex.toIndexedSeq.map { case (ctr, c) =>
      struct(round(aggregate(
        zip_with(sub, lit(ctr), (x, w) => (x - w) * (x - w)),
        lit(0.0), (acc, t) => acc + t), 6).as("d"), lit(c).as("code"))
    }: _*)).getItem(0).getField("code")

  /** Product-quantization codebooks: the corpus dimension is split into
    * `m` contiguous subspaces and each gets its own deterministic Lloyd
    * codebook of `codes` centroids. Returns (dim, books) where
    * `books(j)(c)` is centroid c of subspace j. The corpus frame must
    * already carry (`__id`, `__v: Array[Double]`) with the
    * [[fullyFinite]] contract applied. */
  private def pqTrain(corpus: org.apache.spark.sql.DataFrame,
                      m: Int, codes: Int, iters: Int)
      : (Int, Array[Array[Array[Double]]]) = {
    // ONE seed collect does the work of m+1 jobs: the `codes` lowest-id
    // FULL vectors carry the dimension AND, sliced per subspace, every
    // codebook's Lloyd init (identical to per-subspace lowest-id inits —
    // same rows, same order)
    val seed = corpus.sort("__id").limit(codes).collect()
      .map(_.getSeq[Double](1).toArray)
    val dim = seed.headOption.map(_.length)
      .getOrElse(throw new IllegalArgumentException(
        "pq: no usable vectors — corpus is empty after dropping " +
          "NULL/non-finite embeddings"))
    require(m >= 1 && dim % m == 0,
      s"pq: dim=$dim must split evenly into m=$m subspaces")
    val sd = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seed.map(_.slice(j * sd, (j + 1) * sd)))
    // joint update: all m subspace assignments ride ONE plan, keyed on
    // (subspace, code, pos) — one corpus pass and one driver round-trip
    // per Lloyd round instead of m. Decimal sums are order-independent,
    // so the means are bit-identical to per-subspace training (and to
    // the oracle's SQL replay). Empty clusters keep their previous
    // centroid (rows simply don't arrive for them).
    for (_ <- 1 until iters) {
      val next = books.map(_.map(_.clone))
      val perSub = (0 until m).map { j =>
        val sub = slice(col("__v"), j * sd + 1, sd)
        struct(lit(j).as("j"), argminCode(sub, books(j)).as("code"),
          sub.as("s"))
      }
      corpus
        .select(explode(array(perSub: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.code").as("code"),
          posexplode(col("e.s")).as(Seq("pos", "x")))
        .groupBy("j", "code", "pos")
        .agg(round(sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("c"))
        .collect()
        .foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      books = next
    }
    (dim, books)
  }

  /** Per-subspace nearest-codebook-entry expression: argmin of the
    * 6dp-rounded squared L2 with code-index tie-break — the same total
    * order the training assignment used, so encode(train corpus) IS the
    * final Lloyd assignment. A dim mismatch vs the trained codebooks
    * fails loudly (a silent slice of a wrong-length vector would encode
    * garbage codes). */
  private def pqCodeExpr(v: org.apache.spark.sql.Column, dim: Int, sd: Int,
                         j: Int, book: Array[Array[Double]])
      : org.apache.spark.sql.Column =
    when(size(v) === dim, argminCode(slice(v, j * sd + 1, sd), book))
      .otherwise(raise_error(concat(
        lit(s"pq: expected dim=$dim, got vector of length "),
        size(v).cast("string"))))

  /** Product quantization encode — the 32–64× compression tier of the
    * ANN family (int8 is 4×; PQ stores m small code ints per vector):
    * at 100 TB of float32 embeddings the PQ code table is ~1.5 TB and
    * fits hot storage. Each vector's dimension range is split into `m`
    * contiguous subspaces; each subspace is encoded as the index of its
    * nearest centroid in a per-subspace deterministic Lloyd codebook
    * ([[kMeans]] rules: lowest-id init, 6dp argmin with index
    * tie-break, decimal centroid means — every step SQL-replayable).
    * Output in LONG format (`idCol`, subspace, code). Vectors that are
    * NULL or carry a non-finite element are dropped (the corpus
    * contract); a dim mismatch fails loudly.
    *
    * Scale: training touches the corpus `m × iters` times with
    * codes×subDim centroid LITERALS riding the plan; encoding is one
    * pure codegen'd projection pass, no shuffle (the explode to long
    * format is ×m, for the relational output shape only). */
  def pqEncode(vecs: Df, vecCol: String, idCol: String,
               m: Int = 2, codes: Int = 4, iters: Int = 2): Df = Materialize.scope { s =>
    val corpus = s.persist(vecs.sdf
      .select(col(idCol).as("__id"),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .where(fullyFinite(col("__v"))))
    val (dim, books) = pqTrain(corpus, m, codes, iters)
    val sd = dim / m
    val pairs = (0 until m).map { j =>
      struct(lit(j).as("subspace"),
        pqCodeExpr(col("__v"), dim, sd, j, books(j)).as("code"))
    }
    new Df(corpus
      .select(col("__id").as(idCol), explode(array(pairs: _*)).as("sc"))
      .select(col(idCol), col("sc.subspace").as("subspace"),
        col("sc.code").as("code")))
  }

  /** PQ asymmetric-distance (ADC) top-k: the corpus is scanned as
    * codes, never as floats. Each query precomputes an m×codes distance
    * table (exact 6dp-rounded squared L2 from its subvectors to every
    * codebook centroid); a corpus row's approximate distance is m table
    * lookups summed — `round(Σ_j dt_j[code_j], 6)`, ranked ascending
    * with corpus-id tie-break. Queries broadcast with their tables; the
    * corpus is touched in one codegen'd pass over m ints per row, so
    * the scan is bandwidth-bound on the COMPRESSED representation —
    * compose with [[ivfTopK]] cells or [[lshSignature]] buckets for the
    * sub-linear candidate path; this is the in-cell scorer at scale.
    * Same corpus/query vector contract and loud dim-mismatch behavior
    * as [[pqEncode]]. */
  def pqTopK(queries: Df, corpus: Df, vecCol: String, idCol: String,
             k: Int, m: Int = 2, codes: Int = 4, iters: Int = 2,
             excludeSelf: Boolean = true): Df = Materialize.scope { s =>
    require(k >= 1, s"pqTopK: k must be >= 1: $k")
    val corpusD = s.persist(corpus.sdf
      .select(col(idCol).as("__id"),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .where(fullyFinite(col("__v"))))
    val (dim, books) = pqTrain(corpusD, m, codes, iters)
    val sd = dim / m
    val coded = corpusD.select(
      col("__id").as("corpus_id") +:
        (0 until m).map(j =>
          pqCodeExpr(col("__v"), dim, sd, j, books(j)).as(s"code_$j")): _*)
    def dtable(qv: org.apache.spark.sql.Column, j: Int) = {
      val sub = slice(qv, j * sd + 1, sd)
      array(books(j).toIndexedSeq.map { ctr =>
        round(aggregate(zip_with(sub, lit(ctr), (x, w) => (x - w) * (x - w)),
          lit(0.0), (acc, t) => acc + t), 6)
      }: _*)
    }
    val q = broadcast(queries.sdf
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), _.cast("double")).as("__q"))
      .where(fullyFinite(col("__q")))
      .select(col("query_id") +:
        (0 until m).map(j =>
          when(size(col("__q")) === dim, dtable(col("__q"), j))
            .otherwise(raise_error(concat(
              lit(s"pqTopK: expected dim=$dim, got query vector of length "),
              size(col("__q")).cast("string")))).as(s"dt_$j")): _*))
    val joined = coded.join(q,
      if (excludeSelf) col("query_id") =!= col("corpus_id") else lit(true))
    val approx = round((0 until m).map(j =>
      element_at(col(s"dt_$j"), col(s"code_$j") + 1)).reduce(_ + _), 6)
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_d2").asc, col("corpus_id"))
    new Df(joined
      .withColumn("approx_d2", approx)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "approx_d2"))
  }

  def kMeans(vecs: Df, vecCol: String, idCol: String,
             k: Int, iters: Int): Df = Materialize.scope { s =>
    require(k >= 1, s"kMeans: k must be >= 1: $k")
    require(iters >= 1, s"kMeans: iters must be >= 1: $iters")
    val corpus = s.persist(vecs.sdf
      .select(col(idCol).as("__id"),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .where(fullyFinite(col("__v"))))
    val init = corpus.sort("__id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(init.nonEmpty,
      "kMeans: no usable vectors — corpus is empty after dropping " +
        "NULL/non-finite embeddings")
    def d2(ctr: Array[Double]) =
      round(aggregate(zip_with(col("__v"), lit(ctr), (x, w) => (x - w) * (x - w)),
        lit(0.0), (acc, t) => acc + t), 6)
    def assign(centers: Array[Array[Double]]) =
      corpus.withColumn("cluster",
        array_sort(array(centers.zipWithIndex.toIndexedSeq.map { case (ctr, i) =>
          struct(d2(ctr).as("d"), lit(i).as("cluster"))
        }: _*)).getItem(0).getField("cluster"))
    var centers = init
    var assigned = assign(centers)
    for (_ <- 1 until iters) {
      val next = centers.map(_.clone)
      assign(centers)
        .select(col("cluster"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(round(sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("c"))
        .collect()
        .foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centers = next
      assigned = assign(centers)
    }
    new Df(assigned.select(col("__id").as(idCol), col("cluster")))
  }

  /** Population covariance matrix of an embedding column, upper
    * triangle incl. diagonal: (i, j, cov) for 0 ≤ i ≤ j < d, with
    * cov(i,j) = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n), rounded 6dp. The input to
    * every driver-side spectral step (PCA whitening before SemDeDup,
    * OPQ rotation for [[pqEncode]]): d×d is driver-sized even when n
    * is 100 TB, so THIS is the operator that must distribute — the
    * eigendecomposition downstream is a numpy-sized afterthought.
    *
    * Rows with NULL or non-finite embeddings are dropped (the
    * [[fullyFinite]] contract). Both sums go through decimal casts
    * (products DECIMAL(28,12), elements DECIMAL(18,8) — exact and
    * order-independent; headroom to ~1e10 rows of unit-scale values).
    *
    * Scale: the d(d+1)/2 products per row are built by a codegen'd
    * nested `transform` (array expression — no UDF, no self-join) and
    * fed straight into a partial+final aggregate: the explosion is
    * CPU-only and map-side, combined to d(d+1)/2 groups BEFORE the
    * shuffle, so shuffle volume is O(d² · partitions), independent of
    * n. The per-dimension mean table (d rows) broadcasts to the pair
    * table. */
  /** PCA basis: all `d` eigenvalues (descending) and the top-`k`
    * eigenvectors of the population covariance matrix, plus the
    * per-dimension means. The distributed half is [[covarianceMatrix]]
    * + one mean aggregation; the d×d symmetric eigenproblem is solved
    * DRIVER-SIDE by cyclic Jacobi — the Spark-MLlib-style split (RowMatrix
    * .computePrincipalComponents does the same: covariance on the
    * cluster, LAPACK on the driver), because d×d is driver-sized even
    * when n is 100 TB. Practical d ≲ 10⁴ (d² doubles on the driver).
    *
    * Determinism: Jacobi on the 6dp-rounded covariance, eigenpairs
    * sorted by (−λ, then first-differing component), each vector's
    * sign fixed so its largest-|component| entry is positive. */
  case class PcaBasis(eigenvalues: Array[Double],
                      components: Array[Array[Double]],
                      means: Array[Double])

  /** Mahalanobis outlier scores over numeric columns: per row,
    * `m² = (x − μ)ᵀ Σ⁻¹ (x − μ)` against the corpus mean μ and
    * population covariance Σ of `cols` — the multivariate upgrade of
    * the per-column z-score (robustOutliers): a row can sit inside
    * every marginal yet be wildly off the joint distribution (a 1-token
    * doc with a 100k quality score), and m² is exactly that distance.
    *
    * Output: `idCols..., cols..., <out>` with the 6dp-rounded m²
    * (NULL for rows with NULL/non-finite inputs — they have no
    * position in the fitted space).
    *
    * Scale: one [[momentsRow]] aggregate pass fits μ/Σ (d²-sized
    * state, never row-shaped shuffle), the d×d inverse is driver
    * arithmetic, and scoring is a map-side codegen'd projection with
    * μ/Σ⁻¹ riding the plan as literals — no join, no second shuffle.
    *
    * Determinism: Σ entries are the 6dp-rounded [[covCell]] values;
    * for d ≤ 3 the inverse uses the closed-form adjugate with a FIXED
    * operation order, so an oracle replaying the same formulas lands on
    * identical doubles. d > 3 solves by Gauss-Jordan with partial
    * pivoting (deterministic, but float order differs from any SQL
    * closed form — spec-tested rather than oracle-replayed).
    * A singular Σ (collinear or constant columns) raises a named
    * error. */
  def mahalanobisScores(df: Df, cols: Seq[String], idCols: Seq[String],
                        out: String = "maha2"): Df = {
    require(cols.nonEmpty, "mahalanobisScores: cols must be non-empty")
    require(idCols.nonEmpty, "mahalanobisScores: idCols must be non-empty")
    val d = cols.size
    val asVec = array(cols.map(c => col(c).cast("double")): _*)
    // moments via SCALAR codegen'd decimal sums — d is STATIC here (the
    // named cols), so the d + d(d+1)/2 aggregates stay inside
    // whole-stage codegen, where [[momentsRow]]'s TypedImperativeAggregate
    // (built for runtime-width ARRAY columns) cannot. Values are
    // identical by VectorDecimalSum's own contract: each position IS
    // sum(cast(x AS DECIMAL(p,s))) → cast(DOUBLE). Same upper-triangle
    // row-major order, same fullyFinite domain, same decimal widths.
    val fin = FanOut(df.sdf)
      .select(cols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__x$i") }: _*)
      .where(fullyFinite(array((0 until d).map(i => col(s"__x$i")): _*)))
    val prodAggs = for (i <- 0 until d; j <- i until d) yield
      sum((col(s"__x$i") * col(s"__x$j")).cast("decimal(28,12)"))
        .cast("double").as(s"__sp_${i}_$j")
    val meanAggs = (0 until d).map(i =>
      sum(col(s"__x$i").cast("decimal(18,8)")).cast("double").as(s"__sm_$i"))
    val aggsAll = prodAggs ++ meanAggs :+ count(lit(1)).as("__n")
    val row = fin.agg(aggsAll.head, aggsAll.tail: _*).head()
    require(!row.isNullAt(0),
      "mahalanobisScores: no fully-finite rows to fit on")
    val nSp = d * (d + 1) / 2
    val sp = (0 until nSp).map(row.getDouble)
    val sm = (nSp until nSp + d).map(row.getDouble)
    val n = row.getLong(nSp + d)
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val v = covCell(sp(idx), sm(i), sm(j), n)
      cov(i)(j) = v; cov(j)(i) = v
      idx += 1
    }
    val inv = invertSpd(cov)
    val mu = sm.map(_ / n)
    val xs = cols.map(c => col(c).cast("double"))
    val centered = xs.zipWithIndex.map { case (x, i) => x - lit(mu(i)) }
    // quadratic form, row-major term order, left-associated adds — the
    // order the oracle replays
    val m2 = (for (i <- 0 until d; j <- 0 until d)
      yield centered(i) * lit(inv(i)(j)) * centered(j)).reduce(_ + _)
    // NOT fanned out (r22 counter-experiment): FanOut on this scoring
    // pass measured 1.48 -> 1.55 s on q260 — callers typically filter
    // the scored frame (q260 keeps 5%), the filter pushes below the
    // added exchange's map side anyway, and the d² multiply-adds per
    // row are too cheap to amortize the round-robin shuffle.
    new Df(df.sdf.select((idCols ++ cols).map(col) :+
      (round(when(fullyFinite(asVec), m2), 6) + lit(0.0)).as(out): _*))
  }

  /** d×d symmetric-positive-definite inverse: closed-form adjugate for
    * d ≤ 3 (fixed op order — SQL-replayable), Gauss-Jordan with
    * partial pivoting beyond. Raises a named error on a singular
    * matrix. */
  private[graft] def invertSpd(c: Array[Array[Double]]): Array[Array[Double]] = {
    val d = c.length
    def singular(det: Double): Nothing = throw new IllegalArgumentException(
      s"mahalanobisScores: singular covariance (det=$det) — " +
        "collinear or constant columns")
    d match {
      case 1 =>
        if (c(0)(0) == 0.0) singular(0.0)
        Array(Array(1.0 / c(0)(0)))
      case 2 =>
        val det = c(0)(0) * c(1)(1) - c(0)(1) * c(0)(1)
        if (det == 0.0) singular(det)
        Array(
          Array(c(1)(1) / det, -c(0)(1) / det),
          Array(-c(0)(1) / det, c(0)(0) / det))
      case 3 =>
        val a00 = c(1)(1) * c(2)(2) - c(1)(2) * c(1)(2)
        val a01 = c(0)(1) * c(2)(2) - c(1)(2) * c(0)(2)
        val a02 = c(0)(1) * c(1)(2) - c(1)(1) * c(0)(2)
        val det = c(0)(0) * a00 - c(0)(1) * a01 + c(0)(2) * a02
        if (det == 0.0) singular(det)
        val i00 = a00 / det
        val i01 = -a01 / det
        val i02 = a02 / det
        val i11 = (c(0)(0) * c(2)(2) - c(0)(2) * c(0)(2)) / det
        val i12 = -(c(0)(0) * c(1)(2) - c(0)(1) * c(0)(2)) / det
        val i22 = (c(0)(0) * c(1)(1) - c(0)(1) * c(0)(1)) / det
        Array(
          Array(i00, i01, i02),
          Array(i01, i11, i12),
          Array(i02, i12, i22))
      case _ =>
        // Gauss-Jordan, partial pivot; augmented [c | I]
        val a = Array.tabulate(d, 2 * d)((i, j) =>
          if (j < d) c(i)(j) else if (j - d == i) 1.0 else 0.0)
        for (piv <- 0 until d) {
          val best = (piv until d).maxBy(r => math.abs(a(r)(piv)))
          val t = a(piv); a(piv) = a(best); a(best) = t
          if (math.abs(a(piv)(piv)) < 1e-12) singular(a(piv)(piv))
          val p = a(piv)(piv)
          for (j <- 0 until 2 * d) a(piv)(j) /= p
          for (r <- 0 until d if r != piv) {
            val f = a(r)(piv)
            if (f != 0.0) for (j <- 0 until 2 * d) a(r)(j) -= f * a(piv)(j)
          }
        }
        Array.tabulate(d, d)((i, j) => a(i)(j + d))
    }
  }

  def pcaBasis(vecs: Df, vecCol: String, k: Int): PcaBasis = {
    require(k >= 1, s"pcaBasis: k must be >= 1: $k")
    // ONE distributed pass: the shared moment aggregate yields the
    // product sums, component sums, and count in a single 1-row
    // collect; the d×d covariance assembly and the mean division are
    // driver arithmetic on d²-sized arrays (IEEE-identical to the
    // in-plan [[covarianceMatrix]] expansion via [[covCell]])
    val rows = momentsRow(vecs, vecCol).collect()
    require(rows.nonEmpty && !rows(0).isNullAt(0),
      "pcaBasis: empty corpus after dropping NULL/non-finite embeddings")
    val sp = rows(0).getSeq[Double](0)
    val sm = rows(0).getSeq[Double](1)
    val n = rows(0).getLong(2)
    val d = sm.length
    require(k <= d, s"pcaBasis: k=$k exceeds dimension $d")
    val c = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val v = covCell(sp(idx), sm(i), sm(j), n)
      c(i)(j) = v; c(j)(i) = v
      idx += 1
    }
    val (lam, vecsM) = jacobiEigen(c)
    val means = sm.map(_ / n).toArray
    PcaBasis(lam, vecsM.take(k), means)
  }

  /** Cyclic Jacobi for a symmetric matrix: returns (eigenvalues desc,
    * eigenvectors as rows, matching order), deterministically
    * sign-fixed. O(d³) per sweep, driver-side only. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-24) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          // sign(0) must be +1: equal diagonal entries take the full
          // 45° rotation, not a no-op
          val t = (if (theta >= 0) 1.0 else -1.0) /
            (math.abs(theta) + math.sqrt(theta * theta + 1))
          val cos = 1 / math.sqrt(t * t + 1)
          val sin = t * cos
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = cos * aip - sin * aiq
            a(i)(q) = sin * aip + cos * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = cos * api - sin * aqi
            a(q)(i) = sin * api + cos * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = cos * vip - sin * viq
            v(i)(q) = sin * vip + cos * viq
          }
        }
      }
      sweep += 1
    }
    val pairs = (0 until d).map { j =>
      val vec = Array.tabulate(d)(i => v(i)(j))
      val am = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      val fixed = if (vec(am) < 0) vec.map(-_) else vec
      (a(j)(j), fixed)
    }.sortBy(-_._1)   // stable: λ-ties keep deterministic Jacobi order
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** PCA projection: each embedding → its top-`k` principal
    * coordinates pcₐ = vₐ·(x − μ), emitted as (idCol, pcs
    * Array[Double]). The basis is computed once ([[pcaBasis]]) and
    * rides the k·d projection expressions as broadcast literals — the
    * projection itself is one codegen'd map-side pass, no shuffle, no
    * UDF (the [[kMeans]] centroid-literal pattern). Rows with NULL or
    * non-finite embeddings are dropped. */
  def pcaProject(vecs: Df, vecCol: String, idCol: String, k: Int): Df = {
    val basis = pcaBasis(vecs, vecCol, k)
    projectOnBasis(vecs, vecCol, idCol, basis)
  }

  /** Projection against an already-computed basis (so callers can
    * reuse one [[pcaBasis]] across corpora — train-fit, apply-many). */
  def projectOnBasis(vecs: Df, vecCol: String, idCol: String,
                     basis: PcaBasis): Df = {
    val centered = expr("zip_with(__v, __mu, (x, m) -> x - m)")
    val pcs = basis.components.toIndexedSeq.map { comp =>
      aggregate(zip_with(col("__c"), lit(comp), (x, w) => x * w),
        lit(0.0), (acc, t) => acc + t)
    }
    new Df(vecs.sdf
      .select(col(idCol),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .where(fullyFinite(col("__v")))
      .withColumn("__mu", lit(basis.means))
      .withColumn("__c", centered)
      .select(col(idCol), array(pcs: _*).as("pcs")))
  }

  /** PCA whitening: project onto the top-`k` principal components and
    * scale each by 1/√λ, so the output's population covariance is the
    * k×k IDENTITY — the standard preconditioning before SemDeDup-style
    * cosine clustering (decorrelated axes make cosine thresholds mean
    * the same thing in every direction) and before product
    * quantization. Emits (id, wpcs: array<double> of length k).
    *
    * Scale: one [[pcaBasis]] moment pass + a map-side projection with
    * the basis and scales riding the plan as literals — no second
    * shuffle. Non-positive eigenvalues (rank-deficient corpus, k too
    * deep) raise a named error rather than emitting Inf. */
  def whiten(vecs: Df, vecCol: String, idCol: String, k: Int): Df = {
    val basis = pcaBasis(vecs, vecCol, k)
    val lam = basis.eigenvalues.take(k)
    require(lam.forall(_ > 1e-12),
      s"whiten: non-positive eigenvalue among top-$k " +
        s"(min ${lam.min}) — corpus is rank-deficient at this k")
    val scales = lam.map(l => 1.0 / math.sqrt(l))
    val proj = projectOnBasis(vecs, vecCol, idCol, basis)
    new Df(proj.sdf.select(col(idCol),
      zip_with(col("pcs"), lit(scales), (x, s) => x * s).as("wpcs")))
  }

  /** shared one-pass moment aggregate over the fully-finite vectors:
    * `__sp` = positional DECIMAL(28,12) sums of the d(d+1)/2
    * upper-triangle products, `__sm` = positional DECIMAL(18,8) sums of
    * the raw components, `__n` = row count. One row out per key tuple
    * (one row total when `keys` is empty). */
  private def momentsRow(vecs: Df, vecCol: String,
                         keys: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val aggs = Seq(GraftFunctions.vectorSum(col("__p"), 28, 12).as("__sp"),
      GraftFunctions.vectorSum(col("__v"), 18, 8).as("__sm"),
      count(lit(1)).as("__n"))
    // the d²-per-row product build + decimal partial aggregation is the
    // whole cost — parallelize it even when the scan is one row group
    FanOut(vecs.sdf)
      .select(keys.map(col) :+
        transform(col(vecCol), _.cast("double")).as("__v"): _*)
      .where(fullyFinite(col("__v")))
      .select(keys.map(col) ++ Seq(
        expr("""flatten(transform(__v, (xi, i) ->
          |  transform(slice(__v, i + 1, size(__v) - i), xj -> xi * xj)))"""
          .stripMargin).as("__p"),
        col("__v")): _*)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** the covariance cell formula shared by the in-plan expansion and
    * [[pcaBasis]]'s driver-side replay — IEEE-identical double ops */
  private[graft] def covCell(sp: Double, smi: Double, smj: Double,
                             n: Long): Double =
    JBigDecimalRound.round6(sp / n - (smi / n) * (smj / n)) + 0.0

  /** expand the moment arrays back to the (keys..., i, j, cov) table
    * in-plan: upper-triangle flat index of (i, j) is
    * i*d - i*(i-1)/2 + (j-i) */
  private def expandCov(agg: org.apache.spark.sql.DataFrame,
                        keys: Seq[String]): Df = {
    new Df(agg.select(keys.map(col) ++ Seq(explode(expr(
      """flatten(transform(sequence(0, size(__sm) - 1), i ->
        |  transform(sequence(i, size(__sm) - 1), j ->
        |    struct(i AS i, j AS j,
        |      __sp[i * size(__sm) - (i * (i - 1)) DIV 2 + (j - i)] AS sp,
        |      __sm[i] AS smi, __sm[j] AS smj))))""".stripMargin)).as("g"),
      col("__n")): _*)
      .select(keys.map(col) ++ Seq(col("g.i").as("i"), col("g.j").as("j"),
        // `+ 0.0` canonicalizes IEEE signed zero: Spark's round() goes
        // through BigDecimal (never -0.0) while a C-float ROUND (e.g.
        // DuckDB's) maps tiny negatives to -0.0 — the two differ
        // bitwise on any value in (-5e-7, 0). -0.0 + 0.0 = +0.0.
        (round(col("g.sp") / col("__n") -
          (col("g.smi") / col("__n")) * (col("g.smj") / col("__n")), 6)
          + lit(0.0)).as("cov")): _*))
  }

  def covarianceMatrix(vecs: Df, vecCol: String): Df =
    // ONE scan, no row explosion: each row's d(d+1)/2 upper-triangle
    // products ride a codegen'd nested transform into the native
    // graft_vector_sum aggregate (exact positional DECIMAL sums —
    // identical values to the explode → sum(cast) pipeline, which
    // shuffled O(n·d²) (i, j, p) rows where this shuffles one d²/2
    // vector per partition). Means come from the same pass.
    expandCov(momentsRow(vecs, vecCol), Nil)

  /** Per-group population covariance matrices — (keys..., i, j, cov),
    * upper triangle per key tuple. The per-domain / per-cluster /
    * per-label embedding second-moment profile (feeds per-cluster
    * whitening, Mahalanobis gates, drift monitors comparing a domain's
    * covariance against the corpus). Same one-pass
    * [[covarianceMatrix]] machinery with the moment aggregate keyed:
    * shuffle volume is O(groups · d²) vectors, never row-shaped. */
  def covarianceMatrixBy(vecs: Df, vecCol: String,
                         keys: Seq[String]): Df = {
    require(keys.nonEmpty,
      "covarianceMatrixBy: keys must be non-empty (use covarianceMatrix)")
    expandCov(momentsRow(vecs, vecCol, keys), keys)
  }
}

/** driver-side replay of the engine's `round(double, 6)` — shortest-
  * representation BigDecimal, HALF_UP, non-finite passthrough — so
  * [[Similarity.covCell]] lands on the same doubles as the in-plan
  * expression */
private[graft] object JBigDecimalRound {
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
