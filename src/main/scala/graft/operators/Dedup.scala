package graft.operators

import graft.api.Df
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — the extension
  * family the north star requires beyond the reference's surface
  * (the reference only has exact `DropDuplicates`,
  * `/root/reference/pandas_expr/_reductions.py:52-79`).
  *
  * Scale design (100 TB posture):
  *  - exact dedup: hash-shuffle on the dedup key only — Spark's
  *    partial-aggregate dropDuplicates; never a global sort;
  *  - MinHash-LSH: per-row signatures (no shuffle) → explode to
  *    (band, key) → shuffle groups only candidate buckets → pairwise
  *    check INSIDE buckets. Quadratic work is confined to same-bucket
  *    collisions, the standard sub-quadratic near-dup pipeline;
  *  - SimHash: per-row 60-bit signature, band the bits for blocking;
  *  - embedding near-dup: cosine restricted to same coarse bucket
  *    (label / LSH), never an unbucketed cross join.
  *
  * Persisted intermediates follow the [[Materialize]] cache-lifetime
  * contract.
  */
object Dedup {

  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Shared call-time validation (the ivfTopK `fitSample` convention):
    * every knob fails HERE with its name, not deep inside an executor
    * with an opaque expression error. */
  private def requireArgs(op: String)(checks: (Boolean, String)*): Unit =
    checks.foreach { case (ok, msg) => require(ok, s"$op: $msg") }

  /** Default per-(band,key) bucket-size cap for the LSH candidate joins.
    * One hot bucket (an empty-string shingle, a boilerplate header)
    * otherwise degenerates to O(b²) pairs inside a single join partition
    * — the classic LSH scale-killer. Buckets larger than the cap are
    * DROPPED (documented recall trade; near-dups that share only a hot
    * bucket are missed). Observability: [[lshBucketStats]] reports the
    * bucket-size distribution so the dropped fraction can be audited. */
  val DefaultMaxBucket: Int = 100000

  /** Shingle table with the 32-bit hashes PRE-COMPUTED: minhashSignature
    * references its hashed input k times, and CollapseProject would
    * inline a bare md5 transform into every reference — k md5 passes
    * per shingle. Callers persist this table so the hashes materialize
    * once. */
  private def shingleTable(docs: Df, textCol: String, idCol: String,
                           shingleN: Int): DataFrame =
    FanOut(docs.sdf)
      .withColumn("__sh", wordShingles(col(textCol), shingleN))
      .where(size(col("__sh")) > 0)
      .withColumn("__hs", transform(col("__sh"), hash32(_)))
      .select(col(idCol), col("__sh"), col("__hs"))

  /** (id, band, key) rows of the LSH index over a [[shingleTable]]. */
  private def bandedIndex(shingles: DataFrame, idCol: String,
                          bands: Int, r: Int): DataFrame =
    shingles
      .withColumn("__sig", minhashSignature(col("__hs"), bands * r))
      .select(col(idCol),
        posexplode(array((0 until bands).map(b => bandKey(col("__sig"), b, r)): _*))
          .as(Seq("__band", "__key")))

  /** Bucket-size distribution of the MinHash LSH index — run alongside
    * [[minhashPairs]] to audit how much a `maxBucket` cap drops. */
  def lshBucketStats(docs: Df, textCol: String, idCol: String,
                     shingleN: Int = 3, bands: Int = 3, r: Int = 4): Df = Materialize.scope { s =>
    // persisted even though the DataFrame is referenced once: the
    // EXPRESSION `__hs` is referenced 12× by minhashSignature (and __sig
    // 3× by the band keys), and CollapseProject inlines the md5 work
    // into every reference — up to ~36 hash passes per shingle on an
    // audit meant to scan the full corpus. The persist is the
    // materialization boundary.
    val sh = s.persist(shingleTable(docs, textCol, idCol, shingleN))
    new Df(bandedIndex(sh, idCol, bands, r)
      .groupBy(col("__band"), col("__key"))
      .agg(count(lit(1)).as("bucket_size")))
  }

  /** MinHash-LSH recall audit — what did the banding + `maxBucket` cap
    * actually trade? On a DETERMINISTIC hash-sample of the corpus (the
    * [[graft.api.Df.splitByHash]] md5-bucket convention — replayable by
    * an external engine, unlike `rand()`), run the [[minhashPairs]]
    * pipeline with the production knobs AND exact all-pairs ground
    * truth, and emit ONE row:
    * `sampled_docs, true_pairs, lsh_pairs, recall, overcap_buckets,
    * rows_in_overcap_buckets`.
    *
    * `recall = lsh_pairs / true_pairs` exactly, because the LSH side's
    * verification step makes its pairs a SUBSET of ground truth (both
    * sides apply the same exact-jaccard ≥ `minJaccard` filter); with no
    * true pairs in the sample recall is vacuously 1.0. The cap columns
    * count the UNCAPPED index's over-limit buckets and the rows inside
    * them — the raw material the cap discards.
    *
    * Ground truth is an all-pairs check WITHIN the sample — a
    * deliberate O(s²) brute force (the [[Similarity.topKBrute]]
    * convention): size `sampleFraction` so s stays thousands, not
    * millions; the output is a statistical recall bound for the full
    * corpus, not an exhaustive audit of it. */
  def lshRecallAudit(docs: Df, textCol: String, idCol: String,
                     sampleFraction: Double, shingleN: Int = 3,
                     bands: Int = 3, r: Int = 4, minJaccard: Double = 0.5,
                     maxBucket: Int = DefaultMaxBucket): Df = Materialize.scope { s =>
    requireArgs("lshRecallAudit")(
      (sampleFraction > 0.0 && sampleFraction <= 1.0,
        s"sampleFraction must be a fraction in (0, 1]: $sampleFraction"),
      (shingleN >= 1, s"shingleN must be >= 1: $shingleN"),
      (bands >= 1 && r >= 1, s"bands and r must be >= 1: bands=$bands r=$r"),
      (minJaccard >= 0.0 && minJaccard <= 1.0,
        s"minJaccard must be in [0, 1]: $minJaccard"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    val buckets = 10000
    val sampled = docs.sdf.where(
      hash32(col(idCol).cast("string")) % buckets <
        math.round(sampleFraction * buckets))
    val sh = s.persist(shingleTable(new Df(sampled), textCol, idCol, shingleN))
    // UNCAPPED index: feeds both the cap audit and (through capBuckets)
    // the candidate join — one signature pass, two consumers. The
    // capped index is persisted too: it feeds BOTH candidate self-join
    // sides (the minhashPairs convention), and unpersisted the
    // bucket-count window would run once per side.
    val bandedAll = s.persist(bandedIndex(sh, idCol, bands, r))
    val banded = s.persist(capBuckets(bandedAll, maxBucket))
    val a = banded.select(col(idCol).as("id_a"), col("__band"), col("__key"))
    val b = banded.select(col(idCol).as("id_b"), col("__band"), col("__key"))
    val candidates = a.join(b, Seq("__band", "__key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val lshPairs = verifyJaccard(candidates, sh, sh, idCol, minJaccard)
    val truthCands = sh.select(col(idCol).as("id_a"))
      .crossJoin(sh.select(col(idCol).as("id_b")))
      .where(col("id_a") < col("id_b"))
    val truthPairs = verifyJaccard(truthCands, sh, sh, idCol, minJaccard)
    val capStats = bandedAll
      .groupBy(col("__band"), col("__key")).agg(count(lit(1)).as("__bs"))
      .agg(
        coalesce(sum(when(col("__bs") > maxBucket, 1L)), lit(0L))
          .as("overcap_buckets"),
        coalesce(sum(when(col("__bs") > maxBucket, col("__bs"))), lit(0L))
          .as("rows_in_overcap_buckets"))
    // 1-row scalar aggregates composed via broadcast cross joins (the
    // q59b scalar shape — never a data-sized cartesian)
    val row = sampled.agg(count(lit(1)).as("sampled_docs"))
      .crossJoin(truthPairs.agg(count(lit(1)).as("true_pairs")))
      .crossJoin(lshPairs.agg(count(lit(1)).as("lsh_pairs")))
      .crossJoin(capStats)
    new Df(row.select(col("sampled_docs"), col("true_pairs"), col("lsh_pairs"),
      when(col("true_pairs") > 0,
        round(col("lsh_pairs").cast("double") / col("true_pairs"), 6))
        .otherwise(lit(1.0)).as("recall"),
      col("overcap_buckets"), col("rows_in_overcap_buckets")))
  }

  /** Same-bucket candidate pairs WITHOUT a self-join (r21): one
    * aggregation collects each bucket's members (buckets above
    * `maxBucket` dropped whole — the [[capBuckets]] contract, enforced
    * for free by `size()`), then two nested explodes emit the ordered
    * (a < b) pairs. vs the capBuckets + self-join formulation this is
    * ONE explode pass and ONE exchange instead of two of each plus a
    * window SORT per side: AQE does not reuse the twin per-side
    * subtrees in practice (r21 measured both sides materializing their
    * own explode+exchange+window on every pairs query — separate
    * TableCacheQueryStages break the parents' canonical equality), and
    * the hash aggregate replaces the window's sort outright. Keep the
    * payload to the id plus a few scalar columns (set sizes,
    * signatures); fat payloads (vectors, shingle arrays) stay on the
    * join formulation. Pair volume is identical to the join's (b² per
    * bucket, quadratic work confined to capped buckets).
    *
    * Hot-key pre-filter (r22, VERDICT r21 #1): the r21 formulation
    * capped buckets AFTER collect_list had accumulated the whole bucket,
    * so one pathological key (degenerate band, stop-word prefix shingle)
    * meant an unbounded, unspillable per-group buffer — the cap
    * protected pair volume but not executor memory. Over-cap keys are
    * now dropped BEFORE any per-group buffer forms, by one of two
    * result-identical pre-filters behind an estimated scale gate
    * ([[Gate]]; DedupSpec pins the two paths differentially):
    *
    *  - small index (optimizer estimate < `spark.graft.dedup.
    *    pairsPrecountBytes`, default 16 MiB): a window count over the
    *    SAME bucket-key partitioning the aggregation needs — no extra
    *    exchange, no extra query stage; the window buffers each bucket
    *    in a spillable ExternalAppendOnlyUnsafeRowArray, so even a
    *    pathological bucket spills instead of OOMing. The in-stage sort
    *    is cheap while the index is small (r22 measured the 12-query
    *    sf0.1 family at 16.9 s window vs 19.4 s anti-join — the
    *    anti-join's extra serial AQE stage per query dominates at small
    *    SF).
    *  - large or stats-less index: a per-key count aggregate over the
    *    shared bucket-key exchange feeds a broadcast ANTI join (the
    *    over-cap key set is tiny by construction — one row per key
    *    whose bucket exceeds maxBucket; null-safe equality keeps a
    *    null-key bucket under the same cap contract groupBy gives it).
    *    No data-scaled sort anywhere: raw rows shuffle once and the
    *    collect_list fallback sort runs once, reduce-side (r22 measured
    *    the 5-query sf1 family at 20.0 s anti vs 23.9 s window — the
    *    window's full-index sort scales with data, the anti-join's
    *    stage overhead does not).
    *
    * Same buckets dropped on both paths as the r21 size()-filter
    * (pre-count == collected size) — results identical; AQE's
    * empty-relation propagation erases the anti join at runtime when no
    * bucket is over cap. */
  private def bucketPairs(index: DataFrame, keyCols: Seq[String],
                          idCol: String, payload: Seq[String],
                          maxBucket: Int): DataFrame = {
    val kc = keyCols.map(col)
    val sz = Gate.estimatedBytes(index)
    val thresh = Gate.knob(index.sparkSession,
      "spark.graft.dedup.pairsPrecountBytes", 16L << 20)
    log.debug(s"bucketPairs: keys=$keyCols estBytes=$sz thresh=$thresh")
    val keep = if (sz.exists(_ < thresh)) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(kc: _*)
      index.withColumn("__bn", count(lit(1)).over(w))
        .where(col("__bn") <= maxBucket).drop("__bn")
    } else {
      val shuffled = index.repartition(kc: _*)
      val overCap = shuffled.groupBy(kc: _*)
        .agg(count(lit(1)).as("__bc"))
        .where(col("__bc") > maxBucket)
        .select(keyCols.map(k => col(k).as(s"__oc_$k")): _*)
      shuffled.join(overCap,
        keyCols.map(k => col(k) <=> col(s"__oc_$k")).reduce(_ && _), "left_anti")
    }
    val fields = (idCol +: payload).map(col)
    keep.groupBy(kc: _*)
      .agg(collect_list(struct(fields: _*)).as("__ms"))
      .select(explode(col("__ms")).as("__a"), col("__ms"))
      .select(col("__a"), explode(col("__ms")).as("__b"))
      .where(col("__a")(idCol) < col("__b")(idCol))
  }

  /** Drop rows in over-large buckets (partitioned by `cols`). The
    * window count shuffles once on the bucket key — the SAME
    * partitioning the candidate self-join needs, so AQE/exchange-reuse
    * pays no extra shuffle. */
  private def capBuckets(banded: DataFrame, maxBucket: Int,
                         cols: Seq[String] = Seq("__band", "__key")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(cols.map(col): _*)
    banded.withColumn("__bn", count(lit(1)).over(w))
      .where(col("__bn") <= maxBucket).drop("__bn")
  }

  /** Shared exact-jaccard verification tail: candidate (id_a, id_b)
    * pairs equi-join their shingle sets back on (plain id joins —
    * Catalyst/AQE picks broadcast when a side fits and shuffle beyond;
    * an explicit broadcast() hint is HONORED, not gracefully dropped,
    * and would OOM the driver at billions of docs, so no hint here),
    * score, keep ≥ minJaccard. One definition so [[minhashPairs]] and
    * [[minhashJoin]] can never drift. */
  private def verifyJaccard(candidates: DataFrame, shA: DataFrame,
                            shB: DataFrame, idCol: String,
                            minJaccard: Double): DataFrame = {
    val pairs = candidates
      .join(shA.select(col(idCol).as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(shB.select(col(idCol).as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    pairs
      .withColumn("jaccard", round(inter.cast("double") /
        ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter), 6))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact dedup on a canonical fingerprint of the text (whitespace /
    * order / duplication-insensitive). Keeps min doc id per fingerprint. */
  def exactByFingerprint(docs: Df, textCol: String, idCol: String): Df =
    new Df(docs.sdf
      .withColumn("__fp", fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__fp"))

  /** One-row corpus duplication report — the health check a pipeline
    * runs BEFORE deciding whether the expensive near-dup passes are
    * worth scheduling: total docs, distinct exact texts (raw md5, not
    * the canonical [[exactByFingerprint]] key — this is the audit of
    * byte-duplication), docs belonging to a duplicate group, the
    * largest group, and the fraction of rows a keep-one exact dedup
    * would delete. Two aggregations over 8-byte-ish hashes; text never
    * shuffles. */
  def dedupReport(docs: Df, textCol: String): Df = {
    val groups = docs.sdf
      .select(md5(col(textCol).cast("binary")).as("__fp"))
      .groupBy(col("__fp")).agg(count(lit(1)).as("__ct"))
    new Df(groups.agg(
      sum(col("__ct")).cast("long").as("n_docs"),
      count(lit(1)).as("n_unique"),
      sum(when(col("__ct") > 1, col("__ct")).otherwise(0L)).cast("long")
        .as("n_in_dup_groups"),
      max(col("__ct")).as("max_group"),
      round((sum(col("__ct")) - count(lit(1))).cast("double") /
        sum(col("__ct")), 6).as("removable_fraction")))
  }

  /** Incremental exact dedup of a NEW batch against an EXISTING corpus
    * with two-sided Bloom semi-join reduction — the crawl-refresh shape
    * where |corpus| >> |batch| and shuffling corpus fingerprints against
    * every batch would dominate the pipeline.
    *
    * Result is EXACTLY the null-safe anti-join
    * `newDocs WHERE fingerprint NOT IN corpus` (a Bloom filter has no
    * false negatives, and every Bloom hit is re-verified by a real
    * anti-join), so `expectedCorpusItems` trades prefilter selectivity
    * only, never correctness. Plan shape:
    *  1. aggregate corpus fingerprints into ONE fixed-size Bloom sketch
    *     (map-side partial merge — no shuffle of corpus rows, the
    *     [[graft.api.Ser.nuniqueApprox]] sketch posture; the verify
    *     step re-SCANS the corpus, but pruned map-side to candidate
    *     fingerprints — two cheap scans instead of caching a
    *     corpus-sized intermediate);
    *  2. batch rows whose fingerprint misses the sketch are DEFINITELY
    *     new — they bypass the join entirely;
    *  3. the hits (true dupes + ~fpp of the batch) build a second Bloom
    *     that prunes CORPUS rows map-side before the verify anti-join,
    *     so the join shuffles candidates-sized inputs on both sides —
    *     the classic two-sided Bloom reduction.
    * The two `head` calls collect one serialized sketch each — BOUNDED
    * by `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (8 MiB
    * default), never data-sized, the same driver-boundedness class as
    * the capped `withCatCodes` dictionary. NULL fingerprints (null
    * text) never match in the anti-join and are kept as new — step 2's
    * `might_contain` is made null-safe by hashing BEFORE the filter
    * (xxhash64 never returns NULL), so both paths agree.
    *
    * Size `expectedCorpusItems` near the corpus' distinct-fingerprint
    * count: the sketch allocates per PARTIAL-aggregation task, so a
    * 100 TB-sized default against a small corpus pays megabytes of
    * buffer churn per task for no selectivity (the q141 bench query
    * sizes it to its corpus). Oversizing is a cost knob only — never a
    * correctness one. Spark CLAMPS the estimate at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (4M by
    * default) — silently, which at a 500M-fingerprint corpus would put
    * the false-positive rate near 1 and quietly degrade the operator to
    * a plain anti-join with extra passes. This call REFUSES estimates
    * over the clamp instead: raise the conf (and its `maxNumBits`
    * sibling) to match the corpus, then pass the honest estimate. */
  def bloomDedupNew(newDocs: Df, corpus: Df, textCol: String, idCol: String,
                    expectedCorpusItems: Long = 4000000L): Df = Materialize.scope { s =>
    val maxItems = newDocs.spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    requireArgs("bloomDedupNew")(
      (expectedCorpusItems >= 1,
        s"expectedCorpusItems must be >= 1: $expectedCorpusItems"),
      (expectedCorpusItems <= maxItems,
        s"expectedCorpusItems=$expectedCorpusItems exceeds " +
          s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems — " +
          "Spark would clamp the sketch silently and its false-positive " +
          "rate would approach 1; raise the conf (and maxNumBits) to the " +
          "corpus size first"))
    val outCols = newDocs.sdf.columns.toSeq
    val h = xxhash64(col("__fp"))
    val newFp = s.persist(newDocs.sdf
      .withColumn("__fp", fingerprint(col(textCol))))
    val corpusFp = corpus.sdf.select(fingerprint(col(textCol)).as("__fp"))
    val corpusBloom = corpusFp
      .agg(GraftFunctions.bloomAgg(h, expectedCorpusItems).as("b"))
      .head().getAs[Array[Byte]](0)
    val survivors =
      if (corpusBloom == null) newFp // empty corpus: the whole batch is new
      else {
        val cand = s.persist(newFp.where(GraftFunctions.mightContain(corpusBloom, h)))
        val definitelyNew = newFp.where(!GraftFunctions.mightContain(corpusBloom, h))
        // candidate sketch sized from the ACTUAL candidate count — cand
        // is already persisted, so the count is one cached scan, and a
        // corpus-sized buffer per partial task for a handful of hits is
        // exactly the waste the sizing scaladoc warns about. Above the
        // conf clamp the sketch just loses selectivity on this secondary
        // prune — cap rather than refuse (the primary corpus sketch
        // already fail-fasted above).
        val candCount = cand.count()
        val verified =
          if (candCount == 0) cand.limit(0)
          else {
            val candBloom = cand
              .agg(GraftFunctions.bloomAgg(h,
                math.min(math.max(candCount, 1L), maxItems)).as("b"))
              .head().getAs[Array[Byte]](0)
            cand.join(
              corpusFp.where(GraftFunctions.mightContain(candBloom, xxhash64(col("__fp")))),
              Seq("__fp"), "left_anti")
          }
        definitelyNew.unionByName(verified)
      }
    new Df(survivors.select(outCols.map(col): _*))
  }

  /** MinHash-LSH candidate pairs: returns (id_a, id_b, jaccard) for
    * document pairs sharing at least one LSH band, with the EXACT
    * shingle-set jaccard computed for verification (standard
    * candidate-then-verify). k = bands·r signature size. */
  def minhashPairs(docs: Df, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 3, r: Int = 4,
                   minJaccard: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket): Df = Materialize.scope { s =>
    requireArgs("minhashPairs")(
      (shingleN >= 1, s"shingleN must be >= 1: $shingleN"),
      (bands >= 1 && r >= 1, s"bands and r must be >= 1: bands=$bands r=$r"),
      (minJaccard >= 0.0 && minJaccard <= 1.0,
        s"minJaccard must be in [0, 1]: $minJaccard"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    // Docs with an empty shingle set (shorter than shingleN tokens) are
    // excluded up front: they have no shingles to match on, and their
    // all-null signatures would otherwise pile every short doc into one
    // degenerate "" band key.
    //
    // The shingle table is referenced THREE times (signature stage +
    // both verification join sides) and Spark plans trees, not DAGs —
    // unpersisted, the tokenize+shingle scan would run once per
    // reference. Materialize it once (the classic "build the LSH index
    // once" pattern; spilled to disk beyond memory). Barrier like the
    // sibling operators (ADVICE r21): without it the three consumer
    // subtrees materialize the shingle pipeline concurrently under AQE
    // before the cache exists.
    val shingles = s.barrier(shingleTable(docs, textCol, idCol, shingleN))
    // explode to one row per band — candidates collide on (band, key).
    // Only (id, band, key) flows into the bucket aggregation; the
    // shingle arrays are re-joined onto the (much smaller) deduped
    // candidate pairs for verification — at scale the wide arrays never
    // shuffle. Pairs come from ONE grouped pass over the index
    // ([[bucketPairs]]) instead of a capBuckets window + self-join.
    val candidates = bucketPairs(bandedIndex(shingles, idCol, bands, r),
      Seq("__band", "__key"), idCol, Nil, maxBucket)
      .select(col(s"__a.$idCol").as("id_a"), col(s"__b.$idCol").as("id_b"))
      .distinct()
    new Df(verifyJaccard(candidates, shingles, shingles, idCol, minJaccard))
  }

  /** Cross-corpus MinHash join — INCREMENTAL dedup: which new docs are
    * near-dups of an existing corpus. Same banded-LSH machinery as
    * [[minhashPairs]] but A×B instead of A×A: each side gets its own
    * signature/band index (capped independently), candidates collide on
    * (band, key), exact shingle jaccard verifies. Output
    * (id_a = corpus doc, id_b = new doc, jaccard).
    *
    * The scale shape every ingestion pipeline needs: the corpus index is
    * the big side (build once, reuse across batches by persisting the
    * banded frame externally), the new batch is small — AQE broadcasts
    * its banded index into the candidate join. */
  def minhashJoin(corpus: Df, newDocs: Df, textCol: String, idCol: String,
                  shingleN: Int = 3, bands: Int = 3, r: Int = 4,
                  minJaccard: Double = 0.5,
                  maxBucket: Int = DefaultMaxBucket): Df = Materialize.scope { s =>
    requireArgs("minhashJoin")(
      (shingleN >= 1, s"shingleN must be >= 1: $shingleN"),
      (bands >= 1 && r >= 1, s"bands and r must be >= 1: bands=$bands r=$r"),
      (minJaccard >= 0.0 && minJaccard <= 1.0,
        s"minJaccard must be in [0, 1]: $minJaccard"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    val shA = s.barrier(shingleTable(corpus, textCol, idCol, shingleN))
    val shB = s.barrier(shingleTable(newDocs, textCol, idCol, shingleN))
    val bA = capBuckets(bandedIndex(shA, idCol, bands, r), maxBucket)
    val bB = capBuckets(bandedIndex(shB, idCol, bands, r), maxBucket)
    val candidates = bA.select(col(idCol).as("id_a"), col("__band"), col("__key"))
      .join(bB.select(col(idCol).as("id_b"), col("__band"), col("__key")),
        Seq("__band", "__key"))
      .select("id_a", "id_b").distinct()
    new Df(verifyJaccard(candidates, shA, shB, idCol, minJaccard))
  }

  /** 60-bit SimHash per document: bit i of the signature is the sign of
    * Σ_tokens (±1 by bit i of the token hash). Near-dups differ in few
    * bits (small Hamming distance). Computed by explode + 60 conditional
    * sums — one partial+final aggregate pair, portable to SQL oracles. */
  def simhash(docs: Df, textCol: String, idCol: String, bits: Int = 60): Df = {
    // hash60 supplies 60 hash bits: bit positions >= 60 would read
    // constant zeros and silently degrade the signature
    requireArgs("simhash")(
      (bits >= 1 && bits <= 60, s"bits must be in [1, 60]: $bits"))
    val toks = docs.sdf.select(col(idCol),
      explode(array_distinct(tokens(col(textCol)))).as("__tok"))
      .withColumn("__h", hash60(col("__tok")))
    val bitSums = (0 until bits).map { i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__b$i")
    }
    val sums = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    // pack sign bits into a long (bit i set iff sum_i > 0)
    val sig = (0 until bits).map { i =>
      when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    new Df(sums.select(col(idCol), sig.as("simhash")))
  }

  /** SimHash near-dup candidate pairs via banded bits + exact Hamming
    * distance ≤ maxHamming verification.
    *
    * Recall contract (pigeonhole): the 60 signature bits are split into
    * `maxHamming + 1` DISJOINT bands, so any pair within Hamming distance
    * maxHamming has at least one identical band and is guaranteed to be
    * a candidate. (A fixed 4-band split would only guarantee recall up
    * to distance 3.) The guarantee is exact only while no (band, key)
    * bucket exceeds `maxBucket`: over-cap buckets are dropped, so a pair
    * whose ONLY shared band lands in a dropped bucket is missed — the
    * same documented recall trade as [[minhashPairs]]; audit bucket
    * sizes with [[lshBucketStats]] before trusting exactness. */
  def simhashPairs(docs: Df, textCol: String, idCol: String,
                   maxHamming: Int = 6,
                   maxBucket: Int = DefaultMaxBucket): Df = {
    // pigeonhole needs maxHamming + 1 disjoint bands out of 60 bits
    requireArgs("simhashPairs")(
      (maxHamming >= 0 && maxHamming <= 59,
        s"maxHamming must be in [0, 59]: $maxHamming"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    val bits = 60
    val bands = maxHamming + 1
    val width = (bits + bands - 1) / bands
    // single consumer after the bucketPairs rewrite (r21) — no persist
    // needed: the signature pipeline feeds ONE grouped pass
    val sigs = simhash(docs, textCol, idCol).sdf
    val bandCols = (0 until bands).map(b =>
      shiftright(col("simhash"), b * width).bitwiseAND((1L << width) - 1).as(s"__band$b"))
    val banded = sigs.select(col(idCol) +: col("simhash") +: bandCols: _*)
    val exploded = banded.select(col(idCol), col("simhash"),
      posexplode(array((0 until bands).map(b => col(s"__band$b")): _*))
        .as(Seq("__band", "__key")))
    // pairs from ONE grouped pass over the banded index ([[bucketPairs]]
    // — replaces the capBuckets window + self-join); the signature rides
    // as pair payload so the Hamming check needs no join back
    val ham = bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
    new Df(bucketPairs(exploded, Seq("__band", "__key"), idCol,
      Seq("simhash"), maxBucket)
      .select(col(s"__a.$idCol").as("id_a"), col(s"__b.$idCol").as("id_b"),
        col("__a.simhash").as("sig_a"), col("__b.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", ham)
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming"))
  }

  /** Exact n-gram Jaccard similarity pairs: docs sharing ≥1 shingle are
    * joined through an inverted index (explode → equi-join on shingle),
    * so only overlapping pairs are ever materialized. */
  def ngramJaccardPairs(docs: Df, textCol: String, idCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        maxBucket: Int = DefaultMaxBucket): Df = Materialize.scope { s =>
    requireArgs("ngramJaccardPairs")(
      (n >= 1, s"n must be >= 1: $n"),
      (minJaccard >= 0.0 && minJaccard <= 1.0,
        s"minJaccard must be in [0, 1]: $minJaccard"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    // Exact jaccard with two standard scale techniques, both preserved
    // exactly in the SQL oracle:
    //  1. shingles join as sorted 32-bit hashes (8-byte shuffle keys,
    //     deterministic ~2^-32 collision merge);
    //  2. PREFIX FILTERING (AllPairs/PPJoin): under a global shingle
    //     order, J(A,B) ≥ t ⇒ the first |A|-⌈t·|A|⌉+1 shingles of A
    //     intersect B's prefix — so the inverted index only contains
    //     each doc's prefix, shrinking candidate pairs quadratically
    //     while staying EXACT (verification uses the full sets).
    // materialized once: referenced by both self-join sides AND the
    // verification lookups (4 uses; Spark plans trees, not DAGs)
    val sh = s.barrier(FanOut(docs.sdf).select(col(idCol).as("id"),
      array_sort(array_distinct(transform(wordShingles(col(textCol), n), hash32(_)))).as("sh"))
      .withColumn("nsh", size(col("sh"))))
    // ε guards the FP product before ceil: e.g. 0.07·100 evaluates to
    // 7.000000000000001 and an unguarded ceil gives 8, shortening the
    // prefix by one and silently MISSING qualifying pairs — breaking
    // the exactness contract for thresholds that aren't binary-exact.
    val prefixLen =
      (col("nsh") - ceil(col("nsh") * minJaccard - lit(1e-9)) + 1).cast("int")
    // hot-shingle cap: a shingle present in b docs generates b² candidate
    // rows in one join partition; posting lists above maxBucket are
    // dropped (same trade + observability story as the LSH caps).
    val inv = sh.select(col("id"), col("nsh"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("g"))
    // Pairs from ONE grouped pass over the prefix index ([[bucketPairs]]
    // — replaces the capBuckets window + self-join), then the LENGTH
    // FILTER (AllPairs/PPJoin companion to the prefix filter, r21):
    // J(A,B) = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ t ⇒
    // min ≥ t·max — an EXACT necessary condition evaluated on the 4-byte
    // set sizes already in the index, dropping length-mismatched
    // candidates before the distinct and the two verification joins ever
    // see them (same ε guard as the prefix bound).
    val candidates = bucketPairs(inv, Seq("g"), "id", Seq("nsh"), maxBucket)
      .where(least(col("__a.nsh"), col("__b.nsh")).cast("double") >=
        lit(minJaccard) * greatest(col("__a.nsh"), col("__b.nsh")) - lit(1e-9))
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"))
      .distinct()
    // verify joins are plain equi-joins on the doc id — AQE broadcasts
    // the per-doc shingle table while it fits and shuffles beyond (an
    // explicit hint would be honored unconditionally and OOM the driver
    // at real corpus sizes). Verification scores with the native
    // codegen'd merge-loop jaccard (graft.plans.SortedJaccard) — O(n+m)
    // per pair with no hash-set allocation; arrays are sorted+distinct
    // by construction.
    val full = sh.select(col("id"), col("sh"), col("nsh"))
    val pairs = candidates
      .join(full.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(full.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    new Df(pairs
      .withColumn("jaccard", round(GraftFunctions.jaccardSorted(col("sh_a"), col("sh_b")), 6))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard"))
  }

  /** Embedding near-dup pairs for UNLABELED corpora: the coarse block
    * is a random-hyperplane LSH signature of the vector itself
    * ([[graft.operators.Similarity.lshSignature]] — deterministic
    * hash-derived planes, so SQL oracles replay every bucket bit),
    * then [[embeddingCosinePairs]] runs inside those blocks. More
    * planes → smaller blocks → cheaper + lower recall (near-dups with
    * cosine < 1 can land in different buckets; scaled EXACT duplicates
    * always collide — sign bits are scale-invariant). NULL vectors get
    * a NULL signature and drop out (lshSignature's contract). */
  def embeddingLshPairs(vecs: Df, vecCol: String, idCol: String,
                        minCosine: Double, planes: Int = 8, dim: Int = 64,
                        maxBucket: Int = DefaultMaxBucket): Df = {
    requireArgs("embeddingLshPairs")(
      (planes >= 1 && dim >= 1, s"planes and dim must be >= 1: planes=$planes dim=$dim"))
    val bucketed = vecs.sdf.withColumn("__bk",
      graft.operators.Similarity.lshSignature(col(vecCol), planes, dim))
    embeddingCosinePairs(new Df(bucketed.where(col("__bk").isNotNull)),
      vecCol, idCol, "__bk", minCosine, maxBucket)
  }

  /** Cross-corpus embedding near-dup join — INCREMENTAL semantic dedup
    * (the [[minhashJoin]] shape over vectors): which new vectors are
    * embedding-near an existing corpus. Each side gets its own
    * hyperplane-LSH signature ([[graft.operators.Similarity.lshSignature]]
    * — same deterministic planes on both sides, so near-identical
    * vectors collide) and its own bucket cap, candidates collide on the
    * signature, the codegen'd cosine kernel verifies. Output
    * (id_a = corpus vector, id_b = new vector, cosine ≥ minCosine) —
    * anti-join the batch on id_b to admit only novel content.
    *
    * Scale: one equi-join keyed on the signature; one signature per
    * vector means each (a, b) pair is produced at most once — no
    * DISTINCT pass needed (unlike banded MinHash). The corpus side is
    * the big one; the batch's bucketed index is small and AQE
    * broadcasts it. Vectors that are NULL or carry a non-finite
    * element never pair: dropped up front by the
    * [[graft.operators.Similarity.fullyFinite]] corpus contract
    * (lshSignature alone only NULLs NULL-element vectors — NaN
    * elements would set every sign bit and funnel all damaged vectors
    * into one hot bucket, evicting legitimate ones via the cap). */
  def embeddingJoin(corpus: Df, newVecs: Df, vecCol: String, idCol: String,
                    minCosine: Double, planes: Int = 8, dim: Int = 64,
                    maxBucket: Int = DefaultMaxBucket): Df = {
    requireArgs("embeddingJoin")(
      (planes >= 1 && dim >= 1, s"planes and dim must be >= 1: planes=$planes dim=$dim"),
      (minCosine >= -1.0 && minCosine <= 1.0,
        s"minCosine must be in [-1, 1]: $minCosine"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    def side(d: Df, idAs: String, vAs: String) =
      capBuckets(d.sdf
        .where(graft.operators.Similarity.fullyFinite(col(vecCol)))
        .withColumn("__bk",
          graft.operators.Similarity.lshSignature(col(vecCol), planes, dim))
        .select(col(idCol).as(idAs), col(vecCol).as(vAs), col("__bk")),
        maxBucket, cols = Seq("__bk"))
    new Df(side(corpus, "id_a", "v_a")
      .join(side(newVecs, "id_b", "v_b"), Seq("__bk"))
      .withColumn("cosine", round(GraftFunctions.cosine(col("v_a"), col("v_b")), 6))
      .where(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine"))
  }

  /** Connected components over a near-dup pair graph — the dedup
    * ENDGAME: candidate pairs ([[minhashPairs]]/[[simhashPairs]]/
    * [[ngramJaccardPairs]]/[[embeddingCosinePairs]]) → clusters → one
    * representative per cluster (the min id, `keepRepresentatives`).
    *
    * Iterative min-label propagation with ADAPTIVE POINTER DOUBLING:
    * every node adopts the smallest of its own label, its neighbors'
    * labels, and — from round 3 on — its label's label (the
    * path-halving shortcut: label chains collapse geometrically, so
    * convergence needs ~log₂(component diameter) rounds instead of
    * O(diameter); both candidates are labels of provably-connected
    * nodes, so the connectivity invariant is untouched, and the
    * round-3 gate keeps the common clique-like graph — converged
    * before the shortcut would engage — on the plain one-shuffle
    * rounds). Near-dup graphs are dense same-bucket cliques of
    * tiny diameter, so 2–3 rounds in practice; `maxIter` bounds the
    * adversarial case (a long mutation CHAIN — doc A near-dups B
    * near-dups C… — which a plain propagation walks one hop per round
    * and the shortcut crosses in logarithmic rounds).
    *
    * Scale design: each round is the edge⋈label equi-join on the node
    * id + a partial/final min aggregate + one |V|-row label⋈label
    * shortcut join — no collect of graph data, convergence detected by
    * an aggregate count of changed labels. Lineage is cut every round with `localCheckpoint`
    * (truncates the growing plan — the classic iterative-Spark hazard;
    * swap for reliable `checkpoint` on a cluster where executor loss
    * matters). The edge list is persisted once, referenced every round.
    *
    * Cache lifetime: each round's checkpoint is unpersisted as soon as
    * the NEXT one materializes (the eager `localCheckpoint` return —
    * nothing references the superseded blocks after that), so the loop
    * holds at most two |V|-row checkpoints at any moment. The FINAL
    * checkpoint backs the returned labels. NOTE a released
    * localCheckpoint cannot recompute — release is terminal; act on the
    * result first.
    *
    * Output: (`idCol`, cluster) for every node that appears in `pairs`;
    * docs with no near-dup pair are their own singleton cluster and are
    * simply absent (callers left-join + coalesce to self).
    *
    * `broadcastMaxNodes` is a measured scale gate on |V| ([[Gate]]). */
  def connectedComponents(pairs: Df, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          broadcastMaxNodes: Long = 250000): Df = Materialize.scope { s =>
    requireArgs("connectedComponents")(
      (maxIter >= 1, s"maxIter must be >= 1: $maxIter"),
      (broadcastMaxNodes >= 0,
        s"broadcastMaxNodes must be >= 0: $broadcastMaxNodes"))
    // symmetrize in ONE pass: the union-of-reverse formulation evaluates
    // the caller's pair pipeline once per union arm (candidate join +
    // verification, twice — r21 profile), while an in-row explode of
    // [(src,dst),(dst,src)] reads it once for the same edge set
    val edges0 = s.persist(pairs.sdf
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct())
    // ROUND-1 FUSED INTO INITIALIZATION (r21): the node derivation was a
    // distinct() over edges0 — the same src-keyed aggregate as a min(dst)
    // pass, so computing min(own id, min neighbor id) here costs NOTHING
    // over deriving the node set, and replaces the first loop round's
    // edge⋈label join + checkpoint + count outright (guide §2.4: the
    // edge list is symmetric and every node appears as src, so
    // least(src, min(dst)) IS the round-1 label exactly — labels start
    // one propagation ahead; dense clique-like near-dup graphs are
    // CONVERGED at init and pay only the single verification round).
    var labels = s.checkpoint(edges0.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nm"))
      .select(col("id"), least(col("id"), col("__nm")).as("cluster")))
    // |V| is already materialized (the checkpoint above) — counting it is
    // an O(partitions) action over cached blocks. When the label table is
    // vocabulary-sized, every per-round labels-side join takes an explicit
    // broadcast hint: the round's exchanges collapse to the one inherent
    // edge-keyed partial+final min, cutting 2-3 shuffle stages per round
    // (near-dup graphs after LSH capping are almost always in this
    // regime — |V| = docs with at least one near-dup pair). Above the
    // gate (a true corpus-scale graph) nothing |V|-sized broadcasts:
    // the shuffle rounds run over the dst-re-laid-out edge list (below);
    // labels and cluster ids are IDENTICAL across the gate (min-label
    // fixpoint, not order-sensitive).
    val bcastLabels = Gate.measured(broadcastMaxNodes)(labels.count())
    def hint(d: DataFrame): DataFrame = if (bcastLabels) broadcast(d) else d
    // shuffle mode only: re-layout the persisted edges by dst ONCE (the
    // pageRank move). distinct() leaves (src,dst) hash partitioning,
    // which does NOT satisfy the per-round dst-keyed labels join — every
    // round re-exchanged all |E| rows on top of the inherent src-keyed
    // min aggregate. With dst partitioning the persisted layout
    // satisfies the join's required distribution, so per round only the
    // |V|-row labels side shuffles (A/B at the |V|=1M ScaleProbe:
    // BENCHLOG round 18). One extra |E| pass+exchange at setup,
    // amortized over every round INCLUDING the residual check; in
    // broadcast mode the labels join never shuffles edges, so the
    // re-layout would be pure overhead and is skipped.
    val edges =
      if (bcastLabels) edges0
      else {
        val byDst = s.barrier(edges0.repartition(col("dst")))
        s.release(edges0)
        byDst
      }
    // the checkpointed frame backing the CURRENT labels — unpersisted the
    // moment the next round's checkpoint supersedes it (r12 fix: these
    // leaked, one |V|-row MEMORY_AND_DISK RDD per iteration)
    var prevCkpt = labels
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(hint(labels.select(col("id").as("dst"), col("cluster").as("nl"))), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nbr_min"))
      val base = labels.join(hint(nbrMin), Seq("id"), "left")
      // ADAPTIVE pointer doubling: the shortcut join is pure overhead on
      // the common near-dup graph (clique-like, converged by round 2-3),
      // so the first rounds run the plain one-shuffle propagation and
      // the label-of-label join engages only once the graph has proven
      // deeper — measured +0.3-0.5 s per run at sf0.1 when always-on,
      // zero when gated, same O(log d) endgame for chains. Left join —
      // a label is always a node id present in `labels`, but stay total
      // under that invariant rather than silently dropping rows.
      // gate at i < 1: init already holds the round-1 labels, so loop
      // round 0 is ABSOLUTE round 2 — the shortcut engages at absolute
      // round 3 exactly as before the fusion
      val withCands = if (i < 1) {
        base.select(col("id"), col("cluster"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("next"))
      } else {
        val shortcut = labels.select(col("cluster").as("__from"), col("id"))
          .join(hint(labels.select(col("id").as("__from"), col("cluster").as("ll"))),
            Seq("__from"), "left")
          .select(col("id"), col("ll"))
        base.join(hint(shortcut), Seq("id"), "left")
          .select(col("id"), col("cluster"),
            least(col("cluster"),
              coalesce(col("ll"), col("cluster")),
              coalesce(col("nbr_min"), col("cluster"))).as("next"))
      }
      val updated = s.checkpoint(withCands) // eager: materialized when this returns...
      // ...so the superseded round is unreferenced
      s.release(prevCkpt)
      prevCkpt = updated
      changed = updated.where(col("next") < col("cluster")).count()
      // no second checkpoint: labels is a depth-1 projection over the
      // checkpointed `updated`, its lineage cannot grow round-to-round
      labels = updated.select(col("id"), col("next").as("cluster"))
      i += 1
    }
    // the loop's `changed` lags by a round: the FINAL propagation can
    // both apply the last updates and report changed > 0, so a run that
    // converges exactly at maxIter would look unconverged while the
    // labels are already final. One residual check (an aggregate, not a
    // collect) distinguishes truly-unfinished from just-finished — and
    // checking the NEIGHBOR rule alone is sufficient: the edge list is
    // symmetric, so neighbor-min stability forces label equality across
    // every edge, i.e. per-component uniform labels (no shortcut can be
    // pending at a neighbor-stable fixpoint).
    if (changed > 0) {
      val residual = edges
        .join(hint(labels.select(col("id").as("dst"), col("cluster").as("nl"))), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nbr_min"))
        .join(hint(labels), Seq("id"))
        .where(col("nbr_min") < col("cluster")).count()
      // fail loudly: labels from a stopped-early run are INCONSISTENT
      // (one component, several cluster ids) and downstream dedup would
      // silently keep duplicates; the scope releases what it holds
      if (residual > 0)
        throw new IllegalStateException(
          s"connectedComponents: not converged after ${maxIter + 1} rounds " +
            s"(the fused init round + $maxIter loop rounds; $residual labels " +
            "still pending) — raise maxIter (rounds needed grow with log2 " +
            "of the largest component's diameter)")
    }
    s.release(edges)
    new Df(labels)
  }

  /** Incremental connected components — the dedup endgame's BATCH
    * MAINTENANCE path. A corpus dedup service doesn't re-derive the
    * full pair graph per crawl batch (at 100 TB the shingle/LSH pass
    * over the historical corpus dominates everything); it keeps the
    * last run's LABELS and, per batch, computes only the NEW pairs
    * (within-batch via [[minhashPairs]] + batch-vs-corpus via
    * [[minhashJoin]] — A×B, never a corpus self-join), then merges.
    *
    * The merge is exact, not an approximation: an (id, cluster) label
    * table is a lossless connectivity summary of the old edge set —
    * replacing the old edges with one STAR EDGE per row (id ↔ cluster;
    * representatives contribute a self-loop, so singleton clusters
    * survive) preserves the component partition, and cluster labels
    * stay min-ids because every old vertex is still a vertex. So
    * `incrementalComponents(oldLabels, newPairs)` equals
    * [[connectedComponents]] over (old edges ∪ new edges) exactly —
    * fuzz-pinned differentially and oracle-checked (q263 replays the
    * two-phase run against the one-shot recursive-CTE closure).
    *
    * Scale: the CC input shrinks from |old edges| + |new| to
    * |old VERTICES| + |new| (a deduped labeling is far smaller than
    * its pair graph — dense near-dup cliques collapse to stars), and
    * star graphs have diameter ≤ 2, so old components cost at most 2
    * label-propagation rounds; convergence is bounded by the diameter
    * of the NEW merge structure, not history. Same per-round contract
    * as [[connectedComponents]]: one shuffle, checkpoint rotation,
    * final checkpoint attached to the result. */
  def incrementalComponents(oldLabels: Df, newPairs: Df,
                            aCol: String = "id_a", bCol: String = "id_b",
                            maxIter: Int = 20,
                            broadcastMaxNodes: Long = 250000): Df = {
    requireArgs("incrementalComponents")(
      (oldLabels.columns.contains("id") && oldLabels.columns.contains("cluster"),
        s"oldLabels must carry (id, cluster) — a connectedComponents " +
          s"output; got [${oldLabels.columns.mkString(", ")}]"))
    val star = oldLabels.sdf.select(col("id").as(aCol), col("cluster").as(bCol))
    connectedComponents(
      new Df(star.union(newPairs.sdf.select(col(aCol), col(bCol)))),
      aCol, bCol, maxIter, broadcastMaxNodes)
  }

  /** Dedup by component: every doc keeps its cluster representative —
    * itself when it has no near-dup pair (left-join + coalesce over
    * [[connectedComponents]]' edge-touched nodes). Filtering to
    * `idCol = representative` yields the deduped corpus. */
  def keepRepresentatives(docs: Df, pairs: Df, idCol: String,
                          aCol: String = "id_a", bCol: String = "id_b"): Df = {
    val ccDf = connectedComponents(pairs, aCol, bCol)
    val cc = ccDf.sdf.withColumnRenamed("id", idCol)
    new Df(docs.sdf.join(cc, Seq(idCol), "left")
      .withColumn("representative", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")).inheriting(ccDf)
  }

  /** [[keepRepresentatives]] with a QUALITY rule: each cluster keeps
    * its member with the highest `scoreCol` (ties → highest id — the
    * `max(struct(score, id))` lexicographic order, deterministic for
    * any orderable id). Min-id representatives throw away signal: when
    * a crawl snapshot near-dups against a cleaner re-crawl, the keeper
    * should be the best-scoring copy, not the numerically-smallest id.
    *
    * Contract: `scoreCol` must be non-null (coalesce upstream) —
    * engines disagree on where NULL ranks in tuple comparisons, and a
    * silently engine-dependent keeper is worse than a fail-fast.
    *
    * Scale: the argmax aggregate runs ONLY over edge-touched docs (the
    * inner join with the component labels — near-dup clusters are a
    * small fraction of a deduped corpus); singletons bypass both the
    * aggregate and the rep join via the coalesce fallback, so the
    * full-corpus cost is the same left-join as the min-id variant plus
    * one aggregate over the clustered slice. */
  def keepRepresentativesBy(docs: Df, pairs: Df, idCol: String,
                            scoreCol: String,
                            aCol: String = "id_a", bCol: String = "id_b"): Df = {
    val ccDf = connectedComponents(pairs, aCol, bCol)
    val cc = ccDf.sdf.withColumnRenamed("id", idCol)
    val withCluster = docs.sdf.join(cc, Seq(idCol), "left")
    val reps = docs.sdf.join(cc, Seq(idCol))
      .groupBy(col("cluster"))
      .agg(max(struct(col(scoreCol).as("__s"), col(idCol).as("__i"))).as("__m"))
      .select(col("cluster"), col("__m.__i").as("representative"))
    new Df(withCluster.join(reps, Seq("cluster"), "left")
      .withColumn("representative",
        coalesce(col("representative"), col(idCol)))
      .drop("cluster")).inheriting(ccDf)
  }

  /** Leakage-free train/holdout split — [[graft.api.Df.splitByHash]]'s
    * md5-bucket rule, but keyed on the near-dup CLUSTER instead of the
    * row: every member of a connected component hashes the same key
    * (the component's min-id label), so near-duplicates can never
    * straddle train and eval (the benchmark-contamination failure mode
    * a row-keyed split leaves open — Lee et al. 2022 §6.2 measure the
    * resulting eval inflation). Singletons (no near-dup pair) key on
    * their own id, which IS their would-be cluster label, so adding or
    * removing unrelated pairs never reshuffles untouched docs.
    *
    * Output = `docs` + `split_key` (cluster label or own id) + `split`
    * (matchLabel/restLabel). Scale: one component run over the pair
    * graph (bounded by near-dup candidates, not the corpus) + one
    * broadcast-sized left join per doc; the md5 bucket needs no global
    * state — the same doc gets the same side on every re-run and every
    * incremental batch. */
  def clusterSafeSplit(docs: Df, pairs: Df, idCol: String, fraction: Double,
                       matchLabel: String = "holdout", restLabel: String = "train",
                       aCol: String = "id_a", bCol: String = "id_b",
                       buckets: Int = 10000): Df = {
    requireArgs("clusterSafeSplit")(
      (fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction"),
      (buckets >= 1, s"buckets must be >= 1: $buckets"),
      // fail loudly instead of silently clobbering caller data, and
      // keep the join unambiguous when docs went through an earlier
      // clustering step that left its own 'cluster' column
      (!docs.columns.contains("split_key") && !docs.columns.contains("split"),
        "docs already has a split_key/split column — rename it first"))
    val ccDf = connectedComponents(pairs, aCol, bCol)
    val cc = ccDf.sdf
      .select(col("id").as(idCol), col("cluster").as("__cc_cluster"))
    val bucket = graft.functions.TextFunctions
      .hash32(col("split_key").cast("string")) % buckets
    new Df(docs.sdf.join(cc, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("__cc_cluster"), col(idCol)))
      .drop("__cc_cluster")
      .withColumn("split",
        when(bucket < math.round(fraction * buckets), lit(matchLabel))
          .otherwise(lit(restLabel)))).inheriting(ccDf)
  }

  /** Semantic dedup ENDGAME (the SemDeDup recipe, Abbas et al. 2023,
    * re-expressed on this file's blocks): embedding-near vectors
    * cluster via [[embeddingLshPairs]] (sign-bit blocks + in-block
    * cosine ≥ `minCosine`) → connected components → each cluster keeps
    * its best-scoring member ([[keepRepresentativesBy]]) → the deduped
    * corpus is the representatives themselves. The score column is the
    * caller's quality signal (an LM score, recency, resolution); pass
    * the id itself to reproduce plain min/max-id dedup.
    *
    * Scale: inherits its pieces' contracts — banded LSH equi-join with
    * capped buckets (never all-pairs), one shuffle per component round,
    * argmax only over edge-touched vectors. NULL embeddings never pair
    * ([[graft.operators.Similarity.lshSignature]]'s NULL contract) and
    * survive as their own representatives. */
  def semanticDedup(vecs: Df, vecCol: String, idCol: String,
                    scoreCol: String, minCosine: Double,
                    planes: Int = 8, dim: Int = 64,
                    maxBucket: Int = DefaultMaxBucket): Df = {
    val pairs = embeddingLshPairs(vecs, vecCol, idCol, minCosine,
      planes, dim, maxBucket)
    val rep = keepRepresentativesBy(vecs, pairs, idCol, scoreCol)
    new Df(rep.sdf.where(col(idCol) === col("representative"))
      .drop("representative")).inheriting(rep)
  }

  /** Exact edit-distance verification of candidate near-dup pairs — the
    * precision tail for ANY blocker in this file ([[minhashPairs]]/
    * [[simhashPairs]]/length blocking): join texts back onto the (id_a,
    * id_b) pairs, keep pairs with Levenshtein distance ≤ `maxDist`, and
    * score `edit_sim` = 1 − dist/max(len) (1.0 for two empty texts —
    * the unguarded 0/0 would THROW under ANSI mode).
    *
    * Scale notes: Levenshtein is O(len_a·len_b) per pair — this is a
    * post-blocking VERIFIER for short texts, never a corpus self-join;
    * Spark's thresholded `levenshtein(l, r, maxDist)` banded DP stops
    * early (O(maxDist·len)) and returns −1 above the threshold. The
    * text join-backs are plain id equi-joins (AQE broadcasts while a
    * side fits — the [[verifyJaccard]] no-hint rationale). */
  def editDistancePairs(pairs: Df, docs: Df, textCol: String, idCol: String,
                        maxDist: Int): Df = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val t = docs.sdf.select(col(idCol), col(textCol))
    val joined = pairs.sdf
      .join(t.select(col(idCol).as("id_a"), col(textCol).as("__ta")), Seq("id_a"))
      .join(t.select(col(idCol).as("id_b"), col(textCol).as("__tb")), Seq("id_b"))
    val maxLen = greatest(length(col("__ta")), length(col("__tb")))
    new Df(joined
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .where(col("edit_dist") >= 0)
      .withColumn("edit_sim", when(maxLen > 0,
        round(lit(1.0) - col("edit_dist").cast("double") / maxLen, 6))
        .otherwise(lit(1.0)))
      .drop("__ta", "__tb"))
  }

  /** Exact duplicated-window detection — the substring-granular dedup
    * signal (Lee et al. "Deduplicating Training Data Makes Language
    * Models Better"; RefinedWeb runs it at 50-token windows): a k-token
    * window that appears ANYWHERE else in the corpus (another doc, or
    * again in the same doc) marks its span as duplicated. Emits, per
    * doc: `n_tokens`, `n_windows`, `n_dup_windows`, and
    * `dup_token_fraction` = fraction of token positions covered by at
    * least one duplicated window (the "how much of this doc is
    * boilerplate/copy" filter signal — threshold it to drop or trim).
    *
    * Scale shape: windows are hashed IN-ROW (one projection computes
    * all k-gram hashes per doc; the window strings never leave the
    * expression), so the exploded table is (id, start, hash32) — ~16
    * bytes per window. One shuffle keyed on the 8-byte window hash
    * finds globally-duplicated hashes (aggregate, vocabulary-sized
    * output); the mark-back join re-uses the same hash partitioning
    * (exchange reuse). Span coverage is an interval-union in ONE
    * doc-keyed window pass: duplicated windows all have length k, so
    * sorted by start the union is Σ min(k, start − prev_start) — no
    * per-position explode, no quadratic merge. 2^-32 hash collisions
    * mark a non-duplicated window as duplicated (the conservative
    * direction for a cleaning signal); oracles replay the hash. */
  def duplicatedWindows(docs: Df, textCol: String, idCol: String,
                        k: Int = 50): Df = Materialize.scope { s =>
    require(k >= 1, s"duplicatedWindows: window size k must be >= 1: $k")
    // referenced twice (window pipeline + per-doc totals): materialize
    // the tokenize+hash pass once
    val base = s.barrier(docs.sdf.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"),
      transform(wordGramsAll(col(textCol), k), g => hash32(g)).as("__whs")))
    val wins = base.select(col(idCol), posexplode(col("__whs")).as(Seq("start", "wh")))
    val dup = wins.groupBy(col("wh")).agg(count(lit(1)).as("__ct"))
      .where(col("__ct") > 1).select("wh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("start"))
    val covered = wins.join(dup, Seq("wh"))
      .withColumn("__prev", lag(col("start"), 1).over(w))
      .withColumn("__cov", when(col("__prev").isNull, lit(k))
        .otherwise(least(lit(k), col("start") - col("__prev"))))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"),
        sum(col("__cov")).cast("long").as("__covered"))
    new Df(base
      .select(col(idCol), col("n_tokens"),
        size(col("__whs")).cast("long").as("n_windows"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("__covered"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_token_fraction")))
  }

  /** Duplicated-window REMOVAL (the Lee-et-al substring-dedup rewrite,
    * arXiv:2107.06499 §4.1 — [[duplicatedWindows]] is the matching
    * detection signal): every k-token window that appears more than
    * once in the corpus keeps exactly its FIRST occurrence (global
    * (id, start) order — a total order, so the survivor is
    * deterministic); every other occurrence's token span is cut from
    * its document. Output per doc: `textCol` rebuilt from the kept
    * tokens (single-space joined — the cleaned corpus is
    * whitespace-normalized, like [[Curation.dedupLines]]), original
    * `n_tokens`, and `n_tokens_removed`.
    *
    * Scale shape, stage by stage:
    *  1. windows hashed IN-ROW (the [[duplicatedWindows]] projection) —
    *     only (id, start, hash32) ever leaves the row, ~16 B/window;
    *  2. first occurrence per hash via ONE partial-aggregating
    *     `min(struct(id, start))` — skew-safe where a per-hash window
    *     function would serialize a hot hash's million instances into
    *     one task;
    *  3. removal instances (≠ first) merge to disjoint spans in ONE
    *     doc-keyed LAG pass — equal-length windows sorted by start
    *     merge iff `start − prev ≤ k`, so no generic interval tree;
    *  4. the rebuild joins the spans back BY DOC ID (spans side is
    *     docs-with-dups only — AQE broadcasts it when small) and cuts
    *     them in-row with `slice` segments: the document text itself
    *     never rides an extra shuffle, unlike a posexplode-tokens →
    *     anti-join → collect_list rebuild, which would re-shuffle the
    *     whole corpus text twice.
    * 2^-32 hash collisions cut a non-duplicated span (the conservative
    * direction for a cleaning pass); oracles replay the hash. Removal
    * can juxtapose new k-grams across cut seams, so one pass does not
    * GUARANTEE a dup-free corpus on adversarial input — FuzzSpec checks
    * the property on random corpora; iterate to fixpoint if required. */
  def removeDuplicatedWindows(docs: Df, textCol: String, idCol: String,
                              k: Int = 50): Df = Materialize.scope { s =>
    require(k >= 1, s"removeDuplicatedWindows: window size k must be >= 1: $k")
    // referenced twice (window pipeline + final rebuild): materialize
    // the tokenize+hash pass once
    val base = s.barrier(docs.sdf.select(col(idCol),
      tokens(col(textCol)).as("__toks"),
      transform(wordGramsAll(col(textCol), k), g => hash32(g)).as("__whs")))
    val wins = base.select(col(idCol), posexplode(col("__whs")).as(Seq("start", "wh")))
    val firsts = wins.groupBy(col("wh"))
      .agg(min(struct(col(idCol), col("start"))).as("__first"))
    // a single-occurrence window IS its own first → drops out here, so
    // no separate count>1 filter is needed
    val rem = wins.join(firsts, Seq("wh"))
      .where(struct(col(idCol), col("start")) =!= col("__first"))
      .select(col(idCol), col("start"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("start"))
    val spans = rem
      .withColumn("__prev", lag(col("start"), 1).over(w))
      .withColumn("__grp", sum(when(col("__prev").isNull ||
        col("start") - col("__prev") > k, 1).otherwise(0)).over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("start")).as("lo"), (max(col("start")) + k).as("hi"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("lo"), col("hi")))).as("__ivs"),
        sum(col("hi") - col("lo")).cast("long").as("n_tokens_removed"))
    // in-row rebuild: keep the gaps between the (sorted, disjoint)
    // spans — segment i runs from ivs[i-1].hi to ivs[i].lo, with the
    // document edges as sentinels
    val ivs = col("__ivs")
    val n = size(col("__toks"))
    val segLo = (i: org.apache.spark.sql.Column) =>
      when(i === 0, lit(0)).otherwise(element_at(ivs, i)("hi"))
    val segHi = (i: org.apache.spark.sql.Column) =>
      when(i === size(ivs), n).otherwise(element_at(ivs, i + 1)("lo"))
    val cleaned = concat_ws(" ", flatten(transform(sequence(lit(0), size(ivs)),
      i => slice(col("__toks"), segLo(i) + 1, greatest(segHi(i) - segLo(i), lit(0))))))
    new Df(base.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ivs").isNull, concat_ws(" ", col("__toks")))
          .otherwise(cleaned).as(textCol),
        n.cast("long").as("n_tokens"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed")))
  }

  /** Embedding-cosine near-dup pairs, blocked by a coarse bucket column
    * (label, LSH bucket, …) so the pairwise check never crosses buckets.
    * Null bucket values form their OWN block (sentinel-coalesced): an
    * equi-join would silently drop every null-bucketed row, letting
    * identical unlabeled docs sail through dedup unmatched.
    *
    * Blocks larger than `maxBucket` are DROPPED before the self-join —
    * the same recall trade as every sibling pair generator
    * ([[minhashPairs]]/[[simhashPairs]]/[[ngramJaccardPairs]]): one
    * dominant block (worst case a mostly-unlabeled corpus, where the
    * null sentinel collects nearly everything) otherwise degenerates to
    * O(b²) pairs inside a single join partition. Audit the block-size
    * distribution (`vecs.groupBy(bucketCol).count()`) before trusting
    * full recall. */
  def embeddingCosinePairs(vecs: Df, vecCol: String, idCol: String,
                           bucketCol: String, minCosine: Double,
                           maxBucket: Int = DefaultMaxBucket): Df = {
    requireArgs("embeddingCosinePairs")(
      (minCosine >= -1.0 && minCosine <= 1.0,
        s"minCosine must be in [-1, 1]: $minCosine"),
      (maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket"))
    // native codegen'd expression (graft.plans.FloatCosine): one fused
    // loop per pair, no intermediate arrays — bit-identical to the HOF
    // formulation, ~single-pass FLOP cost at 100 TB pair volumes
    val v = capBuckets(vecs.sdf.select(col(idCol).as("id"), col(vecCol).as("v"),
      coalesce(col(bucketCol).cast("string"), lit("\u0000__null__")).as("bk")),
      maxBucket, cols = Seq("bk"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"), col("bk"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"), col("bk"))
    new Df(a.join(b, Seq("bk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", round(GraftFunctions.cosine(col("v_a"), col("v_b")), 6))
      .where(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine"))
  }
}
