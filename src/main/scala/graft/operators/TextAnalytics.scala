package graft.operators

import graft.api.Df
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Corpus-level text analytics beyond per-row [[graft.functions.TextFunctions]]
  * — term weighting for retrieval/curation pipelines (north-star
  * extension; the reference has no string surface at all).
  */
object TextAnalytics {

  /** TF-IDF weight per (doc, term): raw term frequency × smoothed
    * inverse document frequency `ln((N+1)/(df+1)) + 1` (the sklearn
    * `smooth_idf` convention — never divides by zero, never negative).
    *
    * Scale design: one (doc,term) partial+final count shuffle for tf,
    * one term-keyed count for df (vocabulary-sized — tiny relative to
    * the corpus), N as a broadcast 1-row scalar. The df⋈tf join is
    * term-keyed; AQE broadcasts the vocabulary side while it fits.
    * Everything is codegen'd expressions — no UDFs. */
  def tfidf(docs: Df, textCol: String, idCol: String): Df = {
    val toks = docs.sdf.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.sdf.agg(count(lit(1)).as("n_docs"))
    new Df(tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 4))
      .select(col(idCol), col("term"), col("tf"), col("tfidf")))
  }

  /** Token-window chunking — the context-length splitter every training
    * pipeline needs: documents become overlapping chunks of `size`
    * tokens with `overlap` tokens shared between neighbors (stride =
    * size − overlap). Pure expressions: one `sequence` of chunk starts
    * exploded per doc, `slice` re-joins each window — no UDF, no
    * shuffle, output rows carry (doc, chunk_id, chunk, n_tokens).
    * Token-less docs yield no chunks; the final chunk may be shorter
    * than `size` (never empty). Starts stop at nTok − overlap − 1: a
    * chunk starting later would contain zero NEW tokens — a pure
    * duplicate of the previous chunk's tail, which a dedup-centric
    * pipeline must never re-introduce (docs ≤ overlap tokens still
    * yield their single start-0 chunk). */
  def chunkTokens(docs: Df, textCol: String, idCol: String,
                  size: Int, overlap: Int = 0): Df = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"chunkTokens: need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    // starts references the MATERIALIZED __toks attribute through the
    // Generate boundary (not the raw tokenize expression), so the
    // regex split runs exactly once per row
    val nt = org.apache.spark.sql.functions.size(col("__toks"))
    val starts = when(nt > 0,
      sequence(lit(0), greatest(nt - overlap - 1, lit(0)), lit(step)))
      .otherwise(array().cast("array<int>"))
    new Df(docs.sdf
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), col("__toks"), posexplode(starts).as(Seq("chunk_id", "__start")))
      .withColumn("__chunk_toks", slice(col("__toks"), col("__start") + 1, lit(size)))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", col("__chunk_toks")).as("chunk"),
        org.apache.spark.sql.functions.size(col("__chunk_toks")).as("n_tokens")))
  }

  /** Benchmark contamination check (the GPT-3-style decontamination
    * sweep): corpus documents sharing ≥1 word n-gram with a benchmark
    * set, with the count of distinct shared n-grams per doc. Inverted-
    * index equi-join on 32-bit shingle hashes (8-byte keys, the
    * [[graft.operators.Dedup]] convention) — the benchmark side is the
    * distinct n-gram set, tiny relative to the corpus, so AQE
    * broadcasts it; the corpus never self-joins. Docs with no hit are
    * absent (clean). */
  def ngramContamination(corpus: Df, benchmark: Df, textCol: String,
                         idCol: String, n: Int = 3): Df = {
    require(n >= 1, s"ngramContamination: n must be >= 1: $n")
    val bench = benchmark.sdf
      .select(explode(wordShingles(col(textCol), n)).as("g"))
      .select(hash32(col("g")).as("gh")).distinct()
    val docShingles = FanOut(corpus.sdf).select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("g"))
      .select(col(idCol), hash32(col("g")).as("gh"))
    new Df(docShingles.join(bench, Seq("gh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated_ngrams")))
  }

  /** Benchmark decontamination REMOVAL — the enforcement half of
    * [[ngramContamination]]: drop every corpus document whose
    * contaminated-n-gram fraction exceeds `maxFraction` (0.0 = drop on
    * ANY shared n-gram, the GPT-3/Llama rule). Emits the surviving
    * corpus rows plus `contaminated_fraction` (6dp) so downstream
    * audits can see how close each keeper came to the line.
    *
    * Fraction = contaminated DISTINCT n-grams / the doc's DISTINCT
    * n-grams (the [[ngramContamination]] semantics — repeating a
    * leaked line does not inflate the score; what matters is how much
    * of the doc's content overlaps the benchmark). Docs with no
    * n-grams at all (shorter than n tokens) have fraction 0 and are
    * kept. Scale shape: the corpus shingles explode ONCE (persisted —
    * the table feeds both the per-doc totals and the benchmark hit
    * join; an earlier version re-shingled the corpus for the totals
    * and doubled the dominant cost); the benchmark's distinct gram
    * set rides an equi-join AQE broadcasts; the join back onto the
    * corpus is id-keyed. */
  def decontaminate(corpus: Df, benchmark: Df, textCol: String,
                    idCol: String, n: Int = 3,
                    maxFraction: Double = 0.0): Df = Materialize.scope { s =>
    require(n >= 1, s"decontaminate: n must be >= 1: $n")
    require(maxFraction >= 0.0 && maxFraction <= 1.0,
      s"decontaminate: maxFraction must be in [0, 1]: $maxFraction")
    val bench = benchmark.sdf
      .select(explode(wordShingles(col(textCol), n)).as("g"))
      .select(hash32(col("g")).as("gh")).distinct()
    val docShingles = s.barrier(FanOut(corpus.sdf).select(col(idCol),
        explode(wordShingles(col(textCol), n)).as("g"))
      .select(col(idCol), hash32(col("g")).as("gh")))
    val totals = docShingles.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_grams"))
    val hits = docShingles.join(bench, Seq("gh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n_cont"))
    new Df(corpus.sdf
      .join(totals, Seq(idCol), "left")
      .join(hits, Seq(idCol), "left")
      .withColumn("contaminated_fraction",
        round(coalesce(col("__n_cont"), lit(0L)).cast("double") /
          greatest(coalesce(col("__n_grams"), lit(0L)), lit(1L)), 6))
      .where(col("contaminated_fraction") <= maxFraction)
      .drop("__n_grams", "__n_cont"))
  }

  /** Per-document n-gram repetition statistics — the Gopher/RefinedWeb
    * repetition rules: how much of a document is the same n-gram over
    * and over. Emits, per doc: total n-gram occurrences, distinct
    * n-grams, the top n-gram's occurrence count, and `dup_fraction` =
    * 1 − distinct/total (0 = no repetition). Filter
    * `dup_fraction > t` to drop boilerplate/spam.
    *
    * Relational shape: NON-distinct n-grams explode to one row each
    * (windowed `slice`, no distinct), one (doc, gram) count aggregate,
    * one per-doc rollup — two shuffles on the doc id, no per-row
    * quadratic work. */
  def repetitionStats(docs: Df, textCol: String, idCol: String, n: Int = 2): Df = {
    require(n >= 1, s"repetitionStats: n must be >= 1: $n")
    val perGram = FanOut(docs.sdf)
      .select(col(idCol), explode(wordGramsAll(col(textCol), n)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("ct"))
    new Df(perGram.groupBy(col(idCol)).agg(
      sum(col("ct")).as("n_ngrams"),
      count(lit(1)).as("n_distinct"),
      max(col("ct")).as("top_count"),
      round(lit(1.0) - count(lit(1)).cast("double") / sum(col("ct")), 6)
        .as("dup_fraction")))
  }

  /** Per-document unigram negative log-likelihood (the CCNet-style LM
    * quality signal, with the corpus itself as the unigram model):
    * avg_nll = −(1/n)·Σ ln p(token), p(token) = corpus frequency.
    * Repetitive/boilerplate docs score LOW (high-probability tokens),
    * lexically diverse docs score high — filter both tails.
    *
    * The token table is persisted: it is referenced three times (model
    * counts, total, and the scoring join) and Spark plans trees —
    * unpersisted, the corpus would be re-tokenized per reference. Each
    * ln term is cast to DECIMAL(18,8)
    * before summing so the per-doc sum is order-independent (double
    * addition is not). */
  def unigramLogLoss(docs: Df, textCol: String, idCol: String): Df =
    Materialize.scope(s => new Df(unigramNllCore(s, docs, textCol, idCol)))

  /** shared NLL core: the per-doc avg_nll frame over a token table
    * barriered in the caller's scope */
  private def unigramNllCore(s: Materialize.Scope, docs: Df, textCol: String,
                             idCol: String): org.apache.spark.sql.DataFrame = {
    // FanOut like the sibling shingle/ngram paths (r22): the tokenize
    // explode AND every downstream read of the persisted token table
    // otherwise run at the raw scan's partition count (r22 stage profile, q152:
    // the barrier count and the freq/scored aggregates all single-task
    // on a one-row-group corpus file while 32 cores idled; guide §2.5)
    val toks = s.barrier(
      FanOut(docs.sdf).select(col(idCol), explode(tokens(col(textCol))).as("t")))
    val freq = toks.groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(freq, Seq("t")).crossJoin(broadcast(total))
      .withColumn("nll",
        (-log(col("ct").cast("double") / col("total"))).cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(round(sum(col("nll")).cast("double") / count(lit(1)), 4).as("avg_nll"),
        count(lit(1)).as("n_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score each
    * doc by LM surprise ([[unigramLogLoss]] here — swap in a real LM
    * score upstream and pass it through the same cuts), then split
    * each `groupCol` cohort (language, domain) into head / middle /
    * tail at the `lowCut`/`highCut` quantiles of that cohort. Training
    * recipes then sample the buckets at different rates instead of
    * hard-filtering.
    *
    * `exact = true` (default) ranks with Spark's exact interpolated
    * per-cohort order-statistic selection
    * ([[graft.operators.Quantiles.exactGroupQuantilesCont]]) — exact
    * thresholds with bounded memory even when one cohort IS most of
    * the corpus (DuckDB's `quantile_cont` computes the identical
    * interpolation; both sides round thresholds to 6dp).
    * `exact = false` keeps the `approx_percentile` KLL path for
    * unbounded cohort COUNTS (the selection's driver state is
    * O(partitions × cohorts)); its thresholds carry sketch error and
    * are NOT oracle-replayable — the documented trade.
    *
    * Domain: docs with ≥1 token (the [[unigramLogLoss]] domain —
    * token-less docs have no surprise to rank). NULL-group docs get a
    * NULL bucket: no cohort, no quantiles to compare against. */
  def perplexityBuckets(docs: Df, textCol: String, idCol: String,
                        groupCol: String,
                        lowCut: Double = 1.0 / 3, highCut: Double = 2.0 / 3,
                        exact: Boolean = true): Df = Materialize.scope { s =>
    require(lowCut > 0 && lowCut <= highCut && highCut < 1,
      s"need 0 < lowCut <= highCut < 1: $lowCut, $highCut")
    val nll = unigramNllCore(s, docs, textCol, idCol)
    // persisted: the NLL lineage (tokenize + vocab join) feeds the two
    // selection jobs AND the final bucket pass — three narrow columns,
    // computed once
    val scored = s.persist(nll
      .join(docs.sdf.select(col(idCol), col(groupCol)), Seq(idCol)))
    val spark = docs.sdf.sparkSession
    val cuts =
      if (exact) {
        // per-cohort order-statistic selection (Quantiles scaladoc) —
        // exact thresholds with bounded memory even when one cohort IS
        // most of the corpus; same doubles as the per-group percentile
        // aggregate, 6dp-rounded like before (oracle-replayable)
        val m = graft.operators.Quantiles.exactGroupQuantilesCont(
          scored, groupCol, "avg_nll", Seq(lowCut, highCut))
        def r6(v: java.lang.Double): Any =
          if (v == null) null
          else BigDecimal(v.doubleValue())
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val gField = scored.schema(groupCol)
        val rows = m.toSeq.map { case (k, qs) =>
          org.apache.spark.sql.Row(k, r6(qs(0)), r6(qs(1)))
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            gField.copy(name = groupCol),
            org.apache.spark.sql.types.StructField("__t1",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("__t2",
              org.apache.spark.sql.types.DoubleType))))
      } else scored.where(col(groupCol).isNotNull)
        .groupBy(col(groupCol))
        .agg(expr(s"approx_percentile(avg_nll, array($lowCut, $highCut), " +
          "10000)").as("__c"))
        .select(col(groupCol),
          round(element_at(col("__c"), 1), 6).as("__t1"),
          round(element_at(col("__c"), 2), 6).as("__t2"))
    val out = scored.join(broadcast(cuts), Seq(groupCol), "left")
      .withColumn("bucket",
        when(col("__t1").isNull, lit(null).cast("string"))
          .when(col("avg_nll") <= col("__t1"), "head")
          .when(col("avg_nll") <= col("__t2"), "middle")
          .otherwise("tail"))
      .drop("__t1", "__t2")
    new Df(out)
  }

  /** Top-k TF-IDF terms per document (the "document keywords" shape) —
    * rank-per-key window over [[tfidf]], ties broken lexically for
    * determinism. */
  def topTerms(docs: Df, textCol: String, idCol: String, k: Int): Df = {
    require(k >= 1, s"topTerms: k must be >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    new Df(tfidf(docs, textCol, idCol).sdf
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k))
  }

  /** One statistics pass of BPE tokenizer training (Sennrich et al.
    * 2016 §3.2, the byte-pair merge loop): adjacent symbol-pair
    * frequencies over the corpus, weighted by word frequency — the
    * count-argmax pair is the next merge rule. Symbols here are single
    * characters (the first merge round; re-symbolize and re-run for
    * later rounds). Pairs print space-joined (`"t h"`), the merges.txt
    * convention; 1-char words contribute nothing. Output: the top-`k`
    * pairs by count, ties broken by pair text — a total order, so the
    * cut is deterministic.
    *
    * Scale: the classic distinct-word trick — a 100 TB corpus holds
    * ~10^11 running words but ~10^7 DISTINCT ones, so the per-word
    * char-pair explosion rides the vocabulary-sized table; the corpus
    * itself is touched exactly once by the map-side-combined word
    * count. Final pair agg is again partial+final; top-k is a
    * TakeOrdered, never a global sort. */
  def bpePairCounts(docs: Df, textCol: String, idCol: String, k: Int): Df = {
    require(k >= 1, s"bpePairCounts: k must be >= 1: $k")
    val wordFreq = docs.sdf
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wf"))
    val pairCounts = wordFreq.where(length(col("word")) >= 2)
      .select(col("wf"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> concat(substring(word, i, 1), ' ', substring(word, i + 1, 1)))"""
          .stripMargin)).as("pair"))
      .groupBy("pair").agg(sum(col("wf")).as("n"))
    new Df(pairCounts.orderBy(col("n").desc, col("pair").asc).limit(k))
  }

  /** Full BPE merge-rule learning (Sennrich et al. 2016 §3.2): the
    * iterative loop [[bpePairCounts]] is one round of. Each round
    * counts adjacent SYMBOL pairs over the vocabulary (weighted by
    * word frequency), takes the argmax pair as the next merge rule —
    * ties broken by (left, right) text, a total order — and
    * re-symbolizes the vocabulary by merging every non-overlapping
    * occurrence left-to-right (greedy, the reference-BPE application
    * order). Symbols start as single characters; merged symbols are
    * concatenations. Training pre-tokenizes to alphanumeric word forms
    * (standard BPE practice — punctuation never crosses a merge), so
    * the `|`-wrapped internal sequence encoding (`"low"` →
    * `"|l||o||w|"`) is collision-free and one engine-portable
    * `replace('|l||o|', '|lo|')` applies a merge exactly: the wrapper
    * keeps token boundaries intact THROUGH a replacement, so a run
    * like `a a a` merges to `aa a` (greedy non-overlap), identically
    * in Spark and any SQL engine. Stops early if no pair remains.
    * Output: (`merge_rank`, `lhs`, `rhs`, `pair_count`) — the
    * merges.txt table.
    *
    * Scale: the corpus is touched ONCE (the map-side-combined word
    * count); all `nMerges` rounds ride the DISTINCT-word table (~10^7
    * rows for a 10^11-word corpus). The loop then splits on the
    * MEASURED vocabulary size — the same gate-on-driver-state move as
    * every in-memory BPE trainer makes:
    *
    *  - |vocab| ≤ `driverMaxVocab` (default 1M ≈ tens of MB — the
    *    overwhelmingly common case; even 100 TB corpora have
    *    vocabulary-sized distinct-alnum-word tables): the (symbols,
    *    wf) table collects ONCE and all rounds run driver-side with
    *    byte-identical semantics (adjacent-pair counts, (n desc, l, r)
    *    argmax — symbols are alnum, so UTF8-binary and String order
    *    agree — greedy left-to-right non-overlapping re-symbolize):
    *    zero jobs per round instead of an agg + TakeOrdered + collect
    *    each.
    *  - above the gate: the distributed rounds below, with the plan
    *    cut every 16 rounds (localCheckpoint) so the chained per-merge
    *    `replace`s cannot grow Catalyst planning O(nMerges²).
    *
    * The merge table itself is driver-sized by definition
    * (vocab_size − |alphabet| rows).
    *
    * `driverMaxVocab` is a measured scale gate on the vocabulary
    * ([[Gate]]). */
  def bpeMerges(docs: Df, textCol: String, nMerges: Int,
                driverMaxVocab: Long = 1000000): Df = Materialize.scope { s =>
    require(nMerges >= 1 && nMerges <= 1000,
      s"bpeMerges: nMerges must be in [1, 1000]: $nMerges")
    require(driverMaxVocab >= 0,
      s"bpeMerges: driverMaxVocab must be >= 0: $driverMaxVocab")
    val vocab0 = s.persist(docs.sdf
      .select(explode(tokens(col(textCol))).as("word"))
      .where(col("word").rlike("^[A-Za-z0-9]+$"))
      .groupBy("word").agg(count(lit(1)).as("wf"))
      // split between characters only: (?!^)(?!$) excludes the string
      // edges — Spark's split keeps trailing empties (limit -1), so a
      // bare (?!^) would append an empty symbol to every word
      .select(concat(lit("|"),
        concat_ws("||", split(col("word"), "(?!^)(?!$)")), lit("|")).as("seq"),
        col("wf")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    if (Gate.measured(driverMaxVocab)(vocab0.count())) {
      // driver-mode rounds over the collected (symbols, wf) vocabulary;
      // the collected vocab's block is released at once
      var words: Array[(Array[String], Long)] =
        vocab0.collect().map { row =>
          (row.getString(0).stripPrefix("|").stripSuffix("|")
            .split("\\|\\|", -1), row.getLong(1))
        }
      s.release(vocab0)
      var r = 1
      var done = false
      while (r <= nMerges && !done) {
        // adjacent-pair counts INCLUDING overlaps (a a a → (a,a) twice),
        // exactly like the distributed zip_with round
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((syms, wf) <- words; i <- 0 until syms.length - 1)
          counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + wf))
        if (counts.isEmpty) done = true
        else {
          val ((l, rr), n) = counts.minBy { case ((l, rr), n) => (-n, l, rr) }
          merges += org.apache.spark.sql.Row(r, l, rr, n)
          // greedy left-to-right non-overlapping, like the SQL replace
          words = words.map { case (syms, wf) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rr) {
                out += l + rr; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, wf)
          }
          r += 1
        }
      }
    } else {
      var vocab: org.apache.spark.sql.DataFrame = vocab0
      var prevCut: Option[org.apache.spark.sql.DataFrame] = None
      var r = 1
      var done = false
      while (r <= nMerges && !done) {
        val toks = split(regexp_replace(col("seq"), "^\\||\\|$", ""), "\\|\\|")
        val top = vocab
          .select(col("wf"), explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wf")).as("n"))
          .orderBy(col("n").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val (l, rr, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += org.apache.spark.sql.Row(r, l, rr, n)
          // alnum-only symbols: no escaping needed inside the literal
          vocab = vocab.withColumn("seq",
            expr(s"replace(seq, '|$l||$rr|', '|$l$rr|')"))
          // cut the growing replace chain so planning stays O(16) per
          // round; the eager checkpoint also supersedes the previous cut
          if (r % 16 == 0) {
            val cut = s.checkpoint(vocab)
            prevCut.foreach(s.release)
            prevCut = Some(cut)
            vocab = cut
          }
          r += 1
        }
      }
      // the merges table is pure driver rows — the chain cuts back nothing
      prevCut.foreach(s.release)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("merge_rank",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("lhs",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rhs",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pair_count",
        org.apache.spark.sql.types.LongType)))
    Df.fromRows(docs.spark, merges.toSeq, schema)
  }

  /** BPE ENCODING with a learned merge table — the other half of the
    * [[bpeMerges]] loop: apply the merges to every document IN RANK
    * ORDER (greedy left-to-right non-overlapping, the reference-BPE
    * application semantics) and emit per-doc token accounting:
    * (idCol, n_words, n_tokens, chars_per_token 4dp) — the "how many
    * tokens is my corpus" costing pass every training run starts with.
    *
    * Alphanumeric words ride the same collision-free `|`-wrapped
    * sequence encoding as training, so ONE portable string `replace`
    * per merge rule applies it exactly; any other word counts as a
    * single opaque token (the byte-fallback analog — merges are
    * learned on alnum words only and can never apply). Docs with no
    * tokens drop out (no words to account).
    *
    * Scale: encoding is ONE codegen'd map-side expression chain (the
    * |merges| nested replaces) over the exploded token stream — no
    * UDF, no join, no shuffle except the final per-doc partial+final
    * sum. The merge table is driver-sized by definition (it IS the
    * tokenizer), so passing it as literals is the broadcast. Keep
    * |merges| ≲ a few hundred for expression-depth sanity; a
    * production 50k-rule tokenizer wants the same loop in a
    * mapPartitions batch instead. */
  def bpeEncode(docs: Df, textCol: String, idCol: String,
                merges: Seq[(String, String)]): Df = {
    require(merges.nonEmpty && merges.size <= 1000,
      s"bpeEncode: need 1..1000 merges: ${merges.size}")
    require(merges.forall { case (l, r) =>
      l.matches("[A-Za-z0-9]+") && r.matches("[A-Za-z0-9]+") },
      "bpeEncode: merge symbols must be alphanumeric (the bpeMerges contract)")
    val seq0 = "concat('|', concat_ws('||', split(word, '(?!^)(?!$)')), '|')"
    val chain = merges.foldLeft(seq0) { case (acc, (l, r)) =>
      s"replace($acc, '|$l||$r|', '|$l$r|')"
    }
    val nt = when(col("word").rlike("^[A-Za-z0-9]+$"),
      size(split(regexp_replace(expr(chain), "^\\||\\|$", ""), "\\|\\|")))
      .otherwise(lit(1))
    new Df(FanOut(docs.sdf)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .select(col(idCol), length(col("word")).as("__chars"), nt.as("__nt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nt")).cast("long").as("n_tokens"),
        round(sum(col("__chars")).cast("double") / sum(col("__nt")), 4)
          .as("chars_per_token")))
  }

  /** Collocation extraction by pointwise mutual information — the
    * phrase-mining pass (Mikolov et al. 2013 §4 use the same counts
    * with a discount; this is the classic PMI form over adjacent-pair
    * events): for every adjacent token pair seen at least `minCount`
    * times, `pmi = ln(c(w1,w2)·N / (c(w1·)·c(·w2)))` where `c(w1·)` /
    * `c(·w2)` count the word as LEFT/RIGHT member over all N bigram
    * positions (the contingency-table margins — not raw unigram
    * counts, so the measure is properly normalized over pair events).
    * High-PMI pairs are merge candidates ("new york" → "new_york");
    * the full above-threshold table is emitted (deterministic — no
    * rank cut to destabilize under ties).
    *
    * Scale: bigrams come from a per-row array transform (map-side, no
    * self-join); the pair count is partial+final on (w1, w2); the
    * margins aggregate the SAME persisted bigram table; the joins are
    * vocabulary-keyed (tiny vs the corpus) onto the minCount-filtered
    * pair table. PMI rounds to 6dp (ln ulp absorption — the q115
    * convention). */
  def pmiCollocations(docs: Df, textCol: String,
                      minCount: Long = 5): Df = Materialize.scope { s =>
    require(minCount >= 1, s"pmiCollocations: minCount must be >= 1: $minCount")
    val bi = s.persist(docs.sdf.select(tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2))""".stripMargin)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2")))
    val pair = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val left = bi.groupBy(col("w1")).agg(count(lit(1)).as("n_w1"))
    val right = bi.groupBy(col("w2")).agg(count(lit(1)).as("n_w2"))
    val total = bi.agg(count(lit(1)).as("__n"))
    new Df(pair.where(col("n_pair") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(log(col("n_pair").cast("double") * col("__n") /
        (col("n_w1").cast("double") * col("n_w2"))), 6))
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "pmi"))
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF formula, Grootendorst
    * 2022 §2.3): treat each class (cluster, language, domain) as ONE
    * pseudo-document and score its terms by
    * `tf_c(t) · ln(1 + A / f_t)` — `tf_c` the term's count inside the
    * class, `f_t` its corpus-wide count, `A` the average token count
    * per class. The top-`k` terms per class are that class's label —
    * the standard way to name clusters after a k-means/LSH grouping.
    * NULL-class rows are excluded (no cohort).
    *
    * Determinism: scores round to 6dp and rank with the term string as
    * tiebreak — a total order, so the top-k cut replays exactly.
    *
    * Scale: one tokenize pass (persisted — it feeds tf, f_t, and A);
    * both model aggs are vocabulary-keyed; A broadcasts as one row;
    * the rank window partitions by class. */
  def classTfidf(docs: Df, textCol: String, classCol: String,
                 k: Int = 10): Df = Materialize.scope { s =>
    require(k >= 1, s"classTfidf: k must be >= 1: $k")
    val toks = s.persist(docs.sdf.where(col(classCol).isNotNull)
      .select(col(classCol), explode(tokens(col(textCol))).as("term")))
    val tf = toks.groupBy(col(classCol), col("term")).agg(count(lit(1)).as("tf"))
    val ft = toks.groupBy(col("term")).agg(count(lit(1)).as("ft"))
    val a = toks.groupBy(col(classCol)).agg(count(lit(1)).as("__ct"))
      .agg((sum(col("__ct")).cast("double") / count(lit(1))).as("__A"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(col("score").desc, col("term").asc)
    new Df(tf.join(ft, Seq("term")).crossJoin(broadcast(a))
      .withColumn("score",
        round(col("tf") * log(lit(1.0) + col("__A") / col("ft")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(classCol), col("rank"), col("term"), col("tf"), col("score")))
  }

  /** Content-defined chunking (the FastCDC/rsync family idea applied
    * at token level): a chunk boundary falls wherever the rolling
    * window hash satisfies `hash % modulus == 0`, so boundaries are
    * determined by CONTENT, not position — insert a sentence at the
    * head of a document and every downstream chunk still hashes the
    * same, which is what makes chunk-level dedup robust to shifts
    * (fixed-size chunking loses alignment on a 1-token edit).
    * Expected chunk length ≈ `modulus` tokens; `window` is the
    * rolling-hash width.
    *
    * Emits one row per chunk: (idCol, chunk_idx, n_tokens, chunk_hash,
    * textCol) — `chunk_hash` is the portable
    * [[graft.functions.TextFunctions.hash32]] of the space-joined
    * chunk, ready for an exact-dedup groupBy. Zero-token documents
    * emit no chunks.
    *
    * Scale: tokenize once (persisted); window hashes explode and a
    * map-side filter keeps only the ~1/modulus CUT positions, so the
    * per-doc aggregation and the rebuild join shuffle cut offsets
    * (8 bytes each), never text; the chunk rebuild is an in-row slice
    * over the joined arrays. No UDFs anywhere. */
  def cdcChunks(docs: Df, textCol: String, idCol: String,
                window: Int = 4, modulus: Int = 64): Df = Materialize.scope { s =>
    require(window >= 1, s"cdcChunks: window must be >= 1: $window")
    require(modulus >= 2, s"cdcChunks: modulus must be >= 2: $modulus")
    // Pipeline shape: tokenize once (persisted — the table feeds the
    // boundary pass and the rebuild join), EXPLODE window hashes as
    // rows, reduce to cut positions, re-aggregate the per-doc cut
    // array, and join it back for an in-row slice rebuild. The
    // Generate/Aggregate/Join nodes are deliberate optimizer barriers:
    // a pure expression-tree formulation is algebraically identical
    // but CollapseProject inlines the aliases and interpreted
    // higher-order functions then re-evaluate the tokenize+hash chain
    // per ELEMENT — measured as minutes of CPU on a 500-doc corpus.
    val t = col("__toks")
    val base = s.persist(docs.sdf
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(t) >= 1))
    // window starting at i (0-based) ends at i+window-1; a zero hash
    // cuts AFTER it, so the next chunk starts at token i+window; cuts
    // at or past the end are no-ops. The size guard matters: Spark's
    // sequence(0, -1) DESCENDS ([0, -1]) where DuckDB's range(0) is
    // empty.
    val whsExpr = when(size(t) >= window,
      transform(sequence(lit(0), size(t) - window),
        i => hash32(concat_ws(" ", slice(t, i + 1, lit(window))))))
      .otherwise(array().cast("array<long>"))
    val cutRows = base
      .select(col(idCol), size(t).as("__n"), posexplode(whsExpr).as(Seq("__i", "__wh")))
      .where(col("__wh") % modulus === 0 && col("__i") + window < col("__n"))
      .select(col(idCol), (col("__i") + window).as("__cut"))
    val cutArrs = cutRows.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__cut"))).as("__bounds"))
    val cu = col("__cuts")
    val chunksExpr = transform(sequence(lit(0), size(cu) - 2),
      k => struct(
        (element_at(cu, k + 2) - element_at(cu, k + 1)).cast("long").as("n_tokens"),
        concat_ws(" ", slice(t, element_at(cu, k + 1) + 1,
          element_at(cu, k + 2) - element_at(cu, k + 1))).as("chunk")))
    new Df(base
      .join(cutArrs, Seq(idCol), "left")
      .withColumn("__cuts", concat(array(lit(0)),
        coalesce(col("__bounds"), array().cast("array<int>")), array(size(t))))
      .select(col(idCol), col("__toks"),
        posexplode(chunksExpr).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.n_tokens").as("n_tokens"),
        hash32(col("c.chunk")).as("chunk_hash"),
        col("c.chunk").as(textCol)))
  }

  /** Corpus n-gram diversity profile — the repetitiveness diagnostic
    * (self-BLEU's cheap cousin): for each n, the distinct/total
    * n-gram ratio over the whole corpus. A collapsing ratio at higher
    * n flags template spam or synthetic-data mode collapse before
    * training does. One row per n: (n, total, n_distinct,
    * distinct_ratio).
    *
    * Scale: ONE corpus scan — every n's gram stream is built in the
    * same row (tagged structs, flattened, one explode), then a single
    * partial+final agg by `n`; the exact-distinct expands per n — at
    * extreme scale swap the count_distinct for approx_count_distinct
    * upstream (HLL, the documented q37 trade). */
  def ngramDiversity(docs: Df, textCol: String,
                     ns: Seq[Int] = Seq(1, 2, 3)): Df = {
    require(ns.nonEmpty && ns.forall(_ >= 1),
      s"ngramDiversity: ns must be non-empty positive: $ns")
    val tagged = FanOut(docs.sdf).select(explode(flatten(array(ns.map { n =>
      transform(wordGramsAll(col(textCol), n),
        g => struct(lit(n).as("n"), g.as("g")))
    }: _*))).as("t"))
      .select(col("t.n").as("n"), col("t.g").as("g"))
    // two-stage exact distinct: pre-aggregate per (n, gram), then roll
    // up per n — COUNT(*) of the pre-agg is the distinct count and
    // SUM(cnt) the total, in ONE pass each. The single-agg
    // count_distinct alternative plans an Expand (one input replica
    // per aggregate) and shuffles every raw n-gram occurrence; the
    // pre-agg shape map-side combines duplicates first and measured
    // 1.6× faster at sf0.1 (BENCHLOG round 10). approx_count_distinct
    // remains the escape hatch when exactness is negotiable (q37).
    val perGram = tagged.groupBy(col("n"), col("g"))
      .agg(count(lit(1)).as("__cnt"))
    new Df(perGram.groupBy(col("n"))
      .agg(sum(col("__cnt")).as("total"),
        count(lit(1)).as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("total"), 6)))
  }

  /** Per-document interpolated bigram NLL — the [[unigramLogLoss]]
    * upgrade (a first-order LM is a far sharper fluency signal than
    * word frequencies; CCNet's real filter is a KenLM n-gram model —
    * this is the n=2 member of that family with the corpus as its own
    * training set). Each transition scores
    * `p(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}·) + (1−λ)·c(w_i)/N`
    * (Jelinek-Mercer interpolation with the unigram MLE — the backoff
    * mass keeps unseen-in-context words finite); a document's score is
    * the mean −ln p over its n−1 transitions. Docs with < 2 tokens
    * have no transitions and drop out.
    *
    * Scale: ONE tokenize pass builds the persisted per-doc token-array
    * table; bigrams are a map-side array transform of it (persisted —
    * they feed the pair counts, the left margins, and the scoring
    * join); unigram counts ride the same base table; all model joins
    * are vocabulary-keyed. Each −ln term is DECIMAL(18,8)-cast before
    * the order-independent sum; the mean rounds to 4dp (the q115
    * convention). */
  def bigramNll(docs: Df, textCol: String, idCol: String,
                lambda: Double = 0.7): Df = Materialize.scope { s =>
    require(lambda >= 0 && lambda <= 1,
      s"bigramNll: lambda must be in [0, 1]: $lambda")
    val base = s.barrier(
      docs.sdf.select(col(idCol), tokens(col(textCol)).as("toks")))
    val uni = base.select(explode(col("toks")).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("__cu"))
    val uniTotal = base.select(explode(col("toks")).as("t"))
      .agg(count(lit(1)).as("__nu"))
    val bi = s.barrier(base.where(size(col("toks")) >= 2)
      .select(col(idCol), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2))""".stripMargin)).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val pairCt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__cb"))
    val leftCt = bi.groupBy(col("w1")).agg(count(lit(1)).as("__cl"))
    new Df(bi.join(pairCt, Seq("w1", "w2")).join(leftCt, Seq("w1"))
      .join(uni, Seq("w2")).crossJoin(broadcast(uniTotal))
      .withColumn("__p",
        lit(lambda) * col("__cb").cast("double") / col("__cl") +
          lit(1 - lambda) * col("__cu").cast("double") / col("__nu"))
      .withColumn("__nll", (-log(col("__p"))).cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        round(sum(col("__nll")).cast("double") / count(lit(1)), 4).as("avg_nll")))
  }

  /** Trigram stupid-backoff NLL (Brants et al. 2007, "Large Language
    * Models in Machine Translation" §4): score each document in
    * `scoreDocs` against a model counted from `trainDocs`:
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)           if the trigram is seen
    *              = α · c(w2w3)/c(w2)           else if the bigram is
    *              = α² · c(w3)/N                else (unigram MLE;
    *                an unseen unigram scores as α² · 0.5/N — the
    *                deterministic OOV floor, mirrored in the oracle).
    *
    * A doc's score is the mean −ln S over its n−2 trigram positions;
    * docs with < 3 tokens have no trigrams and drop out. Unlike the
    * Jelinek-Mercer [[bigramNll]] (corpus-as-its-own-model), the
    * train/score split makes all three backoff levels reachable —
    * this is the KenLM-style heldout perplexity filter of CCNet-like
    * curation stacks, minus the Kneser-Ney smoothing (stupid backoff
    * is the published choice AT scale: no discount tuning, counts
    * only, trivially distributed).
    *
    * Scale: one tokenize pass per side; the three model tables are
    * gram-keyed partial+final counts (vocabulary-sized, NOT
    * driver-sized — never collected); scoring is three left joins
    * keyed on the gram columns (AQE broadcasts model sides while they
    * fit, shuffle-hash beyond); N rides a broadcast 1-row frame. Each
    * −ln term is DECIMAL(18,8)-cast before the order-independent sum;
    * the mean rounds to 4dp (q115 convention). */
  def stupidBackoffNll(trainDocs: Df, scoreDocs: Df, textCol: String,
                       idCol: String, alpha: Double = 0.4): Df = Materialize.scope { s =>
    require(alpha > 0 && alpha <= 1,
      s"stupidBackoffNll: alpha must be in (0, 1]: $alpha")
    def toks(d: Df) = d.sdf.select(col(idCol), tokens(col(textCol)).as("toks"))
    val train = s.barrier(toks(trainDocs))

    def grams(df: org.apache.spark.sql.DataFrame, n: Int) =
      df.where(size(col("toks")) >= n)
        .select(col(idCol), explode(expr(
          s"""transform(sequence(0, size(toks) - $n),
             |  i -> struct(${(0 until n).map(k => s"toks[i + $k] AS w${k + 1}").mkString(", ")}))"""
            .stripMargin)).as("g"))
        .select(col(idCol) +: (1 to n).map(k => col(s"g.w$k").as(s"w$k")): _*)

    val uni = grams(train, 1).groupBy(col("w1").as("w3"))
      .agg(count(lit(1)).as("__c3"))
    val nTotal = train.select(explode(col("toks")).as("t"))
      .agg(count(lit(1)).as("__n"))
    val bi = s.barrier(grams(train, 2).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__cb")))
    val tri = grams(train, 3).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("__ct"))

    val scored = grams(toks(scoreDocs), 3)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi, Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("__cb").as("__cb23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w3").as("w2"), col("__c3").as("__c2")),
        Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(nTotal))
      .withColumn("__s", when(col("__ct").isNotNull,
          col("__ct").cast("double") / col("__cb"))
        .when(col("__cb23").isNotNull,
          lit(alpha) * col("__cb23").cast("double") / col("__c2"))
        .otherwise(lit(alpha * alpha) *
          coalesce(col("__c3").cast("double"), lit(0.5)) / col("__n")))
      .withColumn("__nll", (-log(col("__s"))).cast("decimal(18,8)"))
    new Df(scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("__nll")).cast("double") / count(lit(1)), 4).as("avg_nll")))
  }

  /** Vocabulary coverage curve — for each requested vocabulary size V,
    * the share of total token OCCURRENCES covered by the top-V terms
    * (frequency-ranked, ties broken by term — fully deterministic and
    * replayable cross-engine). The standard tokenizer/vocab sizing
    * instrument: "how big must V be to cover 99% of the corpus".
    *
    * Emits (v, vocab_terms, covered, total, coverage) per V —
    * vocab_terms = min(V, distinct terms); coverage rounds 6dp.
    *
    * Scale: one tokenize pass → term-keyed partial+final count (the
    * vocabulary table — tiny relative to the corpus, but NOT
    * driver-tiny); ranking rides
    * [[graft.api.Df.withRowIndexScalable]] (range-partition +
    * zipWithIndex — no single-partition window even at 100 M-term
    * vocabularies); each vocab row then fans out only to the
    * requested Vs (|vs| small) for the covered sums, and the corpus
    * total arrives as a broadcast 1-row frame. */
  def vocabCoverage(docs: Df, textCol: String,
                    vs: Seq[Int]): Df = Materialize.scope { s =>
    require(vs.nonEmpty && vs.forall(_ >= 1),
      s"vocabCoverage: vs must be non-empty positive: $vs")
    val cnt = s.persist(docs.sdf.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__c")))
    val ranked = new Df(cnt.withColumn("__negc", -col("__c")))
      .withRowIndexScalable(Seq("__negc", "term"), "__rk").sdf
    val total = cnt.agg(sum(col("__c")).as("total"))
    val perV = ranked
      .select(col("__c"), col("__rk"),
        explode(array(vs.map(lit(_)): _*)).as("v"))
      .where(col("__rk") < col("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("vocab_terms"), sum(col("__c")).as("covered"))
    new Df(perV.crossJoin(broadcast(total))
      .withColumn("coverage",
        round(col("covered").cast("double") / col("total"), 6))
      .select(col("v"), col("vocab_terms"), col("covered"), col("total"),
        col("coverage")))
  }

  /** Okapi BM25 weight per (doc, term) — the retrieval scorer [[tfidf]]
    * approximates: `idf · tf(k1+1) / (tf + k1(1 − b + b·len/avglen))`
    * with the Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))` (always
    * positive). Length normalization (`b`) is what tfidf lacks: long
    * boilerplate docs stop winning on raw term counts. In a curation
    * pipeline this scores corpus docs against domain seed queries
    * (see [[bm25Search]]).
    *
    * Emits (idCol, term, tf, bm25), score rounded 6dp. The idf is
    * DECIMAL(18,8)-cast after the ln (cross-engine libm-ulp
    * absorption, the q169 convention); every other factor is plain
    * double arithmetic in a fixed association order, so the oracle
    * replays the score bit-for-bit before the ROUND.
    *
    * Scale: the [[tfidf]] plan plus one per-doc length aggregate off
    * the SAME persisted tokenize pass; (N, total tokens) arrive as a
    * broadcast 1-row frame, df/idf ride the vocabulary-keyed join. */
  def bm25(docs: Df, textCol: String, idCol: String,
           k1: Double = 1.2, b: Double = 0.75): Df = Materialize.scope { s =>
    require(k1 >= 0, s"bm25: k1 must be >= 0: $k1")
    require(b >= 0 && b <= 1, s"bm25: b must be in [0,1]: $b")
    val toks = s.persist(docs.sdf.select(col(idCol),
      explode(tokens(col(textCol))).as("term")))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val lens = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__len"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val stats = lens.agg(count(lit(1)).as("__n"), sum(col("__len")).as("__total"))
    val idf = dfT.crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5))).cast("decimal(18,8)"))
      .select(col("term"), col("__idf"), col("__n"), col("__total"))
    val avg = col("__total").cast("double") / col("__n")
    new Df(tf.join(idf, Seq("term")).join(lens, Seq(idCol))
      .withColumn("bm25", round(col("__idf").cast("double") *
        ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("__len") / avg)))), 6))
      .select(col(idCol), col("term"), col("tf"), col("bm25")))
  }

  /** BM25 top-N search — score every document against a bag-of-words
    * query and keep the N best: the domain-targeted corpus selection
    * shape ("find the docs that look like my seed topic"). Per-doc
    * score = Σ over matched query terms of the [[bm25]] weight, summed
    * as DECIMAL(18,8) (order-independent — the rounded per-term
    * scores are exact at 6dp) and tie-broken by id so the cut is a
    * total order.
    *
    * Scale: the query is a literal IN-list pushed into the (doc,term)
    * table — only matching rows survive to the per-doc agg; the top-N
    * compiles to TakeOrderedAndProject (per-partition heaps + driver
    * merge of N rows), never a global sort. */
  def bm25Search(docs: Df, textCol: String, idCol: String,
                 query: Seq[String], topN: Int,
                 k1: Double = 1.2, b: Double = 0.75): Df = {
    require(query.nonEmpty, "bm25Search: query must be non-empty")
    require(topN >= 1, s"bm25Search: topN must be >= 1: $topN")
    val scored = bm25(docs, textCol, idCol, k1, b).sdf
      .where(col("term").isin(query: _*))
    new Df(scored
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("bm25").cast("decimal(18,8)")).cast("double").as("score"))
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(topN))
  }

  /** Zipf slope — least-squares fit of `ln(count) ~ ln(rank)` over the
    * top-`topK` frequency-ranked terms (term tiebreak, the
    * [[vocabCoverage]] ranking). Natural corpora run near slope −1;
    * large deviations flag template/boilerplate floods (too steep) or
    * token-soup noise (too flat) — a one-row corpus-health signal for
    * curation dashboards.
    *
    * Emits ONE row (n_terms, slope, intercept), 6dp. Numerics follow
    * the q169 convention: each ln() is DECIMAL(18,8)-cast (absorbing
    * cross-engine libm ulps) and all four moment sums are exact
    * decimal — order-independent, so the distributed sums replay
    * bit-identically in a serial oracle; the closed-form fit then runs
    * in double on the exact sums.
    *
    * Scale: tokenize pass → vocabulary count → scalable rank (no
    * single-partition window) → ONE partial+final agg of four moments
    * over topK rows. Nothing driver-side. */
  def zipfSlope(docs: Df, textCol: String, topK: Int = 1000): Df = {
    require(topK >= 2, s"zipfSlope: topK must be >= 2: $topK")
    val cnt = docs.sdf.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__c"))
    val ranked = new Df(cnt.withColumn("__negc", -col("__c")))
      .withRowIndexScalable(Seq("__negc", "term"), "__rk").sdf
      .where(col("__rk") < topK)
    val pts = ranked.select(
      log(col("__rk") + 1).cast("decimal(18,8)").as("x"),
      log(col("__c")).cast("decimal(18,8)").as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    new Df(m.select(col("n").as("n_terms"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("__b"),
        col("sy").cast("double").as("__my"), col("sx").cast("double").as("__mx"),
        col("n").cast("double").as("__nd"))
      .select(col("n_terms"), round(col("__b"), 6).as("slope"),
        round((col("__my") - col("__b") * col("__mx")) / col("__nd"), 6)
          .as("intercept")))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`vocabSize` vocabulary (the [[vocabCoverage]] ranking): the
    * fraction of a document's tokens a tokenizer/embedding table of
    * that size would map to `<unk>`. High-OOV documents are the
    * classic casualties of a fixed vocabulary (code, tables, other
    * languages) — filter or re-route them before training.
    *
    * Emits (idCol, n_tokens, n_oov, oov_rate) per document with ≥ 1
    * token; rate rounds 6dp.
    *
    * Scale: ONE tokenize pass persisted (it feeds the vocabulary
    * count, the per-doc totals, and the membership join); the
    * vocabulary is term-keyed and vocabulary-sized, so membership is
    * one token-by-term shuffle join (AQE broadcasts the vocab side
    * while it fits). No driver-side vocabulary materialization. */
  def oovRate(docs: Df, textCol: String, idCol: String,
              vocabSize: Int): Df = Materialize.scope { s =>
    require(vocabSize >= 1, s"oovRate: vocabSize must be >= 1: $vocabSize")
    val toks = s.persist(docs.sdf.select(col(idCol),
      explode(tokens(col(textCol))).as("term")))
    val cnt = toks.groupBy(col("term")).agg(count(lit(1)).as("__c"))
    val vocab = new Df(cnt.withColumn("__negc", -col("__c")))
      .withRowIndexScalable(Seq("__negc", "term"), "__rk").sdf
      .where(col("__rk") < vocabSize).select(col("term"))
    val perDoc = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_tokens"))
    val inVocab = toks.join(vocab, Seq("term"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n_in"))
    new Df(perDoc.join(inVocab, Seq(idCol), "left")
      .withColumn("n_oov", col("n_tokens") - coalesce(col("__n_in"), lit(0L)))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .select(col(idCol), col("n_tokens"), col("n_oov"), col("oov_rate")))
  }

  /** χ²-based discriminative terms per class — the feature-selection
    * companion to [[classTfidf]]: for every (class, term), the χ²
    * statistic of the 2×2 document-frequency contingency table
    * (term present/absent × class/rest), top-`k` per class by
    * (χ² desc, term) with `minDf` noise floor.
    *
    * Counts are DOCUMENT frequencies (distinct (doc,term)), so long
    * docs don't dominate. Scale shape: one tokenize pass → distinct
    * (doc,class,term) → ONE (class,term) count shuffle; per-term and
    * per-class margins both derive from that vocabulary-sized table
    * (grouped sums — never a second corpus scan); the margin joins are
    * term-/class-keyed on vocabulary-sized frames. χ² is one double
    * expression over exact long counts, written once for oracle
    * replay; the final per-class top-k is a bounded rank window over
    * |vocabulary| rows. */
  def chi2Terms(docs: Df, textCol: String, classCol: String,
                idCol: String, k: Int = 10, minDf: Long = 5L): Df = Materialize.scope { s =>
    require(k >= 1 && minDf >= 1)
    val docTerm = docs.sdf.select(col(classCol).as("cls"), col(idCol),
        explode(tokens(col(textCol))).as("term"))
      .dropDuplicates("cls", idCol, "term")
    // vocabulary-sized; persisted because BOTH the scoring join and the
    // term margins consume it — without this the tokenize pass runs
    // twice (PlanSpec pins the ≤2-corpus-scan bound)
    val a = s.persist(docTerm.groupBy(col("cls"), col("term"))
      .agg(count(lit(1)).as("a")))
    val termTotals = a.groupBy(col("term")).agg(sum(col("a")).as("ta"))
    val classTotals = docs.sdf.groupBy(col(classCol).as("cls"))
      .agg(countDistinct(col(idCol)).as("nc"))
    // corpus total from the class margins (classes partition docs) —
    // a |classes|-row agg, not a third corpus scan
    val n = classTotals.agg(sum(col("nc")).as("nn"))
    val scored = a
      .join(termTotals, Seq("term"))
      .join(broadcast(classTotals), Seq("cls"))
      .crossJoin(broadcast(n))
      .selectExpr("cls", "term", "a", "ta - a AS b", "nc - a AS c",
        "nn - nc - (ta - a) AS d", "nn")
      .where(col("a") + col("b") >= minDf)
      // exact long margins; the statistic itself in double, one tree.
      // A margin of zero (term in EVERY doc, or a class covering the
      // whole corpus) carries zero information — χ² := 0, which also
      // keeps ANSI mode from dividing by zero.
      .selectExpr("cls", "term",
        """CASE WHEN c + d = 0 OR b + d = 0 OR a + c = 0 THEN 0.0
          |ELSE ROUND(CAST(nn AS DOUBLE)
          |  * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
          |     - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
          |  * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
          |     - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
          |  / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
          |     * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)),
          |  6) END AS chi2""".stripMargin)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cls"))
      .orderBy(col("chi2").desc, col("term"))
    new Df(scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .selectExpr(s"cls AS $classCol", "term", "chi2", "rank"))
  }
}
