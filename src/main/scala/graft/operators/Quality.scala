package graft.operators

import graft.api.Df
import graft.functions.TextFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Rule-based document quality filters — the Gopher heuristics (Rae et
  * al. 2021, "Scaling Language Models", Table A1) that most public LLM
  * corpus pipelines (MassiveText, RefinedWeb, Dolma) apply before any
  * model-based scoring. North-star extension beyond the reference's
  * surface (it has no string functions at all — SURVEY.md §2.4).
  *
  * Every signal is a composition of codegen'd Catalyst expressions
  * over the tokenized text (split/filter/transform/aggregate) — no
  * UDFs, no shuffle: the whole rule battery is ONE map-side projection
  * that scales embarrassingly at 100 TB. Ratios are rounded to 6
  * decimals so DuckDB oracles replay them bit-for-bit (the QueryUtil
  * float-parity convention).
  */
object Quality {

  private def requireArgs(op: String)(checks: (Boolean, String)*): Unit =
    checks.foreach { case (ok, msg) => require(ok, s"$op: $msg") }

  /** Gopher's stopword list — the "contains at least 2" rule is a
    * cheap has-real-prose test (word salads and navigation chrome
    * rarely contain function words). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** chars-of-`needle` count via replace-and-measure: non-overlapping
    * left-to-right occurrences, identical semantics in Java and DuckDB
    * `replace`. Returns the OCCURRENCE count. */
  private def occurrences(c: Column, needle: String): Column =
    ((length(c) - length(replace(c, lit(needle), lit("")))) / needle.length)
      .cast("long")

  /** Per-document Gopher quality signals + the keep verdict. Emits one
    * row per input row (this is the audit view — [[gopherQualityFilter]]
    * is the corpus-rewrite view):
    *
    *  - `n_words`, `avg_word_len` (NULL for token-less docs — the ANSI
    *    0/0 guard, see [[graft.functions.TextFunctions.stopwordRatio]])
    *  - `symbol_word_ratio` — (`#` + `...`/`…` occurrences) / words
    *  - `bullet_line_fraction` — lines starting `•` or `- `
    *  - `ellipsis_line_fraction` — lines ending `...` or `…`
    *  - `alpha_word_fraction` — words containing ≥1 [A-Za-z]
    *  - `n_stopwords` — total occurrences (not distinct) of `stopwords`
    *  - `keep` — the conjunction of all eight rule thresholds
    *
    * Threshold defaults are Gopher's published values; callers tune
    * them per corpus (the synthetic test corpus uses minWords=10).
    * Token-less docs: every ratio is NULL and `keep` is false via the
    * word-count rule — a single empty doc must not NULL-poison the
    * verdict column, so `keep` tests ratios only when n_words > 0.
    */
  def gopherQualityStats(docs: Df, textCol: String, idCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minAvgWordLen: Double = 3.0,
                         maxAvgWordLen: Double = 10.0,
                         maxSymbolWordRatio: Double = 0.1,
                         maxBulletLineFraction: Double = 0.9,
                         maxEllipsisLineFraction: Double = 0.3,
                         minAlphaWordFraction: Double = 0.8,
                         minStopwordCount: Int = 2,
                         stopwords: Seq[String] = GopherStopwords): Df = {
    val (sig, keep) = gopherSignals(textCol, minWords, maxWords,
      minAvgWordLen, maxAvgWordLen, maxSymbolWordRatio,
      maxBulletLineFraction, maxEllipsisLineFraction, minAlphaWordFraction,
      minStopwordCount, stopwords)
    new Df(docs.sdf.select(col(idCol) +:
      sig.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*))
  }

  /** The corpus-rewrite view of [[gopherQualityStats]]: input columns,
    * filtered to the docs that pass every rule — a pure map-side
    * predicate (the verdict is a projection of the row; no join, no
    * shuffle, pushes past the scan like any other filter). */
  def gopherQualityFilter(docs: Df, textCol: String,
                          minWords: Int = 50, maxWords: Int = 100000,
                          minAvgWordLen: Double = 3.0,
                          maxAvgWordLen: Double = 10.0,
                          maxSymbolWordRatio: Double = 0.1,
                          maxBulletLineFraction: Double = 0.9,
                          maxEllipsisLineFraction: Double = 0.3,
                          minAlphaWordFraction: Double = 0.8,
                          minStopwordCount: Int = 2,
                          stopwords: Seq[String] = GopherStopwords): Df = {
    val (_, keep) = gopherSignals(textCol, minWords, maxWords,
      minAvgWordLen, maxAvgWordLen, maxSymbolWordRatio,
      maxBulletLineFraction, maxEllipsisLineFraction, minAlphaWordFraction,
      minStopwordCount, stopwords)
    new Df(docs.sdf.where(keep))
  }

  /** Per-document Gopher repetition signals + keep verdict (Rae et al.
    * 2021 Table A1's repetition family, re-scoped to within-document
    * duplication — the cross-corpus version is
    * [[Dedup.duplicatedWindows]]):
    *
    *  - `dup_line_fraction` — duplicate line instances / lines
    *  - `dup_line_char_fraction` — chars in duplicate line instances
    *    (beyond each line's first occurrence) / total line chars
    *  - `top_ngram_char_fraction` — chars of the most frequent word
    *    `topN`-gram (count × its token chars) / total token chars;
    *    ties broken by (count, gram chars, gram) descending. Can
    *    exceed 1.0 on pathological self-overlap ("a a a a") — the
    *    threshold comparison is unaffected.
    *  - `dup_ngram_char_fraction` — token chars covered by the UNION
    *    of all duplicated `dupN`-token windows / total token chars
    *    (char-exact interval union in token-position space, the q131
    *    machinery scoped per doc).
    *
    * Char fractions count TOKEN characters only (separators excluded)
    * — a deliberate, documented divergence from Gopher's raw-char
    * accounting that makes both engines' replays byte-exact.
    *
    * Scale: one projection pass for the line family (pure array
    * expressions), then explode → aggregate keyed by (doc, gram) /
    * (doc, window-hash) for the n-gram family — high-cardinality keys,
    * partial aggregation applies, no global windows. The token table
    * is persisted once and shared by all three subtrees. */
  def gopherRepetitionStats(docs: Df, textCol: String, idCol: String,
                            topN: Int = 2, dupN: Int = 5,
                            maxDupLineFraction: Double = 0.30,
                            maxDupLineCharFraction: Double = 0.20,
                            maxTopNgramCharFraction: Double = 0.20,
                            maxDupNgramCharFraction: Double = 0.15): Df = Materialize.scope { s =>
    requireArgs("gopherRepetitionStats")(
      (topN >= 1, s"topN must be >= 1: $topN"),
      (dupN >= 1, s"dupN must be >= 1: $dupN"))
    val charsOf = (arr: Column) =>
      aggregate(arr, lit(0L), (a, x) => a + length(x))
    // FanOut before the persist (r22): the cached table inherits the
    // scan's partitioning, so on a one-row-group corpus file EVERY
    // consumer pass (gram explode + argmax, window hashing, posexplode)
    // ran single-task over the cache (r22 stage profile, q145: two ~0.9 s 1-task
    // stages while 32 cores idled); a planning no-op once the scan has
    // real row-group parallelism (guide §2.5).
    val tokTab = s.barrier(FanOut(docs.sdf)
      .select(col(idCol).as("__id"),
        tokens(col(textCol)).as("__toks"), split(col(textCol), "\n").as("__lines")))

    val toks = col("__toks")
    val lines = col("__lines")
    val lineChars = charsOf(lines)
    val dupLineChars = lineChars - charsOf(array_distinct(lines))
    val base = tokTab.select(col("__id"),
      size(toks).cast("long").as("n_tokens"),
      charsOf(toks).as("__tokchars"),
      round((size(lines) - size(array_distinct(lines))).cast("double")
        / size(lines), 6).as("dup_line_fraction"),
      when(lineChars > 0,
        round(dupLineChars.cast("double") / lineChars, 6))
        .otherwise(lit(0.0)).as("dup_line_char_fraction"))

    // most frequent topN-gram: explode all grams (duplicates kept),
    // count per (doc, gram), argmax by (count, gram chars, gram)
    val gramsTop = when(size(toks) >= topN,
      transform(sequence(lit(0), size(toks) - topN),
        i => concat_ws(" ", slice(toks, i + 1, lit(topN)))))
      .otherwise(array().cast("array<string>"))
    val topCnt = tokTab.select(col("__id"), explode(gramsTop).as("__g"))
      .groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col("__id"))
      .agg(max(struct(col("__cnt"),
        (length(col("__g")) - (topN - 1)).cast("long").as("__gchars"),
        col("__g"))).as("__m"))
      .select(col("__id"),
        (col("__m.__cnt") * col("__m.__gchars")).as("__topchars"))

    // duplicated dupN-windows: hashed windows with a same-doc count
    // > 1; covered = union of their [start, start+dupN) positions
    val winHashes = when(size(toks) >= dupN,
      transform(sequence(lit(0), size(toks) - dupN),
        i => hash32(concat_ws(" ", slice(toks, i + 1, lit(dupN))))))
      .otherwise(array().cast("array<long>"))
    val wins = tokTab.select(col("__id"),
      posexplode(winHashes).as(Seq("__start", "__h")))
    val dupWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"), col("__h"))
    val dupStarts = wins
      .withColumn("__c", count(lit(1)).over(dupWin)).where(col("__c") > 1)
    val covered = dupStarts.select(col("__id"),
      explode(sequence(col("__start"), col("__start") + (dupN - 1))).as("__p"))
      .distinct()
    val tokLens = tokTab.select(col("__id"),
      posexplode(toks).as(Seq("__p", "__tok")))
      .select(col("__id"), col("__p"), length(col("__tok")).cast("long").as("__l"))
    val cov = covered.join(tokLens, Seq("__id", "__p"))
      .groupBy(col("__id")).agg(sum(col("__l")).as("__covchars"))

    val joined = base
      .join(topCnt, Seq("__id"), "left")
      .join(cov, Seq("__id"), "left")
    val topFrac = when(col("__tokchars") > 0,
      round(coalesce(col("__topchars"), lit(0L)).cast("double")
        / col("__tokchars"), 6)).otherwise(lit(0.0))
    val dupFrac = when(col("__tokchars") > 0,
      round(coalesce(col("__covchars"), lit(0L)).cast("double")
        / col("__tokchars"), 6)).otherwise(lit(0.0))
    val keep = (col("dup_line_fraction") <= maxDupLineFraction) &&
      (col("dup_line_char_fraction") <= maxDupLineCharFraction) &&
      (topFrac <= maxTopNgramCharFraction) &&
      (dupFrac <= maxDupNgramCharFraction)
    new Df(joined.select(col("__id").as(idCol), col("n_tokens"),
      col("dup_line_fraction"), col("dup_line_char_fraction"),
      topFrac.as("top_ngram_char_fraction"),
      dupFrac.as("dup_ngram_char_fraction"),
      keep.as("keep")))
  }

  /** shared signal battery: (named signal columns, keep verdict) */
  private def gopherSignals(textCol: String,
                            minWords: Int, maxWords: Int,
                            minAvgWordLen: Double, maxAvgWordLen: Double,
                            maxSymbolWordRatio: Double,
                            maxBulletLineFraction: Double,
                            maxEllipsisLineFraction: Double,
                            minAlphaWordFraction: Double,
                            minStopwordCount: Int,
                            stopwords: Seq[String]): (Seq[(String, Column)], Column) = {
    requireArgs("gopherQualityStats")(
      (minWords >= 0 && maxWords >= minWords,
        s"need 0 <= minWords <= maxWords: $minWords, $maxWords"),
      (minAvgWordLen <= maxAvgWordLen,
        s"need minAvgWordLen <= maxAvgWordLen: $minAvgWordLen, $maxAvgWordLen"),
      (stopwords.nonEmpty, "stopwords must be non-empty"))
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = size(toks).cast("long")
    val avgLen = when(nWords > 0,
      round(aggregate(toks, lit(0L), (a, w) => a + length(w)).cast("double")
        / nWords, 6))
    // Gopher's "symbols": hash signs and ellipses (both spellings)
    val nSymbols = occurrences(t, "#") + occurrences(t, "…") +
      occurrences(t, "...")
    val symbolRatio = when(nWords > 0,
      round(nSymbols.cast("double") / nWords, 6))
    // split("") yields [""] — a doc always has >= 1 line, no 0/0 here
    val lines = split(t, "\n")
    val nLines = size(lines)
    val bulletFrac = round(
      size(filter(lines, l => l.startsWith("•") || l.startsWith("- ")))
        .cast("double") / nLines, 6)
    val ellipsisFrac = round(
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
        .cast("double") / nLines, 6)
    val alphaFrac = when(nWords > 0,
      round(size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("double")
        / nWords, 6))
    val nStops = size(filter(toks,
      w => w.isin(stopwords.map(x => x: Any): _*))).cast("long")
    val keep = nWords.between(minWords, maxWords) &&
      avgLen.between(minAvgWordLen, maxAvgWordLen) &&
      (symbolRatio <= maxSymbolWordRatio) &&
      (bulletFrac <= maxBulletLineFraction) &&
      (ellipsisFrac <= maxEllipsisLineFraction) &&
      (alphaFrac >= minAlphaWordFraction) &&
      (nStops >= minStopwordCount)
    (Seq(
      "n_words" -> nWords, "avg_word_len" -> avgLen,
      "symbol_word_ratio" -> symbolRatio,
      "bullet_line_fraction" -> bulletFrac,
      "ellipsis_line_fraction" -> ellipsisFrac,
      "alpha_word_fraction" -> alphaFrac,
      "n_stopwords" -> nStops),
      coalesce(keep, lit(false)))
  }
}
