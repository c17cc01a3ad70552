package graft.operators

import graft.api.Df
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: PII
  * detection/redaction, URL/domain filtering, corpus-level exact line
  * dedup (the C4/RefinedWeb cleaning steps), and character-entropy
  * quality scoring. North-star extensions beyond the reference's
  * surface (it has no string functions at all — SURVEY.md §2.4).
  *
  * Everything is codegen'd Catalyst expressions plus key-hashed
  * aggregations — no UDFs, no driver-side loops. Regex patterns are
  * written to the COMMON subset of Java regex and RE2 so the DuckDB
  * oracles replay them verbatim.
  */
object Curation {

  /** email mailbox pattern (conservative RFC-ish subset) */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** dotted-quad IPv4 (no octet range check — detector, not validator) */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** SSN-shaped government id `ddd-dd-dddd` */
  val IdRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  /** URL with the host as capture group 1 */
  val UrlDomainRe = "https?://([A-Za-z0-9.-]+)"

  /** All three PII classes replaced with typed placeholders. Email runs
    * first: its local/host parts can contain digit runs that the
    * narrower patterns would otherwise chew into partial matches. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(IdRe), lit("<ID>"))

  /** Per-document PII audit: match counts per class (on the ORIGINAL
    * text) plus the redacted text. One narrow projection, fully
    * codegen'd — at 100 TB this is a pure map stage, no shuffle. */
  def piiStats(docs: Df, textCol: String, idCol: String): Df = {
    val t = col(textCol)
    new Df(docs.sdf.select(col(idCol),
      regexp_count(t, lit(EmailRe)).as("n_emails"),
      regexp_count(t, lit(Ipv4Re)).as("n_ips"),
      regexp_count(t, lit(IdRe)).as("n_ids"),
      redactPii(t).as("redacted")))
  }

  /** DISTINCT domains linked per document: (idCol, domain), one row per
    * (doc, domain). Docs with no URL contribute no rows. */
  def extractDomains(docs: Df, textCol: String, idCol: String): Df =
    new Df(docs.sdf.select(col(idCol),
      explode(array_distinct(
        regexp_extract_all(col(textCol), lit(UrlDomainRe), lit(1)))).as("domain")))

  /** Drop documents linking to any blocklisted domain — the URL-level
    * safety filter. NULL text can't contain a blocked domain, so it is
    * KEPT (the un-coalesced `!arrays_overlap` would go NULL and silently
    * drop it). Pure map-side filter: the blocklist is an array literal
    * in the plan, never a join. */
  def dropByDomain(docs: Df, textCol: String, blocklist: Seq[String]): Df = {
    val doms = array_distinct(
      regexp_extract_all(col(textCol), lit(UrlDomainRe), lit(1)))
    new Df(docs.sdf.where(
      coalesce(!arrays_overlap(doms, typedlit(blocklist)), lit(true))))
  }

  /** The hex letters an escape's digits may carry in lowercase — one
    * literal first-position rule and one single-capture second-position
    * rule each in the oracle's replay chain (RE2 has no lookaround and
    * no engine can case-map a capture). Forwarded from the native
    * kernel so operator, expression, and oracle share ONE table. */
  private[graft] val PctHexLetters: Seq[Char] =
    graft.plans.PercentNormalize.hexLetters

  /** RFC 3986 §6.2.2 unreserved octets, as (uppercase-hex escape →
    * decoded char): ALPHA / DIGIT / `-` / `.` / `_` / `~`. Escapes of
    * every OTHER octet (reserved, `%25` itself) stay encoded — decoding
    * them would change which resource the URL names. Single-sourced
    * from [[graft.plans.PercentNormalize.decodeTable]] into the q135
    * oracle so the DuckDB replay can never drift. */
  private[graft] val PctDecode: Seq[(String, String)] =
    graft.plans.PercentNormalize.decodeTable

  /** URL canonicalization — the CommonCrawl-style pre-content dedup
    * key. Canonical form, in order:
    *  1. fragment stripped (`#…` never reaches the server);
    *  2. percent-encoding normalized (RFC 3986 §6.2.2): escape hex
    *     uppercased (`%7e` → `%7E`), then unreserved escapes decoded
    *     (`%7E` → `~`, [[PctDecode]]) so the encoded and plain
    *     spellings of the same resource share one key; reserved
    *     escapes (`%2F`, `%3F`, `%25`, …) stay encoded;
    *  3. scheme + host lowercased (paths stay case-sensitive; runs
    *     AFTER step 2 so a host letter decoded from `%41` still
    *     lowercases);
    *  4. `www.` host prefix stripped (a run of them in one pass) —
    *     ONLY while at least two host labels remain, so a registrable
    *     `www.com` is not merged into `com` (`www.www.com` keeps one);
    *  5. default ports stripped (`:80` for http, `:443` for https);
    *  6. QUERY-ONLY rewrites (the URL is split at the first `?` so no
    *     query rule can ever mutate path content — a path like
    *     `/AT&&T/x` is data, not separators): tracking params stripped
    *     (`utm_*`, `gclid`, `fbclid`), empty `&&` components collapsed
    *     (raw `&` inside a query IS a separator per RFC 3986), dangling
    *     `?`/`&` dropped;
    *  7. PATH-ONLY rewrites: trailing path slashes stripped, and the
    *     root forms unified (`https://h` ≡ `https://h/` →
    *     `https://h` — RFC-equivalent resources, one key).
    * Documented residuals: a RAW `?` or `&` inside a query VALUE (legal
    * but rare — unencoded data) is treated as a separator boundary by
    * the param-strip, matching how crawl-scale canonicalizers behave;
    * and a RAW `%` starting a MALFORMED escape (`%ax`) gets its hex
    * letters case-normalized as if it opened an escape.
    * Pure codegen'd regex/replace pipeline over the COMMON Java/RE2
    * subset (the [[EmailRe]] convention — no lookaround) so DuckDB
    * oracles replay it verbatim.
    * Input WITHOUT a `scheme://` authority is returned verbatim — the
    * whole pipeline is gated on the scheme match, so free text with
    * `?`/`&&`/`#` in it is never rewritten. NULL stays NULL. */
  def normalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, lit("#.*$"), lit(""))
    // percent pass: uppercase escape hex, decode unreserved escapes —
    // ONE native codegen'd expression (graft.plans.PercentNormalize).
    // The equivalent column formulation is a ~78-step replace chain
    // whose generated code blows Janino's 64 KB method limit and
    // knocks the whole stage out of whole-stage codegen (measured on
    // the q135 plan); the native kernel is one static call, '%'-gated
    // so escape-free URLs pay a single scan. The DuckDB oracle replays
    // the chain folded from the SAME tables (PctHexLetters/PctDecode),
    // and NativeExprSpec pins expression ≡ chain differentially.
    val pct = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.PercentNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(noFrag)))
    // lowercase "scheme://host[:port]" — regexp can't lowercase a
    // capture, so split at the authority boundary and rejoin
    val head = regexp_extract(pct, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(head), substr(pct, length(head) + 1))
    val auth = Seq(
      // the guard group needs a dot in what remains of the host: on
      // 'www.www.com' the engine backs off to stripping ONE 'www.'
      "^(https?://)(www\\.)+([^/:?#]*\\.[^/:?#]+)" -> "$1$3",
      "^(http://[^/:?#]+):80([/?]|$)" -> "$1$2",
      "^(https://[^/:?#]+):443([/?]|$)" -> "$1$2")
      .foldLeft(lowered) { case (u, (p, r)) => regexp_replace(u, lit(p), lit(r)) }
    // split at the FIRST '?': path rules never see the query and query
    // rules never see the path
    val qpos = instr(auth, "?")
    val base0 = when(qpos > 0, substr(auth, lit(1), qpos - 1)).otherwise(auth)
    val base = Seq(
      "(://[^/?#]*/[^?#]*?)/+$" -> "$1",     // trailing path slashes
      "^(https?://[^/?#]+)/$" -> "$1")       // lone root slash
      .foldLeft(base0) { case (u, (p, r)) => regexp_replace(u, lit(p), lit(r)) }
    val query0 = when(qpos > 0, substr(auth, qpos)).otherwise(lit(""))
    val query = Seq(
      "([?&])(utm_[A-Za-z]+|gclid|fbclid)=[^&#]*" -> "$1",
      "&&+" -> "&",
      "^\\?&+" -> "?",
      "[?&]+$" -> "")
      .foldLeft(query0) { case (u, (p, r)) => regexp_replace(u, lit(p), lit(r)) }
    when(head === "", c).otherwise(concat(base, query))
  }

  /** Exact URL dedup: keep the minimum `idCol` per canonical URL (the
    * [[Dedup.exactByFingerprint]] shape, keyed on [[normalizeUrl]]).
    * Rows with a NULL url form no group and are all kept — an unknown
    * URL is not evidence of duplication.
    *
    * The keyed frame is persisted: both union branches reference it and
    * Spark plans trees — unpersisted, the source scan plus the 9-regex
    * canonicalization would run twice. */
  def dedupByUrl(docs: Df, urlCol: String, idCol: String): Df = Materialize.scope { s =>
    val withKey = s.barrier(
      docs.sdf.select(col(idCol), normalizeUrl(col(urlCol)).as("__u")))
    val keyed = withKey.where(col("__u").isNotNull)
      .groupBy(col("__u"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("__u").as("canonical_url"), col("n_copies"))
    val nulls = withKey.where(col("__u").isNull)
      .select(col(idCol), col("__u").as("canonical_url"), lit(1L).as("n_copies"))
    new Df(keyed.unionByName(nulls))
  }

  /** Corpus-level exact line dedup (the C4 cleaning rule): every line
    * keeps only its FIRST occurrence across the whole corpus — first =
    * min (idCol, line position), a total order, so the result is
    * deterministic. Output per doc: `textCol` rebuilt from the kept
    * lines (original order), `n_kept`, and `n_lines`; a doc whose every
    * line appeared earlier keeps an empty string.
    *
    * Scale shape: one shuffle keyed on the 32-bit line hash (argmin per
    * line), one hash-join back (line-hash keyed — never a window over
    * the unpartitioned corpus), one per-doc rollup. Lines are compared
    * via [[graft.functions.TextFunctions.hash32]] like every dedup
    * sibling — a 2^-32 collision merges two distinct lines (documented
    * trade; oracles replay the hash so parity holds regardless).
    *
    * The line table is persisted: it feeds the argmin, the join-back,
    * and the totals — Spark plans trees, so unpersisted the split+md5
    * scan would run three times. */
  def dedupLines(docs: Df, textCol: String, idCol: String): Df = Materialize.scope { s =>
    val lines = s.barrier(docs.sdf
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", hash32(col("line"))))
    val first = lines.groupBy(col("lh"))
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("f"))
    val kept = lines.join(first, Seq("lh"))
      .where(col(idCol) === col("f.d") && col("pos") === col("f.p"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line"))).as(textCol))
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    new Df(totals.join(rebuilt, Seq(idCol), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn(textCol, coalesce(col(textCol), lit(""))))
  }

  /** Token-budget sequence packing — assign each document to a fixed-
    * size training "pack" (context-window bin). Documents are hash-
    * sharded ([[graft.functions.TextFunctions.hash32]] of the id, the
    * [[graft.api.Df.splitByHash]] convention), then packed WITHIN each
    * shard in id order: a doc's pack is the bin containing its first
    * token under the running token prefix sum (`prefix div budget` —
    * integral `div`, never a float divide whose 2^53 ceiling a corpus-
    * scale prefix sum would cross). A doc longer than `budget` occupies
    * the bin where it starts and pushes followers over — the streaming
    * concatenate-then-cut rule.
    *
    * Scale shape: the within-shard prefix sum is a window over
    * (shard, id) — parallelism = `shards`, each shard task streams its
    * slice in sorted order; there is NO keyless global window (the
    * single-task funnel [[graft.api.Df.withRowIndex]] warns about).
    * Global pack identity is the PAIR (shard, pack). Requires a unique
    * `idCol` for a deterministic order; re-runs and repartitions cannot
    * move a doc between packs. */
  def packSequences(docs: Df, textCol: String, idCol: String,
                    budget: Int, shards: Int = 256): Df = {
    require(budget > 0, s"budget must be positive: $budget")
    require(shards > 0, s"shards must be positive: $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    new Df(docs.sdf
      .select(col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        (hash32(col(idCol).cast("string")) % shards).cast("int").as("shard"))
      .withColumn("__pre", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack", expr(s"CAST(__pre div $budget AS BIGINT)"))
      .drop("__pre"))
  }

  /** Materialize the training sequences [[packSequences]] assigns: one
    * row per (shard, pack) with the member docs' text concatenated in
    * id order (single-space joined — the trainer's tokenizer re-splits),
    * plus `n_docs` and the exact token total. The emit side of the
    * packing story: `packSequences` decides WHERE every doc goes,
    * this builds WHAT the data loader reads.
    *
    * Scale shape: one id-keyed join back to the text (the assignment
    * frame carries only ids + counters), one (shard, pack) aggregation.
    * Per-group state is bounded by `budget` tokens: token-LESS docs are
    * EXCLUDED (they carry nothing trainable, and since a zero-token doc
    * never advances the prefix sum, an adversarial run of them would
    * otherwise pile into one (shard, pack) group without limit); every
    * remaining doc contributes ≥ 1 token, so a pack's collect_list
    * holds at most `budget` docs + one overhanging doc — one context
    * window of text (the streaming concatenate-then-cut rule). */
  def materializePacks(docs: Df, textCol: String, idCol: String,
                       budget: Int, shards: Int = 256): Df = {
    val assigned = packSequences(docs, textCol, idCol, budget, shards).sdf
      .where(col("n_tokens") > 0)
    val joined = assigned.join(docs.sdf.select(col(idCol), col(textCol)), Seq(idCol))
    new Df(joined.groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col(idCol), col(textCol)))),
            s => s(textCol))).as(textCol)))
  }

  /** Temperature-based domain rebalancing — the standard multilingual /
    * multi-domain pretraining mixture rule (sampling mass ∝ share^α,
    * α ∈ [0, 1]): α = 1 keeps the natural distribution, α = 0 flattens
    * every domain to the smallest one, values between damp the head
    * without starving the tail. Downsample-only realization: each
    * domain keeps fraction `(n_d / n_min)^(α−1)` — the smallest domain
    * keeps everything, larger domains shrink toward it — decided by the
    * same deterministic md5 hash rule as [[mixCorpora]], so the sample
    * is stable under re-runs, reshuffles, and appends.
    *
    * The keep fraction is ROUNDed to 6 decimals before thresholding:
    * `pow` is not correctly rounded IEEE, so engines may differ in the
    * last ulp — the round pins the 4-decimal threshold
    * `round(f·buckets)` to one agreed value (the repo-wide float-oracle
    * convention). Same scale shape as [[mixCorpora]]: one count
    * aggregate, a broadcast scalar, a broadcast map-side keep filter —
    * the corpus scan is one pass, nothing collects.
    *
    * NULL-domain rows are dropped, like [[mixCorpora]]'s unweighted
    * sources — and they are excluded from the counts BEFORE `n_min` is
    * taken: `groupBy` keeps a NULL group, and a stray handful of
    * unlabeled rows becoming the smallest "domain" would silently
    * collapse every real domain's keep fraction toward zero. */
  def temperatureResample(docs: Df, domainCol: String, idCol: String,
                          alpha: Double, buckets: Int = 10000): Df = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1]: $alpha")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val counts = docs.sdf.where(col(domainCol).isNotNull)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
    val nmin = counts.agg(min(col("__n")).as("__nmin"))
    val fracs = counts.crossJoin(broadcast(nmin))
      .select(col(domainCol),
        round(least(pow(col("__n").cast("double") / col("__nmin").cast("double"),
          lit(alpha - 1.0)), lit(1.0)), 6).as("__f"))
    new Df(keepByHashFraction(docs.sdf, domainCol, idCol, fracs, buckets))
  }

  /** Per-domain quota cap — the crawl-curation rule that stops a
    * handful of mega-sites from owning the corpus: each domain keeps at
    * most `cap` docs, picked deterministically by md5(id) order (a
    * seedless uniform draw both engines replay; ties broken by id).
    *
    * Scale design: the obvious single-pass window (`row_number over
    * partition by domain`) funnels every mega-domain through one task —
    * exactly the skew this operator exists to fight. Instead, two
    * phases: (1) count per domain (partial-agg, tiny result, broadcast
    * back); (2) domains within quota bypass ranking entirely (most of
    * the corpus, a map-side filter), and ONLY over-cap domains' rows
    * enter the ranking window — a small slice, and bounded further
    * because anything beyond the cap only needs to lose, not to be
    * ordered. The join is a broadcast of (domain, n) pairs — domains
    * are bounded in practice; if yours are not, swap for a plain
    * equi-join (the phases still hold). */
  def domainQuotaCap(docs: Df, domainCol: String, idCol: String,
                     cap: Int): Df = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val counts = docs.sdf.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__n"))
    val tagged = docs.sdf.join(broadcast(counts), Seq(domainCol), "left")
    // NULL domains never match the equi-join (__n stays null): an
    // unknown domain is not evidence of over-crawling — keep them all
    // (the dedupByUrl null contract)
    val under = tagged.where(col("__n").isNull || col("__n") <= cap)
      .drop("__n")
    val overW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val over = tagged.where(col("__n") > cap).drop("__n")
      .withColumn("__rn", row_number().over(overW))
      .where(col("__rn") <= cap).drop("__rn")
    // the equi-join hoisted the key column first; restore input order
    new Df(under.unionByName(over).select(docs.columns.map(col): _*))
  }

  /** Deterministic epoch-wise corpus shuffle — the training-data
    * ordering primitive: every epoch sees the corpus in a different
    * pseudo-random order, reproducible from (seed, epoch) alone (no RNG
    * state to persist, no engine-specific randomness — DuckDB replays
    * the order bit-for-bit). Each row is keyed by
    * `md5(seed:epoch:id)` and the corpus totally ordered by
    * (key, id) — the id tiebreak keeps the order total even under an
    * md5 prefix collision.
    *
    * Scale design: md5 keys are uniform by construction, so the range
    * exchange behind the total order is balanced with NO sampling skew
    * — exactly as many output partitions as shuffle partitions, each
    * the same size. The global ordinal comes from
    * [[graft.api.Df.withRowIndexScalable]] (two-pass zip-with-index —
    * a per-partition offset array, never a single-partition window).
    * Writers consume the result partition-ordered; at 100 TB this is
    * one shuffle plus two map passes, the floor for any total order. */
  /** Leakage-free temporal train/holdout split: the LAST
    * `max(1, floor(n_days × holdoutFrac))` distinct event-time days
    * become the holdout — every holdout row is strictly later (by day)
    * than every train row, the property a time-series eval needs and a
    * random split silently violates (training on the future of the
    * test set). Day granularity makes the boundary calendar-stable: a
    * re-run over late-arriving data moves whole days, never splits
    * one.
    *
    * Scale: the day inventory is one partial+final DISTINCT over
    * day-truncated timestamps — bounded by calendar days, not data
    * size (a decade is ~3.7k rows); the cutoff is a driver-side min
    * over the holdout tail of that tiny frame, and the labeling pass
    * is one codegen'd comparison against a literal. Rows with a NULL
    * timestamp are dropped (they have no position in time — labeling
    * them either side would be a silent guess). */
  def timeSplit(df: Df, tsCol: String, holdoutFrac: Double,
                trainLabel: String = "train",
                holdoutLabel: String = "holdout"): Df = {
    require(holdoutFrac > 0.0 && holdoutFrac < 1.0,
      s"timeSplit: holdoutFrac must be in (0, 1): $holdoutFrac")
    require(trainLabel != holdoutLabel,
      s"timeSplit: labels must differ: '$trainLabel'")
    val rows = df.sdf.where(col(tsCol).isNotNull)
    val days = rows.select(date_trunc("DAY", col(tsCol)).as("__d")).distinct()
    val n = days.count()
    require(n > 0, s"timeSplit: no non-NULL values in '$tsCol'")
    val hold = math.max(1L, math.floor(n * holdoutFrac).toLong).toInt
    val cutoff = days.sort(col("__d").desc).limit(hold)
      .agg(min("__d")).head().getTimestamp(0)
    new Df(rows.withColumn("split",
      when(date_trunc("DAY", col(tsCol)) >= lit(cutoff),
        lit(holdoutLabel)).otherwise(lit(trainLabel))))
  }

  def epochShuffle(docs: Df, idCol: String, seed: Long, epoch: Int,
                   posCol: String = "position"): Df = {
    require(epoch >= 0, s"epoch must be non-negative: $epoch")
    val key = md5(concat_ws(":", lit(seed), lit(epoch),
      col(idCol).cast("string")))
    new Df(docs.sdf.withColumn("__shuffle_key", key))
      .withRowIndexScalable(Seq("__shuffle_key", idCol), posCol)
      .drop("__shuffle_key").resetIndex
  }

  /** The deterministic keep rule shared by [[temperatureResample]] and
    * [[mixCorpora]] (and mirrored by both oracles): broadcast the
    * per-domain fraction frame (`__f` ∈ [0, 1]), keep a row iff its
    * md5-bucket falls under `round(__f · buckets)`. ONE home for the
    * hash/threshold arithmetic — the float-oracle convention lives
    * here, not in two drifting copies. */
  private def keepByHashFraction(docs: DataFrame, keyCol: String,
                                 idCol: String, fracs: DataFrame,
                                 buckets: Int): DataFrame =
    docs.join(broadcast(fracs), Seq(keyCol))
      .where(hash32(col(idCol).cast("string")) % buckets <
        round(col("__f") * buckets).cast("long"))
      .drop("__f")

  /** Deterministic corpus mixing: downsample so the `sourceCol`
    * distribution of the OUTPUT matches the target `weights` (the
    * domain-mixture step before training). The largest feasible total
    * is T = min over sources of n_s/w_s (no source is ever UPsampled —
    * duplication is the dedup family's enemy); each source then keeps
    * fraction w_s·T/n_s of its rows by the [[graft.api.Df.splitByHash]]
    * hash rule, so the sample is stable under re-runs, reshuffles, and
    * appends. Sources absent from `weights` are dropped (weight 0).
    *
    * Fully declarative — NO driver-side collect: per-source counts are
    * one partial+final aggregate (rows = source cardinality), the
    * feasibility scalar T rides a broadcast 1-row cross join (the
    * [[graft.api.Df]] scalar convention), and the keep-filter is a
    * broadcast map-side semi-join — the 100 TB scan is one pass. */
  def mixCorpora(docs: Df, sourceCol: String, idCol: String,
                 weights: Map[String, Double], buckets: Int = 10000): Df = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0), s"weights must be positive: $weights")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val s = docs.spark
    import s.implicits._
    val wdf = weights.toSeq.toDF(sourceCol, "__w")
    val counts = docs.sdf.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .join(broadcast(wdf), Seq(sourceCol))
    val t = counts.agg(min(col("__n") / col("__w")).as("__t"))
    val fracs = counts.crossJoin(broadcast(t))
      .select(col(sourceCol),
        least(col("__w") * col("__t") / col("__n"), lit(1.0)).as("__f"))
    new Df(keepByHashFraction(docs.sdf, sourceCol, idCol, fracs, buckets))
  }

  /** Shannon entropy (nats) of the per-document CHARACTER distribution —
    * the cheap gibberish/boilerplate signal: natural text sits around
    * 2.5–3.5, single-char spam near 0, uniform noise near ln(alphabet).
    * H = ln n − (Σ ct·ln ct)/n; each ct·ln(ct) term is cast to
    * DECIMAL(28,10) before summing so the per-doc sum is order-
    * independent (double addition is not — the [[TextAnalytics
    * .unigramLogLoss]] convention) and a degenerate single-char doc
    * cannot overflow the per-term cast (ct·ln ct stays under 1e18 for
    * any ct ≤ ~2^53; DECIMAL(18,8) capped out near ct ≈ 4e8 — the
    * [[graft.operators.Similarity]] meanPool precision convention).
    * ROUND 4 absorbs the ≤1-ulp libm spread on the outer ln. Two
    * shuffles on the doc id, no UDFs; the group count per (doc, char)
    * is bounded by the alphabet. */
  def charEntropy(docs: Df, textCol: String, idCol: String): Df = {
    val chars = docs.sdf.select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit("(?s)."), lit(0))).as("c"))
    val perChar = chars.groupBy(col(idCol), col("c")).agg(count(lit(1)).as("ct"))
    new Df(perChar.groupBy(col(idCol)).agg(
      sum(col("ct")).cast("long").as("n_chars"),
      round(log(sum(col("ct")).cast("double")) -
        sum((col("ct").cast("double") * log(col("ct").cast("double")))
          .cast("decimal(28,10)")).cast("double") / sum(col("ct")),
        4).as("entropy")))
  }

  /** Quality-ordered corpus selection under a token budget — the
    * "select the best 1T tokens out of 10T" step every pretraining mix
    * ends with: rank docs by `scoreCol` (desc, `idCol` tiebreak — a
    * total order), take the prefix whose running token total stays
    * ≤ `budget`. Output keeps `cum_tokens` (the running total INCLUDING
    * the row) so the cut is auditable.
    *
    * Scale: a naive `SUM OVER (ORDER BY …)` is a single-partition
    * window — one task owns the whole corpus. This runs the standard
    * distributed prefix sum instead: range-partition on the rank key,
    * partition-LOCAL cumulative windows, and per-partition totals
    * (one bounded driver round-trip, |partitions| longs) turned into
    * exclusive offsets that broadcast back. The result is independent
    * of the sampled range boundaries because the rank key is a strict
    * total order and long addition is associative. NULL token counts
    * add nothing (SQL SUM semantics) but stay eligible rows; NULL
    * scores rank last (desc_nulls_last on both engines by contract). */
  def selectByTokenBudget(docs: Df, scoreCol: String, tokensCol: String,
                          idCol: String, budget: Long,
                          numPartitions: Int = 0): Df = Materialize.scope { s =>
    require(budget >= 0, s"selectByTokenBudget: budget must be >= 0: $budget")
    // a negative token count (tokenizer failure sentinel) would make
    // the running total non-monotone and silently re-admit rows after
    // the cut — the result would no longer be a prefix. Fail loudly at
    // scan time instead; NULL stays allowed (adds nothing).
    val tok = when(col(tokensCol) < 0, raise_error(concat(
        lit(s"selectByTokenBudget: negative token count in '$tokensCol': "),
        col(tokensCol).cast("string"))))
      .otherwise(col(tokensCol)).cast("long")
    val keys = Seq(col(scoreCol).desc_nulls_last, col(idCol).asc)
    // pinned against AQE coalescing: the per-partition totals job and
    // the cut replay both need the exchange's full parallelism (the
    // r15 protocol-pin convention)
    val ranged0 = docs.sdf.repartitionByRange(
      if (numPartitions > 0) numPartitions
      else Gate.shufflePartitions(docs.sdf), keys: _*)
    val ranged = s.persist(ranged0.sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id()))
    val totals = ranged.groupBy("__pid")
      .agg(coalesce(sum(tok), lit(0L)).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) =>
      (pid, acc + t)
    }.sliding(2).collect { case Array((_, acc), (pid, _)) => (pid, acc) }.toSeq
    val offsetDf = ranged.sparkSession
      .createDataFrame(offsets.map { case (p, o) => (p, o) })
      .toDF("__pid", "__offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(keys: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    new Df(ranged
      .join(broadcast(offsetDf), Seq("__pid"))
      .withColumn("cum_tokens",
        col("__offset") + coalesce(sum(tok).over(w), lit(0L)))
      .where(col("cum_tokens") <= budget)
      .drop("__pid", "__offset"))
  }

  /** Linear quality-classifier scoring over hashed bag-of-words
    * features — the fastText-style shape (Joulin et al. 2017) most
    * production corpus filters run (CCNet's LM filter, the GPT-3/LLaMA
    * "looks-like-Wikipedia" logistic classifier): each token hashes to
    * one of `buckets` feature slots, the model is a (bucket → weight)
    * table, a document's score is the MEAN weight of its token stream
    * (counting duplicates), `keep = score > 0`. Training happens
    * offline (any logistic-regression fit); this operator is the
    * cluster-scale APPLY step. Tokens hash with the portable
    * [[graft.functions.TextFunctions.hash32]], so the features are
    * engine-independent; the mean rides an exact DECIMAL(18,2) sum
    * (weights are expected at ≤2dp — quantize the model accordingly),
    * making the score bit-reproducible under any aggregation order.
    * Token-less documents have no feature stream and drop out.
    *
    * Scale: tokens explode → bucket hash (pure codegen) → broadcast
    * join against the weight table (buckets ≤ a few million — always
    * broadcast-able) → one partial+final agg per doc. No shuffle of
    * the corpus beyond the per-doc agg; the model rides the plan. */
  def hashedLinearScore(docs: Df, textCol: String, idCol: String,
                        weights: Df, buckets: Int = 1 << 20): Df = {
    require(buckets >= 1, s"hashedLinearScore: buckets must be >= 1: $buckets")
    val toks = docs.sdf.select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        graft.functions.TextFunctions.hash32(col("tok")) % buckets)
    new Df(toks
      .join(broadcast(weights.sdf), Seq("bucket"), "left")
      .withColumn("weight", coalesce(col("weight"), lit(0.0)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("weight").cast("decimal(18,2)")).cast("double") /
          count(lit(1)), 6).as("score"))
      .withColumn("keep", col("score") > 0))
  }

  /** Frequency-based boilerplate line removal — the RefinedWeb/CCNet
    * cleaning rule [[dedupLines]] (keep-first) deliberately does NOT
    * implement: a line that occurs in at least `minDocFreq` DISTINCT
    * documents is navigation/footer chrome and is stripped from EVERY
    * document (no surviving copy — the line itself is the noise);
    * rarer repeats (quotes, licenses under the threshold) are kept in
    * all their documents.
    *
    * Emits (idCol, n_lines, n_kept, textCol): the rebuilt text in
    * original line order, with per-doc audit counts. Documents whose
    * every line was boilerplate survive with empty text.
    *
    * Scale shape: lines explode once (persisted — the table feeds the
    * doc-frequency count, the anti-join, and the totals); document
    * frequency aggregates the 8-byte line hash after a (doc, hash)
    * distinct, so the shuffle carries hashes, never line text; the
    * boilerplate set (df ≥ threshold) is tiny by construction at any
    * sane threshold and rides a LEFT ANTI join AQE will broadcast. */
  def stripBoilerplateLines(docs: Df, textCol: String, idCol: String,
                            minDocFreq: Long): Df = Materialize.scope { s =>
    require(minDocFreq >= 2,
      s"stripBoilerplateLines: minDocFreq must be >= 2: $minDocFreq")
    val lines = s.barrier(docs.sdf
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", hash32(col("line"))))
    val boiler = lines.select(col(idCol), col("lh")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocFreq)
      .select(col("lh"))
    val kept = lines.join(boiler, Seq("lh"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line"))).as(textCol))
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    new Df(totals.join(rebuilt, Seq(idCol), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn(textCol, coalesce(col(textCol), lit(""))))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each raw
    * document by how target-like its hashed bag-of-words profile is.
    * Features are unigrams hashed into `buckets` slots
    * ([[graft.functions.TextFunctions.hash32]] — engine-portable);
    * the target and raw bucket distributions get add-1 smoothing
    * (`(ct+1)/(total+buckets)`); a document's log-importance-weight is
    * the sum over its TOKEN STREAM (duplicates count, per the paper's
    * bag-of-hashed-ngrams model) of
    * `ln p_target(bucket) − ln p_raw(bucket)`. Downstream, sample
    * proportionally to the weight (or keep the top slice by it) —
    * this operator is the scoring pass.
    *
    * `targetIsCol` names a BOOLEAN column marking the target-domain
    * rows (NULL = false); the raw distribution is the WHOLE corpus,
    * target ⊂ raw, as in the paper's hashed-ngram estimator. Each log
    * term is cast to DECIMAL(18,8) before summing (order-independent),
    * and the per-doc sum is rounded to 4dp.
    *
    * Scale: one tokenize pass (persisted — it feeds the bucket counts,
    * the totals, and the scoring join); bucket stats shuffle `buckets`
    * keys; the (bucket → log-ratio) table is ≤ `buckets` rows and
    * broadcast; scoring is a broadcast join + one per-doc agg. Nothing
    * shuffles tokens twice. Token-less docs drop out (no features). */
  def dsirLogWeights(docs: Df, textCol: String, idCol: String,
                     targetIsCol: String, buckets: Int = 1 << 16): Df = Materialize.scope { s =>
    require(buckets >= 1, s"dsirLogWeights: buckets must be >= 1: $buckets")
    val toks = s.barrier(docs.sdf.select(col(idCol),
        coalesce(col(targetIsCol), lit(false)).as("__tgt"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket", hash32(col("tok")) % buckets))
    val counts = toks.groupBy(col("bucket")).agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct_t"),
      count(lit(1)).as("__ct_r"))
    val totals = toks.agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tot_t"),
      count(lit(1)).as("__tot_r"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("__ct_t") + 1).cast("double") / (col("__tot_t") + buckets)) -
          log((col("__ct_r") + 1).cast("double") / (col("__tot_r") + buckets)))
          .cast("decimal(18,8)").as("__lr"))
    new Df(toks.join(broadcast(ratios), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("__lr")).cast("double"), 4).as("log_weight")))
  }

  /** Corpus snapshot diff — the incremental-pipeline planning step:
    * classify every id across two corpus versions as `added` (only in
    * new), `removed` (only in old), `changed` (both, different text),
    * or `unchanged`. Downstream incremental dedup/scoring then
    * processes only added ∪ changed ([[graft.operators.Dedup]]'s
    * cross-corpus joins take exactly that slice).
    *
    * Scale: both sides reduce to (id, md5-fingerprint) map-side before
    * the full-outer join — the shuffle ships 32-byte hashes, never
    * document text. NULL texts compare via null-safe equality (two
    * NULL-text versions of an id are `unchanged`). Requires unique ids
    * per side (the corpus-key contract; a duplicated id would
    * cross-product in the join). */
  def corpusDiff(oldDocs: Df, newDocs: Df, idCol: String,
                 textCol: String): Df = {
    val o = oldDocs.sdf.select(col(idCol),
      md5(col(textCol).cast("binary")).as("__fo"), lit(true).as("__po"))
    val n = newDocs.sdf.select(col(idCol),
      md5(col(textCol).cast("binary")).as("__fn"), lit(true).as("__pn"))
    new Df(o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(col("__fo") <=> col("__fn"), "unchanged")
          .otherwise("changed"))
      .select(col(idCol), col("status")))
  }

  /** Length-stratified training batches — sequence-length bucketing
    * (the packing-efficiency trick: batching similar-length documents
    * minimizes padding waste). Documents are bucketed by token count
    * at the corpus's exact `nBuckets`-quantile cuts, then batched
    * WITHIN each (bucket, shard) in (n_tokens, id) order —
    * `batch = ordinal div batchSize`. Global batch identity is the
    * TRIPLE (bucket, shard, batch).
    *
    * Scale shape: the cuts are order-statistic selections
    * ([[Quantiles]] — bounded memory at any corpus size) embedded as
    * literals; batch assignment is a
    * window over (bucket, shard) — parallelism = nBuckets·shards,
    * never a keyless global window. Cuts are rounded to 6dp so the
    * bucket rule replays exactly cross-engine. */
  def lengthBucketBatches(docs: Df, textCol: String, idCol: String,
                          nBuckets: Int = 4, batchSize: Int = 32,
                          shards: Int = 16): Df = Materialize.scope { s =>
    require(nBuckets >= 1, s"lengthBucketBatches: nBuckets must be >= 1: $nBuckets")
    require(batchSize >= 1, s"lengthBucketBatches: batchSize must be >= 1: $batchSize")
    require(shards >= 1, s"lengthBucketBatches: shards must be >= 1: $shards")
    val withLen = s.persist(docs.sdf.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard"))
      .orderBy(col("n_tokens"), col(idCol))
    val bucketed =
      if (nBuckets == 1) withLen.withColumn("bucket", lit(1))
      else {
        val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
        // distributed order-statistic cuts as literals — no percentile
        // value buffer, no 1-row crossJoin (Quantiles scaladoc)
        val ts = Quantiles.cutLits(withLen, "n_tokens", qs)
        val bucketExpr = ts.foldLeft(lit(1)) { (acc, t) =>
          acc + when(col("n_tokens").cast("double") > t, 1).otherwise(0)
        }
        withLen.withColumn("bucket", bucketExpr)
      }
    new Df(bucketed
      .withColumn("shard", (hash32(col(idCol).cast("string")) % shards).cast("int"))
      .withColumn("__rn", row_number().over(w) - 1)
      .withColumn("batch", expr(s"CAST(__rn div $batchSize AS BIGINT)"))
      .drop("__rn"))
  }

  /** Per-group z-score standardization — the feature-normalization
    * step before scores from different cohorts (languages, domains)
    * share one threshold. Adds `<valueCol>_z` (or `outCol`):
    * `(v − mean) / std` with the SAMPLE std (ddof = 1), NULL for
    * groups smaller than 2 and for zero-variance groups (no spread to
    * divide by — a constant cohort gets no z-scores, not ±∞ ones).
    *
    * Determinism: mean and std derive from EXACT decimal sums of v
    * (DECIMAL(18,2) — quantize inputs accordingly) and v²
    * (DECIMAL(28,4)), so both moments are order-independent and
    * bit-identical cross-engine; the z-value rounds to 6dp. This is
    * why the operator does not call the builtin `stddev` (whose
    * partial-merge order wobbles the low bits).
    *
    * Scale: one partial+final moment agg per group, stats broadcast
    * back, map-side standardize. Two corpus scans, zero wide rows. */
  def standardizeBy(df: Df, valueCol: String, groupCols: Seq[String],
                    outCol: String = ""): Df = {
    require(groupCols.nonEmpty, "standardizeBy: need at least one group column")
    val out = if (outCol.isEmpty) s"${valueCol}_z" else outCol
    val v = col(valueCol)
    // both passes (decimal-moment stats + the zscore projection) are
    // CPU-heavy per row and otherwise run at the file scan's partition
    // count (r22 stage profile, q180: both stages on 3 tasks, ~0.7 s each) —
    // FanOut redistributes only when a purely-narrow scan is materially
    // below the session's parallelism, a planning no-op at real scale
    // (guide §2.5); the two consumers share the fanned exchange via AQE
    // stage reuse.
    val base = FanOut(df.sdf)
    val stats = base.groupBy(groupCols.map(col): _*).agg(
      count(v).as("__n"),
      sum(v.cast("decimal(18,2)")).cast("double").as("__s1"),
      sum((v * v).cast("decimal(28,4)")).cast("double").as("__s2"))
    val mean = col("__s1") / col("__n")
    // the n >= 2 gate lives INSIDE varS so the /(n-1) division is
    // unreachable on singleton groups BY CONSTRUCTION — the previous
    // `n >= 2 && varS > 0` predicate was safe only because And
    // short-circuits, a property a refactor could silently lose (ANSI
    // divide-by-zero then kills the query for one 1-row group)
    val varS = when(col("__n") >= 2,
      (col("__s2") - col("__s1") * col("__s1") / col("__n")) /
        (col("__n") - 1))
    new Df(base.join(broadcast(stats), groupCols)
      .withColumn(out, when(varS > 0, round((v - mean) / sqrt(varS), 6)))
      .drop("__n", "__s1", "__s2"))
  }

  /** Aggressive text normalization for match keys (the fingerprint
    * preprocessing most dedup recipes run): lowercase, strip every
    * non-alphanumeric to a space, collapse whitespace runs, trim.
    * DESTRUCTIVE by design — normalize a COPY for keying, keep the
    * original for training. ASCII-safe rules only (the common
    * Java/RE2 subset; no locale-dependent case folding). */
  def normalizeTextCol(c: Column): Column =
    // ONE regex pass: [^a-z0-9]+ subsumes the old strip-then-collapse
    // pair — any maximal non-alphanumeric run (whitespace included)
    // becomes exactly one space either way, and trim owns the edges.
    // Halves the regex CPU on the hottest per-row normalization path.
    trim(regexp_replace(lower(c), lit("[^a-z0-9]+"), lit(" ")))

  /** [[normalizeTextCol]] applied as an audit frame: (idCol, the
    * normalized text, original and normalized char counts). Pure
    * map-side projection. */
  def withNormalizedText(docs: Df, textCol: String, idCol: String): Df =
    new Df(docs.sdf.select(col(idCol),
      length(col(textCol)).as("n_chars"),
      normalizeTextCol(col(textCol)).as(s"${textCol}_norm"))
      .withColumn("n_chars_norm", length(col(s"${textCol}_norm"))))

  /** Exact dedup on the NORMALIZED text key — collapses case,
    * punctuation, and whitespace variants of one document the way raw
    * [[graft.operators.Dedup.exactByFingerprint]] cannot (its
    * canonical fingerprint is still token-content-sensitive to
    * punctuation glued onto words). Keeps the minimum id per
    * normalized key; emits (idCol, n_copies, textCol) with the
    * SURVIVOR'S ORIGINAL text — normalization is a match key, never a
    * rewrite ([[normalizeTextCol]]'s contract).
    *
    * Scale: the groupBy shuffles (normalized-md5, id) — 40-ish bytes
    * per row, never text; the survivor join brings text back keyed by
    * the unique id. */
  def dedupByNormalizedText(docs: Df, textCol: String, idCol: String): Df = {
    val keyed = docs.sdf.select(col(idCol),
      md5(normalizeTextCol(col(textCol)).cast("binary")).as("__nk"))
    val survivors = keyed.groupBy(col("__nk"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__nk")
    new Df(survivors.join(docs.sdf.select(col(idCol), col(textCol)), Seq(idCol)))
  }

  /** Deterministic importance sampling without replacement — the
    * Gumbel-top-k trick (Vieira 2014; the selection step DSIR-style
    * weighting feeds): each row's key is
    * `logWeight + Gumbel(hash(seed:id))`, and the top `n` keys are a
    * without-replacement sample with inclusion probability ∝ weight.
    * The Gumbel noise derives from the portable md5 hash
    * (`u = (hash32 + 0.5) / 2^32`, `g = −ln(−ln u)`), so the sample is
    * byte-reproducible under `seed` across re-runs and engines — no
    * RNG state, the [[epochShuffle]] property.
    *
    * Keys round to 6dp (libm-ulp absorption) with id as tiebreak, so
    * the selected set is a deterministic function of (corpus, seed).
    * NULL log-weights drop out (no weight, no draw).
    *
    * Scale: key assignment is map-side; the top-n compiles to
    * TakeOrderedAndProject (per-partition heaps + driver merge of n
    * rows), never a global sort. `n` must fit driver memory — it is a
    * SAMPLE size, not a filtered corpus. */
  def importanceSample(docs: Df, logWeightCol: String, idCol: String,
                       n: Int, seed: Long): Df = {
    require(n >= 1, s"importanceSample: n must be >= 1: $n")
    val u = (hash32(concat_ws(":", lit(seed), col(idCol).cast("string"))) + 0.5) /
      lit(4294967296.0)
    new Df(docs.sdf
      .where(col(logWeightCol).isNotNull)
      .withColumn("gumbel_key",
        round(col(logWeightCol).cast("double") + -log(-log(u)), 6))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(n))
  }

  /** Winsorization — clip a numeric column at its exact [lo, hi]
    * corpus quantiles (the robust-scaling step before a signal feeds a
    * threshold or a model; outliers saturate instead of dominating).
    * Adds `<valueCol>_w` (or `outCol`) with the clipped DOUBLE value;
    * the cuts round to 6dp so the rule replays exactly cross-engine.
    *
    * Scale: the cuts come from [[Quantiles.exactQuantilesCont]] —
    * distributed order-statistic selection (range exchange + targeted
    * per-partition sort), never the `percentile` aggregate's
    * all-values-in-one-buffer map — then embed as literals over a
    * map-side clip. Bounded memory everywhere at any corpus size. */
  def winsorize(df: Df, valueCol: String, lo: Double = 0.05,
                hi: Double = 0.95, outCol: String = ""): Df = {
    require(lo >= 0 && lo < hi && hi <= 1,
      s"winsorize: need 0 <= lo < hi <= 1: $lo, $hi")
    val out = if (outCol.isEmpty) s"${valueCol}_w" else outCol
    // cuts via distributed order-statistic selection
    // (Quantiles.exactQuantilesCont) — same doubles as the percentile()
    // aggregate, but no single-buffer value map (the 100 TB wall), and
    // the clip embeds them as LITERALS: no crossJoin node at all. The
    // SQL-half-up 6dp round mirrors the previous in-plan ROUND
    val qs = Quantiles.exactQuantilesCont(df.sdf, valueCol, Seq(lo, hi))
    def r6(v: java.lang.Double): Column =
      if (v == null) lit(null).cast("double")
      else lit(BigDecimal(v.doubleValue())
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    new Df(df.sdf.withColumn(out,
      least(greatest(col(valueCol).cast("double"), r6(qs(0))), r6(qs(1)))))
  }

  /** MAD-based robust outlier flag (Iglewicz & Hoaglin 1993 modified
    * z-score): median and MAD = median(|x − med|) are exact
    * interpolated percentiles (both rounded 6dp — the cross-engine
    * quantile convention); robust_z = 0.6745·(x − med)/MAD rounded
    * 6dp; is_outlier ⟺ |robust_z| > `threshold` (3.5 is the published
    * default). Unlike [[winsorize]]'s mean/σ cousins, the cut survives
    * the very outliers it hunts — the right pre-filter for corpus
    * stats with heavy tails (doc lengths, token counts).
    *
    * Degenerate scale (MAD = 0, >50% of values identical): robust_z
    * is NULL and is_outlier false for every row — documented, not
    * guessed. NULL values pass through with NULL z / false flag.
    *
    * Scale: two order-statistic selections ([[Quantiles]] — bounded
    * memory at any corpus size, vs the percentile aggregate's
    * all-values buffer) embedded as literals over a map-side flag —
    * no per-key shuffle of the data, no crossJoin nodes. */
  def robustOutliers(df: Df, valueCol: String,
                     threshold: Double = 3.5): Df = {
    require(threshold > 0, s"robustOutliers: threshold must be > 0: $threshold")
    val x = col(valueCol).cast("double")
    val med = Quantiles.cutLits(df.sdf, valueCol, Seq(0.5)).head
    // MAD over deviations from the ROUNDED median — the same chaining
    // the previous in-plan round(…, 6) produced, oracle-replayable
    val mad = Quantiles.cutLits(
      df.sdf.select(abs(x - med).as("__ad")), "__ad", Seq(0.5)).head
    val z = when(mad > 0, round(lit(0.6745) * (x - med) / mad, 6))
    new Df(df.sdf
      .withColumn("robust_z", z)
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > threshold, lit(false))))
  }

  /** Incremental aggregate maintenance — fold a RAW delta batch into a
    * previously materialized per-key aggregate WITHOUT rescanning the
    * historical data: the 100 TB ingest pattern (daily corpus stats,
    * per-domain counts) where "recompute from scratch" is the
    * scale-killer. Only MERGEABLE aggregates are offered — sum, count,
    * min, max — because their merge is the same function over partial
    * states; avg/var callers keep (sum, count) / (sum, sumsq, count)
    * states and finish the division at read time.
    *
    * `prev` must carry `keys` plus one `<col>_<fn>` state column per
    * spec entry (the shape THIS operator emits — it composes with
    * itself day after day; an empty-but-schema-correct `prev`
    * bootstraps). Sums are DECIMAL(28,6)-cast (exact,
    * order-independent — a merged state is bit-identical to a full
    * rescan); counts are COUNT(col) (null-excluding) as long.
    *
    * Scale: the delta aggregates with one partial+final shuffle on
    * `keys`; the merge is a union + second keyed agg whose left side
    * is the (key-cardinality-sized) state table, NOT the history.
    * Nothing rescans `prev`'s source data. */
  /** UniMax-style water-filling budget allocation (Chung et al. 2023):
    * given per-group availability (tokens per language/source) and a
    * total budget `budget`, find the common cap L (the "water level")
    * with Σ min(availₖ, L) = budget and allocate alloc = min(avail, L)
    * — small groups keep everything they have, large groups are capped
    * at the SAME level, the unique allocation maximizing the minimum
    * share without oversampling anyone. When Σ avail ≤ budget the
    * budget isn't binding and every group keeps its availability.
    *
    * Emits (groupCol, available, alloc 4dp, capped) — `capped` ⟺
    * available strictly exceeds the level. Level selection is the
    * exact prefix-scan: order groups by (avail, group), L_k =
    * (budget − prefix_{k−1}) / (n − k + 1); the first k with
    * L_k ≤ avail_k yields the level.
    *
    * Scale: availability is one partial+final agg over the corpus; the
    * scan rides the AGGREGATED per-group table (cardinality = #sources
    * /languages — bounded by construction), so its single-partition
    * window is over a driver-scale frame, never the data. */
  def waterFillBudget(avail: Df, groupCol: String, availCol: String,
                      budget: Double): Df = {
    require(budget > 0, s"waterFillBudget: budget must be > 0: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("available"), col(groupCol))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val o = avail.sdf.select(col(groupCol),
        col(availCol).cast("double").as("available"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cum", sum(col("available")).over(w))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__cand", (lit(budget) - (col("__cum") - col("available"))) /
        (col("__n") - col("__rn") + 1))
    val level = o.where(col("__cand") <= col("available"))
      .orderBy(col("__rn")).limit(1)
      .select(col("__cand").as("__level"))
    // empty level frame (budget not binding) → pad with a NULL-level
    // row so the cross join never annihilates the output
    val levelOrNull = level.unionAll(level.sparkSession.range(1)
        .select(lit(null).cast("double").as("__level")))
      .orderBy(col("__level").asc_nulls_last).limit(1)
    new Df(o.select(col(groupCol), col("available"))
      .crossJoin(broadcast(levelOrNull))
      .withColumn("capped",
        col("__level").isNotNull && col("available") > col("__level"))
      .withColumn("alloc", round(when(col("capped"),
        col("__level")).otherwise(col("available")), 4))
      .select(col(groupCol), col("available"), col("alloc"), col("capped")))
  }

  /** The initial (or per-batch) aggregate state for [[incrementalAgg]]
    * — aggregating a raw batch into the `<col>_<fn>` state shape. */
  def aggState(delta: Df, keys: Seq[String],
               spec: Seq[(String, String)]): Df = {
    val aggs = spec.map {
      case (c, "sum")   => sum(col(c).cast("decimal(28,6)")).as(s"${c}_sum")
      case (c, "count") => count(col(c)).as(s"${c}_count")
      case (c, "min")   => min(col(c)).as(s"${c}_min")
      case (c, "max")   => max(col(c)).as(s"${c}_max")
      case (c, f) => throw new IllegalArgumentException(
        s"aggState: '$f' on '$c' is not mergeable (use sum/count/min/max)")
    }
    new Df(delta.sdf.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select((keys ++ spec.map { case (c, f) => s"${c}_$f" }).map(col): _*))
  }

  def incrementalAgg(prev: Df, delta: Df, keys: Seq[String],
                     spec: Seq[(String, String)]): Df = {
    require(keys.nonEmpty, "incrementalAgg: keys must be non-empty")
    require(spec.nonEmpty, "incrementalAgg: spec must be non-empty")
    val fns = Set("sum", "count", "min", "max")
    spec.foreach { case (c, f) => require(fns(f),
      s"incrementalAgg: '$f' on '$c' is not mergeable (use ${fns.mkString("/")})") }
    val stateCols = spec.map { case (c, f) => s"${c}_$f" }
    require(stateCols.distinct.size == stateCols.size,
      s"incrementalAgg: duplicate spec entry in $spec")
    val missing = (keys ++ stateCols).filterNot(prev.columns.contains)
    require(missing.isEmpty,
      s"incrementalAgg: prev is missing state column(s): ${missing.mkString(", ")}")
    val deltaAgg = aggState(delta, keys, spec).sdf
    val mergeAggs = spec.map {
      case (c, "sum")   => sum(col(s"${c}_sum")).as(s"${c}_sum")
      case (c, "count") => sum(col(s"${c}_count")).cast("long").as(s"${c}_count")
      case (c, "min")   => min(col(s"${c}_min")).as(s"${c}_min")
      case (c, "max")   => max(col(s"${c}_max")).as(s"${c}_max")
    }
    new Df(prev.sdf.select((keys ++ stateCols).map(col): _*)
      .union(deltaAgg)
      .groupBy(keys.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*))
  }

  /** Deterministic negative sampling — the contrastive-training pair
    * builder: each document draws `k` pseudo-random partners from the
    * corpus, reproducibly under `seed` (re-runs, retries, and
    * repartitions yield byte-identical pairs — the
    * [[epochShuffle]] property, needed when the pairs feed a resumable
    * training job). Partner j of anchor a is the document at global
    * ordinal `hash(seed:a:j) mod n` of the seed-keyed permutation,
    * bumped by one slot if it lands on the anchor itself (with a
    * 1-document corpus the only partner IS the anchor — degenerate by
    * construction, not guarded).
    *
    * Emits (anchor_id, neg_rank, neg_id), k rows per anchor. Draws are
    * with replacement ACROSS ranks (two ranks of one anchor can hit
    * the same partner — standard for negative sampling; dedup
    * downstream if the loss requires distinct negatives).
    *
    * Scale: the ordinal table rides
    * [[graft.api.Df.withRowIndexScalable]] (range-partition +
    * zipWithIndex — no keyless window) and is persisted (it feeds the
    * corpus-size agg, the anchor side, and the partner lookup); `n`
    * arrives as a broadcast 1-row frame, never a driver action; the
    * partner lookup is ONE equi-join on the 8-byte ordinal. */
  def negativeSamples(docs: Df, idCol: String, k: Int,
                      seed: Long): Df = Materialize.scope { s =>
    require(k >= 1, s"negativeSamples: k must be >= 1: $k")
    val keyed = s.barrier(new Df(docs.sdf.select(col(idCol))
      .withColumn("__nkey",
        md5(concat_ws(":", lit(seed), col(idCol).cast("string")))))
      .withRowIndexScalable(Seq("__nkey", idCol), "__ord").sdf
      .select(col(idCol), col("__ord")))
    val n = keyed.agg(count(lit(1)).as("__n"))
    val anchors = keyed.crossJoin(broadcast(n))
      .select(col(idCol).as("anchor_id"), col("__ord"), col("__n"),
        explode(sequence(lit(0), lit(k - 1))).as("neg_rank"))
      .withColumn("__cand",
        hash32(concat_ws(":", lit(seed), col("anchor_id").cast("string"),
          col("neg_rank").cast("string"))) % col("__n"))
      .withColumn("__pord", when(col("__cand") === col("__ord"),
        (col("__cand") + 1) % col("__n")).otherwise(col("__cand")))
    val partners = keyed.select(col("__ord").as("__pord"), col(idCol).as("neg_id"))
    new Df(anchors.join(partners, Seq("__pord"))
      .select(col("anchor_id"), col("neg_rank"), col("neg_id")))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — combine several
    * quality signals into ONE curation ranking without calibrating
    * their scales: each signal ranks the corpus independently
    * (descending, id tiebreak) and a document's fused score is
    * `Σ_s 1/(k + rank_s)`. Rank fusion is the standard fix for "my
    * perplexity is in nats, my dedup quality is a ratio, my classifier
    * is a logit" — ranks are scale-free, and `k` (60 in the paper)
    * damps the head so no single signal dominates.
    *
    * Emits (idCol, rank_<signal>…, rrf_score), score rounded 6dp; the
    * term-addition order is the `signalCols` order (fixed plan, no
    * float reassociation), so results replay exactly cross-engine.
    * Rows with a NULL in ANY signal are excluded BEFORE ranking — an
    * unscored document has no rank, inventing one (best or worst)
    * would bias the fusion, and ranking only the fully-scored
    * population keeps every rank column an exact permutation of the
    * emitted rows. Pre-impute upstream to keep partial rows.
    *
    * Scale: ONE global ranking for ALL signals — the (id, signal)
    * pairs melt to (signal ordinal, −value, id) and ride a single
    * [[graft.api.Df.withRowIndexScalable]] (range-partition +
    * zipWithIndex, no single-partition window) ordered by
    * (ordinal, −value, id). The null filter guarantees every id
    * carries every signal, so signal `s` occupies exactly the global
    * index run [s·N, (s+1)·N) and its rank is `index − s·N + 1`; one
    * id-keyed hash aggregate pivots the ranks back to a row per
    * document. One range exchange + one agg exchange, versus the
    * pre-r16 per-signal form's |signals| range exchanges and
    * |signals|−1 id joins — same output bit-for-bit on unique ids
    * (PipelineSpec's hand-computed pin, the q192 oracle). `idCol`
    * MUST be unique: a duplicate raises a named error in-plan (the
    * pre-r16 joins silently exploded duplicates combinatorially);
    * null ids rank but emit no row, as the pre-r16 id equi-joins
    * already guaranteed. The melt coerces signals to
    * their least common numeric type (Spark array coercion), so
    * rank order for mixed long/double signals beyond 2^53 follows the
    * widened type — pre-impute/cast upstream if that matters. */
  def rankFusion(df: Df, signalCols: Seq[String], idCol: String,
                 k: Int = 60): Df = Materialize.scope { s =>
    require(signalCols.nonEmpty, "rankFusion: need at least one signal")
    require(k >= 1, s"rankFusion: k must be >= 1: $k")
    val base = s.persist(df.sdf
      .select(col(idCol) +: signalCols.map(col): _*)
      .where(signalCols.map(col(_).isNotNull).reduce(_ && _)))
    val n = base.count() // forces the persist; the melt reads the cache
    val melted = base.select(col(idCol),
      explode(array(signalCols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("__sig"), (-col(c)).as("__neg"))
      }: _*)).as("__kv"))
      .select(col(idCol), col("__kv.__sig").as("__sig"),
        col("__kv.__neg").as("__neg"))
    val indexed = new Df(melted)
      .withRowIndexScalable(Seq("__sig", "__neg", idCol), "__gidx").sdf
      .withColumn("__rk", col("__gidx") - col("__sig").cast("long") * n + 1)
    val rankCols = signalCols.zipWithIndex.map { case (c, i) =>
      max(when(col("__sig") === i, col("__rk"))).as(s"rank_$c")
    }
    val nSig = signalCols.length
    val pivoted = indexed.groupBy(col(idCol))
      .agg(rankCols.head, (rankCols.tail :+ count(lit(1)).as("__cnt")): _*)
    // a duplicated id would fold several documents' ranks into one row
    // (max per signal) — a silently different fusion; raise instead.
    // The check rides the FIRST rank column (a bare check column would
    // be pruned as unused). Null ids rank (they hold rank positions,
    // as the pre-r16 per-signal form's rankings did) but emit no row —
    // the pre-r16 id equi-joins never matched null keys.
    val firstRank = s"rank_${signalCols.head}"
    val checked = pivoted
      .withColumn(firstRank,
        when(col(idCol).isNotNull && col("__cnt") =!= nSig,
          raise_error(concat(lit("rankFusion: idCol value '"),
            col(idCol).cast("string"),
            lit("' is duplicated — each document must appear once"))))
          .otherwise(col(firstRank)))
      .where(col(idCol).isNotNull)
      .drop("__cnt")
    val score = signalCols.map(c => lit(1.0) / (lit(k) + col(s"rank_$c")))
      .reduce(_ + _)
    new Df(checked.withColumn("rrf_score", round(score, 6)))
  }

  /** Deterministic uniform k-per-group sample — the reservoir-sampling
    * answer without reservoir state: rank each row inside its group by
    * the md5 of `seed:id` (a uniform permutation of the group,
    * byte-identical across engines and re-runs) and keep rank ≤ k.
    * Every k-subset of a group is equally likely over the hash's
    * randomness, matching per-group reservoir semantics, but the
    * selection is a pure function of (corpus, seed) — re-runs,
    * retries and other engines pick the SAME rows, which reservoir
    * RNG state cannot promise.
    *
    * Scale: one shuffle on the group key; the rank-≤-k filter compiles
    * to WindowGroupLimit (Spark's group-top-k pushdown), so each map
    * task keeps a k-row heap per group BEFORE the shuffle instead of
    * sorting whole partitions — the shuffle carries ≤ k·groups rows
    * per mapper, not the corpus. */
  def groupSample(df: Df, groupCols: Seq[String], idCol: String, k: Int,
                  seed: Long = 42L): Df = {
    require(k >= 1, s"groupSample: k must be >= 1: $k")
    require(groupCols.nonEmpty, "groupSample: need at least one group column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(md5(concat_ws(":", lit(seed), col(idCol).cast("string"))),
        col(idCol))
    new Df(df.sdf
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k))
  }

  /** Curriculum ordering: equi-depth difficulty phases + a
    * deterministic within-phase shuffle key. The corpus cuts into
    * `phases` equal-mass buckets at the exact `scoreCol` quantiles
    * (easy → hard curriculum: train on phase 0 first), and inside a
    * phase the md5(seed:id) key gives a reproducible random order —
    * the [[epochShuffle]] property, so the training order is a pure
    * function of (corpus, seed). Sorting by (phase, curriculum_key)
    * IS the curriculum; no global rank is materialized (a
    * range-partitioned sort at write time keeps it fully distributed).
    *
    * Cuts round 6dp (the cross-engine quantile convention) and phase
    * = #{cuts < score} — a score exactly ON a cut belongs to the lower
    * phase. Scale: order-statistic cuts ([[Quantiles]] — bounded memory
    * at any corpus size) as literals + a map-side phase/key
    * projection. */
  def curriculumOrder(df: Df, scoreCol: String, idCol: String,
                      phases: Int, seed: Long = 42L): Df = {
    require(phases >= 2, s"curriculumOrder: phases must be >= 2: $phases")
    val qs = (1 until phases).map(i =>
      i.toDouble / phases)
    // order-statistic cuts as literals (Quantiles scaladoc)
    val cuts = Quantiles.cutLits(df.sdf, scoreCol, qs)
    val phase = cuts.map(t =>
      when(col(scoreCol).cast("double") > t, 1)
        .otherwise(0)).reduce(_ + _)
    new Df(df.sdf
      .withColumn("phase", phase)
      .withColumn("curriculum_key",
        md5(concat_ws(":", lit(seed), col(idCol).cast("string")).cast("binary"))))
  }

  /** Round-robin interleaved selection of a global budget `n` across
    * source buckets — the corpus-balancing cut that a plain
    * quality-top-n gets wrong (it lets one over-represented source
    * swamp the budget). Each row is ranked inside its source by
    * `qualityCol` descending (id tiebreak), then the budget takes rows
    * in (per-source rank, quality, id) order: every source's #1 beats
    * any source's #2, so sources fill evenly until a source runs dry,
    * after which the remaining sources keep alternating — UniMax-style
    * fairness with a total deterministic order.
    *
    * Scale: one shuffle on source for the per-source rank (a
    * WindowGroupLimit candidate when `n` caps the usable per-source
    * rank at `n`), then the global n-row cut compiles to
    * TakeOrderedAndProject — per-partition heaps, driver merges n
    * rows; no global sort. */
  def interleavedSelect(df: Df, sourceCol: String, qualityCol: String,
                        idCol: String, n: Int): Df = {
    require(n >= 1, s"interleavedSelect: n must be >= 1: $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col(qualityCol).desc, col(idCol))
    new Df(df.sdf
      .withColumn("source_rank", row_number().over(w))
      .where(col("source_rank") <= n) // no source can supply more than n
      .orderBy(col("source_rank"), col(qualityCol).desc, col(idCol))
      .limit(n))
  }
}
