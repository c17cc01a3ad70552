package graft.queries

import graft.api.{Df, FooterSchema}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Shared helpers for the driver-verified query suite.
  *
  * Oracle-parity conventions (driver hash-compares vs DuckDB, see
  * /root/repo/BASELINE.md):
  *  - money/quantity sums go through DECIMAL(18,2) so Spark and DuckDB
  *    both compute the EXACT decimal sum and cast it to the same double
  *    (raw double sums differ in low bits between engines);
  *  - averages = exact decimal sum cast to double, divided by count;
  *  - statistical aggs (var/std) are rounded to 4dp (engines' merge
  *    order differs in the last ~6 ulps);
  *  - every query ends in a total-order sort so row order matches;
  *  - integer sums are cast to BIGINT (DuckDB widens to INT128).
  */
object QueryUtil {
  type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame

  def T(s: SparkSession, dir: String, name: String): Df =
    Df.readParquet(s, s"$dir/$name.parquet")

  /** CANONICAL nanos-long → timestamp ingest conversion (parquet
    * TIMESTAMP(NANOS) read under `nanosAsLong`): integer-div truncation
    * to microseconds — the same truncation DuckDB's `ts::TIMESTAMP`
    * applies, so oracle comparisons line up. `div` must stay integral:
    * nanos ≈ 1.7e18 exceeds double's exact range, so a float division
    * would corrupt the microseconds. */
  def nanosColToTs(name: String): Column =
    timestamp_micros(expr(s"$name div 1000"))

  /** CANONICAL event-time ingest adaptation, keyed on the LOADED dtype —
    * the source's physical encoding is not ours to assume (the testdata
    * has shipped the same column as TIMESTAMP(NANOS)-read-as-long and as
    * TIMESTAMP(MICROS) across generations). Every encoding lands on a
    * session-tz TIMESTAMP truncated to microseconds, matching DuckDB's
    * `ts::TIMESTAMP`, so oracle comparisons line up either way:
    *  - long        → nanos ([[nanosColToTs]]; the legacy nanosAsLong read)
    *  - timestamp_ntz → reinterpreted in the session zone (UTC here, so
    *    value-identical to what DuckDB reads)
    *  - timestamp   → already right
    * Anything else is a loud error — NEVER guess a time unit. Shared by
    * the batch queries and graft.streaming.StreamOps — change it in one
    * place only. */
  def adaptTs(loaded: DataType, name: String): Column = loaded match {
    case LongType         => nanosColToTs(name)
    case TimestampType    => col(name)
    case TimestampNTZType => col(name).cast(TimestampType)
    case other => throw new IllegalArgumentException(
      s"event-time column '$name' loaded as ${other.simpleString}: no known " +
        "interpretation — refusing to guess a timestamp unit/encoding")
  }

  private val tsSanityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Unit-drift guard: sample ONE non-null event time (one column of one
    * row group of one file — O(1) regardless of table size) and require
    * it to land in a plausible window. Unit drift corrupts every row the
    * same way (micros interpreted as nanos → ~1970; nanos as micros →
    * year ~56k), so a single row is a sufficient witness, and the r9
    * incident — streaming windows silently emitting 10 rows instead of
    * 3385 — becomes a thrown error at ingest instead of a corrupted
    * corpus at 100 TB. Checked once per path per JVM (marked AFTER
    * success so a failed check re-fires on retry). */
  def assertPlausibleTs(adapted: DataFrame, name: String, path: String): Unit =
    if (!tsSanityChecked.contains(path)) {
      adapted.select(col(name).cast(TimestampType))
        .where(col(name).isNotNull).limit(1).collect()
        .headOption.map(_.getTimestamp(0)).foreach { t =>
          val year = t.toInstant.atOffset(java.time.ZoneOffset.UTC).getYear
          require(year >= 1990 && year <= 2100,
            s"$path: '$name' sampled as $t (year $year), outside the plausible " +
              "1990-2100 event-time window — the source's timestamp unit or " +
              "encoding has drifted (e.g. micros read under a nanos assumption). " +
              "Failing loudly rather than computing windows over wrong times.")
        }
      tsSanityChecked.add(path)
    }

  /** `events` with the ts column adapted via [[adaptTs]] from whatever
    * encoding the parquet actually carries, then sanity-checked by
    * [[assertPlausibleTs]]. */
  def events(s: SparkSession, dir: String): Df = {
    val path = s"$dir/events.parquet"
    val raw = FooterSchema.read(s, path)
    val adapted = raw.withColumn("ts", adaptTs(raw.schema("ts").dataType, "ts"))
    assertPlausibleTs(adapted, "ts", path)
    new Df(adapted)
  }

  /** exact decimal sum of a ≤2dp double column, as double */
  def decSum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  /** exact decimal sum of product of two ≤2dp doubles, as double */
  def decSum4(c: Column): Column = sum(c.cast("decimal(28,4)")).cast("double")
  /** deterministic mean: exact decimal sum / count */
  def decMean(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(c)
  /** integer sum as bigint */
  def intSum(c: Column): Column = sum(c).cast("long")
}
