package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`: every main (Verify,
  * Bench, Plans, Explain, MakeScaled), the test harness (`TestSpark`)
  * and `ScaleProbe` start here, so the session settings cannot drift
  * between them.
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *  - the Spark UI off;
  *  - `spark.sql.session.timeZone=UTC`, so timestamp queries read the
  *    same on every host;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet` has
  *    shipped `ts` as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
  *    testdata generations, and a NANOS file must load as long instead
  *    of erroring (`graft.queries.QueryUtil.adaptTs` converts whichever
  *    arrives);
  *  - log level WARN.
  *
  * AQE stays at Spark's default (on). */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    require(cpus >= 1, s"GraftSession.local: cpus must be >= 1, got $cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[local]] with the core count from `SPARK_GRAFT_CPUS` (default 4). */
  def fromEnv(): SparkSession = local(cpus(sys.env.get("SPARK_GRAFT_CPUS")))

  /** `SPARK_GRAFT_CPUS`: unset means 4; anything but a positive int is
    * an error that names the variable. */
  private[graft] def cpus(raw: Option[String]): Int = raw.fold(4) { s =>
    s.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive int, got '$s'"))
  }
}
