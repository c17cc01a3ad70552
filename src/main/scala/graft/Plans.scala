package graft

/** Per-query plan-fingerprint artifact (VERDICT r19 item 1): ScaleProbe's
  * byte-stable shuffle signature caught layout regressions the moment it
  * existed — this main does the same for PLANS. For every
  * `SparkEntry.queries` entry it emits one line:
  *
  *   {"name":..., "shuffleExchanges":N, "broadcastExchanges":N,
  *    "cachedScans":N, "sorts":N,
  *    "scans":[{"columns":[...], "pushedFilters":"...",
  *              "partitionFilters":N, "dataFilters":N}, ...]}
  *
  * computed by `graft.PlanCensus` on the physical tree (cached-scan
  * leaves, AQE unwrapped, expression subqueries folded in). Committed per
  * round as `bench_artifacts/plans_rNN.json`; a future unpushed filter,
  * widened ReadSchema, or extra exchange then shows up as a one-line diff
  * in the round record instead of a manual re-audit. Fingerprints are
  * taken on sf0.001 (cheap, and plan SHAPE — not AQE's runtime stats — is
  * what the gate pins); scan column sets are sorted and Location is
  * excluded so the artifact is byte-comparable across rounds and sf dirs.
  *
  * Run: sbt "runMain graft.Plans"   (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_PLANS_OUT default target/plans.json)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

    val only = sys.env.get("SPARK_GRAFT_PLANS_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    var failed = List.empty[String]
    val lines = names.flatMap { name =>
      // a construction failure must be visible, not silently absent: the
      // artifact's value is "every query, every round, same shape"
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val c = PlanCensus.of(df)
        val scans = c.scans.map { s =>
          s"""{"columns":${s.columns.sorted.map(jstr).mkString("[", ",", "]")},""" +
            s""""pushedFilters":${jstr(s.pushedFilters)},""" +
            s""""partitionFilters":${s.partitionFilterCount},""" +
            s""""dataFilters":${s.dataFilterCount}}"""
        }.mkString("[", ",", "]")
        Some(s"""{"name":${jstr(name)},"shuffleExchanges":${c.shuffleExchanges},""" +
          s""""broadcastExchanges":${c.broadcastExchanges},""" +
          s""""cachedScans":${c.cachedScans},"sorts":${c.sorts},"scans":$scans}""")
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed ::= s"$name: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          System.err.println(s"[plans] $name FAILED: ${failed.head}")
          None
      } finally {
        // queries may cache/materialize during construction (pageRank,
        // streaming replays) — release so one query's cache never changes
        // the NEXT query's fingerprint (a cached scan vs a re-scan).
        // In `finally` (ADVICE r20): a query that throws AFTER retaining
        // (e.g. mid-build materialization) must not leak its cache into
        // every subsequent query's fingerprint.
        graft.api.Df.releaseRetained()
        spark.catalog.clearCache()
      }
    }
    val body = lines.mkString("{\"sf\":" + jstr(sfDir) + ",\"n\":" + lines.size +
      ",\"plans\":[\n", ",\n", "\n]}\n")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "target/plans.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body)
    println(s"[plans] wrote ${lines.size}/${names.size} fingerprints to $out")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} FAILED:\n  " + failed.mkString("\n  "))
      sys.exit(2)
    }
  }
}
