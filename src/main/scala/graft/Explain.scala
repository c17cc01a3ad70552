package graft

/** One-command plan diagnostic (VERDICT r18 item 7): dump the formatted
  * optimized/physical plan of any named `SparkEntry.queries` entry plus
  * a scan-pushdown summary — the thing PlanSpec asserts piecemeal,
  * available interactively. USAGE.md documents `pprint() ≡ explain`;
  * this is the library-side `explain` for the query surface itself.
  *
  *   sbt "runMain graft.Explain q06_merge_inner [q12_reductions ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001),
  * SPARK_GRAFT_CPUS (default 4). Exit 1 on unknown names (listing the
  * valid ones), so a typo can't read as a clean run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Explain <queryName> [more...]; " +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n======== $name ($sfDir) ========")
      println(formatted)
      // pushdown summary: every scan's pushed filters + read schema on
      // one screen — "a scan that reads all columns for a 2-column
      // projection is wrong" is checkable at a glance
      val interesting = Seq("PushedFilters", "ReadSchema", "DataFilters",
        "PartitionFilters", "Location")
      val scanLines = formatted.linesIterator
        .map(_.trim).filter(l => interesting.exists(l.startsWith))
      println(s"-------- $name scan pushdown summary --------")
      var any = false
      scanLines.foreach { l => any = true; println("  " + l) }
      if (!any) println("  (no file scans in this plan)")
      // exchange census: shuffle count is the first thing to eyeball
      // for would-this-survive-100x (each Exchange is a full shuffle).
      // Tree-walk semantics (cached-scan leaves, AQE unwrap, subquery
      // fold-in) live in graft.PlanCensus, shared with the per-round
      // plan-fingerprint artifact (graft.Plans).
      val c = PlanCensus.of(df)
      val (sh, bc, mem) = (c.shuffleExchanges, c.broadcastExchanges, c.cachedScans)
      // formatted mode tags operators with "[codegen id : N]" — distinct
      // ids = whole-stage codegen spans. An UNEXECUTED AdaptiveSparkPlan
      // carries no codegen ids yet, so report n/a rather than a
      // misleading 0.
      val ids = "codegen id : (\\d+)".r
        .findAllMatchIn(formatted).map(_.group(1)).toSet.size
      val wsc = if (ids > 0) ids.toString
      else "n/a (initial AQE plan — ids appear after execution)"
      println(s"  shuffleExchanges=$sh broadcastExchanges=$bc " +
        s"cachedScans=$mem wholeStageCodegenSpans=$wsc")
    }
    spark.stop()
  }
}
