package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()
    // warm one-time JVM/codegen/classloader costs (parquet reader, JSON
    // path, window exec) so per-query timings measure steady-state work,
    // not whichever query happens to run first (~5s of classloading).
    try {
      import org.apache.spark.sql.functions._
      spark.range(10).agg(sum(get_json_object(
        concat(lit("{\"k\":"), col("id"), lit("}")), "$.k").cast("long"))).count()
      // full-scan every table once (noop sink reads all columns): the
      // r18 incident — q12 ran FIRST against a freshly written /tmp/sf1
      // and timed 42.1 s in the suite vs 2.0 s solo minutes later; the
      // suite was measuring the OS page-cache fill of a 103 MB file,
      // not the plan. Steady-state timings need the corpus resident.
      val dir = new java.io.File(sfDir)
      Option(dir.list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).foreach { t =>
          // NonFatal only, and LOUD: a corrupt/unreadable table silently
          // degrading the bench back to cold-cache timings is the exact
          // failure class this warm pass exists to eliminate (ADVICE
          // r18); fatal errors (OOM, linkage) must propagate.
          try spark.read.parquet(s"$sfDir/$t")
            .write.format("noop").mode("overwrite").save()
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warm scan of $t FAILED " +
              s"(timings may be cold-cache): ${e.getClass.getName}") }
        }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warm-up pass FAILED " +
        s"(timings may be cold-cache): ${e.getClass.getName}") }
    // host-calibration workload (graft.HostCal — shared with
    // ScaleProbe), timed at bench start and end. The r17 incident:
    // identical code measured 185.8 -> 214.8 s (sf0.1) within one
    // session purely from host drift, and cross-round totals became
    // uninterpretable. Reporting each round's total ALONGSIDE its
    // calibration lets the judge separate host drift from code drift:
    // (total_r18 / cal_r18) vs (total_r17 / cal_r17) is host-normalized.
    def calibrate(): Double = HostCal.minOf2(spark)
    def calibrateOnce(): Double = HostCal.once(spark)
    val calStart = calibrate()
    // min of SPARK_GRAFT_REPS repetitions per query: this host shows
    // broad multi-second swings on identical plans (noisy neighbors /
    // GC); the minimum is the steady-state cost of the plan, which is
    // what a round-over-round comparison should see.
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(2))
    // a failed query must NEVER time as fast (the r9 incident: 18 queries
    // died at plan construction in ~0.06s each and the bench reported
    // plausible-looking timings with rc 0) — carry ok/err per query.
    // local-iteration filter (the Verify SPARK_GRAFT_ONLY convention):
    // SPARK_GRAFT_BENCH_ONLY=q177_ngram_diversity,... — unset in the
    // driver's run → full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // interleaved calibration (VERDICT r18 item 2): the r18 final run
    // degraded 2.4x BETWEEN the start/end probes, so per-query times
    // could not be normalized — the drift was bounded but not localized.
    // A single-shot probe every `calEvery` queries gives each query a
    // nearest-probe normalizer. Single-shot is enough mid-run: the 2.9
    // vs 1.3 s single-shot spread that forced min-of-2 at run START was
    // JIT warm-up of the probe classes, which the start probe has paid.
    val calEvery = 30
    val calSamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    calSamples += ((0, calStart))
    val toRun = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results: Seq[(String, Double, Option[String])] =
      toRun.zipWithIndex.map { case ((name, fn), idx) =>
        if (idx > 0 && idx % calEvery == 0)
          calSamples += ((idx, calibrateOnce()))
        var err: Option[String] = None
        val dt = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          // noop sink: materializes EVERY column of the result. A count()
          // action would let Catalyst prune unreferenced projections, so
          // elementwise queries would time the scan instead of the work.
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case t: Throwable =>
            err = Some((t.getClass.getName + ": " +
              Option(t.getMessage).getOrElse("")).replaceAll("\\s+", " ").take(300))
            System.err.println(s"[bench] $name FAILED: ${err.get}") }
          val t = (System.nanoTime() - t0) / 1e9
          // drop persisted blocks (Dedup LSH indexes) so one query's cache
          // never pressures the next — the r2 bench showed 3-10× swings on
          // identical code from exactly this leak.
          graft.api.Df.releaseRetained()
          spark.catalog.clearCache()
          t
        }.min
        (name, dt, err)
      }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val ok = results.filter(_._3.isEmpty)
    val failed = results.filter(_._3.nonEmpty)
    // the staged-file streaming harness (one source file staged per
    // trigger) has a fixed per-trigger cost that dominates its wall time
    // and scales with FILE COUNT, not data volume — flag those queries so
    // a round-over-round or sf-over-sf comparison can separate harness
    // arithmetic from genuine plan regressions mechanically.
    val fixedCostClass: Map[String, String] =
      graft.queries.StreamingQueries.defs.keySet.iterator
        .map(_ -> "staged_files").toMap
    // driver-contract line: queries stay numeric (ONLY successful runs —
    // a failure latency is not a timing); failures ride alongside.
    val qs = ok.map { case (k, v, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val fs = failed.map { case (k, _, e) => jstr(k) + ":" + jstr(e.get) }
      .mkString("{", ",", "}")
    val classes = fixedCostClass.toSeq.sortBy(_._1)
      .map { case (k, c) => jstr(k) + ":" + jstr(c) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // cost-class split (VERDICT r19 item 5): the 18 staged-files streaming
    // queries pay a fixed per-trigger harness cost that scales with FILE
    // COUNT, not data volume, and dominates the sf1 10x slope. Reporting
    // batch-only and staged-only totals makes the batch slope — the number
    // that actually predicts 100x behavior — directly readable; BASELINE.md
    // defines the scaling gate on total_batch.
    val totalStaged = ok.filter(r => fixedCostClass.contains(r._1)).map(_._2).sum
    val totalBatch = total - totalStaged
    val splitJson = s""""total_batch":$totalBatch,"total_staged":$totalStaged"""
    val calEnd = calibrate()
    calSamples += ((toRun.size, calEnd))
    // min of the two probes = the host's best observed speed this run;
    // reporting both also exposes WITHIN-run drift (start vs end), and
    // calibration_samples localizes it: each entry is {after: queries
    // completed when the probe ran, sec: probe wall}. Samples at
    // after=0 and after=n are min-of-2; interior samples single-shot.
    val cal = math.min(calStart, calEnd)
    val samplesJson = calSamples
      .map { case (n0, s) => s"""{"after":$n0,"sec":$s}""" }
      .mkString("[", ",", "]")
    val calJson = s""""host_calibration_sec":$cal,""" +
      s""""host_calibration_start_sec":$calStart,""" +
      s""""host_calibration_end_sec":$calEnd,""" +
      s""""calibration_samples":$samplesJson"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","n_ok":${ok.size},"n_failed":${failed.size},"failed":$fs,""" +
      s""""fixed_cost_classes":$classes,$splitJson,$calJson}"""
    println(line)
    // the driver's log capture truncates long tails (BENCH_r06 kept only
    // 61/125 per-query timings and lost the total) — persist a FULL
    // per-query {sec, ok, err} record as the file artifact.
    val detail = results.map { case (k, v, e) =>
      jstr(k) + s""":{"sec":$v,"ok":${e.isEmpty},"err":""" +
        e.map(jstr).getOrElse("null") +
        fixedCostClass.get(k).map(c => s""","fixed_cost_class":${jstr(c)}""")
          .getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_ok":${ok.size},"n_failed":${failed.size},"queries":$detail,""" +
      s""""sf":"$sfDir",$splitJson,$calJson}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fileLine + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // Print a LAST line with all headline fields + calibration timeline,
    // per-query detail pointed at by detail_file (committed under
    // bench_artifacts/). Tagged "total_summary", NOT "total": two
    // same-tag lines made any grep-for-marker tooling nondeterministic
    // (ADVICE r19). Combined with build.sbt's StdoutOutput +
    // showSuccess:=false this line is the literal last line of the sbt
    // run's stdout, bare JSON. r22 (VERDICT r21 item 2): the line now
    // ALSO carries the per-query seconds map — PERF_r21's per_query and
    // scaling blocks were empty because the parsed summary held only
    // suite totals and target/bench.json is overwritten per run. Values
    // are rounded to 0.1 ms to keep the line compact (271 entries);
    // failed queries stay out of the map (a failure latency is not a
    // timing — the r9 incident), listed in "failed" instead.
    val qsCompact = ok.map { case (k, v, _) =>
      jstr(k) + ":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec",""" +
      s""""queries":$qsCompact,"sf":"$sfDir",""" +
      s""""n_ok":${ok.size},"n_failed":${failed.size},"failed":$fs,""" +
      s""""detail_file":${jstr(out)},$splitJson,$calJson}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
      sys.exit(2) // a bench over broken queries must not look green
    }
  }
}
