package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side recorder for traced passes. Every job the harness causes
  * carries the local property [[Harness.TagKey]] ("pass|query|layer");
  * stages and tasks inherit the tag of the job that submitted them. */
class Recorder extends SparkListener with QueryExecutionListener {
  case class Job(tag: String, id: Int, start: Long, var end: Long)
  final class Agg {
    var stages, tasks = 0L
    var runMs, shuffleRead, shuffleWrite, spill, input = 0L
  }
  case class Batch(triggerMs: Long, rows: Long)

  val jobs = mutable.ArrayBuffer[Job]()
  private val jobById = mutable.HashMap[Int, Job]()
  private val stageTag = mutable.HashMap[Int, String]()
  val aggs = mutable.HashMap[String, Agg]()
  /** planning phases, (start, end) epoch ms, of each query execution */
  val qes = mutable.ArrayBuffer[Map[String, (Long, Long)]]()
  val batches = mutable.ArrayBuffer[Batch]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Harness.TagKey))).getOrElse("untagged")
  private def agg(stageId: Int) = aggs.getOrElseUpdate(stageTag.getOrElse(stageId, "untagged"), new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = Job(tagOf(e.properties), e.jobId, e.time, -1L)
    jobs += j
    jobById(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.remove(e.jobId).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag(e.stageInfo.stageId) = tagOf(e.properties)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    agg(e.stageInfo.stageId).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(e.stageId)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  private def record(qe: QueryExecution): Unit = qes.synchronized {
    qes += qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.synchronized { batches += Batch(trig, p.numInputRows) }
    }
  }
}

/** Block-manager storage one query puts: the blocks it writes (persisted
  * RDD blocks and broadcast pieces), each at its largest size, whether or
  * not it is released before the query ends. When a block is released
  * depends on garbage collection (the context cleaner), so a level or peak
  * of what is held would not repeat from run to run; what is put does.
  * [[begin]] and [[end]] bracket one query; the caller drains the listener
  * bus before each, so the meter is idle when they run. */
class BlockMeter extends SparkListener {
  private val largest = mutable.HashMap[String, Long]()
  private var rdd, all = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = b.blockManagerId.executorId + "/" + b.blockId.name
    val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
    val old = largest.getOrElse(key, 0L)
    if (now > old) {
      largest(key) = now
      all += now - old
      if (b.blockId.isRDD) rdd += now - old
    }
  }
  def begin(): Unit = synchronized { largest.clear(); rdd = 0; all = 0 }
  /** (bytes of RDD blocks, bytes of all blocks) put since [[begin]] */
  def end(): (Long, Long) = synchronized { (rdd, all) }
}

/** Runs one workload for a time budget and writes a raw record (per-query
  * timings, digests and, in traced passes, spans and Spark counts) as JSON.
  * Metrics are computed from that record by `perfbench/metrics.py`.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE
  *       --queries Q1,Q2,... */
object Harness {
  val TagKey = "graftbench.tag"
  /** untimed passes before the measured ones */
  val WarmupPasses = 2
  /** measured passes at least, however short `--seconds`: `query_tail_ms`
    * is taken over the first three, and a traced run needs a traced and an
    * untraced pass */
  val MinPasses = 3

  /** CPU time (ns) of the JIT compiler threads so far, per thread from
    * /proc (Linux). The JVM's CompilationMXBean reports elapsed compile
    * time summed over threads, not CPU time, and the compiler threads are
    * hidden from ThreadMXBean. The JVM runs with a fixed set of compiler
    * threads (-XX:-UseDynamicNumberOfCompilerThreads), so none ends and
    * takes its count with it. */
  def jitCpuNs(): Long =
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty[java.io.File]).iterator.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm")).trim
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
          Files.readString(t.toPath.resolve("schedstat")).trim.split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum

  private def now(): Double = System.nanoTime() / 1e6 + epochOffsetMs
  private lazy val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  case class Exec(pass: Int, query: String, traced: Boolean, t0: Double, t1: Double, t2: Double,
                  ok: Boolean, err: String, rows: Long, digest: Long, analysis: (Long, Long),
                  persisted: Int, leaked: Int, rddBytes: Long, storageBytes: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = a("data")
    epochOffsetMs

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val readyMs = now()
    val blocks = new BlockMeter
    sc.addSparkListener(blocks)

    val registry = graft.SparkEntry.queries
    val queries = a("queries").split(",").toSeq.map { n =>
      n -> registry.getOrElse(n, throw new IllegalArgumentException(s"unknown query: $n"))
    }
    val rec = new Recorder
    val execs = mutable.ArrayBuffer[Exec]()
    def runOne(pass: Int, name: String, fn: (SparkSession, String) => DataFrame, traced: Boolean): Unit = {
      sc.listenerBus.waitUntilEmpty()
      blocks.begin()
      sc.setLocalProperty(TagKey, s"$pass|$name|build")
      var (ok, err, rows, digest, persisted) = (true, "", -1L, 0L, -1)
      var analysis = (-1L, -1L)
      var t1 = Double.NaN
      val t0 = now()
      try {
        val df = fn(spark, dataDir)
        t1 = now()
        if (traced) {
          persisted = sc.getPersistentRDDs.size
          df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => analysis = (p.startTimeMs, p.endTimeMs))
        }
        sc.setLocalProperty(TagKey, s"$pass|$name|action")
        df.write.format(classOf[DigestSink].getName).mode("overwrite").save()
        val (r, d) = DigestSink.take()
        rows = r; digest = d
      } catch { case t: Throwable =>
        if (!NonFatal(t) && !t.isInstanceOf[StackOverflowError]) throw t
        ok = false
        err = (t.getClass.getName + ": " + Option(t.getMessage).getOrElse(""))
          .replaceAll("\\s+", " ").take(300)
      }
      val t2 = now()
      if (t1.isNaN) t1 = t2
      sc.setLocalProperty(TagKey, s"$pass|$name|release")
      graft.api.Df.releaseRetained()
      val leaked = if (traced) sc.getPersistentRDDs.size else -1
      spark.catalog.clearCache()
      sc.setLocalProperty(TagKey, null)
      sc.listenerBus.waitUntilEmpty()
      val (rddBytes, storageBytes) = blocks.end()
      execs += Exec(pass, name, traced, t0, t1, t2, ok, err, rows, digest, analysis,
        persisted, leaked, rddBytes, storageBytes)
    }

    // warm-up passes (pass 0, untimed): class loading, JIT compilation, code
    // generation and the streaming queries' staged inputs; set-up time
    val warmT = now()
    for (_ <- 1 to WarmupPasses; (n, f) <- queries) runOne(0, n, f, traced = false)
    val warmupS = (now() - warmT) / 1e3

    // measured passes: each in its own seeded order; traced runs alternate
    // traced and untraced passes so the overhead is measured, and the seed's
    // parity picks which come first: passes speed up as JIT compilation
    // settles, so across seeds each position is traced equally often
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcs.map(_.getCollectionTime).sum
    val start = now()
    val passStats = mutable.ArrayBuffer[(Int, Boolean, Double, Double, Double, Double)]()
    var pass = 0
    while (pass < MinPasses || now() - start < seconds * 1e3) {
      pass += 1
      val traced = trace && pass % 2 == Math.floorMod(seed, 2L)
      if (traced) {
        sc.addSparkListener(rec)
        spark.listenerManager.register(rec)
        spark.streams.addListener(rec.streams)
      }
      val (c, g, j, t) = (os.getProcessCpuTime, gcMs(), jitCpuNs(), now())
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      order.foreach { case (n, f) => runOne(pass, n, f, traced) }
      passStats += ((pass, traced, (now() - t) / 1e3, (os.getProcessCpuTime - c) / 1e9, (gcMs() - g) / 1e3,
        (jitCpuNs() - j) / 1e9))
      if (traced) {
        sc.listenerBus.waitUntilEmpty()
        spark.streams.removeListener(rec.streams)
        spark.listenerManager.unregister(rec)
        sc.removeSparkListener(rec)
      }
    }
    spark.stop()

    val out = new StringBuilder
    def s(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def n(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    out ++= s"""{"workload":${s(workload)},"seed":$seed,"seconds":$seconds,"trace":$trace,"""
    out ++= s""""ready_ms":${n(readyMs)},"""
    out ++= s""""warmup_s":${n(warmupS)},"min_passes":$MinPasses,"""
    out ++= passStats.map { case (p, tr, w, c, g, j) =>
      s"""{"pass":$p,"traced":$tr,"wall_s":${n(w)},"cpu_s":${n(c)},"gc_s":${n(g)},"jit_s":${n(j)}}"""
    }.mkString("\"passes\":[", ",", "],")
    out ++= execs.map { e =>
      s"""{"pass":${e.pass},"query":${s(e.query)},"traced":${e.traced},"t0":${n(e.t0)},"t1":${n(e.t1)},""" +
        s""""t2":${n(e.t2)},"ok":${e.ok},"err":${s(e.err)},"rows":${e.rows},"digest":${s(e.digest.toString)},""" +
        s""""analysis":[${e.analysis._1},${e.analysis._2}],"persisted":${e.persisted},"leaked":${e.leaked},""" +
        s""""rdd_bytes":${e.rddBytes},"storage_bytes":${e.storageBytes}}"""
    }.mkString("\"execs\":[\n", ",\n", "],\n")
    out ++= rec.jobs.map(j => s"""{"tag":${s(j.tag)},"id":${j.id},"start":${j.start},"end":${j.end}}""")
      .mkString("\"jobs\":[\n", ",\n", "],\n")
    out ++= rec.aggs.toSeq.sortBy(_._1).map { case (t, g) =>
      s"""${s(t)}:{"stages":${g.stages},"tasks":${g.tasks},"run_ms":${g.runMs},""" +
        s""""shuffle_read":${g.shuffleRead},"shuffle_write":${g.shuffleWrite},"spill":${g.spill},"input":${g.input}}"""
    }.mkString("\"tasks\":{\n", ",\n", "},\n")
    out ++= rec.qes.map(_.toSeq.sortBy(_._1).map { case (k, (b, e)) => s"""${s(k)}:[$b,$e]""" }
      .mkString("{", ",", "}")).mkString("\"qes\":[\n", ",\n", "],\n")
    out ++= rec.batches.map(b => s"""{"trigger_ms":${b.triggerMs},"rows":${b.rows}}""")
      .mkString("\"batches\":[\n", ",\n", "]}\n")
    Files.writeString(Paths.get(a("out")), out.toString)
  }
}
