package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: its options, session, tracer, checks and
  * the metrics it has measured so far.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val workDir: String) {
  val tracer = new Tracer(spark.sparkContext, traced)
  /** The workload's own end-to-end metrics, printed by name. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of the traced run. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, Any]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Ids of the spans that time a workload's own calls (not layer probes). */
  val callSpans = mutable.Set.empty[Int]
  var persistedMax = 0

  /** A fresh directory under the run's work directory. */
  def newDir(prefix: String): String = {
    val d = new File(workDir, s"$prefix-${Ctx.dirSeq.incrementAndGet()}")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** A check that failed counts the current operation as failed. */
  def check(ok: Boolean, msg: => String): Boolean = {
    if (!ok) { failures += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }
    ok
  }

  /** Time one workload call (ms), as a request span when traced. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = tracer.request(name) {
      if (tracer.enabled) callSpans += tracer.spans.last.id
      body
    }
    val ms = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[perfbench] $name%-24s $ms%10.1f ms")
    persistedMax = math.max(persistedMax, spark.sparkContext.getPersistentRDDs.size)
    (out, ms)
  }

  /** Time a layer probe (traced runs only): a request of its own, seconds. */
  def probe(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.request(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  /** Count one operation; `checks` returns false when the output is wrong. */
  def operation(checks: => Boolean): Unit = {
    attempted += 1
    val ok = try checks catch {
      case e: Exception =>
        failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
        false
    }
    if (!ok) failed += 1
  }

  def layerMetric(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def detailMetric(name: String, v: Double, unit: String): Unit = detail(name) = (v, unit)
}

object Ctx {
  /** Shared by the untraced and traced contexts of one run. */
  private val dirSeq = new java.util.concurrent.atomic.AtomicInteger()
}

/** What a workload's timed phase measured: per-call wall times, and the
  * work units those calls completed (objects, requests, operations, MB);
  * throughput is over the time spent in calls, checks excluded.
  */
final case class Phase(callMs: Seq[Double], units: Double) {
  def unitsPerSecond: Double = units / (callMs.sum / 1e3)
}

trait Workload {
  /** Make this workload's inputs from `seed` in this JVM, without
    * Spark; returns their fingerprint.
    */
  def generate(seed: Long): String
  /** Generate inputs and build what the timed phase needs (index, reference
    * results). Repeated; set-up time is the median of the repeats.
    */
  def setup(ctx: Ctx): Unit
  /** Run the timed calls once on the current set-up, untimed. */
  def warmUp(ctx: Ctx): Unit
  /** Run the timed phase for about `seconds`; traced runs add layer probes. */
  def run(ctx: Ctx, seconds: Double): Phase
  /** Workload-specific checks after the timed phase. */
  def finish(ctx: Ctx): Unit = ()
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "index_build" -> (() => new IndexBuildWorkload),
    "search_serving" -> (() => new SearchServingWorkload),
    "upsert_mixed" -> (() => new UpsertMixedWorkload),
    "corpus_pipeline" -> (() => new CorpusPipelineWorkload))

  /** Set-ups per run: at least 3, more while they fit in 2 s, so a cheap
    * set-up's median is taken over enough repeats to be steady.
    */
  val MinSetups = 3
  val MaxSetups = 15
  val SetupBudgetS = 2.0

  /** The per-layer metrics every workload's traced run reports (the
    * `per_layer` list of BENCHMARK.json); the workload-specific layer
    * metrics are printed and written to the run record.
    */
  val ReportedLayerMetrics: Seq[String] = Seq(
    "spark.jobs_per_request", "spark.stages_per_request", "spark.driver_gap_ms",
    "spark.task_s", "spark.task_cpu_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "jvm.peak_rss_mb", "jvm.gc_s",
    "functions.vec_cosine_rows_per_s", "functions.nearest_centroid_rows_per_s",
    "functions.minhash_sig_mb_per_s", "functions.tokens_mb_per_s",
    "functions.multi_marker_hits_mb_per_s", "trace.overhead_ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.get("selftest").contains("1")) { SelfTest.run(); return }
    val workload = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val workDir = opts("work")
    val recordPath = opts("record")
    require(Workloads.contains(workload),
      s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM uptime at each phase boundary, so a run's wall time explains itself
    val timeline = mutable.LinkedHashMap("session" -> uptimeS)
    var exit = 1
    try {
      val ctx = new Ctx(spark, seed, seconds, traced, workDir)
      val wl = Workloads(workload)()
      val fingerprint = wl.generate(seed)
      // the first set-up runs on a cold JVM, the later ones warm; the
      // median is a warm one
      val setupS = ArrayBuffer.empty[Double]
      while (setupS.size < MinSetups || (setupS.size < MaxSetups && setupS.sum < SetupBudgetS)) {
        val t0 = System.nanoTime()
        wl.setup(ctx)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      timeline("setup") = uptimeS
      val w0 = System.nanoTime()
      wl.warmUp(ctx)
      ctx.record("warmup_s") = (System.nanoTime() - w0) / 1e9
      timeline("warmup") = uptimeS
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (!traced) {
        val phase = wl.run(ctx, seconds)
        metrics("setup_s") = (Stats.median(setupS.toSeq), "s")
        metrics("p50_ms") = (Stats.median(phase.callMs), "ms")
        metrics("throughput_per_s") = (phase.unitsPerSecond, "1/s")
        ctx.record("call_ms") = phase.callMs
        ctx.record("call_p90_ms") = Stats.tail(phase.callMs, 0.9)
      } else {
        // untraced half first, then the traced half on the same set-up:
        // the ratio of their median call times is the tracing overhead
        val plain = new Ctx(spark, seed, seconds, traced = false, workDir)
        val u = wl.run(plain, seconds / 2)
        val t = wl.run(ctx, seconds / 2)
        ctx.attempted += plain.attempted; ctx.failed += plain.failed
        ctx.failures ++= plain.failures
        Kernels.run(ctx)
        ctx.tracer.drain()
        layerSummary(ctx)
        ctx.layerMetric("trace.overhead_ratio",
          Stats.median(t.callMs) / Stats.median(u.callMs), "ratio")
        ReportedLayerMetrics.foreach(n => metrics(n) = ctx.layer(n))
      }
      timeline("timed") = uptimeS
      wl.finish(ctx)
      ctx.record("jvm_uptime_s") = timeline
      val correct = ctx.failed == 0 && ctx.failures.isEmpty && ctx.attempted > 0
      ctx.record ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "fingerprint" -> fingerprint, "setup_s_each" -> setupS.toSeq, "correct" -> correct,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq)
      ctx.record ++= runRecord(spark)
      ctx.record("metrics") = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      ctx.record("workload_metrics") = ctx.detail.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      ctx.record("layer_metrics") = ctx.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      if (traced) ctx.record("spans") = ctx.tracer.spansJson
      Files.write(Paths.get(recordPath), Json.write(ctx.record).getBytes(UTF_8))

      (ctx.detail ++ ctx.layer ++ metrics).foreach { case (k, (v, u)) => println(f"metric $k%-40s $v%.6g $u") }
      println(Json.write(Map(
        "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
      exit = if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }

  /** Per-layer metrics every traced run reports: Spark work per workload
    * call, layer self times, JVM memory and GC.
    */
  private def layerSummary(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val calls = tr.spans.filter(s => ctx.callSpans.contains(s.id)).toSeq
    val works = calls.map(tr.totalWork)
    def perCall(f: SparkWork => Double): Double = Stats.mean(works.map(f))
    ctx.layerMetric("spark.jobs_per_request", perCall(_.jobs.toDouble), "count")
    ctx.layerMetric("spark.stages_per_request", perCall(_.stages.toDouble), "count")
    ctx.layerMetric("spark.driver_gap_ms", Stats.mean(calls.map(tr.driverGapMs)), "ms")
    ctx.layerMetric("spark.task_s", perCall(_.taskNs / 1e9), "s")
    ctx.layerMetric("spark.task_cpu_s", perCall(_.cpuNs / 1e9), "s")
    ctx.layerMetric("spark.shuffle_write_bytes", perCall(_.shuffleWrite.toDouble), "bytes")
    ctx.layerMetric("spark.shuffle_read_bytes", perCall(_.shuffleRead.toDouble), "bytes")
    ctx.layerMetric("spark.spill_bytes", perCall(_.spill.toDouble), "bytes")
    ctx.layerMetric("spark.input_bytes", perCall(_.inputBytes.toDouble), "bytes")
    ctx.layerMetric("core.persisted_rdds_max", ctx.persistedMax, "count")
    // self time per layer over every span of the run, probes included
    tr.spans.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
      ctx.record(s"self_s.$layer") = ss.map(tr.selfSeconds).sum
    }
    ctx.layerMetric("jvm.peak_rss_mb", peakRssMb, "MB")
    ctx.layerMetric("jvm.gc_s",
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3, "s")
  }

  private def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
  }

  private def runRecord(spark: SparkSession): Seq[(String, Any)] = {
    val conf = spark.sparkContext.getConf
    Seq(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "driver_memory_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "java_version" -> System.getProperty("java.version"),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "adaptive" -> conf.getOption("spark.sql.adaptive.enabled").getOrElse("default"))
  }
}
