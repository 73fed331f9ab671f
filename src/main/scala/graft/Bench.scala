package graft

import scala.collection.mutable

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`. Writes the FULL result JSON (per-pass times,
  * suspect flags, heartbeats, config) to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_out.json`), and prints a COMPACT one-line JSON summary as the
  * final stdout line — the harness keeps only the last 2000 chars of
  * stdout, so the printed line must stay well under that (the full JSON is
  * ~10 KB; printing it is why rounds 1-5 recorded `parsed: null`).
  *
  * Reported statistics per query: `queries` = min over stall-clean passes
  * (best-case, what the hardware can do), `queries_median` (full JSON
  * only) = median over stall-clean passes (the round-over-round comparison
  * number); `value`/`value_median` are the corresponding totals.
  *
  * Stall-proofing (this host exhibits documented 100-220s roving JVM/host
  * stall bursts that poison contiguous time windows):
  *   - every pass runs the queries in a DIFFERENT deterministic order
  *     (shuffled with seed = pass index), so a stall window can never poison
  *     the same query in every pass;
  *   - a fixed tiny heartbeat job runs between queries; a slow heartbeat
  *     marks the adjacent measurements as `stall_suspect`;
  *   - the reported per-query number is min over stall-clean measurements,
  *     falling back to min-of-all (and flagging the query) only if every
  *     pass was suspect.
  *
  * The JSON carries every per-pass time (`passes`), per-pass suspect flags
  * (`suspect`), heartbeat stats, and the effective config (`config`: cores,
  * shuffle partitions, the forked JVM's actual arguments) so a one-off stall
  * is distinguishable from a real regression round-over-round.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = SparkEntry.localSession(cpus)
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run (iteration aid; the
    // driver's per-round bench leaves it unset and measures everything).
    // Unknown names fail LOUDLY — a typo silently benching nothing would
    // waste an iteration cycle and write a misleading bench_out.json.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map { only =>
        val asked = only.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = asked.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
        asked
      }
      .getOrElse(SparkEntry.queries.keys.toSeq).sorted

    // Fixed tiny job (~tens of ms warm). If the host stall pathology is
    // active it takes orders of magnitude longer — that's the signal.
    def heartbeat(): Double = {
      val t0 = System.nanoTime()
      spark.range(1 << 16).selectExpr("sum(id * 3)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    heartbeat(); heartbeat() // warm the heartbeat path itself

    // Warmup: one DISCARDED pass over every measured query before pass 1
    // (the JMH discipline — warmup iterations are not measurements). The
    // cold first pass otherwise pays (a) janino codegen + JIT for every
    // query's generated classes and (b) the one-time per-dir fixture/index
    // builds the search gates amortize (r12: cold pass 229.6s vs 156.2s
    // warmed; with a tiny-sf warmup, (a) vanished but (b) kept pass 1 at
    // 1.5× — ann/corpus fixture builds at measurement scale dominated).
    // Warming at the MEASUREMENT dir absorbs both, so every measured pass
    // is steady-state and median ≈ min. Warmup time is reported in the
    // JSON (`warmup_secs`), never measured. SPARK_GRAFT_BENCH_WARMUP=0
    // skips; SPARK_GRAFT_WARMUP_DIR redirects (e.g. at a tiny sf to trade
    // pass-1 cleanliness for wall time).
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", sfDir)
    val warmupOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0" &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmupDir))

    // Inter-pass reclaim (r13 verdict #2: pass totals drifted 163.6 → 188.7s
    // monotonically within one run). Operator-internal `localCheckpoint`
    // blocks (dupClusters, PageRank, index builds — one per CALL) are only
    // released when the ContextCleaner processes the GC'd RDD references,
    // and with a large driver heap a full GC may never happen mid-run — so
    // dead blocks accumulate in the block manager across passes, squeezing
    // unified memory and slowing every later pass. Prompting GC between
    // passes lets the cleaner drain them; the MEMOIZED fixture checkpoints
    // stay strongly referenced by SparkEntry's caches and survive. Per-pass
    // heap/persisted-RDD counts are reported so drift stays diagnosable.
    def reclaim(): (Long, Int) = {
      System.gc()
      Thread.sleep(300)
      System.gc()
      Thread.sleep(200)
      val rt = Runtime.getRuntime
      ((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024),
        spark.sparkContext.getPersistentRDDs.size)
    }

    // noop sink forces full evaluation of every output column (count() would
    // let Catalyst prune the projections being measured).
    case class Pass(times: Map[String, Double], hbBefore: Map[String, Double],
                    hbAfter: Map[String, Double], hbs: Seq[Double],
                    heapMb: Long = 0L, nPersisted: Int = 0)
    def runPass(p: Int): Pass = {
      val order = new scala.util.Random(p).shuffle(names)
      val times = mutable.Map[String, Double]()
      val before = mutable.Map[String, Double]()
      val after = mutable.Map[String, Double]()
      val hbs = mutable.ArrayBuffer[Double]()
      var hb = heartbeat(); hbs += hb
      for (name <- order) {
        before(name) = hb
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        times(name) = dt
        hb = heartbeat(); hbs += hb
        after(name) = hb
        System.err.println(f"[bench] pass $p $name%-28s $dt%8.3f s  (hb $hb%6.3f s)")
      }
      val (heapMb, nPersisted) = reclaim()
      System.err.println(s"[bench] pass $p reclaim: heap ${heapMb}MB, $nPersisted persisted RDDs")
      Pass(times.toMap, before.toMap, after.toMap, hbs.toSeq, heapMb, nPersisted)
    }
    val warmupSecs = if (!warmupOn) 0.0 else {
      val t0 = System.nanoTime()
      for (name <- names) {
        try SparkEntry.queries(name)(spark, warmupDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] warmup pass ($warmupDir) $dt%.1f s")
      reclaim()
      dt
    }
    val passes = (1 to nPasses).map(runPass)

    val allHbs = passes.flatMap(_.hbs).sorted
    val medianHb = allHbs(allHbs.size / 2)
    val hbThreshold = math.max(0.5, 10 * medianHb)
    def suspect(pass: Pass, n: String): Boolean =
      pass.hbBefore(n) > hbThreshold || pass.hbAfter(n) > hbThreshold

    // min AND median over stall-clean measurements; fall back to all-passes
    // (+ flag) only if every pass was suspect. Median-of-clean is the
    // round-over-round comparison statistic (min rewards lucky passes;
    // median is stable against one noisy one).
    val results = names.map { n =>
      val clean = passes.filter(p => !suspect(p, n)).map(_.times(n))
      val (xs, flagged) =
        if (clean.nonEmpty) (clean.sorted, false)
        else (passes.map(_.times(n)).sorted, true)
      n -> ((xs.head, xs(xs.size / 2), flagged))
    }.toMap
    val total = results.values.map(_._1).sum
    val totalMedian = results.values.map(_._2).sum

    def qjson(f: String => String): String =
      names.map(n => s"\"$n\":" + f(n)).mkString("{", ",", "}")
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-XX") || a.startsWith("-Xmx"))
        .map(a => "\"" + a.replace("\"", "") + "\"").mkString("[", ",", "]")
    }
    val config = s"""{"master":"local[$cpus]","shuffle_partitions":$cpus,""" +
      s""""available_cores":${Runtime.getRuntime.availableProcessors()},"jvm_args":$jvmArgs}"""
    val hbStats = passes.map { p =>
      val s = p.hbs.sorted
      s"""{"min":${s.head},"median":${s(s.size / 2)},"max":${s.last}}"""
    }.mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"value_median":$totalMedian,"unit":"sec",""" +
      s""""queries":${qjson(n => results(n)._1.toString)},""" +
      s""""queries_median":${qjson(n => results(n)._2.toString)},""" +
      s""""stall_suspect":${qjson(n => results(n)._3.toString)},""" +
      s""""sf":"$sfDir","n_passes":$nPasses,""" +
      // per-pass totals + per-query spread (max−min across passes): host
      // drift shows as a wide spread with a stable min, a real regression
      // as a shifted min — distinguishable without a rerun (r8 verdict #6)
      s""""pass_totals":[${passes.map(_.times.values.sum).mkString(",")}],""" +
      s""""pass_heap_mb":[${passes.map(_.heapMb).mkString(",")}],""" +
      s""""pass_persisted_rdds":[${passes.map(_.nPersisted).mkString(",")}],""" +
      s""""queries_spread":${qjson { n =>
        val xs = passes.map(_.times(n)); (xs.max - xs.min).toString }},""" +
      s""""passes":[${passes.map(p => qjson(n => p.times(n).toString)).mkString(",")}],""" +
      s""""suspect":[${passes.map(p => qjson(n => suspect(p, n).toString)).mkString(",")}],""" +
      s""""heartbeats":$hbStats,"heartbeat_threshold":$hbThreshold,""" +
      s""""warmup_secs":$warmupSecs,"warmup_dir":"${if (warmupOn) warmupDir else ""}",""" +
      s""""config":$config}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    // The harness keeps only the last 2000 chars of stdout and parses the
    // final line (observed across BENCH_r01..r05: `tail` is exactly 2000
    // chars and starts MID-line — the full JSON above is ~10 KB, so the
    // parse failed every round). Print a COMPACT final line that fits the
    // window with room to spare: totals, per-query min (4 dp), suspect
    // names only. Full detail stays in `outPath`.
    def r4(x: Double): String = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // centisecond resolution for the values-only array: enough to compare
    // round-over-round (host noise is >> 10ms), compact enough that 176
    // gates fit the harness's 2000-char stdout tail with room to spare
    def r2(x: Double): String = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val flaggedNames = names.filter(n => results(n)._3)
    // "q": per-query min times (seconds, 2 dp) as a VALUES-ONLY array in
    // lexicographic gate order — names are implied by sorted
    // SparkEntry.queries order (or SPARK_GRAFT_BENCH_ONLY, sorted, when
    // set). r19 verdict #1: the full "queries" map can never fit 176 gates
    // under the 1900-char stdout guard, which left the driver per-query
    // blind; the array form is ~1 KB. Additions-only: every existing key
    // keeps its exact meaning, and the full map still lands in `outPath`.
    val qArr = names.map(n => r2(results(n)._1)).mkString("[", ",", "]")
    def compactLine(withQueries: Boolean, withQ: Boolean): String =
      s"""{"metric":"total","value":${r4(total)},"value_median":${r4(totalMedian)},""" +
        s""""unit":"sec","queries":${if (withQueries) qjson(n => r4(results(n)._1)) else "{}"},""" +
        s""""q":${if (withQ) qArr else "[]"},""" +
        s""""sf":"$sfDir","n_passes":$nPasses,""" +
        s""""stall_suspect":${flaggedNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""detail":"$outPath"}"""
    // widest variant that fits the harness's stdout window wins; the
    // totals-only fallback keeps the line parseable no matter how many
    // gates exist
    val candidates = Seq(
      compactLine(withQueries = true, withQ = true),
      compactLine(withQueries = false, withQ = true),
      compactLine(withQueries = false, withQ = false))
    println(candidates.find(_.length < 1900).getOrElse(candidates.last))
    System.out.flush()
    spark.stop()
  }
}
