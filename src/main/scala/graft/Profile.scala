package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * For each named query (args; default = the full SparkEntry.queries set),
  * after one discarded warmup execution, reports the three phases that make
  * up a bench second:
  *   build   — SparkEntry.queries(name)(spark, dir)   (DataFrame assembly)
  *   plan    — queryExecution.executedPlan            (analyze + optimize + physical)
  *   exec    — noop-sink write                        (run the planned query)
  * and re-measures exec over `SPARK_GRAFT_PROFILE_PASSES` (default 3) passes,
  * printing min. Optionally (`SPARK_GRAFT_PLAN_DIR`) writes the
  * `explain("formatted")` output per query to `<dir>/<name>_<SUFFIX>.txt`
  * (SUFFIX = SPARK_GRAFT_PLAN_SUFFIX, default "before") — the judge-facing
  * plan evidence for plans/r19/.
  *
  * Same session config as [[Bench]] so numbers are comparable; never used by
  * the driver contract — a dev tool only.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "3").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = SparkEntry.localSession(cpus)
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // Per-execution job accounting: jobs seen, total in-job wall, summed
    // task time, and the driver-side gap (exec wall − in-job wall ≈
    // planning + codegen + result handling between jobs).
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int, String)]()
    val jobSites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0)
    val stageCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.put(js.jobId, (js.time, 0L))
        jobSites.put(js.jobId, Option(js.properties.getProperty("callSite.short")).getOrElse(""))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach { case (s, _) => jobs.put(je.jobId, (s, je.time)) }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageCount.incrementAndGet()
        taskTime.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        stages.add((sc.stageInfo.taskMetrics.executorRunTime,
          sc.stageInfo.numTasks, sc.stageInfo.name.take(110)))
      }
    })
    def resetJobs(): Unit = { jobs.clear(); taskTime.set(0); stageCount.set(0); stages.clear() }
    def jobStats(): (Int, Double, Double, Int) = {
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.filter(_._2 > 0).toSeq
      (done.size, done.map(j => (j._2 - j._1) / 1e3).sum, taskTime.get() / 1e3, stageCount.get())
    }
    for (name <- names) {
      spark.sparkContext.setJobDescription(s"profile: $name")
      // warmup execution (codegen, fixture builds) — discarded
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name warmup failed: ${e.getMessage}") }
      val (df, tBuild) = time(SparkEntry.queries(name)(spark, sfDir))
      val (_, tPlan) = time(df.queryExecution.executedPlan)
      val (_, tExec0) = time(df.write.format("noop").mode("overwrite").save())
      val execs = (2 to passes).map { _ =>
        resetJobs()
        val (d2, tb) = time(SparkEntry.queries(name)(spark, sfDir))
        val (_, te) = time(d2.write.format("noop").mode("overwrite").save())
        Thread.sleep(150) // let the listener bus drain
        val (nJobs, jobWall, tTime, nStages) = jobStats()
        (tb, te, nJobs, jobWall, tTime, nStages)
      }
      val allExec = tExec0 +: execs.map(_._2)
      val allBuild = tBuild +: execs.map(_._1)
      val last = execs.last
      println(f"[profile] $name%-28s build ${allBuild.min}%7.3f  plan $tPlan%7.3f  " +
        f"exec-min ${allExec.min}%7.3f  exec-all ${allExec.map(x => f"$x%.3f").mkString(",")}  " +
        f"last[build ${last._1}%.3f jobs ${last._3}%d stages ${last._6}%d jobwall ${last._4}%.3f " +
        f"tasktime ${last._5}%.3f gap ${last._1 + last._2 - last._4}%.3f]")
      if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")) {
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(-_._1).take(10).foreach { case (t, n, nm) =>
          println(f"[profile]   stage ${t / 1e3}%8.3f s  tasks $n%3d  $nm")
        }
      }
      if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
        import scala.jdk.CollectionConverters._
        jobs.asScala.toSeq.filter(_._2._2 > 0).sortBy(_._1).foreach { case (id, (s, e)) =>
          println(f"[profile]   job $id%3d ${(e - s) / 1e3}%7.3f s  ${jobSites.getOrDefault(id, "")}")
        }
      }
      if (sys.env.get("SPARK_GRAFT_PROFILE_NODES").contains("1")) {
        // post-execution per-node SQL metrics of the LAST executed query
        // (AQE final plan): every time-like metric ≥ 50ms, per node
        val qeBox = new java.util.concurrent.atomic.AtomicReference[
          org.apache.spark.sql.execution.QueryExecution]()
        val ql = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                                 d: Long): Unit = qeBox.compareAndSet(null, qe)
          override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                                 e: Exception): Unit = ()
        }
        val dLast = SparkEntry.queries(name)(spark, sfDir)
        spark.listenerManager.register(ql)
        dLast.write.format("noop").mode("overwrite").save()
        Thread.sleep(300)
        spark.listenerManager.unregister(ql)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
        def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan, depth)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              walk(q.plan, depth)
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => ()
            case other =>
              other.metrics.foreach { case (k, m) =>
                val isTime = k.contains("time") || k.contains("Time") || k == "duration"
                if (isTime && m.value >= 50 && m.metricType != "nsTiming")
                  buf += ((m.value, other.nodeName, k))
                if (m.metricType == "nsTiming" && m.value >= 50e6)
                  buf += ((m.value / 1000000, other.nodeName, k))
              }
              other.children.foreach(walk(_, depth + 1))
              other.subqueries.foreach(walk(_, depth + 1))
          }
        }
        Option(qeBox.get()).foreach(qe => walk(qe.executedPlan, 0))
        buf.sortBy(-_._1).take(14).foreach { case (ms, node, metric) =>
          println(f"[profile]   node ${ms / 1e3}%8.3f s  $node%-28s $metric")
        }
      }
      planDir.foreach { dir =>
        val d = SparkEntry.queries(name)(spark, sfDir)
        val txt = d.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"${name}_$planSuffix.txt"),
          txt.getBytes("UTF-8"))
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
