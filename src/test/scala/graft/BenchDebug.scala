package graft

/** Dev-only: per-query timing with live progress (Bench prints only at end). */
object BenchDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = args.toSet
    val spark = SparkEntry.localSession(cpus)
    spark.conf.set("spark.sql.codegen.wholeStage", sys.env.getOrElse("WSCG", "true"))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val t0 = System.nanoTime()
        val n = try {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          0L
        } catch { case e: Throwable => System.err.println(s"$name ERROR ${e.getMessage}"); -1L }
        println(f"BENCHQ $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      }
    }
    spark.stop()
  }
}
