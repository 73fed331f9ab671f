package graft

/** Dev harness (not part of the driver contract): print the executed plan
  * of one `SparkEntry.queries` entry — `runMain graft.PlanPeek <name> [sf]`.
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkEntry.localSession("8")
    val df = SparkEntry.queries(name)(spark, dir)
    println(s"==== $name @ $dir ====")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
