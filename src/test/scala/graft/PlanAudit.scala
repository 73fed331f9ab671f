package graft

/** Dev-only: dump formatted plans of the queries named on the command line
  * (default: the ANN paths) to verify the physical shape — partition filters
  * present, no BroadcastNestedLoopJoin, no spurious exchanges.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession("8")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_ann_lsh", "q_ann_lsh_pruned", "q_ann_ivf_assign", "q_ann_ivf_topk", "q_find_similar_multi")
    names.foreach { name =>
      println(s"========== $name ==========")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
