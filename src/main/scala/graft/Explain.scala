package graft

/** Plan-inspection utility: `runMain graft.Explain <query_name>...` prints
  * each op's formatted physical plan at sf0.1 — the feedback loop for the
  * scale review (missed broadcasts, extra exchanges, codegen breaks). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    // SPARK_GRAFT_EXEC=1: materialize first and print the FINAL adaptive
    // plan — AQE stage reuse (ReusedExchange/ReusedQueryStage) only
    // appears after execution, so the static plan under-reports reuse
    args.foreach { q =>
      println(s"===== $q =====")
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.1")
      if (sys.env.get("SPARK_GRAFT_EXEC").contains("1")) {
        df.queryExecution.toRdd.count()
        println(df.queryExecution.executedPlan.toString.take(30000))
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
