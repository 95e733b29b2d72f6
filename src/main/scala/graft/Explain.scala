package graft

/** Plan-inspection main: print the formatted physical plan (and
  * optionally time one materialization) of any `SparkEntry.queries`
  * entry — the `.explain("formatted")` loop the build methodology
  * prescribes after every operator lands, packaged so it can run
  * against any fixture dir.
  *
  * Usage: runMain graft.Explain <queryName> [sfDir] [time]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val doTime = args.contains("time")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    val df = SparkEntry.queries(name)(spark, dir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    if (doTime) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name materialized in ${(System.nanoTime() - t0) / 1e9}%.2f s ($dir)")
    }
    if (args.contains("final")) {
      // drive the df's own QueryExecution so AQE finalizes, then print
      // the runtime plan (ReusedExchange etc. only appear here)
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
