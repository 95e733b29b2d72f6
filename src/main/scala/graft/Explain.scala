package graft

/** Plan-inspection main: print the formatted physical plan of each named
  * `SparkEntry.queries` entry to stdout under a `== <name>` header — the
  * `.explain("formatted")` check to run after every operator lands, and
  * what the `plans/` files hold (redirect stdout). One session serves
  * every query, so the sbt/JVM cost is paid once.
  *
  * `final` also runs each query and prints the post-AQE plan after its
  * formatted plan (ReusedExchange etc. only appear there). Timing is
  * `graft.Bench <names>`. The fixture is `SPARK_GRAFT_SF_DIR`, defaulting
  * as Bench does.
  *
  * Usage: runMain graft.Explain <query...|all> [final]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val showFinal = args.contains("final")
    val names = args.filterNot(_ == "final").toSeq
    val requested =
      if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else names
    if (requested.isEmpty) {
      System.err.println("usage: runMain graft.Explain <query...|all> [final]")
      sys.exit(2)
    }
    val unknown = SparkEntry.unknownQueries(requested)
    if (unknown.nonEmpty) {
      System.err.println(s"[explain] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    requested.foreach { name =>
      val df = SparkEntry.queries(name)(spark, Bench.sfDir)
      println(s"== $name")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      if (showFinal) {
        // drive the df's own QueryExecution so AQE finalizes
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
