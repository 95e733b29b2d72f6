package graft

import java.nio.file.{Files, Paths}

/** Batch plan capture for the optimization rounds: write the
  * `.explain("formatted")` output of each named query to
  * `<outDir>/<name>_<tag>.txt` (the `plans/r<N>/` evidence files the
  * optimization brief requires). One session serves every query, so the
  * per-invocation sbt/JVM cost is paid once instead of per plan.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query...>
  *        (query of "all" dumps every SparkEntry entry)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain graft.PlanDump <outDir> <tag> <query...|all>")
      sys.exit(2)
    }
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    Files.createDirectories(outDir)
    // reject every unknown name up front — a typo must not abort the
    // batch mid-run after the JVM/session startup cost is already paid
    val requested =
      if (args.drop(2).sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val unknown = requested.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[plandump] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.local(cpus)
    val names = requested
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${n}_$tag.txt"), txt)
      System.err.println(s"[plandump] $n -> ${outDir.resolve(s"${n}_$tag.txt")}")
    }
    spark.stop()
  }
}
