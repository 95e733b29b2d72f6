package graft
import org.apache.spark.sql.functions._
/** Dev utility: time one query (or an ad-hoc decomposition) at sf0.1
  * in isolation — the profiling loop behind the round-4 hot-path fixes.
  * Honors `SPARK_GRAFT_SF_DIR` (default sf0.1) so single-rep scale
  * probes (the sf10-equivalent decade runs, where Bench's min-of-2
  * slow path doubles a multi-hundred-second rep) reuse this main.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[runone] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val names = if (args.isEmpty) Seq("q42_ngram_jaccard", "q42_ngram_jaccard") else args.toSeq
    names.foreach { n =>
      // isolate queries from each other exactly like Bench's
      // dropSweepState: orphaned localCheckpoint blocks from one heavy
      // query otherwise inflate the next (round-14 lesson), and at the
      // 100x probe volume they also cost real heap
      val keep = graft.operators.IvfAnn.protectedRddIds(spark)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      time(n)(SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
