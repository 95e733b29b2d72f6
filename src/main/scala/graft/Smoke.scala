package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry on sf0.001, rows>0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
