package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole test JVM (build.sbt forks a
  * single JVM for `sbt test`). Suites must not stop() it — the JVM exit
  * tears it down. Cores are capped so 32-core CI machines don't spend
  * startup time on task-thread churn for 6k-row fixtures.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
}
