package graft
import java.nio.file.{Files, Paths}
/** Benchmark main. Runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, materializing each result fully (noop sink — NOT
  * `.count()`, under which Catalyst prunes final projections and drops
  * top-level sorts, under-measuring exactly what a consumer pays for).
  *
  * Methodology (round-2 verdict: n=1 timings were irreproducible — the
  * alphabetically-first query absorbed ~6 s of JVM/codegen warmup and
  * per-query numbers swung 3× between identical runs):
  *  - one UNTIMED warmup pass of the flagship query primes the JVM, the
  *    parquet footer caches, and the codegen compiler;
  *  - each query then runs `SPARK_GRAFT_BENCH_REPS` times (default 3;
  *    2 when the first rep takes over 5 s) and reports the MIN. Noise
  *    on a warm single-node run — GC pauses, C2 recompiles, scheduler
  *    contention — is strictly ADDITIVE, so the minimum is the
  *    consistent estimator of plan cost; the round-8 audit showed
  *    medians still swinging 2–5× on C2-sensitive queries across
  *    byte-identical rounds, which is exactly the false alarm the
  *    committed artifact must not raise.
  *
  * Failures are loud: a crashing query reports a negative time and the
  * process exits nonzero, so a regression can never hide inside a
  * plausible-looking wall time (round-1 lesson).
  *
  * The rule reads nothing but this run: the rep count and the reported
  * minimum depend only on the code, the fixture and the core count,
  * whatever directory Bench runs in.
  *
  * Output: ONE JSON line on stdout; a full sweep also writes the same
  * line to `bench.json` in the CWD, free of sbt's log decoration. A run
  * over named queries leaves `bench.json` alone.
  *
  * Usage: runMain graft.Bench [query...]
  */
object Bench {
  /** Fixture directory Bench and Explain read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val unknown = SparkEntry.unknownQueries(args.toSeq)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    var failed = List.empty[String]

    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    /** Drop block-manager state accumulated by a rep, OUTSIDE the timed
      * section. Queries use `localCheckpoint()` pervasively and each rep
      * builds fresh RDDs; without this the sweep accumulates hundreds of
      * orphaned checkpoint blocks and GC pressure, and late-alphabet
      * queries time 3–9× slower in a full sweep than in isolation
      * (round-14 audit: q254 4.85 s committed vs 45.14 s in the driver's
      * sweep of identical code — the committed artifact was not a stable
      * contract). Blocking unpersist so the next timed rep starts clean.
      */
    def dropSweepState(): Unit = {
      // EXEMPT session-scoped memo blocks (IvfAnn shared index, PQ
      // fits, grid-IVF assignment): their memos keep handing out the
      // checkpointed frames, and unpersisting those blocks truncates
      // lineage irrecoverably — the first round-15 sweep killed all 12
      // IVF-family queries with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
      val keep = graft.operators.IvfAnn.protectedRddIds(spark)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    // Untimed warmup: JVM/JIT, codegen compiler, parquet footers, shuffle
    // service — none of that noise belongs to the first measured query.
    try runOnce("warmup", SparkEntry.queries("q01_pricing_summary"))
    catch { case _: Throwable => () }
    dropSweepState()

    // Min-of-reps everywhere. Slow queries (>5 s) get ONE extra rep
    // (min-of-2 at half the cost of 3 reps where reps are expensive);
    // fast queries keep 3 reps. History: round-4's single-shot slow
    // path trapped a GC pause as a fake 8× regression (q23), and
    // round-8's median-of-3 fast path still let C2-recompile spikes
    // swing committed numbers 2–5× on unchanged plans (q13, q47, q72).
    // Additive noise means min, not median, is the stable statistic.
    val repeatBelowSec = 5.0

    // optional args = subset of query names (iteration aid; the driver
    // passes none and measures everything)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def rep(): Double = { val t = runOnce(name, fn); dropSweepState(); t }
      val times =
        try {
          val first = rep()
          if (first > repeatBelowSec) Seq(first, rep())
          else first +: Seq.fill(reps - 1)(rep())
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed ::= name
          dropSweepState()
          Seq.empty[Double]
        }
      val sec = if (times.isEmpty) -1.0 else times.min
      val nReps = times.size
      System.err.println(f"[bench] $name%-28s $sec%8.2f s ($nReps reps)")
      // wall-clock stamp (epoch seconds) at the END of this query's
      // measurement: a contiguous block of inflated rows in a sweep is
      // diagnosable as a transient host-load WINDOW from the artifact
      // alone (the round-18 q55–q65 driver-sweep anomaly needed the
      // committed artifact + run-order reasoning to call; with stamps
      // the affected wall-clock interval is right in the file)
      (name, sec, System.currentTimeMillis() / 1000L)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val ts = results.map { case (k, _, e) => "\"" + k + s"\":$e" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"t_end":$ts,"sf":"$sfDir","n_failed":${failed.size}}"""
    println(line)
    if (args.isEmpty) Files.writeString(Paths.get("bench.json"), line + "\n")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] failed queries: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
