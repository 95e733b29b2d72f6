package graft

import org.scalatest.funsuite.AnyFunSuite

/** The hard gate Verify.scala relies on: every declared query must run
  * end-to-end on sf0.001 without throwing and produce at least one row.
  * Verify itself exits 0 on per-query failure (so the driver can still
  * compare the queries that did dump); THIS suite is what fails the build
  * when any query crashes — the round-1 q19 failure mode (a query that
  * crashed at runtime yet shipped) cannot recur while this passes.
  */
class AllQueriesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("every query key has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // EXACT equality both ways: a query missing an oracle must be
    // declared, and a declared rows-only entry must actually exist and
    // actually lack an oracle (stale entries erode the invariant).
    assert(noOracle == SparkEntry.rowsOnlyQueries,
      s"oracle-less queries ${noOracle.toSeq.sorted.mkString(", ")} != declared rows-only ${SparkEntry.rowsOnlyQueries.toSeq.sorted.mkString(", ")}")
    assert(SparkEntry.rowsOnlyQueries.subsetOf(SparkEntry.queries.keySet),
      "rowsOnlyQueries names a query that does not exist")
  }

  test("unknownQueries returns exactly the names that are not query keys") {
    assert(SparkEntry.unknownQueries(Seq("q01_pricing_summary", "nope")) == Seq("nope"))
    assert(SparkEntry.unknownQueries(Seq()) == Seq())
  }

  test("no query emits binary or nested output — the driver's pandas gate can't sort them") {
    // Round-12 q131: raw binary output passed the hex-normalizing local
    // check yet crashed the driver's canonicalization (`unhashable
    // type: 'bytearray'`). Round-15 q388: an ARRAY<STRING> column did
    // the same (`unhashable type: numpy.ndarray`) — same class, one
    // type over. Schema-only check (no execution); Verify enforces the
    // same invariant at dump time and typegate.py at compare time.
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, dir).schema.fields.collect {
        case f if f.dataType == BinaryType => s"$name.${f.name} (binary)"
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"$name.${f.name} (nested)"
      }
    }
    assert(offenders.isEmpty,
      s"driver-unsortable output column(s) ${offenders.mkString(", ")} — " +
        "emit hex(col) / a joined string instead")
  }

  // StreamingOps names each memory sink's temp view `<gate>_<32 hex>`;
  // a view left behind pins every row its sink emitted in driver memory
  private val sinkView = "_[0-9a-f]{32}$".r
  private def sinkViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
      .filter(sinkView.findFirstIn(_).isDefined).toSet

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      val viewsBefore = sinkViews()
      val df = fn(spark, dir)
      // global-window guard: any unpartitioned WindowExec must sit over
      // a census/limit-bounded input (PlanGuards doc) — checked on every
      // declared query so a refactor can't silently reintroduce a
      // single-partition sort over row-scale data
      if (!PlanGuards.globalWindowExceptions(name))
        PlanGuards.assertGlobalWindowsBounded(df, name)
      // round-17 guards: no O(n·m) pair product, no single-task funnel
      // of row-scale data (census/limit-bounded inputs are exempt —
      // PlanGuards doc)
      if (!PlanGuards.pairProductExceptions(name))
        PlanGuards.assertNoRowScalePairProduct(df, name)
      if (!PlanGuards.globalWindowExceptions(name))
        PlanGuards.assertNoSinglePartitionFunnel(df, name)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
      val leaked = sinkViews() -- viewsBefore
      assert(leaked.isEmpty, s"$name left memory-sink view(s) ${leaked.mkString(", ")}")
      assert(spark.streams.active.isEmpty,
        s"$name left streaming queries running: ${spark.streams.active.map(_.name).mkString(", ")}")
    }
  }
}
