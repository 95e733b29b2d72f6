package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Runs through `GraftSession.local` so correctness is measured on the
  * same tuned engine (AQE, broadcast threshold, UTC, nanos-as-long) that
  * Bench measures and users would run.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional trailing names restrict the dump (builder-side fast
    // iteration on one query); the driver always passes exactly two args
    // and gets the full sweep.
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = SparkEntry.unknownQueries(names)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => names.isEmpty || names.contains(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver's pandas canonicalization sorts column VALUES and
        // crashes on raw bytes (`unhashable type: 'bytearray'`) — but
        // the local check.py hex-normalizes them, so a BinaryType entry
        // ships green locally and red at the driver (round-12 q131).
        // Reject it HERE so the local sweep fails first; emit
        // `hex(col)` instead (injective — the gate still certifies the
        // exact bytes).
        // Round-15 recurrence (q388): ARRAY/MAP/STRUCT cells become
        // numpy arrays / dicts in the driver's pandas frame and crash
        // its row sort the same way — reject the whole nested class.
        import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
        val bad = df.schema.fields.collect {
          case f if f.dataType == BinaryType => f.name + " (binary: emit hex(col))"
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            f.name + " (nested: emit array_join/a joined string)"
        }
        if (bad.nonEmpty) throw new IllegalStateException(
          s"driver-unsortable output column(s) ${bad.mkString(", ")} break " +
            "the driver's pandas gate")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Loud (stderr) failure so a crashing query can't vanish unnoticed
    // (round-1 q19 shipped silently broken this way). Exit stays 0 so the
    // driver still compares the queries that DID dump; `AllQueriesSpec`
    // is the hard gate that fails the build on any crashing query.
    if (failed > 0)
      System.err.println(s"[verify] $failed quer${if (failed == 1) "y" else "ies"} FAILED")
  }
}
