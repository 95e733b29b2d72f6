package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native `sad_bytes(a, b)` kernel (q202's frame-delta stage)
  * against the hex-string HOF formulation it replaced — the exact
  * expression the DuckDB oracle still replays: per byte position,
  * |conv(substr(hex(a), 2i+1, 2), 16, 10) − conv(...b...)| summed as
  * BIGINT. Bytes must compare UNSIGNED (0..255) and null propagate
  * (the lag() of a partition's first frame).
  */
class SadBytesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def hexRef(a: Array[Byte], b: Array[Byte]): Long = {
    val n = a.length
    (0 until n).map(i => math.abs((a(i) & 0xff).toLong - (b(i) & 0xff).toLong)).sum
  }

  private def kernel(a: Array[Byte], b: Array[Byte]): Long =
    Seq((a, b)).toDF("a", "b")
      .select(expr("sad_bytes(a, b)").as("s"))
      .collect()(0).getLong(0)

  test("matches the hex-HOF reference on deterministic 32-byte frames") {
    val frames = (0 until 6).map { f =>
      Array.tabulate[Byte](32)(i => ((f * 37 + i * 11 + (i * i) % 251) % 256).toByte)
    }
    for (i <- frames.indices; j <- frames.indices)
      assert(kernel(frames(i), frames(j)) == hexRef(frames(i), frames(j)),
        s"pair ($i,$j)")
  }

  test("unsigned byte semantics: 0x00 vs 0xff is 255 per position") {
    val zeros = Array.fill[Byte](32)(0x00)
    val ffs = Array.fill[Byte](32)(0xff.toByte)
    assert(kernel(zeros, ffs) == 255L * 32)
    assert(kernel(ffs, zeros) == 255L * 32)
    assert(kernel(ffs, ffs) == 0L)
  }

  test("null input propagates to null (the first-frame lag case)") {
    val row = Seq((Array.fill[Byte](32)(1), Option.empty[Array[Byte]]))
      .toDF("a", "b")
      .select(expr("sad_bytes(a, b)").as("s"))
      .collect()(0)
    assert(row.isNullAt(0))
  }

  test("matches the SQL hex formulation end-to-end on random-ish frames") {
    // plus the unequal-length case x'00' vs x'0000': the hex formulation
    // reads an empty substring past the shorter frame and yields NULL, as
    // must the kernel — once as literals (constant-folded, interpreted
    // eval) and once computed per row (generated code)
    val df = spark.range(50).selectExpr(
      "id",
      "unhex(substr(repeat(md5(concat('fa', CAST(id AS STRING))), 2), 1, 64)) AS a",
      "unhex(substr(repeat(md5(concat('fb', CAST(id AS STRING))), 2), 1, 64)) AS b")
      .union(spark.sql("SELECT 50L AS id, x'00' AS a, x'0000' AS b"))
      .union(spark.range(51, 52).selectExpr("id",
        "unhex(repeat('00', CAST(id - 50 AS INT))) AS a",
        "unhex(repeat('00', CAST(id - 49 AS INT))) AS b"))
    val both = df.selectExpr(
      "sad_bytes(a, b) AS native",
      """aggregate(transform(sequence(0, 31), i ->
        |  abs(CAST(conv(substring(hex(a), i * 2 + 1, 2), 16, 10) AS BIGINT) -
        |      CAST(conv(substring(hex(b), i * 2 + 1, 2), 16, 10) AS BIGINT))),
        |0L, (acc, x) -> acc + x) AS hof""".stripMargin).collect()
    both.foreach(r => assert(r.get(0) == r.get(1)))
    assert(both.count(_.isNullAt(0)) == 2)
  }
}
