package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * codegen'd higher-order functions (`zip_with` + `aggregate`) — no UDF,
  * no serialization boundary, whole-stage-codegen friendly (SURVEY.md
  * §4.2 "Functions, not UDFs"). Floats are widened to double BEFORE any
  * arithmetic so the fold matches the DuckDB oracle's double math.
  */
object VectorOps {

  /** Sequential left-fold sum — the same association order the oracle's
    * `list_sum`/`list_cosine_similarity` use, so results agree bit-for-bit
    * modulo the final rounding.
    */
  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0d), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm(a: Column): Column =
    sqrt(foldSum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Cosine similarity of two float-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
