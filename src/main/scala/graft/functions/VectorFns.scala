package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, through the native
  * codegen expressions (VectorExpressions, installed by
  * [[graft.plans.GraftExtensions]]). They fold left in the same order as
  * DuckDB's `list_dot_product`, so both engines produce bit-identical
  * doubles.
  */
object VectorFns {

  /** Cast an array<float> column to array<double> so all downstream math
    * is double-precision in both engines (float→double is exact).
    */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product — native single-pass codegen expression. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Cosine similarity; callers are expected to pass toDouble()'d
    * arrays.
    */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
}
