package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Vector kernels over `array<float>` embedding columns.
  *
  * The dot product and the rounded cosine are native codegen'd
  * expressions ([[graft.plans.DotProduct]], [[graft.plans.Cosine4]]):
  * no UDF serialization, inside whole-stage codegen, distributable to any
  * scale. Elements are widened to double *before* arithmetic so the
  * left-to-right fold is bit-identical across engines (float32 promotion
  * first, then IEEE-754 double ops).
  */
object VectorFunctions {

  /** Cast array<float> → array<double> for deterministic arithmetic. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product — native codegen'd loop ([[graft.plans.DotProduct]]);
    * value-identical to the HOF fold `aggregate(zip_with(a,b,*),0d,+)`.
    */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dotNative(a, b)

  /** The HOF formulation, kept as the portable/reference implementation
    * (and for engines where custom expressions can't be installed).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 4dp (stable under sub-ULP fold-order
    * differences between engines); a zero norm gives null.
    */
  def cosine4(a: Column, b: Column): Column = cosine4(dot(a, b), norm(a), norm(b))

  /** The rounded cosine from a dot product and two norms a caller
    * computed once per row: `round(dot / (na * nb), 4)` under Spark's
    * non-ANSI rules whatever the ANSI setting ([[graft.plans.CosineKernel]]).
    */
  def cosine4(dot: Column, na: Column, nb: Column): Column = ColumnBridge.column(
    graft.plans.Cosine4(ColumnBridge.expression(dot), ColumnBridge.expression(na), ColumnBridge.expression(nb)))

  /** Dot product against a constant weight vector (e.g. an LSH
    * hyperplane) — the weights become a literal array in the plan, so the
    * whole projection stays inside whole-stage codegen with no join.
    */
  def dotConst(v: Column, weights: Seq[Double]): Column =
    dot(v, array(weights.map(lit): _*))
}
