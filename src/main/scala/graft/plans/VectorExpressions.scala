package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

/** Native codegen'd dot product over two numeric array columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,*), 0d, +)`) allocates an intermediate array
  * and evaluates its lambdas interpreted, outside whole-stage codegen.
  * This expression generates a single fused primitive loop instead — the
  * difference between ~10M and ~100M+ pairs/sec/core in the ANN kernels.
  *
  * Semantics are IDENTICAL to the HOF form (and to the DuckDB oracle's
  * left-associated chain): elements widened to double, accumulated
  * left-to-right in IEEE-754 order; any null element or a length mismatch
  * yields NULL (as zip_with's null-padding would).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall { e =>
      e.dataType match {
        case ArrayType(et, _) => Seq(FloatType, DoubleType, IntegerType, LongType).contains(et)
        case _ => false
      }
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two arrays of numeric elements")
  }

  private def getAsDouble(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = l.asInstanceOf[ArrayData]
    val y = r.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getAsDouble(x, i, lt) * getAsDouble(y, i, rt)
      i += 1
    }
    acc
  }

  private def genGet(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  $acc += (${genGet(a, i, elemType(left))}) * (${genGet(b, i, elemType(right))});
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd intersection COUNT over two SORTED long arrays.
  *
  * `size(array_intersect(a, b))` builds a hash set and an output array
  * per call; on a similarity-verify stage running millions of candidate
  * pairs that allocation dominates. For sorted distinct arrays (the
  * rank-encoded shingle sets the prefix-filter join produces) a fused
  * two-pointer walk needs zero allocation and stays inside whole-stage
  * codegen.
  *
  * CONTRACT: both arrays must be sorted ascending with distinct
  * elements (array_sort of distinct ranks) — then the result equals
  * `size(array_intersect(a, b))` exactly. Null arrays or null elements
  * yield NULL.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect"

  /** Whether a null ELEMENT can occur (array containsNull). Folded into
    * [[nullable]] and used to strip the null-element branch from the
    * generated code when impossible: referencing `ev.isNull` while the
    * expression is non-nullable makes Janino reject the whole method
    * (`false = true` is not an rvalue) and the operator silently falls
    * back to the interpreter — in a JOIN CONDITION that disables
    * whole-stage codegen for the entire join stage.
    */
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override def nullable: Boolean =
    left.nullable || right.nullable || elementsNullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> inputs")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = l.asInstanceOf[ArrayData]
    val y = r.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    // sorted arrays place nulls LAST (array_sort semantics), so the tail
    // element alone decides null-poisoning — the walk can terminate
    // before reaching a trailing null (a=[1], b=[1,null] exhausts a at
    // the match), which the in-loop check alone would miss (review r4)
    if ((nx > 0 && x.isNullAt(nx - 1)) || (ny > 0 && y.isNullAt(ny - 1))) return null
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val a = x.getLong(i); val b = y.getLong(j)
      if (a == b) { c += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val c = ctx.freshName("c"); val bad = ctx.freshName("bad")
      val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
      val badInit =
        if (elementsNullable)
          s"($nx > 0 && $a.isNullAt($nx - 1)) || ($ny > 0 && $b.isNullAt($ny - 1))"
        else "false"
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($j)) { $bad = true; break; }"
        else ""
      val finish =
        if (elementsNullable)
          s"if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $c; }"
        else s"${ev.value} = $c;"
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |boolean $bad = $badInit;
         |while (!$bad && $i < $nx && $j < $ny) {
         |  $nullCheck
         |  long $va = $a.getLong($i); long $vb = $b.getLong($j);
         |  if ($va == $vb) { $c++; $i++; $j++; }
         |  else if ($va < $vb) { $i++; } else { $j++; }
         |}
         |$finish
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernel for [[Cosine4]], also called by the driver tier of IVF
  * search: the rounded cosine `round(dot / (na · nb), 4)` that every ANN
  * and embedding near-dup operator scores with, from a dot product and
  * the two norms, each computed once per row by the caller. It has
  * Spark's non-ANSI semantics whatever the session's ANSI setting, which
  * are also the DuckDB oracle's: a zero norm product (a zero norm, or a
  * product that underflows) is a null cos rather than a raise, and the
  * quotient rounds HALF_UP from the double's shortest decimal string as
  * Spark's `round` does, so NaN and infinities pass through and -0.0
  * rounds to 0.0.
  */
object CosineKernel {
  /** Whether the cos of norms `na`, `nb` is null: their product is zero. */
  def isNull(na: Double, nb: Double): Boolean = na * nb == 0.0

  /** The rounded cosine where [[isNull]] does not hold. */
  def cos4(dot: Double, na: Double, nb: Double): Double = {
    val x = dot / (na * nb)
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** [[cos4]] boxed, or null where [[isNull]] holds. */
  def cos4OrNull(dot: Double, na: Double, nb: Double): java.lang.Double =
    if (isNull(na, nb)) null else cos4(dot, na, nb)
}

/** The rounded cosine of a dot product and two norms as one codegen'd
  * expression: its generated code calls [[CosineKernel]] (the
  * `NfcNormalize` pattern), so no `Divide` is planned and the ANSI
  * setting cannot turn a zero norm into a raise. Any null input is null.
  */
case class Cosine4(dot: Expression, na: Expression, nb: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def first: Expression = dot
  override def second: Expression = na
  override def third: Expression = nb
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cos4"

  override def nullSafeEval(d: Any, a: Any, b: Any): Any =
    CosineKernel.cos4OrNull(d.asInstanceOf[Double], a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, a, b) =>
      s"""
         |if (graft.plans.CosineKernel.isNull($a, $b)) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.plans.CosineKernel.cos4($d, $a, $b); }
       """.stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): Expression =
    copy(dot = newFirst, na = newSecond, nb = newThird)
}

object VectorExpressions {
  /** Column wrapper for [[DotProduct]]. */
  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper for [[SortedIntersectCount]]. */
  def sortedIntersectNative(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** `spark.sql.extensions` entry point injecting the graft SQL functions
  * and optimizer rules.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => LevenshteinPrefilterRule)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_ <: Expression])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The graft SQL functions, one (name, builder) each: [[register]] and
    * the `spark.sql.extensions` injection both walk this table.
    */
  private val functions = Seq(
    fn("graft_dot", classOf[DotProduct])(c => DotProduct(c(0), c(1))),
    fn("graft_nfc", classOf[NfcNormalize])(c => NfcNormalize(c(0))),
    fn("graft_jaro_winkler", classOf[JaroWinkler])(c => JaroWinkler(c(0), c(1))))

  /** SQL-side registration on one session: `SELECT graft_dot(a, b)`,
    * `graft_nfc(s)`, `graft_jaro_winkler(a, b)`. Safe to call on any
    * session (idempotent).
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
