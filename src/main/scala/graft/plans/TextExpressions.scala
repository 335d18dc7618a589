package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashFunctions.{MinhashP, minhashCoeffs}

/** Static kernel for [[NfcNormalize]] — a top-level object so codegen can
  * call it through the compiler-emitted static forwarder.
  *
  * The `isNormalized` probe first is the hot-path contract: real corpora
  * are overwhelmingly already NFC (every ASCII string trivially is), and
  * the probe is a single forward scan with no allocation — the
  * String↔UTF8String round-trip and the normalizer's builder only run on
  * the rare decomposed row. Returning the INPUT reference on the
  * already-normal path keeps the common case zero-copy.
  */
object NfcCodec {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization as a native codegen'd expression — the
  * canonicalization step a text-curation pipeline runs BEFORE any
  * hash-keyed operator (exact dedup, minhash shingles, URL keys):
  * "é" as U+00E9 and as "e"+U+0301 are byte-different, so unnormalized
  * corpora silently under-deduplicate and split vocabulary entries.
  *
  * Spark ships no normalizer function, so the alternatives are a Scala
  * UDF (serialization wall per row, opaque to codegen) or this: a
  * UnaryExpression whose generated code is one static call into
  * [[NfcCodec]], staying inside whole-stage codegen like the
  * [[DotProduct]] kernel. Null-safe (null → null), non-string input
  * rejected at analysis.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")

  override def nullSafeEval(input: Any): Any =
    NfcCodec.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NfcCodec.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Static kernel for [[MinhashBandKeys]]: one md5 per shingle (its first
  * 60 bits mod P, as `HashFunctions.shingleHash`), the k affine minimums
  * (`affineHash`), then each band's minimums combined base 31 — each step
  * bit-identical to the SQL composition the DuckDB oracle replays. Null
  * shingles are skipped; no shingles → empty array.
  */
object MinhashKernel {
  private val md5 = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def bandKeys(shingles: ArrayData, a: Array[Long], b: Array[Long], bands: Int): ArrayData = {
    val mins = Array.fill(a.length)(Long.MaxValue)
    for (i <- 0 until shingles.numElements() if !shingles.isNullAt(i)) {
      val digest = md5.get().digest(shingles.getUTF8String(i).getBytes)
      val h = (java.nio.ByteBuffer.wrap(digest).getLong >>> 4) % MinhashP
      for (j <- a.indices) mins(j) = math.min(mins(j), (a(j) * h + b(j)) % MinhashP)
    }
    UnsafeArrayData.fromPrimitiveArray(if (mins(0) == Long.MaxValue) Array.emptyLongArray
      else mins.grouped(a.length / bands).map(_.foldLeft(0L)(_ * 31 + _)).toArray)
  }
}

/** MinHash-LSH band keys of a shingle array as one codegen'd expression
  * ([[NfcNormalize]]'s pattern: one static call into [[MinhashKernel]]).
  * Row-local — no explode, no aggregate — so batch dedup and the
  * streaming gate share it. Null array → null.
  */
case class MinhashBandKeys(child: Expression, k: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && bands > 0 && k % bands == 0, "k must divide into bands")
  private lazy val (as, bs) = minhashCoeffs(k).toArray.unzip

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_band_keys"

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.bandKeys(input.asInstanceOf[ArrayData], as, bs, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (a, b) = (ctx.addReferenceObj("mhA", as, "long[]"), ctx.addReferenceObj("mhB", bs, "long[]"))
    defineCodeGen(ctx, ev, c => s"graft.plans.MinhashKernel.bandKeys($c, $a, $b, $bands)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeys =
    copy(child = newChild)
}

object TextExpressions {
  /** Session-level SQL registration (the extensions path in
    * [[GraftExtensions]] covers `spark.sql.extensions` users).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfc"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_jaro_winkler"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1)))
  }
}
