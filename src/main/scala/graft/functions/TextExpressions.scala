package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the near-duplicate shingle stream:
  * `graft_shingle_md5(tokens, n)` is the DISTINCT lowercase-hex md5 of every
  * n-word shingle of `tokens` (words joined by a single space), empty and
  * null tokens skipped, in first-occurrence order; fewer than n tokens give
  * an empty array, a null array gives null.
  *
  * It is the `Text.shingles5` + `md5(g.cast("binary"))` composition in one
  * call: the same bytes are digested (UTF-8 token bytes with 0x20
  * separators, exactly what `concat_ws(" ", …)` produces), so the hash set
  * equals the interpreted formulation's. Eval and codegen share the one
  * static helper [[TextExpressions.md5Shingles]]; inside whole-stage
  * codegen it is a direct call, not the per-element interpreted lambda
  * evaluation that `transform`/`sequence` pay.
  */
case class ShingleMd5(tokens: Expression, n: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression = tokens
  override def right: Expression = n
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_md5"

  override def nullSafeEval(t: Any, k: Any): Any =
    TextExpressions.md5Shingles(t.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.functions.TextExpressions.md5Shingles($t, $k)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShingleMd5 =
    copy(tokens = l, n = r)
}

object TextExpressions {
  import org.apache.spark.sql.functions.{call_function, lit}

  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes(US_ASCII)

  /** The [[ShingleMd5]] kernel (shared by eval and generated code). */
  def md5Shingles(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val toks = new Array[Array[Byte]](len)
    var m = 0
    var i = 0
    while (i < len) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes() > 0) { toks(m) = t.getBytes; m += 1 }
      }
      i += 1
    }
    if (n < 1 || m < n) return new GenericArrayData(Array.empty[Any])
    val md = md5.get()
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String]()
    var s = 0
    while (s + n <= m) {
      md.update(toks(s))
      var k = 1
      while (k < n) { md.update(0x20.toByte); md.update(toks(s + k)); k += 1 }
      val h = hex(md.digest())
      if (seen.add(h)) out.add(h)
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def hex(d: Array[Byte]): UTF8String = {
    val b = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      b(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      b(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  /** Column API for [[ShingleMd5]]; resolves through the session's
    * function registry ([[GraftExtensions]]). */
  def shingle_md5(tokens: Column, n: Int): Column =
    call_function("graft_shingle_md5", tokens, lit(n))
}
