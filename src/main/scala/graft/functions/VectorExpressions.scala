package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for the vector hot loop (SURVEY.md §2.11 /
  * §7.3(b)): a codegen'd dot product over ArrayType(DoubleType).
  *
  * Spark's higher-order `aggregate`/`zip_with` lambdas evaluate interpreted
  * (one boxed Catalyst eval per element — profiled ~µs/element); this
  * expression emits a tight primitive `for` loop inside whole-stage codegen
  * instead. The accumulation is the identical sequential left fold
  * (`acc += a[i] * b[i]` from acc = 0.0), so results are bit-for-bit equal
  * to both the HOF formulation and DuckDB's
  * `list_reduce(list_transform(...), (acc,x) -> acc+x)` — oracle parity is
  * preserved, only the constant factor changes.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product needs two array<double> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native product-quantization kernels over exact int64 vectors. A
  * codebook `book` is K full-dimension centroids (`array<array<bigint>>`);
  * block b of a vector is its dims `[b·d, (b+1)·d)` with `d = dim / blocks`.
  * Every distance is the exact int64 squared L2 (overflow throws, as ANSI
  * `sum` does), so each argmin and each sum is order-independent and equals
  * the `aggregate(zip_with(…))` fold and the DuckDB oracle bit for bit.
  * Null inputs, null elements or an empty codebook give null. Eval and
  * codegen share the static helpers in [[VectorExpressions]].
  *
  * `graft_pq_encode(x, book, blocks)`: per block, the codebook index with
  * the smallest distance, ties to the lowest index (`array<int>`). */
case class PqEncode(x: Expression, book: Expression, blocks: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = x
  override def second: Expression = book
  override def third: Expression = blocks
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(ArrayType(LongType)), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VectorExpressions.pqEncode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], c.asInstanceOf[Int])
  override def nullable: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""${ev.value} = graft.functions.VectorExpressions.pqEncode($a, $b, $c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): PqEncode =
    copy(x = a, book = b, blocks = c)
}

/** `graft_pq_lut(x, book, blocks)`: the asymmetric-distance lookup table,
  * block-major — entry `b·K + c` is the distance from block b of `x` to
  * block b of centroid c (`array<bigint>`, blocks × K). See [[PqEncode]]. */
case class PqLut(x: Expression, book: Expression, blocks: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = x
  override def second: Expression = book
  override def third: Expression = blocks
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(ArrayType(LongType)), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VectorExpressions.pqLut(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], c.asInstanceOf[Int])
  override def nullable: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""${ev.value} = graft.functions.VectorExpressions.pqLut($a, $b, $c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): PqLut =
    copy(x = a, book = b, blocks = c)
}

/** `graft_pq_adc(lut, codes, k)`: the asymmetric distance
  * `Σ_b lut[b·k + codes[b]]` of a [[PqLut]] table and [[PqEncode]] codes
  * (`bigint`). A code outside `[0, k)` or past the table throws. */
case class PqAdc(lut: Expression, codes: Expression, k: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = lut
  override def second: Expression = codes
  override def third: Expression = k
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(IntegerType), IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_adc"
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VectorExpressions.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], c.asInstanceOf[Int])
  override def nullable: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("adc")
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""Long $boxed = graft.functions.VectorExpressions.pqAdc($a, $b, $c);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed; }
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): PqAdc =
    copy(lut = a, codes = b, k = c)
}

object VectorExpressions {
  import org.apache.spark.sql.functions.{call_function, lit}

  /** Column API for [[DotProduct]]; like the others it resolves through the
    * session's function registry ([[GraftExtensions]]). */
  def dot_product(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  /** Column API for [[PqEncode]]. */
  def pq_encode(x: Column, book: Column, blocks: Int): Column =
    call_function("graft_pq_encode", x, book, lit(blocks))
  /** Column API for [[PqLut]]. */
  def pq_lut(x: Column, book: Column, blocks: Int): Column =
    call_function("graft_pq_lut", x, book, lit(blocks))
  /** Column API for [[PqAdc]]. */
  def pq_adc(lut: Column, codes: Column, k: Column): Column =
    call_function("graft_pq_adc", lut, codes, k)

  /** The elements of `a` as a primitive array, or null when it holds a null. */
  private def longs(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = a.getLong(i)
      i += 1
    }
    out
  }

  /** The codebook's centroids, or null when it is empty or holds a null;
    * every centroid must have `dim` elements, split into `blocks` blocks. */
  private def centroids(book: ArrayData, dim: Int, blocks: Int): Array[Array[Long]] = {
    require(blocks > 0 && dim % blocks == 0,
      s"a $dim-dim vector does not split into $blocks equal blocks")
    val k = book.numElements()
    if (k == 0) return null
    val cs = new Array[Array[Long]](k)
    var c = 0
    while (c < k) {
      if (book.isNullAt(c)) return null
      cs(c) = longs(book.getArray(c))
      if (cs(c) == null) return null
      require(cs(c).length == dim, s"centroid $c has ${cs(c).length} dims, the vector $dim")
      c += 1
    }
    cs
  }

  /** Exact squared L2 between `x` and `y` over dims `[from, from + d)`. */
  private def l2(x: Array[Long], y: Array[Long], from: Int, d: Int): Long = {
    var acc = 0L
    var j = from
    val end = from + d
    while (j < end) {
      val diff = Math.subtractExact(x(j), y(j))
      acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
      j += 1
    }
    acc
  }

  /** The [[PqEncode]] kernel. */
  def pqEncode(x: ArrayData, book: ArrayData, blocks: Int): ArrayData = {
    val xs = longs(x)
    if (xs == null) return null
    val cs = centroids(book, xs.length, blocks)
    if (cs == null) return null
    val d = xs.length / blocks
    val codes = new Array[Int](blocks)
    var b = 0
    while (b < blocks) {
      var best = l2(xs, cs(0), b * d, d)
      var bi = 0
      var c = 1
      while (c < cs.length) {
        val dist = l2(xs, cs(c), b * d, d)
        if (dist < best) { best = dist; bi = c }
        c += 1
      }
      codes(b) = bi
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** The [[PqLut]] kernel. */
  def pqLut(x: ArrayData, book: ArrayData, blocks: Int): ArrayData = {
    val xs = longs(x)
    if (xs == null) return null
    val cs = centroids(book, xs.length, blocks)
    if (cs == null) return null
    val d = xs.length / blocks
    val k = cs.length
    val lut = new Array[Long](blocks * k)
    var b = 0
    while (b < blocks) {
      var c = 0
      while (c < k) { lut(b * k + c) = l2(xs, cs(c), b * d, d); c += 1 }
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(lut)
  }

  /** The [[PqAdc]] kernel (boxed: null when an element is null). */
  def pqAdc(lut: ArrayData, codes: ArrayData, k: Int): java.lang.Long = {
    val n = lut.numElements()
    var acc = 0L
    var b = 0
    while (b < codes.numElements()) {
      if (codes.isNullAt(b)) return null
      val c = codes.getInt(b)
      val i = b * k + c
      require(c >= 0 && c < k && i < n, s"code $c of block $b is outside a $n-entry table of width $k")
      if (lut.isNullAt(i)) return null
      acc = Math.addExact(acc, lut.getLong(i))
      b += 1
    }
    acc
  }
}
