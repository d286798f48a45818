package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The ANN codec kernels as native codegen expressions: PQ encode, SQ8
  * encode and decode, the binary sign-bit pack and the centroid/query
  * dot fan-out. Each replaces a composed `transform` / `zip_with` /
  * `aggregate` chain, which Spark always interprets (those higher-order
  * functions have no generated code), with one primitive loop inside
  * whole-stage codegen, in the same pattern as [[L2SqF64]] and
  * [[MinHash64]]: `doGenCode` calls a static entry (not named `eval`),
  * and the literal codebook, bounds or matrix ships once per generated
  * class with `ctx.addReferenceObj` instead of as inlined literals.
  *
  * Every kernel keeps the composed chain's IEEE operation order and its
  * null and length semantics, so every code and score is the chain's
  * value bit for bit (pinned in ExpressionsSpec).
  */
private[functions] object Rows {
  def toArrays(m: IndexedSeq[IndexedSeq[Double]]): Array[Array[Double]] =
    m.map(_.toArray).toArray

  def shape(m: IndexedSeq[IndexedSeq[Double]]): String =
    s"${m.size}x${m.headOption.fold(0)(_.size)}"
}

/** The PQ code of one subspace: the index of the codeword nearest (in
  * squared L2) to `e[offset, offset + dsub)`, where dsub is the
  * codeword width. Each distance is the ascending-index fold
  * `acc + (x_j - w_j)²` of [[L2SqF64]], and the first index of the
  * minimum wins under Spark's double ordering (`array_min` then
  * `array_position`: -0.0 equals 0.0, NaN sorts last). Null when the
  * subvector has a missing or null element, as the chain's null
  * distances give.
  */
case class PqEncode(child: Expression, codebook: IndexedSeq[IndexedSeq[Double]], offset: Int)
    extends UnaryExpression {
  @transient private lazy val words = Rows.toArrays(codebook)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"
  override def toString: String = s"pq_encode($child, ${Rows.shape(codebook)}@$offset)"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", words, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.PqEncode.evalPq($c, $cb, $offset);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  }
  override def nullSafeEval(v: Any): Any = {
    val c = PqEncode.evalPq(v.asInstanceOf[ArrayData], words, offset)
    if (c < 0) null else c
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

object PqEncode {
  /** Static entry for generated code; -1 stands for null. */
  def evalPq(e: ArrayData, words: Array[Array[Double]], offset: Int): Int = {
    if (words.isEmpty) return -1
    val dsub = words(0).length
    if (e.numElements() < offset + dsub) return -1
    var j = 0
    while (j < dsub) {
      if (e.isNullAt(offset + j)) return -1
      j += 1
    }
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < words.length) {
      val w = words(c)
      var acc = 0.0
      j = 0
      while (j < dsub) {
        val d = e.getDouble(offset + j) - w(j)
        acc += d * d
        j += 1
      }
      if (best < 0 || SQLOrderingUtil.compareDoubles(acc, bestD) < 0) {
        best = c
        bestD = acc
      }
      c += 1
    }
    best
  }

  def pqEncode(e: Column, codebook: IndexedSeq[IndexedSeq[Double]], offset: Int): Column =
    ExprUtil.col(PqEncode(ExprUtil.expr(e), codebook, offset))
}

/** SQ8 encode: code_j = floor((x_j − mn_j)/sc_j·255 + 0.5) − 128 as a
  * signed byte, with sc_j = mx_j − mn_j and a constant dimension
  * (sc_j = 0) encoding as −128. The chain zipped `e` with the dimension
  * index, so the result has max(|e|, d) elements: past d they are null,
  * and a missing or null x_j is −128 on a constant dimension and null
  * otherwise. A code outside −128..127 (x outside its trained bounds)
  * fails, like the chain's ANSI byte cast.
  */
case class Sq8Encode(child: Expression, mn: IndexedSeq[Double], mx: IndexedSeq[Double])
    extends UnaryExpression {
  @transient private lazy val lo = mn.toArray
  @transient private lazy val sc = mn.indices.map(j => mx(j) - mn(j)).toArray
  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  override def prettyName: String = "sq8_encode"
  override def toString: String = s"sq8_encode($child, d=${mn.size})"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("sq8Min", lo, "double[]")
    val s = ctx.addReferenceObj("sq8Scale", sc, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8Encode.evalSq8($c, $m, $s)")
  }
  override def nullSafeEval(v: Any): Any = Sq8Encode.evalSq8(v.asInstanceOf[ArrayData], lo, sc)
  override protected def withNewChildInternal(c: Expression): Sq8Encode = copy(child = c)
}

object Sq8Encode {
  private def code(x: Double, mn: Double, sc: Double): Byte =
    if (sc == 0d) -128
    else {
      val v = math.floor((x - mn) / sc * 255d + 0.5d).toLong - 128L
      if (v < Byte.MinValue || v > Byte.MaxValue)
        throw new ArithmeticException(s"sq8 code $v of $x is outside TINYINT (bounds [$mn, ${mn + sc}])")
      v.toByte
    }

  def evalSq8(e: ArrayData, mn: Array[Double], sc: Array[Double]): ArrayData = {
    val n = e.numElements()
    val d = mn.length
    val codes = new Array[Byte](d)
    var clean = n == d
    var i = 0
    while (clean && i < d) {
      if (e.isNullAt(i)) clean = false
      else { codes(i) = code(e.getDouble(i), mn(i), sc(i)); i += 1 }
    }
    if (clean) UnsafeArrayData.fromPrimitiveArray(codes)
    else new GenericArrayData(Array.tabulate[Any](math.max(n, d)) { i =>
      if (i >= d) null
      else if (sc(i) == 0d) (-128).toByte
      else if (i >= n || e.isNullAt(i)) null
      else code(e.getDouble(i), mn(i), sc(i))
    })
  }

  def sq8Encode(e: Column, mn: IndexedSeq[Double], mx: IndexedSeq[Double]): Column =
    ExprUtil.col(Sq8Encode(ExprUtil.expr(e), mn, mx))
}

/** SQ8 decode: x̂_j = mn_j + (code_j + 128)/255·sc_j. As in the chain,
  * the result has max(|codes|, d) elements and a missing, null or
  * out-of-range code decodes to null.
  */
case class Sq8Decode(child: Expression, mn: IndexedSeq[Double], mx: IndexedSeq[Double])
    extends UnaryExpression {
  @transient private lazy val lo = mn.toArray
  @transient private lazy val sc = mn.indices.map(j => mx(j) - mn(j)).toArray
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "sq8_decode"
  override def toString: String = s"sq8_decode($child, d=${mn.size})"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("sq8Min", lo, "double[]")
    val s = ctx.addReferenceObj("sq8Scale", sc, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8Decode.evalDecode($c, $m, $s)")
  }
  override def nullSafeEval(v: Any): Any = Sq8Decode.evalDecode(v.asInstanceOf[ArrayData], lo, sc)
  override protected def withNewChildInternal(c: Expression): Sq8Decode = copy(child = c)
}

object Sq8Decode {
  def evalDecode(codes: ArrayData, mn: Array[Double], sc: Array[Double]): ArrayData = {
    val n = codes.numElements()
    val d = mn.length
    val out = new Array[Double](d)
    var clean = n == d
    var i = 0
    while (clean && i < d) {
      if (codes.isNullAt(i)) clean = false
      else { out(i) = mn(i) + (codes.getByte(i).toDouble + 128d) / 255d * sc(i); i += 1 }
    }
    if (clean) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](math.max(n, d)) { i =>
      if (i >= d || i >= n || codes.isNullAt(i)) null
      else mn(i) + (codes.getByte(i).toDouble + 128d) / 255d * sc(i)
    })
  }

  def sq8Decode(codes: Column, mn: IndexedSeq[Double], mx: IndexedSeq[Double]): Column =
    ExprUtil.col(Sq8Decode(ExprUtil.expr(codes), mn, mx))
}

/** Binary pack of `e[offset, offset + |thresholds|)`: the ascending fold
  * `acc·2 + bit_j` with bit_j = e_j > t_j under Spark's double ordering
  * (NaN is greatest, -0.0 equals 0.0); a missing or null element packs
  * as 0, as the chain's null comparison did. At most 62 thresholds, so
  * the result stays a non-negative BIGINT.
  */
case class BinaryPack(child: Expression, thresholds: IndexedSeq[Double], offset: Int)
    extends UnaryExpression {
  require(thresholds.size <= 62, s"BinaryPack: ${thresholds.size} bits overflow BIGINT")
  @transient private lazy val thr = thresholds.toArray
  override def dataType: DataType = LongType
  override def prettyName: String = "binary_pack"
  override def toString: String = s"binary_pack($child, ${thresholds.size}@$offset)"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("packThresholds", thr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BinaryPack.evalPack($c, $t, $offset)")
  }
  override def nullSafeEval(v: Any): Any = BinaryPack.evalPack(v.asInstanceOf[ArrayData], thr, offset)
  override protected def withNewChildInternal(c: Expression): BinaryPack = copy(child = c)
}

object BinaryPack {
  def evalPack(e: ArrayData, thr: Array[Double], offset: Int): Long = {
    val n = e.numElements()
    var acc = 0L
    var j = 0
    while (j < thr.length) {
      val i = offset + j
      val bit =
        if (i < n && !e.isNullAt(i) &&
          SQLOrderingUtil.compareDoubles(e.getDouble(i), thr(j)) > 0) 1L
        else 0L
      acc = acc * 2L + bit
      j += 1
    }
    acc
  }

  def binaryPack(e: Column, thresholds: IndexedSeq[Double], offset: Int): Column =
    ExprUtil.col(BinaryPack(ExprUtil.expr(e), thresholds, offset))
}

/** The dot product of `e` with every row of a literal matrix, in row
  * order: each element is [[DotF64]]'s ascending fold over the shorter
  * of the two arrays. As with `transform(rows, r -> dotf64(e, r))`, a
  * null `e` gives a non-null array of nulls.
  */
case class DotRows(child: Expression, rows: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {
  @transient private lazy val m = Rows.toArrays(rows)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "dot_rows"
  override def toString: String = s"dot_rows($child, ${Rows.shape(rows)})"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("dotRows", m, "double[][]")
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} =
        graft.functions.DotRows.evalRows(${c.isNull} ? null : ${c.value}, $ref);""",
      isNull = FalseLiteral)
  }
  override def eval(input: InternalRow): Any =
    DotRows.evalRows(child.eval(input).asInstanceOf[ArrayData], m)
  override protected def withNewChildInternal(c: Expression): DotRows = copy(child = c)
}

object DotRows {
  def evalRows(e: ArrayData, m: Array[Array[Double]]): ArrayData =
    if (e == null) new GenericArrayData(new Array[Any](m.length))
    else {
      val n = e.numElements()
      val out = new Array[Double](m.length)
      var r = 0
      while (r < m.length) {
        val w = m(r)
        val len = math.min(n, w.length)
        var acc = 0.0
        var i = 0
        while (i < len) {
          acc += e.getDouble(i) * w(i)
          i += 1
        }
        out(r) = acc
        r += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

  def dotRows(e: Column, rows: IndexedSeq[IndexedSeq[Double]]): Column =
    ExprUtil.col(DotRows(ExprUtil.expr(e), rows))
}
