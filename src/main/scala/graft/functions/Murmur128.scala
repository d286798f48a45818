package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** murmur3_x64_128 (reference `cpp/include/cudf/hashing.hpp:79`):
  * 128-bit MurmurHash3 over the string's UTF-8 bytes, returned as
  * `array<bigint>` [h1, h2]. Algorithm per the public MurmurHash3 spec
  * (Austin Appleby, public domain); cross-checked against independent
  * implementation vectors in ExpressionsSpec.
  */
case class Murmur3x64_128(child: Expression, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Murmur3x64_128.evalHash(v.asInstanceOf[UTF8String], seed)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Murmur3x64_128.evalHash($c, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Murmur3x64_128 =
    copy(child = c)
}

object Murmur3x64_128 {
  /** Static entry for generated code (not `eval` — that name collides
    * with `Expression.eval(InternalRow)` and kills the static forwarder). */
  def evalHash(u: UTF8String, seed: Long): ArrayData = {
    val (h1, h2) = hash(u.getBytes, seed)
    ArrayData.toArrayData(Array(h1, h2))
  }

  private val C1 = 0x87c37b91114253d5L
  private val C2 = 0x4cf5ad432745937fL

  def hash(data: Array[Byte], seed: Long): (Long, Long) = {
    val len = data.length
    var h1 = seed
    var h2 = seed
    val nblocks = len / 16
    var i = 0
    while (i < nblocks) {
      var k1 = getLong(data, i * 16)
      var k2 = getLong(data, i * 16 + 8)
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val base = nblocks * 16
    val tl = len - base
    var k1 = 0L
    var k2 = 0L
    var j = tl - 1
    while (j >= 8) { k2 = (k2 << 8) | (data(base + j) & 0xffL); j -= 1 }
    j = math.min(tl, 8) - 1
    while (j >= 0) { k1 = (k1 << 8) | (data(base + j) & 0xffL); j -= 1 }
    if (tl > 8) {
      k2 *= C2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
    }
    if (tl > 0) {
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix(h1); h2 = fmix(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  private def getLong(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)
}
