package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** minhash64 (reference `cpp/include/nvtext/minhash.hpp:119`,
  * `minhash_ngrams` :166): k-permutation MinHash signature of a string
  * set, one pass per row.
  *
  * Each element is hashed ONCE (Spark's XXH64 over its UTF-8 bytes,
  * seed 42); the k permutations derive from that base hash by a
  * golden-ratio XOR + finalizer mix — O(n + n·k_cheap) instead of k full
  * re-hashes, and no intermediate arrays (the composed
  * `transform`/`array_min` formulation allocates k arrays per row).
  */
case class MinHash64(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash64.evalMinhash($c, $k)")
  override def nullSafeEval(v: Any): Any =
    MinHash64.evalMinhash(v.asInstanceOf[ArrayData], k)
  override protected def withNewChildInternal(c: Expression): MinHash64 =
    copy(child = c)
}

object MinHash64 {
  /** Static entry for generated code. NOTE: must NOT be named `eval` —
    * that collides with the inherited `Expression.eval(InternalRow)`, so
    * scalac skips the static forwarder and Janino can't resolve the call
    * (silent interpreted fallback).
    */
  def evalMinhash(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val base = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < k) {
          val h = mix(base ^ (j * 0x9e3779b97f4a7c15L))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** xxhash-style avalanche finalizer (public xxHash spec). */
  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  def minhash64(c: Column, k: Int): Column =
    ExprUtil.col(MinHash64(ExprUtil.expr(c), k))
}
