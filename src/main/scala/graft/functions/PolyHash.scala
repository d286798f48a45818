package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Portable polynomial string hash over an array of strings, as one
  * native codegen pass (the oracle-replicable counterpart of the
  * engine-native MinHash64 — same role DotF64 plays for cosine).
  *
  * For each element g the expression returns the pair
  *   pp = fold over code points: h ← (h·31 + cp) mod 1e9+7, h₀ = 0
  *   ww = 31^numChars(g) mod 1e9+7
  * which is exactly the value pair the HOF formulation
  * `aggregate(transform(sequence(1, length(g)), i ->
  * ascii(substring(g, i, 1))), 0, (h, c) -> (h*31 + c) % 1000000007)`
  * (and its 31^len twin) computes — ascii(substring(g, i, 1)) is the
  * i-th CODE POINT, so the loop below steps by Character.charCount.
  * Any seeded variant then follows in O(1) per seed:
  * h_seed = (seed·ww + pp) mod M. DuckDB's list_reduce fold over BIGINT
  * matches bit-for-bit (pure integer arithmetic), so every query built
  * on this expression keeps its full oracle row.
  *
  * Null array → null; elements are assumed non-null (shingles are
  * concat_ws products, never null).
  */
case class PolyHash31(child: Expression) extends UnaryExpression {
  override def dataType: DataType = PolyHash31.outType
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    // static helper is NOT named `eval` (static-forwarder collision with
    // Expression.eval breaks codegen silently — see MinHash64)
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash31.hashAll($c)")
  override def nullSafeEval(a: Any): Any =
    PolyHash31.hashAll(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): PolyHash31 =
    copy(child = newChild)
}

object PolyHash31 {
  val M = 1000000007L
  val outType: StructType = StructType(Seq(
    StructField("pp", ArrayType(LongType, containsNull = false)),
    StructField("ww", ArrayType(LongType, containsNull = false))))

  def hashAll(arr: ArrayData): GenericInternalRow = {
    val n = arr.numElements()
    val pp = new Array[Long](n)
    val ww = new Array[Long](n)
    var i = 0
    while (i < n) {
      val str = arr.getUTF8String(i).toString
      var h = 0L
      var w = 1L
      var j = 0
      while (j < str.length) {
        val cp = str.codePointAt(j)
        h = (h * 31 + cp) % M
        w = (w * 31) % M
        j += Character.charCount(cp)
      }
      pp(i) = h
      ww(i) = w
      i += 1
    }
    new GenericInternalRow(
      Array[Any](new GenericArrayData(pp), new GenericArrayData(ww)))
  }

  def polyhash31(a: Column): Column =
    ExprUtil.col(PolyHash31(ExprUtil.expr(a)))

  private val step = s"(h, c) -> (h * 31 + c) % $M"

  /** DuckDB twin of one `pp` element: the code point fold of the SQL
    * string expression `t`. Pure BIGINT arithmetic, so the value is
    * [[hashAll]]'s bit for bit.
    */
  def foldSql(t: String): String =
    s"""list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(1, length($t) + 1),
       |                         i -> CAST(ascii(substring($t, i, 1)) AS BIGINT))),
       |        $step)""".stripMargin

  /** The same fold as a Spark higher-order `aggregate` over the string
    * column named `t`: interpreted, where `polyhash31(array(t))` gives
    * the same `pp` in generated code.
    */
  def foldLambda(t: String): Column = expr(
    s"aggregate(transform(sequence(1, length($t)), i -> ascii(substring($t, i, 1))), " +
      s"CAST(0 AS BIGINT), $step)")
}
