package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — for each probe row, the most recent
  * reference row with `ref.ts <= probe.ts` in the same key group.
  * (A prompt-listed custom operator; the reference library itself has
  * no as-of join, so this is engine surface beyond parity. DuckDB's
  * native ASOF JOIN serves as the oracle.)
  *
  * Implementation is the UNION + WINDOW formulation, not a range join:
  * tag reference rows 0 and probe rows 1, union, then one partitioned
  * window ordered by (ts, tag) takes `last(ref value, ignoreNulls)` up
  * to the current row. One shuffle on the key, O(n log n) sort within
  * partitions, zero row blow-up — the 100 TB shape (a range-condition
  * join would explode candidates per probe row; a per-probe subquery
  * would be quadratic).
  *
  * Ties: PRECONDITION — `ref` should be unique per (key, ts)
  * (pre-aggregate if needed), the standard as-of determinism
  * requirement; all in-repo callers satisfy it. If it is violated, the
  * pick among tied reference rows is still DETERMINISTIC (not
  * plan-dependent): the window ordering carries the value as a final
  * tiebreak, so the backward join resolves ties to the GREATEST value
  * and the forward join to the LEAST. Probe rows tied on (key, ts) are
  * always safe: their window result depends only on reference rows.
  * `ref.ts == probe.ts` matches (<= semantics), because tag 0 sorts
  * before tag 1.
  */
object AsOf {

  /** probe(keyCol, tsCol, …) ⟕asof ref(keyCol, tsCol, valCol) →
    * probe columns + `asof_<valCol>` + `asof_ts` (null when no
    * reference row precedes the probe row).
    */
  def joinAsOf(probe: DataFrame, ref: DataFrame, keyCol: String,
      tsCol: String, valCol: String): DataFrame = {
    val probeCols = probe.columns.toSeq
    val p = probe
      .withColumn("__v", lit(null).cast(ref.schema(valCol).dataType))
      .withColumn("__tag", lit(1))
    val r0 = ref.select(
      Seq(col(keyCol), col(tsCol), col(valCol).as("__v"), lit(0).as("__tag")) ++
        probeCols.filterNot(Set(keyCol, tsCol)).map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val unioned = p.select((probeCols.map(col) ++ Seq(col("__v"), col("__tag"))): _*)
      .unionByName(r0.select((probeCols.map(col) ++ Seq(col("__v"), col("__tag"))): _*))
    // __v as final sort key: duplicate-(key, ts) reference rows (a
    // precondition violation) resolve deterministically — last() picks
    // the greatest value — instead of by physical row order.
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__tag"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn(s"asof_$valCol",
        last(when(col("__tag") === 0, col("__v")), ignoreNulls = true).over(w))
      .withColumn("asof_ts",
        last(when(col("__tag") === 0, col(tsCol)), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__v", "__tag")
  }

  /** Tolerance-bounded backward as-of (pandas
    * `merge_asof(..., tolerance=...)`): like [[joinAsOf]] but a match
    * older than `tolUs` microseconds is rejected — both the value and
    * the matched timestamp null out, exactly pandas' contract. A pure
    * post-map over the windowed join: the tolerance adds no shuffle,
    * no extra scan, and no new exactness argument (one integer
    * timestamp comparison).
    */
  def joinAsOfTolerance(probe: DataFrame, ref: DataFrame, keyCol: String,
      tsCol: String, valCol: String, tolUs: Long): DataFrame = {
    val joined = joinAsOf(probe, ref, keyCol, tsCol, valCol)
    val ok = unix_micros(col(tsCol)) - unix_micros(col("asof_ts")) <= tolUs
    joined
      .withColumn(s"asof_$valCol", when(ok, col(s"asof_$valCol")))
      .withColumn("asof_ts", when(ok, col("asof_ts")))
  }

  /** Forward as-of (pandas merge_asof direction='forward'): for each
    * probe row, the EARLIEST reference row with `ref.ts >= probe.ts` in
    * the key group. Same union+window shape and cost as the backward
    * join, frame reversed: reference rows tag 2 so a same-ts reference
    * sorts AFTER the probe row and lands in the [current, following]
    * frame (>= matches at equality). Output columns `asof_fwd_<valCol>`
    * and `asof_fwd_ts`.
    */
  def joinAsOfForward(probe: DataFrame, ref: DataFrame, keyCol: String,
      tsCol: String, valCol: String): DataFrame = {
    val probeCols = probe.columns.toSeq
    val p = probe
      .withColumn("__v", lit(null).cast(ref.schema(valCol).dataType))
      .withColumn("__tag", lit(1))
    val r0 = ref.select(
      Seq(col(keyCol), col(tsCol), col(valCol).as("__v"), lit(2).as("__tag")) ++
        probeCols.filterNot(Set(keyCol, tsCol)).map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val unioned = p.select((probeCols.map(col) ++ Seq(col("__v"), col("__tag"))): _*)
      .unionByName(r0.select((probeCols.map(col) ++ Seq(col("__v"), col("__tag"))): _*))
    // __v tiebreak mirrors the backward join: first() among tied tag-2
    // rows picks the least value, deterministically.
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__tag"), col("__v"))
      .rowsBetween(0, Window.unboundedFollowing)
    unioned
      .withColumn(s"asof_fwd_$valCol",
        first(when(col("__tag") === 2, col("__v")), ignoreNulls = true).over(w))
      .withColumn("asof_fwd_ts",
        first(when(col("__tag") === 2, col(tsCol)), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__v", "__tag")
  }
}
