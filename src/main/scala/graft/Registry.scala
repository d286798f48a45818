package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A declared operator query: the Spark implementation plus (when
  * SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.
  *
  * The driver hash-compares the Spark result against DuckDB on the same
  * parquet tables, sorting rows canonically and matching columns BY NAME —
  * every computed column must carry the same alias on both sides.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String]
)

object Q {
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): Q =
    Q(fn, Some(sql))
}

/** Helpers shared by query modules.
  *
  * Exact-aggregation policy: double sums are order-dependent in the last
  * few ulps, and the driver compares by hash. Routing sums through a
  * decimal cast (`cast(sum(cast(x as decimal(p,s))) as double)`) makes the
  * aggregate order-independent and bit-identical between Spark and DuckDB,
  * while keeping the output schema DOUBLE. Derived stats (avg/var/corr)
  * are then computed in double arithmetic from those exact pieces with the
  * same formula on both sides.
  */
object Agg {
  /** CROSS-PLATFORM ENVELOPE for the floored-ln convention (used by
    * text_zipf_ols, text_collocation_pmi, text_lm_score and the PMI/LM
    * families): `floor(ln(x) * 1e6)` assumes java.lang.Math.log (Spark)
    * and DuckDB's libm `ln` agree on the double BEFORE the floor. Neither
    * is guaranteed correctly rounded by its spec, so a 1-ulp platform
    * difference adjacent to a floor boundary could flip the micro-unit
    * integer. In practice both route to the same correctly-rounded
    * algorithms on this platform (fdlibm-descended), and the gate runs
    * Spark and DuckDB on the SAME host/libm, so the convention is exact
    * here; porting the oracle gate to a different libm may require
    * comparing ln-derived integer columns at a ±1 micro-unit tolerance
    * (values exactly ON a boundary are measure-zero but not impossible).
    * Integer-input lns (ln(count), ln(rank)) hit identical doubles by
    * construction, so only double-argument lns carry this caveat.
    */

  /** Exact, order-independent sum of a double column, fixed-point at
    * `scale` decimals; result as double.
    *
    * `floor(x * 10^scale)` is computed in IEEE double arithmetic, which is
    * bit-identical across engines (unlike double→decimal casts, whose
    * rounding of shortest-representation ties differs between Spark and
    * DuckDB). The integer parts are summed exactly as longs.
    */
  def dsum(c: Column, scale: Int = 4): Column = {
    val p = math.pow(10, scale)
    (sum(floor(c * lit(p))).cast(DoubleType) / lit(p))
  }

  /** SQL mirror of [[dsum]] for the DuckDB oracle. */
  def dsumSql(e: String, scale: Int = 4): String = {
    val p = s"1e$scale"
    s"(CAST(sum(CAST(floor(($e) * $p) AS BIGINT)) AS DOUBLE) / $p)"
  }

  /** Exact mean: exact sum divided by exact count, one IEEE division. */
  def davg(c: Column, scale: Int = 4): Column = dsum(c, scale) / count(c)
  def davgSql(e: String, scale: Int = 4): String =
    s"(${dsumSql(e, scale)} / count($e))"
}

/** Canonical scalar encoding of array columns for the oracle gate.
  *
  * The driver's pandas canonical sort cannot handle list-typed cells, so
  * every oracle-compared query projects arrays through a '|'-joined string.
  * The encoding is LOSSLESS: elements are cast to string, '|' inside an
  * element is escaped as '\|', and a NULL element becomes the NUL-char
  * sentinel — so ['a|b'] vs ['a','b'] and ['a',NULL] vs ['a'] encode
  * differently. Cross-engine contract (verified against DuckDB 1.0):
  *   - NULL array → NULL string on both sides;
  *   - empty array → '' (DuckDB's array_to_string yields NULL there, hence
  *     the coalesce inside the non-null branch);
  *   - double elements NEVER go through engine string repr (Spark "1.5"
  *     vs DuckDB "1.50") — encode them fixed-point via [[ArrCanon.fixArr]]
  *     first; bigint/boolean/string casts are identical across engines.
  */
object ArrCanon {
  /** Spark side: array<string|int|bool> → canonical '|'-joined string. */
  def joined(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(
      concat_ws("|",
        transform(c, x =>
          coalesce(replace(x.cast(StringType), lit("|"), lit("\\|")),
            lit("\u0001")))))

  /** [[joined]] for an integer array, without the lambda: an integer's
    * string form never contains '|', so only a null element needs the
    * sentinel, which is `array_join`'s null replacement.
    */
  def joinedInts(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(
      array_join(c.cast(ArrayType(StringType)), "|", "\u0001"))

  /** DuckDB side mirror of [[joined]]. */
  def joinedSql(e: String): String =
    s"""CASE WHEN ($e) IS NULL THEN NULL ELSE coalesce(array_to_string(
       |list_transform(($e), x -> coalesce(replace(CAST(x AS VARCHAR), '|', '\\|'), chr(1))),
       |'|'), '') END""".stripMargin.replace("\n", " ")

  /** Spark side: array<double> → array<bigint> fixed-point at `scale`
    * decimals (floor in IEEE double: bit-identical across engines).
    */
  def fixArr(c: Column, scale: Int = 4): Column = {
    val p = math.pow(10, scale)
    transform(c, x => floor(x * lit(p)).cast(LongType))
  }

  /** DuckDB mirror of [[fixArr]]. */
  def fixArrSql(e: String, scale: Int = 4): String =
    s"list_transform(($e), x -> CAST(floor(x * 1e$scale) AS BIGINT))"
}

/** Scan-shape helpers. */
object Scans {
  /** Fan a NARROW scan out to the session's parallelism before an
    * expensive per-row map (shingle/minhash folds, tokenization): the
    * sf-scale parquet inputs hold ONE row group per file, so every
    * first-pass map otherwise runs in a single task (stage profile:
    * 600 ms of shingle hashing on 1 of 32 cores). Scale-adaptive, not a
    * constant: a scan that already splits into at least half the
    * default parallelism is returned untouched, so at production scale
    * (thousands of input splits) this is a no-op and no exchange is
    * added. Round-robin repartition is deterministic under retry
    * (sortBeforeRepartition, SPARK-23207) and the downstream consumers
    * are per-row maps + key aggregates, so values are unchanged.
    * It loses on kernels whose map work is cheap or whose subtree
    * computes multiple times (each copy re-paying the exchange); it pays
    * exactly where a heavy map feeds ONE (usually checkpointed)
    * materialization, which is what every call site does.
    *
    * The partition count is read from the plan, never by running it: a
    * frame with an exchange (its own or inside a cached relation it
    * reads) already has the session's shuffle partitions, and only an
    * exchange-free frame asks its RDD, which then runs no job. (With
    * AQE on, `.rdd` of an exchange-bearing frame runs its shuffle stages
    * in jobs of their own, which the caller's query then runs again.)
    */
  def fanOut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val target = s.sparkContext.defaultParallelism
    val parts =
      if (hasExchange(df.queryExecution.executedPlan))
        s.sessionState.conf.numShufflePartitions
      else df.rdd.getNumPartitions
    if (parts * 2 <= target) df.repartition(target) else df
  }

  private def hasExchange(plan: SparkPlan): Boolean = plan.exists {
    case _: Exchange | _: QueryStageExec => true
    case a: AdaptiveSparkPlanExec => hasExchange(a.executedPlan)
    case m: InMemoryTableScanExec => hasExchange(m.relation.cachedPlan)
    case _ => false
  }
}

object Tables {
  // Reader memo: a fresh `spark.read.parquet` lists files and runs a
  // schema job per table reference (~25-35 ms of driver and job floor);
  // the cached relation holds listing and schema only — every action
  // still scans the data. Keyed on the session, so a fresh session never
  // sees another session's plan.
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    DimCache.cached(("parquet", spark, dir, name)) {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  /** `events.ts` arrives in two snapshot formats across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (readable by Spark 4 only as
    * a long via the legacy flag — truncate ns → µs) or TIMESTAMP(MICROS,
    * NTZ) (read natively as TIMESTAMP_NTZ). Normalize BOTH to
    * TimestampType µs — the engine's declared timestamp contract
    * (SURVEY §1.2: TIMESTAMP_NANOSECONDS → TimestampType(µs)); the NTZ
    * cast re-interprets the wall clock in the session's UTC zone, i.e.
    * the same instants the ns-truncation path produced.
    */
  def events(s: SparkSession, d: String): DataFrame =
    // the NORMALIZED frame, so the ts-branch inspection also runs once
    DimCache.cached(("events", s, d)) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = table(s, d, "events")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _        => df.withColumn("ts", col("ts").cast(TimestampType))
      }
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
