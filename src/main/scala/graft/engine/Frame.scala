package graft.engine

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Thin cudf/pandas-flavored façade over DataFrame (SURVEY §7.1
  * `engine/Frame.scala`) — the migration surface for a reference user:
  * familiar verbs (`merge`, `query`, `assign`, `dropDuplicates` with
  * keep, `fillna`/`ffill`, `rolling`, `resample`, `valueCounts`,
  * `nlargest`, `explode`, `melt`, `pivot`, `getDummies`, `cut`) that
  * each lower to the idiomatic Catalyst plan (nothing eager, no driver
  * state; every method returns a lazy Frame).
  *
  * Reference API being mirrored: `python/cudf/cudf/core/dataframe.py`
  * (merge :4100s, query, assign, drop_duplicates, fillna, nlargest),
  * `core/window/rolling.py:49`, `core/resample.py:37`,
  * `core/reshape.py:547,721,1061`, `core/cut.py:16`.
  */
final case class Frame(df: DataFrame) {

  // --- projection / filter -------------------------------------------
  def select(cols: String*): Frame = Frame(df.select(cols.map(col): _*))
  def query(cond: String): Frame = Frame(df.filter(expr(cond)))
  def filter(c: Column): Frame = Frame(df.filter(c))
  def assign(name: String, c: Column): Frame = Frame(df.withColumn(name, c))
  def drop(cols: String*): Frame = Frame(df.drop(cols: _*))
  def rename(from: String, to: String): Frame =
    Frame(df.withColumnRenamed(from, to))
  def head(n: Int): Frame = Frame(df.limit(n))

  // --- joins ----------------------------------------------------------
  /** pandas/cudf merge: how ∈ inner/left/right/outer/cross/semi/anti. */
  def merge(other: Frame, on: Seq[String], how: String = "inner"): Frame = {
    val mapped = how match {
      case "outer" => "full"
      case "semi" => "left_semi"
      case "anti" => "left_anti"
      case h => h
    }
    if (mapped == "cross") Frame(df.crossJoin(other.df))
    else Frame(df.join(other.df, on, mapped))
  }

  /** pandas/cudf update (dataframe.py:2671): non-null cells of `other`
    * overwrite this frame's cells, matched on the `on` key columns; rows
    * and columns of this frame are preserved (no inserts — see the
    * `merge_upsert` query for insert-or-update). Lowers to one left
    * join + per-column coalesce, so the left side never shuffles when
    * `other` broadcasts.
    */
  def update(other: Frame, on: Seq[String]): Frame = {
    val updCols = other.df.columns.filterNot(on.contains)
      .filter(df.columns.contains)
    val renamed = updCols.foldLeft(other.df.select((on ++ updCols).map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"__upd_$c")
    }
    val joined = df.join(renamed, on, "left")
    val out = df.columns.map { c =>
      if (updCols.contains(c)) coalesce(col(s"__upd_$c"), df(c)).as(c)
      else df(c)
    }
    Frame(joined.select(out.toIndexedSeq: _*))
  }

  // --- dedup ----------------------------------------------------------
  /** drop_duplicates with cudf keep semantics (ANY/FIRST/LAST/NONE,
    * stream_compaction.hpp:223); FIRST/LAST need an explicit order.
    */
  def dropDuplicates(subset: Seq[String], keep: String = "any",
      orderBy: Seq[Column] = Nil): Frame = keep match {
    case "any" => Frame(df.dropDuplicates(subset))
    case "first" | "last" =>
      require(orderBy.nonEmpty, "keep=first/last needs an ordering")
      val ord = if (keep == "first") orderBy else orderBy.map(_.desc)
      val w = Window.partitionBy(subset.map(col): _*).orderBy(ord: _*)
      Frame(df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    case "none" =>
      val w = Window.partitionBy(subset.map(col): _*)
      Frame(df.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") === 1).drop("__n"))
  }

  // --- nulls ----------------------------------------------------------
  def fillna(value: Any, cols: Seq[String] = Nil): Frame = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    Frame(value match {
      case d: Double => df.na.fill(d, target)
      case l: Long => df.na.fill(l, target)
      case s: String => df.na.fill(s, target)
      case other => df.na.fill(Map(target.map(_ -> other): _*))
    })
  }

  def dropna(minNonNulls: Int, cols: Seq[String]): Frame =
    Frame(df.na.drop(minNonNulls, cols))

  /** group-wise forward fill (groupby.hpp:373 replace_nulls FORWARD). */
  def ffill(valueCol: String, partitionBy: Seq[String], orderBy: Seq[Column]): Frame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    Frame(df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w)))
  }

  // --- aggregation helpers -------------------------------------------
  def groupby(keys: String*): GroupedFrame = GroupedFrame(df, keys)

  def valueCounts(c: String): Frame =
    Frame(df.groupBy(col(c)).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(c)))

  def nlargest(n: Int, c: String, tiebreak: Seq[String] = Nil): Frame =
    Frame(df.orderBy((col(c).desc +: tiebreak.map(col(_).asc)): _*).limit(n))

  def nsmallest(n: Int, c: String, tiebreak: Seq[String] = Nil): Frame =
    Frame(df.orderBy((col(c).asc +: tiebreak.map(col(_).asc)): _*).limit(n))

  // --- reshape --------------------------------------------------------
  def explodeCol(c: String, out: String): Frame =
    Frame(df.withColumn(out, explode(col(c))).drop(c))

  def melt(ids: Seq[String], values: Seq[String]): Frame =
    Frame(df.unpivot(ids.map(col).toArray, values.map(col).toArray,
      "variable", "value"))

  def pivot(key: String, pivotCol: String, values: Seq[String], agg: Column): Frame =
    Frame(df.groupBy(col(key)).pivot(pivotCol, values).agg(agg))

  def getDummies(c: String, values: Seq[String]): Frame =
    Frame(values.foldLeft(df)((d, v) =>
      d.withColumn(s"${c}_$v", (col(c) === v).cast(IntegerType))))

  def cut(c: String, lo: Double, hi: Double, bins: Int, out: String): Frame =
    Frame(df.withColumn(out,
      least(greatest(floor((col(c) - lo) / ((hi - lo) / bins)).cast(IntegerType),
        lit(0)), lit(bins - 1))))

  /** qcut (equal-frequency quantile binning) in the rank-based
    * formulation: ntile over a total order — see `qcut_bins` for why
    * rank-based beats value-boundary comparison cross-engine. 1-based
    * bins like ntile; subtract 1 for pandas' 0-based codes.
    */
  def qcut(c: String, bins: Int, partitionBy: Seq[String],
      tiebreak: Seq[String], out: String): Frame = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy((c +: tiebreak).map(col): _*)
    Frame(df.withColumn(out, ntile(bins).over(w)))
  }

  /** pandas merge_asof: nearest/backward/forward reference row per
    * probe row ([[graft.operators.AsOf]]). `direction` ∈
    * {"backward", "forward"}.
    */
  def mergeAsof(ref: Frame, key: String, ts: String, value: String,
      direction: String = "backward"): Frame = direction match {
    case "backward" =>
      Frame(graft.operators.AsOf.joinAsOf(df, ref.df, key, ts, value))
    case "forward" =>
      Frame(graft.operators.AsOf.joinAsOfForward(df, ref.df, key, ts, value))
    case other =>
      throw new IllegalArgumentException(
        s"merge_asof direction must be backward|forward, got '$other'")
  }

  // --- windows --------------------------------------------------------
  /** rolling(window=n, min_periods) aggregate per group, ordered. */
  def rolling(n: Int, minPeriods: Int, valueCol: String,
      partitionBy: Seq[String], orderBy: Seq[Column],
      aggFn: Column => Column, out: String): Frame = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(orderBy: _*).rowsBetween(-(n - 1), 0)
    val cnt = count(lit(1)).over(w)
    Frame(df.withColumn(out,
      when(cnt >= minPeriods, aggFn(col(valueCol)).over(w))))
  }

  /** resample into fixed time buckets (core/resample.py). */
  def resample(tsCol: String, seconds: Long): GroupedFrame = {
    val bucketed = df.withColumn("__bucket",
      expr(s"unix_micros($tsCol) div ${seconds * 1000000L}") * seconds)
    GroupedFrame(bucketed, Seq("__bucket"))
  }

  // --- elementwise / reshape verbs (round-3 widening) ----------------
  /** pandas sort_values with na_position (cudf sorting null_order). */
  def sortValues(cols: Seq[String], ascending: Boolean = true,
      naPosition: String = "last"): Frame = {
    val ord = cols.map(col).map {
      (ascending, naPosition) match {
        case (true, "last") => (c: Column) => c.asc_nulls_last
        case (true, _) => (c: Column) => c.asc_nulls_first
        case (false, "last") => (c: Column) => c.desc_nulls_last
        case (false, _) => (c: Column) => c.desc_nulls_first
      }
    }
    Frame(df.orderBy(ord: _*))
  }

  /** pandas astype — one cast, Spark semantics (ANSI errors on bad). */
  def astype(c: String, to: DataType): Frame =
    Frame(df.withColumn(c, col(c).cast(to)))

  /** Series.clip(lower, upper). */
  def clip(c: String, lo: Double, hi: Double, out: String): Frame =
    Frame(df.withColumn(out, least(greatest(col(c), lit(lo)), lit(hi))))

  /** Series.replace(dict): swap listed values, keep everything else
    * (cudf `indexed_frame.replace`, libcudf `replace.hpp`
    * find_and_replace_all). A literal when-chain — whole-stage codegen,
    * no broadcast — is the right shape for the small dicts this API
    * takes; a table-sized mapping should be a broadcast left join +
    * coalesce instead (see `merge`).
    */
  def replaceValues(c: String, mapping: Seq[(Any, Any)]): Frame = {
    val swapped = mapping.foldLeft(col(c)) { case (acc, (k, v)) =>
      when(col(c) === lit(k), lit(v)).otherwise(acc)
    }
    Frame(df.withColumn(c, swapped))
  }

  /** Series.map(dict): lookup with NULL for unmatched keys (pandas
    * semantics — unlike replace, misses do NOT pass through).
    */
  def mapDict(c: String, mapping: Seq[(Any, Any)], out: String): Frame = {
    require(mapping.nonEmpty, "mapDict needs at least one pair")
    val first = when(col(c) === lit(mapping.head._1), lit(mapping.head._2))
    val chained = mapping.tail.foldLeft(first) { case (acc, (k, v)) =>
      acc.when(col(c) === lit(k), lit(v))
    }
    Frame(df.withColumn(out, chained))
  }

  /** DataFrame.mask: replace where cond holds (cudf copy_if_else dual). */
  def mask(c: String, cond: Column, value: Column): Frame =
    Frame(df.withColumn(c, when(cond, value).otherwise(col(c))))

  /** DataFrame.where: keep where cond holds, else replace. */
  def where(c: String, cond: Column, value: Column): Frame =
    Frame(df.withColumn(c, when(cond, col(c)).otherwise(value)))

  /** pandas duplicated(keep='first') as a boolean column — true for
    * every row after the first of its key group under `orderBy`.
    */
  def duplicated(subset: Seq[String], orderBy: Seq[Column], out: String): Frame = {
    val w = Window.partitionBy(subset.map(col): _*).orderBy(orderBy: _*)
    Frame(df.withColumn(out, row_number().over(w) > 1))
  }

  /** Series.rank(method ∈ min/dense/first/average, pct) per group.
    * `first` requires the ordering to be total (caller supplies
    * tiebreakers), mirroring pandas' positional semantics.
    */
  def rank(c: String, partitionBy: Seq[String], method: String = "min",
      out: String = "rank"): Frame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(col(c))
    val sqlRank = org.apache.spark.sql.functions.rank _
    val r = method match {
      case "min" => sqlRank().over(w).cast(DoubleType)
      case "dense" => dense_rank().over(w).cast(DoubleType)
      case "first" => row_number().over(w).cast(DoubleType)
      case "average" =>
        // average of positions in the peer group = rank + (peers-1)/2
        val peers = count(lit(1)).over(
          Window.partitionBy((partitionBy :+ c).map(col): _*))
        sqlRank().over(w) + (peers - lit(1)) / lit(2.0)
      case m => throw new IllegalArgumentException(s"rank method $m")
    }
    Frame(df.withColumn(out, r))
  }

  /** Series.shift(n) within groups (cudf copying.hpp shift). */
  def shift(c: String, n: Int, partitionBy: Seq[String],
      orderBy: Seq[Column], out: String): Frame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    Frame(df.withColumn(out, lag(col(c), n).over(w)))
  }

  /** Series.diff: x - x.shift(1) within groups. */
  def diff(c: String, partitionBy: Seq[String], orderBy: Seq[Column],
      out: String): Frame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    Frame(df.withColumn(out, col(c) - lag(col(c), 1).over(w)))
  }

  /** DataFrame.sample(frac, seed) — Bernoulli, deterministic per seed. */
  def sample(frac: Double, seed: Long): Frame = Frame(df.sample(frac, seed))

  /** DataFrame.describe() — count/mean/stddev/min/max summary. */
  def describe(cols: String*): Frame = Frame(df.describe(cols: _*))

  /** Cluster rows along the Morton curve of `cols` into `numFiles`
    * write partitions (the Delta/Iceberg OPTIMIZE ZORDER layout shape);
    * writing the result yields parquet whose min/max stats prune on
    * EVERY clustered column. See [[graft.operators.ZOrder]].
    */
  def zorderBy(cols: Seq[String], numFiles: Int): Frame =
    Frame(graft.operators.ZOrder.clusterByZ(df, cols, numFiles))

  // --- text namespace (nvtext ops) -----------------------------------
  def strSwapcase(c: String, out: String): Frame =
    Frame(df.withColumn(out, GraftFunctions.swapcase(col(c))))
  def tokenize(c: String, out: String): Frame =
    Frame(df.withColumn(out, split(col(c), "\\s+")))
}

final case class GroupedFrame(df: DataFrame, keys: Seq[String]) {
  def agg(exprs: (String, Column)*): Frame =
    Frame(df.groupBy(keys.map(col): _*)
      .agg(exprs.head._2.as(exprs.head._1),
        exprs.tail.map { case (n, c) => c.as(n) }: _*))
  def size(): Frame =
    Frame(df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("size")))

  /** pandas groupby().transform(): broadcast a per-group aggregate back
    * onto every row, keeping the frame's cardinality. Lowers to an
    * unordered partitioned window — one shuffle on the keys, no join
    * back (the aggregate+join formulation shuffles twice).
    */
  def transformAgg(aggExpr: Column, out: String): Frame =
    Frame(df.withColumn(out,
      aggExpr.over(Window.partitionBy(keys.map(col): _*))))
}

object Frame {
  def readParquet(spark: SparkSession, path: String): Frame =
    Frame(spark.read.parquet(path))
  def readCsv(spark: SparkSession, path: String, header: Boolean = true): Frame =
    Frame(spark.read.option("header", header.toString)
      .option("inferSchema", "true").csv(path))
  def readJson(spark: SparkSession, path: String): Frame =
    Frame(spark.read.json(path))
}
