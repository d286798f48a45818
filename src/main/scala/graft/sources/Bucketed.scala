package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed table layout — the write-side half of exchange-free joins.
  *
  * At 100 TB the dominant cost of a repeated big⋈big join (lineitem ⋈
  * orders on orderkey, events ⋈ events on user_id, …) is re-shuffling
  * both sides on every query. Writing both tables bucketed (and
  * bucket-sorted) on the join key moves that shuffle to write time,
  * once: Spark records the bucketing in the catalog, scans report
  * hash-partitioned output, and a sort-merge join over two tables with
  * matching bucket counts plans with ZERO Exchange operators —
  * `BucketedJoinSpec` pins exactly that plan property.
  *
  * This is the Spark-native equivalent of the reference's
  * `partition`/`repartition` family (`cpp/include/cudf/partitioning.hpp`)
  * applied persistently at the storage layer.
  */
object Bucketed {

  /** Write `df` as a bucketed, bucket-sorted table registered in the
    * session catalog as an external table whose files live at `path`.
    * `buckets` should be sized so each bucket's data per file fits an
    * executor's memory comfortably (at 100 TB with 1000 executors:
    * thousands of buckets, not dozens).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
      path: String): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .saveAsTable(table)
}
