package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Aggregates, Ann, Conversions, Curation, CustomExprs, Extras, Functions, GraphOps, LlmOps, Ndsh, PipelineOps, Relational, Reshape, Retrieval, StreamingGate, TextOps, UdfSurface, Windows}

/** The entry-point contract — see SURVEY.md §7.
  *
  * The one query catalogue: every query module's registry, built once.
  * Each module contributes `Map[String, Q]` where a [[Q]] pairs the Spark
  * implementation with the DuckDB-oracle SQL (when SQL-expressible) and
  * the [[Tag]]s that say which harnesses run it.
  */
object SparkEntry {

  /** All declared operator queries, keyed by SURVEY §2 inventory name. */
  lazy val registry: Map[String, Q] =
    Ndsh.queries ++ Relational.queries ++ Aggregates.queries ++
      Windows.queries ++ Functions.queries ++ TextOps.queries ++
      LlmOps.queries ++ Ann.queries ++ CustomExprs.queries ++ Conversions.queries ++
      UdfSurface.queries ++ Extras.queries ++ Reshape.queries ++
      GraphOps.queries ++ Curation.queries ++ Retrieval.queries ++
      PipelineOps.queries ++ StreamingGate.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Ndsh.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql), _)) => k -> sql }

  /** The rows tagged `tag`, in name order. */
  def tagged(tag: Tag): Seq[String] =
    registry.collect { case (k, q) if q.tags(tag) => k }.toSeq.sorted

  /** The harness mains' row filter: `SPARK_GRAFT_ONLY=q1,q2`. */
  def only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")

  /** `rows` cut to the comma-separated names of `only`, in `rows`' order;
    * unset, all of them. Every name must be one of `rows`: a stray one
    * fails here, naming itself, instead of leaving a run that measures
    * nothing.
    */
  def restrict(rows: Seq[String], only: Option[String]): Seq[String] =
    only.fold(rows) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(names.nonEmpty, s"empty row filter '$list'")
      val stray = names.filterNot(rows.contains).map(n =>
        if (registry.contains(n)) s"$n (not one of this harness's rows)" else s"$n (unknown query)")
      require(stray.isEmpty, s"row filter names ${stray.mkString(", ")}")
      rows.filter(names.contains)
    }
}
