package graft.queries

import graft.{Q, Tables}
import graft.operators.{Dedup, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The end-to-end curation DAG as ONE oracled query: the per-stage
  * survival funnel (docs + tokens remaining after each stage) of
  *
  *   raw → quality gate → language gate → exact dedup →
  *   MinHash-LSH near-dedup (portable signatures, connected-component
  *   keepers) → benchmark n-gram decontamination
  *
  * [[graft.pipeline.TrainingDataPipeline]] is the library face of this
  * composition (cached stage frames, native-hash LSH, wordpiece/pack
  * tails); this query re-expresses the decision-making stages on their
  * PORTABLE twins so the DuckDB oracle replays the ENTIRE funnel —
  * filters, digests, signatures, bands, hot-bucket cap, jaccard
  * threshold, transitive-closure keepers, shared-gram flagging — and the
  * gate hash-checks the composition end to end, not just each operator
  * in isolation. The funnel report (what % survived each stage) is the
  * first artifact any corpus-curation run ships.
  *
  * Scale shape: every stage is the already-audited shape of its
  * standalone query — map-side filters, digest/band/bucket shuffles on
  * compact keys, pointer-doubling components, broadcast bench grams —
  * and the stage stats are 1-row aggregates unioned. The library face
  * caches stage frames between stages; this builder declares the plain
  * dataflow (the oracle gate's subject is the semantics — recomputation
  * across the six union branches is the cost of keeping the plan a pure
  * expression of the contract).
  */
object PipelineOps {

  private def nTokens: Column =
    size(Text.tokens(col("text"))).cast(LongType)

  private def stageRow(df: DataFrame, ord: Int, name: String): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(nTokens), lit(0L)).as("n_tokens"))
      .select(lit(ord.toLong).as("stage_ord"), lit(name).as("stage"),
        col("n_docs"), col("n_tokens"))

  private def pipelineFunnel(s: SparkSession, dir: String): DataFrame =
    funnelOver(Tables.documents(s, dir))

  /** The funnel over ANY (doc_id, text, lang) corpus. Under k×
    * replication with fresh ids and identical texts, stages 0-2 scale
    * exactly ×k while stages 3-5 are EXACTLY unchanged: exact dedup
    * collapses every replica onto the original min id, so the
    * downstream corpus is identical (PipelineSpec).
    */
  private[graft] def funnelOver(docs: DataFrame): DataFrame = {
    // stage 1: quality gate (>= 10 tokens, short-token ratio <= 0.4) —
    // TrainingDataPipeline.qualityFilter's exact predicate
    val q = docs
      .withColumn("__tk", Text.words(col("text")))
      .filter(size(col("__tk")) >= 10 &&
        expr("size(filter(__tk, t -> length(t) <= 2))") / size(col("__tk"))
          <= 0.4)
      .drop("__tk")
    // stage 2: language gate
    val l = q.filter(col("lang") === "en")
    // stage 3: exact dedup by content digest, keep the smallest doc_id
    val ex = l.join(
      l.groupBy(md5(col("text").cast(BinaryType)).as("__sig"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "leftsemi")
    // stage 4: near-dedup — portable LSH candidates over the SURVIVING
    // corpus + component keepers (keeper = component min, singletons keep)
    val nd = Dedup.dedupCorpus(ex,
      Dedup.lshPortablePairs(ex).select(col("id_a"), col("id_b")))
    // stage 5: benchmark decontamination — drop survivors sharing any
    // 4-gram with the held-out stand-in (doc_id % 100 == 0 of the RAW
    // corpus, the decontaminate_ngrams convention)
    val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    def grams(df: DataFrame): DataFrame =
      Text.wordNgrams(df, 4, Seq("doc_id"), tk = "__tk", as = "__g")
    val contaminated = grams(nd)
      .join(grams(bench).select(col("__g")).distinct(), Seq("__g"), "left_semi")
      .select(col("doc_id"))
      .distinct()
    val dc = nd.join(contaminated, Seq("doc_id"), "left_anti")
    stageRow(docs, 0, "0_input")
      .unionByName(stageRow(q, 1, "1_quality"))
      .unionByName(stageRow(l, 2, "2_lang"))
      .unionByName(stageRow(ex, 3, "3_exact_dedup"))
      .unionByName(stageRow(nd, 4, "4_near_dedup"))
      .unionByName(stageRow(dc, 5, "5_decontaminated"))
  }

  private val pipelineFunnelSql = {
    def stat(ord: Int, name: String, src: String) =
      s"""SELECT CAST($ord AS BIGINT) AS stage_ord, '$name' AS stage,
         |  count(*) AS n_docs,
         |  CAST(coalesce(sum(len(${Text.tokensSql()})), 0)
         |    AS BIGINT) AS n_tokens
         |FROM $src""".stripMargin
    s"""WITH RECURSIVE q AS (
       |  SELECT * FROM documents
       |  WHERE len(${Text.wordsSql}) >= 10
       |    AND len(list_filter(${Text.wordsSql}, t -> length(t) <= 2))
       |        / len(${Text.wordsSql}) <= 0.4),
       |l AS (SELECT * FROM q WHERE lang = 'en'),
       |ex AS (
       |  SELECT * FROM l WHERE doc_id IN (
       |    SELECT min(doc_id) FROM l GROUP BY md5(text))),
       |${Dedup.lshPortableCtes("ex")},
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM lshcand
       |  UNION
       |  SELECT id_b, id_a FROM lshcand),
       |reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
       |keepers AS (SELECT id AS doc_id, min(r) AS keeper FROM reach GROUP BY id),
       |nd AS (
       |  SELECT ex.* FROM ex LEFT JOIN keepers k USING (doc_id)
       |  WHERE k.keeper IS NULL OR k.keeper = ex.doc_id),
       |bench AS (SELECT * FROM documents WHERE doc_id % 100 = 0),
       |dg AS (
       |  ${Text.wordNgramsSql("nd", 4)}),
       |bg AS (
       |  SELECT DISTINCT g8 FROM (
       |    ${Text.wordNgramsSql("bench", 4)}) t1),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM dg WHERE g8 IN (SELECT g8 FROM bg)),
       |dc AS (
       |  SELECT * FROM nd
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
       |${stat(0, "0_input", "documents")}
       |UNION ALL
       |${stat(1, "1_quality", "q")}
       |UNION ALL
       |${stat(2, "2_lang", "l")}
       |UNION ALL
       |${stat(3, "3_exact_dedup", "ex")}
       |UNION ALL
       |${stat(4, "4_near_dedup", "nd")}
       |UNION ALL
       |${stat(5, "5_decontaminated", "dc")}""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "pipeline_funnel" -> Q(pipelineFunnel _, pipelineFunnelSql)
  )
}
