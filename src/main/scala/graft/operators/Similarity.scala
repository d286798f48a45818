package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search, written once: every ANN tier (IVF, SQ8, IVF,SQ8,
  * PQ/ADC, binary, matryoshka prefix, and the SRP-LSH buckets; the rows
  * are [[graft.queries.Ann]]'s) supplies only its own encoder and
  * approximate score, and shares one core for the rest:
  *   - [[cosine]], the one cosine expression (DotF64 folds);
  *   - [[bruteForceTopK]], the exact single-query baseline;
  *   - [[refineTopK]], the retrieve-and-refine stage 2 (candidates ⋈
  *     raw vectors → exact cosine → top-k);
  *   - [[exactScores]], [[topKPerQuery]], [[refineScores]] and
  *     [[recallAt]], the per-query recall@k certifier over a query
  *     sample, under a cosine or squared-L2 [[Metric]];
  *   - [[literal]], the query-side literal array, and [[unitDots]],
  *     the native dot fan-out against unit-normalized centroid or
  *     query rows.
  *
  * Each piece's DuckDB twin (`...Sql`, `...Ctes`) sits beside it, and
  * every vector oracle reads these twins: the embedding cast, the dot,
  * norm, cosine and L2 folds, the recall certifier, the IVF assignment,
  * the PQ codes, the SQ8 bounds and quantizer and the binary pack.
  *
  * IVF: k centroids are chosen deterministically from the data (strided
  * sample), broadcast, and every vector is assigned to its nearest
  * centroid map-side. A query probes only the nProbe nearest cells —
  * candidate set shrinks by ~k/nProbe without any full-corpus pass.
  */
object Similarity {

  /** The `embedding` column widened to array<double>: the array cast
    * applies the same element Cast as `transform(embedding, x -> CAST(x
    * AS DOUBLE))`, so every value is bit-identical, without the lambda
    * (ArrayTransform has no generated code).
    */
  def embDouble: Column = col("embedding").cast(ArrayType(DoubleType))

  /** DuckDB twin of [[embDouble]]: a CTE body selecting `cols` of the
    * embeddings table and the embedding as `e DOUBLE[]`.
    */
  def embDoubleSql(cols: String = "vec_id"): String =
    s"""(
      |  SELECT $cols, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings)""".stripMargin

  // native codegen dot (graft.functions.DotF64) — ~6× the composed
  // aggregate(zip_with) HOF formulation on candidate-pair scoring
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotF64.dotf64(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** dot(a, b) / (‖a‖·‖b‖). Symmetric bit for bit: DotF64 sums in
    * ascending index order and IEEE multiplication commutes, so
    * `cosine(a, b) == cosine(b, a)`, and a norm computed once per row
    * gives the same double as the per-pair form.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // DuckDB twins of the folds. Each sums its terms from 0.0 in list
  // order, one rounding per multiply and one per add, which is the
  // DotF64/L2SqF64 loop, so every score is the same double in both
  // engines. `a` and `b` are SQL list expressions. The BIGINT folds of
  // the fixed-point power loop sum the same terms from 0.

  private def sumFromSql(zero: String, terms: String): String =
    s"list_reduce(list_prepend($zero, $terms), (acc, y) -> acc + y)"

  private def dotTermsSql(a: String, b: String): String =
    s"list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])"

  private def sqTermsSql(a: String): String = s"list_transform($a, x -> x * x)"

  /** The ascending double fold of the list `terms`. */
  def foldSql(terms: String): String = sumFromSql("CAST(0.0 AS DOUBLE)", terms)

  /** dot(a, b). */
  def dotSql(a: String, b: String): String = foldSql(dotTermsSql(a, b))

  /** ‖a‖², the squared norm fold. */
  def sqNormSql(a: String): String = foldSql(sqTermsSql(a))

  /** dot(a, b) over BIGINT lists: the DotI64 loop. */
  private def longDotSql(a: String, b: String): String = sumFromSql("CAST(0 AS BIGINT)", dotTermsSql(a, b))

  /** ‖a‖² over a BIGINT list. */
  private def longSqNormSql(a: String): String = sumFromSql("CAST(0 AS BIGINT)", sqTermsSql(a))

  /** ‖a‖. */
  def normSql(a: String): String = s"sqrt(${sqNormSql(a)})"

  /** DuckDB twin of [[cosine]]. */
  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  /** Squared L2 between `a` and `b` (the L2SqF64 fold), over indexes
    * 1..`n` (default len(a)) shifted by `offset` (a subvector).
    */
  def l2SqSql(a: String, b: String, n: String = "", offset: String = ""): String = {
    val len = if (n.isEmpty) s"len($a)" else n
    val j = if (offset.isEmpty) "j" else s"$offset + j"
    foldSql(s"list_transform(range(1, $len + 1), j -> ($a[$j] - $b[$j]) * ($a[$j] - $b[$j]))")
  }

  /** `a` scaled to unit length by its norm `n` (a zero vector stays
    * zero): the DuckDB twin of [[unitRows]].
    */
  def unitSql(a: String, n: String): String =
    s"list_transform($a, x -> CASE WHEN $n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / $n END)"

  // ------------------------------------------------- random hyperplanes

  /** The ±1 weight of dimension j in random hyperplane p: bit 16 of the
    * portable LCG value at `p * stride + j` (the stride keeps per-plane
    * seed ranges disjoint while dims <= stride). The same integer
    * expression the DuckDB twins evaluate inline.
    */
  def hyperplaneSign(p: Int, j: Int, stride: Int): Double =
    if ((((1103515245L * (p * stride + j) + 12345L) % 2147483648L >> 16) & 1L) == 1L)
      1.0 else -1.0

  /** DuckDB twin of [[hyperplaneSign]] at the seed index `seed`, an SQL
    * expression such as `p * 1024 + j`.
    */
  def hyperplaneSignSql(seed: String): String =
    s"(CASE WHEN ((1103515245 * ($seed) + 12345) % 2147483648 >> 16) & 1 = 1 " +
      "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"

  /** Planes 0 until n as literal arrays of their `dims` signs: each
    * projection is then one native DotF64 pass instead of a `dims`-term
    * interpreted fold; e[j]*(±1.0) multiplies exactly like the oracle's
    * term and DotF64 folds ascending, so the buckets are bit-identical.
    */
  def hyperplanes(n: Int, dims: Int, stride: Int): IndexedSeq[Column] =
    (0 until n).map(p => array((0 until dims).map(j => lit(hyperplaneSign(p, j, stride))): _*))

  /** The sign bits of vector `v` against `planes`, plane i at bit
    * weight `bit(i)`.
    */
  def signBits(v: Column, planes: Seq[Column], bit: Int => Int): Column =
    planes.zipWithIndex
      .map { case (plane, i) =>
        (dot(v, plane) > lit(0.0)).cast(IntegerType) * lit(bit(i))
      }
      .reduce(_ + _)

  /** DuckDB twin of [[signBits]] over `e`: `n` planes indexed by `p`,
    * each projecting dimensions 0 until `dims` with the weights at seed
    * index `seed` (an SQL expression of p and the dimension j); plane p
    * sets the bit `bit` (an SQL expression of p).
    */
  def signBitsSql(n: Int, dims: String, seed: String, bit: String): String =
    s"""list_reduce(list_prepend(0, list_transform(range(0, $n), p ->
      |      CASE WHEN ${foldSql(s"list_transform(range(0, $dims), j -> e[j + 1] * ${hyperplaneSignSql(seed)})")}
      |        > CAST(0.0 AS DOUBLE) THEN CAST(1 AS INTEGER) << ($bit) ELSE 0 END)),
      |      (acc, y) -> acc + y)""".stripMargin

  /** A vector as a literal array column (a query shipped to the scan). */
  def literal(v: Seq[Double]): Column = array(v.map(lit): _*)

  /** Rows unit-normalized driver-side (a zero row stays zero): the
    * centroid and query-set matrices whose per-row dot products are
    * cosines up to the row's own norm.
    */
  def unitRows(rows: Seq[Seq[Double]]): IndexedSeq[IndexedSeq[Double]] = rows.map { v =>
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => if (n == 0d) 0d else x / n).toIndexedSeq
  }.toIndexedSeq

  /** `e`'s dot product with each of `rows` unit-normalized
    * ([[unitRows]]), in row order: one native fan-out
    * ([[graft.functions.DotRows]]), each element DotF64's fold.
    */
  def unitDots(e: Column, rows: Seq[Seq[Double]]): Column =
    graft.functions.DotRows.dotRows(e, unitRows(rows))

  /** The cell id of the largest of `sims` (one per cell, in `cRows`
    * order); a tie goes to the first, the lowest cell id, since
    * centroids ship sorted and `array_position` returns the first match.
    */
  def nearestCell(sims: Column, cRows: IndexedSeq[(Int, Seq[Double])]): Column =
    element_at(array(cRows.map(r => lit(r._1)): _*),
      array_position(sims, array_max(sims)).cast(IntegerType))

  /** Brute-force top-k against one query vector (map-side score +
    * TakeOrdered; zero shuffle of the corpus).
    */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), embDouble.as("e"))
    val q = e.filter(col("vec_id") === queryVecId).select(col("e").as("qe"))
    e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("e"), col("qe")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** DuckDB twin of the single-query ranking every top-k tier ends in
    * ([[bruteForceTopK]], [[refineTopK]], [[sq8TopK]], [[ivfSq8TopK]],
    * [[ivfTopK]]): `cols` of `from` plus `cosine`, the cosine of the
    * query `qe` to the list `v`, top-k by (cosine desc, vec_id).
    */
  def cosineTopKSql(cols: String, v: String, from: String, k: Int): String =
    s"""SELECT $cols, ${cosineSql("qe", v)} AS cosine
      |  FROM $from
      |  ORDER BY cosine DESC, vec_id LIMIT $k""".stripMargin

  /** Retrieve-and-refine stage 2: the candidate set `cand` (vec_id plus
    * the tier's stage-1 columns, carried through) joins the raw vectors
    * `emb` (vec_id, e) and is re-scored by exact cosine to `query` →
    * top-k by (cosine desc, vec_id). The broadcast side is the bounded
    * candidate set, so the corpus never shuffles.
    */
  def refineTopK(cand: DataFrame, emb: DataFrame, query: IndexedSeq[Double],
      k: Int): DataFrame = {
    val carried = cand.columns.filter(_ != "vec_id").map(col).toSeq
    emb.join(broadcast(cand), "vec_id")
      .select((col("vec_id") +: carried) :+
        cosine(literal(query), col("e")).as("cosine"): _*)
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------- recall certification

  /** A pair score over (query, vector) arrays and the direction it
    * ranks in.
    */
  final case class Metric(score: (Column, Column) => Column,
      scoreSql: (String, String) => String, ascending: Boolean) {
    def order: Column = if (ascending) col("score").asc else col("score").desc
    def orderSql: String = if (ascending) "score" else "score DESC"
  }
  val CosineMetric: Metric = Metric(cosine, cosineSql(_, _), ascending = false)
  val L2Metric: Metric =
    Metric(graft.functions.L2SqF64.l2sqf64, l2SqSql(_, _), ascending = true)

  /** The exact arm: every corpus vector (vec_id, e) scored against every
    * query (qid, qe) of a broadcast sample → (qid, vec_id, score).
    */
  def exactScores(corpus: DataFrame, queries: DataFrame, metric: Metric): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"), metric.score(col("qe"), col("e")).as("score"))

  /** DuckDB twin of [[exactScores]] over the relations `corpus` (vec_id,
    * e) and `queries` (qid, qe).
    */
  def exactScoresSql(corpus: String, queries: String, metric: Metric): String =
    s"SELECT q.qid, c.vec_id, ${metric.scoreSql("q.qe", "c.e")} AS score\n" +
      s"  FROM $corpus c CROSS JOIN $queries q"

  /** Per-query top-k window: the k best (qid, vec_id) rows of `scored`
    * under `by`, ties to the lower vec_id.
    */
  def topKPerQuery(scored: DataFrame, k: Int, by: Column): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(by, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"))

  /** DuckDB twin of [[topKPerQuery]] over the relation `scored`. */
  def topKPerQuerySql(scored: String, k: Int, by: String): String =
    s"SELECT qid, vec_id FROM $scored\n" +
      s"  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY $by, vec_id) <= $k"

  /** Multi-query refine: per-query candidates (qid, vec_id) ⋈ raw
    * vectors ⋈ their query → (qid, vec_id, score) at full precision.
    */
  def refineScores(cand: DataFrame, emb: DataFrame, queries: DataFrame,
      metric: Metric): DataFrame =
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"), metric.score(col("qe"), col("e")).as("score"))

  /** DuckDB twin of [[refineScores]] over the relations `cand` (qid,
    * vec_id), `emb` (vec_id, e) and `queries` (qid, qe).
    */
  def refineScoresSql(cand: String, emb: String, queries: String, metric: Metric): String =
    s"SELECT qid, vec_id, ${metric.scoreSql("qe", "e")} AS score\n" +
      s"  FROM $cand JOIN $emb USING (vec_id) JOIN $queries USING (qid)"

  /** Recall@k certification: per query, the overlap of the exact and the
    * approximate top-k (each a (qid, vec_id, score) frame ranked by
    * (score, vec_id) in the metric's direction). Every qid of `queries`
    * reports, 0 hits when its approximate arm is empty. Output
    * (qid, n_hits, recall_ppm) with recall_ppm = n_hits·10⁶ div k.
    */
  def recallAt(queries: DataFrame, exact: DataFrame, approx: DataFrame, k: Int,
      metric: Metric): DataFrame = {
    val hits = topKPerQuery(exact, k, metric.order)
      .join(topKPerQuery(approx, k, metric.order), Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("nh"))
    queries.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("nh"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000) div $k"))
  }

  /** DuckDB twin of [[recallAt]] over the relations `queries` (qid) and
    * `exact`/`approx` (qid, vec_id, score): CTEs ending in
    * `recall(qid, n_hits, recall_ppm)`.
    */
  def recallAtSql(queries: String, exact: String, approx: String, k: Int,
      metric: Metric): String =
    s"""hits AS (
      |  SELECT qid, count(*) AS nh FROM (
      |    ${topKPerQuerySql(exact, k, metric.orderSql)}) x
      |  JOIN (
      |    ${topKPerQuerySql(approx, k, metric.orderSql)}) a USING (qid, vec_id)
      |  GROUP BY qid),
      |recall AS (
      |  SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |    (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // $k AS recall_ppm
      |  FROM $queries q LEFT JOIN hits h ON q.qid = h.qid)""".stripMargin

  /** Deterministic IVF centroids: a pseudo-random (hash-ordered, so
    * stable across runs) pick of nCells vectors. Robust to sparse /
    * non-contiguous vec_ids (e.g. a post-dedup corpus); the pick is a
    * TakeOrdered top-k, not a global sort materialization, and the
    * renumbering window runs over the nCells-row result only (bounded
    * dimension, same exemption as dict_encode).
    *
    * The scatter key is a PORTABLE Lehmer-style fold
    * `(vec_id * 48271) % 2147483647` — pure BIGINT arithmetic both
    * engines compute identically (unlike Spark-native `hash()`), so the
    * whole IVF pipeline is replicable in the DuckDB oracle. Safe from
    * BIGINT overflow for vec_id up to ~1.9e14.
    */
  def centroids(emb: DataFrame, nCells: Int): DataFrame = {
    emb
      .orderBy(pmod(col("vec_id") * lit(48271L), lit(2147483647L)), col("vec_id"))
      .limit(nCells)
      // Bounded domain (nCells rows): the renumber legitimately runs in
      // one partition. The constant partition key keeps the spec
      // non-empty so WindowExec's single-partition warning stays
      // meaningful for REAL unpartitioned windows elsewhere; vec_id*0
      // (vec_id is non-null) rather than lit(0) because the optimizer
      // prunes foldable partition keys back to an empty spec.
      .withColumn("cell_id",
        (row_number().over(
          Window.partitionBy(col("vec_id") * lit(0)).orderBy(col("vec_id"))) - 1)
          .cast(IntegerType))
      .select(col("cell_id"), embDouble.as("centroid"))
  }

  /** DuckDB twin of the strided pick shared by [[centroids]] and
    * [[pqCodebooks]]: the first `n` rows of `ev` (vec_id, e) in Lehmer
    * order.
    */
  def lehmerPickSql(n: Int): String =
    s"""SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT $n""".stripMargin

  /** DuckDB twin of [[centroids]] and [[assignCellsWithSim]] over `ev`:
    * CTEs `cents(cell_id, centroid)` and `assigned(vec_id, e, cell_id,
    * top_sim)`. The centroids are unit-normalized like [[unitRows]] and
    * the argmax takes the first maximum, the lowest cell id.
    */
  def ivfAssignCtes(nCells: Int): String =
    s"""picked AS (
      |  ${lehmerPickSql(nCells)}),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unit AS (
      |  SELECT cell_id, ${unitSql("centroid", "n")} AS cu
      |  FROM (SELECT cell_id, centroid, ${normSql("centroid")} AS n FROM cents)),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id,
      |    list_max(sims) AS top_sim
      |  FROM (
      |    SELECT vec_id, e, list_transform(cus, cu -> ${dotSql("e", "cu")}) AS sims
      |    FROM ev CROSS JOIN cl))""".stripMargin

  /** Assign every vector to its nearest centroid — a TRUE map-side argmax.
    *
    * Centroids are a bounded design dimension (nCells ≪ corpus), so they
    * are collected, unit-normalized driver-side, and shipped with the
    * plan. Each row computes one dot product per centroid in one native
    * fan-out ([[unitDots]]) and picks the argmax with
    * `array_position(sims, array_max(sims))` — the plan is a pure
    * Project over the scan: no crossJoin row explosion, no Exchange.
    * (The round-1 formulation shuffled |corpus|×nCells rows through a
    * `row_number` window — a scale-killer at 100 TB.)
    *
    * Unit-normalizing centroids up front makes argmax-over-dot equal to
    * argmax-over-cosine (the row's own norm is a positive constant across
    * cells), so the per-cell work is exactly one fused dot product.
    * Ties resolve to the lowest cell_id (centroids ship sorted;
    * array_position returns the first match).
    */
  /** Collect a bounded centroid set to driver arrays — the shippable
    * dimension [[assignCells]] broadcasts as literals. Deterministic per
    * (dataset, nCells), so callers that rebuild plans repeatedly (bench
    * reps, verify runs) should cache the result via [[graft.DimCache]]
    * instead of paying the collect job per invocation.
    */
  def centroidArrays(cents: DataFrame): IndexedSeq[(Int, Seq[Double])] =
    cents.select(col("cell_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toIndexedSeq

  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    assignCells(emb, centroidArrays(cents))

  def assignCells(emb: DataFrame, cRows: IndexedSeq[(Int, Seq[Double])]): DataFrame =
    assignCellsWithSim(emb, cRows).select(col("vec_id"), col("cell_id"), col("e"))

  /** [[assignCells]] plus the winning dot product itself (`top_sim` =
    * e·ĉ of the assigned cell). Because centroids ship unit-normalized,
    * `top_sim / ‖e‖` IS the vector's cosine to its own centroid — the
    * SemDeDup keep-policy rank (`dedup_semantic_keep`) — at zero extra
    * arithmetic: the argmax already computed every dot product.
    */
  def assignCellsWithSim(
      emb: DataFrame, cRows: IndexedSeq[(Int, Seq[Double])]): DataFrame = {
    require(cRows.nonEmpty, "assignCells: empty centroid set")
    emb
      .select(col("vec_id"), embDouble.as("e"))
      // sims materialized in its own projection: referencing it twice
      // below must NOT recompute the dot products (multi-referenced
      // aliases survive CollapseProject)
      .withColumn("sims", unitDots(col("e"), cRows.map(_._2)))
      .select(col("vec_id"), col("e"),
        nearestCell(col("sims"), cRows).as("cell_id"),
        array_max(col("sims")).as("top_sim"))
      .select(col("vec_id"), col("cell_id"), col("e"), col("top_sim"))
  }

  /** SemDeDup cluster-bounded semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540), parameterized for library use — the gate query
    * `dedup_semantic_keep` pins the (k = 8, τ = 0.35) instance against
    * its DuckDB oracle. Per vector: assign to its nearest centroid
    * ([[assignCellsWithSim]] — map-side broadcast argmax), find
    * within-cell partners at cosine ≥ τ, and drop the vector iff any
    * partner sits strictly farther from the centroid (strictly lower
    * centroid cosine; ties break toward the lower vec_id) — the
    * prototypical member of each near pair is the one dropped, the
    * paper's keep-outliers policy made deterministic as pairwise
    * dominance.
    *
    * Scale contract: k ∝ corpus (the paper runs 50k cells over 5B
    * embeddings) keeps per-cell population — and the per-cell pairwise
    * quadratic — constant; assignment never shuffles, the pair join
    * shuffles once on cell_id. MEASURED (r18, the retired
    * `semdedup_k_prop_n` / `semdedup_planted_recall` ladders, factors
    * 1/4/10 at k = 8·f — SCALING.md "Round-18 probe"): max cell population
    * 292→327 (bounded), candidate pairs exactly linear (×10.0 at 10×),
    * wall sublinear, and planted cos≈1 dup recall 99.9% flat across the
    * k ladder — recall is a τ property, cost is the linear k ∝ N law.
    *
    * Output: (vec_id, cell_id, n_near, kept, centroid_cos_6dp).
    */
  def semanticDedupKeep(
      emb: DataFrame,
      cRows: IndexedSeq[(Int, Seq[Double])],
      tau: Double): DataFrame = {
    val m = assignCellsWithSim(emb, cRows)
      .select(col("vec_id"), col("cell_id"), col("e"),
        dot(col("e"), col("e")).as("n2"), col("top_sim"))
      .select(col("vec_id"), col("cell_id"), col("e"), col("n2"),
        (col("top_sim") / sqrt(col("n2"))).as("cc"))
    val a = m.select(col("cell_id"), col("vec_id").as("id_a"),
      col("e").as("ea"), col("n2").as("na2"), col("cc").as("ca"))
    val b = m.select(col("cell_id"), col("vec_id").as("id_b"),
      col("e").as("eb"), col("n2").as("nb2"), col("cc").as("cb"))
    val near = a.join(b, Seq("cell_id"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("ca"), col("id_b"), col("cb"),
        (dot(col("ea"), col("eb")) / (sqrt(col("na2")) * sqrt(col("nb2"))))
          .as("cos"))
      .filter(col("cos") >= tau)
    val verdict = near
      .groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("n_near"),
        max(when(col("cb") < col("ca") ||
          (col("cb") === col("ca") && col("id_b") < col("id_a")), 1)
          .otherwise(0)).as("dropped"))
    m.join(verdict, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (coalesce(col("dropped"), lit(0)) === 0).as("kept"),
        round(col("cc"), 6).as("centroid_cos_6dp"))
  }

  // -------------------------------------------------- product quantization

  /** Deterministic PQ codebooks: the same Lehmer-strided pick as
    * [[centroids]] selects `k` exemplar vectors (renumbered by vec_id),
    * and codeword `(m)(c)` is exemplar c's m-th length-`dsub` subvector.
    * A k-means refinement would tighten the cells but costs determinism
    * (iteration order) — the strided pick keeps the ENTIRE pipeline
    * replicable in ANSI SQL, the property every sketch in this repo
    * trades for. Bounded dimension: collect once per JVM per dataset
    * via [[graft.DimCache]] at the call site.
    */
  def pqCodebooks(emb: DataFrame, m: Int, k: Int, dsub: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val picked = emb
      .orderBy(pmod(col("vec_id") * lit(48271L), lit(2147483647L)), col("vec_id"))
      .limit(k)
      .orderBy(col("vec_id"))
      .select(col("e"))
      .collect()
      .map(_.getSeq[Double](0))
      .toIndexedSeq
    require(picked.size == k, s"pqCodebooks: need $k exemplars, got ${picked.size}")
    require(picked.forall(_.length == m * dsub),
      s"pqCodebooks: dims must be uniform ${m}x$dsub")
    (0 until m).map(mm => picked.map(v => v.slice(mm * dsub, (mm + 1) * dsub).toIndexedSeq))
  }

  /** Map-side PQ encode: each vector gains `c0..c{M-1}` — the index of
    * its nearest codeword per subspace in squared L2, ties to the lowest
    * index ([[graft.functions.PqEncode]]: the ascending-index fold
    * `acc + (x_j - w_j)²` that DuckDB's `list_reduce` mirrors, so codes
    * are bit-identical cross-engine). A pure
    * Project over the scan: no Exchange, no join. At 100 TB this is the
    * similarity family's memory lever — M small ints replace the float
    * vector for candidate generation (64×f32 → 8 codes = 32× smaller),
    * so the ANN working set fits executor memory long after raw
    * embeddings stop fitting anywhere.
    */
  def encodePq(emb: DataFrame, cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], dsub: Int): DataFrame =
    emb.select(Seq(col("vec_id"), col("e")) ++ cb.indices.map(m =>
      graft.functions.PqEncode.pqEncode(col("e"), cb(m), m * dsub).as(s"c$m")): _*)

  /** DuckDB twin of [[pqCodebooks]] and [[encodePq]] over `ev` for
    * d = 64 (M = 8 subspaces of 8): CTEs `cw(k, e)`, the codewords'
    * source vectors, and `codes(vec_id, m, k)`, the nearest codeword per
    * subspace with ties to the lowest k.
    */
  def pqCodesCtes(k: Int): String =
    s"""picked AS (
      |  ${lehmerPickSql(k)}),
      |cw AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS k, e FROM picked),
      |codes AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT v.vec_id, ms.m, c.k, ${l2SqSql("v.e", "c.e", "8", "ms.m * 8")} AS d
      |    FROM ev v CROSS JOIN cw c CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms)
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1)""".stripMargin

  /** The query-side ADC lookup table — `T(m)(c)` = squared-L2 between
    * the query's m-th subvector and codeword c, computed driver-side in
    * the same ascending-index IEEE fold the engines use (FAISS practice:
    * the table is always query-local; it is M×K ≪ corpus). Bit-exact
    * with the DuckDB twin's per-(vec, m) `terms` CTE by construction.
    */
  def adcTable(query: IndexedSeq[Double], cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      dsub: Int): IndexedSeq[IndexedSeq[Double]] =
    cb.indices.map { m =>
      cb(m).map { w =>
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val d = query(m * dsub + j) - w(j)
          acc += d * d
          j += 1
        }
        acc
      }
    }

  /** ADC (asymmetric distance computation) top-k over PQ codes: every
    * corpus row is scored from its codes alone — M lookups into the
    * literal query table, summed in fixed subspace order (bit-exact
    * cross-engine; the leading `0.0 + t₀ ≡ t₀`). Plan: one codegen'd
    * Project over the encoded relation → TakeOrdered(k). Zero joins,
    * zero shuffles, and per-row work independent of the vector width —
    * the shape that lets a 100 TB corpus be ranked from an 8-byte/row
    * structure.
    */
  def pqTopK(encoded: DataFrame, table: IndexedSeq[IndexedSeq[Double]],
      queryVecId: Long, k: Int): DataFrame = {
    val adc = table.indices.map { m =>
      element_at(array(table(m).map(lit): _*), col(s"c$m") + 1)
    }.reduce(_ + _)
    encoded.filter(col("vec_id") =!= queryVecId)
      .withColumn("adc", adc)
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("adc"), 6).as("adc_dist_6dp"))
  }

  /** DuckDB twin of the ADC score over [[pqCodesCtes]]: CTE `adc(qid,
    * vec_id, a)`, each (query, code) subspace distance of [[adcTable]]
    * summed in subspace order, for every query of `queries` (qid, qe)
    * and the coded vectors passing `keep` (a predicate on `co.vec_id`).
    */
  def adcSql(queries: String, keep: String): String =
    s"""terms AS (
      |  SELECT q.qid, co.vec_id, co.m,
      |    ${l2SqSql("q.qe", "c.e", "8", "co.m * 8")} AS t
      |  FROM codes co JOIN cw c ON c.k = co.k CROSS JOIN $queries q
      |  WHERE $keep),
      |adc AS (
      |  SELECT qid, vec_id, ${foldSql("list(t ORDER BY m)")} AS a
      |  FROM terms GROUP BY qid, vec_id)""".stripMargin

  /** Per-dimension [min, max] bounds for SQ8 scalar quantization — the
    * train step (FAISS `ScalarQuantizer` QT_8bit practice: one corpus
    * pass, d pairs of doubles). Bounded collect: d rows, a design
    * dimension like centroids/codebooks — DimCache at call sites.
    */
  def sq8Bounds(emb: DataFrame): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val rows = emb
      .select(posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
      .sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toIndexedSeq, rows.map(_.getDouble(2)).toIndexedSeq)
  }

  /** DuckDB twin of [[sq8Bounds]] over `ev`: CTEs `d(nd)`, the width,
    * and `bounds(dim, mn, mx)`.
    */
  val boundsCtes: String =
    """d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i)""".stripMargin

  /** Map-side SQ8 encode: each vector gains `codes` — one SIGNED BYTE
    * per dimension (code −128..127 = the 0..255 bucket of the
    * per-dimension linear [min, max] grid, shifted by −128 to fit
    * TINYINT in both engines). The 4×-vs-f32 memory lever between raw
    * vectors and PQ's 32×: at 100 TB, SQ8 keeps per-dimension fidelity
    * (top-10 recall vs exact: 1.0 on all 8 sf0.01 gate queries — the
    * oracled `sim_sq8_recall` row — and 0.9–1.0 on the sf0.001 spec
    * corpus) while the corpus working set drops 4×,
    * where PQ trades more recall for more compression. A pure Project
    * over the scan — no Exchange, no join; the bounds ship with the
    * plan exactly like centroids/codebooks.
    *
    * Quantization arithmetic (mirrored verbatim by the DuckDB oracle,
    * both engines IEEE): code_j = floor((x_j − mn_j)/sc_j·255 + 0.5)
    * − 128 (sc_j = mx_j − mn_j; constant dimensions encode as −128),
    * clamped only by construction (x ∈ [mn, mx] ⇒ code ∈ [−128, 127]).
    */
  def encodeSq8(emb: DataFrame, mn: IndexedSeq[Double],
      mx: IndexedSeq[Double]): DataFrame =
    emb.select(col("vec_id"), col("e"), sq8Codes(mn, mx).as("codes"))

  /** The SQ8 quantizer as a reusable Column over `e` — shared by the
    * flat index ([[encodeSq8]]) and the IVF-composed index
    * ([[encodeIvfSq8]]) so both persist byte-identical codes
    * ([[graft.functions.Sq8Encode]]).
    */
  def sq8Codes(mn: IndexedSeq[Double], mx: IndexedSeq[Double]): Column =
    graft.functions.Sq8Encode.sq8Encode(col("e"), mn, mx)

  /** The quantizer's grid lists over [[boundsCtes]]: CTE `mnl(mnl, scl)`,
    * the per-dimension minimum and span.
    */
  val sq8GridCte: String =
    """mnl AS (SELECT list(mn ORDER BY dim) AS mnl,
      |               list(mx - mn ORDER BY dim) AS scl FROM bounds)""".stripMargin

  /** Dimension i's code of the list `x` on the [[sq8GridCte]] grid. */
  private def sq8CodeSql(x: String): String =
    s"floor(($x[i] - mnl[i]) / scl[i] * 255 + 0.5) - 128"

  /** DuckDB twin of [[sq8Codes]]: `x`'s codes as an INTEGER list. */
  def sq8CodesSql(x: String): String =
    s"""list_transform(range(1, len($x) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN -128
      |      ELSE CAST(${sq8CodeSql(x)} AS INTEGER) END)""".stripMargin

  /** DuckDB twin of [[sq8Codes]] then [[sq8Dequantize]]: `x` quantized
    * and reconstructed, x̂.
    */
  def sq8RoundTripSql(x: String): String =
    s"""list_transform(range(1, len($x) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN mnl[i]
      |      ELSE mnl[i] + (CAST(${sq8CodeSql(x)} AS DOUBLE) + 128) / 255 * scl[i] END)""".stripMargin

  // ------------------------------------------------------------- IVF,SQ8

  /** The composed IVF,SQ8 index (FAISS `index_factory("IVF8,SQ8")`
    * practice): every vector carries its nearest-centroid cell AND its
    * byte-per-dimension SQ8 codes — one pure Project over the scan (the
    * cell argmax and the quantizer are both literal-driven map-side
    * expressions; no Exchange, no join). Persisted
    * `partitionBy(cell_id)`, a probe becomes a PartitionFilter: the
    * scan physically skips (nCells − nProbe)/nCells of the index files
    * BEFORE the byte codes are even read — coarse pruning × 4×
    * compression, the multiplicative pair that makes billion-vector
    * corpora searchable from executor memory.
    */
  def encodeIvfSq8(emb: DataFrame, cRows: IndexedSeq[(Int, Seq[Double])],
      mn: IndexedSeq[Double], mx: IndexedSeq[Double]): DataFrame =
    assignCells(emb, cRows)
      .select(col("cell_id"), col("vec_id"), sq8Codes(mn, mx).as("codes"))

  /** Driver-side coarse probe: rank cells by cosine(centroid, query)
    * and return the nProbe nearest cell_ids (ties to the lower id).
    * Query-local work over the bounded centroid set — FAISS keeps this
    * on the caller's thread for the same reason — and the ascending
    * accumulation loops are the IEEE folds of [[cosine]]'s engine tree,
    * so the probed set matches the DuckDB twin's exactly.
    */
  def probeCellIds(query: IndexedSeq[Double],
      cRows: IndexedSeq[(Int, Seq[Double])], nProbe: Int): Seq[Int] = {
    def fold(f: Int => Double, n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { acc += f(i); i += 1 }
      acc
    }
    val qn = math.sqrt(fold(i => query(i) * query(i), query.size))
    cRows.map { case (id, c) =>
      val d = fold(i => c(i) * query(i), c.size)
      val cn = math.sqrt(fold(i => c(i) * c(i), c.size))
      (id, d / (cn * qn))
    }.sortBy { case (id, sim) => (-sim, id) }.take(nProbe).map(_._1)
  }

  /** DuckDB twin of [[probeCellIds]] for every query of `queries` (qid,
    * qe) against `cents`: the (qid, cell_id) rows of its nProbe nearest
    * cells.
    */
  def probeCellsSql(queries: String, nProbe: Int): String =
    s"""SELECT q.qid, c.cell_id FROM cents c CROSS JOIN $queries q
      |  QUALIFY row_number() OVER (PARTITION BY q.qid
      |    ORDER BY ${cosineSql("c.centroid", "q.qe")} DESC, c.cell_id) <= $nProbe""".stripMargin

  /** IVF,SQ8 top-k: filter the persisted index to the probed cells
    * (partition-pruned at planning time — the cell list is literal),
    * dequantize, and rank by asymmetric cosine exactly like
    * [[sq8TopK]]. Plan: pruned Scan → Project → TakeOrdered; zero
    * joins, zero shuffles, and per-query IO = nProbe/nCells of an
    * already-4×-compressed index.
    */
  def ivfSq8TopK(index: DataFrame, query: IndexedSeq[Double],
      mn: IndexedSeq[Double], mx: IndexedSeq[Double],
      probed: Seq[Int], queryVecId: Long, k: Int): DataFrame = {
    index.filter(col("cell_id").isin(probed: _*))
      .filter(col("vec_id") =!= queryVecId)
      .withColumn("xhat", sq8Dequantize(mn, mx))
      .select(col("vec_id"), cosine(literal(query), col("xhat")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** SQ8 asymmetric top-k: the corpus is scored from its byte codes
    * alone — each row dequantizes x̂_j = mn_j + (code_j + 128)/255·sc_j
    * and ranks by cosine(query, x̂) with the EXACT query vector (the
    * asymmetric convention: only the corpus side pays quantization
    * error). One codegen'd Project over the encoded relation →
    * TakeOrdered(k); no joins, no shuffles — the PQ/ADC plan shape at
    * 4× compression instead of 32×.
    */
  /** Dequantize a `codes` byte array back to x̂ (x̂_j = mn_j +
    * (code_j + 128)/255·sc_j) — the shared reconstruction of
    * [[sq8TopK]] and the recall-certification query
    * ([[graft.functions.Sq8Decode]]); the bounds ship with the plan like
    * centroids/codebooks.
    */
  def sq8Dequantize(mn: IndexedSeq[Double], mx: IndexedSeq[Double]): Column =
    graft.functions.Sq8Decode.sq8Decode(col("codes"), mn, mx)

  def sq8TopK(encoded: DataFrame, query: IndexedSeq[Double],
      mn: IndexedSeq[Double], mx: IndexedSeq[Double],
      queryVecId: Long, k: Int): DataFrame = {
    encoded.filter(col("vec_id") =!= queryVecId)
      .withColumn("xhat", sq8Dequantize(mn, mx))
      .select(col("vec_id"), cosine(literal(query), col("xhat")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("sq8_cosine_6dp"))
  }

  // ------------------------------------------------- binary quantization

  /** Per-dimension binary thresholds: the midpoint (mn_j + mx_j)/2 of
    * the SQ8 bounds — one exact IEEE op per dimension over an
    * already-trained bounded dimension, so the binary index shares the
    * SQ8 train pass instead of paying its own corpus scan. (FAISS
    * `index_factory("LSH")`-with-train / modern vector-DB "binary
    * quantization" practice: one sign bit per dimension against a
    * per-dimension center.)
    */
  def binaryThresholds(mn: IndexedSeq[Double],
      mx: IndexedSeq[Double]): IndexedSeq[Double] =
    mn.indices.map(j => (mn(j) + mx(j)) / 2d)

  /** Map-side binary encode for d = 64 corpora: dimensions 1..32 pack
    * into `lo`, 33..64 into `hi` — each an ascending-dim fold
    * `acc·2 + bit` (bit_j = e_j > thr_j), so each half is < 2³², safely
    * inside BIGINT in both engines (packing all 64 bits into one long
    * would put dimension 1 in the sign bit and make the fold
    * engine-dependent; [[graft.functions.BinaryPack]]). A pure Project
    * over the scan — no Exchange, no join; the thresholds ship with the
    * plan like centroids/codebooks. At 100 TB this is the similarity family's
    * deepest memory lever shy of PQ: 16 bytes/row replace 64 floats
    * (16×), and candidate scoring becomes two XOR+popcount integer ops
    * — no float math at all until the rerank stage.
    */
  def encodeBinary(emb: DataFrame, thr: IndexedSeq[Double]): DataFrame = {
    require(thr.size % 2 == 0, s"encodeBinary: need even dims, got ${thr.size}")
    val half = thr.size / 2
    require(half <= 62, s"encodeBinary: half-width $half overflows BIGINT")
    def pack(offset: Int): Column =
      graft.functions.BinaryPack.binaryPack(col("e"), thr.slice(offset, offset + half), offset)
    emb.select(col("vec_id"), pack(0).as("lo"), pack(half).as("hi"))
  }

  /** DuckDB twin of [[binaryThresholds]] and [[encodeBinary]] over
    * [[boundsCtes]]: CTEs `thr(thrl)` and `codes(vec_id, lo, hi)`, each
    * half the ascending-dim fold acc·2 + bit.
    */
  val binaryCodesCtes: String = {
    def pack(from: String, to: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range($from, $to), i ->
        |        CASE WHEN e[i] > thrl[i] THEN 1 ELSE 0 END)),
        |      (a, b) -> a * 2 + b)""".stripMargin
    s"""thr AS (SELECT list((mn + mx) / 2 ORDER BY dim) AS thrl FROM bounds),
      |codes AS (
      |  SELECT vec_id,
      |    ${pack("1", "(SELECT nd FROM d) // 2 + 1")} AS lo,
      |    ${pack("(SELECT nd FROM d) // 2 + 1", "(SELECT nd FROM d) + 1")} AS hi
      |  FROM ev, thr)""".stripMargin
  }

  /** The Hamming distance between the packed codes of `a` and `b`. */
  def hammingSql(a: String, b: String): String =
    s"bit_count(xor($a.lo, $b.lo)) + bit_count(xor($a.hi, $b.hi))"

  /** Driver-side twin of [[encodeBinary]] for query vectors: the same
    * ascending-dim fold in plain Scala (integer arithmetic — exactly
    * the engines' result). NaN dims are UNSUPPORTED and rejected
    * loudly: Scala's `>` packs a NaN component as bit 0 while Spark
    * SQL's NaN-greatest ordering would pack it as bit 1, silently
    * desyncing the query code from the persisted index codes (r19
    * ADVICE).
    */
  def binaryCode(v: IndexedSeq[Double], thr: IndexedSeq[Double]): (Long, Long) = {
    require(!v.exists(_.isNaN),
      "binaryCode: NaN embedding dims are unsupported (Scala > vs Spark " +
        "SQL NaN ordering would desync query and index codes)")
    val half = thr.size / 2
    def pack(offset: Int): Long = {
      var acc = 0L; var j = 0
      while (j < half) {
        acc = acc * 2L + (if (v(offset + j) > thr(offset + j)) 1L else 0L)
        j += 1
      }
      acc
    }
    (pack(0), pack(half))
  }

  /** Binary retrieve-and-refine top-k: stage 1 ranks the PERSISTED
    * 16-byte/row binary index by Hamming distance to the query's code
    * (two XOR+popcount per row — integer-only, the cheapest candidate
    * generator in the family), keeps the nCand best (ties to the lower
    * vec_id), and stage 2 re-scores ONLY those candidates with exact
    * full-precision cosine against the raw vectors (the broadcast side
    * is the nCand-row candidate set, so the corpus never shuffles).
    * Plan: Scan(codes) → Project → TakeOrdered(nCand), then a
    * broadcast-hash join against the raw table → TakeOrdered(k). The
    * standard binary-quantization + rescoring pipeline (Qdrant/Weaviate
    * BQ practice, FAISS IndexBinaryFlat + refine).
    *
    * Recall is a corpus property, measured, not assumed: the oracled
    * `sim_binary_recall` gate row hash-pins the per-query top-10
    * overlap vs exact brute force (0.4–1.0, mean 0.675 on the
    * ISOTROPIC synthetic corpus — the adversarial case for sign bits,
    * which capture anisotropy that random vectors lack; trained
    * embedding models sit far higher in practice). The rerank stage
    * itself is LOSSLESS (spec-pinned): all loss is the Hamming cut.
    */
  def binaryTopK(codes: DataFrame, emb: DataFrame, query: IndexedSeq[Double],
      thr: IndexedSeq[Double], queryVecId: Long, nCand: Int, k: Int): DataFrame = {
    val (qlo, qhi) = binaryCode(query, thr)
    val cand = codes.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("hi").bitwiseXOR(lit(qhi)))).cast(LongType).as("hamming"))
      .orderBy(col("hamming").asc, col("vec_id"))
      .limit(nCand)
    refineTopK(cand, emb, query, k)
      .select(col("vec_id"), col("hamming"),
        round(col("cosine"), 6).as("bq_cosine_6dp"))
  }

  // ------------------------------------------------ matryoshka (prefix-dim)

  /** The matryoshka prefix index: only the first dPrefix dimensions of
    * each vector, persisted as their own column (Kusupati et al. 2022,
    * arXiv:2205.13147 — MRL embeddings are trained so prefixes are
    * usable sub-embeddings; OpenAI text-embedding-3 "dimensions"
    * practice). Materializing the prefix as its own stored column is
    * what turns the truncation into an IO lever: a stage-1 scan reads
    * dPrefix/d of the float bytes — at 100 TB and d' = d/4, three
    * quarters of the ANN scan IO disappears before any math runs.
    * (Cosine is scale-invariant, so the conventional renormalization
    * of truncated MRL vectors cannot change stage-1's ranking and is
    * deliberately omitted.)
    */
  def encodePrefix(emb: DataFrame, dPrefix: Int): DataFrame =
    emb.select(col("vec_id"), slice(col("e"), 1, dPrefix).as("ep"))

  /** Matryoshka retrieve-and-refine top-k: stage 1 ranks the persisted
    * prefix index by dPrefix-dim cosine (a quarter-width dot product
    * per row), keeps nCand candidates, and stage 2 re-scores only
    * those with exact full-dimension cosine — the same
    * broadcast-candidates shape as [[binaryTopK]], so the raw corpus
    * never shuffles. Output carries BOTH scores: the stage-1 prefix
    * cosine (what the index saw) and the exact cosine (what the user
    * gets).
    *
    * Recall is measured, not assumed: the oracled
    * `sim_matryoshka_recall` row hash-pins per-query overlap vs exact
    * (0.4–0.6 on the isotropic synthetic corpus, where a d/4 prefix
    * carries exactly 1/4 of the energy by construction — MRL-TRAINED
    * embeddings front-load information into the prefix, which is the
    * regime this index is built for). The rerank is lossless
    * (spec-pinned); all loss is the prefix candidate cut.
    */
  def matryoshkaTopK(prefixIdx: DataFrame, emb: DataFrame,
      query: IndexedSeq[Double], dPrefix: Int, queryVecId: Long,
      nCand: Int, k: Int): DataFrame = {
    val cand = prefixIdx.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        cosine(literal(query.take(dPrefix)), col("ep")).as("pcos"))
      .orderBy(col("pcos").desc, col("vec_id"))
      .limit(nCand)
    refineTopK(cand, emb, query, k)
      .select(col("vec_id"),
        round(col("pcos"), 6).as("prefix_cosine_6dp"),
        round(col("cosine"), 6).as("mrl_cosine_6dp"))
  }

  /** IVF query: probe the nProbe cells nearest to the query vector and
    * rank candidates only within them.
    */
  def ivfTopK(
      assigned: DataFrame,
      cents: DataFrame,
      queryVecId: Long,
      k: Int,
      nProbe: Int): DataFrame = {
    val q = assigned
      .filter(col("vec_id") === queryVecId)
      .select(col("e").as("qe"))
    val probeCells = cents
      .crossJoin(broadcast(q))
      .select(col("cell_id"), cosine(col("centroid"), col("qe")).as("sim"))
      .orderBy(col("sim").desc, col("cell_id"))
      .limit(nProbe)
      .select(col("cell_id"))
    assigned
      .filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probeCells), "cell_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("e"), col("qe")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------- k-means (Lloyd)

  /** One Lloyd update step for spherical k-means over the current
    * centroid set: assign every vector map-side ([[assignCells]] —
    * cosine argmax against unit-normalized centroids), then replace
    * each non-empty cell's centroid with the per-dimension mean of its
    * members; empty cells keep their previous centroid. Because
    * [[assignCells]] re-normalizes whatever it is given, the raw mean
    * is the OPTIMAL update for the spherical objective
    * Σᵢ max_c eᵢ·ĉ (for a fixed assignment the unit vector maximizing
    * Σ eᵢ·ĉ is the normalized cell sum), so the objective is
    * nondecreasing across iterations — the Lloyd guarantee.
    *
    * Scale shape per iteration: a pure Project over the scan (no join)
    * + one exchange keyed (cell_id, dim) whose payload is a single
    * double — partial-aggregated map-side, so the shuffle carries at
    * most k×dim rows per map partition regardless of corpus size. The
    * k×dim result is a bounded design dimension, collected like
    * [[centroidArrays]]. Means ride the fixed-point [[graft.Agg.dsum]]
    * path so training is deterministic across partitionings and runs.
    */
  def kmeansStep(emb: DataFrame,
      cRows: IndexedSeq[(Int, Seq[Double])]): IndexedSeq[(Int, Seq[Double])] = {
    val updated = assignCells(emb, cRows)
      .select(col("cell_id"), posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy(col("cell_id"), col("dim"))
      .agg(count(lit(1)).as("n"), graft.Agg.dsum(col("x"), 6).as("sx"))
      .select(col("cell_id"), col("dim"), (col("sx") / col("n")).as("c"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
    cRows.map { case (cell, old) => (cell, updated.getOrElse(cell, old)) }
  }

  /** Train k centroids: deterministic Lehmer-strided init
    * ([[centroids]]) refined by `iters` Lloyd steps. Centroid quality
    * directly sets IVF probe recall; the strided pick stays the
    * oracle-replicable default while this is the offline refinement a
    * deployment would run once per index build (FAISS `train()`
    * practice). Driver cost: `iters` bounded collects of k×dim rows.
    */
  def kmeansTrain(emb: DataFrame, nCells: Int,
      iters: Int): IndexedSeq[(Int, Seq[Double])] = {
    var c = centroidArrays(centroids(emb, nCells))
    var i = 0
    while (i < iters) { c = kmeansStep(emb, c); i += 1 }
    c
  }

  /** Dominant principal direction of the (uncentered) embedding cloud by
    * `iters` rounds of fixed-point power iteration — the spectral member
    * of the iterative fixed-point family next to label-propagation CC and
    * PageRank (ref: cudf's corpus-analytics role; the algorithm is the
    * classic v ← Xᵀ(Xv) normalized, von Mises iteration). A training-data
    * pipeline uses the top PC for embedding whitening diagnostics
    * (anisotropy checks) without an external linear-algebra system.
    *
    * All arithmetic is 64-bit integer so the result is bit-identical
    * across engines and partitionings:
    *   - xqᵢⱼ = floor(xᵢⱼ·10⁶); v starts at (10⁶, …, 10⁶);
    *   - per row, dotᵢ = Σⱼ xqᵢⱼ·vⱼ, then dsᵢ = dotᵢ div 10⁷ (one fixed
    *     down-shift keeps the next product long-safe);
    *   - uⱼ = Σᵢ xqᵢⱼ·dsᵢ, renormalized to micro-units by the L∞ norm
    *     (v = u div greatest(max|u| div 10⁶, 1)) — L∞ instead of L2
    *     avoids sqrt, which integer arithmetic cannot replicate.
    * Bounds (d = dims, B = max|x|, n = rows): |v| ≤ 2·10⁶, |dot| ≤
    * d·B·2·10¹², |ds| ≤ d·B·2·10⁵, |u| ≤ n·d·B²·2·10¹¹ — long-safe to
    * n ≈ 3·10⁵ at d = 64, B = 1; for larger corpora widen the ds shift.
    *
    * Scale shape: each iteration streams the corpus once — v rides a
    * broadcast 1-row cross join, the dot/ds products are map-side, and
    * the only exchange ships d-row partial sums (map-side combine on the
    * d-group groupBy). The sum order never matters (integer adds
    * commute), so the result is partitioning-independent. The L∞ max
    * folds into the SAME 1-row aggregate that collects the v array, so
    * each iteration references its predecessor exactly once — the
    * lineage is linear (iters + 1 corpus scans), never the 2^iters
    * blowup a separate max subtree would compound to.
    *
    * Output: one row per dimension, `(dim BIGINT, v_micro BIGINT)` with
    * max |v_micro| ≈ 10⁶ — the unnormalized direction (sign follows the
    * all-ones start vector deterministically).
    */
  def pcaPowerTopComponent(emb: DataFrame, iters: Int): DataFrame = {
    val xq = quantized(emb)
    val (d0, n0, mx) = xqStats(xq, "pcaPowerTopComponent")
    requireEnvelope(d0, n0, mx, "pcaPowerTopComponent")
    powerIterate(xq, d0, iters)
  }

  /** floor(x·10⁶) of each `embedding` element as a BIGINT array: the
    * fixed-point input of the PCA power loop and of the label centroids.
    */
  def quantizedEmb: Column =
    expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000D) AS BIGINT))")

  /** DuckDB twin of [[quantizedEmb]]. */
  val quantizedEmbSql: String =
    """list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))""".stripMargin

  /** The `xq` frame of [[quantizedEmb]]. */
  private def quantized(emb: DataFrame): DataFrame = emb.select(quantizedEmb.as("xq"))

  /** One-row scan: (dims, rows, max|xq|) — the same scan that sizes the
    * start vector, so the envelope guard costs no extra corpus pass.
    */
  private def xqStats(xq: DataFrame, who: String): (Int, Long, Long) = {
    val st = xq.agg(
      min(size(col("xq"))).as("d"),
      count(lit(1)).as("n"),
      greatest(max(expr(
        "aggregate(xq, CAST(0 AS BIGINT), (a, x) -> greatest(a, abs(x)))")),
        lit(1L)).as("mx")).head()
    require(st.getLong(1) > 0, s"$who: empty embedding input")
    (st.getInt(0), st.getLong(1), st.getLong(2))
  }

  /** Loud failure past the long-safe fixed-point envelope: beyond it
    * Spark's long sums wrap SILENTLY while DuckDB widens to HUGEINT, so
    * the engines would diverge with a plausible-looking direction.
    * Bounds from the doc comment with mx = max|xq| and |v| ≤ 2·10⁶:
    * |dot| ≤ d·mx·2·10⁶ and |u| ≤ n·d·mx²/5 — both must stay < 2⁶³.
    */
  private def requireEnvelope(d0: Int, n0: Long, mx: Long, who: String): Unit = {
    val lmax = BigInt(Long.MaxValue)
    require(BigInt(d0) * mx * 2000000 < lmax && BigInt(n0) * d0 * mx * mx / 5 < lmax,
      s"$who: rows=$n0 dims=$d0 max|xq|=$mx exceeds the " +
        "long-safe fixed-point envelope (|u| bound n*d*mx^2/5 or |dot| " +
        "bound d*mx*2e6 would overflow 2^63) — widen the ds down-shift")
  }

  /** The von Mises loop proper over a pre-quantized, envelope-checked
    * `xq` frame (see [[pcaPowerTopComponent]] for algorithm and bounds).
    */
  private def powerIterate(xq: DataFrame, d0: Int, iters: Int): DataFrame = {
    // Lineage cut, same as PageRank's edge frame (GraphOps) and Dedup's
    // label loop: the quantized corpus is materialized ONCE and each
    // iteration's 1-row v is checkpointed, so iteration i's plan is one
    // step deep instead of embedding all i-1 predecessors (the analyzer
    // re-resolved the whole compound tree per step — measurable driver
    // overhead even though execution was already linear). Values are
    // unchanged: checkpointing only truncates lineage.
    val xqc = graft.Materialize.step(xq, "Similarity.pcaInput")
    // Two choices of the iteration shape, values bit-identical throughout:
    //   1. the projection `ds` is the fused codegen dot (DotI64 — the
    //      same long multiply-add the interpreted zip_with fold
    //      performed) and the mat-vec step u = Σ xq·ds is ONE
    //      element-wise vector aggregate (VecDotSumAgg): each task
    //      folds its rows into a d-long buffer, partials merge
    //      element-wise — the previous shape exploded n·d (dim, x)
    //      rows through Generate + HashAggregate + a d-row exchange
    //      per iteration (long addition is order-free, so the sums are
    //      exactly the grouped sums);
    //   2. the direction vector v lives on the DRIVER between
    //      iterations — a bounded d-long dimension (the class
    //      pcaPowerTwoComponents already collects for its deflation
    //      literals), injected as literals into the next scan. One
    //      aggregate job per iteration replaces the
    //      crossJoin(broadcast(v)) + lazy-checkpoint chain, whose
    //      per-iteration broadcast + checkpoint materialization — not
    //      the 2000-row arithmetic — dominated the wall at bench SF.
    //      The normalization arithmetic (m = max(|u|) ∨ 1;
    //      vⱼ = uⱼ div (m div 10⁶ ∨ 1)) is the same exact long math,
    //      now in plain Scala.
    val vecDotSum = org.apache.spark.sql.functions.udaf(new graft.agg.VecDotSumAgg)
    var v: Array[Long] = Array.fill(d0)(1000000L)
    for (_ <- 1 to iters) {
      // one array Literal, not a d-element CreateArray — a d-ary
      // expression tree costs analyzer/codegen time on every iteration
      val vLit = typedlit[Seq[Long]](v.toIndexedSeq)
      val u = xqc
        .select(col("xq"),
          graft.functions.DotI64.doti64(col("xq"), vLit).as("raw"))
        .select(col("xq"), expr("raw div 10000000").as("ds"))
        .agg(vecDotSum(col("xq"), col("ds")).as("uarr"))
        .head().getSeq[Long](0).toArray
      val m = math.max(u.iterator.map(math.abs).max, 1L)
      val den = math.max(m / 1000000L, 1L)
      v = u.map(_ / den)
    }
    val spark = xq.sparkSession
    import spark.implicits._
    v.toIndexedSeq.zipWithIndex
      .map { case (x, i) => (i.toLong, x) }.toDF("dim", "v_micro")
  }

  /** Top TWO principal directions by deflation: v₁ from the power loop,
    * then every row is projected out of v₁ in fixed point —
    * c = (x·v₁) div 10⁶, x₂ⱼ = xⱼ − (c·v₁ⱼ) div (‖v₁‖² div 10⁶) —
    * and the SAME loop runs on the residual cloud for v₂. v₁ is a
    * bounded dimension (d rows) collected once driver-side and shipped
    * as literals, so deflation is a pure map over the corpus scan; the
    * residual frame re-checks its own envelope (its magnitudes can
    * exceed the input's). Deflation in exact integer arithmetic is what
    * keeps v₂ hash-identical to the DuckDB twin's 10-iteration unrolled
    * CTE. Output: (dim, v1_micro, v2_micro).
    *
    * The integer division makes the projection approximate (≤ 1 unit
    * per coordinate), so v₂ is the dominant direction of an
    * almost-deflated cloud — the standard trade the fixed-point policy
    * makes: bit-exact reproducibility over the last float digit.
    */
  def pcaPowerTwoComponents(emb: DataFrame, iters: Int): DataFrame = {
    val xq = quantized(emb)
    val (d0, n0, mx) = xqStats(xq, "pcaPowerTwoComponents")
    requireEnvelope(d0, n0, mx, "pcaPowerTwoComponents")
    // deflation product bound: |c·v₁ⱼ| ≤ (d·mx·2)·2·10⁶
    require(BigInt(d0) * mx * 4000000 < BigInt(Long.MaxValue),
      s"pcaPowerTwoComponents: dims=$d0 max|xq|=$mx overflows the " +
        "deflation product c*v1 — widen the projection down-shift")
    val v1 = powerIterate(xq, d0, iters)
      .orderBy(col("dim")).collect().map(_.getLong(1))
    val n1sq = v1.map(x => x * x).sum // ≤ d·(2e6)² ≈ 2.6e14, long-safe
    val den = math.max(n1sq / 1000000L, 1L)
    val x2 = xq
      .withColumn("v1a", array(v1.map(lit(_)).toIndexedSeq: _*))
      .withColumn("c",
        graft.functions.DotI64.doti64(col("xq"), col("v1a")))
      .withColumn("c", expr("c div 1000000"))
      .select(expr(
        s"transform(sequence(1, size(xq)), j -> xq[j - 1] - (c * v1a[j - 1]) div ${den}L)")
        .as("xq"))
    val (d2, n2, mx2) = xqStats(x2, "pcaPowerTwoComponents(residual)")
    requireEnvelope(d2, n2, mx2, "pcaPowerTwoComponents(residual)")
    val spark = emb.sparkSession
    import spark.implicits._
    val v1df = v1.toIndexedSeq.zipWithIndex
      .map { case (x, i) => (i.toLong, x) }.toDF("dim", "v1_micro")
    v1df.join(
      powerIterate(x2, d2, iters).withColumnRenamed("v_micro", "v2_micro"),
      "dim")
  }

  // DuckDB twins of the fixed-point power loop. Every op is BIGINT
  // (floor, //, abs, max, sum), so each value is the Spark loop's long.
  // DuckDB's recursive CTEs forbid aggregates in the recursive arm, so
  // the loop is unrolled into one CTE trio per iteration. Each CTE is
  // MATERIALIZED: the next iteration and the deflation read its rows,
  // not a re-expansion of its plan.

  /** Twin of [[quantized]] plus the loop's dimensions: `dd(d)`, `xq(xq)`
    * and `dims(dim)`, 0 until d.
    */
  private val pcaInputCtes =
    s"""dd AS MATERIALIZED (SELECT min(len(embedding)) AS d FROM embeddings),
      |xq AS MATERIALIZED (
      |  SELECT $quantizedEmbSql AS xq
      |  FROM embeddings),
      |dims AS MATERIALIZED (SELECT unnest(range(0, (SELECT d FROM dd))) AS dim)""".stripMargin

  /** v = u div greatest(max|u| div 10⁶, 1), over a `u` row and its `m`. */
  private val renormSql = "u // greatest(m // 1000000, 1)"

  /** Twin of [[powerIterate]] over the `xq` lists of `src`, every CTE
    * name prefixed `p`: the start vector `v0`, then per iteration i the
    * projections `di`, the mat-vec `ui(dim, u)`, its L∞ norm `mi` and
    * the next direction `vi`.
    */
  private def powerIterateCtes(src: String, p: String, iters: Int): String = {
    val step = (i: Int) =>
      s"""${p}d$i AS MATERIALIZED (
         |  SELECT xq, ${longDotSql("xq", "v")} // 10000000 AS ds
         |  FROM $src, ${p}v${i - 1}),
         |${p}u$i AS MATERIALIZED (
         |  SELECT dim, sum(xq[dim + 1] * ds) AS u FROM ${p}d$i, dims GROUP BY dim),
         |${p}m$i AS MATERIALIZED (SELECT greatest(max(abs(u)), 1) AS m FROM ${p}u$i),
         |${p}v$i AS MATERIALIZED (
         |  SELECT list(($renormSql) ORDER BY dim) AS v
         |  FROM ${p}u$i, ${p}m$i GROUP BY m)""".stripMargin
    s"""${p}v0 AS MATERIALIZED (
       |  SELECT list_transform(range(1, d + 1), i -> CAST(1000000 AS BIGINT)) AS v
       |  FROM dd),
       |${(1 to iters).map(step).mkString(",\n")}""".stripMargin
  }

  /** The last direction of the loop prefixed `p`, as (dim, `as`). */
  private def directionSql(p: String, iters: Int, as: String): String =
    s"SELECT dim, CAST($renormSql AS BIGINT) AS $as FROM ${p}u$iters, ${p}m$iters"

  /** DuckDB twin of [[pcaPowerTopComponent]]: (dim, v_micro). */
  def pcaPowerTopComponentSql(iters: Int): String =
    s"""WITH $pcaInputCtes,
       |${powerIterateCtes("xq", "", iters)}
       |${directionSql("", iters, "v_micro")}""".stripMargin

  /** DuckDB twin of [[pcaPowerTwoComponents]]: the loop, the fixed-point
    * deflation of every row out of v₁, and the loop again on the
    * residual; (dim, v1_micro, v2_micro).
    */
  def pcaPowerTwoComponentsSql(iters: Int): String =
    s"""WITH $pcaInputCtes,
       |${powerIterateCtes("xq", "", iters)},
       |n1 AS MATERIALIZED (
       |  SELECT greatest(${longSqNormSql("v")} // 1000000, 1) AS den
       |  FROM v$iters),
       |xq2 AS MATERIALIZED (
       |  SELECT list_transform(range(1, len(xq) + 1),
       |      j -> xq[j] - (c * v[j]) // den) AS xq
       |  FROM (
       |    SELECT xq, v, den, ${longDotSql("xq", "v")} // 1000000 AS c
       |    FROM xq, v$iters, n1)),
       |${powerIterateCtes("xq2", "b", iters)}
       |SELECT a.dim, a.v1_micro, b.v2_micro
       |FROM (${directionSql("", iters, "v1_micro")}) a
       |JOIN (${directionSql("b", iters, "v2_micro")}) b USING (dim)""".stripMargin

  /** Spherical k-means objective Σᵢ max_c eᵢ·ĉ (higher is better),
    * fixed-point-summed for cross-run determinism. The monotonicity
    * witness for [[kmeansStep]]'s Lloyd property.
    */
  def kmeansObjective(emb: DataFrame,
      cRows: IndexedSeq[(Int, Seq[Double])]): Double = {
    emb
      .select(col("vec_id"), embDouble.as("e"))
      .select(array_max(unitDots(col("e"), cRows.map(_._2))).as("m"))
      .agg(graft.Agg.dsum(col("m"), 6).as("j"))
      .head().getDouble(0)
  }
}
