package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale probe, two axes per factor N:
  *
  * 1. WORST-CASE (replicated corpus): N× copies with identical texts —
  *    every document becomes an exact near-dup cluster of size N, every
  *    band bucket holds all N replicas. Stresses bucket joins, pair
  *    scoring, and label propagation at their degenerate extreme.
  * 2. REALISTIC (distinct corpus): N× copies with a per-replica salt
  *    appended to every token, so every 3-gram shingle differs across
  *    replicas and bucket occupancy stays realistic (no cross-replica
  *    candidates; the intra-replica dup structure is preserved). This
  *    is the axis that should track production growth: near-linear
  *    wall time with out_docs = N × dedup(base).
  *
  * Output: one JSON line per (probe, factor) with wall time and the
  * dedup invariant. Evidence for SCALING.md: near-linear wall-time
  * growth + intact invariants ⇒ no quadratic blow-up hiding in the
  * pipeline on either axis.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [factors csv, default 1,4,8]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "none" skips the replication-factor sweep (runs only the
    // factor-independent axes, e.g. grouped_scan_offsets)
    val factors = args.lift(1).getOrElse("1,4,8") match {
      case "none" => Array.empty[Int]
      case s => s.split(",").map(_.trim.toInt)
    }
    val spark = Harness.session()

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val baseN = docs.count()

    // Local-iteration hook (mirrors Bench's SPARK_GRAFT_BENCH_ONLY):
    // SPARK_GRAFT_PROBE_ONLY=name1,name2 runs just those axes. The
    // driver leaves it unset, so official probe sweeps cover every axis.
    val onlyAxes = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def axis(name: String)(body: => Unit): Unit =
      if (onlyAxes.forall(_.contains(name))) body

    // Replica builders. Copy i of a key column moves to the disjoint id
    // range i·1e9; copy i of a text salts every token with `_r<i>`, so no
    // shingle is shared across copies; copy i of a vector column flips
    // signs by a per-copy ±1 mask — an isometry that keeps within-copy
    // cosines exactly and scatters copies apart. Copy 0 is the base.
    def replicas(df: DataFrame, f: Int)(copy: Int => Seq[Column]): DataFrame =
      (0 until f).map(i => df.select(copy(i): _*)).reduce(_ union _)
    def shifted(c: String, i: Int): Column = (col(c) + lit(i.toLong * 1000000000L)).as(c)
    def salted(i: Int): Column =
      if (i == 0) col("text")
      else expr(s"concat_ws(' ', transform(split(text, ' '), t -> concat(t, '_r$i')))")
    def signMasked(c: String, i: Int): Column =
      (if (i == 0) col(c)
       else expr(s"transform($c, (x, j) -> x * CASE WHEN pmod(hash(j, $i), 2) = 0 THEN 1.0D ELSE -1.0D END)")).as(c)

    def probe(name: String, f: Int, big: DataFrame): Unit = {
      val (outN, t) = Harness.measure(name) {
        val pairs = queries.LlmOps
          .lshCandidatePairs(big, maxBucket = 1000)
          .filter(col("est_jaccard") >= 0.75)
          .select(col("id_a"), col("id_b"))
        operators.Dedup.dedupCorpus(big, pairs).count()
      }
      println(
        f"""{"probe":"$name","factor":$f,"n_docs":${baseN * f},"out_docs":$outN,"secs":${t.secs}%.2f}""")
    }

    // pack_sequences skew axis: replicate into ONE lang stream (every
    // replica keeps the base lang distribution, which is already ~5
    // langs — the giant-stream worst case is all replicas of the most
    // common lang landing in one sorted partition scan). Wall time
    // should stay near-linear: packing is a single forward scan per
    // key, so a hot key costs O(its rows), never O(rows²).
    def probePack(f: Int): Unit = {
      val langDocs = Tables
        .documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
      val big = replicas(langDocs, f)(i => Seq(shifted("doc_id", i), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          size(split(coalesce(col("text"), lit("")), " ")).cast("long").as("n_toks"))
      val ((nPacks, rows), t) = Harness.measure("pack_sequences") {
        val packed = operators.Packing
          .packGreedy(big, "lang", Seq("doc_id"), "n_toks", budget = 200L)
        (packed.groupBy(col("lang")).agg(max(col("pack_id"))).count(), packed.count())
      }
      println(
        f"""{"probe":"pack_sequences","factor":$f,"n_docs":${baseN * f},"rows":$rows,"streams":$nPacks,"secs":${t.secs}%.2f}""")
    }

    // tfidf skew axis: a corpus-wide hot token appended to EVERY doc of
    // every replica — its (tok) df row aggregates n_docs values and its
    // tf rows appear once per doc. The shuffles stay compact because tf
    // pre-aggregates per (doc, tok) map-side; the hot token stresses the
    // df aggregation and the join fan-out on the "tok" key.
    def probeTfidf(f: Int): Unit = {
      val big = replicas(docs, f)(i =>
        Seq(shifted("doc_id", i), concat(salted(i), lit(" hottoken")).as("text")))
      val (out, t) = Harness.measure("tfidf_topk_hot")(
        queries.LlmOps.tfidfTopkOver(big, k = 5).count())
      println(
        f"""{"probe":"tfidf_topk_hot","factor":$f,"n_docs":${baseN * f},"out_rows":$out,"secs":${t.secs}%.2f}""")
    }

    // incremental-dedup axis: the DELTA stays fixed (the base corpus'
    // doc_id%10=0 slice) while the indexed corpus grows ×N with salted
    // distinct replicas. The claim under test is the persisted-index
    // contract: the daily delta query re-bands only ITSELF and streams
    // the compact (band,bucket,id) index — so delta_secs should grow
    // far slower than the corpus, and the matched-pair count stays
    // CONSTANT (salted replicas share no shingles with the delta).
    // Index build time is reported separately: it is the once-per-batch
    // amortized cost, not the steady state.
    def probeIncremental(f: Int): Unit = {
      val corpusBase = docs.filter(col("doc_id") % 10 =!= 0)
      val corpus = replicas(corpusBase, f)(i => Seq(shifted("doc_id", i), salted(i).as("text")))
      val delta = docs.filter(col("doc_id") % 10 === 0)
      val p = System.getProperty("java.io.tmpdir") + s"/graft_lshidx_probe_$f"
      val (_, build) = Harness.measure("lsh_index")(queries.LlmOps.buildLshIndex(corpus, p))
      val (nPairs, t) = Harness.measure("incremental_lsh")(
        queries.LlmOps.incrementalLshPairs(spark, delta, p).count())
      println(
        f"""{"probe":"incremental_lsh","factor":$f,"corpus_docs":${corpus.count()},"pairs":$nPairs,"build_secs":${build.secs}%.2f,"delta_secs":${t.secs}%.2f}""")
    }

    // substring-dedup axis, worst case: identical replicas make EVERY
    // window corpus-duplicated, so the flag join passes the whole
    // exploded corpus through (nothing prunes) and every doc collapses
    // to one maximal span. The count shuffle still ships one row per
    // DISTINCT window (constant across factors — map-side combine eats
    // the replication), so wall time should track the linear explode +
    // flag-join volume, never a pair blowup. out_spans = windowable
    // docs × f is the correctness invariant printed alongside.
    def probeSubstring(f: Int, big: DataFrame): Unit = {
      val (outSpans, t) = Harness.measure("substring_spans")(
        queries.LlmOps.substringSpans(big, W = 8).count())
      println(
        f"""{"probe":"substring_spans","factor":$f,"n_docs":${baseN * f},"out_spans":$outSpans,"secs":${t.secs}%.2f}""")
    }

    // pca axis: replicate the EMBEDDINGS table N× (fresh vec_ids). The
    // Gram matrix scales by exactly N, so the dominant direction is
    // mathematically invariant — the probe prints wall time (should be
    // ~linear: each iteration is one corpus stream + a d-row exchange)
    // and the max per-dim deviation vs the 1× direction in micro-units
    // (should stay within integer-truncation noise, NOT grow with N —
    // the partition/replication-invariance witness for the fixed-point
    // arithmetic).
    val embBase = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val pcaRef = new scala.collection.mutable.HashMap[Long, Long]()
    def probePca(f: Int): Unit = {
      val big = replicas(embBase, f)(i => Seq(shifted("vec_id", i), col("embedding")))
      val (v, t) = Harness.measure("pca_power")(
        operators.Similarity.pcaPowerTopComponent(big, iters = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
      if (f == factors.min) pcaRef ++= v
      val maxDev =
        if (pcaRef.isEmpty) 0L
        else v.map { case (d, x) => math.abs(x - pcaRef.getOrElse(d, x)) }.max
      println(
        f"""{"probe":"pca_power","factor":$f,"n_vecs":${embBase.count() * f},"max_dev_micro":$maxDev,"secs":${t.secs}%.2f}""")
    }

    // CMS axis: counters over an N×-replicated corpus must be EXACTLY
    // N× the base counters — counts are linear in the stream, which is
    // simultaneously the cell-wise shard-merge property and a
    // determinism witness (any partition-order dependence would break
    // exact N-multiplicity). State is the fixed 4×1024 matrix at every
    // factor, so wall time tracks the token stream, never the sketch.
    val cmsRef = new scala.collection.mutable.HashMap[(Int, Long), Long]()
    def probeCms(f: Int, big: DataFrame): Unit = {
      val (cells, t) = Harness.measure("cms_cells")(queries.Curation.cmsCellCounts(big)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap)
      if (f == factors.min) cmsRef ++= cells.map { case (k, v) => k -> (v / f) }
      val maxDev =
        if (cmsRef.isEmpty) -1L
        else cells.map { case (k, v) =>
          math.abs(v - f * cmsRef.getOrElse(k, 0L))
        }.maxOption.getOrElse(-1L)
      println(
        f"""{"probe":"cms_cells","factor":$f,"cells":${cells.size},"max_dev":$maxDev,"secs":${t.secs}%.2f}""")
    }

    // bm25 axis: replicate the corpus N× (fresh doc_ids). Every factor
    // in the micro-score formula (tf, dl fixed; df, N, SL all ×f)
    // scales so the per-term ratio is EXACTLY invariant — the base
    // docs' scores must come back unchanged to the micro-unit, and the
    // query-term pick (df-ranked) must be stable. A max_dev of 0 is
    // simultaneously a determinism witness and the shard-merge
    // property (a replicated corpus IS f merged shards).
    val bm25Ref = new scala.collection.mutable.HashMap[Long, Long]()
    def probeBm25(f: Int, big: DataFrame): Unit = {
      val (scores, t) = Harness.measure("bm25_invariance")(queries.Retrieval.bm25ScoresOver(big)
        .filter(col("doc_id") < 1000000000L)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("bm25_micro")).toMap)
      if (f == factors.min) bm25Ref ++= scores
      // missing keys are tracked as their own failure signal — folding
      // them into the dev via a Long.MinValue sentinel would overflow
      // math.abs and could report a genuine violation (a new doc
      // entering the scored set) as a negative/absurd dev
      val unseen =
        if (bm25Ref.isEmpty) 0
        else scores.count { case (k, _) => !bm25Ref.contains(k) }
      val maxDev =
        if (bm25Ref.isEmpty) -1L
        else scores.collect { case (k, v) if bm25Ref.contains(k) =>
          math.abs(v - bm25Ref(k))
        }.maxOption.getOrElse(-1L)
      println(
        f"""{"probe":"bm25_invariance","factor":$f,"scored_docs":${scores.size},"max_dev":$maxDev,"unseen_docs":$unseen,"secs":${t.secs}%.2f}""")
    }

    // postings axis: under N× replication the vocabulary is fixed, df
    // multiplies EXACTLY by N (count linearity), and the capped posting
    // list stays ≤ 20 entries — the bounded-row-width guarantee that
    // makes a stop-word token safe at any corpus size.
    val dfRef = new scala.collection.mutable.HashMap[String, Long]()
    def probePostings(f: Int, big: DataFrame): Unit = {
      val (rows, t) = Harness.measure("postings")(queries.Retrieval.postingsOver(big)
        .collect().map(r => (r.getString(0),
          r.getAs[Long]("df"), r.getAs[String]("postings"))).toSeq)
      if (f == factors.min) dfRef ++= rows.map(r => r._1 -> r._2 / f)
      // compare ONLY tokens already visible at the reference factor:
      // postingsOver prunes df < 5, so replication legitimately grows
      // the visible vocabulary (a base df-2 token crosses the prune at
      // f >= 3) — linearity is a per-token law, not a vocab-set law
      val maxDev =
        if (dfRef.isEmpty) -1L
        else rows.collect { case (t, df, _) if dfRef.contains(t) =>
          math.abs(df - f * dfRef(t))
        }.maxOption.getOrElse(-1L)
      val maxLen = rows.map(_._3.count(_ == '|') + 1).maxOption.getOrElse(0)
      println(
        f"""{"probe":"postings","factor":$f,"vocab":${rows.size},"max_df_dev":$maxDev,"max_postings":$maxLen,"secs":${t.secs}%.2f}""")
    }

    // triangles axis: replicate ORDERS (shifted orderkeys, identical
    // part composition and dates) — the fact stream grows N× but the
    // distinct co-purchase edge set is IDENTICAL, so the triangle count
    // and clustering coefficient must be bit-invariant at every factor:
    // the distinct-edge collapse absorbs input duplication before the
    // quadratic-looking wedge stage ever sees it.
    var triRef = -1L
    // replica shift derived from the data, not a constant: a hardcoded
    // 1e9 would collide with real orderkeys at large SF and merge
    // lineitems of different orders into spurious edges
    lazy val orderkeyShift = Tables.orders(spark, sfDir)
      .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    lazy val lineitemBaseRows = Tables.lineitem(spark, sfDir).count()
    def probeTriangles(f: Int): Unit = {
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
      val bigO = (0 until f).map(i => orders.select(
          (col("o_orderkey") + lit(i.toLong * orderkeyShift)).as("o_orderkey"),
          col("o_orderdate"))).reduce(_ union _)
      val bigL = (0 until f).map(i => li.select(
          (col("l_orderkey") + lit(i.toLong * orderkeyShift)).as("l_orderkey"),
          col("l_partkey"))).reduce(_ union _)
      val (r, t) = Harness.measure("triangles")(queries.GraphOps.trianglesOver(bigL, bigO).head())
      val tri = r.getAs[Long]("n_triangles")
      if (f == factors.min) triRef = tri
      val dev = if (triRef < 0) -1L else math.abs(tri - triRef)
      println(
        f"""{"probe":"triangles","factor":$f,"lineitem_rows":${f * lineitemBaseRows},"n_triangles":$tri,"dev":$dev,"secs":${t.secs}%.2f}""")
    }

    // wedge-cap axis: a synthetic star hub whose degree GROWS with the
    // factor (20000·f leaves) plus a small clique of real structure.
    // Uncapped, the hub alone would emit d·(d−1)/2 ≈ 2·10⁸·f² wedge
    // candidates; with GraphOps.wedgeCap the law is
    // min(d, cap)·(min(d, cap) − 1)/2 — CONSTANT in f once d > cap.
    // The probe prints the actual candidate count next to that bound;
    // equality is the boundedness witness for graph_link_predict under
    // power-law degree skew.
    def probeWedgeCap(f: Int): Unit = {
      import spark.implicits._
      val d = 20000L * f
      val cap = queries.GraphOps.wedgeCap.toLong
      val hub = spark.range(1, d + 1)
        .select(lit(0L).as("a"), col("id").as("b"))
      val clique = spark.range(1, 6).as[Long].flatMap(i =>
        ((i + 1) to 6).map(j => (i + 1000000000L, j + 1000000000L)))
        .toDF("a", "b")
      val (candidates, t) = Harness.measure("wedge_cap")(queries.GraphOps
        .cappedWedgeCandidates(hub.unionByName(clique)).count())
      val m = math.min(d, cap)
      val hubBound = m * (m - 1) / 2
      println(
        f"""{"probe":"wedge_cap","factor":$f,"hub_degree":$d,"candidates":$candidates,"hub_bound":$hubBound,"secs":${t.secs}%.2f}""")
    }

    // funnel invariance axis: replicate the FULL (doc_id, text, lang)
    // table with fresh ids and identical payloads. Law under test:
    // stage 0-2 counts scale exactly ×f (per-row predicates), stage 3-5
    // counts are EXACTLY constant — exact dedup collapses every replica
    // onto the original min id, so near-dedup and decontamination see
    // the identical corpus at every factor. Any nonzero deviation is a
    // composition bug (e.g. a stage accidentally keyed on doc_id).
    val funnelBase = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def probeFunnel(f: Int): Unit = {
      val full = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"))
      val big = replicas(full, f)(i => Seq(shifted("doc_id", i), col("text"), col("lang")))
      val (rows, t) = Harness.measure("funnel_invariance")(queries.PipelineOps.funnelOver(big)
        .collect()
        .map(r => (r.getAs[String]("stage"),
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))))
        .toMap)
      if (f == factors.min && funnelBase.isEmpty) funnelBase ++= rows
      val devs = rows.map { case (stage, (nd, nt)) =>
        val (bd, bt) = funnelBase.getOrElse(stage, (-1L, -1L))
        val scale = if (stage < "3") f.toLong / factors.min else 1L
        math.max(math.abs(nd - bd * scale), math.abs(nt - bt * scale))
      }.max
      println(
        f"""{"probe":"funnel_invariance","factor":$f,"final_docs":${rows("5_decontaminated")._1},"max_dev":$devs,"secs":${t.secs}%.2f}""")
    }

    // grouped-scan skew axis (r14, the weighted-median done-criterion
    // from r11): every replica beyond the first is forced into ONE hot
    // returnflag group — the bounded-key frame a plain
    // `PARTITION BY l_returnflag` window would funnel through a single
    // task, growing that task ×f. The grouped prefix scan
    // (GlobalOrder.groupedCumSum) range-partitions on (group ++ order),
    // so the hot group spreads across range partitions: wall time must
    // stay near-linear in TOTAL rows. Correctness invariant printed
    // alongside: the COLD groups' (total_weight, wmedian_price) rows
    // must be bit-identical to the 1× run at every factor — their rows
    // exist only in replica 0, so any deviation is a scan bug, not
    // skew.
    lazy val liOrderShift = Tables.lineitem(spark, sfDir)
      .agg(max(col("l_orderkey"))).head().getLong(0) + 1L
    var wmBase: Map[String, (Long, Double)] = Map.empty
    def probeWeightedMedianSkew(f: Int): Unit = {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
      val big = (0 until f).map { i =>
        if (i == 0) li
        else li.select(lit("N").as("l_returnflag"), col("l_extendedprice"),
          (col("l_orderkey") + lit(i * liOrderShift)).as("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
      }.reduce(_ unionByName _)
      val (rows, t) = Harness.measure("weighted_median_skew")(
        queries.Aggregates.weightedMedianOver(big).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap)
      if (f == factors.min) wmBase = rows
      val coldDev = rows.iterator
        .filter { case (k, _) => k != "N" }
        .count { case (k, v) => !wmBase.get(k).contains(v) }
      println(
        f"""{"probe":"weighted_median_skew","factor":$f,"hot_weight":${rows("N")._1},"cold_dev":$coldDev,"secs":${t.secs}%.2f}""")
    }

    // streaming-state axis (r14): replay an f×-replicated event stream
    // (fresh event_ids, IDENTICAL users/timestamps) through the two
    // bounded-state streaming sketches. Laws under test:
    //   - stream CMS: every one of the fixed 4×1024 cells must be
    //     EXACTLY f× its base count (count linearity = shard-merge
    //     property = replay-order independence), state never grows;
    //   - stream windowed KMV: per-day est_distinct must be INVARIANT
    //     (replicas add no new users — a distinct sketch that drifted
    //     under duplication would be wrong at any scale), while
    //     n_events scales exactly f×.
    // Wall time should track the replayed volume linearly — the
    // evidence that the streaming path's state stays sketch-sized while
    // throughput is input-bound, the contract an unbounded 100 TB/day
    // broker source depends on.
    val streamCmsRef = new scala.collection.mutable.HashMap[(Int, Long), Long]()
    var streamKmvRef: Map[Long, Long] = Map.empty
    def probeStreamSketch(f: Int): Unit = {
      import graft.streaming.Streams
      val ev = Tables.events(spark, sfDir)
        .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
      val big = replicas(ev, f)(i =>
        ev.columns.toSeq.map(c => if (c == "event_id") shifted(c, i) else col(c)))
      val d = java.nio.file.Files
        .createTempDirectory(s"graft-probe-stream-$f").toString
      big.repartition(8).write.mode("overwrite").parquet(d)
      val ((cells, kmv), t) = Harness.measure("stream_sketch") {
        (Streams.runToCompletion(spark,
            Streams.cmsCounters(Streams.readEventStream(spark, d)),
            s"probe_stream_cms_$f", "complete")
          .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap,
        Streams.runToCompletion(spark,
            Streams.kmvWindowDistinct(Streams.readEventStream(spark, d)),
            s"probe_stream_kmv_$f", "complete")
          .select(expr("unix_micros(win_start)"), col("est_distinct"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }
      if (f == factors.min) {
        streamCmsRef ++= cells.map { case (k, v) => k -> (v / f) }
        streamKmvRef = kmv
      }
      val cmsDev = cells.map { case (k, v) =>
        math.abs(v - f * streamCmsRef.getOrElse(k, 0L))
      }.maxOption.getOrElse(-1L)
      val kmvDev = kmv.count { case (w, e) =>
        !streamKmvRef.get(w).contains(e)
      }
      println(
        f"""{"probe":"stream_sketch","factor":$f,"events":${big.count()},"cms_cells":${cells.size},"cms_dev":$cmsDev,"kmv_windows":${kmv.size},"kmv_dev":$kmvDev,"secs":${t.secs}%.2f}""")
    }

    // SemDeDup k ∝ N axis (r18, verdict task 2): `semanticDedupKeep`'s
    // 100 TB contract — until now prose in its docstring — is that the
    // cell count grows with the corpus (the paper's 50k-cells-over-5B-
    // embeddings regime) so per-cell population, and with it the
    // per-cell pairwise quadratic, stays CONSTANT. Corpus growth here:
    // replica i applies a deterministic per-replica ±1 sign mask
    // (hash(dim, i) parity). A sign mask is an ISOMETRY — within-replica
    // cosines are exactly the base corpus' cosines, so the true
    // near-pair structure replicates exactly ×f (linear, never ×f²) —
    // while cross-replica cosines collapse toward 0 (≈50% sign
    // disagreement), keeping replicas apart in space. With k = 8·f
    // centroids (the gate's k = 8 at factor 1), laws under test:
    //   - max cell population stays in the base regime (bounded, not ×f);
    //   - candidate pairs Σ_cell pop·(pop−1)/2 — the quadratic the cells
    //     bound — grows ~linearly in N;
    //   - true near pairs (sum n_near / 2) ≈ f × base (isometry law);
    //   - wall sublinear-to-linear in N.
    // the embeddings as double vectors, the input of every vector axis
    val baseEmb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    def semDedupStats(big: DataFrame, cRows: IndexedSeq[(Int, Seq[Double])],
        tau: Double) =
      operators.Similarity.semanticDedupKeep(big, cRows, tau)
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept"),
          sum(col("n_near")).as("near2")).head()
    var semBaseNearPairs = -1L
    var semBaseAllPairs = -1L // cell-free ≥τ pair count of the base corpus
    val tauSem = 0.35 // the gate instance's τ
    def probeSemDedup(f: Int): Unit = {
      val big = replicas(baseEmb, f)(i => Seq(shifted("vec_id", i), signMasked("embedding", i)))
      val k = 8 * f
      // centroid pick is the offline once-per-index-build step (the gate
      // DimCaches it); untimed here for the same reason
      val cRows = operators.Similarity.centroidArrays(
        operators.Similarity.centroids(big, nCells = k))
      val (stats, t) = Harness.measure("semdedup_k_prop_n")(semDedupStats(big, cRows, tauSem))
      val (nVecs, kept, nearPairs) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(2) / 2)
      if (f == factors.min) semBaseNearPairs = nearPairs / f
      // untimed evidence pass 1: the per-cell populations that bound the
      // within-cell quadratic
      val assigned = operators.Similarity.assignCells(big, cRows)
      val cells = assigned
        .groupBy(col("cell_id")).agg(count(lit(1)).as("pop"))
        .agg(max(col("pop")).as("max_pop"),
          sum(expr("(pop * (pop - 1)) DIV 2")).as("cand_pairs")).head()
      // untimed evidence pass 2: split the found near pairs into
      // within-replica (the real near-dup structure — the isometry
      // replicates it ×f; cell refinement at k ∝ N may split a few
      // pairs across cells, the paper's cluster-granularity recall
      // tradeoff) vs cross-replica (chance cosine crossings of the
      // random ±1 masks at τ — a property of this synthetic scaffold,
      // not of the operator; bounded by cand_pairs either way)
      val a = assigned.select(col("cell_id"), col("vec_id").as("id_a"), col("e").as("ea"))
      val b = assigned.select(col("cell_id"), col("vec_id").as("id_b"), col("e").as("eb"))
      val split = a.join(b, Seq("cell_id")).filter(col("id_a") < col("id_b"))
        .withColumn("cos",
          expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
            (sqrt(expr("aggregate(ea, 0D, (acc, v) -> acc + v * v)")) *
              sqrt(expr("aggregate(eb, 0D, (acc, v) -> acc + v * v)"))))
        .filter(col("cos") >= tauSem)
        .agg(
          sum(when(expr("id_a DIV 1000000000") === expr("id_b DIV 1000000000"), 1L)
            .otherwise(0L)).as("within"),
          sum(when(expr("id_a DIV 1000000000") =!= expr("id_b DIV 1000000000"), 1L)
            .otherwise(0L)).as("cross")).head()
      val (within, cross) =
        (Option(split.get(0)).fold(0L)(_ => split.getLong(0)),
          Option(split.get(1)).fold(0L)(_ => split.getLong(1)))
      // recall denominator, computed once on the base corpus: the
      // cell-FREE ≥τ pair count. By the sign-mask isometry the f×
      // corpus's true within-replica pair count is exactly f × this, so
      // within/(f·allBase) IS the operator's pair recall at this cell
      // granularity — the tradeoff the paper tunes with cluster count.
      if (semBaseAllPairs < 0) {
        val ba = baseEmb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
        val bb = baseEmb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
        semBaseAllPairs = ba.crossJoin(bb).filter(col("id_a") < col("id_b"))
          .withColumn("cos",
            expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
              (sqrt(expr("aggregate(ea, 0D, (acc, v) -> acc + v * v)")) *
                sqrt(expr("aggregate(eb, 0D, (acc, v) -> acc + v * v)"))))
          .filter(col("cos") >= tauSem).count()
      }
      // -1 sentinel when the base corpus has no cell-free ≥τ pairs at
      // this (sf, τ): a zero denominator would print NaN/Infinity via
      // %.1f — invalid JSON (r18 ADVICE; matches semBaseNearPairs' -1
      // convention)
      val recallPct =
        if (semBaseAllPairs <= 0) -1.0
        else 100.0 * within / (f.toDouble * semBaseAllPairs)
      println(
        f"""{"probe":"semdedup_k_prop_n","factor":$f,"n_vecs":$nVecs,"k":$k,"max_cell_pop":${cells.getLong(0)},"cand_pairs":${cells.getLong(1)},"near_pairs":$nearPairs,"within_replica_pairs":$within,"cross_replica_pairs":$cross,"within_per_replica":${within / f},"base_all_pairs":$semBaseAllPairs,"pair_recall_pct":$recallPct%.1f,"base_near_pairs":$semBaseNearPairs,"kept":$kept,"secs":${t.secs}%.2f}""")
    }

    // Planted-dup arm of the SemDeDup axis: the low-τ arm above measures
    // the adversarial regime (mid-cosine pairs are exactly what finer
    // cells split). The PAPER's regime is semantic near-dups at cos → 1 —
    // near-coincident points no reasonable cell granularity separates.
    // Plant one ε-scaled copy (cos ≈ 0.999998) of every base vector
    // inside each replica and run the operator at τ = 0.95: pair recall
    // must stay ~flat as k ∝ N — the measured form of "high-τ dups
    // survive cluster refinement".
    def probeSemDedupPlanted(f: Int): Unit = {
      val nBase = baseEmb.count()
      val planted = baseEmb.select(
        (col("vec_id") + lit(500000000L)).as("vec_id"),
        expr("transform(embedding, (x, j) -> x * CASE WHEN j % 2 = 0 THEN 1.001D ELSE 0.999D END)")
          .as("embedding"))
      val rep = baseEmb.union(planted)
      val big = replicas(rep, f)(i => Seq(shifted("vec_id", i), signMasked("embedding", i)))
      val k = 8 * f
      val cRows = operators.Similarity.centroidArrays(
        operators.Similarity.centroids(big, nCells = k))
      val (stats, t) = Harness.measure("semdedup_planted_recall")(semDedupStats(big, cRows, 0.95))
      val found = stats.getLong(2) / 2
      val plantedPairs = nBase * f
      println(
        f"""{"probe":"semdedup_planted_recall","factor":$f,"n_vecs":${stats.getLong(0)},"k":$k,"planted_pairs":$plantedPairs,"found_pairs":$found,"recall_pct":${100.0 * found / plantedPairs}%.1f,"kept":${stats.getLong(1)},"secs":${t.secs}%.2f}""")
    }

    // Streaming SemDeDup axis (r19, verdict task 4): the batch twin has
    // the k ∝ N ladder; this gives `Streams.semanticDedupStream` the
    // same treatment. Corpus growth is the SAME sign-mask isometry
    // replica construction as the batch axis with k = 8·f cells, so the
    // per-cell population — and with it the per-arrival compare count,
    // the stream's unit of work — stays constant while parallelism
    // (cell count = state shards) grows with the corpus. Laws:
    //   - state_rows == n_vecs (everything inside the one-batch horizon
    //     is retained; state is the cell-sharded vector store);
    //   - state rows PER CELL ≈ constant across factors (the k ∝ N
    //     contract applied to the state store);
    //   - per-event µs ≈ flat (per-arrival cost ∝ cell population).
    val ssdSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    // state observables: numRowsTotal counts STORE rows = one per cell
    // (the whole per-cell entry list is a single value), so the
    // entry-count law is read through memoryUsedBytes (∝ retained
    // vector entries) next to the cell count.
    def ssdStateMetrics(
        q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
      val sp = q.recentProgress.flatMap(_.stateOperators)
      (sp.map(_.numRowsTotal).lastOption.getOrElse(-1L),
        sp.map(_.memoryUsedBytes).lastOption.getOrElse(-1L))
    }
    def runSsd(stage: String, cRows: IndexedSeq[(Int, Seq[Double])],
        tag: String): (DataFrame, Long, Long) = {
      import graft.streaming.Streams
      val stream = spark.readStream.schema(ssdSchema).parquet(stage)
      val q = Streams.semanticDedupStream(spark, stream, cRows, tau = 0.35)
        .writeStream.outputMode("append").format("memory").queryName(tag)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val (cells, mem) = ssdStateMetrics(q)
      (spark.table(tag), cells, mem)
    }
    def probeStreamSemDedup(f: Int): Unit = {
      val big = replicas(baseEmb, f)(i => Seq(shifted("vec_id", i), signMasked("embedding", i)))
      val k = 8 * f
      val cRows = operators.Similarity.centroidArrays(
        operators.Similarity.centroids(big, nCells = k))
      // staging + centroid pick are the once-per-index-build offline
      // steps (untimed, the batch axis' convention); single file so the
      // whole replay is one microbatch at watermark 0 — the pure
      // within-horizon regime (the eviction arm below covers the rest)
      val stage = java.nio.file.Files
        .createTempDirectory(s"graft-probe-ssd-$f").toString
      big.select(col("vec_id"),
          expr("timestamp'2024-01-01 00:00:00'").as("ts"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val ((nOut, kept, stateCells, stateMem), t) = Harness.measure("stream_semdedup") {
        val (res, cells, mem) = runSsd(stage, cRows, s"probe_ssd_$f")
        (res.count(), res.filter(col("kept")).count(), cells, mem)
      }
      val usPerEvent = t.secs * 1e6 / math.max(nOut, 1L)
      println(
        f"""{"probe":"stream_semdedup","factor":$f,"n_vecs":$nOut,"k":$k,"kept":$kept,"state_cells":$stateCells,"state_mem_kb":${stateMem / 1024},"state_mem_bytes_per_vec":${stateMem / math.max(nOut, 1L)},"secs":${t.secs}%.2f,"us_per_event":$usPerEvent%.1f}""")
    }

    // stream_ohlc state axis (r20, r19 verdict task 6): the r19
    // amplified sweep read this row 3.13× fresh at 10× — the only >3×
    // row without a scale story. The claim under test: OHLC window
    // state is bounded by DISTINCT (day, user) KEYS, never by rows.
    // Two arms per factor, both staged in 4 files and replayed 2 per
    // micro-batch (the gate's cross-batch merge shape):
    //   - same_keys: f× replicas with fresh event_ids and IDENTICAL
    //     users/timestamps — state rows, bar count, and every bar
    //     value must be EXACTLY invariant (min/max/min_by/max_by
    //     absorb duplicates; open/close tie-break to the same minimal
    //     (ts, event_id) whose x is identical across replicas) while
    //     Σn scales exactly f× and wall tracks replayed volume;
    //   - fresh_keys: per-replica user_id shift (the AmplifiedBench
    //     regime) — state rows and bars scale exactly f×. This arm IS
    //     the amplified row's super-linear mechanism made visible:
    //     complete-mode replay re-emits the ENTIRE bar table every
    //     micro-batch, so sink work grows with keys × batches on top
    //     of the linear input scan — a replay-harness artifact, not an
    //     operator defect (production uses append/update + watermark
    //     eviction, where per-batch emission is the delta).
    val ohlcBase = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
    def probeStreamOhlc(f: Int): Unit = {
      import graft.streaming.Streams
      val ev = Tables.events(spark, sfDir)
        .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
      def arm(name: String, shiftUsers: Boolean): Unit = {
        val big = (0 until f).map { i =>
          val u =
            if (shiftUsers && i > 0) col("user_id") + lit(i.toLong * 1000000000L)
            else col("user_id")
          ev.select(
            (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
            col("ts"), u.as("user_id"), col("event_type"), col("value"),
            col("props"))
        }.reduce(_ union _)
        val d = java.nio.file.Files
          .createTempDirectory(s"graft-probe-ohlc-$name-$f").toString
        big.repartition(4).write.mode("overwrite").parquet(d)
        val tag = s"probe_ohlc_${name}_$f"
        val stream = spark.readStream.schema(Streams.eventSchema)
          .option("maxFilesPerTrigger", "2").parquet(d)
        val (q, t) = Harness.measure(s"stream_ohlc_state $name") {
          val q = Streams.ohlcWindows(stream).writeStream
            .outputMode("complete").format("memory").queryName(tag)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q
        }
        val sp = q.recentProgress.flatMap(_.stateOperators)
        val stateRows = sp.map(_.numRowsTotal).lastOption.getOrElse(-1L)
        val a = spark.table(tag).agg(count(lit(1)).as("bars"),
          sum(col("n")).as("n_sum"),
          sum(col("open_cents") + col("high_cents") + col("low_cents") +
            col("close_cents")).as("fp")).head()
        val (bars, nSum, fp) = (a.getLong(0), a.getLong(1), a.getLong(2))
        if (f == factors.min) ohlcBase(name) = (stateRows, bars, nSum / f, fp)
        val (bs, bb, bn, bfp) = ohlcBase.getOrElse(name, (-1L, -1L, -1L, -1L))
        // per-arm law: same_keys ⇒ state/bars/fp flat, Σn = f·base;
        // fresh_keys ⇒ state/bars/fp = f·base, Σn = f·base
        val keyScale = if (shiftUsers) f.toLong else 1L
        val dev =
          if (bs < 0) -1L
          else Seq(math.abs(stateRows - bs * keyScale),
            math.abs(bars - bb * keyScale),
            math.abs(nSum - bn * f),
            math.abs(fp - bfp * keyScale)).max
        spark.catalog.dropTempView(tag)
        println(
          f"""{"probe":"stream_ohlc_state","arm":"$name","factor":$f,"events":${big.count()},"state_rows":$stateRows,"bars":$bars,"n_sum":$nSum,"fingerprint":$fp,"max_dev":$dev,"secs":${t.secs}%.2f}""")
      }
      arm("same_keys", shiftUsers = false)
      arm("fresh_keys", shiftUsers = true)
    }

    // Eviction arm (factor-independent): plant LATE stragglers past the
    // 10-minute watermark horizon and replay in three checkpointed
    // AvailableNow batches. Batch 1 = the full base corpus at T0.
    // Batch 2 = exact copies of vectors 0..99 at T0+2h: the watermark
    // at batch 2 is still T0−10min (it lags one batch), so every
    // original is IN state and every copy must be DROPPED (cos = 1
    // partner) — horizon retention. Batch 3 = exact copies of vectors
    // 100..199 at T0+4h: now the watermark is T0+2h−10min, so every T0
    // entry is evicted on invocation — copies whose only ≥τ partner was
    // their own original must come back KEPT (without eviction, late
    // kept would be exactly 0: each copy's original is a cos-1.0
    // partner), and the final state row count collapses from n+100
    // toward ~200 (batch-2 + batch-3 entries in invoked cells) — the
    // store is bounded by the horizon, not the stream's history.
    def probeStreamSemDedupEviction(): Unit = {
      val cRows = operators.Similarity.centroidArrays(
        operators.Similarity.centroids(baseEmb, nCells = 8))
      val stage = java.nio.file.Files
        .createTempDirectory("graft-probe-ssde").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-probe-ssde-ckpt").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-probe-ssde-out").toString
      def writeBatch(df: DataFrame, tsExpr: String): Unit =
        df.select(col("vec_id"), expr(tsExpr).as("ts"), col("embedding"))
          .coalesce(1).write.mode("append").parquet(stage)
      // memory sinks can't resume from a checkpoint; the three-run
      // replay goes through the production file-sink shape instead
      // (`stream_checkpoint_resume` precedent) and per-batch verdicts
      // are recovered from the vec_id offset ranges.
      def runEv(): (Long, Long) = {
        import graft.streaming.Streams
        val stream = spark.readStream.schema(ssdSchema).parquet(stage)
        val q = Streams.semanticDedupStream(spark, stream, cRows, tau = 0.35)
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        ssdStateMetrics(q)
      }
      writeBatch(baseEmb, "timestamp'2024-01-01 00:00:00'")
      val (c1, m1) = runEv()
      writeBatch(
        baseEmb.filter(col("vec_id") < 100)
          .select((col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding")),
        "timestamp'2024-01-01 02:00:00'")
      val (c2, m2) = runEv()
      writeBatch(
        baseEmb.filter(col("vec_id") >= 100 && col("vec_id") < 200)
          .select((col("vec_id") + lit(20000000L)).as("vec_id"), col("embedding")),
        "timestamp'2024-01-01 04:00:00'")
      val (c3, m3) = runEv()
      val r = spark.read.parquet(out)
      val n = r.filter(col("vec_id") < 10000000L).count()
      val dropped2 = r.filter(col("vec_id") >= 10000000L &&
        col("vec_id") < 20000000L && !col("kept")).count()
      val late = r.filter(col("vec_id") >= 20000000L)
      val kept3 = late.filter(col("kept")).count()
      val cellsHit3 = late.select(col("cell_id")).distinct().count()
      println(
        f"""{"probe":"stream_semdedup_eviction","n_base":$n,"state_cells_b1":$c1,"state_mem_kb_b1":${m1 / 1024},"in_horizon_dropped":$dropped2,"stragglers":100,"state_cells_b2":$c2,"state_mem_kb_b2":${m2 / 1024},"late_kept":$kept3,"late_total":100,"cells_hit_b3":$cellsHit3,"state_cells_b3":$c3,"state_mem_kb_b3":${m3 / 1024}}""")
    }

    /** Binary-ANN candidate-budget law (r19, the `semdedup_k_prop_n`
      * treatment for the 1-bit index): corpus grows ×f under the
      * sign-mask isometry (replicas are NOT duplicates — same norms,
      * new directions), queries stay the 8 base vectors. Recall@10 of
      * the two-stage pipeline is measured twice per factor — at the
      * gate's FIXED nCand = 64 (expected to decay: a constant Hamming
      * cut keeps a shrinking fraction of a growing corpus) and at
      * nCand = 64·f (expected ~flat: the production rule, budget ∝
      * corpus, which keeps the kept FRACTION constant — stage-2 rerank
      * cost stays linear in nCand, i.e. linear in corpus under the
      * law, exactly like SemDeDup's k ∝ N). Brute-force truth and both
      * pipelines recompute per factor over the same corpus.
      */
    def probeBinaryBudget(f: Int): Unit = {
      import org.apache.spark.sql.expressions.Window
      val embE = baseEmb.withColumnRenamed("embedding", "e")
      val big = replicas(embE, f)(i => Seq(shifted("vec_id", i), signMasked("e", i)))
        .localCheckpoint(false)
      val corpus = big.filter(col("vec_id") >= 8) // replicas included
      val nVecs = big.count()
      // train on the full replicated corpus (the index build step)
      val (mn, mx) = operators.Similarity.sq8Bounds(big)
      val thr = operators.Similarity.binaryThresholds(mn, mx)
      val qrows = embE.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("e")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
        .sortBy(_._1)
      import spark.implicits._
      val q = embE.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      def cosQ(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        import graft.functions.DotF64.dotf64
        dotf64(col("qe"), e) /
          (sqrt(dotf64(col("qe"), col("qe"))) * sqrt(dotf64(e, e)))
      }
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      def top10(scored: DataFrame) = scored
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"))
      val exact = top10(corpus.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), cosQ(col("e")).as("cos")))
        .localCheckpoint(false)
      val enc = operators.Similarity.encodeBinary(corpus, thr)
        .localCheckpoint(false)
      val qcodes = qrows.map { case (qid, qv) =>
        val (lo, hi) = operators.Similarity.binaryCode(qv, thr)
        (qid, lo, hi)
      }.toSeq.toDF("qid", "qlo", "qhi")
      def recallAt(nCand: Int): Double = {
        val wham = Window.partitionBy(col("qid"))
          .orderBy(col("hamming").asc, col("vec_id"))
        val cand = enc.crossJoin(broadcast(qcodes))
          .select(col("qid"), col("vec_id"),
            (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
              bit_count(col("hi").bitwiseXOR(col("qhi"))))
              .cast("long").as("hamming"))
          .withColumn("rn", row_number().over(wham))
          .filter(col("rn") <= nCand)
          .select(col("qid"), col("vec_id"))
        val approx = top10(corpus.join(broadcast(cand), "vec_id")
          .join(broadcast(q), "qid")
          .select(col("qid"), col("vec_id"), cosQ(col("e")).as("cos")))
        val hits = exact.join(approx, Seq("qid", "vec_id")).count()
        hits.toDouble / (10 * qrows.length)
      }
      val ((rFixed, rScaled), t) =
        Harness.measure("binary_recall_budget")((recallAt(64), recallAt(64 * f)))
      println(
        f"""{"probe":"binary_recall_budget","factor":$f,"n_vecs":$nVecs,"ncand_fixed":64,"recall_fixed_pct":${rFixed * 100}%.1f,"ncand_scaled":${64 * f},"recall_scaled_pct":${rScaled * 100}%.1f,"secs":${t.secs}%.2f}""")
    }

    factors.foreach { f =>
      // worst case: identical replicas — every bucket holds all N copies
      val replicated = replicas(docs, f)(i => Seq(shifted("doc_id", i), col("text")))
      axis("lsh_dedup") { probe("lsh_dedup", f, replicated) }
      axis("binary_recall_budget") { probeBinaryBudget(f) }
      axis("semdedup_k_prop_n") { probeSemDedup(f) }
      axis("semdedup_planted_recall") { probeSemDedupPlanted(f) }
      axis("stream_semdedup") { probeStreamSemDedup(f) }
      axis("stream_ohlc_state") { probeStreamOhlc(f) }
      axis("funnel") { probeFunnel(f) }
      axis("weighted_median_skew") { probeWeightedMedianSkew(f) }
      axis("stream_sketch") { probeStreamSketch(f) }

      axis("pack_sequences") { probePack(f) }
      axis("tfidf_topk_hot") { probeTfidf(f) }
      axis("incremental") { probeIncremental(f) }
      axis("substring") { probeSubstring(f, replicated) }
      axis("pca") { probePca(f) }
      axis("cms") { probeCms(f, replicated) }
      axis("bm25") { probeBm25(f, replicated) }
      axis("postings") { probePostings(f, replicated) }
      axis("triangles") { probeTriangles(f) }
      axis("wedge_cap") { probeWedgeCap(f) }

      // realistic: salt every token per replica so all shingles differ
      // across replicas (replica 0 keeps the original text, so the base
      // corpus is a strict subset at every factor)
      val distinct = replicas(docs, f)(i => Seq(shifted("doc_id", i), salted(i).as("text")))
      axis("lsh_dedup_distinct") { probe("lsh_dedup_distinct", f, distinct) }
    }

    // grouped-scan offsets axis (r16): scanCore collects one
    // (partition, group, subtotal) tuple per (range partition, group)
    // pair that actually holds rows. Because the scan range-partitions
    // on (group, order…), each group occupies a CONTIGUOUS partition
    // run, so the collected count is ≤ P + G − 1 — O(P + G), NOT the
    // P × G worst case the in-code cap conservatively bounds. This
    // axis measures the entry count against both bounds across a
    // partition ladder at fixed G (l_returnflag, 3 groups): a
    // 4000-task cluster at the 4096-group cap stays ≤ ~8k tuples on
    // the driver, and wall should be flat in P at fixed data.
    // exact mirror of scanCore's partials construction, shared by both
    // offsets axes: same range partitioning and per-partition
    // distinct-group walk, counting entries instead of subtotaling them.
    // Group key FIRST in the range ordering, exactly like scanCore.
    def offsetsEntries(df: DataFrame,
        groupCol: String, ord: Seq[org.apache.spark.sql.Column]): Long = {
      val keyed = col(groupCol) +: ord
      val sorted = df
        .repartitionByRange(keyed: _*)
        .sortWithinPartitions(keyed: _*)
      val gi = sorted.schema.fieldIndex(groupCol)
      sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val ks = scala.collection.mutable.LinkedHashSet.empty[Any]
        it.foreach(r => ks.add(r.get(gi)))
        ks.iterator.map(k => (pi, k))
      }.count()
    }
    val wmOrd = Seq(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    def probeGroupedScanOffsets(parts: Int): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val li = Tables.lineitem(spark, sfDir)
        val (medians, t) = Harness.measure("grouped_scan_offsets")(
          queries.Aggregates.weightedMedianOver(li).collect())
        val entries = offsetsEntries(li, "l_returnflag", wmOrd)
        val groups = li.select(col("l_returnflag")).distinct().count()
        println(f"""{"probe":"grouped_scan_offsets","partitions":$parts,"groups":$groups,"offsets_entries":$entries,"bound_p_plus_g":${parts + groups - 1},"bound_p_times_g":${parts * groups},"median_rows":${medians.length},"secs":${t.secs}%.2f}""")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    axis("stream_semdedup_eviction") { probeStreamSemDedupEviction() }
    axis("grouped_scan_offsets") { Seq(32, 128, 512).foreach(probeGroupedScanOffsets) }

    // high-G regime of the same axis: a synthetic 4000-value group key
    // (just under the 4096 cap) at fixed P. Contiguity still bounds the
    // collect at P + G − 1 ≈ G — certifying that even AT the cap the
    // driver map is thousands of tuples, not P × G millions. The scan
    // itself must stay wall-comparable to the 3-group case (the group
    // count only widens the bounded offsets map, never the data pass).
    def probeGroupedScanHighG(parts: Int): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val g = 4000
        val li = Tables.lineitem(spark, sfDir)
          .select(pmod(col("l_partkey"), lit(g)).as("gk"),
            col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("wt"))
        val (n, t) = Harness.measure("grouped_scan_offsets_highg")(
          operators.GlobalOrder.groupedCumSum(li, Seq("gk"), wmOrd, col("wt"), "cum").count())
        val entries = offsetsEntries(li, "gk", wmOrd)
        println(f"""{"probe":"grouped_scan_offsets_highg","partitions":$parts,"groups":$g,"offsets_entries":$entries,"bound_p_plus_g":${parts + g - 1},"rows":$n,"secs":${t.secs}%.2f}""")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    axis("grouped_scan_offsets_highg") { Seq(32, 512).foreach(probeGroupedScanHighG) }

    // bloom row-group-size axis (r18, verdict task 6): SCALING.md's
    // claim that production-sized groups flatten the point-lookup curve
    // rested on theory with ONE measured layout (64 KB groups). Write
    // the same bloom copy at a second block size and measure both:
    // pruned_factor (total·probes / rows materialized) and the wall of
    // the repeated 4-probe lookup. Bigger groups ⇒ fewer groups ⇒ less
    // for the bloom to skip (pruned_factor falls) but also ⇒ fewer
    // filter checks and footer entries per file — the tradeoff a 128 MB
    // production layout sits on, now a measured curve not a prose claim.
    def probeBloomBlockSize(): Unit = {
      val probes = queries.Conversions.bloomProbeIds(spark, sfDir)
      val total = Tables.events(spark, sfDir).count()
      Seq(64 * 1024, 1024 * 1024).foreach { bs =>
        val path = queries.Conversions
          .bloomedEventsPath(spark, sfDir, bloom = true, blockSize = bs)
        // warm the footer/filter caches once, then time 5 sweep reps
        def sweep(): Long = probes.map { id =>
          val df = spark.read.parquet(path)
            .filter(col("event_id") === id)
            .select(col("event_id"), col("user_id"))
          df.collect()
          Harness.rowsScanned(df)
        }.sum
        sweep()
        val (read, t) = Harness.measure("bloom_blocksize")((1 to 5).map(_ => sweep()).last)
        val secs = t.secs / 5
        val prunedFactor = total.toDouble * probes.size / math.max(read, 1L)
        println(
          f"""{"probe":"bloom_blocksize","block_bytes":$bs,"total_rows":$total,"probes":${probes.size},"rows_read":$read,"pruned_factor":$prunedFactor%.1f,"sweep_secs":$secs%.3f}""")
      }
    }
    axis("bloom_blocksize") { probeBloomBlockSize() }
    spark.stop()
  }
}
