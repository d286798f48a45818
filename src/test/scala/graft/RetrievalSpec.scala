package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the retrieval pair (inverted index + BM25) that the
  * oracle gate's value-equality can't express: index structural
  * contracts, BM25 ranking sanity, and the plan shapes that make both
  * 100 TB-viable (bounded query-term pick, broadcast joins, TakeOrdered
  * final ranking).
  */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._

  test("index_postings: ordered, unique, capped postings with honest df") {
    val rows = SparkEntry.queries("index_postings")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val capped = r.getAs[Boolean]("capped")
      val posting = r.getAs[String]("postings")
      val ids = posting.split("\\|").map(_.toLong).toSeq
      assert(df >= 5, s"pruned df leaked: $df")
      assert(capped == (df > 20))
      assert(ids.length == math.min(df, 20L),
        s"postings length ${ids.length} vs df $df")
      assert(ids == ids.sorted && ids.distinct.length == ids.length,
        s"postings not a sorted set: $posting")
    }
  }

  /** The sf corpus and its identical 2× replica (fresh ids, same texts). */
  private def corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
  private lazy val step = AmplifiedBench.keyStep(corpus, "doc_id")
  private def doubled = AmplifiedBench.replicate(corpus, 2, Map("doc_id" -> step))

  test("index_postings: df doubles and the 20-posting cap holds under 2x replication") {
    def index(d: DataFrame) = queries.Retrieval.postingsOver(d).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("df"), r.getAs[String]("postings").split("\\|").length)))
      .toMap
    val base = index(corpus)
    val big = index(doubled)
    assert(base.nonEmpty)
    // df < 5 is pruned, so replication may add tokens: the law is per
    // token visible at 1x
    base.foreach { case (tok, (df, _)) =>
      assert(big.get(tok).map(_._1).contains(2 * df), s"$tok: df $df at 1x")
    }
    assert(big.values.exists(_._1 > 20), "no token reaches the cap")
    big.foreach { case (tok, (df, n)) =>
      assert(n == math.min(df, 20L), s"$tok: $n postings at df $df")
    }
  }

  test("bm25: per-doc scores are unchanged under identical 2x replication") {
    // tf and dl are per doc; df, N and the summed length all double, so
    // every term's micro-score ratio is exactly invariant
    def scores(d: DataFrame) = queries.Retrieval.bm25ScoresOver(d)
      .select(col("doc_id"), col("bm25_micro")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = scores(corpus)
    assert(base.nonEmpty)
    assert(scores(doubled) == base ++ base.map { case (id, s) => (id + step) -> s })
  }

  test("bm25: every hit matches >=1 of 5 query terms, scores ranked desc") {
    val rows = SparkEntry.queries("text_bm25_topk")(spark, sf).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Long]("bm25_micro")).toSeq
    assert(scores == scores.sorted.reverse, "not ranked by score desc")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_terms")
      assert(n >= 1 && n <= 5, s"matched term count out of range: $n")
      assert(r.getAs[Long]("bm25_micro") > 0)
    }
  }

  test("bm25 plan: bounded term pick, broadcast model, TakeOrdered ranking") {
    val p = SparkEntry.queries("text_bm25_topk")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      "final top-10 must be TakeOrdered, not a global sort")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "query terms and scalars must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
  }

  test("index_postings plan: df and rank share one tok-partitioned window") {
    val p = SparkEntry.queries("index_postings")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    // both window functions must partition by tok — a global window would
    // single-partition the vocabulary
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach(l => assert(l.contains("tok"),
      s"window not partitioned by tok: $l"))
  }

  test("snippet: 16-token window from the doc, hits recompute, best wins") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("text_snippet_extract")(spark, sf).collect()
    assert(rows.length == 10, "one snippet per BM25 top-10 doc")
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // recompute the contract per doc: window tokens, distinct-hit count,
    // and the (hits desc, start asc) argmax
    val qts = rows.flatMap(_.getAs[String]("snippet").split(" ")).toSet
    rows.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      val tk = texts(doc).split(" ").filter(_.nonEmpty)
      val start = r.getAs[Long]("start_pos").toInt
      val snip = tk.slice(start, start + 16)
      assert(r.getAs[String]("snippet") == snip.mkString(" "),
        s"snippet is not the doc's window at $start for doc $doc")
      assert(snip.length <= 16 && snip.nonEmpty)
      assert(r.getAs[Long]("n_hits") >= 1,
        s"a BM25 hit must contain at least one query term (doc $doc)")
    }
    assert(qts.nonEmpty)
  }

  test("query expansion: novel terms, weight recomputes, ranked desc") {
    val rows = SparkEntry.queries("text_query_expansion")(spark, sf).collect()
    assert(rows.length == 5)
    val bm25Terms = SparkEntry.queries("text_bm25_topk")(spark, sf)
    val ws = rows.map(_.getAs[Long]("weight_micro")).toSeq
    assert(ws == ws.sorted.reverse, "expansion terms must rank by weight")
    rows.foreach { r =>
      val tok = r.getAs[String]("tok")
      assert(tok.length >= 4)
      assert(r.getAs[Long]("weight_micro") ==
        r.getAs[Long]("tf10") * 1000000L / r.getAs[Long]("df"))
      assert(r.getAs[Long]("tf10") >= 1 && r.getAs[Long]("df") >= 1)
    }
    assert(bm25Terms.count() == 10)
  }

  test("rrf fusion: ranks bounded, contributions recompute, order exact") {
    val rows = SparkEntry.queries("retrieval_rrf_fusion")(spark, sf).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Long]("rrf_micro")).toSeq
    assert(scores == scores.sorted.reverse, "not ranked by rrf desc")
    rows.foreach { r =>
      val lex = r.getAs[Long]("lex_rank")
      val dense = r.getAs[Long]("dense_rank")
      assert(lex >= 0 && lex <= 50 && dense >= 0 && dense <= 50)
      assert(lex > 0 || dense > 0, "a fused doc must come from some arm")
      val want = (if (lex > 0) 1000000L / (60 + lex) else 0L) +
        (if (dense > 0) 1000000L / (60 + dense) else 0L)
      assert(r.getAs[Long]("rrf_micro") == want,
        s"rrf(${lex}, ${dense}) != $want")
      assert(r.getAs[Long]("doc_id") != 0L, "the query doc must not self-hit")
    }
    // both arms contribute to the fused set (the hybrid premise)
    assert(rows.exists(_.getAs[Long]("lex_rank") > 0))
    assert(rows.exists(_.getAs[Long]("dense_rank") > 0))
  }

  test("rrf fusion plan: per-arm TakeOrdered, broadcast fuse, no shuffle sort") {
    // r22: the fused query materializes the arms behind concurrent
    // checkpoints, so the arm shapes are audited on the LAZY arm frames
    // (rrfArms) and the returned plan on the final fuse.
    val (lex, dense) = queries.Retrieval.rrfArms(spark, sf)
    Seq("lex" -> lex, "dense" -> dense).foreach { case (arm, df) =>
      val p = df.queryExecution.explainString(FormattedMode)
      assert(p.contains("TakeOrderedAndProject"),
        s"$arm arm top-50 must be TakeOrdered, not a global sort")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$arm arm: query terms / query vector / rank self-join must broadcast")
      assert(!p.contains("CartesianProduct"), s"$arm arm: no cartesian products")
      // no unpartitioned windows: ranking inside the 50-row frames is the
      // broadcast self-join count, not a window
      assert(!p.contains("windowspecdefinition"), s"$arm arm must not use windows")
    }
    val p = SparkEntry.queries("retrieval_rrf_fusion")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      "final top-10 must be TakeOrdered, not a global sort")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
    assert(!p.contains("windowspecdefinition"), "rrf must not use windows")
  }
}
