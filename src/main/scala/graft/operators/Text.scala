package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text processing, written once (cf. libcudf `cpp/src/text`: nvtext
  * `tokenize.hpp` and `generate_ngrams.hpp`): the single-space tokenizer
  * and the word n-gram windows, each Spark piece beside its DuckDB twin.
  * The text rows, the curation funnel, the training-data pipeline and
  * the streaming decontamination all read these definitions. The char
  * PolyHash twin sits beside its kernel, [[graft.functions.PolyHash31]].
  *
  * The three tokenizer variants differ only in their null policy:
  *   - [[words]]: null text gives a null array (Spark's size is -1);
  *   - [[tokens]]: null text reads as '', so it gives one empty token;
  *   - [[nonEmptyTokens]]: [[tokens]] without the empty strings that
  *     leading, trailing or repeated spaces leave.
  */
object Text {

  // ------------------------------------------------------------ tokenizer

  /** The raw single-space split of `text`. */
  def words(text: Column): Column = split(text, " ")

  /** DuckDB twin of [[words]] over the `text` column. */
  val wordsSql: String = "string_split(text, ' ')"

  /** The single-space split of `text`, a null text read as ''. */
  def tokens(text: Column): Column = split(coalesce(text, lit("")), " ")

  /** DuckDB twin of [[tokens]] over the SQL expression `text`. */
  def tokensSql(text: String = "text"): String = s"string_split(coalesce($text, ''), ' ')"

  /** [[tokens]] without its empty strings. `split` never yields a null
    * element, so removing '' keeps exactly the non-empty tokens, with no
    * interpreted lambda.
    */
  def nonEmptyTokens(text: Column): Column = array_remove(tokens(text), "")

  /** DuckDB twin of [[nonEmptyTokens]] over the SQL expression `text`. */
  def nonEmptyTokensSql(text: String = "text"): String =
    s"list_filter(${tokensSql(text)}, t -> length(t) > 0)"

  // --------------------------------------------------------- word n-grams

  /** `docs`' `keep` columns plus `as`, one row per `n`-token window of
    * the [[tokens]] of `text`, each window joined by single spaces; `tk`
    * names the token column. A doc with fewer than `n` tokens has no
    * window. The windows are the decontamination unit: a training doc
    * that shares one with the benchmark set is flagged.
    */
  def wordNgrams(docs: DataFrame, n: Int, keep: Seq[String],
      tk: String = "tk", as: String = "g8"): DataFrame =
    ngramRows(docs, n, keep, tk, as, identity)

  /** [[wordNgrams]] with each doc's repeated windows dropped before the
    * explode: one row per distinct window per doc, a per-row distinct
    * that needs no shuffle and no state.
    */
  def distinctWordNgrams(docs: DataFrame, n: Int, keep: Seq[String],
      tk: String = "tk", as: String = "g8"): DataFrame =
    ngramRows(docs, n, keep, tk, as, array_distinct)

  private def ngramRows(docs: DataFrame, n: Int, keep: Seq[String], tk: String,
      as: String, perDoc: Column => Column): DataFrame =
    // the size guard is load-bearing: sequence(0, -1) counts down
    docs.select(keep.map(col) :+ tokens(col("text")).as(tk): _*)
      .filter(size(col(tk)) >= n)
      .select(keep.map(col) :+ explode(perDoc(expr(
        s"transform(sequence(0, size($tk) - $n), i -> concat_ws(' ', slice($tk, i + 1, $n)))")))
        .as(as): _*)

  /** DuckDB twin of [[wordNgrams]] over the `src` relation with its
    * doc_id kept: a SELECT of (doc_id, g8).
    */
  def wordNgramsSql(src: String, n: Int): String =
    s"""SELECT doc_id,
       |      unnest(list_transform(range(0, len(tk) - ${n - 1}),
       |        i -> array_to_string(list_slice(tk, i + 1, i + $n), ' '))) AS g8
       |    FROM (SELECT doc_id, ${tokensSql()} AS tk
       |          FROM $src) t0
       |    WHERE len(tk) >= $n""".stripMargin
}
