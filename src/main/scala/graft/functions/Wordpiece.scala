package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wordpiece / BPE-style subword tokenization (reference
  * `cpp/include/nvtext/wordpiece_tokenize.hpp:114`,
  * `byte_pair_encoding.hpp:129`): greedy longest-match-first against a
  * broadcast vocabulary, continuation pieces prefixed "##", unknown
  * characters emitted as "[UNK]".
  *
  * The vocab is a driver-built dimension computed ONCE per dataset (cached
  * in [[graft.DimCache]] — the same lifecycle as a real BERT vocab file)
  * and broadcast; tokenization itself is a per-row UDF — map-side only, no
  * shuffle. The vocab is capped at [[maxVocab]] entries by (frequency desc,
  * token) with a loud log line when the cap bites: a driver-collected
  * dimension MUST be bounded regardless of corpus diversity, or the 100 TB
  * run OOMs the driver on a long-tail vocabulary.
  *
  * All string walks are by Unicode CODE POINT (`offsetByCodePoints`), not
  * UTF-16 code units, so the greedy match agrees with engines that index
  * strings by code point (the DuckDB oracle's substring/length) on non-BMP
  * input (emoji, rare CJK).
  */
object Wordpiece {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Hard cap on driver-collected vocab entries (pre char-augmentation). */
  val maxVocab: Int = 1 << 17

  /** UTF-16 offsets of each code-point boundary in `s` (0 … s.length). */
  private def cpBounds(s: String): Array[Int] = {
    val b = Array.newBuilder[Int]
    var i = 0
    b += 0
    while (i < s.length) {
      i = s.offsetByCodePoints(i, 1)
      b += i
    }
    b.result()
  }

  /** Greedy wordpiece of one word against a vocab set — longest match
    * first, measured in code points.
    */
  def tokenizeWord(word: String, vocab: Set[String]): Seq[String] = {
    val bounds = cpBounds(word)
    val n = bounds.length - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < n) {
      var end = n
      var piece: String = null
      while (end > start && piece == null) {
        val cand0 = word.substring(bounds(start), bounds(end))
        val cand = if (start > 0) "##" + cand0 else cand0
        if (vocab.contains(cand)) piece = cand else end -= 1
      }
      if (piece == null) return Seq("[UNK]")
      out += piece
      start = end
    }
    out.toSeq
  }

  /** Build a subword vocab from the corpus: whole tokens above a
    * frequency floor (top-[[maxVocab]] by (count desc, token) when the
    * floor alone doesn't bound it) plus all single code points (and
    * their "##" forms). The orderBy+limit collapses to
    * TakeOrderedAndProject, so driver memory is bounded by the cap even
    * on an unbounded-diversity corpus.
    */
  def buildVocab(docs: DataFrame, minFreq: Long): Set[String] = {
    val counted = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .count()
      .filter(col("count") >= minFreq)
      .orderBy(col("count").desc, col("tok"))
      .limit(maxVocab + 1)
      .collect()
    if (counted.length > maxVocab)
      log.warn(
        s"wordpiece vocab capped at $maxVocab entries (minFreq=$minFreq " +
          "admitted more); dropping the least-frequent tail")
    val frequent = counted.take(maxVocab).map(_.getString(0))
    val chars = frequent
      .flatMap(w => w.codePoints().toArray.map(cp => new String(Character.toChars(cp))))
      .distinct
    (frequent ++ chars ++ chars.map("##" + _)).toSet
  }

  /** [[buildVocab]] computed once per (dataset dir, minFreq) — see
    * [[graft.DimCache]]. Use this from query builders so repeated
    * invocations (benchmark reps, verify runs) don't re-run the corpus
    * aggregation.
    */
  def vocabFor(dir: String, docs: => DataFrame, minFreq: Long): Set[String] =
    graft.DimCache.cached(s"wordpiece-vocab:$dir:$minFreq")(buildVocab(docs, minFreq))

  /** documents → (doc_id, pieces array) using a broadcast vocab. */
  def tokenize(spark: SparkSession, docs: DataFrame, vocab: Set[String]): DataFrame = {
    val bc: Broadcast[Set[String]] = spark.sparkContext.broadcast(vocab)
    val wp = udf((text: String) =>
      if (text == null) Seq.empty[String]
      else text.split(" ").toSeq.flatMap(w => tokenizeWord(w, bc.value)))
    docs.select(col("doc_id"), wp(col("text")).as("pieces"))
  }
}
