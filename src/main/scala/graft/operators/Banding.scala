package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LSH banding, written once (cf. nvtext `minhash.hpp:72` feeding
  * `jaccard.hpp:73`): signature → (band, bucket) → hot-bucket cap →
  * bucket self-join → distinct candidate pairs. Every LSH caller keeps
  * its own signature, per-band bucket function and verifier; the
  * banding policy below is shared.
  *
  * Two pair routes share the bands, the cap and the self-join:
  *   - [[candidatePairs]] dedups before the caller verifies. The payload
  *     rides the LEFT side of the self-join only (the right side is
  *     compact (band, bucket, id) rows), and the pair distinct groups on
  *     bare ids taking first(payload), so it never hashes arrays; the
  *     b-side payload re-attaches by id after ([[withB]]). This suits a
  *     signature that is costly to compute and a verifier that is costly
  *     to run (the MinHash and n-gram rows).
  *   - [[verifiedPairs]] verifies before it dedups: both sides carry the
  *     payload, every joined row streams through the caller's verifier,
  *     and the distinct runs on the verifier's few output rows. This
  *     suits a cheap signature and a cheap verifier over a wide payload
  *     (`dedup_emb_cosine`: one dot product per pair, 64 doubles a side),
  *     where the first route's cuts and its sort of array rows cost more
  *     than a verify per shared band.
  * Payload column `p` comes out as `p_a` / `p_b`.
  */
object Banding {

  /** One row per (signature row, band): (id, payload…, band, bucket).
    * `buckets` is the caller's array of per-band bucket values; a null
    * bucket (an empty shingle set) is dropped — it joins nothing.
    */
  def bands(sigs: DataFrame, id: String, payload: Seq[String], buckets: Column): DataFrame =
    sigs
      .select((col(id) +: payload.map(col)) :+ posexplode(buckets).as(Seq("band", "bucket")): _*)
      .filter(col("bucket").isNotNull)

  /** Hot-bucket cap: drops every (band, bucket) holding more than
    * `maxBucket` rows. A degenerate bucket (empty docs, boilerplate, a
    * dominant embedding region) would make the self-join quadratic in
    * that bucket alone; its members are overwhelmingly mutual near-dups
    * of one template and are still found through their other bands.
    * The count is a window over the same (band, bucket) key the join
    * shuffles, so one exchange serves both. Every DuckDB twin mirrors it
    * with `QUALIFY count(*) OVER (PARTITION BY band, bucket) <= cap`.
    */
  def capHotBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    banded
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")

  /** One side of a bucket join: (band, bucket, id_x, p_x…), x = a or b. */
  private def side(banded: DataFrame, id: String, payload: Seq[String], x: String): DataFrame =
    banded.select(Seq(col("band"), col("bucket"), col(id).as(s"id_$x")) ++
      payload.map(p => col(p).as(s"${p}_$x")): _*)

  /** The self-join of capped bands on (band, bucket), id_a < id_b; the
    * b side carries `bPayload`.
    */
  private def selfJoin(capped: DataFrame, id: String, payload: Seq[String],
      bPayload: Seq[String]): DataFrame =
    side(capped, id, payload, "a").join(side(capped, id, bPayload, "b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))

  /** Distinct (id_a, id_b) pairs of a bucket join, each carrying its
    * a-side payload. A pair sharing several bands comes out once.
    */
  def distinctPairs(joined: DataFrame, payload: Seq[String]): DataFrame =
    payload.map(p => first(col(s"${p}_a")).as(s"${p}_a")) match {
      case Seq() => joined.select(col("id_a"), col("id_b")).distinct()
      case firsts => joined.groupBy(col("id_a"), col("id_b")).agg(firsts.head, firsts.tail: _*)
    }

  /** Re-attaches the b-side payload (`p_b`) to pairs by id_b. */
  def withB(pairs: DataFrame, sigs: DataFrame, id: String, payload: Seq[String]): DataFrame =
    pairs.join(
      sigs.select(col(id).as("id_b") +: payload.map(p => col(p).as(s"${p}_b")): _*),
      "id_b")

  /** The banded self-join: distinct (id_a < id_b) pairs sharing a
    * capped (band, bucket), with `p_a` and `p_b` for every payload
    * column `p`.
    *
    * Lineage cuts: the signature frame and the capped bands are each
    * materialized once, as `Materialize.shared` cuts. Without them,
    * column pruning specializes the self-join's two branches into
    * different subtrees (the a side keeps the payload, the b side does
    * not), so neither the exchange nor the scan is reused and the
    * signatures are computed once per branch plus once for the b-side
    * re-attach.
    */
  def candidatePairs(sigs: DataFrame, id: String, payload: Seq[String],
      buckets: Column, maxBucket: Int): DataFrame = {
    val cutSigs = graft.Materialize.shared(sigs, "Banding.signatures")
    val capped = graft.Materialize.shared(
      capHotBuckets(bands(cutSigs, id, payload, buckets), maxBucket), "Banding.cappedBands")
    withB(distinctPairs(selfJoin(capped, id, payload, Nil), payload), cutSigs, id, payload)
  }

  /** The banded self-join verified before the distinct: every pair
    * sharing a capped (band, bucket) reaches `verify` with `p_a` and
    * `p_b`, once per band it shares, and the distinct runs on what
    * `verify` returns. `verify` must map a pair to the same rows however
    * often it arrives (a function of id_a, id_b and the payloads).
    *
    * No lineage cut: the route is for signatures cheap enough to compute
    * on each side of the join. On `dedup_emb_cosine` at sf0.1 (2,000
    * vectors, 4 cores, median over JVM runs) this route takes 9 jobs,
    * 0.66 s and 340 MB of peak heap; [[candidatePairs]] took 15 jobs,
    * 1.27 s and 920 MB.
    */
  def verifiedPairs(sigs: DataFrame, id: String, payload: Seq[String], buckets: Column,
      maxBucket: Int)(verify: DataFrame => DataFrame): DataFrame =
    verify(selfJoin(capHotBuckets(bands(sigs, id, payload, buckets), maxBucket),
      id, payload, payload)).distinct()
}
