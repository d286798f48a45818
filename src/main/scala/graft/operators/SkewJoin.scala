package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join — the manual skew-mitigation pattern for the case
  * AQE's skew-join split can't reach: a single hot key on the PROBE
  * side whose matching build rows fit in memory, joined where
  * broadcasting the whole build side is too big.
  *
  * The probe side gets a deterministic salt in [0, salts); the build
  * side is replicated once per salt value; the join key widens to
  * (key, salt). A key that previously funneled into one reducer now
  * spreads across `salts` of them, at the cost of `salts`× the build
  * rows moved — which is why `salts` stays small (4–16) and the build
  * side should be the smaller input. The salt derives from a hash of a
  * probe column (not rand()), so results are reproducible run to run.
  *
  * 100 TB note: prefer AQE (`spark.sql.adaptive.skewJoin.enabled`) for
  * shuffle-level skew — it splits oversized partitions without
  * replicating the build side. Reach for salting when the skew is a
  * SINGLE pathological key (null-heavy foreign keys, sentinel ids)
  * that AQE's partition-granularity split cannot separate.
  */
object SkewJoin {

  /** Deterministic salt in [0, salts) from row identity: a hash, not
    * rand(), so a retried task gives every row the same salt and no row
    * is lost or duplicated.
    */
  def salt(from: Seq[Column], salts: Int): Column =
    pmod(hash(from: _*), lit(salts))

  /** `probe ⋈ build` on `key`, with probe-side salt derived from
    * `saltFrom` (any probe column with per-row variety, e.g. a line
    * number or a hash of the whole row).
    */
  def saltedEquiJoin(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      saltFrom: Column,
      salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val salted = probe.withColumn("__salt", salt(Seq(saltFrom), salts))
    val replicated = build.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    // shuffle_hash, pinned (r21): left to size estimates Catalyst
    // broadcast the `salts`×-replicated build side whenever it fit —
    // building (and GC'ing) a salts×-inflated hashed relation per run
    // and never exercising the shuffled path salting exists for (if the
    // build side fit in a broadcast you would broadcast the UNSALTED
    // table and skip salting entirely). The salted join's contract is
    // the shuffled shape: both sides exchange on the widened
    // (key, salt), the replicated side hash-builds per partition, no
    // sort. Measured at sf0.1: 0.70 s vs 1.85 s for the broadcast plan.
    salted.join(replicated.hint("shuffle_hash"), Seq(key, "__salt"))
      .drop("__salt")
  }
}
