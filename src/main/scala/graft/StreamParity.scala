package graft

/** RocksDB state-store parity sweep over every streaming gate row
  * (`StreamEvictionSpec` pins the riskiest rows in the test suite).
  *
  * For every `stream_*` gate query, run the full replay twice in one
  * JVM — default HDFSBackedStateStoreProvider, then
  * RocksDBStateStoreProvider via the same `graft.stateProvider` sysprop
  * the harness env flag (`SPARK_GRAFT_STATE_PROVIDER`) routes through —
  * and assert sink equality row for row (canonical sort; values
  * compared verbatim). The `flatMapGroupsWithState` shapes (sessionize,
  * SCD2, z-score ring, start-state handoff) are where a provider swap
  * historically bites: they round-trip rich case-class state through the
  * provider's serializer every microbatch, so any encoding asymmetry
  * surfaces as a row diff here.
  *
  * Prints one JSON line per query plus a summary line; exits 2 on any
  * parity failure so a driver/CI run can gate on it.
  *
  * Usage: `sbt "runMain graft.StreamParity [sfDir]"` (default sf0.01).
  */
object StreamParity {
  def main(args: Array[String]): Unit = {
    // The sweep's base leg relies on the DEFAULT provider; the harness
    // env flag routes every applyStateProvider call through RocksDB, so
    // a sweep launched with it set would compare RocksDB to RocksDB and
    // report parity:true vacuously. Refuse to run at all.
    require(!sys.env.contains("SPARK_GRAFT_STATE_PROVIDER"),
      "StreamParity must run WITHOUT SPARK_GRAFT_STATE_PROVIDER set — " +
        "the base leg would silently route through RocksDB too")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()

    val names = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    var failures = 0
    names.foreach { n =>
      def rows(): Seq[String] =
        SparkEntry.queries(n)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      System.clearProperty("graft.stateProvider")
      val (base, sBase) = Harness.measure(s"$n default")(rows())
      // symmetric to provider_applied below: the base leg must NOT have
      // routed through RocksDB (applyStateProvider unsets the conf when
      // no flag is present, so any RocksDB residue here is a leak)
      val baseDefault = !spark.conf
        .getOption("spark.sql.streaming.stateStore.providerClass")
        .exists(_.contains("RocksDBStateStoreProvider"))
      System.setProperty("graft.stateProvider", "rocksdb")
      val (rocks, sRocks) =
        try Harness.measure(s"$n rocksdb")(rows())
        finally System.clearProperty("graft.stateProvider")
      // the flagged run really routed through the provider switch:
      // applyStateProvider sets the conf inside the query's own replay
      // and nothing unsets it until the next unflagged run
      val applied = spark.conf
        .getOption("spark.sql.streaming.stateStore.providerClass")
        .exists(_.contains("RocksDBStateStoreProvider"))
      val parity = base == rocks
      if (!parity || !applied || !baseDefault) failures += 1
      val firstDiff =
        if (parity) ""
        else {
          val d = base.zipAll(rocks, "<missing>", "<missing>")
            .find { case (a, b) => a != b }
            .map { case (a, b) => s"base=$a rocksdb=$b" }
            .getOrElse(s"sizes ${base.size} vs ${rocks.size}")
          s""","first_diff":"${d.replace("\"", "'").take(160)}""""
        }
      println(
        f"""{"query":"$n","rows":${base.size},"rocksdb_rows":${rocks.size},"parity":$parity,"provider_applied":$applied,"base_default_provider":$baseDefault,"base_secs":${sBase.secs}%.2f,"rocksdb_secs":${sRocks.secs}%.2f$firstDiff}""")
    }
    println(
      s"""{"parity_summary":{"queries":${names.size},"failures":$failures}}""")
    spark.stop()
    if (failures > 0) sys.exit(2)
  }
}
