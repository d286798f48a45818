package graft

/** RocksDB state-store parity sweep over every streaming gate row
  * (`StreamEvictionSpec` pins the riskiest rows in the test suite).
  *
  * For every [[Tag.Gate]] row, run the full replay twice in one
  * JVM — the session's own provider, which must be Spark's default
  * HDFSBackedStateStoreProvider, then RocksDBStateStoreProvider, set as
  * `spark.sql.streaming.stateStore.providerClass` for that leg only —
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
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()

    val names = SparkEntry.tagged(Tag.Gate)
    var failures = 0
    names.foreach { n =>
      def rows(): Seq[String] =
        SparkEntry.queries(n)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val (base, sBase) = Harness.measure(s"$n default")(rows())
      // the base leg ran on the default provider: a RocksDB provider set
      // on the session would make the sweep compare RocksDB to itself
      val baseDefault = !spark.conf.getOption(providerKey).exists(_.contains("RocksDB"))
      spark.conf.set(providerKey, rocksDb)
      val (rocks, sRocks, applied) =
        try {
          val (r, sr) = Harness.measure(s"$n rocksdb")(rows())
          // nothing in the row's run replaced the session's provider
          (r, sr, spark.conf.getOption(providerKey).contains(rocksDb))
        } finally spark.conf.unset(providerKey)
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
