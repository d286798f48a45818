package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Engine counters `graft.Harness` reads that Spark keeps package-private. */
object HarnessProbes {

  /** Blocks until every event posted so far to `sc`'s listener bus has
    * been delivered to every listener.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compilations of generated classes so far in this JVM (every
    * codegen-cache miss, on the driver and in tasks alike).
    */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent in those compilations so far in this JVM. */
  def compileNanos: Long = CodeGenerator.compileTime
}
