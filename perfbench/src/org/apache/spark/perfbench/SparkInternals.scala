package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The few Spark internals the benchmark reads. They live in this package
  * because the listener bus is `private[spark]`; nothing here changes how
  * the program runs.
  */
object SparkInternals {

  /** Blocks until every listener has seen every event posted so far, so
    * counts read after an action include all of that action's tasks.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression classes compiled in this JVM so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent compiling generated code in this JVM so far. */
  def codegenNanos: Long = CodeGenerator.compileTime

  /** Empties the JVM-wide generated-class cache, so a fresh session pays
    * the cold-codegen cost a new job pays.
    */
  def clearCodegenCache(): Unit = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f.get(CodeGenerator).asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]]
      .invalidateAll()
  }
}
