package org.apache.spark

/** The listener bus is `private[spark]`; the traced run needs to wait until
  * it has delivered an operation's events before reading its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Classes Spark's code generator has compiled so far (cache misses). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties the code generator's class cache, so that the next statement
    * compiles its generated code afresh. The cache is private to
    * CodeGenerator.
    */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(gen).asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]]
      .invalidateAll()
  }
}
