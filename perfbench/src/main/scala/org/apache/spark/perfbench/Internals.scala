package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The two Spark internals the benchmark needs, which Spark keeps
  * package-private.
  */
object Internals {

  /** Returns once every listener event posted so far is handled, so
    * counters read afterwards are complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empties the JVM-wide cache of generated classes, so that a pass
    * compiles what it uses, as the first pass in a fresh JVM does.
    */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
