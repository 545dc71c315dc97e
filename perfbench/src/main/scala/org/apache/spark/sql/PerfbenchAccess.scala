package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark internals the trace reads that Spark scopes to its own packages. */
object PerfbenchAccess {

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Total nanoseconds this JVM has spent compiling generated code. */
  def codegenCompileNanos: Long = CodeGenerator.compileTime
}
