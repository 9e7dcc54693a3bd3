package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's codegen compile counter, read around one rep: how many classes
  * the rep compiled, and about how long that took (the histogram keeps a
  * sample, so the milliseconds are the sample mean times the count). A rep
  * that recompiles what an earlier rep already compiled shows a codegen
  * cache thrash in one line.
  */
private[tools] object Compiles {
  private def now: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Run `body`; returns its value and `compiles=N compile_ms~M`. */
  def around[T](body: => T): (T, String) = {
    val (c0, _) = now
    val out = body
    val (c1, mean) = now
    val n = c1 - c0
    (out, f"compiles=$n compile_ms~${n * mean}%.0f")
  }
}
