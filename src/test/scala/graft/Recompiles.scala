package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Test-scope helper: how many classes codegen compiles while a registered
  * query (built and collected) runs for the third time at sf0.001. Spark
  * 4.1 keys its codegen cache by class loader, so a warm run that compiles
  * anything means some session got a fresh executor class loader. The
  * counter is JVM-wide; suites run one at a time in the forked test JVM,
  * so nothing else moves it meanwhile.
  */
object Recompiles {
  def onThirdRun(name: String): Long = {
    def run(): Unit = SparkEntry.queries(name)(TestSpark.spark, TestSpark.sf).collect()
    run(); run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
