package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The engine's generated-code cache holds a working set of query shapes,
  * so running the same shapes again compiles no class. */
class CodegenCacheSpec extends SparkSpec {

  /** Generated classes compiled in this JVM while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("150 query shapes run twice: the second pass compiles no class") {
    // the multiplier is inlined into the generated Java, so each k is its
    // own class: 150 shapes overflow Spark's default of 100 entries
    val shapes = (1 to 150).map(k => s"SELECT sum(id * ${1000 + k}) AS s FROM range(100)")
    def pass(): Unit = shapes.zipWithIndex.foreach { case (q, i) =>
      assert(spark.sql(q).head().getLong(0) === (1000L + i + 1) * 4950L)
    }
    assert(compiles(pass()) >= 150L)
    assert(compiles(pass()) === 0L)
  }
}
