package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] sizes Spark's compiled-class cache so a repeated plan
  * shape is compiled once per JVM: with Spark's default of 100 entries,
  * 150 plans (about 300 entries: one compile on the planning thread, one under the
  * executor task threads' class loader) evict each other before they are
  * asked for again. */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  test("the graft session sizes the codegen class cache to 4096 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
  }

  test("a second round of 150 distinct plans compiles nothing") {
    // each plan inlines its own literals, so each has its own source
    def round(): Unit = (1 to 150).foreach { i =>
      assert(spark.range(8).selectExpr(s"id * $i + ${i}L AS v").collect().length === 8)
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    round()
    val c1 = compiles
    assert(c1 > c0, "the first round compiled nothing: the plans were not distinct")
    round()
    assert(compiles - c1 === 0L, "classes compiled in the first round were evicted")
  }
}
