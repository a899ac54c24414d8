package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.Corpus

/** Optimization-workflow tool: per-query DRIVER JOB COUNTS — the
  * fixed-cost evidence the round-16 serving-path work needs ("Done = job
  * count per affected query drops, log it"). Every Spark job carries
  * scheduler fixed cost regardless of size, and at toy SF the 0.3–0.8 s
  * per-query tail is dominated by exactly these constants, so the number
  * of sequential bounded jobs a query's CONSTRUCTION runs (index ensure,
  * profile collects) plus its execution jobs is the honest metric.
  *
  * For each declared query (filtered by SPARK_GRAFT_ONLY): run the
  * noop-sink write twice (cold pass absorbs one-time ensure/build work
  * and choice-cache probes; the WARM pass is the steady state the bench's
  * min-of-2 reports), count jobs per pass via a listener and Janino
  * compiles per pass via Spark's `CodegenMetrics`, and print one line per
  * query: `name cold_jobs cold_compiles cold_sec warm_jobs warm_compiles
  * warm_sec`. A query with warm compiles > 0 recompiles on every run: its
  * plan inlines a literal that changes between runs (a watermark, an
  * `isin` list), so the class cache cannot serve it.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    // (jobs, compiles) so far; compiles run on the planning thread and on the
    // local executor's task threads, all in this JVM
    def drained(): (Int, Long) = {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      (jobs.get(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
    // warm the session like Bench does
    spark.range(100000).selectExpr("sum(id)").collect()
    Try(Corpus.read(spark, s"$sfDir/region.parquet").count())
    println(f"${"query"}%-28s ${"cold_j"}%6s ${"cold_c"}%6s ${"cold_s"}%8s ${"warm_j"}%6s ${"warm_c"}%6s ${"warm_s"}%8s")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        def pass(): (Int, Long, Double) = {
          val (j0, c0) = drained()
          val t0 = System.nanoTime()
          val r = Try(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          val sec = (System.nanoTime() - t0) / 1e9
          r.failed.foreach(e => println(s"  [$name] ERR: ${e.getMessage}"))
          val (j1, c1) = drained()
          (j1 - j0, c1 - c0, sec)
        }
        val (cj, cc, cs) = pass()
        val (wj, wc, ws) = pass()
        println(f"$name%-28s $cj%6d $cc%6d $cs%8.3f $wj%6d $wc%6d $ws%8.3f")
      }
    spark.stop()
  }
}
