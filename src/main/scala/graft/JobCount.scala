package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

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
  * min-of-2 reports), count jobs per pass via a listener, and print one
  * line per query: `name cold_jobs cold_sec warm_jobs warm_sec`.
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
    def drained(): Int = {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    }
    // warm the session like Bench does
    spark.range(100000).selectExpr("sum(id)").collect()
    Try(Corpus.read(spark, s"$sfDir/region.parquet").count())
    println(f"${"query"}%-28s ${"cold_j"}%6s ${"cold_s"}%8s ${"warm_j"}%6s ${"warm_s"}%8s")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        def pass(): (Int, Double) = {
          val j0 = drained()
          val t0 = System.nanoTime()
          val r = Try(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          val sec = (System.nanoTime() - t0) / 1e9
          r.failed.foreach(e => println(s"  [$name] ERR: ${e.getMessage}"))
          (drained() - j0, sec)
        }
        val (cj, cs) = pass()
        val (wj, ws) = pass()
        println(f"$name%-28s $cj%6d $cs%8.3f $wj%6d $ws%8.3f")
      }
    spark.stop()
  }
}
