package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-workflow tool: one loop over the declared queries that
  * records, per query, its driver job count, Janino compiles and seconds
  * (cold and warm) and its plan.
  *
  * Counts and seconds: each query runs the noop-sink write twice. The
  * cold pass absorbs one-time ensure/build work and choice-cache probes;
  * the WARM pass is the steady state the bench's min-of-2 reports. Every
  * Spark job carries scheduler fixed cost regardless of size, so the
  * number of sequential bounded jobs a query's construction (index
  * ensure, profile collects) and execution run is the honest fixed-cost
  * metric at small scale. Jobs are counted by a listener, compiles by
  * Spark's `CodegenMetrics`; stdout gets one line per query:
  * `query cold_j cold_c cold_s warm_j warm_c warm_s`. A query with
  * warm_c > 0 recompiles on every run: its plan inlines a literal that
  * changes between runs (a watermark, an `isin` list), so the class cache
  * cannot serve it.
  *
  * Plans: the cold pass builds the frame with [[Materialize]]'s recorder
  * on and takes `.explain("formatted")` before its write, so the plan
  * file (`<query>_<suffix>.txt` in the plan dir, or `PLAN FAILED: ...`)
  * holds the executed plan followed by the PRE-materialization plan of
  * every checkpoint taken during construction — an eager checkpoint
  * otherwise truncates the plan to `Scan ExistingRDD` (round-15 verdict,
  * Wrong #3). Plan shapes (Exchange count, join strategy,
  * PushedFilters/ReadSchema) can then be diffed before/after a change
  * and committed as evidence (`plans/rN/`). cold_s includes that capture;
  * the warm pass runs unrecorded.
  *
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (core count),
  * SPARK_GRAFT_ONLY (comma-separated query subset), GRAFT_PLAN_DIR
  * (plan dir, default plans/r15), GRAFT_PLAN_SUFFIX (default "before"). */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planDir = sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r15")
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(planDir))
    val formatted = ExplainMode.fromString("formatted")
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
    SparkEntry.warmUp(spark, sfDir)
    println(f"${"query"}%-28s ${"cold_j"}%6s ${"cold_c"}%6s ${"cold_s"}%8s ${"warm_j"}%6s ${"warm_c"}%6s ${"warm_s"}%8s")
    SparkEntry.selected(SparkEntry.onlyFromEnv).foreach { case (name, fn) =>
      // builds the frame with the recorder on; returns it with the text
      // of its plan file, taken before any write
      def recorded(): (Try[DataFrame], String) = {
        Materialize.startRecording()
        val built = Try(fn(spark, sfDir))
        val executed = built.flatMap(df => Try(df.queryExecution.explainString(formatted)))
        // drained unconditionally so a failed query can't leak its
        // records into the next query's plan file
        val pre = Materialize.drainRecording()
        val text = executed.fold(
          e => s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}",
          _ + pre.zipWithIndex.map { case ((label, plan), i) =>
            s"\n=== pre-materialization plan ${i + 1}/${pre.size} [$label] ===\n$plan"
          }.mkString)
        (built, text)
      }
      // one timed noop-write pass over the frame `build` returns
      def pass[T](build: => (Try[DataFrame], T)): (Int, Long, Double, T) = {
        val (j0, c0) = drained()
        val t0 = System.nanoTime()
        val (built, extra) = build
        val r = built.flatMap(df => Try(df.write.format("noop").mode("overwrite").save()))
        val sec = (System.nanoTime() - t0) / 1e9
        r.failed.foreach(e => println(s"  [$name] ERR: ${e.getMessage}"))
        val (j1, c1) = drained()
        (j1 - j0, c1 - c0, sec, extra)
      }
      val (cj, cc, cs, text) = pass(recorded())
      Files.write(Paths.get(planDir, s"${name}_$suffix.txt"), text.getBytes(StandardCharsets.UTF_8))
      val (wj, wc, ws, _) = pass((Try(fn(spark, sfDir)), ()))
      println(f"$name%-28s $cj%6d $cc%6d $cs%8.3f $wj%6d $wc%6d $ws%8.3f")
    }
    spark.stop()
  }
}
