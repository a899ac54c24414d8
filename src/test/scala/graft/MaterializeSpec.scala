package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the ONE materialization seam ([[Materialize]] —
  * round-15 verdict, Next #6): every operator's eager checkpoint goes
  * through `graftCheckpoint()`, and one conf
  * (`spark.graft.checkpoint.mode=local|reliable`) flips all sites from
  * local-mode block storage (fast, lost with an executor) to reliable
  * checkpoint files (cluster-safe). Local mode must behave exactly as the
  * bare `localCheckpoint()` it replaced. */
class MaterializeSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.spark

  test("local mode (default) truncates lineage like localCheckpoint") {
    spark.conf.unset(Materialize.modeKey)
    val df = Materialize.checkpoint(
      spark.range(100).select(col("id"), (col("id") * 2).as("x")))
    assert(df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    assert(df.agg(sum(col("x"))).collect()(0).getLong(0) === 9900L)
  }

  test("reliable mode without a checkpoint dir fails loudly") {
    // fresh thread-safety note: sc.checkpointDir is global — only probe
    // when unset, and restore the conf after
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    SparkTestSession.withConf(Materialize.modeKey -> "reliable") {
      val e = intercept[IllegalArgumentException] {
        Materialize.checkpoint(spark.range(10).toDF())
      }
      assert(e.getMessage.contains(Materialize.dirKey))
    }
  }

  test("reliable mode writes checkpoint files and returns identical results") {
    val dir = Files.createTempDirectory("graft_reliable_ckpt").toString
    try SparkTestSession.withConf(Materialize.modeKey -> "reliable", Materialize.dirKey -> dir) {
      // a representative operator THROUGH the seam: dedupFunnel checkpoints
      // three id frames and runs the two-thread overlap — the full
      // discipline, end to end, under reliable mode
      val reliable = graft.operators.Dedup.dedupFunnel(spark, sf).collect()
      assert(Files.list(Paths.get(dir)).iterator().asScala.nonEmpty,
        "reliable mode must land blocks under the checkpoint dir")
      spark.conf.set(Materialize.modeKey, "local")
      val local = graft.operators.Dedup.dedupFunnel(spark, sf).collect()
      assert(reliable.toSeq === local.toSeq,
        "checkpoint mode must not change operator results")
    } finally {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p))
          Files.list(p).iterator().asScala.toSeq.foreach(rm)
        Files.deleteIfExists(p); ()
      }
      rm(Paths.get(dir))
    }
  }

  test("reliable mode: releaseCheckpoint deletes the released rdd-* files") {
    val dir = Files.createTempDirectory("graft_reliable_release").toString
    def ckptFile(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        .rdd.getCheckpointFile.get
    def exists(f: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    try SparkTestSession.withConf(Materialize.modeKey -> "reliable", Materialize.dirKey -> dir) {
      // a checkpoint-per-round loop: each round checkpoints the next
      // frame from the current one, then releases the current one
      var cur = Materialize.checkpoint(spark.range(100).toDF("id"))
      val released = (1 to 3).map { _ =>
        val next = Materialize.checkpoint(cur.select((col("id") + 1).as("id")))
        val f = ckptFile(cur)
        assert(exists(f), s"reliable checkpoint must write $f")
        org.apache.spark.sql.graft.Bridge.releaseCheckpoint(cur)
        cur = next
        f
      }
      assert(cur.agg(sum(col("id"))).collect()(0).getLong(0) === 4950L + 300L)
      val left = released.filter(exists)
      assert(left.isEmpty, s"released checkpoint files remain:\n${left.mkString("\n")}")
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(cur)
    } finally graft.operators.IndexFs.deleteTree(dir)
  }

  test("an eager checkpoint runs one job and evaluates the frame once, in both modes") {
    // the numbers Materialize's scaladoc states: reliable mode writes its
    // checkpoint files inside the one materializing job — no count job
    // first, no second evaluation of the frame
    val dir = Files.createTempDirectory("graft_reliable_jobs").toString
    val evals = spark.sparkContext.longAccumulator("graft_ckpt_evals")
    val tap = udf((x: Long) => { evals.add(1L); x }).asNondeterministic()
    def cost(mode: String): (Int, Long) = {
      spark.conf.set(Materialize.modeKey, mode)
      evals.reset()
      var ckpt: org.apache.spark.sql.DataFrame = null
      val jobs = SparkTestSession.jobsDuring {
        ckpt = Materialize.checkpoint(spark.range(1000).select(tap(col("id")).as("id")))
      }
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(ckpt)
      (jobs, evals.value)
    }
    try SparkTestSession.withConf(Materialize.dirKey -> dir) {
      assert(cost("local") === ((1, 1000L)))
      assert(cost("reliable") === ((1, 1000L)))
    } finally graft.operators.IndexFs.deleteTree(dir)
  }

  test("source audit: no operator calls localCheckpoint() directly") {
    // the seam is only a seam if every site goes through it
    val offenders = SourceAudit.offenders("src/main/scala/graft", Set("Materialize.scala"))(
      _.contains(".localCheckpoint("))
    assert(offenders.isEmpty,
      s"localCheckpoint outside the Materialize seam:\n${offenders.mkString("\n")}")
  }

  test("recording captures pre-materialization plans (PlanDump evidence)") {
    Materialize.startRecording()
    Materialize.checkpoint(
      spark.range(50).select(col("id"), (col("id") % 7).as("k")))
    val recs = Materialize.drainRecording()
    assert(recs.size === 1)
    assert(recs.head._2.contains("Range"),
      s"pre-materialization plan must show the real operators:\n${recs.head._2}")
    // drained: a second drain is empty (no leak into the next query)
    assert(Materialize.drainRecording().isEmpty)
  }
}
