package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexVersion
import graft.streaming.PinnedIndex

/** The serving loops' pin/refresh kernel under index mutations:
  *
  *  1. the standing behavior — refresh exactly when the stamp moves;
  *  2. the round-13 torn-window guard — a standing mutation marker
  *     makes the pin WAIT (and land on the post-mutation state), a
  *     marker that never clears makes it refuse LOUDLY with the replay
  *     instruction, and a briefly-absent index path (rebucket's
  *     whole-tree swap window) is waited out instead of crashing the
  *     stream.
  */
class PinnedIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def writeTable(dir: String, v: Long): Unit = {
    import spark.implicits._
    Seq(v).toDF("x").coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
  }

  private def freshIndex(v: Long): String = {
    val dir = tmpDir("graft_pinned")
    writeTable(dir, v)
    IndexVersion.bump(dir)
    dir
  }

  private def value(p: PinnedIndex): Long =
    p("t").collect().map(_.getLong(0)).head

  test("refreshes exactly when the stamp moves") {
    val dir = freshIndex(1L)
    val p = new PinnedIndex(spark, dir, Seq("t"))
    assert(value(p) === 1L)
    p.refreshIfStale() // nothing moved — stays pinned
    assert(value(p) === 1L)
    writeTable(dir, 2L)
    IndexVersion.bump(dir)
    p.refreshIfStale()
    assert(value(p) === 2L)
  }

  test("a mutation window is WAITED out: the pin lands on the post-mutation state, never mid-write") {
    val dir = freshIndex(1L)
    val p = new PinnedIndex(spark, dir, Seq("t"))
    IndexVersion.beginMutation(dir, "append")
    val t = new Thread(() => {
      Thread.sleep(400L)
      writeTable(dir, 5L)
      IndexVersion.bump(dir)
      IndexVersion.endMutation(dir)
    })
    t.start()
    p.refreshIfStale() // must block through the marker window
    t.join()
    assert(value(p) === 5L,
      "the pin must observe the completed mutation, not the window")
  }

  test("a crashed mutation (marker never cleared) refuses loudly with the replay instruction") {
    val dir = freshIndex(1L)
    val p = new PinnedIndex(spark, dir, Seq("t"))
    IndexVersion.beginMutation(dir, "append")
    try SparkTestSession.withConf("spark.graft.serve.mutationWaitMs" -> "300") {
      val e = intercept[IllegalArgumentException] {
        writeTable(dir, 9L) // half a mutation: table moved, no bump
        IndexVersion.bump(dir)
        p.refreshIfStale()
      }
      assert(e.getMessage.contains("replay"),
        s"the refusal must tell the operator what to do: ${e.getMessage}")
    } finally IndexVersion.endMutation(dir)
    // once the (replayed) mutation clears the marker, serving resumes
    p.refreshIfStale()
    assert(value(p) === 9L)
  }

  test("a briefly-absent index path (whole-tree swap window) is waited out, not a stream crash") {
    val dir = freshIndex(3L)
    val p = new PinnedIndex(spark, dir, Seq("t"))
    val parked = new java.io.File(s"$dir.parked")
    require(new java.io.File(dir).renameTo(parked), "test setup: park failed")
    val t = new Thread(() => {
      Thread.sleep(400L)
      require(parked.renameTo(new java.io.File(dir)), "test: restore failed")
      IndexVersion.bump(dir) // the installed tree carries a fresh stamp
    })
    t.start()
    p.refreshIfStale() // absent path → stamp reads "" → pin path waits
    t.join()
    assert(value(p) === 3L)
  }

  test("op-typed markers: a foreign operation refuses a crashed mutation's marker; same-op replay and build accept it") {
    val dir = freshIndex(1L)
    IndexVersion.beginMutation(dir, "append") // "crashes" here
    val e = intercept[IllegalArgumentException] {
      IndexVersion.beginMutation(dir, "compact")
    }
    assert(e.getMessage.contains("append") && e.getMessage.contains("replay"),
      s"a foreign op must refuse and name the crashed one: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      IndexVersion.requireNoMutation(dir, "rebucket")
    }
    assert(e2.getMessage.contains("append"),
      "the maintenance entry check must refuse too, naming the crashed op")
  }

  test("op-typed markers: replay and build paths accept a standing marker") {
    val dir = freshIndex(1L)
    IndexVersion.beginMutation(dir, "append")
    IndexVersion.beginMutation(dir, "append") // the replay — accepted
    IndexVersion.beginMutation(dir, "build")  // the universal repair
    IndexVersion.endMutation(dir)
    assert(IndexVersion.standingMutation(dir).isEmpty)
  }

  test("session START inside a mutation window also waits (no torn initial pin)") {
    val dir = freshIndex(1L)
    IndexVersion.beginMutation(dir, "append")
    val t = new Thread(() => {
      Thread.sleep(400L)
      writeTable(dir, 7L)
      IndexVersion.bump(dir)
      IndexVersion.endMutation(dir)
    })
    t.start()
    val p = new PinnedIndex(spark, dir, Seq("t")) // constructor pins
    t.join()
    assert(value(p) === 7L)
  }
}
