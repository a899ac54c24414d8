package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.sources.Corpus

/** Persisted ANALYZE state lifecycle (round-12 verdict, stretch #8):
  *
  *  1. build → merge → replayed-merge(no-op) → finalize equals the
  *     in-query incremental recompute (md5 mode — register-exact);
  *  2. the hash mode is pinned IN THE STATE: a session conf set to the
  *     other mode cannot leak into a merge (cross-hash register merge
  *     would be silent corruption);
  *  3. migration to the fast hash: one rescan, non-sketch columns
  *     bit-identical, estimator accuracy preserved across the move AND
  *     across post-migration merges;
  *  4. the staged swap's crash windows roll forward.
  */
class StatsStateSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpState(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_statsstate").toFile
    d.deleteOnExit()
    // the state dir itself must not pre-exist (build creates it by swap)
    val p = new java.io.File(d, "state").getAbsolutePath
    p
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("lifecycle: build + merge + replayed merge == the in-query incremental recompute") {
    val got = rowsOf(Sketches.statsPersisted(spark, sf))
    val want = rowsOf(Sketches.statsIncremental(spark, sf))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the hash mode is pinned in the state, not the session conf") {
    val li = Corpus.lineitem(spark, sf)
    val state = tmpState()
    Sketches.statsStateBuild(spark, li.where(col("l_orderkey") < 1000L), state)
    SparkTestSession.withConf("spark.graft.analyze.hashMode" -> "xxhash64") {
      Sketches.statsStateMerge(spark, state, li.where(col("l_orderkey") >= 1000L))
    }
    // if the conf had leaked into the merge, the md5 and xxhash64
    // register spaces would have max-merged and the estimate would
    // diverge from the pure-md5 recompute
    assert(rowsOf(Sketches.statsStateFinalize(spark, state)) ===
      rowsOf(Sketches.statsIncremental(spark, sf)))
  }

  test("migration to xxhash64: exact columns bit-identical, estimator accurate, post-migration merges stay pinned fast and accurate") {
    val li = Corpus.lineitem(spark, sf)
    val state = tmpState()
    Sketches.statsStateBuild(spark, li.where(col("l_orderkey") < 1000L), state)
    Sketches.statsStateMigrate(spark, li, state, "xxhash64")
    // post-migration merge runs under the NEW pinned mode
    val absorbed = Sketches.statsStateMerge(spark, state,
      li.where(col("l_orderkey") >= 1000L))
    assert(absorbed > 0L)
    val fin = Sketches.statsStateFinalize(spark, state).collect()
      .map(r => r.getString(0) -> r).toMap
    // reference: the full-table ANALYZE (exact NDV + the same exact
    // non-sketch columns)
    val ref = Sketches.tableStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(fin.keySet === ref.keySet)
    ref.foreach { case (cn, want) =>
      val got = fin(cn)
      assert(got.getLong(1) === want.getLong(1), s"$cn n_rows")   // n_rows
      assert(got.getLong(2) === want.getLong(2), s"$cn n_nulls")  // n_nulls
      // bounds: exact, hash-independent (cols 4..7 in finalize; the
      // reference carries ndv_exact+ndv_est between, so index by name)
      Seq("min_num", "max_num", "min_str", "max_str").foreach { b =>
        assert(String.valueOf(got.getAs[Any](b)) ===
          String.valueOf(want.getAs[Any](b)), s"$cn $b")
      }
      // estimator accuracy across the migration + merge: within 20%
      // (~3 sigma for 256 registers, the FastAnalyzeSpec gate)
      val exact = want.getAs[Long]("ndv_exact").toDouble
      val est = got.getAs[Double]("ndv_est")
      assert(math.abs(est - exact) / exact <= 0.2,
        s"$cn ndv_est $est vs exact $exact")
    }
  }

  test("a crashed swap (committed staging, state path absent) rolls forward on the next read") {
    val li = Corpus.lineitem(spark, sf)
    val state = tmpState()
    Sketches.statsStateBuild(spark, li, state)
    val want = rowsOf(Sketches.statsStateFinalize(spark, state))
    // simulate the crash window between park and install: the complete
    // committed state sits at .next (READY), the standing path is gone
    val next = new java.io.File(s"$state.next")
    require(new java.io.File(state).renameTo(next))
    require(new java.io.File(next, "_GRAFT_STATE_READY").createNewFile())
    assert(rowsOf(Sketches.statsStateFinalize(spark, state)) === want,
      "the recovery must install the committed staging and serve it")
    assert(new java.io.File(state).isDirectory &&
      !new java.io.File(s"$state.next").isDirectory)
  }
}
