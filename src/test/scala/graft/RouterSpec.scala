package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, PostingsIndex, Retrieval, Router, Similarity}

/** Stats-driven routing contracts:
  *
  *  1. every pure decider flips in BOTH directions on synthetic stats;
  *  2. the scanned hybrid twin returns the indexed twin's exact rows —
  *     the precondition that lets one oracle gate whatever leg the
  *     router picks;
  *  3. end-to-end, the chosen PLAN flips with real corpus stats: the
  *     same entry point reads only the index on an index-favoring
  *     corpus and only the corpus files on a scan-favoring one.
  */
class RouterSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("graft_router_corpus")
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def plan(df: DataFrame): String = {
    df.collect() // adaptive plans finalize on execution
    df.queryExecution.executedPlan.toString
  }

  test("every decider flips in both directions on synthetic stats") {
    assert(Router.decideBm25(totalLen = 10000000L, sumDf = 2000L, nSb = 20L)
      .leg === "indexed")
    assert(Router.decideBm25(totalLen = 50000L, sumDf = 40000L, nSb = 300L)
      .leg === "scan")
    // fragmentation ALONE flips it — the measured sf1 point (205 sbs:
    // indexed 2.6 s vs scan 1.7 s; 13 sbs: 0.5 s — BASELINE.md round 12)
    assert(Router.decideBm25(totalLen = 10000000L, sumDf = 2000L, nSb = 2000L)
      .leg === "scan")

    assert(Router.decidePhrase(hasPositions = true, 10L, 5L, 1L).leg === "positional")
    assert(Router.decidePhrase(hasPositions = false, 10000000L, 2000L, 20L)
      .leg === "indexed")
    assert(Router.decidePhrase(hasPositions = false, 50000L, 40000L, 300L)
      .leg === "scan")
    // the round-13 sf10 measurement: positions EXIST but the index is
    // fragmented — the per-superblock tax beats the scan (25.4 s
    // positional vs 0.95 s scan on the 2000-sb gate index), so the
    // positional leg must NOT be unconditional
    assert(Router.decidePhrase(hasPositions = true, 10000000L, 2000L, 2000L)
      .leg === "scan")

    val ovh = 50000L
    assert(Router.decideAnn(nVec = 100000L, nCells = 16L, nProbe = 2L, ovh).leg === "indexed")
    assert(Router.decideAnn(nVec = 100L, nCells = 16L, nProbe = 2L, ovh).leg === "scan")

    // hybrid = the bm25 ms model at profile-bounded Σ df ≈ 0: indexed
    // on an in-band index, SCAN once fragmentation's partition tax
    // dominates the MLT leg (the measured sf10 flip: scanned twin 4.5 s
    // vs indexed fusion 33.7 s)
    assert(Router.decideHybrid(totalLen = 10000000L, nSb = 20L).leg === "indexed")
    assert(Router.decideHybrid(totalLen = 20000000L, nSb = 2000L).leg === "scan")
  }

  test("deciders run under INJECTED cost constants (the conf-override contract)") {
    // same stats, two machines: on fast disks (sbOpenMs=1) a 300-sb index
    // still wins; on spinning disks (sbOpenMs=120) the same index loses
    val stats = (10000000L, 2000L, 300L)
    assert(Router.decideBm25(stats._1, stats._2, stats._3,
      Router.Costs(sbOpenMs = 1L)).leg === "indexed")
    assert(Router.decideBm25(stats._1, stats._2, stats._3,
      Router.Costs(sbOpenMs = 120L)).leg === "scan")
    // and the CPU price flips a fixed-cost-dominated comparison: at a
    // cheap 10 ns/token the 100-sb index's open cost outweighs the
    // tokenize; at an expensive 2 µs/token the Σ df pruning wins
    assert(Router.decideBm25(10000000L, 5000000L, 100L,
      Router.Costs(tokenNanos = 10L)).leg === "scan")
    assert(Router.decideBm25(10000000L, 5000000L, 100L,
      Router.Costs(tokenNanos = 2000L)).leg === "indexed")
  }

  test("cost constants are conf-overridable under spark.graft.router.*") {
    assert(Router.costsOf(spark) === Router.measuredCosts)
    SparkTestSession.withConf("spark.graft.router.sbOpenMs" -> "77",
        "spark.graft.router.tokenNanos" -> "11") {
      val c = Router.costsOf(spark)
      assert(c.sbOpenMs === 77L && c.tokenNanos === 11L)
      // un-overridden fields keep the measured defaults
      assert(c.scanFixedMs === Router.measuredCosts.scanFixedMs)
    }
  }

  test("choices are cached per IndexVersion stamp: no re-probe until a mutation bumps it, then the route re-decides and can flip") {
    import spark.implicits._
    // index-favoring start: 2000 fat docs, probe terms a sliver
    val pad = (0 until 39).map(j => s"pad$j").mkString(" ")
    val dir = writeDocs((0L until 2000L).map(i => (i, s"spark $pad")))
    val idx = tmpDir("graft_router_cache_idx")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$dir/documents.parquet"), idx, superBits = 2)

    val r0 = Router.probeRuns.get()
    val p1 = plan(Router.bm25AutoOn(spark, dir, idx))
    assert(p1.contains("blockstats"), s"fresh stats must route indexed:\n$p1")
    assert(Router.probeRuns.get() === r0 + 1, "first call probes")
    plan(Router.bm25AutoOn(spark, dir, idx))
    assert(Router.probeRuns.get() === r0 + 1,
      "second call must serve the cached choice — zero probe jobs")

    // stats-flipping mutation: append query-term-only docs at ids spread
    // across ~200 fresh superblocks (superBits=2 → 1024-doc span each):
    // Σ df grows toward total_len AND the per-superblock open cost stacks
    // — the measured fragmentation regime. append() bumps the stamp.
    val frag = (1L to 200L).map(i =>
      (i * 1024L, "spark table scan window join"))
    PostingsIndex.append(spark, idx, frag.toDF("doc_id", "text"))
    val p2 = plan(Router.bm25AutoOn(spark, dir, idx))
    assert(Router.probeRuns.get() === r0 + 2,
      "a stamp bump must invalidate the cached choice")
    assert(p2.contains("documents.parquet") && !p2.contains("blockstats"),
      s"the re-probed stats must flip the route to the scan:\n$p2")
  }

  test("term-parameterized bm25_auto routes the CALLER's terms both ways, rows equal to the matching twin") {
    // With the measured defaults, terms alone can never flip an
    // UNFRAGMENTED index to the scan (indexFixed < scanFixed and
    // Σ df ≤ total_len — honest: the index always wins there); the
    // term-driven flip lives where fixed costs exceed the scan's, so
    // this test runs under a conf'd machine profile (slow CPU, pricey
    // index session) — which also exercises the conf overrides through
    // the full auto path, cache key included.
    val pad = (0 until 39).map(j => s"pad$j").mkString(" ")
    val dir = writeDocs((0L until 2000L).map(i =>
      (i, if (i % 50 == 0) s"needle $pad" else s"spark $pad")))
    val idx = tmpDir("graft_router_terms_idx")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$dir/documents.parquet"), idx, superBits = 2)
    SparkTestSession.withConf("spark.graft.router.tokenNanos" -> "30000",
        "spark.graft.router.indexFixedMs" -> "1500") {
      // 'needle': Σ df = 40 → the 2.4 s tokenize dwarfs the index's
      // 1.5 s fixed cost → indexed
      val rare = Router.bm25AutoOn(spark, dir, idx, Seq("needle"))
      val pRare = plan(rare)
      assert(pRare.contains("blockstats") && !pRare.contains("documents.parquet"),
        s"a rare term set must route to the index:\n$pRare")
      val wantRare = Retrieval.bm25TopkFor(spark, dir, Seq("needle")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rare.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sameElements(wantRare), "routed rows must equal the scan twin's")

      // the whole vocabulary: Σ df ≈ total_len — the index prunes
      // nothing and its fixed cost loses → scan
      val heavy = (0 until 39).map(j => s"pad$j") :+ "spark"
      val pHeavy = plan(Router.bm25AutoOn(spark, dir, idx, heavy))
      assert(pHeavy.contains("documents.parquet") && !pHeavy.contains("blockstats"),
        s"a corpus-wide term set (Σ df ≈ total_len) must route to the scan:\n$pHeavy")
    }
  }

  test("parameterized phrase/ann/hybrid autos: caller inputs, twin-equal rows") {
    import spark.implicits._
    // phrase: a non-gate phrase on the gate corpus routes positional and
    // equals the full-scan kernel for the same phrase
    val phrases = Seq(Seq("scan", "window"))
    val routed = Router.phraseAuto(spark, sf, phrases)
    val pPos = plan(routed)
    assert(pPos.contains("positions") && !pPos.contains("documents.parquet"),
      s"positions exist → positional leg for caller phrases too:\n$pPos")
    val want = Retrieval.phraseSearchFor(spark, sf, phrases).collect()
      .map(r => r.toSeq).sortBy(_.toString)
    assert(routed.collect().map(_.toSeq).sortBy(_.toString) === want)
    assert(want.nonEmpty, "the probe phrase must actually occur")

    // ann: an external query batch (non-corpus ids) — routed result equals
    // the persisted index's answer for the same batch (twin semantics)
    val qv = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") < 3)
      .select((col("vec_id") + 1000L).as("query_id"), col("embedding").as("qv"))
      .localCheckpoint()
    val vidx = graft.operators.IvfIndex.ensureLifecycleIndex(spark, sf)
    val got = Router.annAuto(spark, sf, qv).collect().map(_.toSeq).sortBy(_.toString)
    val twin = IvfIndex.query(spark, vidx, qv, nProbe = 2, k = 5)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got === twin, "routed ANN must equal the indexed twin for the same batch")
    assert(got.nonEmpty)

    // hybrid: caller-chosen query entities — routed rows equal the
    // SCANNED twin's for the same ids (route-invisibility)
    val ids = Seq(3L, 7L)
    val hr = Router.hybridAuto(spark, sf, ids).collect()
      .map(_.toSeq).sortBy(_.toString)
    val hw = Retrieval.hybridRrfScannedFor(spark, sf, ids).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(hr === hw, "parameterized hybrid must be route-invisible")
    assert(hr.nonEmpty)
    assert(hr.map(_.head).toSet === ids.map(x => x: Any).toSet,
      "results must cover exactly the caller's query ids")
  }

  test("the scanned hybrid twin equals the indexed twin row for row") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val scanned = Retrieval.hybridRrfScanned(spark, sf).collect().map(key)
    val indexed = Retrieval.hybridRrfIndexed(spark, sf).collect().map(key)
    assert(scanned.sorted.toSeq === indexed.sorted.toSeq,
      "the two hybrid legs must be routing-interchangeable")
    assert(scanned.nonEmpty)
  }

  test("bm25_auto: the plan flips with the corpus stats") {
    // scan regime: every token IS a probe term (the index prunes
    // nothing) AND the doc ids spread across ~200 superblocks (the
    // fragmented-index shape the per-partition cost term exists for)
    val scanDir = writeDocs(
      (0L until 200L).map(i => (i * 1024L, "spark table scan window join")))
    val scanIdx = tmpDir("graft_router_pidx_scan")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$scanDir/documents.parquet"), scanIdx, superBits = 2)
    // leg markers: both legs checkpoint their tf frame (hiding its scan
    // behind an ExistingRDD), but the stats side stays lazy — the scan
    // leg reads documents.parquet for globals, the indexed leg reads the
    // index's blockstats
    val p1 = plan(Router.bm25AutoOn(spark, scanDir, scanIdx))
    assert(p1.contains("documents.parquet") && !p1.contains("blockstats"),
      s"scan-regime corpus must route to the full scan:\n$p1")

    // index regime: probe terms are a sliver of a fat corpus
    val pad = (0 until 39).map(j => s"pad$j").mkString(" ")
    val idxDir = writeDocs((0L until 2000L).map(i => (i, s"spark $pad")))
    val idxIdx = tmpDir("graft_router_pidx_idx")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$idxDir/documents.parquet"), idxIdx, superBits = 2)
    val routed = Router.bm25AutoOn(spark, idxDir, idxIdx)
    val p2 = plan(routed)
    assert(p2.contains("blockstats") && !p2.contains("documents.parquet"),
      s"index-regime corpus must route to the postings scan:\n$p2")
    // and the routed rows are the scan twin's rows (the shared-oracle
    // contract, exercised on the synthetic corpus too)
    val want = Retrieval.bm25Topk(spark, idxDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(routed.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sameElements(want))
  }

  test("ann_auto: the plan flips with the corpus size") {
    import spark.implicits._
    def vecs(n: Int): Seq[(Long, Seq[Double])] =
      (0 until n).map { i =>
        (i.toLong, Array.tabulate(64)(d =>
          if (d == i % 16) 1.0 else 0.01 * ((i * 7 + d) % 5)).toSeq)
      }
    def corpusOf(n: Int): (String, String) = {
      val dir = tmpDir("graft_router_ann")
      vecs(n).toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val vidx = tmpDir("graft_router_vidx")
      IvfIndex.buildFrom(spark,
        spark.read.parquet(s"$dir/embeddings.parquet"), vidx, nCells = 16)
      (dir, vidx)
    }
    // tiny corpus: re-deriving cells inline is cheaper than the index's
    // fixed probe overhead
    val (smallDir, smallIdx) = corpusOf(32)
    val p1 = plan(Router.annAutoOn(spark, smallDir, smallIdx))
    assert(p1.contains("embeddings.parquet") && !p1.contains("members"),
      s"tiny corpus must route to the inline plan:\n$p1")
    // bigger corpus: the per-run assignment dominates; probed cells win.
    // (the indexed leg still reads embeddings.parquet for its BOUNDED
    // query batch — vec_id < 10, filter-pushed — so the discriminating
    // marker is the members table, absent from the inline plan)
    val (bigDir, bigIdx) = corpusOf(500)
    val p2 = plan(Router.annAutoOn(spark, bigDir, bigIdx))
    assert(p2.contains("members"),
      s"bigger corpus must route to the persisted index:\n$p2")
  }

  test("phrase_auto: positional when positions exist; candidate path when they don't; scan when stats say so") {
    // the gate corpus routes positional and never opens the corpus
    val pGate = plan(Router.phraseAuto(spark, sf))
    assert(pGate.contains("positions") && !pGate.contains("documents.parquet"),
      s"gate corpus must route to the positions-only path:\n$pGate")

    // index-favoring synthetic corpus (phrase terms are a sliver)
    val pad = (0 until 29).map(j => s"pad$j").mkString(" ")
    val idxDir = writeDocs(
      (0L until 2000L).map(i => (i, s"table part key $pad")))
    val idx = tmpDir("graft_router_phidx")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$idxDir/documents.parquet"), idx, superBits = 2)
    // positions lost/absent: the router must fall back to the candidate
    // path, which verifies against the corpus text
    TestFs.rmTree(new java.io.File(s"$idx/positions"))
    val p2 = plan(Router.phraseAutoOn(spark, idxDir, idx))
    assert(p2.contains("postings") && p2.contains("documents.parquet"),
      s"no positions + index-favoring stats must route to candidates+verify:\n$p2")

    // scan-favoring synthetic corpus: every token is a phrase term and
    // the ids fragment the index across ~200 superblocks
    val scanDir = writeDocs(
      (0L until 200L).map(i => (i * 1024L, "table part key")))
    val scanIdx = tmpDir("graft_router_phscan")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$scanDir/documents.parquet"), scanIdx, superBits = 2)
    TestFs.rmTree(new java.io.File(s"$scanIdx/positions"))
    val p3 = plan(Router.phraseAutoOn(spark, scanDir, scanIdx))
    assert(p3.contains("documents.parquet") && !p3.contains("postings"),
      s"scan-favoring stats must route to the full scan:\n$p3")
  }

  test("explain reports one decision per family, consistent with what the auto entries run") {
    val ex = Router.explain(spark, sf).toMap
    assert(ex.keySet === Set("bm25", "phrase", "ann", "hybrid"))
    // the gate corpus's documented choices (BASELINE round 12)
    assert(ex("phrase").leg === "positional")
    assert(ex("ann").leg === "indexed")
    assert(ex("hybrid").leg === "indexed")
    ex.values.foreach(c => assert(c.reason.contains(c.leg)))
  }

  test("maintenance planners are pure and shared: plannedRebucket / plannedResize") {
    // postings: in band (≤ 4× target) → no plan
    assert(PostingsIndex.plannedRebucket(nSb = 100L, maxDoc = 204800L,
      bits = 2, targetSbs = 32).isEmpty)
    // out of band → the exact superBits maintain would rebucket to, and
    // a dense-id predicted count at or under the target
    val Some((need, predicted)) = PostingsIndex.plannedRebucket(
      nSb = 205L, maxDoc = 204800L, bits = 2, targetSbs = 32)
    assert(need === 7, "ceil-log2 sizing: 204800 ids / 32 sbs → 2^13 span")
    assert(predicted === 26L && predicted <= 32L)
    // fragmented but no higher bits exist that help → no plan (never a
    // no-op rewrite)
    assert(PostingsIndex.plannedRebucket(nSb = 205L, maxDoc = 100L,
      bits = 7, targetSbs = 32).isEmpty)
    // exact smallest-bits contract at the power-of-two edge: 262143 ids
    // fit the 32-sb target at superBits 7 EXACTLY (32 dense sbs) — the
    // old ceil-log2 closed form overshot to 8 here, halving parallelism
    assert(PostingsIndex.plannedRebucket(nSb = 205L, maxDoc = 262143L,
      bits = 2, targetSbs = 32) === Some((7, 32L)))

    // ivf: under-partitioned (100× ingest at a pinned count) and
    // over-partitioned both plan a resize to ⌈√n⌉; in band and empty
    // plan nothing
    assert(IvfIndex.plannedResize(nVec = 2000L, standing = 1L) === Some(45))
    assert(IvfIndex.plannedResize(nVec = 100L, standing = 256L) === Some(10))
    assert(IvfIndex.plannedResize(nVec = 2000L, standing = 45L).isEmpty)
    assert(IvfIndex.plannedResize(nVec = 0L, standing = 16L).isEmpty)
  }

  test("advise predicts the post-maintain route, and maintain delivers exactly it") {
    import spark.implicits._
    // the cache test's fragmentation scenario: 2000 fat docs (indexed
    // regime), then 200 query-term appends spread across ~200 fresh
    // superblocks — the measured regime where the router routes AROUND
    // the index that exists
    val pad = (0 until 39).map(j => s"pad$j").mkString(" ")
    val dir = writeDocs((0L until 2000L).map(i => (i, s"spark $pad")))
    val idx = tmpDir("graft_router_advise_idx")
    PostingsIndex.buildFrom(spark, spark.read
      .parquet(s"$dir/documents.parquet"), idx, superBits = 2)
    PostingsIndex.append(spark, idx, (1L to 200L).map(i =>
      (i * 1024L, "spark table scan window join")).toDF("doc_id", "text"))
    // vector side: 2000 vectors indexed at ONE cell — the pinned-count
    // shape where per-query indexed I/O degenerates to a full scan plus
    // the probe session overhead, so the router picks the inline plan
    (0 until 2000).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        if (d == i % 16) 1.0 else 0.01 * ((i * 7 + d) % 5)).toSeq)
    }.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val vidx = tmpDir("graft_router_advise_vidx")
    IvfIndex.buildFrom(spark,
      spark.read.parquet(s"$dir/embeddings.parquet"), vidx, nCells = 1)

    val before = Router.adviseOn(spark, idx, vidx).map(a => a.family -> a).toMap
    assert(before.keySet === Set("bm25", "phrase", "ann", "hybrid"))
    // both degraded layouts are detected, priced, and predicted to FLIP
    val bm = before("bm25")
    assert(bm.current.leg === "scan", bm.render)
    assert(bm.action.exists(_.contains("rebucket")), bm.render)
    assert(bm.wouldFlip && bm.predicted.get.leg === "indexed", bm.render)
    val ann = before("ann")
    assert(ann.current.leg === "scan", ann.render)
    assert(ann.action.exists(_.contains("resize")), ann.render)
    assert(ann.wouldFlip && ann.predicted.get.leg === "indexed", ann.render)
    // the postings families share one planned repair
    assert(before("phrase").action === bm.action)
    assert(before("hybrid").action === bm.action)
    assert(bm.render.contains("rebucket") && bm.render.contains("indexed"))

    // run exactly what the advisories point at
    val pLog = PostingsIndex.maintain(spark, idx)
    assert(pLog.exists(_.contains("rebucket")), pLog.mkString("; "))
    val vLog = IvfIndex.maintain(spark, vidx)
    assert(vLog.exists(_.contains("resize")), vLog.mkString("; "))

    // the prediction is DELIVERED: fresh advisories report the predicted
    // legs as current, with no further action planned
    val after = Router.adviseOn(spark, idx, vidx).map(a => a.family -> a).toMap
    assert(after("bm25").current.leg === bm.predicted.get.leg)
    assert(after("ann").current.leg === ann.predicted.get.leg)
    after.values.foreach { a =>
      assert(a.predicted.isEmpty && a.action.isEmpty,
        s"post-maintain layout must be in band: ${a.render}")
      assert(a.render.contains("healthy"))
    }
    // and the AUTO entry actually takes the restored index (the stamp
    // bump from the rebucket invalidates the cached scan choice)
    val p = plan(Router.bm25AutoOn(spark, dir, idx))
    assert(p.contains("blockstats") && !p.contains("documents.parquet"),
      s"post-maintain stats must route back to the index:\n$p")
  }

  test("calibrate: costsFromPoints fits the four constants exactly from synthetic timings") {
    // scan: 10 ms at 1M tokens, 15 ms at 2M -> 5 ns/token, 5 ms fixed
    // index: 20 ms at 10 sbs, 30 ms at 20 -> 1 ms/sb, 10 ms fixed
    val c = Router.costsFromPoints(
      (1000000L, 10.0), (2000000L, 15.0), (10L, 20.0), (20L, 30.0))
    assert(c.tokenNanos === 5L)
    assert(c.scanFixedMs === 5L)
    assert(c.sbOpenMs === 1L)
    assert(c.indexFixedMs === 10L)
    // a load spike measuring the BIGGER workload faster would fit a
    // negative slope/intercept and flip decisions near crossovers —
    // the floors keep every constant physically meaningful
    val noisy = Router.costsFromPoints(
      (1000000L, 20.0), (2000000L, 18.0), (10L, 30.0), (20L, 25.0))
    assert(noisy.tokenNanos >= 1L && noisy.sbOpenMs >= 1L)
    assert(noisy.scanFixedMs >= 0L && noisy.indexFixedMs >= 0L)
    // two points at the same size cannot determine a slope
    intercept[IllegalArgumentException] {
      Router.costsFromPoints((5L, 1.0), (5L, 2.0), (1L, 1.0), (2L, 2.0))
    }
  }

  test("calibrate(spark) measures this machine and installs the confs the deciders read") {
    // the confs calibrate installs are put back afterwards
    SparkTestSession.withConf() {
      val measured = Router.calibrate(spark)
      assert(measured.tokenNanos >= 1L && measured.sbOpenMs >= 1L)
      assert(measured.scanFixedMs >= 0L && measured.indexFixedMs >= 0L)
      // the session now decides under the measured machine profile
      assert(Router.costsOf(spark) === measured)
    }
  }

  test("calibrateOrLoad: a persisted profile is inherited by a non-probing session (save/load roundtrip, atomic stamp)") {
    val stamp = s"/tmp/graft_calib_stamp_${System.nanoTime()}/machine.profile"
    graft.operators.IndexFs.mkdirs(
      stamp.substring(0, stamp.lastIndexOf('/')))
    val saved = Router.Costs(
      scanFixedMs = 123L, indexFixedMs = 45L, tokenNanos = 678L, sbOpenMs = 9L)
    Router.saveCosts(saved, stamp)
    assert(Router.loadCosts(stamp) === Some(saved))
    // overwrite goes through the atomic replaceFile protocol
    val saved2 = saved.copy(tokenNanos = 679L)
    Router.saveCosts(saved2, stamp)
    assert(Router.loadCosts(stamp) === Some(saved2))

    // "new session": the four confs unset — calibrateOrLoad must apply
    // the STAMP's profile without probing (probing would overwrite the
    // distinctive values with this machine's real ones)
    val keys = Seq("scanFixedMs", "indexFixedMs", "tokenNanos", "sbOpenMs")
      .map(k => s"spark.graft.router.$k")
    SparkTestSession.withConf() {
      keys.foreach(spark.conf.unset)
      val got = Router.calibrateOrLoad(spark, stamp)
      assert(got === saved2)
      assert(Router.costsOf(spark) === saved2,
        "the loaded profile must be live in the session's deciders")
    }
    assert(Router.loadCosts(s"$stamp.absent") === None)
  }

  test("hybrid_auto: the gate corpus routes to the indexed fusion (measured winner at every probed SF)") {
    val p = plan(Router.hybridAuto(spark, sf))
    assert(p.contains("members"),
      s"the indexed fusion reads the IVF members table:\n$p")
    // the scanned twin remains reachable: fragment the postings index
    // past the partition-tax crossover and the stats flip the choice
    val c = Router.decideHybrid(totalLen = 10000L, nSb = 500L)
    assert(c.leg === "scan")
  }
}
