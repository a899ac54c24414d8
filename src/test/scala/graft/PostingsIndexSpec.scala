package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PostingsIndex, Retrieval}

/** Lifecycle contracts of the persisted inverted index: indexed BM25 ==
  * the full-scan operator row for row, append converges to the one-shot
  * layout while rewriting ONLY touched tail partitions, replayed appends
  * are no-ops, and the query path's index scan is term-pruned with the
  * corpus never read.
  */
class PostingsIndexSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // synthetic corpus spanning several 256-doc superblock partitions at
  // superBits = 2: ids 0..700 step 7 → sb 0, 1, 2
  private def synthDocs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"alpha beta doc$i " + ("gamma " * (i % 5).toInt).trim))
      .toDF("doc_id", "text")
  }

  private def statRows(idx: String): Map[Int, (Long, Long, Long)] =
    spark.read.parquet(s"$idx/blockstats").collect()
      .map(r => r.getAs[Int]("sb") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_len"),
          r.getAs[Long]("max_doc_id"))).toMap

  private def postingRows(s: SparkSession, idx: String) =
    s.read.parquet(s"$idx/postings")
      .select(col("term"), col("block"), col("plist"), col("sb")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Row](2).map(e => (e.getLong(0), e.getLong(1), e.getLong(2))).toList,
        r.getInt(3)))

  test("bm25_indexed equals the full-scan bm25_topk row for row") {
    val indexed = PostingsIndex.bm25Indexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val scanned = Retrieval.bm25Topk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed.sameElements(scanned),
      "index-scan scoring must be bit-identical to the corpus-scan operator")
  }

  test("append converges to the one-shot layout and rewrites only touched partitions") {
    val ids = (0L to 700L by 7L)
    val all = synthDocs(ids)
    val oneShotDir = tmpDir("graft_pidx_oneshot")
    val lifecycleDir = tmpDir("graft_pidx_lifecycle")
    PostingsIndex.buildFrom(spark, all, oneShotDir, superBits = 2)
    // bootstrap the prefix (sb 0 = docs 0..255), then append the rest
    PostingsIndex.buildFrom(spark, all.where(col("doc_id") < 256), lifecycleDir,
      superBits = 2)
    // record sb=0's data files before the append
    val sb0 = new java.io.File(s"$lifecycleDir/postings/sb=0")
    def files(d: java.io.File): Map[String, Long] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = files(sb0)
    assert(before.nonEmpty, "bootstrap must have written sb=0")
    val (appended, rewritten) =
      PostingsIndex.append(spark, lifecycleDir, all.where(col("doc_id") >= 256))
    assert(appended > 0L)
    // batch ids 259..700 live in sb 1 and 2 only — block 259>>6 = 4,
    // sb = 4>>2 = 1: partition sb=0 must be byte-untouched
    assert(rewritten === 2L, "append must rewrite exactly the touched tail partitions")
    assert(files(sb0) === before, "an untouched partition's files must not be rewritten")
    assert(postingRows(spark, lifecycleDir).sortBy(r => (r._1, r._2))
      .sameElements(postingRows(spark, oneShotDir).sortBy(r => (r._1, r._2))),
      "lifecycle layout must converge to the one-shot build")
    // stored superblock stats merged to the one-shot values, row for row
    assert(statRows(lifecycleDir) === statRows(oneShotDir))
    // the WAND bound table converges too (re-derived from the merged
    // postings on append, never separately trusted)
    def termStats(idx: String) = spark.read.parquet(s"$idx/termstats")
      .collect().map(r => (r.getString(0), r.getInt(4),
        r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(termStats(lifecycleDir) === termStats(oneShotDir),
      "appended termstats diverged from a one-shot build")
    // replaying the same batch appends nothing (watermark guard)
    val (re, reParts) =
      PostingsIndex.append(spark, lifecycleDir, all.where(col("doc_id") >= 256))
    assert(re === 0L && reParts === 0L, "a replayed batch must be a no-op")
  }

  test("delete leaves no trace, touches only its partitions, preserves the watermark, replays as a no-op") {
    import spark.implicits._
    val ids = 0L to 700L by 7L
    // deleted set lives entirely in sb=1 (docs 256..511) and includes
    // that superblock's max doc (511 = 7*73) to pin watermark behavior
    val delIds = Seq(259L, 273L, 511L)
    val lifecycleDir = tmpDir("graft_pidx_del")
    val scratchDir = tmpDir("graft_pidx_del_scratch")
    PostingsIndex.buildFrom(spark, synthDocs(ids), lifecycleDir, superBits = 2)
    PostingsIndex.buildFrom(spark,
      synthDocs(ids.filterNot(delIds.contains)), scratchDir, superBits = 2)
    def files(d: java.io.File): Map[String, Long] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => f.getName -> f.lastModified()).toMap
    val sb0 = new java.io.File(s"$lifecycleDir/postings/sb=0")
    val before = files(sb0)
    val (touched, removed) = PostingsIndex.delete(spark, lifecycleDir,
      delIds.toDF("doc_id"))
    assert(touched === 1L, "delete must rewrite only the ids' superblock")
    assert(removed > 0L)
    assert(files(sb0) === before, "an untouched partition was rewritten")
    // every row table equals a from-scratch build over the survivors
    assert(postingRows(spark, lifecycleDir).sortBy(r => (r._1, r._2))
      .sameElements(postingRows(spark, scratchDir).sortBy(r => (r._1, r._2))),
      "deleted index diverged from the from-scratch build")
    def posRows(idx: String) = spark.read.parquet(s"$idx/positions")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Seq[Int]]("positions"))).toSet
    def dlRows(idx: String) = spark.read.parquet(s"$idx/doclens")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"))).toSet
    assert(posRows(lifecycleDir) === posRows(scratchDir))
    assert(dlRows(lifecycleDir) === dlRows(scratchDir))
    // stats: survivor counts, but max_doc_id does NOT regress — it is
    // the ingest watermark (a scratch build over survivors shows 504)
    val st = statRows(lifecycleDir)
    assert(st(1)._1 === statRows(scratchDir)(1)._1)
    assert(st(1)._2 === statRows(scratchDir)(1)._2)
    assert(st(1)._3 === 511L, "watermark must survive deletion of the max doc")
    // replaying the delete converges: same partition touched, nothing removed
    val (t2, r2) = PostingsIndex.delete(spark, lifecycleDir, delIds.toDF("doc_id"))
    assert(t2 === 1L && r2 === 0L)
    // and a deleted doc cannot be resurrected by an append replay
    val (re, _) = PostingsIndex.append(spark, lifecycleDir, synthDocs(Seq(511L)))
    assert(re === 0L, "append resurrected a deleted doc below the watermark")
  }

  test("deleting a whole superblock purges its partitions and zeroes its stats row") {
    import spark.implicits._
    val ids = 0L to 700L by 7L
    val idx = tmpDir("graft_pidx_purge")
    PostingsIndex.buildFrom(spark, synthDocs(ids), idx, superBits = 2)
    PostingsIndex.delete(spark, idx, ids.filter(_ < 256).toDF("doc_id"))
    Seq("postings", "positions", "doclens", "termstats").foreach { t =>
      assert(!new java.io.File(s"$idx/$t/sb=0").exists(),
        s"stale $t partition survived a full-superblock delete")
    }
    // the stats row persists at zero with its watermark — the superblock
    // stays non-ingestable
    assert(statRows(idx)(0) === ((0L, 0L, 252L)))
    // and reads still work end to end
    assert(spark.read.parquet(s"$idx/postings")
      .select(explode(col("plist")).as("e"))
      .where(col("e.doc_id") < 256).count() === 0L)
  }

  test("zero-token docs flow through the norms table: delete decrements n_docs exactly") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_norms")
    // doc 2 normalizes to the empty string — no postings, no positions,
    // but it must count in (and delete from) the superblock stats
    PostingsIndex.buildFrom(spark,
      Seq((1L, "alpha beta"), (2L, "   "), (3L, "alpha")).toDF("doc_id", "text"),
      idx, superBits = 2)
    assert(statRows(idx)(0) === ((3L, 3L, 3L)))
    PostingsIndex.delete(spark, idx, Seq(2L).toDF("doc_id"))
    assert(statRows(idx)(0) === ((2L, 3L, 3L)),
      "zero-token doc's deletion must decrement n_docs without touching total_len")
    PostingsIndex.delete(spark, idx, Seq(1L).toDF("doc_id"))
    assert(statRows(idx)(0) === ((1L, 1L, 3L)))
  }

  test("bm25_wand equals the full-scan bm25_topk row for row") {
    val wand = PostingsIndex.bm25Wand(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val scanned = Retrieval.bm25Topk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(wand.sameElements(scanned),
      "WAND-pruned scoring must be bit-identical to the corpus-scan operator")
  }

  test("WAND prunes the superblocks impact cannot reach; pruned result stays exact") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_wand")
    // skewed corpus: every doc is 10 tokens with constant dl; "hot"
    // carries tf=3 in superblock 0 and tf=1 everywhere else, so sb 0's
    // quantized bound strictly dominates and θ (the 10th-best full score,
    // all sb-0 docs tie) exceeds the other superblocks' bounds
    val docs = (0L to 700L by 7L).map { i =>
      val rep = if (i < 256) 3 else 1
      (i, ("hot " * rep) + (1 to (10 - rep)).map(j => s"f${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    PostingsIndex.buildFrom(spark, docs, idx, superBits = 2)

    val (selected, all, _, _) = PostingsIndex.wandSelect(spark, idx, Seq("hot"), 10)
    assert(all === Seq(0, 1, 2), s"scenario must span 3 superblocks, got $all")
    assert(selected === Seq(0),
      s"only the impact-bearing superblock may survive selection, got $selected")

    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getDouble(1))
    val wand = PostingsIndex.queryWand(spark, idx, Seq("hot"), 10).collect().map(key)
    val full = PostingsIndex.query(spark, idx, Seq("hot")).collect().map(key)
    assert(wand.sameElements(full), "pruning changed the top-k")
    // tie-break sanity: all sb-0 docs score identically, so the top-10
    // are the ten smallest doc_ids
    assert(wand.map(_._1).toSeq === (0L to 63L by 7L).take(10).toSeq)
  }

  test("compact merges fragmented superblocks to one file each, bit-identical rows, others untouched") {
    val all = synthDocs(0L to 700L by 7L)
    val idx = tmpDir("graft_pidx_compact")
    PostingsIndex.buildFrom(spark, all, idx, superBits = 2)

    def listing(): Map[String, Set[String]] =
      new java.io.File(s"$idx/postings").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("sb="))
        .map(d => d.getName -> d.listFiles()
          .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .map(_.getName).toSet).toMap
    def contents() = postingRows(spark, idx).sortBy(r => (r._1, r._2)).toSeq

    val rows = contents()
    // simulate a long streaming-append history: rewrite the TAIL
    // superblocks (sb >= 1, the partitions appends actually touch) as
    // ~8-file slivers each, leaving sb=0 at the build's layout
    val frag0 = spark.read.parquet(s"$idx/postings")
      .where(col("sb") >= 1).localCheckpoint()
    frag0.repartition(8).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sb").parquet(s"$idx/postings")
    assert(contents() === rows, "fragmentation rewrite must be layout-only")

    val before = listing()
    val threshold = 2
    val fragged = before.filter(_._2.size > threshold).keySet
    val small = before.keySet -- fragged
    assert(fragged.nonEmpty, s"no fragmented partitions to compact: ${before.view.mapValues(_.size).toMap}")
    assert(small.nonEmpty, "need untouched partitions for the no-touch claim")

    val (nSb, filesBefore, filesAfter) = PostingsIndex.compact(spark, idx, threshold)
    assert(nSb === fragged.size.toLong)
    assert(filesBefore === fragged.toSeq.map(before(_).size).sum.toLong)
    assert(filesAfter === fragged.size.toLong,
      "each compacted partition must come back as exactly one file")
    val after = listing()
    small.foreach(p => assert(after(p) === before(p), s"partition $p was touched"))
    fragged.foreach(p => assert(after(p).size === 1, s"partition $p not compacted"))
    assert(contents() === rows, "compaction changed index contents")
    // key-major layout: each compacted file holds its terms in sorted
    // order, so parquet row-group min/max stats can prune term-pushed
    // scans (an append-order file spans the whole vocabulary per group)
    fragged.foreach { p =>
      val f = new java.io.File(s"$idx/postings/$p").listFiles()
        .filter(x => x.isFile && !x.getName.startsWith(".") &&
          !x.getName.startsWith("_")).head
      val terms = spark.read.parquet(f.getAbsolutePath)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      assert(terms === terms.sorted, s"compacted $p is not term-sorted")
    }
    // idempotent: nothing left above the threshold (the query path is
    // covered by the contents equality — the synthetic vocabulary has no
    // probe terms, so query() itself would be vacuously empty here)
    assert(PostingsIndex.compact(spark, idx, threshold) === ((0L, 0L, 0L)))
  }

  test("streaming ingestion converges to the one-shot layout; a replayed batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val ids = (0L to 500L by 5L)
    val all = synthDocs(ids)
    val oneShotDir = tmpDir("graft_pidx_stream_oneshot")
    val streamDir = tmpDir("graft_pidx_stream")
    PostingsIndex.buildFrom(spark, all, oneShotDir, superBits = 2)
    PostingsIndex.buildFrom(spark, all.where(col("doc_id") < 200), streamDir,
      superBits = 2)
    val in = MemoryStream[(Long, String)]
    val q = PostingsIndex.appendStream(spark, streamDir,
      in.toDF().toDF("doc_id", "text"), tmpDir("graft_pidx_ckpt"))
    try {
      val rest = all.where(col("doc_id") >= 200).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val (b1, b2) = rest.splitAt(rest.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b1.toSeq); q.processAllAvailable() // redelivery: must merge nothing
      in.addData(b2.toSeq); q.processAllAvailable()
      assert(postingRows(spark, streamDir).sortBy(r => (r._1, r._2))
        .sameElements(postingRows(spark, oneShotDir).sortBy(r => (r._1, r._2))),
        "streamed ingestion must converge to the one-shot build")
      assert(statRows(streamDir) === statRows(oneShotDir),
        "a redelivered batch must not advance the stats")
    } finally q.stop()
  }

  test("streaming takedown converges to the batch delete; redelivered ids are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val ids = (0L to 500L by 5L)
    val all = synthDocs(ids)
    val delIds = Seq(100L, 255L, 260L, 495L) // spans sb 0, 1
    val batchDir = tmpDir("graft_pidx_delstream_batch")
    val streamDir = tmpDir("graft_pidx_delstream")
    PostingsIndex.buildFrom(spark, all, batchDir, superBits = 2)
    PostingsIndex.delete(spark, batchDir, delIds.toDF("doc_id"))
    PostingsIndex.buildFrom(spark, all, streamDir, superBits = 2)
    val in = MemoryStream[Long]
    val q = PostingsIndex.deleteStream(spark, streamDir,
      in.toDF().toDF("doc_id"), tmpDir("graft_pidx_delstream_ckpt"))
    try {
      val (b1, b2) = delIds.splitAt(2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b1); q.processAllAvailable() // redelivery: nothing left to remove
      in.addData(b2); q.processAllAvailable()
      assert(postingRows(spark, streamDir).sortBy(r => (r._1, r._2))
        .sameElements(postingRows(spark, batchDir).sortBy(r => (r._1, r._2))),
        "streamed takedown must converge to the one-shot batch delete")
      assert(statRows(streamDir) === statRows(batchDir))
    } finally q.stop()
  }

  test("a crash between the postings and stats writes converges on retry") {
    // simulate the torn-append window: run the append (both writes),
    // then roll blockstats/ back to its pre-append state — the on-disk
    // picture a crash after the postings write leaves — and RETRY the
    // same batch. The retry must re-merge postings as a no-op (entry
    // distinctness) and complete the missing stats merge exactly once.
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else { Files.createDirectories(t.getParent); Files.copy(p, t) }
      }
    def rmTree(p: Path): Unit = if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))

    val ids = (0L to 600L by 3L)
    val all = synthDocs(ids)
    val oneShotDir = tmpDir("graft_pidx_crash_oneshot")
    val crashDir = tmpDir("graft_pidx_crash")
    PostingsIndex.buildFrom(spark, all, oneShotDir, superBits = 2)
    PostingsIndex.buildFrom(spark, all.where(col("doc_id") < 300), crashDir,
      superBits = 2)
    val statsPath = java.nio.file.Paths.get(s"$crashDir/blockstats")
    val snapshot = java.nio.file.Paths.get(s"$crashDir/blockstats_snapshot")
    copyTree(statsPath, snapshot)
    val batch = all.where(col("doc_id") >= 300)
    PostingsIndex.append(spark, crashDir, batch)
    // roll stats back: postings carry the batch, stats do not
    rmTree(statsPath)
    copyTree(snapshot, statsPath)
    rmTree(snapshot)
    // retry (the at-least-once redelivery)
    PostingsIndex.append(spark, crashDir, batch)
    assert(postingRows(spark, crashDir).sortBy(r => (r._1, r._2))
      .sameElements(postingRows(spark, oneShotDir).sortBy(r => (r._1, r._2))),
      "retried append must not duplicate postings")
    assert(statRows(crashDir) === statRows(oneShotDir),
      "retried append must complete the stats merge exactly once")
  }

  test("query-time index scan is term-pruned; the corpus is never read") {
    val idx = tmpDir("graft_pidx_plan")
    PostingsIndex.buildFrom(spark, synthDocs(0L to 300L by 3L), idx, superBits = 2)
    val plan = PostingsIndex.query(spark, idx).queryExecution.executedPlan.toString
    // after the localCheckpoint the scoring plan must contain no file
    // scan at all — the only corpus-shaped input is the checkpointed
    // (doc_id, dl, token, tf) frame and the 1-row stats read
    assert(!plan.contains("documents.parquet"), s"corpus read at query time:\n$plan")
    // the term pushdown lives in the tf frame's own (pre-checkpoint)
    // plan: rebuild it unbatched and audit the index scan
    val tfPlan = spark.read.parquet(s"$idx/postings")
      .where(col("term").isin(Retrieval.queryTerms: _*))
      .select(col("term"), explode(col("plist")).as("e"))
      .queryExecution.executedPlan.toString
    assert(tfPlan.contains("PushedFilters: [In(term"),
      s"query terms not pushed into the index scan:\n$tfPlan")
  }

  test("proximity search prunes superblocks lacking either term; pruned result stays exact") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_nearprune")
    // term support concentrates: 'part' lives ONLY in sb 0 (ids < 256),
    // 'table' everywhere — a pair needs both, so only sb 0 can qualify
    val docs = (0L to 700L by 7L).map { i =>
      val tail = if (i < 256) "table near part here" else "table alone here"
      (i, s"filler$i $tail")
    }.toDF("doc_id", "text")
    PostingsIndex.buildFrom(spark, docs, idx, superBits = 2)

    // the operator's selection: superblocks holding BOTH terms
    val selected = spark.read.parquet(s"$idx/termstats")
      .where(col("term").isin("table", "part"))
      .groupBy(col("sb")).agg(count_distinct(col("term")).as("nt"))
      .where(col("nt") === 2)
      .select(col("sb")).collect().map(_.getInt(0)).toSet
    assert(selected === Set(0), s"expected only sb 0 to qualify: $selected")
    // and 'table' alone spans more superblocks — the prune is non-vacuous
    val tableSbs = spark.read.parquet(s"$idx/termstats")
      .where(col("term") === "table").select(col("sb"))
      .collect().map(_.getInt(0)).toSet
    assert(tableSbs.size > 1, "corpus must span superblocks for the claim")

    // static partition pruning: the sb restriction lands as a partition
    // filter on the positions scan (pruned superblocks' files are never
    // opened) — inputFiles would lie here (it ignores filters)
    val prunedPlan = spark.read.parquet(s"$idx/positions")
      .where(col("sb").isin(selected.toSeq.map(Integer.valueOf): _*) &&
        col("term").isin("table", "part"))
      .queryExecution.executedPlan.toString
    val pf = prunedPlan.split("PartitionFilters: \\[", 2)
    assert(pf.length === 2 && !pf(1).startsWith("]") && pf(1).take(80).contains("sb#"),
      s"sb restriction not a partition filter:\n$prunedPlan")

    // exactness: pruned operator == the unpruned positional path
    val got = PostingsIndex.nearPositionalOn(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val unprunedToks = spark.read.parquet(s"$idx/positions")
      .where(col("term").isin("table", "part"))
      .select(col("doc_id"), explode(col("positions")).as("pos"),
        col("term").as("token"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
    val want = Retrieval.nearPairsOf(unprunedToks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === want, "superblock pruning changed the proximity result")
    assert(got.nonEmpty, "gate corpus must produce pairs")
    assert(got.map(_._1).forall(_ < 256), "pairs can only live in sb 0")
  }

  test("an above-watermark delete tombstones the id: the later-arriving batch cannot admit it") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_tomb")
    PostingsIndex.buildFrom(spark, synthDocs(0L to 20L), idx, superBits = 2)
    def docIds(): Set[Long] =
      spark.read.parquet(s"$idx/doclens").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet

    // takedown arrives BEFORE the doc was ever ingested (id 100 > wm 20):
    // no physical rows to remove, but the intent must stand
    val (sbs0, removed0) =
      PostingsIndex.delete(spark, idx, Seq(100L).toDF("doc_id"))
    assert(removed0 === 0L, "nothing physical should be removed")
    assert(sbs0 >= 0L)
    assert(docIds() === (0L to 20L).toSet, "standing docs must be untouched")

    // the doc's batch finally arrives, alongside legitimate new docs
    PostingsIndex.append(spark, idx, synthDocs(Seq(99L, 100L, 101L)))
    assert(docIds() === ((0L to 20L).toSet + 99L + 101L),
      "the tombstoned id must stay out; its batch-mates must land")

    // replaying the batch (the foreachBatch retry) changes nothing
    PostingsIndex.append(spark, idx, synthDocs(Seq(99L, 100L, 101L)))
    assert(docIds() === ((0L to 20L).toSet + 99L + 101L))

    // replaying the delete is a no-op too (tombstone merge is pure)
    PostingsIndex.delete(spark, idx, Seq(100L).toDF("doc_id"))
    assert(docIds() === ((0L to 20L).toSet + 99L + 101L))
  }

  test("vacuum drops only watermark-covered tombstones; protection is seamless across the handoff") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_vacuum")
    PostingsIndex.buildFrom(spark, synthDocs(0L to 20L), idx, superBits = 2)
    def docIds(): Set[Long] =
      spark.read.parquet(s"$idx/doclens").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet

    // two in-flight takedowns above the watermark (wm = 20)
    PostingsIndex.delete(spark, idx, Seq(100L, 300L).toDF("doc_id"))
    // nothing is watermark-covered yet: vacuum keeps both
    assert(PostingsIndex.vacuumTombstones(spark, idx) === ((0L, 2L)))

    // id 100's batch arrives: blocked by its tombstone; wm advances to 101
    PostingsIndex.append(spark, idx, synthDocs(Seq(99L, 100L, 101L)))
    assert(!docIds().contains(100L))
    // 100 is now watermark-covered (100 <= 101) and redundant; 300 is not
    assert(PostingsIndex.vacuumTombstones(spark, idx) === ((1L, 1L)))
    val standing = spark.read.parquet(s"$idx/tombstones")
      .collect().map(_.getLong(0)).toSet
    assert(standing === Set(300L))

    // protection is seamless: the replayed batch is still blocked — by
    // the WATERMARK now, not the dropped tombstone
    PostingsIndex.append(spark, idx, synthDocs(Seq(99L, 100L, 101L)))
    assert(!docIds().contains(100L))
    // and 300's takedown still stands when its batch finally lands
    PostingsIndex.append(spark, idx, synthDocs(Seq(299L, 300L, 301L)))
    assert(docIds().intersect(Set(299L, 300L, 301L)) === Set(299L, 301L))
    // idempotent: nothing newly covered
    assert(PostingsIndex.vacuumTombstones(spark, idx) === ((1L, 0L)))
  }

  test("tombstone crash-safety: deletes append, never rewrite; a mid-vacuum crash recovers") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_tombcrash")
    PostingsIndex.buildFrom(spark, synthDocs(0L to 20L), idx, superBits = 2)
    val tombDir = new java.io.File(s"$idx/tombstones")
    def tombFiles(): Set[String] =
      tombDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getName).toSet
    def docIds(): Set[Long] =
      spark.read.parquet(s"$idx/doclens").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet

    // two takedowns arriving separately: the second write must leave the
    // first's files physically untouched (append-only — the overwrite it
    // replaced deleted the standing set before the new job committed, so
    // a crash mid-write erased every prior takedown)
    PostingsIndex.delete(spark, idx, Seq(100L).toDF("doc_id"))
    val first = tombFiles()
    PostingsIndex.delete(spark, idx, Seq(300L).toDF("doc_id"))
    assert(first.subsetOf(tombFiles()),
      "a later takedown must not rewrite the standing tombstone files")
    // a replayed delete (both ids already tombstoned) writes NOTHING
    val standing = tombFiles()
    PostingsIndex.delete(spark, idx, Seq(100L, 300L).toDF("doc_id"))
    assert(tombFiles() === standing, "replayed deletes must not write files")

    // crash between vacuum's two renames: the pre-vacuum set is parked
    // at tombstones.old and the standing dir is gone — every tombstone
    // consumer must restore it before reading
    assert(tombDir.renameTo(new java.io.File(s"$idx/tombstones.old")))
    PostingsIndex.append(spark, idx, synthDocs(Seq(99L, 100L, 101L)))
    assert(docIds().intersect(Set(99L, 100L, 101L)) === Set(99L, 101L),
      "the parked tombstone set must be recovered before the append reads it")
    assert(tombDir.isDirectory && !new java.io.File(s"$idx/tombstones.old").exists(),
      "recovery must restore the standing directory")

    // vacuum also self-recovers from the same crash state (and then
    // drops the now-covered id 100, keeping the in-flight 300)
    assert(tombDir.renameTo(new java.io.File(s"$idx/tombstones.old")))
    assert(PostingsIndex.vacuumTombstones(spark, idx) === ((1L, 1L)))
    assert(spark.read.parquet(s"$idx/tombstones")
      .collect().map(_.getLong(0)).toSet === Set(300L))
  }

  test("rebucket re-layouts a fragmented index: identical answers, watermark and tombstones survive, crash windows recover") {
    import spark.implicits._
    import TestFs.copyTree
    val idx = tmpDir("graft_pidx_rebucket") + "/index"
    // doc ids spread so superBits=2 fragments into ~120 partitions —
    // the measured sf1 inversion's shape
    val ids = (0L until 120L).map(_ * 512L)
    PostingsIndex.buildFrom(spark, synthDocs(ids), idx, superBits = 2)
    // an above-watermark takedown (tombstone) and a below-watermark one
    PostingsIndex.delete(spark, idx,
      Seq(999999L, ids(5)).toDF("doc_id"))
    def rows(): Seq[(Long, Double)] =
      PostingsIndex.query(spark, idx).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = rows()
    val wm = spark.read.parquet(s"$idx/blockstats")
      .agg(max(col("max_doc_id"))).collect()(0).getLong(0)

    val (before, after) = PostingsIndex.rebucket(spark, idx, newSuperBits = 8)
    assert(before > 100L && after < 10L,
      s"re-layout must collapse the partition count: $before -> $after")
    assert(rows() === want, "rebucket must not change any answer")
    // the global ingest watermark survives even though every blockstats
    // row was re-derived
    assert(spark.read.parquet(s"$idx/blockstats")
      .agg(max(col("max_doc_id"))).collect()(0).getLong(0) === wm)
    // both takedowns stand: the tombstone blocks the late batch, the
    // watermark blocks the replayed one
    PostingsIndex.append(spark, idx, synthDocs(Seq(ids(5), 999999L)))
    val docIds = spark.read.parquet(s"$idx/doclens").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(!docIds.contains(ids(5)) && !docIds.contains(999999L))
    // same-bits rebucket is a no-op
    assert(PostingsIndex.rebucket(spark, idx, newSuperBits = 8) ===
      ((after, after)))

    // crash windows. (a) between the renames: the parked tree restores
    assert(new java.io.File(idx).renameTo(new java.io.File(s"$idx.old")))
    PostingsIndex.recoverRebucket(idx)
    assert(rows() === want, "rollback recovery must restore the parked tree")
    // (b) READY staged tree + standing index: recovery rolls FORWARD
    copyTree(new java.io.File(idx), new java.io.File(s"$idx.next"))
    assert(new java.io.File(s"$idx.next/_GRAFT_REBUCKET_READY").createNewFile())
    PostingsIndex.recoverRebucket(idx)
    assert(rows() === want)
    assert(!new java.io.File(s"$idx.next").exists() &&
      !new java.io.File(s"$idx.old").exists() &&
      !new java.io.File(s"$idx/_GRAFT_REBUCKET_READY").exists(),
      "recovery must leave no scratch trees behind")
  }

  test("maintain runs the repairs the stats call for, then reports healthy") {
    import spark.implicits._
    val idx = tmpDir("graft_pidx_maintain") + "/index"
    // fragmented (160 superblocks at superBits=2) + an in-flight and a
    // coverable tombstone + multi-file partitions from two appends
    val ids = (0L until 160L).map(_ * 512L)
    PostingsIndex.buildFrom(spark, synthDocs(ids.take(150)), idx, superBits = 2)
    PostingsIndex.delete(spark, idx, Seq(ids(155), 999999999L).toDF("doc_id"))
    PostingsIndex.append(spark, idx, synthDocs(ids.slice(150, 160)))
    def rows(): Seq[(Long, Double)] =
      PostingsIndex.query(spark, idx).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = rows()

    val actions = PostingsIndex.maintain(spark, idx, targetSbs = 32)
    assert(actions.exists(_.startsWith("rebucket:")),
      s"a 160-sb layout must trigger the re-layout: $actions")
    assert(actions.exists(_.startsWith("vacuum:")),
      s"the covered tombstone must be vacuumed: $actions")
    val nSb = spark.read.parquet(s"$idx/blockstats").count()
    assert(nSb <= 32L, s"post-maintenance superblock count: $nSb")
    assert(rows() === want, "maintenance must not change any answer")
    // in-flight takedown survives; covered one is gone
    assert(spark.read.parquet(s"$idx/tombstones")
      .collect().map(_.getLong(0)).toSet === Set(999999999L))
    // idempotent: a healthy layout reports no actions
    assert(PostingsIndex.maintain(spark, idx, targetSbs = 32) === Seq.empty)
  }

  test("compact defragments termstats alongside the other tables") {
    val idx = tmpDir("graft_pidx_tscompact")
    PostingsIndex.buildFrom(spark, synthDocs(0L to 700L by 7L), idx, superBits = 2)
    def tsFiles(): Map[String, Int] =
      new java.io.File(s"$idx/termstats").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("sb="))
        .map(d => d.getName -> d.listFiles()
          .count(f => f.isFile && !f.getName.startsWith(".") &&
            !f.getName.startsWith("_"))).toMap
    def tsRows() = spark.read.parquet(s"$idx/termstats")
      .collect().map(r => (r.getString(0), r.getAs[Int]("sb"),
        r.getAs[Long]("max_tf"), r.getAs[Long]("min_dl"),
        r.getAs[Long]("df_sb"))).sortBy(r => (r._1, r._2)).toSeq
    val rows = tsRows()
    // fragment termstats the way a long append history does (dynamic
    // overwrite rewrites the hot tail every batch)
    val frag = spark.read.parquet(s"$idx/termstats").localCheckpoint()
    frag.repartition(8).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sb").parquet(s"$idx/termstats")
    assert(tsRows() === rows, "fragmentation rewrite must be layout-only")
    assert(tsFiles().values.exists(_ > 2), "termstats not fragmented")

    PostingsIndex.compact(spark, idx, maxFilesPerSb = 2)
    assert(tsFiles().values.forall(_ <= 2),
      s"termstats still fragmented after compact: ${tsFiles()}")
    assert(tsRows() === rows, "compaction changed termstats contents")
  }
}
