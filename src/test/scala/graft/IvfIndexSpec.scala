package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, Similarity}
import graft.sources.Corpus

/** Persisted IVF index: build-once/query-many must return exactly the
  * inline `ann_ivf` results, and the query must read ONLY probed cells —
  * dynamic partition pruning on the cell-partitioned members table.
  */
class IvfIndexSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.spark

  test("indexed query == inline ann_ivf; members scan is DPP-pruned to probed cells") {
    val idx = s"/tmp/graft_ivf_${System.nanoTime()}"
    val (cells, vectors) = IvfIndex.build(spark, sf, idx, nCells = 16)
    assert(vectors === Corpus.embeddings(spark, sf).count())
    assert(cells > 1 && cells <= 16)

    // same query batch as the inline operator: the first 10 corpus vectors
    val queries = Corpus.embeddings(spark, sf)
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = IvfIndex.query(spark, idx, queries, nProbe = 2, k = 5)

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val gotSet = got.collect().map(key).toSet
    val wantSet = Similarity.annIvf(spark, sf).collect().map(key).toSet
    assert(gotSet === wantSet, "indexed results diverge from inline ann_ivf")
    assert(gotSet.nonEmpty)

    // the layout guarantee: the members scan carries a dynamic-pruning
    // partition filter fed by the broadcast probe list
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"members scan not DPP-pruned:\n$plan")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("ivf+pq query == inline ann_ivfpq; both passes DPP-pruned; ADC scan skips the embedding") {
    val idx = s"/tmp/graft_ivfpq_${System.nanoTime()}"
    IvfIndex.build(spark, sf, idx, nCells = 16)
    val queries = Corpus.embeddings(spark, sf)
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = IvfIndex.queryPq(spark, idx, queries, nProbe = 2, k = 5,
      nCand = 20)

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val gotSet = got.collect().map(key).toSet
    val wantSet = Similarity.annIvfPq(spark, sf).collect().map(key).toSet
    assert(gotSet === wantSet, "indexed IVF+PQ diverges from the inline operator")
    assert(gotSet.nonEmpty)

    val plan = got.queryExecution.executedPlan.toString
    // both members passes (ADC candidates + exact re-rank) must carry the
    // dynamic partition filter
    val dppScans = plan.toLowerCase.split("\\n").count(l =>
      l.contains("dynamicpruning"))
    assert(dppScans >= 2, s"expected both members scans DPP-pruned:\n$plan")
    // the PQ point: the candidate pass reads codes, never the embedding —
    // there must be a members scan whose schema has codes and NOT v/nrm
    val adcScan = plan.split("\\n").exists(l =>
      l.contains("ReadSchema") && l.contains("codes") && !l.contains("nrm"))
    assert(adcScan, s"ADC members scan should not decode the embedding:\n$plan")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("compact merges fragmented cells to one file each, bit-identical rows, others untouched") {
    val idx = s"/tmp/graft_ivf_cpt_${System.nanoTime()}"
    IvfIndex.build(spark, sf, idx, nCells = 16)

    def listing(d: String): Map[String, Set[String]] =
      new java.io.File(s"$d/members").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(c => c.getName -> c.listFiles()
          .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .map(_.getName).toSet).toMap
    def contents() = spark.read.parquet(s"$idx/members")
      .select(col("vec_id"), col("cell"), col("codes").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq

    val rows = contents()
    // simulate a long append history: rewrite HALF the cells as ~8 row
    // slivers each (same rows, round-robin partitioning), leaving the
    // other half at the build's single file — the scenario needs both
    // fragmented and already-compact cells for the claims to bite
    val frag0 = spark.read.parquet(s"$idx/members")
      .where(col("cell") < 8).localCheckpoint()
    frag0.repartition(8).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$idx/members")
    assert(contents() === rows, "fragmentation rewrite must be layout-only")

    val before = listing(idx)
    val threshold = 2
    val fragged = before.filter(_._2.size > threshold).keySet
    val small = before.keySet -- fragged
    assert(fragged.nonEmpty, s"no fragmented cells to compact: ${before.view.mapValues(_.size).toMap}")
    assert(small.nonEmpty, "need untouched cells for the no-touch claim")

    val (nCells, filesBefore, filesAfter) = IvfIndex.compact(spark, idx, threshold)
    assert(nCells === fragged.size.toLong)
    assert(filesBefore === fragged.toSeq.map(before(_).size).sum.toLong)
    assert(filesAfter === fragged.size.toLong,
      "each compacted cell must come back as exactly one file")
    val after = listing(idx)
    // untouched cells keep their exact files; compacted cells are 1 file
    small.foreach(c => assert(after(c) === before(c), s"cell $c was touched"))
    fragged.foreach(c => assert(after(c).size === 1, s"cell $c not compacted"))
    // layout-only: rows bit-identical
    assert(contents() === rows, "compaction changed index contents")
    // idempotent: nothing left above the threshold
    assert(IvfIndex.compact(spark, idx, threshold) === ((0L, 0L, 0L)))

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("append rewrites only touched cells, dedups replays, and matches a one-shot build") {
    val idxInc = s"/tmp/graft_ivf_inc_${System.nanoTime()}"
    val idxFull = s"/tmp/graft_ivf_full_${System.nanoTime()}"
    val e = Corpus.embeddings(spark, sf)
    // a SMALL ingest increment (the production shape): 10 vectors land
    // in a few cells, leaving most partitions untouched
    val increment = col("vec_id") >= 490

    IvfIndex.buildFrom(spark, e.where(!increment), idxInc, nCells = 16)

    // per-cell file listing: untouched cells must keep their exact files
    def listing(idx: String): Map[String, Set[String]] =
      new java.io.File(s"$idx/members").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = listing(idxInc)

    val incCount = e.where(increment).count()
    val (touched, appended) = IvfIndex.append(spark, idxInc, e.where(increment))
    assert(appended === incCount, "every increment vector must land")
    val after = listing(idxInc)
    val changed = before.keySet.filter(c => after.get(c) != before.get(c)) ++
      (after.keySet -- before.keySet)
    assert(changed.size.toLong === touched,
      s"cells rewritten ($changed) must be exactly the touched ones ($touched)")
    assert((before.keySet -- changed).forall(c => after(c) == before(c)),
      "untouched cell partitions must keep their exact files")
    assert(before.keySet.size.toLong > touched,
      "scenario must leave some cells untouched for the claim to bite")

    // replay safety: snapshot precedence makes a re-append a no-op
    val (_, again) = IvfIndex.append(spark, idxInc, e.where(increment))
    assert(again === 0L, "replayed append must dedup against the snapshot")

    // within-batch duplicates (at-least-once delivery inside ONE
    // increment) must land exactly once — and being already indexed,
    // exactly zero times here
    val doubled = e.where(increment).unionAll(e.where(increment))
    val (_, dup) = IvfIndex.append(spark, idxInc, doubled)
    assert(dup === 0L, "doubled replay batch must still append nothing")

    // the incremental lifecycle must converge to the one-shot layout
    IvfIndex.build(spark, sf, idxFull, nCells = 16)
    def contents(idx: String) = spark.read.parquet(s"$idx/members")
      .select(col("vec_id"), col("cell"), col("codes").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(contents(idxInc) === contents(idxFull),
      "incremental index diverged from a from-scratch build")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idxInc), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxInc), true)
    fs.delete(new org.apache.hadoop.fs.Path(idxFull), true)
  }

  test("delete removes rows physically, touches only their cells, and tombstones block resurrection") {
    import spark.implicits._
    val idx = s"/tmp/graft_ivf_del_${System.nanoTime()}"
    val e = Corpus.embeddings(spark, sf)
    IvfIndex.buildFrom(spark, e, idx, nCells = 16)
    def listing: Map[String, Set[String]] =
      new java.io.File(s"$idx/members").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = listing
    val allRows = spark.read.parquet(s"$idx/members")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // delete ids spanning a FEW cells so some partitions stay untouched
    val victimCells = allRows.map(_._2).distinct.sorted.take(3).toSet
    val delIds = allRows.filter(r => victimCells(r._2)).map(_._1).take(20).toSeq
    val (touched, removed) = IvfIndex.delete(spark, idx, delIds.toDF("vec_id"))
    assert(removed === delIds.length.toLong)
    assert(touched <= victimCells.size.toLong)
    // physical removal: no trace of a deleted id anywhere in members
    val remaining = spark.read.parquet(s"$idx/members")
      .where(col("vec_id").isin(delIds.map(java.lang.Long.valueOf): _*)).count()
    assert(remaining === 0L, "deleted ids still present in the members table")
    // untouched cells keep their exact files
    val after = listing
    val changed = before.keySet.filter(c => after.get(c) != before.get(c))
    assert(changed.forall(c => victimCells(c.stripPrefix("cell=").toInt)),
      s"a cell outside the victims was rewritten: $changed")
    // replay is a no-op
    val (_, removedAgain) = IvfIndex.delete(spark, idx, delIds.toDF("vec_id"))
    assert(removedAgain === 0L)
    // resurrection guard: a retried old ingest carrying a deleted id
    // appends nothing — the tombstone, not the (gone) snapshot row,
    // blocks it
    val payload = e.where(col("vec_id") === delIds.head)
    val (_, res) = IvfIndex.append(spark, idx, payload)
    assert(res === 0L, "append resurrected a deleted vector")
    assert(spark.read.parquet(s"$idx/members")
      .where(col("vec_id") === delIds.head).count() === 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("vector tombstones append, never rewrite; replayed deletes write nothing") {
    import spark.implicits._
    val idx = s"/tmp/graft_ivf_tombapp_${System.nanoTime()}"
    IvfIndex.buildFrom(spark, Corpus.embeddings(spark, sf), idx, nCells = 16)
    val tombDir = new java.io.File(s"$idx/deleted")
    def tombFiles(): Set[String] =
      tombDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getName).toSet
    // two takedowns arriving separately: the second leaves the first's
    // files physically untouched (append-only — the overwrite it replaced
    // would erase every prior tombstone on a crash mid-write, the exact
    // resurrection window the table exists to close)
    IvfIndex.delete(spark, idx, Seq(3L).toDF("vec_id"))
    val first = tombFiles()
    IvfIndex.delete(spark, idx, Seq(7L).toDF("vec_id"))
    assert(first.subsetOf(tombFiles()),
      "a later takedown must not rewrite standing tombstone files")
    // replayed delete (both already tombstoned): no new files, no rows
    val standing = tombFiles()
    val (_, removed) = IvfIndex.delete(spark, idx, Seq(3L, 7L).toDF("vec_id"))
    assert(removed === 0L)
    assert(tombFiles() === standing, "replayed deletes must not write files")
    assert(spark.read.parquet(s"$idx/deleted")
      .collect().map(_.getLong(0)).toSet === Set(3L, 7L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("a standing retrain marker quiesces every query path; a pre-marker PQ index migrates on first query") {
    val idx = s"/tmp/graft_ivf_guard_${System.nanoTime()}"
    IvfIndex.build(spark, sf, idx, nCells = 16)
    val queries = Corpus.embeddings(spark, sf).where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val want = IvfIndex.queryPq(spark, idx, queries).collect().map(key).toSet

    // a crashed (or running) retrain leaves the marker standing: every
    // query path must refuse — the window's results would be silently
    // wrong (new quantizer over the old cell layout), not stale
    val marker = new java.io.File(s"$idx/_GRAFT_RETRAIN_INPROGRESS")
    assert(marker.createNewFile())
    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.query(spark, idx, queries)
    }
    assert(e1.getMessage.contains("retrain"))
    intercept[IllegalArgumentException] { IvfIndex.queryPq(spark, idx, queries) }
    assert(marker.delete())

    // pre-marker migration: an index persisted before _GRAFT_PQ_OK
    // existed has valid codes iff the stored dimension matches — the
    // first PQ query probes one centroids row, stamps the marker, and
    // answers identically; the probe never re-runs
    assert(new java.io.File(s"$idx/_GRAFT_PQ_OK").delete())
    val got = IvfIndex.queryPq(spark, idx, queries).collect().map(key).toSet
    assert(got === want, "migrated PQ query diverged")
    assert(new java.io.File(s"$idx/_GRAFT_PQ_OK").exists(),
      "migration must stamp the marker")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("deleting a whole cell purges its directory") {
    import spark.implicits._
    val idx = s"/tmp/graft_ivf_purge_${System.nanoTime()}"
    val e = Corpus.embeddings(spark, sf)
    IvfIndex.buildFrom(spark, e, idx, nCells = 16)
    val cellRows = spark.read.parquet(s"$idx/members")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val victim = cellRows.groupBy(_._2).minBy(_._2.length)._1
    val ids = cellRows.filter(_._2 == victim).map(_._1).toSeq
    IvfIndex.delete(spark, idx, ids.toDF("vec_id"))
    assert(!new java.io.File(s"$idx/members/cell=$victim").exists(),
      "an emptied cell's directory must be purged, not left stale")
    // queries over the index still work end to end
    assert(spark.read.parquet(s"$idx/members").count() ===
      cellRows.length.toLong - ids.length.toLong)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("streaming takedown converges to the batch delete; a racing ingest retry stays blocked") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idxStr = s"/tmp/graft_ivf_delstr_${System.nanoTime()}"
    val idxBatch = s"/tmp/graft_ivf_delb_${System.nanoTime()}"
    val e = Corpus.embeddings(spark, sf)
    val delIds = Seq(30L, 77L, 123L, 401L)
    IvfIndex.buildFrom(spark, e, idxStr, nCells = 16)
    IvfIndex.buildFrom(spark, e, idxBatch, nCells = 16)
    IvfIndex.delete(spark, idxBatch, delIds.toDF("vec_id"))
    val in = MemoryStream[Long]
    val q = IvfIndex.deleteStream(spark, idxStr,
      in.toDF().toDF("vec_id"), s"/tmp/graft_ivf_delstr_ckpt_${System.nanoTime()}")
    try {
      val (b1, b2) = delIds.splitAt(2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b1); q.processAllAvailable() // redelivered takedown: no-op
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def contents(idx: String) = spark.read.parquet(s"$idx/members")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(contents(idxStr) === contents(idxBatch),
      "streamed takedown diverged from the one-shot batch delete")
    // an ingest retry arriving AFTER the takedown stream stays blocked
    val (_, res) = IvfIndex.append(spark, idxStr,
      e.where(col("vec_id") === delIds.head))
    assert(res === 0L, "retried ingest resurrected a stream-deleted vector")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idxStr), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxStr), true)
    fs.delete(new org.apache.hadoop.fs.Path(idxBatch), true)
  }

  test("streaming ingestion converges to the one-shot layout, batch by batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idxStr = s"/tmp/graft_ivf_str_${System.nanoTime()}"
    val idxFull = s"/tmp/graft_ivf_strf_${System.nanoTime()}"
    val ckpt = s"/tmp/graft_ivf_ckpt_${System.nanoTime()}"
    val e = Corpus.embeddings(spark, sf)
    val bootstrap = col("vec_id") < 480

    IvfIndex.buildFrom(spark, e.where(bootstrap), idxStr, nCells = 16)

    val tail = e.where(!bootstrap)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val in = MemoryStream[(Long, Seq[Double])]
    val q = IvfIndex.appendStream(spark, idxStr,
      in.toDF().toDF("vec_id", "embedding"), ckpt)
    try {
      val (h1, h2) = tail.splitAt(tail.size / 2)
      in.addData(h1); q.processAllAvailable()
      // second delivery overlaps the first (at-least-once): the overlap
      // must be a no-op
      in.addData(h1.takeRight(3) ++ h2); q.processAllAvailable()
    } finally q.stop()

    IvfIndex.build(spark, sf, idxFull, nCells = 16)
    def contents(idx: String) = spark.read.parquet(s"$idx/members")
      .select(col("vec_id"), col("cell"), col("codes").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(contents(idxStr) === contents(idxFull),
      "streamed index diverged from a from-scratch build")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idxStr), spark.sparkContext.hadoopConfiguration)
    Seq(idxStr, idxFull, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }
}
