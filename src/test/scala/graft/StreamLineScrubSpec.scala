package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamLineScrub
import graft.streaming.StreamLineScrub.DocEvent

/** Streaming at-ingestion line-scrub: the df-threshold state must flag
  * exactly the (doc, line) pairs whose line crossed the cut by the doc's
  * processing point, the ever-crossed line set must equal the batch
  * boilerplate set over the same corpus, state must evict by event time,
  * and the whole contract must hold on BOTH state stores.
  */
class StreamLineScrubSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L + min * 60_000L)

  /** The batch gate corpus's wrap (Dedup.augmentedDocs), rebuilt here so
    * the streamed corpus is line-identical to what boilerplate_lines
    * sees. */
  private def augmented(sf: String): Seq[DocEvent] = {
    import org.apache.spark.sql.functions.col
    graft.sources.Corpus.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map { r =>
        val (id, src, text) = (r.getLong(0), r.getString(1), r.getString(2))
        val promo = if (id % 3 == 0) "\nsubscribe to our newsletter today" else ""
        DocEvent(id,
          s"nav home about $src\n$text$promo\ncopyright all rights reserved $src",
          ts((id / 50).toInt))
      }
      .sortBy(_.docId).toSeq
  }

  /** Driver-side sweep of the exact streaming contract: processing docs
    * in (ts, docId) order, a (doc, line) is flagged iff the line's
    * running df has reached the cut at that point. */
  private def sweep(docs: Seq[DocEvent], cut: Long): Set[(Long, String)] = {
    val counts = scala.collection.mutable.Map[String, Long]()
    val out = scala.collection.mutable.Set[(Long, String)]()
    docs.sortBy(d => (d.ts.getTime, d.docId)).foreach { d =>
      d.text.split("\n", -1).iterator
        .map(graft.operators.TextAnalysis.normText).toSet[String]
        .foreach { l =>
          val c = counts.getOrElse(l, 0L) + 1
          counts(l) = c
          if (c >= cut) out += ((d.docId, l))
        }
    }
    out.toSet
  }

  private def runScenario(): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = augmented(sf)
    val in = MemoryStream[DocEvent]
    val out = StreamLineScrub.flagged(in.toDS(), watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("graft_linescrub_stream")
      .outputMode("append").start()
    try {
      val (b1, rest) = docs.splitAt(docs.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
      val got = spark.table("graft_linescrub_stream")
        .as[StreamLineScrub.LineHit].collect()
        .map(h => (h.docId, h.line)).toSet
      val want = sweep(docs, graft.operators.Dedup.lineDfCut)
      assert(got === want, "streamed flags diverge from the df-sweep contract")
      assert(got.nonEmpty, "gate corpus must produce boilerplate hits")

      // ever-crossed lines == the batch boilerplate set over the corpus
      val batch = graft.operators.Dedup.boilerplateLines(spark, sf)
        .collect().map(_.getString(0)).toSet
      assert(batch.size < 50, "batch top-k must not truncate for this check")
      assert(got.map(_._2) === batch,
        "lines that ever crossed the stream cut must equal the batch boilerplate set")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_linescrub_stream")
    }
  }

  test("stream flags == df-sweep contract; crossed set == batch boilerplate (default store)") {
    runScenario()
  }

  test("same contract on the RocksDB state store") {
    SparkTestSession.withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      runScenario()
    }
  }

  test("a replayed multi-doc micro-batch merges nothing into line df state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[DocEvent]
    // cut of 4: three distinct docs carrying the template line leave df
    // at 3 — any replay double-count would cross and false-flag
    val out = StreamLineScrub.flagged(in.toDS(),
      watermarkDelay = "5 minutes", dfCut = 4L)
    val q = out.writeStream.format("memory").queryName("graft_linescrub_replay")
      .outputMode("append").start()
    try {
      val batch = Seq(
        DocEvent(1L, "shared header\nbody one", ts(0)),
        DocEvent(2L, "shared header\nbody two", ts(1)),
        DocEvent(3L, "shared header\nbody three", ts(2)))
      in.addData(batch)
      q.processAllAvailable()
      // at-least-once ingest: the SAME multi-doc batch again — every row
      // sits at or below the (ts, docId) high-water mark, so df stays 3
      in.addData(batch)
      q.processAllAvailable()
      assert(spark.table("graft_linescrub_replay").isEmpty,
        "replayed batch must not inflate df across the cut")
      // a genuinely new doc counts: df 4 crosses exactly once
      in.addData(DocEvent(4L, "shared header\nbody four", ts(3)))
      q.processAllAvailable()
      val hits = spark.table("graft_linescrub_replay")
        .as[StreamLineScrub.LineHit].collect().toSeq
      assert(hits.map(h => (h.docId, h.line, h.df)) ===
        Seq((4L, "shared header", 4L)), s"$hits")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_linescrub_replay")
    }
  }

  test("line df state evicts once the watermark passes the idle retention") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[DocEvent]
    val out = StreamLineScrub.flagged(in.toDS(),
      watermarkDelay = "0 seconds", retentionMs = 60_000L, dfCut = 2L)
    val q = out.writeStream.format("memory").queryName("graft_linescrub_evict")
      .outputMode("append").start()
    try {
      in.addData(DocEvent(1L, "shared header\nbody one", ts(0)))
      q.processAllAvailable()
      // idle the header past retention via an unrelated doc
      in.addData(DocEvent(2L, "different content", ts(30)))
      q.processAllAvailable()
      // count forgotten: this is the header's FIRST occurrence again
      in.addData(DocEvent(3L, "shared header\nbody three", ts(31)))
      q.processAllAvailable()
      val hits = spark.table("graft_linescrub_evict")
        .as[StreamLineScrub.LineHit].collect().toSeq
      assert(hits.isEmpty, s"evicted df state must not flag: $hits")
      // a second sighting within retention crosses the forced cut of 2
      in.addData(DocEvent(4L, "shared header\nbody four", ts(32)))
      q.processAllAvailable()
      val hits2 = spark.table("graft_linescrub_evict")
        .as[StreamLineScrub.LineHit].collect().toSeq
      assert(hits2.map(h => (h.docId, h.line)) === Seq((4L, "shared header")), s"$hits2")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_linescrub_evict")
    }
  }
}
