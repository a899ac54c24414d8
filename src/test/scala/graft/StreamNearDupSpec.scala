package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamNearDup
import graft.streaming.StreamNearDup.DocEvent

/** Streaming at-ingestion near-dup detection: collisions must agree with
  * the batch MinHash-LSH candidate definition (same signature kernel),
  * survive arbitrary micro-batching, and evict state by event time.
  */
class StreamNearDupSpec extends AnyFunSuite {

  // shared, never-stopped session (suites in one JVM would otherwise
  // tear down each other's SparkContext)
  private lazy val spark: SparkSession = SparkTestSession.spark

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L + min * 60_000L)

  private val original =
    "the quick brown fox jumps over the lazy dog while the hunter watches from the hill in silence"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog while the hunter watches from the hill in sunshine"
  private val unrelated =
    "completely different content about distributed query engines and columnar storage formats for analytics"

  test("stream flags exact and near dups against earlier docs, not unrelated ones") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[DocEvent]
    val out = StreamNearDup.candidates(in.toDS(), watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("graft_neardup_stream")
      .outputMode("append").start()
    try {
      in.addData(DocEvent(1L, original, ts(0)), DocEvent(2L, unrelated, ts(1)))
      q.processAllAvailable()
      // second micro-batch: exact copy + near-dup + fresh unrelated doc
      in.addData(
        DocEvent(3L, original, ts(2)),
        DocEvent(4L, nearDup, ts(3)),
        DocEvent(5L, "entirely novel text speaking of volcanoes and tide pools on a distant archipelago shore", ts(4)))
      q.processAllAvailable()
      val hits = spark.table("graft_neardup_stream").as[StreamNearDup.BandHit]
        .collect().toSeq
      val byDoc = hits.groupBy(_.docId)
      assert(byDoc.contains(3L), s"exact copy not flagged: $hits")
      assert(byDoc(3L).forall(_.dupOf == 1L))
      // exact copy collides in every band
      assert(byDoc(3L).map(_.band).toSet.size == 4)
      assert(byDoc.contains(4L), s"near dup not flagged: $hits")
      assert(byDoc(4L).forall(_.dupOf == 1L))
      assert(!byDoc.contains(2L) && !byDoc.contains(5L),
        s"unrelated docs must not be flagged: $hits")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_neardup_stream")
    }
  }

  test("streamed collisions == batch band collisions on the same docs, any micro-batching") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // real corpus slice: every doc at one ts so stream order == batch
    // "lowest doc_id is the original" and retention never evicts
    val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      .where(org.apache.spark.sql.functions.col("doc_id") < 120)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)

    // batch truth: doc -> earliest doc sharing any band key (the stream
    // flags a doc iff ANY band key was seen earlier), computed with the
    // SAME fast hash family the streaming kernel uses — the equivalence
    // contract is per-family, not cross-family
    val firstSeen = scala.collection.mutable.Map[Long, Long]()
    val expected = scala.collection.mutable.Set[Long]()
    docs.foreach { case (id, text) =>
      val keys = graft.operators.Dedup.fastBandKeysOf(
        graft.operators.Dedup.fastSignatureOf(text)).toSeq
      if (keys.exists(k => firstSeen.get(k).exists(_ != id))) expected += id
      keys.foreach(k => firstSeen.getOrElseUpdate(k, id))
    }

    val in = MemoryStream[DocEvent]
    val out = StreamNearDup.candidates(in.toDS(), watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("graft_neardup_corpus")
      .outputMode("append").start()
    try {
      val events = docs.map { case (id, text) => DocEvent(id, text, ts(id.toInt / 50)) }
      val (b1, rest) = events.splitAt(events.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
      val streamed = spark.table("graft_neardup_corpus").as[StreamNearDup.BandHit]
        .collect().map(_.docId).toSet
      assert(streamed === expected.toSet,
        s"stream flags diverge from batch band collisions")
      assert(expected.nonEmpty, "corpus slice must contain near-dups")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_neardup_corpus")
    }
  }

  test("band-key state evicts once the watermark passes retention") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[DocEvent]
    // tight horizon: 1 minute retention, zero allowed lateness
    val out = StreamNearDup.candidates(in.toDS(),
      watermarkDelay = "0 seconds", retentionMs = 60_000L)
    val q = out.writeStream.format("memory").queryName("graft_neardup_evict")
      .outputMode("append").start()
    try {
      in.addData(DocEvent(1L, original, ts(0)))
      q.processAllAvailable()
      // advance the watermark far past ts(0) + retention via an unrelated doc
      in.addData(DocEvent(2L, unrelated, ts(30)))
      q.processAllAvailable()
      in.addData(DocEvent(3L, original, ts(31)))
      q.processAllAvailable()
      // doc 1's band keys were evicted -> doc 3 is a new original, no hit
      val hits = spark.table("graft_neardup_evict").as[StreamNearDup.BandHit]
        .collect().toSeq
      assert(hits.isEmpty, s"evicted state must not produce hits: $hits")
      // and doc 3 now vouches: a copy right after IS flagged against 3
      in.addData(DocEvent(4L, original, ts(32)))
      q.processAllAvailable()
      val hits2 = spark.table("graft_neardup_evict").as[StreamNearDup.BandHit]
        .collect().toSeq
      assert(hits2.nonEmpty && hits2.forall(_.dupOf == 3L), s"$hits2")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_neardup_evict")
    }
  }

  test("flagged collapses multi-band hits to one verdict per doc") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[DocEvent]
    val out = StreamNearDup.flagged(in.toDS(), watermarkDelay = "5 minutes")
    // fMGWS → dedup chaining trips Spark's conservative global-watermark
    // check; safe here (see StreamNearDup.flagged scaladoc), so disable
    // for this query and restore after.
    SparkTestSession.withConf(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") {
      val q = out.writeStream.format("memory").queryName("graft_neardup_flagged")
        .outputMode("append").start()
      try {
        in.addData(DocEvent(1L, original, ts(0)))
        q.processAllAvailable()
        in.addData(DocEvent(3L, original, ts(2)))
        q.processAllAvailable()
        // exact copy collides in all 4 bands but must surface exactly once
        val rows = spark.table("graft_neardup_flagged").as[(Long, Long)]
          .collect().toSeq
        assert(rows === Seq((3L, 1L)), s"$rows")
      } finally {
        q.stop()
        spark.sql("DROP VIEW IF EXISTS graft_neardup_flagged")
      }
    }
  }
}
