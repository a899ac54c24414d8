package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LookupCacheJoin, LookupCacheProcessor, Repeater}

/** Streaming scenario specs for the two stateful operators, re-expressing the
  * reference's test suites
  * (`/root/reference/.../windowing/AdEventFixedWindowWithRepeaterEnricherTest.scala:37-111`,
  * `ScreenGlobalWindowWithLookupCacheEnricherTest.scala:28-152`).
  *
  * Watermark control (SURVEY.md §5): Spark has no `advanceWatermarkTo`; the
  * watermark is `max(event time) − delay`, updated at batch end. Each
  * "advance watermark to T" step is emulated by injecting a driver element at
  * T on a dedicated key (`WmKey`) and running a micro-batch; Spark's no-data
  * batch then fires due event-time timers.
  */
class StreamingOpsSpec extends AnyFunSuite {

  // shared, never-stopped session (suites in one JVM would otherwise
  // tear down each other's SparkContext)
  private lazy val spark: SparkSession = SparkTestSession.spark


  /** "HH:mm:ss" on the 1970-01-01 epoch day, UTC — the reference's time
    * convention (`InstantConverters.scala:7-13`). */
  private def ts(hhmmss: String): Timestamp =
    Timestamp.from(Instant.parse(s"1970-01-01T${hhmmss}Z"))

  private val WmKey = "__wm__"

  private def minutes(n: Int): Long = n * 60L * 1000L

  // ---------------------------------------------------------------- Repeater

  /** Runs a scenario against the repeater and returns `screen1`'s
    * emissions in emission order. */
  private def runRepeater(name: String, intervalMin: Int, ttlMin: Int)(
      script: (MemoryStream[(String, String, Timestamp)], StreamingQuery) => Unit)
      : Seq[Repeater.Repeated[String, String]] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(String, String, Timestamp)]
    val ds = in.toDS().withWatermark("_3", "0 seconds").as[(String, String, Timestamp)]
    val out = Repeater.repeat(ds, minutes(intervalMin), minutes(ttlMin))
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      script(in, q)
      spark.table(name).as[Repeater.Repeated[String, String]]
        .collect().filter(_.key == "screen1").sortBy(_.emitTs.getTime).toSeq
    } finally q.stop()
  }

  test("repeater: first sighting emits immediately, then re-emits per interval until ttl") {
    val rows = runRepeater("rep1", 10, 30) { (in, q) =>
      in.addData(("screen1", "s1", ts("12:00:00")))
      q.processAllAvailable()
      // advance watermark past lastSeen + ttl → ticks at 12:10/12:20/12:30, then expiry
      in.addData((WmKey, "x", ts("12:45:00")))
      q.processAllAvailable()
    }
    assert(rows.map(r => (r.emitTs, r.repeated)) === Seq(
      (ts("12:00:00"), false),
      (ts("12:10:00"), true),
      (ts("12:20:00"), true),
      (ts("12:30:00"), true)))
  }

  test("repeater: re-sighting refreshes ttl and the cached value") {
    val rows = runRepeater("rep2", 10, 20) { (in, q) =>
      in.addData(("screen1", "v1", ts("12:00:00")))
      q.processAllAvailable()
      // sighting at 12:05 refreshes lastSeen → ttl now runs to 12:25
      in.addData(("screen1", "v2", ts("12:05:00")))
      q.processAllAvailable()
      in.addData((WmKey, "x", ts("12:40:00")))
      q.processAllAvailable()
    }
    // ticks at 12:10 and 12:20 carry the refreshed value v2; the 12:20 tick
    // is < 12:05+20min=12:25 so one more at 12:30, which is >= 12:25 → stop
    assert(rows.map(r => (r.emitTs, r.value)) === Seq(
      (ts("12:00:00"), "v1"),
      (ts("12:10:00"), "v2"),
      (ts("12:20:00"), "v2"),
      (ts("12:30:00"), "v2")))
  }

  // --------------------------------------------------------- LookupCacheJoin

  /** Runs a scenario against BOTH lookup-cache engines — the
    * flatMapGroupsWithState operator and the transformWithState
    * StatefulProcessor — asserting identical observable behavior. */
  private def runLookupScenario(name: String, ttlMin: Int)(
      script: (MemoryStream[(String, String, Timestamp)],
               MemoryStream[(String, String, Timestamp)],
               StreamingQuery) => Unit): Seq[LookupCacheJoin.Enriched[String, String, String]] = {
    val a = runLookupScenarioOn(name + "_fm", ttlMin, tws = false)(script)
    val b = runLookupScenarioOn(name + "_tw", ttlMin, tws = true)(script)
    assert(a === b, "flatMapGroupsWithState and transformWithState engines disagree")
    a
  }

  private def runLookupScenarioOn(name: String, ttlMin: Int, tws: Boolean)(
      script: (MemoryStream[(String, String, Timestamp)],
               MemoryStream[(String, String, Timestamp)],
               StreamingQuery) => Unit): Seq[LookupCacheJoin.Enriched[String, String, String]] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val values = MemoryStream[(String, String, Timestamp)]
    val lookups = MemoryStream[(String, String, Timestamp)]
    // the operator sets the watermark internally on the unioned tagged stream
    val out =
      if (tws) LookupCacheProcessor.join(values.toDS(), lookups.toDS(), minutes(ttlMin))
      else LookupCacheJoin.join(values.toDS(), lookups.toDS(), minutes(ttlMin))
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      script(values, lookups, q)
      spark.table(name).as[LookupCacheJoin.Enriched[String, String, String]]
        .collect().toSeq.filterNot(_.key == WmKey).sortBy(e => (e.emitTs.getTime, e.value))
    } finally q.stop()
  }

  test("lookup cache: lookup before value → enriched at value time") {
    val rows = runLookupScenario("lc1", 60) { (values, lookups, q) =>
      lookups.addData(("pub1", "v1", ts("12:00:00")))
      q.processAllAvailable()
      values.addData(("pub1", "screenA", ts("12:01:00")))
      q.processAllAvailable()
    }
    assert(rows === Seq(
      LookupCacheJoin.Enriched("pub1", "screenA", Some("v1"), ts("12:01:00"))))
  }

  test("lookup cache: value buffered until late lookup arrives, stamped at lookup time") {
    val rows = runLookupScenario("lc2", 60) { (values, lookups, q) =>
      values.addData(("pub1", "screenA", ts("12:00:00")))
      q.processAllAvailable()
      lookups.addData(("pub1", "v1", ts("12:05:00")))
      q.processAllAvailable()
    }
    assert(rows === Seq(
      LookupCacheJoin.Enriched("pub1", "screenA", Some("v1"), ts("12:05:00"))))
  }

  test("lookup cache: latest lookup wins, ordered and unordered") {
    val rows = runLookupScenario("lc3", 60) { (values, lookups, q) =>
      // unordered within one batch: the 12:02 version must win over 12:01
      lookups.addData(("pub1", "vNew", ts("12:02:00")), ("pub1", "vOld", ts("12:01:00")))
      q.processAllAvailable()
      values.addData(("pub1", "screenA", ts("12:03:00")))
      q.processAllAvailable()
    }
    assert(rows === Seq(
      LookupCacheJoin.Enriched("pub1", "screenA", Some("vNew"), ts("12:03:00"))))
  }

  test("lookup cache: unmatched value flushed to DLQ at gc time") {
    val rows = runLookupScenario("lc4", 10) { (values, lookups, q) =>
      values.addData(("pub1", "screenA", ts("12:00:00")))
      q.processAllAvailable()
      // push the watermark past maxTsSeen + ttl on a different key
      values.addData((WmKey, "x", ts("12:30:00")))
      q.processAllAvailable()
    }
    assert(rows === Seq(
      LookupCacheJoin.Enriched("pub1", "screenA", None, ts("12:10:00"))))
  }

  test("lookup cache: late-dropped lookups surface in arrivals + lateDrops metrics") {
    // The watermark-misconfiguration failure mode (r6 bench defect): with a
    // 0 s delay, a value batch advances the watermark past a lagging
    // lookup, the engine drops the lookup BEFORE the stateful function
    // sees it, and enrichment silently stops. The observe() arrival count
    // plus lateDrops(progress) must make that visible — on both engines.
    for (tws <- Seq(false, true)) {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val values = MemoryStream[(String, String, Timestamp)]
      val lookups = MemoryStream[(String, String, Timestamp)]
      val out =
        if (tws) LookupCacheProcessor.join(values.toDS(), lookups.toDS(), minutes(60))
        else LookupCacheJoin.join(values.toDS(), lookups.toDS(), minutes(60))
      val name = s"lcdrop_${if (tws) "tw" else "fm"}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        values.addData(("pub1", "screenA", ts("12:10:00")))
        q.processAllAvailable() // watermark → 12:10 (0 s delay)
        lookups.addData(("pub1", "v1", ts("12:00:00"))) // behind the watermark
        q.processAllAvailable()
        val progresses = q.recentProgress.toSeq
        assert(progresses.map(LookupCacheJoin.lateDrops).sum >= 1,
          s"engine tws=$tws: late lookup did not surface in numRowsDroppedByWatermark")
        val observed = progresses
          .flatMap(p => Option(p.observedMetrics.get(LookupCacheJoin.arrivalsMetric)))
        assert(observed.map(_.getAs[Long]("n_lookups")).sum === 1L,
          s"engine tws=$tws: arrival metric should count the (dropped) lookup")
        assert(observed.map(_.getAs[Long]("n_values")).sum === 1L)
        assert(spark.table(name).isEmpty,
          s"engine tws=$tws: the late lookup must not have resolved the buffered value")
      } finally q.stop()
    }
  }

  test("lookup cache: lookup refresh keeps key alive past the original ttl") {
    val rows = runLookupScenario("lc5", 10) { (values, lookups, q) =>
      lookups.addData(("pub1", "v1", ts("12:00:00")))
      q.processAllAvailable()
      lookups.addData(("pub1", "v2", ts("12:08:00")))
      q.processAllAvailable()
      // 12:15 is past 12:00+ttl but before 12:08+ttl → still enriched (v2)
      values.addData(("pub1", "screenA", ts("12:15:00")))
      q.processAllAvailable()
    }
    assert(rows === Seq(
      LookupCacheJoin.Enriched("pub1", "screenA", Some("v2"), ts("12:15:00"))))
  }
}
