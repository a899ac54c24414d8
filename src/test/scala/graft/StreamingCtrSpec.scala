package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.AdEvent
import graft.streaming.{AdEventWindower, CtrStream}

/** Streaming CTR scenarios from the reference test suites:
  *  - fixed window: `AdCtrFixedWindowCalculatorTest.scala:37-142`
  *  - custom merging ad-event window: `AdCtrCustomWindowCalculatorTest.scala`
  *
  * Pane assertions are re-expressed as revision sequences (SURVEY.md §5):
  * update-mode sink rows accumulate per batch, so "on-time pane" = first
  * row of a group and "late pane" = a later revision. Watermark control is
  * via driver elements on a dedicated screen id.
  */
class StreamingCtrSpec extends AnyFunSuite {

  // shared, never-stopped session (suites in one JVM would otherwise
  // tear down each other's SparkContext)
  private lazy val spark: SparkSession = SparkTestSession.spark


  private def ts(hhmmss: String): Timestamp =
    Timestamp.from(Instant.parse(s"1970-01-01T${hhmmss}Z"))

  private val WmScreen = "__wm__"
  private def wmDriver(at: String): AdEvent = AdEvent("wm-ad", WmScreen, "Impression", ts(at))
  private def impression(at: String): AdEvent = AdEvent("ad1", "screen1", "Impression", ts(at))
  private def click(at: String): AdEvent = AdEvent("ad1", "screen1", "Click", ts(at))

  // ------------------------------------------------- fixed window (update)

  /** Runs the fixed-window CTR over scripted batches; returns the sink's
    * revision rows for screen1 in arrival order. */
  private def runFixed(name: String, lateness: String)(
      batches: Seq[Seq[AdEvent]]): Seq[(Timestamp, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[AdEvent]
    val out = CtrStream.fixedWindowCtr(in.toDS(), "10 minutes", lateness)
    val q = out.writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name)
        .select("windowStart", "clicks", "impressions", "screenId")
        .as[(Timestamp, Long, Long, String)].collect().toSeq
        .filter(_._4 == "screen1").map(r => (r._1, r._2, r._3))
    } finally q.stop()
  }

  test("fixed window: unordered click before impression still gives ctr 1.0") {
    val rows = runFixed("fx1", "0 seconds")(Seq(
      Seq(click("12:00:02"), impression("12:00:01"))))
    assert(rows === Seq((ts("12:00:00"), 1L, 1L)))
  }

  test("fixed window: duplicates suppressed by the capped semigroup") {
    val rows = runFixed("fx2", "0 seconds")(Seq(
      Seq(impression("12:00:01"), impression("12:01:00"), click("12:02:00"), click("12:03:00"))))
    assert(rows === Seq((ts("12:00:00"), 1L, 1L)))
  }

  test("fixed window: events straddling the boundary land in two windows") {
    val rows = runFixed("fx3", "0 seconds")(Seq(
      Seq(impression("12:09:59"), impression("12:10:00"))))
    assert(rows.toSet === Set(
      (ts("12:00:00"), 0L, 1L),
      (ts("12:10:00"), 0L, 1L)))
  }

  test("fixed window: late event beyond watermark is dropped (no revision)") {
    val rows = runFixed("fx4", "0 seconds")(Seq(
      Seq(impression("12:00:01")),
      Seq(wmDriver("12:15:00")), // watermark → 12:15, window [12:00,12:10) closed
      Seq(click("12:03:00")))) // too late
    assert(rows === Seq((ts("12:00:00"), 0L, 1L)))
  }

  test("fixed window: late event within lateness revises the pane (accumulating)") {
    val rows = runFixed("fx5", "6 minutes")(Seq(
      Seq(impression("12:00:01")),
      Seq(wmDriver("12:15:00")), // watermark → 12:09, window still open
      Seq(click("12:03:00")))) // late but allowed
    assert(rows === Seq(
      (ts("12:00:00"), 0L, 1L), // on-time pane
      (ts("12:00:00"), 1L, 1L))) // late accumulating revision
  }

  test("sliding window: moving-average ctr sequence 1.0 -> 0.5 -> 0.0") {
    // reference scenario (AdCtrSlidingWindowCalculatorTest.scala:62-84):
    // click+impression in the first period, impression-only in the second
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[AdEvent]
    val out = CtrStream.slidingWindowCtr(in.toDS(), "20 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("sw1").outputMode("update").start()
    try {
      in.addData(impression("12:01:00"), click("12:02:00"), impression("12:11:00"))
      q.processAllAvailable()
      val rows = spark.table("sw1")
        .select("windowStart", "ctr").as[(Timestamp, Option[Double])]
        .collect().toSeq.sortBy(_._1.getTime)
      assert(rows === Seq(
        (ts("11:50:00"), Some(1.0)), // click/imp of period 1 only
        (ts("12:00:00"), Some(0.5)), // 1 click / 2 impressions
        (ts("12:10:00"), Some(0.0)))) // impression-only tail
    } finally q.stop()
  }

  test("session window (streaming): dynamic gap merges on overlap, keeps max end") {
    // the session_window approximation of W5, streaming: click gap 1 min,
    // impression gap 10 min — impression [12:00,12:10) and click
    // [12:02,12:03) merge into one session with the MAX end (12:10).
    // (The faithful AdEventWindower instead snaps the end to the click —
    // exactly the gap SURVEY §7.5.3 documents for this approximation.)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[AdEvent]
    val gap = when(col("action") === "Click", lit("1 minute")).otherwise(lit("10 minutes"))
    val out = in.toDS().toDF()
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), gap).as("w"), col("screenId"), col("id"))
      .agg(least(lit(1L), count(when(col("action") === "Click", 1))).as("clicks"),
        least(lit(1L), count(when(col("action") === "Impression", 1))).as("impressions"))
      .select(col("w.start").as("s"), col("w.end").as("e"), col("screenId"),
        col("clicks"), col("impressions"))
    val q = out.writeStream.format("memory").queryName("ssw1").outputMode("append").start()
    try {
      in.addData(impression("12:00:00"), click("12:02:00"))
      q.processAllAvailable()
      in.addData(wmDriver("12:30:00")) // close the session
      q.processAllAvailable()
      val rows = spark.table("ssw1")
        .select("s", "e", "screenId", "clicks", "impressions")
        .as[(Timestamp, Timestamp, String, Long, Long)].collect()
        .filter(_._3 == "screen1").toSeq
      assert(rows === Seq((ts("12:00:00"), ts("12:10:00"), "screen1", 1L, 1L)))
    } finally q.stop()
  }

  // -------------------------------------- custom merging ad-event window

  /** Runs a scenario against the custom window, one micro-batch per
    * input batch, and returns `screen1`'s panes in emission order. */
  private def runCustom(name: String, latenessMs: Long)(
      batches: Seq[Seq[AdEvent]]): Seq[AdEventWindower.CtrPane] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[AdEvent]
    val out = AdEventWindower.ctrByScreen(in.toDS(), latenessMs = latenessMs)
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name).as[AdEventWindower.CtrPane].collect().toSeq
        .filter(_.screenId == "screen1").sortBy(_.emitTs.getTime)
    } finally q.stop()
  }

  test("custom window: impression then on-time click emits ctr 1.0 at click time") {
    val panes = runCustom("cw1", 0L)(Seq(
      Seq(impression("12:00:00"), click("12:00:01")),
      Seq(wmDriver("12:30:00"))))
    assert(panes.map(p => (p.emitTs, p.clicks, p.impressions)) ===
      Seq((ts("12:00:01"), 1, 1)))
  }

  test("custom window: impression then expired click gives 0.0 and undefined panes") {
    val panes = runCustom("cw2", 0L)(Seq(
      Seq(impression("12:00:00")),
      Seq(wmDriver("12:10:00")), // impression window [12:00,12:10) expires
      Seq(click("12:11:00")),
      Seq(wmDriver("12:30:00"))))
    assert(panes.map(p => (p.emitTs, p.clicks, p.impressions)) === Seq(
      (new Timestamp(ts("12:10:00").getTime - 1), 0, 1), // impression window
      (new Timestamp(ts("12:12:00").getTime - 1), 1, 0))) // click-only window
  }

  test("custom window: late click within lateness merges and fires a late pane") {
    val panes = runCustom("cw3", 60000L)(Seq(
      Seq(impression("12:00:00")),
      Seq(wmDriver("12:10:00")), // on-time pane fires, state kept 1 min
      Seq(click("12:11:00")), // within end+lateness → merges
      Seq(wmDriver("12:30:00"))))
    assert(panes.map(p => (p.emitTs, p.clicks, p.impressions, p.late)) === Seq(
      (new Timestamp(ts("12:10:00").getTime - 1), 0, 1, false),
      (ts("12:11:00"), 1, 1, true)))
  }

  test("custom window: click then on-time impression emits ctr 1.0 at impression time") {
    val panes = runCustom("cw4", 0L)(Seq(
      Seq(click("12:00:00"), impression("12:00:01")),
      Seq(wmDriver("12:30:00"))))
    assert(panes.map(p => (p.emitTs, p.clicks, p.impressions)) ===
      Seq((ts("12:00:01"), 1, 1)))
  }

  test("custom window: click then expired impression gives undefined and 0.0 panes") {
    val panes = runCustom("cw5", 0L)(Seq(
      Seq(click("12:00:00")),
      Seq(wmDriver("12:01:00")), // click window [12:00,12:01) expires
      Seq(impression("12:02:00")),
      Seq(wmDriver("12:30:00"))))
    assert(panes.map(p => (p.emitTs, p.clicks, p.impressions)) === Seq(
      (new Timestamp(ts("12:01:00").getTime - 1), 1, 0),
      (new Timestamp(ts("12:12:00").getTime - 1), 0, 1)))
  }

  test("custom window: click and impression in-batch merge snaps end to the latest event") {
    val panes = runCustom("cw6", 60000L)(Seq(
      Seq(click("12:00:00"), impression("12:02:00")),
      Seq(wmDriver("12:30:00"))))
    assert(panes.map(p => (p.emitTs, p.clicks, p.impressions)) ===
      Seq((ts("12:02:00"), 1, 1)))
  }
}
