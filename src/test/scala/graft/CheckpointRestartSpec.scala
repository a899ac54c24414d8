package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LookupCacheJoin, LookupCacheProcessor, Repeater}

/** Checkpoint-restart equivalence for the STATEFUL join/timer paths.
  *
  * The file sink already has an exactly-once restart test
  * (`IoMultimodalSpec`); this suite extends the guarantee to the two
  * operators that keep per-key state and event-time timers — the TTL
  * lookup-cache join (reference `LookupCacheDoFn`) and the repeater
  * (reference `RepeatDoFn`) — the join on both of its state engines.
  * Each scenario runs twice: once uninterrupted, once killed mid-scenario
  * (with an in-flight uncommitted batch and more data arriving while the
  * query is down) and restarted from its checkpoint. The recovered run
  * must produce the byte-identical output set: buffered values, cached
  * lookups, and armed timers all live in checkpointed state, so recovery
  * must neither lose, duplicate, nor re-time any emission.
  */
class CheckpointRestartSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  private def ts(hhmmss: String): Timestamp =
    Timestamp.from(Instant.parse(s"1970-01-01T${hhmmss}Z"))

  private def minutes(n: Int): Long = n * 60L * 1000L

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // ------------------------------------------------------- lookup cache

  /** Phase 1: values buffer (no lookup). Phase 2: first lookup flushes the
    * buffer. KILL POINT: phase-3 data is added and the query stopped
    * WITHOUT draining, so batch replay from the last committed offset is
    * exercised, then more data arrives while the query is down. */
  private def lookupRun(tws: Boolean, interrupt: Boolean): Seq[(String, String, Option[String], Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tmp(s"ckpt-lookup-$tws-$interrupt")
    val values = MemoryStream[(String, String, Timestamp)]
    val lookups = MemoryStream[(String, String, Timestamp)]
    def start() = {
      val out =
        if (tws) LookupCacheProcessor.join(values.toDS(), lookups.toDS(), minutes(60))
        else LookupCacheJoin.join(values.toDS(), lookups.toDS(), minutes(60))
      out.writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").start()
    }
    val q1 = start()
    values.addData(("p1", "a", ts("12:00:00")), ("p2", "b", ts("12:00:05")))
    q1.processAllAvailable()
    lookups.addData(("p1", "L1", ts("12:01:00")))
    if (interrupt) {
      values.addData(("p1", "c", ts("12:02:00"))) // in-flight at the kill
      q1.stop()
      lookups.addData(("p2", "L2", ts("12:02:30"))) // arrives while down
      values.addData(("p2", "d", ts("12:03:00")))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
    } else {
      q1.processAllAvailable()
      values.addData(("p1", "c", ts("12:02:00")))
      q1.processAllAvailable()
      lookups.addData(("p2", "L2", ts("12:02:30")))
      values.addData(("p2", "d", ts("12:03:00")))
      q1.processAllAvailable()
      q1.stop()
    }
    spark.read.parquet(s"$dir/out")
      .as[LookupCacheJoin.Enriched[String, String, String]]
      .collect().toSeq.map(e => (e.key, e.value, e.lookup, e.emitTs.getTime)).sorted
  }

  for (tws <- Seq(true, false)) {
    val engine = if (tws) "transformWithState" else "fMGWS"
    test(s"lookup-cache join recovers equivalently from its checkpoint ($engine)") {
      val clean = lookupRun(tws, interrupt = false)
      // buffered a+b flush at the p1 lookup (a) / stay cached-waiting (b);
      // c enriches from cache; d enriches from the post-restart L2
      assert(clean.size === 4, s"scenario must enrich all four values: $clean")
      assert(lookupRun(tws, interrupt = true) === clean,
        "restarted run diverged from the uninterrupted run")
    }
  }

  // ------------------------------------------------------------ repeater

  /** Phase 1: one element arrives and emits; the watermark then advances
    * past two re-emission ticks. KILL POINT: the query stops with a
    * watermark-advancer batch in flight; while it is down the watermark
    * data for the remaining ticks (through TTL expiry) arrives. Recovery
    * must fire the checkpointed event-time timers exactly as the
    * uninterrupted run does. */
  private def repeatRun(interrupt: Boolean): Seq[(String, String, Long, Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tmp(s"ckpt-repeat-$interrupt")
    val in = MemoryStream[(String, String, Timestamp)]
    def start() = {
      val ds = in.toDS().withWatermark("_3", "0 seconds").as[(String, String, Timestamp)]
      Repeater.repeat(ds, minutes(10), minutes(30)).writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").start()
    }
    val q1 = start()
    in.addData(("screen1", "v1", ts("12:00:00")))
    q1.processAllAvailable()
    if (interrupt) {
      in.addData(("__wm__", "w1", ts("12:25:00"))) // in-flight at the kill
      q1.stop()
      in.addData(("__wm__", "w2", ts("12:45:00"))) // arrives while down
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
    } else {
      in.addData(("__wm__", "w1", ts("12:25:00")))
      q1.processAllAvailable()
      in.addData(("__wm__", "w2", ts("12:45:00")))
      q1.processAllAvailable()
      q1.stop()
    }
    spark.read.parquet(s"$dir/out")
      .as[Repeater.Repeated[String, String]]
      .collect().toSeq.filter(_.key == "screen1")
      .map(r => (r.key, r.value, r.emitTs.getTime, r.repeated)).sorted
  }

  // ------------------------------------------------- interval join (J2)

  /** Phase 1: a screen arrives and its first ad matches. KILL POINT: a
    * second ad for the SAME screen is in flight when the query stops —
    * its match must come from the RECOVERED join state. While the query
    * is down a new screen, its ad, and an unmatchable ad arrive; after
    * restart the watermark advances so the unmatched ad's left-outer DLQ
    * row flushes. Runs on RocksDB with join state format v3: the ONE
    * store with virtual column families, the last one whose recovery
    * path had no restart test, and the config perfbench's `stream_ingest`
    * workload runs (perfbench/METRICS.md). */
  private def intervalRun(interrupt: Boolean): Seq[(String, Option[String])] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.model.{AdEvent, Screen}
    val dir = tmp(s"ckpt-interval-$interrupt")
    SparkTestSession.withConf(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.join.stateFormatVersion" -> "3") {
      val ads = MemoryStream[AdEvent]
      val screens = MemoryStream[Screen]
      def start() =
        graft.streaming.IntervalJoin.adScreenJoin(ads.toDS(), screens.toDS(), "10 minutes")
          .writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append").start()
      val q1 = start()
      screens.addData(Screen("screen1", "pub1", ts("12:00:00")))
      q1.processAllAvailable()
      ads.addData(AdEvent("ad1", "screen1", "Impression", ts("12:05:00")))
      q1.processAllAvailable()
      if (interrupt) {
        ads.addData(AdEvent("ad2", "screen1", "Click", ts("12:07:00"))) // in-flight at the kill
        q1.stop()
        screens.addData(Screen("screen2", "pub2", ts("12:08:00"))) // arrives while down
        ads.addData(AdEvent("ad3", "screen2", "Impression", ts("12:09:00")),
          AdEvent("ad4", "screenX", "Impression", ts("12:10:00")))
        val q2 = start()
        try {
          q2.processAllAvailable()
          ads.addData(AdEvent("wm", "none", "Impression", ts("12:40:00")))
          screens.addData(Screen("wm", "none", ts("12:40:00")))
          q2.processAllAvailable()
        } finally q2.stop()
      } else {
        ads.addData(AdEvent("ad2", "screen1", "Click", ts("12:07:00")))
        q1.processAllAvailable()
        screens.addData(Screen("screen2", "pub2", ts("12:08:00")))
        ads.addData(AdEvent("ad3", "screen2", "Impression", ts("12:09:00")),
          AdEvent("ad4", "screenX", "Impression", ts("12:10:00")))
        q1.processAllAvailable()
        ads.addData(AdEvent("wm", "none", "Impression", ts("12:40:00")))
        screens.addData(Screen("wm", "none", ts("12:40:00")))
        q1.processAllAvailable()
        q1.stop()
      }
      spark.read.parquet(s"$dir/out")
        .select("adId", "publicationId").as[(String, Option[String])]
        .collect().toSeq.filterNot(_._1 == "wm").sorted
    }
  }

  test("interval join recovers equivalently from its checkpoint (RocksDB, state format v3)") {
    val clean = intervalRun(interrupt = false)
    // ad1/ad2 match the pre-kill screen, ad3 the while-down screen, and
    // ad4 flushes as a DLQ null once the watermark passes its range
    assert(clean === Seq(("ad1", Some("pub1")), ("ad2", Some("pub1")),
      ("ad3", Some("pub2")), ("ad4", None)), s"unexpected clean output: $clean")
    assert(intervalRun(interrupt = true) === clean,
      "restarted interval join diverged from the uninterrupted run")
  }

  // ------------------------------------- checkpoint file manager switch

  /** Each batch after the first repeats a key of an earlier batch. */
  private val dedupBatches = Seq(Seq("a1" -> "12:00:00", "a2" -> "12:00:01"),
    Seq("a1" -> "12:00:02", "a3" -> "12:00:03"),
    Seq("a2" -> "12:00:04", "a4" -> "12:00:05"),
    Seq("a3" -> "12:00:06", "a5" -> "12:00:07"),
    Seq("a4" -> "12:00:08", "a6" -> "12:00:09"),
    Seq("a6" -> "12:00:10", "a7" -> "12:00:11"))

  /** First arrivals only: a repeat after a restart needs the recovered state. */
  private def firstArrivals(n: Int): Seq[(String, Long)] =
    dedupBatches.take(n).flatten.groupBy(_._1).values.map(_.head).toSeq
      .map { case (id, t) => (id, ts(t).getTime) }.sorted

  /** A RocksDB dedup over the parquet file source `dir/in`, checkpointed at
    * `dir/ckpt`, run on `s` for one micro-batch per entry of `batches` and
    * stopped. A second call on the same `dir` restarts it: the source log,
    * offset/commit logs, state and sink log all carry over. Returns the
    * sink's rows so far. */
  private def dedupRun(dir: String, s: SparkSession, batches: Seq[Seq[(String, String)]])
      : Seq[(String, Long)] = {
    import graft.model.AdEvent
    import s.implicits._
    Files.createDirectories(java.nio.file.Paths.get(dir, "in"))
    val in = s.readStream.schema(Encoders.product[AdEvent].schema)
      .parquet(s"$dir/in").as[AdEvent]
    val q = graft.streaming.StreamDedup.dedupEvents(in).writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try batches.foreach { b =>
      b.map { case (id, t) => AdEvent(id, "s1", "Click", ts(t)) }.toDS()
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(s"$dir/out").select("id", "ts").as[(String, Timestamp)]
      .collect().toSeq.map { case (id, t) => (id, t.getTime) }.sorted
  }

  /** The first 4 dedup batches with `key` set per run on a child session:
    * one value runs them uninterrupted, two stop after batch 2 and restart
    * on a child with the second value. */
  private def switchRun(key: String, values: String*): Seq[(String, Long)] = {
    val dir = tmp(s"ckpt-switch-${values.map(_.split('.').last).mkString("-")}")
    def session(value: String): SparkSession = {
      val c = spark.newSession()
      c.conf.set(key, value)
      c
    }
    val batches = dedupBatches.take(4)
    val phases = if (values.size == 1) Seq(batches) else Seq(batches.take(2), batches.drop(2))
    values.zip(phases).map { case (v, bs) => dedupRun(dir, session(v), bs) }.last
  }

  test("a checkpoint restarts across the FileContext-based and the graft file managers") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val fileContext = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    val graftFiles = classOf[graft.streaming.CheckpointFiles].getName
    val clean = switchRun(key, graftFiles)
    assert(clean === firstArrivals(4), s"unexpected clean output: $clean")
    assert(switchRun(key, fileContext, graftFiles) === clean,
      "FileContext-written checkpoint restarted on CheckpointFiles diverged")
    assert(switchRun(key, graftFiles, fileContext) === clean,
      "CheckpointFiles-written checkpoint restarted on FileContext diverged")
  }

  // ------------------------------------------ RocksDB changelog checkpoints

  private val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** File names in each partition directory of the dedup's state store. */
  private def stateFiles(dir: String): Seq[Set[String]] = {
    val parts = new java.io.File(s"$dir/ckpt/state/0").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
    assert(parts.nonEmpty, s"no state partitions under $dir/ckpt/state/0")
    parts.toSeq.map(_.list().toSet)
  }

  test("the graft session's RocksDB commits write changelogs, not snapshots") {
    val dir = tmp("ckpt-changelog")
    assert(dedupRun(dir, spark, dedupBatches.take(3)) === firstArrivals(3))
    for (names <- stateFiles(dir)) {
      assert((1 to 3).forall(v => names(s"$v.changelog")), s"missing changelogs: $names")
      assert(!(1 to 3).exists(v => names(s"$v.zip")), s"snapshot on commit: $names")
    }
  }

  test("a checkpoint restarts across RocksDB changelog checkpointing off and on") {
    val clean = switchRun(changelogKey, "true")
    assert(clean === firstArrivals(4), s"unexpected clean output: $clean")
    assert(switchRun(changelogKey, "false", "true") === clean,
      "snapshot-only checkpoint restarted with changelogs diverged")
    assert(switchRun(changelogKey, "true", "false") === clean,
      "changelog checkpoint restarted without changelogs diverged")
  }

  test("a changelog checkpoint restarts from a snapshot and the changelogs after it") {
    import org.apache.spark.sql.execution.streaming.state.StateStore
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // one state version per batch (no watermark-only batches); the
    // maintenance thread that uploads snapshots runs every 100 ms
    SparkTestSession.withConf(
        "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "2",
        "spark.sql.streaming.stateStore.maintenanceInterval" -> "100ms",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      // a running maintenance task keeps the interval it started with; the
      // next store load starts it again with the session's
      StateStore.stopMaintenanceTask()
      try {
        val clean = dedupRun(tmp("ckpt-snap-clean"), spark, dedupBatches)
        assert(clean === firstArrivals(6), s"unexpected clean output: $clean")
        val dir = tmp("ckpt-snap-restart")
        dedupRun(dir, spark, dedupBatches.take(5))
        // recovery of version 5 loads a snapshot below it and replays the rest
        eventually(timeout(60.seconds), interval(100.millis)) {
          for (names <- stateFiles(dir))
            assert(names("5.changelog") && Seq(2, 4).exists(v => names(s"$v.zip")),
              s"no snapshot to load: $names")
        }
        assert(dedupRun(dir, spark, dedupBatches.drop(5)) === clean,
          "restart from snapshot + changelogs diverged")
      } finally StateStore.stopMaintenanceTask()
    }
  }

  test("repeater recovers its event-time timers from the checkpoint (fMGWS)") {
    val clean = repeatRun(interrupt = false)
    // first emit at 12:00 + ticks 12:10/12:20 (before the kill window)
    // and 12:30 = lastSeen+ttl (the expiry tick still emits) after it
    assert(clean.map(_._3) === Seq(ts("12:00:00"), ts("12:10:00"),
      ts("12:20:00"), ts("12:30:00")).map(_.getTime), s"unexpected ticks: $clean")
    assert(repeatRun(interrupt = true) === clean,
      "restarted repeater diverged from the uninterrupted run")
  }
}
