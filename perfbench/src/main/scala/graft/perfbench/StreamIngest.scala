package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{AdEvent, Screen}
import graft.streaming._

/** The stateful streaming pipelines over `MemoryStream`s, one query per
  * leg, all started at set-up on the RocksDB store with join state format
  * 3: `CtrStream` fixed windows, `AdEventWindower` session CTR,
  * `StreamDedup`, the `LookupCacheJoin` / `LookupCacheProcessor` twins
  * with lookups first, `LookupCacheJoin` state-heavy (lookups last) and
  * `IntervalJoin`. An operation is one trigger of one leg: `addData` of a
  * seeded batch of [[PerTrigger]] events, then `processAllAvailable`. A
  * pass triggers every leg once, in seeded order.
  *
  * Events advance event time by 100 ms each; keys are skewed (a cubed
  * uniform draw) and 5% of events arrive up to 30 s out of order, inside
  * every leg's one-minute watermark delay, so no event is late. */
final class StreamIngest(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val PerTrigger = 1000
  private val t0 = 1700000000000L
  private val delayMs = 60000L
  private val delay = s"$delayMs milliseconds"
  private val lookupKeys = 200

  /** One leg: its query, how its b-th batch is fed, and how many were. */
  private final class Leg(val name: String, val index: Int) {
    var query: StreamingQuery = _
    var feed: Int => Unit = _
    var batches = 0
    var lastBatchId = -1L
    def sink: DataFrame = spark.table(s"perfbench_$name")
  }

  private val legs = mutable.LinkedHashMap.empty[String, Leg]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** What each leg (and side) was fed, batch by batch. */
  private val fed = mutable.Map.empty[String, mutable.ArrayBuffer[Seq[Any]]]

  private def rnd(leg: Leg, b: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + leg.index * 7919L + b)

  private def skew(r: SplittableRandom, n: Int): Int = (n * math.pow(r.nextDouble(), 3)).toInt

  private def eventTs(r: SplittableRandom, g: Long): Timestamp =
    new Timestamp(t0 + g * 100L - (if (r.nextInt(100) < 5) r.nextInt(30000) else 0))

  private def adEvents(r: SplittableRandom, b: Int): Seq[AdEvent] =
    (0 until PerTrigger).map { i =>
      val u = r.nextDouble()
      AdEvent(s"ad${skew(r, 50)}", s"screen${skew(r, 200)}",
        if (u < 0.3) "Click" else if (u < 0.95) "Impression" else "Unknown",
        eventTs(r, b.toLong * PerTrigger + i))
    }

  /** Events with unique ids, one in ten a re-send of an earlier one. */
  private def dedupEvents(r: SplittableRandom, b: Int): Seq[AdEvent] = {
    val out = mutable.ArrayBuffer.empty[AdEvent]
    (0 until PerTrigger).foreach { i =>
      val g = b.toLong * PerTrigger + i
      out += (if (i > 0 && r.nextInt(10) == 0) out(r.nextInt(i))
              else AdEvent(s"e$g", s"screen${skew(r, 200)}", "Impression", eventTs(r, g)))
    }
    out.toSeq
  }

  private def values(r: SplittableRandom, b: Int, keys: Int): Seq[(String, String, Timestamp)] =
    (0 until PerTrigger).map { i =>
      val g = b.toLong * PerTrigger + i
      (s"k${skew(r, keys)}", s"v$g", eventTs(r, g))
    }

  private def lookups(b: Int): Seq[(String, String, Timestamp)] =
    (0 until lookupKeys).map(k => (s"k$k", s"l$b-$k", new Timestamp(t0 + b.toLong * PerTrigger * 100L)))

  private def screens(r: SplittableRandom, b: Int): Seq[Screen] =
    (0 until PerTrigger / 20).map { i =>
      val g = b.toLong * PerTrigger + i * 20
      Screen(s"screen${r.nextInt(200)}", s"pub${r.nextInt(7)}", new Timestamp(t0 + g * 100L))
    }

  private def record(name: String, xs: Seq[Any]): Unit =
    fed.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += xs

  private def leg1[T: Encoder](name: String, mode: String, gen: (SplittableRandom, Int) => Seq[T])(
      plan: Dataset[T] => DataFrame): Unit = {
    val leg = new Leg(name, legs.size)
    val in = MemoryStream[T]
    leg.query = plan(in.toDS()).writeStream.format("memory").queryName(s"perfbench_$name")
      .outputMode(mode).start()
    leg.feed = b => {
      val xs = gen(rnd(leg, b), b)
      record(name, xs)
      in.addData(xs)
    }
    legs(name) = leg
  }

  private def leg2[A: Encoder, B: Encoder](name: String, left: (SplittableRandom, Int) => Seq[A],
      right: (SplittableRandom, Int) => Seq[B])(plan: (Dataset[A], Dataset[B]) => DataFrame): Unit = {
    val leg = new Leg(name, legs.size)
    val (l, rr) = (MemoryStream[A], MemoryStream[B])
    leg.query = plan(l.toDS(), rr.toDS()).writeStream.format("memory")
      .queryName(s"perfbench_$name").outputMode("append").start()
    leg.feed = b => {
      val r = rnd(leg, b)
      val (xs, ys) = (left(r, b), right(r, b))
      record(name, xs)
      record(s"$name.right", ys)
      if (xs.nonEmpty) l.addData(xs)
      if (ys.nonEmpty) rr.addData(ys)
    }
    legs(name) = leg
  }

  private var heavyLookups: Seq[KV] => Unit = _

  private type KV = (String, String, Timestamp)

  def setup(): Map[String, Double] = {
    val ttl = 3600000L
    leg1[AdEvent]("fixed", "update", adEvents)(CtrStream.fixedWindowCtr(_, "10 minutes", delay))
    leg1[AdEvent]("session", "append", adEvents)(
      AdEventWindower.ctrByScreen(_, watermarkDelay = delay).toDF())
    leg1[AdEvent]("dedup", "append", dedupEvents)(StreamDedup.dedupEvents(_, delay).toDF())
    val early = (_: SplittableRandom, b: Int) => if (b == 0) lookups(b) else Seq.empty
    leg2[KV, KV]("lookup", values(_, _, lookupKeys), early)(
      LookupCacheJoin.join(_, _, ttl, delay).toDF())
    leg2[KV, KV]("lookup_tws", values(_, _, lookupKeys), early)(
      LookupCacheProcessor.join(_, _, ttl, delay).toDF())
    // state-heavy: every value buffers until the lookups, which arrive only
    // in the untimed check after the loop
    val heavyIn = MemoryStream[KV]
    leg2[KV, KV]("lookup_heavy", values(_, _, lookupKeys), (_, _) => Seq.empty[KV])((v, _) =>
      LookupCacheJoin.join(v, heavyIn.toDS(), ttl, delay).toDF())
    heavyLookups = xs => heavyIn.addData(xs)
    leg2[AdEvent, Screen]("interval", adEvents, screens)(
      IntervalJoin.adScreenJoin(_, _, "30 seconds", delay))
    Map.empty
  }

  /** Folds the leg's new `StreamingQueryProgress` records into the
    * per-trigger counters. */
  private def progress(leg: Leg): Unit = {
    val ps = leg.query.recentProgress.filter(_.batchId > leg.lastBatchId)
    ps.foreach { p =>
      val d = p.durationMs.asScala
      def add(k: String, v: Double): Unit = counters(k) += v
      add("trigger_add_batch_ms", d.get("addBatch").map(_.toDouble).getOrElse(0.0))
      add("trigger_planning_ms", d.get("queryPlanning").map(_.toDouble).getOrElse(0.0))
      add("trigger_wal_ms", d.get("walCommit").map(_.toDouble).getOrElse(0.0))
      add("trigger_commit_ms", d.get("commitOffsets").map(_.toDouble).getOrElse(0.0))
      p.stateOperators.foreach { s =>
        add("state_commit_ms", s.commitTimeMs.toDouble)
        add("late_rows_dropped", s.numRowsDroppedByWatermark.toDouble)
      }
    }
    ps.lastOption.foreach(p => leg.lastBatchId = p.batchId)
  }

  def pass(i: Int): Seq[Op] = {
    val ops = legs.values.toSeq.map(leg =>
      Op(leg.name, "trigger", PerTrigger, t => t.span("execute") {
        leg.feed(leg.batches)
        leg.batches += 1
        leg.query.processAllAvailable()
      }, () => { progress(leg); true }))
    if (i < 0) ops else Workload.seeded(ops, seed, i)
  }

  private val wrong = mutable.Set.empty[String]

  private def batchesOf[T](name: String): Seq[Seq[T]] =
    fed.getOrElse(name, Nil).toSeq.asInstanceOf[Seq[Seq[T]]]

  private def fedOf[T](name: String): Seq[T] = batchesOf[T](name).flatten

  private type Pane = (String, String, Int, Int, Long, Long)

  /** The panes the session leg must have emitted by the end, and the
    * watermark of its last trigger: a replay of `AdEventWindower`'s merge
    * rule (no allowed lateness) over the fed batches. Each trigger is one
    * micro-batch, whose watermark is the largest event time of the batches
    * before it less the delay; a key's window closes at the first batch
    * whose watermark has reached its end. Only windows that ended before
    * the last watermark are certain to have fired, so both sides are cut
    * there. */
  private def sessionPanes(batches: Seq[Seq[AdEvent]]): (Seq[Pane], Long) = {
    final case class Win(start: Long, end: Long, click: Boolean, clicks: Int, imps: Int)
    val open = mutable.Map.empty[(String, String), Win]
    val closed = mutable.ArrayBuffer.empty[Pane]
    var wm = 0L
    var lastWm = 0L
    batches.foreach { b =>
      val evs = b.filter(e => e.action != "Unknown")
      lastWm = wm
      open.filter(_._2.end <= wm).foreach { case (k, w) =>
        closed += ((k._1, k._2, math.min(1, w.clicks), math.min(1, w.imps), w.start, w.end))
        open -= k
      }
      evs.filter(_.ts.getTime > wm).groupBy(e => (e.screenId, e.id)).foreach { case (k, es) =>
        es.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          val end = t + (if (e.isClick) 60000L else 600000L) - 1
          val (c, i) = if (e.isClick) (1, 0) else (0, 1)
          open.get(k) match {
            case None => if (wm < end) open(k) = Win(t, end, e.isClick, c, i)
            case Some(w) =>
              open(k) = Win(math.min(w.start, t),
                if (w.click || e.isClick) math.max(w.start, t) else math.max(w.end, end),
                w.click || e.isClick, w.clicks + c, w.imps + i)
          }
        }
      }
      if (evs.nonEmpty) wm = math.max(wm, evs.map(_.ts.getTime).max - delayMs)
    }
    (closed.filter(_._6 < lastWm).toSeq.sorted, lastWm)
  }

  private def windowKey(ts: Timestamp, sizeMs: Long): Long = ts.getTime - Math.floorMod(ts.getTime, sizeMs)

  /** Each leg's sink against counts derived from what it was fed. */
  def check(): Seq[String] = {
    heavyLookups(lookups(legs("lookup_heavy").batches))
    legs("lookup_heavy").query.processAllAvailable()
    def expect(leg: String, ok: Boolean, what: String): Option[String] =
      if (ok) None else { wrong += leg; Some(s"$leg: $what") }
    val min10 = 600000L
    val ads = (n: String) => fedOf[AdEvent](n).filter(_.action != "Unknown")

    val fixedKeys = ads("fixed").map(e => (windowKey(e.ts, min10), e.screenId, e.id)).distinct.size
    val fixedOut = legs("fixed").sink.select("windowStart", "screenId", "adId").distinct().count()

    val (sessions, lastWm) = sessionPanes(batchesOf[AdEvent]("session"))
    val panes = legs("session").sink.where("not late").collect().toSeq
      .map(r => (r.getAs[String]("screenId"), r.getAs[String]("adId"), r.getAs[Int]("clicks"),
        r.getAs[Int]("impressions"), r.getAs[Timestamp]("windowStart").getTime,
        r.getAs[Timestamp]("windowEnd").getTime))
      .filter(_._6 < lastWm).sorted

    val dd = fedOf[AdEvent]("dedup").map(_.id).distinct.size

    val lookupValues = fedOf[Any]("lookup").size
    val heavyValues = fedOf[Any]("lookup_heavy").size

    val adsI = fedOf[AdEvent]("interval")
    val byScreen = fedOf[Screen]("interval.right").groupBy(_.id)
    val matched = adsI.map(a => byScreen.getOrElse(a.screenId, Nil).count(s =>
      !s.ts.after(a.ts) && s.ts.getTime >= a.ts.getTime - 30000L).toLong).sum
    val matchedOut = legs("interval").sink.where("publicationId is not null").count()

    Seq(
      expect("fixed", fixedOut == fixedKeys, s"$fixedOut (window, screen, ad) keys, generator has $fixedKeys"),
      expect("session", sessions.nonEmpty && panes == sessions,
        s"session emitted ${panes.size} panes closed before the last watermark, generator gives ${sessions.size}" +
          s" (${panes.diff(sessions).size} unexpected)"),
      expect("dedup", legs("dedup").sink.count() == dd, s"dedup emitted ${legs("dedup").sink.count()}, generator has $dd distinct ids"),
      expect("lookup", legs("lookup").sink.count() == lookupValues,
        s"lookup emitted ${legs("lookup").sink.count()} of $lookupValues values"),
      expect("lookup_tws", legs("lookup_tws").sink.count() == fedOf[Any]("lookup_tws").size,
        s"lookup_tws emitted ${legs("lookup_tws").sink.count()} of ${fedOf[Any]("lookup_tws").size} values"),
      expect("lookup_heavy", legs("lookup_heavy").sink.count() == heavyValues,
        s"lookup_heavy emitted ${legs("lookup_heavy").sink.count()} of $heavyValues values"),
      expect("interval", matchedOut == matched, s"interval matched $matchedOut, generator gives $matched")
    ).flatten
  }

  def wrongOps: Set[String] = wrong.toSet

  override def snapshot(): Map[String, Double] = {
    val last = legs.values.flatMap(l => Option(l.query.lastProgress)).toSeq
    counters.toMap ++ Map(
      "state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "state_mem_bytes" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum)
  }

  override def close(): Unit = legs.values.foreach(l => if (l.query != null) l.query.stop())
}
