package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Corpus

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(Some("local[4]"), Some(4))
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      // production-scale state store; required by transformWithState
      // (multiple column families) and exercises the RocksDB path for all
      // streaming suites
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` with `pairs` set on the shared session. Afterwards every
    * key that `pairs` or `f` changed is put back: to its previous value,
    * or unset if it had none. */
  def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val before = spark.conf.getAll
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally {
      val after = spark.conf.getAll
      (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
        .foreach(k => before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    }
  }

  /** Spark jobs submitted while `f` runs, counted by a listener. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // deterministic drains of the async listener bus (no racy sleep)
    org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      f
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      jobs.get()
    } finally sc.removeSparkListener(l)
  }
}

class BatchQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query runs and has a schema-stable result") {
    // and leaves the shared session's conf as it found it: queries run
    // inside concurrent Overlap chains, so none may write the conf
    val conf = spark.conf.getAll
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
      assert(spark.conf.getAll === conf, s"$name changed the session conf")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has either an oracle or a documented omission") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("registerViews exposes the corpus to pure SQL") {
    Corpus.registerViews(spark, sf)
    val viaSql = spark.sql("SELECT count(*) FROM lineitem").head().getLong(0)
    assert(viaSql === Corpus.lineitem(spark, sf).count())
    // events view carries the normalized timestamp type
    val tsType = spark.sql("SELECT ts FROM events").schema.head.dataType
    assert(tsType === org.apache.spark.sql.types.TimestampType)
  }

  test("capped semigroup clamps clicks and impressions at 1") {
    val ctr = Ctr.fixedWindow(spark, sf)
    val over = ctr.where(col("clicks") > 1 || col("impressions") > 1).count()
    assert(over == 0)
    // ctr column only ever 0, 1, or null under the capped semigroup
    val bad = ctr.where(col("ctr").isNotNull && col("ctr") =!= 0.0 && col("ctr") =!= 1.0).count()
    assert(bad == 0)
  }

  test("sliding windows assign each event to exactly two windows") {
    val fixedTotal = Corpus.adEvents(spark, sf)
      .where(col("action") =!= "Unknown").count()
    val slidingContrib = Ctr.slidingWindow(spark, sf)
      .agg(sum(col("clicks") + col("impressions"))).head().getLong(0)
    assert(slidingContrib == 2 * fixedTotal)
  }

  test("session windows respect the dynamic gap bounds") {
    val sess = Ctr.sessionWindow(spark, sf)
    // every session spans at least 1 minute (min gap) beyond its start
    val tooShort = sess.where(
      col("session_end") < col("session_start") + expr("INTERVAL 1 MINUTE")).count()
    assert(tooShort == 0)
  }

  test("broadcast enrichment: matched + dlq partitions the screens") {
    val screens = Corpus.screens(spark, sf).count()
    val enriched = Enrich.broadcastEnrichLatest(spark, sf)
    val matched = enriched.where(col("matched")).count()
    val dlq = Enrich.enrichDlq(spark, sf).count()
    assert(matched + dlq == screens)
    assert(dlq > 0, "DLQ path not exercised by fixture mapping")
  }

  test("broadcast enrichment picks the latest publication version") {
    val row = Enrich.broadcastEnrichLatest(spark, sf)
      .where(col("matched")).orderBy(col("screen_id")).limit(1).head()
    val pubId = row.getLong(row.fieldIndex("publication_id"))
    val expected = Corpus.publications(spark, sf)
      .where(col("publication_id") === pubId)
      .orderBy(col("ts").desc).limit(1).head().getString(1)
    assert(row.getString(row.fieldIndex("version")) == expected)
  }

  test("interval join only matches views within the 10-minute bound") {
    val j = Enrich.intervalJoinLatest(spark, sf).where(col("view_id").isNotNull)
    val outOfRange = j.where(
      col("view_ts") > col("click_ts") ||
      col("click_ts") >= col("view_ts") + expr("INTERVAL 10 MINUTE")).count()
    assert(outOfRange == 0)
    // one output row per click (left-outer + argmax)
    val clicks = Corpus.events(spark, sf).where(col("event_type") === "click").count()
    assert(Enrich.intervalJoinLatest(spark, sf).count() == clicks)
  }

  test("q1 aggregates are exact decimals (order-insensitive)") {
    val a = Relational.q1PricingSummary(spark, sf).orderBy("l_returnflag", "l_linestatus").collect()
    val b = Relational.q1PricingSummary(spark, sf).repartition(7)
      .orderBy("l_returnflag", "l_linestatus").collect()
    assert(a.sameElements(b))
  }

  test("q13 distribution accounts for every customer exactly once") {
    val d = Relational.q13CustomerDistribution(spark, sf)
    val total = d.agg(sum(col("custdist"))).head().getLong(0)
    assert(total == Corpus.customer(spark, sf).count())
    // zero-order customers are kept by the outer join (or provably absent)
    val zeroBucket = d.where(col("c_count") === 0).count()
    val custWithOrders = Corpus.orders(spark, sf)
      .join(Corpus.customer(spark, sf),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_custkey")).distinct().count()
    assert((zeroBucket > 0) == (custWithOrders < total),
      "the 0-orders bucket must appear iff some customer has no orders")
  }

  test("q14 promo share lies in [0, 100] and is consistent with its parts") {
    val r = Relational.q14PromoRevenue(spark, sf).head()
    val pct = r.getDouble(0)
    assert(pct >= 0.0 && pct <= 100.0, s"promo pct out of range: $pct")
    assert(r.getDouble(1) > 0.0, "expected revenue in the window")
  }

  test("q15 returns exactly the max-revenue suppliers") {
    val rows = Relational.q15TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getDouble(2)).distinct
    assert(revs.length == 1, "every returned supplier must carry the same (max) revenue")
  }

  test("q18 rows all exceed the quantity threshold, capped at 20") {
    val rows = Relational.q18BigOrders(spark, sf).collect()
    assert(rows.nonEmpty, "corpus must contain qualifying big orders")
    assert(rows.length <= 20)
    assert(rows.forall(_.getDouble(5) > 300.0), "sum_qty must exceed the threshold")
  }

  test("q22 anti-join keeps only customers with no recent orders") {
    val total = Relational.q22IdleCustomers(spark, sf)
      .agg(sum(col("n_cust"))).head().getLong(0)
    assert(total > 0, "corpus must contain lapsed high-balance customers")
    // recomputing with a semi join instead must be disjoint: anti + semi
    // partition the filtered customers
    val cust = Corpus.customer(spark, sf)
    val avgBal = cust.where(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("ab")).head().getDouble(0)
    val rich = cust.where(col("c_acctbal") > avgBal).count()
    val active = Corpus.orders(spark, sf)
      .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val richActive = cust.where(col("c_acctbal") > avgBal)
      .join(active, col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(total == rich - richActive, "anti + semi must partition the rich customers")
  }

  test("rollup subtotals are consistent with the detail rows") {
    val r = Relational.salesRollup(spark, sf).collect()
      .map(row => (Option(row.getString(0)), Option(row.getString(1))) ->
        (row.getDouble(2), row.getLong(3))).toMap
    val grand = r((None, None))
    val flagTotals = r.collect { case ((Some(f), None), v) => f -> v }
    assert(flagTotals.nonEmpty)
    // per-flag subtotals sum to the grand total (counts are exact; revenue
    // sums are decimal-exact so doubles compare equal)
    assert(flagTotals.values.map(_._2).sum == grand._2)
    assert(math.abs(flagTotals.values.map(_._1).sum - grand._1) < 1e-6)
    // detail rows sum to their flag's subtotal
    flagTotals.foreach { case (f, (rev, n)) =>
      val details = r.collect { case ((Some(`f`), Some(_)), v) => v }
      assert(details.map(_._2).sum == n)
      assert(math.abs(details.map(_._1).sum - rev) < 1e-6)
    }
  }

  test("ingest_anomaly flags an injected daily spike, null-z on constant types") {
    import spark.implicits._
    // type "steady": 30 days of exactly 10 events -> variance 0, z NULL,
    // never flagged. type "spiky": 29 days of 10 plus one day of 200.
    val us = (d: Int) => d * 86400000000L
    val rows =
      (0 until 30).flatMap(d => Seq.fill(10)(("steady", us(d)))) ++
      (0 until 29).flatMap(d => Seq.fill(10)(("spiky", us(d)))) ++
      Seq.fill(200)(("spiky", us(29)))
    val ev = rows.toDF("event_type", "u")
      .select(col("event_type"), expr("timestamp_micros(u)").as("ts"))
    val out = Relational.ingestAnomalyFrom(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
    val steady = out.filter(_._1 == "steady")
    assert(steady.length == 30 && steady.forall(r => r._4.isEmpty && !r._5),
      "zero-variance type must have NULL z and no flags")
    val flagged = out.filter(r => r._1 == "spiky" && r._5)
    assert(flagged.map(x => (x._2, x._3)).toSeq == Seq((29L, 200L)),
      s"exactly the injected spike day must be flagged: ${flagged.toSeq}")
    assert(flagged.head._4.get > 5.0, "spike z-score should be extreme")
  }
}
