package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.AdEvent
import graft.streaming.{CtrStream, Repeater, StoreAdvisory, StreamPack}

/** The corpus-coupled store advisory (verdict r14 Next #6): the r14
  * streaming matrix PROVED heap-store collapse on corpus-coupled state
  * (sf1→sf10 ratios 0.25–0.68 vs RocksDB ≥ 0.90) — this spec pins that
  * the engine now SAYS so at pipeline-construction time:
  *
  *  - corpus-coupled operator + heap store → logged advisory naming the
  *    trend-table evidence and the provider conf to set;
  *  - the same operator on RocksDB → silent;
  *  - a bounded-window operator (state ∝ keys × window, flat on either
  *    store) → silent even on the heap store.
  */
class StoreAdvisorySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark
  private val key = "spark.sql.streaming.stateStore.providerClass"

  /** Run `f` with the provider conf unset (Spark's default = the
    * heap-map HDFSBackedStateStoreProvider), restoring after. */
  private def onHeapStore[T](f: => T): T =
    SparkTestSession.withConf() { spark.conf.unset(key); f }

  test("corpus-coupled operators on the heap store emit the advisory, citing the measured trend") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    onHeapStore {
      StoreAdvisory.reset()
      val in = MemoryStream[(Long, String, Timestamp)]
      Repeater.repeat(in.toDS(), intervalMs = 1000L, ttlMs = 5000L)
      val msg = StoreAdvisory.last.getOrElse(
        fail("repeat on the heap store must advise"))
      assert(msg.contains("'repeat'"))
      assert(msg.contains("heap-map"), "names the store it warns about")
      assert(msg.contains("0.25-0.68") && msg.contains("0.90"),
        "cites the measured sf1->sf10 trend, not just an opinion")
      assert(msg.contains("RocksDBStateStoreProvider"),
        "states the exact conf fix")

      StoreAdvisory.reset()
      val packIn = MemoryStream[StreamPack.DocEvent]
      StreamPack.offsets(packIn.toDS())
      assert(StoreAdvisory.last.exists(_.contains("'pack'")))
    }
  }

  test("the same operator on RocksDB is silent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // SparkTestSession pins the RocksDB provider — assert, don't assume
    assert(spark.conf.get(key).contains("RocksDB"))
    StoreAdvisory.reset()
    val in = MemoryStream[(Long, String, Timestamp)]
    Repeater.repeat(in.toDS(), intervalMs = 1000L, ttlMs = 5000L)
    assert(StoreAdvisory.last.isEmpty,
      "RocksDB holds >= 0.90 on every corpus-coupled leg - nothing to say")
  }

  test("bounded-window operators stay silent even on the heap store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    onHeapStore {
      StoreAdvisory.reset()
      val in = MemoryStream[AdEvent]
      CtrStream.fixedWindowCtr(in.toDS(), "10 minutes", "0 seconds")
      assert(StoreAdvisory.last.isEmpty,
        "fixed-window agg state is bounded by keys x window - flat on " +
          "either store (BASELINE matrix 'flat legs'), so no advisory")
    }
  }
}
