package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap.both]] runs two chains on driver threads that start from the
  * caller's Spark local properties; a property one chain sets must stay
  * invisible to the other. */
class OverlapSpec extends AnyFunSuite {

  private lazy val sc: SparkContext = SparkTestSession.spark.sparkContext

  test("Overlap.both: each chain gets its own copy of the caller's local properties") {
    sc.setLocalProperty("overlap.caller", "yes")
    try {
      val set = new CountDownLatch(1)
      val (a, b) = Overlap.both(sc)(
        {
          val inherited = sc.getLocalProperty("overlap.caller")
          sc.setLocalProperty("k", "a")
          set.countDown()
          inherited
        }, {
          assert(set.await(60, TimeUnit.SECONDS), "chain A never set its property")
          (sc.getLocalProperty("overlap.caller"), sc.getLocalProperty("k"))
        })
      assert(a === "yes")
      assert(b === (("yes", null)), "chain A's local property leaked into chain B")
      assert(sc.getLocalProperty("k") === null, "a chain's property leaked into the caller")
    } finally sc.setLocalProperty("overlap.caller", null)
  }
}
