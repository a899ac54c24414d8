package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches

/** The production-fast ANALYZE hash mode (round-11 verdict, Missing #4):
  * `spark.graft.analyze.hashMode = xxhash64` swaps the per-value md5 for
  * Spark's native codegen'd 64-bit hash. The gate here is ESTIMATOR
  * ACCURACY, not register equality (that is the md5 mode's oracle
  * contract): same 256 registers, same estimator, so the standard HLL
  * error bound (~1.04/√256 ≈ 6.5% σ) applies to either hash — asserted
  * against the exact NDV the same scan computes. Everything that is not
  * the sketch (rows, nulls, exact NDV, bounds) must be bit-identical
  * across modes, and the DEFAULT must remain the md5 mode so every
  * oracle run is unaffected.
  */
class FastAnalyzeSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.spark

  private def statsByCol(): Map[String, Row] =
    Sketches.tableStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap

  test("xxhash64 mode: NDV estimate within HLL error of exact; everything else bit-identical; md5 stays default") {
    val md5Rows = statsByCol() // default mode
    val fastRows = SparkTestSession.withConf("spark.graft.analyze.hashMode" -> "xxhash64")(statsByCol())
    assert(fastRows.keySet === md5Rows.keySet)

    fastRows.foreach { case (c, f) =>
      val m = md5Rows(c)
      // the non-sketch columns are mode-independent
      for (i <- Seq(1, 2, 3, 5, 6, 7, 8)) // n_rows, n_nulls, ndv_exact, bounds
        assert(f.get(i) === m.get(i), s"$c: non-sketch column $i drifted")
      val exact = f.getLong(3).toDouble
      val est = f.getDouble(4)
      // 256 registers → σ ≈ 6.5%; linear counting regime is tighter
      // still. 3σ + a unit of slack for tiny-NDV discreteness.
      val relErr = math.abs(est - exact) / math.max(exact, 1.0)
      assert(relErr <= 0.20,
        s"$c: fast-mode NDV estimate off by ${relErr * 100}%% " +
          s"(exact=$exact est=$est)")
    }

    // the default run IS the md5 run (conf unset ≡ conf = md5)
    val explicitMd5 = SparkTestSession.withConf("spark.graft.analyze.hashMode" -> "md5")(statsByCol())
    assert(explicitMd5.view.mapValues(_.toString).toMap ===
      md5Rows.view.mapValues(_.toString).toMap,
      "explicit md5 mode must equal the default bit for bit")
  }
}
