package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The wide-signature recall contract (verdict r13 Next #5): the
  * measured floors the recall-target selection compares against are
  * PINNED at two corpus scales on the WideRecallProbe harness (the
  * full sweep is in BASELINE r14; these are its two load-bearing
  * points), and the selection rule itself is pinned in both
  * directions. */
class WideRecallSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  test("wideParams picks by recall target within the candidate-volume safety band") {
    // default target 0.9: only (8,16) meets the measured floor — below
    // the cut it is chosen; past the cut it is INADMISSIBLE (n²/2¹⁶
    // candidates — the measured 70 GB spill) and the selection degrades
    // to the highest-floor safe split rather than chase the target
    assert(Similarity.wideParams(500L) === ((8, 16)))
    assert(Similarity.wideParams(200000L) === ((16, 8)))
    // a caller content with the (16,8) floor states it and gets the
    // ~25x cheaper candidate volume at EVERY corpus size
    assert(Similarity.wideParams(500L, 0.13) === ((16, 8)))
    assert(Similarity.wideParams(200000L, 0.13) === ((16, 8)))
    // an unmeetable target still returns the best measured floor
    assert(Similarity.wideParams(500L, 0.99) === ((8, 16)))
    // the conf rides into the self-sized entry
    SparkTestSession.withConf("spark.graft.neardup.midRecallTarget" -> "0.13") {
      assert(Similarity.midRecallTarget(spark) === 0.13)
    }
  }

  test("the floor table holds at two corpus scales (0.78-cosine plant)") {
    import spark.implicits._
    // (pairs, fillers): ~1K vectors and ~3.4K vectors — recall was
    // scale-stable in the full sweep (0.920 / 0.924 at 1K / 10K), so
    // the second point here stays CI-sized
    for ((nPairs, nFill, tag) <- Seq((150, 700, "s1"), (500, 2400, "s2"))) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_recall_floor_$tag").toFile
      dir.deleteOnExit()
      val idBase = 7000000L
      val pairBase = idBase + 500000L
      WideRecallProbe.plantedCorpus(nPairs, 0.78, nFill, idBase, pairBase)
        .toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
      val (wideR, _) = WideRecallProbe.measure(spark, dir.getAbsolutePath,
        8, 16, nPairs, idBase, pairBase)
      assert(wideR >= Similarity.wideRecallFloor((8, 16)),
        f"(8,16) floor broken at $tag: $wideR%.3f")
      val (cheapR, cheapCand) = WideRecallProbe.measure(
        spark, dir.getAbsolutePath, 16, 8, nPairs, idBase, pairBase)
      assert(cheapR >= Similarity.wideRecallFloor((16, 8)) - 0.03,
        f"(16,8) floor broken at $tag: $cheapR%.3f")
      // and the cost ordering the selection rule assumes
      val (_, wideCand) = WideRecallProbe.measure(spark,
        dir.getAbsolutePath, 8, 16, nPairs, idBase, pairBase)
      assert(wideCand > 5L * cheapCand,
        s"(8,16) must cost materially more candidates: $wideCand vs $cheapCand")
    }
  }
}
