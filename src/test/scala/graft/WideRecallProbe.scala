package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Harness for the wide-signature recall/cost curve (verdict r13 Next
  * #5): planted near-dup pairs at an exact cosine, and per
  * (bitsPerBand, nBands) setting
  *
  *  - recall over the planted pairs, and
  *  - candidate volume (Σ over (band, key) buckets of C(n,2) — the
  *    number of pairs the exact verify must score, the setting's cost).
  *
  * The full sweep (four cosines, two scales) is recorded in BASELINE.md
  * round 14 ("Wide-signature recall/cost curve"); `WideRecallSpec` pins
  * its measured floors on this harness. */
object WideRecallProbe {

  private val dims = 64

  /** Deterministic unit vector (MD5-seeded — no Math.random in tests). */
  def unit(seed: Int): Array[Double] = {
    val v = Array.tabulate(dims) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w$seed|$d".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h.take(8)).getLong.toDouble / Long.MaxValue
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `nPairs` planted pairs at EXACT cosine `cosT` (ids: base i pairs
    * with tilt `pairBase + i`), plus `nFill` filler unit vectors. */
  def plantedCorpus(
      nPairs: Int, cosT: Double, nFill: Int,
      idBase: Long, pairBase: Long): Seq[(Long, Seq[Double])] = {
    val sinT = math.sqrt(1 - cosT * cosT)
    val planted = (0 until nPairs).flatMap { i =>
      val a = unit((idBase + i).toInt)
      val r = unit((idBase + 100000 + i).toInt)
      val d = (0 until dims).map(j => a(j) * r(j)).sum
      val o = Array.tabulate(dims)(j => r(j) - d * a(j))
      val on = math.sqrt(o.map(x => x * x).sum)
      val b = Array.tabulate(dims)(j => cosT * a(j) + sinT * o(j) / on)
      Seq((idBase + i, a.toSeq), (pairBase + i, b.toSeq))
    }
    val fillers = (0 until nFill).map { i =>
      (idBase + 200000L + i, unit((idBase + 300000 + i).toInt).toSeq)
    }
    planted ++ fillers
  }

  /** Recall of `setting` over the planted (idBase+i, pairBase+i) pairs,
    * plus that setting's candidate volume on this corpus. */
  def measure(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bb: Int, nBands: Int, nPairs: Int,
      idBase: Long, pairBase: Long): (Double, Long) = {
    val pairs =
      (if (bb * nBands <= 64) Similarity.embeddingNearDups(spark, dir, bb, nBands)
       else Similarity.embeddingNearDupsWide(spark, dir, bb, nBands))
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = (0 until nPairs).count { i =>
      pairs.contains((idBase + i, pairBase + i)) ||
        pairs.contains((pairBase + i, idBase + i))
    }
    // candidate volume: Σ_{(band,key)} C(cnt, 2) over the SAME banding
    val planes =
      if (bb * nBands <= 64) VectorFunctions.planesFor(bb * nBands)
      else VectorFunctions.planesRange(0, 64) ++
        VectorFunctions.planesRange(64, bb * nBands)
    val mask = -1L >>> (64 - bb)
    val perWord = 64 / bb
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sig =
      if (bb * nBands <= 64)
        e.select(VectorFunctions.hyperplaneSig(col("v"), planes).as("s0"),
          lit(0L).as("s1"))
      else
        e.select(
          VectorFunctions.hyperplaneSig(col("v"), planes.take(64)).as("s0"),
          VectorFunctions.hyperplaneSig(col("v"), planes.drop(64)).as("s1"))
    val keyed = sig.select(posexplode(array((0 until nBands).map { b =>
      shiftright(if (b < perWord) col("s0") else col("s1"),
        bb * (b % perWord)).bitwiseAND(lit(mask))
    }: _*)).as(Seq("band", "key")))
    val cand = keyed.groupBy("band", "key").count()
      .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L)))
      .collect()(0).getLong(0) / 2
    (hit.toDouble / nPairs, cand)
  }
}
