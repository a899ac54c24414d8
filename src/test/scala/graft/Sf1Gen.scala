package graft

// Dev-only sf1 generator for the full-corpus verification run:
//   sbt "Test/runMain graft.Sf1Gen /root/testdata/sf0.1 testdata/sf1 10"
//
// The driver ships sf0.001/0.01/0.1 only; sf1 (~6M-row lineitem) is built
// locally as 10 CONTENT-DISTINCT replicas of sf0.1 (exact twins would give
// every pair-generating operator R-1 duplicates per document and grow its
// candidate volume quadratically in R, which says nothing about corpus
// growth):
// - relational tables: replica k offsets every INT64 entity key by
//   k * 10,000,000, so per-entity aggregates (orders
//   per customer, lines per order, revenue per supplier, sessions per
//   user) keep the original's exact distribution while the join fan-out
//   scales linearly. region/nation stay fixed (fixed-size dimensions,
//   as in TPC-H).
// - documents: replica k > 0 suffixes every token with k AND remaps
//   `source` to source_k — per-source vocabulary stays the original's
//   (under the Space-Saving capacity, so sketch answers remain exact;
//   see Sketches.heavyHitters oracle-exactness note) while the corpus and
//   source count scale 10x.
// - embeddings: replica k cyclically shifts vectors by k dims (norms and
//   intra-replica cosines exact, cross-replica cosines drop to noise).
// - events: ts is normalized through Corpus.events (handles both corpus
//   encodings — TIMESTAMP(NANOS)-long with `div 1000` truncation, and
//   micros NTZ) and written as TIMESTAMP(MICROS), so both engines see
//   the same values the source corpus yields on read.
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Sf1Gen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("testdata/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val off = 10000000L

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sf1gen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    def replicate(name: String, keyCols: Seq[String], parts: Int): Unit = {
      val t = spark.read.parquet(s"$src/$name.parquet")
      val rep = (0 until reps).map { k =>
        keyCols.foldLeft(t)((d, c) => d.withColumn(c, col(c) + lit(k * off)))
      }.reduce(_ unionByName _)
      write(name, rep, parts)
    }

    Seq("region", "nation").foreach { n =>
      write(n, spark.read.parquet(s"$src/$n.parquet"), 1)
    }
    replicate("customer", Seq("c_custkey"), 4)
    replicate("supplier", Seq("s_suppkey"), 1)
    replicate("part", Seq("p_partkey"), 4)
    replicate("orders", Seq("o_orderkey", "o_custkey"), 8)
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 32)

    // Corpus.events normalizes ts to TIMESTAMP under either corpus
    // encoding (nanos-as-long or micros NTZ) — the replicas inherit the
    // normalized micros values either way.
    val ev = graft.sources.Corpus.events(spark, src)
    write("events", (0 until reps).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * off))
        .withColumn("user_id", col("user_id") + lit(k * off))
    }.reduce(_ unionByName _), 8)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write("documents", (0 until reps).map { k =>
      val text =
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1" + k.toString)
      val source =
        if (k == 0) col("source") else concat(col("source"), lit(s"_$k"))
      docs.select((col("doc_id") + lit(k * off)).as("doc_id"),
        text.as("text"), col("lang"), source.as("source"), col("n_chars"))
    }.reduce(_ unionByName _), 16)

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    // shift + one sign flip give 2·dims distinct transforms; a third
    // wrap would repeat the first (k and k+2·dims bitwise-identical),
    // silently planting cross-replica exact twins in ANN ground truth
    require(reps <= 2 * dims,
      s"reps=$reps exceeds the $dims-dim corpus's 2*dims=${2 * dims} " +
        "content-distinct replica transforms")
    write("embeddings", (0 until reps).map { k =>
      // shift wraps at dims (reps can exceed the dimension count — the
      // sf10 run is 100 replicas of 64-dim vectors); the second wrap
      // negates the vector so replicas stay content-distinct (norms
      // exact, cross-replica cosines flip sign instead of colliding)
      val kk = k % dims
      val shifted =
        if (kk == 0) col("embedding")
        else concat(slice(col("embedding"), kk + 1, dims - kk),
          slice(col("embedding"), 1, kk))
      val distinct =
        if (k < dims) shifted
        else transform(shifted, x => -x)
      emb.select((col("vec_id") + lit(k * off)).as("vec_id"),
        distinct.as("embedding"), col("label"))
    }.reduce(_ unionByName _), 8)

    spark.stop()
  }
}
