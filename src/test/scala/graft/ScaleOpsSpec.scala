package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Semantic specs for the training-data-pipeline operators (dedup,
  * similarity, text analysis) beyond the oracle hash-match. */
class ScaleOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("exact dedup: every document accounted for, keep_id is a member") {
    val d = Dedup.dedupExact(spark, sf)
    val total = d.agg(sum("n_copies")).head().getLong(0)
    assert(total == graft.sources.Corpus.documents(spark, sf).count())
  }

  test("minhash signatures have the declared arity and are hex") {
    val sigs = Dedup.minhashSignatures(spark, sf)
    val bad = sigs.where(size(split(col("signature"), ",")) =!= 8).count()
    assert(bad == 0)
    val nonHex = sigs.where(!col("signature").rlike("^[0-9a-f,]+$")).count()
    assert(nonHex == 0)
  }

  test("minhash LSH pairs all meet the jaccard threshold and are ordered") {
    val p = Dedup.minhashLshPairs(spark, sf)
    assert(p.where(col("jaccard") < 0.5).count() == 0)
    assert(p.where(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("simhash is deterministic and covers the full 64-bit range") {
    val sigs = Dedup.simhashSignatures(spark, sf)
    val again = Dedup.simhashSignatures(spark, sf)
    assert(sigs.count() > 0)
    assert(sigs.except(again).count() == 0)
  }

  test("simhash pairs respect the hamming bound") {
    val p = Dedup.simhashPairs(spark, sf)
    assert(p.where(col("hamming") > 3L).count() == 0)
  }

  test("ann brute force: k results per query, sims sorted and in [-1,1]") {
    val r = Similarity.annBruteForce(spark, sf)
    val counts = r.groupBy("query_id").count()
    assert(counts.count() == 10, "every query must return results")
    assert(counts.where(col("count") =!= 5L).count() == 0)
    assert(r.where(col("sim") > 1.0 || col("sim") < -1.0).count() == 0)
    // rank 1 sim >= rank k sim per query
    val firstVsLast = r.groupBy("query_id")
      .agg(max_by(col("sim"), col("rank")).as("last"),
           min_by(col("sim"), col("rank")).as("first"))
    assert(firstVsLast.where(col("first") < col("last")).count() == 0)
  }

  test("ann LSH results are a subset of brute-force candidates by bucket") {
    // LSH top-k sims can never exceed the brute-force top-1 per query
    val bf = Similarity.annBruteForce(spark, sf)
      .groupBy("query_id").agg(max("sim").as("bf_max"))
    val lsh = Similarity.annLshBucketed(spark, sf)
      .groupBy("query_id").agg(max("sim").as("lsh_max"))
    val j = lsh.join(bf, "query_id")
    assert(j.where(col("lsh_max") > col("bf_max")).count() == 0)
  }

  test("PQ ANN: k results per query, distances non-decreasing, real recall") {
    val pq = Similarity.annPq(spark, sf)
    val counts = pq.groupBy("query_id").count()
    assert(counts.count() == 10, "every query must return results")
    assert(counts.where(col("count") =!= 5L).count() == 0)
    // approx distances non-decreasing in rank per query
    val badOrder = pq.as("a").join(pq.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.rank") < col("b.rank") &&
          col("a.approx_dist") > col("b.approx_dist")).count()
    assert(badOrder == 0, "ADC distance must be non-decreasing in rank")
    // recall@5 against brute force: 4-byte codes lose information, but on
    // this corpus the 16-entry sample codebook must still recover a
    // nontrivial share of true neighbors (measured, not assumed)
    val bf = Similarity.annBruteForce(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pq.select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & got).size.toDouble / bf.size
    assert(recall >= 0.2, s"PQ recall@5 collapsed to $recall")
  }

  test("embedding near-dups symmetric-free and above threshold") {
    val p = Similarity.embeddingNearDups(spark, sf)
    assert(p.where(col("vec_a") >= col("vec_b")).count() == 0)
    assert(p.where(col("sim") < 0.4).count() == 0)
  }

  test("wide-signature near-dups: superset of the narrow banding, recall gain at mid cosine, never all-pairs") {
    import spark.implicits._
    // the global plane matrix makes the wide signature's word 0 the
    // narrow signature, so 16×8 candidates ⊇ 16×4 candidates — on the
    // gate corpus the RESULT sets must nest accordingly
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrowGate = pairSet(Similarity.embeddingNearDups(spark, sf, 16, 4))
    val wideGate = pairSet(Similarity.embeddingNearDupsWide(spark, sf))
    assert(narrowGate.subsetOf(wideGate),
      "widening must only ADD candidates — word 0 is the narrow signature")

    // mid-cosine recall: plant 150 pairs at cosine ≈ 0.78 (per-16-bit
    // band collision ~2.6% — the regime the narrow 4-band trade
    // documented as its loss) and measure both against the EXACT truth
    val dims = 64
    def unit(seed: Int): Array[Double] = {
      val v = Array.tabulate(dims) { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"w$seed|$d".getBytes("UTF-8"))
        (java.nio.ByteBuffer.wrap(h.take(8)).getLong.toDouble /
          Long.MaxValue)
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cosT = 0.78
    val sinT = math.sqrt(1 - cosT * cosT)
    val rows = (0 until 150).flatMap { i =>
      val a = unit(i)
      // orthogonalize a deterministic direction against a, then tilt
      val r = unit(10000 + i)
      val d = (0 until dims).map(j => a(j) * r(j)).sum
      val o = Array.tabulate(dims)(j => r(j) - d * a(j))
      val on = math.sqrt(o.map(x => x * x).sum)
      val b = Array.tabulate(dims)(j => cosT * a(j) + sinT * o(j) / on)
      Seq((i.toLong, a.toSeq), (1000L + i, b.toSeq))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_nd").toFile
    dir.deleteOnExit()
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
    // exact truth at the operator threshold, computed in-process
    val vecs = rows.map { case (id, v) => id -> v.toArray }.toMap
    val ids = vecs.keys.toSeq.sorted
    val truth = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      va = vecs(ids(i)); vb = vecs(ids(j))
      if (0 until dims).map(k => va(k) * vb(k)).sum >= 0.4
    } yield (ids(i), ids(j))).toSet
    assert(truth.size >= 150, "every planted pair sits above threshold")
    val narrow = Similarity.embeddingNearDups(
      spark, dir.getAbsolutePath, 16, 4)
    val wide = Similarity.embeddingNearDupsWide(spark, dir.getAbsolutePath)
    // banded LSH, never all-pairs — same contract as the narrow plan
    wide.collect()
    val plan = wide.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"all-pairs plan:\n$plan")
    val nR = (pairSet(narrow) & truth).size.toDouble / truth.size
    val wR = (pairSet(wide) & truth).size.toDouble / truth.size
    info(f"mid-cosine (0.78) recall: narrow(16,4) $nR%.3f -> wide $wR%.3f " +
      s"over ${truth.size} true pairs")
    assert(pairSet(narrow).subsetOf(pairSet(wide)))
    assert(wR > nR,
      f"widening must buy mid-cosine recall: narrow $nR%.3f vs wide $wR%.3f")
    assert(wR >= 0.15, f"wide recall collapsed: $wR%.3f")
  }

  test("text stats: ratios well-formed") {
    val t = TextAnalysis.textStats(spark, sf)
    assert(t.where(col("punct_ratio") < 0.0 || col("punct_ratio") > 1.0).count() == 0)
    assert(t.where(col("n_tokens") <= 0L).count() == 0)
  }

  test("quality score is decile-quantized and keep matches the cut") {
    val q = TextAnalysis.qualityScore(spark, sf)
    assert(q.where(col("quality") < 0.0 || col("quality") > 1.0).count() == 0)
    assert(q.where(col("keep") =!= (col("quality") >= 0.6)).count() == 0)
  }

  test("lang_id emits a known language and agree is consistent") {
    val l = TextAnalysis.langId(spark, sf)
    val known = Seq("en", "de", "fr", "es", "zh")
    assert(l.where(!col("predicted").isin(known: _*)).count() == 0)
    assert(l.where(col("agree") =!= (col("predicted") === col("lang"))).count() == 0)
  }

  test("kmeans: total assignment into k clusters via a shuffle-free pass") {
    val a = Similarity.kmeansAssign(spark, sf)
    // final assignment is a narrow map over the checkpointed vectors:
    // centroids are plan literals, so no Exchange anywhere in the frame
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"),
      "assignment must not shuffle — centroids are baked in as literals")
    val n = graft.sources.Corpus.embeddings(spark, sf).count()
    assert(a.count() === n, "every vector gets exactly one cluster")
    val clusters = a.select("cluster").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(clusters.forall(c => c >= 0 && c < 8), "cluster ids in [0, k)")
    assert(clusters.length > 1, "Lloyd rounds must separate the corpus")
  }

  test("kmeans shards past the cluster cap: blocks and per-shard state stay bounded") {
    import graft.sources.Corpus
    val e = Corpus.embeddings(spark, sf)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint()
    val n = e.count()
    // force the large-n regime: a 100-vector shard target on 500 vectors
    // plays the role of the 256k production threshold
    val shardTarget = 100L
    val nShards = math.ceil(n.toDouble / shardTarget).toInt
    val rows = Similarity.kmeansAssignedSharded(spark, e, shardTarget)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // total assignment: every vector exactly once
    assert(rows.length === n.toInt)
    assert(rows.map(_._1).distinct.length === n.toInt)
    val kMax = 4096L
    rows.foreach { case (id, c) =>
      // the shard encoded in the cluster id must be the hash shard
      assert(c / kMax === id % nShards,
        s"vec $id assigned to cluster $c of the wrong shard")
      // per-shard local k is re-derived from the SHARD's size, so local
      // cluster ids — and with them the per-round driver state — are
      // bounded by clustersForCount(shard size), never by n
      assert(c % kMax < math.ceil(shardTarget * 2.0 / 64.0).toLong,
        s"local cluster id $c exceeds the shard-sized k")
    }
    // the block-size invariant that motivated sharding: average block
    // stays ~kmBlockTarget in every shard
    rows.groupBy(_._2 / kMax).foreach { case (sh, members) =>
      val k = members.map(_._2).distinct.length
      assert(members.length.toDouble / k <= 64.0 * 2,
        s"shard $sh average block ${members.length / k} blew past the target")
    }
    // dispatch inertness: a target at-or-above n must take the exact
    // single-shard oracle-gated path
    val single = Similarity.kmeansAssignedSharded(spark, e, n)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val direct = Similarity.kmeansAssign(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(single === direct, "single-shard dispatch diverged from the direct path")
  }

  test("sharded kmeans matches the per-shard relational rounds row for row") {
    import graft.sources.Corpus
    // lloydLocal claims bit-identical arithmetic to kmeansAssignedK —
    // prove it: the one-shuffle sharded path must reproduce the old
    // shard-by-shard relational formulation exactly, shard offsets and all
    val e = Corpus.embeddings(spark, sf)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint()
    val n = e.count()
    val shardTarget = 100L
    val nShards = math.ceil(n.toDouble / shardTarget).toInt
    val got = Similarity.kmeansAssignedSharded(spark, e, shardTarget)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val kMax = 4096L
    val want = (0 until nShards).flatMap { sh =>
      val es = e.where(pmod(col("vec_id"), lit(nShards.toLong)) === sh.toLong)
        .localCheckpoint()
      Similarity.kmeansAssignedK(spark, es,
          Similarity.clustersForCount(es.count()))
        .select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), sh * kMax + r.getLong(1)))
    }.sorted
    assert(got === want,
      "in-task Lloyd's diverged from the relational per-shard rounds")
  }

  test("sharded kmeans job count is constant in the shard count") {
    import graft.sources.Corpus
    // the round-9 perf-weak finding: the old loop ran O(nShards)
    // full-frame jobs. The fix is one shuffle however many shards there
    // are — so the Spark job count at 5 shards must equal the count at
    // 10 shards exactly
    val e = Corpus.embeddings(spark, sf)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint()
    def jobsFor(shardTarget: Long): Int = jobsDuring {
      Similarity.kmeansAssignedSharded(spark, e, shardTarget).count(); ()
    }
    val j5 = jobsFor(100L)  // 5 shards
    val j10 = jobsFor(50L)  // 10 shards
    assert(j5 === j10, s"job count grew with shard count: $j5 vs $j10")
  }
}
