package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Similarity}
import graft.sources.Corpus

/** Plan-shape audit: the properties that matter at 100 TB, asserted on the
  * optimized/physical plans so regressions surface as test failures, not
  * as cluster bills.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  // shared, never-stopped session (suites in one JVM would otherwise
  // tear down each other's SparkContext)
  private lazy val spark: SparkSession = SparkTestSession.spark


  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projections reach the parquet scan (S3-S5 pushdown)") {
    val df = Corpus.lineitem(spark, sf)
      .where(org.apache.spark.sql.functions.col("l_quantity") < 10)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>")
      || scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:decimal"),
      s"columns not pruned:\n$scan")
  }

  test("dimension joins broadcast the small side (q5 shape)") {
    val plan = physicalPlan(Relational.q5NationRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in q5:\n$plan")
  }

  test("brute-force ANN broadcasts the query batch, not the corpus") {
    val plan = physicalPlan(Similarity.annBruteForce(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$plan")
  }

  test("embedding near-dups blocks on band keys — no all-pairs join") {
    val df = Similarity.embeddingNearDups(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"near-dup candidate generation is not an equi-join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no hash/merge equi-join in near-dup plan:\n$plan")
  }

  test("the quantized squared distance stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10).select(
      graft.functions.VectorFunctions.qSqDist(
        array(col("id").cast("double"), (col("id") * 2).cast("double")),
        array(lit(0.5), lit(1.5))).as("qd"))
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("WholeStageCodegen"), gen)
    assert(gen.contains("Math.floor"), "distance quantization not code-generated")
  }

  test("keyless range join routes through the band equi-join — no nested loop") {
    val plan = physicalPlan(graft.operators.RangeJoin.concurrentViews(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded range join degenerated to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"no equi-join on the band id:\n$plan")
  }

  test("multi-table LSH ANN blocks on (table, key) — no all-pairs join") {
    val plan = physicalPlan(Similarity.annLshBucketed(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH candidate generation is not an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no hash/merge equi-join in LSH plan:\n$plan")
  }

  test("media near-dups block on (band, nib) — no all-pairs join over payloads") {
    val plan = physicalPlan(graft.operators.Multimodal.mediaNearDups(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"perceptual candidate generation is not an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no hash/merge equi-join in the perceptual near-dup plan:\n$plan")
  }

  test("contamination_scrub: bench set broadcast, no cartesian, one doc_id rebuild exchange") {
    val plan = physicalPlan(graft.operators.Dedup.contaminationScrub(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span marking must be an equi semi-join, never all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the hashed benchmark window set must broadcast:\n$plan")
  }

  test("ngram_coverage: hashed bench set broadcast; rollup never goes all-pairs") {
    val plan = physicalPlan(graft.operators.Dedup.ngramCoverage(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"coverage plan went cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bench gram set must broadcast into the semi-join:\n$plan")
  }

  test("pack_interleave never collapses the corpus into one window partition") {
    val df = graft.operators.Packing.packInterleave(spark, sf)
    val plan = physicalPlan(df)
    // the per-source rank must ride the bucketed (source, bucket) window,
    // not a corpus-wide PARTITION BY source over doc_id alone — the same
    // audit pack_chunks' prefix sum carries
    assert(plan.contains("Window"), s"no window at all?\n$plan")
    assert(!plan.contains("Window [") ||
      !plan.matches("(?s).*Window \\[[^\\]]*row_number[^\\]]*\\]\\s*\\n.*"),
      "sanity")
    // the only single-partition exchange allowed is the tiny
    // (source, bucket) offsets frame; the doc-level window must carry a
    // hashpartitioning on (source, bucket)
    assert(plan.contains("hashpartitioning(source"),
      s"doc-level rank window is not bucket-partitioned:\n$plan")
    // r10: the bucket-offset join must NOT carry a broadcast HINT — the
    // bucketCounts frame is ~n/bucketDocs rows, corpus-proportional; at
    // gate SF AQE may still pick broadcast (it is tiny HERE), but the
    // plan must leave it that choice. The two legitimate hints remain:
    // srcTok (sources-bounded) and the 1-row corpus total.
    val hints = "(?i)ResolvedHint".r.findAllIn(
      df.queryExecution.analyzed.toString).length
    assert(hints == 2,
      s"expected exactly the srcTok + total broadcast hints, found $hints:\n" +
        df.queryExecution.analyzed.toString)
  }

  test("pack_by_writer: per-writer windows ride (source, bucket); no broadcast hint on the offsets join") {
    val df = graft.operators.Packing.packByWriter(spark, sf)
    val plan = physicalPlan(df)
    // the doc-level window must be keyed by (source, bucket) — a
    // PARTITION BY source alone would serialize each writer's whole
    // corpus through one partition
    assert(plan.contains("hashpartitioning(source"),
      s"doc-level window is not bucket-partitioned:\n$plan")
    // the bucket-offset frame is source × bucket rows, corpus-
    // proportional: the join must carry NO broadcast hint (AQE may still
    // pick broadcast at gate SF — the plan must leave it that choice)
    val hints = "(?i)ResolvedHint".r.findAllIn(
      df.queryExecution.analyzed.toString).length
    assert(hints == 0,
      s"expected no broadcast hints, found $hints:\n" +
        df.queryExecution.analyzed.toString)
  }

  test("the hyperplane signature stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10).select(
      graft.functions.VectorFunctions.hyperplaneSig(
        array(col("id").cast("double"), (col("id") * -1).cast("double")),
        graft.functions.VectorFunctions.planesFor(8, 2)).as("sig"))
    val codegenPlan = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(codegenPlan.contains("WholeStageCodegen"), codegenPlan)
    // the generated code must contain the fused loop nest over the plane
    // matrix reference, not an interpreted fallback
    assert(codegenPlan.contains("double[]"), "signature not code-generated")
  }

  test("pack_chunks confines the global window to the tiny bucket frame") {
    val plan = physicalPlan(graft.operators.Packing.packChunks(spark, sf))
    // the hierarchical prefix sum allows exactly one single-partition
    // exchange: the bucket-totals cumulative window (corpus_size/4096 rows).
    // A second one would mean the per-doc running total collapsed to one
    // partition — the scale-killer the operator exists to avoid.
    val singles = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(singles <= 1, s"per-doc window collapsed to a single partition:\n$plan")
    // the per-doc window must be partitioned (by bucket)
    assert(plan.contains("Window") && plan.contains("bucket"),
      s"expected a bucket-partitioned window:\n$plan")
  }

  test("epoch_order ranks the hash via its prefix buckets — one tiny single-partition window, offsets broadcast") {
    val df = graft.operators.Packing.epochOrder(spark, sf)
    val plan = physicalPlan(df)
    // the only single-partition exchange allowed is the ≤256-row bucket
    // offsets cumulative window; a second would mean the permutation
    // rank collapsed the corpus into one sort-window
    val singles = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(singles <= 1, s"per-doc rank collapsed to a single partition:\n$plan")
    // the doc-level rank window rides the hash-prefix bucket
    assert(plan.contains("hashpartitioning(bucket"),
      s"doc-level rank window is not bucket-partitioned:\n$plan")
    // the offsets frame is bounded (≤256 rows) by construction, so the
    // broadcast hint is correct — exactly one
    val hints = "(?i)ResolvedHint".r.findAllIn(
      df.queryExecution.analyzed.toString).length
    assert(hints == 1, s"expected exactly the offsets broadcast hint, found $hints")
  }

  test("corpus_retention reads documents exactly once") {
    val plan = physicalPlan(graft.operators.Curation.corpusRetention(spark, sf))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1,
      s"expected one documents scan (single-pass verdict), got $scans:\n$plan")
  }

  test("curation_pipeline: three document scans, broadcasts, no cartesian") {
    val plan = physicalPlan(graft.operators.Curation.curationPipeline(spark, sf))
    // one signals scan (every per-doc filter computed in a single
    // projection) + one corpus 13-gram explode + one benchmark gram scan —
    // a fourth scan would mean a stage is re-reading instead of reusing
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 3, s"expected 3 documents scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"curation funnel must stay equi-join only:\n$plan")
    // bench grams + contaminated ids both ride broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected broadcast contamination semi-join and id join-back:\n$plan")
  }

  test("winnow_pairs blocks on fingerprints — no all-pairs join") {
    val plan = physicalPlan(graft.operators.TextAnalysis.winnowPairs(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"winnow candidate generation is not an equi-join:\n$plan")
  }

  test("the codegen dot product stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    // exchange-free plan: AQE leaves it alone, so the codegen subtree is
    // inspectable pre-execution
    val df = spark.range(10).select(
      graft.functions.VectorFunctions.dot(
        array(col("id").cast("double"), col("id").cast("double")),
        array(col("id").cast("double"), lit(2.0))).as("d"))
    val codegenPlan = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(codegenPlan.contains("WholeStageCodegen"), codegenPlan)
    // the generated code must contain the primitive loop, not an
    // interpreted fallback
    assert(codegenPlan.contains("getDouble"), "dot product not code-generated")
  }

  test("bucketed co-located join runs with no shuffle exchange") {
    import graft.operators.Scale
    // force a non-broadcast join so bucketing is what kills the exchange
    try SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Scale.bucketTables(spark, sf, buckets = 4, prefix = "audit")
      val joined = Scale.bucketedJoin(spark, "audit")
      joined.collect() // finalize AQE
      val plan = joined.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").head // exchange above agg is fine
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS audit_orders")
      spark.sql("DROP TABLE IF EXISTS audit_customer")
    }
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true)") {
    import org.apache.spark.sql.functions._
    // shrink AQE's skew thresholds so the test-sized hot key (59k of 60k
    // rows on one join key) triggers the same re-plan a hot key at 100 TB
    // would — salting (Scale.saltedEventCounts) is the static counterpart
    SparkTestSession.withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val left = spark.range(0, 60000).select(
        when(col("id") % 100 === 0, col("id") % 7).otherwise(lit(0L)).as("k"),
        col("id").as("payload"))
      val right = spark.range(0, 7).select(col("id").as("k"), (col("id") * 10).as("dim"))
      val joined = left.join(right, "k")
      joined.collect() // finalize AQE on THIS queryExecution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    }
  }

  test("salted aggregation spreads the skewed key over salt partitions") {
    import graft.operators.Scale
    val plan = physicalPlan(Scale.saltedEventCounts(spark, sf))
    // two aggregation layers: (key, salt) then key
    assert("HashAggregate".r.findAllIn(plan).length >= 3, plan)
  }

  test("unigram_logprob broadcasts the vocab and partial-aggregates per doc") {
    val plan = physicalPlan(graft.operators.TextAnalysis.unigramLogprob(spark, sf))
    // the corpus-bounded frequency table must come back as a broadcast
    // hash join — a shuffle join here would re-shuffle the token stream
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab frequencies not broadcast:\n$plan")
    // per-doc quantized sums: partial + final hash aggregate
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("windowed CTR aggregation is a partial+final hash aggregate") {
    val plan = physicalPlan(graft.operators.Ctr.fixedWindow(spark, sf))
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
  }

  test("dup_gram_fraction never goes all-pairs and never collapses to one partition") {
    val plan = physicalPlan(graft.operators.Dedup.dupGramFraction(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"dup-gram df must come from a hash-partitioned window, not a join:\n$plan")
    // the df window partitions by gram hash; a SinglePartition exchange
    // would mean the whole gram stream serialized through one task
    assert(!plan.contains("Exchange SinglePartition"),
      s"gram window collapsed to a single partition:\n$plan")
    assert(plan.contains("Window"), s"expected the df window:\n$plan")
  }

  test("bm25 broadcasts term stats and finishes with TakeOrdered, not a global sort") {
    val plan = physicalPlan(graft.operators.Retrieval.bm25Topk(spark, sf))
    // term df (≤ |query| rows) must come back as a broadcast, like the
    // unigram vocab — a shuffle join here would re-shuffle the tf frame
    assert(plan.contains("BroadcastHashJoin"), s"term stats not broadcast:\n$plan")
    // top-10 must be a TakeOrdered (per-partition top-k + driver merge),
    // never a full sort of the per-doc score frame
    assert(plan.contains("TakeOrderedAndProject"), s"top-k is a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bpe merges confine the global ranking window to the bounded pair frame") {
    val plan = physicalPlan(graft.operators.TextAnalysis.bpeMerges(spark, sf))
    // exactly one single-partition exchange is allowed: the global top-20
    // window over the (≤ alphabet²-row) aggregated pair counts — the same
    // confinement contract as pack_chunks' bucket window
    val singles = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(singles <= 1, s"ranking window not confined to the pair frame:\n$plan")
    // partial+final aggregation below it (map-side combine on the pair counts)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"pair counts must partial-aggregate before the exchange:\n$plan")
    // r6: pair extraction is pure DSL — the whole pass stays inside
    // codegen, no typed-flatMap object boundary (round-5 verdict nit)
    assert(!plan.contains("SerializeFromObject"),
      s"pair extraction must not leave codegen via a typed flatMap:\n$plan")
  }

  test("q22 runs as a hash anti-join with the date predicate pushed down") {
    val df = Relational.q22IdleCustomers(spark, sf)
    val plan = physicalPlan(df)
    assert(plan.contains("LeftAnti"), s"expected an anti-join:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"recent-order predicate not pushed to the orders scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rollup derives coarser levels from base-group PARTIALS, one scan, no Expand") {
    // r15 shape: the (flag, status) base aggregate materializes (~6 rows)
    // and the two coarser rollup levels re-aggregate THOSE — the corpus
    // crosses one aggregate exactly once, instead of Expand tripling every
    // row through the grouping sets (decimal sums regroup exactly, so the
    // levels are bit-identical)
    val df = graft.operators.Relational.salesRollup(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("Expand"),
      s"rollup must regroup from partials, not Expand the corpus:\n$plan")
    // the corpus scan happens once, inside the checkpointed base aggregate
    // (the final frame reads the checkpoint, so it carries no parquet scan)
    assert(!plan.contains("FileScan parquet"),
      s"levels must derive from the materialized base groups:\n$plan")
  }

  test("contamination_bloom probes the filter without a ScalaUDF") {
    val plan = physicalPlan(graft.operators.Dedup.contaminationBloom(spark, sf))
    assert(!plan.contains("ScalaUDF"),
      s"bloom probe fell back to a UDF (codegen boundary):\n$plan")
    assert(plan.contains("graft_bloom_might_contain"),
      s"expected the native bloom probe expression:\n$plan")
  }

  test("q17 de-correlates the per-part average without a cartesian") {
    val plan = physicalPlan(Relational.q17SmallQuantity(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated-avg decorrelation produced a non-equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"part dimension not broadcast:\n$plan")
  }

  test("q21 sole-supplier anti join stays a single co-partitioned self-join") {
    val plan = physicalPlan(Relational.q21SoleSupplier(spark, sf))
    assert(plan.contains("LeftAnti"), s"expected an anti self-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"anti join degenerated:\n$plan")
  }

  test("q4 correlated EXISTS runs as a left-semi hash join on orderkey") {
    val plan = physicalPlan(Relational.q4OrderPriority(spark, sf))
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated EXISTS degenerated to a non-equi join:\n$plan")
  }

  test("q16 NOT IN lowers to a plain anti join (keys non-null, no NAAJ fallback)") {
    val plan = physicalPlan(Relational.q16SupplierCnt(spark, sf))
    assert(plan.contains("LeftAnti"), s"expected an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"NOT IN degenerated (null-aware cartesian fallback):\n$plan")
    // count-distinct rolls up via the standard two-level Expand-free rewrite
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
  }

  test("q19 disjunctive predicate keeps the partkey equi hash join (no cartesian)") {
    val plan = physicalPlan(Relational.q19DiscountedRevenue(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"OR-of-conjunctions broke the equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no hash/merge join on partkey:\n$plan")
  }

  test("q2 min-cost join-back reuses the per-part exchange (no cartesian)") {
    val plan = physicalPlan(Relational.q2MinCostSupplier(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"min join-back degenerated:\n$plan")
  }

  test("q13 join-side predicate keeps the outer join (zero-order customers survive)") {
    val plan = physicalPlan(Relational.q13OrderDistribution(spark, sf))
    assert(plan.contains("LeftOuter"), s"outer join lost (predicate pulled to WHERE?):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"outer join degenerated:\n$plan")
  }

  test("q15 scalar max broadcasts; supplier join-back is an equi hash join") {
    val plan = physicalPlan(Relational.q15TopSupplier(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"non-broadcast cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), s"no hash/merge join on suppkey:\n$plan")
  }

  test("substring spans: marking is a partial-agg equi join on gh — no window-over-gh, no cartesian") {
    val df = graft.operators.Dedup.substringSpans(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span marking is not an equi join:\n$plan")
    // occurrence marking must be groupBy(gh)+join-back, NOT a window over
    // gh: count/min partial-aggregate map-side, so a boilerplate window
    // with millions of occurrences never lands in one window partition
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"gh aggregation lost its map-side partial combine:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no hash/merge equi-join in span plan:\n$plan")
  }

  test("pmi_topk: top-20 is TakeOrdered over the pair aggregate, never a global sort") {
    val plan = physicalPlan(graft.operators.TextAnalysis.pmiTopk(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"pmi top-k must be per-partition heads + merge:\n$plan")
    // the single-partition rnk window is fine ONLY because it runs on the
    // 20-row TakeOrdered result, not the pair table
    assert(plan.indexOf("Window") < plan.indexOf("TakeOrderedAndProject"),
      s"rnk window must sit ABOVE the 20-row limit, not over the pair table:\n$plan")
  }

  test("quality classifier is a shuffle-free scan pass — zero exchanges") {
    val plan = physicalPlan(graft.operators.TextAnalysis.qualityClassifier(spark, sf))
    assert(!plan.contains("Exchange"),
      s"hashed linear scoring must not shuffle (scan -> project only):\n$plan")
  }

  test("semdedup pair search blocks on cluster id — no all-pairs join") {
    val plan = physicalPlan(Similarity.semDedup(spark, sf))
    // the paper's point: clustering bounds the quadratic scan, so the
    // pair join must be an equi-join on cluster, never a cartesian
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semdedup pair search is not cluster-blocked:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no hash/merge equi-join in semdedup plan:\n$plan")
  }

  test("kmeans assignment is a shuffle-free fused-argmin projection at any k") {
    // k self-sizes as n/64 (Similarity.clustersForCount); the fused
    // ArgMinQDist expression carries the centroid matrix in the plan's
    // reference array, so assignment at ANY k is scan → project: no
    // join, no exchange, no n×k intermediate (the r8 fix — the old
    // broadcast-argmin crossJoin materialized 18.8M rows at sf1's k=313)
    val df = Similarity.kmeansAssignForcedK(spark, sf, 32)
    val plan = physicalPlan(df)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"fused assignment must not join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"fused assignment must not shuffle:\n$plan")
    assert(plan.contains("graft_argmin_qdist"),
      s"fused argmin expression missing:\n$plan")
    // self-check the rule that chooses the path
    assert(Similarity.clustersForCount(500) == 8)    // sf0.01: literal path
    assert(Similarity.clustersForCount(2000) == 32)  // sf0.1: broadcast path
    assert(Similarity.clustersForCount(20000) == 313)
    assert(Similarity.clustersForCount(100000000L) == 4096) // driver-state cap
  }

  test("hybrid_rrf fuses two broadcast legs — no cartesian, no global sort") {
    val plan = physicalPlan(graft.operators.Retrieval.hybridRrf(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"hybrid fusion went cartesian:\n$plan")
    // vector leg: broadcast query batch (non-equi self-pair filter);
    // lexical leg + fusion: equi joins
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"no broadcast leg in hybrid plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"),
      s"no equi join in hybrid plan:\n$plan")
  }

  test("minhash_recall: hit join is an equi join; only 1-row frames cross") {
    val plan = physicalPlan(graft.operators.Dedup.minhashRecall(spark, sf))
    // the pair-universe joins (truth inverted index, hit intersection)
    // must stay equi; the ONLY nested-loop joins allowed are the crosses
    // of the three 1-row count aggregates (IdentityBroadcastMode)
    assert(!plan.contains("CartesianProduct"), s"unplanned cartesian:\n$plan")
    // the truth side must be df-capped BEFORE the self-join (round-7
    // verdict: the uncapped Σdf² term was the suite's one scale-killer);
    // the checkpoint truncates it out of the joined plan, so audit the
    // pre-checkpoint subtree: a window count over shingle + a filter on it
    val capped = physicalPlan(
      graft.operators.Dedup.recallCappedShingles(spark, sf))
    assert(capped.contains("Window"),
      s"truth-side df window count missing:\n$capped")
    assert(capped.contains(s"<= ${graft.operators.Dedup.recallTruthMaxDf}"),
      s"truth-side df cap (<= ${graft.operators.Dedup.recallTruthMaxDf}) " +
        s"missing from plan:\n$capped")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"hit intersection is not an equi join:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"nested-loop joins beyond the two 1-row crosses:\n$plan")
  }

  test("key_skew_profile: one key shuffle, stats broadcast, top-k not a global sort") {
    val df = graft.operators.Relational.keySkewProfile(spark, sf)
    val plan = physicalPlan(df)
    // the per-key aggregate must partial+final combine (map-side) and the
    // 1-row stats frame must broadcast back onto the top-k
    assert(plan.contains("HashAggregate"), s"no hash aggregate on the key:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"global stats not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("heavy hitters aggregate partial+final with bounded per-group state") {
    val plan = physicalPlan(graft.operators.Sketches.heavyHitters(spark, sf))
    // the Space-Saving udaf runs as an object aggregate (complex buffer);
    // partial (map-side) + final after the shuffle is what bounds the
    // exchange at `capacity` slots per group
    val objAggs = "ObjectHashAggregate".r.findAllIn(plan).length +
      "SortAggregate".r.findAllIn(plan).length
    assert(objAggs >= 2, s"expected partial+final sketch aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("boilerplate_lines is one df aggregate + top-k, no global sort") {
    val plan = physicalPlan(graft.operators.Dedup.boilerplateLines(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash df aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("table_stats: ONE lineitem scan, digest over the distinct-value frame") {
    val plan = physicalPlan(graft.operators.Sketches.tableStats(spark, sf))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    // r15 shape: rows/nulls/NDV/registers AND per-column bounds all fold
    // into one aggregation tree over the (col_name, v, cnt) distinct-value
    // collapse — the former separate 1-row bounds scan + broadcast join
    // are gone, and md5 runs once per DISTINCT value, after the first
    // (col_name, v) hash aggregate
    assert(scans == 1,
      s"expected ONE stacked scan (bounds fold into the same tree), got $scans:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"the (col_name, v) distinct collapse must be a hash aggregate:\n$plan")
    // md5 must sit ABOVE the distinct collapse, not on the row stream:
    // the scan side of the plan (below the first aggregate) carries no md5
    val belowFirstAgg = plan.substring(plan.lastIndexOf("HashAggregate"))
    assert(!belowFirstAgg.contains("md5(")
      && !belowFirstAgg.contains("graft_hll_pack("),
      s"digest must run on distinct values, not per row occurrence:\n$plan")
    // and the digest IS the packed-bytes form somewhere above it
    assert(plan.contains("graft_hll_pack("),
      s"md5-mode registers must derive through the packed bytes form:\n$plan")
    // r16 (verdict Next #3): the string bounds run through the typed-
    // imperative graft_str_bounds (ObjectHashAggregate) and the timestamp
    // bounds through typed min/max — NOTHING in this plan may sort, and
    // no SortAggregate may appear (the r15 plan sorted the whole
    // NDV-sized distinct frame twice for the string min/max buffers)
    assert(!plan.contains("SortAggregate"),
      s"string bounds fell back to sort-based aggregation:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected graft_str_bounds to plan as ObjectHashAggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dsir_logratio token frame buckets via graft_md5_byte0, no hex md5") {
    // the committed after-plan cannot audit this (the bucket projection
    // sits below a checkpoint — round-15 advice): pin the PRE-checkpoint
    // frame directly, like the table_stats packed-digest audit
    val plan = physicalPlan(graft.operators.Curation.dsirTokenFrame(spark, sf))
    assert(plan.contains("graft_md5_byte0("),
      s"DSIR bucket must derive from the digest byte:\n$plan")
    // "graft_md5_byte0(" does not contain the substring "md5(" — a hit
    // means the hex-rendering chain crept back
    assert(!plan.contains("md5("),
      s"hex-rendering md5 chain crept back into the token frame:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("mix_epochs is a single documents scan + tiny-window projection") {
    val plan = physicalPlan(graft.operators.Curation.mixEpochs(spark, sf))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("label_similarity: corpus pays one partial-agg centroid pass; pair matrix broadcast") {
    val plan = physicalPlan(Similarity.labelSimilarity(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"centroid pass not partial-aggregated:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny centroid frames must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("vocab_overlap: token equi self-join on the distinct vocab frame, sizes broadcast") {
    val plan = physicalPlan(graft.operators.Curation.vocabOverlap(spark, sf))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"vocabulary intersection is not an equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-source sizes not broadcast:\n$plan")
  }

  test("train_split is a shuffle-free scan projection — zero exchanges") {
    val plan = physicalPlan(graft.operators.Curation.trainSplit(spark, sf))
    assert(!plan.contains("Exchange"),
      s"hash-of-id split assignment must not shuffle:\n$plan")
  }

  test("neardup_incremental: candidates come from a cross-side band equi join — no all-pairs") {
    val plan = physicalPlan(graft.operators.Dedup.neardupIncremental(spark, sf))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"snapshot×batch candidate generation is not an equi join:\n$plan")
  }

  test("line_scrub joins the df-filtered boilerplate set back as a broadcast equi join") {
    val plan = physicalPlan(graft.operators.Dedup.lineScrub(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate set not broadcast onto the exploded lines:\n$plan")
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"line join is not an equi join:\n$plan")
  }

  test("weighted_sample partial-aggregates map-side and prunes the scan to three columns") {
    val plan = physicalPlan(graft.operators.Curation.weightedSample(spark, sf))
    // the udaf must combine before the exchange: a partial ObjectHashAggregate
    // below the shuffle is what bounds it at 2k entries per (partition, source)
    assert(plan.contains("ObjectHashAggregate") && plan.contains("functions=[partial_"),
      s"no map-side partial top-k:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"text not pruned from the scan:\n$plan")
  }

  test("corpus_diff shuffles fingerprints, not text, into one full-outer join") {
    val plan = physicalPlan(graft.operators.Curation.corpusDiff(spark, sf))
    assert(plan.contains("FullOuter"), s"no full-outer join:\n$plan")
    // md5 must be computed below the exchange: no Exchange row carries `text`
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"), s"text crosses an exchange:\n$exchanges")
  }

  test("build_postings partial-aggregates per (term, block) before its exchange") {
    val plan = physicalPlan(graft.operators.Retrieval.buildPostings(spark, sf))
    assert(plan.contains("partial_collect_list") || plan.contains("partial_sort_array")
      || plan.contains("ObjectHashAggregate"),
      s"no partial aggregate for the posting build:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("link_pagerank: every round is an equi join + hash aggregate, never nested-loop") {
    val plan = physicalPlan(graft.operators.Graph.linkPagerank(spark, sf))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"a PageRank round degenerated to all-pairs:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate per round:\n$plan")
  }

  test("link_pagerank: rounds never rescan the base tables; edge exchanges stay round-bounded") {
    // audit what actually RAN: the final adaptive plan (executedPlan
    // after collect; split off the "Initial Plan" section AQE appends)
    val df = graft.operators.Graph.linkPagerank(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"))
    val plan = full.split("== Initial Plan ==")(0)
    // the checkpoint is the ONLY materialization of the base join — the
    // iterated plan reads no parquet at all
    assert(!plan.contains("FileScan"),
      s"a round re-scanned the base tables:\n$plan")
    // the edge set crosses at most one exchange (or broadcast) per
    // round — the Pregel bound; more means a round re-shuffles the big
    // side redundantly
    val srcExchanges = "Exchange hashpartitioning\\(src".r
      .findAllMatchIn(plan).length
    assert(srcExchanges <= graft.operators.Graph.prRounds,
      s"$srcExchanges adjacency exchanges for ${graft.operators.Graph.prRounds} rounds:\n$plan")
  }
}
