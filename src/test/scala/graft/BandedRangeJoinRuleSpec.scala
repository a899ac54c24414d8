package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule: a keyless range join written as a BARE
  * inequality join (no operator API involved) must plan as a band
  * equi-join when `spark.graft.rangeJoin.bandWidth` is set, produce
  * exactly the nested-loop plan's rows, and leave every other join shape
  * untouched.
  */
class BandedRangeJoinRuleSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark
  private val confKey = "spark.graft.rangeJoin.bandWidth"

  private def points = {
    import spark.implicits._
    (0L until 200L).map(i => (i, i * 7 % 500)).toDF("pid", "v")
  }
  private def ranges = {
    import spark.implicits._
    (0L until 100L).map(i => (1000L + i, i * 11 % 480, i * 11 % 480 + 40)).toDF("rid", "s", "e")
  }

  private def rangeJoin = points.join(ranges,
    col("s") <= col("v") && col("v") < col("e"))

  test("bare inequality join rewrites to a band equi-join with identical rows") {
    val naive = rangeJoin.select("pid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    SparkTestSession.withConf(confKey -> "40") {
      val df = rangeJoin
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rule did not remove the nested loop:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"), s"no band equi-join:\n$plan")
      val banded = df.select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(banded === naive)
      assert(banded.nonEmpty)
      // the band columns are plumbing, not output
      assert(!df.columns.exists(_.contains("graft")), df.columns.mkString(","))
    }
  }

  test("auto-width from table_stats flips the plan and keeps rows identical") {
    val sf = "/root/testdata/sf0.001"
    val naive = rangeJoin.select("pid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val stats = graft.operators.Sketches.tableStats(spark, sf)
      .localCheckpoint() // two autoBandWidth reads below
    SparkTestSession.withConf() {
      // derived from the REAL nightly-ANALYZE output: ~64 distinct
      // l_suppkey values per band
      val w = graft.operators.RangeJoin.autoBandWidth(spark, stats, "l_suppkey")
      assert(w > 0)
      assert(spark.conf.get(confKey) === w.toString,
        "auto width must land in the conf the rule reads")
      val df = rangeJoin
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"auto width did not flip the plan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"), s"no band equi-join:\n$plan")
      val banded = df.select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(banded === naive)
      assert(banded.nonEmpty)
    }
    // a manually-set conf is the override: auto must return it untouched
    SparkTestSession.withConf(confKey -> "40") {
      val w2 = graft.operators.RangeJoin.autoBandWidth(spark, stats, "l_suppkey")
      assert(w2 === 40L, "manual conf must win over the derived width")
      assert(spark.conf.get(confKey) === "40")
    }
    // an explicit 0 is the documented DISABLE — auto must not overwrite
    // it (that would silently re-enable the rewrite session-wide)
    SparkTestSession.withConf(confKey -> "0") {
      val w3 = graft.operators.RangeJoin.autoBandWidth(spark, stats, "l_suppkey")
      assert(w3 === 0L, "explicit disable must survive autoBandWidth")
      assert(spark.conf.get(confKey) === "0")
    }
  }

  test("unset conf leaves the nested-loop plan untouched") {
    val plan = rangeJoin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"baseline should be a nested loop:\n$plan")
  }

  test("equi joins and outer range joins are not rewritten") {
    SparkTestSession.withConf(confKey -> "40") {
      // equi+range: Catalyst already keys on the equi conjunct
      val equi = points.join(ranges,
        col("pid") % 100 === col("rid") % 100 && col("s") <= col("v") && col("v") < col("e"))
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft"),
        "equi join must not be banded")
      // left_outer: out of the rule's scope (operator API covers it)
      val outer = points.join(ranges,
        col("s") <= col("v") && col("v") < col("e"), "left_outer")
      assert(!outer.queryExecution.optimizedPlan.toString.contains("__graft"),
        "outer join must not be banded")
    }
  }

  test("inverted ranges are no-match rows, not a sequence crash") {
    import spark.implicits._
    val p = Seq((1L, 5L)).toDF("pid", "v")
    val r = Seq((10L, 0L, 10L), (11L, 20L, 3L)).toDF("rid", "s", "e") // 11 inverted
    SparkTestSession.withConf(confKey -> "4") {
      val out = p.join(r, col("s") <= col("v") && col("v") < col("e"))
        .select("pid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(out.toSeq === Seq((1L, 10L)))
    }
  }

  test("SQL-surface joins get the same rewrite") {
    points.createOrReplaceTempView("graft_rr_points")
    ranges.createOrReplaceTempView("graft_rr_ranges")
    try SparkTestSession.withConf(confKey -> "40") {
      val df = spark.sql(
        """SELECT pid, rid FROM graft_rr_points p JOIN graft_rr_ranges r
          |ON r.s <= p.v AND p.v < r.e""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"SQL join not banded:\n$plan")
      assert(df.count() > 0)
    } finally {
      spark.sql("DROP VIEW IF EXISTS graft_rr_points")
      spark.sql("DROP VIEW IF EXISTS graft_rr_ranges")
    }
  }
}
