package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** Order-independent digests of query outputs, checked against values
  * recorded from a run whose outputs `tools/check.py` confirmed against the
  * DuckDB oracle. With `record` set, digests are collected instead. */
final class Golden(expected: Map[String, String], val record: Boolean) {
  val seen = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, df: DataFrame): Boolean = {
    val d = Golden.digest(df)
    seen(name) = d
    record || expected.get(name).contains(d)
  }
}

object Golden {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }

  /** Row count and the sum (mod 2^64) of a 64-bit hash of each row, with
    * columns taken in name order — equal for equal multisets of rows. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    var sum = 0L
    rows.foreach { r =>
      val s = cols.map(i => canon(r.get(i))).mkString("|")
      val h = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
      val l = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      sum += (h.toLong << 32) ^ (l.toLong & 0xffffffffL)
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}

/** The batch workload: each pass runs every listed `SparkEntry` query once,
  * in seeded order, each through a noop-sink write — the full evaluation a
  * consumer pays, with no driver collect. The untimed warm-up pass
  * collects each output instead and checks its digest. */
final class Batch(spark: SparkSession, dir: String, seed: Long, golden: Golden,
    queries: Seq[String]) extends Workload {

  private val fns = queries.map(q => q -> SparkEntry.queries.getOrElse(q,
    throw new IllegalArgumentException(s"no SparkEntry query $q")))
  private val wrong = mutable.Set.empty[String]

  def setup(): Map[String, Double] = Map.empty

  def pass(i: Int): Seq[Op] =
    if (i < 0) fns.map { case (q, fn) =>
      Op(q, "query", 0, _ => if (!golden.check(q, fn(spark, dir))) wrong += q)
    }
    else Workload.seeded(fns, seed, i).map { case (q, fn) =>
      Op(q, "query", 0, t => {
        val df = t.span("construct")(fn(spark, dir))
        if (t ne NoTrace) t.span("plan")(df.queryExecution.executedPlan)
        t.span("execute")(df.write.format("noop").mode("overwrite").save())
      })
    }

  def check(): Seq[String] = wrong.toSeq.sorted.map(q => s"$q: output digest differs from golden")
  def wrongOps: Set[String] = wrong.toSet
}

object Batch {
  /** The paper's core batch surface — windowed CTR, enrichment, interval and
    * range joins, a TPC-H join — whose operators take no `graftCheckpoint`:
    * parquet scan, shuffle, join and window work. */
  val Adtech = Seq("ctr_fixed_window", "ctr_session_window", "broadcast_enrich_latest",
    "interval_join_latest", "range_join_banded", "q5_nation_revenue")

  /** The LLM-data family: `Materialize` checkpoints and driver probe
    * round-trips (minhash_lsh_pairs, entity_resolution, bigram_logprob) and
    * `graft.functions` kernels under the session-wide ObjectHashAggregate
    * threshold (table_stats). */
  val Curation = Seq("table_stats", "bigram_logprob", "entity_resolution", "minhash_lsh_pairs")

  /** Per-pass seconds of each query family (median over passes). */
  def families(timed: Seq[(String, Int, Double)]): Map[String, Double] =
    Seq("adtech_s" -> Adtech, "curation_s" -> Curation).map { case (k, qs) =>
      val perPass = timed.filter(t => qs.contains(t._1)).groupBy(_._2).values.map(_.map(_._3).sum).toSeq
      k -> Main.median(perPass)
    }.toMap
}
