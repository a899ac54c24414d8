package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One operation of a pass. `run` raises on failure; `check`, called
  * after the timer stops, returns false on a wrong output. `events` counts
  * the input events the operation carries (streaming triggers). */
final case class Op(name: String, kind: String, events: Long, run: Tracer => Unit,
    check: () => Boolean = () => true)

/** A benchmark workload: fixtures built once, then passes of operations
  * issued by one thread in a closed loop. */
trait Workload {
  /** Builds fixtures and returns workload metrics measured while doing so
    * (e.g. `build_s`). Counted in `setup_s`. */
  def setup(): Map[String, Double]

  /** The operations of pass `i` (pass -1 is the untimed warm-up), in an
    * order fixed by the run's seed. */
  def pass(i: Int): Seq[Op]

  /** Correctness checks that run once the timed loop is over; returns one
    * message per failed check. */
  def check(): Seq[String]

  /** Names of operations whose outputs were found wrong; every timed run
    * of such an operation counts as failed. */
  def wrongOps: Set[String]

  /** Workload-specific counters (cumulative since set-up) and gauges, as
    * they stand now. */
  def snapshot(): Map[String, Double] = Map.empty

  /** Stops whatever the workload left running. */
  def close(): Unit = ()
}

object Workload {
  /** Shuffles `xs` with a generator seeded by (run seed, pass). */
  def seeded[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  def apply(name: String, spark: SparkSession, root: String, corpus: String, seed: Long,
      golden: Golden): Workload = name match {
    case "batch_queries"     => new Batch(spark, corpus, seed, golden, Batch.Adtech ++ Batch.Curation)
    case "index_lifecycle"   => new IndexLifecycle(spark, root, corpus, seed)
    case "stream_ingest"     => new StreamIngest(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

}
