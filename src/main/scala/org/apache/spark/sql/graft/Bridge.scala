package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so this one-file shim
  * lives under the `org.apache.spark.sql` package to re-export them for
  * graft's native Catalyst expressions. No Spark internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Deterministic drain of the async listener bus — lets tests read
    * listener-side counters without a racy sleep. `listenerBus` is
    * `private[spark]`, which this package can reach. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Snapshot of the calling thread's Spark local properties (job group,
    * job description, scheduler pool) — `private[spark]`, reachable from
    * this package. [[graft.Overlap]] copies them onto its dedicated
    * worker threads so jobs submitted there stay inside the caller's job
    * group (a harness that cancels by group can cancel them — round-15
    * advice, low). */
  def cloneLocalProperties(
      sc: org.apache.spark.SparkContext): java.util.Properties = {
    val p = sc.getLocalProperties
    if (p == null) new java.util.Properties
    else p.clone().asInstanceOf[java.util.Properties]
  }

  /** Install a properties snapshot on THIS thread (worker-side half). */
  def installLocalProperties(
      sc: org.apache.spark.SparkContext, p: java.util.Properties): Unit =
    sc.setLocalProperties(p)

  /** Frees what a `graftCheckpoint()`ed frame holds: the storage blocks
    * of a local checkpoint and, in reliable mode, its `rdd-*` files in
    * the checkpoint dir. `Dataset.unpersist` only talks to the
    * CacheManager, which knows nothing about checkpoint RDDs — their
    * blocks otherwise live until the ContextCleaner GCs the RDD
    * reference, and reliable files (`cleanCheckpoints` is off by
    * default) would pile up one set per checkpointed round. The files
    * are deleted through Hadoop, not `IndexFs`, because a checkpoint dir
    * may sit on an object store, which `IndexFs` refuses. No-op on
    * non-checkpoint plans. */
  def releaseCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(lr.rdd.context.hadoopConfiguration).delete(p, true)
        }
      case _ => ()
    }
}
