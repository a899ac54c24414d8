package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IndexVersion
import graft.sources.Corpus

/** Session-pinned index frames with the per-trigger staleness check —
  * the serving loops' ONE refresh kernel ([[StreamAnnServe]],
  * [[StreamBm25Serve]], [[StreamHybridServe]]). A `DataFrame` carries
  * its resolved file index, so pinning the frames skips the per-trigger
  * directory re-listing (a metadata storm at production partition
  * counts); [[refreshIfStale]] stats TWO files per trigger (the
  * mutation-bumped [[IndexVersion]] stamp and the mutation-window
  * marker) and re-opens the frames only when something moved — an
  * append/delete/compact/retrain becomes visible at the next trigger
  * without restarting the query, and an unchanged index never pays a
  * re-listing. `onRefresh` runs BEFORE the re-open (the seam the IVF
  * loops use to re-check the retrain quiesce marker, so a refresh never
  * lands on a torn layout).
  *
  * TORN-SNAPSHOT GUARD: multi-table mutations write their tables
  * sequentially and bump the stamp only at the end, so a pin that
  * overlaps an in-flight mutation could open NEW postings with OLD
  * termstats and serve silently inconsistent scores. Every mutation now
  * brackets itself with [[IndexVersion.beginMutation]]/`endMutation`;
  * the pin path (a) WAITS while the marker stands or the index path is
  * briefly absent (a rebucket's whole-tree swap removes it between two
  * renames), up to `spark.graft.serve.mutationWaitMs` (default 30 s —
  * mutations at serving granularity are rename- or rewrite-speed;
  * anything longer is a crashed mutation that must be REPLAYED, and the
  * pin refuses loudly with that instruction rather than serving torn
  * tables), and (b) VALIDATES after listing that neither the marker nor
  * the stamp moved while it listed — a mutation racing the open forces
  * a bounded re-pin instead of a mixed snapshot.
  *
  * Single-threaded by design: foreachBatch callbacks run sequentially
  * on the stream execution thread, the only caller. */
private[graft] final class PinnedIndex(
    s: SparkSession, indexDir: String, tables: Seq[String],
    onRefresh: () => Unit = () => ()) {

  private def waitMs: Long =
    s.conf.getOption("spark.graft.serve.mutationWaitMs")
      .map(_.toLong).getOrElse(30000L)

  /** Block until the index is consistent to open: path present and no
    * mutation marker standing. The deadline cannot DISTINGUISH a
    * long-running healthy mutation from a crashed one — it bounds how
    * long a trigger stalls either way, and refusing loudly beats
    * serving a torn snapshot. Appends/deletes/compactions at serving
    * granularity finish well inside the default; a production-scale
    * retrain/resize holds the marker for its whole migration, so
    * schedule those off-peak or raise the conf for sessions that should
    * ride them out (the error says both). */
  private def awaitConsistent(): Unit = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (IndexVersion.mutationInProgress(indexDir) ||
        !graft.operators.IndexFs.isDirectory(indexDir)) {
      require(System.nanoTime() < deadline,
        s"$indexDir still mid-mutation (or its path absent) after " +
          s"$waitMs ms — pinning now could mix table versions. If a " +
          "long maintenance pass (retrain/resize) is RUNNING, raise " +
          "spark.graft.serve.mutationWaitMs or schedule it off-peak; " +
          "if nothing is running, a mutation CRASHED — replay it to " +
          "completion")
      Thread.sleep(50L)
    }
  }

  /** One consistent (stamp, frames) snapshot, validated against racing
    * mutations. The open itself can race a whole-tree swap's park
    * window (the path vanishes between two renames, with no marker up),
    * so a failed listing retries through the same wait instead of
    * killing the stream. */
  private def pin(runHook: Boolean): (String, Map[String, DataFrame]) = {
    var attempts = 0
    while (attempts < 100) {
      awaitConsistent()
      val cur = IndexVersion.stamp(indexDir)
      if (runHook) onRefresh()
      val fresh =
        try Some(tables.map(t => t -> Corpus.read(s, s"$indexDir/$t")).toMap)
        catch {
          case _: org.apache.spark.sql.AnalysisException => None // mid-swap
        }
      fresh match {
        case Some(fr)
          if !IndexVersion.mutationInProgress(indexDir) &&
            IndexVersion.stamp(indexDir) == cur =>
          return (cur, fr)
        case _ =>
          Thread.sleep(50L)
          attempts += 1
      }
    }
    throw new IllegalStateException(
      s"$indexDir: mutations outpaced 100 pin attempts")
  }

  private var (stamp, frames) = pin(runHook = false)

  /** The pinned frame for `table`. */
  def apply(table: String): DataFrame = frames(table)

  /** Per-trigger staleness check: two file stats on the fast path;
    * re-pin (waiting out any mutation window) on change. */
  def refreshIfStale(): Unit =
    if (IndexVersion.mutationInProgress(indexDir) ||
        IndexVersion.stamp(indexDir) != stamp) {
      val (st, fr) = pin(runHook = true)
      stamp = st
      frames = fr
    }
}
