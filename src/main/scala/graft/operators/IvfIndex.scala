package graft.operators

import graft.Materialize.MaterializeOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Corpus

/** Persisted IVF index: build once, query many — the piece [[Similarity]]'s
  * inline `ann_ivf` deliberately leaves out (its one-shot query re-derives
  * cells every run, the right shape for an oracle but not for production).
  *
  * At 100 TB the coarse quantizer is built ONCE, the corpus is written
  * clustered by cell, and every subsequent query batch reads only its
  * probed cells. Both halves map to first-class Spark machinery:
  *
  *  - `build` writes `members/` **partitioned by cell** (plus a k-row
  *    `centroids/` table). The cell is a DIRECTORY, not a column value —
  *    the listing itself is the inverted index.
  *  - `query` joins the members table to a broadcast probe list on the
  *    partition column, so Spark's dynamic partition pruning derives the
  *    probed-cell set at runtime and skips every other cell's files
  *    entirely (plan-asserted: `dynamicpruning` on the members scan).
  *    I/O per batch is `nProbe/nCells` of the corpus — same candidate-set
  *    arithmetic as the inline operator, now enforced by the layout.
  *
  * Semantics are pinned to the inline operator: same deterministic
  * first-k centroids, same (score, cid) argmax assignment, same probe
  * ordering and top-k epilogue — `IvfIndexSpec` asserts indexed results ==
  * `ann_ivf` row-for-row.
  */
object IvfIndex {

  private def vec(c: Column): Column = transform(c, x => x.cast("double"))
  private def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)
  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Build the index under `indexDir`: `centroids/` (cid, cv, cn) and
    * `members/` (vec_id, v, nrm) partitioned by `cell`. Centroids are the
    * first `nCells` corpus vectors (the deterministic sample quantizer the
    * inline operator uses; swap for k-means centroids via
    * [[Similarity.kmeansAssign]] when cluster quality matters more than
    * reproducibility). Returns (cells written, vectors indexed). */
  def build(
      s: SparkSession,
      corpusDir: String,
      indexDir: String,
      nCells: Int = 16): (Long, Long) =
    buildFrom(s, Corpus.embeddings(s, corpusDir), indexDir, nCells)

  /** [[build]] over an arbitrary (vec_id, embedding) frame — the seam the
    * incremental path uses to bootstrap from a corpus prefix.
    *
    * PQ codes are only meaningful when the vector dimension equals
    * [[Similarity.pqM]]·[[Similarity.pqSubDims]] (the codebook's subspace
    * slicing); a lower-dim build (e.g. a dim-16 serving index) would
    * slice past the array and every code would tie to cid 0. The build
    * detects the dimension (one bounded row) and records PQ validity as
    * a `_GRAFT_PQ_OK` marker — [[queryPq]] requires it (re-deriving it
    * once from the stored dimension for pre-marker indexes), so querying
    * a non-PQ-dim index fails loudly instead of returning ADC garbage;
    * [[query]] never reads codes and is unaffected. */
  def buildFrom(
      s: SparkSession,
      corpus: DataFrame,
      indexDir: String,
      nCells: Int = 16): (Long, Long) = {
    val e = corpus
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val pqDim = Similarity.pqM * Similarity.pqSubDims
    val dimOk = e.limit(1).select(size(col("v")).as("d")).collect()
      .headOption.forall(_.getInt(0) == pqDim)
    // sample rule: the nCells SMALLEST ids PRESENT in the input (a
    // TakeOrdered, one pass) — on a 0-based-prefix corpus this is exactly
    // `vec_id < nCells` (the inline operator's rule, so the shared
    // oracles are unaffected), and unlike the absolute-id form it stays
    // well-defined when a corpus's low ids have been deleted — the
    // precondition [[retrain]]'s fresh-build-equality contract needs
    val cents = denseCids(e.orderBy(col("vec_id").asc).limit(nCells)
      .select(col("vec_id"), col("v").as("cv"), col("nrm").as("cn")))
    // torn-window guard: centroids/codebook/members land sequentially.
    // "build" is the universal repair (full rewrite from its input), so
    // it also converges any crashed mutation: roll/clear a crashed
    // retrain's staging first — a committed stale staging left in place
    // would otherwise be swapped OVER the fresh build by the next
    // completeRetrainSwap (the replay-over-leftover-staging hazard)
    completeRetrainSwap(indexDir)
    IndexVersion.beginMutation(indexDir, "build")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    // PQ codebook, frozen at build exactly like the coarse quantizer:
    // the first pqK vectors' NORMALIZED directions (the deterministic
    // stand-in Similarity.annPq uses) — appends encode under this table
    val cb = e.orderBy(col("vec_id").asc).limit(Similarity.pqK)
      .select(col("vec_id").as("cid"),
        transform(col("v"), x => x / col("nrm")).as("cv"))
    cb.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    val bc = broadcast(Corpus.read(s, s"$indexDir/centroids"))
    val bcb = broadcast(Corpus.read(s, s"$indexDir/codebook"))
    val assigned = withCodes(assignCells(e, bc), bcb)
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/members")
    val marker = s"$indexDir/_GRAFT_PQ_OK"
    if (dimOk) IndexFs.createMarker(marker) else IndexFs.delete(marker)
    // healthy-reference fit for maintain's self-calibrating drift floor
    writeFitStats(s, indexDir)
    // build rewrote every table consistently — a crashed retrain's
    // quiesce marker (if any) no longer describes this index
    IndexFs.delete(s"$indexDir/_GRAFT_RETRAIN_INPROGRESS")
    IndexVersion.bump(indexDir)
    IndexVersion.endMutation(indexDir)
    val m = Corpus.read(s, s"$indexDir/members")
    (m.select(col("cell")).distinct().count(), m.count())
  }

  /** Attach the M PQ code ids to each member row under a broadcast
    * codebook — stored INSIDE the cell partition, so an ADC pass over
    * probed cells reads M small ints per vector (columnar pruning skips
    * the embedding entirely) while the exact re-rank finds the original
    * vector in the SAME partition. Assignment is
    * [[Similarity.annPq]]'s exact tree: per (vector, subspace) argmin of
    * the raw double subspace distance over the codebook, ties to the
    * smaller code id; codes land in subspace order. At production dims
    * the array would be BYTE codes — the 128x compression — long here to
    * keep the oracle join types trivial. Assumes pqM·pqSubDims-dim
    * vectors — callers gate with [[buildFrom]]'s `_GRAFT_PQ_OK` marker. */
  private def withCodes(members: DataFrame, cb: DataFrame): DataFrame = {
    val en = members.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("nv"))
    // the single-sourced distance + assignment trees
    // ([[Similarity.pqCells]]/[[Similarity.pqCodes]]) — bit-identity
    // with the inline operator and the oracle is what lets the indexed
    // path share their gate
    val codes = Similarity.pqCodes(Similarity.pqCells(en, "vec_id", cb), "vec_id")
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("cid")))),
        x => x("cid")).as("codes"))
    members.join(codes, Seq("vec_id"))
  }

  /** Delete emptied cell directories — dynamic overwrite cannot rewrite
    * a partition it has no rows for ([[PostingsIndex]]'s
    * purgeEmptyPartitions discipline at the cell layout; [[delete]]'s
    * path — [[retrain]] handles emptied cells via its swap manifest). */
  private def purgeEmptyCells(
      indexDir: String, touched: Set[Int], live: Set[Int]): Unit =
    (touched -- live).foreach { c =>
      IndexFs.deleteTree(s"$indexDir/members/cell=$c")
    }

  /** Re-key a (vec_id, cv, cn…) sample to DENSE centroid ids 0..k-1 in
    * ascending-vec_id order. The `cell` partition column is an int (the
    * partition-directory value reads back as IntegerType — the DPP
    * contract), and with the smallest-ids-PRESENT sample rule a raw
    * vec_id cid could exceed Int.MaxValue after heavy retention deletion
    * on a >2³¹-vector corpus — the cast would throw under ANSI. The
    * renumbering is MONOTONE in vec_id, so every tie rule that compared
    * cids (assignment argmax → larger cid; probe order → smaller cid)
    * picks the same winner as the oracle's vec_id-keyed form. */
  private def denseCids(sample: DataFrame): DataFrame = {
    val w = Window.orderBy(col("vec_id").asc) // ≤ nCells rows by contract
    sample.withColumn("cid", (row_number().over(w) - 1).cast("long"))
      .drop("vec_id")
      .select(col("cid") +: sample.columns.filter(_ != "vec_id").map(col): _*)
  }

  /** Cell assignment under a broadcast centroid table — shared by the
    * full build and the append path so an appended vector lands in
    * EXACTLY the cell a from-scratch build would give it (the frozen
    * coarse quantizer is what makes IVF appends cheap: no re-clustering,
    * no re-assignment of existing members). */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cscore"))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        max(struct(col("cscore"), col("cid"))).as("b"))
      // int cell: the partition-directory value reads back as an inferred
      // IntegerType column; writing int keeps the probe join cast-free so
      // dynamic partition pruning sees a bare partition-column key
      .select(col("vec_id"), col("v"), col("nrm"), col("b.cid").cast("int").as("cell"))

  /** Append a (vec_id, embedding) batch to an existing index, rewriting
    * ONLY the touched cell partitions: the batch is assigned under the
    * frozen quantizer, deduped against the index with snapshot ≻ batch
    * precedence (an id already indexed keeps its original row —
    * [[Dedup.dedupIncremental]]'s replay-stable discipline, so re-running
    * a failed append is safe), merged with ONLY the touched cells'
    * current members (a statically pruned partition-column scan), and
    * written back under dynamic partition overwrite — untouched cell
    * directories are never read, never rewritten. At 100 TB an ingest
    * increment touches a handful of cells; the other thousands of
    * partitions don't even get listed. Returns (cells touched, vectors
    * appended). */
  def append(s: SparkSession, indexDir: String, batch: DataFrame): (Long, Long) = {
    val cents = broadcast(Corpus.read(s, s"$indexDir/centroids"))
    val cb = broadcast(Corpus.read(s, s"$indexDir/codebook"))
    // within-batch dedup FIRST: an at-least-once ingest can deliver the
    // same vec_id twice in one increment, and the index-side anti-join
    // below would admit both copies permanently. Duplicate deliveries
    // carry identical payloads, so any-row-wins is sound; conflicting
    // payloads under one id are corrupt input either way.
    val e0 = batch
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .dropDuplicates("vec_id")
      .withColumn("nrm", norm(col("v")))
    // tombstone guard: a retried ingest of an old batch must not
    // resurrect a deleted id ([[delete]]'s contract) — the id-based
    // snapshot precedence below can no longer see the removed row
    val tombDir = s"$indexDir/deleted"
    val e =
      if (IndexFs.isDirectory(tombDir))
        e0.join(Corpus.read(s, tombDir), Seq("vec_id"), "left_anti")
      else e0
    // frozen quantizer AND frozen codebook: an appended vector gets the
    // cell and the codes a from-scratch build would give it
    val assigned = withCodes(assignCells(e, cents), cb)
      .graftCheckpoint() // two consumers (touched-cell list + merge)
    val touched = assigned.select(col("cell")).distinct()
      .collect().map(_.getInt(0)) // bounded by nCells
    val current = Corpus.read(s, s"$indexDir/members")
      .where(col("cell").isin(touched.map(Integer.valueOf): _*))
    val fresh = assigned
      .join(current.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val merged = current
      .select(col("vec_id"), col("v"), col("nrm"), col("codes"), col("cell"))
      .unionByName(fresh)
      // EAGER: the merge reads the very files the overwrite below
      // replaces — materialize before touching them
      .graftCheckpoint()
    val appended = merged.count() - current.count()
    // torn-window guard: the overwrite deletes files a pinned frame may
    // still reference mid-rewrite
    IndexVersion.beginMutation(indexDir, "append")
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$indexDir/members")
    Seq(assigned, merged)
      .foreach(org.apache.spark.sql.graft.Bridge.releaseCheckpoint)
    IndexVersion.bump(indexDir) // refresh signal for serving sessions
    IndexVersion.endMutation(indexDir)
    (touched.length.toLong, appended)
  }

  /** Oracle-gated query entry (`ann_ivf_indexed`): build-once/query-many
    * against the inline operator's constants and query batch, sharing
    * `ann_ivf`'s DuckDB oracle — bucketedJoinRevenue's amortization
    * discipline applied to the ANN index (the build is the pre-paid pass;
    * re-paying it every call would misstate steady-state query cost).
    * Done-ness is the index's _SUCCESS marker under a path keyed by the
    * corpus dir AND the embeddings table's leaf-file fingerprint, so a
    * driver-regenerated corpus can never serve a stale index. */
  def annIvfIndexed(s: SparkSession, dir: String): DataFrame =
    query(s, ensureLifecycleIndex(s, dir), queryBatch(s, dir), nProbe = 2, k = 5)

  /** Oracle-gated composed-index entry (`ann_ivfpq`): the SAME persisted
    * index — PQ codes live inside the cell partitions — queried through
    * [[queryPq]]: ADC over the probed cells' code columns selects the
    * candidates, the exact re-rank restores true cosine order. Shares
    * `Similarity.annIvfPqSql`'s oracle: the index layout is bit-equal to
    * the inline operator's cells/codes (frozen quantizer + frozen
    * codebook through the bootstrap-append lifecycle), and the re-rank
    * makes the returned top-k a pure function of the deterministic
    * candidate set. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    queryPq(s, ensureLifecycleIndex(s, dir), queryBatch(s, dir),
      nProbe = 2, k = 5, nCand = Similarity.pqCandidates)

  /** The shared benchmark query batch: the first 10 corpus vectors. */
  private[graft] def queryBatch(s: SparkSession, dir: String): DataFrame =
    Corpus.embeddings(s, dir).where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Build-once/query-many done-ness for the oracle entries, shared by
    * the plain-IVF and the IVF+PQ query paths (ONE index serves both —
    * the codes column is just more index payload). The index is
    * exercised through its FULL lifecycle: bootstrap from a corpus
    * prefix (which contains the first-nCells quantizer vectors AND the
    * first-pqK codebook vectors, so both frozen tables are identical to
    * an all-at-once build), then APPEND the rest as an ingest increment
    * rewriting only touched cells. The final layout is bit-equal to a
    * one-shot build — which is why the inline oracles still gate the
    * results. Done-ness is a marker under a path keyed by the corpus dir
    * AND the embeddings table's leaf-file fingerprint, so a
    * driver-regenerated corpus can never serve a stale index; the marker
    * is separate from the members _SUCCESS (which the bootstrap write
    * alone would create): a run that dies between bootstrap and append
    * re-runs BOTH — append's snapshot-precedence dedup makes the replay
    * a no-op for rows that already landed. */
  /** Gate opt-out predicate for `ann_ivf_deleted`: every 9th vector. */
  private[graft] val deleteEvery = 9L

  /** Oracle-gated `ann_ivf_deleted`: build over the full corpus, DELETE
    * every [[deleteEvery]]-th vector, query the standing index — which
    * must equal the inline IVF plan scored over the surviving member
    * set (the oracle filters members only: the frozen quantizer,
    * survivor assignments, and the query batch are deletion-invariant,
    * exactly the index's semantics). Cached per corpus fingerprint like
    * the lifecycle index (deletion is deterministic). */
  def annIvfDeleted(s: SparkSession, dir: String): DataFrame = {
    val tag = (dir.hashCode.toLong * 31 +
      Corpus.fingerprint(s"$dir/embeddings.parquet")) & 0x7fffffffffffffffL
    val idx = s"/tmp/graft_ivfdel_${java.lang.Long.toHexString(tag)}"
    if (!IndexFs.exists(s"$idx/_GRAFT_DELETED")) {
      val e = Corpus.embeddings(s, dir)
      buildFrom(s, e, idx, nCells = 16)
      delete(s, idx,
        e.where(pmod(col("vec_id"), lit(deleteEvery)) === 0)
          .select(col("vec_id")))
      IndexFs.createMarker(s"$idx/_GRAFT_DELETED")
    }
    query(s, idx, queryBatch(s, dir), nProbe = 2, k = 5)
  }

  /** Oracle-gated `ann_ivf_resized`: the cell-count adaptation leg
    * proven end-to-end. The index is built deliberately UNDER-PARTITIONED
    * (nCells = 4 — the pinned-count failure mode: every probed cell is a
    * quarter of the corpus); [[maintain]] detects the out-of-band count
    * against [[targetCells]] (⌈√n⌉ > 4×4 at every gate SF) and resizes
    * via a [[retrain]] at the target. With `lloydRounds = 0` the resize
    * uses the deterministic sample rule, so the resized index is
    * BIT-EQUAL to a fresh build at ⌈√n⌉ cells — which is what lets one
    * static SQL oracle ([[Similarity.annIvfResizedSql]]: the inline IVF
    * chain with the cell count as a scalar subquery over the corpus)
    * gate the result at any scale factor. Probed-cell rows per query
    * drop from nProbe·n/4 to nProbe·n/⌈√n⌉ ≈ nProbe·√n — the √n growth
    * law restored (sf0.1: 1000 → 89 rows/query). Cached per corpus
    * fingerprint like the other lifecycle entries (the whole chain is
    * deterministic). */
  def annIvfResized(s: SparkSession, dir: String): DataFrame = {
    val tag = (dir.hashCode.toLong * 31 +
      Corpus.fingerprint(s"$dir/embeddings.parquet")) & 0x7fffffffffffffffL
    val idx = s"/tmp/graft_ivfrsz_${java.lang.Long.toHexString(tag)}"
    if (!IndexFs.exists(s"$idx/_GRAFT_RESIZED")) {
      buildFrom(s, Corpus.embeddings(s, dir), idx, nCells = 4)
      val actions = maintain(s, idx, lloydRounds = 0)
      require(actions.exists(_.startsWith("resize:")),
        s"an under-partitioned build must be resized by maintain: $actions")
      IndexFs.createMarker(s"$idx/_GRAFT_RESIZED")
    }
    query(s, idx, queryBatch(s, dir), nProbe = 2, k = 5)
  }

  private[graft] def ensureLifecycleIndex(s: SparkSession, dir: String): String = {
    val tag = (dir.hashCode.toLong * 31 +
      Corpus.fingerprint(s"$dir/embeddings.parquet")) & 0x7fffffffffffffffL
    // v2: layout gained the _GRAFT_PQ_OK marker — a pre-marker cached
    // index must not serve queryPq (done-marker discipline: any layout
    // change bumps the cache path)
    val idx = s"/tmp/graft_ivf2_${java.lang.Long.toHexString(tag)}"
    // memo BESIDE the tree ([[PostingsIndex.ensureLifecycleIndex]]'s
    // lesson): retrain's swap is per-cell (an in-tree memo survives it
    // today), but keeping the memo outside the tree makes the fixture
    // robust to ANY re-layout op regardless of swap scope
    val done = s"$idx.appended"
    if (!IndexFs.exists(done) && IndexFs.exists(s"$idx/_GRAFT_APPENDED"))
      IndexFs.createMarker(done)
    // memo AND tree — a surviving memo over a cleaned tree must rebuild
    if (!IndexFs.exists(done) || !IndexFs.isDirectory(s"$idx/members")) {
      val e = Corpus.embeddings(s, dir)
      val increment = col("vec_id") >= 16 && col("vec_id") % 4 === 3
      buildFrom(s, e.where(!increment), idx, nCells = 16)
      append(s, idx, e.where(increment))
      // false = a racing process stamped the deterministic build first
      IndexFs.createMarker(done)
    }
    idx
  }

  /** Delete a set of vec ids from the standing index — the opt-out /
    * takedown leg ([[graft.operators.PostingsIndex.delete]]'s discipline
    * pointed at the vector layout). A cell is NOT a function of the id
    * (assignment is the frozen-quantizer argmax), so the touched-cell
    * set comes from ONE column-pruned scan of (vec_id, cell): 8 bytes
    * per indexed vector — the embedding and codes columns are never
    * read for discovery (cell is the partition directory, free). Only
    * the touched cell partitions then rewrite under dynamic overwrite;
    * a fully-emptied cell's directory is purged explicitly (dynamic
    * overwrite cannot rewrite a partition it has no rows for).
    *
    * Deleted ids also land in a `deleted/` TOMBSTONE table (cumulative,
    * bounded by total deletions): [[append]]'s precedence is id-based
    * (snapshot ≻ batch), so without tombstones a RETRIED ingest of an
    * old batch would re-admit a just-deleted id — the resurrection the
    * postings index blocks with its watermark. Replaying the delete is
    * a no-op (both writes are pure functions of state − ids). Returns
    * (cells touched, vectors removed). */
  def delete(s: SparkSession, indexDir: String, ids: DataFrame): (Long, Long) = {
    val del = ids.select(col("vec_id")).distinct().graftCheckpoint()
    // tombstones first: if we crash mid-delete, a standing tombstone is
    // safe (append skips the id; the physical rows go on the retry).
    // APPEND-ONLY ([[PostingsIndex.delete]]'s discipline): a whole-set
    // rewrite would delete the standing files before the new job commits,
    // so a crash mid-write would erase every prior tombstone and let a
    // retried ingest resurrect long-deleted ids. Appending only the ids
    // not already present keeps prior takedowns physically untouched and
    // makes a replayed delete write nothing.
    val tombDir = s"$indexDir/deleted"
    val fresh =
      if (IndexFs.isDirectory(tombDir))
        del.join(Corpus.read(s, tombDir), Seq("vec_id"), "left_anti")
      else del
    if (fresh.limit(1).count() > 0)
      fresh.coalesce(1).write.mode("append").parquet(tombDir)
    val touched = Corpus.read(s, s"$indexDir/members")
      .select(col("vec_id"), col("cell"))
      .join(del, Seq("vec_id"))
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nCells
    val out = if (touched.isEmpty) (0L, 0L)
    else {
      val cells = touched.map(Integer.valueOf).toSeq
      val current = Corpus.read(s, s"$indexDir/members")
        .where(col("cell").isin(cells: _*))
      val kept = current.join(del, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("v"), col("nrm"), col("codes"), col("cell"))
        // EAGER: the overwrite replaces the files being read
        .graftCheckpoint()
      val removed = current.count() - kept.count()
      val live = kept.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      // torn-window guard: overwrite + empty-cell purge are two steps
      IndexVersion.beginMutation(indexDir, "delete")
      kept.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$indexDir/members")
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(kept)
      purgeEmptyCells(indexDir, touched.toSet, live)
      IndexVersion.bump(indexDir) // refresh signal for serving sessions
      IndexVersion.endMutation(indexDir)
      (touched.length.toLong, removed)
    }
    org.apache.spark.sql.graft.Bridge.releaseCheckpoint(del)
    out
  }

  /** Streaming takedown for the vector index — [[appendStream]]'s dual
    * ([[graft.operators.PostingsIndex.deleteStream]]'s composition):
    * each micro-batch of vec ids runs one [[delete]]. Retries re-delete
    * nothing (delete is a pure function of state − ids), and the
    * tombstones written per batch keep any LATER retried ingest from
    * resurrecting the ids, so appends and takedowns can interleave in
    * any order the checkpoints replay them. */
  def deleteStream(
      s: SparkSession,
      indexDir: String,
      ids: DataFrame,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        delete(s, indexDir, df.toDF())
        ()
      }
      .start()

  /** Streaming ingestion into the persisted index: each micro-batch of
    * (vec_id, embedding) rows runs one [[append]] under the frozen
    * quantizer — the `foreachBatch` at-least-once contract composes with
    * append's snapshot-precedence + within-batch dedup, so a RETRIED
    * micro-batch (the failure mode foreachBatch actually has) re-appends
    * nothing and the index converges to exactly the one-shot layout.
    * The stream's only state is the sink checkpoint; index growth is the
    * touched-cell rewrites, never a re-cluster. */
  /** `maintainEvery` — AUTO-SCHEDULED MAINTENANCE (0 = off): after every
    * N-th micro-batch's append, run [[maintain]] — resize (cell count vs
    * ⌈√n⌉), drift re-fit (self-calibrated floor), compact — so a
    * long-running vector ingest keeps its own index sized and fit with
    * no operator in the loop ([[PostingsIndex.appendStream]]'s policy at
    * the cell layout). NOTE the drift check is a full members pass (one
    * bounded-output aggregate, but it reads every row), so pick a
    * cadence that amortizes it — every micro-batch is the spec's choice,
    * not production's. batchId-keyed: a replayed batch re-runs the same
    * idempotent pass. A retrain triggered here quiesces queries for its
    * WHOLE migration window: a serving trigger waits out short windows
    * (`spark.graft.serve.mutationWaitMs`) and refuses loudly past the
    * deadline — at production scale a resize/retrain exceeds any sane
    * wait, so schedule those off-peak or raise the conf for sessions
    * that should ride them out. */
  def appendStream(
      s: SparkSession,
      indexDir: String,
      vecs: DataFrame,
      checkpointDir: String,
      maintainEvery: Int = 0,
      lloydRounds: Int = 5,
      adviseGated: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        append(s, indexDir, df.toDF())
        if (maintainEvery > 0 && batchId % maintainEvery == maintainEvery - 1) {
          if (adviseGated) Router.maintainIvfIfAdvised(s, indexDir,
            lloydRounds = lloydRounds)
          else maintain(s, indexDir, lloydRounds = lloydRounds)
        }
        ()
      }
      .start()

  /** Re-train the frozen quantizer and migrate the index under it — the
    * maintenance leg that closes the append path's one honest debt: every
    * append encodes under the BUILD-time coarse quantizer and codebook
    * (correct for replay convergence), so as the ingested distribution
    * drifts away from the build sample, new vectors crowd into few cells
    * and probed-cell recall decays ([[RetrainSpec]] constructs exactly
    * this and measures the decay and the recovery).
    *
    * The pass re-fits BOTH frozen tables from the LIVE member set — the
    * same deterministic sample rule a fresh [[buildFrom]] over the
    * surviving corpus would use (ids < nCells / < pqK among live
    * members), so the re-trained index is bit-equal to a from-scratch
    * build over the live corpus (spec-pinned), and the standing oracles
    * are unaffected — then re-assigns every member under the new tables
    * and rewrites ONLY the cells where anything actually changed
    * (membership or codes). The scan is necessarily full (any
    * member's cell may move) but the WRITE cost is proportional to the
    * drift: an unchanged quantizer rewrites nothing — which also makes
    * the pass idempotent (all writes are pure
    * functions of (vec_id, v, nrm), which never change; a replay
    * re-derives the same target). The `deleted/` tombstone table is
    * untouched: takedowns survive re-training.
    *
    * The member migration is the ONE index write that MOVES rows across
    * partitions, so — unlike [[append]]/[[delete]], whose partitions
    * never exchange rows — a torn dynamic-overwrite commit could lose a
    * moved row forever (its new cell committed without it being the
    * problem's dual: old cell replaced, new cell's replacement never
    * committed). The migration therefore goes through a STAGED SWAP
    * instead of dynamic overwrite: the touched cells' complete new
    * content lands under `members.retrain/` first (standing members
    * untouched), a `_GRAFT_STAGED` marker commits it together with the
    * staged/emptied cell lists, and only then does a driver-side
    * directory swap replace the touched cells one rename at a time.
    * Every row exists in `members/` ∪ `members.retrain/` at every
    * instant, and [[completeRetrainSwap]] — run at the head of every
    * retrain — rolls a crashed swap forward deterministically (swap
    * steps are individually idempotent; an un-staged crash just discards
    * the staging dir and recomputes from the untouched standing set).
    *
    * SERVING MUST QUIESCE ACROSS RETRAIN: between the quantizer/codebook
    * writes and the completed member migration, the index holds new
    * centroids over the old cell layout — a query in that window probes
    * the wrong cells and is silently WRONG, not merely stale, and a
    * crashed retrain leaves that state standing until the replay
    * converges it. The pass brackets itself with a
    * `_GRAFT_RETRAIN_INPROGRESS` marker (created before the first table
    * write, removed after the migration + purge); [[query]] / [[queryPq]]
    * and a new [[graft.streaming.StreamAnnServe]] session refuse to serve
    * while it stands, which enforces both halves of the contract: no
    * serving inside the window, and a crashed retrain must be replayed
    * (same arguments — it converges) before queries resume.
    *
    * `lloydRounds` picks the quantizer fit:
    *  - 0 (default): the deterministic sample rule — nCells smallest LIVE
    *    ids' vectors, exactly [[buildFrom]]'s rule over the surviving
    *    corpus, so the re-trained index is bit-equal to a fresh build
    *    (`RetrainSpec` pins the equality table for table);
    *  - >0: spherical k-means on a bounded deterministic sample of the
    *    live members (id-hash-ordered TakeOrdered, ≤ `sampleCap` rows —
    *    the codebook's bounded-collect discipline; driver-local Lloyd in
    *    a fixed single-threaded order, so the result is replay-exact),
    *    seeded from the 0-round rule. This is the fit that actually
    *    ADAPTS: when ingest has drifted away from the build sample, the
    *    new centroids follow the live distribution and probed-cell
    *    recall recovers (`RetrainSpec` measures before/after). The PQ
    *    CODEBOOK gets the same treatment — its own k = pqK Lloyd fit
    *    over the same id-hash-spread sample — because a codebook pinned
    *    to the smallest live ids quantizes drifted vectors against
    *    pre-drift directions: every drifted member's subspace distances
    *    collapse to jitter noise and ADC candidate selection degrades
    *    even where the exact re-rank is available to hide it
    *    (`RetrainSpec` measures ADC agreement before/after).
    * Returns (cells rewritten, vectors whose cell moved). */
  def retrain(
      s: SparkSession,
      indexDir: String,
      nCells: Int = 16,
      lloydRounds: Int = 0,
      sampleCap: Int = 4096): (Long, Long) = {
    // roll a crashed swap forward FIRST: after it the standing member
    // set is whole (pre-swap or fully post-swap, never a mix), so the
    // recomputation below sees consistent rows either way
    completeRetrainSwap(indexDir)
    val members = Corpus.read(s, s"$indexDir/members")
      .select(col("vec_id"), col("v"), col("nrm"),
        col("codes").as("old_codes"), col("cell").as("old_cell"))
      // EAGER: the table writes below replace files this frame reads
      .graftCheckpoint()
    val cents =
      if (lloydRounds <= 0)
        denseCids(members.orderBy(col("vec_id").asc).limit(nCells)
          .select(col("vec_id"), col("v").as("cv"), col("nrm").as("cn")))
      else
        lloydCentroids(s, members, nCells, lloydRounds, sampleCap)
    // quiesce bracket: from here to the end of the member migration the
    // index is incorrect to serve (new quantizer, old layout) — the
    // marker makes every query path refuse, and a crash leaves it
    // standing so the replay requirement is enforced, not just documented
    val inProgress = s"$indexDir/_GRAFT_RETRAIN_INPROGRESS"
    // require-checked like IndexVersion.bump's rename: a silently-failed
    // create voids the serve-refusal guard for the whole incorrect-to-
    // serve window (the marker exists precisely to make that window
    // refuse). An ALREADY-standing marker is fine — it means a prior
    // retrain crashed and this call is its replay, which the protocol
    // converges.
    require(IndexFs.createMarker(inProgress) || IndexFs.exists(inProgress),
      s"retrain: could not raise the quiesce marker at $inProgress")
    // generic torn-window marker too, so a PinnedIndex session waits (or
    // refuses with the replay instruction) instead of racing the pass
    IndexVersion.beginMutation(indexDir, "retrain")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    // adaptive codebook (lloydRounds > 0): its own pqK-means over the
    // same drift-following sample as the quantizer; the 0-round mode
    // keeps the fresh-build rule so bit-equality with buildFrom holds
    val cb =
      if (lloydRounds <= 0)
        members.orderBy(col("vec_id").asc).limit(Similarity.pqK)
          .select(col("vec_id").as("cid"),
            transform(col("v"), x => x / col("nrm")).as("cv"))
      else
        lloydCentroids(s, members, Similarity.pqK, lloydRounds, sampleCap)
          .select(col("cid"),
            transform(col("cv"), x => x / col("cn")).as("cv"))
    cb.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    val bc = broadcast(Corpus.read(s, s"$indexDir/centroids"))
    val bcb = broadcast(Corpus.read(s, s"$indexDir/codebook"))
    val reassigned = withCodes(
        assignCells(members.select(col("vec_id"), col("v"), col("nrm")), bc), bcb)
      .join(members.select(col("vec_id"), col("old_codes"), col("old_cell")),
        Seq("vec_id"))
      .graftCheckpoint()
    // a cell is touched if it loses a member, gains one, or any resident's
    // codes change under the new codebook — comparing against the standing
    // row (not the pre-crash one) is what makes a replayed retrain a no-op
    val changed = reassigned
      .where(col("cell") =!= col("old_cell") || col("codes") =!= col("old_codes"))
    val touched = changed
      .select(explode(array(col("cell"), col("old_cell"))).as("c"))
      .distinct().collect().map(_.getInt(0)).toSet // bounded by nCells
    val moved = changed.where(col("cell") =!= col("old_cell")).count()
    if (touched.nonEmpty) {
      val cells = touched.toSeq.sorted.map(Integer.valueOf)
      val out = reassigned.where(col("cell").isin(cells: _*))
        .select(col("vec_id"), col("v"), col("nrm"), col("codes"), col("cell"))
      val live = out.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      // staged swap: standing members stays whole until the complete new
      // content of every touched cell is committed under members.retrain
      val staging = s"$indexDir/members.retrain"
      rmDirTree(staging) // stale un-staged scratch from a prior crash
      out.write.mode("overwrite").partitionBy("cell")
        .parquet(staging)
      writeSwapManifest(staging, staged = live, emptied = touched -- live)
      // commit point: from here the swap (and any crash replay of it)
      // only moves directories — no recomputation can change the target
      IndexFs.createMarker(s"$staging/_GRAFT_STAGED")
      completeRetrainSwap(indexDir)
    }
    // the re-fit state becomes the new healthy reference (pure function
    // of the final state — replay-exact like every other retrain write)
    writeFitStats(s, indexDir)
    // a failed delete would leave the index permanently refusing queries
    // while retrain reports success — the marker's failure dual
    require(IndexFs.delete(inProgress),
      s"retrain: could not clear the quiesce marker at $inProgress")
    Seq(members, reassigned)
      .foreach(org.apache.spark.sql.graft.Bridge.releaseCheckpoint)
    // bump UNCONDITIONALLY: centroids/codebook were rewritten above even
    // when no member moved (same content, NEW files) — a serving session
    // pinned on the old part files must re-open either way
    IndexVersion.bump(indexDir)
    IndexVersion.endMutation(indexDir)
    (touched.size.toLong, moved)
  }

  private def rmDirTree(d: String): Unit = IndexVersion.rmDirTree(d)

  /** The swap manifest: which staged cell dirs move into `members/` and
    * which touched cells emptied out entirely (a partitioned write emits
    * no directory for zero rows, so absence alone cannot distinguish
    * "emptied" from "already swapped" on replay — the manifest can). */
  private def writeSwapManifest(
      staging: String, staged: Set[Int], emptied: Set[Int]): Unit =
    IndexFs.writeUtf8(s"$staging/_GRAFT_SWAP",
      staged.toSeq.sorted.mkString(",") + "\n" +
        emptied.toSeq.sorted.mkString(",") + "\n")

  /** Roll a committed staged swap forward ([[retrain]]'s migration
    * protocol; also its crash recovery — called at the head of every
    * retrain). Each step is individually idempotent: an emptied cell's
    * delete re-runs as a no-op; a staged cell whose source dir is gone
    * was already swapped and its target is left alone; a staged cell
    * whose source still exists gets its target cleared and the source
    * renamed in (a crash between those two re-runs both). A staging dir
    * without the `_GRAFT_STAGED` marker never had a complete new layout
    * committed — the standing members set is untouched, so it is
    * discarded and the caller recomputes from scratch. */
  private def completeRetrainSwap(indexDir: String): Unit = {
    val staging = s"$indexDir/members.retrain"
    if (!IndexFs.isDirectory(staging)) return
    if (!IndexFs.exists(s"$staging/_GRAFT_STAGED")) {
      rmDirTree(staging)
      return
    }
    val lines = IndexFs.readUtf8(s"$staging/_GRAFT_SWAP").linesIterator.toList
    def cellsOf(line: Option[String]): Seq[Int] =
      line.toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toInt)
    val staged = cellsOf(lines.headOption)
    val emptied = cellsOf(lines.drop(1).headOption)
    emptied.foreach { c =>
      rmDirTree(s"$indexDir/members/cell=$c")
    }
    staged.foreach { c =>
      val src = s"$staging/cell=$c"
      val dst = s"$indexDir/members/cell=$c"
      if (IndexFs.isDirectory(src)) { // absent = already swapped on a prior replay
        rmDirTree(dst)
        // per-cell atomic rename (IndexFs contract); an object-store
        // binding must manifest-commit the cell set instead
        require(IndexFs.rename(src, dst),
          s"retrain swap: rename failed for cell=$c")
      }
    }
    rmDirTree(staging)
  }

  /** Standard IVF sizing: nCells ≈ ⌈√n⌉, so a probed cell holds ~√n
    * members and per-query indexed I/O scales with √n instead of
    * linearly — the growth law a PINNED cell count breaks (after a 100×
    * ingest at 16 cells, every probed cell is 1/16 of a 100×-bigger
    * table). [[maintain]] detects an out-of-band count against this
    * target and resizes via [[retrain]] — the vector-side analog of
    * [[PostingsIndex.rebucket]]. */
  private[graft] def targetCells(nVec: Long): Int =
    math.max(1L, math.ceil(math.sqrt(nVec.toDouble)).toLong).toInt

  /** The standing cell count [[maintain]] plans against: the members
    * PARTITION DIRECTORIES — driver-side, readable even when a crashed
    * retrain left centroids/ torn, and the count that reflects emptied
    * cells (a centroids row count does not; [[Router.adviseOn]] must use
    * THIS count or its resize advisory drifts from what maintain runs —
    * the second-pass review's finding #1). */
  private[graft] def standingCells(indexDir: String): Int =
    IndexFs.listStatus(s"$indexDir/members")
      .count(c => c.isDir && c.name.startsWith("cell="))

  /** [[maintain]]'s resize plan as a pure function of (member count,
    * standing cell count) — shared with [[Router.advise]] so the
    * advisory can never predict a resize the maintenance pass wouldn't
    * run. The standing count must be [[standingCells]]'s directory
    * count, not a centroids row count. Returns the target cell count
    * when the standing count is out of band against [[targetCells]] (4×
    * hysteresis either way), None when in band or the index is empty (a
    * fully-deleted index is vacuously healthy — the r12 guard). */
  private[graft] def plannedResize(nVec: Long, standing: Long): Option[Int] =
    if (nVec > 0 && standing > 0 && {
          val ideal = targetCells(nVec)
          ideal > 4L * standing || ideal * 4L < standing
        }) Some(targetCells(nVec))
    else None

  /** Mean own-cell assignment cosine — the coarse quantizer's fit to the
    * live member set ([[maintain]]'s drift observable, and the healthy
    * reference [[buildFrom]]/[[retrain]] store in `fitstats/`). One
    * bounded pass: members joined to the BROADCAST centroids on the own
    * cell, never a cross join. A memberless index is vacuously fit
    * (nothing to re-train), not an NPE. */
  private[graft] def assignmentFit(s: SparkSession, indexDir: String): Double = {
    val cents = broadcast(Corpus.read(s, s"$indexDir/centroids")
      .select(col("cid").cast("int").as("cell"), col("cv"), col("cn")))
    Corpus.read(s, s"$indexDir/members")
      .join(cents, Seq("cell"))
      .agg(coalesce(avg(dot(col("v"), col("cv")) / (col("nrm") * col("cn"))),
        lit(1.0)))
      .collect()(0).getDouble(0)
  }

  /** Persist the CURRENT fit as the index's healthy reference — written
    * at build and after every retrain, so [[maintain]]'s drift floor can
    * self-calibrate per embedding space instead of assuming one absolute
    * number fits all corpora (an axis-cluster space sits ≈0.99 healthy;
    * a diffuse real-embedding space may sit at 0.6 — a fixed 0.7 floor
    * would retrain the latter forever). */
  private def writeFitStats(s: SparkSession, indexDir: String): Unit = {
    import s.implicits._
    Seq(assignmentFit(s, indexDir)).toDF("fit")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/fitstats")
  }

  /** The stored healthy-reference fit; None for a pre-fitstats index
    * (falls back to the legacy absolute floor). */
  private def storedFit(s: SparkSession, indexDir: String): Option[Double] =
    if (!IndexFs.isDirectory(s"$indexDir/fitstats")) None
    else Corpus.read(s, s"$indexDir/fitstats").collect()
      .headOption.map(_.getDouble(0))

  /** The self-calibrating drift floor: this fraction of the stored
    * healthy fit. 0.8 leaves jitter-sized decay alone and catches the
    * collapse drift actually causes (the drifted gate corpus lands at a
    * SMALL FRACTION of its build fit — `RetrainSpec`). */
  private[graft] val relFitFloor = 0.8

  /** The quiesce guard [[retrain]]'s marker drives: refuse to serve an
    * index whose quantizer and member layout may disagree. One
    * `File.exists` per query batch / serving session — negligible. */
  private[graft] def requireNotRetraining(indexDir: String): Unit =
    require(!IndexFs.exists(s"$indexDir/_GRAFT_RETRAIN_INPROGRESS"),
      s"$indexDir has a retrain in progress (or a crashed one): its " +
        "centroids/codebook and member layout may disagree and results " +
        "would be silently wrong — replay retrain() to completion first")

  /** Driver-local spherical k-means over a bounded deterministic sample
    * of the live members — [[retrain]]'s adaptive quantizer fit.
    *
    * Sample: rows ordered by an id-hash (then id), TakeOrdered at
    * `sampleCap` — a deterministic spread across the live id space (a
    * smallest-id sample would systematically miss drifted high-id
    * ingest, the very data the re-fit exists to follow). The collect is
    * bounded at sampleCap vectors, the codebook discipline. Lloyd runs
    * single-threaded in sorted-id order: assign by max cosine (ties to
    * the smaller cluster), recompute each centroid as its members' mean
    * (an emptied cluster keeps its previous centroid — [[Similarity]]'s
    * lloydLocal convention). Returns the (cid, cv, cn) centroid frame;
    * cids are cluster indexes. */
  private def lloydCentroids(
      s: SparkSession,
      members: DataFrame,
      k: Int,
      rounds: Int,
      sampleCap: Int): DataFrame = {
    import s.implicits._
    val pts = members
      .select(col("vec_id"), col("v"))
      // the inner % bounds the multiplicand so the spread-hash product
      // stays far from Long overflow (ANSI would throw) at any id
      .orderBy(pmod((col("vec_id") % lit(94906249L)) * lit(2654435761L),
        lit(1000003L)).asc, col("vec_id").asc)
      .limit(sampleCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val kk = math.min(k, pts.length)
    if (kk == 0)
      return Seq.empty[(Long, Seq[Double], Double)].toDF("cid", "cv", "cn")
    var cents: Array[Array[Double]] = Array.tabulate(kk)(i => pts(i)._2.clone())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (_ <- 1 to rounds) {
      val dims = cents.map(_.length).max
      val sums = Array.ofDim[Double](kk, dims)
      val cnts = new Array[Long](kk)
      pts.foreach { case (_, v) =>
        var best = 0; var bs = Double.NegativeInfinity; var c = 0
        while (c < kk) {
          val sc = cos(v, cents(c))
          if (sc > bs) { bs = sc; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < math.min(v.length, dims)) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(_ / cnts(c)))
    }
    cents.zipWithIndex.map { case (cv, cid) =>
      var n2 = 0.0; cv.foreach(x => n2 += x * x)
      (cid.toLong, cv.toSeq, math.sqrt(n2))
    }.toSeq.toDF("cid", "cv", "cn")
  }

  /** Stats-driven maintenance for the vector index —
    * [[PostingsIndex.maintain]]'s discipline pointed at the cell layout,
    * with the detector the vector side actually needs: DRIFT. Appends
    * encode under the frozen build-time quantizer (correct for replay
    * convergence), so a drifted ingest crowds into few cells and
    * probed-cell recall decays (`RetrainSpec` constructs exactly this);
    * the observable is the MEAN ASSIGNMENT COSINE — each member's
    * similarity to its OWN cell's centroid, the coarse quantizer's fit
    * to the live distribution (the vector-side analog of the PQ
    * reconstruction error). Drifted members sit near-orthogonal to
    * every build-time centroid, so their own-cell cosine collapses to
    * jitter even when cell OCCUPANCY stays even — the cluster-scatter
    * failure mode an occupancy detector cannot see. One bounded pass:
    * members joined to the broadcast centroids on the own cell, never a
    * cross join ([[assignmentFit]]). Policy, in dependency order:
    *
    *  1. RESIZE when the standing cell count is out of band against
    *     [[targetCells]] (≈⌈√n⌉) with 4× hysteresis either way (the
    *     [[PostingsIndex.maintain]] rebucket discipline pointed at the
    *     cell layout: the migration is a full-index pass, not worth
    *     chasing small drift) — one [[retrain]] at the target count
    *     re-fits the quantizer AND re-partitions, so a resized pass
    *     skips the separate drift check;
    *  2. RETRAIN (adaptive Lloyd fit) when the mean fit drops below the
    *     floor. `minFit = NaN` (default) self-calibrates: the floor is
    *     [[relFitFloor]] × the `fitstats/` healthy reference stored at
    *     build/retrain — per-embedding-space, no absolute constant to
    *     mis-tune (an axis-cluster space sits ≈0.99 healthy, a diffuse
    *     one may sit at 0.6; a pre-fitstats index falls back to the
    *     legacy 0.7). Pass an explicit `minFit` to pin an absolute
    *     floor;
    *  3. COMPACT cells fragmented past `maxFilesPerCell` — after any
    *     migration, so its fresh writes are compacted in the same pass.
    *
    * Every step carries its own crash protocol (staged swap / dynamic
    * overwrite), so the pass needs no transaction; re-runs converge and
    * a healthy index reports an empty action log. SERVING QUIESCE:
    * steps 1–2 are [[retrain]], whose in-progress window refuses
    * queries — schedule like any retrain. Returns the action log. */
  /** `resizeOk = false` defers the resize re-layout (and, while one is
    * planned, the drift retrain — re-fitting at a cell count the
    * planner already rejected would churn the index twice); crash
    * replay and compaction always run. The seam
    * [[Router.maintainIvfIfAdvised]] gates on a predicted route flip. */
  def maintain(
      s: SparkSession, indexDir: String,
      minFit: Double = Double.NaN,
      lloydRounds: Int = 5,
      maxFilesPerCell: Int = 4,
      resizeOk: Boolean = true): Seq[String] = {
    // a crashed RETRAIN is this pass's own replay path (below); any
    // OTHER crashed mutation must be replayed by its own operation —
    // re-deriving maintenance state from mixed tables would launder the
    // tear into a clean-looking layout
    IndexVersion.standingMutation(indexDir).foreach { standing =>
      require(standing == "retrain",
        s"$indexDir has a crashed '$standing' mutation standing — replay " +
          "it to completion before maintain")
    }
    completeRetrainSwap(indexDir)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    def nCells: Int = standingCells(indexDir)
    // a standing in-progress marker means a retrain crashed mid-pass:
    // the tables may be torn (new quantizer over the old layout — or a
    // half-written centroids dir) and every query path refuses. The
    // repair entry point REPLAYS it to convergence FIRST — computing
    // the fit against that state would be garbage, and reporting a
    // quiesced index "healthy" worse. Replay parameters need not match
    // the crashed run's: any retrain converges to a consistent index
    // and clears the marker.
    if (IndexFs.exists(s"$indexDir/_GRAFT_RETRAIN_INPROGRESS")) {
      val (cells, movedN) = retrain(s, indexDir, nCells, lloydRounds)
      actions += "retrain-replay: crashed retrain rolled forward " +
        s"($cells cells rewritten, $movedN members moved)"
    }
    // parquet footer row count — no data pages read
    val nVec = Corpus.read(s, s"$indexDir/members").count()
    val standing = nCells
    val resize = plannedResize(nVec, standing)
    if (resize.isDefined) {
      if (resizeOk) {
        val ideal = resize.get
        val (cells, movedN) = retrain(s, indexDir, ideal, lloydRounds)
        actions += s"resize: nCells $standing -> $ideal for $nVec vectors " +
          s"($cells cells rewritten, $movedN members moved)"
      } else actions += s"resize-deferred: nCells $standing out of band " +
        s"for $nVec vectors, gated off by the caller's advice policy"
    } else {
      val floor =
        if (!minFit.isNaN) minFit
        else storedFit(s, indexDir).map(_ * relFitFloor).getOrElse(0.7)
      val fit = assignmentFit(s, indexDir)
      if (fit < floor) {
        val (cells, movedN) = retrain(s, indexDir, standing, lloydRounds)
        actions += f"retrain: assignment fit $fit%.3f below $floor%.3f " +
          s"-> $cells cells rewritten, $movedN members moved"
      }
    }
    val (compacted, filesBefore, filesAfter) =
      compact(s, indexDir, maxFilesPerCell)
    if (compacted > 0)
      actions += s"compact: $compacted cells, $filesBefore -> $filesAfter files"
    actions.toSeq
  }

  /** Compact fragmented cell partitions — the missing maintenance leg of
    * the index lifecycle (build → append → appendStream → compact →
    * query). Every write that touches a cell rewrites it with as many
    * part files as tasks carried its rows, so a long-running streaming
    * ingest leaves hot cells as dozens of small parquet files — the
    * classic small-file tax on every subsequent probed-cell scan (per-
    * file open/footer cost dominates once files shrink below the scan's
    * split size). The compactor reads ONLY driver-side directory
    * metadata (nCells-bounded) to find cells above `maxFilesPerCell`,
    * then rewrites JUST those cells repartitioned BY CELL — one task
    * and one file per cell — under the same dynamic partition overwrite
    * the append path uses. Untouched cells keep their exact files;
    * compacted cells' rows are bit-identical (spec-pinned, and the
    * layout-only nature means every query path's gate is unaffected).
    * Idempotent: a re-run finds nothing above the threshold. Returns
    * (cells compacted, files before, files after) over the compacted
    * set. */
  def compact(
      s: SparkSession,
      indexDir: String,
      maxFilesPerCell: Int = 4): (Long, Long, Long) = {
    val root = s"$indexDir/members"
    def dataFiles(d: String): Int =
      IndexFs.listStatus(d).count(c =>
        !c.isDir && !c.name.startsWith(".") && !c.name.startsWith("_"))
    val frag = IndexFs.listStatus(root)
      .filter(c => c.isDir && c.name.startsWith("cell="))
      .map(c => s"$root/${c.name}")
      .filter(dataFiles(_) > maxFilesPerCell)
    if (frag.isEmpty) (0L, 0L, 0L)
    else {
      val ids = frag.map(_.split('/').last.stripPrefix("cell=").toInt)
      val before = frag.map(dataFiles).sum.toLong
      val merged = Corpus.read(s, s"$indexDir/members")
        .where(col("cell").isin(ids.map(Integer.valueOf): _*))
        .repartition(col("cell"))
        // EAGER: the rewrite deletes the very files being read (the
        // append-path hazard, same cure)
        .graftCheckpoint()
      // torn-window guard: the rewrite deletes pinned frames' files
      IndexVersion.beginMutation(indexDir, "compact")
      merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$indexDir/members")
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(merged)
      val after = frag.map(dataFiles).sum.toLong
      // refresh signal: a pinned serving frame would otherwise keep
      // referencing the very files the compaction just deleted
      IndexVersion.bump(indexDir)
      IndexVersion.endMutation(indexDir)
      (frag.size.toLong, before, after)
    }
  }

  /** THE probe tree over the persisted centroid table: the nProbe
    * closest cells per (query_id, qv, qn) row, ordered (cscore DESC,
    * cid ASC) — shared by [[query]] and [[queryPq]] so the two paths
    * cannot drift; the inline operators keep their own copy because
    * theirs is derived from the cellScores frame the ASSIGNMENT also
    * consumes (one corpus×centroids pass, a plan choice, commented
    * there). */
  private def probesOf(q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("cid").asc)
    q.crossJoin(cents)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cscore"))
      .withColumn("pr", row_number().over(wq)).where(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"),
        col("cid").cast("int").as("cell"))
  }

  /** Query the persisted index with a (query_id, qv: array<double>) batch:
    * probe the `nProbe` closest cells per query, exact-score within probed
    * cells only, return (query_id, rank, neighbor_id, sim) top-k. The
    * members scan is pruned to probed cells by dynamic partition pruning —
    * the broadcast probe join's build side feeds the partition filter. */
  def query(
      s: SparkSession,
      indexDir: String,
      queries: DataFrame,
      nProbe: Int = 2,
      k: Int = 5): DataFrame = {
    requireNotRetraining(indexDir)
    queryOn(Corpus.read(s, s"$indexDir/centroids"),
      Corpus.read(s, s"$indexDir/members"), queries, nProbe, k)
  }

  /** [[query]] against already-constructed centroid/member frames — the
    * seam a SERVING loop uses ([[graft.streaming.StreamAnnServe]]): a
    * `DataFrame` carries its resolved file index, so building the two
    * frames once per index VERSION and re-planning per trigger skips
    * the per-trigger directory re-listing (one listing per cell
    * partition — a metadata storm at production cell counts, pure waste
    * between mutations; the serving loop re-opens the frames when
    * [[IndexVersion]]'s stamp moves). Batch callers construct the
    * frames inline; the plans are identical either way. */
  private[graft] def queryOn(
      centsRaw: DataFrame,
      members: DataFrame,
      queries: DataFrame,
      nProbe: Int,
      k: Int): DataFrame = {
    val q = queries
      .select(col("query_id"), vec(col("qv")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cents = broadcast(centsRaw)
    val probes = probesOf(q, cents, nProbe)
    val scored = members.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** IVF+PQ query against the persisted index: probe `nProbe` cells per
    * query (the [[query]] probe tree), ADC-score every probed member from
    * its stored code ids (sum of M quantized table lookups — the members
    * scan reads (vec_id, codes) ONLY: columnar pruning skips the
    * embedding column, so the candidate-selection I/O per cell is M longs
    * per vector, not 64 doubles), keep the `nCand` best per query, then
    * exact-re-rank just those rows with a SECOND dynamically-pruned scan
    * that fetches the original vectors from the same cell partitions.
    * Both scans are bounded by the probed-cell layout; the expensive
    * column is read for `nCand` rows per query, never per cell.
    * Arithmetic is [[Similarity.annIvfPq]]'s exact trees, so the two
    * share an oracle. */
  def queryPq(
      s: SparkSession,
      indexDir: String,
      queries: DataFrame,
      nProbe: Int = 2,
      k: Int = 5,
      nCand: Int = 20): DataFrame = {
    requireNotRetraining(indexDir)
    val pqDim = Similarity.pqM * Similarity.pqSubDims
    if (!IndexFs.exists(s"$indexDir/_GRAFT_PQ_OK")) {
      // migration path: an index persisted before the marker existed has
      // perfectly valid codes iff its stored dimension matches — probe
      // ONE bounded centroids row and stamp the marker so the probe
      // never re-runs; only a genuine dimension mismatch still fails
      val d = Corpus.read(s, s"$indexDir/centroids")
        .orderBy(col("cid").asc).limit(1)
        .select(size(col("cv")).as("d")).collect().headOption.map(_.getInt(0))
      require(d.contains(pqDim),
        s"$indexDir was built with a vector dimension " +
          s"${d.fold("<empty>")(_.toString)} != $pqDim: its PQ codes are " +
          "degenerate; use query() or rebuild at the PQ dimension")
      IndexFs.createMarker(s"$indexDir/_GRAFT_PQ_OK")
    }
    val q = queries
      .select(col("query_id"), vec(col("qv")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cents = broadcast(Corpus.read(s, s"$indexDir/centroids"))
    val probes = probesOf(q, cents, nProbe)
      .select(col("query_id"), col("cell"))
    // the query-side ADC table: M x pqK quantized subspace distances per
    // query, from the frozen codebook — bounded, broadcast; the
    // single-sourced [[Similarity.pqCells]] tree
    val cb = broadcast(Corpus.read(s, s"$indexDir/codebook"))
    val qn0 = q.select(col("query_id"),
      transform(col("qv"), x => x / col("qn")).as("nv"))
    val qtab = Similarity.pqCells(qn0, "query_id", cb)
      .select(col("query_id"), col("m"), col("cid"), col("qd2"))
    val members = Corpus.read(s, s"$indexDir/members")
    // ADC pass: (cell, vec_id, codes) only — the embedding column is
    // never decoded here
    val adc = members
      .select(col("cell"), col("vec_id"), posexplode(col("codes")).as(Seq("m", "cid")))
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(qtab), Seq("query_id", "m", "cid"))
      .groupBy(col("query_id"), col("vec_id"), col("cell"))
      .agg(sum(col("qd2")).as("sq"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("sq").asc, col("vec_id").asc)
    val cand = adc.withColumn("cr", row_number().over(wc))
      .where(col("cr") <= nCand)
      .select(col("query_id"), col("vec_id"), col("cell"))
    // exact re-rank: fetch the nCand original vectors from their cell
    // partitions (dynamic pruning again — cand carries the cell) and
    // restore true cosine order
    val rer = members.join(
        broadcast(cand.join(q.select(col("query_id"), col("qv"), col("qn")),
          Seq("query_id"))),
        Seq("cell", "vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }
}
