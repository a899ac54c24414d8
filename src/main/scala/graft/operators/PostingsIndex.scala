package graft.operators

import graft.Materialize.MaterializeOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Corpus

/** Persisted inverted index: build once, query many — [[IvfIndex]]'s
  * lifecycle discipline applied to the lexical-retrieval family (the
  * piece [[Retrieval.bm25Topk]] deliberately leaves out: its one-shot
  * query re-tokenizes the corpus every run, the right shape for an
  * oracle but not for production — its own scaladoc says a search system
  * would replace the full-scan term filter with exactly this index).
  *
  * Layout under `indexDir`:
  *  - `postings/` — (term, plist) **partitioned by superblock**
  *    (`sb = doc_id >> (blockBits + superBits)`, a doc-id RANGE). Block
  *    alone would be one directory per 64 docs — 10⁸ partitions at 10¹⁰
  *    docs; the superblock keeps the partition count bounded (2²⁰-doc
  *    dirs at the production default) while preserving the append
  *    property: an append-only ingest touches only the TAIL superblocks,
  *    so an append rewrites just those partitions under dynamic
  *    partition overwrite, exactly like [[IvfIndex.append]]'s
  *    touched-cell rewrites.
  *  - `blockstats/` — per-superblock (n_docs, total_len, max_doc_id),
  *    partitioned by sb like the postings and merged by the SAME
  *    touched-partition overwrite: the BM25 globals are the sum of a
  *    superblock-bounded frame, never a corpus rescan, and because the
  *    stats carry the ingest watermark per partition they share the
  *    postings' replay guard instead of trusting a separately-written
  *    counter (see the crash note on [[append]]).
  *  - `meta/` — one row (super_bits), written at build, never touched
  *    again.
  *
  * Every posting entry carries (doc_id, tf, dl) — the denormalized
  * per-doc norm an impact-ordered index stores with the posting — so
  * query-time scoring is: one term-pruned index scan (`PushedFilters`
  * on `term`, plan-audited), two broadcast joins (per-term df, 1-row
  * stats), a TakeOrdered. The corpus text is never read at query time.
  */
object PostingsIndex {

  /** Production default: 2^(6+14) = 2^20 docs per partition directory. */
  private[graft] val defaultSuperBits = 14

  /** Index state of a (doc_id, text) frame with the partition column
    * attached: (term, block, plist, sb). The plist's leading doc_id keeps
    * every entry's sb equal to the row's, so a (term, block) group never
    * straddles partitions (block ⊂ superblock by construction). */
  private def stateWithSb(docs: DataFrame, superBits: Int): DataFrame =
    Retrieval.postingsStateOf(docs)
      .withColumn("sb",
        shiftright(col("block"), superBits).cast("int"))

  /** The same dl the posting entries carry — the stored totals and the
    * entries can never disagree. */
  private def dlCol = {
    val toks = TextAnalysis.tokensCol(col("text"))
    when(length(TextAnalysis.normTextCol(col("text"))) === 0, 0L)
      .otherwise(size(toks).cast("long"))
  }

  /** The positional payload of a (doc_id, text) frame, as its OWN table
    * (Lucene's .doc/.pos file split): one row per (term, doc) carrying
    * the sorted token positions, partitioned by the same superblock as
    * the postings rows. Kept out of the postings struct on purpose —
    * nested-schema pruning cannot drop a struct field through `explode`
    * when several fields are read, so in-struct positions would tax
    * every BM25 scan with the index's largest column (total ints =
    * total tokens, vs Σ df posting rows); in its own table the doc-only
    * paths never open a positions file at all (spec-pinned via
    * ReadSchema). */
  private[graft] def positionsStateOf(docs: DataFrame, superBits: Int): DataFrame = {
    val toks = TextAnalysis.tokensCol(col("text"))
    docs
      .select(col("doc_id"), posexplode(toks))
      .withColumnRenamed("col", "term")
      .where(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("sb",
        shiftright(col("doc_id"), Retrieval.postingsBlockBits + superBits)
          .cast("int"))
  }

  /** Per-doc lengths as their own table (Lucene's .nvd norms file): one
    * (doc_id, dl) row per doc, partitioned by superblock. The postings
    * keep dl denormalized for scan-time scoring; THIS table is the
    * source of truth that makes [[delete]] exact — blockstats for a
    * touched superblock recompute from the surviving doclens rows, which
    * include zero-token docs (they have no postings or positions row to
    * recover a count from, but they do count toward n_docs). */
  private[graft] def doclensStateOf(docs: DataFrame, superBits: Int): DataFrame =
    docs.select(col("doc_id"), dlCol.as("dl"),
      shiftright(col("doc_id"), Retrieval.postingsBlockBits + superBits)
        .cast("int").as("sb"))

  /** Per-superblock doc stats of a (doc_id, text) frame: one scan, no
    * explode. Includes superblocks whose docs have zero tokens (they
    * produce no postings but must count toward the globals). */
  private def blockStatsOf(docs: DataFrame, superBits: Int): DataFrame =
    docs
      .select(shiftright(col("doc_id"), Retrieval.postingsBlockBits + superBits)
          .cast("int").as("sb"),
        col("doc_id"), dlCol.as("dl"))
      .groupBy(col("sb"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"),
        max(col("doc_id")).as("max_doc_id"))

  /** Overwrites `path` partitioned by `sb`: only the partitions `df`
    * holds when `dynamic`, the whole directory otherwise. The mode rides
    * on this write, never on the session, so concurrent writers (streaming
    * `foreachBatch` appends) cannot see each other's choice. */
  private def writePartitioned(df: DataFrame, path: String, dynamic: Boolean): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy("sb").parquet(path)

  private[graft] def readSuperBits(s: SparkSession, indexDir: String): Int =
    s.read.parquet(s"$indexDir/meta").collect()(0).getAs[Long]("super_bits").toInt

  /** [[maintain]]'s rebucket plan as a pure function of the standing
    * layout — shared with [[Router.advise]] so the advisory surface can
    * never predict a repair the maintenance pass wouldn't run (the
    * explain/auto shared-builder discipline applied to maintenance).
    * Given (superblock count, id watermark, standing superBits), returns
    * the (newSuperBits, predicted superblock count) a `maintain` at
    * `targetSbs` would rebucket to, or None when the layout is in band
    * (≤ 4× target hysteresis) or no higher bits would help. The
    * prediction is the DENSE-id upper bound ⌈(maxDoc+1) / span⌉ — actual
    * post-rebucket counts can only be lower (empty spans produce no
    * superblock), so an advisory computed from it never overstates the
    * repair's benefit. */
  private[graft] def plannedRebucket(
      nSb: Long, maxDoc: Long, bits: Int,
      targetSbs: Int = 32): Option[(Int, Long)] = {
    if (nSb <= 4L * targetSbs) None
    else {
      // smallest superBits whose DENSE superblock count fits the target
      // — searched exactly (the previous ceil-log2 closed form overshot
      // by one bit when maxDoc/target+1 landed on a power of two,
      // halving the rebucketed index's scan parallelism)
      val bb = Retrieval.postingsBlockBits
      val need = (bits to 63 - bb)
        .find(s => (maxDoc >> (bb + s)) + 1L <= targetSbs)
        .getOrElse(63 - bb)
      if (need > bits) Some((need, (maxDoc >> (bb + need)) + 1L))
      else None
    }
  }

  /** Per-(term, superblock) impact bounds — the block-max table of the
    * WAND family (Broder et al. CIKM'03; block-max variant Ding & Suel
    * SIGIR'11), at superblock granularity so a bound row maps 1:1 to a
    * prunable partition: `max_tf` and `min_dl` bound the term's best
    * possible tf-part in the superblock (tfPart is monotone up in tf,
    * down in dl), `df_sb` sums to the term's exact global df. Derived
    * purely from the postings rows being written — never separately
    * trusted. */
  private def termStatsOf(state: DataFrame): DataFrame =
    state
      .select(col("term"), col("sb"), explode(col("plist")).as("p"))
      .groupBy(col("term"), col("sb"))
      .agg(max(col("p.tf")).as("max_tf"), min(col("p.dl")).as("min_dl"),
        count(lit(1)).as("df_sb"))

  /** Build the index from a (doc_id, text) frame. Returns
    * (partitions written, posting rows). */
  def buildFrom(
      s: SparkSession, docs: DataFrame, indexDir: String,
      superBits: Int = defaultSuperBits): (Long, Long) = {
    import s.implicits._
    val state = stateWithSb(docs, superBits).graftCheckpoint()
    // torn-window guard: tables land sequentially; a serving session must
    // not pin between the first write and the closing bump
    IndexVersion.beginMutation(indexDir, "build")
    writePartitioned(state, s"$indexDir/postings", dynamic = false)
    writePartitioned(termStatsOf(state), s"$indexDir/termstats",
      dynamic = false)
    org.apache.spark.sql.graft.Bridge.releaseCheckpoint(state)
    writePartitioned(positionsStateOf(docs, superBits),
      s"$indexDir/positions", dynamic = false)
    writePartitioned(doclensStateOf(docs, superBits),
      s"$indexDir/doclens", dynamic = false)
    writePartitioned(blockStatsOf(docs, superBits), s"$indexDir/blockstats",
      dynamic = false)
    Seq(superBits.toLong).toDF("super_bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    IndexVersion.bump(indexDir)
    IndexVersion.endMutation(indexDir)
    val p = s.read.parquet(s"$indexDir/postings")
    (p.select(col("sb")).distinct().count(), p.count())
  }

  /** Append a (doc_id, text) batch, rewriting ONLY the touched tail
    * superblock partitions of BOTH tables: docs at or below the stored
    * ingest watermark (max over `blockstats.max_doc_id`) are dropped
    * first, the batch's index state merges with just the touched
    * partitions' current rows (a statically pruned partition-column
    * scan), and both results land under dynamic partition overwrite.
    * Returns (docs appended, partitions rewritten).
    *
    * Crash consistency: postings are written before stats, and EACH
    * write is idempotent under replay — the plist merge passes through
    * `array_distinct` (a re-merged batch contributes only entries that
    * are already there), and the stats merge re-derives its guard from
    * the stats table itself — so a retry after a crash between the two
    * writes converges: the re-run re-merges the batch into postings
    * (no-op by distinctness) and completes the missing stats merge
    * (first effective application, by the unchanged watermark). No
    * separately-trusted counter exists to drift. */
  def append(s: SparkSession, indexDir: String, incoming: DataFrame): (Long, Long) = {
    val superBits = readSuperBits(s, indexDir)
    val wm = s.read.parquet(s"$indexDir/blockstats")
      .agg(coalesce(max(col("max_doc_id")), lit(-1L))).collect()(0).getLong(0)
    // tombstone guard: an id taken down BEFORE it was ever ingested
    // (above-watermark [[delete]]) must stay out when its batch arrives
    val tombDir = s"$indexDir/tombstones"
    recoverTombstones(indexDir)
    val batch0 = incoming.where(col("doc_id") > wm)
    val batch =
      (if (IndexFs.isDirectory(tombDir))
        batch0.join(s.read.parquet(tombDir), Seq("doc_id"), "left_anti")
      else batch0).graftCheckpoint()
    val batchStats = blockStatsOf(batch, superBits).graftCheckpoint()
    val touched = batchStats.select(col("sb")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) (0L, 0L)
    else {
      val sbs = touched.map(Integer.valueOf)
      val existing = s.read.parquet(s"$indexDir/postings")
        .where(col("sb").isin(sbs: _*))
        .select(col("term"), col("block"), col("plist"))
      // watermark-disjoint sides make concat+sort exact; the distinct is
      // the replay guard (entries are identical on a re-merge)
      val merged = existing
        .unionByName(stateWithSb(batch, superBits)
          .select(col("term"), col("block"), col("plist")))
        .groupBy(col("term"), col("block"))
        .agg(array_distinct(array_sort(flatten(collect_list(col("plist")))))
          .as("plist"))
        .withColumn("sb", shiftright(col("block"), superBits).cast("int"))
        // EAGER: three consumers (postings write, termstats re-derivation)
        // and the write replaces files the merge read
        .graftCheckpoint()
      // torn-window guard: five sequential table writes follow — a
      // serving pin in between would mix postings/termstats versions
      IndexVersion.beginMutation(indexDir, "append")
      writePartitioned(merged, s"$indexDir/postings", dynamic = true)
      // touched superblocks' term bounds, re-derived from the postings
      // rows now standing — pure derivation, so a crash-and-retry
      // converges exactly like the stats merge below
      writePartitioned(termStatsOf(merged), s"$indexDir/termstats",
        dynamic = true)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(merged)
      // positional payload for the same touched partitions — pure
      // derivation like termstats, written BEFORE blockstats so the
      // watermark advances last; the batch's rows are watermark-new, so
      // dropDuplicates only fires on a replay (identical rows — the same
      // role array_distinct plays in the plist merge)
      val posMerged = s.read.parquet(s"$indexDir/positions")
        .where(col("sb").isin(sbs: _*))
        .unionByName(positionsStateOf(batch, superBits))
        .dropDuplicates(Seq("term", "doc_id"))
        // EAGER: the write replaces the files the merge read
        .graftCheckpoint()
      writePartitioned(posMerged, s"$indexDir/positions", dynamic = true)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(posMerged)
      // norms file: same touched-partition merge, dropDuplicates the
      // replay guard (one row per doc)
      val dlMerged = s.read.parquet(s"$indexDir/doclens")
        .where(col("sb").isin(sbs: _*))
        .unionByName(doclensStateOf(batch, superBits))
        .dropDuplicates(Seq("doc_id"))
        .graftCheckpoint()
      writePartitioned(dlMerged, s"$indexDir/doclens", dynamic = true)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(dlMerged)
      val statsMerged = s.read.parquet(s"$indexDir/blockstats")
        .where(col("sb").isin(sbs: _*))
        .select(col("sb"), col("n_docs"), col("total_len"), col("max_doc_id"))
        .unionByName(batchStats)
        .groupBy(col("sb"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_len")).as("total_len"),
          max(col("max_doc_id")).as("max_doc_id"))
      writePartitioned(statsMerged, s"$indexDir/blockstats", dynamic = true)
      val nb = batchStats.agg(sum(col("n_docs"))).collect()(0).getLong(0)
      IndexVersion.bump(indexDir) // refresh signal for serving sessions
      IndexVersion.endMutation(indexDir)
      (nb, touched.length.toLong)
    }
  }

  /** Streaming ingestion into the persisted index: each micro-batch of
    * (doc_id, text) rows runs one [[append]] — the `foreachBatch`
    * at-least-once contract composes with append's watermark guard
    * ([[IvfIndex.appendStream]]'s discipline: a RETRIED micro-batch
    * re-appends nothing, because every doc in it sits at or below the
    * stored watermark), so the index converges to exactly the one-shot
    * layout. The stream's only state is the sink checkpoint; index
    * growth is the touched-tail-partition rewrites. */
  /** `maintainEvery` — AUTO-SCHEDULED MAINTENANCE (0 = off): after every
    * N-th micro-batch's append, run [[maintain]] with the given policy
    * knobs, so a long-running ingest keeps its own layout healthy — the
    * fragmentation the stream itself causes (hot-tail small files every
    * trigger; superblock count outgrowing a superBits sized for the
    * bootstrap corpus) is detected and repaired by the stats the
    * maintenance pass already reads, with no operator in the loop. The
    * cadence is batchId-keyed, so a replayed micro-batch re-runs the
    * same (idempotent, crash-protocol'd) pass and converges. A healthy
    * index pays one bounded blockstats aggregate plus driver-side
    * directory listings per scheduled pass. Serving sessions ride the
    * mutation markers: a rebucket's whole-tree swap is waited out by
    * [[graft.streaming.PinnedIndex]] and the new layout is picked up at
    * the next trigger — no restart (`StreamAutoMaintainSpec`). */
  def appendStream(
      s: SparkSession,
      indexDir: String,
      docs: DataFrame,
      checkpointDir: String,
      maintainEvery: Int = 0,
      targetSbs: Int = 32,
      maxFilesPerSb: Int = 4,
      adviseGated: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        append(s, indexDir, df.toDF())
        if (maintainEvery > 0 && batchId % maintainEvery == maintainEvery - 1) {
          // adviseGated: the layout repair fires only when Router's
          // shared planners predict it flips a route — the stronger
          // policy condition (verdict r13 Next #6); hygiene always runs
          if (adviseGated) Router.maintainPostingsIfAdvised(s, indexDir,
            targetSbs, maxFilesPerSb)
          else maintain(s, indexDir, targetSbs, maxFilesPerSb)
        }
        ()
      }
      .start()

  /** Streaming takedown: opt-out doc ids arriving as a stream apply to
    * the standing index per micro-batch — [[appendStream]]'s dual, run
    * through the same `foreachBatch` composition: [[delete]] is a pure
    * function of (state − ids), so the at-least-once retry a
    * foreachBatch sink actually has re-deletes nothing, and interleaved
    * appends/deletes serialize at the index: the WATERMARK blocks
    * re-ingest of already-ingested deleted ranges, and the `tombstones/`
    * table blocks first ingest of ids whose takedown arrived before
    * their batch. The stream's only state is the sink checkpoint. */
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

  /** Compact fragmented superblock partitions — the small-file
    * maintenance leg of THIS index's lifecycle (build → append →
    * appendStream → compact → query), [[IvfIndex.compact]]'s discipline
    * pointed at the postings layout: a streaming ingest rewrites the
    * tail superblock every micro-batch with as many part files as tasks
    * carried its rows, so the hot tail accumulates slivers — the
    * per-file open/footer tax on every term-pruned scan. Driver-side
    * directory metadata (superblock-count-bounded) finds partitions
    * above `maxFilesPerSb`; ONLY those rewrite, repartitioned BY sb
    * (one task and one file each) under the same dynamic partition
    * overwrite the append path uses. Untouched partitions keep their
    * exact files; rows are bit-identical; a re-run finds nothing above
    * the threshold. (blockstats never fragments: one row per sb.)
    *
    * Compacted files are additionally SORTED key-major (term for the
    * term tables, doc_id for the norms) — Lucene's sorted term
    * dictionary, at parquet granularity: an append-order file has every
    * term's range spanning the whole file, so row-group min/max stats
    * prune nothing for a term-pushed scan; a term-sorted rewrite makes
    * each row group's [min, max] a narrow slice, so the scan skips the
    * groups a probe's terms cannot live in. Sorting rides the rewrite
    * for free (one task per partition already holds its rows) and is
    * layout-only — the contents-equality specs gate it unchanged.
    * Returns (partitions compacted, files before, files after). */
  def compact(
      s: SparkSession,
      indexDir: String,
      maxFilesPerSb: Int = 4): (Long, Long, Long) = {
    def dataFiles(d: String): Int =
      IndexFs.listStatus(d).count(c =>
        !c.isDir && !c.name.startsWith(".") && !c.name.startsWith("_"))
    // both row tables fragment the same way under streaming ingest (the
    // positions table rewrites the hot tail each micro-batch too);
    // blockstats never fragments (one row per sb)
    def compactDir(path: String, sortCols: Seq[String]): (Long, Long, Long) = {
      val frag = IndexFs.listStatus(path)
        .filter(c => c.isDir && c.name.startsWith("sb="))
        .map(c => s"$path/${c.name}")
        .filter(dataFiles(_) > maxFilesPerSb)
      if (frag.isEmpty) (0L, 0L, 0L)
      else {
        val ids = frag.map(_.split('/').last.stripPrefix("sb=").toInt)
        val before = frag.map(dataFiles).sum.toLong
        val merged = s.read.parquet(path)
          .where(col("sb").isin(ids.map(Integer.valueOf): _*))
          .repartition(col("sb"))
          // sb FIRST: the partitionBy writer requires ordering by the
          // partition column and would otherwise insert its own sort on
          // top — leaving the key-major property hanging on that sort's
          // stability (not guaranteed under spill). Leading with sb
          // satisfies the writer's required ordering, so ONE sort runs
          // and each file keeps its keys in order.
          .sortWithinPartitions(("sb" +: sortCols).map(col): _*)
          // EAGER: the rewrite deletes the very files being read (the
          // append-path hazard, same cure)
          .graftCheckpoint()
        writePartitioned(merged, path, dynamic = true)
        org.apache.spark.sql.graft.Bridge.releaseCheckpoint(merged)
        val after = frag.map(dataFiles).sum.toLong
        (frag.size.toLong, before, after)
      }
    }
    val dirs = Seq(
      s"$indexDir/postings" -> Seq("term", "block"),
      s"$indexDir/positions" -> Seq("term", "doc_id"),
      s"$indexDir/doclens" -> Seq("doc_id"),
      s"$indexDir/termstats" -> Seq("term"))
      .filter { case (p, _) => IndexFs.isDirectory(p) }
    // torn-window guard around the per-table rewrites; a no-op compact
    // raises and clears the marker with no bump — readers see no change
    IndexVersion.beginMutation(indexDir, "compact")
    val out = dirs.map { case (p, sc) => compactDir(p, sc) }
      .foldLeft((0L, 0L, 0L)) {
        case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
      }
    // refresh signal: a pinned serving frame would otherwise keep
    // referencing the very files the compaction just deleted
    if (out._1 > 0) IndexVersion.bump(indexDir)
    IndexVersion.endMutation(indexDir)
    out
  }

  /** Re-layout the standing index at a different superblock size — the
    * production fix for the measured fragmentation inversion (BASELINE
    * round 12: superBits sized for a small corpus that then grew 10×
    * leaves ~9 ms of file-open cost per tiny partition, and the
    * term-pruned scan LOSES to a linear corpus scan — 2.6 s vs 1.7 s at
    * the sf1 gate index; re-laid out at superBits=8 it wins again at
    * 0.5 s, `SbSizeProbe`). The Lucene analog is a forceMerge: an
    * unavoidable full-index rewrite (every row's partition changes),
    * amortized over every query after — and the one the stats-driven
    * router ([[Router.decideBm25]]'s per-superblock term) tells you to
    * schedule.
    *
    * Rows are layout-invariant: postings keep (term, block, plist) —
    * block is doc-id-derived, unchanged — and only the sb tag
    * re-derives (`sb = block >> superBits`); positions/doclens re-tag
    * from doc_id the same way; termstats re-aggregate from the
    * re-tagged postings via the SAME derivation a build uses; and
    * blockstats re-derive (n_docs, total_len, per-sb doc max) from
    * doclens — the doc-level source of truth — while every standing
    * ingest watermark maps to the superblock that now contains it, so
    * the GLOBAL watermark (append's replay guard) survives exactly,
    * even for superblocks whose every doc was deleted. Tombstones copy
    * through verbatim.
    *
    * Atomicity is a whole-tree staged swap ([[vacuumTombstones]]'s
    * discipline at index scope): the complete new tree lands at
    * `<indexDir>.next` + a READY marker, the standing tree parks at
    * `<indexDir>.old`, the new tree renames in, then the old tree
    * drops. Every crash window either leaves the standing tree
    * untouched (pre-READY scratch is discarded), is rolled FORWARD
    * (READY tree present), or is rolled BACK (parked tree restored) by
    * [[recoverRebucket]], which runs at the head of every rebucket; a
    * crash can leave the index path briefly ABSENT, which fails queries
    * loudly (never wrongly) until the recovery runs. The new tree
    * carries a fresh [[IndexVersion]] stamp, so running serving
    * sessions re-open it at their next trigger. CONTRACT: the new tree
    * carries ONLY the index's own tables (postings, termstats,
    * positions, doclens, blockstats, meta, tombstones, version stamp) —
    * application files stored inside the index directory do not survive
    * a re-layout; keep memos beside the tree, not in it
    * ([[ensureLifecycleIndex]] learned this the measured way). Returns
    * (superblocks before, superblocks after). */
  def rebucket(
      s: SparkSession, indexDir: String, newSuperBits: Int): (Long, Long) = {
    // a crashed append/delete leaves MIXED tables behind its mutation
    // marker; re-deriving stats from them and swapping in a fresh-
    // stamped tree would bake the tear in AND destroy the replay
    // evidence (the marker parks away with the old tree) — refuse until
    // the crashed op is replayed
    IndexVersion.requireNoMutation(indexDir, "rebucket")
    recoverRebucket(indexDir)
    val oldBits = readSuperBits(s, indexDir)
    val oldSb = s.read.parquet(s"$indexDir/blockstats").count()
    if (oldBits == newSuperBits) return (oldSb, oldSb)
    import s.implicits._
    val bb = Retrieval.postingsBlockBits
    val next = s"$indexDir.next"
    rmDirTree(next)
    val state = s.read.parquet(s"$indexDir/postings")
      .select(col("term"), col("block"), col("plist"),
        shiftright(col("block"), newSuperBits).cast("int").as("sb"))
      // EAGER + two consumers (postings write, termstats re-derivation)
      .graftCheckpoint()
    writePartitioned(state, s"$next/postings", dynamic = false)
    writePartitioned(termStatsOf(state), s"$next/termstats",
      dynamic = false)
    org.apache.spark.sql.graft.Bridge.releaseCheckpoint(state)
    def sbOf(doc: org.apache.spark.sql.Column) =
      shiftright(doc, bb + newSuperBits).cast("int")
    // positional payload is optional index state (Router.decidePhrase
    // models its absence) — re-tag it only where it exists
    if (IndexFs.isDirectory(s"$indexDir/positions"))
      writePartitioned(
        s.read.parquet(s"$indexDir/positions")
          .select(col("doc_id"), col("term"), col("positions"),
            sbOf(col("doc_id")).as("sb")),
        s"$next/positions", dynamic = false)
    // doclens is NOT optional: blockstats re-derivation needs the
    // doc-level source of truth (a pre-norms-layout index must be
    // rebuilt by the current buildFrom before it can re-bucket)
    require(IndexFs.isDirectory(s"$indexDir/doclens"),
      s"$indexDir predates the doclens norms table: rebuild it with the " +
        "current buildFrom before rebucket")
    val doclens = s.read.parquet(s"$indexDir/doclens")
      .select(col("doc_id"), col("dl"), sbOf(col("doc_id")).as("sb"))
    writePartitioned(doclens, s"$next/doclens", dynamic = false)
    val counts = doclens.groupBy(col("sb"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"),
        max(col("doc_id")).as("doc_max"))
    val wms = s.read.parquet(s"$indexDir/blockstats")
      .select(sbOf(col("max_doc_id")).as("sb"), col("max_doc_id"))
      .groupBy(col("sb")).agg(max(col("max_doc_id")).as("wm"))
    val bs = counts.join(wms, Seq("sb"), "full_outer")
      .select(col("sb"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("total_len"), lit(0L)).as("total_len"),
        greatest(coalesce(col("wm"), lit(-1L)),
          coalesce(col("doc_max"), lit(-1L))).as("max_doc_id"))
    writePartitioned(bs, s"$next/blockstats", dynamic = false)
    Seq(newSuperBits.toLong).toDF("super_bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$next/meta")
    recoverTombstones(indexDir)
    if (IndexFs.isDirectory(s"$indexDir/tombstones"))
      s.read.parquet(s"$indexDir/tombstones").coalesce(1)
        .write.parquet(s"$next/tombstones")
    IndexVersion.bump(next) // fresh stamp: serving refreshes
    val newSb = s.read.parquet(s"$next/blockstats").count()
    // commit point — from here recovery only moves directories. The two
    // renames REQUIRE IndexFs.rename's atomic whole-tree contract; an
    // object-store binding must manifest-commit instead (IndexFs scaladoc)
    IndexFs.createMarker(s"$next/_GRAFT_REBUCKET_READY")
    val old = s"$indexDir.old"
    require(IndexFs.rename(indexDir, old),
      s"rebucket: could not park $indexDir")
    require(IndexFs.rename(next, indexDir),
      s"rebucket: could not install the new tree at $indexDir")
    IndexFs.delete(s"$indexDir/_GRAFT_REBUCKET_READY")
    rmDirTree(old)
    (oldSb, newSb)
  }

  /** Stats-driven layout maintenance — ONE call that inspects the
    * standing index and runs whichever repairs its own stats call for,
    * in dependency order; the detection half of
    * [[Router.decideBm25]]'s per-superblock cost term turned into
    * action (the round-12 measured finding: a fragmented layout makes
    * the index LOSE to a linear scan; the fix is layout, and this is
    * where it gets scheduled):
    *
    *  1. REBUCKET when the superblock count is out of band — more than
    *     4× `targetSbs` (hysteresis: the rewrite is a full-index pass,
    *     not worth chasing small drift) — to the superBits that puts
    *     the CURRENT watermark's id space at ≈ `targetSbs` partitions;
    *  2. COMPACT superblocks fragmented past `maxFilesPerSb` (the
    *     small-file tax of streaming ingest);
    *  3. VACUUM watermark-covered tombstones.
    *
    * All three are idempotent and individually crash-safe (their own
    * protocols), so the maintenance pass needs no transaction of its
    * own; a re-run after any crash converges. Returns the action log —
    * empty = the layout was already healthy. */
  /** `rebucketOk = false` defers the whole-tree re-layout while keeping
    * the bounded hygiene legs (compact, vacuum) — the seam
    * [[Router.maintainPostingsIfAdvised]] gates on a predicted route
    * flip. */
  def maintain(
      s: SparkSession, indexDir: String,
      targetSbs: Int = 32, maxFilesPerSb: Int = 4,
      rebucketOk: Boolean = true): Seq[String] = {
    IndexVersion.requireNoMutation(indexDir, "maintain")
    recoverRebucket(indexDir)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val row = s.read.parquet(s"$indexDir/blockstats")
      .agg(count(lit(1)), coalesce(max(col("max_doc_id")), lit(0L)))
      .collect()(0)
    val nSb = row.getLong(0)
    val maxDoc = row.getLong(1)
    if (rebucketOk && nSb > 4L * targetSbs) { // meta read only when possibly out of band
      val bits = readSuperBits(s, indexDir)
      plannedRebucket(nSb, maxDoc, bits, targetSbs).foreach { case (need, _) =>
        val (before, after) = rebucket(s, indexDir, need)
        actions += s"rebucket: superBits $bits -> $need ($before -> $after sbs)"
      }
    }
    val (compacted, filesBefore, filesAfter) =
      compact(s, indexDir, maxFilesPerSb)
    if (compacted > 0)
      actions += s"compact: $compacted sbs, $filesBefore -> $filesAfter files"
    val (dropped, kept) = vacuumTombstones(s, indexDir)
    if (dropped > 0)
      actions += s"vacuum: $dropped tombstones dropped, $kept in flight"
    actions.toSeq
  }

  /** Crash recovery for [[rebucket]]'s whole-tree swap; every branch is
    * idempotent. With the index path present: a READY staged tree rolls
    * FORWARD (complete the swap), a non-READY one is pre-commit scratch
    * and is discarded, a stale parked tree is a superseded copy and is
    * dropped. With the index path absent (a crash between the renames):
    * a READY staged tree installs, else the parked tree restores. */
  private[graft] def recoverRebucket(indexDir: String): Unit = {
    val next = s"$indexDir.next"
    val old = s"$indexDir.old"
    def ready = IndexFs.exists(s"$next/_GRAFT_REBUCKET_READY")
    if (IndexFs.isDirectory(indexDir)) {
      if (IndexFs.isDirectory(next) && ready) {
        rmDirTree(old)
        require(IndexFs.rename(indexDir, old),
          s"rebucket recovery: could not park $indexDir")
        require(IndexFs.rename(next, indexDir),
          s"rebucket recovery: could not install $indexDir")
        IndexFs.delete(s"$indexDir/_GRAFT_REBUCKET_READY")
      } else rmDirTree(next)
      rmDirTree(old)
    } else if (IndexFs.isDirectory(next) && ready) {
      require(IndexFs.rename(next, indexDir),
        s"rebucket recovery: could not install $indexDir")
      IndexFs.delete(s"$indexDir/_GRAFT_REBUCKET_READY")
      rmDirTree(old)
    } else if (IndexFs.isDirectory(old)) {
      require(IndexFs.rename(old, indexDir),
        s"rebucket recovery: could not restore $indexDir")
      rmDirTree(next)
    }
  }

  /** Dynamic partition overwrite never touches a partition the written
    * frame has NO rows for — so a superblock whose every row is deleted
    * would keep its stale files. Purge those explicitly. */
  private def purgeEmptyPartitions(
      path: String, touched: Seq[Int], live: Set[Int]): Unit =
    (touched.toSet -- live).foreach { sb =>
      IndexFs.deleteTree(s"$path/sb=$sb")
    }

  private def rmDirTree(d: String): Unit = IndexVersion.rmDirTree(d)

  /** Crash repair for [[vacuumTombstones]]'s two-rename swap: if the
    * standing `tombstones/` is missing but the pre-vacuum set is parked
    * at `tombstones.old` (a crash between the renames), restore it. The
    * pre-vacuum set is a superset of the vacuumed one — restoring it is
    * always safe (extra tombstones only re-filter ids the watermark
    * already blocks). Called before every tombstone read or write, so no
    * reader ever observes the mid-swap window. */
  private def recoverTombstones(indexDir: String): Unit = {
    val tomb = s"$indexDir/tombstones"
    val old = s"$indexDir/tombstones.old"
    if (!IndexFs.isDirectory(tomb) && IndexFs.isDirectory(old))
      // require-checked: a silently-failed restore would make the caller
      // read "no tombstones" and re-admit taken-down ids
      require(IndexFs.rename(old, tomb),
        s"could not restore the parked tombstone set at $indexDir")
  }

  /** Delete a set of doc ids from the standing index — the opt-out /
    * takedown leg of the lifecycle (build → append → compact → DELETE →
    * query), without which a 100 TB corpus index must rebuild to forget
    * a document. Rewrites ONLY the superblock partitions the ids can
    * live in: the partition is a pure function of the id
    * (sb = doc_id >> (blockBits + superBits)), so the touched set comes
    * from the delete list alone — no index scan, the same
    * touched-partitions discipline as [[append]].
    *
    * Exactness under deletion is what the [[doclensStateOf]] norms
    * table buys: touched blockstats recompute n_docs/total_len from the
    * SURVIVING doclens rows (zero-token docs included — they have no
    * postings or positions row to recover from), while `max_doc_id` is
    * deliberately carried forward: it is the ingest watermark, and
    * letting it regress would let a replayed append resurrect the very
    * docs just deleted. (term, block) rows and termstats rows whose
    * entries all die vanish with the partition rewrite; a partition
    * whose every row dies is purged explicitly (dynamic overwrite
    * cannot rewrite a partition it has no rows for). Replaying the same
    * delete is a no-op by construction — every write is a pure function
    * of (standing state − ids).
    *
    * An id ABOVE the ingest watermark has no physical rows yet, and the
    * watermark guard alone would re-admit it when its batch finally
    * arrives (the delete-before-append interleaving [[deleteStream]] /
    * [[appendStream]] checkpoints can replay). Those ids land in a
    * `tombstones/` table — written FIRST and APPEND-ONLY, so a crash
    * mid-delete leaves every takedown standing, prior ones included —
    * that [[append]] anti-joins every incoming
    * batch against; cumulative and bounded by above-watermark takedown
    * volume ([[IvfIndex.delete]]'s `deleted/` discipline). Returns
    * (partitions touched, posting entries removed). */
  def delete(s: SparkSession, indexDir: String, ids: DataFrame): (Long, Long) = {
    val superBits = readSuperBits(s, indexDir)
    val del = ids.select(col("doc_id")).distinct().graftCheckpoint()
    val wm = s.read.parquet(s"$indexDir/blockstats")
      .agg(coalesce(max(col("max_doc_id")), lit(-1L))).collect()(0).getLong(0)
    val above = del.where(col("doc_id") > wm)
    if (above.limit(1).count() > 0) {
      val tombDir = s"$indexDir/tombstones"
      recoverTombstones(indexDir)
      // APPEND-ONLY: a whole-set rewrite to the same path would delete
      // the standing files before the new job commits, so a crash
      // mid-write would erase every prior tombstone — the exact
      // resurrection this table exists to block. Appending only the ids
      // not already present keeps prior takedowns physically untouched
      // (the append's files appear at job commit; a crash leaves only
      // `_temporary/` garbage readers ignore) and makes a replayed
      // delete a no-op by the anti-join. Shrinking the set is
      // [[vacuumTombstones]]'s job, via a staged swap.
      val fresh =
        if (IndexFs.isDirectory(tombDir))
          above.join(s.read.parquet(tombDir), Seq("doc_id"), "left_anti")
        else above
      if (fresh.limit(1).count() > 0)
        fresh.coalesce(1).write.mode("append").parquet(tombDir)
    }
    // only ids at or below the watermark can have physical rows — an
    // above-watermark takedown is fully served by its tombstone, no
    // partition rewrite
    val touched = del.where(col("doc_id") <= wm)
      .select(shiftright(col("doc_id"), Retrieval.postingsBlockBits + superBits)
        .cast("int").as("sb"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) {
      // the COMMON path for purely above-watermark takedowns (a
      // deleteStream of not-yet-ingested ids hits it every micro-batch)
      // — release the checkpoint here too or each batch pins blocks
      // until the ContextCleaner notices
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(del)
      (0L, 0L)
    } else {
      val sbs = touched.map(Integer.valueOf).toSeq
      val before = s.read.parquet(s"$indexDir/postings")
        .where(col("sb").isin(sbs: _*))
        .select(explode(col("plist"))).count()
      val kept = s.read.parquet(s"$indexDir/postings")
        .where(col("sb").isin(sbs: _*))
        .select(col("term"), col("block"), col("sb"),
          explode(col("plist")).as("e"))
        .join(del, col("e.doc_id") === del("doc_id"), "left_anti")
        .groupBy(col("term"), col("block"), col("sb"))
        .agg(sort_array(collect_list(col("e"))).as("plist"))
        .select(col("term"), col("block"), col("plist"), col("sb"))
        // EAGER: the writes replace the files being read
        .graftCheckpoint()
      val after = kept.select(explode(col("plist"))).count()
      val liveSbs = kept.select(col("sb")).distinct()
        .collect().map(_.getInt(0)).toSet
      // torn-window guard: four sequential table rewrites follow
      IndexVersion.beginMutation(indexDir, "delete")
      writePartitioned(kept, s"$indexDir/postings", dynamic = true)
      writePartitioned(termStatsOf(kept), s"$indexDir/termstats",
        dynamic = true)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(kept)
      purgeEmptyPartitions(s"$indexDir/postings", touched, liveSbs)
      purgeEmptyPartitions(s"$indexDir/termstats", touched, liveSbs)
      val posKept = s.read.parquet(s"$indexDir/positions")
        .where(col("sb").isin(sbs: _*))
        .join(del, Seq("doc_id"), "left_anti")
        .graftCheckpoint()
      val posLive = posKept.select(col("sb")).distinct()
        .collect().map(_.getInt(0)).toSet
      writePartitioned(posKept, s"$indexDir/positions", dynamic = true)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(posKept)
      purgeEmptyPartitions(s"$indexDir/positions", touched, posLive)
      val dlKept = s.read.parquet(s"$indexDir/doclens")
        .where(col("sb").isin(sbs: _*))
        .join(del, Seq("doc_id"), "left_anti")
        .graftCheckpoint()
      val dlLive = dlKept.select(col("sb")).distinct()
        .collect().map(_.getInt(0)).toSet
      writePartitioned(dlKept, s"$indexDir/doclens", dynamic = true)
      // blockstats: survivors' counts, the standing watermark — the row
      // persists at n_docs = 0 so the superblock stays non-ingestable
      val statsNew = s.read.parquet(s"$indexDir/blockstats")
        .where(col("sb").isin(sbs: _*))
        .select(col("sb"), col("max_doc_id"))
        .join(dlKept.groupBy(col("sb"))
            .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len")),
          Seq("sb"), "left")
        .select(col("sb"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("total_len"), lit(0L)).as("total_len"),
          col("max_doc_id"))
        .graftCheckpoint()
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(dlKept)
      purgeEmptyPartitions(s"$indexDir/doclens", touched, dlLive)
      writePartitioned(statsNew, s"$indexDir/blockstats", dynamic = true)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(statsNew)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(del)
      IndexVersion.bump(indexDir) // refresh signal for serving sessions
      IndexVersion.endMutation(indexDir)
      (touched.length.toLong, before - after)
    }
  }

  /** Drop tombstones the watermark already enforces — the hygiene pass
    * that keeps `tombstones/` bounded by IN-FLIGHT takedowns instead of
    * all-time above-watermark takedown volume: an id at or below the
    * ingest watermark can never re-enter via [[append]] (the
    * `doc_id > wm` guard runs BEFORE the tombstone anti-join), so its
    * tombstone is redundant the moment the watermark passes it. A pure
    * function of (standing tombstones, watermark) — idempotent,
    * replay-safe, and safe to run concurrently with queries (queries
    * never read tombstones). The vector index has NO analog: its append
    * precedence is id-based with no watermark, so [[IvfIndex]]'s
    * `deleted/` table must stay cumulative — the documented asymmetry.
    *
    * The rewrite is a STAGED SWAP, never an in-place overwrite (which
    * would delete the standing set before the new job commits — a crash
    * there would erase live above-watermark tombstones): the kept set is
    * written whole to `tombstones.next`, the standing dir is parked at
    * `tombstones.old`, the new dir renamed into place, and only then is
    * the old set dropped. Every crash window is covered: before the
    * first rename the standing set is untouched; between the renames
    * [[recoverTombstones]] (run before every tombstone read) restores
    * the parked pre-vacuum set — a safe superset; after the second the
    * new set is live and `.old` is stale garbage the next vacuum sweeps.
    * Returns (tombstones dropped, tombstones kept). */
  def vacuumTombstones(s: SparkSession, indexDir: String): (Long, Long) = {
    recoverTombstones(indexDir)
    val tombDir = s"$indexDir/tombstones"
    if (!IndexFs.isDirectory(tombDir)) (0L, 0L)
    else {
      val wm = s.read.parquet(s"$indexDir/blockstats")
        .agg(coalesce(max(col("max_doc_id")), lit(-1L))).collect()(0).getLong(0)
      // EAGER: the staged write replaces the files being read only after
      // the swap, but the count + write double-consume the scan
      val t = s.read.parquet(tombDir).graftCheckpoint()
      val kept = t.where(col("doc_id") > wm)
      val total = t.count()
      val keptN = kept.count()
      if (keptN < total) {
        val next = s"$tombDir.next"
        val old = s"$tombDir.old"
        rmDirTree(next); rmDirTree(old) // stale scratch from a prior crash
        kept.coalesce(1).write.mode("overwrite").parquet(next)
        // require-checked swap: an unchecked second rename followed by
        // the old-set delete could destroy the only surviving copy
        // (atomic whole-tree renames — IndexFs contract)
        require(IndexFs.rename(tombDir, old),
          s"vacuum: could not park the standing tombstones at $tombDir")
        require(IndexFs.rename(next, tombDir),
          s"vacuum: could not install the new tombstone set at $tombDir")
        rmDirTree(old)
      }
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(t)
      (total - keptN, keptN)
    }
  }

  /** BM25 top-10 for [[Retrieval.queryTerms]] FROM THE INDEX: a
    * term-pruned postings scan explodes into the (doc_id, dl, token, tf)
    * frame and the superblock stats sum to the globals — then the
    * scoring epilogue is [[Retrieval.bm25Score]] verbatim, which is why
    * this entry shares `bm25_topk`'s oracle bit for bit. */
  def query(
      s: SparkSession, indexDir: String,
      terms: Seq[String] = Retrieval.queryTerms): DataFrame = {
    val tf = s.read.parquet(s"$indexDir/postings")
      .where(col("term").isin(terms: _*))
      .select(col("term").as("token"), explode(col("plist")).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.dl").as("dl"),
        col("token"), col("e.tf").as("tf"))
      .graftCheckpoint()
    Retrieval.bm25Score(tf, globalStats(s, indexDir))
  }

  private def globalStats(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/blockstats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_len")).as("total_len"))

  /** Score the docs of `sbs` only: a STATICALLY pruned partition scan of
    * the selected superblocks, fed through the one shared scoring
    * epilogue with the index's stored term df (a pruned tf frame can no
    * longer derive df from itself — that is `bm25ScoreWith`'s seam). */
  private def scoreSbs(
      s: SparkSession, indexDir: String, terms: Seq[String],
      sbs: Seq[Int], k: Int,
      dfT: Option[DataFrame] = None,
      stats: Option[DataFrame] = None): DataFrame = {
    // dfT/stats may arrive as LOCAL relations from a caller that already
    // holds them ([[wandSelect]] collects both in its one probe
    // round-trip) — the scoring job then never re-scans termstats or
    // blockstats (r16: two scans + a groupBy + two broadcasts off every
    // WAND scoring job)
    val dfTF = dfT.getOrElse(
      s.read.parquet(s"$indexDir/termstats")
        .where(col("term").isin(terms: _*))
        .groupBy(col("term")).agg(sum(col("df_sb")).as("df"))
        .select(col("term").as("token"), col("df")))
    val tf = s.read.parquet(s"$indexDir/postings")
      .where(col("sb").isin(sbs.map(Integer.valueOf): _*) &&
        col("term").isin(terms: _*))
      .select(col("term").as("token"), explode(col("plist")).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.dl").as("dl"),
        col("token"), col("e.tf").as("tf"))
    Retrieval.bm25ScoreWith(tf, stats.getOrElse(globalStats(s, indexDir)), dfTF, k)
  }

  /** WAND superblock selection: which partitions can possibly hold a
    * top-`k` document? Returns (selected sbs, all sbs with query terms).
    *
    * Soundness is argued entirely in the QUANTIZED INTEGER domain the
    * scores are summed in: per (term, sb) the bound
    * `ubq = round(idf·tfPart(max_tf, min_dl)·10⁴)` uses the exact same
    * expression trees as a document's per-term contribution
    * (`Retrieval.qScoreCol`), and both trees are weakly monotone under
    * IEEE round-to-nearest — so `qs(doc, term) ≤ ubq(term, sb)` holds as
    * computed, not just mathematically, and a doc's total
    * `sq = Σ qs ≤ Σ ubq = UBq(sb)` in exact BIGINT arithmetic. The
    * threshold θ is the k-th best total sq over a bootstrap prefix of
    * superblocks (taken in UBq-descending order until a per-sb LOWER
    * bound on distinct docs — max over terms of df_sb — covers k);
    * a superblock is pruned iff `UBq < θ` STRICTLY, because a pruned doc
    * tying θ could still win the (sq desc, doc_id asc) tie-break. With
    * fewer than k bootstrap docs, nothing prunes (θ undefined) and the
    * query degenerates to the full indexed scan — correct, never wrong.
    * Driver-side work is one collect of the per-sb bound frame
    * (superblock-count-bounded, the touched-cells discipline). */
  private[graft] def wandSelect(
      s: SparkSession, indexDir: String, terms: Seq[String],
      k: Int): (Seq[Int], Seq[Int], DataFrame, DataFrame) = {
    import s.implicits._
    // ONE bounded probe round-trip (r16, verdict Next #1): the old shape
    // ran a tiny checkpoint + a three-broadcast grouped collect — ~0.7 s
    // of fixed cost on ≤ |terms|·superblocks rows (WandPhaseProbe). The
    // term-pruned termstats rows and the 1-row global stats now arrive in
    // one union'd collect (the stats row rides with term = NULL), and the
    // old DAG's arithmetic happens either on the driver over exact
    // BIGINTs (df sums, per-sb UBq sums, min-docs maxes — order-free
    // integer folds, bit-equal to the SQL aggregates they replace) or
    // through the SAME shared Catalyst tree evaluated over a local
    // relation (ubq = qScoreCol: the WAND soundness argument rides the
    // expression tree, which is unchanged — only its input relation
    // moved). Also returned: the df/stats LOCAL relations, so neither
    // the bootstrap nor the final scoring job re-scans the stats tables.
    val rows = s.read.parquet(s"$indexDir/termstats")
      .where(col("term").isin(terms: _*))
      .select(col("term"), col("sb").cast("int").as("sb"),
        col("max_tf").cast("long").as("max_tf"),
        col("min_dl").cast("long").as("min_dl"),
        col("df_sb").cast("long").as("df_sb"))
      .unionByName(globalStats(s, indexDir)
        .select(lit(null).cast("string").as("term"), lit(-1).as("sb"),
          coalesce(col("n_docs"), lit(0L)).as("max_tf"),
          coalesce(col("total_len"), lit(0L)).as("min_dl"),
          lit(0L).as("df_sb")))
      .collect()
    val (statsRows, tRows) = rows.partition(_.isNullAt(0))
    val nDocs = statsRows.head.getLong(2)
    val totalLen = statsRows.head.getLong(3)
    // exact global df per term: a driver-side BIGINT sum of df_sb
    val dfByTerm = tRows.groupMapReduce(_.getString(0))(_.getLong(4))(_ + _)
    // per-(term, sb) quantized upper bound via the SHARED expression tree
    // over a local relation — no exchange, no broadcast
    val ubqRows =
      if (tRows.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else tRows.toSeq
        .map(r => (r.getInt(1), r.getLong(4), r.getLong(2), r.getLong(3),
          dfByTerm(r.getString(0)), nDocs, totalLen))
        .toDF("sb", "df_sb", "max_tf", "min_dl", "df", "n_docs", "total_len")
        .select(col("sb"), col("df_sb"),
          Retrieval.qScoreCol(col("max_tf"), col("min_dl")).as("ubq"))
        .collect()
    val perSb = ubqRows
      .groupBy(_.getInt(0)).toSeq
      .map { case (sb, rs) =>
        (sb, rs.map(_.getLong(2)).sum, rs.map(_.getLong(1)).max)
      }
      .toArray
    val dfT = dfByTerm.toSeq.toDF("token", "df")
    val statsF = Seq((nDocs, totalLen)).toDF("n_docs", "total_len")
    val byBound = perSb.sortBy(r => (-r._2, r._1))
    // bootstrap: the best-bounded prefix guaranteed to hold ≥ k docs
    val cum = byBound.scanLeft(0L)(_ + _._3).tail
    val nBoot = cum.indexWhere(_ >= k) match {
      case -1 => byBound.length
      case i  => i + 1
    }
    val boot = byBound.take(nBoot).map(_._1).toSeq
    val theta: Option[Long] =
      if (boot.isEmpty) None
      else {
        val scores =
          scoreSbs(s, indexDir, terms, boot, k, Some(dfT), Some(statsF)).collect()
        if (scores.length < k) None
        else Some(scores.map(r => math.rint(r.getDouble(1) * 10000.0).toLong).min)
      }
    val selected = theta match {
      case None    => byBound.map(_._1).toSeq
      case Some(t) => (boot ++ byBound.drop(nBoot).filter(_._2 >= t).map(_._1)).toSeq
    }
    (selected.sorted, perSb.map(_._1).sorted.toSeq, dfT, statsF)
  }

  /** Block-max WAND top-`k`: prune superblock partitions whose quantized
    * impact upper bound cannot reach the bootstrap threshold, then score
    * ONLY the surviving partitions — the classic two-level
    * candidate-then-exact retrieval shape ([[wandSelect]] carries the
    * exactness argument), bit-identical to the full indexed scan and so
    * to `bm25_topk`'s oracle. On a corpus whose probe terms spread
    * evenly the bound never separates and nothing prunes (the gate
    * corpus — documented, still exact); the spec's skewed corpus proves
    * the pruning bites where impact concentrates. */
  def queryWand(
      s: SparkSession, indexDir: String,
      terms: Seq[String] = Retrieval.queryTerms, k: Int = 10): DataFrame = {
    val (selected, _, dfT, statsF) = wandSelect(s, indexDir, terms, k)
    scoreSbs(s, indexDir, terms, selected, k, Some(dfT), Some(statsF))
  }

  /** Oracle-gated WAND entry (`bm25_wand`): the same lifecycle index as
    * `bm25_indexed`, queried through the pruning path; shares
    * `bm25_topk`'s oracle because the pruning is exact. */
  def bm25Wand(s: SparkSession, dir: String): DataFrame =
    queryWand(s, ensureLifecycleIndex(s, dir))

  /** Oracle-gated query entry (`bm25_indexed`): build-once/query-many
    * through the FULL lifecycle — bootstrap from the corpus prefix below
    * half the max doc id, then append the rest as an ingest increment
    * rewriting only tail partitions — sharing `bm25_topk`'s oracle
    * ([[IvfIndex.annIvfIndexed]]'s amortization + done-ness discipline:
    * marker keyed by corpus dir AND the documents table's leaf-file
    * fingerprint, so a regenerated corpus can never serve a stale
    * index). Gate superBits = 2 (256-doc partitions) keeps the
    * partition count non-vacuous at every test SF. */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame =
    query(s, ensureLifecycleIndex(s, dir))

  /** Per-query more-like-this BM25 FROM THE INDEX: for each (query_id,
    * term) row of the bounded query-profile frame `qt` (a handful of
    * probe documents' distinct tokens), score every OTHER document's
    * match against that profile and keep the top `k` per query — the
    * lexical candidate generator of an indexed hybrid-retrieval stack
    * ([[graft.operators.Retrieval.hybridRrfIndexed]]).
    *
    * Plan: ONE term-pruned postings scan over the union of all queries'
    * terms (the isin pushes to the parquet scan — bytes read are
    * Σ df(term), never the corpus), exploded once and joined to the
    * broadcast profile; term df comes from the stored `termstats` (the
    * [[scoreSbs]] seam — a pruned frame cannot derive df from itself...
    * here it could, but the stored stats are the production source and
    * already oracle-gated), globals from `blockstats`. Scores are the
    * shared quantized trees ([[Retrieval.qScoreCol]]), summed as BIGINTs
    * per (query, doc) — partition-order-free — then ranked
    * (sum desc, doc_id asc) within each query. Self-matches are
    * excluded (a query doc would trivially top its own profile). */
  def bm25MoreLikeThis(
      s: SparkSession, indexDir: String, qt: DataFrame, k: Int,
      maxTerms: Int = Retrieval.mltProfileTerms): DataFrame = {
    import s.implicits._
    val termstats = s.read.parquet(s"$indexDir/termstats")
    // informative-term selection (the Lucene MoreLikeThis discipline):
    // keep each query's `maxTerms` LOWEST-df profile terms (rarest =
    // highest idf = most informative; ties by token — a total order both
    // engines share). A raw document vocabulary is stopword-heavy, and
    // Σ df over stopwords is corpus-proportional — the selection is what
    // keeps the postings leg's I/O query-bounded at 100 TB. df comes
    // from the stored termstats: a vocabulary-sized term-pruned lookup.
    // The selection itself runs ON THE DRIVER over two bounded collects
    // (the profile rows and their df lookups) — at a handful of probe
    // documents this is hundreds of rows, and keeping it local avoids
    // the checkpoint + window round-trips that would otherwise dominate
    // the query's latency (a serving-path concern as much as a bench
    // one).
    val profRows = qt.select(col("query_id"), col("term"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val allTerms = profRows.map(_._2).distinct.toSeq
    // df summed over superblocks ON THE DRIVER: the term-pruned scan
    // returns ≤ profile-terms × superblocks rows (both query-bounded —
    // hundreds), so a groupBy here bought exactness nothing and cost a
    // full shuffle round-trip on the serving path (measured ~0.4 s of
    // hybrid_rrf_indexed's latency at sf0.1). The 1-row global stats ride
    // the SAME collect (term = NULL row — the wandSelect union trick,
    // r16), so the scoring DAG no longer scans + aggregates + broadcasts
    // blockstats per execution; the sums are the identical BIGINTs,
    // collected once and handed down as a local relation.
    val rows = termstats.where(col("term").isin(allTerms: _*))
      .select(col("term"), col("df_sb").cast("long").as("df_sb"),
        lit(0L).as("tl"))
      .unionByName(s.read.parquet(s"$indexDir/blockstats")
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("df_sb"),
          coalesce(sum(col("total_len")), lit(0L)).as("tl"))
        .select(lit(null).cast("string").as("term"), col("df_sb"), col("tl")))
      .collect()
    val (statsRows, tRows) = rows.partition(_.isNullAt(0))
    val dfByTerm = tRows.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
    val globals = Seq((statsRows.head.getLong(1), statsRows.head.getLong(2)))
      .toDF("n_docs", "total_len")
    val selected = mltSelect(profRows, dfByTerm, maxTerms)
    val prof = selected.toDF("query_id", "term")
    // the selected terms' df is already on the driver — hand it down as
    // a local relation so the scoring DAG never re-scans termstats
    val dfT = selected.map(_._2).distinct
      .map(t => (t, dfByTerm(t))).toDF("term", "df")
    bm25BatchOn(s.read.parquet(s"$indexDir/postings"), dfT, globals,
      prof, selected.map(_._2).distinct, k, excludeSelf = true)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("r"))
  }

  /** THE informative-term selection rule (the Lucene MoreLikeThis
    * discipline): per query, the `maxTerms` lowest-df profile terms,
    * ties by token — a total order both engines share. ONE driver-side
    * definition for the indexed path (df from stored termstats) and the
    * full-scan routing twin (df from a corpus pass), so the selected
    * profiles — and therefore the scored rows — cannot drift. */
  private[graft] def mltSelect(
      profRows: Array[(Long, String)],
      dfByTerm: Map[String, Long],
      maxTerms: Int): Seq[(Long, String)] =
    profRows
      .filter(p => dfByTerm.contains(p._2))
      .groupBy(_._1).toSeq
      .flatMap { case (qid, ps) =>
        ps.map(_._2).distinct
          .sortBy(t => (dfByTerm(t), t)).take(maxTerms)
          .map(t => (qid, t))
      }

  /** The multi-query BM25 core over ALREADY-CONSTRUCTED index frames —
    * [[IvfIndex.queryOn]]'s seam pointed at the postings layout, so a
    * serving loop ([[graft.streaming.StreamBm25Serve]]) lists the index
    * directories once per session and re-plans per trigger. The dynamic
    * `isin` over the batch's term union is applied to the cached frame at
    * plan time, so each trigger's scan is still term-pruned (parquet
    * row-group min/max on `term`), never a full postings read.
    * `excludeSelf` drops doc_id == query_id matches — the more-like-this
    * convention, meaningless for synthetic serving query ids. Returns
    * (query_id, doc_id, r, bm25) for ranks 1..k per query. */
  private[graft] def bm25Batch(
      postings: DataFrame, termstats: DataFrame, blockstats: DataFrame,
      qt: DataFrame, k: Int, excludeSelf: Boolean): DataFrame =
    bm25BatchPinned(postings, termstats, blockstats, qt, k, excludeSelf)._1

  /** [[bm25Batch]] plus the profile checkpoint it pins: the returned plan
    * reads the checkpointed blocks, so a ONE-SHOT batch caller may leave
    * the release to the context cleaner — but a serving loop runs one of
    * these per trigger, and per-trigger pins accumulate in storage memory
    * until GC happens to notice ([[graft.streaming.StreamBm25Serve]]).
    * Serving callers MUST release the second element (Bridge
    * .releaseCheckpoint) after the sink has materialized the batch
    * result — and not before: release invalidates the plan. */
  private[graft] def bm25BatchPinned(
      postings: DataFrame, termstats: DataFrame, blockstats: DataFrame,
      qt: DataFrame, k: Int, excludeSelf: Boolean): (DataFrame, DataFrame) = {
    val prof = qt.select(col("query_id"), col("term")).graftCheckpoint()
    // bounded: the distinct vocabulary of the query batch
    val terms = prof.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    val dfT = termstats
      .where(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("df_sb")).as("df"))
    val globals = blockstats.agg(
      sum(col("n_docs")).as("n_docs"), sum(col("total_len")).as("total_len"))
    (bm25BatchOn(postings, dfT, globals, prof, terms, k, excludeSelf), prof)
  }

  /** [[bm25Batch]] with the profile's term union AND the per-term df
    * frame supplied by a caller that already holds them — skips the
    * checkpoint, collect, and termstats-scan round-trips
    * ([[bm25MoreLikeThis]] selects terms and df driver-side; the
    * serving path derives them from the micro-batch). `prof`/`dfT`
    * must be cheap to re-evaluate (local relations or
    * already-materialized frames). */
  private def bm25BatchOn(
      postings: DataFrame, dfT: DataFrame, globals: DataFrame,
      prof: DataFrame, terms: Seq[String], k: Int,
      excludeSelf: Boolean): DataFrame = {
    val tf = postings
      .where(col("term").isin(terms: _*))
      .select(col("term"), explode(col("plist")).as("e"))
      .select(col("term"), col("e.doc_id").as("doc_id"),
        col("e.tf").as("tf"), col("e.dl").as("dl"))
    // prof's checkpoint blocks stay pinned because the returned plan
    // still reads them — one-shot batch callers leave the release to the
    // context cleaner (a handful of (query_id, term) rows); serving
    // loops release per trigger via [[bm25BatchPinned]].
    // `globals` is the caller's 1-row (n_docs, total_len) frame — a local
    // relation when the caller already collected it (bm25MoreLikeThis),
    // the pinned blockstats aggregate on the serving path.
    bm25ProfileRank(tf, globals, dfT, prof, k, excludeSelf)
  }

  /** THE per-query profile-scoring epilogue over an already-pruned
    * (term, doc_id, tf, dl) frame, a 1-row (n_docs, total_len) globals
    * frame, a (term, df) frame, and a (query_id, term) profile — shared
    * by the index path ([[bm25BatchOn]] — tf from a term-pruned postings
    * scan) and the full-scan routing twin
    * ([[graft.operators.Retrieval.hybridRrfScanned]] — tf from a
    * term-filtered corpus tokenize), so the quantized-BIGINT scoring and
    * the (sq desc, doc_id asc) rank total order cannot drift between the
    * two legs a router flips between. */
  private[graft] def bm25ProfileRank(
      tf: DataFrame, globals: DataFrame, dfT: DataFrame,
      prof: DataFrame, k: Int, excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = tf.join(broadcast(prof), Seq("term"))
    val scored = (if (excludeSelf) joined.where(col("doc_id") =!= col("query_id"))
      else joined)
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(globals))
      .select(col("query_id"), col("doc_id"),
        Retrieval.qScoreCol(col("tf"), col("dl")).as("qs"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("qs")).as("sq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq").desc, col("doc_id").asc)
    scored.withColumn("r", row_number().over(w))
      .where(col("r") <= k)
      .select(col("query_id"), col("doc_id"), col("r"),
        (col("sq").cast("double") / 10000.0).as("bm25"))
  }

  /** Phrase search FROM THE INDEX (`phrase_search_indexed`): the standing
    * inverted index prunes the verify set before any text is tokenized.
    * Candidates per phrase = docs whose stored tf reaches every distinct
    * term's multiplicity in the phrase (tf ≥ m is necessary for a term
    * to occupy m distinct slots — a superset of the true matches, and a
    * superset under the SAME canonical tokenization the verify uses,
    * the precondition that makes index pruning sound); the intersection
    * across terms is one doc-keyed aggregate over the term-pruned
    * postings scan. The positional verify then runs
    * [[Retrieval.phraseHitsOf]] with pid PINNED per candidate pair, so a
    * doc is only verified against phrases it was a candidate for —
    * identical output to the full-scan path, so the entry SHARES
    * `phrase_search`'s oracle.
    *
    * 100 TB shape: the postings scan reads Σ df(term) rows, not the
    * corpus (term-pruned in the scan — the index is the point); the
    * candidate set is bounded by the rarest term's df. The doc join is
    * NOT hint-forced: for rare-term phrases AQE broadcasts the candidate
    * frame, while a stopword-only phrase (corpus-proportional
    * candidates) degrades to a shuffle join instead of a driver-OOM
    * broadcast (the packInterleave lesson, round 10). */
  /** Phrase search FROM POSITIONS (`phrase_search_positional`): the
    * index's stored positional payload answers the phrase query with NO
    * corpus access at all — the Lucene production shape, and the last
    * step of the trio (full scan → index-candidates + text verify →
    * positions-only). The term-pruned postings scan explodes each
    * posting's positions back into exactly the (doc_id, pos, token)
    * stream the full scan's tokenizer would have emitted for those terms
    * (same canonical tokenization at build time — the equivalence that
    * lets all three paths share ONE oracle), then the shared slot kernel
    * verifies adjacency. Spec-pinned: the plan reads only the index's
    * `positions/` table, never documents.parquet — and conversely the
    * BM25 paths never open a positions file ([[positionsStateOf]]'s
    * .doc/.pos split).
    *
    * 100 TB shape: bytes read = the phrase terms' positions rows
    * (Σ df·(1 + tf) ints, term-pruned in the scan) — independent of
    * corpus text size; everything downstream is bounded by the same
    * term-pruned row count as the full scan's post-filter stream, minus
    * the corpus tokenize. */
  def phraseSearchPositional(s: SparkSession, dir: String): DataFrame =
    phrasePositionalOn(s, ensureLifecycleIndex(s, dir))

  /** [[phraseSearchPositional]] against an explicit index — the seam
    * [[Router.phraseAutoOn]] and the specs use; `phrases` defaults to
    * the gate set but the kernel always took a list
    * ([[Retrieval.phraseHitsOf]]). */
  private[graft] def phrasePositionalOn(
      s: SparkSession, idx: String,
      phrases: Seq[Seq[String]] = Retrieval.gatePhrases): DataFrame = {
    val toks = s.read.parquet(s"$idx/positions")
      .where(col("term").isin(phrases.flatten.distinct: _*))
      .select(col("doc_id"), lit(null).cast("int").as("pid"),
        explode(col("positions")).as("pos"), col("term").as("token"))
    Retrieval.phraseHitsOf(toks, phrases)
  }

  /** Proximity search FROM POSITIONS (`near_search_positional`):
    * [[Retrieval.nearSearch]]'s window semantics answered from the
    * index's `positions/` table with no corpus access — the positional
    * stream comes from exploding the probe terms' stored position lists
    * (term-pruned in the scan) instead of tokenizing text, then the
    * SAME fused-key banded kernel runs; identical output, shared
    * oracle. Bytes read: the two terms' positions rows, independent of
    * corpus text size. */
  def nearSearchPositional(s: SparkSession, dir: String): DataFrame =
    nearPositionalOn(s, ensureLifecycleIndex(s, dir))

  /** [[nearSearchPositional]] against an explicit index — the spec seam.
    *
    * Superblock pruning (the block-max machinery pointed at proximity):
    * a qualifying pair lives within ONE document, so its superblock must
    * contain BOTH probe terms — the per-(term, sb) rows of the stored
    * `termstats` give each term's superblock set, and only the
    * INTERSECTION's partitions are scanned (driver-side work is
    * superblock-count-bounded, the [[wandSelect]] discipline; the prune
    * is a static partition filter, so pruned superblocks' files are
    * never opened — plan-asserted in `PostingsIndexSpec`). Exact by
    * construction: a doc outside the intersection lacks one term
    * entirely and can contribute no pair. On a corpus whose probe terms
    * appear in every superblock nothing prunes (the WAND degeneracy,
    * same documentation) — the spec's skewed corpus proves the prune
    * bites where term support concentrates. */
  private[graft] def nearPositionalOn(s: SparkSession, idx: String): DataFrame = {
    val (ta, tb) = Retrieval.nearTerms
    val sbs = s.read.parquet(s"$idx/termstats")
      .where(col("term").isin(ta, tb))
      .groupBy(col("sb")).agg(count_distinct(col("term")).as("nt"))
      .where(col("nt") === 2)
      .select(col("sb")).collect().map(_.getInt(0)).sorted
    val toks = s.read.parquet(s"$idx/positions")
      .where(col("sb").isin(sbs.map(Integer.valueOf).toSeq: _*) &&
        col("term").isin(ta, tb))
      .select(col("doc_id"), explode(col("positions")).as("pos"),
        col("term").as("token"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .graftCheckpoint() // one index read feeds both join sides
    Retrieval.nearPairsOf(toks)
  }

  def phraseSearchIndexed(s: SparkSession, dir: String): DataFrame =
    phraseIndexedOn(s, dir, ensureLifecycleIndex(s, dir))

  /** [[phraseSearchIndexed]] against an explicit index — the seam
    * [[Router.phraseAutoOn]] and the specs use; `phrases` defaults to
    * the gate set but every stage below was already phrase-driven. */
  private[graft] def phraseIndexedOn(
      s: SparkSession, dir: String, idx: String,
      phrases: Seq[Seq[String]] = Retrieval.gatePhrases): DataFrame = {
    val cands = phrases.zipWithIndex.map { case (p, pid) =>
      val mult = p.groupBy(identity).map { case (t, o) => (t, o.size.toLong) }
      val needTf = p.distinct.foldLeft(lit(Long.MaxValue)) { (acc, t) =>
        when(col("term") === t, lit(mult(t))).otherwise(acc)
      }
      s.read.parquet(s"$idx/postings")
        .where(col("term").isin(p.distinct: _*))
        .select(col("term"), explode(col("plist")).as("e"))
        .where(col("e.tf") >= needTf)
        .groupBy(col("e.doc_id").as("doc_id"))
        .agg(count_distinct(col("term")).as("nt"))
        .where(col("nt") === p.distinct.size)
        .select(col("doc_id"), lit(pid).as("pid"))
    }.reduce(_ unionByName _)
    val toks = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
      .join(cands, Seq("doc_id"))
      .select(col("doc_id"), col("pid"),
        posexplode(graft.operators.TextAnalysis.tokensCol(col("text"))))
      .toDF("doc_id", "pid", "pos", "token")
      .where(col("token").isin(phrases.flatten.distinct: _*))
    Retrieval.phraseHitsOf(toks, phrases)
  }

  /** Gate opt-out predicate for `postings_delete`: every 7th doc. */
  private[graft] val deleteEvery = 7L

  /** Oracle-gated `postings_delete`: build the index over the full
    * corpus, DELETE every [[deleteEvery]]-th doc, and serialize the
    * standing postings in [[Retrieval.serializePostings]]'s wire form —
    * which must equal a from-scratch build over the surviving corpus
    * (the oracle recomputes exactly that), proving deletion leaves no
    * trace: no tombstones, no stale entries, no vanished-survivor rows.
    * Cached per corpus fingerprint like the lifecycle index (deletion
    * is deterministic). */
  def postingsDelete(s: SparkSession, dir: String): DataFrame = {
    val tag = (dir.hashCode.toLong * 31 +
      Corpus.fingerprint(s"$dir/documents.parquet")) & 0x7fffffffffffffffL
    val idx = s"/tmp/graft_postings_v4d_${java.lang.Long.toHexString(tag)}"
    if (!IndexFs.exists(s"$idx/_GRAFT_DELETED")) {
      val docs = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
      buildFrom(s, docs, idx, superBits = 2)
      delete(s, idx,
        docs.where(pmod(col("doc_id"), lit(deleteEvery)) === 0)
          .select(col("doc_id")))
      IndexFs.createMarker(s"$idx/_GRAFT_DELETED")
    }
    Retrieval.serializePostings(
      s.read.parquet(s"$idx/postings").select(col("term"), col("block"), col("plist")))
  }

  private[graft] def ensureLifecycleIndex(s: SparkSession, dir: String): String = {
    val tag = (dir.hashCode.toLong * 31 +
      Corpus.fingerprint(s"$dir/documents.parquet")) & 0x7fffffffffffffffL
    // v5: layout version in the path — a layout change (v2 blockstats,
    // v3 + termstats, v4 + positional payload, v5 + doclens norms: the
    // doclens table arrived with the delete path and the cached v4
    // lifecycle indexes were built WITHOUT it, so delete()/rebucket()
    // against one crashed on the missing table — found by RebucketProbe
    // round 12) must never reuse an old-layout index behind the marker
    val idx = s"/tmp/graft_postings_v5_${java.lang.Long.toHexString(tag)}"
    // the built-once memo lives BESIDE the tree, not inside it: rebucket's
    // whole-tree swap carries only the index's own tables, so an in-tree
    // memo silently vanished with the old tree and the next ensure call
    // REBUILT the index from scratch — at the fragmentation superBits the
    // repair had just fixed (measured at sf10: a maintain'd 30-sb index
    // reverted to 2050 sbs behind a 6-minute rebuild). Honor a standing
    // in-tree marker from pre-fix caches by migrating it out.
    val done = s"$idx.appended"
    if (!IndexFs.exists(done) && IndexFs.exists(s"$idx/_GRAFT_APPENDED"))
      IndexFs.createMarker(done)
    // memo AND tree: the beside-tree memo no longer co-deletes with the
    // index (the in-tree marker's one virtue), so a cleaned /tmp or a
    // manually removed tree with a surviving memo must rebuild, not
    // return a path with no index in it
    if (!IndexFs.exists(done) || !IndexFs.isDirectory(s"$idx/postings")) {
      val docs = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
      buildFrom(s, docs.where(col("doc_id") < cut), idx, superBits = 2)
      append(s, idx, docs.where(col("doc_id") >= cut))
      // false = another process racing this fixture stamped first — its
      // build is equivalent (the chain is deterministic), not an error
      IndexFs.createMarker(done)
    }
    idx
  }
}
