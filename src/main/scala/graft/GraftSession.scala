package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that wires the graft
  * Catalyst extensions ([[GraftExtensions]] — `graft_dot`,
  * `graft_hyperplane_sig`) and the configuration every graft workload
  * needs, so a user replaces
  * `SparkSession.builder()...` with `GraftSession.builder()...` and every
  * operator and Catalyst-injected SQL function in this library just
  * works. The sketch AGGREGATE functions ride on per-session UDF
  * registration (Spark offers no extensions hook for `Aggregator`-backed
  * UDAFs), so cluster users additionally call
  * `GraftSession.registerSketches(spark)` on the built session — the
  * local harness path does it automatically.
  *
  * On a cluster, leave `master` unset and submit normally — only the
  * local-mode mains (Verify/Bench/tests) pin `local[n]`. Shuffle
  * partitions default to the cluster's setting unless `shufflePartitions`
  * is given (the local harnesses pass the core count; at 100 TB you'd size
  * it to data volume, not cores).
  *
  * `builder` also sizes Spark's compiled-class cache
  * (`spark.sql.codegen.cache.maxEntries` = 4096; the reasoning and the
  * measurements sit at the setting). It is a static conf: the first
  * session built in a JVM fixes the cache size for every later one.
  * It also routes streaming checkpoint files on the local filesystem
  * through [[graft.streaming.CheckpointFiles]], so a local commit renames
  * and sets permissions without forking a process. RocksDB state commits
  * write a changelog; the snapshot every 10 versions is uploaded by the
  * state store's maintenance thread, off the commit path.
  *
  * Library code reads the session conf and writes it only through
  * `Router.calibrate`/`calibrateOrLoad` and `RangeJoin.autoBandWidth`,
  * whose documented job is to set it.
  */
object GraftSession {

  def builder(
      master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // (see graft.sources.Corpus.normalizeTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Join strategy (optimization guide §3.1/§9): allow shuffled hash
      // join when its size conditions are met instead of always sorting
      // both sides, and let AQE rewrite a planned sort-merge join to
      // shuffled-hash at runtime when every post-shuffle partition fits
      // 128 MB (the conservative per-task build bound — an executor
      // core's working memory at any scale, not a local[32] tune). Both
      // engines' results are join-strategy-independent; the fact-to-fact
      // joins (orders⋈lineitem and friends) drop their two sorts.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (128L * 1024 * 1024).toString)
      // RocksDB ListState appends are only O(1) with row tracking off:
      // with it on (Spark's default), every merge() does a full GET of the
      // accumulated list for the numRows metric, so n appends cost O(n²)
      // bytes read — measured as a single pegged core inside
      // handleMetricsUpdate under the state-heavy lookup-cache leg. The
      // trade is an approximate numTotalStateRows metric, the documented
      // contract of this knob; the 100 TB posture (LookupCacheProcessor's
      // O(1)-append argument) needs the O(1), not the metric.
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      // RocksDB state commits write a changelog instead of a snapshot.
      // With Spark's default (off) every commit of every store checkpoints
      // RocksDB, copies the new SST files through the session's file:
      // FileSystem (two `chmod` forks per file), zips the metadata and
      // forks `rm -rf` on the local checkpoint directory: 12 of 25
      // process-spawn samples in a jstack sampling of the stream_ingest
      // bench's timed loop (4 vCPUs), and state_commit_ms 13.8 s of its
      // 16.7 s trigger_add_batch_ms per run. On, a commit writes one
      // `<version>.changelog` file through CheckpointFiles, and every
      // minDeltasForSnapshot (10) versions it also makes a local RocksDB
      // checkpoint, which the state store's maintenance thread uploads:
      // the snapshot work moves there, it is not dropped. Recovery loads
      // the last snapshot and replays the changelogs after it; a
      // checkpoint written with the setting on or off restarts under
      // either. Only the RocksDB provider reads it.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // ObjectHashAggregate (graft_str_bounds — the ANALYZE family's
      // hash-compatible string bounds) falls back to SORT-based
      // aggregation past this many distinct groups per task. The default
      // 128 is sized for heavyweight buffers (collect_list of whole
      // groups); graft's object buffers hold two short strings, and the
      // one grouped consumer's key space is PROVABLY bounded at any data
      // size — (2^hllBits + 2) · n_cols ≈ 1.3K groups for the stats
      // family — so 8192 keeps it hash-based everywhere it is used while
      // still bounding per-task buffer memory. Scale-independent: the
      // bound comes from the algorithm's register space, not the corpus.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      // Compiled-class cache: Spark keeps every Janino-compiled class
      // (whole-stage, projections, orderings) in one JVM-wide LRU keyed on
      // (context class loader, generated source), so each whole-stage
      // class is held twice — once for the up-front compile in
      // WholeStageCodegenExec.doExecute on the planning thread, once under
      // the executor task threads' session class loader. One pass of the
      // benchmark's workloads needs ~270 (batch_queries), ~520
      // (index_lifecycle) and ~200 (stream_ingest) entries; the default
      // 100 evicts each class before the next pass asks for it again, so
      // every repeated plan shape re-ran Janino (~1/5 of the on-CPU Java
      // samples of a timed batch pass). 4096 is sized from a measurement:
      // one JVM running all 160 queries twice (QueryProfile at sf0.001)
      // compiles ~2,400 classes, all still cached at the end; NMT there
      // shows +22 MB committed metaspace (of it +5 MB class space) against
      // the default size.
      // Plans that inline a changing literal (watermarks, isin lists)
      // still compile on each run; no cache size helps them.
      // STATIC conf: the cache is sized once, when Spark's CodeGenerator
      // is first used in the JVM, so the first session built fixes it and
      // later sessions' values are ignored. Measured in local mode only;
      // executors on a cluster (one cache per executor JVM) were not
      // checked.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Streaming checkpoint files (state store files, offset and commit
      // logs) on file: go through Spark's FileSystem-based manager; other
      // schemes keep Spark's choice (graft.streaming.CheckpointFiles).
      // Spark's default FileContext manager renames via
      // AbstractFileSystem.rename, which without native libhadoop forks
      // `readlink` for the source, the destination and their .crc files:
      // 46 of 63 process-spawn samples in a jstack sampling of the
      // stream_ingest bench (4 vCPUs), all under renameTempFile. No
      // atomicity is lost on file: renameInternal(src, dst, overwrite)
      // checks the destination and then renames, as this manager's exists
      // check + rename does, and an overwrite is one POSIX rename(2)
      // instead of delete + rename. Spark's ChecksumCheckpointFileManager
      // still wraps RocksDB's files. The same manager sets local file and
      // directory permissions in process, where Hadoop forks `chmod`: the
      // other 13 of the 25 spawn samples above, all in createTempFile.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.CheckpointFiles].getName)
    val b1 = master.fold(b)(m => b.master(m))
    shufflePartitions.fold(b1)(n => b1.config("spark.sql.shuffle.partitions", n.toString))
  }

  /** Registers the mergeable corpus sketches as SQL aggregate/scalar
    * functions on a live session (UDF registration is per-session, so —
    * unlike the Catalyst expressions, which ride in via
    * `spark.sql.extensions` — this is a post-build step):
    * `graft_hll_users(str)`, `graft_log2_hist(long)`,
    * `graft_log2_quantile(array<long>, double)`,
    * `graft_top_terms(str)` (Space-Saving heavy hitters). */
  def registerSketches(spark: SparkSession): SparkSession = {
    import graft.functions.SketchFunctions
    spark.udf.register("graft_hll_users",
      org.apache.spark.sql.functions.udaf(SketchFunctions.hllUsers))
    spark.udf.register("graft_log2_hist",
      org.apache.spark.sql.functions.udaf(SketchFunctions.log2Hist))
    spark.udf.register("graft_log2_quantile", SketchFunctions.log2Quantile _)
    spark.udf.register("graft_top_terms",
      org.apache.spark.sql.functions.udaf(SketchFunctions.spaceSaving,
        org.apache.spark.sql.Encoders.STRING))
    spark.udf.register("graft_cms",
      org.apache.spark.sql.functions.udaf(SketchFunctions.countMin,
        org.apache.spark.sql.Encoders.STRING))
    spark.udf.register("graft_cms_estimate", SketchFunctions.cmsEstimate _)
    spark
  }

  /** Local-harness convenience: `local[cpus]` with matching shuffle
    * partitions and no UI — what Verify/Bench/the test session use.
    * `cpus` is any master-legal token (so `SPARK_GRAFT_CPUS="*"` keeps
    * working), passed through to both settings exactly as the harnesses
    * always did. */
  def local(cpus: String): SparkSession =
    registerSketches(
      builder(Some(s"local[$cpus]"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate())

  def local(cpus: Int): SparkSession = local(cpus.toString)
}
