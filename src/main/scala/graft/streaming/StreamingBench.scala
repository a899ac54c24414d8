package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.{AdEvent, Screen}

/** Micro-benchmark for the stateful streaming paths: drives each operator
  * over a [[MemoryStream]] in scripted micro-batches and reports wall
  * time — so the streaming operators have a perf signal next to the batch
  * bench, not just correctness scenarios.
  *
  * The measured plans are the real streaming ones: partial HashAggregate →
  * shuffle → StateStore → final HashAggregate for the windowed aggs, a
  * key-partitioned flatMapGroupsWithState store for the custom window and
  * repeater, the same or a transformWithState store for the lookup-cache
  * join, and the symmetric stream-stream hash join state for the interval
  * join. Events are generated in-order on the driver (the harness side,
  * like Beam's TestStream), synthesized deterministically so the numbers
  * are comparable across rounds.
  */
object StreamingBench {

  private val base = 1700000000000L // fixed epoch: deterministic windows

  /** One synthetic ad event; shared by the ad-event paths so their inputs
    * are identical and the per-path numbers differ only by the plan. */
  private def event(n: Long, baseMs: Long): AdEvent =
    AdEvent(
      s"ad${n % 50}", s"screen${n % 20}",
      if (n % 3 == 0) "Click" else "Impression",
      new Timestamp(baseMs + n * 100L))

  /** One synthetic document for the near-dup leg: every 10th doc repeats
    * an earlier doc's token sequence (an exact near-dup colliding in all
    * bands), the rest are distinct. r9: the kernel moved from md5
    * (2 digests + 8 hex-string compares per shingle) to the fast 64-bit
    * family (`Dedup.fastSignatureOf`) — per-doc work is now ~10 long ops
    * per shingle, so the r8 "1/10 batch size because each doc costs the
    * whole digest kernel" carve-out is gone and the leg feeds full-size
    * batches like its siblings (r9 step-change; r8-sized numbers are in
    * BENCH_r08.json / tools/bench_r8e_sf01_idle_ref.json: 3.7k ev/s). */
  private def doc(n: Long, baseMs: Long): StreamNearDup.DocEvent = {
    val src = if (n % 10 == 9) n - 9 else n
    val toks = (0 until 25).map(i => s"w${(src * 31 + i * 7) % 997}")
    StreamNearDup.DocEvent(n, toks.mkString(" "), new Timestamp(baseMs + n * 100L))
  }

  /** One synthetic document for the line-scrub leg: a unique body line
    * wrapped in per-source template lines (5 sources → the header/footer
    * lines cross the df cut almost immediately, so the flag path runs
    * hot — the realistic boilerplate regime). 3 lines per doc. */
  private def lineDoc(n: Long, baseMs: Long): StreamLineScrub.DocEvent = {
    val src = s"src${n % 5}"
    val body = (0 until 12).map(i => s"w${(n * 31 + i * 7) % 9973}").mkString(" ")
    StreamLineScrub.DocEvent(n,
      s"nav home about $src\n$body\ncopyright all rights reserved $src",
      new Timestamp(baseMs + n * 100L))
  }

  /** One synthetic media payload for the mediadedup leg: ~250 bytes of
    * deterministic text payload (the code-point dHash branch — the image
    * decode path is priced by `RealImageDecodeSpec`, not here); every
    * 10th payload repeats an earlier one, so the verified-collision path
    * runs. */
  private def mediaDoc(n: Long, baseMs: Long): StreamMediaNearDup.MediaEvent = {
    val src = if (n % 10 == 9) n - 9 else n
    val text = (0 until 40).map(i => s"w${(src * 31 + i * 7) % 997}").mkString(" ")
    StreamMediaNearDup.MediaEvent(n, "audio",
      text.getBytes("UTF-8"), new Timestamp(baseMs + n * 100L))
  }

  /** The 13-token benchmark phrase the contamscrub leg plants: one
    * benchmark doc carries it, every 5th streamed doc leaks it. */
  private val benchPhrase = (0 until 13).map(i => s"bench$i").mkString(" ")

  /** One synthetic document for the contamination-scrub leg: ~25 unique
    * tokens; every 5th doc embeds the benchmark phrase mid-body so the
    * cut-and-rebuild path runs at a realistic leak rate. */
  private def contamDoc(n: Long, baseMs: Long): StreamNearDup.DocEvent = {
    val body = (0 until 25).map(i => s"w${(n * 31 + i * 7) % 997}")
    val text =
      if (n % 5 == 4)
        (body.take(12) ++ Seq(benchPhrase) ++ body.drop(12)).mkString(" ")
      else body.mkString(" ")
    StreamNearDup.DocEvent(n, text, new Timestamp(baseMs + n * 100L))
  }

  /** One synthetic embedding for the embdedup leg: every 10th vector
    * repeats an earlier one (collides in all 8 bands), the rest vary
    * deterministically. */
  private def vecDoc(n: Long, baseMs: Long): StreamEmbedDedup.VecEvent = {
    val src = if (n % 10 == 9) n - 9 else n
    val v = Array.tabulate(64)(i => math.sin((src * 31 + i * 7) * 0.37) )
    StreamEmbedDedup.VecEvent(n, v, new Timestamp(baseMs + n * 100L))
  }

  /** Generic single-stream harness: returns (events processed, wall sec)
    * for `batches` micro-batches of `mkBatch(batch, perBatch)` rows through
    * `mkQuery`'s streaming plan. `outputMode` must match the plan ("update"
    * for windowed aggs, "append" for the stateful operators). */
  def throughputOf[T: Encoder](
      spark: SparkSession,
      mkQuery: Dataset[T] => DataFrame,
      mkBatch: (Int, Int) => Seq[T],
      outputMode: String,
      queryName: String,
      batches: Int,
      perBatch: Int): (Long, Double) = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[T]
    val q = mkQuery(in.toDS()).writeStream.format("memory").queryName(queryName)
      .outputMode(outputMode).start()
    try {
      val t0 = System.nanoTime()
      var events = 0L
      (0 until batches).foreach { b =>
        val evs = mkBatch(b, perBatch)
        events += evs.size
        in.addData(evs)
        q.processAllAvailable()
      }
      (events, (System.nanoTime() - t0) / 1e9)
    } finally {
      q.stop()
      spark.sql(s"DROP VIEW IF EXISTS $queryName")
    }
  }

  /** Build-once synthetic serving index for the `annserve` leg: 4096
    * dim-16 vectors over 16 cells, deterministic content, rebuilt only
    * when the done marker is absent — the leg prices SERVING, never the
    * build (bucketedJoinRevenue's amortization discipline). Version the
    * path on any layout change (the done-marker staleness gotcha). */
  private def annServeIndex(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_annserve_bench_idx_v1"
    if (!new java.io.File(s"$dir/_GRAFT_DONE").exists()) {
      val vecs = spark.range(0, 4096).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), j =>
          ((col("id") * lit(2654435761L) + j * lit(40503L)) % 1000L)
            .cast("double") / 1000.0 + 0.001).as("embedding"))
      graft.operators.IvfIndex.buildFrom(spark, vecs, dir, nCells = 16)
      new java.io.File(s"$dir/_GRAFT_DONE").createNewFile()
    }
    dir
  }

  /** Build-once synthetic postings index for the `bm25serve` leg: 4096
    * docs × 20 tokens over a 997-term vocabulary, deterministic content,
    * rebuilt only when the done marker is absent — the leg prices
    * SERVING, never the build ([[annServeIndex]]'s discipline). */
  private def bm25ServeIndex(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_bm25serve_bench_idx_v1"
    if (!new java.io.File(s"$dir/_GRAFT_DONE").exists()) {
      val docs = spark.range(0, 4096).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(19)), j =>
          concat(lit("w"),
            ((col("id") * 7 + j * 13) % 997L).cast("string")))).as("text"))
      graft.operators.PostingsIndex.buildFrom(spark, docs, dir, superBits = 2)
      new java.io.File(s"$dir/_GRAFT_DONE").createNewFile()
    }
    dir
  }

  /** [[throughputOf]] for operators that run as `foreachBatch` sinks
    * (index serving): the leg supplies the started query, the harness
    * owns only the feed loop and the clock. */
  def throughputForeach[T: Encoder](
      spark: SparkSession,
      start: Dataset[T] => org.apache.spark.sql.streaming.StreamingQuery,
      mkBatch: (Int, Int) => Seq[T],
      batches: Int,
      perBatch: Int): (Long, Double) = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[T]
    val q = start(in.toDS())
    try {
      val t0 = System.nanoTime()
      var events = 0L
      (0 until batches).foreach { b =>
        val evs = mkBatch(b, perBatch)
        events += evs.size
        in.addData(evs)
        q.processAllAvailable()
      }
      (events, (System.nanoTime() - t0) / 1e9)
    } finally q.stop()
  }

  /** Two-stream harness for the join paths: both sides advance together,
    * one `mkLeft`/`mkRight` pair per micro-batch. Events counted = total
    * rows fed on both sides. */
  def throughput2[A: Encoder, B: Encoder](
      spark: SparkSession,
      mkQuery: (Dataset[A], Dataset[B]) => DataFrame,
      mkLeft: (Int, Int) => Seq[A],
      mkRight: (Int, Int) => Seq[B],
      outputMode: String,
      queryName: String,
      batches: Int,
      perBatch: Int): (Long, Double) = {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[A]
    val right = MemoryStream[B]
    val q = mkQuery(left.toDS(), right.toDS()).writeStream.format("memory")
      .queryName(queryName).outputMode(outputMode).start()
    try {
      val t0 = System.nanoTime()
      var events = 0L
      (0 until batches).foreach { b =>
        val l = mkLeft(b, perBatch)
        val r = mkRight(b, perBatch)
        events += l.size + r.size
        if (l.nonEmpty) left.addData(l)
        if (r.nonEmpty) right.addData(r)
        q.processAllAvailable()
      }
      (events, (System.nanoTime() - t0) / 1e9)
    } finally {
      q.stop()
      spark.sql(s"DROP VIEW IF EXISTS $queryName")
    }
  }

  /** Kept as the named single-path entry point (round-2 API). */
  def fixedWindowThroughput(
      spark: SparkSession,
      batches: Int = 5,
      perBatch: Int = 60000): (Long, Double) = {
    import spark.implicits._
    throughputOf[AdEvent](spark,
      CtrStream.fixedWindowCtr(_, "10 minutes", "0 seconds"),
      (b, n) => (0 until n).map(i => event(b.toLong * n + i, base)),
      "update", "graft_stream_bench", batches, perBatch)
  }

  /** A bench leg: `twsOnly` marks transformWithState paths, which Spark
    * only supports on the RocksDB state store — they are skipped on the
    * default (HDFS-backed) provider rather than reported as errors. */
  private final case class Leg(name: String, twsOnly: Boolean, run: String => (Long, Double))

  /** The measured paths. The four r2-r5 ad-event legs are unchanged
    * (inputs, sizes, window params) so their numbers stay comparable
    * across rounds; r6 adds the stateful join paths the round-5 verdict
    * flagged as signal-less — repeater, lookup-cache (both engines),
    * interval join — plus a state-heavy lookup variant where the right
    * side arrives only in the last batch, so the per-key buffer grows by
    * `perBatch/keys` rows every micro-batch: the configuration where
    * RocksDB ListState's O(1) append vs fMGWS's whole-blob rewrite
    * ([[LookupCacheProcessor]] docs) shows up as a real number. */
  private def legs(spark: SparkSession, batches: Int, perBatch: Int): Seq[Leg] = {
    import spark.implicits._

    val adEvt = (b: Int, n: Int) => (0 until n).map(i => event(b.toLong * n + i, base))
    // 1 ms event spacing for the keyed-tuple paths: the whole run spans
    // batches*perBatch ms, so a generous TTL outlives it and GC timers
    // don't fire mid-measurement.
    val stateKeys = 200
    def values(nKeys: Int) = (b: Int, n: Int) => (0 until n).map { i =>
      val g = b.toLong * n + i
      (s"k${g % nKeys}", s"v$g", new Timestamp(base + g)): (String, String, Timestamp)
    }
    // steady-state lookups: every key resolved at each batch's open, so
    // values flow through enriched — the hot path
    val earlyLookups = (b: Int, n: Int) => (0 until stateKeys).map { k =>
      (s"k$k", s"lk$b-$k", new Timestamp(base + b.toLong * n)): (String, String, Timestamp)
    }
    // state-heavy: no lookups until the final batch → every value buffers
    val lateLookups = (b: Int, n: Int) =>
      if (b < batches - 1) Seq.empty[(String, String, Timestamp)]
      else (0 until stateKeys).map { k =>
        (s"k$k", s"lk$k", new Timestamp(base + b.toLong * n + n - 1)): (String, String, Timestamp)
      }
    // interval-join inputs get their own id space: 2000 screen ids, not the
    // shared generator's 20 — a symmetric hash join probes every state row
    // under the equi-key, so 20 ids × 60k rows/batch means each ad scans
    // hundreds of screens (measured 2k events/s: a key-cardinality artifact
    // of the generator, not the plan). Production screen ids are high-
    // cardinality; the bench's should be too. 100 ms timescale; with the
    // 30 s join TTL average match fan-out stays ~1.
    val screenIds = 2000
    val intervalAds = (b: Int, n: Int) => (0 until n).map { i =>
      val g = b.toLong * n + i
      AdEvent(s"ad${g % 50}", s"screen${g % screenIds}",
        if (g % 3 == 0) "Click" else "Impression", new Timestamp(base + g * 100L))
    }
    val screens = (b: Int, n: Int) => (0 until n / 20).map { i =>
      val g = b.toLong * n + i * 20
      // id from the screen-row index (g/20), not g: g is always a multiple
      // of 20 here, so `g % screenIds` would cover only screenIds/20
      // distinct ids and 95% of ads could never match.
      Screen(s"screen${(g / 20) % screenIds}", s"pub${g % 7}", new Timestamp(base + g * 100L))
    }
    def wm(ds: Dataset[(String, String, Timestamp)]): Dataset[(String, String, Timestamp)] =
      ds.withWatermark("_3", "0 seconds").as[(String, String, Timestamp)]

    val repeatIntervalMs = 10000L // ~30 re-emits per key over the run
    val repeatTtlMs = 60000L      // every key stays live (seen every 50 ms)
    val lookupTtlMs = 3600000L    // outlives the run: no GC mid-measurement
    // Two-stream legs need a real watermark delay: the engine's continuous
    // trigger can split one scripted (values, lookups) pair into two
    // micro-batches, and with a 0 s delay the values' micro-batch advances
    // the watermark past the batch-start-stamped lookups — which are then
    // silently DROPPED as late, the lookup never resolves, and the
    // "steady-state" leg degenerates into unbounded buffering (caught via
    // a jstack of a pegged single core: every element in ListState
    // appendValue). The delay spans the whole run's event time, so nothing
    // is ever late and GC timers (maxTs + 1 h TTL > watermark) stay quiet.
    val lookupWmDelay = "2 hours"

    Seq(
      Leg("fixed", twsOnly = false, qn => throughputOf[AdEvent](spark,
        CtrStream.fixedWindowCtr(_, "10 minutes", "0 seconds"),
        adEvt, "update", qn, batches, perBatch)),
      Leg("sliding", twsOnly = false, qn => throughputOf[AdEvent](spark,
        CtrStream.slidingWindowCtr(_, "20 minutes", "10 minutes", "0 seconds"),
        adEvt, "update", qn, batches, perBatch)),
      Leg("session", twsOnly = false, qn => throughputOf[AdEvent](spark,
        ds => AdEventWindower.ctrByScreen(ds).toDF(),
        adEvt, "append", qn, batches, perBatch)),
      Leg("dedup", twsOnly = false, qn => throughputOf[AdEvent](spark,
        ds => StreamDedup.dedupEvents(ds).toDF(),
        adEvt, "append", qn, batches, perBatch)),
      // full-size batches since r9 (fast kernel — see `doc`'s scaladoc);
      // duplication planted so the collision path runs
      Leg("neardup", twsOnly = false, qn => throughputOf[StreamNearDup.DocEvent](spark,
        ds => StreamNearDup.candidates(ds, watermarkDelay = "2 hours").toDF(),
        (b, per) => (0 until per).map(i => doc(b.toLong * per + i, base)),
        "append", qn, batches, perBatch)),
      // embedding near-dup at ingestion (r9): 1/4 batch size — each
      // event carries a 64-double vector, ~4× the byte width of the doc
      // legs' rows, and the driver-side MemoryStream ships the batch in
      // the task binary. r10 re-attribution (EmbDedupProbe's 4-layer
      // decomposition): the leg's ~86 µs/ev is a cost STACK — ~11 µs
      // ingestion (pass-through 90k ev/s), ~26 µs signature + 8-row
      // fan-out + encode (bandsonly 27k), ~14 µs shuffle + stateful
      // framework (statefulnoop 19k), ~35 µs state get/put (detector
      // 11.6k) — and the 4-band regrouped variant (half the state rows
      // AND half the fan-out) gains only ~6%, refuting the r9
      // "state-row-bound" model: no single lever buys 2×; the floor is
      // per-row stateful streaming under the committed 8-band contract
      Leg("embdedup", twsOnly = false, qn => throughputOf[StreamEmbedDedup.VecEvent](spark,
        ds => StreamEmbedDedup.candidates(ds, watermarkDelay = "2 hours").toDF(),
        (b, per) => {
          val n = math.max(1, per / 4)
          (0 until n).map(i => vecDoc(b.toLong * n + i, base))
        }, "append", qn, batches, perBatch)),
      // boilerplate line-scrub at ingestion (r9): docs, 3 lines each
      Leg("linescrub", twsOnly = false, qn => throughputOf[StreamLineScrub.DocEvent](spark,
        ds => StreamLineScrub.flagged(ds, watermarkDelay = "2 hours").toDF(),
        (b, per) => (0 until per).map(i => lineDoc(b.toLong * per + i, base)),
        "append", qn, batches, perBatch)),
      // media near-dup at ingestion (r10): payload dies at the signature
      // map; only 4 band rows per item shuffle
      Leg("mediadedup", twsOnly = false, qn => throughputOf[StreamMediaNearDup.MediaEvent](spark,
        ds => StreamMediaNearDup.candidates(ds, watermarkDelay = "2 hours").toDF(),
        (b, per) => (0 until per).map(i => mediaDoc(b.toLong * per + i, base)),
        "append", qn, batches, perBatch)),
      // contamination span-scrub at ingestion (r10): STATELESS — no state
      // store, no watermark; the leg prices the probe+cut+rebuild kernel
      Leg("contamscrub", twsOnly = false, qn => throughputOf[StreamNearDup.DocEvent](spark,
        ds => ContaminationStream.scrubbed(
          ds.select(org.apache.spark.sql.functions.col("docId").as("doc_id"),
            org.apache.spark.sql.functions.col("text")),
          spark.createDataFrame(Seq((0L, benchPhrase))).toDF("doc_id", "text")).toDF(),
        (b, per) => (0 until per).map(i => contamDoc(b.toLong * per + i, base)),
        "append", qn, batches, perBatch)),
      // full retention verdict at ingestion (r10): fingerprint + lang-id
      // + quality signals per doc, one first-arrival bit of state per
      // distinct fingerprint; duplicates planted every 10th doc so the
      // dedup precedence path runs
      Leg("curation", twsOnly = false, qn => throughputOf[(Long, String)](spark,
        ds => CurationStream.retention(
          ds.toDF("doc_id", "text")).toDF(),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          val src = if (g % 10 == 9) g - 9 else g
          (g, (0 until 25).map(j => s"w${(src * 31 + j * 7) % 997}").mkString(" "))
            : (Long, String)
        }, "append", qn, batches, perBatch)),
      // entity resolution at ingestion (r10): per-block membership as
      // state (vocabulary-bounded — 3200 distinct names over 64 blocks
      // here, so most events hit the known-name re-emit path and the
      // rest run the edit-distance match + merge); adjectives collide
      // within groups of 5 (one-char edits) so merging actually happens
      Leg("entity", twsOnly = false, qn => throughputOf[(Long, String)](spark,
        ds => StreamEntityResolve.resolve(spark,
          ds.toDF("p_partkey", "p_name")).toDF(),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          val blk = g % 64
          val v = (g / 64) % 50
          (g, s"v${v / 5}a${v % 5} blk$blk"): (Long, String)
        }, "update", qn, batches, perBatch)),
      // at-ingestion ANALYZE (r10): five column-states total, each 256
      // register slots + counts + bounds; every event explodes to 5
      // stacked rows and pays one md5 per column — the leg prices that
      // hashing plus the fold
      Leg("stats", twsOnly = false, qn => throughputOf[(Long, Long, String, String, String)](spark,
        ds => StreamStats.stats(spark, ds.toDF("l_orderkey", "l_suppkey",
          "l_linestatus", "l_returnflag", "l_shipdate")),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          (g, g % 997, if (g % 2 == 0) "O" else "F",
            if (g % 3 == 0) "R" else "N",
            f"1995-${g % 12 + 1}%02d-${g % 28 + 1}%02d")
            : (Long, Long, String, String, String)
        }, "update", qn, batches, perBatch)),
      // ingest-volume anomaly monitor at ingestion (r10): per-type
      // running moments (3 exact longs) + open-day counters as state;
      // day closures ride the watermark — ~1.4 days close per batch at
      // this tick rate, so the close path runs hot
      Leg("anomaly", twsOnly = false, qn => throughputOf[(String, Timestamp)](spark,
        ds => StreamAnomaly.verdicts(ds.toDF("event_type", "ts")).toDF(),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          (s"src${g % 64}", new Timestamp(base + g * 2000L)): (String, Timestamp)
        }, "append", qn, batches, perBatch)),
      // per-source trending terms (r10): the Space-Saving buffer as
      // streaming aggregation state — one ≤capacity-slot sketch per
      // source, update mode
      Leg("topterms", twsOnly = false, qn => throughputOf[(String, String)](spark,
        ds => TopTermsStream.topTerms(ds.toDF("source", "text")),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          (s"src${g % 64}",
            (0 until 8).map(j => s"t${(g * 13 + j * 5) % 499}").mkString(" "))
            : (String, String)
        }, "update", qn, batches, perBatch)),
      // streamed ANN serving (r10): every trigger runs the audited batch
      // plan via foreachBatch — probe broadcast + DPP-pruned members
      // scan (StreamAnnServe's scaladoc has the why). Queries at 1/60
      // the sibling batch size: each event is a full top-k search over
      // ~512 candidates (2 probed cells x 256 members), not a row update
      Leg("annserve", twsOnly = false, qn => {
        val idxDir = annServeIndex(spark)
        throughputForeach[(Long, Seq[Double])](spark,
          ds => StreamAnnServe.serve(spark, idxDir,
            ds.toDF("query_id", "qv"),
            s"/tmp/graft_${qn}_ckpt_${System.nanoTime()}")(
            (res, _) => { res.collect(); () }),
          (b, per) => {
            // ~1 query per 60 events of leg budget, floored at 1 so a
            // small perBatch still issues work instead of an empty batch
            val qper = math.max(1, per / 60)
            (0 until qper).map { i =>
              val g = b.toLong * qper + i
              (1000000000L + g,
                (0 until 16).map(j =>
                  ((g * 2654435761L + j * 40503L) % 1000).toDouble / 1000.0
                    + 0.001): Seq[Double])
            }
          }, batches, perBatch)
      }),
      // weighted reservoir at ingestion (r10): a streaming aggregation
      // whose state is the ≤2k-entry top-k buffer per source — the leg
      // prices priority computation + map-side partial top-k + state
      // merge for 64 sources
      // lexical serving at ingestion (r11): per-trigger term-pruned
      // postings reads, the ANN serving leg's BM25 twin — each query is
      // a 3-term search over the 997-term vocabulary, ~1 query per 60
      // events of leg budget (the annserve exchange rate)
      Leg("bm25serve", twsOnly = false, qn => {
        val idxDir = bm25ServeIndex(spark)
        throughputForeach[(Long, Seq[String])](spark,
          ds => StreamBm25Serve.serve(spark, idxDir,
            ds.toDF("query_id", "terms"),
            s"/tmp/graft_${qn}_ckpt_${System.nanoTime()}")(
            (res, _) => { res.collect(); () }),
          (b, per) => {
            val qper = math.max(1, per / 60)
            (0 until qper).map { i =>
              val g = b.toLong * qper + i
              (2000000000L + g,
                (0 until 3).map(j =>
                  s"w${(g * 37 + j * 311) % 997}"): Seq[String])
            }
          }, batches, perBatch)
      }),
      // fused serving at ingestion (r12): BOTH indexes answered per
      // trigger through the single-sourced rrfFuse tail — term-pruned
      // postings + DPP-pruned probed cells in one micro-batch plan; the
      // leg prices the full hybrid answer path at the serving exchange
      // rate (~1 query per 60 events of leg budget), over the two
      // standing synthetic indexes (aligned 0..4095 id spaces, the
      // doc_id ≙ vec_id convention)
      Leg("hybridserve", twsOnly = false, qn => {
        val pidx = bm25ServeIndex(spark)
        val vidx = annServeIndex(spark)
        throughputForeach[(Long, Seq[String], Seq[Double])](spark,
          ds => StreamHybridServe.serve(spark, pidx, vidx,
            ds.toDF("query_id", "terms", "qv"),
            s"/tmp/graft_${qn}_ckpt_${System.nanoTime()}")(
            (res, _) => { res.collect(); () }),
          (b, per) => {
            val qper = math.max(1, per / 60)
            (0 until qper).map { i =>
              val g = b.toLong * qper + i
              (3000000000L + g,
                (0 until 3).map(j =>
                  s"w${(g * 37 + j * 311) % 997}"): Seq[String],
                (0 until 16).map(j =>
                  ((g * 2654435761L + j * 40503L) % 1000).toDouble / 1000.0
                    + 0.001): Seq[Double])
            }
          }, batches, perBatch)
      }),
      Leg("wsample", twsOnly = false, qn => throughputOf[(String, Long, Long)](spark,
        ds => StreamWeightedSample.picks(
          ds.toDF("source", "doc_id", "n_chars")),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          (s"src${g % 64}", g, g % 997 + 1): (String, Long, Long)
        }, "update", qn, batches, perBatch)),
      // sequence packing at ingestion (r10): one long of state per
      // writer; the leg prices the per-batch sort + offset assignment
      // for 64 writers
      Leg("pack", twsOnly = false, qn => throughputOf[StreamPack.DocEvent](spark,
        ds => StreamPack.offsets(ds),
        (b, per) => (0 until per).map { i =>
          val g = b.toLong * per + i
          StreamPack.DocEvent(s"src${g % 64}", g, g % 997 + 1, new Timestamp(base + g))
        }, "append", qn, batches, perBatch)),
      Leg("repeat", twsOnly = false, qn => throughputOf[(String, String, Timestamp)](spark,
        ds => Repeater.repeat(wm(ds), repeatIntervalMs, repeatTtlMs).toDF(),
        values(50), "append", qn, batches, perBatch)),
      Leg("lookup", twsOnly = false, qn => throughput2[(String, String, Timestamp), (String, String, Timestamp)](spark,
        (vs, ls) => LookupCacheJoin.join(vs, ls, lookupTtlMs, lookupWmDelay).toDF(),
        values(stateKeys), earlyLookups, "append", qn, batches, perBatch)),
      Leg("lookup_tws", twsOnly = true, qn => throughput2[(String, String, Timestamp), (String, String, Timestamp)](spark,
        (vs, ls) => LookupCacheProcessor.join(vs, ls, lookupTtlMs, lookupWmDelay).toDF(),
        values(stateKeys), earlyLookups, "append", qn, batches, perBatch)),
      Leg("lookup_heavy", twsOnly = false, qn => throughput2[(String, String, Timestamp), (String, String, Timestamp)](spark,
        (vs, ls) => LookupCacheJoin.join(vs, ls, lookupTtlMs, lookupWmDelay).toDF(),
        values(stateKeys), lateLookups, "append", qn, batches, perBatch)),
      Leg("lookup_heavy_tws", twsOnly = true, qn => throughput2[(String, String, Timestamp), (String, String, Timestamp)](spark,
        (vs, ls) => LookupCacheProcessor.join(vs, ls, lookupTtlMs, lookupWmDelay).toDF(),
        values(stateKeys), lateLookups, "append", qn, batches, perBatch)),
      Leg("interval", twsOnly = false, qn => throughput2[AdEvent, Screen](spark,
        (ads, scs) => IntervalJoin.adScreenJoin(ads, scs, "30 seconds", "0 seconds"),
        intervalAds, screens, "append", qn, batches, perBatch)))
  }

  /** Runs the streaming paths and returns the JSON object `Bench` splices
    * in verbatim as `"streaming":{...}`: the windowed aggregations, custom
    * merging window, watermark-bounded dedup, repeater, lookup-cache join
    * (steady-state and state-heavy), and interval join — each once on the
    * default (HDFS-backed) state store and once on RocksDB, the store the
    * 100 TB arguments (O(1) ListState appends, state larger than heap)
    * actually assume. The transformWithState twins run only on RocksDB
    * (a Spark engine requirement, not a choice here). */
  def allPaths(spark: SparkSession, batches: Int = 5, perBatch: Int = 60000): String = {
    // State partitions sized to the actual runtime parallelism, not the
    // batch shuffle default (32): a streaming query fixes its state
    // partition count at start, and EVERY micro-batch then commits one
    // store per partition — per stateful operator, and ×4 for a
    // stream-stream join (two sides × keyToNumValues/keyWithIndexToValue).
    // On the 4-core bench runner 32 partitions is 8× over-partitioned and
    // the commit overhead dominates the short micro-batches (interval leg
    // measured 2.4× faster at parts=4, graft.IntervalProbe). Same sizing
    // rule a 1000-executor deployment wants: state partitions ≈ cluster
    // cores, set per streaming query, independent of the batch default.
    // r7 step-change: leg numbers before this fix are in BENCH_r06.json.
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.getOption(partsKey)
    spark.conf.set(partsKey, spark.sparkContext.defaultParallelism.toString)
    try allPathsInner(spark, batches, perBatch)
    finally prevParts.fold(spark.conf.unset(partsKey))(spark.conf.set(partsKey, _))
  }

  private def allPathsInner(spark: SparkSession, batches: Int, perBatch: Int): String = {
    val all = legs(spark, batches, perBatch)
    // Compact per-leg emission: ONE integer, events/sec. The driver
    // archives only a 2000-char tail slice of the bench stdout line, and
    // the r7 verbose form ({events,batches,sec,events_per_sec} per leg,
    // ~1.8 KB for 19 legs) alone overflowed it, cutting loadavg and half
    // the query map out of the round artifact (round-7 verdict, Wrong
    // #3). ev/s IS the headline metric; events ≈ batches×per_batch (top
    // level, once) and sec is derivable, so nothing of substance is lost.
    def run(suffix: String, tws: Boolean): Seq[String] =
      all.filter(l => tws || !l.twsOnly).map { leg =>
        val (events, sec) = leg.run(s"graft_stream_bench$suffix${leg.name}")
        val rate = if (sec > 0) events / sec else 0.0
        s""""${leg.name}":${math.round(rate)}"""
      }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val joinFmtKey = "spark.sql.streaming.join.stateFormatVersion"
    val prev = spark.conf.getOption(providerKey)
    val prevFmt = spark.conf.getOption(joinFmtKey)
    val defaults = run("_", tws = false)
    // a RocksDB failure (e.g. missing/incompatible native lib) must not
    // discard the default-store results already paid for — it degrades to
    // an err entry inside its own block
    val rocks =
      try {
        spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // join state format 3 (RocksDB-only): ONE store with virtual
        // column families instead of the classic four per partition —
        // every micro-batch commits 1 store instead of 4 on the interval
        // leg. Measured steady-state 37 → 53k ev/s (graft.IntervalProbe,
        // r7); the production config any RocksDB deployment should run.
        spark.conf.set(joinFmtKey, "3")
        run("_rocksdb_", tws = true).mkString("\"rocksdb\":{", ",", "}")
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            .flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                       case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
          s""""rocksdb":{"err":"$msg"}"""
      } finally {
        prev.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
        prevFmt.fold(spark.conf.unset(joinFmtKey))(spark.conf.set(joinFmtKey, _))
      }
    (Seq(s""""batches":$batches,"per_batch":$perBatch""") ++ defaults :+ rocks)
      .mkString("{", ",", "}")
  }
}
