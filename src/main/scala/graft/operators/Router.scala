package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Corpus

/** Stats-driven index/path routing: ONE user-facing entry point per
  * scan/index twin family that picks the leg itself, from stored index
  * stats plus a static cost model — the [[RangeJoin.autoBandWidth]]
  * discipline (stats → decision → plan) applied to the four retrieval
  * families that, until now, documented their crossovers in prose and
  * made the caller choose:
  *
  *  - BM25: full corpus tokenize ([[Retrieval.bm25Topk]]) vs term-pruned
  *    postings scan ([[PostingsIndex.query]]) — same oracle.
  *  - Phrase: corpus tokenize + slot verify ([[Retrieval.phraseSearch]])
  *    vs index candidates + text verify
  *    ([[PostingsIndex.phraseSearchIndexed]]) vs positions-only
  *    ([[PostingsIndex.phraseSearchPositional]]) — same oracle.
  *  - ANN: inline IVF re-deriving cells per run ([[Similarity.annIvf]])
  *    vs the persisted cell-partitioned index ([[IvfIndex.query]]) —
  *    same oracle.
  *  - Hybrid RRF: the indexed fusion ([[Retrieval.hybridRrfIndexed]])
  *    vs its full-scan twin ([[Retrieval.hybridRrfScanned]]) — same
  *    oracle (the scanned twin exists exactly so this family has a
  *    semantics-identical pair to route between).
  *
  * COST MODEL (deliberately coarse — the router only has to get the
  * ORDER of two costs right, and the measured evidence in BASELINE.md
  * round 12 shows the sides differ by multiples away from the
  * crossovers):
  *
  *  - bm25/phrase decide in MILLISECONDS with three measured machine
  *    constants (fixed pass cost, per-token marginal, per-superblock
  *    file open) — the per-partition term is load-bearing: it is what
  *    correctly routes a FRAGMENTED index (superBits sized for a corpus
  *    that then grew 10×) back to the linear scan, the one measured
  *    point where the index loses (BASELINE.md round 12, "Measured
  *    retrieval crossovers"; [[calibrate]] re-measures the constants);
  *  - ann/hybrid decide in token-units: a full text scan costs
  *    `total_len` (every token tokenized whether or not it matters), a
  *    term-pruned postings read costs Σ df, vector work converts at
  *    [[vecUnitCost]] units per (vector × centroid) dot — the inline
  *    leg pays `nVec · nCells` assignment dots every run, the indexed
  *    leg reads `nProbe/nCells` of the members table — and every EXTRA
  *    sequential bounded driver job an indexed path needs costs
  *    [[jobOverheadTokens]] units (conf-overridable,
  *    `spark.graft.router.jobOverheadTokens`: a machine property, not a
  *    data property). Calibrated against the round-12 crossover probes,
  *    the hybrid decision matches the measured winner at every point
  *    (indexed everywhere the indexes exist — the scanned twin re-pays
  *    tokenize + assignment per run), and the job term is what routes
  *    genuinely tiny vector corpora to the inline plan.
  *
  * The stats come from the indexes themselves (blockstats total_len,
  * termstats df, members/centroids row counts — the index IS the stats
  * store; all probes are driver-bounded metadata reads), so the choice
  * flips when the data flips: the gate corpora land on different legs
  * per family and per scale factor, and `RouterSpec` pins both
  * directions of every decision on synthetic stats AND end-to-end on
  * synthetic corpora with the plan shape asserted. */
object Router {

  /** Units per (vector × centroid) double-dot relative to one token of
    * text-scan work: a 64-dim dot is ~64 FMAs vs a token's split+hash. */
  private[graft] val vecUnitCost = 16L

  private val overheadKey = "spark.graft.router.jobOverheadTokens"

  /** Token-units charged per extra sequential driver job of an indexed
    * path (ann/hybrid deciders) — ~0.2 s of scheduler latency expressed
    * at the measured small-corpus scan rate (~60K token-units/s,
    * BASELINE.md round 12). At production corpus sizes this term
    * is noise; at gate sizes it is the honest reason a scan can win. */
  private[graft] def jobOverheadTokens(s: SparkSession): Long =
    s.conf.getOption(overheadKey).map(_.toLong).getOrElse(12000L)

  /** The bm25/phrase cost model's machine constants. The DEFAULTS are
    * measurements from the round-12 crossover campaign (BASELINE.md
    * round 12, "Measured retrieval crossovers" — they match the measured
    * winner at all four probed points including the fragmentation flip);
    * on different hardware the route near a crossover can flip wrong
    * (spinning disks: per-partition open ≫ 9 ms), so every constant is
    * conf-overridable under `spark.graft.router.*` — [[calibrate]]
    * re-measures all four on the running machine and sets the confs in
    * one call ([[calibrateOrLoad]] persists the profile). The deciders
    * only need cost ORDER, so the defaults only have to get that right. */
  final case class Costs(
      scanFixedMs: Long = 800L,   // corpus tokenize pass, fixed
      indexFixedMs: Long = 450L,  // index probe session, fixed
      tokenNanos: Long = 300L,    // per scanned+tokenized token
      sbOpenMs: Long = 9L)        // per superblock partition opened

  private[graft] val measuredCosts = Costs()

  /** The session's effective cost constants: conf override per field,
    * measured default otherwise. */
  private[graft] def costsOf(s: SparkSession): Costs = {
    def c(key: String, dflt: Long): Long =
      s.conf.getOption(s"spark.graft.router.$key").map(_.toLong).getOrElse(dflt)
    Costs(
      scanFixedMs = c("scanFixedMs", measuredCosts.scanFixedMs),
      indexFixedMs = c("indexFixedMs", measuredCosts.indexFixedMs),
      tokenNanos = c("tokenNanos", measuredCosts.tokenNanos),
      sbOpenMs = c("sbOpenMs", measuredCosts.sbOpenMs))
  }

  /** A routing decision: the chosen leg plus both modeled costs (kept
    * for explainability — `reason` renders the comparison; the unit is
    * per-family: milliseconds for bm25/phrase, token-units for
    * ann/hybrid). */
  final case class Choice(leg: String, scanCost: Long, indexedCost: Long) {
    def reason: String = s"$leg: scan≈$scanCost vs indexed≈$indexedCost"
  }

  // ---- pure deciders (unit-testable on synthetic stats) ----

  // bm25/phrase model in MILLISECONDS, three machine constants measured
  // in the BASELINE round-12 crossover campaign — this is
  // the one family where a single marginal rate cannot match the
  // measurements, because the indexed side's real cost has a
  // PARTITION-COUNT term: every superblock's file must be opened even
  // when the term prune discards its row groups, and at ~9 ms per
  // partition a fragmented index (superBits sized for a small corpus
  // that then grew 10×) loses to a linear scan of a still-small corpus
  // — exactly what the sf1 gate index measures (205 sbs: indexed 2.6 s
  // vs scan 1.7 s; rebuilt at superBits=8, 13 sbs: 0.5 s). The fix at
  // scale is layout (bigger superblocks / compaction), but the router
  // must be honest about the index that EXISTS.
  /** BM25: term-pruned postings read (Σ df rows + one file open per
    * superblock) vs the full corpus tokenize (total_len tokens). The
    * constants come in as a [[Costs]] (conf-overridable per session) so
    * the decider stays a pure function — RouterSpec runs it under
    * injected constants in both directions. */
  private[graft] def decideBm25(
      totalLen: Long, sumDf: Long, nSb: Long,
      costs: Costs = measuredCosts): Choice = {
    val scan = costs.scanFixedMs + totalLen * costs.tokenNanos / 1000000L
    val idx = costs.indexFixedMs + sumDf * costs.tokenNanos / 1000000L +
      nSb * costs.sbOpenMs
    Choice(if (idx < scan) "indexed" else "scan", scan, idx)
  }

  /** Phrase: the positional read costs exactly the bm25 indexed model —
    * Σ df term-pruned rows PLUS one file open per superblock — so all
    * three legs price in the same ms model and the positional path is
    * chosen only while it actually beats the scan. Round 13's sf10 run
    * measured why the old "positional whenever positions exist" rule
    * was wrong: on the fragmented gate index (superBits=2 at 500 K docs
    * → ~2000 superblocks) the positional path costs 25.4 s against a
    * 0.95 s full scan — the same partition tax that flips bm25, and the
    * same fix (`rebucket`) that restores the index. When positions are
    * absent the indexed leg is the candidate path (same model), so the
    * bm25 decision carries over unchanged. */
  private[graft] def decidePhrase(
      hasPositions: Boolean, totalLen: Long, sumDf: Long,
      nSb: Long, costs: Costs = measuredCosts): Choice = {
    val c = decideBm25(totalLen, sumDf, nSb, costs)
    if (hasPositions && c.leg == "indexed")
      Choice("positional", c.scanCost, c.indexedCost)
    else c
  }

  /** ANN: the inline leg re-pays `nVec · nCells` assignment dots every
    * run; the index reads `nProbe/nCells` of the members. */
  private[graft] def decideAnn(
      nVec: Long, nCells: Long, nProbe: Long, ovh: Long): Choice = {
    val scan = nVec * nCells * vecUnitCost
    val idx = nVec * nProbe * vecUnitCost / math.max(nCells, 1L) + ovh
    Choice(if (idx < scan) "indexed" else "scan", scan, idx)
  }

  /** Hybrid: the twins differ MATERIALLY on the lexical side only — the
    * indexed fusion's MLT-BM25 leg pays the index's fixed probe cost
    * plus the per-superblock partition tax (its Σ df is profile-bounded
    * by construction: 25 lowest-df terms × |queries|, charged as ~0),
    * while the scanned twin re-pays the corpus tokenize; the vector
    * legs (probed cells vs inline assignment over the same candidates)
    * track the same winner at every measured point. So the decision IS
    * the bm25 ms model at Σ df ≈ 0 — which matches the measured winner
    * at all four probed scales (BASELINE r12–r13: indexed at
    * sf0.01/sf0.1, the sf1 noise-band tie, and the sf10 fragmentation
    * flip where the scanned twin wins 7.5× — the point the previous
    * token-unit model missed because it priced no partition tax). The
    * replaced token-unit model's job-overhead term is subsumed by the
    * fixed-cost asymmetry (indexFixedMs < scanFixedMs keeps tiny
    * corpora honest in both directions). */
  private[graft] def decideHybrid(
      totalLen: Long, nSb: Long, costs: Costs = measuredCosts): Choice =
    decideBm25(totalLen, 0L, nSb, costs)

  // ---- machine calibration (the one-command replacement for the
  //      two-probe manual procedure BASELINE.md documented) ----

  /** Fit the four [[Costs]] constants from two measured scan points and
    * two measured index-probe points — the pure half of [[calibrate]],
    * spec-drivable on synthetic timings. Each side is a line: scan ms =
    * scanFixedMs + tokens·tokenNanos/1e6, probe ms = indexFixedMs +
    * nSb·sbOpenMs; two points determine slope and intercept. Noise
    * floors: a loaded machine can measure a negative slope or
    * intercept, and a negative constant would flip every decision near
    * a crossover — clamp to the smallest physically-meaningful values
    * instead. */
  private[graft] def costsFromPoints(
      scanA: (Long, Double), scanB: (Long, Double),
      idxA: (Long, Double), idxB: (Long, Double)): Costs = {
    require(scanB._1 > scanA._1 && idxB._1 > idxA._1,
      "calibration points must be measured at two distinct sizes, " +
        "smaller first")
    val tokNs = (scanB._2 - scanA._2) * 1e6 / (scanB._1 - scanA._1)
    val tokenNanos = math.max(1L, math.round(tokNs))
    val scanFixed = math.max(0L,
      math.round(scanA._2 - scanA._1 * tokNs / 1e6))
    val sbMs = (idxB._2 - idxA._2) / (idxB._1 - idxA._1)
    val sbOpenMs = math.max(1L, math.round(sbMs))
    val idxFixed = math.max(0L, math.round(idxA._2 - idxA._1 * sbMs))
    Costs(scanFixedMs = scanFixed, indexFixedMs = idxFixed,
      tokenNanos = tokenNanos, sbOpenMs = sbOpenMs)
  }

  /** Measure this machine's [[Costs]] and (by default) set the four
    * `spark.graft.router.*` confs on the session — the whole
    * re-calibration procedure as one call. Self-contained: generates
    * its own micro-workloads (a synthetic tokenize at two sizes for the
    * scan line; a partitioned-parquet probe at two partition counts for
    * the index line) in `java.io.tmpdir`, warm-up pass then min-of-2
    * per point, ~10 s total. Because the conf rides in the router's
    * choice-cache key, a re-tune re-decides every standing auto route.
    * Returns the measured constants so callers can persist them for
    * sessions that skip the probe. */
  def calibrate(s: SparkSession, apply: Boolean = true): Costs = {
    import org.apache.spark.sql.functions.{explode => fExplode}
    def timeMs(f: => Unit): Double = {
      f // warm: JIT, codegen, parquet footer caches
      (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.min
    }
    // scan line: tokenize-and-count over generated text with a KNOWN
    // token count — the same tokensCol kernel the real scan legs pay.
    // The text must be NON-constant per row: a literal column lets
    // Catalyst constant-fold the whole tokensCol chain (split/regexp/
    // lower/trim of a foldable input) to one plan-time array, so the
    // probe would time only explode+count and systematically understate
    // tokenNanos on every calibrated machine (round-14 advice, medium).
    // `id % 100` appended as the 8th token defeats folding while keeping
    // the token count exact (tokensCol splits on whitespace — digit
    // tokens survive).
    val phrase = "alpha beta gamma delta epsilon zeta eta" // + id: 8 tokens
    def scanPoint(rows: Long): (Long, Double) = {
      val df = s.range(rows)
        .selectExpr(s"concat('$phrase ', cast(id % 100 as string)) as text")
      val ms = timeMs {
        df.select(fExplode(TextAnalysis.tokensCol(col("text"))).as("t"))
          .where(length(col("t")) > 0).agg(count(lit(1))).collect(); ()
      }
      (rows * 8, ms)
    }
    // index line: a filtered read over a parquet table partitioned into
    // nSb directories of one row each — all partition-open cost, the
    // term the fragmented-index decisions hinge on
    def idxPoint(nSb: Int): (Long, Double) = {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_calib_sb_$nSb"
      // unconditional overwrite: reusing a standing tree in the shared
      // world-writable tmpdir (a partial tree from a crashed run, or
      // content another local user planted) would silently skew the cost
      // fit or fail the probe (round-14 advice, low); the table is nSb
      // one-row files, so the rewrite costs less than one timed pass
      s.range(nSb).selectExpr("cast(id as int) as sb", "'t' as term",
          "cast(id as bigint) as df")
        .write.mode("overwrite").partitionBy("sb").parquet(dir)
      val ms = timeMs {
        Corpus.read(s, dir).where(col("term") === "t")
          .agg(sum(col("df"))).collect(); ()
      }
      (nSb.toLong, ms)
    }
    val c = costsFromPoints(
      scanPoint(200000L), scanPoint(1600000L), idxPoint(16), idxPoint(128))
    if (apply) applyCosts(s, c)
    c
  }

  private def applyCosts(s: SparkSession, c: Costs): Unit = {
    s.conf.set("spark.graft.router.scanFixedMs", c.scanFixedMs.toString)
    s.conf.set("spark.graft.router.indexFixedMs", c.indexFixedMs.toString)
    s.conf.set("spark.graft.router.tokenNanos", c.tokenNanos.toString)
    s.conf.set("spark.graft.router.sbOpenMs", c.sbOpenMs.toString)
  }

  /** Persist measured [[Costs]] as a machine-profile stamp (verdict r14
    * Next #7 — close `calibrate`'s "returns them so callers can persist
    * them" loop): written through [[IndexFs]]'s atomic `replaceFile`
    * protocol, so a reader sees the old profile or the new one, never a
    * torn file — the same contract the version stamps ride. */
  def saveCosts(c: Costs, path: String): Unit = {
    val body =
      s"scanFixedMs=${c.scanFixedMs}\nindexFixedMs=${c.indexFixedMs}\n" +
        s"tokenNanos=${c.tokenNanos}\nsbOpenMs=${c.sbOpenMs}\n"
    val next = s"$path.next"
    IndexFs.writeUtf8(next, body)
    IndexFs.replaceFile(next, path)
  }

  /** Load a [[saveCosts]] stamp; None when absent. Unknown keys are
    * ignored (forward-compatible); a missing known key falls back to
    * that constant's measured default rather than failing the load. */
  def loadCosts(path: String): Option[Costs] =
    if (!IndexFs.isFile(path)) None
    else {
      val kv = IndexFs.readUtf8(path).linesIterator
        .map(_.trim).filter(_.contains('='))
        .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
        .collect { case (k, v) if v.forall(c => c.isDigit || c == '-') =>
          (k, v.toLong) }
        .toMap
      Some(Costs(
        scanFixedMs = kv.getOrElse("scanFixedMs", measuredCosts.scanFixedMs),
        indexFixedMs = kv.getOrElse("indexFixedMs", measuredCosts.indexFixedMs),
        tokenNanos = kv.getOrElse("tokenNanos", measuredCosts.tokenNanos),
        sbOpenMs = kv.getOrElse("sbOpenMs", measuredCosts.sbOpenMs)))
    }

  /** The persisted-profile entry point: load the stamp and apply it to
    * the session (no probing), or — when no stamp exists — run the full
    * [[calibrate]] probe and write the stamp for the NEXT session. One
    * call either way; because the constants ride in the router's
    * choice-cache key, whichever profile lands re-decides every
    * standing auto route. */
  def calibrateOrLoad(s: SparkSession, path: String): Costs =
    loadCosts(path) match {
      case Some(c) => applyCosts(s, c); c
      case None =>
        val c = calibrate(s)
        saveCosts(c, path)
        c
    }

  // ---- stored-stats probes (driver-bounded metadata reads) ----

  /** Σ df over the probe terms from the stored termstats — a
    * term-pruned, superblock-count-bounded read. */
  private def sumDfOf(
      s: SparkSession, pidx: String, terms: Seq[String]): Long =
    Corpus.read(s, s"$pidx/termstats")
      .where(col("term").isin(terms: _*))
      .agg(coalesce(sum(col("df_sb")), lit(0L))).collect()(0).getLong(0)

  /** (total_len, superblock count, max doc id) from blockstats in ONE
    * bounded aggregate — every postings-side stat a decision OR an
    * advisory needs, probed together so either costs one job (the
    * choice builders ignore the watermark; [[adviseOn]] feeds it to
    * [[PostingsIndex.plannedRebucket]]). */
  private def postingsMetaOf(
      s: SparkSession, pidx: String): (Long, Long, Long) = {
    val r = Corpus.read(s, s"$pidx/blockstats")
      .agg(coalesce(sum(col("total_len")), lit(0L)), count(lit(1)),
        coalesce(max(col("max_doc_id")), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** (nVec, nCells) from the IVF index — parquet footer row counts, no
    * data pages read. */
  private[graft] def ivfMetaOf(s: SparkSession, vidx: String): (Long, Long) =
    (Corpus.read(s, s"$vidx/members").count(),
      Corpus.read(s, s"$vidx/centroids").count())

  // ---- choice cache: one probe set per index version ----

  /** Routing decisions cached per (family, index dirs + their
    * [[IndexVersion]] stamps, probe-term set, cost constants). The
    * probes are 2–4 bounded driver jobs — ~0.5–1.5 s of fixed latency
    * per `*_auto` call at toy SF (the round-12 verdict's measured
    * overhead) — and they are pure functions of STORED index stats, so
    * the version stamp is exactly their invalidation key: every
    * mutation that changes query-visible data bumps it (the same signal
    * [[graft.streaming.PinnedIndex]] refreshes on). After the first
    * call per index version, an auto entry costs its chosen leg alone.
    * The cost constants ride in the key so a session that re-tunes
    * `spark.graft.router.*` re-decides instead of serving the old
    * tuning's choice. */
  private val choiceCache =
    new java.util.concurrent.ConcurrentHashMap[String, Choice]()

  /** Probe-set executions (cache misses) — spec instrumentation only. */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong

  private def cachedChoice(key: String)(compute: => Choice): Choice = {
    val hit = choiceCache.get(key)
    if (hit != null) hit
    else {
      // stamp churn bound: every mutation mints a new key; the map holds
      // tiny Choice rows, but an unbounded ingest loop shouldn't grow it
      // forever — dropping everything is safe (worst case: one re-probe)
      if (choiceCache.size > 4096) choiceCache.clear()
      probeRuns.incrementAndGet()
      val c = compute
      choiceCache.putIfAbsent(key, c)
      c
    }
  }

  /** Collision-free join: every element is length-prefixed, so probe
    * sets that merely CONTAIN a separator character cannot alias
    * another set's key (Seq("a,b") vs Seq("a","b")). */
  private[graft] def lenKey(parts: Seq[String]): String =
    parts.map(p => s"${p.length}:$p").mkString("|")

  private def keyOf(
      s: SparkSession, family: String, params: String,
      dirs: String*): String =
    lenKey(family +: params +: s"${costsOf(s)}/${jobOverheadTokens(s)}" +:
      dirs.map(d => s"$d@${IndexVersion.stamp(d)}"))

  // ---- routed entry points (oracle-gated as *_auto) ----

  /** `bm25_auto`: shares `bm25_topk`'s oracle — identical rows either
    * leg (the twins' standing contract). */
  def bm25Auto(s: SparkSession, dir: String): DataFrame =
    bm25Auto(s, dir, Retrieval.queryTerms)

  /** [[bm25Auto]] for a CALLER-supplied term set — the kernels were
    * always parameterized ([[PostingsIndex.query]] takes its terms;
    * [[Retrieval.bm25TopkFor]] is the scan twin's seam); the router
    * probes Σ df for exactly these terms, so a stopword-heavy query
    * routes to the scan on the same stats evidence that routes a rare
    * term set to the index. */
  def bm25Auto(s: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    bm25AutoOn(s, dir, PostingsIndex.ensureLifecycleIndex(s, dir), terms)

  private[graft] def bm25AutoOn(
      s: SparkSession, dir: String, pidx: String,
      terms: Seq[String] = Retrieval.queryTerms): DataFrame =
    if (bm25ChoiceOf(s, pidx, terms).leg == "indexed")
      PostingsIndex.query(s, pidx, terms)
    else Retrieval.bm25TopkFor(s, dir, terms)

  /** `phrase_auto`: shares `phrase_search`'s oracle (all three legs
    * do). */
  def phraseAuto(s: SparkSession, dir: String): DataFrame =
    phraseAuto(s, dir, Retrieval.gatePhrases)

  /** [[phraseAuto]] for CALLER-supplied phrases — Σ df probed over the
    * phrases' own term set; all three legs take the phrase list. */
  def phraseAuto(
      s: SparkSession, dir: String, phrases: Seq[Seq[String]]): DataFrame =
    phraseAutoOn(s, dir, PostingsIndex.ensureLifecycleIndex(s, dir), phrases)

  private[graft] def phraseAutoOn(
      s: SparkSession, dir: String, pidx: String,
      phrases: Seq[Seq[String]] = Retrieval.gatePhrases): DataFrame =
    phraseChoiceOf(s, pidx, phrases).leg match {
      case "positional" => PostingsIndex.phrasePositionalOn(s, pidx, phrases)
      case "indexed"    => PostingsIndex.phraseIndexedOn(s, dir, pidx, phrases)
      case _            => Retrieval.phraseSearchFor(s, dir, phrases)
    }

  /** `ann_auto`: shares `ann_ivf`'s oracle. */
  def annAuto(s: SparkSession, dir: String): DataFrame =
    annAutoOn(s, dir, IvfIndex.ensureLifecycleIndex(s, dir))

  /** [[annAuto]] for a CALLER-supplied (query_id, qv) batch: the
    * indexed leg was always parameterized ([[IvfIndex.query]]); the
    * scan leg is the inline IVF plan probed for the caller's queries
    * ([[Similarity.annIvfForQueries]]) — SAME cell semantics either
    * way, the twin contract that makes the route invisible. The choice
    * doesn't depend on the batch (both legs' per-query work scales
    * identically), so the cached decision is reused across batches. */
  def annAuto(s: SparkSession, dir: String, queries: DataFrame): DataFrame = {
    val vidx = IvfIndex.ensureLifecycleIndex(s, dir)
    if (annChoiceOf(s, vidx).leg == "indexed")
      IvfIndex.query(s, vidx, queries, nProbe = 2, k = 5)
    else Similarity.annIvfForQueries(s, dir, queries, k = 5)
  }

  private[graft] def annAutoOn(
      s: SparkSession, dir: String, vidx: String): DataFrame =
    if (annChoiceOf(s, vidx).leg == "indexed")
      IvfIndex.query(s, vidx, IvfIndex.queryBatch(s, dir), nProbe = 2, k = 5)
    else Similarity.annIvf(s, dir)

  // ---- per-family decision builders: the ONE place each family's
  // stats are gathered and fed to its decider — shared by the `*_auto`
  // entries and [[explain]], so the operability surface can never
  // drift from what the autos actually run ----

  private def bm25ChoiceOf(
      s: SparkSession, pidx: String,
      terms: Seq[String] = Retrieval.queryTerms): Choice =
    cachedChoice(keyOf(s, "bm25", lenKey(terms.sorted), pidx)) {
      val (totalLen, nSb, _) = postingsMetaOf(s, pidx)
      decideBm25(totalLen, sumDfOf(s, pidx, terms), nSb, costsOf(s))
    }

  private def phraseChoiceOf(
      s: SparkSession, pidx: String,
      phrases: Seq[Seq[String]] = Retrieval.gatePhrases): Choice = {
    // the positional payload is filesystem state no stamp tracks (no
    // operator removes it) — cheap to re-check, so it rides in the key
    val hasPos = IndexFs.isDirectory(s"$pidx/positions")
    val pkey = lenKey(phrases.map(p => lenKey(p)).sorted :+ s"#$hasPos")
    cachedChoice(keyOf(s, "phrase", pkey, pidx)) {
      val (totalLen, nSb, _) = postingsMetaOf(s, pidx)
      decidePhrase(hasPos, totalLen,
        sumDfOf(s, pidx, phrases.flatten.distinct), nSb, costsOf(s))
    }
  }

  private def annChoiceOf(s: SparkSession, vidx: String): Choice =
    cachedChoice(keyOf(s, "ann", "p2", vidx)) {
      val (nVec, nCells) = ivfMetaOf(s, vidx)
      decideAnn(nVec, nCells, nProbe = 2L, jobOverheadTokens(s))
    }

  private def hybridChoiceOf(
      s: SparkSession, pidx: String, vidx: String): Choice =
    cachedChoice(keyOf(s, "hybrid", "p2", pidx, vidx)) {
      val (totalLen, nSb, _) = postingsMetaOf(s, pidx)
      decideHybrid(totalLen, nSb, costsOf(s))
    }

  /** The routing EXPLAIN: one (family, [[Choice]]) row per twin family
    * with the decision the CURRENT stats make and both modeled costs —
    * the operability surface (see why a leg gets picked without running
    * anything). The SAME choice builders the `*_auto` entries run. */
  def explain(s: SparkSession, dir: String): Seq[(String, Choice)] = {
    val pidx = PostingsIndex.ensureLifecycleIndex(s, dir)
    val vidx = IvfIndex.ensureLifecycleIndex(s, dir)
    Seq(
      "bm25" -> bm25ChoiceOf(s, pidx),
      "phrase" -> phraseChoiceOf(s, pidx),
      "ann" -> annChoiceOf(s, vidx),
      "hybrid" -> hybridChoiceOf(s, pidx, vidx))
  }

  // ---- maintenance advisory: the cost model pointed at the repair ----

  /** One family's maintenance advisory: the route the CURRENT stats
    * pick, and — when the index's own maintenance policy has a repair
    * planned — the route the post-repair stats would pick, with the
    * action that gets there. `wouldFlip` is the headline: the router is
    * honest about the index that EXISTS (it routes around a degraded
    * layout), and this is the surface that says a bounded `maintain`
    * call would put the index back ahead — BEFORE paying for the
    * rewrite. The round-13 sf10 campaign is the motivating measurement:
    * `bm25_auto` routed a 2000-superblock index to the 2.35 s scan;
    * `advise` prices the post-rebucket index at ~30 superblocks and
    * predicts the flip back to indexed (then `maintain` delivers it). */
  final case class Advice(
      family: String, current: Choice,
      predicted: Option[Choice], action: Option[String]) {
    /** True when running the planned maintenance would change the route. */
    def wouldFlip: Boolean = predicted.exists(_.leg != current.leg)
    /** Modeled cost of the leg a choice actually routes to. */
    private def chosenCost(c: Choice): Long =
      if (c.leg == "scan") c.scanCost else c.indexedCost
    /** Predicted within-route improvement from the planned maintenance:
      * cost of today's chosen leg over cost of the post-repair chosen
      * leg (≥ 1 when the repair helps). None when no action is planned.
      * This is the I/O-law signal a flip-only gate is blind to — the
      * sf10 resize cut probed candidate rows 27.6× while the route
      * stayed "indexed" both ways (round-14 verdict, Wrong #2). */
    def winRatio: Option[Double] = predicted.map { p =>
      chosenCost(current).toDouble / math.max(1L, chosenCost(p)).toDouble
    }
    /** The advise-gate predicate: repair when the route flips OR the
      * same route gets ≥ `k`× cheaper under the shared cost model. */
    def shouldRepair(k: Double): Boolean =
      wouldFlip || winRatio.exists(_ >= k)
    def render: String = {
      val tail = (predicted, action) match {
        case (Some(p), Some(a)) =>
          val flip = if (wouldFlip) s"; route flips to ${p.leg}" else ""
          s" | $a -> predicted ${p.reason}$flip"
        case _ => " | layout healthy, no action planned"
      }
      s"$family: now ${current.reason}$tail"
    }
  }

  /** Maintenance advisories for all four twin families: which repairs
    * the indexes' OWN maintenance policies have planned
    * ([[PostingsIndex.plannedRebucket]] / [[IvfIndex.plannedResize]] —
    * the exact planners `maintain` runs, shared so advice cannot drift
    * from action), and whether each repair would flip the route.
    * `targetSbs` is the postings policy knob, defaulted like
    * [[PostingsIndex.maintain]]'s. All probes are bounded metadata
    * reads (one blockstats aggregate, one termstats prune, two footer
    * counts, one meta row); `current` re-runs the same pure deciders
    * the `*_auto` entries cache, on the same stored stats. */
  def advise(s: SparkSession, dir: String, targetSbs: Int = 32): Seq[Advice] =
    adviseOn(s, PostingsIndex.ensureLifecycleIndex(s, dir),
      IvfIndex.ensureLifecycleIndex(s, dir), targetSbs)

  private[graft] def adviseOn(
      s: SparkSession, pidx: String, vidx: String,
      targetSbs: Int = 32): Seq[Advice] =
    advisePostingsOn(s, pidx, targetSbs) ++ adviseAnnOn(s, vidx)

  /** The postings-family advisories (bm25/phrase/hybrid) alone — the
    * probe the postings ingest policy consults per maintenance check
    * ([[maintainPostingsIfAdvised]]); it needs no vector index. */
  private[graft] def advisePostingsOn(
      s: SparkSession, pidx: String, targetSbs: Int = 32): Seq[Advice] = {
    val costs = costsOf(s)
    val (totalLen, nSb, maxDoc) = postingsMetaOf(s, pidx)
    val bits = PostingsIndex.readSuperBits(s, pidx)
    val rebucket = PostingsIndex.plannedRebucket(nSb, maxDoc, bits, targetSbs)
    val rebucketAction = rebucket.map { case (need, sbs) =>
      s"maintain: rebucket superBits $bits -> $need (~$nSb -> ~$sbs sbs)"
    }
    val bmDf = sumDfOf(s, pidx, Retrieval.queryTerms)
    val phDf = sumDfOf(s, pidx, Retrieval.gatePhrases.flatten.distinct)
    val hasPos = IndexFs.isDirectory(s"$pidx/positions")
    Seq(
      Advice("bm25", decideBm25(totalLen, bmDf, nSb, costs),
        rebucket.map { case (_, sbs) => decideBm25(totalLen, bmDf, sbs, costs) },
        rebucketAction),
      Advice("phrase", decidePhrase(hasPos, totalLen, phDf, nSb, costs),
        rebucket.map { case (_, sbs) =>
          decidePhrase(hasPos, totalLen, phDf, sbs, costs)
        },
        rebucketAction),
      Advice("hybrid", decideHybrid(totalLen, nSb, costs),
        rebucket.map { case (_, sbs) => decideHybrid(totalLen, sbs, costs) },
        rebucketAction))
  }

  /** The ann advisory alone — [[maintainIvfIfAdvised]]'s probe. */
  private[graft] def adviseAnnOn(s: SparkSession, vidx: String): Seq[Advice] = {
    val (nVec, nCells) = ivfMetaOf(s, vidx)
    val ovh = jobOverheadTokens(s)
    // the resize plan runs on maintain's OWN standing count (members
    // partition directories — reflects emptied cells), not the
    // centroids row count the deciders price with: feeding the decider
    // count here could predict a resize maintain would not run
    val standing = IvfIndex.standingCells(vidx)
    val resize = IvfIndex.plannedResize(nVec, standing)
    Seq(
      Advice("ann", decideAnn(nVec, nCells, nProbe = 2L, ovh),
        resize.map(ideal => decideAnn(nVec, ideal, nProbe = 2L, ovh)),
        // render the plan from the standing count the planner priced,
        // so the advisory text cannot disagree with maintain's own log
        // after a crashed retrain or emptied cells skew the meta count
        resize.map(ideal => s"maintain: resize nCells $standing -> $ideal")))
  }

  /** The advise-gate's within-route threshold K: a planned re-layout
    * that makes the SAME route ≥ K× cheaper under the shared cost model
    * fires even though no route flips. Default 2× — below that the
    * repair's whole-tree rewrite is not clearly bought back; the sf10
    * resize case this gate exists for predicted a ≫2× win (27.6× fewer
    * probed rows). Conf-overridable like every router constant. */
  private[graft] def maintainWinRatioOf(s: SparkSession): Double =
    s.conf.getOption("spark.graft.router.maintainWinRatio")
      .map(_.toDouble).getOrElse(2.0)

  private def gateNote(advs: Seq[Advice], k: Double, what: String): String =
    if (advs.exists(_.wouldFlip))
      s"advise: planned $what flips a route - repairing"
    else advs.flatMap(_.winRatio).filter(_ >= k).sorted.lastOption match {
      case Some(r) =>
        f"advise: no route flip but planned $what wins $r%.1fx >= $k%.1fx within-route - repairing"
      case None =>
        s"advise: no predicted route flip or >=${k}x within-route win - layout repair deferred"
    }

  /** Advise-GATED maintenance (the policy upgrade over the bare
    * threshold trigger): the ingest-scheduled policy used to run the
    * layout repair whenever the 4× band tripped; this variant runs the
    * EXPENSIVE re-layout (rebucket) only when the shared planners
    * predict it FLIPS a route, or makes the standing route ≥ K× cheaper
    * ([[maintainWinRatioOf]]) — the flip-only gate deferred exactly the
    * I/O-law repairs the sf10 campaign proved valuable (round-14
    * verdict, Wrong #2): a resize that changes no decision but cuts the
    * indexed leg's modeled cost 27.6× is worth the rewrite. Repairs
    * below both bars are deferred: a layout that routes the same way at
    * < K× predicted gain is, by the router's own model, not yet worth a
    * whole-tree rewrite. Bounded hygiene (file compaction, tombstone
    * vacuum) still runs every time: it never flips routes and never
    * stops paying. Returns maintain's action log (prefixed with the
    * advisory verdict). */
  def maintainPostingsIfAdvised(
      s: SparkSession, pidx: String,
      targetSbs: Int = 32, maxFilesPerSb: Int = 4): Seq[String] = {
    val k = maintainWinRatioOf(s)
    val advs = advisePostingsOn(s, pidx, targetSbs)
    val repair = advs.exists(_.shouldRepair(k))
    gateNote(advs, k, "rebucket") +:
      PostingsIndex.maintain(s, pidx, targetSbs, maxFilesPerSb,
        rebucketOk = repair)
  }

  /** [[maintainPostingsIfAdvised]] for the vector index: the resize
    * re-layout runs on a predicted ann route flip or a ≥ K× within-route
    * win; compaction and crash-replay (a crashed retrain MUST roll
    * forward — it is correctness repair, not layout tuning) run
    * regardless. The drift-retrain leg is also held back while an
    * out-of-band resize is deferred: re-fitting at a cell count the
    * planner already rejected would churn the whole index twice.
    *
    * When a crashed retrain is pending replay, the advice is NOT
    * computed from the standing tables — `ivfMetaOf`/`standingCells`
    * would read torn (new-quantizer, old-layout) stats and could
    * wrongly defer the resize for a cycle (round-14 advice, low).
    * Instead the gate falls open (`resizeOk = true`) and `maintain`'s
    * own replay-then-threshold path decides. */
  def maintainIvfIfAdvised(
      s: SparkSession, vidx: String,
      lloydRounds: Int = 5, maxFilesPerCell: Int = 4): Seq[String] = {
    val replayPending = IndexFs.exists(s"$vidx/_GRAFT_RETRAIN_INPROGRESS")
    val (note, resizeOk) =
      if (replayPending)
        ("advise: crashed retrain pending replay - advice skipped (torn " +
          "stats), resize gate open", true)
      else {
        val k = maintainWinRatioOf(s)
        val advs = adviseAnnOn(s, vidx)
        (gateNote(advs, k, "resize"), advs.exists(_.shouldRepair(k)))
      }
    note +: IvfIndex.maintain(s, vidx, lloydRounds = lloydRounds,
      maxFilesPerCell = maxFilesPerCell, resizeOk = resizeOk)
  }

  /** `hybrid_auto`: shares `hybrid_rrf_indexed`'s oracle — the scanned
    * twin computes the identical semantics with zero index reads. */
  def hybridAuto(s: SparkSession, dir: String): DataFrame =
    hybridAutoOn(s, dir,
      PostingsIndex.ensureLifecycleIndex(s, dir),
      IvfIndex.ensureLifecycleIndex(s, dir))

  /** [[hybridAuto]] for a CALLER-supplied query-entity set (the corpus
    * keys a document and its embedding identically, so one id list
    * parameterizes both legs): the MLT profiles come from those docs'
    * tokens and the vector leg probes those ids' embeddings — both twins
    * take the same list ([[Retrieval.hybridRrfIndexedFor]] /
    * [[Retrieval.hybridRrfScannedFor]]), so the route stays invisible. */
  def hybridAuto(s: SparkSession, dir: String, queryIds: Seq[Long]): DataFrame = {
    val pidx = PostingsIndex.ensureLifecycleIndex(s, dir)
    val vidx = IvfIndex.ensureLifecycleIndex(s, dir)
    if (hybridChoiceOf(s, pidx, vidx).leg == "indexed")
      Retrieval.hybridRrfIndexedFor(s, dir, queryIds)
    else Retrieval.hybridRrfScannedFor(s, dir, queryIds)
  }

  private def hybridAutoOn(
      s: SparkSession, dir: String, pidx: String, vidx: String): DataFrame =
    if (hybridChoiceOf(s, pidx, vidx).leg == "indexed")
      Retrieval.hybridRrfIndexed(s, dir)
    else Retrieval.hybridRrfScanned(s, dir)
}
