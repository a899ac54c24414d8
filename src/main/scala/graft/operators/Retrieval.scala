package graft.operators

import graft.Materialize.MaterializeOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Corpus

/** Retrieval scoring over the document corpus — the ranked-search
  * capability a curation pipeline uses to pull topically-relevant
  * training data toward a probe query (and the complement of the
  * similarity family's embedding-space search: lexical, term-at-a-time,
  * no vectors required).
  *
  * The reference's only retrieval surface is SQL-predicate row
  * restriction (`/root/reference/src/main/scala/org/mkuthan/beam/examples/bigquery/TypedBigQueryStorage.scala:14-16`);
  * BM25 is the standard ranked extension of that capability.
  */
object Retrieval {

  // classic Okapi BM25 constants
  private val k1 = 1.2
  private val b = 0.75

  /** Posting-list block width (docs per block = 2^postingsBlockBits) —
    * the blocked layout every production inverted index uses (block-max
    * WAND et al.): per-(term, block) row size is BOUNDED at any corpus
    * scale, where a flat list(doc_id) per term would grow a single row
    * with the corpus. */
  private[graft] val postingsBlockBits = 6

  /** Inverted-index build: blocked, delta-encoded posting lists per term —
    * the index-construction half of [[bm25Topk]]'s retrieval story (bm25
    * notes that a production system would SCAN such an index; this is the
    * operator that writes it).
    *
    * Per (term, doc-id block of 64): the sorted posting list, its size,
    * and the front-coded gaps (first entry absolute, the rest deltas — the
    * compression-ready form; gap lists like these are what make postings
    * compress to a few bits per entry).
    *
    * 100 TB shape: ONE tokenize+explode scan → distinct (term, doc_id) →
    * a single (term, block)-keyed aggregate with map-side partials; the
    * collect_list is bounded at 64 longs by construction, so no group can
    * OOM a task regardless of term frequency — the skew-safety the blocked
    * layout buys. Output is naturally partitionable by term for a
    * downstream index store. */
  def buildPostings(s: SparkSession, dir: String): DataFrame =
    serializePostings(postingsStateOf(
      Corpus.documents(s, dir).select(col("doc_id"), col("text"))))

  /** The blocked index state of a (doc_id, text) frame: one row per
    * (term, block) with the doc-sorted posting entries — ONE
    * tokenize+explode scan → (term, doc)-keyed tf count (which also
    * dedups within-doc repeats) → a single (term, block)-keyed aggregate
    * with map-side partials. Each entry carries the posting's impact
    * payload alongside the id: tf, and the doc's length dl — the
    * denormalized norm every impact-ordered production index stores with
    * the posting, so query-time scoring never joins a doc-length table
    * (one long per posting buys the join away). Token POSITIONS are
    * deliberately NOT here: Spark's nested-schema pruning cannot drop a
    * struct field through `explode` when several fields are read, so an
    * in-struct positional payload would tax every BM25 scan with the
    * index's largest column — the persisted index stores positions as a
    * separate table instead (Lucene's .doc/.pos file split;
    * [[graft.operators.PostingsIndex.positionsStateOf]]). */
  private[graft] def postingsStateOf(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokensCol(col("text"))
    val dlCol = when(length(TextAnalysis.normTextCol(col("text"))) === 0, 0L)
      .otherwise(size(toks).cast("long"))
    docs
      // dl BELOW the explode, as its own projection: a sibling
      // expression in the same select as a generator lands in the
      // Project ABOVE the Generate — evaluated once per TOKEN, which
      // re-ran the two regexes + split over the full text ~dl times per
      // doc (measured 10× on the honest build cost, round 11)
      .select(col("doc_id"), dlCol.as("dl"), toks.as("toks"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), shiftright(col("doc_id"), postingsBlockBits).as("block"),
        struct(col("doc_id"), col("tf"), col("dl")).as("p"))
      .groupBy(col("term"), col("block"))
      .agg(sort_array(collect_list(col("p"))).as("plist"))
  }

  /** Wire form: df_block plus comma-joined absolute ids, front-coded
    * gaps, and the aligned tf list — the flat encoding an index store
    * would compress from (and the driver's row compare sorts by every
    * column, so outputs stay scalar). gaps computed from the id array
    * (the serialized alias below would otherwise lateral-shadow it). */
  private[graft] def serializePostings(state: DataFrame): DataFrame =
    state
      .withColumn("ids", transform(col("plist"), _.getField("doc_id")))
      .withColumn("df_block", size(col("plist")).cast("long"))
      .withColumn("gaps", array_join(transform(col("ids"),
        (x, i) => (x - coalesce(get(col("ids"), i - 1), lit(0L))).cast("string")), ","))
      .select(col("term"), col("block"), col("df_block"),
        array_join(transform(col("ids"), _.cast("string")), ",").as("postings"),
        col("gaps"),
        array_join(transform(col("plist"), _.getField("tf").cast("string")), ",")
          .as("tfs"))

  /** Merge an incoming batch into the standing blocked index without
    * touching the accumulated corpus: tokenize the BATCH only, then one
    * (term, block)-keyed union-aggregate against the state. Append-only
    * ingest means a batch can only touch NEW blocks plus the boundary
    * block the watermark sits in — every other state row passes through
    * the aggregate untouched (and a store partitioned by block would
    * rewrite only touched partitions, the [[graft.sources.IvfIndex]]
    * append discipline). Docs at or below the ingest `watermark` are
    * dropped first, so replaying yesterday's batch merges nothing
    * ([[Dedup.mergeLineDf]]'s idempotence guard); the sides being
    * doc-disjoint makes concat+sort exact, no distinct needed. */
  private[graft] def mergePostings(
      state: DataFrame, watermark: Long, incoming: DataFrame): DataFrame =
    state.unionByName(postingsStateOf(incoming.where(col("doc_id") > watermark)))
      .groupBy(col("term"), col("block"))
      // struct sort orders by leading doc_id; the watermark makes the
      // sides doc-disjoint, so concat+sort is exact with no dedup pass
      .agg(array_sort(flatten(collect_list(col("plist")))).as("plist"))

  /** Gate entry (`postings_incremental`): the snapshot half's blocked
    * index (computed inline here; standing storage in production) merged
    * with the incoming half — which must equal the full-corpus
    * [[buildPostings]] row for row, so the entry SHARES its oracle
    * ([[Dedup.boilerplateIncremental]]'s strongest-form contract). The
    * gate cut ([[Dedup.snapshotCut]] = 250) deliberately lands INSIDE
    * block 3 (docs 192..255), so the boundary-block merge path is
    * non-vacuous on the gate corpus (spec-pinned). */
  def postingsIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
    val snap = docs.where(col("doc_id") < Dedup.snapshotCut)
    val incoming = docs.where(col("doc_id") >= Dedup.snapshotCut)
    serializePostings(
      mergePostings(postingsStateOf(snap), Dedup.snapshotCut - 1L, incoming))
  }

  val buildPostingsSql: String = buildPostingsSqlFor("documents")

  /** [[buildPostingsSql]] over an arbitrary documents-shaped relation —
    * shared with `postings_delete`, whose oracle is a from-scratch build
    * over the SURVIVING corpus. */
  private[graft] def buildPostingsSqlFor(rel: String): String =
    s"""WITH dt AS (
       |  SELECT doc_id, t AS term FROM (
       |    SELECT doc_id, UNNEST(${TextAnalysis.tokensSql}) AS t FROM $rel)
       |  WHERE length(t) > 0),
       |tfa AS (
       |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM dt GROUP BY 1, 2),
       |g AS (
       |  SELECT term, doc_id >> $postingsBlockBits AS block,
       |    list(doc_id ORDER BY doc_id) AS postings,
       |    list(tf ORDER BY doc_id) AS tfl,
       |    CAST(COUNT(*) AS BIGINT) AS df_block
       |  FROM tfa GROUP BY 1, 2)
       |SELECT term, block, df_block,
       |  array_to_string(postings, ',') AS postings,
       |  array_to_string(
       |    list_transform(postings, (x, i) -> x - coalesce(postings[i-1], 0)),
       |    ',') AS gaps,
       |  array_to_string(tfl, ',') AS tfs
       |FROM g""".stripMargin

  /** Fixed probe query over the corpus vocabulary. */
  private[graft] val queryTerms: Seq[String] =
    Seq("spark", "table", "scan", "window", "join")

  /** Okapi BM25 top-10 documents for [[queryTerms]].
    *
    * Oracle exactness: every per-(doc, term) score is ONE expression tree
    * evaluated identically by both engines (exact-integer tf/df/dl fed
    * through the same IEEE multiply/divide/ln sequence), then quantized to
    * 10⁻⁴ and summed as BIGINTs — the same order-free trick as
    * [[TextAnalysis.unigramLogprob]], because a float sum's value depends
    * on partition order but an integer sum's does not. Final ranking is
    * (quantized score desc, doc_id asc) — total order, no float ties.
    *
    * 100 TB shape: the exploded token stream is filtered to the query's
    * terms BEFORE any exchange (the `isin` runs in the same codegen stage
    * as the explode — rows for non-query terms never leave the scan task;
    * a production search system would replace this full-scan term filter
    * with an inverted-index source, which only changes the scan), so the
    * only full-corpus work is the bounded (N, total-tokens) aggregate that
    * every BM25 implementation needs for avgdl — one broadcast row. Term
    * df comes from the already-filtered tf frame (≤ |query| rows after
    * aggregation, broadcast back). Per-doc length rides the document row
    * as a column — never a shuffle. The top-10 is a TakeOrdered, not a
    * global sort. */
  def bm25Topk(s: SparkSession, dir: String): DataFrame = {
    val (tf, stats) = bm25TfStats(s, dir)
    bm25Score(tf, stats)
  }

  /** [[bm25Topk]] for a caller-supplied term set — the scan leg of
    * [[Router.bm25Auto]]'s parameterized overload (the indexed leg,
    * [[PostingsIndex.query]], always took its terms). */
  def bm25TopkFor(s: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    val (tf, stats) = bm25TfStatsFor(s, dir, terms)
    bm25Score(tf, stats)
  }

  /** The full-scan path's (tf, stats) frames — shared by [[bm25Topk]] and
    * the [[bm25Rerank]] cascade so stage 1 of both is the same audited
    * plan. */
  private def bm25TfStats(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bm25TfStatsFor(s, dir, queryTerms)

  /** The full-scan (tf, stats) frames for an arbitrary term set — the
    * seam the routing scan twin ([[hybridRrfScanned]]) needs: its probe
    * vocabulary is the MLT profiles' terms, not [[queryTerms]]. */
  private[graft] def bm25TfStatsFor(
      s: SparkSession, dir: String, terms: Seq[String]): (DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokensCol(col("text"))
    // document length WITHOUT a higher-order filter: the collapsed
    // normalized text yields no empty tokens except the one empty-string
    // edge (split("") = [""]), handled by the when — keeps the whole
    // per-doc pass inside codegen (functions.filter is CodegenFallback)
    val dlCol = when(length(TextAnalysis.normTextCol(col("text"))) === 0, 0L)
      .otherwise(size(toks).cast("long"))
    val docs = Corpus.documents(s, dir)
    // scan 1 — bounded corpus stats (no explode, pure codegen): one row,
    // broadcast everywhere
    val stats = docs.agg(
      count(lit(1)).as("n_docs"), sum(dlCol).as("total_len"))
    // scan 2 — per-(doc, query-term) tf; the isin runs in the same stage
    // as the explode, so non-query tokens never leave the scan task.
    // localCheckpoint: the frame is tiny (query-term-bearing rows only)
    // and feeds both df and the score join — without it the corpus would
    // be re-scanned per consumer (measured 3 scans before this shape)
    // dl below the explode (the postingsStateOf placement fix): a
    // generator's sibling expressions evaluate per exploded row
    val tf = docs.select(col("doc_id"), dlCol.as("dl"), toks.as("toks"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .where(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .graftCheckpoint()
    (tf, stats)
  }

  /** The shared BM25 scoring epilogue over a (doc_id, dl, token, tf)
    * frame plus a 1-row (n_docs, total_len) stats frame — ONE definition
    * for the full-scan and index-scan paths, so they stay bit-identical
    * (the indexed entry shares this oracle). Term df comes from the tf
    * frame itself (≤ |query| rows after aggregation, broadcast back);
    * per-(doc, term) scores quantize to 10⁻⁴ BIGINTs before the sum, so
    * the total is partition-order-free; top-k is a TakeOrdered. */
  /** THE per-(doc, term) score pieces — single expression trees shared by
    * every BM25 path (full-scan, indexed, rerank stage 1, WAND bounds),
    * so all of them stay bit-identical to the one oracle. Both pieces are
    * WEAKLY MONOTONE under IEEE round-to-nearest (each step is a rounded
    * monotone op), which is what makes the WAND upper bounds sound:
    * `idfCol` expects (df, n_docs) columns, increasing as df decreases;
    * `tfPartCol` expects (tf, dl, total_len, n_docs), increasing in tf,
    * decreasing in dl. */
  private[graft] def idfCol: Column = log(
    (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))

  private[graft] def tfPartCol(tf: Column, dl: Column): Column = {
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    (tf.cast("double") * lit(k1 + 1.0)) /
      (tf.cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * dl.cast("double") / avgdl))
  }

  /** One quantized per-(doc, term) contribution (BIGINT 1e-4 units). */
  private[graft] def qScoreCol(tf: Column, dl: Column): Column =
    round(idfCol * tfPartCol(tf, dl) * 10000.0, 0).cast("long")

  private[graft] def bm25Score(
      tf: DataFrame, stats: DataFrame, k: Int = 10): DataFrame =
    bm25ScoreWith(tf, stats,
      tf.groupBy(col("token")).agg(count(lit(1)).as("df")), k)

  /** [[bm25Score]] with the per-term document frequency supplied by the
    * caller — the seam the WAND path needs: a pruned tf frame no longer
    * contains every doc of a term, so df must come from the index's
    * stored term stats instead of the frame itself. */
  private[graft] def bm25ScoreWith(
      tf: DataFrame, stats: DataFrame, dfT: DataFrame, k: Int): DataFrame = {
    val qscore = qScoreCol(col("tf"), col("dl"))
    tf.join(broadcast(dfT), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), qscore.as("qs"))
      .groupBy(col("doc_id")).agg(sum(col("qs")).as("sq"))
      .select(col("doc_id"), (col("sq").cast("double") / 10000.0).as("bm25"))
      .orderBy(col("sq").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("bm25"))
  }

  /** The shared WITH-chain of the BM25 oracles, through the per-doc
    * quantized-sum CTE `agg` — single-sourced so [[bm25TopkSql]] and
    * [[bm25RerankSql]]'s stage 1 cannot drift. */
  private def bm25AggSql: String = {
    val terms = queryTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""base AS (
       |  SELECT doc_id,
       |    list_filter(${TextAnalysis.tokensSql}, t -> length(t) > 0) AS toks
       |  FROM documents),
       |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM d),
       |tf AS (
       |  SELECT doc_id, dl, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, dl, UNNEST(toks) AS token FROM d)
       |  WHERE token IN $terms
       |  GROUP BY 1, 2, 3),
       |dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(
       |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |          / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |      * ((CAST(tf AS DOUBLE) * ${k1 + 1.0})
       |          / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b
       |              * CAST(dl AS DOUBLE)
       |              / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |      * 10000.0, 0) AS BIGINT) AS qs
       |  FROM tf JOIN dft USING (token) CROSS JOIN stats),
       |agg AS (SELECT doc_id, SUM(qs) AS sq FROM scored GROUP BY 1)""".stripMargin
  }

  val bm25TopkSql: String =
    s"""WITH $bm25AggSql
       |SELECT doc_id, CAST(sq AS DOUBLE) / 10000.0 AS bm25
       |FROM agg
       |ORDER BY sq DESC, doc_id ASC
       |LIMIT 10""".stripMargin

  /** Candidate budget and final k of the retrieve-then-rerank cascade. */
  private[graft] val rerankCand = 50
  private val rerankK = 10

  /** Two-stage retrieve-then-rerank (`bm25_rerank`): BM25 pulls
    * [[rerankCand]] lexically-matching candidates, then the list is
    * re-ranked by embedding cosine against the TOP BM25 hit's vector —
    * single-document pseudo-relevance feedback ("more like the best
    * match"), the cascade every production retrieval stack runs: a cheap
    * high-recall stage bounds the candidate set, the expensive precision
    * stage only ever touches that bound. [[hybridRrf]] FUSES two
    * independent legs; this CHAINS them — both compositions matter.
    *
    * Exactness: stage 1 inherits bm25's integer-quantized partition-
    * order-free scores; the anchor is unique under (score desc, doc_id
    * asc); stage 2 runs [[Similarity]]'s exact cosine tree — the same
    * expression both engines evaluate — ranked (sim desc, doc_id asc).
    *
    * 100 TB shape: stage 1 is [[bm25Topk]]'s audited plan (query-term
    * filter inside the scan stage, TakeOrdered); the candidate frame is
    * ≤[[rerankCand]] rows, localCheckpoint'ed for its two consumers, and
    * picks up vectors through ONE broadcast equi-join against a
    * two-column pruned embeddings scan — the corpus never shuffles and
    * the rerank window is bounded at the candidate budget. */
  def bm25Rerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, stats) = bm25TfStats(s, dir)
    val cand = bm25Score(tf, stats, rerankCand)
    val e = Similarity.embFrame(s, dir)
    // one embeddings join serves both the anchor pick and the scoring
    val ce = cand.join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("bm25"), col("v"), col("nrm"))
      .graftCheckpoint()
    val anchor = ce.orderBy(col("bm25").desc, col("doc_id").asc).limit(1)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val scored = ce.crossJoin(broadcast(anchor))
      .select(col("doc_id"),
        (graft.functions.VectorFunctions.dot(col("v"), col("qv")) /
          (col("nrm") * col("qn"))).as("sim"))
    // bounded at rerankCand rows by construction — the one place a
    // partitionless window is the right plan
    val w = Window.orderBy(col("sim").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= rerankK)
      .select(col("doc_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  val bm25RerankSql: String =
    s"""WITH $bm25AggSql,
       |cand AS (
       |  SELECT doc_id, CAST(sq AS DOUBLE) / 10000.0 AS bm25
       |  FROM agg ORDER BY sq DESC, doc_id ASC LIMIT $rerankCand),
       |e AS (${Similarity.sqlVecs}),
       |ce AS (
       |  SELECT c.doc_id, c.bm25, e.v, e.nrm
       |  FROM cand c JOIN e ON e.vec_id = c.doc_id),
       |anchor AS (
       |  SELECT v AS qv, nrm AS qn FROM ce
       |  ORDER BY bm25 DESC, doc_id ASC LIMIT 1),
       |rs AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(range(1, 65), i -> ce.v[i] * anchor.qv[i]))
       |      / (ce.nrm * anchor.qn) AS sim
       |  FROM ce CROSS JOIN anchor)
       |SELECT doc_id, rank, round(sim, 4) AS sim FROM (
       |  SELECT doc_id, sim,
       |    CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT)
       |      AS rank
       |  FROM rs)
       |WHERE rank <= $rerankK""".stripMargin

  // Hybrid-retrieval RRF constants: the standard k=60 damping
  // (Cormack/Clarke/Buettcher 2009), 10 probe entities, top-10 per leg
  // fused to a final top-5.
  /** More-like-this profile budget: each query document contributes its
    * [[mltProfileTerms]] lowest-df (most informative) tokens — the
    * Lucene MoreLikeThis default neighborhood. */
  private[graft] val mltProfileTerms = 25
  private val rrfDamp = 60
  private val rrfQueries = 10
  private val rrfLegK = 10
  private val rrfOutK = 5

  /** Hybrid retrieval via reciprocal-rank fusion: for each of the first
    * [[rrfQueries]] corpus entities (doc_id ≙ vec_id — the synthetic
    * corpus keys a document and its embedding identically), fuse the
    * lexical leg (exact n-gram Jaccard ranks, [[Dedup.jaccardScored]])
    * with the vector leg (exact cosine ranks, [[Similarity.cosineScored]])
    * by rrf(d) = Σ_legs 1/(k + rank_leg(d)), keeping [[rrfOutK]] per
    * query. A document surfaced by only one leg contributes one term —
    * standard RRF, which is why the fusion needs a FULL outer join.
    *
    * Determinism: each leg's rank is an integer from an exactly-ranked
    * window (ties broken by neighbor_id); the fused score is a 1-or-2-term
    * sum of doubles derived from those integers in a fixed coalesce order
    * — no aggregation-order float hazard on either engine.
    *
    * 100 TB shape: both legs reuse audited broadcast shapes (query batch
    * broadcast against the corpus; probe shingles broadcast against the
    * inverted index) and each emits ≤ queries × legK rows, so the fusion
    * join and final window run on a few hundred rows regardless of corpus
    * size. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def legRanks(scored: DataFrame, score: String): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col(score).desc, col("neighbor_id").asc)
      scored.withColumn("r", row_number().over(w))
        .where(col("r") <= rrfLegK)
        .select(col("query_id"), col("neighbor_id"), col("r"))
    }
    val vr = legRanks(Similarity.cosineScored(s, dir, rrfQueries), "sim")
      .withColumnRenamed("r", "vr")
    val jr = legRanks(Dedup.jaccardScored(s, dir, rrfQueries), "jaccard")
      .withColumnRenamed("r", "jr")
    val fused = vr.join(jr, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(rrfDamp) + col("vr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfDamp) + col("jr")), lit(0.0))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= rrfOutK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("rrf"))
  }

  val hybridRrfSql: String =
    s"""WITH e AS (${Similarity.sqlVecs}),
       |vscored AS (
       |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
       |    ${Similarity.sqlDot} / (qa.nrm * ca.nrm) AS sim
       |  FROM e qa JOIN e ca ON ca.vec_id <> qa.vec_id
       |  WHERE qa.vec_id < $rrfQueries),
       |vr AS (
       |  SELECT query_id, neighbor_id, r AS vr FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS r
       |    FROM vscored) WHERE r <= $rrfLegK),
       |sh AS (${Dedup.shingledSql}),
       |probes AS (SELECT doc_id AS query_id, shingle FROM sh
       |  WHERE doc_id < $rrfQueries),
       |inter AS (
       |  SELECT p.query_id, s.doc_id, COUNT(*) AS n_inter
       |  FROM sh s JOIN probes p USING (shingle)
       |  WHERE s.doc_id <> p.query_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |jscored AS (
       |  SELECT query_id, inter.doc_id AS neighbor_id,
       |    CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON query_id = za.doc_id
       |  JOIN sizes zb ON inter.doc_id = zb.doc_id),
       |jr AS (
       |  SELECT query_id, neighbor_id, r AS jr FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY jaccard DESC, neighbor_id ASC) AS r
       |    FROM jscored) WHERE r <= $rrfLegK),
       |fused AS (
       |  SELECT COALESCE(vr.query_id, jr.query_id) AS query_id,
       |    COALESCE(vr.neighbor_id, jr.neighbor_id) AS neighbor_id,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($rrfDamp + vr), CAST(0.0 AS DOUBLE))
       |      + COALESCE(CAST(1.0 AS DOUBLE) / ($rrfDamp + jr), CAST(0.0 AS DOUBLE)) AS score
       |  FROM vr FULL OUTER JOIN jr
       |    ON vr.query_id = jr.query_id AND vr.neighbor_id = jr.neighbor_id)
       |SELECT query_id, rank, neighbor_id, round(score, 6) AS rrf FROM (
       |  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM fused) WHERE rank <= $rrfOutK""".stripMargin

  /** Indexed hybrid retrieval (`hybrid_rrf_indexed`): the SAME RRF fusion
    * shape as [[hybridRrf]], with both legs served from the two PERSISTED
    * indexes — the production stack, where candidate generation is index
    * reads, never corpus scans:
    *
    *  - lexical leg: per-query more-like-this BM25 from the postings
    *    index ([[PostingsIndex.bm25MoreLikeThis]] — each probe document
    *    contributes its [[mltProfileTerms]] lowest-df tokens (the Lucene
    *    MoreLikeThis informative-term selection, df from the stored
    *    termstats; a raw vocabulary is stopword-heavy and Σ df over
    *    stopwords is corpus-proportional); one term-pruned postings
    *    scan over the selected profiles, stored df/globals,
    *    quantized-BIGINT scoring),
    *  - semantic leg: probed-cell cosine from the IVF index
    *    ([[IvfIndex.query]], nProbe=2 — `ann_ivf`'s exact semantics,
    *    dynamic-partition-pruned members scan).
    *
    * [[hybridRrf]] keeps both legs EXACT full scans (its oracle shape);
    * this entry trades the vector leg to probed-cell recall for index-
    * bounded I/O — so it carries its own oracle, expressing each leg's
    * exact semantics (the BM25 tree over per-query profiles; the `ann_ivf`
    * CTE chain, single-sourced via [[Similarity.annIvfCtesSql]]) and the
    * identical fusion.
    *
    * 100 TB shape: bytes read are Σ df over the probe vocabulary (postings
    * leg) + nProbe/nCells of the members table (vector leg); each leg
    * emits ≤ queries × legK rows, so fusion cost is independent of corpus
    * size — and both index builds are the amortized pre-paid pass. */
  def hybridRrfIndexed(s: SparkSession, dir: String): DataFrame =
    hybridRrfIndexedPred(s, dir, _ < rrfQueries)

  /** [[hybridRrfIndexed]] for a caller-supplied query-entity id set —
    * [[Router.hybridAuto]]'s parameterized overload (doc_id ≙ vec_id on
    * this corpus, so one list drives both legs). */
  def hybridRrfIndexedFor(
      s: SparkSession, dir: String, queryIds: Seq[Long]): DataFrame =
    hybridRrfIndexedPred(s, dir,
      _.isin(queryIds.map(java.lang.Long.valueOf): _*))

  /** `idPred` is applied to the entity id column of EACH leg's source
    * (doc_id on documents, vec_id on embeddings — the corpus keys them
    * identically), so one predicate selects the same query entities on
    * both sides. */
  private def hybridRrfIndexedPred(
      s: SparkSession, dir: String,
      idPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val pidx = PostingsIndex.ensureLifecycleIndex(s, dir)
    val vidx = IvfIndex.ensureLifecycleIndex(s, dir)
    // no .distinct(): [[PostingsIndex.mltSelect]] dedupes terms per query
    // on the driver anyway, so the exchange here only added a shuffle
    // stage to the serving path's profile-collect job (the scanned twin
    // keeps its distinct — its profile frame feeds a corpus-side join,
    // not a driver collect)
    val qt = Corpus.documents(s, dir)
      .where(idPred(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(TextAnalysis.tokensCol(col("text"))).as("term"))
      .where(length(col("term")) > 0)
    val qb = Corpus.embeddings(s, dir)
      .where(idPred(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val lr = PostingsIndex.bm25MoreLikeThis(s, pidx, qt, rrfLegK)
      .withColumnRenamed("r", "lr")
    val vr = IvfIndex
      .query(s, vidx, qb, nProbe = 2, k = rrfLegK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("vr"))
    rrfFuse(vr, lr, rrfOutK)
  }

  /** The full-scan twin of [[hybridRrfIndexed]] — SAME semantics (same
    * MLT profile selection, same quantized scoring, same probed-cell
    * vector leg, same fusion: shares `hybrid_rrf_indexed`'s oracle bit
    * for bit), ZERO index reads. This is the leg a stats-driven router
    * ([[Router.hybridAuto]]) flips to when the corpus is small enough
    * that the indexed path's fixed costs (≈6 sequential bounded driver
    * jobs — the BASELINE.md round-11 attribution) outweigh its
    * index-bounded I/O; it is also the apples-to-apples comparand that turns the
    * "indexed wins at scale" regime claim into a measurable crossover.
    *
    * Construction: ONE corpus tokenize pass filtered to the probe docs'
    * vocabulary serves both the df lookups (for the shared
    * [[PostingsIndex.mltSelect]] profile rule) and the scoring tf frame
    * (through the shared [[PostingsIndex.bm25ProfileRank]] epilogue);
    * the vector leg is the inline IVF plan at legK
    * ([[Similarity.annIvfFromK]] — `ann_ivf`'s exact semantics, which is
    * also what the persisted index serves). */
  def hybridRrfScanned(s: SparkSession, dir: String): DataFrame =
    hybridRrfScannedPred(s, dir, None)

  /** [[hybridRrfScanned]] for a caller-supplied query-entity id set —
    * [[hybridRrfIndexedFor]]'s twin, so [[Router.hybridAuto]]'s
    * parameterized overload stays route-invisible. */
  def hybridRrfScannedFor(
      s: SparkSession, dir: String, queryIds: Seq[Long]): DataFrame =
    hybridRrfScannedPred(s, dir, Some(queryIds))

  private def hybridRrfScannedPred(
      s: SparkSession, dir: String, queryIds: Option[Seq[Long]]): DataFrame = {
    import s.implicits._
    val idPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      queryIds.fold[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ < rrfQueries)(ids => _.isin(ids.map(java.lang.Long.valueOf): _*))
    val qt = Corpus.documents(s, dir)
      .where(idPred(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(TextAnalysis.tokensCol(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .distinct()
    val profRows = qt.collect().map(r => (r.getLong(0), r.getString(1)))
    val allTerms = profRows.map(_._2).distinct.toSeq
    // one corpus tokenize pass serves df AND the scoring tf
    val (tfAll, globals) = bm25TfStatsFor(s, dir, allTerms)
    val dfByTerm = tfAll.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val selected = PostingsIndex.mltSelect(profRows, dfByTerm, mltProfileTerms)
    val prof = selected.toDF("query_id", "term")
    val terms = selected.map(_._2).distinct
    val dfT = terms.map(t => (t, dfByTerm(t))).toDF("term", "df")
    val tf = tfAll.where(col("token").isin(terms: _*))
      .select(col("token").as("term"), col("doc_id"), col("tf"), col("dl"))
    val lr = PostingsIndex
      .bm25ProfileRank(tf, globals, dfT, prof, rrfLegK, excludeSelf = true)
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("r").as("lr"))
    // gate path: the standing one-pass plan (probes reuse the cellScores
    // frame); caller-ids path: the same inline IVF semantics probed for
    // exactly those ids' embeddings
    val vr = queryIds.fold(
        Similarity.annIvfFromK(Similarity.embFrame(s, dir), rrfLegK)) { ids =>
        Similarity.annIvfForQueries(s, dir,
          Corpus.embeddings(s, dir)
            .where(col("vec_id").isin(ids.map(java.lang.Long.valueOf): _*))
            .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          rrfLegK)
      }
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("vr"))
    rrfFuse(vr, lr, rrfOutK)
  }

  /** THE RRF fusion tail — (query_id, neighbor_id, vr) ⋈ (query_id,
    * neighbor_id, lr) full-outer, score = Σ 1/(60 + rank), top `outK`
    * per query — single-sourced for [[hybridRrf]]'s indexed twin and the
    * serving loop ([[graft.streaming.StreamHybridServe]]) so the fusion
    * arithmetic cannot drift between batch and stream. */
  private[graft] def rrfFuse(vr: DataFrame, lr: DataFrame, outK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = vr.join(lr, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(rrfDamp) + col("vr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfDamp) + col("lr")), lit(0.0))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= outK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("rrf"))
  }

  /** [[hybridRrfIndexed]]'s oracle: the per-query BM25 tree (the
    * [[bm25AggSql]] formula with a query axis — df/stats over the FULL
    * corpus, exactly what the index's termstats/blockstats store) fused
    * with the `ann_ivf` CTE chain. */
  val hybridRrfIndexedSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(${TextAnalysis.tokensSql}, t -> length(t) > 0) AS toks
       |  FROM documents),
       |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM d),
       |qt AS (SELECT DISTINCT doc_id AS query_id, token FROM (
       |  SELECT doc_id, UNNEST(toks) AS token FROM d
       |  WHERE doc_id < $rrfQueries)),
       |tf AS (
       |  SELECT doc_id, dl, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, dl, UNNEST(toks) AS token FROM d)
       |  GROUP BY 1, 2, 3),
       |dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |qsel AS (
       |  SELECT query_id, token FROM (
       |    SELECT qt.query_id, qt.token, ROW_NUMBER() OVER (
       |      PARTITION BY qt.query_id ORDER BY dft.df ASC, qt.token ASC) AS tr
       |    FROM qt JOIN dft USING (token)) WHERE tr <= $mltProfileTerms),
       |lscored AS (
       |  SELECT qsel.query_id, tf.doc_id,
       |    CAST(round(
       |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |          / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |      * ((CAST(tf AS DOUBLE) * ${k1 + 1.0})
       |          / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b
       |              * CAST(dl AS DOUBLE)
       |              / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |      * 10000.0, 0) AS BIGINT) AS qs
       |  FROM tf JOIN qsel USING (token) JOIN dft USING (token) CROSS JOIN stats
       |  WHERE tf.doc_id <> qsel.query_id),
       |lagg AS (SELECT query_id, doc_id, SUM(qs) AS sq FROM lscored GROUP BY 1, 2),
       |lr AS (
       |  SELECT query_id, doc_id AS neighbor_id, r AS lr FROM (
       |    SELECT query_id, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY sq DESC, doc_id ASC) AS r
       |    FROM lagg) WHERE r <= $rrfLegK),
       |${Similarity.annIvfCtesSql("TRUE")},
       |vr AS (
       |  SELECT query_id, neighbor_id, rank AS vr FROM ranked
       |  WHERE rank <= $rrfLegK),
       |fused AS (
       |  SELECT COALESCE(vr.query_id, lr.query_id) AS query_id,
       |    COALESCE(vr.neighbor_id, lr.neighbor_id) AS neighbor_id,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($rrfDamp + vr), CAST(0.0 AS DOUBLE))
       |      + COALESCE(CAST(1.0 AS DOUBLE) / ($rrfDamp + lr), CAST(0.0 AS DOUBLE)) AS score
       |  FROM vr FULL OUTER JOIN lr
       |    ON vr.query_id = lr.query_id AND vr.neighbor_id = lr.neighbor_id)
       |SELECT query_id, rank, neighbor_id, round(score, 6) AS rrf FROM (
       |  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM fused) WHERE rank <= $rrfOutK""".stripMargin

  /** Gate phrases for [[phraseSearch]]: one with a REPEATED term (a token
    * may satisfy two slots of the same phrase — the slot-distinctness
    * subtlety), one 2-gram with broad support at every test SF. */
  private[graft] val gatePhrases: Seq[Seq[String]] =
    Seq(Seq("table", "table", "key"), Seq("table", "part"))

  /** Exact phrase search (`phrase_search`): per (phrase, document), how
    * many times the token sequence occurs and where it first starts —
    * the positional-retrieval capability (quote queries, contamination
    * probes by exact passage) the BM25 family's bag-of-words scoring
    * cannot express.
    *
    * Plan: ONE tokenize+posexplode scan; the `isin` over the phrases'
    * term set runs in the same codegen stage as the explode, so only
    * phrase-term occurrences ever leave the scan task — at 100 TB the
    * exchanged row count is Σ_terms df·tf (query-bounded), not the token
    * count. Each surviving token emits one (phrase, slot) candidate per
    * slot it could fill; a single (phrase, doc, start)-keyed aggregate
    * with map-side partials then verifies adjacency by DISTINCT-SLOT
    * COUNT — `count(distinct slot) = |phrase|` iff every position
    * start..start+k-1 held the right term — replacing the k-way
    * positional self-join a naive plan would shuffle k times (the DuckDB
    * oracle does exactly that slice-compare form). Distinctness (not
    * plain count) is what makes repeated phrase terms correct: one token
    * matching two slots lands at two DIFFERENT starts, but at the same
    * start it must not double-count a single slot. */
  def phraseSearch(s: SparkSession, dir: String): DataFrame =
    phraseSearchFor(s, dir, gatePhrases)

  /** [[phraseSearch]] for caller-supplied phrases — the scan leg of
    * [[Router.phraseAuto]]'s parameterized overload ([[phraseHitsOf]]
    * always took its phrase list; only the scan-side term filter was
    * gate-bound). */
  def phraseSearchFor(
      s: SparkSession, dir: String, phrases: Seq[Seq[String]]): DataFrame =
    phraseHitsOf(
      slottedTokens(
        Corpus.documents(s, dir).select(col("doc_id"), col("text")), phrases),
      phrases)

  /** The (doc_id, pid, pos, token) stream [[phraseHitsOf]] consumes:
    * pid = null means the row may serve ANY phrase (the full-scan path);
    * the indexed path joins a per-phrase candidate set first and pins
    * pid so a doc is verified only against the phrases it was a
    * candidate for. */
  private def slottedTokens(
      docs: DataFrame, phrases: Seq[Seq[String]]): DataFrame =
    docs
      .select(col("doc_id"), lit(null).cast("int").as("pid"),
        posexplode(TextAnalysis.tokensCol(col("text"))))
      .toDF("doc_id", "pid", "pos", "token")
      .where(col("token").isin(phrases.flatten.distinct: _*))

  /** The slot-verification kernel shared by the full-scan and indexed
    * paths (identical output = shared oracle). */
  private[graft] def phraseHitsOf(
      toks: DataFrame, phrases: Seq[Seq[String]]): DataFrame = {
    val slots = for {
      (p, pid) <- phrases.zipWithIndex
      (t, i) <- p.zipWithIndex
    } yield (pid, i, t)
    val emit = array(slots.map { case (pid, i, t) =>
      when((col("pid").isNull || col("pid") === pid) && col("token") === lit(t),
        struct(lit(pid).as("pid"), lit(i).as("slot"))).otherwise(lit(null))
    }: _*)
    val lenOf = element_at(
      array(phrases.map(p => lit(p.length.toLong)): _*), col("pid") + 1)
    val strOf = element_at(
      array(phrases.map(p => lit(p.mkString(" "))): _*), col("pid") + 1)
    toks
      .select(col("doc_id"), col("pos"),
        explode(filter(emit, e => e.isNotNull)).as("e"))
      .select(col("doc_id"), col("e.pid").as("pid"), col("e.slot").as("slot"),
        (col("pos") - col("e.slot")).as("start"))
      .where(col("start") >= 0)
      .groupBy(col("pid"), col("doc_id"), col("start"))
      .agg(count_distinct(col("slot")).as("nslots"))
      .where(col("nslots") === lenOf)
      .groupBy(col("pid"), col("doc_id"))
      .agg(count(lit(1)).as("hits"), min(col("start")).cast("long").as("first_pos"))
      .select(strOf.as("phrase"), col("doc_id"), col("hits"), col("first_pos"))
  }

  /** Context tokens shown on each side of a snippet hit. */
  private[graft] val snippetContext = 3L

  /** KWIC snippets (`phrase_snippets`): for every phrase hit, the
    * keyword-in-context window — [[snippetContext]] tokens either side
    * of the FIRST occurrence — as display text. The retrieval family's
    * last mile: match ([[phraseSearch]]) → rank (bm25) → show (this).
    *
    * Plan: the hit list (query-bounded: ≤ docs-with-hits rows) joins
    * back to the corpus on doc_id — AQE broadcasts the hit side — and
    * the per-hit work is ONE `slice` on the join scan's token array (no
    * per-hit regex or re-search). Two corpus passes total: the match
    * pass and the display join-back — the standard search shape, where
    * production would replace the second scan with a doc store point
    * lookup. Both engines clamp the slice at the document edges, so the
    * snippet is exact at position 0 and at end-of-doc. */
  def phraseSnippets(s: SparkSession, dir: String): DataFrame = {
    val ctx = snippetContext
    val plen = gatePhrases.tail.foldLeft(
      when(col("phrase") === gatePhrases.head.mkString(" "),
        lit(gatePhrases.head.length.toLong))) { (acc, p) =>
      acc.when(col("phrase") === p.mkString(" "), lit(p.length.toLong))
    }
    val hits = phraseSearch(s, dir)
      .select(col("phrase"), col("doc_id"), col("first_pos"))
    val docs = Corpus.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("toks"))
    val from0 = greatest(col("first_pos") - ctx, lit(0L))
    hits.join(docs, Seq("doc_id"))
      .select(col("phrase"), col("doc_id"), col("first_pos"),
        array_join(slice(col("toks"), (from0 + 1L).cast("int"),
          (col("first_pos") + plen + ctx - from0).cast("int")), " ")
          .as("snippet"))
  }

  /** [[phraseSnippets]]'s oracle: the phrase CTE + one slice join.
    * (lazy: it interpolates [[phraseSearchSql]], which initializes
    * later in this object — the round-9 init-order gotcha.) */
  lazy val phraseSnippetsSql: String = {
    val lenCase = gatePhrases
      .map(p => s"WHEN '${p.mkString(" ")}' THEN ${p.length}")
      .mkString(" ")
    s"""WITH ph AS ($phraseSearchSql),
       |t AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM documents)
       |SELECT ph.phrase, ph.doc_id, ph.first_pos,
       |  array_to_string(t.toks[
       |    GREATEST(ph.first_pos - $snippetContext, 0) + 1 :
       |    ph.first_pos + (CASE ph.phrase $lenCase END) + $snippetContext],
       |    ' ') AS snippet
       |FROM ph JOIN t USING (doc_id)""".stripMargin
  }

  /** Gate term pair + window for [[nearSearch]]. */
  private[graft] val nearTerms: (String, String) = ("table", "part")
  private[graft] val nearWindow = 3L

  /** Proximity search (`near_search`): documents where the two probe
    * terms co-occur within ±[[nearWindow]] tokens, any order — the
    * relaxation between [[phraseSearch]]'s exact adjacency and BM25's
    * bag-of-words (the NEAR/k operator of classic retrieval).
    *
    * Plan: composition, not a new operator — the positional token
    * stream (one scan, term-filtered in the explode's codegen stage,
    * materialized once for both sides) runs through the audited
    * [[RangeJoin.pointInRange]] banded kernel. The doc key is FUSED
    * into the banded value (gpos = doc_id·2²⁰ + pos, sound while
    * positions stay below 2²⁰ — band width 2W+1 ≪ 2²⁰ means cross-doc
    * band collisions exist but cross-doc matches cannot), and the exact
    * residual re-checks doc equality and |Δpos| ≤ W on the ORIGINAL
    * columns — banding is covering, the residual is the semantics
    * (pointInRange's own contract). Per-doc work is true pairs plus
    * band neighbors, never the occ_A × occ_B cross product a bare
    * doc-equi join would fan out on a stopword pair. */
  def nearSearch(s: SparkSession, dir: String): DataFrame = {
    val (ta, tb) = nearTerms
    val toks = Corpus.documents(s, dir)
      .select(col("doc_id"), posexplode(TextAnalysis.tokensCol(col("text"))))
      .toDF("doc_id", "pos", "token")
      .where(col("token").isin(ta, tb))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .graftCheckpoint() // ONE corpus scan feeds both join sides
    nearPairsOf(toks)
  }

  /** The fused-key banded proximity kernel shared by the full-scan and
    * positional paths (identical output = shared oracle). Input: the
    * probe terms' (doc_id, pos, token) occurrences. */
  private[graft] def nearPairsOf(toks: DataFrame): DataFrame =
    nearPairFrame(toks)
      .groupBy(col("a_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("a_pos") - col("b_pos"))).as("min_dist"))

  /** The raw qualifying pair frame (a_doc, a_pos, b_doc, b_pos) under the
    * banded kernel — [[nearPairsOf]] aggregates it; [[nearSnippets]]
    * additionally picks a display anchor from it. */
  private def nearPairFrame(toks: DataFrame): DataFrame = {
    val (ta, tb) = nearTerms
    val w = nearWindow
    val shift = 1L << 20
    val a = toks.where(col("token") === ta)
      .select(col("doc_id").as("a_doc"), col("pos").as("a_pos"),
        (col("doc_id") * shift + col("pos")).as("gpos"))
    val b = toks.where(col("token") === tb)
      .select(col("doc_id").as("b_doc"), col("pos").as("b_pos"),
        (col("doc_id") * shift + col("pos") - w).as("gstart"),
        (col("doc_id") * shift + col("pos") + w + 1L).as("gend"))
    RangeJoin.pointInRange(a, b, col("gpos"), col("gstart"), col("gend"),
      bandWidth = 2 * w + 1,
      residual = Some(col("a_doc") === col("b_doc") &&
        abs(col("a_pos") - col("b_pos")) <= w))
  }

  /** Proximity snippets (`near_snippets`): [[phraseSnippets]]' KWIC
    * last-mile extended to [[nearSearch]] hits. Per hit document, the
    * display anchor is the CLOSEST qualifying pair (ties → smaller left
    * position, then smaller right position — a total order, so both
    * engines pick the same pair), and the snippet is the token window
    * from [[snippetContext]] before the pair's left term to
    * [[snippetContext]] past its right term, clamped at the document
    * edges ([[phraseSnippets]]' clamp discipline — exact at position 0
    * and at end-of-doc, spec-pinned).
    *
    * Plan: the pair frame is the audited banded kernel; the anchor pick
    * is one struct-min aggregate fused into the SAME (doc)-keyed
    * aggregation that counts pairs — no second pass, no window over an
    * unbounded frame — and the join-back to the corpus is the hit list
    * (query-bounded) against the token scan, AQE-broadcast like the
    * phrase twin. */
  def nearSnippets(s: SparkSession, dir: String): DataFrame =
    nearSnippetsOf(s,
      Corpus.documents(s, dir).select(col("doc_id"), col("text")))

  /** [[nearSnippets]] over an arbitrary (doc_id, text) frame — the seam
    * the edge-clamp spec feeds synthetic documents through. */
  private[graft] def nearSnippetsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val (ta, tb) = nearTerms
    val ctx = snippetContext
    val toks = docs
      .select(col("doc_id"), posexplode(TextAnalysis.tokensCol(col("text"))))
      .toDF("doc_id", "pos", "token")
      .where(col("token").isin(ta, tb))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .graftCheckpoint() // ONE corpus scan feeds both join sides
    val lo = least(col("a_pos"), col("b_pos"))
    val hi = greatest(col("a_pos"), col("b_pos"))
    val hits = nearPairFrame(toks)
      .select(col("a_doc").as("doc_id"),
        abs(col("a_pos") - col("b_pos")).as("dist"), lo.as("lo"), hi.as("hi"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("dist"), col("lo"), col("hi"))).as("best"))
      .select(col("doc_id"), col("n_pairs"), col("best.dist").as("min_dist"),
        col("best.lo").as("start_pos"), col("best.hi").as("hi"))
    val tokArr = docs
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("toks"))
    val from0 = greatest(col("start_pos") - ctx, lit(0L))
    hits.join(tokArr, Seq("doc_id"))
      .select(col("doc_id"), col("n_pairs"), col("min_dist"), col("start_pos"),
        array_join(slice(col("toks"), (from0 + 1L).cast("int"),
          (col("hi") + ctx - from0 + 1L).cast("int")), " ").as("snippet"))
  }

  /** [[nearSnippets]]' oracle: the naive positional self-join pair set,
    * aggregated and anchor-picked by window — structurally unlike the
    * banded kernel + struct-min plan (the point of an oracle). */
  val nearSnippetsSql: String = {
    val (ta, tb) = nearTerms
    s"""WITH t0 AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, toks[pos+1] AS tok
       |  FROM t0, UNNEST(range(0, len(toks))) AS u(pos)),
       |p AS (
       |  SELECT a.doc_id, a.pos AS a_pos, b.pos AS b_pos
       |  FROM t a JOIN t b
       |    ON a.doc_id = b.doc_id AND ABS(a.pos - b.pos) <= $nearWindow
       |  WHERE a.tok = '$ta' AND b.tok = '$tb'),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    MIN(ABS(a_pos - b_pos)) AS min_dist
       |  FROM p GROUP BY 1),
       |best AS (
       |  SELECT doc_id, LEAST(a_pos, b_pos) AS lo, GREATEST(a_pos, b_pos) AS hi
       |  FROM (
       |    SELECT doc_id, a_pos, b_pos, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id
       |      ORDER BY ABS(a_pos - b_pos), LEAST(a_pos, b_pos),
       |        GREATEST(a_pos, b_pos)) AS rn
       |    FROM p) WHERE rn = 1)
       |SELECT agg.doc_id, agg.n_pairs, agg.min_dist, best.lo AS start_pos,
       |  array_to_string(t0.toks[
       |    GREATEST(best.lo - $snippetContext, 0) + 1 :
       |    best.hi + $snippetContext + 1], ' ') AS snippet
       |FROM agg JOIN best USING (doc_id) JOIN t0 USING (doc_id)""".stripMargin
  }

  /** [[nearSearch]]'s oracle: the direct positional self-join (the
    * naive plan the banded kernel replaces — structurally different,
    * which is the point of an oracle). */
  val nearSearchSql: String = {
    val (ta, tb) = nearTerms
    s"""WITH t AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, toks[pos+1] AS tok
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |    UNNEST(range(0, len(toks))) AS u(pos))
       |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MIN(ABS(a.pos - b.pos)) AS min_dist
       |FROM t a JOIN t b
       |  ON a.doc_id = b.doc_id AND ABS(a.pos - b.pos) <= $nearWindow
       |WHERE a.tok = '$ta' AND b.tok = '$tb'
       |GROUP BY 1""".stripMargin
  }

  /** [[phraseSearch]]'s oracle, in the house positional form
    * ([[Dedup.posGramsSqlForN]]'s `UNNEST(range(...)) AS u(pos)` +
    * direct slice compare) — structurally UNLIKE the Spark plan's
    * slot-count verification, which is the point of an oracle. */
  val phraseSearchSql: String = {
    val legs = gatePhrases.map { p =>
      val conds = p.zipWithIndex
        .map { case (t, i) => s"toks[pos+${i + 1}] = '$t'" }.mkString(" AND ")
      s"""SELECT '${p.mkString(" ")}' AS phrase, doc_id,
         |    CAST(pos AS BIGINT) AS pos
         |  FROM t, UNNEST(range(0, len(toks) - ${p.length - 1})) AS u(pos)
         |  WHERE $conds""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH t AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks
       |  FROM documents),
       |m AS (
       |  $legs)
       |SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS hits,
       |  MIN(pos) AS first_pos
       |FROM m GROUP BY 1, 2""".stripMargin
  }
}
