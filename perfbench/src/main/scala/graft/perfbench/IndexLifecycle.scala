package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, PostingsIndex, Router, TextAnalysis}
import graft.sources.Corpus

/** A read/write mix on the persisted postings and IVF indexes, driven
  * through their public calls.
  *
  * Set-up builds both indexes over the first half of the corpus documents
  * and embeddings, then runs every write once on a scratch copy of them,
  * so that the timed writes, like the timed searches after the warm-up
  * pass, run on loaded, compiled code. Each pass then issues, in seeded
  * order, six searches — a `query`/`queryWand` pair on a seeded term set
  * (run back to back, so no write falls between them), a
  * `bm25MoreLikeThis` on seeded query documents, an `IvfIndex.query` batch
  * of seeded vectors, and one each of the `Router` BM25 and phrase
  * routes; four writes, an `append` of the next held-out slice and a
  * `delete` of seeded live ids on each index; and one `compact` of both
  * indexes. Every pass has the same mix, however many passes a run gets.
  *
  * The routed searches run on this workload's index through the router's
  * index-taking entry points: the public `*Auto(dir)` forms build a memo
  * index at a fixed temporary path that outlives the run. */
final class IndexLifecycle(spark: SparkSession, root: String, corpus: String, seed: Long)
    extends Workload {
  import spark.implicits._

  private val pidx = s"$root/index/postings"
  private val vidx = s"$root/index/ivf"
  private val halfDocs = Fixtures.Documents / 2
  private val halfVecs = Fixtures.Embeddings / 2
  private val sliceDocs = 25
  private val sliceVecs = 25
  /** IVF deletes spare the ids the quantizer and PQ codebook are trained
    * on, so a fresh build over the live set trains the same tables. */
  private val frozenVecs = 64

  private var texts: Map[Long, String] = Map.empty
  private val liveDocs = mutable.TreeSet.empty[Long]
  private val liveVecs = mutable.TreeSet.empty[Long]
  private var nextDoc = halfDocs.toLong
  private var nextVec = halfVecs.toLong

  private def docs: DataFrame = Corpus.documents(spark, corpus).select(col("doc_id"), col("text"))
  private def embs: DataFrame = Corpus.embeddings(spark, corpus).select(col("vec_id"), col("embedding"))

  def setup(): Map[String, Double] = {
    texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    liveDocs ++= 0L until halfDocs
    liveVecs ++= 0L until halfVecs
    val t0 = System.nanoTime()
    PostingsIndex.buildFrom(spark, docs.where(col("doc_id") < halfDocs), pidx, superBits = 2)
    IvfIndex.buildFrom(spark, embs.where(col("vec_id") < halfVecs), vidx, nCells = 16)
    val buildS = (System.nanoTime() - t0) / 1e9
    warmWrites()
    Map("build_s" -> buildS)
  }

  /** One append, delete and compact on a scratch copy of each index. */
  private def warmWrites(): Unit = {
    val (wp, wv) = (s"$root/index/warm_postings", s"$root/index/warm_ivf")
    copyTree(pidx, wp)
    copyTree(vidx, wv)
    PostingsIndex.append(spark, wp,
      docs.where(col("doc_id") >= nextDoc && col("doc_id") < nextDoc + sliceDocs))
    IvfIndex.append(spark, wv,
      embs.where(col("vec_id") >= nextVec && col("vec_id") < nextVec + sliceVecs))
    PostingsIndex.delete(spark, wp, Seq(1L, 2L, 3L).toDF("doc_id"))
    IvfIndex.delete(spark, wv, Seq(frozenVecs + 1L, frozenVecs + 2L).toDF("vec_id"))
    PostingsIndex.compact(spark, wp)
    IvfIndex.compact(spark, wv)
    Seq(wp, wv).foreach(deleteTree)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val paths = Files.walk(src)
    try paths.forEach(p => Files.copy(p, Paths.get(to).resolve(src.relativize(p))))
    finally paths.close()
  }

  private def deleteTree(dir: String): Unit = {
    val paths = Files.walk(Paths.get(dir))
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  /** Three distinct vocabulary terms. */
  private def terms(r: SplittableRandom): Seq[String] = {
    val ts = mutable.LinkedHashSet.empty[String]
    while (ts.size < 3) ts += Fixtures.Vocab(r.nextInt(Fixtures.Vocab.size))
    ts.toSeq
  }

  private def pickLive(r: SplittableRandom, live: mutable.TreeSet[Long], from: Long): Long = {
    val xs = live.iteratorFrom(from).toIndexedSeq
    xs(r.nextInt(xs.size))
  }

  private def search(name: String, construct: => DataFrame,
      got: mutable.Map[String, Seq[String]] = mutable.Map.empty): Op =
    Op(name, "search", 0, t => {
      val df = t.span("construct")(construct)
      got(name) = t.span("execute")(df.collect()).map(_.toString).toSeq
    }, () => got.size < 2 || got.values.map(_.sorted).toSet.size == 1 || {
      System.err.println(s"[perfbench] $name: ${got.map { case (k, v) => s"$k=${v.sorted.mkString(" ")}" }.mkString(" vs ")}")
      false
    })

  /** `query` and `queryWand` on one term set: WAND's pruning is exact, so
    * once both have run their results must agree. */
  private def pair(ts: Seq[String]): Seq[Op] = {
    val got = mutable.Map.empty[String, Seq[String]]
    Seq(
      search("postings.query", PostingsIndex.query(spark, pidx, ts), got),
      search("postings.queryWand", PostingsIndex.queryWand(spark, pidx, ts), got))
  }

  private def mutate(name: String)(body: => Unit): Op =
    Op(name, "mutate", 0, t => t.span("execute")(body))

  def pass(i: Int): Seq[Op] = {
    val r = new SplittableRandom(seed * 1000003L + i + 1)
    val mltIds = Seq(pickLive(r, liveDocs, 0), pickLive(r, liveDocs, 0))
    val vectors = (0 until 4).map(q => (q.toLong, Fixtures.unitVector(r).toSeq))
    val routed = terms(r)
    val words = texts(pickLive(r, liveDocs, 0)).split(" ")
    val at = r.nextInt(words.length - 1)
    val reads = Seq(pair(terms(r))) ++ Seq(
      search("postings.bm25MoreLikeThis", {
        val qt = docs.where(col("doc_id").isin(mltIds: _*))
          .select(col("doc_id").as("query_id"),
            explode(TextAnalysis.tokensCol(col("text"))).as("term"))
        PostingsIndex.bm25MoreLikeThis(spark, pidx, qt, 10)
      }),
      search("ivf.query", IvfIndex.query(spark, vidx, vectors.toDF("query_id", "qv"))),
      search("router.bm25Auto", Router.bm25AutoOn(spark, corpus, pidx, routed)),
      search("router.phraseAuto",
        Router.phraseAutoOn(spark, corpus, pidx, Seq(Seq(words(at), words(at + 1)))))
    ).map(Seq(_))
    val dels = Seq.fill(5)(pickLive(r, liveDocs, 0)).distinct
    val vdels = Seq.fill(5)(pickLive(r, liveVecs, frozenVecs)).distinct
    val writes = Seq(
        mutate("postings.append") {
          val hi = math.min(nextDoc + sliceDocs, Fixtures.Documents.toLong)
          PostingsIndex.append(spark, pidx, docs.where(col("doc_id") >= nextDoc && col("doc_id") < hi))
          liveDocs ++= nextDoc until hi
          nextDoc = hi
        },
        mutate("ivf.append") {
          val hi = math.min(nextVec + sliceVecs, Fixtures.Embeddings.toLong)
          IvfIndex.append(spark, vidx, embs.where(col("vec_id") >= nextVec && col("vec_id") < hi))
          liveVecs ++= nextVec until hi
          nextVec = hi
        },
        mutate("postings.delete") {
          PostingsIndex.delete(spark, pidx, dels.toDF("doc_id"))
          liveDocs --= dels
        },
        mutate("ivf.delete") {
          IvfIndex.delete(spark, vidx, vdels.toDF("vec_id"))
          liveVecs --= vdels
        })
    val compact = Op("compact", "compact", 0, t => t.span("execute") {
      PostingsIndex.compact(spark, pidx)
      IvfIndex.compact(spark, vidx)
    })
    if (i < 0) reads.flatten // warm-up: searches only, the index stays as built
    else Workload.seeded(reads ++ writes.map(Seq(_)) ++ Seq(Seq(compact)), seed, i).flatten
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Seeded searches on the mutated postings index must equal the same
    * searches on an index freshly built from the final live set. (The IVF
    * index gets no fresh twin: its build is the costliest step of the run.) */
  def check(): Seq[String] = {
    val fp = s"$root/index/fresh_postings"
    PostingsIndex.buildFrom(spark, docs.where(col("doc_id").isin(liveDocs.toSeq: _*)), fp, superBits = 2)
    val r = new SplittableRandom(seed ^ 0x5eedL)
    (0 until 3).flatMap { k =>
      val ts = terms(r)
      if (rows(PostingsIndex.query(spark, pidx, ts)) == rows(PostingsIndex.query(spark, fp, ts))) None
      else Some(s"postings query #$k on ${ts.mkString(",")} differs from a fresh build")
    }
  }

  def wrongOps: Set[String] = Set.empty

  private def tree(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".")) Seq.empty else Seq(f)
    walk(new File(dir))
  }

  override def snapshot(): Map[String, Double] = {
    val files = Seq(pidx, vidx).flatMap(tree)
    val bytes = files.map(_.length).sum.toDouble
    val input = liveDocs.toSeq.map(d => 8L + texts(d).getBytes("UTF-8").length).sum +
      liveVecs.size * (8L + 4L * Fixtures.Dim)
    Map("index_files" -> files.size.toDouble, "index_bytes" -> bytes,
      "index_bytes_per_input_byte" -> bytes / input)
  }
}
