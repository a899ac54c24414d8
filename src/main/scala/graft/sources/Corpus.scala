package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver's parquet corpus (TESTDATA.md / FIXTURES.md §B).
  *
  * Each reader is a plain parquet scan — Catalyst pushes filters and prunes
  * columns into the scan, which is the Spark-native equivalent of the
  * reference's BigQuery Storage-API `rowRestriction` + typed column pruning
  * (`/root/reference/.../bigquery/TypedBigQueryStorage.scala:14-16`).
  *
  * Every parquet read in the library goes through [[read]], which infers
  * a path's schema once and declares it on later reads — the reference's
  * typed reads take their schema from the case class and never infer one.
  * A bare `spark.read.parquet(path)` launches a one-task job to read a
  * footer on EVERY call, even when the files have not changed.
  */
object Corpus {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** SQL confs that change the schema parquet inference returns — part of
    * the memo's stamp, so flipping one re-infers. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** path → (stamp, inferred schema); one entry per distinct path, a
    * miss overwrites the path's old entry. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Seq[Option[String]]), StructType)]()

  /** `spark.read.parquet(path)` with the schema inference memoized.
    *
    * The memo keys on the path and is stamped with [[fingerprint]] (the
    * recursive listing's names, lengths and mtimes) plus the current
    * values of the inference confs. The listing is in the stamp because
    * an index directory is rewritten in place — a rewrite that adds a
    * column, or a new partition directory whose value changes an
    * inferred partition-column type, must re-infer. On a hit the read
    * declares the cached schema and runs no Spark job; the file listing
    * itself stays fresh on every read. The price is one listing walk
    * per read (one `listStatus` per directory, so a few RPCs on a remote
    * filesystem) against the one-task inference job it replaces.
    *
    * Nothing is cached until a plain read succeeds, so a missing path or
    * an empty directory throws exactly as `spark.read.parquet` does. A
    * path with no [[graft.operators.IndexFs]] binding (an object store)
    * cannot be fingerprinted and always takes the plain read. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fp =
      try Some(fingerprint(path))
      catch { case _: IllegalArgumentException => None } // no binding
    fp match {
      case None => spark.read.parquet(path)
      case Some(f) =>
        val stamp = (f, inferenceConfs.map(spark.conf.getOption))
        val hit = schemas.get(path)
        if (hit != null && hit._1 == stamp)
          spark.read.schema(hit._2).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(path, (stamp, df.schema))
          df
        }
    }
  }

  /** Content fingerprint of a parquet table path — stable iff the data is.
    *
    * `file.length()/lastModified()` on the path alone is only reliable
    * when the table is a SINGLE file: for a directory of part files,
    * directory length is filesystem-dependent and the directory mtime
    * only changes on direct child add/remove — an in-place part-file
    * rewrite would go unnoticed and serve a stale derived artifact. This
    * helper hashes the sorted recursive listing of (relative name,
    * length, mtime) over every data file (dotfiles/_SUCCESS markers
    * excluded), so both the single-file and the directory layout
    * fingerprint correctly. Shared by every derived-artifact cache keyed
    * on a corpus table (the trained quality weights, the IVF index tag)
    * and by the schema memo of [[read]]. */
  def fingerprint(path: String): Long = {
    import graft.operators.IndexFs
    // one listStatus per directory (the IndexFs contract: name, length,
    // mtime in a single listing call), so the walk costs one RPC per
    // directory on a remote filesystem, not one per file
    def leaves(p: String): Seq[(String, Long, Long)] =
      if (IndexFs.isDirectory(p))
        IndexFs.listStatus(p).sortBy(_.name)
          .filterNot(c => c.name.startsWith(".") || c.name.startsWith("_"))
          .flatMap { c =>
            if (c.isDir) leaves(s"$p/${c.name}")
            else Seq((s"$p/${c.name}", c.len, c.mtimeMs))
          }
      else
        IndexFs.stat(p).filterNot(_.isDir)
          .map(c => Seq((p, c.len, c.mtimeMs))).getOrElse(Seq.empty)
    var h = 1125899906842597L // large prime seed
    leaves(path).foreach { case (full, len, mtime) =>
      val rel = full.stripPrefix(path)
      h = h * 31 + rel.hashCode
      h = h * 31 + len
      h = h * 31 + mtime
    }
    h & 0x7fffffffffffffffL
  }

  /** Normalize `ts` to a session-timezone TIMESTAMP whatever the corpus
    * file's encoding is — the driver has shipped both:
    *
    *  - TIMESTAMP(NANOS): Spark has no nanos type; sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` and the long is
    *    truncated to micros here — exactly what DuckDB does reading the
    *    same file, so oracle comparisons stay exact.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ; the cast reinterprets the wall-clock in the
    *    session timezone (UTC, pinned by GraftSession) — the same naive
    *    reading DuckDB uses, so instants and oracles agree unchanged. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }).getOrElse(df)

  /** Every corpus table, by view name → reader — ONE list shared by the
    * named reader defs and [[registerViews]], so adding a table cannot
    * silently miss the SQL surface. */
  private val allTables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> (region(_, _)), "nation" -> (nation(_, _)),
    "customer" -> (customer(_, _)), "supplier" -> (supplier(_, _)),
    "part" -> (part(_, _)), "orders" -> (orders(_, _)),
    "lineitem" -> (lineitem(_, _)), "documents" -> (documents(_, _)),
    "embeddings" -> (embeddings(_, _)), "events" -> (events(_, _)))

  /** Register every corpus table as a temp view so pure-SQL users can
    * `spark.sql("SELECT ... FROM lineitem")` after one call — the
    * library-level counterpart of the reference's "tables just exist in
    * the warehouse" assumption. Views go through the typed readers, so
    * normalizations (e.g. the events nanos→micros timestamp) are
    * identical for SQL and DataFrame callers. */
  def registerViews(s: SparkSession, dir: String): Unit =
    allTables.foreach { case (n, reader) =>
      reader(s, dir).createOrReplaceTempView(n)
    }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which Spark rejects unless
    // this legacy flag is on. GraftSession.builder sets it; the read only
    // checks it, because it runs inside concurrent Overlap chains and a
    // write here would change the caller's shared session.
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    require(s.conf.getOption(nanos).contains("true"),
      s"Corpus.events needs $nanos=true; build the session with GraftSession.builder")
    normalizeTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Canonical mapping of the `events` table onto the reference's `AdEvent`
    * stream (FIXTURES.md §B.1), fixed here so the DuckDB oracle can express
    * the identical mapping:
    *   ad_id     = event_id % 1000
    *   screen_id = user_id
    *   action    = click → Click, view → Impression, else Unknown
    */
  def adEvents(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      (col("event_id") % 1000L).as("ad_id"),
      col("user_id").as("screen_id"),
      when(col("event_type") === "click", "Click")
        .when(col("event_type") === "view", "Impression")
        .otherwise("Unknown").as("action"),
      col("ts"))

  /** SQL fragment of [[adEvents]] for DuckDB oracles. */
  val adEventsSql: String =
    """SELECT event_id % 1000 AS ad_id, user_id AS screen_id,
      |  CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'Impression'
      |       ELSE 'Unknown' END AS action, ts
      |FROM events""".stripMargin

  /** `screens` stream stand-in: view events — screen id = event, publication
    * id = user (FIXTURES.md §B.1 latest-wins enrichment shape). */
  def screens(s: SparkSession, d: String): DataFrame =
    events(s, d).where(col("event_type") === "view").select(
      col("event_id").as("screen_id"),
      col("user_id").as("publication_id"),
      col("ts"))

  val screensSql: String =
    """SELECT event_id AS screen_id, user_id AS publication_id, ts
      |FROM events WHERE event_type = 'view'""".stripMargin

  /** `publications` dimension stand-in: signup events — one version row per
    * occurrence; latest per publication_id wins (reference J1 semantics).
    * The dimension deliberately excludes `user_id % 5 == 0` so the J1 DLQ
    * (unmatched screens) path is exercised at every scale factor. */
  def publications(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .where(col("event_type") === "signup" && col("user_id") % 5L =!= 0L)
      .select(
        col("user_id").as("publication_id"),
        concat(lit("v"), col("event_id")).as("version"),
        col("ts"))

  val publicationsSql: String =
    """SELECT user_id AS publication_id, 'v' || event_id AS version, ts
      |FROM events WHERE event_type = 'signup' AND user_id % 5 <> 0""".stripMargin
}
