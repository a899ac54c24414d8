package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Sink parity with the reference's BigQuery/Avro I/O (SURVEY.md §2.2),
  * re-targeted at the formats available offline (parquet/json/csv/orc —
  * identical disposition semantics; spark-avro is not on this image's
  * classpath).
  *
  *  - [[writeAppend]] ≙ K1/K3 batch file-load sink
  *    (`bigquery/SaveSpecificRecord.scala:59-79`, `SaveTypedBigQuery
  *    .scala:30-37`): WRITE_APPEND ⇒ `mode("append")`; CREATE_NEVER ⇒
  *    fail fast when the target does not already exist.
  *  - [[streamFiles]] ≙ K1 unbounded variant: `withTriggeringFrequency` ⇒
  *    `Trigger.ProcessingTime`, `withNumFileShards` ⇒ `repartition(n)`.
  *  - [[foreachBatchSink]] ≙ K2 streaming-insert sink with transient-error
  *    retry: per-micro-batch delivery where idempotent writes + Spark task
  *    retry replace Beam's `retryTransientErrors` policy.
  *  - [[debug]] ≙ K4 console/debug sink (`bigquery/BigQueryRecord
  *    .scala:18-21`): sample one row + count.
  */
object Io {

  sealed trait CreateDisposition
  case object CreateIfNeeded extends CreateDisposition
  case object CreateNever extends CreateDisposition

  /** Append `df` to `path` in `format`. With [[CreateNever]], throws if the
    * target was never created — the reference's CREATE_NEVER contract. */
  def writeAppend(
      df: DataFrame,
      path: String,
      format: String = "parquet",
      disposition: CreateDisposition = CreateIfNeeded): Unit = {
    if (disposition == CreateNever) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), df.sparkSession.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(path)),
        s"CREATE_NEVER: target $path does not exist")
    }
    df.write.mode("append").format(format).save(path)
  }

  /** Streaming file sink: shard + trigger-frequency control. Caller starts
    * the returned writer (`.start()`), mirroring the reference's unbounded
    * FILE_LOADS config. */
  def streamFiles[T](
      ds: Dataset[T],
      path: String,
      checkpoint: String,
      triggerInterval: String = "10 seconds",
      numShards: Int = 1,
      format: String = "parquet"): DataStreamWriter[Row] =
    ds.toDF().repartition(numShards)
      .writeStream
      .format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))

  /** Row-delivery streaming sink: the K2 shape. `deliver` receives each
    * micro-batch and its id; it must be idempotent on retry. */
  def foreachBatchSink[T](
      ds: Dataset[T],
      checkpoint: String)(deliver: (Dataset[T], Long) => Unit): DataStreamWriter[T] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[T], id: Long) => deliver(batch, id) }

  /** Debug sink: one sample row + total count, like `.debug()` in the
    * reference. Returns the count so callers can assert on it. */
  def debug(df: DataFrame, prefix: String = "debug"): Long = {
    df.show(1, truncate = false)
    val n = df.count()
    println(s"$prefix: $n rows")
    n
  }

  /** Skipping probe: per row group, the footer (min, max) of an INT64
    * column — what a stats-aware scan consults to decide whether the
    * group can satisfy a range predicate at all. The measured half of the
    * clustering story: after [[compact]]`(sortBy)` or [[compactZ]], the
    * fraction of groups whose [min, max] misses a predicate's range IS
    * the fraction of I/O the layout saves. Footer reads only. */
  def columnRangeStats(
      spark: SparkSession, path: String, column: String): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), hconf)
    val p = new org.apache.hadoop.fs.Path(path)
    val files =
      (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
       else Seq(fs.getFileStatus(p)))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    files.flatMap { s =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(s.getPath, hconf))
      try rdr.getFooter.getBlocks.asScala.toSeq.map { b =>
        val cc = b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(throw new IllegalArgumentException(
            s"no column '$column' in ${s.getPath}"))
        val st: org.apache.parquet.column.statistics.Statistics[_] =
          cc.getStatistics
        (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
         st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
      }
      finally rdr.close()
    }
  }

  /** Ingest re-layout (compaction): rewrite a parquet table so that scans
    * parallelize. Spark cannot split a parquet ROW GROUP across tasks, so
    * a table shipped as one monolithic file with one row group (the
    * round-7 corpus regeneration did exactly this — see BASELINE.md,
    * "Corpus regeneration re-baseline": a measured 1.85× scan slowdown)
    * serializes every downstream scan no matter what
    * `maxPartitionBytes` says. The first stage of a 100 TB pipeline over
    * externally-produced files is this rewrite; every scan after it
    * splits into `ceil(bytes / targetBytes)` tasks.
    *
    * Output file count is sized from the INPUT's on-disk bytes (compressed
    * parquet → parquet of the same codec keeps the ratio), clamped to at
    * least the session's default parallelism so small tables still fan
    * out. Returns the file count written.
    *
    * `sortBy` optionally range-clusters rows before the write (a
    * repartitionByRange + local sort), so parquet row-group min/max stats
    * line up with the cluster key and downstream range predicates skip
    * whole files — the data-skipping half of the layout story. */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil): Int =
    sizedRewrite(spark, inPath, outPath, targetBytes) { (df, files) =>
      if (sortBy.isEmpty) df.repartition(files)
      else df.repartitionByRange(files, sortBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(sortBy.map(org.apache.spark.sql.functions.col): _*)
    }

  /** [[compact]] with Z-ORDER clustering: rows are laid out along a Morton
    * curve over `zorderBy`'s quantile-bucket ranks
    * ([[graft.functions.ZOrderKey]]), so parquet min/max stats line up
    * with EVERY clustered column at once and range predicates on any of
    * them skip most row groups — single-column `sortBy` clustering only
    * serves predicates on that one column. Quantile cut points
    * (2^bits − 1 per column, one approx-quantile pass) make the curve
    * skew-proof: each bucket holds ~1/2^bits of the rows whatever the
    * value distribution. Columns are cast to long ranks; the z key is
    * never written, only sorted on. */
  def compactZ(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      zorderBy: Seq[String],
      bits: Int = 8,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(zorderBy.size >= 2,
      "z-order needs >= 2 columns (use compact(sortBy) for one)")
    import org.apache.spark.sql.functions.col
    sizedRewrite(spark, inPath, outPath, targetBytes) { (df, files) =>
      val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
      val boundaries = zorderBy.map { c =>
        df.select(col(c).cast("double").as(c))
          .stat.approxQuantile(c, probs, 0.001).map(_.toLong)
      }
      val zkey = graft.functions.ZOrderFunctions.zkey(
        zorderBy.map(c => col(c).cast("long")), boundaries)
      df.repartitionByRange(files, zkey).sortWithinPartitions(zkey)
    }
  }

  /** Shared sizing + same-path guard of the re-layout family: output file
    * count derives from the INPUT's on-disk bytes, clamped to the default
    * parallelism so small tables still fan out. */
  private def sizedRewrite(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long)(
      layout: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // in and out may live on DIFFERENT filesystems (hdfs → s3a, file →
    // hdfs): resolve each from its own URI, and refuse a same-path call —
    // mode("overwrite") would clobber the input before the lazy read runs
    val inFs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(inPath), hconf)
    val outFs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(outPath), hconf)
    val inQ = inFs.makeQualified(new org.apache.hadoop.fs.Path(inPath))
    val outQ = outFs.makeQualified(new org.apache.hadoop.fs.Path(outPath))
    require(inQ != outQ,
      s"Io.compact would overwrite its own input (in == out == $inQ)")
    val bytes = inFs.getContentSummary(inQ).getLength
    val files = math.max(
      spark.sparkContext.defaultParallelism,
      math.ceil(bytes.toDouble / targetBytes).toInt)
    layout(Corpus.read(spark, inPath), files).write.mode("overwrite").parquet(outPath)
    outFs.listStatus(outQ)
      .count(s => s.getPath.getName.endsWith(".parquet"))
  }
}
