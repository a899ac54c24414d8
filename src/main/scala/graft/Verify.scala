package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration only)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.selected(only).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Self-sizing queries derive a parameter from the corpus vector count
    // (Similarity.bitsForCount for the near-dup LSH band width,
    // Similarity.clustersForCount for the k-means/semdedup k), so their
    // oracles must be sized for THIS sf dir, not the static map's
    // sf0.01-shaped values — at sf1 the near-dup mismatch used to require
    // a manual oracle-SQL swap before running check_par.py. One
    // cheap count here removes that step for all three; at sf0.01 the
    // generated SQL is byte-identical to the static entries.
    val sizedSql: Map[String, String] =
      try {
        val n = graft.sources.Corpus.embeddings(spark, sfDir).count()
        val k = graft.operators.Similarity.clustersForCount(n)
        Map(
          "embedding_near_dups" ->
            graft.operators.Similarity.embeddingNearDupsSqlFor(
              graft.operators.Similarity.bitsForCount(n)),
          "embedding_near_dups_wide" ->
            graft.operators.Similarity.embeddingNearDupsWideSqlFor(n),
          "kmeans_assign" -> graft.operators.Similarity.kmeansAssignSqlFor(k),
          "semdedup" -> graft.operators.Similarity.semDedupSqlFor(k))
      } catch { case _: Throwable => Map.empty }
    val json = (SparkEntry.oracleSql ++ sizedSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
