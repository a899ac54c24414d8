package graft
import scala.util.{Failure, Success, Try}

import graft.sources.Corpus

object Bench {

  /** One timed query execution: seconds + the error (if it threw). A failed
    * query must surface in the JSON artifact — a bench that silently times
    * broken queries misattributes regressions (round-2 verdict, Wrong #2). */
  private final case class Timed(sec: Double, err: Option[String])

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** 1/5/15-minute load averages as a JSON array, "[]" if unreadable.
    * Emitted into the artifact so a load-contaminated run self-identifies
    * (round-5 verdict, Wrong #1: two rounds of bench drift had to be
    * adjudicated as "machine load" with no evidence either way). */
  private def loadavg(): String =
    Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString("[", ",", "]")
      finally src.close()
    }.getOrElse("[]")

  /** Fixed-workload machine-speed score: a CPU-bound hash aggregate over a
    * generated range plus one canonical parquet write+scan round-trip in
    * /tmp, min of 3 (steady-state, the min-of-2 rationale). The sandbox's
    * speed moves ±60% day-over-day at IDENTICAL loadavg (round-10 judge
    * A/B: the same code + query subset measured 62 s one day, 100 s
    * another), so `loadavg` cannot adjudicate cross-day bench drift —
    * ledger comparisons divide totals by this score first (BASELINE.md
    * "Methodology"). Emitted as `calib_sec`: higher = slower machine. */
  private def calibrate(spark: org.apache.spark.sql.SparkSession): Double = {
    val dir = s"/tmp/graft_calib_${System.nanoTime()}"
    def once(): Double = {
      val t0 = System.nanoTime()
      // modulo keeps each term < 1e6 so the 20M-row ANSI sum stays far
      // from long overflow while the multiply still prices the ALU
      spark.range(0, 20000000L, 1, 32)
        .selectExpr("sum((id * 2654435761) % 1000003)",
          "count(distinct id % 1000)")
        .collect()
      spark.range(0, 2000000L, 1, 32)
        .selectExpr("id", "id % 97 as k", "cast(id as string) as s")
        .write.mode("overwrite").parquet(dir)
      Corpus.read(spark, dir).selectExpr("sum(k)", "max(s)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val score = (1 to 3).map(_ => once()).min
    Try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
    score
  }

  /** Frees executor-heap residue between passes: cached plans plus any
    * still-pinned `localCheckpoint` blocks whose owning frames went out of
    * scope before the ContextCleaner noticed. Keeps one pass's storage
    * from inflating the next pass's GC pressure (in round 5, work run
    * after 150 batch queries collapsed 4-25x on their heap residue). */
  private def releaseHeap(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val tsMs = System.currentTimeMillis()
    val loadStart = loadavg()
    SparkEntry.warmUp(spark, sfDir)
    val only = SparkEntry.onlyFromEnv
    // machine-speed score, measured JVM-warm before the timed passes —
    // full runs only: a SPARK_GRAFT_ONLY dev iteration shouldn't pay 3
    // calibration rounds for a number the ledger only uses on full-suite
    // totals (0.0 = not measured)
    val calibSec = if (only.isEmpty) calibrate(spark) else 0.0
    releaseHeap(spark)
    // Timed action: a NOOP-sink write, NOT count() — count lets Catalyst
    // prune every subtree whose output the count never reads, and the
    // round-11 honest sweep measured the fiction at 3-29× for ~10
    // queries (build_postings 0.31 s counted vs 8.9 s evaluated: the
    // count never materializes a single posting list; table_stats 0.37
    // vs 7.5: the rank/estimator branches vanish). The noop sink
    // evaluates and discards every row — the cost a real consumer pays —
    // with no driver collect. One-time ledger re-baseline documented in
    // BASELINE.md ("Honest bench re-baseline").
    def runOnce(): Seq[(String, Timed)] = SparkEntry.selected(only)
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = Try(fn(spark, sfDir).write.format("noop").mode("overwrite").save()) match {
          case Success(_) => None
          case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        name -> Timed((System.nanoTime() - t0) / 1e9, err)
      }
    // two passes, per-query min: the first run absorbs codegen/JIT/parquet
    // footer caching fixed costs, so the min is the steady-state number and
    // round-over-round deltas are signal, not first-run noise (BASELINE.md)
    val cold = runOnce()
    releaseHeap(spark)
    val warm = runOnce()
    val results = cold.zip(warm).map { case ((n, a), (_, b)) =>
      // When exactly one pass failed, a fast failure must not masquerade as
      // the steady-state time — report the successful pass's duration.
      val sec = (a.err, b.err) match {
        case (Some(_), None) => b.sec
        case (None, Some(_)) => a.sec
        case _ => math.min(a.sec, b.sec)
      }
      n -> Timed(sec, a.err.orElse(b.err))
    }
    // 3-decimal rounding everywhere: the driver archives only a 2000-char
    // TAIL slice of this stdout line, and r6/r7 both overflowed it —
    // full-precision doubles cost ~6 wasted chars per number and bought
    // nothing (round-7 verdict, Wrong #3)
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    val qs = results.map { case (k, t) => s"\"" + k + "\":" + r3(t.sec) }
      .mkString("{", ",", "}")
    // the same per-query seconds as a bare array, alphabetical by query
    // name (= the map's order): 98 full-name map entries are ~2.4 KB and
    // CANNOT fit the tail window even rounded, so the array is the form
    // the driver artifact is guaranteed to retain — names recoverable as
    // sorted(SparkEntry.queries.keys) (see README "Bench artifact")
    val qArr = results.map { case (_, t) => r3(t.sec).toString }
      .mkString("[", ",", "]")
    val errors = results.collect { case (k, Timed(_, Some(e))) =>
      s"\"" + k + "\":\"" + jsonEscape(e) + "\"" }
    val errJson =
      if (errors.isEmpty) ""
      else s""","error_count":${errors.size},"errors":${errors.mkString("{", ",", "}")}"""
    val total = r3(results.map(_._2.sec).sum)
    // each pass's own sum next to the per-query-min `value`: a pass
    // poisoned by a degrading heap shows on its own
    val passTotals = Seq(cold, warm).map(p => r3(p.map(_._2.sec).sum)).mkString("[", ",", "]")
    // Key order matters: the driver archives a 2000-char TAIL slice of
    // this line, so the most-load-bearing keys go LAST — errors,
    // calib_sec, loadavg (the load-contamination telemetry, cut from both
    // r6 and r7 artifacts), the per-pass totals, the per-query seconds
    // array, then the headline total. Only the full-name query map sits
    // ahead of them: at 98+ queries it cannot fit the window regardless,
    // and the `q` array + sorted names carries the same data.
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","ts_ms":$tsMs,"queries":$qs$errJson,"calib_sec":${r3(calibSec)},"loadavg_start":$loadStart,"loadavg_end":${loadavg()},"pass_totals":$passTotals,"q":$qArr,"value":$total}""")
    // COMPACT ECHO LINE (round-16 verdict, Next #2): every BENCH_r*.json
    // the driver has archived carries `parsed: null`, because the driver
    // parses only a 2000-char TAIL slice of stdout and the full contract
    // line above is ~6 KB — its start (and therefore any parseable JSON)
    // never survives the slice. This second line repeats the headline
    // fields VERBATIM (same q vector, same value, same calib) in ~1.2 KB,
    // so the complete line sits inside the tail window and a line-wise
    // JSON parse succeeds. Additions-only: the contract line is untouched
    // byte for byte, and `q`/`value` here are the identical values, so no
    // ledger comparison can drift. The full per-query NAME map cannot
    // fit any 2000-char archive at 160 queries (~3.8 KB of names alone);
    // q is positional over sorted(SparkEntry.queries.keys) — the
    // CORRECTNESS artifact's key set (README "Bench artifact"). Its own
    // metric name, `total_echo`, keeps a consumer that takes the last
    // `"metric":"total"` line from mistaking the echo for the full line.
    // error MESSAGES stay on the contract line only — a many-error run
    // would push this line past the tail window; the count is enough to
    // say "go read the full line"
    println(s"""{"metric":"total_echo","unit":"sec","sf":"$sfDir","ts_ms":$tsMs,"echo":true,"n_queries":${results.size},"error_count":${errors.size},"calib_sec":${r3(calibSec)},"loadavg_start":$loadStart,"loadavg_end":${loadavg()},"pass_totals":$passTotals,"q":$qArr,"value":$total}""")
    spark.stop()
  }
}
