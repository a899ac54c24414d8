package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark JVM: one workload, one seed, one thread issuing
  * operations in a closed loop at `local[cores]`. Writes one JSON result
  * file; `perfbench/run.py` builds the classpath, launches this and prints
  * the result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, root: String, corpus: String, out: String, traceOut: String, golden: String,
      recordGolden: Boolean, spawnMs: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("root"), m("corpus"), m("out"), m.getOrElse("trace-out", ""),
      m("golden"), m.getOrElse("record-golden", "0") == "1", m("spawn-ms").toLong)
  }

  /** A session whose every directory lives under the run's fresh root. */
  def session(a: Args, cores: Int): SparkSession = {
    val b = GraftSession.builder(Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.root}/local")
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.root}/ckpt")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.graft.checkpoint.dir", s"${a.root}/rddckpt")
    val b1 =
      if (a.workload != "stream_ingest") b
      else b.config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.sql.streaming.join.stateFormatVersion", "3")
    val spark = GraftSession.registerSketches(b1.getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${a.root}/rddckpt")
    spark
  }

  final case class Timed(op: Op, pass: Int, seconds: Double, ok: Boolean)

  /** Runs whole passes from `firstPass`, starting passes until `seconds`
    * have elapsed (at least one pass). */
  def loop(w: Workload, t: Tracer, seconds: Double, firstPass: Int): (Seq[Timed], Seq[Double]) = {
    val timed = mutable.ArrayBuffer.empty[Timed]
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = firstPass
    while (passes.isEmpty || elapsed < seconds) {
      val p0 = System.nanoTime()
      w.pass(i).foreach { op =>
        val s = System.nanoTime()
        val ok = Try(t.op(op.name, op.kind)(op.run(t))) match {
          case Success(_) => true
          case Failure(e) =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            false
        }
        val sec = (System.nanoTime() - s) / 1e9
        val right = ok && op.check()
        if (ok && !right) System.err.println(s"[perfbench] ${op.name} gave a wrong output")
        timed += Timed(op, i, sec, right)
      }
      passes += (System.nanoTime() - p0) / 1e9
      i += 1
    }
    (timed.toSeq, passes.toSeq)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median latency of each operation name. */
  private def perOp(timed: Seq[Timed]): Map[String, Double] =
    timed.groupBy(_.op.name).map { case (k, v) => k -> median(v.map(_.seconds)) }

  /** Quantile by linear interpolation between order statistics, so a
    * quantile falling between two clusters of operation latencies does not
    * jump from one cluster to the other. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * q
      val lo = h.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(0.0)

  /** A fixed single-threaded CPU task; its time lets results from
    * different machines or windows be normalised. */
  private def calibration(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 50000000) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The end-to-end and per-workload metrics of a set of timed passes. */
  private def outcome(timed: Seq[Timed], passes: Seq[Double]): Map[String, Double] = {
    val lat = timed.map(_.seconds)
    def of(kind: String) = timed.filter(_.op.kind == kind).map(_.seconds)
    val events = timed.map(_.op.events).sum
    Map(
      "pass_s" -> median(passes),
      "latency_p50_s" -> quantile(lat, 0.5),
      "latency_p90_s" -> quantile(lat, 0.9),
      "ops" -> lat.size.toDouble,
      "search_p50_s" -> quantile(of("search"), 0.5),
      "search_p90_s" -> quantile(of("search"), 0.9),
      "mutate_p50_s" -> quantile(of("mutate"), 0.5),
      "events_per_s" -> (if (events == 0) 0.0 else events / lat.sum))
  }

  /** Per-layer totals per pass from a traced window. */
  private def layers(tr: SpanTracer, np: Int, cores: Int): Map[String, Double] = {
    val spans = tr.allSpans
    val ops = spans.filter(_.parent < 0)
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val all = ops.flatMap(tr.workUnder)
    val construct = spans.filter(_.name == "construct").flatMap(tr.workUnder)
    def sum(ws: Seq[Work])(f: Work => Long) = ws.map(f).sum.toDouble
    val opMs = ops.map(o => (o.endMs - o.startMs).toDouble).sum
    val selfMs = ops.map { o =>
      val iv = tr.workUnder(o).flatMap(_.taskIntervals)
      (o.endMs - o.startMs) - Intervals.covered(iv, o.startMs, o.endMs)
    }.sum.toDouble
    val cJobs = sum(construct)(_.jobs)
    val cCkpt = sum(construct)(_.checkpointJobs)
    val busyMs = sum(all)(_.taskBusyMs)
    Map(
      "construct_s" -> secs("construct"),
      "construct_jobs" -> cJobs,
      "checkpoint_jobs" -> cCkpt,
      "probe_jobs" -> (cJobs - cCkpt),
      "plan_s" -> secs("plan"),
      "execute_s" -> secs("execute"),
      "jobs" -> sum(all)(_.jobs),
      "stages" -> sum(all)(_.stages),
      "tasks" -> sum(all)(_.tasks),
      "task_busy_s" -> busyMs / 1000,
      "task_cpu_s" -> sum(all)(_.taskCpuNs) / 1e9,
      "driver_self_s" -> selfMs / 1000,
      "task_failures" -> sum(all)(_.taskFailures),
      "scan_rows" -> sum(all)(_.scanRows),
      "scan_bytes" -> sum(all)(_.scanBytes),
      "shuffle_write_bytes" -> sum(all)(_.shuffleWriteBytes),
      "shuffle_read_bytes" -> sum(all)(_.shuffleReadBytes),
      "shuffle_wait_s" -> sum(all)(_.shuffleWaitMs) / 1000,
      "spill_bytes" -> sum(all)(_.spillBytes),
      "write_bytes" -> sum(all)(_.writeBytes),
      "search_scan_bytes" -> sum(ops.filter(_.kind == "search").flatMap(tr.workUnder))(_.scanBytes)
    ).map { case (k, v) => k -> v / np } ++ Map(
      "core_util" -> (if (opMs == 0) 0.0 else busyMs / (opMs * cores)),
      "peak_task_mem_mb" -> all.map(_.peakTaskMem).foldLeft(0L)(math.max) / 1048576.0)
  }

  /** The per-operation breakdown written to the trace file. */
  private def traceFile(tr: SpanTracer, speedup: Map[String, Double]): Any = {
    val spans = tr.allSpans
    spans.filter(_.parent < 0).map { o =>
      val children = spans.filter(_.parent == o.id)
      val ws = tr.workUnder(o)
      val covered = Intervals.covered(ws.flatMap(_.taskIntervals), o.startMs, o.endMs)
      Map(
        "op" -> o.name, "kind" -> o.kind, "seconds" -> o.seconds,
        "self_s" -> (o.seconds - children.map(_.seconds).sum),
        "driver_self_s" -> ((o.endMs - o.startMs) - covered) / 1000.0,
        "speedup_vs_1core" -> speedup.getOrElse(o.name, 0.0),
        "spans" -> children.map { c =>
          val cw = tr.workUnder(c)
          Map("name" -> c.name, "seconds" -> c.seconds,
            "jobs" -> cw.map(_.jobs).sum, "checkpoint_jobs" -> cw.map(_.checkpointJobs).sum,
            "tasks" -> cw.map(_.tasks).sum, "call_sites" -> cw.flatMap(_.callSites))
        })
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val goldenPath = Paths.get(a.golden)
    val expected =
      if (Files.exists(goldenPath)) Json.parseFlat(Files.readString(goldenPath)) else Map.empty[String, String]
    val golden = new Golden(expected, a.recordGolden)
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - a.spawnMs) / 1000.0}%.1f s")
    var spark = session(a, a.cores)
    val w = Workload(a.workload, spark, a.root, a.corpus, a.seed, golden)
    mark("session")
    val setupMetrics = w.setup()
    mark("set-up")
    val warm = w.pass(-1).map(op => Try(op.run(NoTrace)) -> op)
    val warmFailures = warm.collect { case (Failure(e), op) => s"warm-up ${op.name}: $e" }
    val setupS = (System.currentTimeMillis() - a.spawnMs) / 1000.0
    mark("warm-up")

    val (timed, passes, perLayer, speedup, tracer) =
      if (!a.trace) {
        val (t, p) = loop(w, NoTrace, a.seconds, 0)
        (t, p, Map.empty[String, Double], Map.empty[String, Double], None)
      } else {
        // one untimed pass so both halves run equally warm, then an
        // untraced half and a traced half; the tracing overhead is the
        // per-pass sum, over operations that ran in both halves, of the
        // traced minus the untraced median latency
        val (_, settle) = loop(w, NoTrace, 0.0, 0)
        val (t0, p0) = loop(w, NoTrace, a.seconds / 2, settle.size)
        val tr = new SpanTracer(spark.sparkContext)
        val before = w.snapshot()
        val gc0 = gcSeconds()
        val (t1, p1) = loop(w, tr, a.seconds / 2, settle.size + p0.size)
        val gc = gcSeconds() - gc0
        tr.drain()
        tr.detach()
        val after = w.snapshot()
        val np = p1.size
        val counters = Seq("trigger_add_batch_ms", "trigger_planning_ms", "trigger_wal_ms",
          "trigger_commit_ms", "state_commit_ms", "late_rows_dropped")
        val stream = counters.map(k =>
          k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)) / np).toMap
        val speedup =
          if (!w.isInstanceOf[Batch]) Map.empty[String, Double]
          else {
            // the same operations at local[1]: speedup = t(1 core) / t(n cores)
            w.close()
            spark.stop()
            spark = session(a, 1)
            val one = Workload(a.workload, spark, a.root, a.corpus, a.seed, golden)
            val (t2, _) = loop(one, NoTrace, 0.0, 0)
            val multi = perOp(t0 ++ t1)
            t2.map(x => x.op.name -> x.seconds / multi(x.op.name)).toMap
          }
        val pl = layers(tr, np, a.cores) ++ after.filter { case (k, _) => !counters.contains(k) } ++
          Batch.families(t1.map(x => (x.op.name, x.pass, x.seconds))) ++ setupMetrics ++
          outcome(t1, p1).filter { case (k, _) => k.startsWith("search_") || k.startsWith("mutate_") || k == "events_per_s" } ++
          stream ++ Map(
            "gc_s" -> gc / np,
            "trace_overhead_s" -> {
              val (u, v) = (perOp(t0), perOp(t1))
              u.keySet.intersect(v.keySet).toSeq.map(k => v(k) - u(k)).sum
            },
            "min_speedup_vs_1core" -> (if (speedup.isEmpty) 0.0 else speedup.values.min))
        (t0 ++ t1, p0 ++ p1, pl, speedup, Some(tr))
      }

    mark("timed loop")
    val checkFailures = warmFailures ++ w.check()
    mark("checks")
    checkFailures.foreach(m => System.err.println(s"[perfbench] check failed: $m"))
    val wrong = w.wrongOps
    val failed = timed.count(x => !x.ok || wrong.contains(x.op.name))
    val result = outcome(timed, passes) ++ setupMetrics ++ w.snapshot() ++
      Batch.families(timed.map(x => (x.op.name, x.pass, x.seconds))) ++ Map(
      "setup_s" -> setupS,
      "failed_frac" -> failed.toDouble / math.max(1, timed.size),
      "peak_rss_mb" -> peakRssMb())
    val stamp = Map(
      "calibration_s" -> calibration(),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "cores" -> a.cores)
    if (a.trace && a.traceOut.nonEmpty)
      Files.writeString(Paths.get(a.traceOut), Json.render(Map(
        "workload" -> a.workload, "seed" -> a.seed, "ops" -> traceFile(tracer.get, speedup))))
    if (golden.record)
      Files.writeString(goldenPath, Json.render(
        scala.collection.immutable.TreeMap((expected ++ golden.seen).toSeq: _*)))
    Files.writeString(Paths.get(a.out), Json.render(Map(
      "correct" -> (failed == 0 && checkFailures.isEmpty),
      "attempted" -> timed.size,
      "failed" -> failed,
      "checks_failed" -> checkFailures,
      "record" -> result,
      "per_op_s" -> perOp(timed),
      "per_layer" -> perLayer,
      "stamp" -> stamp)))
    w.close()
    spark.stop()
  }
}
