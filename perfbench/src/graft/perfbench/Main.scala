package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One op's record. `start`/`end` are wall-clock ms (the listener's
  * clock); `seconds` is the monotonic duration.
  */
final case class OpRec(i: Int, start: Long, end: Long, seconds: Double,
    error: Option[String], leaked: Int, traced: Boolean, peakBytes: Long)

/** Benchmark entry point: one single-threaded closed-loop caller of the
  * library's public entry points on `local[nproc]`.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        [--inject-fail K]
  *   Main --workload W --seed N --digest      (inputs' SHA-256, no Spark)
  *
  * Set-up (session start, input generation and store seeding repeated
  * [[PrepReps]] times, warm-up ops) is timed apart from the measured
  * region. Every op's output is checked; a failed op counts in `failed`
  * and never enters the latency samples.
  */
object Main {
  val PrepReps = 3

  /** end_to_end metrics (trace 0) and per_layer metrics (trace 1), with
    * units; BENCHMARK.json names exactly these.
    */
  val EndToEnd: Seq[(String, String)] = Seq("op_p50_s" -> "s", "op_tail_s" -> "s",
    "docs_per_s" -> "1/s", "setup_s" -> "s", "peak_storage_mb" -> "MB")
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.core_util" -> "ratio", "spark.tasks_per_op" -> "count",
    "spark.jobs_per_op" -> "count", "driver.gap_s" -> "s",
    "catalyst.plan_s" -> "s", "catalyst.plans_per_op" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.exec_cpu_s" -> "s",
    "functions.process_s" -> "s", "functions.useful_ratio" -> "ratio",
    "sinks.append_s" -> "s", "sinks.store_files" -> "count",
    "sinks.bytes_written_mb" -> "MB",
    "dedup.cc_s" -> "s", "dedup.cc_rounds" -> "count", "dedup.decontam_s" -> "s",
    "text.paragraph_dedup_s" -> "s",
    "checkpoints.eager_s" -> "s", "checkpoints.jobs" -> "count",
    "checkpoints.leaked_blocks" -> "count",
    "topics.vectorize_s" -> "s", "topics.lda_fit_s" -> "s", "topics.infer_s" -> "s",
    "topics.sweep_s" -> "s", "analytics.trend_s" -> "s",
    "trace.overhead_s" -> "s", "trace.reconcile_err" -> "ratio")

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", out: String = "",
      injectFail: Int = -1, digest: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--inject-fail" :: v :: t => parse(t, acc.copy(injectFail = v.toInt))
    case "--digest" :: t => parse(t, acc.copy(digest = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    if (args.digest) { println(Workloads.digest(args.workload, args.seed)); return }
    val code = try run(args) catch { case t: Throwable =>
      System.err.println(s"perfbench: ${t.getClass.getName}: ${t.getMessage}")
      t.printStackTrace()
      2
    }
    System.exit(code)
  }

  def session(work: String, cores: Int): SparkSession = {
    // full submitting call stacks let the tracer name the layer a job
    // ran for; read by Spark on every job submission
    System.setProperty("spark.callstack.depth", "400")
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Latency at the highest of p99/p95/p90/p75 with at least 10 samples
    * beyond it; with fewer samples, the 75th percentile (linear
    * interpolation). Returns (value, percentile, samples beyond).
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    val p = Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100 >= 10).getOrElse(75)
    val pos = (n - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, n - 1)
    val v = if (n == 0) 0.0 else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    (v, p, n - math.ceil(pos).toInt - 1 max 0)
  }

  def run(args: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val heapMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    new File(args.work).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(args.work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val storage = new StorageListener
    sc.addSparkListener(storage)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (args.trace) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }

    val w = Workloads(args.workload, spark, args.seed, args.work, tracer)
    def secs[T](body: => T): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    def drain(): Unit = org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // ---- set-up, repeated; the last one feeds the warm-up and the ops
    val prepS = (0 until PrepReps).map { r =>
      if (r > 0) w.rm(w.root)
      w.root = s"${args.work}/setup$r"
      val s = w.span("setup.prepare")(secs(w.prepare()))
      cleanup(); s
    }
    val warmS = w.span("setup.warmup")(secs(w.warmup()))
    cleanup()
    val setupS = sessionS + median(prepS) + warmS

    // ---- measured region
    val ops = ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    // a traced run needs an untraced op after the first to compare with
    val minOps = if (args.trace) w.minOps max 3 else w.minOps
    var i = 0
    while (System.nanoTime() < deadline || ops.size < minOps) {
      val traced = tracer.isDefined && i % 2 == 1
      val input = w.input(i)
      drain()
      storage.reset()
      tracer.foreach { t =>
        if (traced) { sc.addSparkListener(t); spark.listenerManager.register(t) }
        else { sc.removeSparkListener(t); spark.listenerManager.unregister(t) }
      }
      val before = sc.getPersistentRDDs.keySet
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val out = try Right(tracer.fold(w.op(i, input))(_.span(s"op.${w.name}", i)(w.op(i, input))))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t) / 1e9
      val endMs = System.currentTimeMillis()
      val leaked = (sc.getPersistentRDDs.keySet -- before).size
      drain()
      val peak = storage.peakBytes
      val err = out match {
        case Left(e) => Some(e)
        case Right(o) =>
          val e = try w.check(i, input, o) catch { case x: Throwable => Some(s"check threw $x") }
          if (i == args.injectFail) Some("injected failure") else e
      }
      if (traced) tracer.foreach(_.span("layer.extra", i)(w.traceExtra(i, input, out.toOption)))
      ops += OpRec(i, startMs, endMs, dt, err, leaked, traced, peak)
      err.foreach(e => System.err.println(s"perfbench: op $i failed: ${e.take(500)}"))
      cleanup()
      i += 1
    }
    val endErr = try w.finalCheck() catch { case x: Throwable => Some(s"final check threw $x") }
    endErr.foreach(e => System.err.println(s"perfbench: final check failed: $e"))

    val ok = ops.filter(_.error.isEmpty)
    val lat = ok.map(_.seconds).toSeq
    val (tailV, tailP, tailN) = tail(lat)
    val failed = ops.count(_.error.nonEmpty) + (if (endErr.isDefined) 1 else 0)
    val attempted = ops.size + (if (endErr.isDefined) 1 else 0)
    val host = s"nproc=$cores heap_mb=$heapMb spark=${spark.version} " +
      s"java=${System.getProperty("java.version")}"

    val values: Map[String, Double] = tracer match {
      case None => Map("op_p50_s" -> median(lat), "op_tail_s" -> tailV,
        "docs_per_s" -> (if (lat.isEmpty) 0.0 else w.docsPerOp * lat.size / lat.sum),
        "setup_s" -> setupS, "peak_storage_mb" -> median(ok.map(_.peakBytes / 1e6).toSeq))
      case Some(t) =>
        drain()
        t.attribute()
        Layers.compute(t, ops.toSeq, cores, w)
    }
    val metrics = (if (args.trace) PerLayer else EndToEnd)
      .map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }

    val lines = ArrayBuffer.empty[String]
    lines += s"perfbench ${w.name} seed=${args.seed} trace=${if (args.trace) 1 else 0} $host"
    lines += f"set-up: session $sessionS%.3f s, " +
      f"prepare ${prepS.map(x => f"$x%.3f").mkString("/")} s (median of $PrepReps), " +
      f"warm-up $warmS%.3f s"
    lines += f"ops: attempted=$attempted failed=$failed latency_samples=${lat.size} " +
      f"fail_rate=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      f"docs_per_op=${w.docsPerOp} tail=p$tailP (n_beyond=$tailN)"
    lines += "op latencies (s): " + ops.map(o =>
      f"${o.seconds}%.3f${if (o.error.isDefined) "!" else ""}").mkString(" ")
    metrics.foreach { case (n, v, u) => lines += f"  $n%-26s $v%.6f $u" }
    lines.foreach(println)

    tracer.foreach { t =>
      Files.write(Paths.get(args.work, "trace.json"), t.json().getBytes(StandardCharsets.UTF_8))
    }
    val m = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}""" }
    val json = s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}"""
    Files.write(Paths.get(args.out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    if (failed == 0) 0 else 1
  }
}
