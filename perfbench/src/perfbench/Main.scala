package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.{HiveText, NativeHash, Text}

/** One measurement run of one workload; see perfbench/README.md.
  *
  * Prints an `inputs` line, a `host` line and, last, the result object.
  * With `--trace 0` the result holds the end-to-end metrics of untraced
  * passes; with `--trace 1` the per-layer metrics of traced passes, and the
  * spans go to `--trace-out`.
  */
object Main {
  val Setups = 3
  val MinTracePasses = 2
  val KernelReps = 5
  val KernelRows = 10000L

  val Units: Map[String, String] = Map(
    "pass_s" -> "s", "cpu_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB", "ok_ratio" -> "ratio",
    "session.start_s" -> "s",
    "sources.scan_tasks" -> "count", "sources.scan_task_s" -> "s", "sources.input_mb" -> "MB",
    "sources.input_rows" -> "count",
    "functions.hivetext_rows_s" -> "rows/s", "functions.tokens_rows_s" -> "rows/s",
    "functions.word_shingle_rows_s" -> "rows/s", "functions.minhash_rows_s" -> "rows/s",
    "sinks.write_s" -> "s", "sinks.write_tasks" -> "count", "sinks.output_mb" -> "MB",
    "sinks.files_written" -> "count", "sinks.write_amp" -> "ratio",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.busy_share" -> "ratio", "exec.driver_only_s" -> "s", "exec.task_skew" -> "ratio",
    "exec.retry_ratio" -> "ratio",
    "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_ratio" -> "ratio"
  ) ++ Tracer.OperatorCalls.flatMap(c =>
    Seq(s"operators.$c.construct_s" -> "s", s"operators.$c.construct_jobs" -> "count"))

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val start = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"[perfbench ${seconds(start)}%7.2f s] $msg")

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drop everything a pass cached or checkpointed. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val window = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val d = Dirs(Paths.get(a("work")).toAbsolutePath)
    val loadBefore = Host.loadavg()
    System.setProperty("spark.sql.warehouse.dir", d.warehouse.toString)
    System.setProperty("spark.local.dir", d.root.resolve("spark").toString)

    // inputs and reference: untimed, then forgotten by the peak-RSS mark
    var spark = GraftSession.local(cores, "perfbench-prepare")
    val inputs = w.prepare(spark, d, seed)
    stop(spark)
    System.gc()
    val peakReset = Host.resetPeakRss()
    println(Json(Map("inputs" -> inputs)))
    log("inputs and reference ready")

    val tracer = new Tracer(trace)
    val off = new Tracer(false)
    var attempted = 0
    val failures = ArrayBuffer.empty[String]

    /** Reset, then one timed pass; returns (wall s, process CPU s, root span). */
    def runPass(t: Tracer): (Double, Double, Int) = {
      w.reset(spark, d)
      val cpu0 = Host.processCpuNs()
      val t0 = System.nanoTime()
      val outcome = scala.util.Try(t.pass(w.name)(w.pass(spark, d, t)))
      val wall = seconds(t0)
      val cpu = (Host.processCpuNs() - cpu0) / 1e9
      attempted += 1
      val err = outcome.fold(e => Some(s"pass threw $e"),
        check => scala.util.Try(check()).fold(e => Some(s"check threw $e"), identity))
      err.foreach { e => failures += e; log(s"pass $attempted failed: $e") }
      val root = t.lastPass
      sweep(spark)
      (wall, cpu, root)
    }

    // set-up: tuned-session creation plus the first pass in that session
    val sessionS = ArrayBuffer.empty[Double]
    val setupS = ArrayBuffer.empty[Double]
    (0 until Setups).foreach { i =>
      if (i > 0) stop(spark)
      Host.deleteTree(d.warehouse)
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "perfbench")
      val s = seconds(t0)
      tracer.attach(spark)
      sessionS += s
      setupS += s + runPass(off)._1
      log(f"set-up ${i + 1}: session ${s}%.2f s, total ${setupS.last}%.2f s")
    }

    // checked but unmeasured passes, so the window starts nearer the JIT's
    // steady state
    (0 until w.warmPasses).foreach(_ => runPass(off))
    log("warm-up done")

    // warm passes for the measurement window; traced runs alternate
    // untraced and traced passes so both see the same host conditions
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val layer = ArrayBuffer.empty[Map[String, Double]]
    val w0 = System.nanoTime()
    val jiffies0 = Host.cpuJiffies()
    var k = 0
    val least = if (trace) MinTracePasses else w.minPasses
    while (seconds(w0) < window || walls.size < least || (trace && tracedWalls.size < least)) {
      if (trace && k % 2 == 1) {
        val (wall, _, root) = runPass(tracer)
        tracedWalls += wall
        layer += tracer.passMetrics(root, cores)
      } else {
        val (wall, cpu, _) = runPass(off)
        walls += wall
        cpus += cpu
      }
      k += 1
    }
    val steal = Host.stealShare(jiffies0, Host.cpuJiffies())
    log(s"window done: walls ${walls.map(x => f"$x%.2f").mkString(" ")}; cpu ${cpus.map(x => f"$x%.2f").mkString(" ")}; steal ${f"$steal%.2f"}")

    val metrics: Map[String, Double] =
      if (!trace) Map(
        "pass_s" -> Stats.median(walls.toSeq),
        "cpu_s" -> Stats.median(cpus.toSeq),
        "setup_s" -> Stats.median(setupS.toSeq),
        "peak_rss_mb" -> Host.statusKb("VmHWM") / 1024.0,
        "ok_ratio" -> (attempted - failures.size).toDouble / attempted)
      else {
        val kernels = tracer.span("functions")(kernelRates(spark, d, w, tracer))
        val tp = Stats.median(tracedWalls.toSeq)
        val up = Stats.median(walls.toSeq)
        layer.head.keys.map(m => m -> Stats.median(layer.map(_(m)).toSeq)).toMap ++ kernels ++ Map(
          "session.start_s" -> Stats.median(sessionS.toSeq),
          "trace.pass_s" -> tp, "trace.untraced_pass_s" -> up, "trace.overhead_ratio" -> tp / up)
      }
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
      "loadavg_before" -> loadBefore, "loadavg_after" -> Host.loadavg(),
      "window_steal_share" -> steal, "peak_rss_reset" -> peakReset,
      "passes" -> walls.size, "traced_passes" -> tracedWalls.size, "failures" -> failures.toSeq)
    if (trace) {
      val out = Paths.get(a("trace-out"))
      Files.writeString(out, Json(Map(
        "workload" -> w.name, "seed" -> seed, "host" -> host, "inputs" -> inputs,
        "metrics" -> metrics, "passes" -> layer.toSeq, "spans" -> tracer.spanRecords())))
    }
    stop(spark)
    println(Json(Map("host" -> host)))
    println(Json(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> Units(n))
      }.toMap)))
  }

  /** Rows/s of each kernel over the workload's input, repeated to about
    * KernelRows rows and cached, each timed around a noop-sink
    * materialization of one projection.
    */
  private def kernelRates(spark: SparkSession, d: Dirs, w: Workload, t: Tracer): Map[String, Double] = {
    val (base, text) = w.kernelInput(spark, d)
    val reps = math.max(1L, KernelRows / base.count())
    // one partition per core: the input is a single file, and building the
    // caches in one task took over a minute on the curation docs
    val in = base.crossJoin(spark.range(reps).select(col("id").as("__rep"))).drop("__rep")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val rows = in.count().toDouble
    val shingled = in.select(Text.shingles(Text.tokens(col(text)), 2).as("sh")).cache()
    shingled.count()
    def rate(name: String, df: DataFrame): (String, Double) = t.span(s"functions.$name") {
      graft.sinks.Sink.noop(df)
      val times = (0 until KernelReps).map { _ =>
        val t0 = System.nanoTime()
        graft.sinks.Sink.noop(df)
        seconds(t0)
      }
      s"functions.${name}_rows_s" -> rows / Stats.median(times)
    }
    val r = Map(
      rate("hivetext", in.select(HiveText.encodeRow(in.schema))),
      rate("tokens", in.select(Text.tokens(col(text)))),
      rate("word_shingle", in.select(NativeHash.shingleHashes(Text.tokens(col(text)), 2))),
      rate("minhash", shingled.select(NativeHash.minhashSig(col("sh"), 64))))
    sweep(spark)
    r
  }
}
