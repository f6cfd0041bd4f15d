package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into each layer, plus a listener that
  * attributes Spark jobs, stages and tasks to the span open when they were
  * submitted. The span id travels as a SparkContext local property, which
  * Spark copies into every job, stage and task event. When disabled, `span`
  * only runs its body: no property, no listener.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var pass = -1
  private val rec = new Recorder

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(rec)
  }

  /** Root span id of the most recent pass; -1 when disabled. */
  var lastPass: Int = -1

  /** Open a root span for one pass; every span inside carries its id. */
  def pass[T](name: String)(body: => T): T = {
    if (enabled) { pass = spans.size; lastPass = pass }
    try span(name)(body) finally pass = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  def drain(): Unit = if (enabled) BenchBus.drain(sc)

  private def wall(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Per-layer metrics of one pass, from its root span id. */
  def passMetrics(root: Int, cores: Int): Map[String, Double] = {
    drain()
    val r = spans(root)
    val inPass = spans.filter(_.pass == root)
    val ids = inPass.map(_.id).toSet
    val tasks = rec.tasks.filter(t => ids(t.span)).toSeq
    val stages = rec.stages.filter(s => ids(s._2))
    val jobs = rec.jobs.filter(j => ids(j._2))
    val scans = tasks.filter(_.scan)
    val sinkIds = inPass.filter(_.name.startsWith("sinks.")).map(_.id).toSet
    val sinkTasks = tasks.filter(t => sinkIds(t.span) && t.outBytes > 0)
    val w = wall(r)
    val runS = tasks.map(_.runMs).sum / 1e3
    val inBytes = scans.map(_.inBytes).sum
    val outBytes = tasks.map(_.outBytes).sum
    val ops = OperatorCalls.map { call =>
      val ss = inPass.filter(_.name == s"operators.$call")
      val jobsOf = ss.map(s => jobs.count(_._2 == s.id)).sum
      Seq(s"operators.$call.construct_s" -> ss.map(wall).sum,
        s"operators.$call.construct_jobs" -> jobsOf.toDouble)
    }
    Map(
      "sources.scan_tasks" -> scans.size.toDouble,
      "sources.scan_task_s" -> scans.map(_.runMs).sum / 1e3,
      "sources.input_mb" -> inBytes / 1e6,
      "sources.input_rows" -> scans.map(_.inRecords).sum.toDouble,
      "sinks.write_s" -> inPass.filter(s => sinkIds(s.id)).map(wall).sum,
      "sinks.write_tasks" -> sinkTasks.size.toDouble,
      "sinks.output_mb" -> sinkTasks.map(_.outBytes).sum / 1e6,
      "sinks.files_written" -> inPass.filter(s => sinkIds(s.id)).map(_.attrs.getOrElse("files", 0.0)).sum,
      "sinks.write_amp" -> (if (inBytes > 0) outBytes.toDouble / inBytes else 0.0),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> runS,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
      "exec.spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "exec.busy_share" -> runS / (w * cores),
      "exec.driver_only_s" -> (w - covered(tasks, r.startMs, r.endMs) / 1e3).max(0.0),
      "exec.task_skew" -> skew(tasks),
      "exec.retry_ratio" -> (if (tasks.isEmpty) 0.0 else tasks.count(_.failed).toDouble / tasks.size)
    ) ++ ops.flatten
  }

  /** Every span with its self time and the counters of its own tasks. */
  def spanRecords(): Seq[Map[String, Any]] = {
    drain()
    val t0 = spans.headOption.fold(0L)(_.startMs)
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val own = rec.tasks.filter(_.span == s.id)
      val childWall = children.getOrElse(s.id, Nil).map(wall).sum
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0),
        "wall_s" -> wall(s), "self_s" -> (wall(s) - childWall),
        "jobs" -> rec.jobs.count(_._2 == s.id),
        "stages" -> rec.stages.count(_._2 == s.id),
        "tasks" -> own.size,
        "task_cpu_s" -> own.map(_.cpuNs).sum / 1e9,
        "task_run_s" -> own.map(_.runMs).sum / 1e3,
        "gc_s" -> own.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> own.map(_.shuffleWrite).sum / 1e6,
        "shuffle_read_mb" -> own.map(_.shuffleRead).sum / 1e6,
        "spill_mb" -> own.map(_.spill).sum / 1e6,
        "input_mb" -> own.filter(_.scan).map(_.inBytes).sum / 1e6,
        "output_mb" -> own.map(_.outBytes).sum / 1e6,
        "failed_attempts" -> own.count(_.failed),
        "attrs" -> s.attrs.toMap)
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** The public operator calls whose construction the trace times. */
  val OperatorCalls = Seq(
    "ClusterDedup.components", "ClusterDedup.componentsIncremental",
    "JaccardDedup.decontaminate", "Dedup.byRank", "Transforms.jsonExtract", "Loader.load")

  final case class Span(id: Int, name: String, parent: Int, pass: Int, startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
    val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  }

  final case class TaskRec(
      span: Int, stage: (Int, Int), launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long,
      inRecords: Long, outBytes: Long, failed: Boolean, scan: Boolean)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).fold(-1)(_.toInt)

  final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[(Int, Int)]            // (job, span)
    val stages = mutable.ArrayBuffer.empty[((Int, Int), Int)]  // ((stage, attempt), span)
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
    private val stageSpan = mutable.Map.empty[(Int, Int), (Int, Boolean)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += e.jobId -> spanOf(e.properties)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      val span = spanOf(e.properties)
      stageSpan(key) = (span, e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
      stages += key -> span
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val key = (e.stageId, e.stageAttemptId)
      val (span, scan) = stageSpan.getOrElse(key, (-1, false))
      val m = Option(e.taskMetrics)
      def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.fold(0L)(f)
      tasks += TaskRec(span, key, e.taskInfo.launchTime, e.taskInfo.finishTime,
        mv(_.executorRunTime), mv(_.executorCpuTime), mv(_.jvmGCTime),
        mv(_.shuffleWriteMetrics.bytesWritten),
        mv(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead),
        mv(_.diskBytesSpilled), mv(_.inputMetrics.bytesRead), mv(_.inputMetrics.recordsRead),
        mv(_.outputMetrics.bytesWritten), e.reason != Success, scan)
    }
  }

  /** Milliseconds of [from, to] during which at least one task ran. */
  def covered(tasks: Seq[TaskRec], from: Long, to: Long): Long = {
    val iv = tasks.map(t => (t.launch.max(from), t.finish.min(to))).filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = ce.max(e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Worst stage's max task time over its median task time (stages with
    * at least two tasks); 1 when no stage qualifies.
    */
  def skew(tasks: Seq[TaskRec]): Double = {
    val perStage = tasks.filterNot(_.failed).groupBy(_.stage).values.filter(_.size >= 2)
    if (perStage.isEmpty) 1.0
    else perStage.map { ts =>
      val d = ts.map(t => (t.finish - t.launch).max(1L).toDouble)
      d.max / Stats.median(d)
    }.max
  }
}
