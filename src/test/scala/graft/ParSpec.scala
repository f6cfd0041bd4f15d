package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Par}

/** Par.widen's construction-time probe: over a shuffled input the
  * stages it runs are reused by the consumer, over a plain scan it runs
  * nothing and keeps the scan prunable.
  */
class ParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parquet(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    (0L until 40L).map(i => (i, s"text ${i % 25}", i * 3))
      .toDF("doc_id", "text", "extra").coalesce(1).write.parquet(s"$dir/docs")
    s"$dir/docs"
  }

  /** Jobs, and stages that scan a file, while `body` runs on this
    * thread; other suites' jobs never count. A stage whose shuffle
    * output is reused is skipped and never submitted. */
  private def observed[T](group: String)(body: => T): (T, Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      private def ours(p: java.util.Properties) = p.getProperty("spark.jobGroup.id") == group
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (ours(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties) && ss.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      assert(org.apache.spark.sql.graft.Shims.drainListenerBus(sc))
      (out, jobs.get, scans.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toString).groupBy(identity).view.mapValues(_.size).toMap

  test("widen over a Dedup.byRank input: widen plus one action reads the input once") {
    val path = parquet("widen-rank")
    def exact: DataFrame =
      Dedup.byRank(spark.read.parquet(path), Seq("text"), Seq(col("doc_id")))
    // the probe runs the byRank shuffle; the action reads its map output
    val ((width, rows), jobs, scans) = observed("widen-rank") {
      val w = Par.widen(exact)
      (w.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions
      }, w.collect().toSeq.map(_.toString))
    }
    assert(jobs >= 2, s"expected the probe's job and the action's, saw $jobs")
    assert(scans == 1, s"the upstream scan stage ran $scans times")
    assert(width.contains(spark.sparkContext.defaultParallelism))
    assert(rows.groupBy(identity).view.mapValues(_.size).toMap == multiset(exact))
  }

  test("widen over a parquet scan runs no job and keeps the consumer's ReadSchema pruned") {
    val scan = spark.read.parquet(parquet("widen-scan"))
    val (widened, jobs, _) = observed("widen-scan")(Par.widen(scan))
    assert(jobs == 0, s"widen ran $jobs jobs over a plain scan")
    val plan = widened.select(col("doc_id")).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
  }

  test("a small widened shuffled input keeps its size estimate and plans a broadcast join") {
    val exact = Dedup.byRank(spark.read.parquet(parquet("widen-stats")), Seq("text"), Seq(col("doc_id")))
    val small = Par.widen(exact)
    // 160 MB by estimate: over the 64 MB broadcast threshold, so only
    // the widened side can be broadcast
    val big = spark.range(0L, 20L << 20).toDF("doc_id")
    val plan = big.join(small, Seq("doc_id")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(small.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1L << 20))
  }
}
