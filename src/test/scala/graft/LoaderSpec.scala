package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Loader
import graft.sources.Source

/** R3/R5/R6/R7/R8 loader modes against real catalog tables (temp
  * warehouse). The merge publish is the reference's rename-swap protocol
  * (`loader/hive_loader.py:176-178`): the target table must exist in the
  * catalog at every point, and a simulated failure between swap
  * statements must leave a recoverable table.
  */
class LoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))

  test("Overwrite replaces the target") {
    drop("lt_o")
    Seq((1, "a")).toDF("k", "v").write.saveAsTable("lt_o")
    Loader.load(spark, Seq((2, "b"), (3, "c")).toDF("k", "v"),
      Loader.LoadConfig("lt_o", Loader.Overwrite))
    assert(spark.table("lt_o").as[(Int, String)].collect().toSet == Set((2, "b"), (3, "c")))
  }

  test("clusterBy publishes range-disjoint files under the table") {
    drop("lt_cl")
    Loader.load(spark, (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(8),
      Loader.LoadConfig("lt_cl", Loader.Overwrite, clusterBy = Seq("k"), clusterParts = 4))
    assert(spark.table("lt_cl").count() == 2000)
    // the written files cover disjoint k ranges (footer-stat prunable)
    val loc = spark.sql("DESCRIBE EXTENDED lt_cl").filter(col("col_name") === "Location")
      .select("data_type").as[String].head().stripPrefix("file:")
    val parts = new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length > 1, "expected multiple clustered files")
    val ranges = parts.map(f =>
        spark.read.parquet(f.getPath).agg(min("k"), max("k")).as[(Long, Long)].head())
      .sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo) }
    drop("lt_cl")
  }

  test("Append adds rows; creates table when absent (R6)") {
    drop("lt_a")
    Loader.load(spark, Seq((1, "a")).toDF("k", "v"), Loader.LoadConfig("lt_a", Loader.Append))
    Loader.load(spark, Seq((2, "b")).toDF("k", "v"), Loader.LoadConfig("lt_a", Loader.Append))
    assert(spark.table("lt_a").count() == 2)
  }

  test("MergeOn upserts and leaves no scratch tables") {
    drop("lt_m", "lt_m__graft_bak", "lt_m__graft_reconcile")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.saveAsTable("lt_m")
    Loader.load(spark, Seq((2, "B"), (4, "d")).toDF("k", "v"),
      Loader.LoadConfig("lt_m", Loader.MergeOn(Seq("k"))))
    assert(spark.table("lt_m").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (4, "d")))
    assert(!spark.catalog.tableExists("lt_m__graft_bak"))
    assert(!spark.catalog.tableExists("lt_m__graft_reconcile"))
  }

  test("merge with dedup spec dedups staging first (R1 inside load)") {
    drop("lt_d")
    Seq((1, 1, "old")).toDF("k", "ord", "v").write.saveAsTable("lt_d")
    val staging = Seq((1, 5, "mid"), (1, 9, "new")).toDF("k", "ord", "v")
    Loader.load(spark, staging, Loader.LoadConfig("lt_d", Loader.MergeOn(Seq("k")),
      dedup = Some(Loader.DedupSpec(Seq("k"), Seq(col("ord").desc)))))
    assert(spark.table("lt_d").as[(Int, Int, String)].collect().toSet == Set((1, 9, "new")))
  }

  test("MergeOn with a DedupSpec on other keys takes the composed path and matches the truth") {
    drop("lt_dk")
    Seq((1, "x", 0, "t1"), (2, "x", 0, "t2"), (3, "y", 0, "t3")).toDF("k", "sub", "ver", "v")
      .write.saveAsTable("lt_dk")
    // dedup on (k, sub) leaves two staging rows for k = 2: both land
    val rows = Seq((2, "x", 1, "a"), (2, "x", 5, "b"), (2, "y", 1, "c"), (4, "x", 2, "d"))
    val staging = rows.toDF("k", "sub", "ver", "v")
    val cfg = Loader.LoadConfig("lt_dk", Loader.MergeOn(Seq("k")),
      dedup = Some(Loader.DedupSpec(Seq("k", "sub"), Seq(col("ver").desc))))
    val plan = Loader.reconciled(spark, staging, Seq("k"), cfg).queryExecution.optimizedPlan
    assert(plan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }, s"expected the anti-join of Merge.upsert:\n$plan")
    Loader.load(spark, staging, cfg)
    assert(spark.table("lt_dk").as[(Int, String, Int, String)].collect().sortBy(_.toString).toSeq ==
      Seq((1, "x", 0, "t1"), (2, "x", 5, "b"), (2, "y", 1, "c"), (3, "y", 0, "t3"), (4, "x", 2, "d"))
        .sortBy(_.toString))
    drop("lt_dk")
  }

  test("fused MergeOn: orderBy as col(...) or as a staging column resolves against the union") {
    val rows = Seq((1, "a", 1, 7L, "s1-old"), (1, "a", 3, 8L, "s1"), (2, "b", 2, 9L, "s2"))
    // dedup keys are the merge keys as a set, in another order
    for ((name, order) <- Seq[(String, org.apache.spark.sql.DataFrame => Seq[Column])](
        "col" -> (_ => Seq((col("ver") * -1).asc, col("id"))),
        "bound" -> (df => Seq(df("ver").desc, df("id"))))) {
      val t = s"lt_ord_$name"
      drop(t)
      Seq((1, "a", 0, 1L, "t1"), (3, "c", 0, 2L, "t3")).toDF("k1", "k2", "ver", "id", "v").write.saveAsTable(t)
      val staging = rows.toDF("k1", "k2", "ver", "id", "v")
      Loader.load(spark, staging, Loader.LoadConfig(t, Loader.MergeOn(Seq("k1", "k2")),
        dedup = Some(Loader.DedupSpec(Seq("k2", "k1"), order(staging)))))
      assert(spark.table(t).select("k1", "k2", "ver", "id", "v").as[(Int, String, Int, Long, String)]
        .collect().toSet == Set((1, "a", 3, 8L, "s1"), (2, "b", 2, 9L, "s2"), (3, "c", 0, 2L, "t3")), name)
      drop(t)
    }
  }

  test("fused MergeOn + DedupSpec reads its staging once: one window, no broadcast, one range cluster") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import scala.jdk.CollectionConverters._
    drop("lt_f", "lt_f__graft_bak", "lt_f__graft_reconcile")
    (1 to 200).map(i => (i.toLong, 0, s"t$i")).toDF("k", "ver", "v").write.saveAsTable("lt_f")
    // parquet staging, two rows per key over 100..249 (a local relation
    // would not be a scan)
    val dir = java.nio.file.Files.createTempDirectory("lt_f").toString
    (1 to 300).map(i => (i % 150 + 100L, i, s"s$i")).toDF("k", "ver", "v").write.parquet(s"$dir/stg")
    val staging = spark.read.parquet(s"$dir/stg")
    val cfg = Loader.LoadConfig("lt_f", Loader.MergeOn(Seq("k")),
      dedup = Some(Loader.DedupSpec(Seq("k"), Seq(col("ver").desc))), clusterBy = Seq("k"))

    val plan = Loader.reconciled(spark, staging, Seq("k"), cfg).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p: SparkPlan => p
    }
    val stagingScans = plan.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(s"$dir/stg")) => s
    }
    assert(stagingScans.size == 1, s"staging scans:\n$plan")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"broadcast:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.size == 1, s"windows:\n$plan")
    val ranges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(ranges.size == 1, s"range exchanges:\n$plan")

    // the load's jobs and the input rows their stages read, in this
    // thread's job group only: another suite's jobs never count
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val inputRows = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties.getProperty("spark.jobGroup.id") == "fused-merge-load") {
          jobs.add(s"${js.properties.getProperty("spark.job.description")}: ${js.stageInfos.size} stage(s)")
          js.stageIds.foreach(stages.add(_))
        }
        ()
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        if (stages.contains(sc.stageInfo.stageId))
          inputRows.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("fused-merge-load", "fused merge load")
    try {
      Loader.load(spark, staging, cfg)
      assert(org.apache.spark.sql.graft.Shims.drainListenerBus(sc))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the union's shuffle-map stage, the range sample, the range
    // shuffle and the reconcile write, all under the write's label; the
    // stats come from that write, so no job re-reads the merged table
    assert(jobs.size == 4, s"jobs: $jobs")
    assert(jobs.asScala.forall(_.startsWith("load: reconcile write:")), s"jobs: $jobs")
    // target (200) and staging (300) once each
    assert(inputRows.get == 200 + 300, s"input rows ${inputRows.get}; jobs: $jobs")
    val got = spark.table("lt_f").as[(Long, Int, String)].collect()
    assert(got.length == 249)
    assert(got.filter(_._1 >= 100).forall(r => r._3 == s"s${r._2}" && r._2 > 150))
    drop("lt_f")
  }

  test("R8: the stats a load publishes equal what ANALYZE then writes, in every mode") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    def stats(t: String) = catalog.getTableMetadata(TableIdentifier(t)).stats
    def rows(n: Int, tag: String) = (1 to n).map(i => (i, s"$tag$i", s"d${i % 3}")).toDF("k", "v", "dt")
    def assertParity(t: String, what: String, count: Long) = {
      val got = stats(t)
      assert(got.flatMap(_.rowCount).contains(BigInt(count)), s"$what: $got")
      spark.sql(s"ANALYZE TABLE `$t` COMPUTE STATISTICS")
      assert(got == stats(t), what)
    }
    def load(t: String, df: org.apache.spark.sql.DataFrame, mode: Loader.Mode,
        dedup: Option[Loader.DedupSpec] = None, partition: Map[String, String] = Map.empty) =
      Loader.load(spark, df, Loader.LoadConfig(t, mode, dedup, partition))
    val byVer = Some(Loader.DedupSpec(Seq("k"), Seq(col("v").desc)))
    drop("lt_st")

    load("lt_st", rows(40, "a"), Loader.Overwrite)
    assertParity("lt_st", "Overwrite, first creation", 40)
    load("lt_st", rows(30, "b"), Loader.Overwrite)
    assertParity("lt_st", "Overwrite of an existing table", 30)
    load("lt_st", rows(25, "c").drop("dt"), Loader.Overwrite, partition = Map("dt" -> "x"))
    assertParity("lt_st", "Overwrite into a static partition", 25)
    drop("lt_st")
    load("lt_st", rows(50, "a").union(rows(20, "z")), Loader.MergeOn(Seq("k")), byVer)
    assertParity("lt_st", "MergeOn at first creation", 50)
    load("lt_st", rows(80, "b").union(rows(60, "c")), Loader.MergeOn(Seq("k")), byVer)
    assertParity("lt_st", "MergeOn with a dedup on the keys", 80)
    load("lt_st", rows(90, "d").filter(col("k") > 70), Loader.MergeOn(Seq("k")))
    assertParity("lt_st", "MergeOn without a dedup", 90)
    drop("lt_st")
    load("lt_st", rows(10, "a"), Loader.Append)
    assertParity("lt_st", "Append at first creation", 10)
    load("lt_st", rows(15, "b"), Loader.Append)
    assertParity("lt_st", "Append into an existing table", 25)
    drop("lt_st")
    load("lt_st", rows(12, "a"), Loader.OverwritePartitions(Seq("dt")))
    assertParity("lt_st", "OverwritePartitions at first creation", 12)
    load("lt_st", rows(12, "b").filter(col("dt") === "d1"), Loader.OverwritePartitions(Seq("dt")))
    assertParity("lt_st", "OverwritePartitions of an existing table", 12)
    drop("lt_st")
    // a session that asks ANALYZE for per-partition row counts gets them
    val ps = spark.newSession()
    ps.conf.set("spark.sql.statistics.updatePartitionStatsInAnalyzeTable.enabled", "true")
    Loader.load(ps, ps.range(12).selectExpr("cast(id AS INT) k", "concat('a', id) v", "concat('d', id % 3) dt"),
      Loader.LoadConfig("lt_st", Loader.OverwritePartitions(Seq("dt"))))
    assert(catalog.listPartitions(TableIdentifier("lt_st")).map(_.stats.flatMap(_.rowCount)).toSet ==
      Set(Some(BigInt(4))))
    assertParity("lt_st", "a partitioned creation under per-partition stats", 12)
    drop("lt_st")

    load("lt_st", rows(0, "a"), Loader.Overwrite)
    assertParity("lt_st", "empty staging", 0)
    load("lt_st", spark.read.schema("k INT, v STRING, dt STRING").parquet(
      java.nio.file.Files.createTempDirectory("lt_st").toString), Loader.MergeOn(Seq("k")), byVer)
    assertParity("lt_st", "empty parquet staging merged into an empty table", 0)

    // analyze = false publishes nothing: the table keeps only what
    // Spark's own write leaves, which holds no row count
    for (mode <- Seq(Loader.Overwrite, Loader.Append, Loader.MergeOn(Seq("k")))) {
      load("lt_st", rows(7, "a"), Loader.Overwrite)
      assert(stats("lt_st").flatMap(_.rowCount).contains(BigInt(7)))
      Loader.load(spark, rows(5, "b"), Loader.LoadConfig("lt_st", mode, analyze = false))
      assert(stats("lt_st").flatMap(_.rowCount).isEmpty, s"$mode: ${stats("lt_st")}")
    }
    drop("lt_st")
  }

  test("swap protocol: a stranded bak table from a mid-swap failure is recoverable and cleaned up") {
    drop("lt_s", "lt_s__graft_bak", "lt_s__graft_reconcile")
    // simulate the state after a failure between `RENAME target->bak`
    // and `RENAME reconcile->target`: bak holds the old data, reconcile
    // holds the merged data - nothing was lost
    Seq((1, "old")).toDF("k", "v").write.saveAsTable("lt_s__graft_bak")
    Seq((1, "merged")).toDF("k", "v").write.saveAsTable("lt_s__graft_reconcile")
    // operator recovery: finish the swap by hand (what an operator would do)
    spark.sql("ALTER TABLE `lt_s__graft_reconcile` RENAME TO `lt_s`")
    spark.sql("DROP TABLE `lt_s__graft_bak`")
    assert(spark.table("lt_s").as[(Int, String)].head() == ((1, "merged")))
    // and a subsequent normal merge over the recovered table works,
    // including clobbering any stale bak left behind
    Seq((9, "stale")).toDF("k", "v").write.saveAsTable("lt_s__graft_bak")
    Loader.load(spark, Seq((2, "x")).toDF("k", "v"),
      Loader.LoadConfig("lt_s", Loader.MergeOn(Seq("k"))))
    assert(spark.table("lt_s").as[(Int, String)].collect().toSet ==
      Set((1, "merged"), (2, "x")))
    assert(!spark.catalog.tableExists("lt_s__graft_bak"))
  }

  test("static partition columns are injected and written partitioned (R3)") {
    drop("lt_p")
    Loader.load(spark, Seq((1, "a")).toDF("k", "v"),
      Loader.LoadConfig("lt_p", Loader.Overwrite, partition = Map("dt" -> "2026-08-12")))
    val rows = spark.table("lt_p").select("k", "dt").as[(Int, String)].collect()
    assert(rows.toSeq == Seq((1, "2026-08-12")))
  }

  test("dynamic partition overwrite replaces ONLY the landed partitions (R3 dynamic)") {
    drop("lt_dyn")
    val mode = Loader.OverwritePartitions(Seq("dt"))
    // day 1 + day 2 land (also the R6 create path)
    Loader.load(spark, Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "dt"),
      Loader.LoadConfig("lt_dyn", mode))
    // re-land ONLY day 2 with different content — day 1 must survive
    Loader.load(spark, Seq((9, "z", "d2"), (10, "y", "d2")).toDF("k", "v", "dt"),
      Loader.LoadConfig("lt_dyn", mode))
    val got = spark.table("lt_dyn").select("k", "v", "dt").as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "a", "d1"), (9, "z", "d2"), (10, "y", "d2")))
    // conf restored: a plain saveAsTable overwrite afterwards is still STATIC
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").contains("dynamic"))
  }

  test("dynamic partition overwrite validation: needs columns, rejects static spec") {
    intercept[IllegalArgumentException] {
      Loader.load(spark, Seq((1, "a")).toDF("k", "dt"),
        Loader.LoadConfig("lt_dyn_bad", Loader.OverwritePartitions(Nil)))
    }
    intercept[IllegalArgumentException] {
      Loader.load(spark, Seq((1, "a")).toDF("k", "dt"),
        Loader.LoadConfig("lt_dyn_bad", Loader.OverwritePartitions(Seq("dt")),
          partition = Map("x" -> "1")))
    }
  }

  test("merge mode validation: partitions forbidden, keys required (hive_loader.py:66-82)") {
    intercept[IllegalArgumentException] {
      Loader.load(spark, Seq((1, "a")).toDF("k", "v"),
        Loader.LoadConfig("lt_x", Loader.MergeOn(Nil)))
    }
    intercept[IllegalArgumentException] {
      Loader.load(spark, Seq((1, "a")).toDF("k", "v"),
        Loader.LoadConfig("lt_x", Loader.MergeOn(Seq("k")), partition = Map("dt" -> "x")))
    }
  }

  test("pre/post SQL hooks run (R7)") {
    drop("lt_h", "lt_pre", "lt_post")
    Loader.load(spark, Seq((1, "a")).toDF("k", "v"),
      Loader.LoadConfig("lt_h", Loader.Overwrite,
        preSql = Seq("CREATE TABLE lt_pre (x INT) USING parquet"),
        postSql = Seq("CREATE TABLE lt_post (x INT) USING parquet")))
    assert(spark.catalog.tableExists("lt_pre") && spark.catalog.tableExists("lt_post"))
    drop("lt_pre", "lt_post")
  }

  test("MergeOn works on a dotted db.table target (R10 quoting end-to-end)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS gdb")
    spark.sql("DROP TABLE IF EXISTS gdb.lt_dot")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.saveAsTable("gdb.lt_dot")
    Loader.load(spark, Seq((2, "B"), (5, "e")).toDF("k", "v"),
      Loader.LoadConfig("gdb.lt_dot", Loader.MergeOn(Seq("k"))))
    assert(spark.table("gdb.lt_dot").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (5, "e")))
    assert(!spark.catalog.tableExists("gdb.lt_dot__graft_bak"))
    spark.sql("DROP TABLE IF EXISTS gdb.lt_dot")
  }

  test("JDBC overwrite swap plan follows the reference's staging+RENAME protocol") {
    val plan = Loader.jdbcOverwritePlan("t")
    assert(plan == Seq(
      "DROP TABLE IF EXISTS `t__graft_staging`",
      "CREATE TABLE `t__graft_staging` LIKE `t`",
      "RENAME TABLE `t` TO `t__graft_old`, `t__graft_staging` TO `t`",
      "DROP TABLE `t__graft_old`"))
    // the swap is a single multi-table RENAME: target never missing
    assert(plan.count(_.startsWith("RENAME")) == 1)
  }

  test("R9 string form: ';'-separated SQL splits like the reference") {
    assert(Loader.sqlList("SET a=1; SET b=2;") == Seq("SET a=1", "SET b=2"))
    assert(Loader.sqlList("  ") == Nil)
    assert(Loader.sqlList("single") == Seq("single"))
    // end-to-end: string-form preSql runs through load()
    spark.sql("DROP TABLE IF EXISTS lt_s9")
    Loader.load(spark, Seq((1, "a")).toDF("k", "v"),
      Loader.LoadConfig("lt_s9", Loader.Overwrite,
        preSql = Loader.sqlList(
          "CREATE TABLE lt_s9_pre1 (x INT) USING parquet; CREATE TABLE lt_s9_pre2 (x INT) USING parquet;")))
    assert(spark.catalog.tableExists("lt_s9_pre1") && spark.catalog.tableExists("lt_s9_pre2"))
    drop("lt_s9", "lt_s9_pre1", "lt_s9_pre2")
  }

  test("identifier quoting handles dotted and pre-quoted names (R10)") {
    assert(Source.quoteIdentifier("db.tbl") == "`db`.`tbl`")
    assert(Source.quoteIdentifier("`db`.tbl") == "`db`.`tbl`")
    assert(Source.quoteIdentifier("plain") == "`plain`")
  }
}
