package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Shims

/** Partitioning helpers for CPU-bound operators. */
object Par {

  /** Widen a narrow input before heavy per-row compute. A small parquet
    * table arrives as one split (file < `maxPartitionBytes`), which
    * serializes all downstream expression work on a single core — fatal
    * for the interpreted higher-order-function pipelines the dedup/ANN
    * operators run (shingling, minhash, plane dots). A real cluster hits
    * the same pathology whenever scan splits ≪ cores × the per-row cost.
    * Adds no exchange when the input is already at least
    * defaultParallelism wide — at 100 TB the scan is thousands of splits.
    *
    * Eager work: counting the splits plans the input through `toRdd`.
    * Over a scan that runs no job, and the input is repartitioned as
    * is, so column pruning and pushdown still reach the scan. When the
    * input ends in a shuffle (e.g. a `Dedup.byRank` output) AQE runs
    * each upstream shuffle stage as a job at construction; the result
    * (widened or not) then reads that same executed RDD through a
    * stats-carrying `LogicalRDD` (`Shims.overExecutedRdd`), so the
    * consumer reuses the materialized shuffle instead of recomputing
    * it — 1 job over a `Dedup.byRank` input, run once and labelled
    * `widen: split probe`; 0 over a parquet scan.
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // probe the split count via the dataset's OWN query execution:
    // `df.rdd` would build a second QueryExecution (deserializer plan)
    // and plan the subtree twice
    val splits = labeled(df.sparkSession, "widen: split probe")(
      df.queryExecution.toRdd.getNumPartitions)
    val in = if (Shims.ranQueryStages(df)) Shims.overExecutedRdd(df) else df
    if (splits < target) in.repartition(target) else in
  }

  /** Data-size-aware exchange width with a cores floor (r18). The
    * pinned `defaultParallelism` widths of r17 stopped AQE from
    * coalescing CPU-bound window stages to one task at gate scale, but
    * a blind core count also CAPS parallelism at 100 TB — a cores-wide
    * partition of a multi-TB index must spill. Width = max(cores,
    * estimated plan bytes / AQE advisory partition size), so the cores
    * floor rules locally (bench-identical) and the byte term takes
    * over at scale; capped so a wild size estimate cannot flood the
    * scheduler with tasks.
    */
  def scaleWidth(df: DataFrame): Int = {
    val spark = df.sparkSession
    val floor = spark.sparkContext.defaultParallelism
    val advisory =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
      catch { case _: Throwable => 64L << 20 }
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(0) }
    // UNKNOWN-STATS GUARD: a plan containing any leaf without size
    // statistics (LogicalRDD from a Par.cut, a MemoryStream batch, …)
    // estimates at spark.sql.defaultSizeInBytes = Long.MaxValue, and
    // joins multiply child estimates — treating such a sentinel as a
    // real size once turned a 5-doc streaming micro-batch into a
    // 65536-task shuffle (measured: the StreamingSpec compaction test
    // spun for 30+ minutes deserializing task binaries). Anything at
    // or above 1 PB is an estimate artifact, not a measurement — fall
    // back to the cores floor.
    val usable = bytes > 0 && bytes < BigInt(1L << 50)
    val byBytes =
      if (!usable) 0
      else (bytes / BigInt(math.max(advisory, 1L))).min(BigInt(1 << 16)).toInt
    math.max(floor, byBytes)
  }

  /** Cut lineage eagerly. With a checkpoint dir configured
    * (`sparkContext.setCheckpointDir` — the production setting on a
    * real cluster) this is a RELIABLE `checkpoint()`: blocks live in
    * the fault-tolerant store, so an executor loss mid-iteration
    * recomputes nothing. Without one it falls back to
    * `localCheckpoint(eager)`: fast, but blocks die with their executor
    * — acceptable on local[*], fragile on a cluster. Iterative
    * operators (components, pagerank, dedup pair generation) route
    * every cut through here so cluster users opt into fault tolerance
    * with one session setting, no code change.
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** [[cut]] with a job description so the checkpoint's jobs are
    * attributable in the UI / JobProfile (guide §1.5) — measurement
    * labeling only, no behavioral difference vs [[cut]].
    */
  def cut(df: DataFrame, label: String): DataFrame =
    labeled(df.sparkSession, s"cut: $label")(cut(df))

  /** Run `body` (usually an eager action) under a job description and
    * restore the previous one after — thread-local, so concurrent query
    * threads are unaffected.
    */
  def labeled[T](spark: org.apache.spark.sql.SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Release a frame produced by [[cut]] once no successor's lineage
    * needs it (i.e. after the NEXT cut has materialized). Both
    * checkpoint flavors persist their RDD outside the cache manager,
    * so Dataset.unpersist() won't free the blocks — pull the RDD out
    * of the LogicalRDD leaf and unpersist it directly. For a RELIABLE
    * checkpoint, unpersist alone still leaves the checkpoint files on
    * disk for the session lifetime (a disk leak over a long iterative
    * job), so also delete the rdd's checkpoint directory; for a local
    * checkpoint `getCheckpointFile` is None and only the blocks drop.
    * Safe no-op on non-checkpointed frames (no LogicalRDD leaf).
    */
  def free(df: DataFrame): Unit = {
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { rdd =>
      rdd.getCheckpointFile.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        try p.getFileSystem(hadoopConf).delete(p, true)
        catch { case _: java.io.IOException => () } // best-effort cleanup
      }
      rdd.unpersist(false)
    }
  }

  /** Drop EVERY persisted/LOCALLY-checkpointed RDD left in the block
    * manager — the between-queries sweep for harness mains (Bench,
    * Verify, Soak) that run many operators in one JVM. Operators
    * [[free]] their intermediate cuts, but each one's FINAL sealed
    * output is necessarily still alive when it returns, and
    * `catalog.clearCache()` does not touch checkpoint RDDs (they live
    * outside the cache manager — see [[free]]). Left alone, a 150-query
    * run accumulates every query's output blocks, and the storage-side
    * pressure taxes later persist-heavy queries' execution memory.
    * Only safe when NO live frame will be reused — i.e. between
    * independent queries.
    *
    * Limitation: with a checkpoint DIR configured, [[cut]] produces
    * RELIABLE checkpoints whose blocks are unpersisted here but whose
    * FILES live outside `getPersistentRDDs` — those are only removable
    * per-frame via [[free]], so a long checkpoint-dir session should
    * also clean its directory between jobs. The harness mains never
    * set a checkpoint dir, so their sweep is complete.
    */
  def sweepBlocks(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
