package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference (RickyXuPengfei/LightLane) has no engine of its own — it
  * delegates planning to MySQL/Hive/Impala (SURVEY.md §4). Here Spark *is*
  * the engine, so the defaults below are the knobs that matter at 100 TB:
  * AQE (runtime re-planning, skew-join splitting, partition coalescing) and
  * a shuffle-partition count sized to the local harness (a real cluster
  * would set this to ~2-3x total cores or rely on AQE coalescing).
  */
object GraftSession {

  /** Apply graft defaults to any builder (callers may override after). */
  def tuned(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores)
      // SQL surface for the native sketch expressions (minhash_sig, …)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing sizes partitions by SHUFFLE BYTES, which is the
      // wrong proxy for the CPU-bound stages the dedup/ANN operators run:
      // a few MB of candidate-pair rows fan out into sorted-intersect
      // walks against broadcast arrays, and the default 1 MB floor
      // collapses such stages to 1-2 tasks (measured: ClusterDedup's
      // verify stage at 2/32 cores, 4.7 s of a 12 s query). A 64 KB floor
      // restores parallelism for CPU-dense-tiny-byte stages; at real data
      // volumes totalBytes/parallelism dominates the floor, so this is
      // inert at 100 TB.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Parquet TIMESTAMP(NANOS) columns (e.g. events.ts) are ILLEGAL to
      // Spark 4's reader; surface them as Long nanos instead of crashing.
      // Consumers convert with `timestamp_micros(ts div 1000)`.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // HotSpot never JIT-compiles a method above its HugeMethodLimit
      // (8000 bytecode bytes), so a whole-stage method above it runs
      // interpreted for the life of the JVM. Spark's default (65535)
      // lets such stages through; at 8000, the value Spark's own docs
      // recommend on HotSpot, a stage whose largest generated method is
      // bigger falls back to per-operator code the JIT does compile.
      // Measured on perfbench etl_migrate (4-core VM, local[2]): the
      // load's staging decode (12 fields of split/regexp_replace/cast)
      // fused into one 10,876-byte method that held 560 of 1,499
      // executor samples, all interpreted; under the limit the scan
      // tasks' time per traced pass fell from 0.60–0.66 s to
      // 0.39–0.48 s. No gate query generates a method above 8000 bytes.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // NOTE: the ObjectHashAggregate sort-fallback threshold is NOT
      // raised here. TopKAgg's O(k)-buffer aggregate needs headroom
      // (the default 128 groups/partition abandons hashing immediately
      // on any real corpus), but a session-wide raise would also strip
      // the only memory guard off UNBOUNDED-buffer object aggregates
      // (collect_list, exact percentile) — so the topK operators scope
      // it around their own materialization (TopKAgg.withHashAggHeadroom).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // TorrentBroadcast serializes every broadcast (each stage's task
      // binary included) into chunks of this size, allocated whole:
      // at the 4 MB default each one is a G1 humongous object on any
      // heap under 32 GB (regions of 1 MB at a 2 GB heap, 16 MB at
      // most), and G1 frees humongous objects only at a GC. With less
      // young garbage there are fewer GCs, so more of them are resident
      // when one runs. 256 KB is below half the smallest region, so no
      // chunk is humongous; the pieces a value spans read back whole
      // (BroadcastBlockSpec). Measured on perfbench curate_batch (2 GB
      // heap, local[2] on a 4-core VM, seeds 7 and 8, G1 log): the
      // native quality kernel, by cutting young garbage, raised the
      // humongous regions resident before a young GC to at most
      // 538/536 (4 MB chunks; 376/344 before the kernel) and peak RSS
      // to 1,748/1,744 MB (1,574/1,524); with 256 KB chunks they were
      // at most 261/293 and peak RSS 1,418/1,440 MB.
      .config("spark.broadcast.blockSize", "256k")

  /** S7 — `hive = true` backs the session catalog with a Hive metastore
    * (derby under the warehouse dir unless configured otherwise),
    * enabling Hive-format tables and `LOAD DATA` (K8). The reference
    * reaches Hive over a thrift connection (`connector/hive_impala.py:
    * 18-22`); Spark-native, the metastore IS the catalog.
    */
  def local(cores: Int = 32, appName: String = "graft", hive: Boolean = false): SparkSession = {
    val b = tuned(SparkSession.builder().master(s"local[$cores]").appName(appName), cores.toString)
      .config("spark.ui.enabled", "false")
    val s = (if (hive) b.enableHiveSupport() else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
