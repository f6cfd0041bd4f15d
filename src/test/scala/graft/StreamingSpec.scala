package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_micros}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Structured Streaming operators driven as REAL streaming queries
  * (MemoryStream source → memory sink, micro-batches advanced by hand):
  * windowed aggregation, streaming dedup, and event-time sessionization
  * — the watermark/timeout mechanics that batch-mode checks cannot see.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("windowedAgg groups a stream into tumbling event-time windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.windowedAgg(in.toDF().toDF("ts", "event_type", "value"),
        "ts", "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wagg").outputMode("complete").start()
    try {
      in.addData((ts(100), "click", 1.0), (ts(200), "click", 2.0), (ts(4000), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wagg")
        .select("event_type", "n_events", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-static enrichment join: each micro-batch joins the broadcast dim") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("uid", "v")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("uid"), "left")
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      in.addData((1L, 10.0), (3L, 7.0))
      q.processAllAvailable()
      in.addData((2L, 5.0)) // second micro-batch re-joins the same dim
      q.processAllAvailable()
      val rows = spark.table("enrich")
        .as[(Long, Double, Option[String])].collect().toSet
      assert(rows == Set((1L, 10.0, Some("gold")), (3L, 7.0, None), (2L, 5.0, Some("silver"))))
    } finally q.stop()
  }

  test("streaming dedup drops same-key duplicates across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.dedup(in.toDF().toDF("ts", "id", "v"), "ts", "1 hour", Seq("id"))
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      in.addData((ts(10), 1L, "a"), (ts(10), 1L, "a"))
      q.processAllAvailable()
      in.addData((ts(10), 1L, "a"), (ts(20), 2L, "b")) // dup arrives again next batch
      q.processAllAvailable()
      assert(spark.table("sdedup").count() == 2)
    } finally q.stop()
  }

  test("sessionize closes sessions by event-time gap and watermark timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMs = 30 * 60 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: two events 60s apart -> one session
      in.addData(Event(1L, ts(1000), "click", 1.0), Event(1L, ts(1060), "click", 2.0))
      q.processAllAvailable()
      // later traffic advances the watermark past session-end + gap
      in.addData(Event(9L, ts(20000), "view", 0.0))
      q.processAllAvailable()
      in.addData(Event(9L, ts(21000), "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .as[StreamOps.Session].collect().filter(_.user_id == 1L)
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.start == ts(1000) && s.end == ts(1060) && s.n_events == 2 && s.sum_value == 3.0)
    } finally q.stop()
  }

  test("streaming parquet sink appends micro-batches exactly once (restart-safe checkpoint)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ssink").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toParquet(in.toDF().toDF("id", "v"), s"$base/out", s"$base/ckpt")
    try {
      in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      in.addData((3L, "c")); q.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 3)
    } finally q.stop()
    // restart against the same checkpoint: no duplication of old batches
    val q2 = StreamOps.toParquet(in.toDF().toDF("id", "v"), s"$base/out", s"$base/ckpt")
    try {
      in.addData((4L, "d")); q2.processAllAvailable()
      val rows = spark.read.parquet(s"$base/out").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q2.stop()
  }

  test("file source is exactly-once across a restart, with dedup state recovered") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_fsrc").toString
    val (inDir, outDir, chkDir) = (s"$root/in", s"$root/out", s"$root/chk")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("id", LongType), StructField("v", StringType)))
    def pipeline() = StreamOps.toParquet(
      StreamOps.dedup(
        StreamOps.fromFiles(spark, inDir, schema, maxFilesPerTrigger = 10),
        "ts", "1 hour", Seq("id")),
      outDir, chkDir)
    // batch A: three rows, one internal duplicate
    Seq((ts(10), 1L, "a"), (ts(10), 1L, "a"), (ts(20), 2L, "b"))
      .toDF("ts", "id", "v").coalesce(1).write.mode("append").parquet(inDir)
    val q1 = pipeline()
    try { q1.processAllAvailable() } finally q1.stop()
    // batch B arrives while the query is DOWN: a new row plus a replay of
    // (ts(10), 1L) — the restart must neither reprocess batch A's file
    // nor forget the dedup state that drops the replay
    Seq((ts(10), 1L, "a"), (ts(30), 3L, "c"))
      .toDF("ts", "id", "v").coalesce(1).write.mode("append").parquet(inDir)
    val q2 = pipeline()
    try { q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(outDir).select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L),
      s"expected exactly-once ids 1,2,3 got ${out.mkString(",")}")
  }

  test("streaming decontamination drops benchmark-overlapping docs per batch, replay exactly-once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_decon").toString
    val (cleanDir, chk) = (s"$root/clean", s"$root/chk")
    val benchText = "the quick brown fox jumps over the lazy dog"
    val bench = Seq((100L, benchText)).toDF("bench_id", "text")
    val in = MemoryStream[(Long, String)]
    def pipeline() = StreamOps.decontaminateSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bench, "bench_id", cleanDir, chk, nGram = 2, threshold = 0.5)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q1 = pipeline()
    try {
      in.addData(
        (1L, benchText),                                          // exact contamination
        (2L, "completely unrelated columnar storage engines"),    // clean
        (3L, "the quick brown fox jumps over the lazy cat"))      // near-dup: J >= 0.5
      q1.processAllAvailable()
    } finally q1.stop()
    // a batch arrives while the query is DOWN; the restart must process
    // it exactly once into its own deterministic partition
    in.addData((4L, "another clean document entirely"), (5L, benchText))
    val q2 = pipeline()
    try { q2.processAllAvailable() } finally q2.stop()
    val clean = spark.read.parquet(cleanDir).select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 4L), s"got $clean")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"stream leaked persisted RDDs across batches: $leaked")
  }

  test("incremental dedup stream: probe the seed index, extend it per batch, replay exactly-once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val (indexDir, corpusDir, pairsDir, chk) =
      (s"$root/index", s"$root/corpus", s"$root/pairs", s"$root/chk")
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "one two three four five six"
    val tC = "seven eight nine ten eleven twelve"
    val corpus = Seq((0L, tA), (1L, tB), (2L, "the quick brown fox jumps over"))
      .toDF("doc_id", "text")
    StreamOps.seedDedupIndex(corpus, "doc_id", "text", indexDir, corpusDir)
    val in = MemoryStream[(Long, String)]
    def pipeline() = StreamOps.incrementalDedupSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, corpusDir, pairsDir, chk)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q1 = pipeline()
    try {
      in.addData((10L, tA), (11L, tC)) // 10 dups seed doc 0; 11 is novel
      q1.processAllAvailable()
      in.addData((20L, tC)) // dups doc 11 from the PREVIOUS batch — index must have grown
      q1.processAllAvailable()
    } finally q1.stop()
    // batch C arrives while the query is DOWN; the restart must process
    // it once and must NOT re-emit (or duplicate) earlier batches' pairs
    in.addData((30L, tB))
    val q2 = pipeline()
    try { q2.processAllAvailable() } finally q2.stop()
    val pairs = spark.read.parquet(pairsDir)
      .select("doc_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.sorted == Seq((10L, 0L, 1.0), (20L, 11L, 1.0), (30L, 1L, 1.0)),
      s"got ${pairs.sorted.mkString(", ")}")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"stream leaked persisted RDDs across batches: $leaked")
  }

  test("incremental dedup replay after a crash mid-commit emits no self- or intra-batch pairs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_crashdedup").toString
    val (indexDir, corpusDir, pairsDir, chk) =
      (s"$root/index", s"$root/corpus", s"$root/pairs", s"$root/chk")
    val tA = "alpha beta gamma delta epsilon zeta"
    StreamOps.seedDedupIndex(
      Seq((0L, tA)).toDF("doc_id", "text"), "doc_id", "text", indexDir, corpusDir)
    // Simulate the crash window: a previous attempt of batch 0 wrote its
    // OWN part=b0 index/corpus partitions, then died before the
    // checkpoint commit. The replay (fresh checkpoint, same data, same
    // batchId 0) must probe the index WITHOUT those partitions — else
    // doc 10 "matches" itself at jaccard 1.0 and batchmates pair up.
    val batchDocs = Seq((10L, tA), (11L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    graft.operators.MinHashDedup.bandIndex(batchDocs, "doc_id", "text", 3, 64, 16)
      .withColumnRenamed("doc_id", "corpus_id").write.parquet(s"$indexDir/part=b0")
    batchDocs.select(col("doc_id").as("corpus_id"), col("text"))
      .write.parquet(s"$corpusDir/part=b0")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.incrementalDedupSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, corpusDir, pairsDir, chk)
    try {
      in.addData((10L, tA), (11L, "seven eight nine ten eleven twelve"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(pairsDir)
      .select("doc_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((10L, 0L, 1.0)),
      s"replay must see only the pre-batch corpus; got ${pairs.sorted.mkString(", ")}")
  }

  test("incremental cluster labels track the grown corpus per batch, replay-safe across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.ClusterDedup
    val root = java.nio.file.Files.createTempDirectory("graft_incclust").toString
    val (corpusDir, labelsDir, chk) = (s"$root/corpus", s"$root/labels", s"$root/chk")
    def doc(fam: String, salt: Int): String =
      (0 until 10).map(i => s"$fam${(i + salt) % 12}").mkString(" ")
    val seed = Seq(1L -> doc("alpha", 0), 2L -> doc("alpha", 1),
      10L -> doc("beta", 0), 11L -> doc("beta", 1)).toDF("doc_id", "text")
    StreamOps.seedClusterState(seed, "doc_id", "text", corpusDir, labelsDir)
    val in = MemoryStream[(Long, String)]
    def pipeline() = StreamOps.incrementalClusterSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", corpusDir, labelsDir, chk)
    def latestLabels(part: String): Map[Long, Long] =
      spark.read.parquet(s"$labelsDir/part=$part")
        .as[(Long, Long)].collect().toMap
    // batch 0: a bridge doc merges the two seed clusters
    val bridge = (0 until 6).map(i => s"alpha$i").mkString(" ") + " " +
      (0 until 6).map(i => s"beta$i").mkString(" ")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q1 = pipeline()
    try {
      in.addData(20L -> bridge)
      q1.processAllAvailable()
    } finally q1.stop()
    val after0 = latestLabels("b0")
    assert(after0.size == 5 && after0.values.toSet == Set(1L), s"bridge merge failed: $after0")
    // batch 1 arrives while the query is DOWN: restart must label the
    // 7-doc corpus exactly once, identically to a full recompute
    in.addData(30L -> doc("gamma", 0), 31L -> doc("gamma", 1))
    val q2 = pipeline()
    try { q2.processAllAvailable() } finally q2.stop()
    val after1 = latestLabels("b1")
    // the STREAM side must leave nothing pinned (checked before the
    // full-recompute comparison below, whose own sealed result cut is
    // legitimately alive while we read it)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"cluster stream leaked persisted RDDs: $leaked")
    val full = ClusterDedup.components(
        spark.read.parquet(corpusDir).drop("part"), "doc_id", "text", 2, 0.3)
      .as[(Long, Long)].collect().toMap
    assert(after1 == full, s"\n stream=$after1\n full=$full")
    assert(after1(30L) == 30L && after1(31L) == 30L)
  }

  test("cluster-label compaction: old label parts deleted, restart after compaction stays exact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.ClusterDedup
    val root = java.nio.file.Files.createTempDirectory("graft_incclust_cmp").toString
    val (corpusDir, labelsDir, chk) = (s"$root/corpus", s"$root/labels", s"$root/chk")
    def doc(fam: String, salt: Int): String =
      (0 until 10).map(i => s"$fam${(i + salt) % 12}").mkString(" ")
    val seed = Seq(1L -> doc("alpha", 0), 2L -> doc("alpha", 1)).toDF("doc_id", "text")
    StreamOps.seedClusterState(seed, "doc_id", "text", corpusDir, labelsDir)
    val in = MemoryStream[(Long, String)]
    def pipeline() = StreamOps.incrementalClusterSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", corpusDir, labelsDir, chk,
      retainLabels = 2)
    def labelParts(): Set[String] =
      new java.io.File(labelsDir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("part=")).toSet
    // two batches in one run → {seed,b0,b1} compacts to {b0,b1}
    val q1 = pipeline()
    try {
      in.addData(10L -> doc("beta", 0)); q1.processAllAvailable()
      in.addData(11L -> doc("beta", 1)); q1.processAllAvailable()
    } finally q1.stop()
    assert(labelParts() == Set("part=b0", "part=b1"),
      s"compaction should keep exactly the newest 2: ${labelParts()}")
    // batch 2 arrives while the query is DOWN: the restart reads b1 —
    // the predecessor retention guarantees — and must re-label the
    // 5-doc corpus identically to a batch-mode recompute
    in.addData(20L -> doc("gamma", 0))
    val q2 = pipeline()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(labelParts() == Set("part=b1", "part=b2"), s"${labelParts()}")
    val got = spark.read.parquet(s"$labelsDir/part=b2").as[(Long, Long)].collect().toMap
    val full = ClusterDedup.components(
        spark.read.parquet(corpusDir).drop("part"), "doc_id", "text", 2, 0.3)
      .as[(Long, Long)].collect().toMap
    assert(got == full, s"\n stream=$got\n full=$full")
  }

  test("file source reads csv directories with the same pipeline shape") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_fsrc_csv").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .coalesce(1).write.mode("append").csv(s"$root/in")
    val q = StreamOps.fromFiles(spark, s"$root/in", schema, format = "csv")
      .writeStream.format("memory").queryName("fcsv").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fcsv").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("intervalJoin matches only rows inside the event-time range") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val buys = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamOps.intervalJoin(
        clicks.toDF().toDF("cts", "user_id", "page"), "cts", "1 hour",
        buys.toDF().toDF("bts", "user_id", "item"), "bts", "1 hour",
        Seq("user_id"), lowerBound = "0 seconds", upperBound = "30 minutes")
      .select(col("page"), col("item"))
    val q = joined.writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      clicks.addData((ts(1000), 1L, "home"), (ts(1000), 2L, "search"))
      buys.addData(
        (ts(1300), 1L, "book"), // 5 min after click -> match
        (ts(500), 1L, "early"), // before the click -> no match
        (ts(4000), 2L, "late")) // 50 min after -> outside 30-min bound
      q.processAllAvailable()
      val rows = spark.table("ij").as[(String, String)].collect().toSet
      assert(rows == Set(("home", "book")), s"got $rows")
    } finally q.stop()
  }

  test("upsertSink merges each micro-batch into the parquet table by key, latest version wins") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val (tab, chk) = (s"$root/tab", s"$root/chk")
    val in = MemoryStream[(Long, Long, String)]
    val q = StreamOps.upsertSink(in.toDF().toDF("k", "ver", "v"), tab, chk, Seq("k"),
      orderBy = Seq(col("ver").desc))
    try {
      // within-batch duplicate key: the higher version must win
      // deterministically (not partition order)
      in.addData((1L, 1L, "a-old"), (1L, 2L, "a"), (2L, 1L, "b"))
      q.processAllAvailable()
      assert(spark.read.parquet(tab).as[(Long, Long, String)].collect().toSet ==
        Set((1L, 2L, "a"), (2L, 1L, "b")))
      in.addData((2L, 2L, "B"), (3L, 1L, "c")) // update + insert
      q.processAllAvailable()
      assert(spark.read.parquet(tab).as[(Long, Long, String)].collect().toSet ==
        Set((1L, 2L, "a"), (2L, 2L, "B"), (3L, 1L, "c")))
    } finally q.stop()
  }

  test("Misra-Gries summary runs as streaming state: candidates stay a superset across micro-batches") {
    // the MG aggregation buffer IS mergeable state, so the same udaf
    // that powers HeavyHitters.exact maintains a streaming sketch in
    // complete mode — candidates after each trigger must contain every
    // item whose running count exceeds N/(k+1)
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = in.toDF().toDF("item")
      .agg(graft.operators.HeavyHitters.mgSummary(col("item"), 8).as("s"))
      .select(col("s._1").as("cands"), col("s._2").as("n"))
      .writeStream.format("memory").queryName("mghh").outputMode("complete").start()
    try {
      in.addData(Seq.fill(30)("alpha") ++ (1 to 20).map(i => s"noise_$i"): _*)
      q.processAllAvailable()
      val (c1, n1) = spark.table("mghh").as[(Seq[String], Long)].head()
      assert(n1 == 50 && c1.contains("alpha"))
      in.addData(Seq.fill(25)("beta") ++ (21 to 35).map(i => s"noise_$i"): _*)
      q.processAllAvailable()
      val (c2, n2) = spark.table("mghh").as[(Seq[String], Long)].head()
      // alpha: 30 >= 90/9, beta: 25 >= 90/9 — both must have survived
      assert(n2 == 90 && c2.contains("alpha") && c2.contains("beta"))
    } finally q.stop()
  }

  test("sessionizeBatch agrees with the streaming sessionize on a replayed input") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    // two users, multiple sessions; a far-future sentinel per user pushes
    // the watermark past every real session's timeout so streaming closes
    // them all (the sentinels' own sessions stay open and are excluded)
    val real = Seq(
      Event(1L, ts(1000), "a", 1.0), Event(1L, ts(1300), "a", 2.0), // session 1
      Event(1L, ts(20000), "a", 3.0), // session 2 (gap > 30 min)
      Event(2L, ts(500), "b", 5.0) // session 1
    )
    val sentinelSec = 1000000L
    val sentinels = Seq(Event(1L, ts(sentinelSec), "x", 0.0), Event(2L, ts(sentinelSec), "x", 0.0))
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_agree").outputMode("append").start()
    val streamed =
      try {
        in.addData(real: _*)
        q.processAllAvailable()
        in.addData(sentinels: _*)
        q.processAllAvailable()
        spark.table("sess_agree").as[StreamOps.Session].collect()
          .map(s => (s.user_id, s.start.getTime * 1000, s.end.getTime * 1000, s.n_events, s.sum_value))
          .toSet
      } finally q.stop()
    val batch = StreamOps.sessionizeBatch(
        (real ++ sentinels).toDF()
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("value")),
        "user_id", "us", "event_type", "value", gapUs = gapMs * 1000)
      .filter(col("start_us") < sentinelSec * 1000000L) // drop sentinel-only sessions
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"), col("sum_value"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream $streamed\nbatch $batch")
    assert(streamed.size == 3)
  }

  test("sessionize splits on gap inline when a late-gap event arrives for the same user") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions2").outputMode("append").start()
    try {
      // second event is 2h after the first -> first session closes inline
      in.addData(Event(5L, ts(1000), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(5L, ts(1000 + 7200), "click", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions2").as[StreamOps.Session].collect()
      assert(closed.length == 1 && closed.head.user_id == 5L && closed.head.n_events == 1)
    } finally q.stop()
  }
}
