package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp

/** Structured Streaming operators. The reference's "stream" is a DB
  * cursor (SURVEY.md §2.5 — no watermarks/windows/state exist there);
  * these are the genuine streaming counterparts a Spark-native engine
  * owes its users: windowed aggregation, streaming dedup, and stateful
  * sessionization. Batch DataFrames run through the same code (the
  * transformations are mode-agnostic), which is how the oracle checks
  * them.
  */
object StreamOps {

  /** Tumbling-window event counts/sums with a watermark bounding state. */
  def windowedAgg(events: DataFrame, tsCol: String, watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup on keys; watermark bounds the dedup state. */
  def dedup(events: DataFrame, tsCol: String, watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(keys :+ tsCol)

  /** Streaming file SOURCE: watch a directory for new parquet/csv/json
    * files — the streaming analog of the reference's staged-file intake
    * (`handler/csv_handler.py:50-52`, `utils/fs.py:33-46`): producers
    * drop completed files into the directory; the source's checkpointed
    * file-tracking log guarantees each file is processed exactly once,
    * including across restarts (pinned in StreamingSpec). The result
    * composes with `windowedAgg`/`dedup`/`sessionize` like any stream.
    *
    * `maxFilesPerTrigger` bounds micro-batch size — the backpressure
    * knob for catching up over a large backlog without one giant batch.
    * An explicit schema is required (streaming scans don't infer), which
    * also keeps the scan projection-prunable.
    */
  def fromFiles(
      spark: SparkSession,
      path: String,
      schema: StructType,
      format: String = "parquet",
      maxFilesPerTrigger: Int = 0,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream.format(format).schema(schema).options(options)
    val bounded =
      if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else reader
    bounded.load(path)
  }

  /** Streaming file sink: append micro-batches to a parquet directory
    * with exactly-once semantics via the checkpoint (the streaming
    * counterpart of the reference's staging-file + merge protocol — the
    * file-sink commit log IS the staging/commit step). Returns the
    * started query; caller owns its lifecycle.
    */
  def toParquet(df: DataFrame, path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Watermarked stream-stream INNER join: rows match when their keys
    * are equal and the right event time falls within
    * [left time + lowerBound, left time + upperBound]. Both sides carry
    * watermarks and the time-range condition bounds the join state —
    * without it Spark must buffer both streams forever; with it, rows
    * older than watermark + bound are evicted. The canonical enrich
    * pattern (events ⋈ recent reference updates) at unbounded scale.
    */
  def intervalJoin(
      left: DataFrame, leftTs: String, leftWatermark: String,
      right: DataFrame, rightTs: String, rightWatermark: String,
      keys: Seq[String],
      lowerBound: String, upperBound: String): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val range =
      r(rightTs) >= l(leftTs) + expr(s"INTERVAL $lowerBound") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $upperBound")
    l.join(r, keyCond && range)
  }

  /** Streaming upsert sink: merge each micro-batch into a parquet
    * "table" directory by key — the streaming face of the reference's
    * load/merge protocol (`hive_loader.py` merge mode), built on
    * foreachBatch + Merge.upsertLatest (dedup and merge in one window,
    * so each micro-batch is read once) + the recoverable rename swap
    * (Sink.swapInDir).
    *
    * `orderBy` picks the winner when a micro-batch carries several rows
    * for one key (e.g. `Seq(col("version").desc)` = latest wins). It
    * must be DETERMINISTIC over the batch's contents: the checkpoint
    * makes crash-replay idempotent only if re-merging the recomputed
    * batch reproduces the same surviving rows — a partition-order tie
    * (the Dedup.byRank default) could break the other way on replay and
    * leave the table in a different state than before the crash.
    */
  def upsertSink(
      df: DataFrame,
      tablePath: String,
      checkpoint: String,
      keys: Seq[String],
      orderBy: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(tablePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // heal a mid-swap crash BEFORE deciding whether the table exists:
        // replaying a batch against a target stranded at __old would
        // otherwise skip the merge and install batch-only rows as the
        // whole table (permanent loss of every other key)
        graft.sinks.Sink.recoverSwap(fs, tablePath)
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(tablePath)))
            graft.operators.Merge.upsertLatest(spark.read.parquet(tablePath), batch, keys, orderBy)
          else graft.operators.Dedup.byRank(batch, keys, orderBy)
        val staging = tablePath + "__merging"
        merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staging)
        graft.sinks.Sink.swapInDir(fs, staging, tablePath)
        ()
      }
      .start()

  /** Seed the on-disk state for `incrementalDedupSink`: the corpus band
    * index (built ONCE — corpus signatures are never recomputed) and the
    * corpus text table, each under a `part=seed` partition so per-batch
    * appends land as sibling `part=b<id>` partitions.
    */
  def seedDedupIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, corpusDir: String,
      nGram: Int = 3, numHashes: Int = 64, numBands: Int = 16): Unit = {
    graft.operators.MinHashDedup.bandIndex(corpus, idCol, textCol, nGram, numHashes, numBands)
      .withColumnRenamed(idCol, "corpus_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$indexDir/part=seed")
    corpus.select(col(idCol).as("corpus_id"), col(textCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$corpusDir/part=seed")
  }

  /** Streaming decontamination — the continuous-ingest face of
    * [[graft.operators.JaccardDedup.decontaminate]]: every micro-batch
    * of incoming docs is checked against a FIXED benchmark corpus at
    * the exact n-gram-Jaccard threshold, and only clean docs land.
    * Contamination is a pure per-doc predicate against a constant
    * reference, so the stream carries NO state: each batch is one
    * `decontaminate` call (one job collects the benchmark index; the
    * batch side is only ever batch-sized and caches nothing).
    *
    * Exactly-once across restarts via the same deterministic
    * `part=b<N>` + Overwrite idiom as [[incrementalDedupSink]]: a
    * replay of a checkpointed micro-batch rewrites its own partition
    * with the same rows instead of duplicating them.
    */
  def decontaminateSink(
      newDocs: DataFrame, // streaming (idCol, textCol, ...)
      idCol: String,
      textCol: String,
      benchmark: DataFrame, // batch-side (benchId, textCol)
      benchId: String,
      cleanDir: String,
      checkpoint: String,
      nGram: Int = 2,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.JaccardDedup
          .decontaminate(batch, idCol, benchmark, benchId, textCol, nGram, threshold)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$cleanDir/part=b$batchId")
        ()
      }
      .start()

  /** Seed the state dirs for [[incrementalClusterSink]]: the initial
    * corpus under `part=seed` and its full component labels (computed
    * once via the scalable batch path) beside it. An empty seed corpus
    * is fine — the first micro-batch then labels itself from scratch.
    */
  def seedClusterState(
      corpus: DataFrame, idCol: String, textCol: String,
      corpusDir: String, labelsDir: String,
      nGram: Int = 2, threshold: Double = 0.3): Unit = {
    corpus.select(col(idCol), col(textCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$corpusDir/part=seed")
    val labels = graft.operators.ClusterDedup.components(corpus, idCol, textCol, nGram, threshold)
    labels.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$labelsDir/part=seed")
    graft.operators.Par.free(labels) // the sealed cut has no further consumer
  }

  /** Streaming twin of `ClusterDedup.componentsIncremental` — the
    * CANONICAL-LABELS daily-ingest story end to end: each micro-batch
    * re-labels the grown corpus from (a) the previous batch's labels
    * (star edges — they span the base connectivity by definition) and
    * (b) only the exact near-dup pairs touching the batch. No
    * base-internal candidate join ever re-runs; the inter-batch state
    * is the labels themselves, so there is no index to version or
    * invalidate. Batch N writes the FULL post-batch labeling to
    * `labelsDir/part=b<N>` and its docs to `corpusDir/part=b<N>`;
    * readers take the highest part for current labels.
    *
    * LABEL RETENTION: each batch writes a FULL labeling, so an
    * uncompacted `labelsDir` grows by one corpus-sized labeling per
    * micro-batch — unbounded in a long-running stream. After its
    * writes, batch N deletes every label partition older than the
    * newest `retainLabels` (default 2: the just-written b<N> plus its
    * predecessor). `retainLabels >= 2` is REQUIRED for replay
    * identity: a crash between the b<N> writes and the checkpoint
    * commit replays batch N, which reads the PREVIOUS labeling — the
    * predecessor must still exist. Deletion is idempotent (a replay
    * re-deletes already-missing parts) and `corpusDir` is never
    * compacted — it IS the corpus. StreamingSpec pins restart
    * correctness after compaction against the batch-mode recompute.
    *
    * Exactly-once across restarts via the deterministic `part=b<N>` +
    * Overwrite idiom (the [[incrementalDedupSink]] contract): a replay
    * excludes its OWN partitions from the base corpus and label scan,
    * so a crash anywhere between the two writes and the checkpoint
    * commit replays to identical output.
    */
  def incrementalClusterSink(
      newDocs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      corpusDir: String,
      labelsDir: String,
      checkpoint: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      retainLabels: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    // validate at SINK CONSTRUCTION (ADVICE r16): inside foreachBatch a
    // bad value only surfaced as the first micro-batch's query failure
    require(retainLabels >= 2,
      s"retainLabels must be >= 2 (replay of batch N reads the previous labeling), got $retainLabels")
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val self = s"b$batchId"
        val base = spark.read.parquet(corpusDir)
          .filter(col("part") =!= self).drop("part")
        val labelled = spark.read.parquet(labelsDir)
          .filter(col("part") =!= self)
        // latest labels = highest batch index ('seed' sorts below b0);
        // the distinct-part collect is a handful of strings
        val parts = labelled.select("part").distinct()
          .collect().map(_.getString(0))
        val latest = parts.maxBy(p =>
          if (p == "seed") -1L else p.stripPrefix("b").toLong)
        val baseLabels = labelled.filter(col("part") === latest).drop("part")
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the labeling's own result checkpoint (and anything the
        // contraction pinned) must not accumulate batch over batch in a
        // long-running stream — release everything this batch pinned
        // once its writes have run (the incrementalDedupSink pattern)
        val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
        try {
          graft.operators.ClusterDedup
            .componentsIncremental(baseLabels, base, b, idCol, textCol, nGram, threshold)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$labelsDir/part=$self")
          b.select(col(idCol), col(textCol))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$corpusDir/part=$self")
        } finally {
          b.unpersist()
          val pinned = spark.sparkContext.getPersistentRDDs
          (pinned.keySet -- pinnedBefore).foreach(id =>
            pinned.get(id).foreach(_.unpersist(blocking = false)))
        }
        // compaction: keep only the newest `retainLabels` label parts
        // (ordering: seed < b0 < b1 < …). Runs AFTER the batch's writes
        // so the just-written part is always among the kept; idempotent
        // under replay (a re-run re-deletes already-missing parts)
        val lp = new org.apache.hadoop.fs.Path(labelsDir)
        val lfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (lfs.exists(lp)) {
          // unparseable part names (foreign directories) are SKIPPED,
          // never deleted and never allowed to crash the batch (ADVICE
          // r16: a stray part=tmp dir threw NumberFormatException here)
          def ord(name: String): Option[Long] = {
            val v = name.stripPrefix("part=")
            if (v == "seed") Some(-1L) else v.stripPrefix("b").toLongOption
          }
          lfs.listStatus(lp).filter(_.isDirectory).map(_.getPath)
            .filter(_.getName.startsWith("part="))
            .flatMap(p => ord(p.getName).map(o => (o, p)))
            .sortBy(_._1)
            .dropRight(retainLabels)
            .foreach { case (_, p) => lfs.delete(p, true) }
        }
        ()
      }
      .start()
  }

  /** Streaming twin of `MinHashDedup.incrementalPairs` — the daily-
    * ingest dedup story end to end: each micro-batch of new docs probes
    * the persistent band index (only the batch is shingled and signed;
    * corpus signatures are read, never recomputed), emits verified
    * near-dup pairs, then appends its OWN band buckets and texts to the
    * index — so later batches dedup against earlier ones, not just the
    * seed corpus.
    *
    * Exactly-once across restarts: every write of batch N lands in a
    * deterministic `part=b<N>` partition with Overwrite — a replay of
    * the same micro-batch (same data from the checkpointed source)
    * rewrites the same partitions with the same rows instead of
    * duplicating them (pinned across a stop/restart in StreamingSpec).
    *
    * Intra-batch pairs are NOT emitted (the corpus probe sees only
    * earlier docs); run `MinHashDedup.nearDupPairs` over a batch first
    * if same-day duplicates matter.
    */
  def incrementalDedupSink(
      newDocs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      indexDir: String,
      corpusDir: String,
      pairsDir: String,
      checkpoint: String,
      nGram: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery = {
    require(idCol != "corpus_id", "idCol 'corpus_id' collides with the index id column")
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // incrementalPairs persists its probe intermediates for the one
        // consuming action (the pairs write below). In a long-running
        // stream those must not accumulate batch over batch, so release
        // everything this batch pinned once its writes have run.
        val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
        try {
          // A crash AFTER this batch's own part=b<N> index/corpus writes
          // but BEFORE the checkpoint commit replays the batch with its
          // own docs already in the corpus — the probe would then emit
          // self-pairs and intra-batch pairs the original run did not.
          // Excluding the batch's partition makes replay output identical
          // in that crash window too (partition pruning: the filter on
          // the discovered `part` column never reads the excluded files).
          val self = s"b$batchId"
          val index = spark.read.parquet(indexDir)
            .filter(col("part") =!= self).drop("part")
          val corpus = spark.read.parquet(corpusDir)
            .filter(col("part") =!= self).drop("part")
          graft.operators.MinHashDedup
            .incrementalPairs(index, corpus, b, "corpus_id", idCol, textCol,
              nGram, numHashes, numBands, threshold)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$pairsDir/part=b$batchId")
          // grow the index AFTER the probe: deterministic replay makes
          // the order safe (a crash between the writes re-runs both)
          graft.operators.MinHashDedup
            .bandIndex(b, idCol, textCol, nGram, numHashes, numBands)
            .withColumnRenamed(idCol, "corpus_id")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$indexDir/part=b$batchId")
          b.select(col(idCol).as("corpus_id"), col(textCol))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$corpusDir/part=b$batchId")
        } finally {
          b.unpersist()
          val pinned = spark.sparkContext.getPersistentRDDs
          (pinned.keySet -- pinnedBefore).foreach(id =>
            pinned.get(id).foreach(_.unpersist(blocking = false)))
        }
        ()
      }
      .start()
  }

  /** BATCH sessionization with the same gap rule as the streaming
    * `sessionize` below (a session ends after `gapUs` microseconds of
    * event-time silence): one window pass marks session starts
    * (gap NULL or > gapUs), a running sum numbers them, a groupBy rolls
    * them up. Output: (userCol, session_id, n_events, sum_value,
    * start_us, end_us). This is the oracle-checkable face of the gap
    * semantics the streaming path implements with state + timeouts —
    * both must agree on any replayable input.
    */
  def sessionizeBatch(
      events: DataFrame,
      userCol: String,
      usCol: String, // event time, microseconds (long)
      tieCol: String, // deterministic order within equal timestamps
      valueCol: String,
      gapUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(usCol).asc, col(tieCol).asc)
    events
      .withColumn("__gap", col(usCol) - lag(usCol, 1).over(w))
      .withColumn("__new", when(col("__gap").isNull || col("__gap") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("__new").over(w))
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(valueCol).as("sum_value"),
        min(usCol).as("start_us"),
        max(usCol).as("end_us"))
  }

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long, sum_value: Double)
  // public: the state encoder's generated (Janino) code must reach the
  // accessors reflectively; a private case class fails codegen at runtime
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Sessionization via flatMapGroupsWithState: events for a user belong
    * to one session until a `gapMs` silence in EVENT time; the session
    * closes either inline (a later event for the same user arrives past
    * the gap) or via event-time timeout once the watermark passes
    * session-end + gap. State per key is O(1) (no event buffering) — the
    * shape that survives 100 TB of events: state size scales with active
    * users, not volume. Pinned in StreamingSpec with a MemoryStream.
    */
  def sessionize(events: Dataset[Event], gapMs: Long, watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += Session(uid, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // event-time timeout at session-end + gap; clamp above the
              // current watermark (Spark rejects timestamps at/below it)
              state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs() + 1, s.last + gapMs))
            }
            closed.result().iterator
          }
      }
  }
}
