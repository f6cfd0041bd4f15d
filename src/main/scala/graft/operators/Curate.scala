package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Training-data curation operators: deterministic split assignment,
  * stratified sampling, and sequence packing — the bookkeeping layer of
  * an LLM data pipeline that sits between dedup/quality filtering and
  * the trainer.
  *
  * All randomness is CONTENT-KEYED (an md5 bucket of the row id), never
  * drawn from an RNG: membership is stable under re-partitioning,
  * re-ordering, re-ingestion, cluster resizing, and even engine changes
  * (md5 is universal — the DuckDB oracle reproduces every assignment
  * byte-for-byte). That is the property that makes train/test splits
  * auditable and leak-checkable long after the job that produced them.
  */
object Curate {

  /** Deterministic bucket in [0, 65536): the first 16 bits of
    * md5(id-as-string). Uniform enough for percent-level sampling, and
    * computable in any engine with an md5 function.
    */
  def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int")

  /** Train/val/test assignment by hash bucket: `testPct` of mass to
    * "test", the next `valPct` to "val", the rest to "train". Adds
    * `bucket` and `split` columns. Thresholds are in 65536ths, rounded
    * down — exact, not probabilistic.
    */
  def splitAssign(df: DataFrame, idCol: String, testPct: Double = 0.1, valPct: Double = 0.1): DataFrame = {
    val b = hashBucket(col(idCol))
    val testUb = math.floor(65536 * testPct).toInt
    val valUb = math.floor(65536 * (testPct + valPct)).toInt
    df.withColumn("bucket", b)
      .withColumn("split",
        when(col("bucket") < testUb, "test")
          .when(col("bucket") < valUb, "val")
          .otherwise("train"))
  }

  /** Leakage-safe split: near-duplicate CLUSTERS are assigned to
    * splits atomically — the bucket hashes the doc's duplicate-cluster
    * label ([[ClusterDedup.components]]: exact n-gram-Jaccard connected
    * components, the replication-proof candidate path), so a near-dup
    * of a training doc can never land in val/test. Plain
    * [[splitAssign]] leaks: two 0.9-Jaccard copies hash to independent
    * buckets and straddle the split boundary with 2·p·(1−p)
    * probability. The configured fractions govern CLUSTER mass; the
    * doc-mass deviation is bounded by the duplicate-cluster size
    * distribution (tiny once dedup runs first, which is the intended
    * order). Adds `cluster_id`, `bucket`, `split`. On a low-duplication
    * corpus the components' adaptive route runs the direct pair
    * self-join, so the clustered machinery costs nothing there.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      testPct: Double = 0.1,
      valPct: Double = 0.1): DataFrame = {
    val comp = ClusterDedup.components(df, idCol, textCol, nGram, threshold)
      .select(col("id").as(idCol), col("component").as("cluster_id"))
    val testUb = math.floor(65536 * testPct).toInt
    val valUb = math.floor(65536 * (testPct + valPct)).toInt
    df.join(comp, Seq(idCol))
      .withColumn("bucket", hashBucket(col("cluster_id")))
      .withColumn("split",
        when(col("bucket") < testUb, "test")
          .when(col("bucket") < valUb, "val")
          .otherwise("train"))
  }

  /** Stratified sample: per-stratum keep rates (e.g. downsample the
    * dominant language, keep the long tail whole) with a default for
    * unlisted strata. Same deterministic bucket — a doc's membership
    * never flickers between runs, so downstream caches stay valid.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val b = hashBucket(col(idCol))
    val ub = rates.foldLeft(lit(math.floor(65536 * defaultRate).toInt)) {
      case (acc, (k, r)) => when(col(strataCol) === k, math.floor(65536 * r).toInt).otherwise(acc)
    }
    df.filter(b < ub)
  }

  /** Weighted Bernoulli sample: keep a row with probability `weight`
    * (a per-row Column in [0,1], clamped) — quality-weighted corpus
    * downsampling, temperature-style language re-balancing, etc. Same
    * content-keyed bucket as splitAssign, so membership is deterministic
    * and engine-reproducible; the weight expression must itself be
    * deterministic for the oracle to agree.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val ub = floor(lit(65536) * least(lit(1.0), greatest(lit(0.0), weight)))
      .cast("int")
    df.filter(hashBucket(col(idCol)) < ub)
  }

  /** Uniform k-per-group sample: the k rows with the smallest md5 of
    * their id within each group (ties broken by id) — a deterministic
    * stand-in for per-group reservoir sampling. Balanced per-language
    * subsets, eval slices, etc.; same content-keyed stability story as
    * the operators above.
    */
  def sampleKPerGroup(df: DataFrame, idCol: String, groupCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Sliding-window document chunking (RAG / long-context preprocessing):
    * each doc yields windows of `window` tokens starting every `stride`
    * tokens; the final windows are truncated at the doc end, and docs
    * with zero tokens yield no chunks. Pure generator shape — sequence +
    * posexplode, no shuffle at all; chunk boundaries are token INDICES
    * (the downstream tokenizer slices the text), so no text is duplicated
    * through the exchange.
    * Output: (idCol, chunk_idx, start_tok, chunk_len).
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val n = Text.tokenCount(col(textCol))
    df.select(col(idCol), n.as("__n"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__n"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(window), col("__n") - col("start_tok")).cast("long").as("chunk_len"))
  }

  /** Temperature-resampled language weights (the mC4/XLM-R α-sampling
    * scheme): language l with corpus share p_l is sampled with
    * probability q_l ∝ p_l^α — α < 1 upsamples the long tail. Output:
    * (strataCol, n_docs, p, q). Two tiny aggregates; nothing here
    * touches the corpus twice.
    */
  def temperatureWeights(df: DataFrame, strataCol: String, alpha: Double): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").as("__N"))
    val withP = counts.crossJoin(broadcast(total))
      .withColumn("p", col("n_docs").cast("double") / col("__N"))
    val z = withP.agg(sum(pow(col("p"), alpha)).as("__Z"))
    withP.crossJoin(broadcast(z))
      .select(col(strataCol), col("n_docs"), col("p"),
        (pow(col("p"), alpha) / col("__Z")).as("q"))
  }

  /** Concat-and-chunk sequence packing (the GPT-style pretraining
    * layout): documents are laid end-to-end in a deterministic order and
    * cut into `budget`-token context windows; a document's `pack_id` is
    * the window its first token lands in.
    *
    * Packing is SHARD-LOCAL: a global ordered cumulative sum would be a
    * single-partition window (one task sees every row — dead at corpus
    * scale), so documents are first hashed into `shards` independent
    * streams and packed within each. Each shard's window is an
    * independent partition of the shuffle — embarrassingly parallel,
    * which is how packing is actually run over large corpora. The shard
    * is [[hashBucket]] mod `shards` — the same content-keyed md5 used
    * by [[splitAssign]] — so it is uniform for ANY id type (a plain
    * `pmod(id, shards)` silently casts string ids to NULL and collapses
    * the whole corpus into one NULL shard = one task). Output:
    * (id, shard, n_tokens, pack_id).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budget: Int,
      shards: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    df.select(col(idCol), pmod(hashBucket(col(idCol)), lit(shards)).cast("long").as("shard"),
        Text.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
  }
}
