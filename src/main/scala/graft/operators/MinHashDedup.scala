package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Near-duplicate detection via MinHash + LSH banding — the standard
  * web-corpus dedup pipeline (shingle → minhash signature → band →
  * bucket-join → verify), built entirely from native codegen'd
  * expressions + one equi-join.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - signature + band buckets are ONE compiled pass per doc
  *     (NativeHash.MinHashBandsExpr), map-side only;
  *   - candidate generation is posexplode(buckets) → self-equi-join on
  *     (band, bucket): a hash-partitioned join on a narrow composite
  *     key — never an O(n²) cross join;
  *   - verification (exact Jaccard on shingle sets) touches only
  *     candidate pairs. Band/row parameters trade recall vs candidate
  *     volume: b bands of r rows ⇒ match threshold ≈ (1/b)^(1/r).
  */
object MinHashDedup {

  /** k-wide MinHash signature of an array-of-string column: one pass,
    * element-wise min of k permuted hashes ((a·h + b) mod P, h the
    * 31-bit-clamped xxhash64 of the shingle so products never wrap).
    * Runs as a native codegen'd Catalyst expression
    * (NativeHash.MinHashSigExpr) — the equivalent HOF `aggregate`
    * pipeline is interpreted and ~10x slower on the signature pass.
    */
  def signature(shingleSet: Column, k: Int = 64, seed: Long = 42L): Column =
    graft.functions.NativeHash.minhashSig(shingleSet, k, seed)

  /** Candidate near-dup pairs (idA < idB) with exact-Jaccard verification.
    *
    * Recall contract — the part callers get wrong: banding with b bands
    * of r rows catches a pair of true Jaccard J with probability
    * 1 − (1 − J^r)^b, an S-curve whose knee (p = 0.5) sits at
    * ≈ (1/b)^(1/r). The defaults (b=16, r=4 ⇒ knee ≈ 0.5) are sized for
    * web-dedup thresholds: recall is ≥ 0.9998 at J = 0.8 but only ~0.64
    * AT the knee itself. Pick `threshold` comfortably ABOVE the knee, or
    * re-band (larger b, smaller r pushes the knee down at the cost of
    * candidate volume). Asking for threshold 0.1 under the default
    * banding returns only the lucky fraction of mid-range pairs —
    * exact verification bounds precision, never recall.
    *
    * @param df        input with `idCol` and a text column
    * @param nGram     word-shingle width
    * @param threshold Jaccard threshold for a verified near-dup; keep it
    *                  above the banding knee ≈ (1/numBands)^(numBands/numHashes)
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    // The shingle table feeds three plan branches (signature, verify-a,
    // verify-b); Spark re-evaluates shared subtrees per branch, so it is
    // persisted — one tokenize/shingle pass total. At corpus scale this
    // is the standard materialize-the-shingle-table step of a dedup
    // pipeline; MEMORY_AND_DISK spills instead of OOMing.
    val shingleTab = shingled(df, idCol, textCol, nGram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Candidate generation ships ONLY (band, bucket, id): a pair hitting
    // k bands appears k times here but is deduped BEFORE the (expensive)
    // exact-Jaccard verify, and the shingle arrays are re-joined only for
    // the surviving distinct pairs — verify runs exactly once per pair.
    val buckets = shingleTab
      .select(col(idCol),
        posexplode(graft.functions.NativeHash.minhashBandBucketsHashed(
          col("sh"), numHashes, numBands)).as(Seq("band", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // both join sides
    val cand = buckets.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(buckets.select(col("band"), col("bucket"), col(idCol).as("id_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(shingleTab.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingleTab.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("c", graft.functions.NativeHash.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("c") / (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Dedup: drop every doc that near-dups an earlier (lower-id) doc. */
  def dedup(df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.8): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, threshold = threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-doc sorted distinct shingle HASHES (array<long>) — the native
    * one-pass expression; no shingle strings are materialized. Signature
    * values under the hashed band expression differ from the
    * string-input path, but minhash's collision property (P[min match]
    * = J) is hash-family-independent, and verification is exact.
    *
    * No filter(size > 0) here — the optimizer would push it (and the
    * whole shingle expression with it) below Par.widen's exchange onto
    * the narrow scan, shingling every doc twice. Empty shingle sets are
    * instead dropped at the band expression (zero buckets) and can never
    * surface as candidates.
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String, nGram: Int) =
    Par.widen(df)
      .select(col(idCol),
        graft.functions.NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram).as("sh"))

  /** Persistent band-bucket index of a corpus: (idCol, band, bucket).
    * Build once, write to a table, reuse across ingests — the signatures
    * of the existing corpus are never recomputed (incrementalPairs).
    */
  def bandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      seed: Long = 42L): DataFrame =
    shingled(df, idCol, textCol, nGram)
      .select(col(idCol),
        posexplode(graft.functions.NativeHash.minhashBandBucketsHashed(
          col("sh"), numHashes, numBands, seed)).as(Seq("band", "bucket")))

  /** Incremental near-dup check — the daily-ingest pattern: NEW docs
    * probe an EXISTING corpus band index. Only the new batch is shingled
    * and signed; the corpus side contributes its precomputed (id, band,
    * bucket) rows, and corpus TEXT is re-read only for the docs that
    * actually share a bucket with a new doc (semi-join pruned before the
    * shingle pass). At 100 TB the corpus index is a bucket-partitioned
    * table and this probe touches one partition per new-doc bucket.
    *
    * `newId` and `corpusId` must differ (the output carries both).
    * Output: (newId, corpusId, jaccard ≥ threshold).
    */
  def incrementalPairs(
      corpusIndex: DataFrame, // (corpusId, band, bucket) — bandIndex output
      corpus: DataFrame, // (corpusId, textCol) — for verification only
      newDocs: DataFrame, // (newId, textCol)
      corpusId: String,
      newId: String,
      textCol: String,
      nGram: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L): DataFrame = {
    require(newId != corpusId, s"newId and corpusId must differ (both '$newId')")
    val newSh = shingled(newDocs, newId, textCol, nGram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // buckets + verify side
    val newBuckets = newSh.select(col(newId),
      posexplode(graft.functions.NativeHash.minhashBandBucketsHashed(
        col("sh"), numHashes, numBands, seed)).as(Seq("band", "bucket")))
    val cand = newBuckets
      .join(corpusIndex.select(col(corpusId), col("band"), col("bucket")), Seq("band", "bucket"))
      .select(col(newId), col(corpusId))
      .distinct()
      // consumed twice (corpus semi-join + the final pair join): without
      // a persist the probe join — and the corpusIndex lineage under it —
      // would re-run per consumer, recomputing the very signatures this
      // API promises never to recompute
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shingle only the corpus docs that are candidates
    val corpusSh = shingled(
      corpus.join(cand.select(col(corpusId)).distinct(), Seq(corpusId), "left_semi"),
      corpusId, textCol, nGram)
    cand
      .join(newSh.select(col(newId), col("sh").as("sh_new")), Seq(newId))
      .join(corpusSh.select(col(corpusId), col("sh").as("sh_corpus")), Seq(corpusId))
      .withColumn("c", graft.functions.NativeHash.sortedIntersectCount(col("sh_new"), col("sh_corpus")))
      .withColumn("jaccard", col("c") / (size(col("sh_new")) + size(col("sh_corpus")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col(newId), col(corpusId), col("jaccard"))
  }
}
