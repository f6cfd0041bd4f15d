package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - `bruteForceTopK`: broadcast the (small) query set against the
  *     corpus; exact cosine; window top-k. The right plan when
  *     |queries| is small — the corpus streams through map-side only,
  *     no corpus shuffle at any scale.
  *   - `srpTopK`: LSH scale path — bucket corpus and queries by
  *     signed-random-projection signature and only score within-bucket,
  *     multi-probing nearby buckets for recall. Turns the cross product
  *     into an equi-join on the signature.
  */
object SimilaritySearch {

  /** Exact top-k by cosine for each query vector. Queries are broadcast;
    * the corpus is never shuffled (window partitions by query id, so the
    * shuffle moves only (qid, id, score) triples — not embeddings).
    */
  def bruteForceTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"),
        graft.functions.NativeHash.cosine(col("qvec"), col("vec")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Measured per-query recall of an approximate top-k against the
    * exact one: (qid, k, recalled) with recalled = |approx ∩ exact| for
    * that query (both frames in the (qid, id, …) top-k shape). This is
    * the RECALL GATE row machinery — a production-knobbed index whose
    * probe assignment or beam degrades on natural data reports
    * recalled < k here instead of hiding behind a structurally-exact
    * fixture (GraphAnnSpec demonstrates the < k report on a genuinely
    * lossy beam). Queries absent from `approx` still emit (recalled
    * = 0). Shuffles only (qid, id) pairs — never embeddings.
    */
  def recall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select("qid", "id")
      .join(approx.select("qid", "id"), Seq("qid", "id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("__r"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), lit(k).as("k"),
        coalesce(col("__r"), lit(0L)).cast("int").as("recalled"))
  }

  /** Exact k-NN SELF-join: every corpus vector's k nearest neighbors
    * by cosine, self excluded. Inherently Ω(n²) — this is the
    * ground-truth/baseline arm for corpora where n² pairs are
    * affordable and for recall evaluation of the approximate paths;
    * at corpus scale use [[IvfSearch.knnJoinIvf]] (co-partitioned
    * list-local candidates). No broadcast hint: the optimizer
    * broadcasts one side while it fits and falls back to a cartesian
    * product beyond that — either way the top-k shuffle moves only
    * (qid, id, score) triples, never embeddings.
    *
    * The bound is the sort-free [[graft.functions.TopKAgg.topKRows]]
    * block (the one the overlap/jaccard retrieval rows run): a row_number
    * window's WindowGroupLimit would local-sort every task's full n²
    * scored stream — Ω(n²·log n²) before a single row is dropped —
    * while the top-k hash aggregate bounds it in one map-side-combined
    * pass with O(k) state per query, ranking by (score DESC, id ASC).
    * Headroom clone: every task sees ~every qid, so the default
    * 128-group fallback would silently reintroduce the sort.
    */
  def knnJoinExact(corpus: DataFrame /* (id, vec) */, k: Int): DataFrame = {
    // widen the STREAM side (r18): a small embeddings parquet arrives
    // as one split, so the Ω(n²) cosine scoring + top-k aggregate ran
    // in ONE task (JobProfile: a single 1.85 s single-task job was the
    // whole query); cores-wide after the widen, no-op at corpus scale
    // where the scan is already thousands of splits
    val scored = Par.widen(corpus.select(col("id").as("qid"), col("vec").as("qvec")))
      .crossJoin(corpus)
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        graft.functions.NativeHash.cosine(col("qvec"), col("vec")).as("score"))
    graft.functions.TopKAgg.withHashAggHeadroom(
      graft.functions.TopKAgg.topKRows(scored, "qid", "id", "score", "rank", k))
  }

  /** ANN via banded SRP-LSH: `tables` independent hash tables of
    * `bitsPerTable` hyperplanes each; candidates are corpus vectors
    * sharing a (table, bucket) cell with the query in ANY table —
    * the standard multi-table E2LSH layout. A single-table multi-probe
    * variant was tried first and abandoned: with one table, recall for
    * moderate-similarity neighbors decays as p^nBits with no way to buy
    * it back, while L tables give 1 − (1 − p^r)^L.
    *
    * Scale shape:
    *   - corpus index rows carry ONLY (tbl, bucket, id) — vectors are
    *     re-joined for the distinct candidate set, so the index explode
    *     (×L) never ships embeddings;
    *   - the candidate join is an equi-join on (tbl, bucket) against the
    *     broadcast query index;
    *   - `bitsPerTable` < 0 auto-sizes to ceil(log2 n) − 5, i.e. ~32
    *     corpus vectors per bucket per table: per-query candidate work is
    *     then ~32·tables regardless of corpus size. Per-neighbor recall
    *     at bit-agreement p = 1 − θ/π is 1 − (1 − p^r)^L; raise `tables`
    *     to buy recall for a given similarity floor.
    */
  def srpTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int,
      dim: Int,
      bitsPerTable: Int = -1,
      tables: Int = 32,
      seed: Long = 42L,
      corpusSize: Option[Long] = None): DataFrame = {
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else { // ceil(log2 n) − 5, floored at 2. Auto-sizing needs the
        // corpus cardinality; pass `corpusSize` from table stats (or a
        // cached count) in repeated-call services — only when absent does
        // this fall back to one count job (fine for offline index builds)
        val n = math.max(2L, corpusSize.getOrElse(corpus.count()))
        math.max(2, 64 - java.lang.Long.numberOfLeadingZeros(n - 1) - 5)
      }
    def index(df: DataFrame, vecCol: String, idCol: String) = df
      // fused native expression: plane dots + per-table bucket fold in
      // one compiled pass (bucket values identical to the former
      // srpBits + interpreted srpFoldBuckets chain)
      .select(col(idCol),
        posexplode(graft.functions.NativeHash.srpBuckets(col(vecCol), dim, bits, tables, seed))
          .as(Seq("tbl", "bucket")))
    val cand = index(corpus, "vec", "id")
      .join(broadcast(index(queries, "qvec", "qid")), Seq("tbl", "bucket"))
      .select("qid", "id").distinct() // a pair meeting in j tables scores once
    val scored = cand
      .join(corpus, Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"), graft.functions.NativeHash.cosine(col("qvec"), col("vec")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs within the corpus itself:
    * banded SRP-LSH — L independent tables of r hyperplanes; candidates
    * are same-bucket-in-any-table pairs, deduped, then verified by exact
    * cosine.
    *
    * Replication-proof candidate generation via FULL-SIGNATURE
    * COLLAPSE: vectors agreeing on the bucket of EVERY table (the whole
    * L-entry signature array) have identical bucket membership, hence
    * identical candidate neighborhoods — scaled copies of a vector
    * (sign(w·v) is scale-invariant) land here. Each signature group
    * contracts to its min-id representative for the bucket self-join;
    * group-level candidate pairs then expand to member pairs, and
    * intra-group member pairs (same bucket in every table) are
    * enumerated directly. The expansion is EXACTLY the naive member-
    * level candidate set — two docs share a (tbl, bucket) iff their
    * groups do — so the verified output is row-identical to the
    * uncollapsed join while the g² bucket-join and pair-distinct
    * volumes drop to group granularity (the 10× soak's embedding
    * replicas are cosine-identical: member-level candidates grew 100×
    * per 10× data; group-level stay put).
    *
    * Scale shape: exploded index rows carry ONLY (gid, tbl, bucket) —
    * the embeddings are re-joined after the candidate pair set is
    * distinct, so the bucket join never ships vectors and the per-pair
    * work is one fused native cosine (dot and both norms in a single
    * compiled loop). Defaults (r=8, L=96) give ~0.99 recall at cosine
    * 0.5; at larger corpora raise `bitsPerTable` toward log2(n) to keep
    * the random-collision candidate count sub-quadratic, and raise
    * `tables` to buy recall back.
    */
  def cosineNearDupPairs(
      corpus: DataFrame, // (id, vec)
      dim: Int,
      threshold: Double = 0.5,
      bitsPerTable: Int = 8,
      tables: Int = 96,
      seed: Long = 42L): DataFrame = {
    val (lazyOut, sig, groups, reps) =
      cosineNearDupPairsPlan(corpus, dim, threshold, bitsPerTable, tables, seed)
    val out = Par.cut(lazyOut)
    sig.unpersist(false)
    Seq(groups, reps).foreach(Par.free)
    out
  }

  /** The un-cut output frame (plus the resource-owning intermediates)
    * so PlanShapeSpec can pin the collapse's plan shape — the public
    * entry point eagerly cuts its result, which reduces its visible
    * plan to a checkpoint scan. Probe callers own the cleanup.
    */
  private[graft] def cosineNearDupPairsPlan(
      corpus: DataFrame,
      dim: Int,
      threshold: Double,
      bitsPerTable: Int = 8,
      tables: Int = 96,
      seed: Long = 42L): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // fused native expression: L·r plane dots + per-table bucket fold
    // in one compiled pass per row; persisted so the collapse window,
    // the rep filter and the bucket explode all reuse one computation.
    // Null vectors yield a null signature and are dropped — the
    // uncollapsed posexplode did the same.
    val sig = Par.widen(corpus)
      .select(col("id"), graft.functions.NativeHash.srpBuckets(
        col("vec"), dim, bitsPerTable, tables, seed).as("__sig"))
      .where(col("__sig").isNotNull)
      .persist(MEMORY_AND_DISK)
    // Par.cut, not persist, on the fan-out frames — see ClusterDedup on
    // analyzer re-walks of duplicated subtrees
    val groups = Par.cut(sig.select(col("id"),
      min(col("id")).over(Window.partitionBy(col("__sig"))).as("gid")))
    val reps = Par.cut(
      sig.join(groups.where(col("id") === col("gid")).select("id"), Seq("id")))
    val buckets = reps.select(col("id").as("gid"),
      posexplode(col("__sig")).as(Seq("tbl", "bucket")))
    val gcand = buckets.select(col("tbl"), col("bucket"), col("gid").as("g_a"))
      .join(buckets.select(col("tbl"), col("bucket"), col("gid").as("g_b")), Seq("tbl", "bucket"))
      .filter(col("g_a") < col("g_b"))
      .select("g_a", "g_b")
      .distinct()
    // expand group pairs to member pairs; member ids interleave across
    // groups, so re-order with least/greatest (group reps being ordered
    // does not order the members)
    val cross = gcand
      .join(groups.select(col("gid").as("g_a"), col("id").as("ia")), Seq("g_a"))
      .join(groups.select(col("gid").as("g_b"), col("id").as("ib")), Seq("g_b"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
    val intra = groups.select(col("gid"), col("id").as("id_a"))
      .join(groups.select(col("gid"), col("id").as("id_b")), Seq("gid"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // each member pair appears exactly once (cross: one distinct group
    // pair × one member combo; intra: one group) — no pair-distinct
    // needed after expansion
    val out = cross.union(intra)
      .join(corpus.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(corpus.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.NativeHash.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
    (out, sig, groups, reps)
  }
}
