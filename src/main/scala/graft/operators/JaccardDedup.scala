package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.functions.Text

/** Exact n-gram Jaccard near-duplicate pairs WITHOUT an all-pairs join.
  *
  * Candidate generation uses PREFIX FILTERING on a global rarity order
  * (the PPJoin family — Xiao, Wang, Lin & Yu, "Efficient Similarity
  * Joins for Near Duplicate Detection", WWW 2008): J(a,b) ≥ t implies
  * an overlap c ≥ ⌈t·|a|⌉ (and ≥ ⌈t·|b|⌉), and if sets are sorted by a
  * global order, any pair with overlap ≥ α must share an element within
  * the first |x| − α + 1 elements of EACH side. So only each document's
  * rarest n − ⌈t·n⌉ + 1 shingles (by corpus document frequency, ties on
  * hash) enter the candidate self-join. Candidates are then verified
  * with an exact intersection count through the full index:
  *     J = c / (n_a + n_b − c)
  * — lossless at every threshold, no arrays through any shuffle.
  *
  * Scale shape: the naive inverted-index join costs Σ_s df(s)² over
  * shingle document-frequencies, and one viral shingle ("of the",
  * df = 10⁶) alone contributes 10¹² join rows. Under prefix filtering a
  * viral shingle ranks LAST in the rarity order and falls out of almost
  * every prefix, so the candidate join costs Σ_s dfP(s)² over prefix
  * frequencies — the hot tail self-prunes, with zero recall loss (the
  * `hot-shingle corpus` DedupSpec case pins candidates = 0 where the
  * naive join would produce all pairs).
  *
  * Two further PPJoin prunes run INSIDE the candidate join, before the
  * pair-distinct exchange:
  *   - size filter: t·max(|a|,|b|) ≤ min(|a|,|b|);
  *   - POSITIONAL filter: J ≥ t needs overlap c ≥ α = ⌈t·(n_a+n_b)/(1+t)⌉,
  *     and both docs' shingle lists sort by the SAME global order, so
  *     the first shared element (positions i, j in the full sorted
  *     lists) bounds c ≤ 1 + min(n_a−i, n_b−j). Rows failing
  *     1 + min(n_a−i, n_b−j) ≥ α are pruned; a qualifying pair always
  *     survives through its first-shared-element row, which maximizes
  *     the bound — lossless.
  * All pruning bounds are computed a hair conservative (±1e-9) against
  * fp rounding of t·n products: a boundary-exact pair is then verified
  * by the exact intersection count rather than silently pruned.
  *
  * One pipeline serves the direct Jaccard listings, batch and
  * incremental: a widened doc table (id, `__sh`, n) → [[prefixIndex]]
  * → [[prefixPairs]] → [[verifiedPairs]], each step under a
  * [[ClusterDedup.PairPredicate]]. [[overlapJoin]] keeps its own
  * hash-order prefix join (see there).
  */
object JaccardDedup {

  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3): DataFrame =
    nearDupPairsByHashes(df, idCol,
      graft.functions.NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram), threshold)

  /** Char-n-gram flavor — for short or unsegmented text (e.g. zh) where
    * word tokenization is meaningless.
    */
  def nearDupPairsByChars(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nChars: Int = 3,
      threshold: Double = 0.3): DataFrame =
    nearDupPairsByHashes(df, idCol,
      graft.functions.NativeHash.charShingleHashes(col(textCol), nChars), threshold)

  /** Prefix index: each document's rarest `pred.prefixLen(n)` shingle
    * hashes (n − ⌈t·n⌉ + 1 for Jaccard ≥ t, n − k + 1 for overlap ≥ k)
    * under the global (document-frequency asc, hash asc) order, each
    * carrying its position `pos` in the doc's FULL sorted shingle list
    * (for the positional filter). Any qualifying pair shares at least
    * one shingle in BOTH prefixes (see object doc), so a self-join on
    * this index is a lossless candidate generator. Exposed
    * package-private so DedupSpec can pin the hot-shingle fan-out bound
    * directly.
    */
  private[graft] def prefixIndex(index: DataFrame, idCol: String,
      pred: ClusterDedup.PairPredicate, keep: Seq[String] = Nil): DataFrame = {
    // df as a combiner aggregate plus a join-back, not a count window
    // over an s-partitioned exchange: a hot shingle accumulates in O(1)
    // combiner state instead of one window buffer in one task, and at
    // gate scale the aggregated dfreq broadcasts, so the index is
    // exchanged once, by doc (0.55 s vs 0.89 s warm at sf0.1). At corpus
    // scale AQE falls back to a shuffled join, whose skew splitting can
    // still carve up a hot shingle's partition. The join on s drops a
    // null shingle (inert: the shingle-hash arrays are containsNull=false).
    val dfreq = index.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // explicit, data-size-aware width on the per-doc exchange: AQE's
    // advisory-size coalescing shrank it to a single task at gate scale
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df").asc, col("s").asc)
    index.join(dfreq, Seq("s"))
      .repartition(Par.scaleWidth(index), col(idCol))
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= pred.prefixLen(col("n")))
      .select((Seq("s", idCol, "n", "pos") ++ keep).map(col): _*)
  }

  /** The shuffled candidate join over a [[prefixIndex]]: distinct pairs
    * sharing a prefix element, named `a`/`b`. The size and positional
    * filters run inside the join condition, so pruned rows never reach
    * the pair-distinct exchange. Without `probe` it is the self-join of
    * `prefix` with a < b; with `probe` (a subset's prefix rows, e.g. an
    * ingest batch) it joins those rows against `prefix` and emits each
    * unordered pair as (least, greatest).
    */
  private[graft] def prefixPairs(prefix: DataFrame, idCol: String,
      pred: ClusterDedup.PairPredicate, a: String, b: String,
      probe: Option[DataFrame] = None): DataFrame = {
    val (ia, ib) = if (probe.isEmpty) (a, b) else ("ia", "ib")
    val left = probe.getOrElse(prefix).select(col("s").as("__sa"), col(idCol).as(ia),
      col("n").as("__na"), col("pos").as("__pa"))
    val right = prefix.select(col("s").as("__sb"), col(idCol).as(ib),
      col("n").as("__nb"), col("pos").as("__pb"))
    val (order, out) =
      if (probe.isEmpty) (col(ia) < col(ib), Seq(col(a), col(b)))
      else (col(ia) =!= col(ib), Seq(least(col(ia), col(ib)).as(a), greatest(col(ia), col(ib)).as(b)))
    left.join(right,
        col("__sa") === col("__sb") &&
        order &&
        pred.fits(greatest(col("__na"), col("__nb")), least(col("__na"), col("__nb"))) &&
        lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >=
          pred.alpha(col("__na"), col("__nb")))
      .select(out: _*)
      .distinct()
  }

  /** The exact verify of a candidate pair stream `cand` (columns `a`,
    * `b`): both sides' (`__sh`, n) join on from `docs` (idCol, `__sh`,
    * n), the size filter runs, then the early-exit merge walk at
    * α(n_a, n_b) and the predicate's keep. Emits (a, b, score).
    *
    * The walk bails once c can no longer reach α. J ≥ t ⟺ c ≥ α, so it
    * rejects exactly the sub-threshold pairs, and on the false-heavy
    * candidate streams low thresholds produce most walks exit within a
    * few steps (2.9× on the 10× soak corpus). Joining the arrays
    * instead of re-joining through the exploded index avoids a
    * Σ_cand n_a-row aggregate (375M rows for 6.2M candidates on sf0.1's
    * tiny-vocabulary corpus). No broadcast hint: AQE broadcasts the doc
    * table while it fits and shuffles at corpus scale.
    */
  private[graft] def verifiedPairs(cand: DataFrame, docs: DataFrame, idCol: String,
      pred: ClusterDedup.PairPredicate, a: String, b: String): DataFrame =
    cand
      .join(docs.select(col(idCol).as(a), col("__sh").as("__sha"), col("n").as("n_a")), Seq(a))
      .join(docs.select(col(idCol).as(b), col("__sh").as("__shb"), col("n").as("n_b")), Seq(b))
      .filter(pred.fits(greatest(col("n_a"), col("n_b")), least(col("n_a"), col("n_b"))))
      .withColumn("c", graft.functions.NativeHash.sortedIntersectAtLeast(
        col("__sha"), col("__shb"), pred.alpha(col("n_a"), col("n_b")).cast("int")))
      .filter(col("c") >= 0)
      .withColumn(pred.scoreCol, pred.score(col("c"), col("n_a"), col("n_b")))
      .filter(pred.keep(col(pred.scoreCol)))
      .select(col(a), col(b), col(pred.scoreCol))

  /** Core over a SORTED-distinct-hash-array expression (array<long>,
    * ascending — what NativeHash.shingleHashes/charShingleHashes emit).
    * Indexing on 64-bit hashes instead of shingle strings means joins
    * shuffle fixed-width longs; a collision (≈2⁻⁶⁴ per pair) could only
    * merge two shingle identities — far below the result's 6-decimal
    * resolution.
    *
    * One persisted doc table carries each sorted hash array once; it
    * feeds the exploded index and both verify sides, so the shingling
    * pass runs once per document. The prefix index is persisted too,
    * since the self-join evaluates it once per side: a lazy persist, not
    * an eager cut, which measured 1.8× slower here (2.1 s → 3.9 s) by
    * serializing the probe-side build behind the checkpoint write.
    */
  def nearDupPairsByHashes(
      df: DataFrame,
      idCol: String,
      hashArrExpr: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be > 0 (candidate generation relies on a shared shingle)")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pred = ClusterDedup.Jaccard(threshold)
    val docs = Par.widen(df)
      .select(col(idCol), hashArrExpr.as("__sh"))
      .select(col(idCol), col("__sh"), size(col("__sh")).as("n"))
      .persist(MEMORY_AND_DISK)
    val prefix = prefixIndex(docs.select(col(idCol), explode(col("__sh")).as("s"), col("n")),
      idCol, pred).persist(MEMORY_AND_DISK)
    verifiedPairs(prefixPairs(prefix, idCol, pred, "id_a", "id_b"), docs, idCol, pred, "id_a", "id_b")
  }

  /** Exact J ≥ `threshold` pairs with AT LEAST ONE endpoint in `delta`,
    * over the union corpus `base ∪ delta` — the incremental-ingest
    * complement of [[nearDupPairs]]. A daily pipeline that already
    * holds labels (or pairs) for `base` only needs the edges TOUCHING
    * the new batch: base-internal pairs are a previous run's output.
    *
    * The pipeline is the one [[ClusterDedup.componentsIncremental]]'s
    * direct arm runs: the union doc table and its prefix index under
    * one rarity order counted over the union ([[unionIndex]]), the
    * batch's prefix rows probing the whole index in [[prefixPairs]]
    * (size and positional filters inside the join; delta-delta pairs
    * arrive twice and collapse in its distinct), then [[verifiedPairs]]
    * ([[deltaPairs]]). The losslessness proof needs only some fixed
    * common order, so every pair at J ≥ t with a delta endpoint shares a
    * prefix element with that endpoint's prefix.
    *
    * Scale shape: the self-join's Σ_s dfP(s)² becomes
    * Σ_s dfPΔ(s)·dfP(s), linear in the batch for bounded prefix
    * frequencies; the union df count and the prefix window remain one
    * linear pass over the corpus (the price of keeping no index between
    * increments: the only state this API needs is the previous run's
    * labels or pairs). The listing is materialized, then the doc and
    * prefix persists are released.
    *
    * REPLICATION CAVEAT (measured): doc-level frequencies multiply by
    * g under g near-identical copies on BOTH sides of the candidate
    * join, so on replica-heavy corpora this listing inherits the g²
    * pathology — the 10× soak measured 409 s here where a full
    * CLUSTERED recompute takes 116 s. When only labels are needed, use
    * [[ClusterDedup.componentsIncremental]], whose clustered arm stays
    * at distinct-content cost.
    */
  def nearDupPairsIncremental(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    val pred = ClusterDedup.Jaccard(threshold)
    val (docs, prefix) = unionIndex(base, delta, idCol, textCol, nGram, pred)
    val out = Par.cut(deltaPairs(docs, prefix, pred))
    docs.unpersist(false)
    prefix.unpersist(false)
    out
  }

  /** The incremental calls' union corpus, shingled once: `docs`
    * (id, `__sh`, n, `__d`) over base ∪ delta, `__d` marking the batch,
    * and its [[prefixIndex]] (carrying `__d`) under one rarity order
    * counted over the union. Both are persisted; the caller releases
    * them. No derived-column filter runs before the docs persist: it
    * would be pushed below [[Par.widen]]'s exchange.
    */
  private[graft] def unionIndex(base: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, nGram: Int, pred: ClusterDedup.PairPredicate): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def side(d: DataFrame, isDelta: Boolean) =
      d.select(col(idCol).as("id"), col(textCol).as("__t"), lit(isDelta).as("__d"))
    val docs = Par.widen(side(base, isDelta = false).unionByName(side(delta, isDelta = true)))
      .select(col("id"),
        graft.functions.NativeHash.shingleHashes(Text.tokens(col("__t")), nGram).as("__sh"),
        col("__d"))
      .select(col("id"), col("__sh"), coalesce(size(col("__sh")), lit(0)).as("n"), col("__d"))
      .persist(MEMORY_AND_DISK)
    val prefix = prefixIndex(
        docs.where(col("n") > 0).select(col("id"), explode(col("__sh")).as("s"), col("n"), col("__d")),
        "id", pred, keep = Seq("__d"))
      .persist(MEMORY_AND_DISK)
    (docs, prefix)
  }

  /** Exact (id_a < id_b, score) pairs of a [[unionIndex]] with at least
    * one endpoint in the batch: its delta prefix rows probe the whole
    * index, then [[verifiedPairs]].
    */
  private[graft] def deltaPairs(docs: DataFrame, prefix: DataFrame,
      pred: ClusterDedup.PairPredicate): DataFrame =
    verifiedPairs(
      prefixPairs(prefix, "id", pred, "id_a", "id_b", probe = Some(prefix.where(col("__d")))),
      docs.where(col("n") > 0), "id", pred, "id_a", "id_b")

  /** Set-overlap self-join: every pair sharing ≥ `minOverlap` distinct
    * elements of a sorted-distinct set column (e.g. token-hash sets) —
    * the absolute-overlap sibling of the Jaccard join, used for
    * containment-style matching where a fixed amount of shared content
    * matters regardless of document length.
    *
    * Prefix filter (lossless): under ANY fixed global element order,
    * |A∩B| ≥ k forces a common element inside the first |·|−k+1
    * elements of each side — otherwise all ≥ k common elements would
    * have to sit in the last k−1 positions of one of them. So only the
    * prefixes enter the equi-join; the verify is the same codegen'd
    * sorted merge walk as the Jaccard path. Sets shorter than k cannot
    * qualify and are dropped before the explode.
    *
    * Scale note: prefixes here follow plain hash order, so a viral
    * element can sit inside prefixes and cost df² candidate rows. Run
    * through [[nearDupPairs]]' rarity-ordered pipeline under
    * `ClusterDedup.Overlap(k)` instead, the gate row `overlap_join`
    * (k = 30, sf0.1, 4 cores) read 0.43–0.54 s against 0.32–0.33 s
    * here: its document-frequency count and per-doc window cost more
    * than they prune when few sets reach k (286 of 5,000 documents).
    */
  def overlapJoin(
      df: DataFrame, idCol: String, setCol: Column, minOverlap: Int): DataFrame = {
    require(minOverlap >= 1, "minOverlap must be >= 1")
    // NO size filter here: a deterministic filter on the derived set
    // would be pushed below Par.widen's exchange and shingle the corpus
    // on one core (the documented pushdown trap). Instead the prefix
    // length clamps to 0 for sets shorter than k — they emit no
    // candidate rows, which is the same outcome
    val base = Par.widen(df).select(col(idCol).as("id"), setCol.as("__set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefix = base.select(col("id"),
      explode(slice(col("__set"), lit(1),
        greatest(lit(0), size(col("__set")) - minOverlap + 1))).as("e"))
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.e") === col("b.e") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("__set").as("__sa")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("__set").as("__sb")), Seq("id_b"))
      .withColumn("overlap",
        graft.functions.NativeHash.sortedIntersectCount(col("__sa"), col("__sb")).cast("long"))
      .filter(col("overlap") >= minOverlap)
      .select("id_a", "id_b", "overlap")
  }

  /** Cross-corpus contamination pairs: (left_id, right_id, jaccard) for
    * every (left row, right row) at n-gram Jaccard ≥ `threshold`, as a
    * multiset — the train-vs-benchmark decontamination check of LLM
    * pipelines, naming which benchmark doc each train doc matches.
    *
    * The same probe and exact verify as [[decontaminate]] (see there for
    * the lossless single-sided prefix filter), followed by a broadcast
    * join from each verified benchmark shingle array to the ids of the
    * benchmark rows carrying it. The left side is not shuffled before
    * the verify.
    *
    * Contract: the right side is the small benchmark. Its ids and
    * shingle arrays are collected to the driver in ONE eager job,
    * labelled `decontaminate: bench index`, before this returns; the
    * left input is not read until the result is.
    */
  def crossPairs(
      left: DataFrame, leftId: String,
      right: DataFrame, rightId: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    crossPairsOf(left, leftId, benchIndex(right, rightId, textCol, nGram),
      textCol, nGram, threshold)
  }

  /** [[crossPairs]] with a Bloom-filter pre-prune of the (huge) left/train
    * side: a filter at ~1% fpp over the benchmark's distinct shingles
    * drops almost every clean train doc in the scan itself, before its
    * shingles are exploded into the probe. The filter is built on the
    * driver from the shingles the one construction job already
    * collected, so this runs the same single job as [[crossPairs]].
    *
    * The prune is provably lossless: J(a,b) = o/(n_a+n_b−o) with
    * n_b ≥ o gives J ≤ o/n_a, so J ≥ t requires overlap o ≥ t·n_a —
    * and Bloom false positives only OVERcount the apparent overlap.
    * Survivors then run the exact crossPairs verify, so the result is
    * identical to the unpruned operator (the driver gate pins this
    * against the same DuckDB oracle as `decontaminate`).
    */
  def crossPairsBloom(
      left: DataFrame, leftId: String,
      right: DataFrame, rightId: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      fpp: Double = 0.01): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    val bench = benchIndex(right, rightId, textCol, nGram)
    val distinct = bench.docs.iterator.flatten.distinct.toArray
    val bf = org.apache.spark.util.sketch.BloomFilter.create(math.max(distinct.length, 1L), fpp)
    distinct.foreach(bf.putLong)
    val bbf = left.sparkSession.sparkContext.broadcast(bf)
    // one UDF doing count-and-compare so the (expensive) shingle child
    // evaluates once per row — FilterExec does no subexpression
    // elimination, so `hits(sh) >= t * size(sh)` would shingle twice.
    // o ≥ t·n_a, fp-conservative on the product like the PPJoin bounds.
    // null text ⇒ null shingle array: drop, as the exact path never
    // matches it. asNondeterministic keeps the filter where it is
    // written: a deterministic one is pushed below any upstream
    // repartition and shingles the corpus at the width before it.
    val keep = udf((arr: scala.collection.Seq[Long]) => {
      if (arr == null) false
      else {
        val b = bbf.value
        arr.count(b.mightContainLong).toDouble >= threshold * arr.length - 1e-9
      }
    }).asNondeterministic()
    val sh = graft.functions.NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram)
    crossPairsOf(left.filter(keep(sh)), leftId, bench, textCol, nGram, threshold)
  }

  /** Decontaminate: drop every train row whose id has a row at n-gram
    * Jaccard ≥ `threshold` with some benchmark doc. The output is the
    * train rows of the surviving ids, as a multiset.
    *
    * The train side is one map-side probe against a broadcast index
    * built from the BENCHMARK side alone, so train needs no statistics,
    * no shuffle and no window before the verify:
    *   - each train row is shingled once;
    *   - every one of its shingles probes the broadcast postings, and
    *     the size filter t·max(n_t, n_b) ≤ min(n_t, n_b) drops a
    *     candidate before it leaves the probe;
    *   - each candidate is verified with the early-exit
    *     `sorted_intersect_at_least` walk and the exact
    *     c / (n_t + n_b − c) ≥ t test against the broadcast bench array.
    * The verified ids leave through an id `left_anti` join.
    *
    * Single-sided prefix filter (lossless): J(x, b) ≥ t gives
    * c ≥ t·(n_x + n_b − c) ≥ t·n_b, since n_x ≥ c. So x shares a
    * shingle with the first n_b − ⌈t·n_b⌉ + 1 shingles of b under ANY
    * fixed order, and only those prefixes are posted. The order is
    * (benchmark document frequency asc, hash asc), so shingles common in
    * the benchmark stay out of its postings; no train statistic is
    * needed because the probe side posts nothing. The verify is exact,
    * so [[crossPairs]] lists the matching pairs through the same probe.
    * The index is [[BenchPostings]], whose two-sided probe also runs
    * the broadcast arm of [[ClusterDedup]]'s direct route.
    *
    * Contract: the benchmark is small (the decontamination use case).
    * Its ids and shingle arrays are collected to the driver in ONE eager
    * job, labelled `decontaminate: bench index`, before this returns;
    * the train input is not read until the result is. [[crossPairs]]
    * and [[crossPairsBloom]] keep the same one-job contract.
    */
  def decontaminate(
      train: DataFrame, trainId: String,
      benchmark: DataFrame, benchId: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    val bench = benchIndex(benchmark, benchId, textCol, nGram)
    val dirty = verifiedMatches(train, trainId, bench, textCol, nGram, threshold)
      .select(col(trainId)).distinct()
    train.join(dirty, Seq(trainId), "left_anti")
  }

  // null text shingles to an empty array, never to null: a nullable
  // array would let the optimizer infer isnotnull(size(__sh)) from the
  // verify and push it below the projection, shingling every row twice
  private def shinglesOf(textCol: String, nGram: Int): Column = coalesce(
    graft.functions.NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram),
    typedLit(Array.emptyLongArray))

  /** The benchmark side of the decontamination family: its distinct
    * non-empty shingle arrays `docs` (identical benchmark docs match the
    * same train docs, so each array is indexed once) and `ids`, a local
    * (`__bi`, `__id`) frame from each array's position in `docs` to the
    * ids of the benchmark rows carrying it, with multiplicity.
    */
  private final class BenchIndex(val docs: Array[Array[Long]], val ids: DataFrame)

  /** Collects the benchmark in ONE eager job labelled
    * `decontaminate: bench index` (empty arrays are filtered here, not
    * in the plan, where they would shingle twice too).
    */
  private def benchIndex(benchmark: DataFrame, benchId: String, textCol: String,
      nGram: Int): BenchIndex = {
    val spark = benchmark.sparkSession
    val sel = benchmark.select(col(benchId).as("__id"), shinglesOf(textCol, nGram))
    val rows = Par.labeled(spark, "decontaminate: bench index")(sel.collect())
      .filter(_.getSeq[Long](1).nonEmpty)
    val docs = rows.map(_.getSeq[Long](1)).distinct
    val pos = docs.zipWithIndex.toMap
    val ids = spark.createDataFrame(
      rows.toSeq.map(r => Row(pos(r.getSeq[Long](1)), r.get(0))).asJava,
      StructType(StructField("__bi", IntegerType, nullable = false) +: sel.schema.take(1)))
    new BenchIndex(docs.map(_.toArray), ids)
  }

  /** Every `train` row that verifies at J ≥ `threshold` against a
    * benchmark array, once per such array: the row's `trainId`, the
    * array's position `__bi` in `bench.docs`, the intersection `c` and
    * both sizes `__nt`/`__nb` (the probe and verify of [[decontaminate]]).
    */
  private def verifiedMatches(train: DataFrame, trainId: String, bench: BenchIndex,
      textCol: String, nGram: Int, threshold: Double): DataFrame = {
    val spark = train.sparkSession
    val docs = bench.docs
    val pred = ClusterDedup.Jaccard(threshold)
    val index = spark.sparkContext.broadcast(new BenchPostings(docs, pred))
    val probe = udf((sh: scala.collection.Seq[Long]) => index.value.probe(sh))
    val benchDocs = spark.createDataFrame(docs.indices.map(i => (i, docs(i), docs(i).length)))
      .toDF("__bi", "__shb", "__nb")
    val alpha = pred.alpha(col("__nt"), col("__nb")).cast("int")
    train.select(col(trainId), shinglesOf(textCol, nGram).as("__sh"))
      .select(col(trainId), col("__sh"), size(col("__sh")).as("__nt"),
        explode(probe(col("__sh"))).as("__bi"))
      .join(broadcast(benchDocs), Seq("__bi"))
      .withColumn("c", graft.functions.NativeHash.sortedIntersectAtLeast(
        col("__sh"), col("__shb"), alpha))
      .filter(col("c") >= 0 && col("c") / (col("__nt") + col("__nb") - col("c")) >= threshold)
  }

  /** [[crossPairs]] over an already collected benchmark: the verified
    * matches, expanded from each benchmark array to its ids.
    */
  private def crossPairsOf(left: DataFrame, leftId: String, bench: BenchIndex,
      textCol: String, nGram: Int, threshold: Double): DataFrame =
    verifiedMatches(left, leftId, bench, textCol, nGram, threshold)
      .join(broadcast(bench.ids), Seq("__bi"))
      .select(col(leftId).as("left_id"), col("__id").as("right_id"),
        (col("c") / (col("__nt") + col("__nb") - col("c"))).as("jaccard"))

  /** The broadcast prefix index of the exact Jaccard and overlap
    * family, over distinct sorted-distinct hash sets `docs`: each doc's
    * first `pred.prefixLen(n)` elements under the (document frequency
    * over `docs` asc, hash asc) order are posted with the doc's
    * position in `docs` and the element's position in the doc's fully
    * ordered list. Only `docs` ships; the order, postings and walk
    * views are built where the index is first probed. Two probes read
    * it:
    *   - [[probe]], one-sided (decontamination): every element of an
    *     outside set against the posted prefixes — lossless because
    *     J(x, b) ≥ t needs c ≥ ⌈t·n_b⌉, so x meets b's prefix whatever
    *     x's own order;
    *   - [[pairsOf]], two-sided (the self-join of `docs`, PPJoin): a
    *     doc's own prefix against the others' — a qualifying pair
    *     shares an element inside both prefixes under one global order
    *     (see the object doc) — with the positional filter and the
    *     exact verify inside the probe.
    */
  private[operators] final class BenchPostings(val docs: Array[Array[Long]],
      pred: ClusterDedup.PairPredicate) extends Serializable {
    private val sizes = docs.map(_.length)

    // doc → its prefix in (df asc, hash asc) order
    @transient private lazy val prefixes: Array[Array[Long]] = {
      val df = scala.collection.mutable.LongMap.empty[Int]
      docs.foreach(_.foreach(s => df.update(s, df.getOrElse(s, 0) + 1)))
      docs.map(d => d.sortBy(s => (df(s), s)).take(pred.prefixLen(d.length)))
    }

    // prefix element → its postings in doc order, each packed as
    // doc << 32 | 1-based position in that doc's ordered list
    @transient private lazy val postings: scala.collection.Map[Long, Array[Long]] = {
      val acc = scala.collection.mutable.LongMap.empty[scala.collection.mutable.ArrayBuilder.ofLong]
      for (d <- docs.indices; p <- prefixes(d).indices)
        acc.getOrElseUpdate(prefixes(d)(p), new scala.collection.mutable.ArrayBuilder.ofLong) +=
          (d.toLong << 32 | (p + 1))
      acc.map { case (s, b) => s -> b.result() }
    }

    @transient private lazy val views = docs.map(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(_))
    @transient private lazy val walk = new graft.functions.NativeHash.SortedIntersectHelper
    // pairsOf's candidate sets, reused across calls: at most one per
    // concurrent caller, dropped with the index
    @transient private lazy val marks =
      new java.util.concurrent.ConcurrentLinkedQueue[BenchPostings.Marks]

    private def postingsOf(s: Long): Array[Long] = postings.getOrElse(s, Array.emptyLongArray)

    /** Σ_s |postings(s)|²: the rows a shuffled self-join of these
      * prefixes would emit before its filters (the route's candVol).
      */
    def candidateRows: Double = postings.valuesIterator.map(p => p.length.toDouble * p.length).sum

    /** Distinct docs sharing a posted element with `sh` that pass the
      * size filter.
      */
    def probe(sh: scala.collection.Seq[Long]): Array[Int] = {
      val n = sh.length
      sh.iterator.flatMap(postingsOf).map(p => (p >>> 32).toInt)
        .filter(b => pred.fits(math.max(n, sizes(b)), math.min(n, sizes(b))))
        .distinct.toArray
    }

    /** The verified self-join pairs probed from doc `a`: every partner
      * b it owns that shares an element of both prefixes, passes the
      * size filter and the positional filter at the first shared
      * element, and reaches c ≥ α(n_a, n_b) in the early-exit merge
      * walk, as (b, c). `a` owns b > a when a + b is even and b < a
      * when it is odd, so every unordered pair is probed once and a
      * contiguous range of docs gets an even share of the pairs.
      *
      * Each partner is judged once, at its first posting met. Both
      * prefixes follow the same order, so that posting holds the pair's
      * first shared prefix element, where the positional bound
      * 1 + min(n_a − p_a, n_b − p_b) is largest: later shared elements
      * sit later in both docs and can only lower it.
      */
    def pairsOf(a: Int): Seq[(Int, Int)] = {
      val na = sizes(a)
      val seen = Option(marks.poll()).getOrElse(new BenchPostings.Marks(docs.length))
      seen.clear()
      val out = Seq.newBuilder[(Int, Int)]
      val pre = prefixes(a)
      for (pa <- pre.indices; p <- postingsOf(pre(pa))) {
        val b = (p >>> 32).toInt
        if (b != a && (b > a) == ((a + b) % 2 == 0) && seen.add(b)) {
          val nb = sizes(b)
          val alpha = pred.alpha(na, nb)
          if (pred.fits(math.max(na, nb), math.min(na, nb)) &&
              1 + math.min(na - (pa + 1), nb - p.toInt) >= alpha) {
            val c = walk.countAtLeast(views(a), views(b), alpha)
            if (c >= 0) out += ((b, c))
          }
        }
      }
      marks.offer(seen)
      out.result()
    }
  }

  private[operators] object BenchPostings {
    /** A set of doc positions in [0, n): one bit per doc, emptied
      * through the list of docs added since the last clear, so a
      * clear costs the candidates one probe met, not n / 64 words.
      */
    final class Marks(n: Int) {
      private val bits = new Array[Long]((n + 63) >>> 6)
      private var added = new Array[Int](16)
      private var size = 0

      def clear(): Unit = {
        var i = 0
        while (i < size) { bits(added(i) >>> 6) = 0L; i += 1 }
        size = 0
      }

      /** Adds `b`; false when it was already in the set. */
      def add(b: Int): Boolean = {
        val m = 1L << b
        if ((bits(b >>> 6) & m) != 0) false
        else {
          bits(b >>> 6) |= m
          if (size == added.length) added = java.util.Arrays.copyOf(added, 2 * size)
          added(size) = b
          size += 1
          true
        }
      }
    }
  }
}
