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
  * `maxDocFreq` remains as an OPTIONAL extra cap for adversarial
  * corpora; unlike prefix filtering it can lose pairs, so it stays off
  * by default.
  */
object JaccardDedup {

  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      maxDocFreq: Option[Long] = None): DataFrame =
    nearDupPairsByHashes(df, idCol,
      graft.functions.NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram),
      threshold, maxDocFreq)

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
      graft.functions.NativeHash.charShingleHashes(col(textCol), nChars), threshold, None)

  /** Guard band against fp rounding of t·n products in pruning bounds
    * (e.g. 0.07·100 = 7.000000000000001 → ceil 8 would shrink a prefix
    * by one and could silently drop a boundary-exact pair). Every prune
    * subtracts/adds this so boundary cases are verified, not pruned.
    */
  private val Eps = 1e-9

  /** Prefix index: each document's rarest n − ⌈t·n⌉ + 1 shingle hashes
    * under the global (document-frequency asc, hash asc) order, each
    * carrying its position `pos` in the doc's FULL sorted shingle list
    * (for the positional filter). Any pair with J ≥ t shares at least
    * one shingle in BOTH prefixes (see object doc), so a self-join on
    * this index is a lossless candidate generator. Exposed
    * package-private so DedupSpec can pin the hot-shingle fan-out bound
    * directly.
    */
  private[graft] def prefixIndex(index: DataFrame, idCol: String, threshold: Double,
      keep: Seq[String] = Nil): DataFrame = {
    // df as a combiner AGGREGATE + join-back, not a count window over an
    // s-partitioned exchange (r18, guide §2.3/§2.5/§3.1). The r17 window
    // form shuffled the ENTIRE exploded index by shingle and sorted
    // every partition so the whole-partition count window could buffer
    // each shingle group — a hot shingle (a stopword n-gram at corpus
    // scale) ships every posting into ONE window buffer in one task,
    // the straggler-maker the r17 verdict flagged, and the 32 concurrent
    // partition sorts were the prime suspect for dedup_canonical's
    // 32-core GC pathology. The aggregate does map-side partial
    // aggregation, so a hot shingle accumulates in O(1) combiner state
    // and the df shuffle carries (s, partial count) rows —
    // distinct-shingle-sized, not index-sized. The join-back is
    // AQE-planned: at gate scale the aggregated dfreq is a few MB and
    // broadcasts, so the index is NEVER exchanged by s at all (one
    // exchange — by doc — where the window form paid two; measured
    // 0.55 s vs 0.89 s warm at sf0.1); at corpus scale dfreq outgrows
    // the broadcast threshold and AQE falls back to a shuffled join,
    // where — unlike a window — AQE's skew-join splitting can still
    // carve up a hot shingle's oversized partition.
    // The join on s is null-rejecting: a null shingle drops here,
    // matching the pre-r17 groupBy+join semantics (inert today — the
    // shingle-hash arrays are containsNull=false).
    val dfreq = index.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // explicit width on the per-doc exchange: AQE's advisory-size
    // coalescing shrank this window to a SINGLE task at gate scale
    // (sub-64MB shuffle), serializing the row_number pass. The width is
    // data-size-aware with a cores floor (Par.scaleWidth, r18): cores
    // locally, estimated-bytes/advisory-size at 100 TB — the r17 blind
    // defaultParallelism would cap parallelism there.
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df").asc, col("s").asc)
    index.join(dfreq, Seq("s"))
      .repartition(Par.scaleWidth(index), col(idCol))
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold - lit(Eps)) + 1)
      .select((Seq("s", idCol, "n", "pos") ++ keep).map(col): _*)
  }

  /** Candidate (id_a < id_b) pairs from the prefix self-join. The size
    * and positional filters run inside the join condition — pruned rows
    * never reach the pair-distinct exchange. The prefix index is
    * persisted: a self-join re-evaluates its subtree per side, and the
    * df + per-doc-window pipeline is the expensive part. Lazy persist,
    * NOT an eager cut: the sides' concurrent AQE stages can race the
    * materialization and duplicate some work, but at 32 cores that
    * overlap rides otherwise-idle cores — the r18 A/B measured the
    * eager-cut form 1.8× SLOWER on this operator (2.1 s → 3.9 s,
    * serializing the probe-side build behind the checkpoint write).
    * The routed cores are the opposite case (heavier chains, saturated
    * cores) and keep their sequential cut.
    */
  private[graft] def prefixCandidates(index: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val prefix = prefixIndex(index, idCol, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = prefix.select(col("s").as("__sa"), col(idCol).as("id_a"),
      col("n").as("__na"), col("pos").as("__pa"))
    val b = prefix.select(col("s").as("__sb"), col(idCol).as("id_b"),
      col("n").as("__nb"), col("pos").as("__pb"))
    // minimum overlap for J ≥ t: c ≥ t·(n_a+n_b)/(1+t)
    val alpha = ceil((col("__na") + col("__nb")) * (threshold / (1.0 + threshold)) - lit(Eps))
    a.join(b,
        col("__sa") === col("__sb") &&
        col("id_a") < col("id_b") &&
        greatest(col("__na"), col("__nb")) * threshold <= least(col("__na"), col("__nb")) + lit(Eps) &&
        lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >= alpha)
      .select("id_a", "id_b")
      .distinct()
  }

  /** Core: exact Jaccard over any shingle-array expression. Generic
    * string-shingle hatch — hashes and sorts per doc (interpreted HOF),
    * then delegates; the text/char entry points above use the native
    * codegen'd shingle-hash expressions instead.
    */
  def nearDupPairsBy(
      df: DataFrame,
      idCol: String,
      shingleExpr: Column,
      threshold: Double,
      maxDocFreq: Option[Long]): DataFrame =
    nearDupPairsByHashes(df, idCol,
      sort_array(transform(array_distinct(shingleExpr), s => xxhash64(s))),
      threshold, maxDocFreq)

  /** Core over a SORTED-distinct-hash-array expression (array<long>,
    * ascending — what NativeHash.shingleHashes/charShingleHashes emit).
    * Indexing on 64-bit hashes instead of shingle strings means joins
    * shuffle fixed-width longs; a collision (≈2⁻⁶⁴ per pair) could only
    * merge two shingle identities — far below the result's 6-decimal
    * resolution.
    */
  def nearDupPairsByHashes(
      df: DataFrame,
      idCol: String,
      hashArrExpr: Column,
      threshold: Double,
      maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0, "threshold must be > 0 (candidate generation relies on a shared shingle)")
    // one persisted doc table carries the sorted hash array; it feeds
    // the exploded index (df count + prefix join) AND both verify sides
    // — the shingling pass runs once per document
    val docs = Par.widen(df)
      .select(col(idCol), hashArrExpr.as("__sh"))
      .select(col(idCol), col("__sh"), size(col("__sh")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val full = docs.select(col(idCol), explode(col("__sh")).as("s"), col("n"))
    val index = maxDocFreq.fold(full) { cap =>
      // OPTIONAL document-frequency cap (can lose pairs — off by
      // default; prefix filtering below already bounds the fan-out
      // losslessly): broadcast anti-join of the tiny hot tail
      val hot = full.groupBy("s").count().filter(col("count") > cap).select("s")
      full.join(broadcast(hot), Seq("s"), "left_anti")
    }
    // capped mode verifies over the capped shingle set (c excludes
    // capped shingles, n keeps the original size — J underestimates,
    // matching the cap's documented lossy contract); the default path
    // reuses the persisted doc arrays directly
    val verifyDocs = maxDocFreq.fold(docs) { _ =>
      index.groupBy(col(idCol))
        .agg(sort_array(collect_list(col("s"))).as("__sh"), first(col("n")).as("n"))
    }
    // verification: exact intersection count per candidate pair over the
    // per-doc sorted hash arrays — a codegen'd merge walk per row. The
    // re-join-through-the-exploded-index alternative expands to
    // Σ_cand n_a rows and then hash-aggregates them (at sf0.1's
    // adversarial tiny-vocab corpus: 6.2M candidates → 375M rows into a
    // 6.2M-group aggregate — that WAS 90% of the query's runtime); the
    // array form shuffles each doc's ~n×8-byte hash array per pair side
    // — comparable bytes — with no giant aggregate. No broadcast hint:
    // AQE broadcasts the doc-array table while it fits (a few MB here)
    // and falls back to shuffled joins at corpus scale.
    // early-exit walk: J ≥ t ⟺ c ≥ t·(n_a+n_b)/(1+t) = α (monotone in
    // c), so a walk that bails once c can no longer reach α rejects
    // exactly the sub-threshold pairs — and on the false-heavy
    // candidate streams low thresholds produce, most walks exit within
    // a few steps (measured 2.9× on the 10× soak corpus). α carries
    // the -Eps guard, so boundary-exact pairs are verified, not bailed.
    val alpha = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
      .cast("int")
    prefixCandidates(index, idCol, threshold)
      .join(verifyDocs.select(col(idCol).as("id_a"), col("__sh").as("__sha"), col("n").as("n_a")), Seq("id_a"))
      .join(verifyDocs.select(col(idCol).as("id_b"), col("__sh").as("__shb"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("c", graft.functions.NativeHash.sortedIntersectAtLeast(
        col("__sha"), col("__shb"), alpha))
      .filter(col("c") >= 0)
      .withColumn("jaccard", col("c") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact J ≥ `threshold` pairs with AT LEAST ONE endpoint in `delta`,
    * over the union corpus `base ∪ delta` — the incremental-ingest
    * complement of [[nearDupPairs]]. A daily pipeline that already
    * holds labels (or pairs) for `base` only needs the edges TOUCHING
    * the new batch: base-internal pairs are a previous run's output.
    *
    * Candidate generation is the PPJoin prefix scheme under ONE global
    * rarity order computed over the UNION (the losslessness proof
    * needs some fixed common order, and a pair at J ≥ t shares a
    * shingle inside the first n − ⌈t·n⌉ + 1 elements of EACH side
    * under any such order). Both orientations of a
    * delta-base pair are covered by joining the DELTA prefix index
    * against the full one; delta-delta pairs arrive twice and collapse
    * in the canonical least/greatest distinct. Size and positional
    * filters run inside the join condition, exactly as the self-join.
    *
    * Scale shape: the self-join's Σ_s dfP(s)² becomes
    * Σ_s dfPΔ(s)·dfP(s) — linear in the batch for bounded prefix
    * frequencies — and the full-side prefix index is first SEMI-JOINED
    * to the batch's distinct prefix shingles, so the corpus-sized side
    * ships only rows whose shingle the batch actually mentions. The
    * union df count and the prefix window remain one linear pass over
    * the corpus (the price of NOT persisting any index between
    * increments: the only state this API needs from the previous run
    * is its labels).
    *
    * REPLICATION CAVEAT (measured): doc-level frequencies multiply by
    * g under g near-identical copies on BOTH sides of the candidate
    * join, so on replica-heavy corpora this LISTING inherits the g²
    * pathology — the 10× soak measured 409 s here where a full
    * CLUSTERED recompute takes 116 s. When only labels (not the pair
    * listing) are needed, use
    * [[ClusterDedup.componentsIncremental]], which runs the same
    * incremental idea at cluster granularity and stays at
    * distinct-content cost.
    */
  def nearDupPairsIncremental(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3): DataFrame = {
    // SEALED: materialize the (output-sized) listing, then release the
    // doc/prefix persists — the lazy form would leave those
    // MEMORY_AND_DISK blocks pinned for the session lifetime on every
    // call (the semanticDedup/components per-call block-leak class).
    // Callers that need the lazy frame use the Plan variant and own the
    // release closure.
    val (pairs, release) =
      nearDupPairsIncrementalPlan(base, delta, idCol, textCol, nGram, threshold)
    val out = Par.cut(pairs)
    release()
    out
  }

  /** [[nearDupPairsIncremental]] split before its seal: the LAZY pair
    * frame plus the closure releasing the doc/prefix persists once the
    * consumer has fully materialized downstream. Consumed by the sealed
    * public wrapper; kept private[graft] for probes that want to plan
    * or time the unsealed stream (ClusterDedup.componentsIncremental
    * does NOT consume this — its final design runs its own
    * cluster-granularity path; this doc-level listing was its measured
    * A/B arm, 409 s at the 10× soak — see the replication caveat).
    */
  private[graft] def nearDupPairsIncrementalPlan(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int,
      threshold: Double): (DataFrame, () => Unit) = {
    require(threshold > 0, "threshold must be > 0")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one tagged union feeds shingling ONCE per doc (df count, prefix
    // window, verify); no derived-column filter before the persist —
    // it would be pushed below Par.widen's exchange (the documented
    // pushdown trap)
    val docs = Par.widen(
        base.select(col(idCol).as("id"), col(textCol).as("__t"), lit(false).as("__d"))
          .unionByName(
            delta.select(col(idCol).as("id"), col(textCol).as("__t"), lit(true).as("__d"))))
      .select(col("id"),
        graft.functions.NativeHash.shingleHashes(Text.tokens(col("__t")), nGram).as("__sh"),
        col("__d"))
      .select(col("id"), col("__sh"), size(col("__sh")).as("n"), col("__d"))
      .persist(MEMORY_AND_DISK)
    // shared prefix builder (combiner dfreq + AQE join-back — see
    // prefixIndex): df counted over the whole union, prefix positions
    // per doc, __d carried through. Lazy persist (the prefixCandidates
    // rationale: the concurrent materialization race rides idle cores
    // and measured faster than an eager cut at gate scale)
    val prefix = prefixIndex(
        docs.select(col("id"), explode(col("__sh")).as("s"), col("n"), col("__d")),
        "id", threshold, keep = Seq("__d"))
      .persist(MEMORY_AND_DISK)
    val dp = prefix.filter(col("__d"))
    // delta-active shingles only: the corpus-sized side of the candidate
    // join never ships a row the batch cannot match
    val fp = prefix.join(dp.select("s").distinct(), Seq("s"), "left_semi")
    val a = dp.select(col("s").as("__sa"), col("id").as("ia"),
      col("n").as("__na"), col("pos").as("__pa"))
    val b = fp.select(col("s").as("__sb"), col("id").as("ib"),
      col("n").as("__nb"), col("pos").as("__pb"))
    val alpha = ceil((col("__na") + col("__nb")) * (threshold / (1.0 + threshold)) - lit(Eps))
    val cand = a.join(b,
        col("__sa") === col("__sb") &&
        col("ia") =!= col("ib") &&
        greatest(col("__na"), col("__nb")) * threshold <=
          least(col("__na"), col("__nb")) + lit(Eps) &&
        lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >= alpha)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
      .distinct()
    val alphaV = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
      .cast("int")
    val pairs = cand
      .join(docs.select(col("id").as("id_a"), col("__sh").as("__sha"), col("n").as("n_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("__sh").as("__shb"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("c", graft.functions.NativeHash.sortedIntersectAtLeast(
        col("__sha"), col("__shb"), alphaV))
      .filter(col("c") >= 0)
      .withColumn("jaccard", col("c") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (pairs, () => { docs.unpersist(false); prefix.unpersist(false); () })
  }

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
    * element can sit inside prefixes and cost df² candidate rows; at
    * corpus scale switch the prefix order to ascending document
    * frequency exactly as `nearDupPairs`' PPJoin path does (rarity
    * order keeps viral elements out of every prefix — the lossless
    * proof only needs SOME fixed global order).
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

  /** Dedup: drop every doc that near-dups an earlier (lower-id) doc. */
  def dedup(df: DataFrame, idCol: String, textCol: String,
      nGram: Int = 2, threshold: Double = 0.3): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, nGram, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
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
    val index = spark.sparkContext.broadcast(new BenchPostings(docs, threshold))
    val probe = udf((sh: scala.collection.Seq[Long]) => index.value.probe(sh))
    val benchDocs = spark.createDataFrame(docs.indices.map(i => (i, docs(i), docs(i).length)))
      .toDF("__bi", "__shb", "__nb")
    val alpha = ceil((col("__nt") + col("__nb")) * (threshold / (1.0 + threshold)) - lit(Eps))
      .cast("int")
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

  /** The family's broadcast index over the distinct non-empty
    * benchmark shingle arrays `docs`: postings from each prefix shingle
    * to the docs (by position in `docs`) whose prefix holds it.
    */
  private final class BenchPostings(docs: Array[Array[Long]], threshold: Double)
      extends Serializable {
    private val sizes = docs.map(_.length)
    private val postings: Map[Long, Array[Int]] = {
      val df = docs.iterator.flatMap(_.iterator).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
      docs.indices.flatMap { i =>
        val n = docs(i).length
        docs(i).sortBy(s => (df(s), s))
          .take(n - math.ceil(n * threshold - Eps).toInt + 1)
          .map(_ -> i)
      }.groupMap(_._1)(_._2).view.mapValues(_.toArray).toMap
    }

    /** Distinct benchmark docs sharing a posted shingle with `sh` that
      * pass the size filter.
      */
    def probe(sh: scala.collection.Seq[Long]): Array[Int] = {
      val n = sh.length
      sh.iterator.flatMap(s => postings.getOrElse(s, Array.emptyIntArray))
        .filter(b => math.max(n, sizes(b)) * threshold <= math.min(n, sizes(b)) + Eps)
        .distinct.toArray
    }
  }
}
