package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.functions._

import graft.functions.{NativeHash, Text}

/** The clustered pair core: exact pair predicates over sorted-distinct
  * hash sets with a replication-proof candidate path. One core runs
  * under two [[ClusterDedup.PairPredicate]]s:
  *   - `Jaccard(t)` — J ≥ t: duplicate-CLUSTER labels ([[components]],
  *     [[componentsIncremental]]), the pair listing ([[pairsClustered]])
  *     and per-doc retrieval ([[topKBy]]);
  *   - `Overlap(k)` — |A∩B| ≥ k: the absolute set-overlap join behind
  *     [[OverlapJoin]].
  * PPJoin (Xiao et al., WWW 2008) derives its prefix, size and
  * positional filters for any overlap-constrained similarity; the two
  * predicates differ only in the overlap bound α(n_a, n_b), the prefix
  * length, the size filter and the output score, which is all a
  * predicate supplies.
  *
  * The direct pipelines — [[JaccardDedup.nearDupPairs]] (then
  * [[Components.connectedComponents]]) and [[JaccardDedup.overlapJoin]]
  * — are exact, but their candidate join costs Σ_s dfP(s)² over prefix
  * element document frequencies. That is the wrong shape for the
  * corpora clustering is FOR: boilerplate-heavy crawls where the same
  * page recurs with small edits. g near-identical copies multiply every
  * prefix df by g, so candidates (and the pair-distinct exchange, and
  * the verify) grow g² — measured on the 10×-replicated soak corpus:
  * 634M raw candidates vs 6.3M at 1×, 332 s vs ~2 s (the overlap join
  * measured 29.7× wall on 10× data). This core returns the IDENTICAL
  * output with candidate volume back at the distinct-content level:
  *
  *   1. EXACT-SET COLLAPSE — group docs by their full sorted hash
  *      array. Set-identical docs qualify with each other (J = 1 ≥ any
  *      t ∈ (0,1]; overlap = n ≥ k) and score identically against
  *      everything else, so each group contracts to its min-id
  *      representative and fans back out at the end. Docs the
  *      predicate rules out never pair: empty sets for Jaccard (J = 0/0
  *      is no-edge, matching the pair operator, whose explode drops
  *      them — [[components]] keeps them as isolated singletons), sets
  *      shorter than k for overlap.
  *   2. LSH CONTRACTION — MinHash band buckets over representatives;
  *      candidates are STAR edges (member → bucket-min hub, O(docs ×
  *      bands), never bucket all-pairs — all-pairs is quadratic in
  *      replication, the very pathology this core removes),
  *      exact-verified under the predicate, then ONE star-contraction
  *      pass (cl(x) = min(x, min qualifying neighbor)). For labels the
  *      contraction is valid whenever each contracted set lies inside
  *      one t-component — true t-edges to a shared hub give exactly
  *      that — so LSH recall (the reason banding can't replace the
  *      exact join) costs nothing here: missed edges only mean less
  *      contraction, caught ones collapse the near-identical cliques
  *      that cause g². For pair listings ANY partition is correct
  *      (steps 3-5 enumerate all cluster pairs losslessly and verify
  *      every member pair); clustering quality only buys pruning power.
  *   3. CLUSTER-LEVEL CANDIDATES — the PPJoin prefix index
  *      ([[JaccardDedup.prefixIndex]], global rarity order, so the same
  *      losslessness proof applies to every member pair) projected to
  *      (element, cluster) DISTINCT. g collapsed copies post each
  *      prefix element once, so the self-join is Σ_s dfC(s)² over
  *      CLUSTER frequencies — the g² term is gone. A cluster-level size
  *      filter prunes pairs no member pair can qualify for.
  *   4. SOUND CLUSTER-PAIR BOUND — one early-exit merge walk over the
  *      two clusters' ANCHOR docs (each cluster's min-id MEMBER's set)
  *      plus per-cluster max member-vs-anchor diffs:
  *      c(x,y) ≤ |H_A∩H_B| + maxD_A + maxD_B for every member pair, so
  *      a walk that can't reach αmin − maxD_A − maxD_B retires the
  *      cluster pair without touching |A|·|B| member pairs. Single-doc
  *      anchors keep the bound tight under heavy replication (member
  *      UNIONS accumulate per-replica noise until the bound is
  *      vacuous — the r13 shape, OOM'd at 100×). Singleton-singleton
  *      pairs bypass the gate straight to step 5: their bound walk
  *      would BE the verify walk, so gating them only duplicates
  *      array movement (the low-duplication-corpus fast path). The
  *      prune only retires cluster pairs the bound proves cannot
  *      qualify; every pair it passes still runs step 5's exact verify.
  *   5. EXACT VERIFY — ambiguous surviving cluster pairs expand to
  *      member pairs, re-checked at exactly the direct operators' α
  *      bound (same ±1e-9 fp guards for Jaccard); pairs whose anchor
  *      walk already proved a qualifying anchor pair (the WITNESS of
  *      step 4) are cluster edges with no expansion at all on the
  *      components path. Anchor-gated pairs verify through the DIFF
  *      identity (each member carried as edit-sized diffs against its
  *      cluster anchor; the pair's exact count reassembled from the
  *      prune's anchor walk — see [[verifiedMemberPairs]] and
  *      [[graft.functions.NativeHash.SortedDiffHelper]]), so the
  *      member-pair join never ships full arrays; bypass pairs keep the
  *      direct early-exit walk. Intra-cluster member pairs are
  *      verified too (star contraction guarantees hub adjacency, not
  *      cliqueness). True cross-cluster edges + the contraction edges
  *      of steps 1-2 span the same components as the full t-graph, so
  *      the final labels — min reachable id through cluster-graph
  *      components — equal the direct pipeline's.
  *
  * An adaptive route (see [[RouteContractRatio]]) runs the direct
  * PPJoin self-join over the collapsed reps instead of steps 2-5 when
  * contraction cannot pay; both routes are exact and row-identical.
  * The direct route has two arms, picked by one reading of the route
  * statistics: when the reps' index ([[IndexBytes]]) fits under the
  * session's `spark.sql.autoBroadcastJoinThreshold`, one labelled job
  * (`cluster: pair index`) collects the reps into broadcast postings
  * ([[JaccardDedup.BenchPostings]], the index decontamination probes)
  * and every rep probes them map-side — size and positional filters,
  * a per-row candidate set and the exact verify inside the probe, so
  * there is no prefix-index cut, candidate shuffle, pair `distinct` or
  * array join; above the threshold it runs the shuffled prefix
  * self-join ([[JaccardDedup.prefixPairs]]), the plan
  * [[JaccardDedup.nearDupPairs]] keeps as the direct twin.
  *
  * Construction contract: every entry point runs its jobs before it
  * returns. The corpus is hashed into ONE cut, `cut: cluster: hashed`,
  * whose own pass also collects the route statistics (eligible docs,
  * the HLLs of distinct sets and band-0 buckets, Σn) through an
  * `Observation`, so routing re-reads nothing. On the broadcast arm
  * [[components]] then runs the pair-index collect, one probe job that
  * runs union-find inside the probe (`cluster: components(direct)`)
  * and the labels-out cut: 6 jobs over a `Dedup.byRank` input, pinned
  * in ClusterDedupSpec. The shuffled arm and the clustered route add
  * their cuts and [[Components]]' jobs.
  *
  * Scale shape: every step is a narrow-key shuffle (element hash,
  * cluster id) or a bounded per-cluster aggregate; the only driver
  * materialization is the broadcast arm's index, capped by the
  * broadcast threshold, and its rep forests (components otherwise go
  * through [[Components]]' adaptive local/distributed arms).
  */
object ClusterDedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Guard band against fp rounding of t·n products in the Jaccard
    * pruning bounds (e.g. 0.07·100 = 7.000000000000001 → ceil 8 would
    * shrink a prefix by one and could silently drop a boundary-exact
    * pair). Every prune subtracts/adds this so boundary cases are
    * verified, not pruned.
    */
  private val Eps = 1e-9

  /** Exact-set collapse fires only when the HLL probe sees distinct
    * sets below this fraction of docs. 0.90 with the probe at rsd 0.05
    * (r18 — the r17 pair was 0.95 at rsd 0.01, and the high-precision
    * HLL buffer made the probe aggregate itself the routed rows'
    * bottleneck: measured 3.3 s vs 0.9 s per probe at sf0.1, the HLL
    * update cost growing with register count). A fully-distinct corpus
    * estimates ≥ 0.94 even at 3σ and skips the corpus-wide collapse
    * window; corpora the collapse actually pays for (g-replica
    * families) sit at ≤ 0.5 and fire it regardless of estimate noise.
    * Routing is correctness-neutral either way — a borderline corpus
    * (0.90 ± noise) gains little from the collapse and loses little
    * without it.
    */
  private[operators] val CollapseSkipRatio = 0.90

  /** ADAPTIVE ROUTE (r17): the clustered candidate path only beats the
    * direct PPJoin pipeline when the LSH contraction actually
    * contracts — its whole mechanism is collapsing g-replica families
    * so the candidate join runs at distinct-content granularity. On a
    * low-duplication corpus the contraction labels ~every rep a
    * singleton and the machinery degenerates to the direct pipeline
    * PLUS pure overhead: the anchors/diffs cuts, the candidate stream
    * carrying per-cluster stats through its DISTINCT, the eager
    * materialization of the (candidate-sized) prune output, and the
    * two-arm verify (measured at sf0.1: 13.6 s clustered vs 2.2 s
    * direct for row-identical output). So the core probes the
    * contraction mass first — one narrow aggregate over the MinHash
    * band buckets, Σ over (band, bucket) of (size − 1), i.e. exactly
    * the member→hub star edges the contraction could take — and when
    * the per-band average is below this fraction of reps it runs the
    * direct prefix pipeline over the collapsed reps instead (results
    * fan out through the exact-set collapse unchanged; both arms are
    * proven row-identical, see ClusterDedupSpec's routing cases).
    * Same decision pattern as the HLL collapse probe above and
    * [[Components.connectedComponents]]'s local threshold: a measured
    * statistic picks between two exact plans.
    *
    * Threshold semantics: the probe statistic (per-band collisions /
    * reps) ≈ f·(g−1)/g for a corpus with fraction f of docs in
    * families of size g. The clustered arm's candidate saving is ~g²
    * on the family slice, so it only pays when g is LARGE — and large
    * g pushes the statistic toward f (10×/100× soaks measure ≥ 90%).
    * Below 25% the worst case is small-family duplication (g ≈ 2-4),
    * where direct candidates grow by a bounded few-× on the family
    * slice while the clustered arm's fixed extra phases (measured
    * 6-11 s per call at sf0.1) dwarf that. The probe normalizes by
    * [[NumBands]], which UNDERcounts families whose J sits near the
    * banding knee — but those are families the contraction itself
    * would mostly miss (band collision is its only mechanism), so the
    * statistic tracks exactly the benefit available.
    */
  private[operators] val RouteContractRatio = 0.25

  /** Small-problem fast path for the route: when the direct arm's
    * dominant cost — its candidate-join volume Σ_s dfP(s)², computed
    * EXACTLY from the prefix index both arms build anyway — is under
    * this many rows, the direct pipeline finishes in seconds on any
    * hardware and the clustered arm's fixed extra phases (contraction,
    * anchors/diffs, prune materialization, multi-arm verify — measured
    * 6-11 s per call) cannot pay for themselves regardless of how much
    * contraction is available. Absolute by design, like
    * [[Components.connectedComponents]]'s localThreshold and
    * [[Triangles.stats]]' broadcastEdgeLimit: at 100 TB any corpus
    * with real replication sits orders of magnitude above it (the 10×
    * soak already measured 634M), so the cap is inert at scale.
    */
  private[operators] val DirectCandCap = 32L * 1000 * 1000

  /** Bytes the direct route's broadcast arm holds per shingle element
    * and per rep: the direct route takes it when
    * `IndexBytes · (Σn + docs)` fits under the session's
    * `spark.sql.autoBroadcastJoinThreshold`, else the shuffled arm. What
    * is held is the built [[JaccardDedup.BenchPostings]] — each rep's
    * array, its walk view, its prefix and the packed postings map — plus
    * the boxed rep ids; the driver's collect (boxed Rows, ~30 B an
    * element) is garbage once the arrays are copied out. Spark's
    * SizeEstimator on built indexes read 63–72 B per (element + rep) on
    * random sets of 1 to 400 all-distinct elements under `Overlap(1)`,
    * the worst case (one postings array per element, the whole set is
    * prefix). Text shares elements and reads less: 21–31 B on the sf0.1
    * gate corpora, 29–50 B on 400–40,000 generated documents, where the
    * probe beat the shuffled arm at every size (1.8× at 40,000 docs and
    * a 107 MB index). So the threshold caps memory, as it does for
    * Spark's broadcast joins, not a speed crossover.
    */
  private[graft] val IndexBytes = 72.0

  /** MinHash signature length and band count of the LSH contraction
    * (step 2): 16 bands of 4 rows. The route statistics hash one band
    * of the same family.
    */
  private val NumHashes = 64
  private val NumBands = 16

  /** The pair predicate the core runs under. A pair of set sizes
    * (n_a, n_b) qualifies only with overlap c ≥ α(n_a, n_b), and under
    * any fixed global element order two such sets share an element
    * inside the first `prefixLen(n)` elements of each (PPJoin's prefix
    * filter). Jaccard ≥ t and |A∩B| ≥ k differ in α, the prefix length,
    * the size filter and the output score — everything here. The three
    * bounds and the keep test also come in scalar form for the broadcast
    * probe ([[JaccardDedup.BenchPostings]] and the union-find inside
    * it); each scalar twin runs the same double arithmetic as its
    * Column, so both forms agree exactly.
    */
  private[graft] sealed trait PairPredicate extends Serializable {
    /** Docs of size n that can be in a qualifying pair. */
    def eligible(n: Column): Column
    def prefixLen(n: Column): Column
    def prefixLen(n: Int): Int
    /** α(n_a, n_b), increasing in both sizes (cast to int where a walk
      * bound needs it). */
    def alpha(na: Column, nb: Column): Column
    def alpha(na: Int, nb: Int): Int
    /** Size filter: a doc of size `big` can qualify with one of size
      * `small` ≤ `big` only where this holds. */
    def fits(big: Column, small: Column): Column
    def fits(big: Int, small: Int): Boolean
    def scoreCol: String
    /** Output score of a verified pair with overlap c. */
    def score(c: Column, na: Column, nb: Column): Column
    def keep(score: Column): Column
    /** `keep(score(c, n_a, n_b))` on scalars. */
    def keep(c: Int, na: Int, nb: Int): Boolean
    /** Score of two docs holding the same size-n set (always kept). */
    def identical(n: Column): Column
  }

  /** J = c / (n_a + n_b − c) ≥ t with the ±[[Eps]] guards:
    * α = ⌈t(n_a+n_b)/(1+t)⌉, prefix n − ⌈t·n⌉ + 1, size filter
    * t·max ≤ min. */
  private[graft] final case class Jaccard(threshold: Double) extends PairPredicate {
    private val ratio = threshold / (1.0 + threshold)
    def eligible(n: Column): Column = n > 0
    def prefixLen(n: Column): Column = n - ceil(n * threshold - lit(Eps)) + 1
    def prefixLen(n: Int): Int = n - math.ceil(n * threshold - Eps).toInt + 1
    def alpha(na: Column, nb: Column): Column = ceil((na + nb) * ratio - lit(Eps))
    def alpha(na: Int, nb: Int): Int = math.ceil((na + nb) * ratio - Eps).toInt
    def fits(big: Column, small: Column): Column = big * threshold <= small + lit(Eps)
    def fits(big: Int, small: Int): Boolean = big * threshold <= small + Eps
    def scoreCol: String = "jaccard"
    def score(c: Column, na: Column, nb: Column): Column = c / (na + nb - c)
    def keep(score: Column): Column = score >= threshold
    def keep(c: Int, na: Int, nb: Int): Boolean = c.toDouble / (na + nb - c) >= threshold
    def identical(n: Column): Column = lit(1.0)
  }

  /** |A∩B| ≥ k: α = k, prefix n − k + 1, sets shorter than k never
    * qualify and any two longer ones fit. */
  private[graft] final case class Overlap(k: Int) extends PairPredicate {
    require(k >= 1, "minOverlap must be >= 1")
    def eligible(n: Column): Column = n >= k
    def prefixLen(n: Column): Column = n - k + 1
    def prefixLen(n: Int): Int = n - k + 1
    def alpha(na: Column, nb: Column): Column = lit(k)
    def alpha(na: Int, nb: Int): Int = k
    def fits(big: Column, small: Column): Column = lit(true)
    def fits(big: Int, small: Int): Boolean = true
    def scoreCol: String = "overlap"
    def score(c: Column, na: Column, nb: Column): Column = c.cast("long")
    def keep(score: Column): Column = score >= k
    def keep(c: Int, na: Int, nb: Int): Boolean = c >= k
    def identical(n: Column): Column = n.cast("long")
  }

  /** `Jaccard(t)` for the clustered paths. The exact-set collapse merges
    * identical sets (J = 1) unconditionally, which matches the direct
    * pipeline only for t ∈ (0, 1] — it emits no pair at all for t > 1.
    */
  private def jaccard(t: Double): Jaccard = {
    require(t > 0 && t <= 1, "threshold must be in (0, 1]")
    Jaccard(t)
  }

  /** Lazy intermediate frames of the candidate path, captured so
    * PlanShapeSpec can pin the scale-shape claims on
    * `explain("formatted")` (cluster-keyed postings aggregate, bound
    * prune strictly upstream of member expansion, no driver-side
    * relation anywhere on the path). Plans only — executing them
    * re-runs the stages without the call's transient caches.
    */
  private[graft] final case class Probes(
      cpost: DataFrame, candCl: DataFrame, pruned: DataFrame, crossEdges: DataFrame)

  /** (id, component) for every input doc — component = min doc id
    * reachable through the exact J ≥ threshold n-gram pair graph. One
    * row per input ROW: a repeated id gets a row per doc, and each
    * NULL-id doc a (NULL, NULL) row (a NULL id never pairs). Over
    * distinct non-NULL ids the result is row-identical to
    * `Components.connectedComponents(JaccardDedup.nearDupPairs(...))`
    * with the docs' ids as `vertices`; that twin returns one row per
    * distinct id (ComponentsSpec pins both shapes).
    *
    * Eager: the labels are cut before this returns. On the direct
    * route's broadcast arm construction runs 4 labelled actions — the
    * `cut: cluster: hashed` cut (with the route statistics), the
    * `cluster: pair index` collect, the `cluster: components(direct)`
    * probe job (union-find inside the probe) and the
    * `cut: cluster: labels out(direct)` cut — plus [[Par.widen]]'s
    * split probe over a shuffled input and the stage jobs AQE runs
    * inside a cut: 6 jobs over a `Dedup.byRank` output
    * (ClusterDedupSpec pins the list). The shuffled arm and the
    * clustered route add their cuts and [[Components]]' jobs.
    */
  def components(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      adaptive: Boolean = true): DataFrame =
    candidateCore(df, idCol, NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram),
        jaccard(threshold), adaptive) match {
      case Left(d) => componentsDirect(d)
      case Right(core) => componentsClustered(core)
    }

  /** What both routes of the core hand their consumers; [[release]]
    * runs AFTER the consumer's own output is eagerly cut.
    */
  private sealed trait Routed {
    def hashed: DataFrame // (id, __sh, n) — all docs, cut
    def docRep: DataFrame // (id, n, rep) — exact-set collapse, eligible docs
    def cuts: Seq[DataFrame]
    def release(): Unit = (hashed +: cuts).foreach(Par.free)
  }

  /** Candidate-path frames shared by [[components]] and
    * [[pairsClusteredPlan]]: everything through the anchor-bound prune
    * (steps 1-4 of the object doc), plus the bookkeeping the consumers
    * need to verify and fan out. The heavy frames are already
    * lineage-cut.
    */
  private final case class Core(
      hashed: DataFrame,
      docRep: DataFrame,
      repCluster: DataFrame, // (id, cl) — LSH star contraction of reps
      member: DataFrame,     // (id, __sh, n, cl)
      cand: ClusterCand,     // steps 3-4: postings, candidates, anchors, diffs
      pruned: DataFrame,     // (cl_a, cl_b, __wit, __hc, size stats) surviving the bound
      pred: PairPredicate,
      cuts: Seq[DataFrame]) extends Routed

  /** The ADAPTIVE direct route (see [[RouteContractRatio]]): the exact
    * rep-level PPJoin self-join — broadcast probe or shuffled prefix
    * join, see the object doc — with no contraction, anchors/diffs or
    * cluster stats. `arm` is the broadcast arm's index, released with
    * the rest, or the shuffled arm's lazy pairs.
    */
  private final case class DirectCore(
      hashed: DataFrame,
      docRep: DataFrame,
      arm: Either[Broadcast[PairIndex], DataFrame],
      pred: PairPredicate,
      cuts: Seq[DataFrame]) extends Routed {
    /** (ra, rb, score) exact rep pairs — LAZY. Consumers fan them out
      * through the exact-set collapse (`docRep`) exactly as the
      * clustered arm does. */
    def pairs: DataFrame = arm.fold(probedRepPairs(docRep.sparkSession, _, pred), identity)
    override def release(): Unit = {
      super.release()
      arm.fold(_.unpersist(false), _ => ())
    }
  }

  /** The reps collected for the direct route's broadcast arm, in
    * ascending id order (Spark's, [[Components.idOrdering]]): their arrays as postings under the route's
    * predicate, and each array's rep id (of type `idType`) by position,
    * so a smaller position holds a smaller id.
    */
  private final class PairIndex(val postings: JaccardDedup.BenchPostings,
      val ids: Array[Any], val idType: DataType) extends Serializable

  /** Collects the reps' (id, __sh) in ONE labelled job,
    * `cluster: pair index`. Null-id reps are left out, as the shuffled
    * arm's `ra < rb` leaves them out.
    */
  private def pairIndex(reps: DataFrame, pred: PairPredicate): PairIndex = {
    val rows = Par.labeled(reps.sparkSession, "cluster: pair index")(
      reps.where(col("id").isNotNull).select("id", "__sh").collect())
      .sortBy(_.get(0))(Components.idOrdering(reps.schema("id").dataType))
    new PairIndex(new JaccardDedup.BenchPostings(rows.map(_.getSeq[Long](1).toArray), pred),
      rows.map(_.get(0)), reps.schema("id").dataType)
  }

  /** The direct route's broadcast arm as a pair listing: the exact
    * rep-level pair stream (ra < rb, score) from a map-side probe of the
    * broadcast index, with no prefix-index cut, candidate shuffle or
    * join. The two-sided probe ([[JaccardDedup.BenchPostings.pairsOf]]:
    * size and positional filters, early-exit walk) runs once per rep
    * position over a `range` and emits each verified pair with both rep
    * ids, whatever their type, and both sizes.
    */
  private def probedRepPairs(spark: SparkSession, bc: Broadcast[PairIndex],
      pred: PairPredicate): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
    import org.apache.spark.sql.Row
    val idType = bc.value.idType
    val pairType = ArrayType(StructType(Seq(StructField("ra", idType),
      StructField("rb", idType)) ++ Seq("c", "n_a", "n_b").map(
      StructField(_, IntegerType, nullable = false))))
    val probe = udf(new org.apache.spark.sql.api.java.UDF1[java.lang.Long, Seq[Row]] {
      def call(a: java.lang.Long): Seq[Row] = {
        val ix = bc.value
        val docs = ix.postings.docs
        ix.postings.pairsOf(a.toInt).map { case (b, c) =>
          Row(ix.ids(a.toInt), ix.ids(b), c, docs(a.toInt).length, docs(b).length)
        }
      }
    }, pairType)
    spark.range(0, bc.value.ids.length, 1, spark.sparkContext.defaultParallelism)
      .select(explode(probe(col("id"))).as("__p"))
      .select(col("__p.*"))
      .withColumn(pred.scoreCol, pred.score(col("c"), col("n_a"), col("n_b")))
      .filter(pred.keep(col(pred.scoreCol)))
      .select(least(col("ra"), col("rb")).as("ra"), greatest(col("ra"), col("rb")).as("rb"),
        col(pred.scoreCol))
  }

  /** Union-find over positions [0, n) whose root is always the smallest
    * position of its set.
    */
  private final class MinForest(n: Int) {
    private val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    /** (x, root of x) for every x that is not a root. */
    def links: Iterator[(Int, Int)] =
      Iterator.range(0, n).filter(x => parent(x) != x).map(x => (x, find(x)))
  }

  /** The broadcast arm's rep labels, in ONE labelled job,
    * `cluster: components(direct)`: each task runs the two-sided probe
    * ([[JaccardDedup.BenchPostings.pairsOf]]) and the exact keep test
    * over its rep positions into its own [[MinForest]] and returns that
    * forest's links, at most one per rep it touched. The driver merges
    * the forests; index positions follow id order, so a root is its
    * component's min id. Returns rep id → component id for every rep
    * that is not its own component.
    */
  private def repComponents(spark: SparkSession, bc: Broadcast[PairIndex],
      pred: PairPredicate): Map[Any, Any] = {
    val ids = bc.value.ids
    val n = ids.length
    val links = Par.labeled(spark, "cluster: components(direct)")(
      spark.sparkContext.parallelize(0 until n, spark.sparkContext.defaultParallelism)
        .mapPartitions { as =>
          val docs = bc.value.postings.docs
          val forest = new MinForest(n)
          as.foreach { a =>
            bc.value.postings.pairsOf(a).foreach { case (b, c) =>
              if (pred.keep(c, docs(a).length, docs(b).length)) forest.union(a, b)
            }
          }
          forest.links
        }.collect())
    val forest = new MinForest(n)
    links.foreach { case (x, r) => forest.union(x, r) }
    forest.links.map { case (x, r) => ids(x) -> ids(r) }.toMap
  }

  /** [[components]] on the CLUSTERED route (adaptive routing off) plus
    * its candidate-path [[Probes]] — the PlanShapeSpec hook. The probes
    * are built here only, over the core's frames, before it is released.
    */
  private[graft] def componentsProbed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3): (DataFrame, Probes) = {
    val core = candidateCore(df, idCol,
      NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram), jaccard(threshold),
      adaptive = false).toOption.get
    // the FULLY LAZY prune over the uncut candidate stream: the prune
    // and candCl cuts would hide their subtrees behind leaves
    val pruneProbe = core.cand.prunePlan(core.cand.candCl)
    val probes = Probes(core.cand.cpostRaw, core.cand.candCl, pruneProbe,
      crossEdgesPlan(pruneProbe, core.member, core.cand, core.pred))
    (componentsClustered(core), probes)
  }

  /** Direct-route components assembly: reps ARE the clusters (cl = id),
    * so the exact rep-level pairs are the cluster edges directly and
    * labels fan out through the collapse alone. Identical labeling to
    * the clustered arm: component = min doc id reachable, and every
    * collapsed member's id ≥ its rep's. On the broadcast arm the rep
    * labels come from the union-find inside the probe
    * ([[repComponents]]) and reach the docs through a broadcast-variable
    * lookup inside the `labels out(direct)` cut, the only job after the
    * probe. The shuffled arm evaluates its rep pairs once, in the edge
    * cut inside [[Components.connectedComponents]], and joins its labels.
    */
  private def componentsDirect(d: DirectCore): DataFrame = {
    val spark = d.docRep.sparkSession
    val (labeled, done) = d.arm match {
      case Left(bc) =>
        val lookup = spark.sparkContext.broadcast(repComponents(spark, bc, d.pred))
        val component = udf(new org.apache.spark.sql.api.java.UDF1[AnyRef, Any] {
          def call(rep: AnyRef): Any = if (rep == null) null else lookup.value.getOrElse(rep, rep)
        }, bc.value.idType)
        (d.docRep.select(col("id"), component(col("rep")).as("component")),
          () => lookup.destroy())
      case Right(pairs) =>
        val clComp = Par.labeled(spark, "cluster: components(direct)")(
          Components.connectedComponents(pairs.select(col("ra"), col("rb")), "ra", "rb"))
          .select(col("id").as("rep"), col("component"))
        (d.docRep.select(col("id"), col("rep"))
          .join(clComp, Seq("rep"), "left")
          .select(col("id"), coalesce(col("component"), col("rep")).as("component")),
          () => Par.free(clComp))
    }
    val isolated = d.hashed.where(col("n") === 0)
      .select(col("id"), col("id").as("component"))
    val out = Par.cut(labeled.union(isolated), "cluster: labels out(direct)")
    d.release()
    done()
    out
  }

  /** Step 5 for labels: the cluster edges among `pruned`'s cluster
    * pairs (connectivity only: the ids and scores are dropped — the
    * pair-listing consumer keeps them, see pairsClustered). Witnessed
    * pairs (anchor pair itself qualifies — see step 4) are cluster
    * edges as-is, no member expansion; only ambiguous pairs expand.
    */
  private def crossEdgesPlan(pruned: DataFrame, member: DataFrame, cc: ClusterCand,
      pred: PairPredicate, deltaOnly: Boolean = false): DataFrame =
    pruned.where(col("__wit")).select(col("cl_a"), col("cl_b"))
      .union(verifiedMemberPairs(pruned.where(!col("__wit")), member,
          cc.diffs, cc.anchors, pred, deltaOnly)
        .select(col("cl_a"), col("cl_b")).distinct())

  private def componentsClustered(core: Core): DataFrame = {
    // ---- 5. exact member verification of surviving cluster pairs ----
    val crossEdges = Par.cut(crossEdgesPlan(core.pruned, core.member, core.cand, core.pred),
      "cluster: verify cross edges")

    // ---- assemble: cluster-graph components, then fan labels back out
    // through contraction (cl) and collapse (rep). Cluster ids are min
    // member doc ids (star hubs and reps are both mins), so the final
    // min-cluster label IS the min reachable doc id. Components runs
    // over edge-touched clusters only — untouched clusters coalesce to
    // themselves in the label join, sparing the vertex-union pass.
    val clComp = Par.labeled(crossEdges.sparkSession, "cluster: components")(
      Components.connectedComponents(crossEdges, "cl_a", "cl_b"))
      .select(col("id").as("cl"), col("component"))
    val labeled = core.docRep.select(col("id"), col("rep"))
      .join(core.repCluster.select(col("id").as("rep"), col("cl")), Seq("rep"))
      .join(clComp, Seq("cl"), "left")
      .select(col("id"), coalesce(col("component"), col("cl")).as("component"))
    // isolated docs (empty shingle set): own singleton component
    val isolated = core.hashed.where(col("n") === 0)
      .select(col("id"), col("id").as("component"))
    val out = Par.cut(labeled.union(isolated), "cluster: labels out")
    core.release()
    // on the distributed branch clComp is itself a cut (its sealed
    // labels) with no consumer beyond `out` — freeing it here closes a
    // per-call block leak in long-lived sessions (the semanticDedup
    // seal rule); driver-local labels make the free a no-op
    Seq(crossEdges, clComp).foreach(Par.free)
    out
  }

  /** INCREMENTAL labels for `base ∪ delta` from (a) the PREVIOUS run's
    * labels over `base` and (b) only the exact connectivity TOUCHING
    * `delta` — the daily-ingest twin of [[components]]: a pipeline that
    * ingests a batch per day re-labels the grown corpus WITHOUT
    * re-running the base-internal candidate join or the full
    * contraction, and the only state carried between increments is the
    * labels themselves (no index to persist, version, or invalidate).
    *
    * Exactness: the t-graph over base ∪ delta is (base-internal
    * t-edges) ∪ (t-edges with ≥ 1 delta endpoint). `baseLabels`' star
    * edges (id → component) span exactly the base-internal
    * connectivity — that is what labels ARE — so components over
    * (base star edges ∪ delta star-contraction edges ∪ verified
    * delta-touching cluster edges), with the union's ids as the vertex
    * universe, equal [[components]] over the whole corpus; min-id
    * labeling is preserved because every edge endpoint is a doc id.
    * Row-identical to `components(base ∪ delta)` —
    * IncrementalDedupSpec pins the equivalence including the bridge,
    * delta-only-cluster, exact-duplicate, replicated-corpus and
    * empty-text cases; the driver gates `dedup_clusters_incremental`
    * against the SAME DuckDB oracle as
    * `dedup_clusters`/`dedup_clusters_scalable` (three plans, one
    * truth).
    *
    * Two arms, picked by the exact doc-level candidate volume of the
    * union prefix index (see [[DirectCandCap]]). The DIRECT arm runs
    * the pair-listing pipeline of [[JaccardDedup.nearDupPairsIncremental]]
    * ([[JaccardDedup.unionIndex]], the batch's prefix rows probing the
    * whole index, [[JaccardDedup.verifiedPairs]]) and one components
    * pass over (base star edges ∪ those pairs).
    *
    * Scale shape of the other arm — CLUSTER granularity, like the batch
    * core, with the base/delta SPLIT healed before candidates. Two
    * cheaper designs were built and measured out on the 10×-replicated
    * soak corpus:
    *   - the doc-level delta-vs-all prefix join alone (the direct arm)
    *     inherits the g² replication pathology — 409 s where a FULL
    *     clustered recompute takes ~50 s;
    *   - base-clusters-from-labels + delta-only contraction leaves
    *     each replica family SPLIT across the base/delta boundary and
    *     the batch side near doc granularity: 17.7M candidates, 1.66M
    *     singleton-bypass survivors, 245 s prune (vs the batch core's
    *     6.0M / 1.8k / 33 s on the same corpus).
    * So the contraction here is the batch core's LINEAR step 2 over
    * ALL docs (one window + groupBy, never an iterative pass over
    * doc-level edges — a components run over the ~g×n star edges was
    * itself measured as this arm's bottleneck at 100×), merged EXACTLY
    * with the previous run's labels at LABEL granularity: one
    * incidence edge (star label, previous component) per base doc,
    * distinct, then components of that tiny label graph — replica
    * families collapse to one cluster regardless of which side of the
    * split their members landed on. Candidates, the sound size/positional relaxations, the
    * member-anchor bound, and the exact member verify are the SHARED
    * steps 3-5 ([[clusterCandidatePlan]] / [[verifiedMemberPairs]])
    * restricted to clusters holding ≥ 1 delta doc and, at expansion, to
    * member pairs with ≥ 1 delta endpoint. Per-increment cost: linear
    * passes (shingles, banding, narrow pre-contraction) plus candidate
    * and verify volume proportional to the DELTA-TOUCHED slice of the
    * cluster graph — a 1% daily batch prices ~1% of the quadratic
    * stages (measured at 100×: 59 s vs 169 s full recompute at a 1.4%
    * batch), while the adversarial every-family-touched split (the %7
    * gate fixture) degrades to a bounded ~1-1.4× of the full clustered
    * recompute — never to the doc-level g² cliff. Operationally: a
    * batch that touches nearly every cluster should simply run
    * [[components]]; this arm exists for the proportional case.
    */
  def componentsIncremental(
      baseLabels: DataFrame,
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      adaptive: Boolean = true): DataFrame = {
    val pred = jaccard(threshold)
    val (hashed, prefix) = JaccardDedup.unionIndex(base, delta, idCol, textCol, nGram, pred)
    // a plain filter over the persist, not an extra eager cut, which
    // would materialize the corpus arrays a second time per call
    val nonEmpty = hashed.where(col("n") > 0)
    val verts = base.select(col(idCol).as("id"))
      .unionByName(delta.select(col(idCol).as("id")))

    // ---- ADAPTIVE ROUTE (the batch core's [[DirectCandCap]] pattern):
    // the cluster-granularity machinery below (banding, contraction,
    // label merge, cluster candidates, diff verify — 6-10 s of fixed
    // phases at sf0.1) only pays when the doc-level delta-vs-all prefix
    // join would drown in replication. Its EXACT candidate volume is
    // Σ_s dfPΔ(s)·dfP(s) over the union prefix index, which both arms
    // consume. Both arms are row-identical: baseLabels' id→component
    // edges span exactly the base-internal connectivity
    // (IncrementalDedupSpec pins adaptive == forced-clustered). On
    // replica-heavy corpora the volume explodes g² and the probe routes
    // clustered (10× soak: 409 s doc-level vs 116 s clustered).
    val routeDirect = adaptive && {
      val cv = Par.labeled(base.sparkSession, "inc: candVol probe")(
        prefix.groupBy("s").agg(count(lit(1)).as("c"),
            sum(when(col("__d"), 1L).otherwise(0L)).as("cd"))
          .agg(sum(col("cd").cast("double") * col("c").cast("double"))).head())
      val vol = if (cv.isNullAt(0)) 0.0 else cv.getDouble(0)
      log.info(s"componentsIncremental route: candVol=$vol -> " +
        s"${if (vol < DirectCandCap) "DIRECT" else "CLUSTERED"}")
      vol < DirectCandCap
    }
    if (routeDirect) {
      val deltaPairs = JaccardDedup.deltaPairs(hashed, prefix, pred).select("id_a", "id_b")
      // baseLabels' star edges (id → component) ARE the base-internal
      // connectivity; self-loops (singletons) drop in the components
      // normalize and re-enter through the vertex universe
      val baseEdges = baseLabels.select(col("id").as("id_a"), col("component").as("id_b"))
      val out = Par.labeled(base.sparkSession, "inc: final components(direct)")(
        Components.connectedComponents(baseEdges.unionByName(deltaPairs),
          "id_a", "id_b", Some(verts)))
      hashed.unpersist(false)
      prefix.unpersist(false)
      return out
    }

    // LSH star contraction over ALL docs (the batch core's step 2 — a
    // LINEAR pass): base-only contraction is not enough, because an
    // uncontracted delta side leaves the batch at DOC granularity and a
    // replica-heavy batch then re-enters the g² candidate regime (first
    // cut of this operator, measured: 17.7M candidates / 1.66M
    // singleton-bypass survivors / 245 s prune at 10×, vs the batch
    // core's 6.0M / 1.8k / 33 s on the same corpus). Star edges are
    // exact-verified t-edges, so they are REAL connectivity, reusable
    // in the final pass.
    val buckets = nonEmpty.select(col("id"),
      posexplode(NativeHash.minhashBandBucketsHashed(col("__sh"), NumHashes, NumBands))
        .as(Seq("band", "bucket")))
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val lshCand = buckets
      .withColumn("__hub", min(col("id")).over(bucketW))
      .filter(col("__hub") < col("id"))
      .select(col("__hub").as("id_a"), col("id").as("id_b")).distinct()
    val starEdges = JaccardDedup.verifiedPairs(lshCand, nonEmpty, "id", pred, "id_a", "id_b")
      .select("id_a", "id_b")

    // star label per doc: the batch core's one-pass contraction
    // (cl(x) = min(x, min t-neighbor)) — a groupBy + join, NO iterative
    // components over doc-level edges (a components pass over the ~g×n
    // star edges was measured as the incremental arm's own bottleneck
    // at 100×: distributed alternation rounds the batch core never pays)
    val nbrMin = starEdges.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(starEdges.select(col("id_b").as("id"), col("id_a").as("nb")))
      .groupBy("id").agg(min("nb").as("__nbmin"))
    val starLab = nonEmpty.join(nbrMin, Seq("id"), "left")
      .select(col("id"), col("__sh"), col("n"), col("__d"),
        least(col("id"), coalesce(col("__nbmin"), col("id"))).as("__sl"))

    // merge the star grouping with the previous run's components
    // EXACTLY, at LABEL granularity: each base doc witnesses one
    // incidence edge (its star label, its previous component) — the
    // closure of two groupings is the components of this tiny label
    // graph (≈ one distinct row per replica family, driver union-find
    // territory), never of the doc-level edge set. Every merged group
    // is connected through docs shared by alternating star/component
    // groups, so it lies inside one t-component — a VALID cluster that
    // heals the base/delta family split maximally.
    val incidence = starLab.where(!col("__d"))
      .join(baseLabels.select(col("id"), col("component").as("__bc")), Seq("id"))
      .select(col("__sl").as("id_a"), col("__bc").as("id_b")).distinct()
    val mergedLabel = Par.labeled(base.sparkSession, "inc: label merge components")(
      Components.connectedComponents(incidence, "id_a", "id_b"))
      .select(col("id").as("__sl"), col("component").as("__m"))
    // delta-only star clusters never meet a base doc: their label is
    // absent from the incidence graph and survives as-is
    val member = Par.cut(starLab
      .join(mergedLabel, Seq("__sl"), "left")
      .select(col("id"), col("__sh"), col("n"), col("__d"),
        coalesce(col("__m"), col("__sl")).as("cl")), "inc: member")

    // shared steps 3-5, restricted to clusters holding >= 1 delta doc
    // and (at expansion) to member pairs with >= 1 delta endpoint —
    // base-internal pairs are the previous run's output. The route
    // probe's persisted prefix index is REUSED as the postings source
    // (cluster labels join on by id — the batch core's pattern), so the
    // dfreq count + per-doc rarity window run once per call
    val cc = clusterCandidatePlan(member, pred, requireDelta = true, prefix = Some(prefix))
    val pruned = Par.cut(cc.prunePlan(cc.candCl), "inc: prune")
    val crossEdges = Par.cut(crossEdgesPlan(pruned, member, cc, pred, deltaOnly = true),
      "inc: verify cross edges")

    // final labels: the pre-contraction's (id → cl) star edges carry
    // its connectivity (each edge abbreviates a path of known t-edges),
    // plus the verified delta-touching cluster edges
    val preStar = member.where(col("id") =!= col("cl"))
      .select(col("id").as("id_a"), col("cl").as("id_b"))
    // connectedComponents reads its edges once, into driver labels or
    // a sealed cut, before returning, so every incremental
    // intermediate can be released immediately after
    val out = Par.labeled(base.sparkSession, "inc: final components")(
      Components.connectedComponents(
      preStar.unionByName(crossEdges.select(col("cl_a").as("id_a"), col("cl_b").as("id_b"))),
      "id_a", "id_b", Some(verts)))
    hashed.unpersist(false)
    prefix.unpersist(false)
    Seq(member, cc.cpost, cc.anchors, cc.diffs, pruned, crossEdges,
      mergedLabel).foreach(Par.free)
    out
  }

  /** The exact J ≥ threshold pair LISTING — (id_a, id_b, jaccard),
    * id_a < id_b — through the same replication-proof candidate path.
    * Row-identical to `JaccardDedup.nearDupPairs(df, idCol, textCol,
    * nGram, threshold)`: see [[pairsClusteredPlan]].
    *
    * Pair listing has Ω(output) cost and the output itself is quadratic
    * in near-duplication (g replicas → g² pairs) — what this path
    * removes is the candidate volume ABOVE output: the direct prefix
    * self-join walked 634M candidates for 250k output pairs on the 10×
    * soak corpus (91× wall on 10× data); cluster-granularity candidates
    * put the join and distinct exchanges back at distinct-content
    * scale.
    */
  def pairsClustered(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      adaptive: Boolean = true): DataFrame =
    pairsClusteredBy(df, idCol,
      NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram), threshold, adaptive)

  /** [[pairsClustered]] over an arbitrary sorted-distinct-hash-array
    * shingle expression (the [[JaccardDedup.nearDupPairsByHashes]]
    * contract) — e.g. `NativeHash.charShingleHashes` for the char-gram
    * flavor used on unsegmented text. Row-identical to
    * `nearDupPairsByHashes(df, idCol, expr, threshold)` over the same
    * input.
    */
  def pairsClusteredBy(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      adaptive: Boolean = true): DataFrame = {
    val (pairs, seal) = pairsClusteredPlan(df, idCol, shingleExpr, jaccard(threshold), adaptive)
    seal(pairs)
  }

  /** Bounded-output near-dup RETRIEVAL: for each document, its `k`
    * most-similar partners (jaccard DESC, ties by ascending partner
    * id) among pairs at J ≥ `threshold`. Output (id, partner_id,
    * jaccard, rk) — see [[topKPlan]]. Cross-engine rank determinism:
    * jaccard is one double division of exact integers
    * (c / (n_a + n_b − c)) in both engines, so the ordering key is
    * bit-identical.
    */
  def topKBy(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      k: Int,
      adaptive: Boolean = true): DataFrame =
    sealTopK(topKPlanBy(df, idCol, shingleExpr, threshold, k, adaptive))

  /** [[topKBy]] split before its seal (PlanShapeSpec pins the plan
    * shape live; the sealed frame's plan is just the checkpoint scan).
    */
  private[graft] def topKPlanBy(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      k: Int,
      adaptive: Boolean = true): (DataFrame, DataFrame => DataFrame) =
    topKPlan(df, idCol, shingleExpr, jaccard(threshold), k, adaptive)

  /** Per-doc top-k retrieval over [[pairsClusteredPlan]]: each doc's
    * `k` best partners (score DESC, ties by ascending partner id),
    * output (id, partner_id, score, rk), split before its seal.
    *
    * Pair LISTING is Ω(output) and output is quadratic in
    * near-duplication — the 100× soak measured ~1.85B qualifying
    * overlap pairs from the sf0.1 corpus and the listing (correctly)
    * filled the disk; the chargram listing measured 71× wall at 100×
    * replication, all of it qualifying output. Retrieval bounds output
    * at n·k, and the candidate plan seals only AFTER the bounding step,
    * so the full listing never materializes. The bounding step is the
    * [[graft.functions.TopKAgg.topNeighbors]] hash aggregate — one
    * Ω(rows·log k) pass, map-side combined, NO sort of the pair stream
    * (a row_number window's partial WindowGroupLimit local-sorts every
    * task's full input, which the 100× soak measured at 2.9× the pair
    * LISTING's wall, 1,380 s vs 475 s). It ranks by (score DESC,
    * partner ASC); an overlap rides through the aggregator's double
    * score losslessly (|overlap| ≪ 2⁵³). It requires a long-typed id
    * (the aggregator's input encoder).
    */
  private[graft] def topKPlan(
      df: DataFrame,
      idCol: String,
      setExpr: Column,
      pred: PairPredicate,
      k: Int,
      adaptive: Boolean): (DataFrame, DataFrame => DataFrame) = {
    require(k >= 1, "k must be >= 1")
    val (pairs, seal) = pairsClusteredPlan(df, idCol, setExpr, pred, adaptive)
    (graft.functions.TopKAgg.perDocTopK(pairs, pred.scoreCol, k), seal)
  }

  /** Seal a [[topKPlan]]. The hash-aggregate headroom raise is
    * cloned-session-scoped, never the caller's session: it is only
    * safe around an O(k)-buffer aggregate (see
    * TopKAgg.withHashAggHeadroom).
    */
  private[operators] def sealTopK(plan: (DataFrame, DataFrame => DataFrame)): DataFrame =
    plan._2(graft.functions.TopKAgg.withHashAggHeadroom(plan._1))

  /** The uncut exact pair stream (id_a < id_b, score) plus the seal
    * that cuts a finished frame and releases the candidate core —
    * [[topKPlan]] applies its bounded-output step between the two.
    * Row-identical to the direct twin of `pred`
    * ([[JaccardDedup.nearDupPairsByHashes]] /
    * [[JaccardDedup.overlapJoin]]): cross-cluster member pairs of
    * bound-surviving cluster pairs plus intra-cluster member pairs all
    * run the exact verify, then results fan out through the exact-set
    * collapse — members of a collapsed group share their set, so a
    * rep-level pair's score IS each expanded pair's score, and
    * intra-group pairs score `pred.identical(n)` (J = 1, overlap = n).
    */
  private[graft] def pairsClusteredPlan(
      df: DataFrame,
      idCol: String,
      setExpr: Column,
      pred: PairPredicate,
      adaptive: Boolean = true): (DataFrame, DataFrame => DataFrame) = {
    val (routed, repPairs, outLabel) = candidateCore(df, idCol, setExpr, pred, adaptive) match {
      // direct route: d.pairs IS the exact rep-level pair stream
      case Left(d) => (d, d.pairs, "cluster: pairs out(direct)")
      case Right(core) => (core, clusteredRepPairs(core), "cluster: pairs out")
    }
    // NO cut on repPairs: it has exactly one consumer (the fan-out join
    // below) and is output-sized — an eager checkpoint of Ω(output)
    // rows doubles peak disk for zero reuse (measured filling a 78 GB
    // disk on the 100× soak corpus); the single final cut on `out` is
    // what makes the upstream frees safe

    // ---- fan out through the exact-set collapse ----
    val groups = routed.docRep // (id, n, rep), eligible docs only
    val crossGroups = repPairs
      .join(groups.select(col("rep").as("ra"), col("id").as("ia")), Seq("ra"))
      .join(groups.select(col("rep").as("rb"), col("id").as("ib")), Seq("rb"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col(pred.scoreCol))
    val intraGroups = groups.select(col("rep"), col("id").as("id_a"), col("n"))
      .join(groups.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), pred.identical(col("n")).as(pred.scoreCol))
    (crossGroups.union(intraGroups), { finished =>
      val out = Par.cut(finished, outLabel)
      routed.release()
      out
    })
  }

  /** Step 5 of the pair listing on the clustered route: exact rep-level
    * pairs (ra < rb, score), cross-cluster and intra-cluster.
    */
  private def clusteredRepPairs(core: Core): DataFrame = {
    val pred = core.pred
    val cross = verifiedMemberPairs(core.pruned, core.member,
        core.cand.diffs, core.cand.anchors, pred)
      .select(least(col("ida"), col("idb")).as("ra"),
        greatest(col("ida"), col("idb")).as("rb"), col(pred.scoreCol))
    // intra-cluster pairs: the cluster exists because members share a
    // hub, not because they pairwise qualify — verify each pair. The
    // DIFF identity with both sides on the SAME anchor H collapses to
    // c = |H| − |dM_a| − |dM_b| + correction (adj against the own
    // anchor is −|dM| exactly: dP∩H = ∅ and dM ⊆ H), so the g²
    // intra expansion of a replica-family cluster ships edit-sized
    // diffs instead of full member arrays — this was THE dominant
    // verify volume on the 100× soak (the family contracts into one
    // cluster, so its quadratic lives here, not in the cross arm)
    val alphaV = pred.alpha(col("n_a"), col("n_b")).cast("int")
    val intra = core.cand.diffs.select(col("cl"), col("id").as("ra"), col("n").as("n_a"),
        col("__hn"), col("__dm").as("__dma"), col("__dp").as("__dpa"))
      .join(core.cand.diffs.select(col("cl"), col("id").as("rb"), col("n").as("n_b"),
        col("__dm").as("__dmb"), col("__dp").as("__dpb")), Seq("cl"))
      .filter(col("ra") < col("rb"))
      .filter(pred.fits(greatest(col("n_a"), col("n_b")), least(col("n_a"), col("n_b"))))
      // sound pre-walk bound: correction ≤ min(|dM_a|,|dM_b|) +
      // min(|dP_a|,|dP_b|), so c ≤ |H| − max(|dM|) + min(|dP|)
      .filter(col("__hn") - greatest(size(col("__dma")), size(col("__dmb"))) +
        least(size(col("__dpa")), size(col("__dpb"))) >= alphaV)
      .withColumn("c", col("__hn") - size(col("__dma")) - size(col("__dmb")) +
        NativeHash.diffCorrection(col("__dma"), col("__dpa"), col("__dmb"), col("__dpb")))
      .withColumn(pred.scoreCol, pred.score(col("c"), col("n_a"), col("n_b")))
      .filter(pred.keep(col(pred.scoreCol)))
      .select(col("ra"), col("rb"), col(pred.scoreCol))
    cross.union(intra)
  }

  /** Shared step 5 verify: expand bound-surviving cluster pairs to
    * member pairs. Two row-identical arms, routed per PAIR by `__hc`
    * nullability, both ending at the same α/threshold semantics:
    *
    *   - DIFF arm (`__hc` non-null — every anchor-gated survivor): the
    *     member pair's exact intersection is reconstructed as
    *     `__hc + adj_a + adj_b + correction` — see
    *     [[graft.functions.NativeHash.SortedDiffHelper]] for the
    *     identity and its proof. The member-pair join ships and walks
    *     only edit-sized diff arrays; anchor-sized work happens once
    *     per (member, opposite cluster) in the expansion join that
    *     computes adj — Σ(|A|+|B|) anchor walks per surviving pair,
    *     never |A|·|B| full-array walks. This is what keeps the verify
    *     stage off the g² array movement on replica-heavy corpora (the
    *     r14/r15 100× soak's dominant cost: 6.15 GB expansion
    *     exchanges). Two sound prunes retire rows early: a per-SIDE
    *     size prefilter (a member that cannot size-match ANY opposite
    *     member — vs the opposite cluster's [minN, maxN] — never
    *     expands) and the per-pair count bound
    *     c ≤ __hc + |dP_a| + |dP_b| checked before the correction walk.
    *   - DIRECT arm (`__hc` null — the singleton-singleton bypass): the
    *     original full-array early-exit merge walk. For 1×1 expansions
    *     the diff arm would be byte-for-byte the same walk plus
    *     bookkeeping, so the bypass keeps its fast path.
    *
    * Exactness: every diff-arm term is an exact set cardinality, so the
    * assembled count is the same integer the direct walk returns and
    * the score sees identical operands — bit-identical jaccard doubles,
    * one oracle. Returns (cl_a, cl_b, ida, idb, score) — consumers
    * project what they need.
    */
  private[operators] def verifiedMemberPairs(
      pruned: DataFrame, member: DataFrame, diffs: DataFrame,
      anchors: DataFrame, pred: PairPredicate,
      deltaOnly: Boolean = false): DataFrame = {
    val alphaV = pred.alpha(col("n_a"), col("n_b")).cast("int")
    val sizeCompat = pred.fits(greatest(col("n_a"), col("n_b")), least(col("n_a"), col("n_b")))
    val score = pred.score(col("c"), col("n_a"), col("n_b"))

    // ---- DIRECT arm: singleton-singleton bypass pairs ----
    def aSide(src: DataFrame) = src.select(col("cl").as("cl_a"), col("id").as("ida"),
      col("__sh").as("__sha"), col("n").as("n_a"))
    def bSide(src: DataFrame) = src.select(col("cl").as("cl_b"), col("id").as("idb"),
      col("__sh").as("__shb"), col("n").as("n_b"))
    // the incremental arm only needs member pairs with >= 1 delta DOC
    // endpoint (base-base pairs are the previous run's connectivity).
    // A post-join (__da || __db) filter would still SHIP every member
    // pair's arrays through the join first, so the expansion splits
    // into two disjoint pre-filtered arms instead: (delta A × all B) ∪
    // (base A × delta B) — on a mostly-base cluster graph the arrays
    // shipped drop from |A|·|B| to ~2·f·|A|·|B| at delta fraction f
    val direct0 = pruned.where(col("__hc").isNull).select("cl_a", "cl_b")
    val directExp =
      if (!deltaOnly) direct0.join(aSide(member), Seq("cl_a")).join(bSide(member), Seq("cl_b"))
      else direct0
        .join(aSide(member.where(col("__d"))), Seq("cl_a"))
        .join(bSide(member), Seq("cl_b"))
        .unionByName(direct0
          .join(aSide(member.where(!col("__d"))), Seq("cl_a"))
          .join(bSide(member.where(col("__d"))), Seq("cl_b")))
    val direct = directExp
      .filter(sizeCompat)
      .withColumn("c", NativeHash.sortedIntersectAtLeast(
        col("__sha"), col("__shb"), alphaV))
      .filter(col("c") >= 0)
      .withColumn(pred.scoreCol, score)
      .filter(pred.keep(col(pred.scoreCol)))
      .select(col("cl_a"), col("cl_b"), col("ida"), col("idb"), col(pred.scoreCol))

    // ---- DIFF arm: anchor-gated pairs carry the exact __hc ----
    val gated = pruned.where(col("__hc").isNotNull)
    def expand(sfx: String, own: String, opp: String,
        oppMin: Column, oppMax: Column, m: DataFrame) = {
      val keep = Seq(col("cl_a"), col("cl_b")) ++
        (if (sfx == "a") Seq(col("__hc")) else Nil) ++
        Seq(col(s"id$sfx"), col(s"n_$sfx"), col(s"__dm$sfx"), col(s"__dp$sfx"),
          col(s"__adj$sfx"))
      gated.join(m.select(col("cl").as(own), col("id").as(s"id$sfx"),
          col("n").as(s"n_$sfx"), col("__dm").as(s"__dm$sfx"),
          col("__dp").as(s"__dp$sfx")), Seq(own))
        // x size-matches some y ∈ [minN_opp, maxN_opp] only if it fits
        // under maxN_opp and minN_opp fits under it — qualifying pairs
        // survive, rows that cannot pair never reach the anchor join
        .filter(pred.fits(col(s"n_$sfx"), oppMax) && pred.fits(oppMin, col(s"n_$sfx")))
        .join(anchors.select(col("cl").as(opp), col("__hsh").as("__hOpp")), Seq(opp))
        .withColumn(s"__adj$sfx", NativeHash.anchorAdjust(
          col(s"__dm$sfx"), col(s"__dp$sfx"), col("__hOpp")))
        .select(keep: _*)
    }
    def pairArm(aFilter: Option[Column], bFilter: Option[Column]) = {
      val ea = expand("a", "cl_a", "cl_b", col("__mnb"), col("__mxb"),
        aFilter.fold(diffs)(diffs.where(_)))
      val eb = expand("b", "cl_b", "cl_a", col("__mna"), col("__mxa"),
        bFilter.fold(diffs)(diffs.where(_)))
      ea.join(eb, Seq("cl_a", "cl_b"))
    }
    val expanded =
      if (!deltaOnly) pairArm(None, None)
      else pairArm(Some(col("__d")), None)
        .unionByName(pairArm(Some(!col("__d")), Some(col("__d"))))
    val diffVerified = expanded
      .filter(sizeCompat)
      // sound count bound c ≤ __hc + |dP_a| + |dP_b| (each shared
      // element is in H_A∩H_B, S_x\H_A, or S_y\H_B) — retires the pair
      // before any walk when it cannot reach α
      .filter(col("__hc") + size(col("__dpa")) + size(col("__dpb")) >= alphaV)
      .withColumn("c", col("__hc") + col("__adja") + col("__adjb") +
        NativeHash.diffCorrection(col("__dma"), col("__dpa"), col("__dmb"), col("__dpb")))
      .withColumn(pred.scoreCol, score)
      .filter(pred.keep(col(pred.scoreCol)))
      .select(col("cl_a"), col("cl_b"), col("ida"), col("idb"), col(pred.scoreCol))
    direct.unionByName(diffVerified)
  }

  /** Steps 1-4 of the object doc — everything up to (and including)
    * the anchor-bound prune over cluster pairs. With `adaptive` on, a
    * band-collision probe may route to the [[DirectCore]] arm instead
    * (see [[RouteContractRatio]]).
    */
  private def candidateCore(
      df: DataFrame,
      idCol: String,
      setExpr: Column,
      pred: PairPredicate,
      adaptive: Boolean): Either[DirectCore, Core] = {
    val spark = df.sparkSession

    // ONE cut of the hashed corpus carries the doc-level routing
    // statistics: an Observation of aggregates over its eligible docs
    // rides the cut's own pass, so no probe re-reads the rows:
    //   - count + HLL distinct sets → the collapse decision;
    //   - HLL distinct band-0 buckets → the contraction-mass estimate:
    //     Σ over buckets of (size − 1) = members − distinct buckets, so
    //     (reps − distinct buckets) IS the star-edge upper bound the old
    //     groupBy probe computed, now from one aggregate. One band of
    //     the real family (identical seeding ⇒ band 0) estimates the
    //     per-band average at 1/NumBands the hashing cost; identical
    //     sets share buckets, so distinct-buckets-over-docs equals
    //     distinct-buckets-over-reps and the statistic is rep-level
    //     even before the collapse decision is made;
    //   - Σn → the direct route's broadcast-or-shuffle choice.
    // HLL at rsd 0.05, not 0.01: measured at sf0.1, the high-precision
    // HLL buffer made the probe itself the bottleneck (4.0 s vs 0.9 s);
    // every routing threshold tolerates ≥ 10% estimate error, and
    // routing picks between two EXACT plans. candVol, only needed when
    // the contraction-mass shortcut is inconclusive, runs lazily below.
    def ifEligible(c: Column): Column = when(pred.eligible(col("n")), c)
    val routeStats = org.apache.spark.sql.Observation()
    val hashed = Par.cut(Par.widen(df)
      .select(col(idCol).as("id"), setExpr.as("__sh"))
      .select(col("id"), col("__sh"),
        coalesce(size(col("__sh")), lit(0)).as("n"))
      .observe(routeStats, count(ifEligible(lit(1))).as("__n"),
        approx_count_distinct(ifEligible(xxhash64(col("__sh"))), 0.05).as("__sets"),
        approx_count_distinct(ifEligible(element_at(
          NativeHash.minhashBandBucketsHashed(col("__sh"), NumHashes / NumBands, 1),
          1)), 0.05).as("__buckets"),
        coalesce(sum(ifEligible(col("n").cast("long"))), lit(0L)).as("__elems")),
      "cluster: hashed")
    val st = routeStats.get
    val Seq(nDocs, nSets, nBuckets, nElems) =
      Seq("__n", "__sets", "__buckets", "__elems").map(st(_).asInstanceOf[Long])

    // ---- 1. exact-set collapse (array group key: exact, no hash-
    // collision arm; one corpus-sized narrow exchange, same magnitude
    // as the exploded index the pair join already pays) ----
    val eligible = hashed.where(pred.eligible(col("n")))
    // ADAPTIVE: the collapse window shuffles every shingle array in the
    // corpus. The HLL of distinct sets decides whether exact-set
    // duplication even exists; on a (near-)fully-distinct corpus — the
    // norm once exact dedup has run upstream, and the gate corpus at
    // 99.8% — the collapse is the identity and the window + its lineage
    // cut are skipped. Correctness is unaffected either way: identical
    // sets are ordinary qualifying pairs for the LSH contraction and the
    // verify (the contraction is NEVER skipped — near-duplicate replicas
    // have DISTINCT sets, so this statistic says nothing about them and
    // the g²-killing contraction must stay unconditional).
    val collapseUseful = nSets < nDocs * CollapseSkipRatio
    // Par.cut (not persist) on the fan-out frames: persist caches
    // EXECUTION but leaves the full logical subtree in every consumer's
    // plan — with this many mutually-referencing stages the analyzer
    // re-walks a combinatorially duplicated tree per downstream frame
    // (measured: thousands of repeated subtree nodes in the final
    // explain, and driver planning time dwarfing the actual work at
    // toy scale). A lineage cut truncates consumers to a leaf.
    // One window pass carries (__sh, n) through, so the collapse costs a
    // single cut: docRep/reps are projections of it, not a join + second
    // materialization of the corpus-sized shingle arrays.
    // A null id never pairs (the direct pipeline's `ra < rb` drops it),
    // so it stays out of its group: its rep is null, as without the
    // collapse.
    val collapseCut: Option[DataFrame] = if (!collapseUseful) None else Some(
      Par.cut(eligible
        .select(col("id"), col("__sh"), col("n"), when(col("id").isNotNull,
          min(col("id")).over(Window.partitionBy(col("__sh")))).as("rep")),
        "cluster: collapse window"))
    val docRep = collapseCut.fold(eligible.select(col("id"), col("n"), col("id").as("rep")))(
      _.select("id", "n", "rep"))
    val reps = collapseCut.fold(eligible.select("id", "__sh", "n"))(
      _.where(col("id") === col("rep")).select("id", "__sh", "n"))

    // prefix index over the FINAL rep set, built at most once, after the
    // collapse decision, and only when something reads it: the candVol
    // probe, the direct route's shuffled arm or the clustered arm. CUT
    // rather than lazily persisted: the candidate self-join's two sides
    // (and the clustered arm's postings + plan probes) would otherwise
    // race to materialize the persist from concurrent AQE stages and
    // double-compute the whole df + window chain.
    lazy val prefix = Par.cut(JaccardDedup.prefixIndex(
        reps.select(col("id"), explode(col("__sh")).as("s"), col("n")),
        "id", pred), "cluster: prefix index")

    // ---- ADAPTIVE ROUTE (see RouteContractRatio / DirectCandCap).
    // Probe — direct-candidate volume: Σ_s dfP(s)² is the EXACT row
    // count of the direct arm's shuffled candidate join; under the
    // absolute cap the direct arm is seconds of work and wins outright.
    // The cap is LOAD-BEARING at gate scale: the collision estimate
    // alone routes badly on small-vocabulary corpora (measured: the zh
    // char-gram slice shows 560/753 band-0 collisions from
    // sub-threshold overlap the contraction would never verify, and
    // 1-gram token sets collide 3664/3935 — both corpora where the
    // direct arm wins by 3-4×). The contraction-mass estimate (reps −
    // distinct band-0 buckets, a FREE upper bound on star edges)
    // shortcuts the decision first: under the ratio the clustered arm
    // cannot collapse enough to repay its phases and the direct route
    // is taken with NO candVol count at all — the common
    // low-duplication shape; only when the shortcut is inconclusive
    // does candVol run and arbitrate via the cap.
    // No probe job runs when `adaptive` is off (the route is forced).
    val nRepsEst = if (collapseUseful) nSets else nDocs
    // the direct route's arm, read off the route statistics: the broadcast
    // probe whenever its index (IndexBytes per element and per rep; Σn
    // and the count over eligible docs bound the reps' share) fits under
    // the session's broadcast threshold, else the shuffled prefix
    // pipeline. A broadcastable corpus collects its pair index at most
    // once, for candVol or the broadcast arm, and candVol then counts the
    // same Σ_s dfP(s)² from its postings on the driver, with no prefix
    // cut (a corpus that then routes clustered pays that one collect)
    val threshold = hashed.queryExecution.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val broadcastable = threshold >= 0 && IndexBytes * (nElems + nDocs) <= threshold
    lazy val index = pairIndex(reps, pred)
    def candVol(): Double = if (broadcastable) index.postings.candidateRows else {
      val cv = Par.labeled(spark, "cluster: candVol probe")(
        prefix.groupBy("s").agg(count(lit(1)).as("c"))
          .agg(sum(col("c").cast("double") * col("c").cast("double"))).head())
      if (cv.isNullAt(0)) 0.0 else cv.getDouble(0)
    }
    val routeDirect = adaptive && {
      val starEdgesUb = math.max(0L, nRepsEst - nBuckets)
      val byRatio = starEdgesUb < RouteContractRatio * nRepsEst
      val direct = byRatio || candVol() < DirectCandCap
      log.info(s"candidateCore route: starEdgesUb=$starEdgesUb nReps=$nRepsEst " +
        s"byRatio=$byRatio -> ${if (direct) "DIRECT" else "CLUSTERED"}")
      direct
    }
    if (routeDirect) {
      if (broadcastable)
        return Left(DirectCore(hashed, docRep, Left(spark.sparkContext.broadcast(index)), pred,
          collapseCut.toSeq))
      // the shuffled arm: the direct pipeline over the already-hashed
      // reps, minus a second shingling pass
      val pairs = JaccardDedup.verifiedPairs(
        JaccardDedup.prefixPairs(prefix, "id", pred, "ra", "rb"), reps, "id", pred, "ra", "rb")
      return Left(DirectCore(hashed, docRep, Right(pairs), pred, collapseCut.toSeq :+ prefix))
    }

    // ---- 2. LSH contraction over representatives ----
    val buckets = reps
      .select(col("id"),
        posexplode(NativeHash.minhashBandBucketsHashed(col("__sh"), NumHashes, NumBands))
          .as(Seq("band", "bucket")))
    // STAR candidates, not bucket all-pairs: each member links only to
    // its bucket's min id (the hub), so candidate volume is
    // O(docs × bands) instead of Σ_b |bucket_b|² — the all-pairs form
    // was itself the g² stage it exists to remove (measured on the
    // 100×-replicated soak corpus: 100-member replica buckets → ~4950
    // verify walks per base doc per band, 2904 s wall / 27 GB in one
    // exchange; star candidates put step 2 back at corpus scale).
    // Contraction VALIDITY is untouched — star edges are still exact-
    // verified t-edges to a shared hub, so every contracted set lies
    // inside one t-component. Fewer edges can only mean LESS
    // contraction (a member whose hub fails the exact check keeps its
    // own label — with NumBands hub chances per member), and step 5
    // finds every cross-cluster edge the contraction didn't take.
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val lshCand = buckets
      .withColumn("__hub", min(col("id")).over(bucketW))
      .filter(col("__hub") < col("id"))
      .select(col("__hub").as("id_a"), col("id").as("id_b")).distinct()
    val edges1 = JaccardDedup.verifiedPairs(lshCand, reps, "id", pred, "id_a", "id_b")
      .select("id_a", "id_b")
    // contraction labels by ONE-PASS star contraction, not a full
    // components run: cl(x) = min(x, min t-neighbor). Validity needs
    // only that each contracted set lies within ONE t-component —
    // {x : cl(x) = v} ⊆ N(v) ∪ {v} gives exactly that (every member is
    // t-adjacent to v), even when v itself stars to a smaller hub.
    // Splitting a clique across hubs costs contraction quality, never
    // correctness: step 5 finds every cross-cluster edge, and the final
    // components pass re-merges. One groupBy+join vs O(log²) rounds.
    val nbrMin = edges1.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(edges1.select(col("id_b").as("id"), col("id_a").as("nb")))
      .groupBy("id").agg(min("nb").as("__nbmin"))
    // Contraction labels land directly on the rep rows (one cut), so
    // member is a projection instead of a reps ⋈ repCluster round-trip.
    val member = Par.cut(reps
      .join(nbrMin, Seq("id"), "left")
      .select(col("id"), col("__sh"), col("n"),
        least(col("id"), coalesce(col("__nbmin"), col("id"))).as("cl")),
      "cluster: contraction labels")
    val repCluster = member.select("id", "cl")

    // ---- 3 + 4: cluster-level candidates + anchor-bound prune ----
    // the prefix index cut above is REUSED as the postings source
    // (contraction labels join on by id) — the dfreq count and per-doc
    // rarity window run once per call, not twice
    val cc = clusterCandidatePlan(member, pred, requireDelta = false, prefix = Some(prefix))
    val pruned = Par.cut(cc.prunePlan(cc.candCl), "cluster: prune")
    Right(Core(hashed, docRep, repCluster, member, cc, pruned, pred,
      cuts = collapseCut.toSeq ++ Seq(prefix, member, cc.cpost, cc.anchors, cc.diffs, pruned)))
  }

  /** Steps 3-4 over an arbitrary member frame, shared by the batch core
    * and the incremental arm.
    */
  private[operators] final case class ClusterCand(
      cpostRaw: DataFrame,
      cpost: DataFrame, // cut — consumer releases it
      candCl: DataFrame,
      anchors: DataFrame, // (cl, __hsh, __hn) — cut, consumer releases
      diffs: DataFrame,   // (cl, id, n, __hn, __dm, __dp[, __d]) — cut, consumer releases
      prunePlan: DataFrame => DataFrame)

  /** Cluster-level candidate generation + anchor-bound prune over a
    * member frame (id, __sh, n, cl[, __d]) — any grouping is valid for
    * a pair listing, and for labels any grouping where each cluster
    * lies within one t-component (contraction labels, a previous run's
    * FULL component labels, or singletons).
    *
    * ---- 3. cluster-level candidate generation ----
    * Postings lift the PPJoin prefix index to clusters with the doc-
    * level prunes RELAXED soundly (so singleton clusters — the normal
    * case on low-duplication corpora — degenerate to exactly the
    * doc-level filters, and candidate volume at 1× replication matches
    * the direct pipeline's):
    *   - positional: per (s, cluster) keep mr = max over members of
    *     (n − pos). A qualifying member pair survives through its
    *     first-shared-element posting s*, where
    *     1 + min(n_a−p_a, n_b−p_b) ≥ α(n_a,n_b) ≥ α(minN_A,minN_B)
    *     (α is increasing in sizes), and n−p ≤ mr by construction —
    *     so 1 + min(mr_a, mr_b) ≥ α(minN_A, minN_B) holds for s*.
    *   - size: some member pair could pass the predicate's size filter
    *     (Jaccard: t·max ≤ min) only if max(minN_A, minN_B) fits
    *     under min(maxN_A, maxN_B).
    * The index explodes from `member`, so `cl` rides the prefix
    * pipeline instead of being re-joined onto the index-sized stream;
    * cluster stats join ONCE onto the postings (narrow (s, cl, mr)
    * rows) and from there ride the candidate self-join — the pair
    * stream downstream never re-joins per-cluster metadata it already
    * carries.
    *
    * `requireDelta = true` (the incremental arm): member carries a
    * boolean `__d`, lifted per cluster (a cluster is delta iff any
    * member is), and the candidate join keeps only pairs with ≥ 1
    * delta endpoint — base-internal cluster pairs never reach the
    * distinct exchange (their connectivity is the previous run's
    * labels).
    *
    * ---- 4. anchor-bound prune + hub witness ----
    * The anchor of cluster c is its MIN-ID MEMBER's shingle set. NOT
    * the doc named by the label: star labels chain (cl(x) = nbmin(x)
    * while that doc itself stars to a smaller hub), so doc c need not
    * belong to cluster c, and a non-member reference set would need
    * its own diff term — a member anchor makes the singleton case
    * exact by construction. For members x ∈ A, y ∈ B, every element of
    * S_x ∩ S_y is in H_A ∩ H_B, missing from H_A (⊆ S_x \ H_A), or
    * missing from H_B (⊆ S_y \ H_B):
    *     c(x,y) ≤ |H_A ∩ H_B| + maxD_A + maxD_B
    * with maxD_C = max over members of |S_x \ H_C| (exact, one
    * corpus-linear walk per member; multi-member clusters only —
    * a singleton's anchor IS its member, so maxD = 0 exactly and the
    * bound walk IS the member pair's verify walk). Qualifying needs
    * c(x,y) ≥ α(n_x,n_y) ≥ α(minN_A,minN_B) = αmin, so a cluster pair
    * retires when one early-exit anchor walk cannot reach
    * αmin − maxD_A − maxD_B. This replaced the r13 union bound
    * (|U_A∩U_B| ≥ max(minN)·t): unions ACCUMULATE every member's
    * noise, so on the 100×-replicated soak corpus the per-replica
    * marker shingles put ~R shared elements into every multi-member
    * union, the bound passed for EVERY cluster pair, and the step-5
    * |A|×|B| expansion OOM'd a 48 g heap. A single-doc anchor carries
    * each marker at most once, the diffs maxD stay at edit size, and
    * the walk is doc-length, not union-length (no cap needed).
    * (For a previous-run FULL component used as a cluster — the
    * incremental base side — a long chain component can make maxD
    * vacuous; the pair then just falls through to the member verify:
    * the prune degrades to no pruning, never to wrong.)
    *
    * WITNESS: when the walk passes it returns the EXACT |H_A∩H_B|
    * (countAtLeast early-exits only to say "can't reach α"), so
    * whether the anchor pair itself qualifies is decided for free. Anchors are members, so a
    * witness-true pair is itself a qualifying cross-cluster member
    * pair — the components consumer takes it as a cluster edge with
    * ZERO member expansion. On replica-heavy corpora this is what
    * keeps step 5 off the g² expansion entirely: fragments of one
    * replica family have near-identical anchors, so their cluster
    * edges are all witnessed.
    *
    * SINGLETON-SINGLETON BYPASS: when both clusters are single-member,
    * the anchor IS the member, maxD = 0, and the bound walk would be
    * byte-for-byte the pair's step-5 verify walk — running it here
    * means joining anchor arrays onto the pair a second time for zero
    * pruning information. On low-duplication corpora (the gate corpus:
    * 99.8% distinct sets, contraction rarely fires) singleton pairs
    * ARE the candidate stream, and gating them doubled the core's
    * array movement (measured at 1×: ~4.6 GB shuffle and +3-5 s per
    * consumer vs routing them straight to verify). Multi-member pairs
    * — the replica families the prune exists for — still take the
    * anchor gate, so the 100× behavior is untouched.
    */
  private[operators] def clusterCandidatePlan(
      member: DataFrame,
      pred: PairPredicate,
      requireDelta: Boolean,
      prefix: Option[DataFrame] = None): ClusterCand = {
    // the per-cluster delta flag exists ONLY in the incremental arm —
    // the batch path's plan stays byte-identical to pre-extraction
    val statCols = Seq(min("n").as("minN"), max("n").as("maxN"),
      count(lit(1)).as("nm")) ++
      (if (requireDelta) Seq(max(col("__d")).as("isDelta")) else Nil)
    val cStats = member.groupBy("cl").agg(statCols.head, statCols.tail: _*)
    // postings source: the caller's prefix index cut when it has one
    // (the batch core's — cluster labels join on by id, identical rows
    // to rebuilding with keep = cl since cl is functionally dependent
    // on id), else built here (incremental arm)
    val prefixed = prefix match {
      case Some(pf) => pf.join(member.select(col("id"), col("cl")), Seq("id"))
      case None =>
        val index = member.select(col("id"), explode(col("__sh")).as("s"), col("n"), col("cl"))
        JaccardDedup.prefixIndex(index, "id", pred, keep = Seq("cl"))
    }
    val cpostRaw = prefixed
      .groupBy(col("s"), col("cl"))
      .agg(max(col("n") - col("pos")).as("mr"))
      .join(cStats, Seq("cl"))
    val cpost = Par.cut(cpostRaw, "cluster: postings")
    val alphaMin = pred.alpha(col("__mna"), col("__mnb"))
    val aCols = Seq(col("s").as("__sa"), col("cl").as("cl_a"), col("mr").as("__mra"),
      col("minN").as("__mna"), col("maxN").as("__mxa"), col("nm").as("__nma")) ++
      (if (requireDelta) Seq(col("isDelta").as("__dla")) else Nil)
    val bCols = Seq(col("s").as("__sb"), col("cl").as("cl_b"), col("mr").as("__mrb"),
      col("minN").as("__mnb"), col("maxN").as("__mxb"), col("nm").as("__nmb")) ++
      (if (requireDelta) Seq(col("isDelta").as("__dlb")) else Nil)
    val deltaPred =
      if (requireDelta) col("__dla") || col("__dlb")
      else lit(true)
    val candCl = cpost
      .select(aCols: _*)
      .join(cpost.select(bCols: _*),
        col("__sa") === col("__sb") &&
        col("cl_a") < col("cl_b") &&
        deltaPred &&
        pred.fits(greatest(col("__mna"), col("__mnb")), least(col("__mxa"), col("__mxb"))) &&
        lit(1) + least(col("__mra"), col("__mrb")) >= alphaMin)
      // minN/maxN/nm are functionally dependent on the cluster ids, so
      // carrying them through the DISTINCT leaves its semantics
      // unchanged while sparing the downstream prune any stats re-join
      // over the pair stream (at 1× replication that re-join was 2
      // extra shuffles of the full candidate set); maxN rides along for
      // the verify stage's per-SIDE size prefilter at member expansion
      .select(col("cl_a"), col("cl_b"), col("__mna"), col("__mnb"),
        col("__mxa"), col("__mxb"), col("__nma"), col("__nmb"))
      .distinct()
    // candCl NOT cut or persisted, even though the singleton bypass
    // below scans it from two union arms: the expensive part (the
    // candidate self-join's exchanges) is shared between identical
    // subtrees by Spark's ReuseExchange, so only cheap post-shuffle map
    // work runs per arm — an eager materialization was tried and
    // measured slightly SLOWER at the gate (it blocks the pipeline and
    // hides the stream behind a leaf).
    // anchors CUT once: three separate executions read it (the diffs
    // cut below, the prune cut, and the verify's adj expansion — the
    // last is new with the diff verify; uncut, each would recompute the
    // corpus-array min_by shuffle. One cluster-count-sized checkpoint
    // replaces up to three aggregate passes.
    val anchors = Par.cut(member.groupBy("cl")
      .agg(min_by(struct(col("__sh"), col("n")), col("id")).as("__h"))
      .select(col("cl"), col("__h.__sh").as("__hsh"), col("__h.n").as("__hn")),
      "cluster: anchors")
    // MEMBER DIFFS — each member re-expressed as edit-sized diffs
    // against its cluster anchor (__dm = H \ S_x missing, __dp = S_x \ H
    // added). One corpus-linear anchor join for multi-member clusters
    // (the same join the old maxD stage paid); singleton members are a
    // pure projection — their anchor IS the member, so both diffs are
    // empty by construction and no arrays ship. The cut is what the
    // DIFF-BASED verify (see verifiedMemberPairs) and maxD both read.
    val dCol = if (requireDelta) Seq(col("__d")) else Nil
    val emptyArr = typedLit(Array.empty[Long])
    val multiDiffs = member
      .join(cStats.where(col("nm") > 1).select("cl"), Seq("cl"))
      .join(anchors, Seq("cl"))
      .select(Seq(col("cl"), col("id"), col("n"), col("__hn"),
        NativeHash.sortedDiff(col("__hsh"), col("__sh")).as("__dm"),
        NativeHash.sortedDiff(col("__sh"), col("__hsh")).as("__dp")) ++ dCol: _*)
    val singleDiffs = member
      .join(cStats.where(col("nm") === 1).select("cl"), Seq("cl"))
      .select(Seq(col("cl"), col("id"), col("n"), col("n").as("__hn"),
        emptyArr.as("__dm"), emptyArr.as("__dp")) ++ dCol: _*)
    val diffs = Par.cut(multiDiffs.unionByName(singleDiffs), "cluster: diffs")
    // maxD_C = max over members of |S_x \ H_C| = max |__dp| — a narrow
    // aggregate over the diffs cut (singletons contribute 0 exactly,
    // matching the old left-join-coalesce semantics)
    val maxD = diffs.groupBy("cl").agg(max(size(col("__dp"))).as("__maxd"))
    val bothSingle = col("__nma") === 1 && col("__nmb") === 1
    // prune output carries the walk's EXACT anchor intersection (__hc,
    // null on the bypass arm — the verify's routing flag) and
    // the per-cluster size stats the verify's per-side prefilters read
    val passCols = Seq(col("__mna"), col("__mnb"), col("__mxa"), col("__mxb"))
    def noWalk(cand: DataFrame): DataFrame = cand.select(
      Seq(col("cl_a"), col("cl_b"), lit(false).as("__wit"),
        lit(null).cast("int").as("__hc")) ++ passCols: _*)
    def prunePlan(cand: DataFrame): DataFrame =
      cand.where(!bothSingle)
        .join(anchors.select(col("cl").as("cl_a"), col("__hsh").as("__ha"), col("__hn").as("__hna")), Seq("cl_a"))
        .join(anchors.select(col("cl").as("cl_b"), col("__hsh").as("__hb"), col("__hn").as("__hnb")), Seq("cl_b"))
        .join(maxD.select(col("cl").as("cl_a"), col("__maxd").as("__da")), Seq("cl_a"), "left")
        .join(maxD.select(col("cl").as("cl_b"), col("__maxd").as("__db")), Seq("cl_b"), "left")
        .withColumn("__hc", NativeHash.sortedIntersectAtLeast(col("__ha"), col("__hb"),
          (alphaMin - coalesce(col("__da"), lit(0)) - coalesce(col("__db"), lit(0)))
            .cast("int")))
        .filter(col("__hc") >= 0)
        .select(Seq(col("cl_a"), col("cl_b"),
          pred.keep(pred.score(col("__hc"), col("__hna"), col("__hnb")))
            .as("__wit"), col("__hc")) ++ passCols: _*)
        .union(noWalk(cand.where(bothSingle)))
    ClusterCand(cpostRaw, cpost, candCl, anchors, diffs, prunePlan)
  }
}
