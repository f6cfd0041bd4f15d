package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeHash, Text}

/** Duplicate-CLUSTER labeling (exact n-gram-Jaccard connected
  * components) with a replication-proof candidate path.
  *
  * The direct pipeline — [[JaccardDedup.nearDupPairs]] then
  * [[Components.connectedComponents]] — is exact but its candidate join
  * costs Σ_s dfP(s)² over prefix-shingle document frequencies. That is
  * the wrong shape for the corpora clustering is FOR: boilerplate-heavy
  * crawls where the same page recurs with small edits. g near-identical
  * copies multiply every prefix df by g, so candidates (and the
  * pair-distinct exchange, and the verify) grow g² — measured on the
  * 10×-replicated soak corpus: 634M raw candidates vs 6.3M at 1×, 332 s
  * vs ~2 s. This operator returns the IDENTICAL labeling with candidate
  * volume back at the distinct-content level:
  *
  *   1. EXACT-SET COLLAPSE — group docs by their full sorted
  *      shingle-hash array. Set-identical docs have J = 1 (≥ any
  *      t ∈ (0,1]) with each other and identical J against everything
  *      else, so each group contracts to its min-id representative.
  *      Empty shingle sets are excluded: J = 0/0 is no-edge (matching
  *      the pair operator, whose explode drops them), so those docs
  *      stay isolated singletons.
  *   2. LSH CONTRACTION — MinHash band buckets over representatives;
  *      candidates are STAR edges (member → bucket-min hub, O(docs ×
  *      bands), never bucket all-pairs — all-pairs is quadratic in
  *      replication, the very pathology this operator removes),
  *      exact-verified at the USER threshold t, then ONE
  *      star-contraction pass (cl(x) = min(x, min t-neighbor)).
  *      Contraction is valid whenever each contracted set lies inside
  *      one t-component — true t-edges to a shared hub give exactly
  *      that — so LSH recall (the reason banding can't replace the
  *      exact join) costs nothing here: missed edges only mean less
  *      contraction, caught ones collapse the near-identical cliques
  *      that cause g². Verification keeps soundness: a bucket-collision
  *      pair with true J < t is never used as an edge.
  *   3. CLUSTER-LEVEL CANDIDATES — the PPJoin prefix index
  *      ([[JaccardDedup.prefixIndex]], same global rarity order, so the
  *      same losslessness proof applies to every member pair) projected
  *      to (shingle, cluster) DISTINCT. g collapsed copies post each
  *      prefix shingle once, so the self-join is Σ_s dfC(s)² over
  *      CLUSTER frequencies — the g² term is gone. A cluster-level size
  *      filter (some member pair could satisfy t·max ≤ min) prunes
  *      pairs no member pair can qualify for.
  *   4. SOUND CLUSTER-PAIR BOUND — one early-exit merge walk over the
  *      two clusters' ANCHOR docs (each cluster's min-id MEMBER's
  *      shingle set) plus per-cluster max member-vs-anchor diffs:
  *      c(x,y) ≤ |H_A∩H_B| + maxD_A + maxD_B for every member pair, so
  *      a walk that can't reach αmin − maxD_A − maxD_B retires the
  *      cluster pair without touching |A|·|B| member pairs. Single-doc
  *      anchors keep the bound tight under heavy replication (member
  *      UNIONS accumulate per-replica noise until the bound is
  *      vacuous — the r13 shape, OOM'd at 100×). Singleton-singleton
  *      pairs bypass the gate straight to step 5: their bound walk
  *      would BE the verify walk, so gating them only duplicates
  *      array movement (the low-duplication-corpus fast path). The
  *      prune is an optimization, never a correctness arm
  *      (`prune = false` disables it; exactness tests run both arms).
  *   5. EXACT VERIFY — ambiguous surviving cluster pairs expand to
  *      member pairs, re-checked at exactly [[JaccardDedup]]'s α bound
  *      (same ±1e-9 fp guards); pairs whose anchor walk already proved
  *      a J ≥ t anchor edge (the WITNESS of step 4) are cluster edges
  *      with no expansion at all on the components path. Anchor-gated
  *      pairs verify through the DIFF identity (each member carried as
  *      edit-sized diffs against its cluster anchor; the pair's exact
  *      count reassembled from the prune's anchor walk — see
  *      [[verifiedMemberPairs]] and
  *      [[graft.functions.NativeHash.SortedDiffHelper]]), so the
  *      member-pair join never ships full shingle arrays; bypass pairs
  *      keep the direct early-exit walk. True cross-cluster edges + the
  *      contraction edges of steps 1-2 span the same components as the
  *      full t-graph, so the final labels — min reachable id through
  *      cluster-graph components — equal the direct pipeline's.
  *
  * Scale shape: every step is a narrow-key shuffle (shingle hash,
  * cluster id) or a bounded per-cluster aggregate; no driver
  * materialization anywhere (components themselves go through
  * [[Components]]' adaptive local/distributed arms).
  */
object ClusterDedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Fp guard shared with [[JaccardDedup]]'s pruning bounds. */
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
    * numBands, which UNDERcounts families whose J sits near the
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
    * reachable through the exact J ≥ threshold n-gram pair graph.
    * Result is row-identical to
    * `Components.connectedComponents(JaccardDedup.nearDupPairs(...))`
    * over the same input.
    */
  def components(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      adaptive: Boolean = true): DataFrame =
    componentsImpl(df, idCol,
      NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram),
      threshold, numHashes, numBands, prune, adaptive)._1

  /** Candidate-path frames shared by [[components]] and
    * [[pairsClustered]]: everything through the anchor-bound prune
    * (steps 1-4 of the object doc), plus the bookkeeping the consumers
    * need to verify, fan out, and release resources. The heavy frames
    * are already lineage-cut; `persisted`/`cuts` are released by the
    * consumer AFTER its own output is eagerly cut.
    */
  private final case class Core(
      hashed: DataFrame,     // (id, __sh, n) — all docs, persisted
      docRep: DataFrame,     // (id, rep) — exact-set collapse, non-empty docs
      reps: DataFrame,       // (id, __sh, n) — one per distinct set
      repCluster: DataFrame, // (id, cl) — LSH star contraction of reps
      member: DataFrame,     // (id, __sh, n, cl)
      anchors: DataFrame,    // (cl, __hsh, __hn)
      diffs: DataFrame,      // (cl, id, n, __hn, __dm, __dp) — member-vs-anchor diffs
      pruned: DataFrame,     // (cl_a, cl_b, __wit, __hc, size stats) surviving the bound
      threshold: Double,
      probes: Probes,
      persisted: Seq[DataFrame],
      cuts: Seq[DataFrame])

  /** The ADAPTIVE direct arm (see [[RouteContractRatio]]): the exact
    * rep-level pair stream through the plain PPJoin prefix pipeline —
    * no contraction, no anchors/diffs, no cluster stats. Consumers fan
    * the pairs out through the exact-set collapse (`docRep`) exactly as
    * the clustered arm does.
    */
  private final case class DirectCore(
      hashed: DataFrame, // (id, __sh, n) — all docs, persisted
      docRep: DataFrame, // (id, rep) — exact-set collapse, non-empty docs
      pairs: DataFrame,  // (ra, rb, jaccard) exact rep pairs — LAZY
      persisted: Seq[DataFrame],
      cuts: Seq[DataFrame])

  /** [[components]] plus the candidate-path [[Probes]] — the
    * PlanShapeSpec hook, pinned on the CLUSTERED arm (adaptive routing
    * off: the probes ARE the clustered frames).
    */
  private[graft] def componentsProbed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 2,
      threshold: Double = 0.3,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true): (DataFrame, Probes) = {
    val (out, probes) = componentsImpl(df, idCol,
      NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram),
      threshold, numHashes, numBands, prune, adaptive = false)
    (out, probes.get)
  }

  /** Shared [[components]] body over either core arm. */
  private def componentsImpl(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      numHashes: Int,
      numBands: Int,
      prune: Boolean,
      adaptive: Boolean): (DataFrame, Option[Probes]) = {
    candidateCore(df, idCol, shingleExpr,
        threshold, numHashes, numBands, prune, adaptive) match {
      case Left(d) => (componentsDirect(d), None)
      case Right(core) => componentsClustered(core)
    }
  }

  /** Direct-route components assembly: reps ARE the clusters (cl = id),
    * so the exact rep-level pairs are the cluster edges directly and
    * labels fan out through the collapse alone. Identical labeling to
    * the clustered arm: component = min doc id reachable, and every
    * collapsed member's id ≥ its rep's.
    */
  private def componentsDirect(d: DirectCore): DataFrame = {
    val edges = d.pairs.select(col("ra"), col("rb"))
    val clComp = Par.labeled(d.pairs.sparkSession, "cluster: components(direct)")(
      Components.connectedComponents(edges, "ra", "rb"))
      .select(col("id").as("rep"), col("component"))
    val labeled = d.docRep.select(col("id"), col("rep"))
      .join(clComp, Seq("rep"), "left")
      .select(col("id"), coalesce(col("component"), col("rep")).as("component"))
    val isolated = d.hashed.where(col("n") === 0)
      .select(col("id"), col("id").as("component"))
    val out = Par.cut(labeled.union(isolated), "cluster: labels out(direct)")
    d.persisted.foreach(_.unpersist(false))
    (d.cuts :+ clComp).foreach(Par.free)
    out
  }

  private def componentsClustered(core: Core): (DataFrame, Option[Probes]) = {
    val threshold = core.threshold
    // ---- 5. exact member verification of surviving cluster pairs ----
    // (connectivity only: the ids and jaccard values are dropped — the
    // pair-listing consumer keeps them, see pairsClustered). Witnessed
    // pairs (anchor pair itself at J ≥ t — see step 4) are cluster
    // edges as-is, no member expansion; only ambiguous pairs expand.
    val witnessed = core.pruned.where(col("__wit")).select(col("cl_a"), col("cl_b"))
    val crossEdges = Par.cut(witnessed.union(
      verifiedMemberPairs(core.pruned.where(!col("__wit")), core.member,
          core.diffs, core.anchors, threshold)
        .select(col("cl_a"), col("cl_b")).distinct()), "cluster: verify cross edges")

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
    core.persisted.foreach(_.unpersist(false))
    // clComp is itself a cut (connectedComponents' sealed result) with
    // no consumer beyond `out` — freeing it here closes a per-call
    // block leak in long-lived sessions (the semanticDedup seal rule)
    (core.cuts :+ crossEdges :+ clComp).foreach(Par.free)
    (out, Some(core.probes))
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
    * Scale shape — CLUSTER granularity, like the batch core, with the
    * base/delta SPLIT healed before candidates. Two cheaper designs
    * were built and measured out on the 10×-replicated soak corpus:
    *   - a doc-level delta-vs-all prefix join
    *     ([[JaccardDedup.nearDupPairsIncremental]], kept as the
    *     pair-LISTING API and the measurable A/B arm) inherits the g²
    *     replication pathology — 409 s where a FULL clustered
    *     recompute takes ~50 s;
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
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      adaptive: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hashed = Par.widen(
        base.select(col(idCol).as("id"), col(textCol).as("__t"), lit(false).as("__d"))
          .unionByName(
            delta.select(col(idCol).as("id"), col(textCol).as("__t"), lit(true).as("__d"))))
      .select(col("id"),
        NativeHash.shingleHashes(Text.tokens(col("__t")), nGram).as("__sh"),
        col("__d"))
      .select(col("id"), col("__sh"),
        coalesce(size(col("__sh")), lit(0)).as("n"), col("__d"))
      .persist(MEMORY_AND_DISK)
    // plain filter over the persist, NOT an extra eager cut: the cut
    // was a full second materialization pass of the corpus arrays per
    // call (the persist already dedups execution; the consumers' plans
    // stay shallow — scan→widen→shingle→filter)
    val nonEmpty = hashed.where(col("n") > 0)
    val verts = base.select(col(idCol).as("id"))
      .unionByName(delta.select(col(idCol).as("id")))

    // ---- ADAPTIVE ROUTE (r17, the batch core's [[DirectCandCap]]
    // pattern): the cluster-granularity machinery below (banding +
    // contraction + label merge + cluster candidates + diff verify —
    // measured 6-10 s of fixed phases at sf0.1) only pays when the
    // doc-level delta-vs-all prefix join would drown in replication.
    // Its EXACT candidate volume is Σ_s dfPΔ(s)·dfP(s) over the UNION
    // prefix index — one narrow aggregate over an index BOTH arms
    // consume (the clustered arm's cluster postings reuse it, exactly
    // like the batch core reuses its route probe's index). Under the
    // absolute cap the direct arm runs in seconds on any hardware:
    // exact delta-touching pairs ([[JaccardDedup.nearDupPairsIncremental]]'s
    // candidate scheme, same size/positional filters and verify walk)
    // plus ONE components pass over (base label star edges ∪ those
    // pairs) — row-identical by the same argument as the clustered arm
    // (baseLabels' id→component edges span exactly the base-internal
    // connectivity; IncrementalDedupSpec pins adaptive == forced-
    // clustered on both corpus shapes). On replica-heavy corpora the
    // volume explodes g² and the probe routes clustered (the 10× soak
    // measured 409 s doc-level vs 116 s clustered).
    val prefIndex = nonEmpty.select(col("id"), explode(col("__sh")).as("s"),
      col("n"), col("__d"))
    val prefix = JaccardDedup.prefixIndex(prefIndex, "id", threshold, keep = Seq("__d"))
      .persist(MEMORY_AND_DISK)
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
      val dp = prefix.where(col("__d"))
      val a = dp.select(col("s").as("__sa"), col("id").as("ia"),
        col("n").as("__na"), col("pos").as("__pa"))
      val b = prefix.select(col("s").as("__sb"), col("id").as("ib"),
        col("n").as("__nb"), col("pos").as("__pb"))
      val alphaC = ceil((col("__na") + col("__nb")) * (threshold / (1.0 + threshold)) - lit(Eps))
      val cand = a.join(b,
          col("__sa") === col("__sb") &&
          col("ia") =!= col("ib") &&
          greatest(col("__na"), col("__nb")) * threshold <=
            least(col("__na"), col("__nb")) + lit(Eps) &&
          lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >= alphaC)
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"))
        .distinct()
      val alphaD = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
        .cast("int")
      val deltaPairs = cand
        .join(nonEmpty.select(col("id").as("id_a"), col("__sh").as("__sha"), col("n").as("n_a")), Seq("id_a"))
        .join(nonEmpty.select(col("id").as("id_b"), col("__sh").as("__shb"), col("n").as("n_b")), Seq("id_b"))
        .withColumn("c", NativeHash.sortedIntersectAtLeast(col("__sha"), col("__shb"), alphaD))
        .filter(col("c") >= 0)
        .filter(col("c") / (col("n_a") + col("n_b") - col("c")) >= threshold)
        .select("id_a", "id_b")
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
      posexplode(NativeHash.minhashBandBucketsHashed(col("__sh"), numHashes, numBands))
        .as(Seq("band", "bucket")))
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val lshCand = buckets
      .withColumn("__hub", min(col("id")).over(bucketW))
      .filter(col("__hub") < col("id"))
      .select(col("__hub").as("id_a"), col("id").as("id_b")).distinct()
    val alphaV = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
      .cast("int")
    val starEdges = lshCand
      .join(nonEmpty.select(col("id").as("id_a"), col("__sh").as("__sha"), col("n").as("n_a")), Seq("id_a"))
      .join(nonEmpty.select(col("id").as("id_b"), col("__sh").as("__shb"), col("n").as("n_b")), Seq("id_b"))
      .filter(greatest(col("n_a"), col("n_b")) * threshold <=
        least(col("n_a"), col("n_b")) + lit(Eps))
      .withColumn("c", NativeHash.sortedIntersectAtLeast(col("__sha"), col("__shb"), alphaV))
      .filter(col("c") >= 0)
      .filter(col("c") / (col("n_a") + col("n_b") - col("c")) >= threshold)
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
    val cc = clusterCandidatePlan(member, threshold, prune, requireDelta = true,
      prefix = Some(prefix))
    val pruned = Par.cut(cc.prunePlan(cc.candCl), "inc: prune")
    val witnessed = pruned.where(col("__wit")).select(col("cl_a"), col("cl_b"))
    val crossEdges = Par.cut(witnessed.union(
      verifiedMemberPairs(pruned.where(!col("__wit")), member,
          cc.diffs, cc.anchors, threshold, deltaOnly = true)
        .select(col("cl_a"), col("cl_b")).distinct()), "inc: verify cross edges")

    // final labels: the pre-contraction's (id → cl) star edges carry
    // its connectivity (each edge abbreviates a path of known t-edges),
    // plus the verified delta-touching cluster edges
    val preStar = member.where(col("id") =!= col("cl"))
      .select(col("id").as("id_a"), col("cl").as("id_b"))
    // connectedComponents fully materializes (and cuts) its result
    // before returning, so every incremental intermediate can be
    // released immediately after
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
    * nGram, threshold)`: cross-cluster member pairs of bound-surviving
    * cluster pairs plus intra-cluster member pairs all run the exact
    * early-exit merge walk (star contraction guarantees hub adjacency,
    * not cliqueness — intra-cluster pairs are verified, never assumed),
    * then results fan out through the exact-set collapse: members of a
    * collapsed group share their set, so a rep-level pair's jaccard IS
    * each expanded pair's jaccard, and intra-group pairs are J = 1
    * exactly (n > 0 by construction; the direct operator computes
    * n/(2n−n) = 1 for them).
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
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      adaptive: Boolean = true): DataFrame =
    pairsClusteredBy(df, idCol,
      NativeHash.shingleHashes(Text.tokens(col(textCol)), nGram),
      threshold, numHashes, numBands, prune, adaptive)

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
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      adaptive: Boolean = true): DataFrame = {
    val (pairs, seal) = pairsClusteredPlan(df, idCol, shingleExpr,
      threshold, numHashes, numBands, prune, adaptive)
    seal(pairs)
  }

  /** Bounded-output near-dup RETRIEVAL: for each document, its `k`
    * most-similar partners (jaccard DESC, ties by ascending partner
    * id) among pairs at J ≥ `threshold`. Output (id, partner_id,
    * jaccard, rk). The [[graft.operators.OverlapJoin.topK]] pattern on
    * the Jaccard family: pair LISTING is Ω(output) and output is
    * quadratic in near-duplication (the chargram listing measured 71×
    * wall at 100× replication, all of it qualifying output) — the
    * retrieval variant bounds output at n·k and the row_number filter
    * plans as a WindowGroupLimit, so per-task partial top-k runs
    * before the window exchange and the full listing never
    * materializes (the candidate plan seals only AFTER the window).
    * Cross-engine rank determinism: jaccard is one double division of
    * exact integers (c / (n_a + n_b − c)) in both engines, so the
    * ordering key is bit-identical.
    */
  def topKBy(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      k: Int,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      viaAgg: Boolean = true,
      adaptive: Boolean = true): DataFrame = {
    val (lazyOut, seal) = topKPlanBy(df, idCol, shingleExpr, threshold, k,
      numHashes, numBands, prune, viaAgg, adaptive)
    // cloned-session-scoped, never the caller's session: the raise is
    // only safe around an O(k)-buffer aggregate (see
    // TopKAgg.withHashAggHeadroom)
    seal(graft.functions.TopKAgg.withHashAggHeadroom(lazyOut))
  }

  /** [[topKBy]] split before its seal (PlanShapeSpec pins the plan
    * shape live; the sealed frame's plan is just the checkpoint scan).
    *
    * Two row-identical plans, chosen by `viaAgg`:
    *   - `true` (default, the 100-TB shape): [[TopKAgg.topNeighbors]]
    *     hash aggregate — one Ω(rows·log k) pass, map-side combined,
    *     NO sort of the pair stream. The window formulation's partial
    *     WindowGroupLimit still local-sorts every task's full input,
    *     which the 100× soak measured at 2.9× the pair LISTING's wall
    *     (1,380 s vs 475 s); the aggregate removes that sort.
    *   - `false`: the row_number window (kept measurable — it is the
    *     plan most engines reach for, and the A/B is the argument).
    * Both rank by (score DESC, partner ASC); the aggregate's buffer
    * uses the identical comparator, so outputs are row-identical and
    * share one oracle. The agg path requires a long-typed id (the
    * aggregator's input encoder).
    */
  private[graft] def topKPlanBy(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      k: Int,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      viaAgg: Boolean = true,
      adaptive: Boolean = true): (DataFrame, DataFrame => DataFrame) = {
    require(k >= 1, "k must be >= 1")
    val (pairs, seal) = pairsClusteredPlan(df, idCol, shingleExpr,
      threshold, numHashes, numBands, prune, adaptive)
    (graft.functions.TopKAgg.perDocTopK(pairs, "jaccard", k, viaAgg), seal)
  }

  /** The uncut exact pair stream plus the seal that cuts a finished
    * frame and releases the candidate core — [[topKPlanBy]] applies its
    * bounded-output window between the two.
    */
  private[graft] def pairsClusteredPlan(
      df: DataFrame,
      idCol: String,
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      numHashes: Int,
      numBands: Int,
      prune: Boolean,
      adaptive: Boolean = true): (DataFrame, DataFrame => DataFrame) = {
    val coreE = candidateCore(df, idCol, shingleExpr, threshold,
      numHashes, numBands, prune, adaptive)
    coreE match {
      case Left(d) =>
        // direct route: d.pairs IS the exact rep-level pair stream —
        // fan it out through the collapse and seal exactly as below
        val groups = d.docRep
        val crossGroups = d.pairs
          .join(groups.select(col("rep").as("ra"), col("id").as("ia")), Seq("ra"))
          .join(groups.select(col("rep").as("rb"), col("id").as("ib")), Seq("rb"))
          .select(least(col("ia"), col("ib")).as("id_a"),
            greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
        val intraGroups = groups.select(col("rep"), col("id").as("id_a"))
          .join(groups.select(col("rep"), col("id").as("id_b")), Seq("rep"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
        return (crossGroups.union(intraGroups), { finished =>
          val out = Par.cut(finished, "cluster: pairs out(direct)")
          d.persisted.foreach(_.unpersist(false))
          d.cuts.foreach(Par.free)
          out
        })
      case Right(_) => ()
    }
    val core = coreE.toOption.get

    // ---- 5'. exact member verification, KEEPING ids + jaccard ----
    val cross = verifiedMemberPairs(core.pruned, core.member,
        core.diffs, core.anchors, threshold)
      .select(least(col("ida"), col("idb")).as("ra"),
        greatest(col("ida"), col("idb")).as("rb"), col("jaccard"))
    // intra-cluster pairs: the cluster exists because members share a
    // hub, not because they pairwise qualify — verify each pair. The
    // DIFF identity with both sides on the SAME anchor H collapses to
    // c = |H| − |dM_a| − |dM_b| + correction (adj against the own
    // anchor is −|dM| exactly: dP∩H = ∅ and dM ⊆ H), so the g²
    // intra expansion of a replica-family cluster ships edit-sized
    // diffs instead of full member arrays — this was THE dominant
    // verify volume on the 100× soak (the family contracts into one
    // cluster, so its quadratic lives here, not in the cross arm)
    val alphaV = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
      .cast("int")
    val intra = core.diffs.select(col("cl"), col("id").as("ra"), col("n").as("n_a"),
        col("__hn"), col("__dm").as("__dma"), col("__dp").as("__dpa"))
      .join(core.diffs.select(col("cl"), col("id").as("rb"), col("n").as("n_b"),
        col("__dm").as("__dmb"), col("__dp").as("__dpb")), Seq("cl"))
      .filter(col("ra") < col("rb"))
      .filter(greatest(col("n_a"), col("n_b")) * threshold <=
        least(col("n_a"), col("n_b")) + lit(Eps))
      // sound pre-walk bound: correction ≤ min(|dM_a|,|dM_b|) +
      // min(|dP_a|,|dP_b|), so c ≤ |H| − max(|dM|) + min(|dP|)
      .filter(col("__hn") - greatest(size(col("__dma")), size(col("__dmb"))) +
        least(size(col("__dpa")), size(col("__dpb"))) >= alphaV)
      .withColumn("c", col("__hn") - size(col("__dma")) - size(col("__dmb")) +
        NativeHash.diffCorrection(col("__dma"), col("__dpa"), col("__dmb"), col("__dpb")))
      .withColumn("jaccard", col("c") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("ra"), col("rb"), col("jaccard"))
    // NO cut: repPairs has exactly one consumer (the fan-out join
    // below) and is output-sized — an eager checkpoint of Ω(output)
    // rows doubles peak disk for zero reuse (the overlap twin measured
    // exactly that filling a 78 GB disk on the 100× soak corpus); the
    // single final cut on `out` is what makes the upstream frees safe
    val repPairs = cross.union(intra)

    // ---- fan out through the exact-set collapse ----
    val groups = core.docRep // (id, rep), non-empty docs only
    val crossGroups = repPairs
      .join(groups.select(col("rep").as("ra"), col("id").as("ia")), Seq("ra"))
      .join(groups.select(col("rep").as("rb"), col("id").as("ib")), Seq("rb"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    val intraGroups = groups.select(col("rep"), col("id").as("id_a"))
      .join(groups.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val pairsOut = crossGroups.union(intraGroups)
    (pairsOut, { finished =>
      val out = Par.cut(finished, "cluster: pairs out")
      core.persisted.foreach(_.unpersist(false))
      core.cuts.foreach(Par.free)
      out
    })
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
    *   - DIRECT arm (`__hc` null — the singleton-singleton bypass, and
    *     every pair when `prune = false`): the original full-array
    *     early-exit merge walk. For 1×1 expansions the diff arm would
    *     be byte-for-byte the same walk plus bookkeeping, so the bypass
    *     keeps its fast path.
    *
    * Exactness: every diff-arm term is an exact set cardinality, so the
    * assembled count is the same integer the direct walk returns and
    * the jaccard division sees identical operands — bit-identical
    * doubles, one oracle. Returns (cl_a, cl_b, ida, idb, jaccard) —
    * consumers project what they need.
    */
  private[operators] def verifiedMemberPairs(
      pruned: DataFrame, member: DataFrame, diffs: DataFrame,
      anchors: DataFrame, threshold: Double,
      deltaOnly: Boolean = false): DataFrame = {
    val alphaV = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
      .cast("int")
    val sizeCompat = greatest(col("n_a"), col("n_b")) * threshold <=
      least(col("n_a"), col("n_b")) + lit(Eps)

    // ---- DIRECT arm: bypass pairs (and everything when prune=false) ----
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
      .withColumn("jaccard", col("c") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("cl_a"), col("cl_b"), col("ida"), col("idb"), col("jaccard"))

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
        // x size-matches some y ∈ [minN_opp, maxN_opp] only if
        // t·n_x ≤ maxN_opp and t·minN_opp ≤ n_x (size-compat is
        // t·max ≤ min) — qualifying pairs survive, rows that cannot
        // pair never reach the anchor join below
        .filter(col(s"n_$sfx") * threshold <= oppMax + lit(Eps) &&
          oppMin * threshold <= col(s"n_$sfx") + lit(Eps))
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
      .withColumn("jaccard", col("c") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("cl_a"), col("cl_b"), col("ida"), col("idb"), col("jaccard"))
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
      shingleExpr: org.apache.spark.sql.Column,
      threshold: Double,
      numHashes: Int,
      numBands: Int,
      prune: Boolean,
      adaptive: Boolean): Either[DirectCore, Core] = {
    // Upper bound matters for the row-identity contract: the exact-set
    // collapse assumes identical docs (J=1) always merge, which is only
    // valid for thresholds in (0, 1] — the direct pipeline would emit no
    // edges at all for t > 1.
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val spark = df.sparkSession
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    val hashed = Par.widen(df)
      .select(col(idCol).as("id"), shingleExpr.as("__sh"))
      .select(col("id"), col("__sh"),
        coalesce(size(col("__sh")), lit(0)).as("n"))
      .persist(MEMORY_AND_DISK)

    // ---- 1. exact-set collapse (array group key: exact, no hash-
    // collision arm; one corpus-sized narrow exchange, same magnitude
    // as the exploded index the pair join already pays) ----
    val nonEmpty = hashed.where(col("n") > 0)
    // ADAPTIVE: the collapse window shuffles every shingle array in the
    // corpus. One HLL probe (1% rsd, narrow partial-aggregate pass over
    // the persisting frame) decides whether exact-set duplication even
    // exists; on a (near-)fully-distinct corpus — the norm once exact
    // dedup has run upstream, and the gate corpus at 99.8% — the
    // collapse is the identity and the window + its lineage cut are
    // skipped. Correctness is unaffected either way: identical sets are
    // ordinary J=1 pairs for the LSH contraction and the exact verify
    // (the contraction is NEVER skipped — near-duplicate replicas have
    // DISTINCT sets, so this probe says nothing about them and the
    // g²-killing contraction must stay unconditional).
    // ONE narrow probe aggregate carries the doc-level routing
    // statistics (r18 — reshaped from r17's fused crossJoin probe):
    //   - count + HLL distinct sets → the collapse decision;
    //   - HLL distinct band-0 buckets → the contraction-mass estimate:
    //     Σ over buckets of (size − 1) = members − distinct buckets, so
    //     (reps − distinct buckets) IS the star-edge upper bound the old
    //     groupBy probe computed, now from one aggregate. One band of
    //     the real family (identical seeding ⇒ band 0) estimates the
    //     per-band average at 1/numBands the hashing cost; identical
    //     sets share buckets, so distinct-buckets-over-docs equals
    //     distinct-buckets-over-reps and the statistic is rep-level
    //     even before the collapse decision is made.
    // Two r18 changes, both measured at sf0.1 (OPTIMIZATION_r18.md):
    //   - rsd 0.05, not 0.01 — the high-precision HLL buffer made the
    //     probe itself the bottleneck (fused aggregate 4.0 s vs 0.9 s;
    //     every routing threshold tolerates ≥ 10% estimate error, and
    //     routing picks between two EXACT plans);
    //   - no crossJoin with the candVol aggregate — the r17 fused form
    //     ran this aggregate and the optimistic prefix build as
    //     CONCURRENT AQE stages against the unmaterialized hashed
    //     persist, and the race double-computed the shingling pass
    //     (twin 3.2-3.7 s jobs, ~60% of dedup_canonical's wall). This
    //     single-subtree action materializes the persist exactly once;
    //     the prefix index is built AFTER the collapse decision over
    //     the final rep set (no optimistic build + discard), and
    //     candVol — only needed when the contraction-mass shortcut is
    //     inconclusive — runs lazily against the prefix cut below.
    val st = Par.labeled(spark, "cluster: route probe")(
      nonEmpty.agg(count(lit(1)).as("__n"),
        approx_count_distinct(xxhash64(col("__sh")), 0.05).as("__sets"),
        approx_count_distinct(element_at(
          NativeHash.minhashBandBucketsHashed(col("__sh"), numHashes / numBands, 1),
          1), 0.05).as("__buckets")).head())
    val collapseUseful = st.getLong(1) < st.getLong(0) * CollapseSkipRatio
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
    val collapseCut: Option[DataFrame] = if (!collapseUseful) None else Some(
      Par.cut(nonEmpty
        .select(col("id"), col("__sh"), col("n"), min(col("id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__sh"))).as("rep")),
        "cluster: collapse window"))
    val docRep = collapseCut.fold(nonEmpty.select(col("id"), col("id").as("rep")))(
      _.select("id", "rep"))
    val reps = collapseCut.fold(nonEmpty.select("id", "__sh", "n"))(
      _.where(col("id") === col("rep")).select("id", "__sh", "n"))

    // prefix index over the FINAL rep set, built ONCE after the
    // collapse decision (the r17 probe built an optimistic doc-level
    // index and discarded+rebuilt it when the collapse fired), and CUT
    // rather than lazily persisted: the candidate self-join's two
    // sides (and the clustered arm's postings + plan probes) would
    // otherwise race to materialize the persist from concurrent AQE
    // stages and double-compute the whole df + window chain (r18).
    val prefix = Par.cut(JaccardDedup.prefixIndex(
        reps.select(col("id"), explode(col("__sh")).as("s"), col("n")),
        "id", threshold), "cluster: prefix index")

    // ---- ADAPTIVE ROUTE (see RouteContractRatio / DirectCandCap).
    // Probe — direct-candidate volume: Σ_s dfP(s)² is the EXACT row
    // count of the direct arm's candidate join; under the absolute cap
    // the direct arm is seconds of work and wins outright. The cap is
    // LOAD-BEARING at gate scale: the collision estimate alone routes
    // badly on small-vocabulary corpora (measured: the zh char-gram
    // slice shows 560/753 band-0 collisions from sub-threshold overlap
    // the contraction would never verify, and 1-gram token sets
    // collide 3664/3935 — both corpora where the direct arm wins by
    // 3-4×). The contraction-mass estimate (reps − distinct band-0
    // buckets, a FREE upper bound on star edges) shortcuts the
    // decision first: under the ratio the clustered arm cannot
    // collapse enough to repay its phases and the direct route is
    // taken with NO candVol aggregate at all (the common low-
    // duplication shape — r18); only when the shortcut is inconclusive
    // does the candVol job run and arbitrate via the cap. Same
    // decision as r17's `candVol < cap || starEdges < ratio·reps` —
    // `||` commutes — minus one aggregate job on most corpora, and
    // minus every probe job when `adaptive` is off (the route is
    // forced, so the statistics would be dead weight — r17 ADVICE).
    val nRepsEst = if (collapseUseful) st.getLong(1) else st.getLong(0)
    def candVol(): Double = {
      val cv = Par.labeled(spark, "cluster: candVol probe")(
        prefix.groupBy("s").agg(count(lit(1)).as("c"))
          .agg(sum(col("c").cast("double") * col("c").cast("double"))).head())
      if (cv.isNullAt(0)) 0.0 else cv.getDouble(0)
    }
    val routeDirect = adaptive && {
      val starEdgesUb = math.max(0L, nRepsEst - st.getLong(2))
      val byRatio = starEdgesUb < RouteContractRatio * nRepsEst
      val direct = byRatio || candVol() < DirectCandCap
      log.info(s"candidateCore route: starEdgesUb=$starEdgesUb nReps=$nRepsEst " +
        s"byRatio=$byRatio -> ${if (direct) "DIRECT" else "CLUSTERED"}")
      direct
    }
    if (routeDirect) {
      // the direct arm: JaccardDedup's exact prefix pipeline over the
      // already-hashed reps (df-rarity prefix index, size + positional
      // filters inside the join, early-exit merge-walk verify) — the
      // plan the direct operator runs, minus a second shingling pass
      val a = prefix.select(col("s").as("__sa"), col("id").as("ra"),
        col("n").as("__na"), col("pos").as("__pa"))
      val b = prefix.select(col("s").as("__sb"), col("id").as("rb"),
        col("n").as("__nb"), col("pos").as("__pb"))
      val alphaC = ceil((col("__na") + col("__nb")) * (threshold / (1.0 + threshold)) - lit(Eps))
      val cand = a.join(b,
          col("__sa") === col("__sb") &&
          col("ra") < col("rb") &&
          greatest(col("__na"), col("__nb")) * threshold <=
            least(col("__na"), col("__nb")) + lit(Eps) &&
          lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >= alphaC)
        .select("ra", "rb")
        .distinct()
      val alphaV = ceil((col("n_a") + col("n_b")) * (threshold / (1.0 + threshold)) - lit(Eps))
        .cast("int")
      val pairs = cand
        .join(reps.select(col("id").as("ra"), col("__sh").as("__sha"), col("n").as("n_a")), Seq("ra"))
        .join(reps.select(col("id").as("rb"), col("__sh").as("__shb"), col("n").as("n_b")), Seq("rb"))
        .withColumn("c", NativeHash.sortedIntersectAtLeast(col("__sha"), col("__shb"), alphaV))
        .filter(col("c") >= 0)
        .withColumn("jaccard", col("c") / (col("n_a") + col("n_b") - col("c")))
        .filter(col("jaccard") >= threshold)
        .select(col("ra"), col("rb"), col("jaccard"))
      return Left(DirectCore(hashed, docRep, pairs,
        persisted = Seq(hashed), cuts = collapseCut.toSeq :+ prefix))
    }

    // ---- 2. LSH contraction over representatives ----
    val buckets = reps
      .select(col("id"),
        posexplode(NativeHash.minhashBandBucketsHashed(col("__sh"), numHashes, numBands))
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
    // own label — with numBands hub chances per member), and step 5
    // finds every cross-cluster edge the contraction didn't take.
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val lshCand = buckets
      .withColumn("__hub", min(col("id")).over(bucketW))
      .filter(col("__hub") < col("id"))
      .select(col("__hub").as("id_a"), col("id").as("id_b")).distinct()
    val alphaOf = (na: String, nb: String) =>
      ceil((col(na) + col(nb)) * (threshold / (1.0 + threshold)) - lit(Eps)).cast("int")
    val edges1 = lshCand
      .join(reps.select(col("id").as("id_a"), col("__sh").as("__sha"), col("n").as("n_a")), Seq("id_a"))
      .join(reps.select(col("id").as("id_b"), col("__sh").as("__shb"), col("n").as("n_b")), Seq("id_b"))
      .filter(greatest(col("n_a"), col("n_b")) * threshold <=
        least(col("n_a"), col("n_b")) + lit(Eps))
      .withColumn("c", NativeHash.sortedIntersectAtLeast(
        col("__sha"), col("__shb"), alphaOf("n_a", "n_b")))
      .filter(col("c") >= 0)
      .filter(col("c") / (col("n_a") + col("n_b") - col("c")) >= threshold)
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
    // the route probe's persisted prefix index is REUSED as the
    // postings source (contraction labels join on by id) — the dfreq
    // count and per-doc rarity window run once per call, not twice
    val cc = clusterCandidatePlan(member, threshold, prune, requireDelta = false,
      prefix = Some(prefix))
    val pruned = Par.cut(cc.prunePlan(cc.candCl), "cluster: prune")

    // probe frames for the plan-shape pins (plans only — executing the
    // consumers re-runs the same stages): the FULLY LAZY prune over the
    // uncut candidate stream (both the prune cut and the candCl cut
    // would hide their subtrees behind leaves) and the connectivity
    // projection of the witness-split step 5
    val pruneProbe = cc.prunePlan(cc.candCl)
    val crossEdgesProbe = pruneProbe.where(col("__wit")).select(col("cl_a"), col("cl_b"))
      .union(verifiedMemberPairs(pruneProbe.where(!col("__wit")), member,
          cc.diffs, cc.anchors, threshold)
        .select(col("cl_a"), col("cl_b")).distinct())

    Right(Core(hashed, docRep, reps, repCluster, member, cc.anchors, cc.diffs, pruned,
      threshold,
      Probes(cc.cpostRaw, cc.candCl, pruneProbe, crossEdgesProbe),
      persisted = Seq(hashed),
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
    * member frame (id, __sh, n, cl[, __d]) — any grouping where each
    * cluster lies within one t-component is valid (contraction labels,
    * a previous run's FULL component labels, or singletons).
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
    *   - size: some member pair could satisfy t·max ≤ min only if
    *     t·max(minN_A, minN_B) ≤ min(maxN_A, maxN_B).
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
    * vacuous; the pair then just falls through to the member verify,
    * i.e. the prune degrades to `prune = false`, never to wrong.)
    *
    * WITNESS: when the walk passes it returns the EXACT |H_A∩H_B|
    * (countAtLeast early-exits only to say "can't reach α"), so
    * J(H_A,H_B) ≥ t is decided for free. Anchors are members, so a
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
      threshold: Double,
      prune: Boolean,
      requireDelta: Boolean,
      prefix: Option[DataFrame] = None): ClusterCand = {
    // the per-cluster delta flag exists ONLY in the incremental arm —
    // the batch path's plan stays byte-identical to pre-extraction
    val statCols = Seq(min("n").as("minN"), max("n").as("maxN"),
      count(lit(1)).as("nm")) ++
      (if (requireDelta) Seq(max(col("__d")).as("isDelta")) else Nil)
    val cStats = member.groupBy("cl").agg(statCols.head, statCols.tail: _*)
    // postings source: the caller's persisted prefix index when it has
    // one (the batch core's route probe — cluster labels join on by
    // id, identical rows to rebuilding with keep = cl since cl is
    // functionally dependent on id), else built here (incremental arm)
    val prefixed = prefix match {
      case Some(pf) => pf.join(member.select(col("id"), col("cl")), Seq("id"))
      case None =>
        val index = member.select(col("id"), explode(col("__sh")).as("s"), col("n"), col("cl"))
        JaccardDedup.prefixIndex(index, "id", threshold, keep = Seq("cl"))
    }
    val cpostRaw = prefixed
      .groupBy(col("s"), col("cl"))
      .agg(max(col("n") - col("pos")).as("mr"))
      .join(cStats, Seq("cl"))
    val cpost = Par.cut(cpostRaw, "cluster: postings")
    val alphaMin = ceil((col("__mna") + col("__mnb")) * (threshold / (1.0 + threshold)) - lit(Eps))
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
        least(col("__mxa"), col("__mxb")) + lit(Eps) >=
          greatest(col("__mna"), col("__mnb")) * threshold &&
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
    // null on the bypass/no-prune arms — the verify's routing flag) and
    // the per-cluster size stats the verify's per-side prefilters read
    val passCols = Seq(col("__mna"), col("__mnb"), col("__mxa"), col("__mxb"))
    def noWalk(cand: DataFrame): DataFrame = cand.select(
      Seq(col("cl_a"), col("cl_b"), lit(false).as("__wit"),
        lit(null).cast("int").as("__hc")) ++ passCols: _*)
    def prunePlan(cand: DataFrame): DataFrame =
      if (!prune) noWalk(cand)
      else cand.where(!bothSingle)
        .join(anchors.select(col("cl").as("cl_a"), col("__hsh").as("__ha"), col("__hn").as("__hna")), Seq("cl_a"))
        .join(anchors.select(col("cl").as("cl_b"), col("__hsh").as("__hb"), col("__hn").as("__hnb")), Seq("cl_b"))
        .join(maxD.select(col("cl").as("cl_a"), col("__maxd").as("__da")), Seq("cl_a"), "left")
        .join(maxD.select(col("cl").as("cl_b"), col("__maxd").as("__db")), Seq("cl_b"), "left")
        .withColumn("__hc", NativeHash.sortedIntersectAtLeast(col("__ha"), col("__hb"),
          (alphaMin - coalesce(col("__da"), lit(0)) - coalesce(col("__db"), lit(0)))
            .cast("int")))
        .filter(col("__hc") >= 0)
        .select(Seq(col("cl_a"), col("cl_b"),
          (col("__hc") / (col("__hna") + col("__hnb") - col("__hc")) >= threshold)
            .as("__wit"), col("__hc")) ++ passCols: _*)
        .union(noWalk(cand.where(bothSingle)))
    ClusterCand(cpostRaw, cpost, candCl, anchors, diffs, prunePlan)
  }
}
