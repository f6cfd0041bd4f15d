package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Absolute set-overlap join (|A∩B| ≥ k pairs) with a
  * replication-proof candidate path: [[JaccardDedup.overlapJoin]]'s
  * semantics run through [[ClusterDedup]]'s clustered pair core under
  * the `Overlap(k)` predicate — α = k, prefix n − k + 1, sets shorter
  * than k never pair, score = overlap.
  *
  * The direct operator's prefix self-join costs Σ_e df(e)² over prefix
  * element frequencies. On boilerplate-heavy corpora g near-identical
  * copies multiply every df by g → candidates grow g² (the r13 10×
  * soak measured 29.7× wall on 10× data — the one super-linear query
  * in the suite). The core generates candidates at CLUSTER granularity
  * (exact-set collapse, verified-LSH star contraction, (element,
  * cluster) DISTINCT rarity-order postings, the member-anchor bound)
  * and only verified member pairs pay doc-level work; an adaptive
  * route runs the direct prefix self-join over the collapsed sets
  * where contraction cannot pay. With k absolute rather than scaled to
  * doc size, the anchor bound is what keeps big replica clusters
  * prunable: anchors carry each element at most once, where member
  * unions would share enough boilerplate to pass every cluster pair.
  *
  * Contract: `setCol` must be a sorted-distinct `array<long>` (e.g.
  * [[graft.functions.NativeHash.shingleHashes]] output) — same as the
  * direct operator. Output is row-identical to
  * `overlapJoin(df, idCol, setCol, k)`: (id_a < id_b, overlap).
  */
object OverlapJoin {

  def pairsClustered(
      df: DataFrame,
      idCol: String,
      setCol: Column,
      minOverlap: Int,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      adaptive: Boolean = true): DataFrame = {
    val (pairs, seal) = ClusterDedup.pairsClusteredPlan(df, idCol, setCol,
      ClusterDedup.Overlap(minOverlap), numHashes, numBands, prune, adaptive)
    seal(pairs)
  }

  /** Bounded-output top-k overlap retrieval: for each document, its `k`
    * highest-overlap partners (ties broken by ascending partner id)
    * among pairs with overlap ≥ `minOverlap`. Output columns
    * (id, partner_id, overlap, rk), one row per kept neighbor — see
    * [[ClusterDedup.topKPlan]].
    */
  def topK(
      df: DataFrame,
      idCol: String,
      setCol: Column,
      minOverlap: Int,
      k: Int,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      viaAgg: Boolean = true,
      adaptive: Boolean = true): DataFrame =
    ClusterDedup.sealTopK(topKPlan(df, idCol, setCol, minOverlap, k,
      numHashes, numBands, prune, viaAgg, adaptive))

  /** [[topK]] split before its seal, so PlanShapeSpec can pin the plan
    * shape live (the sealed frame's plan is just the checkpoint scan).
    */
  private[graft] def topKPlan(
      df: DataFrame,
      idCol: String,
      setCol: Column,
      minOverlap: Int,
      k: Int,
      numHashes: Int = 64,
      numBands: Int = 16,
      prune: Boolean = true,
      viaAgg: Boolean = true,
      adaptive: Boolean = true): (DataFrame, DataFrame => DataFrame) =
    ClusterDedup.topKPlan(df, idCol, setCol, ClusterDedup.Overlap(minOverlap), k,
      numHashes, numBands, prune, viaAgg, adaptive)
}
