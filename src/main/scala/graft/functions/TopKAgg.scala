package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded-memory streaming top-k neighbors: the partial-aggregating
  * alternative to a `row_number() <= k` window for per-key top-k over a
  * huge stream.
  *
  * Why it exists (measured, r14 100× soak): the window plan's partial
  * WindowGroupLimit still needs a per-task LOCAL SORT of the full
  * input — Ω(rows·log rows) — which on the 100×-replicated pair stream
  * cost 2.9× the pair LISTING's wall (1,380 s vs 475 s). A top-k
  * AGGREGATE does the same bounding work in one hash pass:
  * Ω(rows·log k) inserts into a k-bounded sorted buffer, map-side
  * combined (each task emits ≤ k rows per key it saw), merged
  * associatively after a shuffle of only the per-task survivors. No
  * sort of the stream, ever. State is O(k) per key — at 100 TB the
  * per-partition hash map holds (distinct keys in partition) × O(k)
  * entries, and ObjectHashAggregate's sort-based fallback (threshold
  * raised in GraftSession — the default 128 groups would abandon
  * hashing immediately on any real corpus) still bounds memory if a
  * pathological partition concentrates billions of keys.
  *
  * Ordering contract: entries rank by (score DESC, id ASC) — the same
  * deterministic tie-break as a `row_number()` window ordered that way,
  * so the result matches an oracle written as that window row for row.
  */
object TopKAgg {

  /** Aggregator keeping the top `k` (id, score) pairs per group.
    * Buffer: parallel arrays sorted by (score DESC, id ASC), length ≤ k.
    */
  final class TopNeighbors(k: Int)
      extends Aggregator[(Long, Double), (Array[Long], Array[Double]), Seq[(Long, Double)]] {
    require(k >= 1, "k must be >= 1")

    override def zero: (Array[Long], Array[Double]) =
      (Array.emptyLongArray, Array.emptyDoubleArray)

    /** True iff (idA, sA) ranks strictly before (idB, sB). */
    @inline private def before(idA: Long, sA: Double, idB: Long, sB: Double): Boolean =
      sA > sB || (sA == sB && idA < idB)

    override def reduce(
        b: (Array[Long], Array[Double]),
        row: (Long, Double)): (Array[Long], Array[Double]) = {
      val (ids, scores) = b
      val n = ids.length
      val (id, s) = row
      if (n == k && !before(id, s, ids(n - 1), scores(n - 1))) return b
      // insertion point by linear scan — k is small (single digits);
      // a binary search would save nothing against the copy below
      var pos = 0
      while (pos < n && before(ids(pos), scores(pos), id, s)) pos += 1
      val m = math.min(n + 1, k)
      val nIds = new Array[Long](m); val nScores = new Array[Double](m)
      System.arraycopy(ids, 0, nIds, 0, pos)
      System.arraycopy(scores, 0, nScores, 0, pos)
      nIds(pos) = id; nScores(pos) = s
      val tail = m - pos - 1
      if (tail > 0) {
        System.arraycopy(ids, pos, nIds, pos + 1, tail)
        System.arraycopy(scores, pos, nScores, pos + 1, tail)
      }
      (nIds, nScores)
    }

    override def merge(
        a: (Array[Long], Array[Double]),
        b: (Array[Long], Array[Double])): (Array[Long], Array[Double]) = {
      val (ia, sa) = a; val (ib, sb) = b
      if (ib.isEmpty) return a
      if (ia.isEmpty) return b
      val m = math.min(ia.length + ib.length, k)
      val ids = new Array[Long](m); val scores = new Array[Double](m)
      var i = 0; var j = 0; var o = 0
      while (o < m) {
        val takeA = j >= ib.length ||
          (i < ia.length && before(ia(i), sa(i), ib(j), sb(j)))
        if (takeA) { ids(o) = ia(i); scores(o) = sa(i); i += 1 }
        else { ids(o) = ib(j); scores(o) = sb(j); j += 1 }
        o += 1
      }
      (ids, scores)
    }

    override def finish(r: (Array[Long], Array[Double])): Seq[(Long, Double)] =
      r._1.toSeq.zip(r._2.toSeq)

    override def bufferEncoder: Encoder[(Array[Long], Array[Double])] =
      ExpressionEncoder[(Array[Long], Array[Double])]()
    override def outputEncoder: Encoder[Seq[(Long, Double)]] =
      ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** Column form: array<struct<_1: id, _2: score>> of the group's top-k
    * by (score DESC, id ASC) — posexplode it for (rank-1, entry) rows.
    */
  def topNeighbors(id: Column, score: Column, k: Int): Column =
    udaf(new TopNeighbors(k), ExpressionEncoder[(Long, Double)]())
      .apply(id, score)

  /** Shared retrieval plumbing for the pair-listing operators
    * (ClusterDedup.topKBy / OverlapJoin.topK): symmetrize a canonical
    * (id_a < id_b, score) pair stream in ONE pass — a self-union of
    * projections would duplicate the whole upstream verify subtree —
    * then bound it to each id's top `k` partners by (score DESC,
    * partner ASC), rank 1-based in `rk`. One definition, so the two
    * operators' rank/tie semantics (and with them the shared-oracle
    * guarantee) cannot drift apart.
    *
    * The bound is the sort-free [[TopNeighbors]] hash aggregate, not a
    * row_number window, whose partial WindowGroupLimit local-sorts every
    * task's full input. Integer scores ride through the aggregator's
    * double losslessly (|score| ≪ 2⁵³) and are cast back.
    */
  private[graft] def perDocTopK(pairs: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val sym = pairs.select(
        explode(array(
          struct(col("id_a").as("id"), col("id_b").as("partner_id")),
          struct(col("id_b").as("id"), col("id_a").as("partner_id")))).as("e"),
        col(scoreCol))
      .select(col("e.id").as("id"), col("e.partner_id").as("partner_id"),
        col(scoreCol))
    topKRows(sym, "id", "partner_id", scoreCol, "rk", k)
  }

  /** The bounding block of every top-k plan: each `key`'s `k` best
    * (`partner`, `score`) rows by (score DESC, partner ASC) through one
    * [[topNeighbors]] aggregate, ranked 1-based in `rankCol`. Output
    * (key, partner, score, rankCol), the score in its input type. One
    * definition, so every top-k operator shares the comparator and the
    * rank rule.
    */
  private[graft] def topKRows(df: DataFrame, key: String, partner: String, score: String,
      rankCol: String, k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(topNeighbors(col(partner), col(score).cast("double"), k).as("__top"))
      .select(col(key), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col(key), col("__e._1").as(partner),
        col("__e._2").cast(df.schema(score).dataType).as(score),
        (col("__pos") + 1).cast("int").as(rankCol))

  /** Re-root `df` into a CLONED session whose ObjectHashAggregate
    * sort-based fallback threshold is raised to 4M groups/partition.
    * The default (128) abandons hashing immediately on any real corpus
    * — silently reintroducing the stream sort [[TopNeighbors]] exists
    * to remove — but raising it on the CALLER's session would strip
    * the only memory guard off unbounded-buffer object aggregates
    * (collect_list, exact percentile) for every query planned there
    * while the raise is live, including concurrent ones on a shared
    * multi-threaded session (and a set/restore scope can restore stale
    * values under nesting). `newSession()` shares the SparkContext and
    * cached data but owns an ISOLATED SQLConf, so the raise is visible
    * only to plans materialized through the returned frame — the
    * caller's session never changes. O(k) buffers at 4M groups are
    * ~hundreds of MB worst case per task; the fallback still exists
    * above that.
    *
    * One clone is cached per parent session (weak keys — a retired
    * parent lets its clone GC too) instead of a fresh SessionState per
    * call, and the parent's CURRENT runtime SQL conf is re-synced onto
    * the clone on every call — `newSession()` alone inherits only
    * builder-time (SparkConf-backed) entries, so a caller's runtime
    * tuning (e.g. `spark.sql.shuffle.partitions`) would otherwise be
    * silently absent when the top-k frame materializes. Static/
    * non-settable entries are skipped.
    */
  private val headroomClones =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private[graft] def withHashAggHeadroom(df: DataFrame): DataFrame = {
    val parent = df.sparkSession
    val clone = headroomClones.synchronized {
      var c = headroomClones.get(parent)
      if (c == null) { c = parent.newSession(); headroomClones.put(parent, c) }
      c
    }
    parent.conf.getAll.foreach { case (key, v) =>
      if (!clone.conf.getOption(key).contains(v))
        try clone.conf.set(key, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf
    }
    clone.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 22).toString)
    org.apache.spark.sql.graft.Shims.ofRows(clone, df.queryExecution.logical)
  }
}
