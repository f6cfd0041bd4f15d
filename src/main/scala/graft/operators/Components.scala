package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair/edge list — the step a
  * real dedup pipeline needs after near-dup pair generation: pairs are
  * edges, a duplicate *cluster* is a connected component, and the kept
  * ("canonical") document is the component minimum.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * is two narrow-key groupBy+join passes over the edge list; the edge
  * set contracts toward a forest of stars rooted at each component's
  * minimum id in O(log^2 n) rounds. Scale shape: no driver-side graph,
  * no per-node adjacency state — every step is an ordinary shuffle on
  * node ids, so 10^11-edge pair sets partition like any other join.
  * Lineage is cut per round with [[Par.cut]]: a RELIABLE
  * `checkpoint()` when the session has a checkpoint dir (the
  * production setting — survives executor loss), else eager
  * localCheckpoint.
  *
  * Edge sets under a size threshold skip the rounds: one bounded
  * collect feeds a driver union-find, and its labels are returned as a
  * driver-local relation with no further job. Only the distributed
  * branch seals its labels with a cut.
  */
object Components {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (id, component) for every vertex, component = min id reachable.
    * `vertices` (single id column, any name) adds isolated nodes that
    * appear in no edge — they map to themselves.
    *
    * Adaptive execution (same idea as AQE's broadcast threshold): the
    * normalized, deduped edge list is cut once, self-loops included so
    * the cut also carries every edge vertex. One bounded
    * `limit(localThreshold + 1)` collect of that cut picks the branch.
    * When the edge set fits `localThreshold` rows (default 2²⁰ ≈
    * ~16 MB of id pairs — a bounded driver collect, like the IVF
    * centroid sample), a driver union-find labels every endpoint in
    * one pass and the driver labels ARE the result: a local relation
    * with `vertices = None`, one lazy broadcast left join of the
    * vertex set with `Some`. No checksum and no output cut run on this
    * branch. Larger graphs get the distributed large-star/small-star
    * rounds, which checksum each round and seal their labels with one
    * cut (`components: labels out`). Dedup pair graphs are usually
    * corpus-tiny; the distributed branch is the 100 TB posture.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      vertices: Option[DataFrame] = None, maxIter: Int = 25,
      localThreshold: Long = 1L << 20): DataFrame = {
    val idT = edges.schema(srcCol).dataType
    // normalize: undirected, deduped; self-loops stay so the one cut
    // carries the edge vertex set too
    val all = Par.cut(edges
      .select(least(col(srcCol), col(dstCol)).cast(idT).as("dst"),
              greatest(col(srcCol), col(dstCol)).cast(idT).as("src"))
      .distinct())
    // clamp so `limit`'s Int bound cannot overflow
    val cap = math.max(0L, math.min(localThreshold, Int.MaxValue - 1L))
    val head = all.limit(cap.toInt + 1).collect()
    if (head.length <= cap) {
      freeCheckpoint(all)
      val labels = localLabels(all.sparkSession, head, idT)
      vertices.fold(labels) { v =>
        v.toDF("id").union(labels.select("id")).distinct()
          .join(broadcast(labels), Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      }
    } else distributedLabels(all, vertices, maxIter)
  }

  /** The distributed branch over the cut `all` (normalized edges with
    * self-loops): alternation rounds until the edge-set checksum is
    * stable, then one cut of (vertex, label) for every vertex of `all`
    * and `vertices`.
    */
  private def distributedLabels(
      all: DataFrame, vertices: Option[DataFrame], maxIter: Int): DataFrame = {
    var e = all.where(col("src") =!= col("dst"))
    var prev = checksum(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = Par.cut(smallStar(largeStar(e)))
      val cur = checksum(next)
      // round 0's edge set is a filter over `all`, still read below
      if (iter > 0) freeCheckpoint(e)
      e = next
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged)
      log.warn(s"connectedComponents: edge-set checksum did not converge in $maxIter " +
        "alternation rounds — labels below are the groupBy-min of the last edge set " +
        "and may split components; raise maxIter")
    // at the fixpoint every non-root points straight at its component
    // min; groupBy(min) also makes pre-convergence output well-defined
    val labels = e.groupBy(col("src").as("id")).agg(min("dst").as("component"))
    val vs = {
      // self-loops are still in `all`, so self-loop-only nodes survive
      val fromEdges = all.select(explode(array(col("src"), col("dst"))).as("id"))
      vertices.map(v => fromEdges.union(v.toDF("id"))).getOrElse(fromEdges)
    }.distinct()
    // materialize the (vertex-sized) result so every intermediate
    // checkpoint — the per-round edge sets plus the normalized cut —
    // can be freed NOW instead of lingering until RDD GC; the one
    // surviving checkpoint is the result itself
    val out = Par.cut(vs.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")),
      "components: labels out")
    Seq(all, e).foreach(freeCheckpoint)
    out
  }

  /** Release a prior iteration's cut (blocks + any reliable
    * checkpoint files) via [[Par.free]]; safe no-op on
    * non-checkpointed frames. */
  private def freeCheckpoint(df: DataFrame): Unit = Par.free(df)

  /** Driver union-find over a bounded edge list. Union-by-min with path
    * compression: the smaller id always stays root, so each final root
    * IS its component's minimum. Both endpoints of every edge are
    * registered, so every vertex — a component minimum that is never a
    * child, a self-loop-only node — gets exactly one row.
    */
  private def localLabels(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      idT: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      // path compression
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    @inline def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    edges.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val rows = parent.keys.toArray.map(x => org.apache.spark.sql.Row(x, find(x)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idT),
      org.apache.spark.sql.types.StructField("component", idT)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Large-star: every node u links each strictly-larger neighbor to
    * the minimum of its closed neighborhood min(N(u) ∪ {u}).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val b = bidir(e)
    val m = b.groupBy("src").agg(least(min("dst"), first("src")).as("m"))
    b.join(m, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: orient edges toward smaller ids; every node links its
    * smaller neighbors (and itself) to the smallest of them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = bidir(e).where(col("dst") < col("src"))
    val m = o.groupBy("src").agg(min("dst").as("m"))
    val nbrs = o.join(m, "src")
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val self = m.select(col("src"), col("m").as("dst"))
    nbrs.union(self).where(col("src") =!= col("dst")).distinct()
  }

  private def bidir(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** Order-insensitive edge-set fingerprint: one tiny agg job per round
    * (the input is checkpointed, so this re-reads cached blocks).
    * XOR, not SUM — overflow-free under ANSI, and the rows are distinct
    * so XOR cancellation of duplicate rows can't occur.
    */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
