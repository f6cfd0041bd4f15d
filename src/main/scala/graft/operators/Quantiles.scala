package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** EXACT grouped quantiles with BOUNDED memory — the scale-safe answer
  * to `percentile`'s buffer-every-value aggregation (which OOMs on a
  * 100 TB group) when "approx" is not acceptable.
  *
  * Successive histogram refinement: each round bucketizes every
  * target's live interval into `buckets` equal-width cells in ONE
  * broadcast-join + aggregate over the (persisted) input, keeping
  * per-cell (count, min, max). The driver walks the ≤ buckets-row
  * histogram to the cell holding the wanted rank and recurses on that
  * cell's [min, max] — so resolution multiplies by ≥`buckets` per
  * round, a cell whose min == max IS the order statistic (mass points
  * resolve without ever enumerating duplicates), and a cell whose
  * count ≤ `collectLimit` finishes by exact selection on a bounded
  * collect. State per target is three scalars; executor memory is
  * independent of group size. Cost: ~2-4 scans of the value column —
  * the price of exactness without the buffer.
  *
  * All remaining-rank bookkeeping is integral; bucket boundaries are
  * only ever *data values* (per-cell min/max), so the interval filters
  * reselect exactly the cell's rows (bucket index is monotone in the
  * value, cells are value-intervals).
  */
object Quantiles {

  private case class Target(group: String, rank: Long)
  private case class State(lo: Double, hi: Double, r: Long)

  private def prepare(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)

  private def refine(
      in: DataFrame,
      targets: Map[String, ((Double, Double), Seq[Long])],
      buckets: Int, collectLimit: Int, maxIter: Int)
      : Map[String, Map[Long, Double]] = {
    val spark = in.sparkSession
    import spark.implicits._
    var live = targets.toSeq.flatMap { case (g, ((lo, hi), ranks)) =>
      ranks.distinct.map(k => Target(g, k) -> State(lo, hi, k))
    }.toMap
    val resolved = scala.collection.mutable.Map[Target, Double]()
    var toCollect = Map[Target, State]()
    var iter = 0
    while (live.nonEmpty) {
      require(iter < maxIter,
        s"quantile refinement did not converge in $maxIter rounds (${live.size} targets live)")
      iter += 1
      // one histogram job for ALL live targets: tid joins by group,
      // rows outside a target's interval drop in the join condition
      val liveSeq = live.toSeq
      val tgt = liveSeq.zipWithIndex.map { case ((t, st), i) =>
        (i, t.group, st.lo, st.hi)
      }.toDF("tid", "tg", "lo", "hi")
      val width = (col("hi") - col("lo")) / buckets
      val idx = least(lit(buckets - 1),
        floor((col("v") - col("lo")) / width)).cast("int")
      val hist = in.join(broadcast(tgt),
          col("g") === col("tg") && col("v").between(col("lo"), col("hi")))
        .select(col("tid"),
          when(col("hi") === col("lo"), lit(0)).otherwise(idx).as("b"), col("v"))
        .groupBy("tid", "b")
        .agg(count(lit(1)).as("n"), min("v").as("bl"), max("v").as("bh"))
        .collect()
        .groupBy(_.getInt(0))
      val byTid = liveSeq.zipWithIndex.map { case ((t, st), i) => i -> (t, st) }.toMap
      val next = scala.collection.mutable.Map[Target, State]()
      byTid.foreach { case (tid, (t, st)) =>
        val cells = hist(tid).map(r =>
          (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1)
        var rem = st.r
        val cell = cells.find { case (_, n, _, _) =>
          if (rem < n) true else { rem -= n; false }
        }.get
        val (_, n, bl, bh) = cell
        if (bl == bh) resolved(t) = bl
        else if (n <= collectLimit) toCollect += t -> State(bl, bh, rem)
        else next(t) = State(bl, bh, rem)
      }
      live = next.toMap
    }
    if (toCollect.nonEmpty) {
      val collectSeq = toCollect.toSeq
      val tgt = collectSeq.zipWithIndex.map { case ((t, st), i) =>
        (i, t.group, st.lo, st.hi)
      }.toDF("tid", "tg", "lo", "hi")
      val vals = in.join(broadcast(tgt),
          col("g") === col("tg") && col("v").between(col("lo"), col("hi")))
        .select(col("tid"), col("v"))
        .collect().groupBy(_.getInt(0))
      collectSeq.zipWithIndex.foreach { case ((t, st), tid) =>
        val sorted = vals(tid).map(_.getDouble(1)).sorted
        resolved(t) = sorted(st.r.toInt)
      }
    }
    resolved.toSeq.groupBy(_._1.group)
      .map { case (g, xs) => g -> xs.map { case (t, v) => t.rank -> v }.toMap }
  }

  /** Multi-VALUE-COLUMN [[exactQuantiles]] over ONE prepared persist
    * and ONE refinement loop (r18, guide §2.4): calling exactQuantiles
    * once per value column scans, persists and refines the same table
    * per column — quantiles_scalable paid two full pipelines for two
    * columns of one lineitem scan. Here the value columns are STACKED
    * map-side into (group ⊕ column, value) rows, so the bounds pass,
    * every histogram round and the final selection price all targets
    * together; the refinement engine is byte-identical (only the group
    * key encoding differs), so each (group, column, p) resolves to
    * exactly the value the per-column call returns.
    *
    * Contract: group values must be non-null and must not contain the
    * NUL separator (the composite key must split unambiguously).
    * Returns (group → valueCol → p → quantile).
    */
  def exactQuantilesCols(
      df: DataFrame, groupCol: String, psByCol: Seq[(String, Seq[Double])],
      buckets: Int = 1024, collectLimit: Int = 4096, maxIter: Int = 256)
      : Map[String, Map[String, Map[Double, Double]]] = {
    require(psByCol.nonEmpty, "psByCol must be non-empty")
    val sep = "\u0000"
    // widen the (projected) input before the stack: a small parquet
    // table arrives as a handful of splits and every refinement round's
    // histogram job would otherwise run that narrow (measured 3-wide at
    // sf0.1); the stack/filter sit ABOVE the exchange, so the persist —
    // what every round scans — is cores-wide
    val slim = Par.widen(
      df.select((groupCol +: psByCol.map(_._1)).distinct.map(col): _*))
    val stacked = slim.select(col(groupCol).cast("string").as("g0"),
        explode(array(psByCol.map { case (c, _) =>
          struct(lit(c).as("c"), col(c).cast("double").as("v")) }: _*)).as("x"))
      .select(concat(col("g0"), lit(sep), col("x.c")).as("g"), col("x.v").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val psOf = psByCol.toMap
    try {
      val gstats = stacked.groupBy("g")
        .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val targets = gstats.map { case (g, (n, lo, hi)) =>
        val ps = psOf(g.substring(g.lastIndexOf(sep) + 1))
        g -> ((lo, hi), ps.flatMap { p =>
          val h = (n - 1) * p
          Seq(math.floor(h).toLong, math.ceil(h).toLong)
        }.distinct)
      }
      val stats = refine(stacked, targets, buckets, collectLimit, maxIter)
      gstats.toSeq.map { case (g, (n, _, _)) =>
        val i = g.lastIndexOf(sep)
        val (g0, c) = (g.substring(0, i), g.substring(i + 1))
        (g0, c, psOf(c).map { p =>
          val h = (n - 1) * p
          val k0 = math.floor(h).toLong
          val k1 = math.ceil(h).toLong
          val v0 = stats(g)(k0)
          val v1 = stats(g)(k1)
          // same interpolation shape as exactQuantiles (ulp-exact vs
          // Spark percentile / DuckDB quantile_cont)
          p -> (if (k0 == k1) v0 else (k1 - h) * v0 + (h - k0) * v1)
        }.toMap)
      }.groupBy(_._1).map { case (g0, xs) =>
        g0 -> xs.map { case (_, c, m) => c -> m }.toMap }
    } finally stacked.unpersist()
  }

  /** Exact continuous-interpolation quantiles (the `percentile` /
    * `quantile_cont` definition: h = (n−1)·p, interpolate between the
    * ⌊h⌋-th and ⌈h⌉-th order statistics) on the refinement engine —
    * same values as Spark's buffering `percentile`, bounded memory.
    * ONE pass gathers count+min+max per group; the projection is
    * persisted once across all rounds. Returns (group → p → quantile).
    */
  def exactQuantiles(
      df: DataFrame, groupCol: String, valueCol: String, ps: Seq[Double],
      buckets: Int = 1024, collectLimit: Int = 4096, maxIter: Int = 256)
      : Map[String, Map[Double, Double]] = {
    val in = prepare(df, groupCol, valueCol)
    try {
      val gstats = in.groupBy("g")
        .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val targets = gstats.map { case (g, (n, lo, hi)) =>
        g -> ((lo, hi), ps.flatMap { p =>
          val h = (n - 1) * p
          Seq(math.floor(h).toLong, math.ceil(h).toLong)
        }.distinct)
      }
      val stats = refine(in, targets, buckets, collectLimit, maxIter)
      gstats.map { case (g, (n, _, _)) =>
        g -> ps.map { p =>
          val h = (n - 1) * p
          val k0 = math.floor(h).toLong
          val k1 = math.ceil(h).toLong
          val v0 = stats(g)(k0)
          val v1 = stats(g)(k1)
          // Spark percentile's EXACT interpolation shape — the weighted
          // form (k1−h)·v0 + (h−k0)·v1, which DuckDB's quantile_cont
          // also uses. The algebraically-equal v0 + f·(v1−v0) differs
          // in the last ulp and fails a full-precision hash compare.
          p -> (if (k0 == k1) v0 else (k1 - h) * v0 + (h - k0) * v1)
        }.toMap
      }
    } finally in.unpersist()
  }
}
