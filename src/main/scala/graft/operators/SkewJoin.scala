package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for pathological key skew.
  *
  * AQE's skew-join (enabled in GraftSession) splits oversized shuffle
  * partitions at runtime and covers moderate skew for free. Salting is
  * the explicit remedy for the remaining case: a single key so hot its
  * rows exceed what one task should hold even after AQE splitting, or a
  * build side that must stay hash-partitioned (no AQE rewrite possible).
  *
  * Mechanics: every big-side row gets a deterministic salt in
  * [0, salts) derived from the whole row (stable across task retries —
  * `rand()` would not be); the small side is replicated `salts` times;
  * the join key becomes (keys…, salt). A hot key's rows now spread
  * across `salts` reducers. Each (big, small) match meets exactly once
  * — on the big row's salt — so inner and left-outer results are
  * multiset-identical to the unsalted join (pinned in SkewVectorsSpec).
  */
object SkewJoin {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Rows of the hottest key one reducer should absorb before the
    * fan-out grows (r18): well under what a task handles in seconds,
    * well over anything a non-skewed key reaches.
    */
  private[operators] val TargetRowsPerSalt = 4L * 1000 * 1000

  /** Deterministic Bernoulli sample fraction for the skew probe. */
  private val ProbeFraction = 0.01

  /** Effective fan-out from an OBSERVED skew statistic (r18, guide
    * §2.5): `salts` is the CAP, not the fan-out. A fixed fan-out
    * replicates the small side salts× and forces the salted exchange
    * even when no key is hot — at gate scale that replication and the
    * (keys, salt) shuffle were the whole cost of the row (TPC-H's max
    * key multiplicity is 7). One seeded 1% Bernoulli sample of the big
    * side's keys estimates the hottest key's row count; fan-out =
    * ceil(estMax / TargetRowsPerSalt) clamped to [1, salts]. At
    * fan-out 1 the plan IS the plain equi-join — no salt column, no
    * replication, and AQE is free to broadcast the small side. A
    * genuinely hot key (≫ millions of rows) cannot hide from a 1%
    * sample; a key hot enough to matter but missed by the estimate
    * still has AQE's skew-join splitting behind it. Every fan-out is
    * multiset-identical (SkewVectorsSpec pins salted == plain), so the
    * estimate only steers cost, never results.
    */
  private[operators] def effectiveSalts(estMaxKeyRows: Long, cap: Int): Int =
    math.max(1L, math.min(cap.toLong,
      (estMaxKeyRows + TargetRowsPerSalt - 1) / TargetRowsPerSalt)).toInt

  /** Salted equi-join of `big` and `small` on `keys`, its fan-out
    * capped at `salts` and picked from the data (see [[effectiveSalts]]).
    *
    * Contract: unless `salts` is 1, one eager Spark job, labelled
    * `skewjoin: key probe`, samples `big`'s keys before this returns;
    * the join itself stays lazy. At fan-out 1 the result is the plain
    * `big.join(small, keys, joinType)`, otherwise [[saltedPlan]].
    */
  def saltedEquiJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      salts: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      "salting supports inner/left joins (salt lives on the big side)")
    val eff = if (salts == 1) 1 else {
      val maxRow = graft.operators.Par.labeled(big.sparkSession, "skewjoin: key probe")(
        big.select(keys.map(col): _*).sample(withReplacement = false, ProbeFraction, seed = 42)
          .groupBy(keys.map(col): _*).count()
          .agg(max("count").as("m")).head())
      val estMax =
        if (maxRow.isNullAt(0)) 0L else (maxRow.getLong(0) / ProbeFraction).toLong
      val e = effectiveSalts(estMax, salts)
      log.info(s"saltedEquiJoin probe: estMaxKeyRows=$estMax -> fanOut=$e (cap $salts)")
      e
    }
    if (eff == 1) big.join(small, keys, joinType) else saltedPlan(big, small, keys, eff, joinType)
  }

  /** A big-side row's salt in [0, fanOut), hashed from the whole row. */
  private[graft] def saltOf(big: DataFrame, fanOut: Int): Column =
    pmod(xxhash64(struct(big.columns.map(col): _*)), lit(fanOut)).cast("int")

  /** The salted plan at a given `fanOut` > 1: big rows keyed by
    * (keys, [[saltOf]]), the small side replicated once per salt.
    */
  private[graft] def saltedPlan(big: DataFrame, small: DataFrame, keys: Seq[String],
      fanOut: Int, joinType: String): DataFrame =
    big.withColumn("__salt", saltOf(big, fanOut))
      .join(small.withColumn("__salt", explode(sequence(lit(0), lit(fanOut - 1)))),
        keys :+ "__salt", joinType)
      .drop("__salt")
}
