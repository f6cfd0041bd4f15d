package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vectors
import graft.operators.SkewJoin

/** Salted skew-join equivalence + the vector-math utility functions. */
class SkewVectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // one pathologically hot key (90% of rows) plus a long tail
  private lazy val big = ((1 to 900).map(i => (1L, s"hot$i")) ++
    (1 to 100).map(i => (i.toLong + 1, s"tail$i"))).toDF("k", "v")
  private lazy val small = Seq((1L, "dim1"), (2L, "dim2"), (50L, "dim50")).toDF("k", "d")

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.select("k", "v", "d").collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  // the fixture's hot key is far below SkewJoin.TargetRowsPerSalt, so
  // saltedEquiJoin itself plans the plain join; the salted plan is
  // checked at a forced fan-out of 8
  test("salted inner join is multiset-identical to the plain join") {
    val plain = multiset(big.join(small, Seq("k")))
    assert(multiset(SkewJoin.saltedPlan(big, small, Seq("k"), 8, "inner")) == plain)
    assert(multiset(SkewJoin.saltedEquiJoin(big, small, Seq("k"), salts = 8)) == plain)
  }

  test("salted left join keeps unmatched big rows exactly once") {
    val plain = multiset(big.join(small, Seq("k"), "left"))
    assert(plain.exists { case (r, n) => r.isNullAt(2) && n == 1 })
    assert(multiset(SkewJoin.saltedPlan(big, small, Seq("k"), 8, "left")) == plain)
    assert(multiset(SkewJoin.saltedEquiJoin(big, small, Seq("k"), salts = 8,
      joinType = "left")) == plain)
  }

  test("salt actually spreads the hot key across buckets") {
    val salts = big.withColumn("__salt", SkewJoin.saltOf(big, 8))
      .filter(col("k") === 1L).select("__salt").distinct().count()
    assert(salts > 4, s"hot key landed in only $salts of 8 salt buckets")
  }

  test("vector math: dot, norm, cosine, l2 against hand-computed values") {
    val df = Seq((Seq(3f, 4f), Seq(4f, 3f))).toDF("a", "b")
    val r = df.select(
      Vectors.dot(col("a"), col("b")).as("d"),
      Vectors.norm(col("a")).as("n"),
      Vectors.cosine(col("a"), col("b")).as("c"),
      Vectors.l2Distance(col("a"), col("b")).as("l2")
    ).as[(Double, Double, Double, Double)].head()
    assert(r._1 == 24.0)
    assert(r._2 == 5.0)
    assert(math.abs(r._3 - 24.0 / 25.0) < 1e-12)
    assert(math.abs(r._4 - math.sqrt(2.0)) < 1e-12)
  }

  test("cosine of a zero vector is 0, not NaN") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    assert(df.select(Vectors.cosine(col("a"), col("b"))).as[Double].head() == 0.0)
  }
}
