package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeHash

/** plans/IntersectBoundRewrite: threshold predicates over the full
  * sorted-intersection count must plan as the early-exit walk, with
  * row-identical results across every comparison form and boundary.
  */
class IntersectRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // sorted-distinct long arrays with known pairwise intersections —
  // round-tripped through parquet so ConvertToLocalRelation cannot
  // constant-fold the predicates out of the optimized plan under test
  private lazy val df = {
    val tmp = java.nio.file.Files.createTempDirectory("isect").toString + "/t.parquet"
    Seq(
      (1L, Seq(1L, 2L, 3L, 4L), Seq(2L, 4L, 6L)),            // |∩| = 2
      (2L, Seq(1L, 5L), Seq(2L, 6L)),                        // |∩| = 0
      (3L, Seq(10L, 20L, 30L), Seq(10L, 20L, 30L)),          // |∩| = 3
      (4L, Seq.empty[Long], Seq(1L, 2L)),                    // |∩| = 0
      (5L, null.asInstanceOf[Seq[Long]], Seq(1L))            // NULL
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
  }

  private def optimized(q: org.apache.spark.sql.DataFrame): String =
    q.queryExecution.optimizedPlan.toString

  test("SQL >= form rewrites to sorted_intersect_at_least and keeps results") {
    df.createOrReplaceTempView("isect")
    val q = spark.sql("SELECT id FROM isect WHERE sorted_intersect_count(a, b) >= 2 ORDER BY id")
    val p = optimized(q)
    assert(p.contains("sorted_intersect_at_least"), s"not rewritten:\n$p")
    assert(!p.contains("sorted_intersect_count("), s"full count survived in predicate:\n$p")
    assert(q.as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("DataFrame double-RHS prune form (the ClusterDedup shape) rewrites and matches") {
    // count >= n·t − ε with a per-row numeric RHS — a size-scaled bound
    val q = df.filter(NativeHash.sortedIntersectCount(col("a"), col("b")) >=
      size(col("a")) * 0.5 - lit(1e-9)).select("id")
    val p = optimized(q)
    assert(p.contains("sorted_intersect_at_least"), s"not rewritten:\n$p")
    // |∩|≥2 vs 4·0.5=2 → id 1 passes; |∩|=3 vs 1.5 → id 3; empty: 0 >= 0−ε → id 4
    assert(q.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("strict >, mirrored <=, and zero/negative bounds agree with the unrewritten truth") {
    val forms = Seq(
      NativeHash.sortedIntersectCount(col("a"), col("b")) > lit(2),           // only id 3
      lit(2) <= NativeHash.sortedIntersectCount(col("a"), col("b")),          // ids 1, 3
      NativeHash.sortedIntersectCount(col("a"), col("b")) >= lit(0),          // all non-null
      NativeHash.sortedIntersectCount(col("a"), col("b")) >= lit(-5))         // all non-null
    val expected = Seq(Seq(3L), Seq(1L, 3L), Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L))
    forms.zip(expected).foreach { case (pred, want) =>
      val q = df.filter(pred).select("id")
      assert(optimized(q).contains("sorted_intersect_at_least"), s"not rewritten: $pred")
      assert(q.as[Long].collect().sorted.toSeq == want, s"wrong rows for $pred")
    }
  }

  test("NULL per-row threshold keeps three-valued logic in a projection (null guard)") {
    // NOT(count >= x) never reaches the rule — Spark canonicalizes it
    // to `count < x`, an upper bound the early-exit walk can't serve
    // (correctly left alone). The null-sensitive context that DOES
    // rewrite is a projected boolean: `count >= x AS flag` must be
    // NULL where x is NULL — an unguarded clamp turns NULL into
    // Int.MaxValue and flag into FALSE, a visible value flip.
    val x = when(col("id") % 2 === 0, lit(null).cast("double"))
      .otherwise(lit(3.0))
    val q = df.select(col("id"),
      (NativeHash.sortedIntersectCount(col("a"), col("b")) >= x).as("flag"))
    val p = optimized(q)
    assert(p.contains("sorted_intersect_at_least"), s"not rewritten:\n$p")
    val got = q.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    // id 1: 2>=3 → false; id 2: x NULL → NULL; id 3: 3>=3 → true;
    // id 4: x NULL → NULL (unguarded bug: false); id 5: arrays NULL → NULL
    assert(got == Map(1L -> Some(false), 2L -> None, 3L -> Some(true),
      4L -> None, 5L -> None),
      s"NULL threshold must project NULL, not FALSE: $got")
  }

  test("value-keeping projection is untouched: the kept count stays the full walk") {
    val q = df.select(col("id"),
        NativeHash.sortedIntersectCount(col("a"), col("b")).as("c"))
      .filter(col("c") >= 2)
    // the filter instance may rewrite, but the projected value must
    // remain the full count (id 3 keeps c = 3, not a -1 sentinel)
    val got = q.as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 3L -> 3))
  }
}
