package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge

/** R2 merge/upsert semantics (reference `loader/hive_loader.py:162-182`):
  * staging wins on PK; NULL-keyed target rows are always retained (the
  * documented deviation from the reference's ambiguous `WHERE b.k IS
  * NULL` probe — SURVEY.md §7.4).
  */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("staging wins on key; unmatched target rows retained") {
    val target = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("k", "v")
    val staging = Seq((2, "new2"), (4, "new4")).toDF("k", "v")
    val out = Merge.upsert(target, staging, Seq("k"))
      .as[(Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, "old1"), (2, "new2"), (3, "old3"), (4, "new4")))
  }

  test("composite keys match on all parts") {
    val target = Seq((1, "a", "t"), (1, "b", "t")).toDF("k1", "k2", "v")
    val staging = Seq((1, "a", "s")).toDF("k1", "k2", "v")
    val out = Merge.upsert(target, staging, Seq("k1", "k2"))
      .as[(Int, String, String)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq((1, "a", "s"), (1, "b", "t")))
  }

  test("NULL target key never matches staging - row retained") {
    val target = Seq[(Option[Int], String)]((Some(1), "one"), (None, "nullkey")).toDF("k", "v")
    val staging = Seq[(Option[Int], String)]((Some(1), "ONE")).toDF("k", "v")
    val out = Merge.upsert(target, staging, Seq("k")).collect().toSet
    assert(out == Set(Row(null, "nullkey"), Row(1, "ONE")))
  }

  test("NULL staging key inserts (left_anti semantics keep both NULL rows distinct-side)") {
    val target = Seq[(Option[Int], String)]((None, "t-null")).toDF("k", "v")
    val staging = Seq[(Option[Int], String)]((None, "s-null")).toDF("k", "v")
    val out = Merge.upsert(target, staging, Seq("k")).collect().toSet
    // NULL != NULL in the anti-join: target NULL row survives AND the
    // staging NULL row is appended - pinned as the documented behavior
    assert(out == Set(Row(null, "t-null"), Row(null, "s-null")))
  }

  test("merge is idempotent: merging the same staging twice equals once") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val staging = Seq((2, "B"), (4, "D")).toDF("k", "v")
    val once = Merge.upsert(target, staging, Seq("k"))
    val twice = Merge.upsert(once, staging, Seq("k"))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("upsertLatest: best staging row per key wins once; NULL-keyed target rows retained") {
    val target = Seq[(Option[Int], Int, String)](
      (Some(1), 0, "t1"), (Some(2), 0, "t2"), (Some(2), 0, "t2-dup"), (None, 0, "t-null"))
      .toDF("k", "ver", "v")
    val staging = Seq[(Option[Int], Int, String)](
      (Some(2), 1, "s2-old"), (Some(2), 3, "s2"), (Some(3), 1, "s3"),
      (None, 1, "s-null-old"), (None, 2, "s-null"))
      .toDF("k", "ver", "v")
    val q = Merge.upsertLatest(target, staging, Seq("k"), Seq(col("ver").desc))
    assert(q.columns.toSeq == Seq("k", "ver", "v"))
    assert(q.collect().toSeq.sortBy(_.toString) == Seq(
      Row(1, 0, "t1"), Row(2, 3, "s2"), Row(3, 1, "s3"), Row(null, 0, "t-null"), Row(null, 2, "s-null"))
      .sortBy(_.toString))
  }

  // --- SCD Type-2 ---

  private def scd2Set(hist: Seq[(Int, Option[String], Int, Option[Int])],
                      upd: Seq[(Int, Option[String])],
                      eff: Int): Set[(Int, Option[String], Int, Option[Int])] = {
    val h = hist.toDF("k", "v", "valid_from", "valid_to")
    val u = upd.toDF("k", "v")
    Merge.scd2(h, u, Seq("k"), Seq("v"), lit(eff))
      .as[(Int, Option[String], Int, Option[Int])].collect().toSet
  }

  test("scd2: changed attr closes the current row and opens a new version") {
    val got = scd2Set(
      hist = Seq((1, Some("a"), 100, None)),
      upd = Seq((1, Some("b"))), eff = 200)
    assert(got == Set((1, Some("a"), 100, Some(200)), (1, Some("b"), 200, None)))
  }

  test("scd2: unchanged attr keeps the row untouched (idempotent replay)") {
    val hist = Seq((1, Some("a"), 100, None))
    val once = scd2Set(hist, Seq((1, Some("a"))), 200)
    assert(once == hist.toSet)
  }

  test("scd2: a brand-new key opens its first version; closed history never changes") {
    val got = scd2Set(
      hist = Seq((1, Some("old"), 50, Some(100)), (1, Some("a"), 100, None)),
      upd = Seq((2, Some("x"))), eff = 200)
    assert(got == Set(
      (1, Some("old"), 50, Some(100)), (1, Some("a"), 100, None),
      (2, Some("x"), 200, None)))
  }

  test("scd2: null-to-value and value-to-null transitions count as changes") {
    val got = scd2Set(
      hist = Seq((1, None, 100, None), (2, Some("a"), 100, None)),
      upd = Seq((1, Some("v")), (2, None)), eff = 200)
    assert(got == Set(
      (1, None, 100, Some(200)), (1, Some("v"), 200, None),
      (2, Some("a"), 100, Some(200)), (2, None, 200, None)))
  }

  test("scd2: a current row with NULL valid_from is present (explicit marker, not data inference)") {
    // presence inferred from valid_from.isNotNull would silently DROP
    // this row and re-open the key as a first version (round-5 advice)
    val h = Seq[(Int, Option[String], Option[Int], Option[Int])](
        (1, Some("a"), None, None), (2, Some("x"), None, None))
      .toDF("k", "v", "valid_from", "valid_to")
    val u = Seq[(Int, Option[String])]((1, Some("b")), (2, Some("x"))).toDF("k", "v")
    val got = Merge.scd2(h, u, Seq("k"), Seq("v"), lit(200))
      .as[(Int, Option[String], Option[Int], Option[Int])].collect().toSet
    assert(got == Set(
      (1, Some("a"), None, Some(200)),   // changed: closed, validFrom stays null
      (1, Some("b"), Some(200), None),   // new version opened
      (2, Some("x"), None, None)))       // unchanged: kept as-is
  }

  test("scd2: applying the same batch twice equals applying it once") {
    val h = Seq[(Int, Option[String], Int, Option[Int])](
        (1, Some("a"), 100, None), (3, Some("c"), 100, None))
      .toDF("k", "v", "valid_from", "valid_to")
    val u = Seq[(Int, Option[String])]((1, Some("b")), (2, Some("n"))).toDF("k", "v")
    val once = Merge.scd2(h, u, Seq("k"), Seq("v"), lit(200))
    val twice = Merge.scd2(once, u, Seq("k"), Seq("v"), lit(200))
    assert(once.collect().toSet == twice.collect().toSet)
  }
}
