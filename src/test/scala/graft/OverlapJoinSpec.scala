package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NativeHash, Text}
import graft.operators.{JaccardDedup, OverlapJoin}

/** OverlapJoin.pairsClustered must be ROW-IDENTICAL (ids AND overlap
  * values) to the direct prefix self-join on every corpus — collapse,
  * contraction, postings and the anchor bound are optimizations whose
  * losslessness these tests pin, including the replica-clique shape
  * that motivated the operator and the shapes that could break it
  * (exact duplicates, at-threshold pairs, sub-threshold sets, a pair
  * the anchor walk alone would miss). Listings compare as multisets of
  * rows: a listing that emits a pair twice fails.
  */
class OverlapJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tokens1 = NativeHash.shingleHashes(Text.tokens(col("text")), 1)

  private def multiset[A](rows: Seq[A]): Map[A, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  private def pairRows(df: DataFrame): Map[(Long, Long, Long), Int] =
    multiset(df.select(col("id_a"), col("id_b"), col("overlap"))
      .as[(Long, Long, Long)].collect().toSeq)

  private def direct(df: DataFrame, k: Int): Map[(Long, Long, Long), Int] =
    pairRows(JaccardDedup.overlapJoin(df, "doc_id", tokens1, k))

  private def clustered(df: DataFrame, k: Int): Map[(Long, Long, Long), Int] = {
    // ROUTING IDENTITY (r17): the adaptive probe picks a plan, never a
    // result — every fixture pins the default (adaptive, DIRECT at spec
    // scale) against the FORCED-CLUSTERED arm before returning
    val adaptive = pairRows(OverlapJoin.pairsClustered(df, "doc_id", tokens1, k))
    val forced = pairRows(OverlapJoin.pairsClustered(df, "doc_id", tokens1, k, adaptive = false))
    assert(adaptive == forced,
      s"adaptive route diverges from forced-clustered:\n adaptive=$adaptive\n forced=$forced")
    adaptive
  }

  test("matches the direct join on sf0.001 documents at the driver query's k=30") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    assert(clustered(docs, 30) == direct(docs, 30))
  }

  test("replica-marked corpus (the soak shape): identical pairs and overlap values") {
    val base = Seq(
      0L -> ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      1L -> ("w1 w2 w3 w4 w5 w6 w7 w8 x9 x10 x11 x12"),
      2L -> ("z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12"))
    val docs = base.flatMap { case (id, text) =>
      (0 until 4).map(r => (id * 10 + r, if (r == 0) text else s"$text rep$r"))
    }.toDF("doc_id", "text")
    for (k <- Seq(6, 8, 12)) {
      assert(clustered(docs, k) == direct(docs, k), s"k=$k")
    }
  }

  test("exact duplicates fan out losslessly with overlap = set size") {
    val docs = (Seq.fill(5)("a b c d e f") ++ Seq.fill(3)("a b c x y z") ++
      Seq("p q r s t u"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (k <- Seq(3, 6)) {
      val got = clustered(docs, k)
      assert(got == direct(docs, k), s"k=$k")
    }
    // the identical-set arm carries the exact value: 6-token dups → 6
    assert(clustered(docs, 6).contains((0L, 1L, 6L)))
  }

  test("pairs exactly AT the threshold survive; one below do not") {
    // docs sharing exactly 4 tokens of their 6
    val docs = Seq(
      (0L, "a b c d e f"),
      (1L, "a b c d x y"),  // overlap 4 with doc 0
      (2L, "a b q r s t")   // overlap 2 with doc 0, 2 with doc 1
    ).toDF("doc_id", "text")
    assert(clustered(docs, 4) == direct(docs, 4))
    assert(clustered(docs, 4) == Map((0L, 1L, 4L) -> 1))
    assert(clustered(docs, 5) == direct(docs, 5))
    assert(clustered(docs, 5).isEmpty)
  }

  test("sets shorter than k emit nothing, even when identical") {
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a b c d e")).toDF("doc_id", "text")
    assert(clustered(docs, 3) == direct(docs, 3))
    assert(!clustered(docs, 3).keys.exists(p => p._1 == 0L || p._2 == 1L && p._1 < 2))
  }

  // ---- topK: bounded-output retrieval over the same truth ----

  /** Per-doc top-k from the quadratic pair truth: symmetrize, sort by
    * (overlap DESC, partner ASC), take k, rank 1-based.
    */
  private def topTruth(pairs: Map[(Long, Long, Long), Int],
      k: Int): Map[(Long, Long, Long, Int), Int] =
    multiset(pairs.keys.toSeq.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .groupBy(_._1).toSeq.flatMap { case (_, ps) =>
        ps.sortBy(p => (-p._3, p._2)).take(k).zipWithIndex
          .map { case ((id, pid, ov), r) => (id, pid, ov, r + 1) }
      })

  private def gotTopK(df: DataFrame, m: Int, k: Int,
      adaptive: Boolean = true): Map[(Long, Long, Long, Int), Int] =
    multiset(OverlapJoin.topK(df, "doc_id", tokens1, m, k, adaptive = adaptive)
      .as[(Long, Long, Long, Int)].collect().toSeq)

  test("topK equals per-doc top-k of the direct join on sf0.001 documents (both plans)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val truth = topTruth(direct(docs, 30), 5)
    assert(truth.nonEmpty, "fixture must exercise the retrieval path")
    assert(gotTopK(docs, 30, 5) == truth, "adaptive route")
    assert(gotTopK(docs, 30, 5, adaptive = false) == truth, "forced-clustered route")
  }

  test("topK on the replica corpus: k cuts inside and across the duplicate families") {
    val base = Seq(
      0L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8 x9 x10 x11 x12",
      2L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12")
    val docs = base.flatMap { case (id, text) =>
      (0 until 4).map(r => (id * 10 + r, if (r == 0) text else s"$text rep$r"))
    }.toDF("doc_id", "text")
    for (m <- Seq(6, 8); k <- Seq(1, 2, 5)) {
      assert(gotTopK(docs, m, k) == topTruth(direct(docs, m), k), s"m=$m k=$k")
    }
  }

  test("topK ties at the cut break by ascending partner id, deterministically") {
    // 7 exact duplicates: every partner of doc 0 has overlap 6 — top-3
    // must be partners 1, 2, 3 in rank order, never an arbitrary three
    val docs = (0L to 6L).map(i => (i, "a b c d e f")).toDF("doc_id", "text")
    val got = gotTopK(docs, 3, 3)
    assert(got == topTruth(direct(docs, 3), 3))
    assert(got.filter(_._1._1 == 0L) ==
      Map((0L, 1L, 6L, 1) -> 1, (0L, 2L, 6L, 2) -> 1, (0L, 3L, 6L, 3) -> 1))
  }

  test("anchor bound includes the member-vs-anchor diff (maxD), not anchor walks alone") {
    // the ClusterDedupSpec boundary shape in overlap terms: S_a =
    // {1..99, 1000..1003} LSH-clusters with S_x = {1..100} (J ≈ 0.95);
    // S_y = {71..100}. overlap(x,y) = 30 = k exactly, but the
    // anchor-side walk alone reaches only |S_a ∩ S_y| = 29 when a
    // (min id) anchors x's cluster — the qualifying pair survives the
    // prune ONLY through maxD_A = |S_x \ S_a| = 1.
    val rows = Seq(
      (1L, ((1L to 99L) ++ (1000L to 1003L)).toArray),
      (2L, (1L to 100L).toArray),
      (3L, (71L to 100L).toArray)).toDF("doc_id", "arr")
    val got = pairRows(OverlapJoin.pairsClustered(rows, "doc_id", col("arr"), 30))
    val exp = pairRows(JaccardDedup.overlapJoin(rows, "doc_id", col("arr"), 30))
    assert(got == exp, s"got=$got\nexp=$exp")
    assert(got.contains((2L, 3L, 30L)), "the maxD-boundary pair must survive the anchor bound")
  }
}
