package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ClusterDedup, Components, JaccardDedup}

/** ClusterDedup.components must be ROW-IDENTICAL to the direct
  * pipeline (JaccardDedup.nearDupPairs → Components) on every corpus —
  * the collapse/contraction/bound-prune steps are optimizations whose
  * losslessness these tests pin, including the shapes that motivated
  * the operator (replica cliques) and the shapes that could break it
  * (empty docs, exact duplicates, threshold-boundary pairs, clusters
  * whose anchor walk alone misses a qualifying member pair). Pair
  * listings compare as multisets of exact rows: a listing that emits a
  * pair twice fails.
  */
class ClusterDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def multiset[A](rows: Seq[A]): Map[A, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  private def pairRows(df: DataFrame): Map[(Long, Long, Double), Int] =
    multiset(df.select(col("id_a"), col("id_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSeq)

  private def direct(df: DataFrame, t: Double, nGram: Int = 2): Set[(Long, Long)] =
    Components.connectedComponents(
        JaccardDedup.nearDupPairs(df, "doc_id", "text", nGram, t),
        "id_a", "id_b", Some(df.select(col("doc_id"))))
      .as[(Long, Long)].collect().toSet

  /** `components` on both routes, the adaptive default and the forced
    * clustered route, each checked against [[direct]]; returns the
    * labels.
    */
  private def clustered(df: DataFrame, t: Double, nGram: Int = 2): Set[(Long, Long)] = {
    val want = direct(df, t, nGram)
    for (adaptive <- Seq(true, false)) {
      val got = ClusterDedup.components(df, "doc_id", "text", nGram, t, adaptive)
        .as[(Long, Long)].collect().toSet
      assert(got == want, s"adaptive = $adaptive:\n got=$got\nwant=$want")
    }
    want
  }

  test("matches the direct pipeline on sf0.001 documents (t=0.3, the driver query's params)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    clustered(docs, 0.3)
  }

  test("replica-marked corpus (the soak shape): identical labels, near-identical copies cluster") {
    // 8 base docs × 5 replicas; r=0 exact, r>0 two-token marker — the
    // g² candidate pathology in miniature. Base docs 0 and 1 are also
    // true near-dups of each other, so components span replica groups.
    val base = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      1L -> "the quick brown fox jumps over the lazy dog again and once",
      2L -> "completely different content about spark catalyst optimizer rules",
      3L -> "a third unrelated document mentioning parquet column pruning",
      4L -> "watermark semantics for late arriving events in streaming mode",
      5L -> "broadcast joins beat shuffles when one side fits in memory",
      6L -> "salting skewed keys spreads hot partitions across the cluster",
      7L -> "exactly once sinks need idempotent writes and stable epochs")
    val docs = base.flatMap { case (id, text) =>
      (0 until 5).map { r =>
        (id * 10 + r, if (r == 0) text else s"$text rep $r")
      }
    }.toDF("doc_id", "text")
    clustered(docs, 0.3)
  }

  test("mostly-distinct corpus (adaptive collapse SKIPS): stray exact dups still merge") {
    // distinct ratio ~0.98 > the 0.95 skip threshold, so the exact-set
    // collapse window is skipped — the two exact-dup pairs must then be
    // merged by the LSH contraction / verify like any other J=1 pair
    val corpus = (
      (0L until 100L).map(i => (i, s"unique$i alpha$i beta$i gamma$i delta$i")) ++
      Seq((200L, "the quick brown fox jumps over the lazy dog"),
          (201L, "the quick brown fox jumps over the lazy dog"),
          (300L, "pack my box with five dozen liquor jugs today"),
          (301L, "pack my box with five dozen liquor jugs today"))
    ).toDF("doc_id", "text")
    val m = clustered(corpus, 0.3).toMap
    assert(m(201L) == m(200L) && m(301L) == m(300L), "exact dups must share a label")
    assert(m(200L) == 200L && m(300L) == 300L)
  }

  test("exact duplicates collapse losslessly (J=1 cliques, several group sizes)") {
    val docs = (Seq.fill(6)("all six of these documents are byte identical content") ++
      Seq.fill(3)("these three are identical to each other but not to the six") ++
      Seq("a singleton document unlike anything else in this corpus"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    clustered(docs, 0.3)
  }

  test("empty and sub-shingle docs stay isolated singletons (J=0/0 is no-edge)") {
    val docs = Seq(
      (0L, "one"),            // 1 token, 0 bigrams
      (1L, "one"),            // identical — still no shingles, no edge
      (2L, ""),               // empty
      (3L, "shared words here exactly"), (4L, "shared words here exactly"),
      (5L, "totally disjoint vocabulary row")).toDF("doc_id", "text")
    val got = clustered(docs, 0.3)
    // the empty-shingle docs each label themselves
    assert(got.contains((0L, 0L)) && got.contains((1L, 1L)) && got.contains((2L, 2L)))
    assert(got.contains((3L, 3L)) && got.contains((4L, 3L)))
  }

  test("threshold-boundary pairs survive the cluster-level bound (J exactly at t)") {
    // bigram sets sized so J = 1/3 exactly at t = 1/3: a=(x y z w) has
    // 3 bigrams, b=(x y u v) has 3, intersection {x y} = 1 → J = 1/5…
    // build instead docs with J exactly 0.5: 2 shared of 3 total each
    // → J = 2/4 = 0.5
    val docs = Seq(
      (0L, "alpha beta gamma delta"),  // bigrams: ab, bg, gd
      (1L, "alpha beta gamma epsilon"), // ab, bg, ge → ∩=2, ∪=4, J=0.5
      (2L, "zeta eta theta iota")).toDF("doc_id", "text")
    assert(clustered(docs, 0.5).contains((1L, 0L)))
  }

  test("adaptive route: forced-clustered and adaptive arms row-identical on both corpus shapes") {
    // distinct corpus (probe routes DIRECT: near-zero band collisions)
    val distinct = (0L until 120L)
      .map(i => (i, s"unique$i alpha$i beta$i gamma$i delta$i epsilon$i"))
      .toDF("doc_id", "text")
    // replica-heavy corpus (probe stays CLUSTERED: every family collides)
    val replicated = (0L until 8L).flatMap { id =>
      val text = s"base document number $id with plenty of shared boilerplate text inside"
      (0 until 6).map(r => (id * 10 + r, if (r == 0) text else s"$text rep $r"))
    }.toDF("doc_id", "text")
    for (docs <- Seq(distinct, replicated)) {
      val adaptiveLabels = ClusterDedup.components(docs, "doc_id", "text", 2, 0.3)
        .as[(Long, Long)].collect().toSet
      val forcedLabels = ClusterDedup.components(docs, "doc_id", "text", 2, 0.3,
        adaptive = false).as[(Long, Long)].collect().toSet
      assert(adaptiveLabels == forcedLabels)
      val adaptivePairs = pairRows(ClusterDedup.pairsClustered(docs, "doc_id", "text", 2, 0.3))
      val forcedPairs = pairRows(ClusterDedup.pairsClustered(docs, "doc_id", "text", 2, 0.3,
        adaptive = false))
      assert(adaptivePairs == forcedPairs)
    }
  }

  // ---- pairsClustered: the pair LISTING through the same candidate
  // path must be row-identical to JaccardDedup.nearDupPairs, including
  // the jaccard VALUES (intra-group pairs are emitted as exact 1.0;
  // cross-group pairs inherit the rep pair's value) ----

  private def directPairs(df: DataFrame, t: Double): Map[(Long, Long, Double), Int] =
    pairRows(JaccardDedup.nearDupPairs(df, "doc_id", "text", 2, t))

  private def clusteredPairs(df: DataFrame, t: Double): Map[(Long, Long, Double), Int] =
    pairRows(ClusterDedup.pairsClustered(df, "doc_id", "text", 2, t))

  test("pairsClustered matches nearDupPairs on sf0.001 documents (values included)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val got = clusteredPairs(docs, 0.3)
    val exp = directPairs(docs, 0.3)
    assert(got == exp, s"got=$got\nexp=$exp")
  }

  test("pairsClustered on the replica-marked soak corpus: identical pairs and values") {
    val base = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      1L -> "the quick brown fox jumps over the lazy dog again and once",
      2L -> "completely different content about spark catalyst optimizer rules",
      3L -> "a third unrelated document mentioning parquet column pruning")
    val docs = base.flatMap { case (id, text) =>
      (0 until 5).map { r => (id * 10 + r, if (r == 0) text else s"$text rep $r") }
    }.toDF("doc_id", "text")
    val got = clusteredPairs(docs, 0.3)
    val exp = directPairs(docs, 0.3)
    assert(got == exp, s"got=$got\nexp=$exp")
    // exact-dup replicas must surface as J=1.0 intra-group pairs
    assert(got.keys.exists { case (_, _, j) => j == 1.0 } ==
      exp.keys.exists { case (_, _, j) => j == 1.0 })
  }

  test("pairsClustered: exact duplicates, empty docs, boundary pairs") {
    val dups = (Seq.fill(4)("all of these documents are byte identical content") ++
      Seq("a singleton document unlike anything else right here") ++
      Seq("", "one"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(clusteredPairs(dups, 0.3) == directPairs(dups, 0.3))
    val boundary = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma epsilon"),
      (2L, "zeta eta theta iota")).toDF("doc_id", "text")
    assert(clusteredPairs(boundary, 0.5) == directPairs(boundary, 0.5))
    assert(clusteredPairs(boundary, 0.5).keys.exists { case (a, b, _) => a == 0L && b == 1L })
  }

  test("anchor bound includes the member-vs-anchor diff (maxD), not anchor walks alone") {
    // S_a = {1..99} ∪ {1000..1003} (J(a,x) = 99/104 ≈ 0.95 — reliably
    // LSH-contracted with x), S_x = {1..100}, S_y = {71..100}:
    // c(x,y) = 30 = α(100,30) exactly, so the pair (x,y) QUALIFIES
    // (J = 0.3), but the anchor-side walk alone reaches only
    // |S_a ∩ S_y| = 29 when a anchors x's cluster — the pair survives
    // the prune ONLY through maxD_A = |S_x \ S_a| = 1. A bound that
    // drops the diff term (e.g. assuming maxD = 0 outside multi-member
    // clusters anchored at non-members) silently loses the pair.
    val rows = Seq(
      (1L, ((1L to 99L) ++ (1000L to 1003L)).toArray),
      (2L, (1L to 100L).toArray),
      (3L, (71L to 100L).toArray)).toDF("id", "arr")
    val got = pairRows(ClusterDedup.pairsClusteredBy(rows, "id", col("arr"), 0.3))
    val exp = pairRows(JaccardDedup.nearDupPairsByHashes(rows, "id", col("arr"), 0.3))
    assert(got == exp, s"got=$got\nexp=$exp")
    assert(got.keys.exists(p => p._1 == 2L && p._2 == 3L),
      "the maxD-boundary pair must survive the anchor bound")
  }

  test("pairsClusteredBy char-gram flavor matches nearDupPairsByChars (zh-style unsegmented text)") {
    import graft.functions.NativeHash
    // unsegmented replica-heavy corpus: the chargram analogue of the
    // soak shape (dedup_chargram measured 12.7× on 10× data — this is
    // its clustered escape hatch, spec-gated against the direct path)
    val base = Seq(
      0L -> "深度学习模型训练数据质量控制流程",
      1L -> "深度学习模型训练数据质量控制规范",
      2L -> "完全不同的内容关于分布式计算框架",
      3L -> "另一个不相关的文档提到列式存储")
    val docs = base.flatMap { case (id, text) =>
      (0 until 4).map { r => (id * 10 + r, if (r == 0) text else s"${text}版$r") }
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.6)) {
      val got = pairRows(ClusterDedup.pairsClusteredBy(docs, "doc_id",
          NativeHash.charShingleHashes(col("text"), 3), t))
      val exp = pairRows(JaccardDedup.nearDupPairsByChars(docs, "doc_id", "text", 3, t))
      assert(got == exp, s"t=$t: got=$got\nexp=$exp")
      assert(got.nonEmpty, s"degenerate fixture at t=$t")
    }
  }

  test("topKBy: per-doc top-k of the exact pair truth, ties by partner id") {
    import graft.functions.NativeHash
    // the chargram replica corpus again — replica families mean every
    // doc has MORE than k qualifying partners, so the cut is exercised
    val base = Seq(
      0L -> "深度学习模型训练数据质量控制流程",
      1L -> "深度学习模型训练数据质量控制规范",
      2L -> "完全不同的内容关于分布式计算框架")
    val docs = base.flatMap { case (id, text) =>
      (0 until 5).map { r => (id * 10 + r, if (r == 0) text else s"${text}版$r") }
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.6); k <- Seq(1, 3)) {
      val pairs = JaccardDedup.nearDupPairsByChars(docs, "doc_id", "text", 3, t)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .as[(Long, Long, Double)].collect().toSeq
      val truth = multiset(pairs
        .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
        .groupBy(_._1).toSeq.flatMap { case (_, ps) =>
          ps.sortBy(p => (-p._3, p._2)).take(k).zipWithIndex
            .map { case ((id, pid, j), r) => (id, pid, j, r + 1) }
        })
      assert(truth.keys.exists(_._4 == k), s"fixture must cut at k=$k (t=$t)")
      val got = multiset(ClusterDedup.topKBy(docs, "doc_id",
          NativeHash.charShingleHashes(col("text"), 3), t, k)
        .as[(Long, Long, Double, Int)].collect().toSeq)
      assert(got == truth, s"t=$t k=$k:\n got=$got\ntruth=$truth")
    }
  }

  test("pair listings and top-k release their internals: each call leaves at most its output cut") {
    import graft.functions.{NativeHash, Text}
    import graft.operators.OverlapJoin
    // replica families with exact copies (r = 0, 1) so the collapse
    // window is cut as well; adaptive = false takes the clustered route
    val docs = (0L until 8L).flatMap { id =>
      val text = s"base document number $id with plenty of shared boilerplate text inside"
      (0 until 6).map(r => (id * 10 + r, if (r <= 1) text else s"$text rep $r"))
    }.toDF("doc_id", "text")
    val tokens1 = NativeHash.shingleHashes(Text.tokens(col("text")), 1)
    val calls = Seq[(String, () => DataFrame)](
      "ClusterDedup.pairsClustered" ->
        (() => ClusterDedup.pairsClustered(docs, "doc_id", "text", 2, 0.3)),
      "OverlapJoin.pairsClustered" ->
        (() => OverlapJoin.pairsClustered(docs, "doc_id", tokens1, 6)),
      "OverlapJoin.pairsClustered(adaptive = false)" ->
        (() => OverlapJoin.pairsClustered(docs, "doc_id", tokens1, 6, adaptive = false)),
      "OverlapJoin.topK" -> (() => OverlapJoin.topK(docs, "doc_id", tokens1, 6, 3)),
      "JaccardDedup.nearDupPairs" ->
        (() => JaccardDedup.nearDupPairs(docs, "doc_id", "text", 2, 0.3)),
      "JaccardDedup.nearDupPairsByChars" ->
        (() => JaccardDedup.nearDupPairsByChars(docs, "doc_id", "text", 3, 0.3)),
      "JaccardDedup.overlapJoin" -> (() => JaccardDedup.overlapJoin(docs, "doc_id", tokens1, 6)))
    for ((name, call) <- calls) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(call().count() > 0, s"$name: degenerate fixture")
      val left = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      assert(left <= 1, s"$name left $left persisted RDDs behind")
    }
  }

  /** A parquet corpus behind a Dedup.byRank, the curation shape: the
    * byRank shuffle runs once, in Par.widen's probe, and the route
    * probe reads its map output.
    */
  private lazy val byRankDir = {
    val dir = java.nio.file.Files.createTempDirectory("components-jobs").toString
    (0L until 30L).map { i =>
      (i, s"family ${i % 6} shares these words across copies number ${i % 6} " +
        (if (i % 3 == 0) "" else s"edit $i"))
    }.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/docs")
    s"$dir/docs"
  }

  /** The descriptions of the jobs `body` runs in `session`, in start
    * order, the number of stages that scan a parquet input, and its
    * result.
    */
  private def jobsOf[T](session: org.apache.spark.sql.SparkSession)(body: => T): (Seq[String], Int, T) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      private def ours(p: java.util.Properties) =
        p.getProperty("spark.jobGroup.id") == "components-construct"
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (ours(js.properties))
          descs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
      // a stage that runs a parquet scan; skipped stages are never submitted
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties) && ss.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.incrementAndGet()
    }
    val sc = session.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("components-construct", "components construction")
    val out = try {
      val out = body
      assert(org.apache.spark.sql.graft.Shims.drainListenerBus(sc))
      out
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (descs.toArray.toSeq.map(_.toString), scans.get, out)
  }

  /** `components` over [[byRankDir]] in `session`: the descriptions of
    * the jobs it runs before returning, the number of stages that scan
    * the parquet input, its labels and the direct pipeline's labels.
    */
  private def constructComponents(session: org.apache.spark.sql.SparkSession)
      : (Seq[String], Int, Set[(Long, Long)], Set[(Long, Long)]) = {
    import graft.operators.Dedup
    val docs = Dedup.byRank(session.read.parquet(byRankDir), Seq("text"), Seq(col("doc_id")))
    val (jobs, scans, labels) =
      jobsOf(session)(ClusterDedup.components(docs, "doc_id", "text", 2, 0.3))
    (jobs, scans, labels.as[(Long, Long)].collect().toSet, direct(docs, 0.3))
  }

  test("direct route construction: the input is scanned once, no labels-out cut in components") {
    val (jobs, scans, labels, want) = constructComponents(spark)
    // the broadcast arm: the hashed cut carries the route statistics
    // (its repartition stage and its result), one pair-index collect,
    // the union-find inside the probe and the one labels-out cut
    assert(jobs == Seq("widen: split probe", "cut: cluster: hashed", "cut: cluster: hashed",
      "cluster: pair index", "cluster: components(direct)", "cut: cluster: labels out(direct)"),
      s"construction jobs: $jobs")
    assert(scans == 1, s"the input was scanned $scans times")
    assert(labels == want)
  }

  test("direct route arm: the shuffled arm runs the prefix-index cut when the index exceeds the threshold, same labels") {
    // the broadcast index the fixture would build: IndexBytes per
    // shingle and per eligible doc
    import graft.functions.{NativeHash, Text}
    import graft.operators.Dedup
    val sizes = Dedup.byRank(spark.read.parquet(byRankDir), Seq("text"), Seq(col("doc_id")))
      .select(size(NativeHash.shingleHashes(Text.tokens(col("text")), 2)).as("n"))
      .where(col("n") > 0).agg(sum("n"), count(lit(1))).head()
    val index = (ClusterDedup.IndexBytes * (sizes.getLong(0) + sizes.getLong(1))).toLong
    for ((threshold, broadcast) <- Seq(-1L -> false, index - 1 -> false, index -> true)) {
      val session = spark.newSession()
      session.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val (jobs, _, labels, want) = constructComponents(session)
      assert(jobs.contains("cluster: components(direct)"), s"not the direct route: $jobs")
      assert(jobs.contains("cut: cluster: prefix index") == !broadcast, s"at $threshold: $jobs")
      assert(jobs.contains("cluster: pair index") == broadcast, s"at $threshold: $jobs")
      assert(labels == want)
    }
  }

  test("direct route over string ids: the broadcast probe labels and pairs as over long ids") {
    val corpus = (0L until 30L).map { i =>
      (i, s"family ${i % 6} shares these words across copies number ${i % 6} edit ${i % 4}")
    }
    // zero-padded, so string order is numeric order
    def pad(i: Long) = f"d$i%03d"
    val longs = corpus.toDF("doc_id", "text")
    val strings = corpus.map { case (i, t) => (pad(i), t) }.toDF("doc_id", "text")
    val labels = ClusterDedup.components(longs, "doc_id", "text", 2, 0.3)
      .as[(Long, Long)].collect().toSeq
    assert(labels.map(_._2).distinct.size < labels.size, "no pair at all")
    assert(multiset(ClusterDedup.components(strings, "doc_id", "text", 2, 0.3)
      .as[(String, String)].collect().toSeq) ==
      multiset(labels.map { case (i, c) => (pad(i), pad(c)) }))
    assert(multiset(ClusterDedup.pairsClustered(strings, "doc_id", "text", 2, 0.3)
      .select(col("id_a"), col("id_b"), col("jaccard")).as[(String, String, Double)].collect().toSeq) ==
      pairRows(ClusterDedup.pairsClustered(longs, "doc_id", "text", 2, 0.3)).map {
        case ((a, b, j), m) => ((pad(a), pad(b), j), m)
      })
  }

  test("PairPredicate: scalar bounds equal their Column forms on every size pair up to 200") {
    val preds = Seq(0.3, 0.5, 0.7, 1.0).map(ClusterDedup.Jaccard(_)) ++
      Seq(1, 3, 30).map(ClusterDedup.Overlap(_))
    val sizes = spark.range(201).select(col("id").cast("int").as("na"))
      .crossJoin(spark.range(201).select(col("id").cast("int").as("nb")))
    for (p <- preds) {
      val got = sizes.select(col("na"), col("nb"), p.prefixLen(col("na")).cast("int"),
          p.alpha(col("na"), col("nb")).cast("int"), p.fits(col("na"), col("nb")))
        .as[(Int, Int, Int, Int, Boolean)].collect()
      assert(got.length == 201 * 201)
      val bad = got.filterNot { case (na, nb, len, alpha, fits) =>
        len == p.prefixLen(na) && alpha == p.alpha(na, nb) && fits == p.fits(na, nb)
      }
      assert(bad.isEmpty, s"$p disagrees at ${bad.take(5).toSeq}")
      // keep at every overlap around the bound and at the full overlap
      // a pair of non-empty sets can have
      val alpha = p.alpha(col("na"), col("nb")).cast("int")
      val kept = sizes.where(col("na") > 0 && col("nb") > 0)
        .select(col("na"), col("nb"), explode(array_distinct(array(alpha - 1, alpha, alpha + 1,
          least(col("na"), col("nb"))))).as("c"))
        .where(col("c") >= 0 && col("c") <= least(col("na"), col("nb")))
        .select(col("c"), col("na"), col("nb"),
          p.keep(p.score(col("c"), col("na"), col("nb"))))
        .as[(Int, Int, Int, Boolean)].collect()
      assert(kept.exists(_._4) && kept.exists(!_._4), s"$p: degenerate keep grid")
      val badKeep = kept.filterNot { case (c, na, nb, keep) => keep == p.keep(c, na, nb) }
      assert(badKeep.isEmpty, s"$p keep disagrees at ${badKeep.take(5).toSeq}")
    }
  }

  private def rows(df: DataFrame): Map[(Any, Any), Int] =
    multiset(df.collect().toSeq.map(r => (r.get(0), r.get(1))))

  test("broadcast arm: null id, empty text, exact duplicates, all docs identical and string ids match the direct pipeline") {
    val fox = "the quick brown fox jumps over the lazy dog"
    val texts = Seq[(Option[Long], String)](
      None -> fox, Some(0L) -> fox, Some(1L) -> fox,  // exact duplicates, one with a null id
      Some(2L) -> "the quick brown fox jumps over the lazy cat", // J = 7/9 with them
      Some(3L) -> "", Some(4L) -> "one", Some(5L) -> "",         // no shingles: isolated
      Some(6L) -> "pack my box with five dozen liquor jugs",
      Some(7L) -> "pack my box with five dozen liquor jugs",
      Some(8L) -> "sphinx of black quartz judge my vow")
    val corpora = Seq(
      "mixed" -> texts.toDF("doc_id", "text"),
      "all identical" -> (0L until 6L).map(i => (i, fox)).toDF("doc_id", "text"),
      // zero-padded, so string order is numeric order
      // plus a pair whose min id differs between UTF-16 order (U+1F600
      // first) and Spark's UTF-8 byte order (U+FFFD first)
      "string ids" -> (texts.map { case (i, t) => (i.map(v => f"d$v%03d"), t) } ++ Seq(
        Some("�") -> "how vexingly quick daft zebras jump",
        Some("😀") -> "how vexingly quick daft zebras jump high"))
        .toDF("doc_id", "text"))
    for ((name, docs) <- corpora) {
      val (jobs, _, got) =
        jobsOf(spark)(rows(ClusterDedup.components(docs, "doc_id", "text", 2, 0.3)))
      assert(jobs.contains("cluster: pair index") && !jobs.contains("cut: cluster: prefix index"),
        s"$name: not the broadcast arm: $jobs")
      assert(jobs.contains("cut: cluster: collapse window"), s"$name: no collapse: $jobs")
      val want = rows(Components.connectedComponents(
        JaccardDedup.nearDupPairs(docs, "doc_id", "text", 2, 0.3),
        "id_a", "id_b", Some(docs.select(col("doc_id")))))
      assert(got == want, s"$name:\n got=$got\nwant=$want")
      if (name == "string ids") assert(got.get(("😀", "�")).contains(1), s"$name: $got")
      def pairs(df: DataFrame) = multiset(df.select("id_a", "id_b", "jaccard").collect().toSeq
        .map(r => (r.get(0), r.get(1), r.getDouble(2))))
      assert(pairs(ClusterDedup.pairsClustered(docs, "doc_id", "text", 2, 0.3)) ==
        pairs(JaccardDedup.nearDupPairs(docs, "doc_id", "text", 2, 0.3)), s"$name: pairs")
    }
  }

  test("chain through mid-similarity links: components merge transitively across clusters") {
    // a—b and b—c above t, a—c below t: one component {a,b,c}
    val docs = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (11L, "w1 w2 w3 w4 w5 w6 x7 x8"),
      (12L, "x5 x6 w1 w2 w3 w4 x7 x8"),
      (13L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
    val got = clustered(docs, 0.4)
    // Hand-verified bigram Jaccards: J(10,11)=5/9, J(11,12)=4/10=t,
    // J(10,12)=3/11<t — so {10,11,12} merge transitively through 11
    // (min-id label 10) and 13 stays a singleton.
    assert(got == Set((10L, 10L), (11L, 10L), (12L, 10L), (13L, 13L)))
  }
}
