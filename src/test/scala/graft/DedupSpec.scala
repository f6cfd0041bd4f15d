package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, JaccardDedup, MinHashDedup, SimHashDedup}

/** R1 ranking dedup + the near-dup family. The MinHash/SimHash operators
  * have no SQL oracle (engine-specific hashing), so their contract is
  * pinned here instead: planted near-duplicates MUST be found, unrelated
  * documents MUST NOT pair.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- R1 ranking window ---

  test("byRank keeps exactly the first row per key under the given order") {
    val df = Seq((1, 10, "a"), (1, 20, "b"), (2, 5, "c")).toDF("k", "ord", "v")
    val out = Dedup.byRank(df, Seq("k"), Seq(col("ord").desc))
      .as[(Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, 20, "b"), (2, 5, "c")))
  }

  test("byRank default order is the uniq keys themselves (hive_loader.py:81-82)") {
    val df = Seq((2, "x"), (1, "y"), (1, "z")).toDF("k", "v")
    assert(Dedup.byRank(df, Seq("k")).count() == 2)
  }

  test("byRank is idempotent") {
    val df = Seq((1, 1, "a"), (1, 2, "b"), (2, 1, "c"), (2, 9, "d")).toDF("k", "ord", "v")
    val once = Dedup.byRank(df, Seq("k"), Seq(col("ord").asc))
    val twice = Dedup.byRank(once, Seq("k"), Seq(col("ord").asc))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("exact dedup keeps one row per key") {
    val df = Seq((1, "a"), (1, "a2"), (2, "b")).toDF("k", "v")
    assert(Dedup.exact(df, Seq("k")).count() == 2)
  }

  // --- near-dup fixture: doc 1/2 near-identical, 3 unrelated, 4/5 identical ---

  private val fixture = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
    (3L, "completely different text about spark query engines and parquet columnar scans"),
    (4L, "identical copy of some web page boilerplate footer text here"),
    (5L, "identical copy of some web page boilerplate footer text here")
  ).toDF("doc_id", "text")

  test("minhash finds planted near-dups and nothing else") {
    val pairs = MinHashDedup.nearDupPairs(fixture, "doc_id", "text", nGram = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((4L, 5L)), "identical pair must be found")
    assert(pairs.contains((1L, 2L)), "near-identical pair must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("minhash dedup drops only the later twin") {
    val kept = MinHashDedup.dedup(fixture, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(4L) && !kept.contains(5L))
    assert(kept.contains(1L) && kept.contains(2L) && kept.contains(3L))
  }

  test("incremental minhash probe finds cross-set near-dups without recomputing the corpus") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running fast"),
      (2L, "completely different content about columnar storage engines today")
    ).toDF("corpus_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps running far"),
      (11L, "unrelated text on streaming watermarks and session windows here")
    ).toDF("new_id", "text")
    val idx = MinHashDedup.bandIndex(corpus, "corpus_id", "text", nGram = 2)
    val pairs = MinHashDedup.incrementalPairs(idx, corpus, fresh, "corpus_id", "new_id", "text",
        nGram = 2, threshold = 0.8)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L)), s"expected only (10,1), got $pairs")
  }

  test("simhash finds identical pair within small hamming distance") {
    val pairs = SimHashDedup.nearDupPairs(fixture, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((4L, 5L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard equals the brute-force definition on the fixture") {
    val got = JaccardDedup.nearDupPairs(fixture, "doc_id", "text", nGram = 2, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2, BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    // brute force via Text.jaccard on all pairs (5 docs - fine here)
    import graft.functions.Text
    val sh = fixture.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 2)).as("sh"))
    val exp = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Text.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2, BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(got == exp)
    assert(got.exists(p => p._1 == 4L && p._2 == 5L))
  }

  test("decontaminate drops exactly the train docs overlapping the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated content about columnar storage engines"),
      (3L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bench_id", "text")
    val clean = JaccardDedup.decontaminate(train, "doc_id", bench, "bench_id", "text",
        nGram = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L), s"expected only doc 2 to survive, got $clean")
  }

  test("decontaminate runs one labelled bench-index job at construction and reads no train input") {
    // a parquet benchmark, so building the index is a real job (a local
    // relation is collected on the driver without one)
    val dir = java.nio.file.Files.createTempDirectory("decontaminate").toString
    Seq((100L, "the quick brown fox jumps over the lazy dog"), (101L, "columnar storage"))
      .toDF("bench_id", "text").write.parquet(s"$dir/bench")
    val bench = spark.read.parquet(s"$dir/bench")
    // evaluating any train row throws, so a job over train fails the test
    val poisoned = udf((id: Long) =>
      if (id >= 0) throw new IllegalStateException("train read at construction") else "")
    val train = spark.range(10).select(col("id").as("doc_id"), poisoned(col("id")).as("text"))
    // the whole family shares the one construction job
    val family = Seq[(String, () => Unit)](
      "decontaminate" -> (() => JaccardDedup.decontaminate(
        train, "doc_id", bench, "bench_id", "text", nGram = 2, threshold = 0.5)),
      "crossPairs" -> (() => JaccardDedup.crossPairs(
        train, "doc_id", bench, "bench_id", "text", nGram = 2, threshold = 0.5)),
      "crossPairsBloom" -> (() => JaccardDedup.crossPairsBloom(
        train, "doc_id", bench, "bench_id", "text", nGram = 2, threshold = 0.5)))
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // only jobs of this thread's group: another suite's jobs never count
        if (js.properties.getProperty("spark.jobGroup.id") == "decontaminate-construct")
          descs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("decontaminate-construct", "decontaminate construction")
    try {
      for ((name, construct) <- family) {
        descs.clear()
        construct()
        assert(org.apache.spark.sql.graft.Shims.drainListenerBus(sc))
        assert(descs.toArray.toSeq == Seq("decontaminate: bench index"), s"$name jobs: $descs")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("overlapJoin finds exactly the pairs at/above the overlap floor (prefix-filter lossless)") {
    import graft.functions.{NativeHash, Text}
    // token sets engineered so some overlaps sit EXACTLY on the floor;
    // brute-force oracle via the same tokenization
    val docsDf = Seq(
      (1L, "a b c d e f"),
      (2L, "c d e f g h"),   // |∩ 1| = 4
      (3L, "a b c x y z"),   // |∩ 1| = 3, |∩ 2| = 1
      (4L, "q r s t u v"),   // disjoint
      (5L, "a b")            // shorter than the floor at k=3
    ).toDF("doc_id", "text")
    def brute(k: Int): Set[(Long, Long, Long)] = {
      val toks = docsDf.select(col("doc_id"), Text.tokens(col("text")).as("tk"))
        .as[(Long, Seq[String])].collect().toMap
      (for {
        a <- toks.keys; b <- toks.keys if a < b
        ov = (toks(a).toSet & toks(b).toSet).size if ov >= k
      } yield (a, b, ov.toLong)).toSet
    }
    for (k <- Seq(1, 3, 4, 5)) {
      val got = JaccardDedup.overlapJoin(docsDf, "doc_id",
          NativeHash.shingleHashes(Text.tokens(col("text")), 1), minOverlap = k)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == brute(k), s"overlap mismatch at k=$k")
    }
  }

  test("simhash signature collapse: replica-heavy corpus (incl. null text) equals brute force") {
    // the soak shape for the pigeonhole join — identical-signature
    // groups must collapse in the chunk join and fan back out with
    // dist 0 intra-group, identical cross distances, and null-text
    // docs excluded exactly like the direct formulation
    import graft.functions.Text
    val docs = (Seq(
      (0L, "the quick brown fox jumps over the lazy dog again"),
      (10L, "the quick brown fox jumps over the lazy dog again"), // exact dup of 0
      (20L, "the quick brown fox jumps over the lazy cat again"),
      (30L, "completely different content about catalyst optimizer"),
      (40L, null.asInstanceOf[String])) ++
      (1L to 3L).map(r => (r, "the quick brown fox jumps over the lazy dog again")))
      .toDF("doc_id", "text")
    val got = SimHashDedup.nearDupPairs(docs, "doc_id", "text", maxDist = 7)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    val sigs = docs.filter(col("text").isNotNull).select(col("doc_id"),
      SimHashDedup.simhash(Text.tokens(col("text"))).as("sig"))
    val exp = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        SimHashDedup.hamming(col("a.sig"), col("b.sig")).as("dist"))
      .filter(col("dist") <= 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
    // the 5-clique of identical docs: all C(5,2)=10 pairs at dist 0
    assert(got.count { case (a, b, d) => d == 0 && Set(0L, 1L, 2L, 3L, 10L)(a) &&
      Set(0L, 1L, 2L, 3L, 10L)(b) } == 10)
    assert(!got.exists { case (a, b, _) => a == 40L || b == 40L })
  }

  test("crossPairs prefix filter is lossless: pairs and jaccard values match the quadratic baseline") {
    import graft.functions.Text
    // corpus engineered with a viral shingle ("the data") on every doc
    // (rarity order must keep it out of prefixes without losing pairs),
    // boundary-exact pairs, and docs appearing on BOTH sides
    val train = Seq(
      (1L, "the data quick brown fox jumps over the lazy dog"),
      (2L, "the data completely unrelated columnar storage engines"),
      (3L, "the data quick brown fox jumps over the lazy cat"),
      (4L, "the data quick brown fox jumps over the lazy dog"), // exact dup of 1
      (10L, "the data short one"),
      (5L, ""),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the data quick brown fox jumps over the lazy dog"),
      (110L, "the data short one"),
      (120L, "benchmark only content nothing shared")
    ).toDF("bench_id", "text")
    def brute(t: Double): Set[(Long, Long, Double)] = {
      val l = train.select(col("doc_id"),
          Text.shingles(Text.tokens(col("text")), 2).as("sh"))
        .as[(Long, Seq[String])].collect().filter(r => r._2 != null && r._2.nonEmpty)
      val r = bench.select(col("bench_id"),
          Text.shingles(Text.tokens(col("text")), 2).as("sh"))
        .as[(Long, Seq[String])].collect().filter(r => r._2 != null && r._2.nonEmpty)
      (for {
        (il, sl) <- l; (ir, sr) <- r
        inter = (sl.toSet & sr.toSet).size
        uni = (sl.toSet | sr.toSet).size
        j = inter.toDouble / uni if j >= t
      } yield (il, ir, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    }
    for (t <- Seq(0.3, 0.5, 0.9, 1.0)) {
      val got = JaccardDedup.crossPairs(train, "doc_id", bench, "bench_id", "text",
          nGram = 2, threshold = t)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2,
          BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(got == brute(t), s"cross prefix filter lost/invented pairs at t=$t: " +
        s"missing=${brute(t) -- got} extra=${got -- brute(t)}")
    }
  }

  test("bloom-pruned crossPairs is identical to the exact operator") {
    // the prune is a superset filter (J >= t implies overlap >= t*n_a,
    // bloom fps only overcount) + exact verify -> bit-identical pairs
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated content about columnar storage engines"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "another clean doc with no benchmark overlap at all"),
      (5L, ""),
      (6L, null.asInstanceOf[String]) // null text: dropped, not NPE
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bench_id", "text")
    for (t <- Seq(0.3, 0.5, 0.9)) {
      val exact = JaccardDedup.crossPairs(train, "doc_id", bench, "bench_id", "text",
          nGram = 2, threshold = t).as[(Long, Long, Double)].collect().toSet
      val bloomed = JaccardDedup.crossPairsBloom(train, "doc_id", bench, "bench_id", "text",
          nGram = 2, threshold = t).as[(Long, Long, Double)].collect().toSet
      assert(bloomed == exact, s"bloom prune changed results at t=$t")
    }
  }

  test("jaccard candidate generation is lossless at low thresholds") {
    // docs sharing exactly one shingle: candidate must still be generated
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma delta epsilon") // shares bigram? no - shares no 2-gram; use 1-gram
    ).toDF("doc_id", "text")
    val pairs = JaccardDedup.nearDupPairs(df, "doc_id", "text", nGram = 1, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1 && pairs.head._3 == 0.2) // 1 shared of 5 distinct
  }

  test("minhash safety margin: no sf0.01 pair sits just above the 0.8 threshold") {
    // dedup_minhash hash-matches an EXACT oracle only because LSH recall
    // at the fixture's J >= 0.909 pairs is ~1-1e-8; a pair at exactly
    // J = 0.8 would flake the gate at ~2.2e-4 per run. Guard the margin:
    // if fixture regeneration ever lands a qualifying pair inside
    // [0.8, 0.85), fail LOUDLY here instead of probabilistically in the
    // driver gate. Uses the exact-Jaccard path (lossless) at the same
    // 2-gram shingling as the dedup_minhash query.
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(sfDir).isDirectory)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val marginal = JaccardDedup.nearDupPairs(docs, "doc_id", "text", nGram = 2, threshold = 0.5)
      .filter(col("jaccard") >= 0.8 && col("jaccard") < 0.85)
    assert(marginal.count() == 0,
      "fixture drift: a pair's exact Jaccard fell in [0.8, 0.85) — the " +
        "dedup_minhash exact-oracle gate is no longer safely above the LSH knee")
  }

  test("simhash pigeonhole path equals brute-force all-pairs hamming on the sf0.01 corpus") {
    // EXACT self-oracle for the production dedup_simhash answer: the
    // pigeonhole candidate generation (chunks = maxDist + 1) is lossless
    // by construction for dist <= maxDist, so the full path must equal a
    // brute-force all-pairs comparison of the SAME signatures. No DuckDB
    // involved — the hash family is engine-specific; losslessness of the
    // candidate step is what is being pinned.
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(sfDir).isDirectory)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = SimHashDedup.nearDupPairs(docs, "doc_id", "text", maxDist = 7)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    import graft.functions.Text
    val sigs = docs.select(col("doc_id"),
      SimHashDedup.simhash(Text.tokens(col("text"))).as("sig"))
    val exp = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        SimHashDedup.hamming(col("a.sig"), col("b.sig")).as("dist"))
      .filter(col("dist") <= 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == exp, s"pigeonhole ${got.size} pairs vs brute-force ${exp.size}")
    assert(exp.nonEmpty) // the corpus plants near-dups; empty would mean a dead test
  }

  test("prefix filtering: a viral shingle creates zero candidate fan-out") {
    // 100 docs, each 9 unique tokens + 1 viral token shared by ALL of
    // them; true Jaccard of any pair is 1/19 < 0.5. A naive inverted-
    // index join fans the viral token into 100·99/2 = 4950 candidate
    // pairs; under prefix filtering it is the commonest token, ranks
    // last in every doc's rarity order, and falls outside every prefix
    // (length 10 − ⌈0.5·10⌉ + 1 = 6) — candidates must be exactly zero.
    val docs = (0 until 100).map { i =>
      (i.toLong, ((0 until 9).map(j => s"u${i}_$j") :+ "viral").mkString(" "))
    }.toDF("doc_id", "text")
    val index = docs
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("s0"), size(col("sh")).as("n"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"), col("n"))
    val pred = graft.operators.ClusterDedup.Jaccard(0.5)
    assert(JaccardDedup.prefixPairs(JaccardDedup.prefixIndex(index, "doc_id", pred),
      "doc_id", pred, "id_a", "id_b").count() == 0)
    // end-to-end through the public API: no qualifying pairs either
    assert(JaccardDedup.nearDupPairs(docs, "doc_id", "text", nGram = 1, threshold = 0.5).count() == 0)
    // and losslessness at a threshold the viral-only overlap DOES meet:
    // every pair shares exactly {viral}, J = 1/19 ≥ 0.05 → all 4950 pairs
    val loose = JaccardDedup.nearDupPairs(docs, "doc_id", "text", nGram = 1, threshold = 0.05)
    assert(loose.count() == 4950)
  }
}
