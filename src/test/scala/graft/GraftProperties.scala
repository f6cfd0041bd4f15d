package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.{Dedup, Merge}
import graft.sources.Source

/** ScalaCheck properties (SURVEY.md §5.3): merge idempotence, dedup
  * idempotence/coverage, split-scan losslessness — run on real Spark
  * plans over generated data. Case counts are kept small: each case is
  * a full Spark job.
  */
object GraftProperties extends Properties("graft") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val kvRows: Gen[List[(Int, String)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(0, 9), Gen.alphaStr.map(_.take(5))))

  property("merge idempotence: merge(merge(t,s),s) == merge(t,s)") =
    forAll(kvRows, kvRows) { (t, s) =>
      // staging must be key-unique for a well-defined upsert
      val tDf = t.toDF("k", "v")
      val sDf = s.distinctBy(_._1).toDF("k", "v")
      val once = Merge.upsert(tDf, sDf, Seq("k"))
      val twice = Merge.upsert(once, sDf, Seq("k"))
      once.collect().toSet == twice.collect().toSet
    }

  property("merge result contains every staging row") =
    forAll(kvRows, kvRows) { (t, s) =>
      val sDf = s.distinctBy(_._1).toDF("k", "v")
      val out = Merge.upsert(t.toDF("k", "v"), sDf, Seq("k")).collect().toSet
      sDf.collect().toSet.subsetOf(out)
    }

  property("dedup byRank: one row per key, rows drawn from input") =
    forAll(kvRows) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "v")
        val out = Dedup.byRank(df, Seq("k"), Seq(col("v").asc)).as[(Int, String)].collect()
        out.map(_._1).distinct.length == out.length &&
        out.toSet.subsetOf(rows.toSet) &&
        out.map(_._1).toSet == rows.map(_._1).toSet
      }
    }

  property("dedup idempotence") =
    forAll(kvRows) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "v")
        val once = Dedup.byRank(df, Seq("k"), Seq(col("v").asc))
        Dedup.byRank(once, Seq("k"), Seq(col("v").asc)).collect().toSet == once.collect().toSet
      }
    }

  property("splitRanges union == full scan for any longs and split count") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-1000000L, 1000000L)), Gen.choose(1, 8)) {
      (ks, n) =>
        val df = ks.toDF("k")
        val parts = Source.splitRanges(df, "k", n)
        parts.map(_.count()).sum == ks.length
    }

  private val texts: Gen[List[String]] = Gen.listOfN(8,
    Gen.listOf(Gen.oneOf("the", "fox", "a", "b", "jumps", "12", "!").suchThat(_.nonEmpty))
      .map(_.mkString(" ")))

  property("shingle count law: |shingles(t, n)| == max(0, tokens - n + 1)") =
    forAll(texts, Gen.choose(1, 4)) { (ts, n) =>
      ts.isEmpty || {
        import graft.functions.Text
        val df = ts.toDF("text")
        df.select(
            size(Text.shingles(Text.tokens(col("text")), n)).as("ns"),
            size(Text.tokens(col("text"))).as("nt"))
          .as[(Int, Int)].collect()
          .forall { case (ns, nt) => ns == math.max(0, nt - n + 1) }
      }
    }

  property("minhash signature: k-wide, values in [0, P); identical texts have identical sigs") =
    forAll(texts) { ts =>
      ts.isEmpty || {
        import graft.operators.MinHashDedup
        import graft.functions.Text
        val df = (ts ++ ts).toDF("text") // duplicated: equal text => equal sig
        val sigs = df
          .select(col("text"), MinHashDedup.signature(
            array_distinct(Text.shingles(Text.tokens(col("text")), 1))).as("sig"))
          .as[(String, Seq[Long])].collect()
        sigs.forall(_._2.length == 64) &&
        sigs.forall(_._2.forall(v => v >= 0)) &&
        sigs.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == 1)
      }
    }

  property("simhash: equal token sets => hamming 0; output deterministic") =
    forAll(texts) { ts =>
      ts.isEmpty || {
        import graft.operators.SimHashDedup
        import graft.functions.Text
        val df = ts.toDF("text")
        val a = df.select(SimHashDedup.simhash(Text.tokens(col("text"))).as("s")).as[Long].collect()
        val b = df.select(SimHashDedup.simhash(Text.tokens(col("text"))).as("s")).as[Long].collect()
        a.sameElements(b)
      }
    }

  property("native shingle hashing preserves exact Jaccard of the string pipeline") =
    forAll(
      Gen.listOfN(5, Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" "))),
      Gen.choose(1, 3)) { (docTexts, n) =>
      import graft.functions.{NativeHash, Text}
      val df = docTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val both = df.select(col("id"),
        NativeHash.shingleHashes(Text.tokens(col("text")), n).as("nw"),
        array_distinct(Text.shingles(Text.tokens(col("text")), n)).as("old"))
      val bad = both.as("a").crossJoin(both.as("b")).filter(col("a.id") < col("b.id"))
        .filter(
          NativeHash.sortedIntersectCount(col("a.nw"), col("b.nw")) =!=
            size(array_intersect(col("a.old"), col("b.old"))) ||
          size(col("a.nw")) =!= size(col("a.old")))
        .count()
      bad == 0L
    }

  property("symspell typo join is lossless: equals the quadratic lev<=1 ground truth") =
    forAll(Gen.listOfN(25, Gen.listOfN(4, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
        .flatMap(s => Gen.choose(2, 4).map(s.take)))) { words =>
      import graft.operators.EditDistanceJoin
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val ids = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val truth = (for {
        (ia, sa) <- ids; (ib, sb) <- ids if ia < ib && lev(sa, sb) <= 1
      } yield (ia, ib)).toSet
      val got = EditDistanceJoin.typoPairs(ids.toDF("id", "s"), "id", "s", maxDist = 1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      got == truth
    }

  property("exact quantiles equal the sorted truth on log-uniform magnitudes") =
    forAll(
      Gen.listOfN(200, Gen.zip(Gen.choose(-30, 30), Gen.choose(1.0, 9.999))),
      Gen.choose(0.0, 1.0)) { (mags, p) =>
      mags.isEmpty || {
        // values spanning up to 60 decades — the regime where equal-width
        // refinement needs many rounds (convergence contract, maxIter)
        val xs = mags.map { case (e, m) => m * math.pow(10.0, e) }
        val df = xs.map(("g", _)).toDF("g", "v")
        val got = graft.operators.Quantiles
          .exactQuantiles(df, "g", "v", Seq(p), buckets = 16, collectLimit = 8)("g")(p)
        val s = xs.sorted
        val h = (s.length - 1) * p
        val k0 = math.floor(h).toInt
        val k1 = math.ceil(h).toInt
        // weighted form: bit-identical to Spark percentile / quantile_cont
        val want = if (k0 == k1) s(k0) else (k1 - h) * s(k0) + (h - k0) * s(k1)
        got == want
      }
    }

  property("mergeIntervals equals the quadratic reference merge") =
    forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 15L)))) { raw =>
      raw.isEmpty || {
        val iv = raw.map { case (s0, len) => (1L, s0, s0 + len) }
        // reference: sort by start, sweep with a running max end
        val ref = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
        iv.sortBy(r => (r._2, r._3)).foreach { case (_, s0, e0) =>
          if (ref.nonEmpty && s0 <= ref.last._2) {
            val (cnt, end) = (ref.last._1 + 1, math.max(ref.last._2, e0))
            ref(ref.length - 1) = (cnt, end, ref.last._3)
          } else ref += ((1L, e0, s0))
        }
        val want = ref.map { case (cnt, end, start) => (start, end, cnt) }.toSet
        val got = graft.operators.TimeSeries
          .mergeIntervals(iv.toDF("k", "s", "e"), "k", "s", "e")
          .select(col("s"), col("e"), col("n_merged"))
          .as[(Long, Long, Long)].collect().toSet
        got == want
      }
    }

  // ---- r13 equivalence properties: the replication-proof candidate
  // paths must agree with their direct twins / quadratic truth on
  // ARBITRARY corpora, not just the engineered spec fixtures ----

  /** Word-soup corpora over a small vocabulary (forces real shingle
    * overlap), with each doc after the first having a 1-in-4 chance of
    * exactly duplicating its predecessor — exercising the exact-set
    * collapse, the LSH contraction, and the singleton arms together.
    */
  private val corpusGen: Gen[List[(Long, String)]] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for {
      n <- Gen.choose(6, 12)
      texts <- Gen.listOfN(n,
        Gen.choose(2, 8).flatMap(w => Gen.listOfN(w, Gen.oneOf(vocab)).map(_.mkString(" "))))
      dupMask <- Gen.listOfN(n, Gen.choose(0, 3))
    } yield {
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      base.zip(dupMask).map { case ((id, t), m) =>
        if (m == 0 && id > 0) (id, base(id.toInt - 1)._2) else (id, t)
      }
    }
  }

  /** Corpus rows plus rows reusing corpus ids with other texts: null,
    * empty, one word (shorter than the 2-gram) or a corpus text.
    */
  private def withOddRows(docs: List[(Long, String)]): Gen[List[(Long, String)]] =
    Gen.listOfN(4, Gen.zip(Gen.choose(0L, 12L),
        Gen.oneOf(Gen.const(null: String), Gen.const(""), Gen.const("alpha"),
          Gen.oneOf(docs.map(_._2)))))
      .map(extra => docs ++ extra)

  /** A benchmark against `train`: empty, or a corpus with odd rows plus
    * copies of some train texts, verbatim and one word longer, so
    * contamination (J = 1 included) does occur. A train text held twice
    * is copied twice under one id, so one benchmark array carries a
    * repeated id.
    */
  private def benchFor(train: List[(Long, String)]): Gen[List[(Long, String)]] =
    Gen.frequency(1 -> Gen.const(Nil), 3 -> (for {
      c <- corpusGen.flatMap(withOddRows)
      copied <- Gen.someOf(train.map(_._2).filter(_ != null))
    } yield (100L, "beta") :: (101L, null: String) ::
      copied.toList.flatMap(x => List((102L, x), (103L, x + " mu"))) ++ c))

  /** Set-level mirror of NativeHash.shingleHashes ∘ Text.tokens. */
  private def grams(text: String, n: Int): Set[String] = {
    val tk = Option(text).fold(Array.empty[String])(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
    if (tk.length < n) Set.empty else tk.sliding(n).map(_.mkString(" ")).toSet
  }

  private def bigrams(text: String): Set[String] = grams(text, 2)

  private def multiset[A](rows: Seq[A]): Map[A, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  property("crossPairs equals the quadratic cross-corpus ground truth") =
    forAll(for {
      l <- corpusGen.flatMap(withOddRows)
      r <- benchFor(l)
      t <- Gen.oneOf(0.3, 0.5, 1.0)
    } yield (l, r, t)) { case (l, r, t) =>
      import graft.operators.JaccardDedup
      // one row per (left row, right row) pair at J ≥ t; Spark divides
      // the same two ints, so the jaccard values compare exactly
      val want = for {
        (il, tl) <- l; (ir, tr) <- r
        a = bigrams(tl); b = bigrams(tr) if a.nonEmpty && b.nonEmpty
        c = (a & b).size
        j = c.toDouble / (a.size + b.size - c) if j >= t
      } yield (il, ir, j)
      val got = JaccardDedup.crossPairs(
          l.toDF("doc_id", "text"), "doc_id", r.toDF("bench_id", "text"), "bench_id",
          "text", 2, t)
        .as[(Long, Long, Double)].collect().toSeq
      multiset(got) == multiset(want)
    }

  property("decontaminate equals the quadratic ground truth as a multiset of kept rows") =
    forAll(for {
      train <- corpusGen.flatMap(withOddRows)
      bench <- benchFor(train)
      t <- Gen.oneOf(0.3, 0.5, 1.0)
    } yield (train, bench, t)) { case (train, bench, t) =>
      import graft.operators.JaccardDedup
      val benchSh = bench.map(b => bigrams(b._2)).filter(_.nonEmpty)
      val dirty = train.collect { case (id, x) if bigrams(x).nonEmpty && benchSh.exists { b =>
          val a = bigrams(x); val c = (a & b).size
          c.toDouble / (a.size + b.size - c) >= t
        } => id }.toSet
      val got = JaccardDedup.decontaminate(
          train.toDF("doc_id", "text"), "doc_id",
          bench.toDF("bench_id", "text"), "bench_id", "text", 2, t)
        .as[(Long, String)].collect().toSeq
      multiset(got) == multiset(train.filterNot(r => dirty(r._1)))
    }

  // ---- the clustered family against a plain-Scala all-pairs truth
  // that shares no code with the operators: string n-gram sets,
  // quadratic pair scoring and a min-root union-find ----

  /** Every (a < b) pair of `docs` whose sets score `Some`. */
  private def truthPairs[S](docs: Seq[(Long, String)], set: String => Set[String],
      score: (Int, Int, Int) => Option[S]): Seq[(Long, Long, S)] = {
    val sets = docs.map { case (id, text) => (id, set(text)) }
    for {
      (ia, a) <- sets; (ib, b) <- sets if ia < ib
      s <- score((a & b).size, a.size, b.size)
    } yield (ia, ib, s)
  }

  private def jaccardScore(t: Double)(c: Int, na: Int, nb: Int): Option[Double] =
    if (na == 0 || nb == 0) None
    else Some(c.toDouble / (na + nb - c)).filter(_ >= t)

  /** (id, min id of its component) for every doc of `ids`. */
  private def truthLabels(ids: Seq[Long], edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => (i, find(i)))
  }

  /** The session whose broadcast threshold is off, so the direct route
    * takes its shuffled arm.
    */
  private lazy val noBroadcast = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** `components`, `pairsClustered` and `OverlapJoin.pairsClustered`
    * equal the truth as multisets of exact rows in three modes: the
    * default call (the adaptive route, direct at these sizes, on its
    * broadcast arm), `adaptive = false` (the clustered core), and the
    * default call with broadcasts off (the direct route's shuffled arm).
    * The direct twins `JaccardDedup.nearDupPairs` and `overlapJoin`
    * (no route) are checked in both sessions.
    */
  private def clusteredFamilyMatches(docs: List[(Long, String)], t: Double, k: Int): Boolean = {
    import graft.functions.{NativeHash, Text}
    import graft.operators.{ClusterDedup, JaccardDedup, OverlapJoin}
    val pairs = truthPairs(docs, grams(_, 2), jaccardScore(t))
    val labels = truthLabels(docs.map(_._1), pairs.map(p => (p._1, p._2)))
    val overlaps = truthPairs(docs, grams(_, 1),
      (c, _, _) => Some(c.toLong).filter(_ >= k))
    Seq((spark, true), (spark, false), (noBroadcast, true)).forall { case (session, adaptive) =>
      val df = session.createDataFrame(docs).toDF("doc_id", "text")
      val sets = NativeHash.shingleHashes(Text.tokens(col("text")), 1)
      val gotLabels = ClusterDedup.components(df, "doc_id", "text", 2, t, adaptive = adaptive)
        .as[(Long, Long)].collect().toSeq
      val gotPairs = ClusterDedup.pairsClustered(df, "doc_id", "text", 2, t, adaptive = adaptive)
        .select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)].collect().toSeq
      val gotOverlaps = OverlapJoin.pairsClustered(df, "doc_id", sets, minOverlap = k,
          adaptive = adaptive)
        .select(col("id_a"), col("id_b"), col("overlap")).as[(Long, Long, Long)].collect().toSeq
      val directOk = !adaptive || {
        val direct = JaccardDedup.nearDupPairs(df, "doc_id", "text", 2, t)
          .as[(Long, Long, Double)].collect().toSeq
        val directOverlaps = JaccardDedup.overlapJoin(df, "doc_id", sets, minOverlap = k)
          .as[(Long, Long, Long)].collect().toSeq
        multiset(direct) == multiset(pairs) && multiset(directOverlaps) == multiset(overlaps)
      }
      multiset(gotLabels) == multiset(labels) && multiset(gotPairs) == multiset(pairs) &&
        multiset(gotOverlaps) == multiset(overlaps) && directOk
    }
  }

  property("clustered family equals the all-pairs truth on random corpora, every route") =
    forAll(for {
      docs <- corpusGen
      odd <- Gen.listOfN(3, Gen.oneOf(null: String, "", "alpha", "alpha beta"))
      t <- Gen.oneOf(0.3, 0.5, 0.8, 1.0)
      k <- Gen.oneOf(1, 2, 3)
    } yield (docs ++ odd.zipWithIndex.map { case (x, i) => (100L + i, x) }, t, k)) {
      case (docs, t, k) => clusteredFamilyMatches(docs, t, k)
    }

  property("clustered family equals the all-pairs truth on degenerate corpora, every route") =
    Prop.secure {
      val words = "alpha beta gamma delta epsilon zeta eta theta".split(" ")
      val varied = words.indices.toList.map(i => (i.toLong, words.drop(i).mkString(" ")))
      Seq(
        Nil, // empty frame
        List((7L, "alpha beta gamma")), // one row
        List((1L, null), (2L, ""), (3L, "alpha"), (4L, null), (5L, "alpha beta gamma")),
        List.tabulate(6)(i => (i.toLong, "alpha beta gamma delta")), // all identical
        // one shingle ("hot key") present in every doc
        varied.map { case (id, text) => (id, s"hot key $text") }
      ).forall(docs => Seq((0.3, 1), (0.6, 2), (1.0, 3)).forall { case (t, k) =>
        clusteredFamilyMatches(docs, t, k)
      })
    }

  property("parseContainerMeta is total on arbitrary bytes: never throws, garbage is unknown") =
    forAll(Gen.oneOf(
      // pure random bytes
      Gen.choose(0, 64).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))),
      // random corruption of a valid container (magic survives, body mangled)
      Gen.zip(Gen.choose(0, 200), Gen.choose(Byte.MinValue, Byte.MaxValue)).map { case (at, b) =>
        val base = graft.operators.Multimodal.encodeMp4(1000, 500L, 320, 240, tracks = 2) ++
          graft.operators.Multimodal.encodeMp3(2, 9, 0)
        if (base.isEmpty) Nil else { val c = base.clone(); c(at % c.length) = b; c.toList }
      })) { bytes =>
      // the parse must terminate and classify — a crash or hang on
      // crafted bytes is a denial-of-service on the whole partition
      val row = graft.operators.Multimodal.parseContainerMeta(bytes.toArray)
      Set("png", "jpeg", "mp3", "mp4", "wav", "flac", "unknown").contains(row.getString(0))
    }

  property("TopKAgg: any reduce/merge interleaving equals the sorted-truth top-k") =
    forAll(
      Gen.choose(1, 6),
      Gen.choose(0, 40).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, 15L), Gen.choose(0, 5).map(_ * 0.25)))),
      Gen.choose(1, 5)) { (k, rows, splits) =>
      // deliberately tiny id/score domains force duplicate scores (tie
      // paths) and duplicate ids; split points exercise merge() across
      // arbitrary partition boundaries, reduce() within them
      val agg = new graft.functions.TopKAgg.TopNeighbors(k)
      val parts = if (rows.isEmpty) Seq(rows) else rows.grouped(
        math.max(1, rows.length / splits)).toSeq
      val merged = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val got = agg.finish(merged)
      val want = rows.sortBy { case (id, s) => (-s, id) }.take(k)
      got == want
    }

  property("hive-text encodeRow never yields NULL and keeps the field count") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(0L, 99L), Gen.option(Gen.alphaNumStr.map(_.take(8)))))) {
      rows =>
        rows.isEmpty || {
          import graft.functions.HiveText
          val df = rows.toDF("k", "v")
          val lines = df.select(HiveText.encodeRow(df.schema).as("l")).as[String].collect()
          lines.length == rows.length &&
          lines.forall(_ != null) &&
          lines.forall(_.count(_ == '') == 1) // 2 fields -> exactly 1 delimiter
        }
    }
}
