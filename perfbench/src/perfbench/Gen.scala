package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same rows on any host
  * and core count: events are generated in a fixed number of partitions,
  * each from its own stream derived from the seed, and documents on the
  * driver from one stream.
  */
object Gen {

  /** Independent stream `k` of a seed (SplitMix64 finalizer over both). */
  def rng(seed: Long, k: Long): SplittableRandom = {
    var z = seed * 0x9e3779b97f4a7c15L + k * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new SplittableRandom(z ^ (z >>> 31))
  }
}

/** Events-shaped rows for the dump/load migration. */
object EventGen {
  val Parts = 8
  val NullShare = 0.05
  val SpecialShare = 0.02
  val ResendShare = 0.05
  val UpdateShare = 0.30
  val StaleShare = 0.20

  val PropsSchema: StructType = StructType(Seq(
    StructField("page", StructType(Seq(StructField("url", StringType), StructField("ref", StringType)))),
    StructField("device", StructType(Seq(StructField("os", StringType), StructField("ver", IntegerType)))),
    StructField("amount", DoubleType),
    StructField("tags", ArrayType(StringType))))

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("user_id", LongType),
    StructField("ts_ms", LongType, nullable = false),
    StructField("event_type", StringType),
    StructField("note", StringType),
    StructField("props", StringType, nullable = false)))

  /** The transformed (exploded, flattened) row the pipeline dumps and loads. */
  val FlatSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("version", IntegerType),
    StructField("user_id", LongType), StructField("ts_ms", LongType),
    StructField("event_type", StringType), StructField("note", StringType),
    StructField("page_url", StringType), StructField("page_ref", StringType),
    StructField("device_os", StringType), StructField("device_ver", IntegerType),
    StructField("amount", DoubleType), StructField("tag", StringType)))

  val Keys = Seq("event_id", "tag")

  private val Types = Array("view", "click", "cart", "buy", "share", "search")
  private val Refs = Array("direct", "search", "mail", "social", "partner")
  private val Oses = Array("ios", "android", "linux", "mac", "win")
  private val Tags = Array("new", "sale", "promo", "mobile", "desktop", "eu", "us", "apac",
    "beta", "vip", "trial", "gift")
  private val Words = Array("order", "late", "gift", "wrap", "please", "call", "back", "fast",
    "ship", "note", "box", "door", "left", "front", "desk")
  // a literal backslash is followed by an upper-case letter: the Hive-text
  // escape table leaves '\' itself unescaped, so '\' before 0, 1, n or r
  // would not round-trip in any implementation of the reference format
  private val Specials = Array("\u0001", "\n", "\r", "\\T", "\\Q")

  private def maybeNull[T](r: SplittableRandom, v: => T): T =
    if (r.nextDouble() < NullShare) null.asInstanceOf[T] else v

  private def special(r: SplittableRandom, s: String): String =
    if (r.nextDouble() >= SpecialShare) s
    else {
      val at = r.nextInt(s.length + 1)
      s.substring(0, at) + Specials(r.nextInt(Specials.length)) + s.substring(at)
    }

  private def jsonStr(s: String): String =
    if (s == null) "null" else Json(s)

  final case class Part(events: Seq[Row], flat: Seq[Row], targetInit: Seq[Row])

  /** Partition `p` of `n` events: raw events, their expected flattened
    * rows, and the pre-existing target rows (older versions of about
    * UpdateShare of the keys, plus stale rows the load never touches).
    */
  def part(seed: Long, p: Int, n: Int): Part = {
    val r = Gen.rng(seed, p)
    val per = n / Parts + (if (p < n % Parts) 1 else 0)
    val first = (0 until p).map(q => n / Parts + (if (q < n % Parts) 1 else 0)).sum.toLong
    val events = mutable.ArrayBuffer.empty[Row]
    val flat = mutable.ArrayBuffer.empty[Row]
    val target = mutable.ArrayBuffer.empty[Row]
    def emit(id: Long, version: Int, tags: Seq[String]): Unit = {
      val user = maybeNull(r, java.lang.Long.valueOf(1L + r.nextInt(200000)))
      val ts = 1700000000000L + id * 1000L + version * 100L + r.nextInt(100)
      val tpe = maybeNull(r, Types(r.nextInt(Types.length)))
      val note = maybeNull(r, special(r, Seq.fill(2 + r.nextInt(5))(Words(r.nextInt(Words.length))).mkString(" ")))
      val url = maybeNull(r, special(r, s"/p/${r.nextInt(5000)}/${Words(r.nextInt(Words.length))}"))
      val ref = maybeNull(r, special(r, Refs(r.nextInt(Refs.length))))
      val os = maybeNull(r, Oses(r.nextInt(Oses.length)))
      val ver = maybeNull(r, java.lang.Integer.valueOf(1 + r.nextInt(30)))
      val amount = maybeNull(r, java.lang.Double.valueOf(r.nextInt(100000) / 100.0))
      val props = s"""{"page":{"url":${jsonStr(url)},"ref":${jsonStr(ref)}},""" +
        s""""device":{"os":${jsonStr(os)},"ver":${if (ver == null) "null" else ver.toString}},""" +
        s""""amount":${if (amount == null) "null" else amount.toString},""" +
        s""""tags":${tags.map(Json(_)).mkString("[", ",", "]")}}"""
      events += Row(id, version, user, ts, tpe, note, props)
      tags.foreach(t => flat += Row(id, version, user, ts, tpe, note, url, ref, os, ver, amount, t))
    }
    (0 until per).foreach { i =>
      val id = first + i + 1
      val nTags = if (r.nextDouble() < 0.05) 0 else 1 + r.nextInt(3)
      val pool = Tags.clone()
      val tags = (0 until nTags).map { k =>
        val j = k + r.nextInt(pool.length - k)
        val t = pool(j); pool(j) = pool(k); pool(k) = t
        t
      }
      emit(id, 1, tags)
      if (r.nextDouble() < ResendShare) emit(id, 2, tags)
      tags.foreach { t =>
        if (r.nextDouble() < UpdateShare)
          target += Row(id, 0, 7L, 1600000000000L + id, "old", "seeded", "/old", null, "os2", 1, 1.5, t)
      }
      if (r.nextDouble() < StaleShare)
        target += Row(-id, 0, 8L, 1600000000000L - id, "stale", null, "/gone", "direct", null, 2, 0.25,
          Tags(r.nextInt(Tags.length)))
    }
    Part(events.toSeq, flat.toSeq, target.toSeq)
  }
}

/** A replicated document corpus from a seeded Zipf vocabulary: near-dup
  * families with token perturbation, exact copies, low-quality repetitive
  * docs, a held-out eval slice with planted overlaps, and for the
  * incremental case a base/delta split whose delta bridges families.
  */
object DocGen {
  val FamilyShare = 0.40
  val ExactShare = 0.05
  val LowQualityShare = 0.03
  val EvalShare = 0.02
  val DeltaShare = 0.05
  val BridgeShareOfDelta = 0.10
  val Perturb = 0.05
  val Vocab = 6000
  val ZipfS = 1.05

  private val Function = Array("the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "on", "with")
  private val Junk = Array("!!", "$$$", "###", "***", "+++", "@@", "%%", "&&", "::", ";;",
    "0", "1", "7", "42", "99", "404", "2024", "x1", "zz", "qq")

  final case class Corpus(
      docs: Seq[(Long, String)],
      eval: Seq[(Long, String)],
      base: Seq[(Long, String)],
      delta: Seq[(Long, String)])

  def corpus(seed: Long, n: Int): Corpus = {
    val r = Gen.rng(seed, 1000)
    val words = {
      val seen = mutable.LinkedHashSet[String](Function.toSeq: _*)
      while (seen.size < Vocab) {
        val len = 3 + r.nextInt(7)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    val cdf = {
      val w = Array.tabulate(words.length)(i => 1.0 / math.pow(i + 1, ZipfS))
      w.scanLeft(0.0)(_ + _).tail
    }
    def word(): String = {
      val u = r.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(if (i >= 0) i else -i - 1)
    }
    def fresh(): Vector[String] = Vector.fill(60 + r.nextInt(90))(word())
    def perturb(t: Vector[String]): Vector[String] = t.flatMap { w =>
      val u = r.nextDouble()
      if (u < Perturb / 3) Vector.empty
      else if (u < 2 * Perturb / 3) Vector(word())
      else if (u < Perturb) Vector(w, word())
      else Vector(w)
    }
    def junk(): Vector[String] = {
      val phrase = Vector.fill(3 + r.nextInt(3))(Junk(r.nextInt(Junk.length)))
      Vector.fill(15 + r.nextInt(25))(phrase).flatten
    }

    // (tokens, family index or -1)
    val items = mutable.ArrayBuffer.empty[(Vector[String], Int)]
    val roots = mutable.ArrayBuffer.empty[Vector[String]]
    val famTarget = (n * FamilyShare).toInt
    var inFam = 0
    while (famTarget - inFam >= 2) {
      val g = math.min(2 + r.nextInt(7), famTarget - inFam)
      val root = fresh()
      roots += root
      (0 until g).foreach(_ => items += perturb(root) -> (roots.size - 1))
      inFam += g
    }
    (0 until (n * LowQualityShare).toInt).foreach(_ => items += junk() -> -1)
    val nExact = (n * ExactShare).toInt
    while (items.size < n - nExact) items += fresh() -> -1
    while (items.size < n) items += items(r.nextInt(items.size))
    // ids in shuffled order, so families and copies spread over the id range
    val order = (0 until n).toArray
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val docs = order.indices.map(k => (k + 1L, items(order(k))._1.mkString(" ")))
    val famOfId = order.indices.map(k => items(order(k))._2)

    val nEval = (n * EvalShare).toInt
    val eval = (0 until nEval).map { i =>
      val text = if (i % 2 == 0) perturb(docs(r.nextInt(n))._2.split(" ").toVector) else fresh()
      (i + 1L, text.mkString(" "))
    }

    // the delta: the top DeltaShare of ids, plus new docs that join two
    // families of similar length (70% of a member of each)
    val cut = n - (n * DeltaShare).toInt
    val (base, tail) = docs.partition(_._1 <= cut)
    val baseFamilies = base.indices.map(i => famOfId(i)).filter(_ >= 0).distinct.toVector
    val nBridge = math.max(1, ((n - cut) * BridgeShareOfDelta).toInt)
    val bridges = (0 until nBridge).map { i =>
      val a = roots(baseFamilies(r.nextInt(baseFamilies.size)))
      val similar = baseFamilies.map(roots).filter(b => b != a && math.abs(b.size - a.size) <= a.size / 5)
      val b = if (similar.isEmpty) fresh() else similar(r.nextInt(similar.size))
      (n + i + 1L, (perturb(a).take(a.size * 7 / 10) ++ perturb(b).take(b.size * 7 / 10)).mkString(" "))
    }
    Corpus(docs, eval, base, tail ++ bridges)
  }
}
