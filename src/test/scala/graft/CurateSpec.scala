package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curate

/** Curation operators: determinism (the whole point of content-keyed
  * bucketing), split mass, stratified rates, and packing arithmetic.
  */
class CurateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = (0L until 2000L).map(i => (i, s"word$i " * (i % 7 + 1).toInt))
    .toDF("doc_id", "text")

  test("splitAssign is deterministic and splits by the declared mass") {
    val a = Curate.splitAssign(docs, "doc_id").select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Curate.splitAssign(docs.repartition(7), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "assignment must not depend on partitioning")
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("test") - 0.1) < 0.03 && math.abs(frac("val") - 0.1) < 0.03,
      s"split mass off: $frac")
  }

  test("leakageSafeSplit: near-dup clusters move atomically, singletons match splitAssign on cluster id") {
    // three exact-dup cliques with DISJOINT vocabularies (no shared
    // word bigrams, so the cliques stay three separate clusters — a
    // shared-prefix fixture would merge them all at J >= 0.3 and the
    // multi-cluster assertions below would be vacuous) + a near-dup
    // pair + independent singletons
    val corpus = (
      (0L until 30L).map { i =>
        val c = i % 3
        (i, (0 until 8).map(w => s"c${c}w$w").mkString(" "))
      } ++
      Seq((100L, "the quick brown fox jumps over the lazy dog tonight"),
          (101L, "the quick brown fox jumps over the lazy dog today")) ++
      (200L until 240L).map(i => (i, s"unique$i solo$i text$i body$i tail$i"))
    ).toDF("doc_id", "text")
    val out = Curate.leakageSafeSplit(corpus, "doc_id", "text")
      .select("doc_id", "cluster_id", "split").as[(Long, Long, String)].collect()
    // no cluster straddles a split boundary — the leakage guarantee
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct.toSeq).toMap
    assert(byCluster.values.forall(_.size == 1),
      s"cluster split leakage: ${byCluster.filter(_._2.size > 1)}")
    // the three cliques resolve to three DISTINCT 10-doc clusters —
    // each atomic under the split (checked above for all clusters)
    val cliqueClusters = out.filter(_._1 < 30L).groupBy(_._2)
    assert(cliqueClusters.size == 3 && cliqueClusters.values.forall(_.length == 10),
      s"expected 3 disjoint 10-doc clusters, got ${cliqueClusters.view.mapValues(_.length).toMap}")
    // the near-dup pair shares a cluster and therefore a split
    val m = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(100L) == m(101L))
    // singleton docs (own cluster = own id) reduce exactly to splitAssign
    val plain = Curate.splitAssign(corpus.filter(col("doc_id") >= 200), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (200L until 240L).foreach { i =>
      assert(m(i)._1 == i && m(i)._2 == plain(i), s"singleton $i diverges")
    }
  }

  test("stratifiedSample keeps roughly the per-stratum rate and is a pure filter") {
    val strat = docs.withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val kept = Curate.stratifiedSample(strat, "doc_id", "lang", Map("en" -> 0.25), defaultRate = 0.75)
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(byLang("en") / 1000.0 - 0.25) < 0.06, s"en rate ${byLang("en") / 1000.0}")
    assert(math.abs(byLang("de") / 1000.0 - 0.75) < 0.06, s"de rate ${byLang("de") / 1000.0}")
    // a sample is a subset of the input, same schema, no new rows
    assert(kept.join(strat, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("packSequences: pack boundaries follow the in-shard token prefix sum") {
    val packed = Curate.packSequences(docs, "doc_id", "text", budget = 10, shards = 4)
      .as[(Long, Long, Int, Long)].collect() // (doc_id, shard, n_tokens, pack_id)
    assert(packed.length == 2000)
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._1)
      var cum = 0L
      inOrder.foreach { case (id, _, n, pack) =>
        assert(pack == cum / 10, s"doc $id: pack $pack != ${cum / 10}")
        cum += n
      }
    }
    // shard-local: every doc keeps its md5-bucket shard (the same
    // content-keyed hash as splitAssign, mod shards)
    def md5Shard(id: String, shards: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(id.getBytes("UTF-8"))
      val hex = d.take(2).map(b => f"$b%02x").mkString
      (Integer.parseInt(hex, 16) % shards).toLong
    }
    assert(packed.forall { case (id, shard, _, _) => shard == md5Shard(id.toString, 4) })
  }

  test("packSequences shards STRING ids uniformly (no NULL-shard collapse)") {
    // pmod(stringId, shards) would cast to NULL and collapse the corpus
    // into one shard = one window task; the md5 bucket must spread it
    val strDocs = (0 until 500).map(i => (s"doc-$i", s"tok$i " * (i % 5 + 1)))
      .toDF("doc_id", "text")
    val packed = Curate.packSequences(strDocs, "doc_id", "text", budget = 10, shards = 4)
      .as[(String, Long, Int, Long)].collect()
    assert(packed.length == 500)
    val perShard = packed.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perShard.keySet.forall(s => s >= 0 && s < 4), s"shard out of range: $perShard")
    assert(perShard.size >= 2, s"string ids collapsed into ${perShard.size} shard(s): $perShard")
  }
}
