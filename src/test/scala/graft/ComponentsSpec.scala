package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

/** Connected components (large-star/small-star): cluster = min reachable
  * id. The long-path case forces multiple alternation rounds; the oracle
  * for the driver gate is a DuckDB recursive CTE (SparkEntry).
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // every case runs BOTH execution paths: threshold 0 forces the
  // distributed large/small-star alternation (an empty edge list stays
  // local), the default and Long.MaxValue (the clamp of the collect
  // bound) take the bounded driver union-find. Output is checked as a
  // multiset: every id exactly once.
  private def cc(edges: Seq[(Long, Long)],
                 vertices: Option[Seq[Long]] = None): Map[Long, Long] = {
    val runs = Seq(1L << 20, Long.MaxValue, 0L).map { t =>
      val rows = Components.connectedComponents(
          edges.toDF("a", "b"), "a", "b", vertices.map(_.toDF("id")), localThreshold = t)
        .as[(Long, Long)].collect().toSeq
      val repeated = rows.groupBy(_._1).collect { case (id, rs) if rs.size > 1 => id }
      assert(repeated.isEmpty, s"localThreshold=$t labels ids more than once: $repeated")
      t -> rows.toMap
    }
    for ((t, got) <- runs.tail)
      assert(got == runs.head._2,
        s"localThreshold=$t disagrees with the default: $got vs ${runs.head._2}")
    runs.head._2
  }

  test("two components resolve to their minimum ids") {
    // 1 and 10 are never a child in the driver union-find; they must
    // still get their own rows
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a 40-node path converges to a single min-rooted star") {
    val path = (0L until 39L).map(i => (i + 1, i + 2)) // 1-2-3-...-40
    val got = cc(path)
    assert(got.size == 40 && got.values.forall(_ == 1L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = cc(Seq((5L, 5L), (4L, 7L), (7L, 4L), (4L, 7L)))
    assert(got == Map(5L -> 5L, 4L -> 4L, 7L -> 4L))
  }

  test("isolated vertices map to themselves") {
    val got = cc(Seq((1L, 2L)), Some(Seq(1L, 2L, 99L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 99L -> 99L))
  }

  test("degenerate inputs: empty edges, duplicate vertex ids, self-loop-only vertices") {
    assert(cc(Nil).isEmpty)
    assert(cc(Nil, Some(Seq(3L, 1L))) == Map(1L -> 1L, 3L -> 3L))
    assert(cc(Seq((1L, 2L)), Some(Seq(2L, 2L, 7L, 7L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    assert(cc(Seq((5L, 5L), (6L, 6L))) == Map(5L -> 5L, 6L -> 6L))
    assert(cc(Seq((5L, 5L), (6L, 6L)), Some(Seq(6L, 8L))) ==
      Map(5L -> 5L, 6L -> 6L, 8L -> 8L))
  }

  test("bounded edge list: driver labels as a local relation, no labels-out cut") {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties.getProperty("spark.jobGroup.id") == "components-local")
          descs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
        ()
      }
    }
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    sc.addSparkListener(listener)
    sc.setJobGroup("components-local", "components local branch")
    val out = try {
      val out = Components.connectedComponents(edges, "a", "b")
      assert(org.apache.spark.sql.graft.Shims.drainListenerBus(sc))
      out
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!descs.toArray.exists(_ == "cut: components: labels out"), s"jobs: $descs")
    assert(out.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "local-branch labels without vertices are a driver-local relation")
    assert(out.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("intermediate checkpoints are released — at most one new persistent RDD survives") {
    // localCheckpoint persists RDD blocks outside the cache manager;
    // without explicit release every alternation round leaks one
    // edge-set's blocks until RDD GC (round-5 advice)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (0L until 39L).map(i => (i + 1, i + 2)).toDF("a", "b")
    Components.connectedComponents(edges, "a", "b", localThreshold = 0L).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked persisted RDDs beyond the result checkpoint: $leaked")
  }

  test("Par.cut takes the RELIABLE checkpoint path when a checkpoint dir is set") {
    import graft.operators.Par
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no ambient checkpoint dir")
    val noDir = Par.cut(Seq(1L, 2L).toDF("x"))
    assert(noDir.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val cut = Par.cut(Seq(3L, 4L).toDF("x"))
      assert(cut.as[Long].collect().sorted.toSeq == Seq(3L, 4L))
      // reliable checkpoint writes RDD files under the dir; local
      // checkpoint would leave it empty
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files written — Par.cut ignored the checkpoint dir")
      // the distributed-alternation operator stays correct under
      // reliable checkpointing end to end
      val edges = (0L until 20L).map(i => (i + 1, i + 2)).toDF("a", "b")
      val got = Components.connectedComponents(edges, "a", "b", localThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got == (1L to 21L).map(_ -> 1L).toMap)
    } finally {
      // restore the no-dir default for other suites (package-private
      // setter is unreachable; the field is driver-local config)
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("matches a brute-force union-find on a random-ish graph") {
    // deterministic pseudo-random edges over 60 nodes
    val edges = (0 until 80).map { i =>
      val a = (i * 37 + 11) % 60; val b = (i * 53 + 29) % 60
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    // driver-side union-find oracle
    val parent = Array.tabulate(60)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until 60).map { v =>
      // component label = min node in component
      val r = find(v)
      val m = (0 until 60).filter(u => find(u) == r).min
      v.toLong -> m.toLong
    }.toMap
    val got = cc(edges, Some((0L until 60L).toSeq))
    assert(got == want)
  }
}
