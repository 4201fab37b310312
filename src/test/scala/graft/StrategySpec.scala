package graft

import graft.algos.PageRank
import graft.core.{CheckpointStore, LinkGraph}
import org.apache.spark.EventTap
import org.scalatest.funsuite.AnyFunSuite

/** The three physical PageRank strategies must agree to float tolerance on
  * the same graph (byte-identical plans are not required — north_star §6
  * re-validation of the CSR/salting paths against the slice-0 results).
  */
class StrategySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def randomGraph(n: Int, m: Int): LinkGraph = {
    val edges = (0 until m).map { k =>
      val a = graft.ingest.Pages.mix64(42L + k)
      val s = java.lang.Long.remainderUnsigned(a, n.toLong)
      val d = java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), n.toLong)
      (s, d)
    }
    LinkGraph(spark, n, edges, directed = true)
  }

  test("CSR-block and hub-broadcast PageRank match edge-join to 1e-9") {
    val g = randomGraph(300, 2500)
    val base = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 40, strategy = PageRank.EdgeJoin).ranks, "rank")
    val csr = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 40, strategy = PageRank.CsrBlocks(8)).ranks, "rank")
    val hub = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 40, strategy = PageRank.HubBroadcast(20)).ranks, "rank")
    base.indices.foreach { i =>
      assert(math.abs(base(i) - csr(i)) < 1e-9, s"csr differs at $i")
      assert(math.abs(base(i) - hub(i)) < 1e-9, s"hub differs at $i")
    }
  }

  test("grid-CSR PageRank matches edge-join to 1e-9 (directed, with dangling)") {
    val g = randomGraph(300, 2500) // remainderUnsigned leaves some ids dangling
    val base = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 40, strategy = PageRank.EdgeJoin).ranks, "rank")
    val grid = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 40, strategy = PageRank.GridBlocks(7)).ranks, "rank")
    base.indices.foreach { i =>
      assert(math.abs(base(i) - grid(i)) < 1e-9, s"grid differs at $i")
    }
  }

  test("grid-CSR matches edge-join on a weighted graph and personalized reset") {
    import spark.implicits._
    val edges = (0 until 500).map { k =>
      val a = graft.ingest.Pages.mix64(7L + k)
      (java.lang.Long.remainderUnsigned(a, 60L),
        java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), 60L),
        1.0 + (java.lang.Long.remainderUnsigned(a, 5L)).toDouble)
    }
    val g = LinkGraph.weighted(spark, 60, edges, directed = true)
    val reset = Some((0 until 60).map(i => (i.toLong, if (i % 7 == 0) 1.0 else 0.0)).toDF("id", "reset"))
    val base = TestSession.vector(
      PageRank.run(g, damping = 0.5, tol = 1e-12, maxIter = 60, reset = reset,
        strategy = PageRank.EdgeJoin).ranks, "rank")
    val grid = TestSession.vector(
      PageRank.run(g, damping = 0.5, tol = 1e-12, maxIter = 60, reset = reset,
        strategy = PageRank.GridBlocks(5)).ranks, "rank")
    base.indices.foreach { i =>
      assert(math.abs(base(i) - grid(i)) < 1e-9, s"grid differs at $i")
    }
  }

  test("grid-CSR fixed-iteration mode matches edge-join fixed mode exactly-ish") {
    val g = randomGraph(200, 1500)
    val base = TestSession.vector(
      PageRank.run(g, fixedIters = Some(15), strategy = PageRank.EdgeJoin).ranks, "rank")
    val grid = TestSession.vector(
      PageRank.run(g, fixedIters = Some(15), strategy = PageRank.GridBlocks(0)).ranks, "rank")
    base.indices.foreach { i =>
      assert(math.abs(base(i) - grid(i)) < 1e-12, s"grid differs at $i")
    }
  }

  test("grid-CSR handles tiny graphs where most blocks are empty") {
    val g = LinkGraph(spark, 5, Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)), directed = true)
    val base = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 80, strategy = PageRank.EdgeJoin).ranks, "rank")
    val grid = TestSession.vector(
      PageRank.run(g, tol = 1e-12, maxIter = 80, strategy = PageRank.GridBlocks(0)).ranks, "rank")
    base.indices.foreach(i => assert(math.abs(base(i) - grid(i)) < 1e-9))
  }

  test("grid-CSR reproduces the Star(11) golden (undirected bidirected view)") {
    val g = LinkGraph.star(spark, 11)
    val v = TestSession.vector(
      PageRank.run(g, tol = 1e-10, maxIter = 200, strategy = PageRank.GridBlocks(3)).ranks, "rank")
    assert(math.abs(v.max - 0.4668) < 5e-4)
    assert(v.indexOf(v.max) == 0)
  }

  test("CSR strategy reproduces the Star(11) golden") {
    val g = LinkGraph.star(spark, 11)
    val v = TestSession.vector(
      PageRank.run(g, tol = 1e-10, maxIter = 200, strategy = PageRank.CsrBlocks(4)).ranks, "rank")
    assert(math.abs(v.max - 0.4668) < 5e-4)
    assert(v.indexOf(v.max) == 0)
  }

  test("grid drops personalized reset ids outside [0, n) and matches edge-join") {
    import spark.implicits._
    // 999 and -3 lie outside the vertex set: they count in the normalizer
    // only. A 4-cycle with a chord has no dangling vertex; the random
    // 10-vertex graph has some.
    val graphs = Seq(
      LinkGraph(spark, 10, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (4L, 5L), (5L, 6L), (6L, 7L),
        (7L, 8L), (8L, 9L), (9L, 4L), (2L, 7L)), directed = true),
      randomGraph(10, 14))
    val reset = Some(Seq((2L, 1.0), (7L, 0.5), (999L, 1.0), (-3L, 0.5)).toDF("id", "reset"))
    for (g <- graphs) {
      // smallThreshold = 0 keeps the edge-join run off the driver kernel
      val base = TestSession.vector(PageRank.run(g, fixedIters = Some(20), reset = reset,
        strategy = PageRank.EdgeJoin, smallThreshold = 0L).ranks, "rank")
      val grid = TestSession.vector(PageRank.run(g, fixedIters = Some(20), reset = reset,
        strategy = PageRank.GridBlocks(3)).ranks, "rank")
      base.indices.foreach { i =>
        assert(math.abs(base(i) - grid(i)) < 1e-12, s"grid differs at $i: ${grid(i)} vs ${base(i)}")
      }
    }
  }

  test("default strategy: grid when numVertices is set, edge-join when it is not") {
    val dense = randomGraph(300, 2500)
    def sites(g: LinkGraph): Seq[String] =
      EventTap(spark.sparkContext)(PageRank.run(g, maxIter = 3).ranks.count())._2.stageNames
    assert(sites(dense).exists(_.contains("PageRankGrid.scala")))
    val open = sites(dense.copy(numVertices = None))
    assert(!open.exists(_.contains("PageRankGrid.scala")))
    assert(open.exists(_.contains("PageRank.scala")))
  }

  test("a snapshot resumes on either strategy and matches the uninterrupted run to 1e-8") {
    val g = randomGraph(300, 2500)
    val full = TestSession.vector(
      PageRank.run(g, tol = 1e-10, maxIter = 100, strategy = PageRank.EdgeJoin).ranks, "rank")
    val pairs = Seq(PageRank.EdgeJoin -> PageRank.GridBlocks(5), PageRank.GridBlocks(5) -> PageRank.EdgeJoin)
    for ((first, second) <- pairs) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      val store = new CheckpointStore(dir, "cut")
      PageRank.run(g, tol = 1e-10, maxIter = 100, fixedIters = Some(4), store = Some(store), strategy = first)
      assert(store.latestIter(spark).contains(4))
      val resumed = TestSession.vector(
        PageRank.resume(g, store, tol = 1e-10, maxIter = 100, strategy = second).ranks, "rank")
      full.indices.foreach { i =>
        assert(math.abs(full(i) - resumed(i)) < 1e-8, s"$first -> $second differs at $i")
      }
    }
  }
}
