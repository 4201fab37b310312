package linkbench

import org.scalatest.funsuite.AnyFunSuite

/** The oracles against the igraph goldens pinned in the repository's
  * FIXTURES.md, and the generators against their recorded digests.
  */
class OracleSpec extends AnyFunSuite {

  private def undirected(edges: (Int, Int)*): (Array[Int], Array[Int]) =
    (edges.map(_._1).toArray, edges.map(_._2).toArray)

  private def full(base: Int, k: Int): Seq[(Int, Int)] =
    for (i <- 0 until k; j <- i + 1 until k) yield (base + i, base + j)

  test("PageRank: Star(11) hub 0.4668, ranks sum to 1") {
    // undirected star: every edge in both directions
    val spokes = 1 to 10
    val src = (spokes.map(_ => 0) ++ spokes).toArray
    val dst = (spokes ++ spokes.map(_ => 0)).toArray
    val r = Oracle.pageRank(11, src, dst, 1e-12, 1000)
    assert(math.abs(r.rank(0) - 0.4668) < 1e-4)
    assert(math.abs(r.rank.sum - 1.0) < 1e-12)
    assert(spokes.forall(v => math.abs(r.rank(v) - (1 - r.rank(0)) / 10) < 1e-12))
  }

  test("PageRank: dangling mass goes to every page uniformly") {
    // 0 -> 1, 1 dangling: fixpoint r1 = 0.15/2 + 0.85 (r0 + r1/2), r0 = 0.15/2 + 0.85 r1/2
    val r = Oracle.pageRank(2, Array(0), Array(1), 1e-15, 1000)
    val r1 = (0.075 + 0.85 * 0.075) / (1 - 0.85 * 0.5 - 0.85 * 0.85 * 0.5)
    assert(math.abs(r.rank(1) - r1) < 1e-12)
    assert(math.abs(r.rank.sum - 1.0) < 1e-12)
  }

  test("WCC: disjoint cliques Full(4)+Full(4)+Full(3)+Full(2) memberships") {
    val (s, d) = undirected(full(0, 4) ++ full(4, 4) ++ full(8, 3) ++ full(11, 2): _*)
    assert(Oracle.wcc(13, s, d).toSeq == Seq(0, 0, 0, 0, 4, 4, 4, 4, 8, 8, 8, 11, 11))
  }

  test("triangles: g5 has 2, loops and multi-edges ignored") {
    val (s, d) = undirected((0, 1), (0, 2), (1, 2), (0, 3), (1, 3))
    assert(Oracle.triangles(4, s, d) == 2)
    val (s2, d2) = undirected((0, 1), (1, 0), (0, 2), (1, 2), (0, 3), (1, 3), (3, 3), (2, 1))
    assert(Oracle.triangles(4, s2, d2) == 2)
  }

  test("LPA: lpa-chain membership, weighted and unweighted") {
    val (s, d) = undirected((0, 1), (1, 2), (2, 3))
    val initial = Array(0L, -1L, -1L, 1L)
    val fixed = Array(true, false, false, true)
    val weighted = Oracle.labelProp(4, s, d, 10, Array(2.0, 1.0, 2.0), initial, fixed)
    assert(weighted.toSeq == Seq(0, 0, 1, 1))
    val unweighted = Oracle.labelProp(4, s, d, 10, null, initial, fixed).toSeq
    assert(Set(Seq(0L, 0L, 1L, 1L), Seq(0L, 1L, 1L, 1L), Seq(0L, 0L, 0L, 1L)).contains(unweighted))
  }

  test("LPA: ties go to the smallest label; isolated vertices keep their id") {
    // path 0-1-2: vertex 1 sees labels 0 and 2 once each -> 0
    val (s, d) = undirected((0, 1), (1, 2))
    assert(Oracle.labelProp(4, s, d, 1).toSeq == Seq(1, 0, 1, 3))
  }

  test("inputs: the same seed gives the recorded digest, another seed another input") {
    for (((workload, seed), digest) <- Main.RecordedDigests)
      assert(Workloads(workload, seed).inputDigest == digest, s"$workload seed $seed")
    assert(Gen.digest(Gen.webGraph(7, 1000, 11)) == Gen.digest(Gen.webGraph(7, 1000, 11)))
    assert(Gen.digest(Gen.webGraph(7, 1000, 11)) != Gen.digest(Gen.webGraph(8, 1000, 11)))
    assert(Gen.digest(Gen.pages(7, 500, 10)) == Gen.digest(Gen.pages(7, 500, 10)))
    assert(Gen.digest(Gen.pages(7, 500, 10)) != Gen.digest(Gen.pages(8, 500, 10)))
  }

  test("pages: links are what the html anchors carry, no self-loop-only pages") {
    val ps = Gen.pages(3, 2000, 10)
    ps.foreach { p =>
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      val hrefs = "href=\"(https?://[^\"]+)\"".r.findAllMatchIn(html).map(_.group(1)).toSeq
      assert(hrefs == p.links.toSeq)
      assert(p.links.isEmpty || p.links.exists(_ != p.url))
    }
  }
}
