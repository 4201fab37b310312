package linkbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Seeded input generators. Every input is a pure function of the seed and
  * the size parameters, so the same seed gives byte-identical inputs (checked
  * by [[digest]]); the program under test only ever sees the parquet the
  * benchmark writes from these arrays.
  */
object Gen {

  /** Directed graph on dense ids `0..n-1`, edge `k` is `src(k) -> dst(k)`. */
  final case class Graph(n: Int, src: Array[Int], dst: Array[Int]) {
    def m: Int = src.length
  }

  /** One crawled page with everything the oracle needs known by
    * construction: the extracted text and the http(s) outlinks in order.
    */
  final case class PageSpec(url: String, tsMillis: Long, html: Array[Byte], text: String,
      lang: String, links: Array[String])

  /** splitmix64 stream: small, fast and stable across JVMs. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    /** uniform in [0, 1) */
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    /** uniform in [0, bound) */
    def nextInt(bound: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), bound.toLong).toInt
  }

  /** Seeded Fisher-Yates permutation of `0..n-1`. */
  def permutation(n: Int, rng: Rng): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** Sampler of ranks `0..n-1` with P(rank r) proportional to
    * `(r+1)^(-1/(alpha-1))` (Chung-Lu weights), which gives an in-degree
    * distribution with power-law tail exponent `alpha`.
    */
  final class Zipf(n: Int, alpha: Double) {
    private val cdf: Array[Double] = {
      val beta = 1.0 / (alpha - 1.0)
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += math.pow(r + 1.0, -beta); c(r) = acc; r += 1 }
      r = 0
      while (r < n) { c(r) /= acc; r += 1 }
      c
    }
    def sample(rng: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Pages of the highest in-degree ranks, which link like portals. */
  private val Hubs = 32

  /** Out-link count of a linking page: `2*avg` for the [[Hubs]] top-ranked
    * pages, uniform on `3..2*avg-3` (mean `avg`) for the rest. The slowest
    * PageRank mode runs through the top hub and its out-links; fixing the
    * hubs' link count, and giving every linking page at least three links
    * never to itself (no closed set of pages, whose rank converges only at
    * the damping rate), makes the iteration count to a tolerance a property
    * of the generator rather than of the seed: over the first 20 seeds, 8
    * (7 to 9) on pagerank-web and 10 (9 to 11) on crawl-to-rank.
    */
  private def outDegree(rng: Rng, avg: Int, rank: Int): Int = {
    val d = 3 + rng.nextInt(2 * avg - 5)
    if (rank < Hubs) 2 * avg else d
  }

  /** A power-law target other than `self`. */
  private def target(rng: Rng, zipf: Zipf, perm: Array[Int], self: Int): Int = {
    var t = perm(zipf.sample(rng))
    while (t == self) t = perm(zipf.sample(rng))
    t
  }

  /** `pagerank-web` input: directed web graph with power-law in-degree
    * (exponent `alpha`), a `danglingFrac` share of non-hub pages without
    * out-links and [[outDegree]] links on the rest. Hub ranks are scattered over the
    * id space by a seeded permutation.
    */
  def webGraph(seed: Long, n: Int, avgOut: Int, danglingFrac: Double = 0.1,
      alpha: Double = 2.2): Graph = {
    val rng = new Rng(seed * 0x632be59bd9b4e019L + 1)
    val perm = permutation(n, rng)
    val rankOf = new Array[Int](n)
    perm.indices.foreach(r => rankOf(perm(r)) = r)
    val zipf = new Zipf(n, alpha)
    val src = Array.newBuilder[Int]; val dst = Array.newBuilder[Int]
    var v = 0
    while (v < n) {
      if (rankOf(v) < Hubs || rng.nextDouble() >= danglingFrac) {
        val deg = outDegree(rng, avgOut, rankOf(v))
        var j = 0
        while (j < deg) { src += v; dst += target(rng, zipf, perm, v); j += 1 }
      }
      v += 1
    }
    Graph(n, src.result(), dst.result())
  }

  private val words = Array("graph", "vertex", "edge", "rank", "crawl", "link", "web",
    "page", "spark", "shuffle", "join", "iterate", "converge", "cluster", "label", "index")
  private val langs = Array("en", "de", "fr", "es", "zh", "ru", "pt", "ja")

  def pageUrl(i: Int): String = s"https://site${i % 97}.bench/p/$i"
  def externalUrl(j: Int): String = s"https://ext${j % 13}.bench/x/$j"

  /** `crawl-to-rank` input: `n` pages in three roles, assigned through a
    * seeded permutation so no role is visible in the page numbers:
    *  - the web: power-law links among its pages ([[outDegree]] of them,
    *    none on 5% of non-hub pages), 5% of links to never-crawled external urls
    *    (dangling vertices), a self-link on 1% of pages, repeated targets
    *    (multi-edges) as the sampling gives them;
    *  - small sites of 2 to 8 pages that only link forward inside the site,
    *    so each is its own weakly connected component (forward-only links
    *    keep PageRank converging as fast as on the web part);
    *  - isolated pages, linking nowhere and linked from nowhere.
    * Every page also has a relative link the extractor must skip. The html
    * is assembled from parts whose extracted text is known.
    */
  def pages(seed: Long, n: Int, avgOut: Int): Array[PageSpec] = {
    val rng = new Rng(seed * 0xd1b54a32d192ed03L + 3)
    val slot = permutation(n, rng) // slot k holds page slot(k)
    val nIsolated = n / 50
    val nWeb = n - nIsolated - n / 20
    val links = Array.fill(n)(Array.empty[String])
    val zipf = new Zipf(nWeb, 2.2)
    var k = 0
    while (k < nWeb) {
      val page = slot(k)
      val deg = if (k >= Hubs && rng.nextDouble() < 0.05) 0 else outDegree(rng, avgOut, k)
      val out = Array.fill(deg) {
        if (rng.nextDouble() < 0.05) externalUrl(rng.nextInt(n))
        else pageUrl(target(rng, zipf, slot, page))
      }
      links(page) = if (deg > 0 && rng.nextDouble() < 0.01) out :+ pageUrl(page) else out
      k += 1
    }
    while (k < n - nIsolated) {
      val size = math.min(n - nIsolated - k, 2 + rng.nextInt(7))
      var q = 0
      while (q < size - 1) {
        links(slot(k + q)) = Array.fill(1 + rng.nextInt(3))(pageUrl(slot(k + q + 1 + rng.nextInt(size - q - 1))))
        q += 1
      }
      k += size
    }
    Array.tabulate(n) { i =>
      val body = Array.fill(6)(words(rng.nextInt(words.length)))
      val html = new StringBuilder
      html ++= s"<html><head><title>page $i</title><script>var x = $i;</script></head>\n"
      html ++= s"<body><h1>Page  $i</h1>\n<p>${body.mkString(" ")} &amp; ${body(0)}</p>\n"
      links(i).zipWithIndex.foreach { case (u, j) => html ++= s"""<a href="$u">ref$j</a>\n""" }
      html ++= s"""<a href="/local/$i">home</a></body></html>"""
      // extracted text: tag contents outside <script>, entities decoded,
      // whitespace runs collapsed to one space
      val text = (Seq(s"page $i", s"Page $i", body.mkString(" "), "&", body(0)) ++
        links(i).indices.map(j => s"ref$j") :+ "home").mkString(" ")
      PageSpec(pageUrl(i), 1700000000000L + rng.nextInt(86400000),
        html.toString.getBytes(StandardCharsets.UTF_8), text, langs(rng.nextInt(langs.length)), links(i))
    }
  }

  /** SHA-256 over a canonical byte encoding of a generated input. */
  def digest(g: Graph): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8 + 8 * g.m)
    buf.putInt(g.n).putInt(g.m)
    var k = 0
    while (k < g.m) { buf.putInt(g.src(k)).putInt(g.dst(k)); k += 1 }
    hex(md.digest(buf.array()))
  }

  def digest(ps: Array[PageSpec]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    ps.foreach { p =>
      md.update(p.url.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
      md.update(java.nio.ByteBuffer.allocate(8).putLong(p.tsMillis).array())
      md.update(p.html); md.update(0: Byte)
      md.update(p.text.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
      md.update(p.lang.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
    }
    hex(md.digest())
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}
