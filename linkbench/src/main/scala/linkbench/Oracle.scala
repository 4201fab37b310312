package linkbench

/** Reference results computed in plain Scala over arrays: no Spark and no
  * call into the program. Every output of a timed call is checked against
  * one of these; a mismatch counts as a failed call and yields no time.
  */
object Oracle {

  final case class Ranks(rank: Array[Double], iterations: Int, delta: Double)

  /** PageRank by power iteration from the uniform vector. A page without
    * out-links (dangling) hands its rank to every page uniformly, the rule
    * the program documents. Stops after `maxIter` iterations or once the
    * largest per-vertex change is at most `tol`, like the program's loop.
    */
  def pageRank(n: Int, src: Array[Int], dst: Array[Int], tol: Double, maxIter: Int,
      damping: Double = 0.85): Ranks = {
    val outDeg = new Array[Int](n)
    src.foreach(s => outDeg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta > tol) {
      val msg = new Array[Double](n)
      var k = 0
      while (k < src.length) { msg(dst(k)) += rank(src(k)) / outDeg(src(k)); k += 1 }
      var dangling = 0.0
      var v = 0
      while (v < n) { if (outDeg(v) == 0) dangling += rank(v); v += 1 }
      val base = (1.0 - damping + damping * dangling) / n
      val next = new Array[Double](n)
      delta = 0.0
      v = 0
      while (v < n) {
        next(v) = base + damping * msg(v)
        delta = math.max(delta, math.abs(next(v) - rank(v)))
        v += 1
      }
      rank = next
      iter += 1
    }
    Ranks(rank, iter, delta)
  }

  /** Weakly connected components by union-find; each vertex is labelled
    * with the smallest vertex id of its component.
    */
  def wcc(n: Int, src: Array[Int], dst: Array[Int]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var k = 0
    while (k < src.length) {
      val a = find(src(k)); val b = find(dst(k))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 1
    }
    // union by smaller root keeps every root the minimum of its set
    Array.tabulate(n)(v => find(v).toLong)
  }

  /** Synchronous label propagation for exactly `iters` sweeps over the
    * undirected graph. Each sweep a vertex takes the label with the largest
    * total weight over its incident edges (a multi-edge counts once per copy,
    * self-loops never), ties going to the smallest label; a vertex with no
    * labelled neighbour, or marked `fixed`, keeps its label. Without
    * `initial` every vertex starts with its own id; an initial label below
    * 0 means unlabelled (it sends no vote), and a vertex still unlabelled
    * at the end takes its own id.
    */
  def labelProp(n: Int, src: Array[Int], dst: Array[Int], iters: Int,
      weight: Array[Double] = null, initial: Array[Long] = null,
      fixed: Array[Boolean] = null): Array[Long] = {
    var label = if (initial == null) Array.tabulate(n)(_.toLong) else initial.clone()
    var it = 0
    while (it < iters) {
      val votes = Array.fill(n)(null: java.util.TreeMap[java.lang.Long, java.lang.Double])
      def vote(from: Int, to: Int, w: Double): Unit = if (label(from) >= 0) {
        if (votes(to) == null) votes(to) = new java.util.TreeMap()
        votes(to).merge(label(from), w, (a, b) => a + b)
      }
      var k = 0
      while (k < src.length) {
        if (src(k) != dst(k)) {
          val w = if (weight == null) 1.0 else weight(k)
          vote(src(k), dst(k), w); vote(dst(k), src(k), w)
        }
        k += 1
      }
      label = Array.tabulate(n) { v =>
        if (votes(v) == null || (fixed != null && fixed(v))) label(v)
        else {
          // ascending label order: the first maximum is the smallest label
          var best = label(v); var bestMass = Double.NegativeInfinity
          votes(v).forEach((l, m) => if (m > bestMass) { bestMass = m; best = l })
          best
        }
      }
      it += 1
    }
    Array.tabulate(n)(v => if (label(v) < 0) v.toLong else label(v))
  }

  /** Triangles of the simple undirected graph (loops and duplicate edges
    * dropped), counted once each by orienting every edge from the smaller
    * to the larger id and intersecting sorted out-lists.
    */
  def triangles(n: Int, src: Array[Int], dst: Array[Int]): Long = {
    val keys = new Array[Long](src.length)
    var m = 0
    var k = 0
    while (k < src.length) {
      val a = math.min(src(k), dst(k)); val b = math.max(src(k), dst(k))
      if (a != b) { keys(m) = (a.toLong << 32) | b; m += 1 }
      k += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    val off = new Array[Int](n + 1)
    val out = new Array[Int](m)
    var e = 0
    k = 0
    while (k < m) {
      if (k == 0 || keys(k) != keys(k - 1)) {
        val a = (keys(k) >>> 32).toInt
        out(e) = (keys(k) & 0xffffffffL).toInt; off(a + 1) += 1; e += 1
      }
      k += 1
    }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    // keys were sorted, so each out-list is sorted and lists follow in order
    var count = 0L
    var a = 0
    while (a < n) {
      var x = off(a)
      while (x < off(a + 1)) {
        val b = out(x)
        // |out(a) ∩ out(b)|, both sorted
        var i = off(a); var j = off(b)
        while (i < off(a + 1) && j < off(b + 1)) {
          if (out(i) < out(j)) i += 1
          else if (out(i) > out(j)) j += 1
          else { count += 1; i += 1; j += 1 }
        }
        x += 1
      }
      a += 1
    }
    count
  }

  /** True when `|got - want| <= atol + rtol * |want|` at every index. */
  def allclose(got: Array[Double], want: Array[Double], rtol: Double, atol: Double): Boolean =
    got.length == want.length && got.indices.forall { i =>
      math.abs(got(i) - want(i)) <= atol + rtol * math.abs(want(i))
    }
}
