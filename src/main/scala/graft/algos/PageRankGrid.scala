package graft.algos

import graft.core.{CheckpointStore, LinkGraph}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Grid-partitioned CSR PageRank: the bandwidth-lean physical strategy.
  *
  * Same semantics as [[PageRank]] (reference `graphobject.c:5326-5439`:
  * damping 0.85, reset = 1-damping, dangling mass redistributed through the
  * reset distribution every iteration, weights row-normalized by
  * out-strength), different physical plan. Requires dense vertex ids
  * `0..n-1` (the north_star's web-page id space; [[graft.core.Ids]] densifies
  * arbitrary graphs).
  *
  * Layout — a P×P grid of edge cells:
  *   - vertex block `b` owns ids `[b*stride, (b+1)*stride)`, stride ≤ 2^24;
  *   - each edge (src,dst) is packed into ONE long:
  *     `dstBlock(16 bits) | dstLocal(24 bits) | srcLocal(24 bits)`;
  *   - partition `sb` holds all out-edges of source block `sb`, sorted by
  *     (dstBlock, dstLocal): a flat `Array[Long]` with a P+1 offsets index —
  *     8 bytes/edge at rest (plus 8 for the weight when the graph is
  *     weighted; the unweighted fast path folds 1/outDegree into a per-source
  *     scale vector instead of storing per-edge probabilities).
  *
  * Superstep = one RDD job, two stages, ZERO per-iteration Catalyst planning
  * (the DataFrame loop re-plans and re-codegens on the driver every
  * superstep — a serial cost that caps scaling efficiency; here the driver
  * does O(P) work per iteration):
  *   1. SpMV stage (P tasks): partition `sb` computes
  *      `rScaled[s] = (pre[s] + c*reset[s]) * invOutStrength[s]` once, then
  *      streams its cells in dstBlock order accumulating
  *      `acc[dstLocal] += w * rScaled[srcLocal]` into a stride-sized dense
  *      array. Both random-access windows (the source slice read and the
  *      destination accumulator write) are `stride*8` bytes — cache-resident
  *      by construction — so the only DRAM traffic is the sequential edge
  *      stream. Per-destination-block accumulation is also the skew story:
  *      a hub dst receives at most P partial values regardless of in-degree
  *      (the map-side-combine argument, made explicit in the layout).
  *   2. Reduce stage (P tasks): block-aligned `reduceByKey` sums the ≤P
  *      partial arrays per destination block (communication O(n·P) doubles,
  *      the 1D-partitioned SpMV bound; a √P×√P task grid drops it to
  *      O(n·√P) when P must grow — documented, not needed at sandbox scale)
  *      and applies `pre' = (1-d)*reset + d*msg`, summing `pre'` over the
  *      vertices with out-edges and taking the largest rank change on the
  *      way.
  * A durable run adds one snapshot write per superstep
  * ([[graft.core.CheckpointStore.save]], itself one job).
  *
  * Dangling-mass trick: a dangling vertex contributes no messages, and every
  * other vertex sends exactly its rank, so `Σmsg = Σ rank` over vertices with
  * out-edges and the true rank is
  *   `rank[i] = pre[i] + c * reset[i]`  with  `c = d * max(0, 1 - Σmsg)`
  * — the [[PageRank]] update, personalized frames with ids outside `[0, n)`
  * included (those ids count in the normalizer only). The correction is a
  * DRIVER SCALAR folded into the next iteration's `rScaled`, never
  * materialized into the vectors. Σmsg of the next superstep is a sum over
  * the state this superstep writes, so it rides the same action, and so
  * does the convergence delta: tolerance-mode and dangling graphs cost no
  * extra job. Graphs without dangling vertices apply no correction (`c = 0`),
  * like the EdgeJoin loop.
  *
  * At 10^12 vertices the same layout shards `stride ≤ 2^24` blocks across
  * executors; block-local arrays stay ≤128 MiB and the packed-key space
  * (16-bit block ids) covers n ≤ 2^40.
  */
object PageRankGrid {

  private val Mask24 = (1 << 24) - 1

  /** One destination block's partial message vector, adaptively encoded:
    * dense `double[len]` when the cell touched most of the block, sparse
    * (idx, vals) pairs otherwise — at web avg-degree ~10 a P=32 grid cell
    * touches ~25% of its destination block, so sparse encoding cuts the
    * reduce-stage shuffle ~3x (12 B/entry vs 8 B/slot). Sparse entries may
    * carry duplicate indices (merges concatenate); consumers scatter-add.
    */
  final class Partial(
      val len: Int,
      var dense: Array[Double],
      var idx: Array[Int],
      var vals: Array[Double]) extends Serializable {

    def densify(): Array[Double] = {
      if (dense == null) {
        val a = new Array[Double](len)
        var i = 0
        while (i < idx.length) { a(idx(i)) += vals(i); i += 1 }
        dense = a; idx = null; vals = null
      }
      dense
    }

    /** Fold `other` into this (mutating); returns this. */
    def merge(other: Partial): Partial = {
      if (dense != null) {
        if (other.dense != null) {
          var i = 0; while (i < len) { dense(i) += other.dense(i); i += 1 }
        } else {
          var i = 0; while (i < other.idx.length) { dense(other.idx(i)) += other.vals(i); i += 1 }
        }
        this
      } else if (other.dense != null) other.merge(this)
      else if ((idx.length + other.idx.length) * 3L > len.toLong * 2L) {
        densify(); merge(other)
      } else {
        val ni = java.util.Arrays.copyOf(idx, idx.length + other.idx.length)
        val nv = java.util.Arrays.copyOf(vals, vals.length + other.vals.length)
        System.arraycopy(other.idx, 0, ni, idx.length, other.idx.length)
        System.arraycopy(other.vals, 0, nv, vals.length, other.vals.length)
        idx = ni; vals = nv
        this
      }
    }
  }

  /** One source block's cells: `keys` sorted by (dstBlock, dstLocal),
    * `offsets(db)..offsets(db+1)` delimiting destination block `db`,
    * `ws` parallel edge weights or null for the unweighted fast path.
    */
  final case class CellsBlock(sb: Int, offsets: Array[Int], keys: Array[Long], ws: Array[Double])

  /** Static grid: edge cells + per-source-block inverse out-strength, both
    * partitioned by the SAME HashPartitioner so every superstep zips
    * partitions without shuffling static data. `dangling` counts the
    * vertices without out-edges.
    */
  final class Grid(
      val n: Long,
      val p: Int,
      val stride: Int,
      val cells: RDD[CellsBlock],
      val invW: RDD[Array[Double]],
      val partitioner: HashPartitioner,
      val dangling: Long) {

    def lenOf(b: Int): Int =
      math.min(stride.toLong, n - b.toLong * stride).max(0L).toInt

    def unpersist(): Unit = { cells.unpersist(false); invW.unpersist(false); () }
  }

  /** Pick a block count: at least the default parallelism (task granularity)
    * and large enough that a block's local ids fit 24 bits.
    */
  def autoP(spark: SparkSession, n: Long): Int = {
    val minForBits = ((n + Mask24) / (Mask24 + 1)).toInt
    math.max(math.max(spark.sparkContext.defaultParallelism, 8), minForBits)
  }

  /** Build the static grid from an out-edge view (src, dst, weight).
    * One shuffle of the edge table, then per-partition pack + sort.
    *
    * `unweighted = true` (statically known, e.g. the edge table has no
    * weight column) ships BARE packed keys through the shuffle — the
    * per-edge constant 1.0 would otherwise add 8 bytes/edge to the one
    * O(E) shuffle of the build (≈5 GB at 640M edges, and the dominant
    * term of a cold-start-to-convergence wall).
    */
  def build(spark: SparkSession, edges: DataFrame, n: Long, p0: Int,
            unweighted: Boolean = false): Grid = {
    val p = math.max(p0, ((n + Mask24) / (Mask24 + 1)).toInt)
    require(p <= (1 << 16), s"grid block count $p exceeds 16-bit packed range")
    val stride = (((n max 1L) + p - 1) / p).toInt
    val part = new HashPartitioner(p)
    import spark.implicits._

    // (sb, packedKey[, w]): integral DIV/% keep Long precision (no doubles)
    val sbCol = expr(s"CAST(src DIV $stride AS INT)").as("sb")
    val keyCol = expr(
      s"shiftleft(dst DIV $stride, 48) + shiftleft(dst % $stride, 24) + (src % $stride)").as("key")

    val cells = (if (unweighted) {
      edges.select(sbCol, keyCol).as[(Int, Long)].rdd
        .partitionBy(part)
        .mapPartitionsWithIndex({ (sb, it) =>
          var keys = new Array[Long](1024)
          var m = 0
          while (it.hasNext) {
            val (_, k) = it.next()
            if (m == keys.length) keys = java.util.Arrays.copyOf(keys, m * 2)
            keys(m) = k; m += 1
          }
          Iterator.single(finishCells(p, sb, keys, null, m, allOne = true))
        }, preservesPartitioning = true)
    } else {
      edges.select(sbCol, keyCol, coalesce(col("weight"), lit(1.0)).as("w"))
        .as[(Int, Long, Double)].rdd
        .map(t => (t._1, (t._2, t._3)))
        .partitionBy(part)
        .mapPartitionsWithIndex({ (sb, it) =>
          var keys = new Array[Long](1024)
          var ws = new Array[Double](1024)
          var m = 0
          var allOne = true
          while (it.hasNext) {
            val (_, (k, w)) = it.next()
            if (m == keys.length) {
              keys = java.util.Arrays.copyOf(keys, m * 2)
              ws = java.util.Arrays.copyOf(ws, m * 2)
            }
            keys(m) = k; ws(m) = w
            if (w != 1.0) allOne = false
            m += 1
          }
          Iterator.single(finishCells(p, sb, keys, ws, m, allOne))
        }, preservesPartitioning = true)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // inverse out-strength per source block (0.0 = dangling)
    val invW = edges
      .groupBy(col("src")).agg(sum(coalesce(col("weight"), lit(1.0))).as("outw"))
      .select(
        expr(s"CAST(src DIV $stride AS INT)").as("sb"),
        expr(s"CAST(src % $stride AS INT)").as("sl"),
        (lit(1.0) / col("outw")).as("iw"))
      .as[(Int, Int, Double)].rdd
      .map(t => (t._1, (t._2, t._3)))
      .partitionBy(part)
      .mapPartitionsWithIndex({ (sb, it) =>
        val len = math.min(stride.toLong, (n - sb.toLong * stride).max(0L)).toInt
        val arr = new Array[Double](len)
        while (it.hasNext) { val (_, (sl, iw)) = it.next(); arr(sl) = iw }
        Iterator.single(arr)
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)

    cells.count()
    val dangling = invW.map(_.count(_ == 0.0).toLong).fold(0L)(_ + _)
    new Grid(n, p, stride, cells, invW, part, dangling)
  }

  /** Trim, sort and index one source block's packed cells (executor-side;
    * only primitives/arrays cross the closure boundary).
    */
  private def finishCells(p: Int, sb: Int, keys0: Array[Long], ws0: Array[Double],
                          m: Int, allOne: Boolean): CellsBlock = {
    val keys = java.util.Arrays.copyOf(keys0, m)
    val ws = if (allOne || ws0 == null) null else java.util.Arrays.copyOf(ws0, m)
    if (ws == null) java.util.Arrays.sort(keys) else sortPair(keys, ws, 0, m - 1)
    val offsets = new Array[Int](p + 1)
    var i = 0
    while (i < m) { offsets(((keys(i) >>> 48) & 0xFFFF).toInt + 1) += 1; i += 1 }
    i = 0
    while (i < p) { offsets(i + 1) += offsets(i); i += 1 }
    CellsBlock(sb, offsets, keys, ws)
  }

  /** Dual-array quicksort: sort `keys[lo..hi]` carrying `vals` along. */
  private def sortPair(keys: Array[Long], vals: Array[Double], lo: Int, hi: Int): Unit = {
    if (lo >= hi) return
    var i = lo; var j = hi
    val pivot = keys(lo + (hi - lo) / 2)
    while (i <= j) {
      while (keys(i) < pivot) i += 1
      while (keys(j) > pivot) j -= 1
      if (i <= j) {
        val tk = keys(i); keys(i) = keys(j); keys(j) = tk
        val tv = vals(i); vals(i) = vals(j); vals(j) = tv
        i += 1; j -= 1
      }
    }
    sortPair(keys, vals, lo, j)
    sortPair(keys, vals, i, hi)
  }

  // ---------------------------------------------------------------------
  // the iteration loop
  // ---------------------------------------------------------------------

  def run(
      g: LinkGraph,
      damping: Double,
      tol: Double,
      maxIter: Int,
      reset: Option[DataFrame],
      fixedIters: Option[Int],
      store: Option[CheckpointStore],
      initial: Option[DataFrame],
      startIter: Int,
      p0: Int): PageRank.Result = {
    val spark = g.spark
    val n = g.vcount()
    require(n > 0, "empty graph")
    // dense-id contract (cheap one-time scan of the edge table)
    g.edges.agg(max(greatest(col("src"), col("dst"))), min(least(col("src"), col("dst"))))
      .head match {
        case r if r.isNullAt(0) => // edgeless graph: any n works
        case r =>
          require(r.getLong(0) < n && r.getLong(1) >= 0,
            s"GridBlocks needs dense ids in [0, $n); use graft.core.Ids.assignDense first")
      }
    val p = if (p0 > 0) p0 else autoP(spark, n)
    // no weight column on the base table => outView's weight is the literal
    // 1.0 the view adds; ship bare packed keys through the build shuffle
    val grid = build(spark, g.outView, n, p,
      unweighted = !g.edges.columns.contains("weight"))
    try runOnGrid(spark, grid, damping, tol, maxIter, reset, fixedIters, store, initial, startIter)
    finally grid.unpersist()
  }

  private def runOnGrid(
      spark: SparkSession,
      grid: Grid,
      damping: Double,
      tol: Double,
      maxIter: Int,
      reset: Option[DataFrame],
      fixedIters: Option[Int],
      store: Option[CheckpointStore],
      initial: Option[DataFrame],
      startIter: Int): PageRank.Result = {
    val sc = spark.sparkContext
    val n = grid.n
    val p = grid.p
    val stride = grid.stride
    val part = grid.partitioner
    val d = damping

    // reset chunks: null array = uniform 1/n (never materialized)
    val uniform = 1.0 / n
    val resetChunks: RDD[Array[Double]] = (reset match {
      case None =>
        sc.parallelize(0 until p, p).map(b => (b, b)).partitionBy(part)
          .mapPartitions(_ => Iterator.single(null: Array[Double]), preservesPartitioning = true)
      case Some(r) =>
        import spark.implicits._
        val tot = r.agg(sum("reset")).head.getDouble(0)
        require(tot > 0.0, "reset vector must not be all zeros")
        // the normalizer runs over the FULL frame; ids outside [0, n) count
        // in it only and are dropped before chunking (`id DIV stride` would
        // otherwise hash them onto a real block)
        val keyed = r.filter(col("id") >= 0 && col("id") < n).select(
            expr(s"CAST(id DIV $stride AS INT)").as("b"),
            expr(s"CAST(id % $stride AS INT)").as("l"),
            (col("reset") / tot).as("v"))
          .as[(Int, Int, Double)].rdd
          .map(t => (t._1, (t._2, t._3)))
          .partitionBy(part)
        keyed.mapPartitionsWithIndex({ (b, it) =>
          val arr = new Array[Double](math.min(stride.toLong, (n - b.toLong * stride).max(0L)).toInt)
          while (it.hasNext) { val (_, (l, v)) = it.next(); arr(l) = v }
          Iterator.single(arr)
        }, preservesPartitioning = true)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // Σ of a chunked vector (null = uniform) over the vertices with
    // out-edges: the mass that leaves them as messages
    def outgoing(v: RDD[Array[Double]]): Double =
      v.zipPartitions(grid.invW) { (vit, wit) =>
        val a = vit.next()
        val iw = wit.next()
        var s = 0.0
        var i = 0
        while (i < iw.length) { if (iw(i) != 0.0) s += (if (a == null) uniform else a(i)); i += 1 }
        Iterator.single(s)
      }.sum()
    val resetOut = outgoing(resetChunks) // materializes the reset chunks

    def chunked(df: DataFrame): RDD[(Int, Array[Double])] = {
      import spark.implicits._
      df.select(
          expr(s"CAST(id DIV $stride AS INT)").as("b"),
          expr(s"CAST(id % $stride AS INT)").as("l"),
          col("rank").cast("double").as("v"))
        .as[(Int, Int, Double)].rdd
        .map(t => (t._1, (t._2, t._3)))
        .partitionBy(part)
        .mapPartitionsWithIndex({ (b, it) =>
          val arr = new Array[Double](math.min(stride.toLong, (n - b.toLong * stride).max(0L)).toInt)
          while (it.hasNext) { val (_, (l, v)) = it.next(); arr(l) = v }
          Iterator.single((b, arr))
        }, preservesPartitioning = true)
    }

    var state: RDD[(Int, Array[Double])] = (initial match {
      case Some(df) => chunked(df)
      case None =>
        resetChunks.mapPartitionsWithIndex({ (b, it) =>
          it.next() // align
          val len = math.min(stride.toLong, (n - b.toLong * stride).max(0L)).toInt
          Iterator.single((b, Array.fill(len)(uniform)))
        }, preservesPartitioning = true)
    }).persist(StorageLevel.MEMORY_AND_DISK)
    var c = 0.0
    var preOut = outgoing(state.map(_._2)) // materializes the state

    var iter = startIter
    var delta = Double.MaxValue
    val maxI = fixedIters.map(_ + startIter).getOrElse(maxIter)
    val checkConvergence = fixedIters.isEmpty
    val iterTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

    while (iter < maxI && delta > tol) {
      val t0 = System.currentTimeMillis()
      val cc = c
      // every vertex with out-edges sends exactly its rank, so Σmsg — and
      // with it the next state's dangling correction — is known before the
      // superstep runs; its delta then rides the same job
      val cNew = if (grid.dangling == 0) 0.0 else d * math.max(0.0, 1.0 - (preOut + cc * resetOut))

      // stage 1: per-source-block SpMV into per-destination-block partials
      val msgs: RDD[(Int, Partial)] =
        grid.cells.zipPartitions(grid.invW, resetChunks, state) { (cit, wit, rit, sit) =>
          if (cit.isEmpty || sit.isEmpty) Iterator.empty
          else {
            val cb = cit.next()
            val iw = wit.next()
            val ra = rit.next()
            val (_, pre) = sit.next()
            val len = pre.length
            val rScaled = new Array[Double](len)
            var i = 0
            if (ra == null) while (i < len) { rScaled(i) = (pre(i) + cc * uniform) * iw(i); i += 1 }
            else while (i < len) { rScaled(i) = (pre(i) + cc * ra(i)) * iw(i); i += 1 }
            val keys = cb.keys
            val ws = cb.ws
            val off = cb.offsets
            val acc = new Array[Double](stride) // reused across cells
            (0 until p).iterator.filter(db => off(db + 1) > off(db)).map { db =>
              val accLen = math.min(stride.toLong, (n - db.toLong * stride).max(0L)).toInt
              var nnz = 0
              var k = off(db)
              val end = off(db + 1)
              if (ws == null)
                while (k < end) {
                  val key = keys(k); val t = ((key >>> 24) & Mask24).toInt
                  if (acc(t) == 0.0) nnz += 1
                  acc(t) += rScaled((key & Mask24).toInt); k += 1
                }
              else
                while (k < end) {
                  val key = keys(k); val t = ((key >>> 24) & Mask24).toInt
                  if (acc(t) == 0.0) nnz += 1
                  acc(t) += ws(k) * rScaled((key & Mask24).toInt); k += 1
                }
              val partial =
                if (nnz.toLong * 3 < accLen.toLong * 2) {
                  // sparse: extract touched slots (re-walking the edge range
                  // would revisit duplicates; scan only when it wins)
                  val si = new Array[Int](nnz)
                  val sv = new Array[Double](nnz)
                  var j = 0; var w = 0
                  while (j < accLen && w < nnz) {
                    val v = acc(j)
                    if (v != 0.0) { si(w) = j; sv(w) = v; acc(j) = 0.0; w += 1 }
                    j += 1
                  }
                  new Partial(accLen, null,
                    if (w == nnz) si else java.util.Arrays.copyOf(si, w),
                    if (w == nnz) sv else java.util.Arrays.copyOf(sv, w))
                } else {
                  val dense = java.util.Arrays.copyOf(acc, accLen)
                  java.util.Arrays.fill(acc, 0, accLen, 0.0)
                  new Partial(accLen, dense, null, null)
                }
              (db, partial)
            }
          }
        }

      // stage 2: block-aligned partial-sum reduce + rank update
      val reduced = msgs.reduceByKey(part, (a: Partial, b: Partial) => a.merge(b))
      val newFull: RDD[(Int, (Array[Double], Double, Double))] =
        resetChunks.zipPartitions(grid.invW, state, reduced, preservesPartitioning = true) { (rit, wit, oit, mit) =>
          val ra = rit.next()
          val iw = wit.next()
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val len = math.min(stride.toLong, (n - pid.toLong * stride).max(0L)).toInt
          val out = new Array[Double](len)
          var i = 0
          if (ra == null) { val v = (1.0 - d) * uniform; while (i < len) { out(i) = v; i += 1 } }
          else while (i < len) { out(i) = (1.0 - d) * ra(i); i += 1 }
          if (mit.hasNext) {
            val partial = mit.next()._2
            if (partial.dense != null) {
              i = 0; while (i < len) { out(i) += d * partial.dense(i); i += 1 }
            } else {
              i = 0
              while (i < partial.idx.length) { out(partial.idx(i)) += d * partial.vals(i); i += 1 }
            }
          }
          // Σ over vertices with out-edges (next superstep's Σmsg) and the
          // largest change of the true rank
          val ov = oit.next()._2
          var s = 0.0
          var m = 0.0
          i = 0
          while (i < len) {
            if (iw(i) != 0.0) s += out(i)
            val r = if (ra == null) uniform else ra(i)
            val dd = math.abs(out(i) + cNew * r - ov(i) - cc * r)
            if (dd > m) m = dd
            i += 1
          }
          Iterator.single((pid, (out, s, m)))
        }
      newFull.persist(StorageLevel.MEMORY_AND_DISK)
      newFull.localCheckpoint()
      val (nextOut, change) = newFull.map(x => (x._2._2, x._2._3)) // materializing action
        .reduce((a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      preOut = nextOut
      if (checkConvergence) delta = change

      val newState = newFull.mapValues(_._1)
      store.foreach { s =>
        s.save(spark, iter + 1, ranksDF(spark, newState, resetChunks, cNew, uniform, stride), t0); ()
      }
      state.unpersist(false)
      state = newState
      c = cNew
      iter += 1
      iterTimes += (System.currentTimeMillis() - t0) / 1000.0
    }

    val out = ranksDF(spark, state, resetChunks, c, uniform, stride)
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    state.unpersist(false)
    resetChunks.unpersist(false)
    PageRank.Result(out, iter, delta, iterTimes.toSeq)
  }

  /** (id, rank) DataFrame view of the chunked state with the dangling scalar
    * folded back in.
    */
  private def ranksDF(
      spark: SparkSession,
      state: RDD[(Int, Array[Double])],
      resetChunks: RDD[Array[Double]],
      c: Double,
      uniform: Double,
      stride: Int): DataFrame = {
    val rows = state.zipPartitions(resetChunks) { (sit, rit) =>
      if (sit.isEmpty) Iterator.empty
      else {
        val (b, arr) = sit.next()
        val ra = rit.next()
        val base = b.toLong * stride
        arr.iterator.zipWithIndex.map { case (v, i) =>
          Row(base + i, v + c * (if (ra == null) uniform else ra(i)))
        }
      }
    }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("id", LongType, false), StructField("rank", DoubleType, false))))
  }
}
