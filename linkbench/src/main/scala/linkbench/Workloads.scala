package linkbench

import java.io.File

import graft.algos.{Components, LabelProp, PageRank, Triangles}
import graft.core.{CheckpointStore, LinkGraph}
import graft.ingest.{Page, Pages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** One benchmark workload: generate inputs and oracles from the seed (not
  * timed, not part of set-up), set up, run the closed loop, report.
  */
trait Workload {
  /** Digest of the generated input (same seed, same digest). */
  def inputDigest: String
  def run(b: Bench): Unit
  /** Workload-level metrics from untraced rounds; absent ones print as 0. */
  def workloadMetrics(b: Bench): Map[String, Metric]
  /** Layer counts beyond the generic per-span Spark ones. */
  def layerMetrics(b: Bench): Map[String, Metric]
}

object Workloads {
  val Tol = 1e-6
  /** Grid blocks of `pagerank-web`, fixed so every parallelism runs the same grid. */
  val GridP = 8
  /** Fixed-iteration count of the scaling runs. */
  val FixedIters = 6
  /** Supersteps of the cut-off durable run before `resume` takes over. */
  val CutAt = 3
  /** LPA sweeps (deterministic mode). */
  val LpaSweeps = 5

  def apply(name: String, seed: Long): Workload = name match {
    case "pagerank-web"  => new PagerankWeb(seed)
    case "crawl-to-rank" => new CrawlToRank(seed)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Write a generated graph as parquet `(src, dst)` bigint columns. */
  def writeEdges(spark: SparkSession, g: Gen.Graph, path: File): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bs = sc.broadcast(g.src); val bd = sc.broadcast(g.dst)
    spark.range(0, g.m.toLong, 1, 8).map { k =>
      (bs.value(k.toInt).toLong, bd.value(k.toInt).toLong)
    }.toDF("src", "dst").write.parquet(path.getAbsolutePath)
    bs.destroy(); bd.destroy()
  }

  /** Read an edge table back and cache it, as a client loading its graph. */
  def loadEdges(spark: SparkSession, path: File): DataFrame = {
    val e = spark.read.parquet(path.getAbsolutePath).persist(StorageLevel.MEMORY_ONLY)
    e.count()
    e
  }

  /** Ranks by dense id; None when ids are not exactly `0..n-1`. */
  def rankArray(df: DataFrame, n: Int): Option[Array[Double]] = {
    val rows = df.select("id", "rank").collect()
    val out = Array.fill(n)(Double.NaN)
    val ok = rows.length == n && rows.forall { r =>
      val id = r.getLong(0)
      id >= 0 && id < n && out(id.toInt).isNaN && { out(id.toInt) = r.getDouble(1); true }
    }
    if (ok) Some(out) else None
  }

  /** Labels in column `col` by dense id; None when ids are not exactly `0..n-1`. */
  def labelArray(df: DataFrame, col: String, n: Int): Option[Array[Long]] = {
    val rows = df.select("id", col).collect()
    val out = Array.fill(n)(-1L)
    val ok = rows.length == n && rows.forall { r =>
      val id = r.getLong(0)
      id >= 0 && id < n && out(id.toInt) < 0 && { out(id.toInt) = r.getLong(1); true }
    }
    if (ok) Some(out) else None
  }

  /** Check PageRank output against the oracle: same iteration count,
    * per-vertex allclose at 1e-6, ranks summing to 1 within 1e-9, and the
    * program's own per-iteration times fitting inside the external wall.
    */
  def checkRanks(got: Option[Array[Double]], iterations: Int, perIterSec: Seq[Double],
      wall: Double, want: Oracle.Ranks): Option[String] = got match {
    case None => Some("rank ids are not exactly 0..n-1")
    case Some(r) =>
      val sum = r.sum
      if (iterations != want.iterations) Some(s"iterations $iterations, oracle ${want.iterations}")
      else if (!Oracle.allclose(r, want.rank, 1e-6, 0.0)) Some("ranks differ from the oracle beyond 1e-6")
      else if (math.abs(sum - 1.0) > 1e-9) Some(s"ranks sum to $sum")
      else if (perIterSec.sum > wall + 0.001 * perIterSec.size)
        Some(s"reported iteration time ${perIterSec.sum} s exceeds the call wall $wall s")
      else None
  }

  /** Median of `name` over the untraced rounds, or 0 when never sampled. */
  def med(b: Bench, name: String): Double = Stats.median(b.samples.getOrElse(name, Nil))
  def tmed(b: Bench, name: String): Double = Stats.median(b.tracedSamples.getOrElse(name, Nil))

  /** Spans of the successful traced rounds named `name`. */
  def spans(b: Bench, name: String): Seq[Span] = {
    val ok = b.tracedRounds.map(_.id).toSet
    b.tracer.toSeq.flatMap(_.spans).filter(s => s.name == name && ok(s.parent)).toSeq
  }

  /** Most Spark jobs a gated single-driver kernel call runs (collect,
    * count and output); the distributed loops run several per superstep.
    */
  val KernelMaxJobs = 6

  /** Job, shuffle, spill and path metrics of the analytics call `call`,
    * medians over its traced spans. `path` is 1 when the call ran the
    * distributed loop and 0 when it took the gated kernel.
    */
  def callLayer(b: Bench, call: String): Map[String, Metric] = {
    val ss = spans(b, call)
    def m(f: Counters => Long) = Stats.median(ss.map(s => f(s.counters).toDouble))
    Map(
      s"$call.jobs" -> Metric(m(_.jobs), "count"),
      s"$call.shuffle_bytes" -> Metric(m(_.shuffleWrite), "bytes"),
      s"$call.spill_bytes" -> Metric(m(_.spill), "bytes"),
      s"$call.path" -> Metric(if (ss.nonEmpty && m(_.jobs) > KernelMaxJobs) 1 else 0, "flag"))
  }

  /** Steady iteration times: all but the first, which carries set-up. */
  def steady(perIter: Seq[Double]): Seq[Double] = perIter.drop(1)
}

import Workloads._

/** PageRank with the grid strategy on a directed power-law web graph: the
  * work sits in the grid build and the SpMV supersteps; also the only
  * workload that measures 1 -> 4 thread scaling.
  */
final class PagerankWeb(seed: Long) extends Workload {
  val n = 80000
  val g: Gen.Graph = Gen.webGraph(seed, n, avgOut = 11)
  val inputDigest: String = Gen.digest(g)
  private val converged = Oracle.pageRank(n, g.src, g.dst, Tol, 100)
  private val fixed = Oracle.pageRank(n, g.src, g.dst, -1.0, FixedIters)

  private def converge(b: Bench, lg: LinkGraph): Unit = {
    var iters: Seq[Double] = Nil
    b.call("pagerank_converge", "algos.pagerank") {
      val r = PageRank.run(lg, tol = Tol, strategy = PageRank.GridBlocks(GridP))
      (r, rankArray(r.ranks, n))
    } { case ((r, ranks), wall) =>
      iters = r.perIterSec
      b.sample("pagerank.build_s", wall - r.perIterSec.sum)
      b.sample("pagerank.iterations", r.iterations)
      checkRanks(ranks, r.iterations, r.perIterSec, wall, converged)
    }
    steady(iters).foreach(b.sample("iter4_s", _))
  }

  private def fixedRun(b: Bench, lg: LinkGraph, threads: Int): Unit = {
    var iters: Seq[Double] = Nil
    b.call(s"pagerank_fixed$threads", "algos.pagerank") {
      val r = PageRank.run(lg, fixedIters = Some(FixedIters), strategy = PageRank.GridBlocks(GridP))
      (r, rankArray(r.ranks, n))
    } { case ((r, ranks), wall) =>
      iters = r.perIterSec
      checkRanks(ranks, r.iterations, r.perIterSec, wall, fixed)
    }
    steady(iters).foreach(b.sample(s"fixed${threads}_iter_s", _))
  }

  def run(b: Bench): Unit = {
    val in = b.dir("in/edges")
    writeEdges(b.newSession(b.cores), g, in)
    def load(threads: Int) = b.setup(threads)(s => LinkGraph(loadEdges(s, in), directed = true, Some(n.toLong)))
    load(b.cores); load(b.cores)
    val lg = load(b.cores)
    // the last 40% of the time at one thread, for the scaling ratio
    b.loop("round", 0.6, minRounds = 4, warmup = 2) { converge(b, lg); fixedRun(b, lg, b.cores) }
    val lg1 = LinkGraph(loadEdges(b.newSession(1), in), directed = true, Some(n.toLong))
    b.loop("round1", 1.0, minRounds = 2, warmup = 0) { fixedRun(b, lg1, 1) }
  }

  def workloadMetrics(b: Bench): Map[String, Metric] = {
    val iter4 = med(b, "iter4_s")
    Map(
      // the 1-thread rounds only feed the scaling ratio
      "wall_s" -> Metric(med(b, "round_s"), "s"),
      "pagerank_converge_s" -> Metric(med(b, "pagerank_converge"), "s"),
      "pagerank_edges_per_s" -> Metric(if (iter4 > 0) g.m / iter4 else 0, "edges/s/iter"),
      "pagerank_scaling_eff" -> Metric({
        val t4 = med(b, s"fixed${b.cores}_iter_s")
        if (t4 > 0) med(b, "fixed1_iter_s") / (b.cores * t4) else 0
      }, "ratio"))
  }

  def layerMetrics(b: Bench): Map[String, Metric] = {
    val ss = spans(b, "pagerank_converge")
    val iters = tmed(b, "pagerank.iterations")
    Map(
      "pagerank.iterations" -> Metric(iters, "count"),
      "pagerank.iter_s_p50" -> Metric(tmed(b, "iter4_s"), "s"),
      "pagerank.build_s" -> Metric(tmed(b, "pagerank.build_s"), "s"),
      "pagerank.jobs_per_iter" -> Metric(Stats.median(ss.map(_.counters.jobs / iters)), "count"),
      "pagerank.shuffle_bytes_per_iter" ->
        Metric(Stats.median(ss.map(_.counters.shuffleWrite / iters)), "bytes"))
  }
}

/** Pages to ranks, the path a crawl takes: the extraction invariant, the
  * url graph build, link analytics on that graph (WCC, deterministic LPA,
  * triangles), then a durable PageRank cut off after a few supersteps and
  * resumed from its snapshot. The work sits in string-keyed ingest
  * shuffles, the gated analytics kernels and checkpoint writes; PageRank
  * runs its default strategy here, not the grid.
  */
final class CrawlToRank(seed: Long) extends Workload {
  val nPages = 8000
  private val specs = Gen.pages(seed, nPages, avgOut = 10)
  val inputDigest: String = Gen.digest(specs)

  // The program documents dense ids in sorted url order, so the oracles
  // work in that id space and the dictionary check pins the order.
  private val urls: Array[String] = (specs.map(_.url) ++ specs.flatMap(_.links)).distinct.sorted
  private val nUrls = urls.length
  private val idOf: Map[String, Int] = urls.zipWithIndex.toMap
  private val src = specs.flatMap(p => p.links.map(_ => idOf(p.url)))
  private val dst = specs.flatMap(_.links.map(idOf))
  private val edgeKeys = sortedKeys(src, dst)
  private val comps = Oracle.wcc(nUrls, src, dst)
  private val labels = Oracle.labelProp(nUrls, src, dst, LpaSweeps)
  private val tris = Oracle.triangles(nUrls, src, dst)
  private val converged = Oracle.pageRank(nUrls, src, dst, Tol, 100)
  private val cut = Oracle.pageRank(nUrls, src, dst, Tol, CutAt)

  private def sortedKeys(s: Array[Int], d: Array[Int]): Array[Long] = {
    val k = Array.tabulate(s.length)(i => (s(i).toLong << 32) | d(i))
    java.util.Arrays.sort(k)
    k
  }

  def run(b: Bench): Unit = {
    val in = b.dir("in/pages")
    val writer = b.newSession(b.cores)
    locally {
      import writer.implicits._
      writer.createDataset(specs.toSeq.map(p =>
        Page(p.url, new java.sql.Timestamp(p.tsMillis), p.html, p.text, p.lang)))
        .repartition(8).write.parquet(in.getAbsolutePath)
    }
    def load() = b.setup(b.cores) { s =>
      import s.implicits._
      val pages = s.read.parquet(in.getAbsolutePath).as[Page].persist(StorageLevel.MEMORY_ONLY)
      pages.count()
      pages
    }
    load(); load()
    val pages = load()
    val storeRoot = b.dir("store")
    // one round per process: a crawl is a batch job, run cold in a fresh JVM
    b.loop("round", 1.0, minRounds = 1, warmup = 0) {
      deleteTree(storeRoot) // every round writes its snapshots from empty
      b.call("extract_check", "ingest")(Pages.extractionViolations(pages)) {
        case (v, _) => b.sample("ingest.extract_violations", v.toDouble)
          if (v == 0) None else Some(s"$v pages whose extracted text differs")
      }
      val lg = b.call("to_graph", "ingest") {
        val (d, gr) = Pages.toGraph(pages)
        val edges = gr.edges.persist(StorageLevel.MEMORY_ONLY)
        edges.count()
        (d, gr.copy(edges = edges))
      } { case ((d, gr), _) => checkGraph(b, d, gr) }._2
      b.call("wcc", "algos.components")(labelArray(Components.wcc(lg), "comp", nUrls)) {
        case (got, _) => if (got.exists(_.sameElements(comps))) None else Some("components differ from union-find")
      }
      b.call("lpa", "algos.labelprop") {
        labelArray(LabelProp.run(lg, fixedIters = Some(LpaSweeps), minTieBreak = true), "label", nUrls)
      } { case (got, _) => if (got.exists(_.sameElements(labels))) None else Some("labels differ from the oracle") }
      b.call("triangles", "algos.triangles")(Triangles.count(lg)) {
        case (got, _) => if (got == tris) None else Some(s"$got triangles, oracle $tris")
      }
      val store = new CheckpointStore(storeRoot.getAbsolutePath, b.runId)
      var iters = Seq.empty[Double]
      b.call("pagerank_cut", "algos.pagerank") {
        val r = PageRank.run(lg, tol = Tol, maxIter = CutAt, store = Some(store))
        (r, rankArray(r.ranks, nUrls))
      } { case ((r, ranks), wall) =>
        iters = steady(r.perIterSec)
        b.sample("pagerank.build_s", wall - r.perIterSec.sum)
        checkRanks(ranks, r.iterations, r.perIterSec, wall, cut)
      }
      b.probe("checkpoint_load", "core.checkpoint") {
        store.latestIter(lg.spark).foreach(k => store.load(lg.spark, k).count())
      }
      b.call("pagerank_resume", "algos.pagerank") {
        val r = PageRank.resume(lg, store, tol = Tol)
        (r, rankArray(r.ranks, nUrls))
      } { case ((r, ranks), wall) =>
        iters ++= steady(r.perIterSec)
        b.sample("pagerank.build_s", wall - r.perIterSec.sum)
        b.sample("pagerank.iterations", r.iterations)
        checkRanks(ranks, r.iterations, r.perIterSec, wall, converged)
      }
      iters.foreach(b.sample("iter_s", _))
      lg.edges.unpersist()
    }
    walkStore(storeRoot)
  }

  /** The url graph must be exactly the generated one: ids `0..V-1` in
    * sorted url order, and the same edge multiset.
    */
  private def checkGraph(b: Bench, dict: DataFrame, lg: LinkGraph): Option[String] = {
    val d = dict.select("id", "url").collect()
    val edges = lg.edges.select("src", "dst").collect()
    b.sample("ingest.edges_out", edges.length.toDouble)
    val got = sortedKeys(edges.map(_.getLong(0).toInt), edges.map(_.getLong(1).toInt))
    if (lg.numVertices != Some(nUrls.toLong) || d.length != nUrls ||
        !d.forall(r => r.getLong(0) >= 0 && r.getLong(0) < nUrls && urls(r.getLong(0).toInt) == r.getString(1)))
      Some(s"dictionary of ${d.length} urls is not the $nUrls urls in sorted order")
    else if (!got.sameElements(edgeKeys)) Some(s"${edges.length} edges differ from the ${edgeKeys.length} expected")
    else None
  }

  private var storeStats = Map.empty[String, Double]

  /** Snapshot, file and byte counts of the last round's checkpoint store. */
  private def walkStore(root: File): Unit = {
    val files = if (root.exists) walk(root).filter(_.isFile) else Nil
    val snaps = Option(new File(root, "state").listFiles).toSeq.flatten.count(_.getName.startsWith("iter="))
    storeStats = Map("snapshots" -> snaps.toDouble, "files" -> files.size.toDouble,
      "bytes" -> files.map(_.length.toDouble).sum)
  }

  private def walk(f: File): Seq[File] =
    f +: Option(f.listFiles).toSeq.flatten.flatMap(walk)

  private def deleteTree(f: File): Unit = if (f.exists) walk(f).reverse.foreach(_.delete())

  def workloadMetrics(b: Bench): Map[String, Metric] = {
    val iter = med(b, "iter_s")
    val toGraph = med(b, "to_graph")
    Map(
      "wall_s" -> Metric(med(b, "round_s"), "s"),
      "pagerank_converge_s" -> Metric(Stats.median(
        b.samples.getOrElse("pagerank_cut", Nil).zip(b.samples.getOrElse("pagerank_resume", Nil)).map(p => p._1 + p._2)), "s"),
      "pagerank_edges_per_s" -> Metric(if (iter > 0) src.length / iter else 0, "edges/s/iter"),
      "ingest_pages_per_s" -> Metric(if (toGraph > 0) nPages / toGraph else 0, "pages/s"),
      "resume_s" -> Metric(med(b, "pagerank_resume"), "s"),
      "wcc_s" -> Metric(med(b, "wcc"), "s"),
      "lpa_s" -> Metric(med(b, "lpa"), "s"),
      "triangles_s" -> Metric(med(b, "triangles"), "s"))
  }

  def layerMetrics(b: Bench): Map[String, Metric] = {
    val pr = spans(b, "pagerank_cut") ++ spans(b, "pagerank_resume")
    val rounds = math.max(1, b.tracedRounds.size)
    val iters = tmed(b, "pagerank.iterations")
    callLayer(b, "wcc") ++ callLayer(b, "lpa") ++ callLayer(b, "triangles") ++ Map(
      "ingest.extract_check_s" -> Metric(tmed(b, "extract_check"), "s"),
      "ingest.to_graph_s" -> Metric(tmed(b, "to_graph"), "s"),
      "ingest.edges_out" -> Metric(tmed(b, "ingest.edges_out"), "count"),
      "ingest.shuffle_bytes" -> Metric(Stats.median(spans(b, "to_graph").map(_.counters.shuffleWrite.toDouble)), "bytes"),
      "ingest.extract_violations" -> Metric(tmed(b, "ingest.extract_violations"), "count"),
      "checkpoint.snapshots" -> Metric(storeStats.getOrElse("snapshots", 0), "count"),
      "checkpoint.files_written" -> Metric(storeStats.getOrElse("files", 0), "count"),
      "checkpoint.bytes_written" -> Metric(storeStats.getOrElse("bytes", 0), "bytes"),
      "checkpoint.resume_load_s" -> Metric(Stats.median(spans(b, "checkpoint_load").map(_.wallS)), "s"),
      "pagerank.iterations" -> Metric(iters, "count"),
      "pagerank.iter_s_p50" -> Metric(tmed(b, "iter_s"), "s"),
      // cut-off run plus resume, per round
      "pagerank.build_s" -> Metric(b.tracedSamples.getOrElse("pagerank.build_s", Nil).sum / rounds, "s"),
      "pagerank.jobs_per_iter" -> Metric(if (iters > 0) pr.map(_.counters.jobs).sum.toDouble / rounds / iters else 0, "count"),
      "pagerank.shuffle_bytes_per_iter" ->
        Metric(if (iters > 0) pr.map(_.counters.shuffleWrite).sum.toDouble / rounds / iters else 0, "bytes"))
  }
}
