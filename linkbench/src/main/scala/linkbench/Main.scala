package linkbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Benchmark entry point (normally started by `linkbench/run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file> [--spans <file>]
  * }}}
  *
  * Generates the seeded input and its oracle results, writes the input as
  * parquet, sets up, runs the workload's closed loop for `seconds`, checks
  * every output, and writes one JSON result object to `--out`: the
  * end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.
  */
object Main {

  /** Printed with `--trace 0`; every one exists on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "pagerank_converge_s" -> "s")

  /** Printed with `--trace 1`; a layer a workload does not reach reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    // workload-level figures: per-iteration throughput varied more than a
    // tenth between seeds; the others exist on one workload only
    "pagerank_edges_per_s" -> "edges/s/iter", "pagerank_scaling_eff" -> "ratio", "wcc_s" -> "s", "lpa_s" -> "s", "triangles_s" -> "s",
    "ingest_pages_per_s" -> "pages/s", "resume_s" -> "s", "failed_frac" -> "ratio",
    "trace.overhead_s" -> "s",
    // ingest
    "ingest.extract_check_s" -> "s", "ingest.to_graph_s" -> "s", "ingest.edges_out" -> "count",
    "ingest.shuffle_bytes" -> "bytes", "ingest.extract_violations" -> "count",
    // core.checkpoint
    "checkpoint.snapshots" -> "count", "checkpoint.files_written" -> "count",
    "checkpoint.bytes_written" -> "bytes", "checkpoint.resume_load_s" -> "s",
    // algos.pagerank
    "pagerank.iterations" -> "count", "pagerank.iter_s_p50" -> "s", "pagerank.build_s" -> "s",
    "pagerank.jobs_per_iter" -> "count", "pagerank.shuffle_bytes_per_iter" -> "bytes",
    // algos.components, algos.labelprop, algos.triangles
    "wcc.jobs" -> "count", "wcc.shuffle_bytes" -> "bytes", "wcc.path" -> "flag",
    "lpa.jobs" -> "count", "lpa.shuffle_bytes" -> "bytes", "lpa.path" -> "flag",
    "triangles.jobs" -> "count", "triangles.shuffle_bytes" -> "bytes",
    "triangles.spill_bytes" -> "bytes", "triangles.path" -> "flag",
    // spark (per round, summed over its call spans) and jvm
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "spark.task_failures" -> "count",
    "spark.core_busy_frac" -> "ratio", "jvm.heap_peak_mb" -> "MiB")

  /** Input digests of the main seed (1) and the held-out seed (2), kept for
    * confirming later claims on a seed not used while writing them; a run
    * on either seed whose input differs is reported as not correct.
    */
  val RecordedDigests: Map[(String, Long), String] = Map(
    ("pagerank-web", 1L) -> "578db41a1d5b3c5542053246be10f6ed780a867de5e6bf10cd82508a03481c30",
    ("pagerank-web", 2L) -> "2c46d121a0212d3487a6596841dfb6fe6a0ff3365ca55767a60d76d400834d9f",
    ("crawl-to-rank", 1L) -> "9e54246f7e08ec45add9bdf0e6ba91d9bcae68b7c2bb1f54de051a0910c77314",
    ("crawl-to-rank", 2L) -> "9e3ef3db25c1dd82bcbf5c5d711d2bb4839439c554c722a65a1a5d323d8868e1")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    require(seconds > 0, "--seconds must be positive")

    val w = Workloads(workload, seed)
    val digestOk = RecordedDigests.get(workload -> seed).forall(_ == w.inputDigest)
    log(s"input digest ${w.inputDigest}${if (digestOk) "" else " DIFFERS from the recorded one"}")

    val b = new Bench(workload, seed, seconds, trace, work)
    try w.run(b) finally b.stopSession()

    val metrics: Seq[(String, Metric)] =
      if (!trace) {
        val have = w.workloadMetrics(b) + ("setup_s" -> Metric(Stats.median(b.setupS), "s"))
        EndToEnd.map { case (k, unit) => k -> have.getOrElse(k, Metric(0.0, unit)) }
      } else {
        val have = w.workloadMetrics(b) ++ w.layerMetrics(b) ++ engineMetrics(b) ++ Map(
          "failed_frac" -> Metric(b.failed.toDouble / math.max(1L, b.attempted), "ratio"),
          "trace.overhead_s" -> Metric(
            Workloads.tmed(b, "round_s") - Workloads.med(b, "round_s"), "s"))
        PerLayer.map { case (k, unit) => k -> have.getOrElse(k, Metric(0.0, unit)) }
      }
    metrics.foreach { case (k, m) => log(f"$k%-32s ${m.value}%.6g ${m.unit}") }
    log(s"rounds: ${b.samples.map { case (k, v) => s"$k=${v.size}" }.filter(_.contains("round")).mkString(" ")}" +
      s" traced=${b.tracedRounds.size} setups=${b.setupS.size} attempted=${b.attempted} failed=${b.failed}")

    opts.get("spans").foreach { p =>
      b.tracer.foreach(t => Files.write(new File(p).toPath,
        (t.toJsonLines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)))
    }
    val correct = digestOk && b.failed == 0 && b.attempted > 0
    val json = s"""{"correct": $correct, "attempted": ${b.attempted}, "failed": ${b.failed}, "metrics": {""" +
      metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }.mkString(", ") +
      "}}"
    Files.write(new File(opt("out")).toPath, json.getBytes(StandardCharsets.UTF_8))
  }

  /** Engine counters per main-session traced round (medians), from the
    * round spans; busy fraction is task time over the cores the calls held.
    */
  private def engineMetrics(b: Bench): Map[String, Metric] = {
    val rounds = b.tracedRounds.filter(_.name == "round")
    def m(f: Counters => Double) = Stats.median(rounds.map(r => f(r.counters)))
    val callWall = Workloads.tmed(b, "round_s")
    val calls = b.tracer.toSeq.flatMap(_.spans).filter(s => rounds.exists(_.id == s.parent))
    Map(
      "spark.jobs" -> Metric(m(_.jobs.toDouble), "count"),
      "spark.stages" -> Metric(m(_.stages.toDouble), "count"),
      "spark.tasks" -> Metric(m(_.tasks.toDouble), "count"),
      "spark.shuffle_read_bytes" -> Metric(m(_.shuffleRead.toDouble), "bytes"),
      "spark.shuffle_write_bytes" -> Metric(m(_.shuffleWrite.toDouble), "bytes"),
      "spark.spill_bytes" -> Metric(m(_.spill.toDouble), "bytes"),
      "spark.gc_s" -> Metric(m(_.gcMs / 1000.0), "s"),
      "spark.task_failures" -> Metric(m(_.taskFailures.toDouble), "count"),
      "spark.core_busy_frac" -> Metric(
        if (callWall > 0) m(_.runMs / 1000.0) / (b.cores * callWall) else 0, "ratio"),
      "jvm.heap_peak_mb" -> Metric(if (calls.isEmpty) 0 else calls.map(_.heapPeakMb).max, "MiB"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def log(s: String): Unit =
    println(f"[linkbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1f] $s")
}
