package linkbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A timed call whose output failed its oracle check, or that threw. */
final case class CallFailed(call: String, why: String) extends Exception(s"$call: $why")

/** Run state shared by the workloads: sessions, the closed loop of rounds,
  * timed and checked calls, samples and the optional tracer.
  *
  * Samples of untraced rounds feed the end-to-end metrics; in a traced run
  * rounds alternate between traced and untraced, so both the per-layer
  * spans and the tracing overhead come from one process.
  */
final class Bench(val workload: String, val seed: Long, val seconds: Int, trace: Boolean,
    val work: File) {

  /** Task threads of the main sessions: at most 4, never above the host's cores. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val runId: String = s"$workload-s$seed"
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(runId)) else None

  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val setupS = ArrayBuffer.empty[Double]
  /** Samples from successful untraced rounds, by name. */
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Samples from successful traced rounds, by name. */
  val tracedSamples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Round spans of the successful traced rounds. */
  val tracedRounds = ArrayBuffer.empty[Span]

  private val pending = ArrayBuffer.empty[(String, Double)]
  private var roundSpan = 0
  private var roundWall = 0.0
  private var roundsRun = 0
  private var measureStart = 0L

  def dir(name: String): File = new File(work, name)

  /** Stop the current session, if any, and start a fresh one. */
  def newSession(threads: Int): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"linkbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.attach(s.sparkContext))
    spark = s
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Time one set-up (fresh session + the workload's load and cache). */
  def setup[T](threads: Int)(load: SparkSession => T): T = {
    val t0 = System.nanoTime()
    val out = load(newSession(threads))
    setupS += (System.nanoTime() - t0) / 1e9
    Main.log(f"setup ${setupS.size}: ${setupS.last}%.3f s")
    out
  }

  def sample(name: String, v: Double): Unit = pending += name -> v

  /** One timed call into the program. The time covers `body`, which
    * includes materializing the output; `check` then compares the output
    * with the oracle, untimed. A call that throws or fails its check counts
    * as failed, records no time and ends the round.
    */
  def call[T](name: String, layer: String)(body: => T)(check: (T, Double) => Option[String]): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try tracer.filter(_ => roundSpan != 0).fold(body)(_.call(name, layer, roundSpan)(body))
      catch {
        case e: Exception =>
          failed += 1
          throw CallFailed(name, s"threw ${e.getClass.getName}: ${e.getMessage}")
      }
    val wall = (System.nanoTime() - t0) / 1e9
    check(out, wall).foreach { why => failed += 1; throw CallFailed(name, why) }
    sample(name, wall)
    roundWall += wall
    out
  }

  /** An untimed step that runs only in traced rounds, in a span of its own
    * (the checkpoint read-back, which the program does inside `resume`).
    */
  def probe(name: String, layer: String)(body: => Unit): Unit =
    tracer.filter(_ => roundSpan != 0).foreach(_.call(name, layer, roundSpan)(body))

  /** One round. Its wall is the sum of its calls' times; its samples are
    * kept when every call in it passed its check and it is not a warm-up.
    */
  private def round(label: String, warmup: Boolean, traced: Boolean)(body: => Unit): Unit = {
    pending.clear()
    roundWall = 0.0
    roundsRun += 1
    roundSpan = if (traced) tracer.get.openRound() else 0
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case f: CallFailed => Console.err.println(s"[linkbench] FAILED ${f.getMessage}"); false }
    val t1 = System.nanoTime()
    Main.log(s"$label $roundsRun${if (warmup) " (warm-up)" else if (traced) " (traced)" else ""}: " +
      pending.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    if (ok && !warmup) {
      val target = if (traced) tracedSamples else samples
      (pending :+ (s"${label}_s" -> roundWall)).foreach {
        case (k, v) => target.getOrElseUpdate(k, ArrayBuffer.empty) += v
      }
    }
    if (traced) {
      val span = tracer.get.closeRound(roundSpan, label, t0, t1)
      if (ok) tracedRounds += span
    }
    roundSpan = 0
  }

  /** Closed loop: `warmup` rounds whose samples are dropped, then rounds
    * back to back until `until` (a fraction) of the run's `seconds` have
    * passed since the first round of the run, and at least `minRounds`. A
    * traced run warms up at least once, then alternates traced and untraced
    * rounds, at least two of them.
    */
  def loop(label: String, until: Double, minRounds: Int, warmup: Int)(body: => Unit): Unit = {
    if (measureStart == 0L) measureStart = System.nanoTime()
    val deadlineNs = measureStart + (until * seconds * 1e9).toLong
    val warm = if (tracer.isDefined) math.max(1, warmup) else warmup
    (0 until warm).foreach(_ => round(label, warmup = true, traced = false)(body))
    var i = 0
    while (i < minRounds || (tracer.isDefined && i < 2) || System.nanoTime() < deadlineNs) {
      round(label, warmup = false, traced = tracer.isDefined && i % 2 == 0)(body)
      i += 1
    }
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
