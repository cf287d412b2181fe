package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop with one client thread. */
trait Workload {
  /** The tracer the workload opens its spans on. */
  def tr: Tracer

  /** Untimed warm-up under `dir`, run after the first (cold) set-up and
    * before the others, so the timed loop does not pay class loading and
    * first-time code generation. May start from the first set-up's state.
    */
  def warmup(dir: String): Unit

  /** Generate the inputs from the seed and build the state the timed loop
    * starts from, under `dir`. Runs several times; the last state is used.
    */
  def setup(dir: String, rep: Int): Unit

  /** The timed closed loop: the workload's fixed work, which takes several
    * times longer than the benchmark's `--seconds`, and more ops only if
    * that work ends before `seconds` have passed.
    */
  def run(seconds: Double): Unit

  /** Output checks after the loop; each returned string is one failure. */
  def check(): Seq[String]

  def attempted: Long
  def failed: Long

  /** End-to-end metrics except `setup_s`: (name, value, unit). */
  def endToEnd(): Seq[(String, Double, String)]

  /** Workload-specific per-layer measures (traced run only). */
  def perLayer(spans: Map[String, Map[String, Double]]): Map[String, Double]

  /** Extra human-readable `name value unit` lines: per-workload metrics
    * outside the bounded end-to-end set.
    */
  def summary(): Seq[(String, Double, String)]
}

/** Entry point (`run.py` builds the command line):
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cpus <n> --work <scratch dir> --state <dir of earlier output hashes>`.
  * Prints `metric <name> <value> <unit>` lines and, as the last line, the
  * result JSON object. Exits 1 when an output check fails.
  */
object Main {

  val SetupReps = 3

  /** Spans every traced run reports, those of every workload. */
  val Spans: Seq[String] = Dhs.Spans ++ Gate.Spans
  /** Span-specific measures, likewise (0 on a workload that has no such span). */
  val Extras: Seq[String] = Dhs.Extras ++ Gate.Extras
  val Measures: Seq[String] =
    Seq("s", "driver_ms", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val state = opts.getOrElse("state", null)
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.local(cpus)
    val code =
      try runOne(spark, make(spark, workload, seed, new Tracer(spark), state), seconds, trace, work)
      finally spark.stop()
    System.exit(code)
  }

  def make(spark: SparkSession, workload: String, seed: Long, tracer: Tracer,
      stateDir: String): Workload =
    workload match {
      case "dhs_warehouse" => new Dhs(spark, seed, tracer)
      case "gate_stream" => new Gate(spark, seed, tracer, stateDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def runOne(spark: SparkSession, wl: Workload, seconds: Double,
      trace: Boolean, work: String): Int = {
    val tracer = wl.tr
    var warmS = 0.0
    val setupS = (0 until SetupReps).map { rep =>
      val dir = s"$work/setup$rep"
      val (_, s) = Util.time(wl.setup(dir, rep))
      if (rep == 0) {
        warmS = Util.time(wl.warmup(s"$work/warmup"))._2
        Util.deleteRecursively(new File(s"$work/warmup"))
      }
      if (rep > 0) Util.deleteRecursively(new File(s"$work/setup${rep - 1}"))
      s
    }
    if (trace) tracer.install()
    val failures = mutable.ArrayBuffer.empty[String]
    val (_, loopS) = Util.time(try wl.run(seconds) catch { case e: Exception =>
      failures += s"run aborted: $e"
      e.printStackTrace()
    })
    tracer.enabled = false
    val (found, checkS) = Util.time(try wl.check() catch { case e: Exception => Seq(s"check aborted: $e") })
    failures ++= found
    System.err.println(f"[perfbench] phases: warm-up $warmS%.1f s, set-up ${setupS.sum}%.1f s " +
      f"(${setupS.map(x => f"$x%.2f").mkString(", ")}), loop $loopS%.1f s, checks $checkS%.1f s")
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val rss = Util.vmHwmMb()
    val e2e = Seq(("setup_s", Util.median(setupS), "s")) ++ wl.endToEnd()
    val failed = wl.failed + failures.size
    val attempted = math.max(math.max(1L, wl.attempted), failed)
    val extra = wl.summary() ++ Seq(
      ("rss_peak_mb", rss, "MB"),
      ("storage_memory_mb", spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0, "MB"),
      ("failed_op_frac", failed.toDouble / attempted, "ratio"),
      ("setup_s_max", setupS.max, "s"),
      // run.py compares a traced run's loop wall with an untraced twin's
      ("loop_s", loopS, "s"))
    (e2e ++ extra).foreach { case (n, v, u) => println(f"metric $n%-28s $v%.6f $u") }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val spans = tracer.summary()
        val std = for (sp <- Spans; m <- Measures)
          yield (s"$sp.$m", spans.get(sp).flatMap(_.get(m)).getOrElse(0.0), unitOf(m))
        val extras = wl.perLayer(spans)
        std ++ Extras.map(n => (n, extras.getOrElse(n, 0.0), unitOfExtra(n)))
      }
    val correct = failures.isEmpty && wl.failed == 0
    println(Util.json(mutable.LinkedHashMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    if (correct) 0 else 1
  }

  private def unitOf(m: String): String = m match {
    case "s" => "s"
    case "driver_ms" | "gc_ms" => "ms"
    case "shuffle_bytes" | "spill_bytes" => "bytes"
    case _ => "count"
  }

  private def unitOfExtra(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("lines_per_s")) "1/s"
    else if (n.endsWith(".bytes") || n.endsWith("bytes_per_doc")) "bytes"
    else if (n.endsWith(".files")) "count"
    else "ratio"
}
