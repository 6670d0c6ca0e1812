package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Thrown by an output check that does not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What every workload sees: the session, the tracer, the seed, and file
  * helpers confined to the run's work directory.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  private val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  var checks = 0

  def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) throw new CheckFailed(what)
  }

  def delete(path: String): Unit = { fs.delete(new Path(path), true); () }

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** `Pipeline.run` with the reference retry policy minus its sleeps. A
    * stage that needed a retry fails the run.
    */
  def runPipeline(stages: Seq[graft.orchestration.Pipeline.Stage]): Unit = {
    import graft.orchestration.Pipeline.{Failed, Succeeded}
    graft.orchestration.Pipeline.run(stages, onSuccess = _ => (),
        sleep = _ => ()) match {
      case Failed(stage, e, _) =>
        throw new IllegalStateException(s"pipeline stage $stage failed", e)
      case Succeeded(results) =>
        results.find(_._2 != 1).foreach { case (s, n) =>
          throw new CheckFailed(s"pipeline stage $s needed $n attempts") }
    }
  }

  /** Bytes and count of the table files under `dirs`: regular files whose
    * name and parent directories start with neither `.` nor `_` (so no
    * checksums, commit markers, staging or streaming metadata).
    */
  def stored(dirs: Seq[String]): (Long, Long) = {
    var bytes, files = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) {
        if (st.isDirectory) walk(st.getPath)
        else { bytes += st.getLen; files += 1 }
      }
    }
    dirs.map(new Path(_)).filter(fs.exists).foreach(walk)
    (bytes, files)
  }
}

/** Timing of one pass: the sum of its timed segments. Checks and pass
  * preparation run between segments and are not counted.
  */
final class Pass(tracer: Tracer) {
  var wall, cpu, erasure = 0.0
  var calls = 0
  val batches = mutable.ArrayBuffer[Double]()

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def timed[A](body: => A): (A, Double) = {
    val (w0, c0) = (System.nanoTime(), cpuNs())
    val r = tracer.timedPhase(body)
    val w = (System.nanoTime() - w0) / 1e9
    wall += w
    cpu += (cpuNs() - c0) / 1e9
    calls += 1
    (r, w)
  }

  /** A call whose latency is one batch: landing to result committed. */
  def batch[A](body: => A): A = { val (r, w) = timed(body); batches += w; r }

  /** One right-to-be-forgotten request. */
  def erase[A](body: => A): A = { val (r, w) = timed(body); erasure += w; r }
}

/** One workload's generated inputs, ready for timed passes. */
trait Prepared {
  /** Input sizes, expected counts and why the inputs look as they do. */
  def inputs: String

  /** Run one pass writing under `out`, check its outputs, and return the
    * directories holding the tables it leaves behind.
    */
  def pass(ctx: Ctx, p: Pass, out: String): Seq[String]
}

trait Workload {
  /** Generate the inputs (and any prior state) under `dir`; `small` is the
    * warm-up size.
    */
  def prepare(ctx: Ctx, dir: String, small: Boolean): Prepared
}

/** The benchmark's entry point in the JVM (`perfbench/run.py` starts it):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --result <file> [--spans <file>]
  * perfbench.Main --train 1 --work <dir>
  * }}}
  * Set-up (session, one warm-up pass on a small input, then three input
  * preparations of which the last is kept), then timed passes until
  * `--seconds` of timed work is done. On success the result JSON is
  * written to `--result`; any failed call or check exits 1 with no result.
  */
object Main {

  val workloads: Map[String, Workload] = Map(
    "medallion" -> Medallion,
    "corpus_iterative" -> CorpusIterative)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secondsOf[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val code =
      try if (opts.contains("train")) train(opts) else run(opts)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] FAILED: $e")
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def session(work: String, name: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    graft.Sessions.builder(cpus)
      .appName(s"perfbench-$name")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  /** One small pass of every workload, nothing measured: the build runs
    * this once to record the classes a run loads (a JVM class-data
    * archive), which cuts every later run's JVM start-up.
    */
  private def train(opts: Map[String, String]): Int = {
    val work = new java.io.File(opts("work")).getAbsolutePath
    val spark = session(work, "train")
    try {
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext, true, "train"), 1L)
      workloads.foreach { case (name, wl) =>
        wl.prepare(ctx, s"$work/$name", small = true)
          .pass(ctx, new Pass(ctx.tracer), s"$work/$name/out")
        ctx.delete(s"$work/$name")
      }
      0
    } finally spark.stop()
  }

  private def run(opts: Map[String, String]): Int = {
    val name = opts("workload")
    val wl = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, name)
    try {
      val tracer = new Tracer(spark.sparkContext, trace, s"$name-$seed")
      val ctx = new Ctx(spark, tracer, seed)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val (_, warmS) = secondsOf {
        val small = wl.prepare(ctx, s"$work/warm", small = true)
        small.pass(ctx, new Pass(tracer), s"$work/warm/out")
        ctx.delete(s"$work/warm")
      }
      var prepared: Prepared = null
      val prepS = (0 until 3).map { r =>
        if (r > 0) ctx.delete(s"$work/in${r - 1}")
        val (pr, s) = secondsOf(wl.prepare(ctx, s"$work/in$r", small = false))
        prepared = pr
        s
      }
      val setupS = sessionS + warmS + median(prepS)
      println(s"[perfbench] $name inputs: ${prepared.inputs}")
      println(f"[perfbench] $name seed=$seed set-up: session $sessionS%.2f s, " +
        f"warm-up $warmS%.2f s, input preparation ${prepS.map(s => f"$s%.2f").mkString("/")} s")

      tracer.counters.failedTasks = 0L
      ctx.checks = 0
      val runs = mutable.ArrayBuffer[Pass]()
      val storedB = mutable.ArrayBuffer[Double]()
      val storedF = mutable.ArrayBuffer[Double]()
      val layer = mutable.ArrayBuffer[Map[String, Double]]()
      val peaks = mutable.ArrayBuffer[Double]()
      var timedTotal = 0.0
      while (runs.isEmpty || timedTotal < seconds) {
        val i = runs.size
        tracer.pass = i
        tracer.counters.resetPeak()
        val p = new Pass(tracer)
        val out = s"$work/pass$i"
        val dirs = prepared.pass(ctx, p, out)
        val (b, f) = ctx.stored(dirs)
        storedB += b / (1024.0 * 1024.0); storedF += f.toDouble
        if (trace) {
          layer += tracer.passMetrics(i)
          peaks += tracer.counters.peakCached / (1024.0 * 1024.0)
        }
        ctx.delete(out)
        runs += p
        timedTotal += p.wall
        println(f"[perfbench] pass $i: ${p.wall}%.3f s wall, ${p.cpu}%.3f s cpu, " +
          s"batches ${p.batches.map(x => f"$x%.3f").mkString(",")}, " +
          f"erasure ${p.erasure}%.3f s")
      }

      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("run_s", median(runs.map(_.wall).toSeq), "s"),
          ("cpu_s", median(runs.map(_.cpu).toSeq), "s"),
          ("batch_s", median(runs.flatMap(_.batches).toSeq), "s"),
          ("erasure_s", median(runs.map(_.erasure).toSeq), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("stored_mb", median(storedB.toSeq), "MB"),
          ("stored_files", median(storedF.toSeq), "count"))
        else {
          tracer.drain()
          val unattributed = tracer.counters.unattributed
          if (unattributed != 0) throw new CheckFailed(
            s"$unattributed Spark jobs of the timed phase ran outside any span")
          opts.get("spans").foreach(tracer.writeSpans)
          Layers.spanMetrics
            .map(m => (m, median(layer.map(_(m)).toSeq), Layers.unit(m))) ++ Seq(
            ("bench.cached_peak_mb", median(peaks.toSeq), "MB"),
            ("bench.failed_tasks", tracer.counters.failedTasks.toDouble, "count"),
            ("bench.run_s", median(runs.map(_.wall).toSeq), "s"))
        }
      val attempted = runs.map(_.calls).sum + ctx.checks
      val json = s"""{"correct": true, "attempted": $attempted, "failed": 0, """ +
        "\"metrics\": {" + metrics.map { case (m, v, u) =>
          s""""$m": {"value": $v, "unit": "$u"}""" }.mkString(", ") + "}}"
      val w = new java.io.PrintWriter(opts("result"), "UTF-8")
      try w.println(json) finally w.close()
      0
    } finally spark.stop()
  }
}
