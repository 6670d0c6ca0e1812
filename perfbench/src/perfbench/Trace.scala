package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The per-layer metric table: every span the benchmark opens around a
  * call into one of the engine's layers, and the counters reported for it.
  * A metric is named `<span>.<counter>`; a span a workload never opens
  * reads 0.
  */
object Layers {
  private val io8 = Seq("wall_s", "jobs", "cpu_s", "gap_s", "read_mb",
    "written_mb", "files", "shuffle_mb")
  private val stage = Seq("wall_s", "jobs", "cpu_s", "shuffle_mb")
  private val loop = Seq("wall_s", "jobs", "cpu_s", "gap_s", "shuffle_mb")

  /** Pretrain stage name (as `PretrainCorpus.stages` names it) → span. */
  val pretrainStages: Seq[(String, String)] = Seq(
    "clean" -> "jobs.clean",
    "quality" -> "ops.gopher",
    "langid" -> "functions.langid",
    "exact_dedup" -> "operators.exact_dedup",
    "near_dedup" -> "operators.near_dedup",
    "decontaminate" -> "operators.decontaminate",
    "mix" -> "ops.mix",
    "manifest" -> "ops.packing")

  val spans: Seq[(String, Seq[String])] = Seq(
    "orchestration.pipeline" -> Seq("wall_s", "gap_s"),
    "jobs.bronze_to_silver" -> io8,
    "jobs.silver_to_gold" -> (io8 :+ "overlap"),
    "streaming.incremental_ingest" -> io8,
    "jobs.run_erasure" -> Seq("wall_s", "jobs", "cpu_s", "gap_s", "overlap",
      "read_mb", "written_mb", "files")) ++
    pretrainStages.map(_._2 -> stage) ++
    Seq("operators.graph.cc", "operators.graph.betweenness",
      "operators.graph.hyperanf", "operators.clustering.kmeans",
      "operators.graph.cc_erasure").map(_ -> loop)

  val spanMetrics: Seq[String] =
    spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c") }

  def unit(metric: String): String = metric.split('.').last match {
    case "wall_s" | "cpu_s" | "gap_s" | "run_s" => "s"
    case "read_mb" | "written_mb" | "shuffle_mb" | "cached_peak_mb" => "MB"
    case "overlap" => "ratio"
    case _ => "count"
  }
}

/** Spark counters attributed to spans. The span id travels as a local
  * property, which Spark copies onto every job the calling thread (or a
  * thread it creates, such as a `Par` pool thread or a streaming query's
  * thread) submits. Read only after [[Tracer.drain]].
  */
final class Counters extends SparkListener {
  import Tracer.{PhaseKey, SpanKey}

  final class Acc {
    var cpuNs, read, written, shuffle, files = 0L
  }
  final case class JobRec(span: Int, start: Long, var end: Long)

  val jobs = mutable.HashMap[Int, JobRec]()
  val acc = mutable.HashMap[Int, Acc]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val execSpan = mutable.HashMap[Long, Int]()
  private val fileAccums = mutable.HashSet[Long]()
  private val blocks = mutable.HashMap[String, Long]()
  var unattributed = 0
  var failedTasks = 0L
  private var cached = 0L
  var peakCached = 0L

  def resetPeak(): Unit = synchronized { peakCached = cached }

  private def accOf(span: Int) = acc.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt)
      .getOrElse(-1)
    if (span < 0 && p.exists(_.getProperty(PhaseKey) == "timed"))
      unattributed += 1
    jobs(e.jobId) = JobRec(span, e.time, e.time)
    e.stageIds.foreach(s => stageSpan(s) = span)
    p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan(x.toLong) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = accOf(stageSpan.getOrElse(e.stageId, -1))
      a.cpuNs += m.executorCpuTime
      a.read += m.inputMetrics.bytesRead
      a.written += m.outputMetrics.bytesWritten
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      peakCached = math.max(peakCached, cached)
    }
  }

  private def fileMetrics(plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == "number of written files")
      .foreach(m => fileAccums += m.accumulatorId)
    plan.children.foreach(fileMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => fileMetrics(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        fileMetrics(s.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (fileAccums(id))
            accOf(execSpan.getOrElse(d.executionId, -1)).files += v
        }
      case _ => ()
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
}

/** In-memory spans around the benchmark's calls into the engine's layers,
  * plus the [[Counters]] listener. Disabled, [[span]] only runs its body
  * and no listener is registered, so the untraced run pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  import Tracer.{PhaseKey, SpanKey}

  final case class SpanRec(id: Int, name: String, parent: Int, pass: Int,
      startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
    def wall: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer[SpanRec]()
  private var current = -1
  var pass = -1
  val counters = new Counters
  if (enabled) sc.addSparkListener(counters)

  private def setSpan(id: Int): Unit =
    sc.setLocalProperty(SpanKey, if (id < 0) null else id.toString)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val rec = SpanRec(spans.size, name, current, pass,
        System.currentTimeMillis(), System.nanoTime())
      spans += rec
      val prev = current
      current = rec.id
      setSpan(rec.id)
      try body
      finally {
        rec.endNs = System.nanoTime(); rec.endMs = System.currentTimeMillis()
        current = prev
        setSpan(prev)
      }
    }

  /** Mark the jobs `body` launches as timed: each must fall in a span. */
  def timedPhase[A](body: => A): A =
    if (!enabled) body
    else {
      sc.setLocalProperty(PhaseKey, "timed")
      try body finally sc.setLocalProperty(PhaseKey, null)
    }

  def drain(): Unit = org.apache.spark.perfbenchx.BusDrain.drain(sc)

  /** Per-layer metrics of one pass (Σ over that pass's instances of each
    * span). Counters are inclusive: a span's jobs are those attributed to
    * it or to any span nested in it.
    */
  def passMetrics(p: Int): Map[String, Double] = {
    drain()
    counters.synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      def chain(id: Int): List[Int] =
        if (id < 0) Nil else id :: chain(byId(id).parent)
      val inclJobs = mutable.HashMap[Int, mutable.ArrayBuffer[counters.JobRec]]()
      counters.jobs.values.foreach(j => chain(j.span).foreach(a =>
        inclJobs.getOrElseUpdate(a, mutable.ArrayBuffer()) += j))
      val inclAcc = mutable.HashMap[Int, Array[Long]]()
      counters.acc.foreach { case (id, a) => chain(id).foreach { s =>
        val t = inclAcc.getOrElseUpdate(s, Array.fill(5)(0L))
        t(0) += a.cpuNs; t(1) += a.read; t(2) += a.written
        t(3) += a.shuffle; t(4) += a.files
      } }
      val mb = 1024.0 * 1024.0
      val out = mutable.LinkedHashMap[String, Double]()
      for ((name, cs) <- Layers.spans) {
        val inst = spans.filter(s => s.pass == p && s.name == name)
        var wall, gap, jobSum, union = 0.0
        var nJobs = 0
        val t = Array.fill(5)(0L)
        inst.foreach { s =>
          val js = inclJobs.getOrElse(s.id, Nil)
          nJobs += js.size
          val ivs = js.map(j => (math.max(j.start, s.startMs),
            math.min(j.end, s.endMs))).filter(iv => iv._2 > iv._1).sortBy(_._1)
          var u = 0L
          var (lo, hi) = (Long.MinValue, Long.MinValue)
          ivs.foreach { case (a, b) =>
            if (a > hi) { if (hi > lo) u += hi - lo; lo = a; hi = b }
            else hi = math.max(hi, b)
          }
          if (hi > lo) u += hi - lo
          wall += s.wall
          gap += math.max(0.0, s.wall - u / 1000.0)
          union += u / 1000.0
          jobSum += js.map(j => (j.end - j.start) / 1000.0).sum
          inclAcc.get(s.id).foreach(a => (0 until 5).foreach(i => t(i) += a(i)))
        }
        cs.foreach { c =>
          out(s"$name.$c") = c match {
            case "wall_s" => wall
            case "jobs" => nJobs.toDouble
            case "cpu_s" => t(0) / 1e9
            case "gap_s" => gap
            case "overlap" => if (union > 0) jobSum / union else 0.0
            case "read_mb" => t(1) / mb
            case "written_mb" => t(2) / mb
            case "shuffle_mb" => t(3) / mb
            case "files" => t(4).toDouble
          }
        }
      }
      out.toMap
    }
  }

  /** Spans as JSON lines: name, start, end, parent, run id, self time. */
  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val childWall = spans.filter(_.parent == s.id).map(_.wall).sum
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"pass":${s.pass},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"wall_s":${s.wall},""" +
        s""""self_s":${math.max(0.0, s.wall - childWall)}}""")
    } finally w.close()
  }
}
