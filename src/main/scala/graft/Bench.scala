package graft

import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR`, writes per-query seconds to `bench_out.json`, and
  * prints ONE COMPACT JSON line on stdout.
  *
  * Budgeted min-of-samples: a ~2 s synthetic pre-warm (JIT + whole-stage
  * codegen + one shuffle) runs first so round-1 samples aren't 10-20×
  * cold-distorted, then round 1 runs every query once, then re-measure
  * rounds spend whatever wall-clock budget remains taking the min, most
  * expensive queries first. With budget to spare every published number is
  * a warm steady-state min (what a long-lived cluster sees); under a
  * starved budget round-1 samples can stand — fewer good samples beats the
  * empty artifact a fixed-pass schedule leaves when a slow host outruns
  * the harness timeout.
  *
  * `SPARK_GRAFT_ONLY=q1,q2` (the filter Verify honours) times just the
  * named queries through the same rounds — with the budget to spare, each
  * gets round 1, three re-measure rounds and the outlier pass, and
  * publishes the min. Point `SPARK_GRAFT_BENCH_OUT` elsewhere for such a
  * run, or it replaces the full artifact with the subset.
  *
  * A query that throws (any non-fatal exception) in a sample keeps its
  * other samples; the file names it under `failed` with its exception's
  * class, and the stdout line carries the `failed` count, so a total that
  * lost a query says so.
  *
  * Artifact protocol: the full per-query JSON goes to the file, flushed
  * after the pre-warm round and after EVERY re-measure round, so a timeout
  * or kill mid-run still leaves a complete per-query artifact on disk. The
  * stdout line is COMPACT (total + query count + file pointer, well under
  * 2,000 chars) because the driver retains only a 2,000-char stdout tail —
  * a 283-query inline line (~8.5 KB) can never sit inside that window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // WALL-CLOCK BUDGET (seconds): a bench that sometimes emits nothing
    // (a fixed schedule outgrowing the harness timeout on a slow host) is
    // worse than one that emits fewer samples: the budget makes
    // completion unconditional. Round 1
    // always covers every query; re-measure rounds spend whatever budget
    // remains sharpening the min, most expensive queries first.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(1500.0)
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(SparkEntry.selected)
    // between-samples hygiene — rationale and the measured justification
    // live on the helper
    def purgeLeakedRdds(): Unit = org.apache.spark.sql.graftx
      .CheckpointUtils.purgeAllPersisted(spark)
    // per-query successful-sample counts: a published number with k = 1 is
    // a single (possibly cold or contention-burst) sample, k ≥ 2 a warm
    // min, and the file says which
    val sampleCount = scala.collection.mutable.Map[String, Long]()
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      purgeLeakedRdds()
      sampleCount(name) = sampleCount.getOrElse(name, 0L) + 1
      dt
    }
    // every query that threw in some sample, with the class of its first
    // exception: a failed sample reads -1 and drops out of the total, so
    // the artifact and the stdout line name the failures
    val failed = scala.collection.mutable.TreeMap[String, String]()
    def attempt(name: String): Double =
      try timed(name) catch {
        case NonFatal(e) =>
          failed.getOrElseUpdate(name, e.getClass.getName)
          -1.0
      }
    // one-line host-speed probes for the artifact: /proc/loadavg at run
    // start and at each flush (a contended host explains itself), plus
    // the measured pre-warm time below (slow JIT ⇒ slow host)
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    val loadavgStart = loadavg
    val prewarmT0 = System.nanoTime()
    // Synthetic pre-warm (~2 s, counted inside the budget): codegen + both
    // shuffle paths (hash agg, sort-merge join) + a parquet read footer
    // path. Without it, round-1 samples on a slow host carry cold-JIT cost
    // 10-20× the steady state, and under a starved budget those samples
    // PUBLISH. Two seconds of JIT here buys every round-1 sample down
    // to ~warm for the classes of code the suite exercises.
    try {
      import spark.implicits._
      val warm = spark.range(2000000L).toDF("id")
        .selectExpr("id", "id % 97 as k", "cast(id as string) as s")
      warm.groupBy("k").agg(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.sum("id")).count()
      val a = spark.range(500000L).selectExpr("id as k", "id * 2 as v")
      val b = spark.range(500000L).selectExpr("id as k", "id * 3 as w")
      a.join(b, "k").agg(org.apache.spark.sql.functions.sum($"v" * $"w")).count()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      purgeLeakedRdds()
    } catch { case _: Throwable => () }
    // the pre-warm's own duration is a host-speed probe: it runs the same
    // fixed synthetic work every round, so a 10× pre-warm means a 10×
    // host, not a regression — readers calibrate the artifact against it
    val prewarmSec = (System.nanoTime() - prewarmT0) / 1e9
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // prior committed artifact (if the target file already holds one):
    // its per-query seconds are the reference the starved-budget outlier
    // pass ranks against — read BEFORE the skeleton flush overwrites it
    val prior: Map[String, Double] = try {
      priorSeconds(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outFile)), "UTF-8"))
        .filter { case (k, v) => names.contains(k) && v >= 0 }
    } catch { case _: Throwable => Map.empty }
    def fullJson(sample: collection.Map[String, Double]): String = {
      val results = names.map(name => name -> sample.getOrElse(name, -1.0))
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val ks = names.map(n => "\"" + n + "\":" + sampleCount.getOrElse(n, 0L))
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      val fs = failed.map { case (n, c) => "\"" + n + "\":\"" + c + "\"" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$fs,""" +
        s""""samples":$ks,"prewarm_sec":$prewarmSec,""" +
        s""""loadavg_start":"$loadavgStart","loadavg_now":"$loadavg",""" +
        s""""sf":"$sfDir"}"""
    }
    // Incremental flush: a timeout/kill mid re-measure round still leaves
    // the last complete per-query artifact on disk. Write-temp-rename
    // so a kill mid-WRITE can't leave a torn file either. A flush failure
    // must not kill the run (the numbers still accumulate in memory and
    // later flushes may succeed) but it must not be SILENT either — the
    // per-query record lives only in this file now, so a persistently
    // unwritable target means the compact stdout line would point at
    // nothing: warn once on stderr.
    var flushWarned = false
    def flush(sample: collection.Map[String, Double]): Unit =
      try {
        val tmp = java.nio.file.Paths.get(outFile + ".tmp")
        java.nio.file.Files.write(tmp, (fullJson(sample) + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outFile),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable => if (!flushWarned) {
          flushWarned = true
          System.err.println(s"[bench] WARNING: cannot write $outFile " +
            s"($e) — the per-query record is only in this file; the " +
            "stdout line carries the total alone")
        }
      }
    // skeleton flush before the first query: the artifact exists (every
    // query at -1) from the moment the stdout pointer could name it, and
    // an unwritable target warns at minute zero instead of after round 1
    flush(Map.empty)
    // Round 1 (unconditional — full coverage): post-pre-warm cold samples.
    // They STAND only when the budget never allows a re-measure. Flushed
    // every 20 queries: a kill even MID round 1 ships every number
    // measured so far (unmeasured queries read -1, distinguishable from
    // a real sample).
    val sample = scala.collection.mutable.Map[String, Double]()
    names.zipWithIndex.foreach { case (name, i) =>
      sample(name) = attempt(name)
      if ((i + 1) % 20 == 0) flush(sample)
    }
    flush(sample)
    // Re-measure rounds while budget remains, each taking the min (which
    // discards the cold round-1 sample and rejects the host VM's
    // multi-second CPU-steal bursts — a single sample can do neither).
    // The first re-measure round runs DESCENDING current estimate — the
    // expensive head is where cold/burst distortion is worth the most
    // seconds each — but a partial descending round alone leaves the long
    // CHEAP tail on single round-1 samples (sub-second queries published
    // 3-6× readings that way), so the second sweeps ASCENDING: at ~1-2 s
    // per query the same leftover budget re-measures a hundred tail
    // queries instead of a dozen more head ones. The third, budget
    // permitting, is descending again. The loop aborts between queries once the budget is spent,
    // so a partial round still fixes the worst numbers in its order.
    // RESERVED OUTLIER SLICE: the general
    // re-measure rounds stop 10% short of the budget, and that slice is
    // spent re-checking the samples most inflated vs the PRIOR committed
    // artifact (read above, before the skeleton flush overwrote it). On a
    // starved budget this is the only re-measure some queries get — and
    // it goes exactly to the numbers most likely to be contention
    // phantoms; with budget to spare it is just the last slice of
    // re-measuring, now in worst-outlier-first order.
    val reserveSec = budgetSec * 0.10
    var round = 1
    while (round < 4 && elapsedSec < budgetSec - reserveSec) {
      val byCost = names.sortBy(n => math.max(sample.getOrElse(n, 0.0), 0.0))
      val order = if (round == 2) byCost else byCost.reverse
      for ((name, i) <- order.zipWithIndex
           if elapsedSec < budgetSec - reserveSec) {
        val t = attempt(name)
        if (t >= 0 && (sample(name) < 0 || t < sample(name)))
          sample(name) = t
        if ((i + 1) % 20 == 0) flush(sample)
      }
      flush(sample)
      round += 1
    }
    // outlier pass: rank by inflation over the prior artifact (absent a
    // prior — first run on a host, renamed output — fall back to current
    // cost, the descending order), re-measure while the full budget lasts
    val outlierOrder = names
      .filter(n => sample.getOrElse(n, -1.0) >= 0)
      .sortBy { n =>
        val cur = sample(n)
        prior.get(n).filter(_ > 0) match {
          case Some(p) => -(cur / p)
          case None => -cur
        }
      }
    for ((name, i) <- outlierOrder.zipWithIndex if elapsedSec < budgetSec) {
      val t = attempt(name)
      if (t >= 0 && (sample(name) < 0 || t < sample(name)))
        sample(name) = t
      if ((i + 1) % 20 == 0) flush(sample)
    }
    flush(sample)
    val total = names.map(sample(_)).filter(_ >= 0).sum
    // COMPACT stdout line: the driver keeps a 2,000-char stdout tail, so the
    // per-query inline form (~8.5 KB at 283 queries) can never parse there.
    // Total + counts + file pointer
    // fits with room to spare; the full per-query record is in `outFile`.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${names.size},"failed":${failed.size},"queries_out":"$outFile","sf":"$sfDir"}"""
    spark.stop()
    // Under `sbt runMain`, System.out is sbt's logger — every println gets an
    // "[info] " prefix, which breaks a JSON parse of the line. Writing to
    // the process's real fd 1
    // bypasses the redirected System.out, so one clean unprefixed line
    // reaches the parent regardless of how this main was launched. The line
    // is emitted exactly ONCE (no println fallback — a duplicate line can
    // itself confuse a last-line parser); the file sink above is the backup.
    try {
      val raw = new java.io.PrintStream(new java.io.FileOutputStream(
        java.io.FileDescriptor.out), true, "UTF-8")
      raw.println(compact)
      raw.flush()
    } catch { case _: Throwable => () }
  }

  /** Per-query seconds of a `bench_out.json` artifact: the entries of its
    * `"queries"` object only. The `"samples"` object that follows it has
    * the same key shape (query → sample count), so a scan of the whole
    * file would let the counts overwrite the seconds.
    */
  private[graft] def priorSeconds(artifact: String): Map[String, Double] = {
    val key = "\"queries\":{"
    val start = artifact.indexOf(key)
    if (start < 0) Map.empty
    else {
      val body = artifact.substring(start + key.length,
        artifact.indexOf('}', start))
      """"([A-Za-z0-9_]+)":(-?[0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
        .map(g => g.group(1) -> g.group(2).toDouble).toMap
    }
  }
}
