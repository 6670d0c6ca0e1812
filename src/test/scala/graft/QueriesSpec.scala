package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level integration: every declared query runs on sf0.001 and returns
  * rows; every oracle entry points at a declared query. (Exact value parity
  * vs DuckDB is checked by graft.Verify + scripts/local_check.py — DuckDB
  * is not a JVM dependency.)
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"query $name runs and returns rows on sf0.001") {
      assert(SparkEntry.queries(name)(spark, dir).count() > 0)
    }
  }

  // -- cross-query invariants for the behavioral/stats families ---------

  test("holt-winters fold matches a driver-side replay bit-for-bit") {
    import org.apache.spark.sql.functions._
    import graft.ops.Aggregations.sumStable
    val daily = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
      .agg(sumStable(col("value")).as("v"))
      .orderBy(col("event_type"), col("d"))
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    val got = SparkEntry.queries("e_holt_winters")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    for ((et, series) <- daily.groupBy(_._1)) {
      val xs = series.map(_._2) // already day-ordered within type
      var l = xs.head; var b = 0.0; val s = Array.fill(7)(0.0)
      for (t <- 1 until xs.length) {
        val idx = t % 7
        val sOld = s(idx)
        val lNew = ((xs(t) - sOld) + (l + b)) / 2.0
        val bNew = ((lNew - l) + b) / 2.0
        s(idx) = ((xs(t) - lNew) + sOld) / 2.0
        l = lNew; b = bNew
      }
      val nxt = s(xs.length % 7)
      assert(got(et) == ((xs.length.toLong, l, b, nxt, l + b + nxt)), et)
    }
  }

  test("cusum window identity matches the sequential max(0,·) recursion") {
    import org.apache.spark.sql.functions._
    val daily = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .orderBy(col("event_type"), col("d"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val got = SparkEntry.queries("e_cusum_change")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted; s((s.length + 1) / 2 - 1)
    }
    for ((et, series) <- daily.groupBy(_._1)) {
      val xs = series.map(_._2)
      val med = lowerMedian(xs)
      val mad = lowerMedian(xs.map(v => math.abs(v - med)))
      var sp = 0L; var sn = 0L
      val expect = xs.map { v =>
        // textbook Page recursion in half-cents, slack = mad/2 each side
        sp = math.max(0L, sp + 2L * (v - med) - mad)
        sn = math.max(0L, sn + 2L * (med - v) - mad)
        (sp, sn)
      }
      val gotSeries = got.toSeq.filter(_._1._1 == et)
        .sortBy(_._1._2.getTime).map(_._2)
      assert(gotSeries.map(t => (t._2, t._3)) == expect.toSeq, et)
      assert(gotSeries.forall(t => t._1 == mad), s"$et mad")
    }
  }

  test("histogram AUC equals the brute-force pairwise Mann-Whitney count") {
    import org.apache.spark.sql.functions._
    val curated = (0 to 3).map(i => s"src$i").toSet
    val sc = graft.Tables.load(spark, dir, "documents")
      .select(round(graft.functions.TextFunctions.qualityScore(col("text"))
          * lit(1e6)).cast("long").as("sq"), col("source"))
      .collect().map(r => (r.getLong(0), curated(r.getString(1))))
    val pos = sc.filter(_._2).map(_._1)
    val neg = sc.filterNot(_._2).map(_._1)
    // num2 = Σ over positives of (2·strict wins + ties) = 2·U
    val num2 = pos.map(p =>
      2L * neg.count(_ < p) + neg.count(_ == p)).sum
    val expAuc = (1000000L * num2) / (2L * pos.length * neg.length)
    val got = SparkEntry.queries("t_filter_auc")(spark, dir).head()
    assert(got.getLong(0) == pos.length && got.getLong(1) == neg.length)
    assert(got.getLong(2) == expAuc, "auc_q")
    assert(got.getLong(3) == 2 * expAuc - 1000000L, "gini_q")
    // the score must actually rank (sanity that the gate isn't vacuous)
    assert(got.getLong(2) != 500000L)
  }

  test("heaps-law checkpoints are monotone and the exponent is sublinear") {
    val rows = SparkEntry.queries("t_heaps_law")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val sorted = rows.sortBy(_._1)
    // cumulative prefixes: docs, tokens, vocab all non-decreasing
    assert(sorted.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4
    })
    // vocabulary grows sublinearly in tokens: 0 < β < 1 (Heaps' law)
    val beta = sorted.head._5
    assert(rows.forall(_._5 == beta), "beta_q constant across rows")
    assert(beta > 0L && beta < 1000000L, s"beta_q=$beta")
  }

  test("weak-label log-odds weights match a driver-side replay") {
    val rows = SparkEntry.queries("t_weak_labels")(spark, dir).collect()
    val votes = rows.map(r => (Seq(r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4)), r.getInt(5), r.getLong(6), r.getInt(7)))
    val ws = (0 until 4).map { i =>
      val n = votes.count(t => t._2 != 0 && t._1(i) != 0)
      val a = votes.count(t => t._2 != 0 && t._1(i) == t._2)
      BigDecimal(math.log((a + 1).toDouble / (n - a + 1).toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    votes.foreach { t =>
      val sc = t._1.zip(ws).map { case (v, w) => v * w }.sum
      assert(sc == t._3 && t._4 == java.lang.Long.signum(sc))
    }
    // both classes must actually occur (the vote isn't degenerate)
    assert(votes.exists(_._4 > 0) && votes.exists(_._4 < 0))
  }

  test("funnel stages are monotone and bounded by the user population") {
    import org.apache.spark.sql.functions._
    val f = SparkEntry.queries("e_funnel_stages")(spark, dir)
    val byStage = f.groupBy("funnel_stage").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val viewers = (1 to 3).map(s => byStage.getOrElse(s, 0L)).sum
    val users = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(viewers == users, "funnel root must equal distinct viewers")
    // reaching stage k implies passing stage k-1: cumulative counts shrink
    val s3 = byStage.getOrElse(3, 0L)
    val s2plus = s3 + byStage.getOrElse(2, 0L)
    assert(s2plus <= viewers && s3 <= s2plus)
  }

  test("cohort retention: offset-0 row per cohort equals its cohort size") {
    import org.apache.spark.sql.functions._
    val m = SparkEntry.queries("e_cohort_retention")(spark, dir)
    // every user appears in their own first week → offset 0 n_users is the
    // cohort size, and no later offset can exceed it
    val bad = m.as("a").join(m.filter(col("week_offset") === 0).as("z"),
        col("a.cohort_week") === col("z.cohort_week"))
      .filter(col("a.n_users") > col("z.n_users"))
    assert(bad.count() == 0)
    val total = m.filter(col("week_offset") === 0)
      .agg(sum(col("n_users"))).head().getLong(0)
    val users = graft.Tables.events(spark, dir)
      .select("user_id").distinct().count()
    assert(total == users, "cohort-0 rows must partition the user base")
  }

  test("float-bearing stats queries are partition-count invariant") {
    // SCALING.md claims decimal sums / ordered folds make these bit-equal
    // under any partitioning — prove it by re-running with a different
    // shuffle fan-out
    val names = Seq("e_ewma_smooth", "e_moment_stats", "a_regression_stats",
      "e_autocorr", "e_drift_psi")
    // restore the PREVIOUS value — a hardcoded restore left the shared
    // session at a different fan-out for every later suite (the source
    // of a rare boundary-sampling flake in the layout specs)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    for (n <- names) {
      val a = SparkEntry.queries(n)(spark, dir).collect().toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      try {
        val b = SparkEntry.queries(n)(spark, dir).collect().toSeq
        assert(a == b, s"$n changed under repartitioning")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("moment stats reconcile with Spark's own avg/var on the same data") {
    import org.apache.spark.sql.functions._
    val m = SparkEntry.queries("e_moment_stats")(spark, dir)
      .select("event_type", "mean", "variance").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val ref = graft.Tables.events(spark, dir)
      .groupBy("event_type").agg(avg("value"), var_samp("value")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((k, (mu, v)) <- ref) {
      assert(math.abs(m(k)._1 - mu) < 1e-9, s"mean $k")
      assert(math.abs(m(k)._2 - v) / v < 1e-9, s"variance $k")
    }
  }

  test("no query or oracle name is declared twice across packs (a " +
    "duplicate silently shadows the earlier gate in the flatMap.toMap)") {
    val qNames = SparkEntry.packs.flatMap(_.queries.keys)
    val dupQ = qNames.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupQ.isEmpty, s"duplicate query names across packs: $dupQ")
    val oNames = SparkEntry.packs.flatMap(_.oracleSql.keys)
    val dupO = oNames.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupO.isEmpty, s"duplicate oracle names across packs: $dupO")
  }

  test("bench prior artifact: per-query seconds come from the queries " +
    "object, not the sample counts that follow it") {
    // the shape Bench writes to bench_out.json: `samples` repeats every
    // query key with an integer count after `queries`
    val artifact =
      """{"metric":"total","value":5.4,"unit":"sec",""" +
        """"queries":{"a_approx_distinct":1.705508603,"q1_agg":3.7,"x_fail":-1.0},""" +
        """"failed":{"x_fail":"java.lang.RuntimeException"},""" +
        """"samples":{"a_approx_distinct":1,"q1_agg":4,"x_fail":0},""" +
        """"prewarm_sec":2.1,"loadavg_start":"0.5 0.4 0.3","sf":"/data/sf0.1"}"""
    assert(Bench.priorSeconds(artifact) == Map(
      "a_approx_distinct" -> 1.705508603, "q1_agg" -> 3.7, "x_fail" -> -1.0))
    assert(Bench.priorSeconds("""{"metric":"total"}""").isEmpty)
  }

}
