package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Aggregations, Cleaning, Derivations}

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single forked JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.expressions.GraftExtensions())
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Per-operator unit tests with hand-built rows — the adversarial variants the
  * reference never tests (SURVEY.md §5.2.1; FIXTURES.md §1).
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bronze(rows: (String, String, java.lang.Double, String)*) =
    rows.toDF("transaction_id", "customer_id", "amount", "transaction_date")

  test("P2 not-null guard drops a row when ANY required column is null") {
    val df = bronze(
      ("t1", "c1", 10.0, "2024-01-01 00:00:00"),
      (null, "c1", 10.0, "2024-01-01 00:00:00"),
      ("t3", null, 10.0, "2024-01-01 00:00:00"),
      ("t4", "c1", null, "2024-01-01 00:00:00"),
      ("t5", "c1", 10.0, null))
    val kept = Cleaning.requireNonNull(df,
      Seq("transaction_id", "customer_id", "amount", "transaction_date"))
    assert(kept.select("transaction_id").as[String].collect().toSet == Set("t1"))
  }

  test("P3 amount > 0 boundary: 0 and negatives dropped, epsilon kept") {
    val df = bronze(
      ("t1", "c", 0.0, "x"), ("t2", "c", -5.0, "x"), ("t3", "c", 0.01, "x"))
    assert(Cleaning.positiveAmount(df).select("transaction_id")
      .as[String].collect().toSet == Set("t3"))
  }

  test("E1 unparseable transaction_date nulls then drops via partition guard") {
    val df = bronze(
      ("t1", "c", 1.0, "2024-01-15 10:30:00"),
      ("t2", "c", 1.0, "not-a-date"),
      ("t3", "c", 1.0, "2024-13-45 99:99:99"))
    val hardened = Derivations.withDateParts(Cleaning.hardenTypes(df))
    val kept = Cleaning.partitionKeyGuard(hardened, Seq("year", "month", "day"))
    assert(kept.select("transaction_id").as[String].collect().toSet == Set("t1"))
    assert(kept.select("year", "month", "day", "hour").as[(Int, Int, Int, Int)]
      .head() == ((2024, 1, 15, 10)))
  }

  test("P1 dedup keeps exactly one row per key; deterministic variant keeps first by order") {
    val df = bronze(
      ("t1", "c1", 5.0, "a"), ("t1", "c2", 3.0, "a"), ("t2", "c3", 9.0, "a"))
    assert(Cleaning.dedupArbitrary(df, "transaction_id").count() == 2)
    val det = Cleaning.dedupDeterministic(df, "transaction_id", Seq(col("amount")))
    assert(det.filter($"transaction_id" === "t1").select("customer_id")
      .as[String].head() == "c2") // lowest amount first
  }

  test("E7 amount_category strict-< boundaries: 100 is medium, 1000 is large") {
    val df = Seq(99.99, 100.0, 999.99, 1000.0).toDF("amount")
    val got = Derivations.withAmountCategory(df)
      .select("amount", "amount_category").as[(Double, String)].collect().toMap
    assert(got(99.99) == "small" && got(100.0) == "medium")
    assert(got(999.99) == "medium" && got(1000.0) == "large")
  }

  test("E8 integrality via cast-truncation, not rounding: 2.999 is decimal, 3.0 whole") {
    val df = Seq(3.0, 2.999, -4.0, 0.5).toDF("amount")
    val got = Derivations.withIntegralityTag(df)
      .select("amount", "transaction_type_derived").as[(Double, String)]
      .collect().toMap
    assert(got(3.0) == "whole_number" && got(-4.0) == "whole_number")
    assert(got(2.999) == "decimal" && got(0.5) == "decimal")
  }

  test("E10 customer_segment strict-> boundaries: exactly 10000 is medium, 5000 low") {
    val df = Seq(10000.01, 10000.0, 5000.01, 5000.0).toDF("v")
    val got = df.withColumn("seg", Derivations.customerSegment($"v"))
      .select("v", "seg").as[(Double, String)].collect().toMap
    assert(got(10000.01) == "high_value" && got(10000.0) == "medium_value")
    assert(got(5000.01) == "medium_value" && got(5000.0) == "low_value")
  }

  test("A1 daily agg measures: counts, stable sum, min/max, distinct") {
    val silver = Seq(
      ("t1", "c1", 10.0, 2024, 1, 1), ("t2", "c1", 20.0, 2024, 1, 1),
      ("t3", "c1", 5.0, 2024, 1, 2), ("t4", "c2", 7.5, 2024, 1, 1))
      .toDF("transaction_id", "customer_id", "amount", "year", "month", "day")
    val daily = Aggregations.daily(silver)
    val c1d1 = daily.filter($"customer_id" === "c1" && $"day" === 1).head()
    assert(c1d1.getAs[Long]("transaction_count") == 2)
    assert(c1d1.getAs[Double]("total_amount") == 30.0)
    assert(c1d1.getAs[Double]("avg_amount") == 15.0)
    assert(c1d1.getAs[Double]("min_amount") == 10.0)
    assert(c1d1.getAs[Double]("max_amount") == 20.0)
    assert(c1d1.getAs[Long]("unique_transactions") == 2)
    assert(c1d1.getAs[String]("aggregation_level") == "daily")
  }

  test("A3 customer insights: tenure datediff, active_days multi-col distinct, segment") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val silver = Seq(
      ("t1", "c1", 6000.0, ts("2024-01-01 10:00:00"), 2024, 1, 1),
      ("t2", "c1", 4500.0, ts("2024-01-03 09:00:00"), 2024, 1, 3),
      ("t3", "c1", 1.0, ts("2024-01-03 23:00:00"), 2024, 1, 3))
      .toDF("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
    val row = Aggregations.customerInsights(silver).head()
    assert(row.getAs[Long]("lifetime_transactions") == 3)
    assert(row.getAs[Double]("lifetime_value") == 10501.0)
    assert(row.getAs[Long]("active_days") == 2)
    assert(row.getAs[Int]("customer_tenure_days") == 2)
    assert(row.getAs[String]("customer_segment") == "high_value")
  }

  test("sumStable is order-insensitive where double sum is not") {
    val vals = (1 to 2000).map(i => math.Pi * i * 0.37)
    val a = vals.toDF("v").repartition(7)
    val b = vals.reverse.toDF("v").repartition(3)
    val sa = a.agg(Aggregations.sumStable($"v")).as[Double].head()
    val sb = b.agg(Aggregations.sumStable($"v")).as[Double].head()
    assert(sa == sb) // bit-identical, not just approximately equal
  }

  test("shard manifest: one flipped byte moves exactly its shard's checksum") {
    val dir0 = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    graft.Tables.load(spark, dir0, "documents")
      .withColumn("text",
        when($"doc_id" === 7L, concat($"text", lit("!"))).otherwise($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def manifest(d: String): Map[Long, (Long, Long)] =
      SparkEntry.queries("x_shard_manifest")(spark, d)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val a = manifest(dir0)
    val b = manifest(tmp)
    assert(a.keySet == b.keySet)
    assert(a.forall { case (s, (n, _)) => b(s)._1 == n }) // counts untouched
    val moved = a.keySet.filter(s => a(s)._2 != b(s)._2)
    assert(moved == Set(7L % 16)) // corruption localized to one shard
  }

  test("length buckets: equal-depth tiling; bucketing strictly cuts padding") {
    val r = SparkEntry.queries("x_length_buckets")(spark, "/root/testdata/sf0.001")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.map(_._1) == (1 to 8)) // all 8 buckets, in order
    val sizes = r.map(_._2)
    assert(sizes.sum == 500 && sizes.max - sizes.min <= 1) // equal depth
    // buckets tile the length axis in rank order
    r.sliding(2).foreach { case Seq(lo, hi) => assert(lo._4 <= hi._3) }
    // the whole point: 8 length-homogeneous batches pad less than one
    // global fixed-shape batch
    val bucketedPad = r.map(_._6).sum
    val globalPad = sizes.sum * r.map(_._4).max - r.map(_._5).sum
    assert(bucketedPad < globalPad)
  }

  test("hash split: total, disjoint, repartition-invariant, ~weight-proportional") {
    import graft.ops.Sampling
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    assert(Sampling.hexCutoffs(weights) ==
      Seq("train" -> "cd", "val" -> "e6", "test" -> "g"))

    val ids = (1L to 5000L).toDF("doc_id")
    val assigned = Sampling.splitAssign(ids, "doc_id", weights)
    val counts = assigned.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 5000) // every row in exactly one split
    assert(counts.keySet == Set("train", "val", "test"))
    // 205/256 ≈ 80.1%, binomial σ ≈ 28 → ±5σ band
    assert(math.abs(counts("train") - 5000 * 205.0 / 256) < 150)
    assert(math.abs(counts("val") - 5000 * 25.0 / 256) < 110)

    // assignment is a pure key function: any partitioning gives the same map
    val again = Sampling.splitAssign(ids.repartition(13), "doc_id", weights)
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(again == counts)
  }

  test("hash split: skewed weights never produce a silently-empty split") {
    import graft.ops.Sampling
    // 0.999 rounds its cumulative cut to 256 — unclamped, the first branch
    // would absorb every bucket and "tail" would match nothing
    val skewed = Seq("bulk" -> 0.999, "tail" -> 0.001)
    val cuts = Sampling.hexCutoffs(skewed)
    assert(cuts == Seq("bulk" -> "ff", "tail" -> "g"))

    // many tiny splits after a huge one: cuts must stay strictly increasing
    val many = Seq("big" -> 100.0) ++ (1 to 5).map(i => s"s$i" -> 1e-9)
    val hexes = Sampling.hexCutoffs(many).map(_._2)
    assert(hexes == hexes.distinct && hexes.init.forall(_ < "g"))
    val ids = (1L to 4096L).toDF("doc_id")
    val counts = Sampling.splitAssign(ids, "doc_id", many)
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 4096)
    assert(counts.keySet == many.map(_._1).toSet) // every split non-empty

    intercept[IllegalArgumentException] {
      Sampling.hexCutoffs((1 to 257).map(i => s"s$i" -> 1.0))
    }
  }

  test("hash split matches the oracle-side CASE SQL") {
    import graft.ops.Sampling
    val weights = Seq("a" -> 0.5, "b" -> 0.5)
    val ids = (1L to 500L).toDF("k")
    ids.createOrReplaceTempView("__split_ids")
    // splitSql targets DuckDB; VARCHAR→STRING is the only dialect delta
    val caseSql = Sampling.splitSql("k", weights).replace("AS VARCHAR", "AS STRING")
    val viaSql = spark.sql(
      s"SELECT k, $caseSql AS split FROM __split_ids")
      .as[(Long, String)].collect().toMap
    val viaApi = Sampling.splitAssign(ids, "k", weights)
      .select($"k", $"split").as[(Long, String)].collect().toMap
    assert(viaApi == viaSql)
  }

  test("gopher repetition battery: hand-computed dup lines, top n-grams " +
    "with lexicographic ties, and position-union dup-gram coverage") {
    import graft.ops.Gopher
    // d1: the 5-gram "x y z w v" repeats at offsets 0 and 10 — 10 of 15
    // tokens covered; no 6+-gram or pseudo-line repeats
    val d1 = "x y z w v a b c d e x y z w v"
    // d2: period-7 token stream of 14 tokens — both 7-token pseudo-lines
    // equal, and 5/6/7-gram coverage is total; 8+-grams cannot repeat
    val d2 = "p q r s t u w p q r s t u w"
    val docs = Seq((1L, d1), (2L, d2), (3L, "")).toDF("doc_id", "text")
    val got = Gopher.repetitionReport(docs)
      .collect().map(r => r.getLong(0) ->
        r.getValuesMap[Long](Seq("dup_line_q", "top2_q", "top3_q", "top4_q",
          "dup5_q", "dup6_q", "dup7_q", "dup8_q", "dup10_q"))).toMap
    val r1 = got(1L)
    assert(r1("dup_line_q") == 0L)
    // joined = 29 chars; top 2-gram ties at count 2 -> lexicographically
    // smallest "w v" (3 chars): 2*3*1e6 // 29
    assert(r1("top2_q") == 206896L, r1.toString)
    assert(r1("top3_q") == 2L * 5 * 1000000 / 29) // "x y z"
    assert(r1("top4_q") == 2L * 7 * 1000000 / 29) // "x y z w"
    assert(r1("dup5_q") == 10L * 1000000 / 15) // 10 of 15 tokens covered
    assert(r1("dup6_q") == 0L && r1("dup10_q") == 0L)
    val r2 = got(2L)
    assert(r2("dup_line_q") == 1000000L, r2.toString)
    assert(r2("top2_q") == 2L * 3 * 1000000 / 27) // "p q" of joined 27
    assert(r2("dup5_q") == 1000000L && r2("dup6_q") == 1000000L &&
      r2("dup7_q") == 1000000L)
    assert(r2("dup8_q") == 0L, "period-7 stream cannot repeat an 8-gram")
    val r3 = got(3L)
    assert(r3.values.forall(_ == 0L), s"empty doc must be all zeros: $r3")
  }

  test("t-closeness: ordered EMD by hand — extreme groups are farther " +
    "than middle-valued ones, global-shaped groups are 0-close") {
    import graft.ops.Privacy
    // global sensitive counts (3,3,3) over values 1<2<3; groups:
    // A={1,1} and C={3,3} sit at the ends (t=1/2), B={2,2} in the middle
    // (t=1/3 — the ordered distance l-diversity can't see), D={1,2,3}
    // mirrors the global shape (t=0)
    val rows = Seq(("A", 1), ("A", 1), ("B", 2), ("B", 2), ("C", 3),
      ("C", 3), ("D", 1), ("D", 2), ("D", 3)).toDF("g", "v")
    val got = Privacy.tCloseness(rows, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("A") == (2L, 500000L), got.toString)
    assert(got("C") == (2L, 500000L))
    assert(got("B") == (2L, 333333L), "middle value must be closer")
    assert(got("D") == (3L, 0L), "global-shaped group must be 0-close")
    // single-valued sensitive domain: trivially 0-close
    val mono = Seq(("A", 7), ("B", 7)).toDF("g", "v")
    assert(Privacy.tCloseness(mono, Seq("g"), "v")
      .collect().forall(_.getLong(2) == 0L))
  }

  // ---- weighted sampling ---------------------------------------------

  test("weighted sample: per-group cap, subset, deterministic, heavy row wins") {
    import graft.ops.Sampling
    val df = ((1L to 9L).map(i => (i, "g", 1.0)) :+ ((100L, "g", 1e6)))
      .toDF("id", "grp", "w")
      .unionByName(Seq((200L, "h", 1.0)).toDF("id", "grp", "w"))
    val s1 = Sampling.weightedSample(df, "id", "grp", "w", k = 3)
      .select($"id").as[Long].collect().toSet
    val s2 = Sampling.weightedSample(df, "id", "grp", "w", k = 3)
      .select($"id").as[Long].collect().toSet
    assert(s1 == s2, "same salt + data must draw the same sample")
    assert(s1.subsetOf((1L to 9L).toSet + 100L + 200L))
    // group g: exactly k survive; group h has 1 row, all survive
    assert(s1.count(_ != 200L) == 3 && s1.contains(200L))
    // the 10^6-weight row's key u^(1e-6) ≈ 1 dominates any unit-weight key
    assert(s1.contains(100L))
    // a different salt draws a different unit-weight cohort (or at least
    // may — assert only that the call path accepts it and stays capped)
    val s3 = Sampling.weightedSample(df, "id", "grp", "w", k = 3, salt = "z")
      .select($"id").as[Long].collect().toSet
    assert(s3.count(_ != 200L) == 3 && s3.contains(100L))
  }

  test("weighted sample: fractional weights in (0,1) sample proportionally " +
    "(micro-unit scaling), equal to the micro-scaled integral run") {
    import graft.ops.Sampling
    // all weights < 1: a raw BIGINT cast would truncate every one to the
    // w <= 0 sentinel; micro-scaling must keep the heavy row dominant
    val frac = ((1L to 9L).map(i => (i, "g", 0.001)) :+ ((100L, "g", 900.5)))
      .toDF("id", "grp", "w")
    val sf = Sampling.weightedSample(frac, "id", "grp", "w", k = 3)
      .select($"id").as[Long].collect().toSet
    assert(sf.size == 3 && sf.contains(100L),
      s"heavy row must dominate fractional unit weights: $sf")
    // law: a fractional column samples exactly like its micro-scaled
    // integral image (the documented scaling, applied by hand)
    val intImg = frac.select($"id", $"grp",
      round($"w" * 1e6).cast("long").as("w"))
    val si = Sampling.weightedSample(intImg, "id", "grp", "w", k = 3)
      .select($"id").as[Long].collect().toSet
    assert(sf == si)
    // fractional zero/negative weights still hit the sentinel (rank last)
    val zeros = Seq((1L, "g", 0.0), (2L, "g", -0.5), (3L, "g", 0.4))
      .toDF("id", "grp", "w")
    val sz = Sampling.weightedSample(zeros, "id", "grp", "w", k = 1)
      .select($"id").as[Long].collect().toSet
    assert(sz == Set(3L), s"positive fractional weight must win: $sz")
  }

  test("Neyman allocation: budget follows N·S, selection matches the window formulation") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    // stratum a: high variance (alternating 0/100); stratum b: constant
    // (S=0 → zero allocation); stratum c: single row (undefined variance
    // → zero weight by the big_n>1 guard)
    val df = ((1L to 100L).map(i => (i, "a", if (i % 2 == 0) 100.0 else 0.0)) ++
      (101L to 200L).map(i => (i, "b", 7.0)) :+ ((300L, "c", 5.0)))
      .toDF("id", "grp", "v").repartition(7)
    val got = Sampling.neymanSelect(df, "id", "grp", "v", budget = 30)
      .collect().map(r => r.getString(0) -> r).toMap
    // all weight sits on stratum a → it takes the whole budget
    assert(got("a").getLong(2) == 30 && got("a").getLong(3) == 30)
    assert(got("b").getLong(2) == 0 && got("b").getLong(3) == 0)
    assert(got("c").getLong(2) == 0 && got("c").getLong(3) == 0)
    // independent textbook formulation: row_number over (md5, id)
    val h = conv(substring(md5($"id".cast("string")), 1, 8), 16, 10)
      .cast("long")
    val want = df.select($"grp", $"id", h.as("h"), $"v")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"grp").orderBy($"h", $"id")))
      .filter($"rn" <= 30 && $"grp" === "a")
      .agg(sum($"h"), sum($"v")).head()
    assert(got("a").getLong(4) == want.getLong(0), "checksum must match window selection")
    assert(math.abs(got("a").getDouble(5) - want.getDouble(1)) < 1e-9)
    // deterministic across physical partitionings
    val again = Sampling.neymanSelect(df.repartition(3), "id", "grp", "v", budget = 30)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(again == got.map { case (k, r) => k -> r.toSeq })
  }

  test("domain cap: equals the textbook window on a hot domain; small domains untouched") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    // one mega-domain (900 rows, spans every hash bucket so several buckets
    // fill before the quota runs out) + one under-cap domain
    val df = ((1L to 900L).map(i => (i, "hot")) ++ (1000L to 1004L).map(i => (i, "cold")))
      .toDF("id", "dom").repartition(8)
    val got = Sampling.domainCap(df, "id", "dom", cap = 40)
      .select($"id", $"dom").as[(Long, String)].collect().toSet
    // independent textbook formulation: one window per domain
    val w = Window.partitionBy($"dom")
      .orderBy(md5($"id".cast("string")), $"id")
    val want = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 40)
      .select($"id", $"dom").as[(Long, String)].collect().toSet
    assert(got == want)
    assert(got.count(_._2 == "hot") == 40)
    assert(got.count(_._2 == "cold") == 5, "under-cap domain must keep all rows")
    // deterministic across partitionings
    val again = Sampling.domainCap(df.repartition(3), "id", "dom", cap = 40)
      .select($"id", $"dom").as[(Long, String)].collect().toSet
    assert(again == got)
  }

  test("domain cap: randomized corpora always equal the textbook window") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(0xd0341bcaL)
    for (trial <- 1 to 5) {
      val nDoms = 1 + rnd.nextInt(6)
      val rows = (0 until nDoms).flatMap { d =>
        val size = 1 + rnd.nextInt(120)
        (0 until size).map(i => (rnd.nextLong().abs, s"dom$d"))
      }.distinct
      val cap = 1 + rnd.nextInt(40)
      val df = rows.toDF("id", "dom").repartition(1 + rnd.nextInt(6))
      val got = Sampling.domainCap(df, "id", "dom", cap)
        .select($"id", $"dom").as[(Long, String)].collect().toSet
      val w = Window.partitionBy($"dom")
        .orderBy(md5($"id".cast("string")), $"id")
      val want = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= cap)
        .select($"id", $"dom").as[(Long, String)].collect().toSet
      assert(got == want, s"trial $trial (cap=$cap, doms=$nDoms)")
    }
  }

  test("domain cap: ranking windows are per (domain, bucket), never per domain") {
    import graft.ops.Sampling
    val df = (1L to 500L).map(i => (i, "only")).toDF("id", "dom")
    val p = Sampling.domainCap(df, "id", "dom", cap = 40)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // every window partition spec must include the bucket column — the
    // whole point is that no task ever sees a full domain
    val winArgs = p.linesIterator
      .filter(l => l.contains("Arguments:") && l.contains("row_number")).toSeq
    assert(winArgs.nonEmpty, p.take(1500))
    assert(winArgs.forall(_.contains("__b")), winArgs.mkString("\n"))
  }

  test("top-fraction-per-stratum: ceil cut, id tie-break, tiny stratum keeps 1") {
    import graft.ops.Sampling
    val df = Seq(
      (1L, "g", 9.0), (2L, "g", 7.0), (3L, "g", 7.0), (4L, "g", 1.0),
      (5L, "h", 0.5)
    ).toDF("id", "grp", "score")
    val kept = Sampling.topFractionPerStratum(df, "grp", "score", "id", 0.5)
      .select($"id").as[Long].collect().toSet
    // g: ceil(0.5·4) = 2 → score 9 and the SMALLER-id of the tied 7s;
    // h: ceil(0.5·1) = 1 → its only row survives
    assert(kept == Set(1L, 2L, 5L))
    assert(Sampling.topFractionPerStratum(df, "grp", "score", "id", 1.0)
      .count() == 5)
  }

  // ---- count-min sketch ----------------------------------------------

  test("cms never undercounts, and a wide sketch is exact on few keys") {
    import graft.ops.Cms
    val df = (Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(9)("c") ++
      Seq.fill(3)("d") ++ Seq("e")).toDF("k")
    val truth = Map("a" -> 40L, "b" -> 25L, "c" -> 9L, "d" -> 3L, "e" -> 1L)
    val probes = truth.keys.toSeq.toDF("k")
    // narrow sketch (forced collisions): the one-sided guarantee must hold
    val narrow = Cms.estimate(Cms.build(df, $"k", depth = 2, width = 4),
      probes, depth = 2, width = 4)
      .as[(String, Long)].collect().toMap
    truth.foreach { case (k, n) => assert(narrow(k) >= n, s"undercount at $k") }
    // wide sketch: 5 keys across 4096 buckets × 5 rows — min over rows is
    // collision-free, so estimates are exact
    val wide = Cms.estimate(Cms.build(df, $"k", width = 4096),
      probes, width = 4096)
      .as[(String, Long)].collect().toMap
    assert(wide == truth)
  }

  test("cms sketches merge associatively: parts sum to the whole") {
    import graft.ops.Cms
    val df = (1 to 500).map(i => (i % 37).toString).toDF("k")
    val whole = Cms.build(df, $"k").orderBy($"row", $"bucket")
      .as[(Int, Long, Long)].collect().toSeq
    // cell-wise sum of the two part sketches
    val merged = Cms.build(df.filter(xxhash64($"k") % 2 === 0), $"k")
      .unionByName(Cms.build(df.filter(xxhash64($"k") % 2 =!= 0), $"k"))
      .groupBy($"row", $"bucket").agg(sum($"cnt").as("cnt"))
      .orderBy($"row", $"bucket").as[(Int, Long, Long)].collect().toSeq
    assert(merged == whole)
  }

  // ---- theta sketches -------------------------------------------------

  test("theta set algebra is exact under the nominal; serde+merge across partitions") {
    import org.apache.spark.sql.graftx.ThetaExpressions._
    val df = ((1L to 300L).map(k => ("A", k)) ++
      (201L to 450L).map(k => ("B", k)))
      .toDF("s", "k")
      .repartition(7) // forces partial aggregation: serialize/deserialize/merge
    val wide = df.groupBy($"s").agg(thetaAgg($"k").as("sk"))
      .groupBy().pivot("s", Seq("A", "B")).agg(first($"sk"))
    val row = wide.select(
      thetaEstimate($"A").as("na"), thetaEstimate($"B").as("nb"),
      thetaEstimate(thetaUnion($"A", $"B")).as("nu"),
      thetaEstimate(thetaIntersect($"A", $"B")).as("ni"),
      thetaEstimate(thetaDiff($"A", $"B")).as("nd")).head()
    assert(row.toSeq == Seq(300L, 250L, 450L, 100L, 200L))
  }

  test("theta union stays exact past the library-default 4096 nominal") {
    // Regression: the union gadget must be sized to the aggregator's
    // lgK=14, not the DataSketches default lgK=12 — a union of two exact
    // sketches totalling 4096 < n < 16384 keys previously fell into
    // estimation mode (sf0.1 gate: 14981 exact → 14884 estimated).
    import org.apache.spark.sql.graftx.ThetaExpressions._
    val df = ((1L to 7000L).map(k => ("A", k)) ++
      (7001L to 14000L).map(k => ("B", k)))
      .toDF("s", "k").repartition(5)
    val wide = df.groupBy($"s").agg(thetaAgg($"k").as("sk"))
      .groupBy().pivot("s", Seq("A", "B")).agg(first($"sk"))
    val row = wide.select(
      thetaEstimate(thetaUnion($"A", $"B")).as("nu"),
      thetaEstimate(thetaIntersect($"A", $"B")).as("ni")).head()
    assert(row.toSeq == Seq(14000L, 0L))
  }

  test("theta sketch dedups string keys and skips nulls") {
    import org.apache.spark.sql.graftx.ThetaExpressions._
    val df = Seq("x", "y", "x", "z", "y", null).toDF("k")
    assert(df.agg(thetaEstimate(thetaAgg($"k"))).head().getLong(0) == 3L)
  }

  test("profile: one-pass metrics handle nulls, exact mean, per-column rows") {
    import graft.ops.Profile
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 10L), (3L, null), (4L, 40L), (4L, null))
      .toDF("a", "b")
    val p = Profile.numericProfile(df, Seq("a", "b"))
      .orderBy($"column")
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(p == Seq(
      ("a", 5L, 0L, 4L, 1.0, 4.0, 14.0 / 5),
      ("b", 5L, 2L, 2L, 10.0, 40.0, 60.0 / 3)))
    // single scan: the plan contains exactly one aggregate subtree chain,
    // not one per profiled column
    val plan = Profile.numericProfile(df, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(plan.split("LocalTableScan").length - 1 == 1, plan)
  }

  test("cms estimate of a never-counted key hitting empty cells is zero") {
    import graft.ops.Cms
    val sketch = Cms.build(Seq("x").toDF("k"), $"k", width = 4096)
    val est = Cms.estimate(sketch, Seq("definitely-unseen").toDF("k"),
      width = 4096).as[(String, Long)].collect().head._2
    assert(est == 0L)
  }

  test("PSI drift: identical slices score 0, a shifted slice scores high") {
    import graft.ops.Drift
    val ref = (1 to 1000).map(_.toDouble).toDF("v")
    // identical distribution → every bucket's p == q → every term exactly 0
    val same = Drift.psiReport(ref, ref, "v")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(same.size == 10 && same.forall(_._4 == 0L), same.toString)
    assert(same.map(_._2).sum == 1000L && same.forall(_._2 == 100L))
    // shifted current (+900 ⇒ mass piles into the top bucket): headline
    // PSI far above the classic 0.25 "significant drift" line
    val cur = (901 to 1900).map(_.toDouble).toDF("v")
    val shifted = Drift.psiReport(ref, cur, "v")
      .as[(Int, Long, Long, Long)].collect().toSeq
    val headline = shifted.map(_._4).sum / 1e6
    assert(headline > 0.25, s"headline PSI $headline for $shifted")
    // drained buckets appear with cur_count 0, not silently dropped
    assert(shifted.count(_._3 == 0L) >= 8)
  }

  test("temperature mixture: small strata keep everything, big strata " +
      "downsample, output near the target size, deterministic") {
    import graft.ops.Sampling
    // 9600 rows of 'big' vs 400 of 'small': sqrt-flattening must keep all
    // of 'small' (its fair share exceeds its size) and cut 'big' deeply
    val df = ((1 to 9600).map(i => (i.toLong, "big")) ++
      (10001 to 10400).map(i => (i.toLong, "small")))
      .toDF("id", "s")
    val kept = Sampling.temperatureSqrtSample(df, "id", "s", 0.5)
      .groupBy("s").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(kept("small") == 400L, s"small stratum must survive whole: $kept")
    assert(kept("big") < 9600L * 3 / 4, s"big stratum must downsample: $kept")
    // clipping-aware expectation: small keeps its full 400 (its share
    // exceeds its size) and big keeps rate = T·p_big/n_big ≈ 0.4326 →
    // ≈ 4153; total ≈ 4553 (NOT the naive 5000 — clipped strata forfeit
    // their excess share). ±200 ≈ 4 binomial sd of the hash draw.
    val total = kept.values.sum
    assert(math.abs(total - 4553L) < 200, s"total $total far from 4553")
    val again = Sampling.temperatureSqrtSample(df.repartition(7), "id", "s", 0.5)
      .groupBy("s").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(again == kept)
  }

  test("budget selection equals the global greedy prefix for arbitrary edges") {
    import graft.ops.Budget
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val rows = (1L to 300L).map(i =>
        (i, rnd.nextInt(100) / 10.0, 1L + rnd.nextInt(50)))
      val df = rows.toDF("id", "q", "cost").repartition(9)
      // arbitrary quality-threshold edges — the histogram cut must be
      // prefix-equivalent for ANY of them, including skewed ones
      val edges = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(100) / 10.0).distinct
      val budget = 1 + rnd.nextInt(6000)
      val got = Budget.selectByBudget(df, "id", "q", "cost", budget, edges)
        .select(col("id")).as[Long].collect().toSet
      // reference: walk the (q desc, id) order, keep while cum <= budget
      var cum = 0L
      val want = scala.collection.mutable.Set[Long]()
      var stopped = false
      rows.sortBy { case (i, q, _) => (-q, i) }.foreach { case (i, _, c) =>
        if (!stopped) {
          if (cum + c <= budget) { cum += c; want += i } else stopped = true
        }
      }
      assert(got == want.toSet, s"trial $trial budget=$budget edges=$edges")
    }
  }

  test("winsorized mean: tails clamp to boundary order statistics; n constant") {
    import graft.ops.Robust
    // 10 values 1..9 + 1000 at trim 0.1: cut = 1, lo = value at rank 2 = 2,
    // hi = value at rank 9 = 9 → clamped set {2,2,3,4,5,6,7,8,9,9}
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("k", "v", "id")
    val r = Robust.winsorizedMean(df, "k", "v", "id", trim = 0.1)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(r == (("g", 10L, 2.0, 9.0, 5.5)), r.toString)
    // tiny group: cut = 0 → boundaries are min/max → plain mean, n kept
    val tiny = Seq(("h", 3.0, 1L), ("h", 5.0, 2L)).toDF("k", "v", "id")
    val r2 = Robust.winsorizedMean(tiny, "k", "v", "id", trim = 0.1)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(r2 == (("h", 2L, 3.0, 5.0, 4.0)), r2.toString)
    // vs trimmedMean on the same data: winsorize keeps all 10 rows
    val t = Robust.trimmedMean(df, "k", "v", "id", trim = 0.1)
      .select($"n_kept").as[Long].head()
    assert(t == 8L && r._2 == 10L)
  }

  test("MAD outliers: hand-computed stats; median immune to the outlier") {
    import graft.ops.Robust
    // values 1..9 plus one wild corrupt point: med = 5.5's lower → with
    // n=10, rn = ceil(5) = 5 → med = 5.0; devs |x-5| = 4,3,2,1,0,1,2,3,4,995
    // sorted: 0,1,1,2,2,3,3,4,4,995 → mad at rn 5 = 2.0; k=3 → cut 6.0 →
    // only the corrupt 1000.0 flags
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("k", "v", "id")
    val r = Robust.madOutlierStats(df, "k", "v", "id")
      .as[(String, Long, Double, Double, Long, Double)].collect().head
    assert(r == (("g", 10L, 5.0, 2.0, 1L, 995.0)))
    // robustness: a mean/stddev gate's center would sit at ~104.5, pulled
    // entirely by the point it is supposed to flag — the median stays at 5
    val mean = df.agg(avg($"v")).as[Double].head()
    assert(math.abs(mean - 104.5) < 1e-9 && r._3 == 5.0)
  }

  test("MAD outliers: per-key independence and deterministic tie-break") {
    import graft.ops.Robust
    val df = Seq(
      ("a", 1.0, 1L), ("a", 1.0, 2L), ("a", 1.0, 3L),
      ("b", 2.0, 4L), ("b", 4.0, 5L), ("b", 100.0, 6L)).toDF("k", "v", "id")
    val r = Robust.madOutlierStats(df, "k", "v", "id")
      .orderBy($"k")
      .as[(String, Long, Double, Double, Long, Double)].collect().toSeq
    // a: all-equal values → med 1, mad 0, outliers = rows with dev > 0 = 0
    assert(r.head == (("a", 3L, 1.0, 0.0, 0L, 0.0)))
    // b: med = v at rn ceil(1.5)=2 → 4.0; devs 2,0,96 sorted 0,2,96 →
    // mad at rn 2 = 2.0 → cut 6 → one outlier
    assert(r(1) == (("b", 3L, 4.0, 2.0, 1L, 96.0)))
  }

  test("skyline2 ≡ brute-force dominance on random, duplicate-heavy, and " +
    "anticorrelated fixtures; partitioning-invariant") {
    import spark.implicits._
    def brute(pts: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
      pts.filter { p => !pts.exists(q =>
        q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
      }.toSet
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
    val random = lcg(3L).take(400).grouped(2).zipWithIndex.collect {
      case (Seq(x, y), i) =>
        (i.toLong, Math.floorMod(x, 40L), Math.floorMod(y, 40L))
    }.toSeq
    // duplicates of a frontier point must ALL survive; anticorrelated
    // diagonal = everything is the frontier
    val dupes = random ++ random.take(30).map(r => (r._1 + 1000, r._2, r._3))
    val diag = (0L until 50L).map(i => (i, i, 49L - i))
    for ((pts, label) <- Seq((random, "random"), (dupes, "dupes"),
        (diag, "diag"))) {
      val df = pts.toDF("id", "x", "y")
      for (parts <- Seq(1, 4)) {
        val got = graft.operators.Skyline
          .skyline2(df.repartition(parts), "x", "y")
          .select($"id", $"x", $"y").as[(Long, Long, Long)].collect().toSet
        assert(got === brute(pts), s"$label/parts=$parts")
      }
    }
  }

  test("ridge fit2: recovers a planted linear model at lambda=0, shrinks " +
      "with lambda, bit-reproducible across partitionings") {
    import graft.ops.Ridge
    // y = 7 + 3*x1 - 2*x2 exactly (x1, x2 not collinear)
    val df = (0 until 200).map { i =>
      val x1 = (i % 13).toDouble
      val x2 = ((i * 5) % 7).toDouble
      (i.toLong, x1, x2, 7.0 + 3.0 * x1 - 2.0 * x2)
    }.toDF("id", "x1", "x2", "y")
    val fit = Ridge.fit2(df, "x1", "x2", "y", Seq(0.0, 100.0, 10000.0))
      .orderBy($"lambda")
      .as[(Double, Long, Double, Double, Double)].collect().toSeq
    val ols = fit.head
    assert(math.abs(ols._3 - 7.0) < 1e-8 && math.abs(ols._4 - 3.0) < 1e-8 &&
      math.abs(ols._5 + 2.0) < 1e-8)
    // ridge shrinks slope magnitudes monotonically in lambda
    val slopes = fit.map(r => math.abs(r._4) + math.abs(r._5))
    assert(slopes == slopes.sorted.reverse && slopes.distinct.size == 3)
    val again = Ridge.fit2(df.repartition(7, $"x2"), "x1", "x2", "y",
        Seq(0.0, 100.0, 10000.0))
      .orderBy($"lambda")
      .as[(Double, Long, Double, Double, Double)].collect().toSeq
    assert(again == fit) // decimal sums: partitioning cannot move a bit
  }

  test("fellegi-sunter odds match an in-memory replay (incl. null fields)") {
    import graft.operators.RecordLinkage
    // one block; f1 frequencies {x:3, y:2, z:1, null:2}, f2 {p:3, q:3, r:2}
    // — two null-f1 rows so a null<=>null AGREEMENT pair exists
    val rows: Seq[(Long, String, Option[String], String)] = Seq(
      (1L, "B", Some("x"), "p"), (2L, "B", Some("x"), "p"),
      (3L, "B", Some("x"), "q"), (4L, "B", Some("y"), "q"),
      (5L, "B", Some("y"), "r"), (6L, "B", Some("z"), "r"),
      (7L, "B", None, "p"), (8L, "B", None, "q"))
    val df = rows.toDF("id", "blk", "f1", "f2")
    val fields = Seq(("f1", 0.9, 0.1), ("f2", 0.85, 0.15))
    val got = RecordLinkage.fsPairOdds(df, "id", "blk", fields, minOdds = 0.0)
      .orderBy($"id_a", $"id_b")
      .as[(Long, Long, Int, Double)].collect().toSeq
    // replay with the same double-arithmetic shape
    val n = rows.size.toDouble
    val u1 = (3.0 * 3.0 + 2.0 * 2.0 + 1.0 + 2.0 * 2.0) / (n * n)
    val u2 = (3.0 * 3.0 + 3.0 * 3.0 + 2.0 * 2.0) / (n * n)
    def odds(a: (Long, String, Option[String], String),
        b: (Long, String, Option[String], String)): (Int, Double) = {
      val e1 = a._3 == b._3
      val e2 = a._4 == b._4
      val o = (if (e1) 0.9 / u1 else 0.1 / (1.0 - u1)) *
        (if (e2) 0.85 / u2 else 0.15 / (1.0 - u2))
      ((if (e1) 1 else 0) + (if (e2) 1 else 0), o)
    }
    val want = (for {
      a <- rows; b <- rows if a._1 < b._1
    } yield {
      val (na, o) = odds(a, b)
      (a._1, b._1, na, o)
    }).sortBy(r => (r._1, r._2))
    assert(got == want) // bit-exact, including the null<=>null agreements
    // threshold keeps exactly the pairs at/above it
    val thresh = want.map(_._4).sorted.apply(want.size / 2)
    val kept = RecordLinkage.fsPairOdds(df, "id", "blk", fields, thresh)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(kept == want.filter(_._4 >= thresh).toSet)
  }

  test("calibration: logit-decile binning, midpoint confidence, and the " +
      "count-weighted ECE match a hand computation") {
    // margin 0 sits in bin 5 (edges <= 0 are the first five, inclusive);
    // margin -3e6 sits below every edge in bin 0
    val scored = (Seq.fill(2)((0L, true)) ++ Seq.fill(2)((0L, false)) ++
      Seq.fill(6)((-3000000L, false))).toDF("margin_q", "pos")
    val bins = graft.ops.Calibration
      .reliabilityBins(scored, "margin_q", col("pos"))
      .orderBy(col("bin"))
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(bins == Seq(
      (0, 6L, 0L, 50000L, 0L, 300000L),
      (5, 4L, 2L, 550000L, 500000L, 200000L)), bins.toString)
    val e = graft.ops.Calibration.ece(scored, "margin_q", col("pos"))
      .as[(Long, Long)].head()
    assert(e == ((10L, 50000L)))
  }

  test("cohenKappaPairs: textbook 2x2 table gives 0.4, perfect " +
      "disagreement gives -1, abstains are excluded") {
    // classic example: po = 35/50, pe = 0.5 -> kappa = 0.4
    val rows =
      Seq.fill(20)((1, 1)) ++ Seq.fill(5)((1, -1)) ++
      Seq.fill(10)((-1, 1)) ++ Seq.fill(15)((-1, -1)) ++
      Seq.fill(7)((0, 1)) // v1 abstains — must not count
    val df = rows.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "v1", "v2")
    val got = graft.ops.Agreement.cohenKappaPairs(df, "id", Seq("v1", "v2"))
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("v1", "v2", 50L, 35L, 400000L)), got.toString)
    val dis = (Seq.fill(10)((1, -1)) ++ Seq.fill(10)((-1, 1))).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "v1", "v2")
    val gotDis = graft.ops.Agreement.cohenKappaPairs(dis, "id", Seq("v1", "v2"))
      .as[(String, String, Long, Long, Long)].head()
    assert(gotDis._5 == -1000000L)
  }

  test("fleissKappa: hand-computed 3-annotator panel gives 1/3; " +
      "rows with any abstain drop out") {
    val df = Seq(
      (1L, 1, 1, 1), (2L, 1, 1, -1), (3L, -1, -1, -1), (4L, 1, -1, -1),
      (5L, 0, 1, 1) // abstain row — excluded from the panel statistic
    ).toDF("id", "v1", "v2", "v3")
    val got = graft.ops.Agreement.fleissKappa(df, Seq("v1", "v2", "v3"))
      .as[(Long, Long, Long, Long, Long)].head()
    // N=4, S1=16, T+=6, T-=6: kappa = 48/144 = 1/3 (truncated micro-units)
    assert(got == ((4L, 16L, 6L, 6L, 333333L)), got.toString)
  }

  test("kappa survives the int64-wrap regime (~3M+ co-voting items)") {
    // 10^6 * (agree*n - chance) passes Long.Max once n ~ 3e6 with
    // correlated annotators — the DECIMAL(38,0) widening must keep the
    // statistic exact where raw BIGINT products wrap silently (non-ANSI
    // Spark) and the HUGEINT oracle errors
    import org.apache.spark.sql.functions.{col, when}
    val n = 4400000L
    val v1 = when(col("id") % 2 === 0, 1).otherwise(-1)
    val df = spark.range(n).select(col("id"), v1.as("v1"),
      when(col("id") % 1000 === 0, -1).otherwise(v1).as("v2"))
    val got = graft.ops.Agreement.cohenKappaPairs(df, "id", Seq("v1", "v2"))
      .as[(String, String, Long, Long, Long)].head()
    // exact expectation via BigInt on the same cleared-denominator law;
    // flips land on even ids (multiples of 1000), so:
    val bn = BigInt(n); val d = BigInt(n / 1000)
    val ap = bn / 2; val am = bn / 2
    val bp = bn / 2 - d; val bm = bn / 2 + d
    val agree = bn - d
    val ch = ap * bp + am * bm
    assert(BigInt(1000000) * (agree * bn - ch) > BigInt(Long.MaxValue),
      "fixture too small to exercise the wrap regime")
    val kq = (BigInt(1000000) * (agree * bn - ch)) / (bn * bn - ch)
    assert(got == (("v1", "v2", n, (bn - d).toLong, kq.toLong)),
      got.toString)
    val fl = graft.ops.Agreement.fleissKappa(df, Seq("v1", "v2"))
      .as[(Long, Long, Long, Long, Long)].head()
    // k=2: agreeing items contribute 2 to S1, disagreeing 0
    val s1 = 2 * (bn - d); val tp = bn - d; val tm = bn + d
    val dend = (bn * 2) * (bn * 2) - tp * tp - tm * tm
    val numr = s1 * bn * 2 - (tp * tp + tm * tm)
    val fq = (BigInt(1000000) * numr) / dend
    assert(fl == ((n, s1.toLong, tp.toLong, tm.toLong, fq.toLong)),
      fl.toString)
  }
}
