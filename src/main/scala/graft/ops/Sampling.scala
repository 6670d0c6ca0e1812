package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic splits and samples for training-data pipelines.
  *
  * The split assignment must be a pure function of the ROW KEY — not of
  * partitioning, execution order, or a seed held in driver memory — so that
  * (a) re-runs, backfills, and incremental appends land every document in
  * the same split forever, (b) two engines (here: Spark and the DuckDB
  * oracle) agree bit-for-bit, and (c) no shuffle is needed: assignment is a
  * per-row projection that runs inside the scan stage.
  *
  * Mechanism: first two hex digits of md5(key) give a uniform bucket in
  * 0..255; cumulative weight cutoffs map buckets to named splits by STRING
  * comparison. Fixed-width lowercase hex sorts identically to its numeric
  * value in every engine, so the oracle SQL is a plain CASE over
  * `substr(md5(CAST(key AS VARCHAR)), 1, 2)`.
  */
object Sampling {

  /** Cumulative-weight hex cutoffs: weights (name, w) normalized over 256
    * buckets; each split owns buckets [prevCut, cut).
    */
  private[graft] def hexCutoffs(weights: Seq[(String, Double)]): Seq[(String, String)] = {
    require(weights.nonEmpty && weights.forall(_._2 > 0))
    require(weights.size <= 256, "more splits than hash buckets (256)")
    val total = weights.map(_._2).sum
    val n = weights.size
    var acc = 0.0
    var prev = 0
    weights.zipWithIndex.map { case ((name, w), i) =>
      acc += w
      val ideal = math.round(acc / total * 256).toInt
      // Cuts must be strictly increasing with every split owning >= 1
      // bucket: a rounded cumulative cut may otherwise reach 256 early
      // (e.g. weights 0.999/0.001) and the absorbed later splits would be
      // silently empty. Clamp each non-final cut to leave one bucket per
      // remaining split; the final cut is always total.
      val cut = if (i == n - 1) 256
        else math.max(prev + 1, math.min(ideal, 256 - (n - 1 - i)))
      prev = cut
      // "g" sorts after every hex pair, making the last branch total
      (name, if (cut >= 256) "g" else f"$cut%02x")
    }
  }

  /** The bucket column: first two hex digits of md5 of the key's string
    * form. Spark's `md5` wants binary; DuckDB's takes VARCHAR — both hash
    * the same UTF-8 bytes and print lowercase hex.
    */
  def hashBucket(key: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 2)

  /** Add a `split` column assigning each row to a named split by
    * deterministic key hash. `weights` are relative (e.g. train 0.8 /
    * val 0.1 / test 0.1). Pure projection — no shuffle, no state.
    */
  def splitAssign(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)]): DataFrame = {
    val cuts = hexCutoffs(weights)
    val bucket = hashBucket(col(keyCol))
    // last cutoff is "g" (> every hex pair) so the final branch is total
    val assigned = cuts.foldLeft(Option.empty[Column]) { case (acc, (name, cut)) =>
      val cond = bucket < lit(cut)
      Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
    }.get
    df.withColumn("split", assigned)
  }

  /** Oracle-side CASE expression for the same assignment (DuckDB SQL). */
  def splitSql(keyExpr: String, weights: Seq[(String, Double)]): String = {
    val cuts = hexCutoffs(weights)
    val b = s"substr(md5(CAST($keyExpr AS VARCHAR)), 1, 2)"
    cuts.map { case (name, cut) => s"WHEN $b < '$cut' THEN '$name'" }
      .mkString("CASE ", " ", " END")
  }

  /** 16-bit cutoff for a keep-fraction: buckets are the first FOUR hex
    * digits of md5 (65536 buckets — rate resolution 1/65536 ≈ 0.0015%);
    * "g" sorts after every hex quad, so fraction 1.0 keeps everything.
    */
  private[graft] def hexCutoff4(frac: Double): String = {
    require(frac >= 0.0 && frac <= 1.0, s"fraction out of [0,1]: $frac")
    val cut = math.round(frac * 65536).toInt
    if (cut >= 65536) "g" else f"$cut%04x"
  }

  /** Keep-flag for domain-mixture sampling: each stratum (source/domain) is
    * downsampled to its target rate by a pure key-hash — the mixture a
    * curriculum designer specifies ("keep 25% of CommonCrawl, all of
    * books"). Same invariants as [[splitAssign]]: re-runs and backfills
    * keep exactly the same rows, no shuffle, engine-independent. The salt
    * decorrelates the draw from the train/val/test bucket of the same key
    * (membership in a split and survival of the mixture are independent).
    * Unlisted strata default to rate 0 (dropped) — a mixture is a
    * whitelist.
    */
  def mixtureKeep(keyCol: Column, strataCol: Column,
      rates: Map[String, Double], salt: String = "mix"): Column = {
    val bucket = substring(
      md5(concat(keyCol.cast("string"), lit(":" + salt)).cast("binary")), 1, 4)
    val cutoff = rates.toSeq.sortBy(_._1)
      .foldLeft(lit("0000"): Column) { case (acc, (k, frac)) =>
        when(strataCol === k, lit(hexCutoff4(frac))).otherwise(acc)
      }
    bucket < cutoff
  }

  /** Oracle-side boolean expression for the same keep decision. */
  def mixtureKeepSql(keyExpr: String, strataExpr: String,
      rates: Map[String, Double], salt: String = "mix"): String = {
    val b = s"substr(md5(CAST($keyExpr AS VARCHAR) || ':$salt'), 1, 4)"
    val cases = rates.toSeq.sortBy(_._1)
      .map { case (k, frac) => s"WHEN $strataExpr = '$k' THEN '${hexCutoff4(frac)}'" }
      .mkString(" ")
    s"($b < (CASE $cases ELSE '0000' END))"
  }

  /** Temperature-reweighted mixture at α = 1/2 — the multilingual
    * "alpha sampling" recipe (mT5 / XLM-R): stratum s is kept at rate
    * min(1, T·p_s/n_s) where p_s ∝ √n_s, so over-represented sources are
    * downsampled toward a flatter distribution while small sources keep
    * everything, and the expected output size is AT MOST `targetFraction`
    * of the input (strata clipped at rate 1 forfeit their excess share
    * rather than redistributing it — the standard one-pass form; iterate
    * on the unclipped remainder if the exact budget matters). α is fixed
    * at 1/2 deliberately: sqrt is the ONE power
    * IEEE 754 rounds correctly, so the whole derivation stays bit-exact
    * cross-engine — weights quantize to integers (round(√n·10⁶)), the
    * probability is a single double division, and the keep decision
    * compares the row's md5 hash bucket against floor(rate·65536) in
    * 4-hex-char space (the [[mixtureKeep]] mechanism with rates derived
    * IN the plan, not driver-side).
    *
    * Scale: one bounded per-stratum count (map-side combined), broadcast
    * back to the row stream — the filter stays a scan-fused projection.
    */
  def temperatureSqrtSample(df: DataFrame, keyCol: String, strataCol: String,
      targetFraction: Double, salt: String = "temp"): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0, 1], got $targetFraction")
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__wq", round(sqrt(col("__n").cast("double")) * lit(1e6))
        .cast("long"))
    val sums = counts.agg(sum(col("__n")).as("__tot"), sum(col("__wq")).as("__sw"))
    val rate = least(lit(1.0),
      col("__tot").cast("double") * lit(targetFraction) * col("__wq").cast("double") /
        (col("__sw").cast("double") * col("__n").cast("double")))
    val cutoff = floor(rate * lit(65536.0)).cast("int")
    val bucket = substring(
      md5(concat(col(keyCol).cast("string"), lit(":" + salt)).cast("binary")), 1, 4)
    df.join(broadcast(counts), Seq(strataCol))
      .crossJoin(broadcast(sums))
      .filter(rate >= 1.0 || bucket < lower(lpad(hex(cutoff), 4, "0")))
      .drop("__n", "__wq", "__tot", "__sw")
  }

  /** Reproducible training-data order: for each of `epochs` epochs, every
    * row draws the order key md5(id:epoch:salt), lands in shard
    * (ascii-pair of the key's first two hex chars mod `shards`), and takes
    * `position` = its rank within (epoch, shard) by (key, id). Each epoch
    * is a distinct deterministic permutation — re-running any epoch on any
    * partitioning reproduces byte-identical loader order, which is what
    * makes a 100 TB training run resumable and auditable. The rank window
    * is per (epoch, shard) — bounded by shard size, never a global sort.
    */
  def epochShardOrder(df: DataFrame, keyCol: String, epochs: Int,
      shards: Int, salt: String = "order"): DataFrame = {
    require(epochs >= 1 && shards >= 1, s"bad epochs=$epochs shards=$shards")
    import org.apache.spark.sql.expressions.Window
    val eps = df.sparkSession.range(epochs)
      .select(col("id").cast("int").as("epoch"))
    val keyed = df.select(col(keyCol).as("__id"))
      .crossJoin(broadcast(eps)) // |df| × epochs — the intended fan-out
      .withColumn("__k", md5(concat(col("__id").cast("string"), lit(":"),
        col("epoch").cast("string"), lit(":" + salt)).cast("binary")))
      .withColumn("shard",
        pmod(ascii(substring(col("__k"), 1, 1)) * lit(256) +
          ascii(substring(col("__k"), 2, 1)), lit(shards)).cast("int"))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("__k"), col("__id"))
    keyed.withColumn("position", row_number().over(w))
      .select(col("epoch"), col("shard"), col("position"),
        col("__id").as(keyCol))
  }

  /** Per-stratum Bernoulli sampling (`sampleBy`): deterministic for a fixed
    * seed, partitioning, and row order — use for one-shot corpus
    * downsampling, NOT for split assignment (a backfill with different
    * partitioning redraws membership; splitAssign does not).
    */
  def stratifiedSample(df: DataFrame, strataCol: String,
      fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Deterministic weighted sample of (up to) `k` rows per stratum —
    * Efraimidis-Spirakis A-RES: each row draws key u^(1/w) with u a
    * salted-md5 uniform and the k largest keys per stratum win, so
    * inclusion odds scale with weight. The quality-weighted corpus
    * subsample ("keep the best 100k docs per source, favoring high
    * quality scores") in one windowed pass per stratum: no global sort,
    * no driver state, and the salted key makes membership a pure function
    * of (id, salt) — re-runs and backfills on any partitioning draw the
    * SAME sample. Weights must be positive; rows beyond the stratum size
    * all survive (rank ≤ k).
    */
  /** Keep the top `frac` of each stratum by `scoreCol` (ties broken by
    * `idCol`) — the per-domain quality cutoff of a corpus-filtering stage:
    * "keep the best 20% of each source by quality score". One windowed
    * pass per stratum, no global sort, no driver state; the kept count is
    * ceil(frac · |stratum|) so every non-empty stratum keeps ≥ 1 row and a
    * domain can never be silently emptied by a global threshold. Exactly
    * reproducible cross-engine when the score itself is (both sides do one
    * IEEE multiply and a ceil).
    */
  def topFractionPerStratum(df: DataFrame, strataCol: String,
      scoreCol: String, idCol: String, frac: Double): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"fraction out of [0,1]: $frac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col(scoreCol).desc, col(idCol))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .filter(col("__rn") <= ceil(lit(frac) * col("__n")))
      .drop("__rn", "__n")
  }

  /** Per-domain contribution cap (the C4/Gopher "max pages per domain"
    * rule): keep at most `cap` rows per stratum, drawn by md5-hash order of
    * the key — a reproducible uniform draw, so one mega-domain cannot
    * dominate the training mix and re-runs keep the identical rows.
    *
    * Scale shape — deliberately NOT `row_number().over(partitionBy(domain))`:
    * that ships every row of the hottest domain to one task (a spam-farm
    * domain at crawl scale is billions of rows). Instead, two phases on a
    * 256-way hash-prefix split of each domain:
    *   1. count rows per (domain, bucket) — map-side-combinable, output
    *      ≤ 256·|domains| rows; a bounded 256-row running sum per domain
    *      turns the counts into per-bucket keep quotas;
    *   2. rows join their (domain, bucket) quota — a shuffle on the
    *      256-way-finer key, so hot domains split across 256 tasks.
    *      Whole-bucket keeps/drops pass/fail with no ranking; only each
    *      domain's single BOUNDARY bucket (~1/256 of its rows) needs the
    *      exact rank, over (hash, key) so ties are impossible.
    * The oracle states the textbook single-window formulation — an
    * independent plan that must agree row-for-row.
    */
  def domainCap(df: DataFrame, keyCol: String, strataCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val h = md5(col(keyCol).cast("string"))
    val rows = df.withColumn("__h", h)
      .withColumn("__b", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    val counts = rows.groupBy(col(strataCol), col("__b"))
      .agg(count(lit(1)).as("__n"))
    // per-domain prefix sum over ≤256 buckets — bounded window state
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("__b"))
    val quota = counts
      .withColumn("__cum", sum(col("__n")).over(wb) - col("__n"))
      .withColumn("__q",
        least(greatest(lit(cap.toLong) - col("__cum"), lit(0L)), col("__n")))
      .select(col(strataCol), col("__b"), col("__n"), col("__q"))
    val joined = rows.join(quota, Seq(strataCol, "__b"))
    val whole = joined.filter(col("__q") === col("__n"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("__b"))
      .orderBy(col("__h"), col(keyCol))
    val boundary = joined
      .filter(col("__q") > 0 && col("__q") < col("__n"))
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") <= col("__q"))
      .drop("__rn")
    whole.unionByName(boundary).drop("__h", "__b", "__n", "__q")
  }

  /** Neyman-allocation stratified sample (Neyman 1934): the `budget` is
    * split across strata proportional to N_h·S_h — big AND volatile strata
    * get the rows; near-constant strata contribute almost nothing to the
    * estimator's variance and get few. The optimal allocation for
    * estimating a population mean under a fixed sample budget.
    *
    * One scan reduces each stratum to (count, Σv, Σv²) through the
    * decimal-stable sums (order-free → the allocation is deterministic);
    * selection within a stratum is the n_h smallest md5(id) rows via the
    * bounded k-heap [[graft.operators.TopK.perKey]] — the exchange carries
    * partitions·k pairs per stratum, never the stratum itself (the
    * row_number formulation the oracle uses would shuffle every row of a
    * 100 TB fact to one reducer per stratum). The only driver state is the
    * heap bound max(n_h) — one tiny collect off the allocation frame.
    *
    * Output: one row per stratum — (strata, big_n, n_target, n_selected,
    * checksum, v_sum) where checksum is the order-free Σ of the selected
    * rows' 32-bit hash slices and v_sum their decimal-stable value total.
    */
  def neymanSelect(df: DataFrame, idCol: String, strataCol: String,
      valueCol: String, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val v = col(valueCol).cast("double")
    val m = df.groupBy(col(strataCol)).agg(
      count(lit(1)).as("big_n"),
      Aggregations.sumStable(v).as("sv"),
      Aggregations.sumStable(v * v).as("sv2"))
    val nD = col("big_n").cast("double")
    val varE = (col("sv2") - col("sv") * col("sv") / nD) / (nD - lit(1.0))
    // quantize each weight to the DECIMAL(38,10) grid BEFORE the ratio:
    // tw is then an exact decimal sum of the same grid values, so a
    // stratum holding all the weight divides to exactly 1.0 (floor must
    // not shave a row off the budget on the w==tw boundary)
    val a0 = m.withColumn("w",
      when(col("big_n") > 1, nD * sqrt(varE)).otherwise(lit(0.0))
        .cast("decimal(38,10)").cast("string").cast("double"))
    val tw = a0.agg(Aggregations.sumStable(col("w")).as("tw"))
    val alloc = a0.crossJoin(broadcast(tw)) // 1-row totals frame
      .withColumn("n_target",
        when(col("tw") > lit(0.0),
          least(floor(lit(budget.toDouble) * col("w") / col("tw")),
            col("big_n")))
          .otherwise(lit(0L)))
      .select(col(strataCol), col("big_n"), col("n_target"))
      .localCheckpoint() // feeds the heap bound, the cut, and the output
    // bounded driver scalar (the heap size), like k-means' k
    val maxNh = alloc.agg(max(col("n_target"))).head().getLong(0).toInt
    val scored = df.select(col(strataCol), col(idCol),
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long").as("__h"))
    val sel = graft.operators.TopK
      .perKey(scored, strataCol, "__h", idCol, math.max(maxNh, 1),
        descending = false)
      .join(alloc.select(col(strataCol), col("n_target")), Seq(strataCol))
      .filter(col("rank") <= col("n_target"))
      .join(df.select(col(idCol), v.as("__v")), Seq(idCol))
    val sg = sel.groupBy(col(strataCol)).agg(
      count(lit(1)).as("n_selected"),
      sum(col("__h").cast("long")).as("checksum"),
      Aggregations.sumStable(col("__v")).as("v_sum"))
    alloc.join(sg, Seq(strataCol), "left")
      .select(col(strataCol), col("big_n"), col("n_target"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("checksum"), lit(0L)).as("checksum"),
        coalesce(col("v_sum"), lit(0.0)).as("v_sum"))
  }

  /** Weighted per-stratum reservoir (Efraimidis & Spirakis 2006, A-ES):
    * the k rows per stratum with the largest priority u^(1/w), u pseudo-
    * random but DETERMINISTIC (13 md5 hex chars of the salted id = 52
    * bits, exact in a double). Realized single-pass: the priority order
    * is re-expressed as the integer rank kq = (10⁶·⌊−ln(u)·10⁶⌉) div w
    * ascending (ln is monotone and w > 0, so the orders agree; the
    * micro-nat quantization is the repo's cross-engine ln convention, and
    * any truncation ties break by id identically in both engines), and
    * the k smallest ranks per stratum reduce through the bounded
    * mergeable k-heap ([[graft.operators.TopK.perKey]]) — map-side
    * partial reservoirs, an exchange of ≤ partitions·k ids per stratum,
    * and NO per-stratum window sort: the reservoir-sampling shape at any
    * stratum size. Integral weight columns enter as BIGINT unchanged; a
    * FRACTIONAL weight column (double/float/scaled decimal) is scaled to
    * micro-units (round(w·10⁶)) first — a raw BIGINT cast would truncate
    * every weight in (0, 1) to the w ≤ 0 sentinel and near-exclude those
    * rows instead of sampling them proportionally (priority order is
    * invariant to the uniform 10⁶ scale; only the sub-micro quantization
    * granularity changes). Rows with w ≤ 0 rank last (u^(1/0⁺) → 0),
    * sampled only when a stratum has fewer than k positive-weight rows.
    * `idCol` must be unique and long-castable (it seeds u and rides the
    * heap).
    */
  def weightedSample(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String, k: Int, salt: String = "wsample"): DataFrame = {
    val fractional = df.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
        org.apache.spark.sql.types.FloatType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale > 0
      case _ => false
    }
    val wInt =
      if (fractional) s"CAST(round(CAST($weightCol AS DOUBLE) * 1e6) AS BIGINT)"
      else s"CAST($weightCol AS BIGINT)"
    // u ∈ (0, 1]: 13 hex chars = 52 bits, exactly representable in a double
    val u = (conv(substring(
      md5(concat(col(idCol).cast("string"), lit(":" + salt))), 1, 13),
      16, 10).cast("double") + 1.0) / math.pow(16.0, 13)
    val keyed = df.withColumn("__u", u)
      .withColumn("__kq", expr(
        s"""CASE WHEN $wInt <= 0
           |  THEN ${Long.MaxValue}L
           |  ELSE (CAST(-round(ln(__u) * 1e6) AS BIGINT) * 1000000L)
           |    div $wInt END""".stripMargin))
    val picks = graft.operators.TopK
      .perKey(keyed, strataCol, "__kq", idCol, k, descending = false)
      .select(col(idCol))
    df.join(picks, Seq(idCol), "left_semi")
  }
}
