package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Poor-man's snapshot-versioned table (the Iceberg/Delta idea at the
  * file-manifest level, without a table format): every commit publishes a
  * JSON manifest listing the segment directories that version reads, so
  *
  *  - appends are O(batch): a new segment plus one manifest — readers of
  *    older versions keep a consistent file list (no read-overwrite race);
  *  - `read(version)` is time travel: the union of exactly that
  *    manifest's segments;
  *  - commits are atomic: the manifest is written to a temp name and
  *    RENAMED into `_commits/` (a metadata-only publish — a crash leaves
  *    either the old latest or the new one, never a torn table).
  *
  * The GDPR tension is handled honestly rather than hidden: time travel
  * must NOT resurrect an erased subject, so [[erase]] rewrites the
  * touched segments, PURGES the replaced segment bytes, and stamps the
  * new manifest with `redacted_below` — reads of any older version then
  * fail loudly with the tombstone epoch instead of silently returning a
  * view that no longer exists on disk. Versions after the erasure
  * time-travel normally.
  *
  * Scale shape: appends never rewrite history; erasure cost is one scan
  * of the latest version (segment membership decides rewrite-vs-share,
  * so untouched segments stay byte-identical and shared across
  * manifests); manifests are O(segments) JSON lines. Appends can record
  * per-segment min/max column stats ([[append]]'s `statsCols`) and
  * bloom sidecars (`bloomCols`); [[readWhere]] then prunes
  * range-disjoint segments and [[readEquals]] bloom-rejects segments
  * that cannot hold the key — data skipping for both the range and the
  * point-lookup shape, maintained through erasure rewrites.
  */
object Versioned {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(root: String, v: Int) =
    f"$root/_commits/v$v%05d.json"

  /** All committed version numbers, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val dir = new Path(s"$root/_commits")
    val f = fs(spark, root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted.toSeq
  }

  /** Per-segment column statistics: file → (column, min, max) entries —
    * the Iceberg/Delta data-skipping idea at the manifest level. Only
    * integral columns are tracked (exact long comparisons both engines
    * agree on; no float/collation edge cases smuggled into pruning).
    *
    * `schemaJson` caches the table's full merged schema AT COMMIT TIME:
    * without it every skip-read would re-derive the schema by opening
    * ALL manifest files' parquet footers — O(segments) driver RPCs that
    * undo the very economy segment skipping buys (a point lookup on a
    * 10,000-segment table would still pay 10,000 footer reads). Appends
    * merge the previous manifest's cached schema with the new segment's
    * (one footer set); erasure carries it over (it never changes
    * columns). Manifests written before this field fall back to
    * the footer merge once and re-cache on their next commit.
    */
  private[graft] case class Manifest(version: Int, files: Seq[String],
      redactedBelow: Int, tombstoneEpoch: Long,
      stats: Map[String, Seq[(String, Long, Long)]] = Map.empty,
      schemaJson: Option[String] = None)

  /** Per-JVM manifest cache. A committed version's manifest file is
    * IMMUTABLE — [[writeManifest]] refuses to overwrite an existing
    * version, and erasure publishes NEW versions (it purges
    * segment files, never rewrite commit JSONs) — so a manifest's BYTES
    * never change in place. The one way the same (root, version) can
    * legitimately mean different content is a DELETE-AND-REBUILD of the
    * whole table at the same path (the bench gates do exactly this per
    * execution), so the cache key carries the commit file's
    * (modificationTime, length) identity: a rebuilt v1 is a different
    * file and misses. One getFileStatus RPC per resolve — no Spark job.
    * [[resolve]] re-lists `_commits` and re-checks the redaction floor
    * on every call, so a purged version is rejected before its cached
    * entry could be consulted. Bounded: a long-lived driver clears the
    * map rather than growing without limit (entries are a few KB each).
    */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long, Long), Manifest]()

  private def readManifest(spark: SparkSession, root: String,
      v: Int): Manifest = {
    if (manifestCache.size > 4096) manifestCache.clear()
    val st = fs(spark, root).getFileStatus(new Path(commitPath(root, v)))
    manifestCache.computeIfAbsent(
      (root, v, st.getModificationTime, st.getLen), _ => {
      // driver-side FS read + Jackson parse: a manifest is a few KB of
      // self-written JSON, but `spark.read.json` spins up a FULL Spark
      // job (scan stage, task scheduling) for it — at a hot point-lookup
      // rate the two resolve() manifests per read were the next latency
      // term after the bloom probes. The pruned scan is now the FIRST
      // Spark job a read issues.
      val in = fs(spark, root).open(new Path(commitPath(root, v)))
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      import scala.jdk.CollectionConverters._
      val stats: Map[String, Seq[(String, Long, Long)]] =
        if (!node.has("stats")) Map.empty
        else node.get("stats").elements().asScala.toSeq
          .map(r => (r.get("file").asText(), (r.get("column").asText(),
            r.get("min").asLong(), r.get("max").asLong())))
          .groupBy(_._1).map { case (f, es) => f -> es.map(_._2) }
      Manifest(
        node.get("version").asInt(),
        node.get("files").elements().asScala.map(_.asText()).toSeq,
        node.get("redacted_below").asInt(),
        node.get("tombstone_epoch").asLong(),
        stats,
        if (node.has("schema")) Option(node.get("schema").asText())
        else None)
    })
  }

  /** Atomic manifest publish: temp write + rename. Single-writer per
    * version is ENFORCED, not assumed: two appenders that both read the
    * same latest version race to publish the same `v`, and on POSIX
    * filesystems the second rename silently replaces the first — so a
    * pre-existing commit file for `v` fails loudly here (the losing
    * writer retries against the new latest). The residual window between
    * the exists-check and the rename is the filesystem's rename
    * atomicity, the same guarantee every manifest-based table format
    * leans on.
    */
  private[graft] def writeManifest(spark: SparkSession, root: String,
      m: Manifest): Unit = {
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/_commits"))
    if (f.exists(new Path(commitPath(root, m.version))))
      throw new java.io.IOException(
        s"concurrent writer detected: v${m.version} is already committed " +
          s"at $root — re-read the latest version and retry")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") +
      "\""
    val statsJson = m.stats.toSeq.sortBy(_._1).flatMap { case (f, es) =>
      es.sortBy(_._1).map { case (c, mn, mx) =>
        s"""{"file":${q(f)},"column":${q(c)},"min":$mn,"max":$mx}""" }
    }.mkString(",")
    val json = s"""{"version":${m.version},"files":[${
      m.files.map(q).mkString(",")}],"redacted_below":${m.redactedBelow},""" +
      s""""tombstone_epoch":${m.tombstoneEpoch}""" +
      m.schemaJson.fold("")(s => s""","schema":${q(s)}""") +
      (if (m.stats.isEmpty) "}" else s""","stats":[$statsJson]}""")
    val tmp = new Path(s"$root/_commits/.tmp_v${m.version}.json")
    val out = f.create(tmp, true)
    out.write((json + "\n").getBytes("UTF-8"))
    out.close()
    // same-JVM delete-and-rebuild belt to the cache key's (mtime, length)
    // braces: a writer republishing (root, v) — only possible after the
    // old table was deleted — drops any cached entry for it outright, so
    // even a same-length commit landing inside one mtime granule (coarse
    // object-store clocks) cannot serve stale stats in this process.
    // BEFORE the rename: post-drop, any cache fill comes from a fresh
    // getFileStatus, which pre-rename finds no file (the old one was
    // deleted with its table) and post-rename finds the new one — there
    // is no window in which the stale entry can be re-served. (Dropping
    // only after the rename left exactly that window open.)
    manifestCache.keySet.removeIf(k => k._1 == root && k._2 == m.version)
    if (!f.rename(tmp, new Path(commitPath(root, m.version))))
      throw new java.io.IOException(s"manifest publish failed: v${m.version}")
  }

  /** One aggregate over a just-written segment: (column, min, max) for
    * the integral `statsCols`, nulls ignored; a column that is all-null
    * (or an empty segment) contributes no entry, so readers fall back to
    * conservatively scanning that segment. O(segment), one pass.
    */
  private def segmentStats(df: DataFrame,
      statsCols: Seq[String]): Seq[(String, Long, Long)] = {
    if (statsCols.isEmpty) return Nil
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    statsCols.foreach { c =>
      require(types.get(c).exists(t => t == LongType || t == IntegerType ||
        t == ShortType || t == ByteType),
        s"segment stats require an integral column; '$c' is " +
          s"${types.get(c).fold("absent")(_.simpleString)}")
    }
    val aggs = statsCols.flatMap(c => Seq(
      fmin(col(c).cast("long")).as(s"__mn_$c"),
      fmax(col(c).cast("long")).as(s"__mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    statsCols.flatMap { c =>
      val mn = row.getAs[Any](s"__mn_$c")
      val mx = row.getAs[Any](s"__mx_$c")
      if (mn == null || mx == null) Nil
      else Seq((c, mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
    }
  }

  private def bloomPath(seg: String, c: String) = s"$seg/_bloom_$c"

  /** Build and persist one bloom SIDECAR per `bloomCols` column for a
    * just-written segment: `<seg>/_bloom_<col>` — the underscore prefix
    * makes it invisible to parquet scans, and living INSIDE the segment
    * dir means it shares the segment's lifecycle for free (erase's purge
    * needs no bookkeeping). Capacity is the
    * segment's exact row count (one count + one aggregate per column);
    * fpp 0.001 keeps a false hit — a needlessly opened segment, never a
    * wrong row — at one in a thousand. Long and string columns (the id /
    * URL shapes equality lookups actually use). `rows` is the segment read
    * back from `seg`, shared with the caller's stats aggregate.
    */
  private def writeBlooms(spark: SparkSession, seg: String,
      bloomCols: Seq[String], rows: DataFrame): Unit = {
    if (bloomCols.isEmpty) return
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val types = rows.schema.fields.map(f => f.name -> f.dataType).toMap
    bloomCols.foreach { c =>
      require(types.get(c).exists(t => t == LongType || t == IntegerType ||
        t == ShortType || t == ByteType || t == StringType),
        s"bloom sidecars support integral/string columns; '$c' is " +
          s"${types.get(c).fold("absent")(_.simpleString)}")
      // the name becomes a filename: '=' would make the sidecar parse as
      // a partition path (poisoning every read of the segment), '/'
      // would misplace it into a subdirectory
      require(c.matches("[A-Za-z0-9_.\\-]+"),
        s"bloom column name must be filename-safe [A-Za-z0-9_.-]: '$c'")
    }
    // parquet count() is row-group-metadata cheap — not a data scan
    val n = math.max(rows.count(), 1L)
    // Built with the PUBLIC sketch API (BloomFilter.create + a
    // treeAggregate over the segment), NOT df.stat.bloomFilter: that
    // route goes through BloomFilterAggregate, which silently caps
    // capacity at the session's runtime-join confs (4M items / 8 MB by
    // default) — and raising those confs for the build mutates
    // SESSION-GLOBAL state (any concurrent query in the session would
    // get oversized runtime join filters, and two interleaved appends
    // could clobber each other's save/restore). The direct aggregate
    // honors the segment's true capacity with zero conf dependency.
    // putLong/putString here and mightContain at probe time are the
    // sketch library's own matched pair.
    val f = fs(spark, seg)
    bloomCols.foreach { c =>
      val isStr = types(c) == StringType
      val vals = rows.select(col(c)).na.drop().rdd
      val bloom = vals.treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(n, 0.001))(
        seqOp = (bf, r) => {
          if (isStr) bf.putString(r.getString(0))
          else bf.putLong(r.getAs[Number](0).longValue())
          bf
        },
        combOp = (a, b) => { a.mergeInPlace(b); a })
      val out = f.create(new Path(bloomPath(seg, c)), true)
      try bloom.writeTo(out) finally out.close()
    }
  }

  /** Columns a segment carries bloom sidecars for. */
  private def bloomColsOf(spark: SparkSession, seg: String): Seq[String] = {
    val f = fs(spark, seg)
    val p = new Path(seg)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_bloom_")).map(_.stripPrefix("_bloom_")).toSeq
  }

  /** The sidecar bloom for (seg, col), if one was recorded. One FS round
    * trip per candidate segment: open directly and treat absence as the
    * answer (a preceding exists() would double the RPC count on an
    * object store — the driver-side cost a 10,000-segment point lookup
    * actually pays).
    */
  private def readBloom(spark: SparkSession, seg: String, c: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val f = fs(spark, seg)
    try {
      val in = f.open(new Path(bloomPath(seg, c)))
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Append `df` as a new version; returns the committed version number.
    * `statsCols` (integral columns) additionally records the new
    * segment's per-column min/max in the manifest, enabling
    * [[readWhere]]'s segment skipping; segments carried over from prior
    * versions keep their recorded stats. `bloomCols` (integral or
    * string) additionally writes per-segment bloom sidecars, enabling
    * [[readEquals]]'s equality skipping where a range can't prune (high
    * cardinality keys interleaved across segments).
    */
  def append(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Int = {
    val vs = versions(spark, root)
    val prev = vs.lastOption.map(readManifest(spark, root, _))
    val v = vs.lastOption.map(_ + 1).getOrElse(0)
    val seg = s"$root/seg-$v-${spark.sparkContext.applicationId}"
    df.write.mode(SaveMode.Overwrite).option("compression", "snappy")
      .parquet(seg)
    val segDf = spark.read.parquet(seg)
    val segSt = segmentStats(segDf, statsCols)
    writeBlooms(spark, seg, bloomCols, segDf)
    // the cached table schema evolves by one merge per append: previous
    // manifest's cached schema (or the one-time legacy footer merge)
    // unioned with the new segment's — so readers never re-derive it
    val fullSchema = prev match {
      case None => segDf.schema
      case Some(p) => mergeStruct(spark, mergedSchema(spark, p),
        segDf.schema)
    }
    writeManifest(spark, root, Manifest(v,
      prev.map(_.files).getOrElse(Nil) :+ seg,
      prev.map(_.redactedBelow).getOrElse(0),
      prev.map(_.tombstoneEpoch).getOrElse(0L),
      prev.map(_.stats).getOrElse(Map.empty) ++
        (if (segSt.isEmpty) Map.empty else Map(seg -> segSt)),
      schemaJson = Some(fullSchema.json)))
    v
  }

  /** Read a specific committed version (default: latest). Versions below
    * the latest commit's redaction floor fail LOUDLY — their bytes were
    * purged by an erasure and a silent partial read would misrepresent
    * what that version contained.
    */
  def read(spark: SparkSession, root: String,
      version: Int = Int.MaxValue): DataFrame = {
    val m = resolve(spark, root, version)
    // the manifest's commit-time merged schema: segments appended across
    // schema evolutions union with null backfill (the lakehouse
    // convention; a single-footer schema would silently DROP columns
    // absent from whichever file the reader samples) — served from the
    // manifest cache, so a full read opens zero footers for schema too
    prunedReadWith(spark, mergedSchema(spark, m), m.files)
  }

  /** Version resolution + the redaction-floor check, shared by [[read]]
    * and [[readWhere]].
    */
  private def resolve(spark: SparkSession, root: String,
      version: Int): Manifest = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no commits at $root")
    val v = if (version == Int.MaxValue) vs.last else version
    require(vs.contains(v), s"unknown version $v (have $vs)")
    val latest = readManifest(spark, root, vs.last)
    if (v < latest.redactedBelow)
      throw new IllegalStateException(
        s"version $v was redacted by the erasure at tombstone epoch " +
          s"${latest.tombstoneEpoch} (redaction floor " +
          s"${latest.redactedBelow}): its segments were purged and time " +
          s"travel below the floor would resurrect an erased subject")
    readManifest(spark, root, v)
  }

  /** Range read with SEGMENT SKIPPING: `keyCol BETWEEN lo AND hi` over
    * `version`, opening only the segments whose recorded [min, max] for
    * `keyCol` intersects the range — the manifest-level data-skipping
    * every lakehouse format leans on, so a selective read of a
    * 10,000-segment table touches the handful of segments that can hold
    * the answer. Segments without recorded stats for `keyCol` (appended
    * without `statsCols`, or all-null in the column) are conservatively
    * read. The residual filter still applies, so the result ALWAYS
    * equals `read(...).filter(keyCol between lo and hi)` — skipping is
    * an I/O decision, never a semantic one (NULL keys fail BETWEEN in
    * both paths, so null-blind min/max pruning is exact).
    */
  def readWhere(spark: SparkSession, root: String, keyCol: String,
      lo: Long, hi: Long, version: Int = Int.MaxValue): DataFrame = {
    val m = resolve(spark, root, version)
    val kept = m.files.filter { f =>
      m.stats.get(f).flatMap(_.collectFirst {
        case (c, mn, mx) if c == keyCol => (mn, mx)
      }) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats: cannot prune
      }
    }
    prunedRead(spark, m, kept).where(col(keyCol).between(lo, hi))
  }

  /** Equality read with BLOOM SKIPPING: `keyCol = value` over `version`,
    * opening only the segments whose bloom sidecar might contain the
    * value — the lookup shape min/max stats can't serve when a
    * high-cardinality key is interleaved across segments. Manifest
    * min/max stats (when recorded and the key is integral) prune first;
    * segments without a sidecar are conservatively read; and the
    * residual filter always applies, so a bloom false positive costs an
    * extra segment open, never a wrong row — skipping stays an I/O
    * decision. `value` must have the column's ingested type (integral
    * for integral columns, String for strings — the bloom hashes by
    * type).
    */
  def readEquals(spark: SparkSession, root: String, keyCol: String,
      value: Any, version: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val m = resolve(spark, root, version)
    val schema = mergedSchema(spark, m)
    val asLong: Option[Long] = value match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    // the bloom hashes BY TYPE: a string probe against a long column (or
    // vice versa) would bloom-reject every segment and silently return
    // an empty result where read+filter finds rows — enforce the match
    // loudly instead of documenting it
    schema.fields.find(_.name == keyCol) match {
      case None => throw new IllegalArgumentException(
        s"readEquals: unknown column '$keyCol' (have " +
          s"${schema.fieldNames.mkString(", ")})")
      case Some(fld) => fld.dataType match {
        case LongType | IntegerType | ShortType | ByteType =>
          require(asLong.isDefined, s"readEquals: column '$keyCol' is " +
            s"${fld.dataType.simpleString} but the probe value is " +
            s"${value.getClass.getSimpleName} — the bloom hashes by " +
            "type, so a mismatched probe would silently return nothing")
        case StringType =>
          require(value.isInstanceOf[String], s"readEquals: column " +
            s"'$keyCol' is string but the probe value is " +
            s"${value.getClass.getSimpleName}")
        case t => throw new IllegalArgumentException(
          s"readEquals supports integral/string keys; '$keyCol' is " +
            t.simpleString)
      }
    }
    val statsKept = m.files.filter { f =>
      (asLong, m.stats.get(f).flatMap(_.collectFirst {
        case (c, mn, mx) if c == keyCol => (mn, mx) })) match {
        case (Some(x), Some((mn, mx))) => x >= mn && x <= mx
        case _ => true
      }
    }
    // sidecar probes run CONCURRENTLY: each is one driver-side FS open,
    // and on an object store a serial loop over thousands of candidate
    // segments would pay thousands of sequential round trips — the very
    // latency the skipping exists to avoid
    val kept = parallelFilter(statsKept)(f =>
      readBloom(spark, f, keyCol).forall(_.mightContain(value)))
    import org.apache.spark.sql.functions.lit
    prunedReadWith(spark, schema, kept)
      .where(col(keyCol) === lit(value))
  }

  /** Shared bounded pool for driver-side probe I/O — created once per
    * JVM (daemon threads, so it never blocks shutdown) instead of a
    * fresh pool per read: a hot point-lookup path issues many
    * readEquals calls per second and per-call thread churn would be
    * pure overhead.
    */
  private lazy val probePool = java.util.concurrent.Executors
    .newFixedThreadPool(64,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-bloom-probe-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** Order-preserving concurrent filter over driver-side I/O probes
    * (shared bounded pool; exceptions propagate to the caller).
    */
  private def parallelFilter[A](xs: Seq[A])(p: A => Boolean): Seq[A] = {
    if (xs.lengthCompare(2) < 0) return xs.filter(p)
    try {
      val futs = xs.map { x =>
        probePool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = p(x)
        })
      }
      xs.zip(futs).filter(_._2.get()).map(_._1)
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** The pruned-segment read both skip paths share. The result schema
    * comes from the FULL file list (a footers-only schema merge, no row
    * reads): pruning away every segment that carries an evolved column
    * must not narrow the schema, or skipping would stop being a pure
    * I/O decision (read+filter equality is the contract). The anchor is
    * a file-LESS empty LocalRelation so inputFiles — the gate's
    * segs_read evidence — reflects only the kept segments.
    */
  private def prunedRead(spark: SparkSession, m: Manifest,
      kept: Seq[String]): DataFrame =
    prunedReadWith(spark, mergedSchema(spark, m), kept)

  /** The manifest's full merged schema. Served from the manifest's
    * commit-time cache — ZERO file I/O on the read path; only manifests
    * written before the cache existed fall back to the all-footer merge
    * (and re-cache on their next commit).
    */
  private def mergedSchema(spark: SparkSession, m: Manifest)
      : org.apache.spark.sql.types.StructType =
    m.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(
        spark.read.option("mergeSchema", "true").parquet(m.files: _*).schema)

  /** Union of two schemas with null backfill — the commit-time merge
    * step (an empty-frame unionByName: no data, no file I/O).
    */
  private def mergeStruct(spark: SparkSession,
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (a == b) a
    else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], a)
      .unionByName(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b),
        allowMissingColumns = true)
      .schema

  private def prunedReadWith(spark: SparkSession,
      fullSchema: org.apache.spark.sql.types.StructType,
      kept: Seq[String]): DataFrame = {
    val anchor = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
    if (kept.isEmpty) anchor
    else anchor.unionByName(
      // the EXPLICIT schema (the manifest's commit-time merge) replaces
      // `mergeSchema=true` inference: semantically identical — the
      // mergeSchema path also reads every file against the unioned
      // schema, null-backfilling absent columns — but the inference's
      // parallel footer merge is a SPARK JOB even for one file, and it
      // was the last job on the point-lookup preamble (spec-asserted
      // zero now)
      spark.read.schema(fullSchema).parquet(kept: _*),
      allowMissingColumns = true)
  }

  /** Right-to-be-forgotten erasure: rewrite only the segments holding the
    * subject's rows (untouched segments stay byte-identical and shared),
    * publish a new version whose redaction floor makes every OLDER
    * version unreadable — stated, not silent — and then purge EVERY
    * on-disk segment outside the new manifest: the floor just made all
    * older versions unreadable, so no readable version references them
    * (segments a crashed writer left behind go too). Returns the new
    * version.
    *
    * The hit-segment set is found in ONE job: the latest version is read
    * as a single union, semi-joined to the keys, and the distinct
    * `input_file_name()` parent directories (≤ one per segment — segments
    * are unpartitioned, so part files sit directly under the segment dir)
    * are collected. At thousands of commits that is one scan instead of
    * thousands of driver-sequenced per-segment probe jobs; driver state
    * is bounded by the segment count.
    *
    * A GHOST erasure — no segment held the subject — publishes a version
    * with the SAME files and leaves the previous redaction floor in
    * place: nothing was purged, so time travel to the fully-intact older
    * versions stays legal.
    */
  def erase(spark: SparkSession, root: String, keys: DataFrame,
      keyCol: String, tombstoneEpoch: Long): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no commits at $root")
    val latest = readManifest(spark, root, vs.last)
    val v = vs.last + 1
    val k = keys.select(col(keys.columns.head).as(keyCol)).distinct()
      .localCheckpoint()
    try {
      val f = fs(spark, root)
      // one probe pass over the latest version: which segment dirs hold
      // the subject? Matched by segment-dir NAME, not full path:
      // input_file_name() returns a URI-ENCODED string, so a root
      // containing a space/%/non-ASCII char would never string-match the
      // manifest's raw path and the erase would silently ghost. Segment
      // names are generated here (seg-<v>[-<i>]-<appId>, URL-safe
      // ASCII) and unique within a manifest (the version is baked in),
      // so the name IS the identity.
      import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
      val hitDirs = spark.read.option("mergeSchema", "true")
        .parquet(latest.files: _*)
        .join(broadcast(k), Seq(keyCol), "left_semi")
        .select(regexp_extract(input_file_name(), "/([^/]+)/[^/]*$", 1)
          .as("d"))
        .distinct().collect().map(_.getString(0)).toSet
      var replaced = List.empty[String]
      var newStats = latest.stats
      val newFiles = latest.files.zipWithIndex.map { case (seg, i) =>
        if (!hitDirs.contains(new Path(seg).getName)) seg
        else {
          val out = s"$root/seg-$v-$i-${spark.sparkContext.applicationId}"
          spark.read.parquet(seg)
            .join(broadcast(k), Seq(keyCol), "left_anti")
            .write.mode(SaveMode.Overwrite).option("compression", "snappy")
            .parquet(out)
          // the rewritten segment re-records whatever columns the
          // replaced one tracked (min/max may tighten; must not go
          // stale), bloom sidecars included
          newStats -= seg
          val cols = latest.stats.get(seg).fold(Seq.empty[String])(_.map(_._1))
          val outDf = spark.read.parquet(out)
          val st = segmentStats(outDf, cols)
          if (st.nonEmpty) newStats += (out -> st)
          writeBlooms(spark, out, bloomColsOf(spark, seg), outDf)
          replaced ::= seg
          out
        }
      }
      // erasure never changes columns: carry the cached schema forward
      val schema = latest.schemaJson
        .orElse(Some(mergedSchema(spark, latest).json))
      // purge every on-disk segment outside the kept file list — legal
      // exactly when every OLDER version is unreadable (redaction floor
      // at the latest version), because then no readable version can
      // reference the purged bytes
      def purgeOutside(keepFiles: Seq[String]): Unit = {
        val keep = keepFiles.map(s => new Path(s).getName).toSet
        f.listStatus(new Path(root))
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg-")
            && !keep.contains(s.getPath.getName))
          .foreach(s => f.delete(s.getPath, true))
      }
      if (replaced.isEmpty) {
        // CRASH-RETRY GC: a prior erasure that crashed between its
        // manifest publish and its purge left the floor at the then-
        // latest version with superseded segments still on disk — and a
        // retry finds the subject already gone (this branch). When the
        // floor already covers every older version the skipped purge is
        // safe to finish now; otherwise older versions are still legal
        // reads and their segments must stay. The purge runs BEFORE this
        // retry's own manifest publish: once the retry publishes, the
        // floor sits below the new latest and a SECOND crashed retry
        // would stop seeing the condition — purge-then-publish makes
        // any number of crash-retries converge (the purge itself is
        // idempotent).
        if (latest.redactedBelow == latest.version) purgeOutside(newFiles)
        writeManifest(spark, root, Manifest(v, newFiles,
          latest.redactedBelow, latest.tombstoneEpoch, newStats, schema))
      } else {
        writeManifest(spark, root, Manifest(v, newFiles,
          redactedBelow = v, tombstoneEpoch, newStats, schema))
        // the subject's bytes die AFTER the new manifest is durable: a
        // crash in between leaves a readable latest either way. The
        // redaction floor just made EVERY older version unreadable, so
        // every on-disk segment outside the new manifest is purged — not
        // only the rewritten ones (crashed writers' orphans go too)
        purgeOutside(newFiles)
      }
      v
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(k)
  }
}
