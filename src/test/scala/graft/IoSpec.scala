package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Aggregations

/** The I/O layer: WARC parsing, versioned tables, the staged parquet swap,
  * the Hilbert key and the approximate-distinct scale path.
  */
class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hilbertValue2: matches reference xy2d, bijective, and ADJACENT — " +
    "consecutive codes are 1-manhattan-step cells") {
    val bits = 6
    val n = 1 << bits
    // reference implementation: the canonical xy2d loop
    def xy2d(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = (n / 2).toLong
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val grid = (for (x <- 0L until n; y <- 0L until n) yield (x, y))
      .toDF("x", "y")
    val got = grid.select($"x", $"y",
        graft.ops.Locality.hilbertValue2($"x", $"y", bits).as("h"))
      .as[(Long, Long, Long)].collect()
    assert(got.forall { case (x, y, h) => h == xy2d(x, y) })
    // bijection onto [0, n²)
    val byD = got.map { case (x, y, h) => h -> ((x, y)) }.toMap
    assert(byD.size == n * n && byD.keys.min == 0L && byD.keys.max == n * n - 1)
    // the Hilbert property Morton lacks: every consecutive pair of curve
    // positions is Manhattan-adjacent (Morton violates this at every
    // power-of-two boundary)
    for (d <- 1L until n * n) {
      val (x1, y1) = byD(d - 1)
      val (x2, y2) = byD(d)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
  }

  test("approx_count_distinct path: HLL counts within 5% of exact on daily agg") {
    val silver = graft.datagen.TransactionGen.generate(spark, 2000)
      .withColumn("transaction_date", to_timestamp($"transaction_date"))
      .transform(d => graft.ops.Derivations.withDateParts(d))
    val exact = Aggregations.daily(silver)
      .agg(sum("unique_transactions")).as[Long].head()
    val approx = Aggregations.daily(silver, approxDistinct = true)
      .agg(sum("unique_transactions")).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  // ---- WARC/WET crawl-archive ingestion -------------------------------

  test("warc: encode/parse round trip across multi-member gzip, header " +
    "fields, octet-exact bodies, unicode and empty records") {
    import graft.io.Warc
    val recs = Seq(
      Warc.WarcRecord("conversion", "urn:graft:1", "http://a.example/1",
        "hello warc world".getBytes("UTF-8")),
      Warc.WarcRecord("conversion", "urn:graft:2", "http://b.example/2",
        Array.empty[Byte]), // zero-length body is legal
      Warc.WarcRecord("response", "urn:graft:3", "http://c.example/3",
        "snowman \u2603 and émoji".getBytes("UTF-8")))
    val bytes = Warc.encodeArchive(recs)
    // three independent gzip members: three magic headers in the stream
    val magics = bytes.sliding(2).count(p =>
      (p(0) & 0xFF) == 0x1F && (p(1) & 0xFF) == 0x8B)
    assert(magics >= 3)
    val parsed = Warc.parseArchiveIterator(bytes).toSeq
    assert(parsed.size == 3)
    parsed.zip(recs).foreach { case (p, r) =>
      assert(p.version == "WARC/1.0")
      assert(p.headers("warc-type") == r.recordType)
      assert(p.headers("warc-record-id") == r.recordId)
      assert(p.headers("warc-target-uri") == r.targetUri)
      assert(p.headers("content-length").toInt == r.body.length)
      assert(java.util.Arrays.equals(p.body, r.body))
    }
    // uncompressed WARC (no gzip) parses identically
    val plain = recs.flatMap(Warc.encodeRecord).toArray
    assert(Warc.parseArchiveIterator(plain).size == 3)
  }

  test("warc: truncation and corruption keep completed records and never " +
    "throw; junk between records is scanned past") {
    import graft.io.Warc
    val recs = (1 to 4).map(i => Warc.WarcRecord("conversion",
      s"urn:graft:$i", s"http://x.example/$i",
      (s"body number $i, " * 10).getBytes("UTF-8")))
    val bytes = Warc.encodeArchive(recs)
    // truncate inside the LAST member: first records survive
    val cut = Warc.parseArchiveIterator(bytes.dropRight(25)).toSeq
    assert(cut.size >= 2 && cut.size < 4)
    assert(cut.head.headers("warc-record-id") == "urn:graft:1")
    // corrupt the SECOND member's gzip magic: member 1 survives, the
    // inflater stops at the damage, no exception escapes
    val starts = (0 until bytes.length - 1).filter(i =>
      (bytes(i) & 0xFF) == 0x1F && (bytes(i + 1) & 0xFF) == 0x8B)
    val corrupt = bytes.clone(); corrupt(starts(1)) = 0x00.toByte
    val c = Warc.parseArchiveIterator(corrupt).toSeq
    assert(c.size == 1 && c.head.headers("warc-record-id") == "urn:graft:1")
    // junk bytes between plain records: the scan resumes at the next
    // version line
    val junky = Warc.encodeRecord(recs(0)) ++
      "NOISE NOISE".getBytes("UTF-8") ++ Warc.encodeRecord(recs(1))
    assert(Warc.parseArchiveIterator(junky).size == 2)
    // a record with a declared length past the buffer is dropped
    val r = Warc.encodeRecord(recs(0))
    assert(Warc.parseArchiveIterator(r.dropRight(10)).isEmpty)
    assert(Warc.parseArchiveIterator(Array.fill(64)(0x41.toByte)).isEmpty)
  }

  test("warc: a THROWN upstream failure propagates out of the streamed " +
    "parse (task retry), while clean truncation stays content damage") {
    import java.util.zip.GZIPInputStream
    import graft.io.Warc
    val recs = (1 to 4).map(i => Warc.WarcRecord("conversion",
      s"urn:graft:$i", s"http://x.example/$i",
      (s"body number $i, " * 200).getBytes("UTF-8")))
    val bytes = Warc.encodeArchive(recs)
    // a transport that THROWS EOFException mid-read — several HTTP
    // clients surface a dropped connection exactly this way, which the
    // gzip layer would otherwise pass through indistinguishable from
    // its own truncated-member EOFException (content damage)
    class DroppingStream(data: Array[Byte], failAt: Int)
        extends java.io.InputStream {
      private var pos = 0
      override def read(): Int = {
        if (pos >= failAt) throw new java.io.EOFException("dropped")
        pos += 1; data(pos - 1) & 0xFF
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= failAt) throw new java.io.EOFException("dropped")
        val n = math.min(len, failAt - pos)
        System.arraycopy(data, pos, b, off, n); pos += n; n
      }
    }
    def iterate(in: java.io.InputStream): Int =
      new Warc.RecordIterator(new GZIPInputStream(in)).size
    // TAGGED (the docsFromArchivePaths shape): the failure must escape
    // the task — a silent records-so-far here would let a streaming
    // checkpoint mark the archive ingested and drop its tail forever.
    // Every drop offset, not one lucky one: a drop landing where the
    // gzip layer probes for the next member header is swallowed by its
    // own catch(IOException) unless the tag is unchecked — sweeping all
    // offsets pins that exact regression
    for (failAt <- 1 until bytes.length)
      intercept[Warc.UpstreamReadException] {
        iterate(new Warc.TaggingInputStream(
          new DroppingStream(bytes, failAt)))
      }
    // UNTAGGED control — same bytes CLEANLY truncated (read() == -1):
    // gzip-layer EOF is real content damage; records-so-far, no throw
    val sofar = iterate(
      new java.io.ByteArrayInputStream(bytes.take(bytes.length / 2)))
    assert(sofar >= 1 && sofar < 4, s"expected partial parse, got $sofar")
  }

  test("warc: parsing streams the inflation — the working set is one " +
    "record plus slack, never the inflated archive") {
    import graft.io.Warc
    // 400 × ~20 KB records ≈ 8 MB inflated; highly compressible bodies so
    // compressed size stays small while the inflated size is large
    val body = ("lorem ipsum " * 1700).getBytes("UTF-8")
    val recs = (1 to 400).map(i =>
      Warc.WarcRecord("conversion", s"urn:graft:$i", s"http://x.example/$i",
        body))
    val bytes = Warc.encodeArchive(recs)
    val it = Warc.parseArchiveIterator(bytes)
    val n = it.size // consume fully
    assert(n == 400)
    val inflated = 400L * (body.length + 150)
    // the rolling buffer must hold ~one record, not the ~8 MB archive
    assert(it.highWater < body.length + 256 * 1024,
      s"working set ${it.highWater} bytes ≈ whole archive ($inflated)?")
    assert(it.highWater >= body.length, "bound sanity: one record fits")
  }

  test("warc: a record larger than the buffer cap ends parsing as " +
    "truncation — records before it survive, nothing throws, memory " +
    "stays capped (the gzip-bomb / adversarial Content-Length guard)") {
    import graft.io.Warc
    val small = Warc.WarcRecord("conversion", "urn:graft:1",
      "http://x.example/1", "tiny body one".getBytes("UTF-8"))
    val huge = Warc.WarcRecord("conversion", "urn:graft:2",
      "http://x.example/2", ("A" * 200000).getBytes("UTF-8"))
    val after = Warc.WarcRecord("conversion", "urn:graft:3",
      "http://x.example/3", "tiny body three".getBytes("UTF-8"))
    val bytes = Warc.encodeArchive(Seq(small, huge, after))
    // cap below the huge record: parsing must end gracefully at the cap
    val it = new Warc.RecordIterator(
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes)), maxBuffer = 64 * 1024)
    val got = it.toSeq
    assert(got.map(_.headers("warc-record-id")) == Seq("urn:graft:1"),
      s"got ${got.size} records; the capped record must read as damage")
    assert(it.highWater <= 64 * 1024, "the cap bounds the working set")
    // an uncapped parse of the same bytes yields all three (sanity)
    assert(Warc.parseArchiveIterator(bytes).size == 3)
    // cap domain is enforced: 0 and >2^30 would each reintroduce the
    // arithmetic the guard exists to prevent
    intercept[IllegalArgumentException] {
      new Warc.RecordIterator(
        new java.io.ByteArrayInputStream(Array.empty[Byte]), maxBuffer = 0)
    }
    intercept[IllegalArgumentException] {
      new Warc.RecordIterator(
        new java.io.ByteArrayInputStream(Array.empty[Byte]),
        maxBuffer = (1 << 30) + 1)
    }
  }

  test("warc: truncation exactly at a gzip member boundary keeps every " +
    "record of the preceding members") {
    import graft.io.Warc
    val recs = (1 to 3).map(i => Warc.WarcRecord("conversion",
      s"urn:graft:$i", s"http://x.example/$i",
      (s"member body $i " * 8).getBytes("UTF-8")))
    val bytes = Warc.encodeArchive(recs)
    val starts = (0 until bytes.length - 1).filter(i =>
      (bytes(i) & 0xFF) == 0x1F && (bytes(i + 1) & 0xFF) == 0x8B)
    assert(starts.size >= 3)
    // cut at the third member's first byte: members 1-2 are complete
    val atBoundary = Warc.parseArchiveIterator(bytes.take(starts(2))).toSeq
    assert(atBoundary.map(_.headers("warc-record-id")) ==
      Seq("urn:graft:1", "urn:graft:2"))
    // cut mid-member-2: member 1 survives
    val midMember = Warc.parseArchiveIterator(bytes.take(starts(1) + 7)).toSeq
    assert(midMember.map(_.headers("warc-record-id")) == Seq("urn:graft:1"))
  }

  test("warc: warcScan reads archive files from disk into document rows") {
    import graft.io.Warc
    val dir = Files.createTempDirectory("graft-warc").toString
    def write(name: String, recs: Seq[Warc.WarcRecord]): Unit = {
      val f = new java.io.FileOutputStream(s"$dir/$name")
      f.write(Warc.encodeArchive(recs)); f.close()
    }
    write("a.warc.gz", Seq(
      Warc.WarcRecord("conversion", "urn:graft:10", "http://a.example/10",
        "alpha body".getBytes("UTF-8"))))
    write("b.warc.wet.gz", Seq(
      Warc.WarcRecord("conversion", "urn:graft:20", "http://b.example/20",
        "beta body".getBytes("UTF-8")),
      Warc.WarcRecord("conversion", "urn:graft:21", "http://b.example/21",
        "gamma body".getBytes("UTF-8"))))
    val rows = Warc.warcScan(spark, dir)
      .orderBy($"record_id")
      .collect()
    assert(rows.length == 3)
    assert(rows.map(_.record_id).toSeq ==
      Seq("urn:graft:10", "urn:graft:20", "urn:graft:21"))
    assert(rows.forall(_.record_type == "conversion"))
    assert(rows.map(_.text).toSeq ==
      Seq("alpha body", "beta body", "gamma body"))
    assert(rows.forall(r => r.archive.contains(".warc")))
    assert(rows.map(_.content_length).toSeq == Seq(10L, 9L, 10L))
  }

  test("warc: the path-streamed scan parses archives straight off the " +
    "filesystem — equal to the in-memory byte parse across a multi-MB " +
    "archive, a truncated one, junk, and an uncompressed file — so the " +
    "compressed blob never rides as a row") {
    import graft.io.Warc
    val dir = Files.createTempDirectory("graft-warc-spill").toString
    def rec(i: Int, body: String) = Warc.WarcRecord("conversion",
      s"urn:graft:$i", s"http://x.example/$i", body.getBytes("UTF-8"))
    def write(name: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.FileOutputStream(s"$dir/$name")
      f.write(bytes); f.close()
    }
    // an archive whose INFLATED size (~8 MB) dwarfs the parser's
    // one-record working set — the shape where a whole-blob row (let
    // alone a whole-inflate) would be the memory cliff
    val big = (1 to 400).map(i => rec(i, "lorem ipsum " * 1700))
    write("big.warc.wet.gz", Warc.encodeArchive(big))
    // truncated mid-member: completed records must survive, per file
    val trunc = Warc.encodeArchive(Seq(rec(1000, "first whole body"),
      rec(1001, "second body that will be cut")))
    write("trunc.warc.gz", trunc.dropRight(12))
    // uncompressed legal WARC with junk between records
    write("plain.warc", Warc.encodeRecord(rec(2000, "plain alpha")) ++
      "NOISE".getBytes("UTF-8") ++
      Warc.encodeRecord(rec(2001, "plain beta")))
    def key(d: Warc.WarcDoc) =
      (d.record_id, d.target_uri, d.content_length, d.text)
    val streamed = Warc.warcScan(spark, dir).collect().map(key).toSet
    val inMemory = new java.io.File(dir).listFiles().flatMap { f =>
      Warc.parseArchiveIterator(
        java.nio.file.Files.readAllBytes(f.toPath)).toSeq.map(p =>
        (p.headers("warc-record-id"), p.headers("warc-target-uri"),
          p.body.length.toLong, new String(p.body, "UTF-8")))
    }.toSet
    assert(streamed == inMemory,
      s"path-streamed parse diverged: ${(streamed diff inMemory).take(2)}" +
        s" / ${(inMemory diff streamed).take(2)}")
    assert(streamed.size == 400 + 1 + 2, s"got ${streamed.size}")
    // early termination doesn't break anything (handles close via the
    // task-completion backstop, not only on exhaustion)
    assert(Warc.warcScan(spark, dir).limit(3).collect().length == 3)
    // an OPEN failure fails the task (so Spark's retry recovers the
    // transient case) instead of silently yielding zero records — a
    // streaming checkpoint would otherwise mark the archive ingested
    // and drop its documents forever
    val lazyScan = Warc.warcScan(spark, dir) // listing planned now
    assert(new java.io.File(s"$dir/big.warc.wet.gz").delete())
    intercept[org.apache.spark.SparkException] {
      lazyScan.collect()
    }
  }


  // ---- snapshot-versioned table + erasure redaction --------------------

  test("versioned table: appends commit isolated time-travel versions; " +
    "erase rewrites only touched segments, purges replaced bytes, and " +
    "floors time travel with the tombstone epoch") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned").toString + "/t"
    val a = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "v")
    val b = Seq((3L, "gamma"), (4L, "delta")).toDF("id", "v")
    assert(Versioned.append(spark, root, a) == 0)
    assert(Versioned.append(spark, root, b) == 1)
    assert(Versioned.read(spark, root, 0).select($"id").as[Long]
      .collect().toSet == Set(1L, 2L))
    assert(Versioned.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] { Versioned.read(spark, root, 9) }
    // segment 1 (ids 3,4) holds no subject: its bytes must not move
    val seg1 = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("seg-1-")).head
    val mtime = seg1.listFiles().map(_.lastModified()).max
    val v2 = Versioned.erase(spark, root, Seq(1L).toDF("id"), "id",
      tombstoneEpoch = 42L)
    assert(v2 == 2)
    assert(Versioned.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(2L, 3L, 4L))
    assert(seg1.listFiles().map(_.lastModified()).max == mtime,
      "untouched segment was rewritten")
    // the replaced segment's bytes are gone from disk entirely
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("seg-0-")),
      "the subject's original segment bytes survived the purge")
    // time travel below the redaction floor fails loudly, naming the epoch
    val e = intercept[IllegalStateException] {
      Versioned.read(spark, root, 0)
    }
    assert(e.getMessage.contains("42") && e.getMessage.contains("redact"),
      e.getMessage)
    intercept[IllegalStateException] { Versioned.read(spark, root, 1) }
    // appends after an erasure time-travel normally above the floor
    val v3 = Versioned.append(spark, root, Seq((5L, "eps")).toDF("id", "v"))
    assert(Versioned.read(spark, root, v2).select($"id").as[Long]
      .collect().toSet == Set(2L, 3L, 4L))
    assert(Versioned.read(spark, root, v3).count() == 4)
    // ghost erasure: commits a version, purges nothing — and the
    // redaction floor must NOT move (nothing new was purged, so time
    // travel to the intact post-v2 versions stays legal; the pre-v2
    // floor from the real erasure still stands)
    val v4 = Versioned.erase(spark, root, Seq(99L).toDF("id"), "id", 43L)
    assert(Versioned.read(spark, root, v4).count() == 4)
    assert(Versioned.read(spark, root, v3).count() == 4,
      "ghost erasure blocked time travel to an intact older version")
    assert(Versioned.read(spark, root, v2).count() == 3)
    val e2 = intercept[IllegalStateException] {
      Versioned.read(spark, root, 1) // the REAL erasure's floor stands
    }
    assert(e2.getMessage.contains("42"), e2.getMessage)
  }

  test("versioned table: erase probes the hit-segment set in one pass — " +
    "job count does not grow with the segment count") {
    import graft.io.Versioned
    def eraseJobs(nSegs: Int): Int = {
      val root =
        Files.createTempDirectory(s"graft-versioned-1p$nSegs").toString + "/t"
      for (i <- 0 until nSegs)
        Versioned.append(spark, root,
          Seq((i.toLong * 10, s"row$i")).toDF("id", "v").coalesce(1))
      // the subject lives in exactly one segment either way
      val group = s"versioned-erase-probe-$nSegs"
      spark.sparkContext.setJobGroup(group, "erase")
      try Versioned.erase(spark, root, Seq(30L).toDF("id"), "id", 7L)
      finally spark.sparkContext.clearJobGroup()
      assert(Versioned.read(spark, root).filter($"id" === 30L).count() == 0)
      assert(Versioned.read(spark, root).count() == nSegs - 1)
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val small = eraseJobs(6)
    val large = eraseJobs(18)
    // the old shape ran a limit(1).count() probe job PER SEGMENT, so
    // tripling the commits added ~12 jobs; the one-pass probe's job
    // count is flat in the segment count (slack for AQE bookkeeping)
    assert(large <= small + 2,
      s"erase jobs grew with segments: $small @6 segs vs $large @18 segs")
  }

  test("versioned table: a second writer racing the same version fails " +
    "loudly instead of silently replacing the first commit") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-cc").toString + "/t"
    Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val v1 = Versioned.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(v1 == 1)
    // the loser of the race: it read latest=v0 before the winner
    // published v1, so it tries to publish v1 itself — the publish must
    // throw instead of rename-replacing the winner's manifest
    val e = intercept[java.io.IOException] {
      Versioned.writeManifest(spark, root,
        Versioned.Manifest(1, Seq("seg-bogus"), 0, 0L))
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the winner's commit is intact: v1 still reads its real segment
    assert(Versioned.read(spark, root, 1).select($"id").as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("versioned table data skipping: readWhere opens only intersecting " +
    "segments, always equals read+filter, survives erasure rewrites, and " +
    "conservatively reads stat-less segments") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-skip").toString +
      "/t"
    // three disjoint id-range segments with doc-id stats
    for (i <- 0 to 2)
      Versioned.append(spark, root,
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"row$j"))
          .toDF("id", "v"),
        statsCols = Seq("id"))
    def segsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => new java.io.File(f).getParent).distinct.length
    val mid = Versioned.readWhere(spark, root, "id", 12L, 17L)
    assert(segsOf(mid) == 1, "only the middle segment intersects [12,17]")
    assert(mid.select($"id").as[Long].collect().toSet ==
      Versioned.read(spark, root).where($"id".between(12L, 17L))
        .select($"id").as[Long].collect().toSet)
    // boundary inclusivity: [9,10] straddles two segments
    assert(segsOf(Versioned.readWhere(spark, root, "id", 9L, 10L)) == 2)
    // fully pruned: empty result, correct schema, no row reads
    val none = Versioned.readWhere(spark, root, "id", 100L, 200L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // a segment appended WITHOUT stats is conservatively read
    Versioned.append(spark, root, Seq((99L, "nostats")).toDF("id", "v"))
    assert(segsOf(Versioned.readWhere(spark, root, "id", 12L, 17L)) == 2,
      "stat-less segments cannot be pruned")
    assert(Versioned.readWhere(spark, root, "id", 12L, 17L)
      .select($"id").as[Long].collect().toSet == (12L to 17L).toSet,
      "the residual filter keeps the stat-less segment's rows out")
    // erasure rewrites re-record stats: the rewritten middle segment
    // still prunes for a disjoint range, and the range law still holds
    Versioned.erase(spark, root, Seq(15L).toDF("id"), "id", 7L)
    val after = Versioned.readWhere(spark, root, "id", 12L, 17L)
    assert(after.select($"id").as[Long].collect().toSet ==
      Set(12L, 13L, 14L, 16L, 17L))
    // [0,5] opens seg0 plus the always-read stat-less segment — but NOT
    // the erasure-rewritten middle segment: its stats were re-recorded,
    // not dropped (3 here would mean the rewrite went stat-less)
    assert(segsOf(Versioned.readWhere(spark, root, "id", 0L, 5L)) == 2,
      "post-erasure stats must keep pruning (stale stats would read all)")
    // stats are integral-only, enforced loudly
    intercept[IllegalArgumentException] {
      Versioned.append(spark, root, Seq((1L, "x")).toDF("id", "v"),
        statsCols = Seq("v"))
    }
  }

  test("versioned table: erase works under a root containing " +
    "URI-encodable characters (input_file_name returns ENCODED paths — " +
    "a raw string compare would silently ghost the erasure)") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft versioned enc").toString +
      "/t 100%"
    Versioned.append(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Versioned.append(spark, root, Seq((3L, "c")).toDF("id", "v"))
    val v = Versioned.erase(spark, root, Seq(2L).toDF("id"), "id", 11L)
    // NOT a ghost: the subject is gone, the floor was raised
    assert(Versioned.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(1L, 3L))
    intercept[IllegalStateException] { Versioned.read(spark, root, 0) }
    assert(v == 2)
  }

  test("versioned table: segments appended across a schema evolution " +
    "union with null backfill on every read path (a single-footer schema " +
    "would silently drop the new column)") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-evo").toString +
      "/t"
    Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "v"),
      statsCols = Seq("id"))
    Versioned.append(spark, root,
      Seq((2L, "b", 9L)).toDF("id", "v", "extra"), statsCols = Seq("id"))
    val full = Versioned.read(spark, root)
    assert(full.columns.toSet == Set("id", "v", "extra"))
    assert(full.filter($"id" === 1L).select($"extra").head().isNullAt(0))
    assert(full.filter($"id" === 2L).select($"extra").as[Long].head() == 9L)
    // readWhere keeps the union schema and the range law
    val rw = Versioned.readWhere(spark, root, "id", 2L, 2L)
    assert(rw.columns.toSet == Set("id", "v", "extra") && rw.count() == 1)
    // …including when pruning drops EVERY segment that carries the
    // evolved column: the schema must not narrow (read+filter equality)
    val oldOnly = Versioned.readWhere(spark, root, "id", 1L, 1L)
    assert(oldOnly.columns.toSet == Set("id", "v", "extra"),
      "pruning narrowed the schema — skipping became semantic")
    assert(oldOnly.select($"extra").head().isNullAt(0))
    // the erase probe sees the key everywhere and purges across schemas
    Versioned.erase(spark, root, Seq(1L).toDF("id"), "id", 12L)
    assert(Versioned.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(2L))
  }

  test("versioned table bloom sidecars: readEquals opens only segments " +
    "that might hold the key where min/max can't prune interleaved " +
    "ids, equals read+filter, and survives erasure") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-bloom")
      .toString + "/t"
    // INTERLEAVED ids (mod 3): every segment spans the full range, so
    // range stats are useless — the bloom must do the pruning
    for (i <- 0 until 3)
      Versioned.append(spark, root,
        (0 until 30).filter(_ % 3 == i).map(j => (j.toLong, s"row$j"))
          .toDF("id", "v"),
        statsCols = Seq("id"), bloomCols = Seq("id", "v"))
    def segsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => new java.io.File(f).getParent).distinct.length
    val hit = Versioned.readEquals(spark, root, "id", 7L)
    assert(segsOf(hit) == 1, "blooms must reject the two non-owners")
    assert(hit.select($"v").as[String].collect().toSeq == Seq("row7"))
    // string-typed key: same skipping, same law
    val sHit = Versioned.readEquals(spark, root, "v", "row8")
    assert(segsOf(sHit) == 1 &&
      sHit.select($"id").as[Long].head() == 8L)
    // absent key: everything bloom-pruned, empty result, schema intact
    val miss = Versioned.readEquals(spark, root, "id", 999L)
    assert(miss.count() == 0 && miss.columns.toSeq == Seq("id", "v"))
    assert(segsOf(miss) == 0, "an absent key should open nothing")
    // a segment without sidecars is conservatively read
    Versioned.append(spark, root, Seq((100L, "nostats")).toDF("id", "v"))
    assert(segsOf(Versioned.readEquals(spark, root, "id", 7L)) == 2)
    // erasure rewrites the owner segment and regenerates its bloom: the
    // erased key vanishes, its neighbors in the same mod-class remain
    Versioned.erase(spark, root, Seq(7L).toDF("id"), "id", 21L)
    assert(Versioned.readEquals(spark, root, "id", 7L).count() == 0)
    val after = Versioned.readEquals(spark, root, "id", 10L)
    assert(after.select($"v").as[String].collect().toSeq == Seq("row10"))
    assert(segsOf(after) == 2, // the rewritten owner + the sidecar-less
      "the rewritten segment must carry a fresh bloom")
    // a type-mismatched probe fails LOUDLY: the bloom hashes by type,
    // so "7" against a long column would silently return nothing
    intercept[IllegalArgumentException] {
      Versioned.readEquals(spark, root, "id", "7")
    }
    intercept[IllegalArgumentException] {
      Versioned.readEquals(spark, root, "v", 7L)
    }
    // a bloom column name that isn't filename-safe would poison the
    // segment ('=' parses as a partition path on every later read)
    intercept[IllegalArgumentException] {
      Versioned.append(spark, root,
        Seq((1L, "x")).toDF("id", "a=b"), bloomCols = Seq("a=b"))
    }
  }

  test("stagedSwapParquet is crash-safe at every protocol step: recovery " +
    "rolls forward after the commit marker and back before it, and the " +
    "store is a complete readable table at each crash point") {
    import graft.io.Sinks
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path("/").getFileSystem(conf)
    def freshStore(): String = {
      val root = Files.createTempDirectory("graft-swap").toString + "/t"
      Seq((1L, "old"), (2L, "old")).toDF("id", "v")
        .write.parquet(root)
      root
    }
    def writeStaging(root: String): Unit =
      Seq((1L, "new"), (3L, "new")).toDF("id", "v")
        .write.parquet(root + "__staging")
    def vals(root: String): Set[String] =
      spark.read.parquet(root).select($"v").as[String].collect().toSet
    // crash point A — staging written, NO marker yet: the swap is
    // uncommitted, recovery keeps the old table and drops the debris
    val a = freshStore(); writeStaging(a)
    Sinks.recoverSwap(spark, a)
    assert(vals(a) == Set("old") && !fs.exists(new Path(a + "__staging")))
    // crash point B — marker created (THE commit point), nothing renamed:
    // recovery promotes the staged table
    val b = freshStore(); writeStaging(b)
    fs.create(new Path(b + "__swap"), true).close()
    Sinks.recoverSwap(spark, b)
    assert(vals(b) == Set("new"))
    // crash point C — live renamed aside, staging not yet promoted (the
    // state where the OLD protocol had simply lost the table)
    val c = freshStore(); writeStaging(c)
    fs.create(new Path(c + "__swap"), true).close()
    assert(fs.rename(new Path(c), new Path(c + "__old")))
    Sinks.recoverSwap(spark, c)
    assert(vals(c) == Set("new") && !fs.exists(new Path(c + "__old")))
    // crash point D — staging promoted, aside + marker not yet cleaned
    val d = freshStore(); writeStaging(d)
    fs.create(new Path(d + "__swap"), true).close()
    assert(fs.rename(new Path(d), new Path(d + "__old")))
    assert(fs.rename(new Path(d + "__staging"), new Path(d)))
    Sinks.recoverSwap(spark, d)
    assert(vals(d) == Set("new") && !fs.exists(new Path(d + "__old")) &&
      !fs.exists(new Path(d + "__swap")))
    // recovery is idempotent, and a NEXT swap self-recovers first: run a
    // real swap on top of crash state B's twin without manual recovery
    val e = freshStore(); writeStaging(e)
    fs.create(new Path(e + "__swap"), true).close()
    Sinks.stagedSwapParquet(spark,
      Seq((9L, "newer")).toDF("id", "v"), e)
    assert(vals(e) == Set("newer") &&
      !fs.exists(new Path(e + "__swap")) &&
      !fs.exists(new Path(e + "__staging")))
    // degenerate salvage: marker present but both live and staging gone —
    // the aside copy is restored rather than leaving no table
    val g = freshStore()
    fs.create(new Path(g + "__swap"), true).close()
    assert(fs.rename(new Path(g), new Path(g + "__old")))
    Sinks.recoverSwap(spark, g)
    assert(vals(g) == Set("old"))
    FileUtil.fullyDelete(new java.io.File(g).getParentFile)
  }

  test("versioned table: skip reads serve the schema from the manifest " +
    "cache — no per-segment footer I/O, so a point lookup never touches " +
    "pruned segments' files at all") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-schema")
      .toString + "/t"
    for (i <- 0 to 2)
      Versioned.append(spark, root,
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"row$j"))
          .toDF("id", "v"),
        statsCols = Seq("id"), bloomCols = Seq("id"))
    // evolved segment so the cached schema is a genuine multi-step merge
    Versioned.append(spark, root,
      Seq((30L, "x", 1L)).toDF("id", "v", "extra"), statsCols = Seq("id"))
    // DESTROY the parquet files of every segment the reads below prune
    // away (ids 10-39): if any read path still ran an all-footer schema
    // merge — the pre-cache behavior — it would throw on the missing
    // files instead of answering from the one surviving segment
    val victims = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-") &&
        !f.getName.startsWith("seg-0-"))
    assert(victims.length == 3, "fixture expects three prunable segments")
    victims.foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(p => assert(p.delete()))
    }
    val rw = Versioned.readWhere(spark, root, "id", 3L, 7L)
    assert(rw.select($"id").as[Long].collect().toSet == (3L to 7L).toSet)
    assert(rw.columns.toSet == Set("id", "v", "extra"),
      "the cached schema must carry the evolved column")
    val re = Versioned.readEquals(spark, root, "id", 5L)
    assert(re.select($"v").as[String].collect().toSeq == Seq("row5"))
    assert(re.columns.toSet == Set("id", "v", "extra"))
    // fully pruned: zero segments opened, full schema, empty result
    val none = Versioned.readWhere(spark, root, "id", 500L, 600L)
    assert(none.count() == 0 &&
      none.columns.toSet == Set("id", "v", "extra"))
  }

  test("versioned table: an erase RETRY finishes the purge a crash " +
    "skipped — orphan superseded segments die once the floor covers " +
    "every older version, and never before") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-gc").toString +
      "/t"
    Versioned.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Versioned.append(spark, root, Seq((3L, "c")).toDF("id", "v"))
    // a ghost erase while OLDER VERSIONS ARE STILL READABLE must not
    // garbage-collect anything: plant an orphan and prove it survives
    val early = new java.io.File(root, "seg-orphan-early")
    early.mkdirs()
    new java.io.FileOutputStream(new java.io.File(early, "junk.parquet"))
      .close()
    Versioned.erase(spark, root, Seq(99L).toDF("id"), "id", 5L)
    assert(early.exists(),
      "a ghost erase below the floor deleted segments older versions " +
        "may still reference")
    early.listFiles().foreach(_.delete()); early.delete()
    // real erasure: publishes floor = latest, purges — and a crash
    // BETWEEN the manifest publish and the purge leaves superseded
    // segments on disk (simulated by re-planting one after the fact)
    Versioned.erase(spark, root, Seq(1L).toDF("id"), "id", 6L)
    val orphan = new java.io.File(root, "seg-0-crashleftover")
    orphan.mkdirs()
    new java.io.FileOutputStream(new java.io.File(orphan, "junk.parquet"))
      .close()
    // the retry: subject already gone (ghost branch) — but the floor
    // already covers every older version, so the skipped purge runs
    Versioned.erase(spark, root, Seq(1L).toDF("id"), "id", 6L)
    assert(!orphan.exists(),
      "the erase retry left the crashed erasure's superseded segment " +
        "bytes on disk — the subject outlives its right-to-be-forgotten")
    assert(Versioned.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(2L, 3L))
    // The GC purges BEFORE publishing its own manifest (source-ordered
    // in the ghost branch), so a retry that crashes anywhere re-enters
    // the SAME converging state — there is no reachable history where a
    // PUBLISHED retry left its purge undone. Consequently, once a retry
    // has published (floor now below the new latest), the window is
    // closed: junk planted after that point is untracked debris, not
    // legal crash leftovers, and the conservative "never before" rule
    // must leave it alone while further retries stay clean no-ops.
    val orphan2 = new java.io.File(root, "seg-0-latejunk")
    orphan2.mkdirs()
    new java.io.FileOutputStream(new java.io.File(orphan2, "junk.parquet"))
      .close()
    Versioned.erase(spark, root, Seq(1L).toDF("id"), "id", 6L)
    assert(orphan2.exists(),
      "a ghost erase below the floor deleted segments it cannot prove " +
        "dead")
    assert(Versioned.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(2L, 3L))
    org.apache.hadoop.fs.FileUtil
      .fullyDelete(orphan2)
  }

  test("versioned table: building bloom sidecars leaves session SQL confs " +
    "untouched (no save/restore of the runtime-join bloom caps to race " +
    "a concurrent appender or query)") {
    import graft.io.Versioned
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = (spark.conf.getOption(itemsKey),
      spark.conf.getOption(bitsKey))
    val root = Files.createTempDirectory("graft-versioned-conf").toString +
      "/t"
    Versioned.append(spark, root,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      bloomCols = Seq("id", "v"))
    assert((spark.conf.getOption(itemsKey),
      spark.conf.getOption(bitsKey)) == before,
      "bloom build mutated session-global SQL confs")
    // and the sidecars it builds still probe exactly
    assert(Versioned.readEquals(spark, root, "id", 42L)
      .select($"v").as[String].collect().toSeq == Seq("v42"))
    assert(Versioned.readEquals(spark, root, "v", "v7")
      .select($"id").as[Long].head() == 7L)
    assert(Versioned.readEquals(spark, root, "id", 4242L).count() == 0)
  }

  test("versioned point lookup issues ZERO Spark jobs before the pruned " +
    "scan: manifests, schema, stats, and bloom probes are all " +
    "driver-side reads") {
    import graft.io.Versioned
    val root = Files.createTempDirectory("graft-versioned-jobs")
      .toString + "/t"
    for (i <- 0 until 3)
      Versioned.append(spark, root,
        spark.range(i * 100L, (i + 1) * 100L).toDF("doc_id"),
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // constructing the frame runs the WHOLE preamble: version listing,
      // two manifest resolutions, merged schema, min/max pruning, bloom
      // probes — none of it may spin up a Spark job (each one was a full
      // scheduler round trip before the driver-side manifest reader)
      val df = Versioned.readEquals(spark, root, "doc_id", 150L)
      org.apache.spark.sql.graftx.ListenerHook.drain(spark)
      assert(jobs.get() == 0,
        s"the read preamble launched ${jobs.get()} Spark job(s)")
      // ...and the pruned scan itself is of course still a job
      assert(df.select($"doc_id").as[Long].collect().toSeq == Seq(150L))
      org.apache.spark.sql.graftx.ListenerHook.drain(spark)
      assert(jobs.get() >= 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }

}
