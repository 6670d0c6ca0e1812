package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** WARC/WET crawl-archive ingestion — the first mile of a real pretraining
  * corpus (Common-Crawl-style WET files: ISO 28500 WARC records, each
  * record gzipped as its OWN member and the members concatenated, so
  * readers can random-access records by offset). Same honesty contract as
  * [[graft.multimodal.MediaContainers]]: a REAL encoder (per-member gzip,
  * standard-conformant record framing) plus a decoder that parses every
  * reported field back out of the bytes — version line, named headers,
  * Content-Length-framed body — with CONTENT damage (truncated/corrupt
  * gzip members, malformed records) handled by returning the records
  * parsed so far, never an exception out of a task. TRANSIENT read
  * failures are the deliberate exception: they fail the task so Spark's
  * retry recovers them (see [[docsFromArchivePaths]]'s failure split).
  *
  * Scale shape: archive bytes never become rows at all — the binaryFile
  * source contributes only the file LISTING (content column-pruned away),
  * and each task streams its archives straight off the filesystem through
  * the rolling-buffer parser ([[docsFromArchivePaths]]); only the parsed
  * (id, uri, length, text) rows shuffle. A 100 TB crawl ingests as one
  * listing + one narrow projection. (Per-FILE parallelism is the WET
  * granularity — crawls ship ~1 GB archives by convention, and the gzip
  * stream is inherently sequential within one file.) Parsing STREAMS the
  * inflation ([[RecordIterator]]): the per-task working set is the
  * rolling buffer plus ONE record — never the compressed blob, never the
  * inflated archive — so even an archive far beyond the 1 GB convention
  * (or a gzip bomb) costs one record of memory, not multi-GB.
  */
object Warc {

  /** One record to encode. */
  final case class WarcRecord(
      recordType: String,
      recordId: String,
      targetUri: String,
      body: Array[Byte])

  /** One parsed record. `headers` keys are lower-cased. */
  final case class WarcParsed(
      version: String,
      headers: Map[String, String],
      body: Array[Byte])

  private val Crlf = "\r\n"

  /** Encode one record in WARC/1.0 wire format (headers, blank line,
    * Content-Length body octets, record separator).
    */
  def encodeRecord(r: WarcRecord): Array[Byte] = {
    val head = new StringBuilder
    head.append("WARC/1.0").append(Crlf)
    head.append("WARC-Type: ").append(r.recordType).append(Crlf)
    head.append("WARC-Record-ID: ").append(r.recordId).append(Crlf)
    head.append("WARC-Target-URI: ").append(r.targetUri).append(Crlf)
    head.append("Content-Length: ").append(r.body.length).append(Crlf)
    head.append(Crlf)
    val os = new ByteArrayOutputStream()
    os.write(head.toString.getBytes("UTF-8"))
    os.write(r.body)
    os.write((Crlf + Crlf).getBytes("UTF-8"))
    os.toByteArray
  }

  /** A genuine WET-convention archive: EACH record is its own gzip member;
    * the members are concatenated. (`gzip -d` inflates the whole file;
    * offset readers inflate one member.)
    */
  def encodeArchive(records: Seq[WarcRecord]): Array[Byte] = {
    val os = new ByteArrayOutputStream()
    records.foreach { r =>
      val gz = new GZIPOutputStream(os)
      gz.write(encodeRecord(r))
      // close(), not just finish(): each member otherwise leaks a native
      // Deflater until GC finalization — this runs per-row on executors.
      // Closing the wrapper is safe: the underlying stream is ours.
      gz.close()
    }
    os.toByteArray
  }

  /** Incremental WARC parser over an inflating stream with a ROLLING
    * buffer: the buffer is compacted at every record boundary (and while
    * scanning junk), so the working set is one record plus refill slack —
    * never the inflated archive. A whole-archive inflate costs multi-GB
    * per task on a fat (or gzip-bomb) archive; this caps task memory at
    * max-record-size regardless of archive size (`highWater` records the
    * bound, spec-asserted).
    *
    * Framing is the spec's: a `WARC/x.y` version line, `Name: value`
    * headers to a blank line, exactly `Content-Length` body octets, then
    * the two-CRLF record separator. Junk between records is scanned past
    * (to the next `WARC/` magic); a record whose declared body runs past
    * the data (truncation — including truncation at a gzip member
    * boundary) is dropped and parsing stops; records parsed before the
    * damage always survive. A corrupt or truncated gzip member ends the
    * stream at the bytes inflated so far, same rules.
    */
  /** Thrown (wrapped) for any failure the UNDERLYING byte source raises
    * mid-read — never caught by the content-damage rules, so it fails
    * the task and Spark's retry recovers the transient case. UNCHECKED
    * on purpose: `GZIPInputStream`'s multi-member support probes for a
    * next member header inside a `catch (IOException)` that reads as
    * clean end-of-stream, so an IOException-shaped tag thrown at a
    * member boundary would be SWALLOWED by the gzip layer itself — the
    * one place a transient failure could still silently truncate the
    * archive. A RuntimeException passes through every layer of the
    * java.io/zip stack untouched.
    */
  private[graft] final class UpstreamReadException(
      cause: java.io.IOException)
    extends RuntimeException("transient upstream read failure", cause)

  /** Re-tags every exception the wrapped stream THROWS as
    * [[UpstreamReadException]], so the damage/transient split survives
    * the gzip layer. The inflater reports a cleanly-truncated stream
    * (`read() == -1` mid-member) as its own `EOFException` — genuine
    * CONTENT damage, and the rules keep the records parsed so far — but
    * it passes through exceptions the raw stream throws unchanged, and
    * some transports signal transient failures as `EOFException` too
    * (an HTTP connection dropped mid-GET surfaces that way from several
    * clients). Without the tag those two are indistinguishable at the
    * catch site and a transient failure would silently truncate the
    * archive behind a successful task.
    */
  private[graft] final class TaggingInputStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    private def tag[A](f: => A): A =
      try f catch {
        case e: java.io.IOException => throw new UpstreamReadException(e)
      }
    override def read(): Int = tag(super.read())
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      tag(in.read(b, off, len))
    override def skip(n: Long): Long = tag(super.skip(n))
    override def available(): Int = tag(super.available())
  }

  private[graft] final class RecordIterator(in: java.io.InputStream,
      maxBuffer: Int = RecordIterator.DefaultMaxBuffer)
      extends Iterator[WarcParsed] {
    // a cap above 2^30 would let buf.length*2 overflow Int — the exact
    // bug the cap exists to prevent
    require(maxBuffer > 0 && maxBuffer <= (1 << 30),
      s"maxBuffer must be in (0, 2^30]: $maxBuffer")
    private var buf = new Array[Byte](math.min(64 * 1024, maxBuffer))
    private var start = 0 // consumed prefix (compactable)
    private var end = 0 // valid bytes
    private var eof = false
    private var stopped = false // truncated body: no further scanning
    private[graft] var highWater = 0L // max unconsumed bytes ever buffered
    private var nextRec: WarcParsed = _

    /** Pull more inflated bytes; compacts the consumed prefix first and
      * grows the buffer only when a single in-flight record outsizes it.
      * Inflation errors (truncated/corrupt member — ZipException /
      * EOFException raised by the GZIP LAYER over a cleanly-ended
      * stream) read as end-of-data; any OTHER IOException is a
      * TRANSIENT read failure (socket reset, object-store throttling —
      * routine on ~1 GB streams) and PROPAGATES so the task fails and
      * Spark's retry recovers it. Swallowing it here would be
      * indistinguishable from content damage: the task would succeed
      * with the archive silently truncated and a streaming checkpoint
      * would mark the file ingested, dropping the tail forever. Some
      * transports signal transient failures as EOFException themselves,
      * which this catch cannot tell from gzip damage — so the streamed
      * path wraps its filesystem stream in [[TaggingInputStream]],
      * whose UpstreamReadException no damage catch matches.
      * (ByteArrayInputStream-backed callers never see the transient
      * class — in-memory reads can't fail that way.)
      */
    private def refill(): Boolean = {
      if (eof) return false
      if (start > 0) {
        System.arraycopy(buf, start, buf, 0, end - start)
        end -= start
        start = 0
      }
      if (end == buf.length) {
        // HARD CAP on the working set: a record (or endless header line)
        // larger than `maxBuffer` reads as end-of-data — the truncation
        // rules then keep every record parsed before it. Unbounded
        // doubling would both defeat the one-record memory bound this
        // class exists for AND overflow Int at 1 GiB
        // (copyOf(_, 2^30 * 2) < 0), throwing out of a task.
        if (buf.length >= maxBuffer) { eof = true; return false }
        buf = java.util.Arrays.copyOf(buf,
          math.min(buf.length * 2, maxBuffer))
      }
      val n =
        try in.read(buf, end, buf.length - end)
        catch {
          case _: EOFException => -1 // truncated member: keep what inflated
          case _: java.util.zip.ZipException => -1 // corrupt member: same
          // other IOExceptions (transient read failures) propagate — see
          // the scaladoc above; the task must fail for Spark to retry
        }
      if (n <= 0) { eof = true; false }
      else {
        end += n
        highWater = math.max(highWater, (end - start).toLong)
        true
      }
    }

    // ALL parse positions are offsets RELATIVE TO `start`: refill()'s
    // compaction moves the unconsumed window to offset 0 and resets
    // `start`, so relative offsets stay valid across refills while the
    // in-flight record's first byte stays pinned (the buffer grows only
    // when one record outsizes it — the documented working-set bound)

    /** Relative offset just past the next \n at or after `from`,
      * refilling as needed; -1 when the data ends first.
      */
    private def lineEndRel(from: Int): Int = {
      var j = from
      while (true) {
        while (start + j < end && buf(start + j) != '\n') j += 1
        if (start + j < end) return j + 1
        if (!refill()) return -1
      }
      -1 // unreachable
    }

    private def lineAtRel(from: Int, to: Int): String =
      new String(buf, start + from, to - from, "UTF-8").stripSuffix("\n")
        .stripSuffix("\r")

    /** Parse the next complete record, or null when the data ends. */
    private def fetch(): WarcParsed = {
      if (stopped) return null
      while (true) {
        // scan to the next "WARC/" magic, consuming junk byte by byte so
        // the buffer never accumulates it
        while (end - start < 5 && refill()) {}
        if (end - start < 5) return null
        if (!(buf(start) == 'W' && buf(start + 1) == 'A' &&
            buf(start + 2) == 'R' && buf(start + 3) == 'C' &&
            buf(start + 4) == '/')) {
          start += 1
        } else {
          val ve = lineEndRel(0)
          if (ve < 0) return null
          val version = lineAtRel(0, ve)
          // headers to the blank line
          var j = ve
          var headers = Map.empty[String, String]
          var malformed = false
          var blank = false
          while (!blank && !malformed) {
            val he = lineEndRel(j)
            if (he < 0) malformed = true
            else {
              val line = lineAtRel(j, he)
              j = he
              if (line.isEmpty) blank = true
              else line.indexOf(':') match {
                case -1 => malformed = true
                case c => headers += (line.take(c).trim.toLowerCase ->
                  line.drop(c + 1).trim)
              }
            }
          }
          val len = headers.get("content-length")
            .flatMap(s => scala.util.Try(s.toLong).toOption)
          if (malformed || len.isEmpty || len.get < 0) {
            start += 5 // not a well-formed record: resume past "WARC/"
          } else {
            while (end - start - j < len.get && refill()) {}
            if (end - start - j < len.get) {
              stopped = true // truncated body: keep completed records
              return null
            }
            val body = java.util.Arrays
              .copyOfRange(buf, start + j, start + j + len.get.toInt)
            start += j + len.get.toInt // record consumed: compactable
            return WarcParsed(version, headers, body)
          }
        }
      }
      null // unreachable
    }

    override def hasNext: Boolean = {
      if (nextRec == null) nextRec = fetch()
      nextRec != null
    }

    override def next(): WarcParsed = {
      if (!hasNext) throw new NoSuchElementException("end of archive")
      val r = nextRec
      nextRec = null
      r
    }
  }

  private[graft] object RecordIterator {
    /** Working-set ceiling per task: far above any conformant WET record
      * (crawls cap page payloads around 1 MiB) yet small enough that an
      * adversarial Content-Length can neither balloon executor memory
      * nor overflow the Int buffer arithmetic.
      */
    val DefaultMaxBuffer: Int = 256 * 1024 * 1024
  }

  /** The archive's record iterator: lazy, one-record working set. Non-gzip
    * input (no 1F 8B magic) parses as-is — uncompressed WARC is legal.
    */
  private[graft] def parseArchiveIterator(bytes: Array[Byte]): RecordIterator = {
    val raw = new ByteArrayInputStream(bytes)
    val in =
      if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1F &&
        (bytes(1) & 0xFF) == 0x8B)
        try new GZIPInputStream(raw)
        catch { // header truncated mid-member-0: nothing inflatable
          case _: java.io.IOException =>
            new ByteArrayInputStream(Array.empty[Byte])
        }
      else raw
    new RecordIterator(in)
  }

  /** Parsed-document row: the pipeline-facing projection of one record. */
  final case class WarcDoc(
      archive: String,
      record_type: String,
      record_id: String,
      target_uri: String,
      content_length: Long,
      text: String)

  /** Archive bytes → document rows (per-record flatMap; bytes never
    * shuffle). `archive` tags provenance (file path or synthetic id).
    */
  def docsFromArchives(archives: Dataset[(String, Array[Byte])])
      : Dataset[WarcDoc] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives.flatMap { case (name, bytes) =>
      parseArchiveIterator(bytes).map(toDoc(name, _))
    }
  }

  /** Close-on-exhaustion wrapper: the record iterators below stream from
    * an OPEN file; the handle must die exactly when the last record (or
    * the first truncation) has been served, inside the task.
    */
  private final class ClosingIterator[A](it: Iterator[A],
      in: java.io.Closeable) extends Iterator[A] {
    private var closed = false
    override def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !closed) {
        closed = true
        // the task-completion listener may close too: tolerate both
        try in.close() catch { case _: java.io.IOException => () }
      }
      h
    }
    override def next(): A = it.next()
  }

  private def toDoc(name: String, p: WarcParsed): WarcDoc =
    WarcDoc(name,
      p.headers.getOrElse("warc-type", ""),
      p.headers.getOrElse("warc-record-id", ""),
      p.headers.getOrElse("warc-target-uri", ""),
      p.body.length.toLong,
      new String(p.body, "UTF-8"))

  /** Archive PATHS → document rows: each task OPENS its file and streams
    * it through the rolling-buffer parser, so the per-task working set is
    * the one-record bound even for an archive far larger than any
    * comfortable row size. (The binaryFile content column materializes
    * the WHOLE compressed blob as one row — fine at the ~1 GB WET
    * convention, a task-memory cliff for an oversized or adversarial
    * archive. Here the blob never becomes a row at all.)
    *
    * Failure split, deliberately asymmetric: an OPEN failure (missing
    * file, throttled object store, permission blip) AND any transient
    * MID-READ IOException throw out of the task so Spark's task retry
    * recovers the transient case — silently returning fewer records
    * would let a streaming checkpoint mark the archive as ingested and
    * drop its documents forever. CONTENT damage (truncated/corrupt gzip
    * members — ZipException/EOFException — and malformed records)
    * follows [[RecordIterator]]'s rules: records parsed before the
    * damage survive, nothing throws. Handles close on exhaustion and, as
    * a backstop for abandoned iterators (limit/take/task kill), on task
    * completion.
    */
  def docsFromArchivePaths(paths: Dataset[String]): Dataset[WarcDoc] = {
    val spark = paths.sparkSession
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    paths.mapPartitions { it =>
      it.flatMap { name =>
        val hp = new org.apache.hadoop.fs.Path(name)
        // the tag sits UNDER the buffer/gzip layers: any failure the
        // filesystem stream throws (vs cleanly ending) reaches refill as
        // UpstreamReadException, which no content-damage catch matches
        val raw = new java.io.BufferedInputStream(
          new TaggingInputStream(hp.getFileSystem(conf.value).open(hp)),
          64 * 1024)
        val in: java.io.InputStream =
          try {
            // sniff the gzip magic without consuming it — uncompressed
            // WARC is legal, same as the byte-array path. A gzip header
            // truncated mid-member-0 is CONTENT damage (nothing
            // inflatable), not an open failure.
            val pb = new java.io.PushbackInputStream(raw, 2)
            val b0 = pb.read(); val b1 = pb.read()
            if (b1 >= 0) pb.unread(b1)
            if (b0 >= 0) pb.unread(b0)
            if (b0 == 0x1F && b1 == 0x8B)
              // only TRUE format damage (bad header fields, header
              // truncated mid-member-0) reads as an empty archive; any
              // other IOException here is a transient read failure and
              // must fail the task for retry, same as the sniff reads
              try new GZIPInputStream(pb)
              catch {
                case _: java.util.zip.ZipException | _: EOFException =>
                  pb.close()
                  new java.io.ByteArrayInputStream(Array.empty[Byte])
              }
            else pb
          } catch {
            case e: Throwable => raw.close(); throw e
          }
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case _: java.io.IOException => () }
          })
        new ClosingIterator(
          new RecordIterator(in).map(toDoc(name, _)), in)
      }
    }
  }

  /** S-row source: scan a directory of `.warc.gz`/`.warc.wet.gz` files and
    * emit one row per record. The binaryFile source provides the FILE
    * LISTING only (content is column-pruned away, never read into rows);
    * each task then streams its archives straight off the filesystem
    * through the rolling-buffer parser ([[docsFromArchivePaths]]).
    */
  def warcScan(spark: SparkSession, path: String): Dataset[WarcDoc] = {
    import spark.implicits._
    docsFromArchivePaths(
      spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(col("path"))
        .as[String])
  }

  /** binaryFile's fixed schema — file-source STREAMS require it spelled
    * out (no inference pass on an unbounded source).
    */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** STREAMING WET ingestion: a binaryFile file-source stream of crawl
    * archives — each newly-landed archive flows through exactly
    * [[docsFromArchives]]'s per-record law in its micro-batch (stateless
    * flatMap, bookmark semantics from the file source's checkpoint). This
    * is the first mile of the continuously-fed corpus: compose with
    * [[graft.jobs.PretrainCorpus.ingestWave]] /
    * [[graft.streaming.IncrementalDedupStream]] in a foreachBatch sink.
    * Spec-proven: the streamed rows equal [[warcScan]] over the same
    * directory, with each file ingested exactly once across triggers.
    */
  def warcStream(spark: SparkSession, path: String): Dataset[WarcDoc] = {
    import spark.implicits._
    // same spill shape as warcScan: the file-source stream contributes
    // newly-landed PATHS (and the exactly-once bookkeeping); tasks stream
    // the bytes off the filesystem — no whole-blob rows in micro-batches
    docsFromArchivePaths(
      spark.readStream.format("binaryFile")
        .schema(binaryFileSchema)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(col("path"))
        .as[String])
  }
}
