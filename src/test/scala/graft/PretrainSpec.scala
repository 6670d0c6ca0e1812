package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PiiFunctions
import graft.operators.Dedup
import graft.ops.{LineDedup, Packing, Sampling}

/** Unit semantics for the pretraining-corpus operators: PII redaction,
  * corpus-level line dedup, sequence packing, mixture sampling, TF-IDF.
  */
class PretrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- PII redaction -------------------------------------------------

  private def redact1(s: String): String =
    Seq(s).toDF("t").select(PiiFunctions.redactPii(col("t"))).as[String].head()

  test("PII: email, phone, ipv4 each redacted to its typed token") {
    assert(redact1("mail bob.smith+x@corp.example.org now") ==
      "mail <EMAIL> now")
    assert(redact1("call 415-555-0123 or 415.555.0123") ==
      "call <PHONE> or <PHONE>")
    assert(redact1("host 192.168.001.1 up") == "host <IP> up")
  }

  test("PII: all three kinds in one text, counts match the chain stages") {
    val df = Seq("a@b.co then 10.0.0.1 then 123-456-7890 end").toDF("t")
    val r = df.select(
      PiiFunctions.redactPii(col("t")).as("red"),
      PiiFunctions.emailCount(col("t")).as("e"),
      PiiFunctions.ipv4Count(col("t")).as("i"),
      PiiFunctions.phoneCount(col("t")).as("p")).head()
    assert(r.getString(0) == "<EMAIL> then <IP> then <PHONE> end")
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) == ((1, 1, 1)))
  }

  test("PII: dotted digits inside an email host are not double-counted as IP") {
    val df = Seq("ping admin@10.1.2.3.example.com done").toDF("t")
    val r = df.select(
      PiiFunctions.emailCount(col("t")).as("e"),
      PiiFunctions.ipv4Count(col("t")).as("i"),
      PiiFunctions.redactPii(col("t")).as("red")).head()
    assert(r.getInt(0) == 1)
    assert(r.getInt(1) == 0, "host digits were redacted as a separate IP")
    assert(r.getString(2) == "ping <EMAIL> done")
  }

  test("PII: chain is idempotent and clean text is untouched") {
    val clean = "the quick brown fox"
    assert(redact1(clean) == clean)
    val once = redact1("x a@b.co 1.2.3.4 111-222-3333")
    assert(redact1(once) == once)
  }

  // ---- line dedup ----------------------------------------------------

  test("toLines chunks exact and ragged token counts; blank text is empty") {
    val df = Seq(
      ("a b c d e f g", 1),       // exactly one 7-token line
      ("a b c d e f g h", 2),     // 7 + 1 → ragged tail line
      ("", 0), ("   ", 0)
    ).toDF("t", "want")
    val got = df.select(size(LineDedup.toLines(col("t"), 7)).as("n"),
      col("want")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    val ragged = Seq("a b c d e f g h").toDF("t")
      .select(LineDedup.toLines(col("t"), 7)).as[Seq[String]].head()
    assert(ragged == Seq("a b c d e f g", "h"))
  }

  test("keepFirstOccurrence keeps exactly the minimal (doc, idx) per line") {
    val lines = Seq(
      (1L, 0, "shared"), (1L, 1, "only-in-1"),
      (2L, 0, "shared"), (2L, 1, "shared"), (2L, 2, "only-in-2"),
      (3L, 0, "shared")
    ).toDF("doc_id", "idx", "line")
    val kept = LineDedup.keepFirstOccurrence(lines, "doc_id", "idx", "line")
      .select("doc_id", "idx").as[(Long, Int)].collect().toSet
    assert(kept == Set((1L, 0), (1L, 1), (2L, 2)))
  }

  test("a fully-duplicated later doc loses every line") {
    val lines = Seq(
      (1L, 0, "x y z"), (1L, 1, "p q r"),
      (9L, 0, "x y z"), (9L, 1, "p q r")
    ).toDF("doc_id", "idx", "line")
    val kept = LineDedup.keepFirstOccurrence(lines, "doc_id", "idx", "line")
    assert(kept.filter(col("doc_id") === 9L).count() == 0)
    assert(kept.filter(col("doc_id") === 1L).count() == 2)
  }

  // ---- sequence packing ----------------------------------------------

  test("packing: token conservation, contiguous bins, correct spans") {
    val docs = Seq(
      ("s1", 1L, 300), ("s1", 2L, 300), ("s1", 3L, 500), ("s1", 4L, 2),
      ("s2", 5L, 1024), ("s2", 6L, 1)
    ).toDF("source", "doc_id", "n_tok")
    val packed = Packing.packSequential(docs, "source", "doc_id", "n_tok", 512)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("pack_start"), r.getAs[Long]("bin_first"),
        r.getAs[Long]("bin_last"))).sortBy(x => (x._1, x._2))
    // s1: starts 0,300,600,1100; doc2 spans 300..599 → bins 0..1
    assert(packed(0) == (("s1", 1L, 0L, 0L, 0L)))
    assert(packed(1) == (("s1", 2L, 300L, 0L, 1L)))
    assert(packed(2) == (("s1", 3L, 600L, 1L, 2L)))
    assert(packed(3) == (("s1", 4L, 1100L, 2L, 2L)))
    // s2 packs independently of s1 (starts at 0 again)
    assert(packed(4) == (("s2", 5L, 0L, 0L, 1L)))
    assert(packed(5) == (("s2", 6L, 1024L, 2L, 2L)))
  }

  test("packing: sharded form ≡ window form row-for-row, at every shard " +
    "count, skewed sources and sparse ids included") {
    // one giant source + two small ones (the real crawl shape), sparse and
    // non-zero-based ids, zero-token docs, a single-doc source
    val rng = new scala.util.Random(7)
    val rows =
      (1 to 500).map(i => ("cc", 1000L + i * 7L, rng.nextInt(900))) ++
      (1 to 20).map(i => ("wiki", 50L + i * 3L, rng.nextInt(900))) ++
      Seq(("one", 42L, 5)) ++
      Seq(("cc", 100L, 0), ("wiki", 51L, 0)) // zero-token docs
    val docs = rows.toDF("source", "doc_id", "n_tok").repartition(7)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "doc_id", "n_tok", "pack_start", "bin_first",
        "bin_last")
      .collect().map(_.toSeq).sortBy(_.toString)
    val want = canon(
      Packing.packSequential(docs, "source", "doc_id", "n_tok", 512))
    for (ns <- Seq(1, 3, 8, 64)) {
      val got = canon(
        Packing.packSharded(docs, "source", "doc_id", "n_tok", 512, ns))
      assert(got.toSeq == want.toSeq, s"numShards=$ns diverged")
    }
  }

  test("packing: a zero-token doc occupies no bin (bin_last clamped)") {
    val docs = Seq(("s", 1L, 512), ("s", 2L, 0), ("s", 3L, 1))
      .toDF("source", "doc_id", "n_tok")
    val byId = Packing.packSequential(docs, "source", "doc_id", "n_tok", 512)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("bin_first"), r.getAs[Long]("bin_last")))).toMap
    assert(byId(2L) == ((1L, 1L)), "empty doc must not span backwards")
    assert(byId(3L) == ((1L, 1L)))
  }

  // ---- mixture sampling ----------------------------------------------

  test("mixture: subset, deterministic across re-runs, rate 1 keeps all") {
    val docs = (1L to 400L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val rates = Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0)
    val kept = docs.filter(
      Sampling.mixtureKeep(col("doc_id"), col("source"), rates))
    val k1 = kept.select("doc_id").as[Long].collect().toSet
    val k2 = docs.filter(
        Sampling.mixtureKeep(col("doc_id"), col("source"), rates))
      .select("doc_id").as[Long].collect().toSet
    assert(k1 == k2, "re-run changed membership")
    assert(kept.filter(col("source") === "s0").count() == 100, "rate 1.0 must keep all")
    assert(kept.filter(col("source") === "s2").count() == 0, "rate 0.0 must keep none")
    val s1n = kept.filter(col("source") === "s1").count()
    assert(s1n > 25 && s1n < 75, s"rate 0.5 kept $s1n of 100")
    // unlisted stratum (s3) is dropped — a mixture is a whitelist
    assert(kept.filter(col("source") === "s3").count() == 0)
  }

  test("mixture salt decorrelates from split assignment") {
    val docs = (1L to 2000L).map(i => (i, "s")).toDF("doc_id", "source")
    val withSplit = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.5, "test" -> 0.5))
    val kept = withSplit.filter(
      Sampling.mixtureKeep(col("doc_id"), col("source"), Map("s" -> 0.5)))
    val trainKept = kept.filter(col("split") === "train").count().toDouble
    val trainAll = withSplit.filter(col("split") === "train").count().toDouble
    val ratio = trainKept / trainAll
    assert(ratio > 0.4 && ratio < 0.6,
      s"mixture survival within train split should be ~0.5, got $ratio")
  }

  // ---- tf-idf --------------------------------------------------------

  test("tfidf argmax prefers high-tf rare terms, term-asc tiebreak") {
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, "apple apple common"),
      (2L, "banana common common"),
      (3L, "common cherry cherry")).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("tok_df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("tok_df").cast("double")).desc,
        col("tok"))
    val top = tf.join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "tok").as[(Long, String)].collect().toMap
    // doc1: apple tf=2 df=1 → 2.0 wins over common 1/3
    assert(top(1L) == "apple")
    // doc2: banana 1/1 = 1.0 beats common 2/3
    assert(top(2L) == "banana")
    assert(top(3L) == "cherry")
  }

  // ---- decontamination -----------------------------------------------

  private val benchWords =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"

  test("dup-span fraction: positional counting across and within docs") {
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, "x y z w"),     // grams (n=3): "x y z", "y z w"
      (2L, "x y z q"),     // shares "x y z" with doc 1
      (3L, "p q r"),       // one unique gram
      (4L, "aa"),          // too short: 0 grams
      (5L, "m m m m m")    // "m m m" at 3 positions — intra-doc repetition
    ).toDF("doc_id", "text")
    val got = Decontaminate.dupSpanReport(corpus, "doc_id", "text", n = 3)
      .select($"doc_id", $"n_grams", $"n_dup", $"dup_fraction")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
    assert(got(5L) == ((3L, 3L, 1.0)))
    // the hashed gram keys agree with string keys counted here
    // (xxhash64 collision-free here)
    val pos = corpus.select($"doc_id", explode(org.apache.spark.sql.graftx
      .VectorExpressions.shingleArrAll($"text", 3)).as("g"))
    val str = pos.join(pos.groupBy($"g").agg(count(lit(1)).as("c")), "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(($"c" > 1).cast("long")).as("n_dup"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(str == got.collect { case (id, (g, d, _)) if g > 0 => id -> ((g, d)) })
  }

  test("bpe train: hand-computed merge sequence, deterministic tiebreak") {
    import graft.ops.Bpe
    // the classic BPE teaching corpus. Round 1 pair counts: (u,g)=20
    // (p,u)=17 (u,n)=16 (h,u)=15 (b,u)=4 (g,s)=5 → merge ug. Round 2:
    // (u,n)=16 (h,ug)=15 (p,u→p,ug)=5... → merge un. Round 3: (h,ug)=15.
    val counts = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L),
      ("hugs", 5L))
    assert(Bpe.train(counts, 3) == Seq(("u", "g"), ("u", "n"), ("h", "ug")))
    // exact tie on counts → lexicographically smaller pair merges first
    assert(Bpe.train(Seq(("ab", 2L), ("cd", 2L)), 1) == Seq(("a", "b")))
    // early stop: single-char words have no pairs
    assert(Bpe.train(Seq(("a", 9L), ("b", 1L)), 5) == Seq())
  }

  test("bpe encode: greedy lowest-rank apply, round-trip, unseen chars pass") {
    import graft.ops.Bpe
    import org.apache.spark.sql.graftx.BpeExpressions
    val counts = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L),
      ("hugs", 5L))
    val merges = Bpe.train(counts, 3)
    val got = Seq("Hugs, bun!", "mug", "", "pun hug pug")
      .toDF("text")
      .select(BpeExpressions.bpeEncode($"text", merges).as("t"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("hug", "s", "b", "un")) // normalize then encode
    assert(got(1) == Seq("m", "ug")) // 'm' unseen: single-char token
    assert(got(2) == Seq())
    assert(got(3) == Seq("p", "un", "hug", "p", "ug"))
    // round-trip: concatenated tokens == normalized text minus spaces
    got.zip(Seq("hugsbun", "mug", "", "punhugpug")).foreach {
      case (toks, want) => assert(toks.mkString == want)
    }
  }

  test("cdc chunking: lossless, bounded, resyncs after edits, shares middles") {
    import org.apache.spark.sql.graftx.ChunkExpressions
    // deterministic pseudo-random word stream (md5-derived, no RNG state)
    def words(salt: String, n: Int): String = (0 until n).map { i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt-$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
    }.mkString(" ")
    val base = words("base", 400) // ~2800 normalized chars
    val shared = words("shared", 250)
    val fixtures = Seq(
      (1L, base),
      (2L, "zzz " + base), // front edit: chunk stream must resync
      (3L, words("pfxA", 40) + " " + shared + " " + words("sfxA", 40)),
      (4L, words("pfxB", 40) + " " + shared + " " + words("sfxB", 40)),
      (5L, "short doc"))
    val got = fixtures.toDF("doc_id", "text")
      .select($"doc_id",
        ChunkExpressions.cdcChunks($"text").as("ch"))
      .as[(Long, Seq[String])].collect().toMap
    // lossless reassembly + bounds (last chunk may run short)
    fixtures.foreach { case (id, raw) =>
      val norm = raw.toLowerCase.replaceAll("[^a-z0-9 ]", "")
        .replaceAll(" +", " ").trim
      assert(got(id).mkString == norm, s"doc $id not lossless")
      assert(got(id).forall(_.length <= 256), s"doc $id over maxLen")
      assert(got(id).dropRight(1).forall(_.length >= 32), s"doc $id under minLen")
    }
    // determinism across evaluations
    val again = fixtures.toDF("doc_id", "text")
      .select($"doc_id", ChunkExpressions.cdcChunks($"text").as("ch"))
      .as[(Long, Seq[String])].collect().toMap
    assert(again == got)
    // front edit: the two chunk streams resynchronize — the tails agree
    val t1 = got(1L); val t2 = got(2L)
    val common = t1.reverse.zip(t2.reverse).takeWhile { case (a, b) => a == b }
    assert(common.size >= t1.size / 2,
      s"resync too weak: ${common.size} of ${t1.size} tail chunks shared")
    // different docs sharing a long middle share interior chunks verbatim
    val inter = got(3L).toSet.intersect(got(4L).toSet)
    assert(inter.nonEmpty, "no shared interior chunks across docs 3/4")
  }

  test("char-bigram LM: hand-computed table, integer scores, unseen chars skip") {
    import graft.ops.CharLm
    import org.apache.spark.sql.graftx.CharLmExpressions
    // corpus "ab ab": bigrams (a,b)x2, (b,' ')x1, (' ',a)x1
    // alphabet sorted = " ab"; V=3; u(a)=2, u(b)=1, u(' ')=1
    val corpus = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val bg = CharLm.bigramCounts(corpus, "text").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
    assert(bg.toMap == Map(("a", "b") -> 2L, ("b", " ") -> 1L, (" ", "a") -> 1L))
    val m = CharLm.train(bg)
    assert(m.alphabet == " ab")
    def lq(b: Long, u: Long) =
      Math.round(Math.log((b + 1).toDouble / (u + 3).toDouble) * 1e6)
    val a = 3
    assert(m.tableQ(1 * a + 2) == lq(2, 2)) // (a,b): ln(3/5) → -510826
    assert(m.tableQ(2 * a + 0) == lq(1, 1)) // (b,' '): ln(2/4) → -693147
    assert(m.tableQ(0 * a + 1) == lq(1, 1)) // (' ',a)
    assert(m.tableQ(1 * a + 1) == lq(0, 2)) // unseen (a,a): ln(1/5)
    // scoring: "ab ab" has 4 in-alphabet bigrams; "ab qz" skips pairs
    // touching q/z (out of alphabet) and counts only (a,b) and (b,' ')
    val scores = Seq((1L, "AB ab!"), (2L, "ab qz"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        CharLmExpressions.charLmScore($"text", m).as("s"))
      .select($"doc_id", $"s.n_bi", $"s.sum_q")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(scores(1L) == ((4L, 2 * lq(2, 2) + 2 * lq(1, 1))))
    assert(scores(2L) == ((2L, lq(2, 2) + lq(1, 1))))
  }

  test("span removal: first occurrence survives, later spans cut, coverage exact") {
    import graft.operators.Decontaminate
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val corpus = Seq(
      (1L, "s1 s2 s3 x y"),        // holds the FIRST "s1 s2 s3" → untouched
      (2L, "g s1 s2 s3 d"),        // dup span at p1..3 cut → keeps "g d"
      (3L, "u1 u2 u3 u1 u2 u3"),   // intra-doc repeat: second copy cut
      (4L, "zz"),                  // < n tokens: passes through whole
      (5L, "")                     // empty doc: 0 tokens, md5("")
    ).toDF("doc_id", "text")
    val got = Decontaminate.removeDupSpans(corpus, "doc_id", "text", n = 3)
      .select($"doc_id", $"n_toks", $"n_kept", $"kept_fp")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((5L, 5L, md5hex("s1 s2 s3 x y"))))
    assert(got(2L) == ((5L, 2L, md5hex("g d"))))
    assert(got(3L) == ((6L, 3L, md5hex("u1 u2 u3"))))
    assert(got(4L) == ((1L, 1L, md5hex("zz"))))
    assert(got(5L) == ((0L, 0L, md5hex(""))))
  }

  test("decontaminate flags exactly the docs sharing a 13-gram with the benchmark") {
    import graft.operators.Decontaminate
    val bench = Seq((100L, benchWords)).toDF("doc_id", "text")
    val corpus = Seq(
      // embeds words 1..13 of the benchmark → shares one 13-gram
      (1L, "prefix alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike suffix"),
      // same vocabulary, shuffled order → no shared 13-gram
      (2L, "november mike lima kilo juliet india hotel golf foxtrot echo delta charlie bravo alpha"),
      (3L, "too short"), // < 13 tokens: must still appear, n_hits = 0
      (4L, "a completely unrelated fourteen word sentence about nothing that matters for any benchmark overlap here")
    ).toDF("doc_id", "text")
    val rep = Decontaminate
      .contaminationReport(corpus, "doc_id", "text", bench, "text")
      .orderBy("doc_id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(rep == Seq((1L, 1L, 1), (2L, 0L, 0), (3L, 0L, 0), (4L, 0L, 0)))
    val kept = corpus.join(Decontaminate
        .contaminationReport(corpus, "doc_id", "text", bench, "text")
        .filter($"contaminated" === 1).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L, 4L))
  }

  test("decontaminate: the ASCII gram chain is blind to CJK overlap") {
    import graft.operators.Decontaminate
    val cjk = "深度 学習 模型 的 預訓練 資料 污染 檢查 非常 重要 所以 必須 執行 完畢"
    val bench = Seq((100L, cjk)).toDF("doc_id", "text")
    val corpus = Seq(
      // words 1..13 of the benchmark, embedded — one shared 13-gram
      (1L, "前綴 " + cjk.split(" ").take(13).mkString(" ") + " 後綴"),
      (2L, "完全 不同 的 十四 個 詞 組成 的 句子 沒有 任何 重疊 存在 喔")
    ).toDF("doc_id", "text")
    // ASCII chain normalizes CJK to empty → no grams, silently blind
    val ascii = Decontaminate
      .contaminationReport(corpus, "doc_id", "text", bench, "text")
      .orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(ascii == Seq((1L, 0L, 0), (2L, 0L, 0)))
  }

  test("decontaminate hashed and string gram keys agree; bench side broadcasts") {
    import graft.operators.Decontaminate
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val hashed = Decontaminate
      .contaminationReport(corpus, "doc_id", "text", bench, "text")
    // string-keyed overlap counted here: distinct bench grams joined on
    // each document's (distinct) gram strings
    def grams(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
      explode(org.apache.spark.sql.graftx.VectorExpressions
        .shingleArr($"text", 13)).as("g"))
    val strs = grams(corpus)
      .join(grams(bench).select("g").distinct(), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .as[(Long, Long)].collect().toMap
    assert(strs.nonEmpty)
    val rep = hashed.as[(Long, Long, Int)].collect()
    assert(rep.length == corpus.count())
    assert(rep.collect { case (id, h, _) if h > 0 => id -> h }.toMap == strs)
    assert(rep.forall { case (_, h, c) => c == (if (h >= 1) 1 else 0) })
    // the corpus side must meet the benchmark grams in a broadcast join —
    // a sort-merge there would shuffle every corpus gram at 100 TB
    val plan = hashed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("semantic decontamination: scaled copy flagged, orthogonal clean, max over bench") {
    import graft.operators.Decontaminate
    val bench = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)), // same direction, scaled → cos 1
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to both → cos 0
      (3L, Array(1.0f, 1.0f, 0.0f, 0.0f)), // cos 1/√2 vs bench 100
      (4L, Array(0.1f, 0.0f, 3.0f, 0.0f))  // near-copy of bench 101, not 100
    ).toDF("vec_id", "embedding")
    val rep = Decontaminate.semanticContamination(
      corpus, "vec_id", "embedding", bench, "embedding", minCosine = 0.9)
    val rows = rep.orderBy("vec_id").as[(Long, Double, Int)].collect().toSeq
    assert(rows.map(_._1) == Seq(1L, 2L, 3L, 4L)) // every corpus row reports
    assert(rows.map(_._3) == Seq(1, 0, 0, 1))
    assert(math.abs(rows(0)._2 - 1.0) < 1e-12)
    assert(math.abs(rows(1)._2 - 0.0) < 1e-12)
    assert(math.abs(rows(2)._2 - 1.0 / math.sqrt(2.0)) < 1e-9)
    // the benchmark must arrive by broadcast — any shuffle of the corpus
    // vectors here is the 100 TB failure mode
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("C4 rules: each line rule and page rule fires exactly as published") {
    import graft.ops.C4Rules
    val docs = Seq(
      // 3 good lines → kept page
      (1L, "one two three four five six.\nseven eight nine ten eleven!\n\"quoted line with five words\""),
      // line rules: no terminal punct / under 5 words / javascript mention
      (2L, "one two three four five six\nshort line here.\nenable javascript to view this page.\ngood line with five words."),
      // page rules: lorem ipsum, curly brace, too few kept lines
      (3L, "Lorem Ipsum dolor sit amet filler.\ngood line with five words.\nanother good line right here.\nthird good line goes here."),
      (4L, "var x = { a: 1 };\ngood line with five words.\nanother good line right here.\nthird good line goes here."),
      (5L, "only one good line here.\nand two good lines here."),
      (6L, "")
    ).toDF("doc_id", "text")
    val r = C4Rules.lineFilterReport(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "has_lorem", "has_brace", "page_keep")
      .as[(Long, Int, Int, Int, Int, Int)].collect().toSeq
    assert(r == Seq(
      (1L, 3, 3, 0, 0, 1),
      (2L, 4, 1, 0, 0, 0), // 3 of 4 lines cut, page under the 3-line floor
      (3L, 4, 4, 1, 0, 0), // every line passes but lorem ipsum kills the page
      (4L, 4, 3, 0, 1, 0), // curly brace kills the page
      (5L, 2, 2, 0, 0, 0), // all lines fine, still under the floor
      (6L, 0, 0, 0, 0, 0)))
    // projection only — the rules must not cost a shuffle
    val plan = C4Rules.lineFilterReport(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  // ---- URL canonicalization ------------------------------------------

  private def canon(u: String): String = {
    import graft.functions.UrlFunctions.canonicalizeUrl
    Seq(u).toDF("u").select(canonicalizeUrl(col("u"))).as[String].head()
  }

  test("URL canonicalization collapses every crawl decoration") {
    assert(canon("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag") ==
      "http://example.com/a/b?a=1&b=2")
    assert(canon("https://site.org:443/") == "https://site.org/")
    assert(canon("http://a.com") == "http://a.com/")
    assert(canon("http://a.com//x///y") == "http://a.com/x/y")
    assert(canon("http://a.com/x?utm_campaign=z&gclid=1&fbclid=2&ref=h") ==
      "http://a.com/x")
  }

  test("URL canonicalization keeps real distinctions") {
    // non-default port, non-tracking params, and ref-prefixed names survive
    assert(canon("http://site.org:8080/x") == "http://site.org:8080/x")
    assert(canon("http://a.com/x?referrer=1") == "http://a.com/x?referrer=1")
    assert(canon("https://a.com:80/x") == "https://a.com:80/x") // 80 ≠ https default
    // param sort is byte-wise, shared with the oracle's list_sort
    assert(canon("http://a.com/x?b=1&A=2") == "http://a.com/x?A=2&b=1")
    // distinct pages stay distinct
    assert(canon("http://a.com/x") != canon("http://a.com/y"))
  }

  // ---- BM25 + token entropy ------------------------------------------

  private def miniDocs(rows: (Long, String)*): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_docs").toString
    rows.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("token entropy: repeated-token doc is 0, all-distinct is n*q(n), empty is 0") {
    val dir = miniDocs(
      1L -> "spam spam spam spam", // one token type: H_tot = 0
      2L -> "a b c d",             // uniform: H_tot = n ln n (all c = 1)
      3L -> "")                    // no tokens at all
    val r = SparkEntry.queries("t_token_entropy")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val q4 = math.round(math.log(4.0) * 1e6)
    assert(r == Seq((1L, 4L, 0L), (2L, 4L, 4L * q4), (3L, 0L, 0L)))
  }

  test("passage windows: coverage, overlap, tail clamp, empty doc dropped") {
    import graft.ops.Chunking
    // 10 tokens, window 4, stride 3 → starts 0,3,6,9; last is a 1-token tail
    val df = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, ""), (3L, "solo")).toDF("doc_id", "text")
    val got = Chunking.passageWindows(df, "doc_id", "text", window = 4,
        stride = 3)
      .orderBy(col("doc_id"), col("chunk_index"))
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._4)) === Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 4L), (1L, 3L, 9L, 1L),
      (3L, 0L, 0L, 1L)))
    assert(got.head._5 === "t0 t1 t2 t3")
    assert(got(3)._5 === "t9")
    // stride ≤ window ⇒ every token covered: union of [start, start+n)
    val covered = got.filter(_._1 == 1L)
      .flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered === (0L until 10L).toSet)
  }

  test("sorted-neighborhood pairs equal the sequential single-window set") {
    import graft.operators.Dedup
    // keys crafted so near-duplicates sort adjacently across many partitions.
    // AQE's partition coalescing is disabled for this test: at 400 rows the
    // default coalesce collapses the range shuffle to 1 partition, which
    // would silently skip the distributed ranking + offset path this
    // function exists for (the exact hole that hid the pre-r5 __pid bug).
    val docs = (0L until 400L)
      .map(i => (i, f"key${i / 2}%04d tail$i"))
    val df = docs.toDF("doc_id", "text")
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val got =
      try {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        val nParts = df
          .repartitionByRange(
            graft.functions.TextFunctions.normalize(col("text")),
            col("doc_id"))
          .rdd.getNumPartitions
        assert(nParts > 1,
          s"range shuffle coalesced to $nParts partition(s) — multi-partition rank path not covered")
        Dedup.sortedNeighborhoodPairs(df, "doc_id",
            graft.functions.TextFunctions.normalize(col("text")), w = 4)
          .as[(Long, Long, Long)].collect().toSet
      } finally {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      }
    // sequential reference: sort by (normalized key, id), all pairs < w apart
    val norm = docs.map { case (i, t) =>
      (i, t.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim)
    }
    val order = norm.sortBy { case (i, k) => (k, i) }.map(_._1)
    val want = (for {
      a <- order.indices; b <- (a + 1) until math.min(a + 4, order.size)
    } yield (order(a), order(b), (b - a).toLong)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("query likelihood: smoothed scores are negative log-ratios, ranked " +
    "desc, and every doc (hit or not) is scoreable") {
    val got = graft.SparkEntry.queries("t_query_likelihood")(
      spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 20)
    // num = tf + μ·p ≤ dl + μ = den ⇒ every per-term log-ratio ≤ 0
    assert(got.forall(_._3 <= 0L), got.take(3).mkString(", "))
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq)
  }

  test("noveltyScores: first doc scores 10^6, exact recrawl 0, partial " +
    "overlap counts only unseen shingles; short docs score (0,0,0)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // 2 shingles, both novel
      (2L, "alpha beta gamma delta"),        // exact recrawl → 0
      (3L, "beta gamma delta epsilon zeta"), // 3 shingles, 2 unseen
      (4L, "too short")                      // < 3 tokens → no shingles
    ).toDF("doc_id", "text")
    val got = Dedup.noveltyScores(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1000000L),
      (2L, 2L, 0L, 0L),
      (3L, 3L, 2L, 666666L), // 2·10⁶ div 3 truncates
      (4L, 0L, 0L, 0L)), got.toString)
  }

  test("Luhn card screen: the classic test card validates, off-by-one " +
      "checksum fails, and only validated candidates redact") {
    val df = Seq(
      "pay 4242424242424242 now",          // valid (classic test number)
      "ref 4242424242424241 stays",        // checksum-broken -> untouched
      "two 4000056655665556 and 1234567812345678", // valid + invalid
      "no cards here 123456").toDF("t")
    val got = df.select(
      PiiFunctions.cardCandidateCount(col("t")).as("n"),
      PiiFunctions.cardValidCount(col("t")).as("v"),
      PiiFunctions.redactValidCards(col("t")).as("r"))
      .as[(Int, Int, String)].collect().toSeq
    assert(got == Seq(
      (1, 1, "pay <CARD> now"),
      (1, 0, "ref 4242424242424241 stays"),
      (2, 1, "two <CARD> and 1234567812345678"),
      (0, 0, "no cards here 123456")), got.toString)
  }

  // ---- Winnowing fingerprints ----------------------------------------

  private def seqWinnow(text: String, k: Int, w: Int): Set[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = text.toLowerCase.replaceAll("[^a-z0-9 ]", "")
      .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
    if (toks.length < k) Set.empty
    else {
      val grams = toks.sliding(k).map(g => md5hex(g.mkString(" "))).toVector
      (0 until math.max(grams.length - w + 1, 1))
        .map(j => grams.slice(j, j + w).min).toSet
    }
  }

  test("winnowFingerprints: selected set matches the sequential " +
      "Schleimer-Wilkerson-Aiken reference on mixed-length docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "quick brown fox jumps over the lazy dog"), // shared long run
      (3L, "short run"),                               // < k tokens → empty
      (4L, "one two three"),                           // exactly k tokens
      (5L, "alpha beta gamma delta epsilon"))          // m < w window
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(df, "doc_id", "text")
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (k2, v) => (k2, v.map(_._2).toSet) }
    val want = docs.map { case (i, t) => (i, seqWinnow(t, 3, 4)) }
      .filter(_._2.nonEmpty).toMap
    assert(got == want)
  }

  test("winnowing guarantee: any shared token run of length >= w+k-1 " +
      "yields a shared fingerprint, and density is ~2/(w+1)") {
    val shared = "lorem ipsum dolor sit amet consectetur" // 6 = w+k-1 tokens
    val docs = Seq(
      (1L, s"prefix junk words here $shared and then tail content x"),
      (2L, s"$shared totally different continuation of this doc y"))
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (k2, v) => (k2, v.map(_._2).toSet) }
    assert((fp(1L) & fp(2L)).nonEmpty, "guarantee violated")
    // density: selected ≤ windows, and strictly below the gram count
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text", minScoreQ = 1L)
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.length == 1 && pairs.head._1 == 1L && pairs.head._2 == 2L)
    assert(pairs.head._3 >= 1L && pairs.head._4 >= 1L)
  }

  test("dsir: target-vocabulary docs outrank disjoint-vocabulary docs, " +
      "deterministically") {
    import graft.ops.Dsir
    // target (ids 1-3) speaks a distinct vocabulary; raw doc 10 reuses it,
    // raw doc 11 shares nothing with the target, raw doc 12 is mixed
    val df = Seq(
      (1L, "quantum flux torsion lattice", "tgt"),
      (2L, "flux lattice quantum spin", "tgt"),
      (3L, "torsion spin flux quantum", "tgt"),
      (10L, "flux quantum lattice torsion spin", "raw"),
      (11L, "banana apple cherry mango papaya", "raw"),
      (12L, "quantum flux banana apple cherry", "raw")
    ).toDF("doc_id", "text", "source")
    val w = Dsir.importanceWeights(df, "doc_id", "text",
        col("source") === "tgt")
      .as[(Long, Long)].collect().toMap
    assert(w(10L) > w(12L) && w(12L) > w(11L), w.toString)
    assert(w(11L) < 0L, s"disjoint doc must score negative: $w")
    // deterministic across partitionings
    val w2 = Dsir.importanceWeights(df.repartition(5), "doc_id", "text",
        col("source") === "tgt")
      .as[(Long, Long)].collect().toMap
    assert(w == w2)
  }

  test("bm25: more query-term hits at equal length ranks higher; no-hit docs absent") {
    val dir = miniDocs(
      1L -> "data data query x", // two terms, three hits
      2L -> "data x y z",        // one hit, same doc length
      3L -> "x y z w")           // zero query-term hits
    val r = SparkEntry.queries("t_bm25_topk")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 2L), s"unexpected ranking: $r")
    assert(r(0)._3 > r(1)._3, "more hits must outscore at equal dl")
    assert(r.forall(_._2 == 4L))
  }

  // ---- Stupid Backoff LM ---------------------------------------------

  test("stupid backoff: all three backoff branches score per the hand formula") {
    import graft.ops.NgramLm
    val train = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val (bi, uni, n) = NgramLm.counts(train, "text")
    assert(n == 4L)
    val docs = Seq((0L, "a b a c"), (1L, "a b z q"), (3L, "c a"), (2L, ""))
      .toDF("doc_id", "text")
    val got = NgramLm.score(docs, "doc_id", "text", bi, uni, n)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    def q(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // seen-bigram branch: (a,b) c12=1/c(a)=2, (b,a) 1/1, (a,c) 1/2
    val d0 = q(math.log(1.0 / 2.0)) + q(math.log(1.0)) + q(math.log(1.0 / 2.0))
    // OOV floor branch: (b,z) and (z,q) back all the way off (z, q unseen)
    val d1 = q(math.log(1.0 / 2.0)) + 2L * q(math.log(0.4 * 0.4 / 4.0))
    // unigram-backoff branch: (c,a) unseen bigram, a seen twice
    val d3 = q(math.log(0.4 * 2.0 / 4.0))
    assert(got(0L) == ((3L, d0)), got.toString)
    assert(got(1L) == ((3L, d1)), got.toString)
    assert(got(3L) == ((1L, d3)), got.toString)
    assert(got(2L) == ((0L, 0L)), "empty doc must score (0, 0)")
  }

  // ---- Naive Bayes reference classifier ------------------------------

  test("naive bayes: planted disjoint vocabularies are recovered on held-out docs") {
    import graft.ops.NaiveBayes
    // train docs: class-pure vocabularies; held-out docs reuse each side's
    // words in fresh combinations — the classifier must label them by side
    val train = Seq(
      (1L, "alpha beta gamma alpha", true), (2L, "beta gamma beta delta", true),
      (3L, "alpha delta gamma beta", true),
      (4L, "omega psi chi omega", false), (5L, "psi chi psi phi", false),
      (6L, "omega phi chi psi", false))
      .toDF("doc_id", "text", "is_ref")
    val model = NaiveBayes.train(train, "text", col("is_ref"), 100)
    val test = Seq((10L, "gamma delta alpha"), (11L, "phi omega chi"))
      .toDF("doc_id", "text")
    val preds = NaiveBayes.score(test, "text", model)
      .select(col("doc_id"), col("pred"), col("margin_q"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, p, m) => id -> ((p, m)) }.toMap
    assert(preds(10L)._1 == 1L && preds(10L)._2 > 0,
      s"reference-vocab doc misclassified: $preds")
    assert(preds(11L)._1 == 0L && preds(11L)._2 < 0,
      s"other-vocab doc misclassified: $preds")
  }

  test("naive bayes: all-OOV doc scores exactly the prior margin; empty doc too") {
    import graft.ops.NaiveBayes
    val train = Seq((1L, "aa bb", true), (2L, "cc dd", false), (3L, "cc ee", false))
      .toDF("doc_id", "text", "is_ref")
    val model = NaiveBayes.train(train, "text", col("is_ref"), 100)
    val priorMargin = model.posPrior - model.negPrior
    // 2 ref of 3 docs? no: 1 ref, 2 other → prior favors other
    assert(priorMargin < 0)
    val r = NaiveBayes.score(
        Seq((10L, "zz yy xx"), (11L, "")).toDF("doc_id", "text"), "text", model)
      .select(col("doc_id"), col("margin_q"), col("sum_ref_q"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, m, sr) => id -> ((m, sr)) }.toMap
    // all-OOV: every token takes the pooled OOV estimate for each class
    assert(r(10L)._1 == 3 * (model.posOov - model.negOov) + priorMargin)
    assert(r(11L) == ((priorMargin, 0L)), s"empty doc must be prior-only: $r")
  }

  test("naive bayes: vocabulary cap kicks in and is deterministic across partitionings") {
    import graft.ops.NaiveBayes
    val docs = (1L to 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} common", i % 3 == 0)).toDF("doc_id", "text", "is_ref")
    val m1 = NaiveBayes.train(docs, "text", col("is_ref"), 4)
    val m2 = NaiveBayes.train(docs.repartition(7), "text", col("is_ref"), 4)
    assert(m1 == m2, "model must not depend on input partitioning")
    assert(m1.posTable.size == 4 && m1.posTable.contains("common"))
    // capped-out tokens flow into the pooled OOV mass, not silently dropped
    assert(m1.posOov != m1.negOov || m1.posTable != m1.negTable)
  }

  test("suffix array: prefix doubling reproduces the textbook banana " +
    "order and the naive sort on a multi-doc corpus with tied suffixes") {
    import graft.operators.Suffix
    val banana = Seq((1L, "banana")).toDF("doc_id", "text")
    val got = Suffix.suffixArray(banana, "doc_id", "text")
      .orderBy("rank").select("off").as[Int].collect().toSeq
    assert(got == Seq(5, 3, 1, 0, 4, 2), s"banana order: $got")
    // multi-doc, byte-identical suffixes ("abc" twice) tie by (doc, off),
    // and an empty doc contributes no positions
    val docs = Seq((10L, "xyzabc"), (20L, "abc"), (30L, ""))
      .toDF("doc_id", "text")
    val sa = Suffix.suffixArray(docs, "doc_id", "text")
      .orderBy("rank").select("doc", "off")
      .as[(Long, Int)].collect().toSeq
    // naive driver-side reference: sort (suffix, doc, off)
    val ref = Seq((10L, "xyzabc"), (20L, "abc")).flatMap { case (d, t) =>
      (0 until t.length).map(o => (t.substring(o), d, o))
    }.sorted.map(x => (x._2, x._3))
    assert(sa == ref, s"multi-doc order: $sa vs $ref")
  }

  test("suffix array matches the naive sort on a pseudo-random corpus, " +
    "bit-identically on any partitioning") {
    import graft.operators.Suffix
    // deterministic LCG strings over a tiny alphabet (forces deep ties —
    // many rounds of doubling actually resolve something)
    def lcg(seed: Long): Iterator[Long] = Iterator.iterate(seed)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
    val docs = (0 until 30).map { d =>
      val len = 5 + (d * 7) % 40
      val s = lcg(d + 11).take(len)
        .map(x => "abz"(Math.floorMod(x, 3).toInt)).mkString
      (d.toLong, s)
    }
    val df = docs.toDF("doc_id", "text")
    val got = Suffix.suffixArray(df, "doc_id", "text")
      .orderBy("rank").select("doc", "off").as[(Long, Int)].collect().toSeq
    val got7 = Suffix.suffixArray(df.repartition(7), "doc_id", "text")
      .orderBy("rank").select("doc", "off").as[(Long, Int)].collect().toSeq
    val ref = docs.flatMap { case (d, t) =>
      (0 until t.length).map(o => (t.substring(o), d, o))
    }.sorted.map(x => (x._2, x._3))
    assert(got == ref, "suffix order must equal the naive sort")
    assert(got7 == ref, "suffix order must be partitioning-independent")
  }

  test("suffix array at 10x document length still matches the naive " +
    "sort; the maxPositions regime guard trips with a clear contract") {
    import graft.operators.Suffix
    def lcg(seed: Long): Iterator[Long] = Iterator.iterate(seed)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
    // 10x the main spec's lengths (up to ~450 chars, tiny alphabet —
    // forces the k=4..256 rounds to resolve real ties)
    val docs = (0 until 20).map { d =>
      val len = 50 + (d * 71) % 400
      val s = lcg(d + 3).take(len)
        .map(x => "abz"(Math.floorMod(x, 3).toInt)).mkString
      (d.toLong, s)
    }
    val df = docs.toDF("doc_id", "text")
    val got = Suffix.suffixArray(df, "doc_id", "text")
      .orderBy("rank").select("doc", "off").as[(Long, Int)].collect().toSeq
    val ref = docs.flatMap { case (d, t) =>
      (0 until t.length).map(o => (t.substring(o), d, o))
    }.sorted.map(x => (x._2, x._3))
    assert(got == ref, "10x-length suffix order must equal the naive sort")
    // the guard: position count over budget fails fast, naming the knob
    val e = intercept[IllegalArgumentException] {
      Suffix.suffixArray(df, "doc_id", "text", maxPositions = 100L)
    }
    assert(e.getMessage.contains("maxPositions"), e.getMessage)
  }

  test("longest repeated substring: cross-doc and within-doc repeats, " +
    "cap respected, empty and unique docs score 0") {
    import graft.operators.Suffix
    val docs = Seq(
      (1L, "banana"),              // within-doc repeat "ana" → 3
      (2L, "the quick brown fox"), // shares " qu"? no — but spaces repeat
      (3L, "the quick brown fox"), // exact dup of doc 2 → full length 19
      (4L, ""),                    // empty → 0
      (5L, "qx")                   // 'q' occurs in docs 2/3 → 1
    ).toDF("doc_id", "text")
    val got = Suffix.longestRepeat(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 3, s"banana: ${got(1L)}")
    assert(got(2L) == 19 && got(3L) == 19, s"dup docs: $got")
    assert(got(4L) == 0)
    assert(got(5L) == 1, s"single shared char: ${got(5L)}")
    // the cap clamps long matches (dup docs at cap 8 report 8)
    val capped = Suffix.longestRepeat(docs, "doc_id", "text", cap = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped(2L) == 8 && capped(1L) == 3)
  }

  test("bucket-sharded longest repeat equals the global answer at any " +
    "bucket count; per-bucket jobs respect the scaled position budget") {
    import graft.operators.Suffix
    def lcg(seed: Long): Iterator[Long] = Iterator.iterate(seed)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
    // small alphabet + planted repeats across docs; some docs share
    // prefixes, some are unique, one empty
    val docs = ((0 until 24).map { d =>
      val len = 20 + (d * 37) % 150
      val s = lcg(d + 11).take(len)
        .map(x => "abcxyz"(Math.floorMod(x, 6).toInt)).mkString
      (d.toLong, if (d % 7 == 3) s + "sharedrepeatblock" else s)
    } :+ ((99L, ""))).toDF("doc_id", "text")
    val global = Suffix.longestRepeat(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (b <- Seq(1, 2, 5)) {
      val sharded = Suffix
        .longestRepeatSharded(docs, "doc_id", "text", buckets = b)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(sharded == global, s"buckets=$b diverged from the global law")
    }
    // the guard scales with the bucket count: a budget too small for the
    // whole corpus admits the same corpus split across enough buckets
    val total = docs.agg(sum(length($"text"))).head().getLong(0)
    intercept[IllegalArgumentException] {
      Suffix.suffixArray(docs, "doc_id", "text", maxPositions = total / 2)
    }
    // per-bucket budget total/2 × 3 buckets ≥ total: accepted
    Suffix.longestRepeatSharded(docs, "doc_id", "text", buckets = 3,
      maxPositions = total / 2).count()
  }

  test("span corruption replays the deterministic mask; sentinels number " +
    "runs; input+target reassemble the document") {
    import graft.ops.SpanCorrupt
    val docs = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu"),
      (7L, "one two three"), (13L, ""), (21L, "solo"))
      .toDF("doc_id", "text")
    val got = SpanCorrupt.corrupt(docs, "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"n_masked", $"n_spans",
        $"input_tokens", $"target_tokens")
      .as[(Long, Long, Long, Long, Seq[String], Seq[String])]
      .collect().map(r => r._1 -> r).toMap
    def maskOf(doc: Long, i: Int): Boolean =
      ((((doc * 2654435761L + i) % 1048576L) * 2654435761L + 12345L)
        % 1048576L) % 5 == 0
    for ((doc, (_, nt, nm, ns, inp, tgt)) <- got) {
      val toks = docs.filter($"doc_id" === doc).as[(Long, String)].head()
        ._2.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      assert(nt == toks.length)
      val masks = toks.indices.map(i => maskOf(doc, i))
      assert(nm == masks.count(identity))
      val spans = masks.indices.count(i => masks(i) && (i == 0 || !masks(i - 1)))
      assert(ns == spans)
      // driver replay of the fold
      var (ri, rt, k, pm) = (Seq.empty[String], Seq.empty[String], 0, false)
      for (i <- toks.indices) {
        if (!masks(i)) { ri :+= toks(i); pm = false }
        else if (!pm) {
          ri :+= s"<extra_id_$k>"; rt ++= Seq(s"<extra_id_$k>", toks(i))
          k += 1; pm = true
        } else rt :+= toks(i)
      }
      assert(inp == ri && tgt == rt, s"doc $doc")
      // reconstruction: replacing sentinel j in the input with span j's
      // tokens from the target yields the original document
      val spanToks = rt.foldLeft(Vector.empty[Vector[String]]) { (acc, t) =>
        if (t.startsWith("<extra_id_")) acc :+ Vector.empty[String]
        else acc.init :+ (acc.last :+ t)
      }
      val rebuilt = inp.flatMap { t =>
        if (t.startsWith("<extra_id_"))
          spanToks(t.stripPrefix("<extra_id_").stripSuffix(">").toInt)
        else Seq(t)
      }
      assert(rebuilt == toks, s"doc $doc reconstruction")
    }
    assert(got(13L)._2 == 0 && got(13L)._5.isEmpty && got(13L)._6.isEmpty)
  }

  test("kneser-ney: seen-context probabilities sum to EXACTLY 1 over the " +
    "continuation vocab; unseen context falls back to continuation mass") {
    import graft.ops.NgramLm
    val train = Seq("a b", "a b", "a c", "b c", "c a b", "b a a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (bi, _, _) = NgramLm.counts(train, "text")
    val lefts = bi.select($"w1").distinct().as[String].collect().sorted
    val rights = bi.select($"w2").distinct().as[String].collect().sorted
    // one 2-token score doc per (context, continuation) pair: its sum_q IS
    // the micro-nat log P(w2|w1)
    val scoreDocs = for ((w1, i) <- lefts.zipWithIndex.toSeq;
        (w2, j) <- rights.zipWithIndex)
      yield ((i * 100 + j).toLong, s"$w1 $w2")
    val byDoc = NgramLm
      .scoreKneserNey(scoreDocs.toDF("doc_id", "text"), "doc_id", "text", bi)
      .filter($"n_bi" === 1)
      .select($"doc_id", $"sum_q").as[(Long, Long)].collect()
      .map(r => r._1 -> math.exp(r._2 / 1e6)).toMap
    // the Chen-Goodman telescoping identity: discounted seen mass plus
    // redistributed continuation mass is exactly 1 per seen context
    for ((w1, i) <- lefts.zipWithIndex) {
      val s = rights.indices.map(j => byDoc((i * 100 + j).toLong)).sum
      assert(math.abs(s - 1.0) < 1e-4, s"context '$w1' sums to $s")
    }
    // unseen context backs off fully to P_cont = np(w2)/T
    val t = bi.count().toDouble
    val npB = bi.filter($"w2" === "b").count().toDouble
    val un = NgramLm.scoreKneserNey(
        Seq((9999L, "zzz b")).toDF("doc_id", "text"), "doc_id", "text", bi)
      .select($"sum_q").as[Long].head()
    assert(math.abs(math.exp(un / 1e6) - npB / t) < 1e-6)
  }

  test("unigram-LM: Viterbi prefers the high-probability piece, ties go " +
    "to the larger split point, OOV chars pass through") {
    import graft.ops.UnigramLm
    // "ab" four times as likely as its chars: lp(ab) > lp(a)+lp(b) →
    // Viterbi takes the multi-char piece
    val lp = Map("a" -> -3000000L, "b" -> -3000000L, "ab" -> -2000000L)
    assert(UnigramLm.viterbi("abab", lp, 4, -30000000L) ===
      List("ab", "ab"))
    // exact tie: lp(ab) == lp(a)+lp(b) — the larger split point wins, so
    // the LAST arc is the single char, recursively: all single chars
    val tie = Map("a" -> -1000000L, "b" -> -1000000L, "ab" -> -2000000L)
    assert(UnigramLm.viterbi("ab", tie, 4, -30000000L) === List("a", "b"))
    // chars outside the model consume the OOV arc and emit themselves
    assert(UnigramLm.viterbi("axb", lp, 4, -30000000L) ===
      List("a", "x", "b"))
  }

  test("unigram-LM training: seeding covers chars, EM counts follow the " +
    "best segmentation, zero-count multi-char pieces drop") {
    import graft.ops.UnigramLm
    // corpus: "ab" ×8, "cd" ×2 — seed candidates: a,b,c,d,ab,cd; every
    // piece survives capping (vocabSize covers all)
    val model = UnigramLm.train(Seq(("ab", 8L), ("cd", 2L)), vocabSize = 10)
      .map { case (p, n, l) => p -> ((n, l)) }.toMap
    // seed counts: a=8,b=8,ab=8,c=2,d=2,cd=2 (total 30). Round 1: lp(ab)
    // = ln(8/30) > lp(a)+lp(b) = 2·ln(8/30) → "ab" segments as [ab];
    // same for cd → counts: ab=8, cd=2, chars floor to 1 (total 14).
    // Round 2 repeats the same choice.
    assert(model("ab") === ((8L, UnigramLm.quantLn(8L, 14L))),
      model.toString)
    assert(model("cd") === ((2L, UnigramLm.quantLn(2L, 14L))))
    (Seq("a", "b", "c", "d")).foreach { ch =>
      assert(model(ch) === ((1L, UnigramLm.quantLn(1L, 14L))), s"char $ch")
    }
    assert(model.size === 6)
    // words longer than maxWordLen are excluded from the dictionary: a
    // 17-char word contributes nothing
    val longOnly = UnigramLm.train(Seq(("a" * 17, 5L)), vocabSize = 10)
    assert(longOnly.isEmpty)
  }

  test("bounded top-N word-count handoff == full collect then truncate") {
    import graft.ops.{Bpe, CharLm}
    val corpus = Seq((1L, "aa bb aa cc dd aa bb"), (2L, "bb cc ee ff"),
      (3L, "gg hh ii jj kk"))
      .toDF("doc_id", "text")
    // the trainer's own order: count desc, word asc — total (words unique)
    val full = Bpe.wordCounts(corpus, "text").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy { case (w, c) => (-c, w) }
    val cap = 4
    assert(Bpe.topWordCounts(corpus, "text", maxDictWords = cap) ===
      full.take(cap))
    // uncapped default returns everything, in trainer order
    assert(Bpe.topWordCounts(corpus, "text") === full)
    // CharLm: same law on (count desc, c1 asc, c2 asc)
    val bgFull = CharLm.bigramCounts(corpus, "text").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }
    assert(CharLm.topBigramCounts(corpus, "text", maxPairs = 5) ===
      bgFull.take(5))
    assert(CharLm.topBigramCounts(corpus, "text") === bgFull)
  }
}
