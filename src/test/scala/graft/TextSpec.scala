package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Poly31Hash
import graft.operators.{Cutover, Hamming, Multimodal, Sampling, TextAnalysis}

class TextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("poly31 expression matches the reference implementation") {
    assert(Poly31Hash.hash("abc") == 96354L) // (('a'*31+'b')*31+'c') mod 2^31−1
    assert(Poly31Hash.hash("") == 0L)
    Poly31Hash.register(spark)
    val viaSql = Seq("abc", "", "the fast key").toDF("t")
      .selectExpr("poly31(t)").collect().map(_.getLong(0)).toSeq
    assert(viaSql == Seq(96354L, 0L, Poly31Hash.hash("the fast key")))
  }

  test("winnowing: MOSS guarantee, density, short-doc cutoff, leftmost-min") {
    val k = 3; val w = 8
    // per-doc-unique filler words (a linear-congruence "random" soup is
    // NOT unrelated across seeds — same stride, shifted offsets), then
    // plant a shared run of exactly w + k - 1 = 10 words in two docs
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"d${seed}x$i").mkString(" ")
    val shared = (0 until (w + k - 1)).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, words(1, 60) + " " + shared + " " + words(2, 60)),
      (2L, words(3, 60) + " " + shared + " " + words(4, 60)),
      (3L, words(5, 120)),
      (4L, words(6, k + w - 2)) // one word short of a full window
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFingerprints(docs, k, w)
    val byDoc = fp.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the paper's guarantee: a shared run of >= w+k-1 words shares a
    // selected fingerprint
    val f1 = fp.filter(col("doc_id") === 1L).select("fp")
      .collect().map(_.getLong(0)).toSet
    val f2 = fp.filter(col("doc_id") === 2L).select("fp")
      .collect().map(_.getLong(0)).toSet
    assert((f1 & f2).nonEmpty, "planted >=w+k-1 run must share a fingerprint")
    // expected density ~2/(w+1): allow a wide band, but far below 1
    val d3 = byDoc(3L).toDouble / (120 - k + 1)
    assert(d3 > 0.05 && d3 < 0.6, s"winnow density $d3 implausible")
    // below one full window -> no fingerprints at all
    assert(!byDoc.contains(4L))
    // selected positions are in-range and each selected hash really is
    // the minimum of SOME full window around it
    val rows = fp.filter(col("doc_id") === 3L)
      .select("pos", "fp").collect().map(r => (r.getLong(0), r.getLong(1)))
    val t = docs.filter(col("doc_id") === 3L).select("text")
      .collect().head.getString(0).split(" ")
    val hashes = (0 to t.length - k)
      .map(i => Poly31Hash.hash(t.slice(i, i + k).mkString(" "))).toArray
    rows.foreach { case (pos, h) =>
      assert(hashes(pos.toInt) == h)
      val anyWindow = (math.max(0, pos.toInt - w + 1) to
        math.min(pos.toInt, hashes.length - w)).exists { ws =>
        val win = hashes.slice(ws, ws + w)
        win.min == h && ws + win.indexOf(win.min) == pos // leftmost-min
      }
      assert(anyWindow, s"pos $pos is not a window minimum")
    }
    // pair report surfaces exactly the planted pair at this threshold
    val pairs = TextAnalysis.winnowOverlapPairs(docs, k, w,
        minShared = 1L, maxDocFreq = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
  }

  test("quality stats on a known document") {
    val r = TextAnalysis.quality(Seq((7L, "the a data 42")).toDF("doc_id", "text"))
      .collect().head
    assert(r.getAs[Long]("n_chars") == 13L)
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Double]("stop_ratio") == 0.5)
    assert(r.getAs[Long]("n_digits") == 2L)
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val r = TextAnalysis.tokenCounts(Seq((1L, "ab1 cd!2")).toDF("doc_id", "text"))
      .collect().head
    assert(r.getAs[Long]("ws_tokens") == 2L)
    assert(r.getAs[Long]("bpe_tokens") == 5L) // ab|1|cd|!|2
  }

  test("gopher rules: short doc fails word floor, normal doc passes") {
    val out = TextAnalysis.gopherQuality(Seq(
      (1L, "too short"),
      // 52 words, all alphabetic, stopwords present, mean length in range
      (2L, (Seq.fill(25)("the fast") :+ "a value").mkString(" "))
    ).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r)).toMap
    assert(out(1L).getAs[Long]("passes") == 0L) // n_words = 2 < 50
    assert(out(2L).getAs[Long]("n_words") == 52L)
    assert(out(2L).getAs[Long]("passes") == 1L)
    assert(out(2L).getAs[Double]("alpha_frac") == 1.0)
  }

  test("line dedup drops cross-doc duplicate segments, keeps order") {
    // Docs 1 and 2 share their first 5-word segment ("a b c d e");
    // doc 3 is disjoint. With maxDocs=1 the shared segment is dropped
    // from both, the unique tails survive in position order.
    val docs = Seq(
      (1L, "a b c d e k1 k2 k3 k4 k5"),
      (2L, "a b c d e m1 m2 m3 m4 m5"),
      (3L, "z1 z2 z3 z4 z5")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(docs, 5, 1L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r)).toMap
    assert(out(1L).getAs[Long]("n_segs") == 2L)
    assert(out(1L).getAs[Long]("n_kept") == 1L)
    assert(out(3L).getAs[Long]("n_kept") == 1L)
    // kept text of doc 1 is exactly its second segment
    val expectedMd5 = Seq("k1 k2 k3 k4 k5").toDF("t")
      .select(md5(col("t"))).collect().head.getString(0)
    assert(out(1L).getAs[String]("kept_md5") == expectedMd5)
    // a doc whose every segment is dropped still appears, with md5('')
    val allDup = TextAnalysis.lineDedup(Seq(
      (1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text"), 5, 1L)
      .collect()
    assert(allDup.length == 2 && allDup.forall(_.getAs[Long]("n_kept") == 0L))
  }

  test("line dedup invariants on a random corpus") {
    // Randomized (seeded) corpus: duplicated docs create hot segments,
    // unique docs don't. Invariants: n_kept ≤ n_segs; a doc whose
    // segments are all corpus-unique reassembles to EXACTLY its
    // original text (the segmenter is a non-overlapping cover, so
    // concat(kept) == text when nothing is dropped).
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 50).map(i => s"t$i")
    val originals = (0 until 15).map { i =>
      (i.toLong, Array.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // clone a few docs under new ids → their segments become hot
    val cloned = originals.take(4).map { case (id, t) => (id + 100L, t) }
    val corpus = (originals ++ cloned).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(corpus, 5, 1L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r)).toMap
    assert(out.size == originals.size + cloned.size)
    assert(out.values.forall(r => r.getAs[Long]("n_kept") <= r.getAs[Long]("n_segs")))
    // cloned docs (and their originals) lose every segment
    cloned.foreach { case (id, _) =>
      assert(out(id).getAs[Long]("n_kept") == 0L)
      assert(out(id - 100L).getAs[Long]("n_kept") == 0L)
    }
    // fully-unique docs reassemble byte-identically
    val md5s = originals.drop(4).map { case (id, t) =>
      (id, java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    }
    md5s.foreach { case (id, m) =>
      if (out(id).getAs[Long]("n_kept") == out(id).getAs[Long]("n_segs"))
        assert(out(id).getAs[String]("kept_md5") == m)
    }
    assert(md5s.count { case (id, m) => out(id).getAs[String]("kept_md5") == m } >= 5)
  }

  test("weighted mix count law: every row emits floor(w) or ceil(w) copies") {
    val rnd = new scala.util.Random(23)
    val domains = Seq("d0" -> 0.3, "d1" -> 1.7, "d2" -> 2.0, "d3" -> 0.0)
    val rows = (0 until 200).map(i => (i.toLong, s"d${rnd.nextInt(5)}")) // d4 → default
    val df = rows.toDF("doc_id", "source")
    val out = Sampling.weightedMix(df, col("doc_id"), col("source"), domains, 1.0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_no")))
    val copies = out.groupBy(_._1).view.mapValues(_.length).toMap
    rows.foreach { case (id, src) =>
      val w = domains.toMap.getOrElse(src, 1.0)
      val n = copies.getOrElse(id, 0)
      assert(n == math.floor(w).toInt || n == math.ceil(w).toInt,
        s"doc $id ($src, w=$w) emitted $n copies")
      // copy_no is dense 1..n
      val cs = out.filter(_._1 == id).map(_._2).sorted.toSeq
      assert(cs == (1 to n).map(_.toLong))
    }
  }

  test("weighted mix: integer weights replicate, zero weight excludes") {
    val df = Seq(
      (1L, "keep3"), (2L, "drop"), (3L, "one")
    ).toDF("doc_id", "source")
    val out = Sampling.weightedMix(df, col("doc_id"), col("source"),
        Seq("keep3" -> 3.0, "drop" -> 0.0), 1.0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_no")))
    assert(out.count(_._1 == 1L) == 3)          // w=3.0 → exactly 3 copies
    assert(!out.exists(_._1 == 2L))             // w=0.0 → excluded
    assert(out.count(_._1 == 3L) == 1)          // default w=1.0 → 1 copy
    assert(out.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("language ID picks the marker-dense language, en on ties") {
    val out = TextAnalysis.langId(Seq(
      (1L, "el los el perro", "es"),
      (2L, "the a of thing", "en"),
      (3L, "nothing matches here", "zh")
    ).toDF("doc_id", "text", "lang"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("predicted_lang"))).toMap
    assert(out(1L) == "es")
    assert(out(2L) == "en")
    assert(out(3L) == "en") // all-zero scores fall through to the en branch
  }

  test("tfidf: rare term outranks common term, k bounds the output") {
    // "rare" appears once in the corpus, "common" in every doc: idf of
    // common = ln(1) scaled → lowest score, rare ranks first for doc 1.
    val corpus = Seq(
      (1L, "common rare common"),
      (2L, "common other"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(corpus, 2).collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.length <= 2))
    val d1 = byDoc(1L).sortBy(_.getAs[Long]("rn"))
    assert(d1.head.getAs[String]("word") == "rare")
    // common is in all 3 docs: idf = ln(4/4) = 0 → score 0, never first
    assert(d1.head.getAs[Double]("score") > 0.0)
  }

  test("chunking: 50-word windows on 40-word stride cover every word") {
    val text = (1 to 90).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunkWords(Seq((1L, text)).toDF("doc_id", "text"), 50, 40)
      .orderBy("chunk_no").collect()
    // 90 words → ⌊89/40⌋+1 = 3 chunks: [1..50], [41..90], [81..90]
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("n_chunk_words")).toSeq == Seq(50L, 50L, 10L))
    assert(out(0).getAs[String]("chunk_text").startsWith("w1 w2 "))
    assert(out(1).getAs[String]("chunk_text").startsWith("w41 "))
    assert(out(2).getAs[String]("chunk_text") == (81 to 90).map("w" + _).mkString(" "))
  }

  test("stratified sample is deterministic and respects degenerate rates") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val all = docs.count()
    val keepAll = Sampling.stratified(docs, col("doc_id"), col("lang"), Nil, 1.0).count()
    val keepNone = Sampling.stratified(docs, col("doc_id"), col("lang"), Nil, 0.0).count()
    assert(keepAll == all && keepNone == 0L)
    val ids1 = Sampling.stratified(docs, col("doc_id"), col("lang"),
      Seq("en" -> 0.5), 0.1).select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratified(docs, col("doc_id"), col("lang"),
      Seq("en" -> 0.5), 0.1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.nonEmpty && ids1.size < all)
  }

  test("scrubPii leaves no email or phone surface forms behind") {
    val dirty = Seq(
      (1L, "mail me at alice.smith+x@sub.example.co.uk today"),
      (2L, "call 555-0199 or 555-1234 now"),
      (3L, "both bob@ex.io and 555-7777 appear"),
      (4L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val out = dirty.select(col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1) == "mail me at <EMAIL> today")
    assert(out(2) == "call <PHONE> or <PHONE> now")
    assert(out(3) == "both <EMAIL> and <PHONE> appear")
    assert(out(4) == "clean text with no pii at all")
  }

  test("packSequences: per-shard sequences are contiguous and boundary-aligned") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val seqLen = 512L
    val packed = TextAnalysis.packSequences(docs, seqLen, 4L).collect()
    assert(packed.length == docs.count())
    packed.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case ((lang, shard), rows) =>
        val ordered = rows.sortBy(_.getAs[Long]("doc_id"))
        var cum = 0L
        ordered.foreach { r =>
          // seq_no is exactly the boundary count the running total has
          // crossed BEFORE this document — greedy streaming pack.
          assert(r.getAs[Long]("seq_no") == cum / seqLen,
            s"($lang,$shard) doc ${r.getAs[Long]("doc_id")}")
          cum += r.getAs[Long]("n_words")
        }
        // sequence ids are non-decreasing and start at 0
        val seqs = ordered.map(_.getAs[Long]("seq_no"))
        assert(seqs.head == 0L && seqs.zip(seqs.tail).forall { case (a, b) => a <= b })
      }
  }

  test("dupSpans finds the exact shared substring and merges overlapping grams") {
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "z z a b c d e y")
    ).toDF("doc_id", "text")
    // Shared 4-grams: "a b c d" (starts 0 / 2) and "b c d e" (1 / 3) —
    // one merged island per doc covering the 5 shared words.
    val spans = TextAnalysis.dupSpans(docs, 4, 2L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_words"))).sorted.toSeq
    assert(spans == Seq((0L, 0L, 4L, 5L), (1L, 2L, 6L, 5L)))
    val cov = TextAnalysis.dupCoverage(docs, 4, 2L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("dup_words"), r.getAs[Double]("dup_ratio"))).sorted.toSeq
    assert(cov == Seq((0L, 8L, 5L, 0.625), (1L, 8L, 5L, 0.625)))
  }

  test("dupSpans islands are disjoint and within document bounds") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spans = TextAnalysis.dupSpans(docs, 4, 2L).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      assert(r.getAs[Long]("span_start") >= 0L)
      assert(r.getAs[Long]("span_end") < lens(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("span_words") >= 4L)
    }
    spans.groupBy(_.getAs[Long]("doc_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("span_start"))
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b.getAs[Long]("span_start") > a.getAs[Long]("span_end") + 1)
      }
    }
  }

  test("jsDrift: bounded in [0, ln 2] and symmetric under snapshot swap") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val ab = TextAnalysis.jsDrift(docs, pmod(col("doc_id"), lit(2L)) === 1)
      .orderBy("lang").collect()
    assert(ab.nonEmpty)
    ab.foreach { r =>
      val js = r.getAs[Double]("js")
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9)
    }
    // swapping which snapshot is "B" must not change the score
    val ba = TextAnalysis.jsDrift(docs, pmod(col("doc_id"), lit(2L)) === 0)
      .orderBy("lang").collect()
    ab.zip(ba).foreach { case (x, y) =>
      assert(x.getAs[String]("lang") == y.getAs[String]("lang"))
      assert(math.abs(x.getAs[Double]("js") - y.getAs[Double]("js")) <= 1e-6)
    }
  }

  test("multimodal decode: payload bytes round-trip with correct digest") {
    val feats = Multimodal.extractFeatures(spark,
        Multimodal.packPayload(Seq((5L, "hello")).toDF("doc_id", "text")))
      .collect().head
    assert(feats.payload_len == 5L)
    assert(feats.payload_md5 == "5d41402abc4b2a76b9719d911017c592")
    assert(feats.first_byte == 'h'.toLong)
  }

  test("scrubPii: Luhn-gated cards, typed placeholders, idempotent, no over-redaction") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "card 4111111111111111 ok"),
      (2L, "card 1234567890123456 stays"), // fails Luhn -> untouched
      (3L, "ip 192.168.0.1 ssn 123-45-6789 call 555-1234 mail a@b.com"),
      (4L, "two cards 5500005555555559 and 4111111111111112 here")
    ).toDF("doc_id", "text")
    val once = docs.select(col("doc_id"),
      TextAnalysis.scrubPii(col("text")).as("s")).orderBy("doc_id")
    val got = once.collect().map(_.getString(1))
    assert(got(0) == "card <CC> ok")
    assert(got(1) == "card 1234567890123456 stays")
    assert(got(2) == "ip <IP> ssn <SSN> call <PHONE> mail <EMAIL>")
    assert(got(3) == "two cards <CC> and 4111111111111112 here")
    // Idempotence: placeholders carry no digits, so a second scrub is
    // the identity.
    val twice = once.select(col("doc_id"),
      TextAnalysis.scrubPii(col("s")).as("s")).orderBy("doc_id")
      .collect().map(_.getString(1))
    assert(twice.toSeq == got.toSeq)
  }

  test("bpeEncode: greedy left-to-right merge application on a pinned corpus") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "a b c a b d"), // "a b" (count 3 w/ doc2) merges twice
      (2L, "a a a b c"),   // "a b" first (rank 1), then "a a" on the remainder
      (3L, "x y")          // fully merged into one symbol
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, 10).orderBy("doc_id").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("ws_tokens"), r.getAs[Long]("bpe_tokens"),
        r.getAs[String]("encoded_md5"))).toMap
    assert(byId(1L) == ((6L, 4L, md5hex("a b|c|a b|d"))))
    assert(byId(2L) == ((5L, 3L, md5hex("a a|a b|c"))))
    assert(byId(3L) == ((2L, 1L, md5hex("x y"))))
  }

  test("bpe_apply expression: greedy pass semantics match the reference fold") {
    graft.functions.BpeApply.register(spark)
    // The immutable-Column fold bpe_apply replaced — kept here as the
    // semantic reference the native Expression must reproduce. Rule
    // parsing is the ORACLE's split-all-take-[1]/[2] (NOT split at the
    // first space): a rule with extra spaces matches its first two
    // parts and substitutes the whole rule string; a rule with no
    // space (or a null rule) is a no-op; null tokens pass through and
    // never match (non-null rule sides).
    def refFold(toks: Seq[String], merges: Seq[String]): Seq[String] =
      merges.foldLeft(toks) { (acc, m) =>
        val parts = if (m == null) Array.empty[String] else m.split(" ", -1)
        if (parts.length < 2) acc
        else acc.foldLeft(Vector.empty[String]) { (out, t) =>
          if (out.nonEmpty && out.last == parts(0) && t == parts(1))
            out.init :+ m
          else out :+ t
        }
      }
    val cases = Seq(
      (Seq("a", "a", "a"), Seq("a a")),              // greedy: ["a a","a"]
      (Seq("a", "a", "a", "a"), Seq("a a")),         // ["a a","a a"]
      (Seq("a", "b", "a", "b"), Seq("a b", "a b a b")), // no re-match: merged symbol has a space
      (Seq("x"), Seq("x x")),                        // single token untouched
      (Seq(), Seq("a b")),                           // empty sequence
      (Seq("p", "q", "r"), Seq()),                   // empty merge table
      (Seq("a", "b", "c"), Seq("a b", "a b c")),     // later rules see earlier symbols... not (space)
      (Seq("a", "b", "b"), Seq("a b", "b b")),       // rule order matters
      (Seq("a", "b", "x"), Seq("a b c")),            // multi-space rule: matches (a,b), emits "a b c"
      (Seq("a", "", "b"), Seq("a  b")),              // double space: b = "" (empty 2nd part)
      (Seq("a", "b"), Seq("ab")),                    // spaceless rule is a no-op
      (Seq("a", null, "b"), Seq("a b")),             // null token passes through, blocks the pair
      (Seq("a", "b"), Seq(null, "a b")))             // null rule is a no-op, later rules still apply
    val df = cases.zipWithIndex
      .map { case ((t, m), i) => (i.toLong, t, m) }
      .toDF("id", "toks", "merges")
    val got = df.selectExpr("id", "bpe_apply(toks, merges) AS out")
      .orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[String](1).toList).toMap
    cases.zipWithIndex.foreach { case ((t, m), i) =>
      assert(got(i.toLong) == refFold(t, m).toList, s"case $i toks=$t merges=$m")
    }
  }

  test("bpe_apply_pairs expression: pair-form rules carry space-containing sides") {
    graft.functions.BpeApply.register(spark)
    // Reference fold for the pair form: same greedy left-to-right pass
    // per rule, but the sides arrive separately so a side may contain
    // spaces (learned symbols from earlier training rounds).
    def refFold(toks: Seq[String], rules: Seq[(String, String)]): Seq[String] =
      rules.foldLeft(toks) { case (acc, (a, b)) =>
        if (a == null || b == null) acc
        else acc.foldLeft(Vector.empty[String]) { (out, t) =>
          if (out.nonEmpty && out.last == a && t == b) out.init :+ (a + " " + b)
          else out :+ t
        }
      }
    val cases = Seq(
      (Seq("a", "a", "a"), Seq(("a", "a"))),          // greedy: ["a a","a"]
      // The case the string grammar cannot express: left side "a a"
      // (one learned symbol), right side "b" — "a a b" as a string rule
      // would parse as ("a","a") and merge the wrong pair.
      (Seq("a a", "b", "c"), Seq(("a a", "b"))),
      (Seq("a", "a", "b", "c"), Seq(("a", "a"), ("a a", "b"), ("a a b", "c"))),
      (Seq("x"), Seq(("x", "x"))),                    // single token untouched
      (Seq(), Seq(("a", "b"))),                       // empty sequence
      (Seq("p", "q"), Seq()),                         // empty rule table
      (Seq("a", "", "b"), Seq(("a", ""), ("a ", "b"))), // empty right side merges
      (Seq("a", null, "b"), Seq(("a", "b"))),         // null token blocks the pair
      (Seq("a", "b"), Seq((null, "b"), ("a", null), ("a", "b")))) // null sides no-op
    val df = cases.zipWithIndex
      .map { case ((t, r), i) => (i.toLong, t, r.map(_._1), r.map(_._2)) }
      .toDF("id", "toks", "lefts", "rights")
    val got = df.selectExpr("id", "bpe_apply_pairs(toks, lefts, rights) AS out")
      .orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[String](1).toList).toMap
    cases.zipWithIndex.foreach { case ((t, r), i) =>
      assert(got(i.toLong) == refFold(t, r).toList, s"case $i toks=$t rules=$r")
    }
  }

  test("bpeTrain: each round re-counts pairs over the current tokenization") {
    val docs = Seq((1L, "a a a b c"), (2L, "a a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs, 3).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("merge_rule"),
        r.getAs[Long]("pair_n"), r.getAs[Long]("tokens_after"))).toList
    // Round 1: (a,a) wins with 3. Round 2: all pairs tie at 1; (a,b)
    // wins the (left asc, right asc) tie-break. Round 3's winning LEFT
    // side is the round-1 symbol "a a" — a space-carrying side the
    // static string-rule table of bpeEncode cannot even represent,
    // and a pair count the one-shot histogram never sees.
    assert(out == List(
      (1L, "a a", 3L, 7L),
      (2L, "a b", 1L, 6L),
      (3L, "a a a b", 1L, 5L)))
  }

  test("bpeTrain stops cleanly when the corpus runs out of adjacent pairs") {
    // "a b" exhausts after 1 merge (the doc becomes a single token);
    // asking for 5 rounds must yield exactly the 1 learnable row — NOT
    // erase the corpus via crossJoin with an empty rule frame and emit
    // a short/empty curve silently.
    val docs = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs, 5).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("merge_rule"),
        r.getAs[Long]("pair_n"), r.getAs[Long]("tokens_after"))).toList
    assert(out == List((1L, "a b", 1L, 2L)))
    // Degenerate input with nothing to merge at all: an empty curve
    // with the right schema, not an NPE.
    val single = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val empty = TextAnalysis.bpeTrain(single, 3)
    assert(empty.columns.toSeq ==
      Seq("round", "merge_rule", "pair_n", "tokens_after"))
    assert(empty.count() == 0L)
  }

  test("bpeTrain: one-task cutover and distributed loop agree row for row") {
    // The r16 one-task path (the Cutover.BpeChars gate) must replay the
    // distributed loop's exact curve: same argmax tie-breaks, same
    // greedy merge fold, same tokens_after totals — including rules
    // whose sides are learned space-carrying symbols.
    val docs = Seq((1L, "a a a b c a a b"), (2L, "b c b c x"),
      (3L, "a a b c"), (4L, "x"), (5L, "q r q r q r")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("merge_rule"),
        r.getAs[Long]("pair_n"), r.getAs[Long]("tokens_after"))).toList
    val small = rows(TextAnalysis.bpeTrain(docs, 5))
    val dist = Cutover.forcing(Cutover.Distributed)(rows(TextAnalysis.bpeTrain(docs, 5)))
    assert(small == dist)
    assert(small.map(_._1) == (1L to 5L).toList)
    // The sf0.001 documents (the q_text_bpe_train corpus): same curve.
    val corpus = Tables.documents(spark, TestSpark.sf0001)
    val real = Cutover.forcing(Cutover.OneTask)(rows(TextAnalysis.bpeTrain(corpus, 5)))
    assert(real.map(_._1) == (1L to 5L).toList)
    assert(Cutover.forcing(Cutover.Distributed)(
      rows(TextAnalysis.bpeTrain(corpus, 5))) == real)
  }

  test("multimodal real decode: PNG round trip pins the known image's pixels") {
    import Multimodal.ImageFixture
    // doc_id = 5: 13×13, gray(x,y) = (5 + 31x + 7y) mod 256.
    val png = ImageFixture.renderPng(5L)
    // It is a real PNG container, not a digest stand-in.
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 13 && img.getHeight == 13)
    for (y <- 0 until 13; x <- 0 until 13) {
      val g = ImageFixture.grayAt(5L, x, y)
      assert((img.getRGB(x, y) & 0xffffff) == ((g << 16) | (g << 8) | g),
        s"pixel ($x,$y)")
    }
    // And the distributed decode reports metadata measured from the
    // decoded raster that matches the closed form.
    val docs = Seq((5L, "ignored")).toDF("doc_id", "text")
    val dec = Multimodal.decodeImages(spark, Multimodal.packImages(spark, docs))
      .collect().head
    val expSum = (for (y <- 0 until 13; x <- 0 until 13)
      yield ImageFixture.grayAt(5L, x, y).toLong).sum
    val expChk = (for (y <- 0 until 13; x <- 0 until 13)
      yield ImageFixture.grayAt(5L, x, y).toLong * (y * 13 + x + 1)).sum
    assert(dec.width == 13L && dec.height == 13L && dec.channels == 3L)
    assert(dec.pixel_sum == expSum)
    assert(dec.pixel_checksum == expChk)
  }

  test("multimodal real audio decode: WAV round trip pins the known clip") {
    import Multimodal.AudioFixture
    // doc_id = 5: 11025 Hz, 2 channels, 69 frames.
    val wav = AudioFixture.renderWav(5L)
    // It is a real RIFF/WAVE container, not a digest stand-in.
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val docs = Seq((5L, "ignored")).toDF("doc_id", "text")
    val dec = Multimodal.decodeAudio(spark, Multimodal.packAudio(spark, docs))
      .collect().head
    val samples = for (f <- 0 until 69; c <- 0 until 2)
      yield (AudioFixture.sampleAt(5L, c, f).toLong, f.toLong * 2 + c + 1)
    assert(dec.sample_rate == 11025L && dec.channels == 2L && dec.bits == 16L)
    assert(dec.n_frames == 69L)
    assert(dec.sample_sum == samples.map(_._1).sum)
    assert(dec.energy == samples.map(s => s._1 * s._1).sum)
    assert(dec.sample_checksum == samples.map(s => s._1 * s._2).sum)
  }

  test("multimodal real video decode: animated-GIF round trip pins every frame") {
    import Multimodal.VideoFixture
    // doc_id = 5: 13×13, 4 frames (3 + 5 % 4).
    val gif = VideoFixture.renderGif(5L)
    // It is a real GIF89a container, not a digest stand-in.
    assert(new String(gif.take(6), "US-ASCII") == "GIF89a")
    val docs = Seq((5L, "ignored")).toDF("doc_id", "text")
    val frames = Multimodal.decodeVideoFrames(spark,
        Multimodal.packVideos(spark, docs))
      .collect().sortBy(_.frame_no)
    assert(frames.length == 4)
    for (fr <- frames) {
      assert(fr.n_frames == 4L && fr.width == 13L && fr.height == 13L)
      val px = for (y <- 0 until 13; x <- 0 until 13)
        yield (VideoFixture.grayAt(5L, fr.frame_no.toInt, x, y).toLong,
          (y * 13 + x + 1).toLong)
      assert(fr.pixel_sum == px.map(_._1).sum, s"frame ${fr.frame_no}")
      assert(fr.pixel_checksum == px.map(p => p._1 * p._2).sum,
        s"frame ${fr.frame_no}")
    }
  }

  test("vocabCoverage: top-V vocab (count desc, token asc) and per-doc OOV") {
    val docs = Seq(
      (1L, "a a b c"),
      (2L, "c c b"),
      (3L, "a d")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, 2).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate"))).toMap
    // counts: a=3, c=3, b=2, d=1 → top-2 by (n desc, tok asc) = {a, c}.
    assert(out(1L) == ((4L, 1L, 0.25)))  // b OOV
    assert(out(2L) == ((3L, 1L, 0.333333)))
    assert(out(3L) == ((2L, 1L, 0.5)))   // d OOV
  }

  test("image aHash near-dup catches the planted brightness variants") {
    val docs = (0L until 20L).map((_, "ignored")).toDF("doc_id", "text")
    val pairs = Multimodal.imageNearDup(
        Multimodal.imageAHash(spark,
          Multimodal.packImageVariants(spark, docs)).toDF(), 6)
      .collect()
      .map(r => (r.getAs[Long]("img_a"), r.getAs[Long]("img_b"))).toSet
    // Every planted (base, +1-brightness) pair must surface: docs 0, 5,
    // 10, 15 → img pairs (2d, 2d+1).
    for (d <- Seq(0L, 5L, 10L, 15L))
      assert(pairs.contains((d * 2, d * 2 + 1)), s"planted pair for doc $d")
    // And the aHash is brightness-offset-tolerant but not blind: a pair
    // of structurally different images (different dims) with far-apart
    // ids should not all be "duplicates".
    assert(pairs.size < 20 * 21 / 2, "near-dup must not be the complete graph")
  }

  test("audio fingerprint near-dup catches the planted trimmed re-uploads") {
    val docs = (0L until 20L).map((_, "x")).toDF("doc_id", "text")
    val pairs = Multimodal.imageNearDup(
        Multimodal.audioFingerprint(spark,
          Multimodal.packAudioVariants(spark, docs)).toDF(), 8)
      .collect()
      .map(r => (r.getAs[Long]("img_a"), r.getAs[Long]("img_b"))).toSet
    // Every planted (base, 3-frame-trimmed) pair must surface: docs
    // 0, 5, 10, 15 → clip pairs (2d, 2d+1) — a leading trim zeroes
    // only the leading bands plus at most a median rank shift
    // (measured Hamming ≤ 4 on these docs).
    for (d <- Seq(0L, 5L, 10L, 15L))
      assert(pairs.contains((d * 2, d * 2 + 1)), s"planted trim pair for doc $d")
    // On this fixture the flagged set is EXACTLY the planted pairs —
    // band-median fingerprints of unrelated structured clips sit near
    // Hamming 32 (measured min 10 here).
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)))
  }

  test("audioDedupQualityReport: trims AND gain robust, counts exact") {
    val docs = (0L until 30L).map((_, "x")).toDF("doc_id", "text")
    val r = Multimodal.audioDedupQualityReport(
      Multimodal.audioFingerprint(spark,
        Multimodal.packAudioGrid(spark, docs)).toDF(), 8).collect()
    assert(r.length == 1)
    val row = r.head
    // 30 docs → 6 planted grids (docs 0,5,…,25: 4 clips) + 24 singles.
    assert(row.getAs[Long]("n_clips") == 24 + 6 * 4)
    assert(row.getAs[Long]("n_true") == 6 * 6)
    val nPred = row.getAs[Long]("n_pred")
    val nCorrect = row.getAs[Long]("n_correct")
    assert(nCorrect <= nPred)
    // Derived ratios must recompute from the counts.
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Double]("precision") == r6(nCorrect.toDouble / nPred))
    assert(row.getAs[Double]("recall") == r6(nCorrect.toDouble / 36))
    // Band-median bits survive BOTH modeled perturbations: a leading
    // trim flips only leading-band bits (+ a median rank shift), and
    // the saturating ×2 gain is monotone in |sample|, so the energy
    // ORDER of the bands — hence every median-relative bit up to
    // clip-level ties — is preserved. The round-9/10 raw-loudness-hash
    // fingerprint measured 0.29 precision / 0.0 recall_gain on this
    // same grid; the re-design is what this scorecard forced.
    assert(row.getAs[Double]("precision") >= 0.95)
    assert(row.getAs[Double]("recall_trim") >= 0.85)
    assert(row.getAs[Double]("recall_gain") >= 0.85)
  }

  test("audioDedupQualityReport: empty slice reads as zeros, not nulls") {
    // ADVICE r9 #2: ratios over empty denominators must surface as 0.0
    // (a degenerate slice is "found nothing", not a NaN-ish hole).
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq("img_id", "b0", "b1", "b2", "b3")
        .map(StructField(_, LongType, nullable = false))))
    val r = Multimodal.audioDedupQualityReport(empty, 8).collect()
    assert(r.length == 1)
    val row = r.head
    for (c <- Seq("n_clips", "n_true", "n_pred", "n_correct"))
      assert(!row.isNullAt(row.fieldIndex(c)) && row.getAs[Long](c) == 0L,
        s"count column $c must be a non-null zero")
    for (c <- Seq("precision", "recall", "recall_trim", "recall_gain"))
      assert(!row.isNullAt(row.fieldIndex(c)) && row.getAs[Double](c) == 0.0,
        s"ratio column $c must be a non-null 0.0")
  }

  test("audioFingerprint: truncated payload fails loudly and leaks no stream") {
    // ADVICE r9 #3: the integrity requires run inside try/finally, so a
    // malformed clip raises the descriptive error (not an opaque index
    // error) and the decoder stream is closed either way.
    import spark.implicits._
    val good = Multimodal.AudioFixture.renderWav(3L, 0, 1, structured = true)
    val bad = java.util.Arrays.copyOf(good, good.length - 1) // drop 1 byte
    val clips = Seq(Multimodal.AudioClip(1L, 3L, 0, bad)).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprint(spark, clips).collect()
    }
    // Either integrity guard may fire (AudioInputStream frame-aligns
    // reads on some paths); both carry the descriptive prefix.
    def msgs(t: Throwable): Iterator[String] =
      Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse(""))
    assert(msgs(e).exists(_.contains("audioFingerprint")),
      s"expected the descriptive integrity error, got: ${e.getMessage}")
  }

  test("videoFrameHashes: frame 0's hash equals the still-image aHash") {
    // Frame 0's pixel ramp IS the base image's (delta = 97·0 = 0), so
    // the per-frame hash path must agree with the still-image path —
    // one pin covering the GIF decode, the shared ahashOf body, and
    // the img_id encodings of both.
    val docs = (0L until 10L).map((_, "x")).toDF("doc_id", "text")
    val vh = Multimodal.videoFrameHashes(spark,
        Multimodal.packVideos(spark, docs)).collect()
      .filter(_.img_id % 16 == 0)
      .map(h => (h.img_id / 16, (h.b0, h.b1, h.b2, h.b3))).toMap
    val ih = Multimodal.imageAHash(spark,
        Multimodal.packBaseImages(spark, docs)).collect()
      .map(h => (h.img_id / 2, (h.b0, h.b1, h.b2, h.b3))).toMap
    assert(vh == ih)
    assert(vh.size == 10)
  }

  test("bandBits: maxHamming+1 disjoint bands exactly cover the 64 bits") {
    for (mh <- 0 until 16) {
      val bs = Hamming.bandBits(mh)
      assert(bs.length == mh + 1, s"maxHamming=$mh")
      assert(bs.flatMap(_.toList).sorted == (0 until 64).toList,
        s"maxHamming=$mh must partition 0..63")
    }
  }

  test("epochPlan: weights normalize, targets spend the budget, epochs honest") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = TextAnalysis.epochPlan(docs, 0.7, 10000000L).collect()
    assert(out.nonEmpty)
    val wsum = out.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4) // 6-dp weights normalize
    val tsum = out.map(_.getAs[Long]("target_tokens")).sum
    assert(math.abs(tsum - 10000000L) < out.length * 10L) // budget spent
    out.foreach { r =>
      val target = r.getAs[Long]("target_tokens")
      val avail = r.getAs[Long]("avail_tokens")
      val epochs = r.getAs[Double]("epochs")
      assert(avail > 0L && target >= 0L)
      assert(math.abs(epochs - target.toDouble / avail) < 1e-4)
    }
  }

  test("globalShuffle: exact permutation into shards, order-invariant") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val n = docs.count()
    val out = TextAnalysis.globalShuffle(docs, 8L)
    val rows = out.collect()
    assert(rows.length == n) // a permutation: every doc exactly once
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == n)
    // shards in range; in-shard positions are contiguous 1..size
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, g) =>
      assert(sh >= 0L && sh < 8L)
      assert(g.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to g.length).toSeq)
    }
    // deterministic under input partitioning AND input row order
    val again = TextAnalysis.globalShuffle(
      docs.repartition(7).orderBy(rand(3)), 8L).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // and genuinely shuffled: in-shard neighbour doc_ids are not the
    // corpus order (md5 keys decorrelate adjacent ids)
    val shard0 = rows.filter(_.getAs[Long]("shard") == 0L)
      .sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id"))
    assert(shard0.length > 3 && shard0.toSeq != shard0.sorted.toSeq)
  }

  test("lengthBucketBatches: bounded batches, honest fill ratio") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val n = docs.count()
    val out = TextAnalysis.lengthBucketBatches(docs, 16L, 4L, 8L).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == n) // total partition
    out.foreach { r =>
      val nd = r.getAs[Long]("n_docs")
      val mx = r.getAs[Long]("max_tokens")
      val sm = r.getAs[Long]("sum_tokens")
      val bk = r.getAs[Long]("bucket")
      assert(nd >= 1L && nd <= 4L)           // batch size respected
      assert(mx >= bk && mx < bk + 16L)      // docs stay in their bucket
      assert(sm <= nd * mx && sm >= nd * bk) // token sums consistent
      val fill = r.getAs[Double]("fill_ratio")
      assert(fill > 0.0 && fill <= 1.0)
      assert(math.abs(fill - sm.toDouble / (nd * mx)) < 1e-6)
    }
    // bucketing must beat one global bucket on padding waste
    val global = TextAnalysis.lengthBucketBatches(docs, 1000000L, 4L, 8L)
      .collect()
    def wasted(rs: Array[org.apache.spark.sql.Row]): Double = {
      val cap = rs.map(r => r.getAs[Long]("n_docs") * r.getAs[Long]("max_tokens")).sum
      val tok = rs.map(_.getAs[Long]("sum_tokens")).sum
      1.0 - tok.toDouble / cap
    }
    assert(wasted(out) < wasted(global))
  }

  test("videoNearDup equals the all-pairs frame-Hamming definition") {
    // The distinct-hash compression + count expansion must reproduce
    // the brute-force video-pair aggregate EXACTLY — both matching
    // paths (diagonal identical-hash pairs and banded distinct-hash
    // pairs) and both thresholds, at minFrames 1 and 2. The synthetic
    // frame ramps are deliberately collision-rich, so the diagonal
    // carries real weight here.
    val docs = (0L until 40L).map((_, "ignored")).toDF("doc_id", "text")
    val hashes = Multimodal.videoFrameHashes(spark,
      Multimodal.packVideos(spark, docs)).toDF()
    val rows = hashes.collect().map(r => r.getAs[Long]("img_id") ->
      Seq("b0", "b1", "b2", "b3").map(r.getAs[Long](_)))
    def ham(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    for (mh <- Seq(2, 6); minF <- Seq(1L, 2L)) {
      val expect = (for {
        (ia, ha) <- rows; (ib, hb) <- rows
        if ia < ib && (ia >> 4) != (ib >> 4) && ham(ha, hb) <= mh
      } yield ((math.min(ia >> 4, ib >> 4), math.max(ia >> 4, ib >> 4)),
        ham(ha, hb)))
        .groupBy(_._1).view
        .mapValues(ps => (ps.size.toLong, ps.map(_._2).min))
        .filter(_._2._1 >= minF).toMap
      val got = Multimodal.videoNearDup(hashes, mh, minF).collect()
        .map(r => ((r.getAs[Long]("video_a"), r.getAs[Long]("video_b")),
          (r.getAs[Long]("n_frame_pairs"), r.getAs[Long]("min_hamming"))))
        .toMap
      assert(got == expect, s"maxHamming=$mh minFrames=$minF")
    }
  }

  test("imageNearDup banding is recall-EXACT: equals all-pairs Hamming") {
    val docs = (0L until 30L).map((_, "ignored")).toDF("doc_id", "text")
    val hashes = Multimodal.imageAHash(spark,
      Multimodal.packImageVariants(spark, docs)).toDF()
    val rows = hashes.collect().map(r => r.getAs[Long]("img_id") ->
      Seq("b0", "b1", "b2", "b3").map(r.getAs[Long](_)))
    def ham(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    // The pigeonhole contract the DuckDB oracle now states as the
    // definition: for ANY threshold the banded join must return every
    // pair within it (the old fixed 4-band layout lost pairs at d > 3).
    // 8 and 10 sit ABOVE the MIH cutover — they exercise the
    // multi-index probe-enumeration path (3 wide bands, e = ⌊h/3⌋
    // flips) against the same brute-force definition.
    for (mh <- Seq(2, 6, 8, 10)) {
      val expect = (for {
        (ia, ha) <- rows; (ib, hb) <- rows
        if ia < ib && ham(ha, hb) <= mh
      } yield (ia, ib, ham(ha, hb))).toSet
      val got = Multimodal.imageNearDup(hashes, mh).collect()
        .map(r => (r.getAs[Long]("img_a"), r.getAs[Long]("img_b"),
          r.getAs[Long]("hamming"))).toSet
      assert(got == expect, s"maxHamming=$mh")
    }
  }

  test("flagAgainstFingerprintIndex at an MIH threshold equals brute-force best match") {
    // The audio family probes the index at threshold 8 — above the MIH
    // cutover — so the corpus-vs-batch path must be recall-exact under
    // probe enumeration too, including (min hamming, min img) tie-break
    // and the distinct-hash expansion.
    val docs = (0L until 25L).map((_, "ignored")).toDF("doc_id", "text")
    val all = Multimodal.imageAHash(spark,
      Multimodal.packImageVariants(spark, docs)).toDF()
    val corpus = all.filter(col("img_id") % 3 =!= 0L)
    val batch = all.filter(col("img_id") % 3 === 0L)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("img_id") ->
        Seq("b0", "b1", "b2", "b3").map(r.getAs[Long](_)))
    def ham(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    val co = rowsOf(corpus)
    val expect = rowsOf(batch).flatMap { case (in, hn) =>
      val within = co.map { case (io, ho) => (io, ham(hn, ho)) }
        .filter(_._2 <= 8L)
      if (within.isEmpty) None
      else Some((in, within.minBy { case (io, h) => (h, io) }))
    }.map { case (in, (io, h)) => (in, io, h) }.toSet
    val idx = Multimodal.buildFingerprintIndex(corpus, 8)
    val got = Multimodal.flagAgainstFingerprintIndex(batch, idx).collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    idx.release()
    assert(expect.nonEmpty && got == expect)
  }

  test("DSIR: target language scores highest; scores are partition-invariant") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val scored = TextAnalysis.dsirScores(docs, 512, "en")
    val byLang = scored.groupBy("lang")
      .agg(org.apache.spark.sql.functions.avg("dsir_score").as("m"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("m")).toMap
    // The method's point: the en slice must score above every other
    // language's mean under the en-target ratio.
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(byLang("en") > m, s"en ${byLang("en")} !> $l $m")
    }
    // Exact micro-unit sums: any partitioning yields identical rows.
    val a = scored.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = TextAnalysis.dsirScores(docs.repartition(17, col("doc_id")), 512, "en")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("KMV source overlap: estimate tracks exact and is partition-invariant") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val base = TextAnalysis.sourceOverlapKmv(docs, 128)
      .orderBy("source_a", "source_b").collect()
    assert(base.nonEmpty)
    // KMV Jaccard at k=128 has sigma ~= 0.044 worst-case; 4 sigma bound.
    base.foreach { r =>
      val est = r.getAs[Double]("jaccard_kmv")
      val exact = r.getAs[Double]("jaccard_exact")
      assert(math.abs(est - exact) <= 0.18,
        s"${r.get(0)}-${r.get(1)}: est $est vs exact $exact")
    }
    // A set's k smallest hashes cannot depend on how the corpus is
    // partitioned: the whole row set must be bit-identical.
    val reparted = TextAnalysis.sourceOverlapKmv(docs.repartition(13, col("doc_id")), 128)
      .orderBy("source_a", "source_b").collect()
    assert(base.map(_.toString).toSeq == reparted.map(_.toString).toSeq)
  }

  test("sourceQualityEb: shrinkage pulls small sources toward the global rate") {
    import spark.implicits._
    // s_small: 2 docs, both passing a synthetic corpus where the global
    // rate is ~1/3 — its raw 1.0 rate must shrink far below a large
    // source with the same raw rate.
    // 60 words, mean length in [3,10], all alphabetic, stopwords present
    val passing = (1 to 20).map(i => s"alpha beta the") .mkString(" ")
    val failing = "short text only"
    val docs = (
      (1L to 2L).map(i => (i, passing, "s_small")) ++
      (3L to 42L).map(i => (i, passing, "s_big")) ++
      (43L to 142L).map(i => (i, failing, "s_junk"))
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceQualityEb(docs, 20.0)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("pass_rate"), r.getAs[Double]("shrunk_rate"))).toMap
    assert(out("s_small")._1 == 1.0 && out("s_big")._1 == 1.0)
    assert(out("s_junk")._1 == 0.0)
    // same raw rate, very different evidence: the small source shrinks
    // much closer to the global mean than the big one
    assert(out("s_small")._2 < out("s_big")._2)
    val g = 42.0 / 142.0
    assert(math.abs(out("s_small")._2 - (2 + 20 * g) / 22.0) < 1e-6)
    // junk shrinks UP toward the global rate
    assert(out("s_junk")._2 > 0.0 && out("s_junk")._2 < g)
  }

  test("pplBandFilter: balanced tertiles, tail dropped, tail holds the worst scores") {
    import spark.implicits._
    val docs = (1L to 31L)
      .map(i => (i, (1L to i).map(j => s"w${j % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pplBandFilter(docs).collect()
    assert(out.length == 31)
    val byBand = out.groupBy(_.getAs[String]("band")).view.mapValues(_.length).toMap
    // 31 = 11 + 10 + 10: first tertile takes the extra row
    assert(byBand == Map("head" -> 11, "middle" -> 10, "tail" -> 10))
    out.foreach { r =>
      assert((r.getAs[Long]("keep") == 0L) == (r.getAs[String]("band") == "tail"))
    }
    val maxKept = out.filter(_.getAs[Long]("keep") == 1L)
      .map(_.getAs[Double]("avg_neglogp")).max
    val minTail = out.filter(_.getAs[String]("band") == "tail")
      .map(_.getAs[Double]("avg_neglogp")).min
    assert(minTail >= maxKept, "tail must hold the highest-perplexity docs")
  }
}
