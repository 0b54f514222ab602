package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: quality scoring,
  * token counting, marker-based language ID. `Column` algebra plus
  * native Expressions (no UDFs): the per-word signals of the quality
  * scores and language ID are one [[graft.functions.WordStats]] pass,
  * the fingerprint is [[graft.functions.Poly31Hash]].
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq("the", "a")

  /** Language marker words, checked in priority order (en first) — the
    * CASE cascade below must match the oracle SQL's cascade exactly. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "los", "una"),
    "fr" -> Seq("le", "les", "une"),
    "de" -> Seq("der", "und", "ein"))

  /** `docs` with its [[graft.functions.WordStats]] struct as `ws`, the
    * word sets counted as `ws.n_in_<i>` in the order given. */
  private def withWordStats(docs: DataFrame, sets: Seq[Seq[String]]): DataFrame =
    docs.withColumn("ws",
      graft.functions.WordStats.column(docs.sparkSession, col("text"), sets))

  /** Length / word / stopword / punctuation statistics per document. */
  def quality(docs: DataFrame): DataFrame = {
    val nWords = col("ws.n_words")
    withWordStats(docs, Seq(stopwords)).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nWords.as("n_words"),
      (col("ws.n_nonspace") / nWords).as("avg_word_len"),
      (col("ws.n_in_0") / nWords).as("stop_ratio"),
      regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digits"))
  }

  /** Whitespace tokens vs BPE-ish regex tokens (letter runs, digit runs,
    * single punctuation) with a chars-per-token ratio. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val bpe = regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long")
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      bpe.as("bpe_tokens"),
      (length(col("text")).cast("long") / bpe).as("chars_per_token"))
  }

  /** BPE merge APPLICATION — the encode half of the tokenizer story
    * (`q_text_bpe_candidates` mines the merge table; this applies it).
    * The corpus's top-k adjacent word pairs (ranked count desc, pair
    * asc — identical to the candidate query) become the merge table;
    * each merge is applied in rank order with ONE greedy left-to-right
    * pass over the token sequence (a merged token is a new symbol —
    * containing the joining space, it can never equal a later rule's
    * space-free side, so one pass per rule is exact). Reports per-doc
    * whitespace vs encoded token counts, the compression ratio, and the
    * md5 of the encoded sequence (proof the encode actually ran).
    * Scale: the merge table is one corpus-wide pair histogram reduced
    * through the bounded two-level heap, broadcast as a single k-row
    * array; the application is one narrow per-row native Expression
    * ([[graft.functions.BpeApply]], O(rules·tokens) with mutable
    * buffers — the earlier nested-`aggregate` Column fold copied the
    * immutable accumulator array per element, O(tokens²) per pass) —
    * no shuffle beyond the mining aggregation. */
  def bpeEncode(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.BpeApply.register(docs.sparkSession)
    val ws = split(col("text"), " ")
    val pairs = docs
      .select(explode(zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
    val merges = broadcast(Rank.global(pairs, "n", "pair", k, Rank.CountDescWordAsc)
      .agg(transform(array_sort(collect_list(struct(col("rn"), col("pair")))),
        x => x.getField("pair")).as("merges")))
    val applied = docs.crossJoin(merges) // broadcast 1-row merge table
      .withColumn("toks0", split(col("text"), " "))
      .withColumn("toks", call_function("bpe_apply", col("toks0"), col("merges")))
    applied.select(col("doc_id"),
      size(col("toks0")).cast("long").as("ws_tokens"),
      size(col("toks")).cast("long").as("bpe_tokens"),
      round(size(col("toks")).cast("double") / size(col("toks0")), 6)
        .as("compression"),
      md5(concat_ws("|", col("toks"))).as("encoded_md5"))
  }

  /** BPE tokenizer TRAINING — the iterative half of the tokenizer story
    * ([[bpeEncode]] applies a STATIC rank-ordered merge table mined once
    * from the original whitespace tokenization; real BPE re-counts pairs
    * after every merge, because each learned symbol changes which pairs
    * are adjacent). Per round: (1) one corpus-wide adjacent-pair
    * histogram over the CURRENT tokenization (map-side-combining keyed
    * agg), (2) the argmax rule — count desc, then left asc, right asc,
    * the deterministic tie-break both engines share — as a 1-row frame
    * (global top-1 = TakeOrderedAndProject, no driver collect), (3) one
    * narrow re-tokenization pass per document via the pair-form native
    * Expression [[graft.functions.BpeApply.applyMergePairs]] (rule sides
    * from round 2 on are learned symbols CONTAINING spaces, which the
    * string-form `bpe_apply` rule grammar cannot carry). Emits one row
    * per round: the learned merge, its pair count at selection time, and
    * the corpus token total after applying it — the training curve.
    *
    * Scale: per round one histogram shuffle (pairs are corpus-bounded)
    * + one linear re-tokenization; the working state between rounds is
    * the re-tokenized corpus itself — inherent to BPE training,
    * checkpointed per round through [[Lifecycle.step]] so live
    * lineage/blocks stay O(1) in rounds. The round count is the vocab
    * budget (small constant), never data-sized.
    *
    * Job structure (r16, guide §2.4 — fewer materialization barriers):
    * ONE fused aggregate per round returns BOTH the argmax rule and the
    * histogram total as a single driver scalar (the same bounded-
    * metadata-action discipline as the JDBC bounds / pageRank counts):
    *  - the argmax is `min_by` over the (−count, l, r) struct — the
    *    exact (count desc, left asc, right asc) tie-break the orderBy/
    *    limit(1) form used, now without a checkpoint or isEmpty probe
    *    (an empty histogram yields a NULL scalar, not an empty frame);
    *  - `tokens_after` for round r is DERIVED from round r+1's histogram
    *    total: every doc tokenizes to ≥ 1 token (split never returns an
    *    empty array), so Σ size(toks) = Σ pair_n + n_docs exactly —
    *    this removes the per-round corpus pass that recounted tokens;
    *  - the rule is embedded in the apply pass as literals, dropping the
    *    per-round crossJoin+broadcast.
    * Per round: 1 aggregate job + 1 apply/checkpoint job (was ~5 jobs
    * and 3 corpus passes); one extra histogram total after the last
    * round closes the curve. The curve itself is assembled driver-side
    * from the R collected scalars — zero extra jobs. Below
    * [[Cutover.BpeChars]] corpus chars the whole loop runs as ONE
    * executor task instead ([[smallCorpusBpeTrain]]). */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    graft.functions.BpeApply.register(docs.sparkSession)
    // The gate is ONE bounded metadata action (a sum over the scan), the
    // same driver-scalar discipline as the pageRank cutover count.
    val chars = docs.agg(sum(length(col("text")))).head()
    Cutover.run("bpeTrain", if (chars.isNullAt(0)) 0L else chars.getLong(0),
        Cutover.BpeChars)(smallCorpusBpeTrain(docs.select(col("text")), rounds))(
      distributedBpeTrain(docs, rounds))
  }

  private def distributedBpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    // fanOut BEFORE the initial checkpoint: the corpus frame keeps its
    // partitioning across every round, so a single-file documents scan
    // would otherwise single-thread ALL R histogram+apply passes
    // (r16 profile: 39 stages × 1 task each).
    var toks = Lifecycle.checkpoint(
      graft.Tables.fanOut(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), " ").as("toks")))
    // Docs whose text is NULL tokenize to a NULL array: they contribute
    // no pairs and are skipped by sum(size(toks)), so the Σ pair_n +
    // n_docs identity below must count only non-null corpora rows.
    val nDocs = toks.where(col("toks").isNotNull).count()
    // (Σ adjacent pairs, argmax rule) of the CURRENT tokenization as one
    // driver scalar; rule is None when no adjacent pair remains.
    def pairStats(frame: DataFrame): (Long, Option[(String, String, Long)]) = {
      val pairs = frame
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("pair_n"))
      val row = pairs.agg(
        sum(col("pair_n")).as("tot"),
        min_by(struct(col("l"), col("r"), col("pair_n")),
          struct((-col("pair_n")).as("k1"), col("l").as("k2"),
            col("r").as("k3"))).as("rule")).head()
      if (row.isNullAt(0)) (0L, None)
      else {
        val rule = row.getStruct(1)
        (row.getLong(0),
          Some((rule.getString(0), rule.getString(1), rule.getLong(2))))
      }
    }
    // (round, merge_rule, pair_n) awaiting the NEXT histogram total for
    // its tokens_after; completed curve rows.
    var pending: Option[(Long, String, Long)] = None
    val curve = scala.collection.mutable.Buffer.empty[(Long, String, Long, java.lang.Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val (tot, ruleOpt) = pairStats(toks)
      pending.foreach { case (rr, mr, pn) =>
        curve += ((rr, mr, pn, java.lang.Long.valueOf(tot + nDocs)))
      }
      pending = None
      ruleOpt match {
        // A corpus with no adjacent pair left (every doc merged to a
        // single token, or rounds exceed the mergeable vocabulary):
        // training is simply done — the curve has one row per merge
        // actually learned.
        case None => exhausted = true
        case Some((l, rt, pn)) =>
          val applied = toks.select(col("doc_id"),
            call_function("bpe_apply_pairs",
              col("toks"), array(lit(l)), array(lit(rt))).as("toks"))
          toks = Lifecycle.step(applied, Some(toks))
          pending = Some((r.toLong, l + " " + rt, pn))
      }
      r += 1
    }
    // The last learned round still needs its post-apply token total.
    pending.foreach { case (rr, mr, pn) =>
      val (tot, _) = pairStats(toks)
      curve += ((rr, mr, pn, java.lang.Long.valueOf(tot + nDocs)))
    }
    Lifecycle.release(toks)
    // An input with no pairs AT ALL (single-token docs only) learns zero
    // merges: emit the empty curve with the pre-r16 schema.
    if (curve.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "round BIGINT, merge_rule STRING, pair_n BIGINT, tokens_after BIGINT"))
    // Boxed tokens_after keeps the column NULLABLE like the sum() it
    // replaced, so the dumped schema is byte-identical to pre-r16.
    import spark.implicits._
    curve.toSeq.toDF("round", "merge_rule", "pair_n", "tokens_after")
      .orderBy("round")
  }

  /** One-task BPE training below the cutover: folds the corpus into
    * String arrays inside ONE executor task (no rows ship to the
    * driver) and replays the distributed loop's exact semantics —
    *  - tokenize with the same `-1`-limit regex split as Spark's
    *    `split(text, " ")` (trailing empty tokens kept; NULL text →
    *    NULL corpus row, skipped like explode/sum skip it);
    *  - per round an adjacent-pair histogram, the (count desc, left
    *    asc, right asc) argmax with ties compared in UTF-8 BINARY order
    *    (Spark's string ordering — `String.compareTo` would disagree on
    *    supplementary characters);
    *  - the same greedy left-to-right single-pass merge fold as
    *    [[graft.functions.BpeApply.applyMergePairs]];
    *  - `tokens_after` = Σ tokens over non-null docs.
    * All counts/merges are integer/string operations, so the two paths
    * are interchangeable under the oracle hash. Emits the same
    * (round, merge_rule, pair_n, tokens_after) curve, tokens_after
    * nullable like the distributed path's. */
  private def smallCorpusBpeTrain(txt: DataFrame, rounds: Int): DataFrame = {
    val spark = txt.sparkSession
    import spark.implicits._
    Cutover.fold(txt.as[String]) { it =>
      def u8cmp(a: String, b: String): Int = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
      val corpus = new scala.collection.mutable.ArrayBuffer[Array[String]]()
      val lens = new scala.collection.mutable.ArrayBuffer[Int]()
      while (it.hasNext) {
        val t = it.next()
        if (t != null) { // null text = null toks row: no pairs, no size
          val a = t.split(" ", -1)
          corpus += a
          lens += a.length
        }
      }
      val curve = new scala.collection.mutable.ArrayBuffer[
        (Long, String, Long, java.lang.Long)]()
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val counts = new java.util.HashMap[(String, String), Long]()
        var d = 0
        while (d < corpus.length) {
          val arr = corpus(d)
          val len = lens(d)
          var j = 0
          while (j + 1 < len) {
            val k = (arr(j), arr(j + 1))
            counts.put(k, counts.getOrDefault(k, 0L) + 1L)
            j += 1
          }
          d += 1
        }
        if (counts.isEmpty) exhausted = true
        else {
          var bl: String = null
          var br: String = null
          var bn = -1L
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            val (l, rt) = kv.getKey
            val n = kv.getValue
            if (n > bn || (n == bn && {
                  val cl = u8cmp(l, bl)
                  cl < 0 || (cl == 0 && u8cmp(rt, br) < 0)
                })) { bl = l; br = rt; bn = n }
          }
          val merged = bl + " " + br
          var tokensAfter = 0L
          d = 0
          while (d < corpus.length) {
            val arr = corpus(d)
            val len = lens(d)
            // applyMergePairs' greedy fold, single rule
            var o = 0
            var j = 0
            while (j < len) {
              val t = arr(j)
              if (o > 0 && arr(o - 1) == bl && t == br) arr(o - 1) = merged
              else { arr(o) = t; o += 1 }
              j += 1
            }
            lens(d) = o
            tokensAfter += o
            d += 1
          }
          curve += ((r.toLong, merged, bn, java.lang.Long.valueOf(tokensAfter)))
        }
        r += 1
      }
      curve.iterator
    }.toDF("round", "merge_rule", "pair_n", "tokens_after")
      .orderBy("round")
  }

  /** Curation gate: keep documents passing the quality thresholds — the
    * filtering step a training-data pipeline runs after scoring. One
    * `word_stats` call per row: a filter over a projected struct is
    * pushed below the projection with the struct's definition copied
    * into every conjunct (four kernel calls, then a fifth above), but
    * a struct a generator emits cannot be copied, so the filter stays
    * above the one call. */
  def qualityFilter(docs: DataFrame, minWords: Long, maxWords: Long,
                    maxStopRatio: Double): DataFrame = {
    val stopRatio = col("n_in_0") / col("n_words")
    withWordStats(docs, Seq(stopwords))
      .select(col("doc_id"), inline(array(col("ws"))))
      .filter(col("n_words") >= minWords && col("n_words") <= maxWords &&
        stopRatio <= maxStopRatio)
      .select(col("doc_id"), col("n_words"), stopRatio.as("stop_ratio"))
  }

  /** Per-document top-k TF-IDF terms: tf from one word-explode groupBy,
    * df from a second (both map-side-combining), idf = ln((N+1)/(df+1)),
    * score rounded to 6 BEFORE ranking so both engines rank identical
    * values (raw ln ulps could otherwise flip near-ties). The ranking
    * window partitions by doc_id — each partition is one document's
    * vocabulary, bounded regardless of corpus size. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
    Rank.perGroup(scored, Seq("doc_id"), Seq(col("score").desc, col("word").asc), k)
      .select(col("doc_id"), col("rn"), col("word"), col("tf"), col("score"))
  }

  /** Fixed-window word chunking with stride — the context-window prep
    * step of a training pipeline. Chunk i covers words
    * [i·stride+1, i·stride+window]; chunks = ⌊(len−1)/stride⌋+1, so
    * every word lands in ≥1 chunk (tail chunks run short rather than
    * dropping words). One generator per row, no shuffle — output is a
    * constant factor of the input at any corpus size. */
  def chunkWords(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    val ws = split(col("text"), " ")
    docs
      .withColumn("ws", ws)
      .withColumn("n_chunks",
        (floor((size(col("ws")) - 1) / lit(stride)) + 1).cast("long"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1), i => struct(
          concat_ws(" ", slice(col("ws"), (i * stride + 1).cast("int"), lit(window))).as("t"),
          size(slice(col("ws"), (i * stride + 1).cast("int"), lit(window))).cast("long").as("nw")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_no"),
        col("col.t").as("chunk_text"), col("col.nw").as("n_chunk_words"))
  }

  /** PII patterns shared verbatim with the DuckDB oracle — both
    * engines' regex dialects (Java / RE2) read these identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val CcRe = "\\b\\d{13,16}\\b"

  /** PII scrubbing for training corpora: redact emails, SSNs, IPv4
    * addresses, phone-shaped digit runs, and — Luhn-gated — payment-card
    * numbers with typed placeholders. Card handling is shape+checksum,
    * not shape alone: 13–16 digit runs are extracted, kept only if they
    * pass `luhn_check` (the built-in codegen'd expression), and each
    * survivor is redacted at word boundaries — a random digit run
    * failing the checksum is NOT redacted (over-redaction destroys
    * training text). Order matters: SSN before phone (its tail would
    * otherwise half-match), cards on the digit runs the earlier
    * placeholders no longer contain. A narrow per-row chain — codegen'd
    * regexes plus one bounded fold over the row's card matches; no
    * shuffle, linear in the scan. Idempotent: placeholders contain no
    * digits, so re-scrubbing is the identity (spec-pinned). */
  def scrubPii(c: Column): Column = {
    val base = regexp_replace(regexp_replace(regexp_replace(c,
      lit(EmailRe), lit("<EMAIL>")),
      lit(SsnRe), lit("<SSN>")),
      lit(Ipv4Re), lit("<IP>"))
    val cards = aggregate(
      filter(regexp_extract_all(base, lit(CcRe), lit(0)),
        cc => call_function("luhn_check", cc)),
      base,
      (acc, cc) => regexp_replace(acc,
        concat(lit("\\b"), cc, lit("\\b")), lit("<CC>")))
    regexp_replace(cards, lit(PhoneRe), lit("<PHONE>"))
  }

  /** The DuckDB mirror of [[scrubPii]] (global replace flag; Luhn as a
    * digit-list fold — DuckDB has no built-in checksum). */
  def scrubPiiSql(e: String): String = {
    def luhn(cc: String): String =
      s"""(list_sum(list_transform(range(1, len($cc) + 1),
         |  i -> CASE WHEN i % 2 = 0 THEN
         |         CASE WHEN 2 * CAST(substr(reverse($cc), CAST(i AS INT), 1) AS INT) > 9
         |              THEN 2 * CAST(substr(reverse($cc), CAST(i AS INT), 1) AS INT) - 9
         |              ELSE 2 * CAST(substr(reverse($cc), CAST(i AS INT), 1) AS INT) END
         |       ELSE CAST(substr(reverse($cc), CAST(i AS INT), 1) AS INT) END)) % 10 = 0)""".stripMargin
    val base = s"regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'$EmailRe', '<EMAIL>', 'g'), '$SsnRe', '<SSN>', 'g'), " +
      s"'$Ipv4Re', '<IP>', 'g')"
    s"""regexp_replace(
       |  list_reduce(
       |    list_prepend($base,
       |      list_filter(regexp_extract_all($base, '$CcRe'), cc -> ${luhn("cc")})),
       |    (acc, x) -> regexp_replace(acc, '\\b' || x || '\\b', '<CC>', 'g')),
       |  '$PhoneRe', '<PHONE>', 'g')""".stripMargin
  }

  /** Packing-efficiency report over [[packSequences]]'s assignment: per
    * language, the sequence count, packed token total, nominal capacity
    * (n_seqs × seqLen) and fill ratio — the padding-waste number a
    * training pipeline watches when tuning seqLen/shards. Spill
    * documents (a doc crossing a boundary belongs to the sequence where
    * it STARTED) can push a sequence past seqLen, so fill_ratio may
    * exceed 1 slightly; that is the packing's real semantics, not an
    * error. Scale: the packing output reduced by one keyed count —
    * nothing beyond the packing itself. */
  def packEfficiency(docs: DataFrame, seqLen: Long, shards: Long): DataFrame =
    packSequences(docs, seqLen, shards)
      .groupBy("lang")
      .agg(
        countDistinct(concat_ws(":", col("shard"), col("seq_no"))).as("n_seqs"),
        sum(col("n_words")).as("total_tokens"))
      .select(col("lang"), col("n_seqs"), col("total_tokens"),
        (col("n_seqs") * lit(seqLen)).as("capacity"),
        round(col("total_tokens") / (col("n_seqs") * lit(seqLen)), 6)
          .as("fill_ratio"))
      .orderBy("lang")

  /** Deterministic global shuffle of a corpus into `shards` balanced
    * training shards — the final materialization step before a training
    * run reads the data (a corpus left in crawl/source order trains on
    * correlated batches): each document gets a content-independent
    * pseudo-random key (md5 of its id, [[graft.functions.Hashing]]),
    * its shard is key mod shards, its position the key's rank within
    * the shard. Reproducible — pure hashing, no RNG state, invariant to
    * input partitioning and insert order. Scale: one hash exchange on
    * `shard` plus an IN-PARTITION sort (each window partition is one
    * shard) — no global sort exists; at 100 TB raise `shards` until a
    * shard fits a task, shuffle quality is unaffected (the key is
    * uniform within every shard too). */
  def globalShuffle(docs: DataFrame, shards: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("skey").asc, col("doc_id").asc)
    docs
      .select(col("doc_id"),
        graft.functions.Hashing.md5Long(col("doc_id").cast("string")).as("skey"))
      .withColumn("shard", col("skey") % shards) // skey ≥ 0 (60-bit hex)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Length-bucketed micro-batching — the padding-efficiency layout a
    * fine-tuning pipeline uses when documents are NOT packed (packing
    * destroys example boundaries; instruction tuning keeps them):
    * bucket documents by token count (floored to `bucketWidth`), split
    * each bucket into md5 shards, and assign fixed-size batches in
    * doc_id order within each (bucket, shard). One row per batch:
    * size, max/sum tokens, and fill = sum/(n·max) — the fraction of
    * the padded batch tensor that is real tokens (unbucketed batching
    * wastes 1−avg/max of every batch; this report prices the bucket
    * layout). All signals are exact-integer ratios → bit-identical
    * IEEE divisions on both engines. Scale: the same (group, shard)
    * window discipline as [[packSequences]] — parallelism is
    * |buckets|·|shards|, batches never span shards, no global sort. */
  def lengthBucketBatches(docs: DataFrame, bucketWidth: Long,
                          batchSize: Long, shards: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket", "shard").orderBy("doc_id")
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (graft.functions.Hashing.md5Mod(col("doc_id").cast("string")) % shards)
          .as("shard"))
      .withColumn("bucket",
        (floor(col("n_tokens") / lit(bucketWidth.toDouble)) * bucketWidth)
          .cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_no",
        floor((col("rn") - 1) / lit(batchSize.toDouble)).cast("long"))
      .groupBy("bucket", "shard", "batch_no")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("bucket"), col("shard"), col("batch_no"), col("n_docs"),
        col("max_tokens"), col("sum_tokens"),
        round(col("sum_tokens").cast("double")
          / (col("n_docs") * col("max_tokens")).cast("double"), 6)
          .as("fill_ratio"))
  }

  /** Temperature-weighted source mixture (the τ-scaled sampling weights
    * an LLM data pipeline uses to rebalance domains — τ=1 keeps natural
    * proportions, τ→0 approaches uniform): per source, weight ∝
    * n_docs^τ normalized over sources, and the per-source sampling rate
    * that realizes the mix (weight · total/n — >1 means upsampling).
    * The normalizer Z folds the per-source pow values in SORTED order
    * (same sequential-fold discipline as the dot product), so the
    * double sum is engine- and partitioning-independent. Scale: one
    * keyed count + a |sources|-bounded fold. */
  def temperatureMix(docs: DataFrame, tau: Double): DataFrame = {
    // pow is not correctly rounded in either engine's libm — round the
    // per-source weight to 6 decimals IMMEDIATELY so a 1-ulp pow
    // divergence is absorbed here (one rounding with a ~1e-13-wide tie
    // window) instead of propagating into every downstream ratio.
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", round(pow(col("n_docs").cast("double"), lit(tau)), 6))
    val z = broadcast(counts.agg(
      aggregate(array_sort(collect_list(col("w_raw"))), lit(0.0),
        (acc, x) => acc + x).as("z"),
      sum(col("n_docs")).as("total_docs")))
    counts.crossJoin(z)
      .select(col("source"), col("n_docs"),
        round(col("w_raw") / col("z"), 6).as("weight"),
        round(col("w_raw") / col("z") * col("total_docs") / col("n_docs"), 6)
          .as("sample_rate"))
      .orderBy("source")
  }

  /** Token-budget mixing plan — the data recipe a pretraining run
    * publishes: realize [[temperatureMix]]'s τ-scaled weights as
    * per-source token targets under a total budget, next to the tokens
    * each source actually has; `epochs` = target/available is the
    * repetition count (>1 means the source repeats — the ceiling a
    * curator caps before re-balancing). `target_tokens` is exact:
    * weight is a 6-decimal value and the budget a multiple of 10⁷, so
    * weight·budget is an integer times 10 in doubles — no rounding-mode
    * tie is reachable. Scale: two keyed aggregates over the corpus and
    * a |sources|-row join. */
  def epochPlan(docs: DataFrame, tau: Double, tokenBudget: Long): DataFrame = {
    require(tokenBudget % 10000000L == 0, "budget must be a multiple of 1e7 (exactness)")
    // ONE scan: doc counts and token totals in the same keyed aggregate
    // (at 100 TB the text column is the cost — composing temperatureMix
    // plus a second aggregate would read it twice). The weight spelling
    // (immediately-rounded pow, sorted-fold normalizer) stays verbatim
    // from [[temperatureMix]] so both stay in lockstep with the oracle.
    val agg = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
      .withColumn("w_raw", round(pow(col("n_docs").cast("double"), lit(tau)), 6))
    val z = broadcast(agg.agg(
      aggregate(array_sort(collect_list(col("w_raw"))), lit(0.0),
        (acc, x) => acc + x).as("z")))
    agg.crossJoin(z)
      .select(col("source"), col("n_docs"),
        round(col("w_raw") / col("z"), 6).as("weight"),
        col("avail_tokens"),
        round(round(col("w_raw") / col("z"), 6) * tokenBudget, 0).cast("long")
          .as("target_tokens"),
        round(round(col("w_raw") / col("z"), 6) * tokenBudget
          / col("avail_tokens"), 6).as("epochs"))
      .orderBy("source")
  }

  /** Sequence packing for LLM training: assign documents to fixed-size
    * token sequences (greedy streaming pack in doc_id order) WITHIN
    * deterministic (lang, shard) groups — the standard distributed
    * shape: each shard packs independently, so parallelism is
    * |langs|·|shards| and no global sort exists (at 100 TB, raise
    * `shards` — packing quality is unaffected because sequences never
    * span shards anyway). The shard is md5-derived from doc_id
    * (engine-portable); `seq_no` = floor(tokens-before-this-doc /
    * seqLen), i.e. a document spills into the next sequence when the
    * running total crosses a boundary — documents are never split.
    * Pure integer window arithmetic → exact on any engine. */
  def packSequences(docs: DataFrame, seqLen: Long, shards: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        (graft.functions.Hashing.md5Mod(col("doc_id").cast("string")) % shards)
          .as("shard"))
      .withColumn("cum", sum(col("n_words")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_words"),
        floor((col("cum") - col("n_words")) / seqLen).cast("long").as("seq_no"))
  }

  /** Gopher-rule thresholds (Rae et al. 2021, "Scaling Language Models" —
    * the public corpus-filtering heuristics), shared with the oracle. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinWordLen = 3.0
  val GopherMaxWordLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMinStop = 2L
  val GopherMaxSymbolRatio = 0.1
  /** Hash-or-ellipsis runs per word — the Gopher "symbol ratio". */
  val SymbolRe = "#|\\.\\.\\."

  /** Gopher-style quality rules per document: word-count bounds, mean
    * word length bounds, fraction of words containing an alphabetic
    * character, stopword floor, symbol-to-word ratio. Every signal is a
    * single-op IEEE division of exact integers, so both engines compute
    * bit-identical doubles and the threshold comparisons cannot diverge.
    * Narrow (per-row, one [[graft.functions.WordStats]] pass, no
    * shuffle) — linear in the scan at any corpus size. */
  def gopherQuality(docs: DataFrame): DataFrame = gopherSignals(docs, Nil)

  /** [[gopherQuality]] with `extra` columns between doc_id and the
    * signals — the oracle's `gopherSignalsSql(extraCols)`. */
  private def gopherSignals(docs: DataFrame, extra: Seq[Column]): DataFrame = {
    val nWords = col("ws.n_words")
    withWordStats(docs, Seq(stopwords)).select(
      (col("doc_id") +: extra) ++ Seq(
        nWords.as("n_words"),
        (col("ws.n_nonspace") / nWords).as("mean_word_len"),
        (col("ws.n_alpha") / nWords).as("alpha_frac"),
        col("ws.n_in_0").as("n_stop"),
        (col("ws.n_symbol") / nWords).as("symbol_ratio")): _*)
      .withColumn("passes",
        (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords &&
          col("mean_word_len") >= GopherMinWordLen &&
          col("mean_word_len") <= GopherMaxWordLen &&
          col("alpha_frac") >= GopherMinAlphaFrac &&
          col("n_stop") >= GopherMinStop &&
          col("symbol_ratio") <= GopherMaxSymbolRatio).cast("long"))
  }

  /** Per-source quality with empirical-Bayes shrinkage: the raw Gopher
    * pass rate of a small source is noise (3 passing docs out of 4 is
    * not a 0.75-quality domain), so each source's rate is shrunk toward
    * the corpus-wide rate with pseudo-count strength `k` — the
    * James-Stein / beta-prior estimate `(n_pass + k·g) / (n_docs + k)`
    * that domain-level curation (per-site quality priors over a crawl)
    * actually ranks by. Deterministic: the global rate is one exact
    * integer division and the shrink is a fixed double chain, shared
    * verbatim with the oracle. Scale: one scan whose per-document
    * signals carry `source`, one keyed aggregate + a broadcast 1-row
    * global over it — the global rate's branch reuses the per-source
    * shuffle (ReuseExchange), so the corpus is read once. */
  def sourceQualityEb(docs: DataFrame, k: Double): DataFrame = {
    val per = gopherSignals(docs, Seq(col("source")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("passes")).as("n_pass"))
    val g = broadcast(per.agg(
      (sum(col("n_pass")) / sum(col("n_docs"))).as("g_rate")))
    per.crossJoin(g).select(
      col("source"), col("n_docs"), col("n_pass"),
      round(col("n_pass") / col("n_docs"), 6).as("pass_rate"),
      round((col("n_pass") + lit(k) * col("g_rate"))
        / (col("n_docs") + lit(k)), 6).as("shrunk_rate"))
  }

  /** Corpus-level line dedup (the CCNet / RefinedWeb preprocessing step:
    * drop lines duplicated across documents — boilerplate, headers,
    * navigation). The synthetic corpus has no newlines, so the "line"
    * segmenter is a deterministic fixed-width word window (the operator
    * shape — explode → corpus-wide distinct-doc count → anti-join →
    * order-preserving reassembly — is exactly the production one; only
    * the segmenter constant differs). Scale: the segment count is a
    * hash-partitioned two-level aggregate; the hot-segment set (segments
    * in > maxDocs documents) is by construction a tiny fraction of the
    * corpus, anti-joined back; reassembly groups by doc_id, so no
    * partition ever exceeds one document's segments. */
  def lineDedup(docs: DataFrame, lineW: Int, maxDocs: Long): DataFrame = {
    val ws = split(col("text"), " ")
    val nSegs = (floor((size(ws) - 1) / lit(lineW)) + 1).cast("long")
    val segs = docs
      .withColumn("ws", ws)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), nSegs - 1), i =>
          concat_ws(" ", slice(col("ws"), (i * lineW + 1).cast("int"), lit(lineW))))))
      .select(col("doc_id"), col("pos").as("seg_no"), col("col").as("seg"))
    val hot = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > maxDocs)
      .select("seg")
    val kept = segs.join(hot, Seq("seg"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("seg_no"), col("seg")))),
            s => s.getField("seg"))).as("kept_text"))
    docs.select(col("doc_id"), nSegs.as("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
  }

  /** Cross-document duplicated n-gram START positions: every n-word
    * gram (by word position) whose text occurs in at least `minDocs`
    * DISTINCT documents, emitted as (doc_id, start_i) for every
    * occurrence. The building block of exact-substring training-data
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — the reference pipeline has no such
    * operator; this is the LLM-curation superset): grams are generated
    * by pure array algebra on the split text (one generator per row, no
    * shuffle), the gram → distinct-doc-frequency aggregate is one
    * hash-partitioned two-level groupBy over md5(gram) (16-byte keys
    * cross the shuffle, never the gram strings), and the duplicated-gram
    * set joins back onto the narrow (doc_id, start_i, hash) rows. At
    * 100 TB every stage is linear in the corpus: no pairwise join ever
    * forms — doc multiplicity only meets the BOUNDED duplicated-hash
    * set. */
  def dupGramHits(docs: DataFrame, n: Int, minDocs: Long): DataFrame = {
    val ws = split(col("text"), " ")
    val grams = docs
      .withColumn("ws", ws)
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), (size(col("ws")) - n).cast("long")),
          i => md5(concat_ws(" ", slice(col("ws"), (i + 1).cast("int"), lit(n)))))))
      .select(col("doc_id"), col("pos").cast("long").as("start_i"), col("col").as("gh"))
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    grams.join(dup, Seq("gh")).select("doc_id", "start_i")
  }

  /** Maximal duplicated SPANS per document: the word-index intervals
    * covered by cross-document duplicated n-grams ([[dupGramHits]]),
    * with overlapping/adjacent gram intervals [s, s+n-1] merged into
    * disjoint islands (classic gaps-and-islands: an island breaks when
    * the next duplicated start is more than n positions after the
    * previous one). Emits (doc_id, span_start, span_end, span_words)
    * with word indices 0-based inclusive. The merge window partitions by
    * doc_id — bounded by one document's gram count, never corpus-wide. */
  def dupSpans(docs: DataFrame, n: Int, minDocs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start_i")
    dupGramHits(docs, n, minDocs)
      .withColumn("brk",
        when(col("start_i") - lag(col("start_i"), 1).over(w) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min(col("start_i")).as("span_start"),
        (max(col("start_i")) + (n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_words"))
  }

  /** Per-document duplication coverage: how much of each document's
    * text sits inside a cross-document duplicated span ([[dupSpans]] —
    * the islands are disjoint by construction, so summing their lengths
    * counts each covered word exactly once). The curation signal used to
    * drop or trim heavily-duplicated documents. Left join keeps docs
    * with zero duplicated material (ratio 0). */
  def dupCoverage(docs: DataFrame, n: Int, minDocs: Long): DataFrame = {
    val spans = dupSpans(docs, n, minDocs)
      .groupBy("doc_id").agg(sum(col("span_words")).as("dup_words"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        round(coalesce(col("dup_words"), lit(0L)) / col("n_words"), 6).as("dup_ratio"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * word k-gram (the [[graft.functions.Poly31Hash]] rolling hash),
    * slide a window of `w` consecutive gram hashes, keep each window's
    * minimum (LEFTMOST position on the vanishingly-rare ties — min of
    * `struct(h, pos)`), de-duplicated. The paper's guarantee makes this
    * the EXACT counterpart to the probabilistic MinHash family: any
    * shared word run of at least w + k − 1 words between two documents
    * shares at least one selected fingerprint — no false negatives at
    * that span length, with only ~2/(w+1) of gram hashes retained.
    *
    * Scale shape: everything is keyed by doc_id — the gram explode is
    * linear (each gram joins its ≤ w windows: a constant-factor
    * explode, same cost class as MinHash's bands×rows), the
    * per-window argmin is ONE map-side-combinable groupBy, and no
    * global window or driver state exists. Documents shorter than one
    * full window (w + k − 1 words) yield no fingerprints, as in the
    * paper. */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    graft.functions.Poly31Hash.register(docs.sparkSession)
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n_grams", (size(col("t")) - k + 1).cast("long"))
      .filter(col("n_grams") >= w)
      .select(col("doc_id"), col("n_grams"),
        posexplode(expr(
          s"transform(sequence(0, size(t) - $k), " +
            s"i -> concat_ws(' ', slice(t, i + 1, $k)))")).as(Seq("pos", "gram")))
      .selectExpr("doc_id", "n_grams", "CAST(pos AS BIGINT) AS pos",
        "poly31(gram) AS h")
    // gram at pos belongs to windows [pos-w+1, pos] ∩ [0, n_grams-w];
    // n_grams ≥ w makes the range non-empty for every pos
    grams
      .select(col("doc_id"), col("h"), col("pos"),
        explode(expr(s"sequence(greatest(pos - $w + 1, 0L), " +
          s"least(pos, n_grams - $w))")).as("ws"))
      .groupBy("doc_id", "ws")
      .agg(min(struct(col("h"), col("pos"))).as("m"))
      .select(col("doc_id"), col("m.pos").as("pos"), col("m.h").as("fp"))
      .distinct()
  }

  /** Cross-document overlap candidates from winnowed fingerprints:
    * documents sharing ≥ `minShared` selected fingerprints, with the
    * shared count — the MOSS match report. Fingerprints present in more
    * than `maxDocFreq` documents are dropped first (the paper's
    * over-common-fingerprint practice, and the Σ bucket² guard: a
    * corpus-wide boilerplate phrase must not become a quadratic
    * bucket). */
  def winnowOverlapPairs(docs: DataFrame, k: Int, w: Int,
                         minShared: Long, maxDocFreq: Long): DataFrame = {
    val fp = winnowFingerprints(docs, k, w)
      .select("doc_id", "fp").distinct()
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("fp")
    val kept = fp.join(rare, Seq("fp"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** BM25 constants (Robertson/Spärck Jones; the Lucene-default
    * parametrization) — shared with the oracle SQL. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 document retrieval for a fixed query-term set: the classic
    * keyword-search scoring a curation pipeline uses to pull topical
    * slices out of a corpus. idf = ln(1 + (N − df + ½)/(df + ½)) (the
    * Lucene form — always positive), tf normalized by doc length against
    * the corpus mean. Scale shape: the word explode is filtered to the
    * query terms BEFORE the tf groupBy (narrow, codegen'd — only
    * matching words ever shuffle); df is a ≤|terms|-row aggregate
    * broadcast back; avgdl is a 1-row broadcast; the per-doc term sum is
    * decimal-stable and rounded to 6 BEFORE ranking; the global top-k
    * runs through the bounded tree-merge aggregator, so only O(k) rows
    * per partition group cross the final exchange — no single-reducer
    * window at any corpus size. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val dlen = size(split(col("text"), " ")).cast("long")
    val dl = docs.select(col("doc_id"), dlen.as("dl"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(dlen).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word").isin(terms.map(x => x: Any): _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (lit(Bm25K1) + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - Bm25B + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(graft.functions.Num.dsum(col("term_score")), 6).as("score"))
    Rank.global(scored, "score", "doc_id", k, Rank.ScoreDescIdAsc)
  }

  /** Jensen–Shannon drift between the same two corpus snapshots as
    * [[klDrift]] — the symmetric, bounded ([0, ln 2]) drift score a
    * regression gate can threshold without direction-picking. Same
    * exactness discipline: every ln argument is a ratio built from
    * EXACT integer products (each < 2⁵³ before the double multiply, in
    * the same operand order on both engines), per-term sums are
    * decimal-stable, the final score rounds to 6. Same scale shape as
    * KL: two map-side-combining groupBys + a broadcast totals join. */
  def jsDrift(docs: DataFrame, isB: Column): DataFrame = {
    val words = docs.select(col("lang"), isB.as("is_b"),
      explode(split(col("text"), " ")).as("word"))
    val cnt = words.groupBy("lang", "word").agg(
      sum(when(!col("is_b"), 1L).otherwise(0L)).as("ca"),
      sum(when(col("is_b"), 1L).otherwise(0L)).as("cb"))
    val tot = cnt.groupBy("lang").agg(
      sum(col("ca")).as("ta"), sum(col("cb")).as("tb"), count(lit(1)).as("v"))
    // u = (ca+1)(tb+v), w = (cb+1)(ta+v): exact integer products as
    // doubles; 2p/(p+q) = 2u/(u+w) and 2q/(p+q) = 2w/(u+w).
    val u = (col("ca") + 1).cast("double") * (col("tb") + col("v")).cast("double")
    val w = (col("cb") + 1).cast("double") * (col("ta") + col("v")).cast("double")
    cnt.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("ta"), col("tb"), col("v"),
        ((col("ca") + 1).cast("double") * log(lit(2.0) * u / (u + w))).as("t_a"),
        ((col("cb") + 1).cast("double") * log(lit(2.0) * w / (u + w))).as("t_b"))
      .groupBy("lang", "ta", "tb", "v")
      .agg(round(
        (graft.functions.Num.dsum(col("t_a")) / (col("ta") + col("v")) +
         graft.functions.Num.dsum(col("t_b")) / (col("tb") + col("v"))) / 2.0,
        6).as("js"))
      .select(col("lang"), col("v").as("n_vocab"),
        col("ta").as("tokens_a"), col("tb").as("tokens_b"), col("js"))
  }

  /** Word-distribution drift between two corpus snapshots (KL
    * divergence both directions, per language) — the regression check a
    * pipeline runs when a new crawl lands: a jump in KL(new‖old) flags a
    * shifted source mix before it reaches training. Laplace add-1
    * smoothing over the joint per-lang vocabulary keeps both directions
    * finite. Engine-exactness: the log argument is a ratio of EXACT
    * integer products (each factor < 2⁵³, cast to double before the
    * multiply on both engines), terms are decimal-stable-summed and the
    * final divergence rounded to 6. Scale: two map-side-combining
    * groupBys (lang×word, then lang) and a broadcast-size totals join —
    * linear in the corpus, no pairwise anything. */
  def klDrift(docs: DataFrame, isB: Column): DataFrame = {
    val words = docs.select(col("lang"), isB.as("is_b"),
      explode(split(col("text"), " ")).as("word"))
    val cnt = words.groupBy("lang", "word").agg(
      sum(when(!col("is_b"), 1L).otherwise(0L)).as("ca"),
      sum(when(col("is_b"), 1L).otherwise(0L)).as("cb"))
    klFromCounts(cnt, Seq("lang"))
  }

  /** The shared KL tail over an (keys…, word, ca, cb) count frame —
    * identical smoothing/exactness to the original [[klDrift]] body
    * (add-one over the union vocabulary, exact integer products as
    * doubles in a pinned operand order, decimal-stable term sums, one
    * 6-dp round): ONE spelling for the A/B snapshot drift and the
    * per-wave reference drift, kept in lockstep with the oracles. */
  private def klFromCounts(cnt: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val tot = cnt.groupBy(kc: _*).agg(
      sum(col("ca")).as("ta"), sum(col("cb")).as("tb"), count(lit(1)).as("v"))
    val pa = (col("ca") + 1).cast("double") * (col("tb") + col("v")).cast("double")
    val pb = (col("cb") + 1).cast("double") * (col("ta") + col("v")).cast("double")
    cnt.join(broadcast(tot), keys)
      .select(kc ++ Seq(col("ta"), col("tb"), col("v"),
        ((col("ca") + 1).cast("double") * log(pa / pb)).as("t_ab"),
        ((col("cb") + 1).cast("double") * log(pb / pa)).as("t_ba")): _*)
      .groupBy((keys ++ Seq("ta", "tb", "v")).map(col): _*)
      .agg(
        round(graft.functions.Num.dsum(col("t_ab")) / (col("ta") + col("v")), 6).as("kl_ab"),
        round(graft.functions.Num.dsum(col("t_ba")) / (col("tb") + col("v")), 6).as("kl_ba"))
      .select(kc ++ Seq(col("v").as("n_vocab"),
        col("ta").as("tokens_a"), col("tb").as("tokens_b"),
        col("kl_ab"), col("kl_ba")): _*)
  }

  /** Reference word histogram for [[klAgainstRef]] — (lang, word, ca).
    * Built ONCE over the reference corpus; a streaming monitor persists
    * it and probes every micro-batch against it (the prebuilt-index
    * discipline of the incremental dedup stream). */
  def driftRefHistogram(ref: DataFrame): DataFrame =
    ref.select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("ca"))

  /** KL drift of ingest WAVES against a prebuilt reference histogram —
    * the data-quality sentinel a production ingest runs on every wave:
    * a drifting source (new language mix, spam burst, template flood)
    * moves the wave's word distribution away from the reference and
    * kl_ba spikes before the wave is committed. `waves` carries a
    * `wave` column (one row group per ingest); output is one row per
    * (wave, lang) with the same add-one-over-union-vocab smoothing and
    * exactness discipline as [[klDrift]]. Scale: the reference
    * histogram is built once; per wave the cost is the wave's own
    * histogram plus a keyed join against the reference — nothing
    * rescans the reference corpus. The ref×wave expansion is bounded
    * by the monitor's wave count per report. */
  def klAgainstRef(refHist: DataFrame, waves: DataFrame): DataFrame = {
    val wh = waves.select(col("wave"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy("wave", "lang", "word").agg(count(lit(1)).as("cb"))
    val refAll = refHist.crossJoin(broadcast(wh.select("wave").distinct()))
    val cnt = refAll.join(wh, Seq("wave", "lang", "word"), "full_outer")
      .select(col("wave"), col("lang"), col("word"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    klFromCounts(cnt, Seq("wave", "lang"))
  }

  /** Batch twin of the streaming drift monitor: md5-assign every doc to
    * one of `waves` ingest waves and score each wave against the whole
    * corpus as reference — byte-identical rows to replaying the same
    * waves through [[graft.streaming.StreamOps.probeStream]] with the
    * [[klAgainstRef]] probe. */
  def waveDriftReport(docs: DataFrame, waves: Long): DataFrame =
    klAgainstRef(driftRefHistogram(docs),
      docs.withColumn("wave",
        graft.functions.Hashing.md5Mod(col("doc_id").cast("string")) % waves))

  /** Marker-word language ID with a deterministic priority cascade. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = withWordStats(docs, langMarkers.map(_._2)).select(
      (col("doc_id") +: col("lang").as("actual_lang") +:
        langMarkers.indices.map(i => col(s"ws.n_in_$i").as(s"s_${langMarkers(i)._1}"))): _*)
    val Seq(en, es, fr, de) = langMarkers.map { case (l, _) => col(s"s_$l") }
    scored.withColumn("predicted_lang",
      when(en >= es && en >= fr && en >= de, "en")
        .when(es >= fr && es >= de, "es")
        .when(fr >= de, "fr")
        .otherwise("de"))
  }

  /** Language-ID confusion matrix: the heuristic classifier
    * ([[langId]]) evaluated against the table's labeled `lang` — one
    * row per (actual, predicted) cell with count and corpus share. The
    * evaluation face a curation pipeline needs before trusting the
    * classifier's routing decisions. Scale: the classifier's narrow
    * per-row scoring + one two-key count; the share denominator is a
    * 1-row broadcast. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val total = broadcast(docs.agg(count(lit(1)).cast("double").as("total")))
    langId(docs)
      .groupBy("actual_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .crossJoin(total)
      .select(col("actual_lang"), col("predicted_lang"), col("n"),
        round(col("n") / col("total"), 6).as("share"))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** Unigram language-model quality score (the CCNet-style perplexity
    * proxy): fit an add-one-smoothed unigram LM on the corpus itself,
    * then score each document by its mean per-token negative log
    * probability — degenerate/rare-token documents score high, fluent
    * in-distribution ones low. The per-word −ln p is rounded to 6 BEFORE
    * the per-doc sum (so the sum is exact decimal arithmetic, identical
    * at any parallelism and on any engine). Scale: vocabulary fit is one
    * map-side-combining groupBy, the corpus totals are a 1-row broadcast,
    * and the score join shuffles on `word` — linear in the corpus. */
  def unigramLmScore(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("c"))
    val totals = vocab.agg(
      sum(col("c")).cast("long").as("n_total"), count(lit(1)).as("v_size"))
    val probs = vocab.crossJoin(broadcast(totals))
      .select(col("word"),
        round(-log((col("c") + lit(1.0)) / (col("n_total") + col("v_size"))), 6)
          .as("neglogp"))
    // The per-doc average is INTEGER arithmetic end to end: each 6-decimal
    // neglogp becomes an exact ×1e6 long (its double sits within 1e-10 of
    // the decimal value, so the nearest-integer round can never tie), the
    // sum is a long sum, and the average truncates at scale 7 via long
    // floor-division — no engine rounding mode is ever consulted. A
    // round(sum/n, 6) here measurably diverged at sf0.1: the exact
    // quotient can terminate in …5 at digit 7, where Spark's exact
    // HALF_UP and DuckDB's scaled-double rounding disagree.
    words.join(probs, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(round(col("neglogp") * lit(1000000)).cast("long")).as("s6"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("(s6 * 10) div n_tokens").cast("double") / lit(1e7))
          .as("avg_neglogp"))
  }

  /** CCNet-style perplexity-band filtering (Wenzek et al. 2020): rank
    * every document by its LM score (here the [[unigramLmScore]]
    * average negative log-prob — CCNet uses a KenLM 5-gram; the band
    * logic is identical), split into head/middle/tail tertiles, keep
    * head+middle. The tail — the highest-perplexity third — is where
    * boilerplate, gibberish, and non-linguistic content concentrate.
    * `ntile(3)` over the (score, doc_id) total order is the exact,
    * engine-portable tertile (both engines hand the first `n mod 3`
    * buckets the extra row). Scale: the global ntile is a deliberate
    * single-reducer EXACTNESS baseline like the suite's exact
    * percentiles — at 100 TB substitute per-partition banding against
    * `approx_percentile` thresholds of the score distribution (SCALE.md
    * "known trade-offs"); the scoring scan itself is the linear cost. */
  def pplBandFilter(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_neglogp"), col("doc_id"))
    unigramLmScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("avg_neglogp"),
        ntile(3).over(w).cast("long").as("tertile"))
      .withColumn("band",
        when(col("tertile") === 1L, "head")
          .when(col("tertile") === 2L, "middle").otherwise("tail"))
      .withColumn("keep", (col("tertile") =!= 3L).cast("long"))
  }

  /** Flesch-reading-ease-style readability per document. Syllables use
    * the standard vowel-group heuristic (runs of `[aeiouy]`), sentences
    * the terminal-punctuation count (floored at 1 — the synthetic corpus
    * has none, which just pins the words/sentence term to n_words).
    * Narrow per-row regex counting inside codegen, no shuffle — linear
    * in the scan at any corpus size. The score is a single round of a
    * fixed-parenthesization double expression, so both engines compute
    * the identical value. */
  def readability(docs: DataFrame): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nSents = greatest(regexp_count(col("text"), lit("[.!?]")).cast("long"), lit(1L))
    val nSyl = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    docs.select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sentences"),
        nSyl.as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
      .withColumn("bucket",
        when(col("flesch") >= 60, lit("easy"))
          .when(col("flesch") >= 30, lit("medium"))
          .otherwise(lit("hard")))
  }

  /** Tokenizer vocabulary coverage / OOV rate: freeze the top-`v`
    * whitespace tokens by corpus frequency (count desc, token asc — the
    * greedy frequency vocabulary a tokenizer build would keep) and score
    * every document's coverage against it. The vocabulary is built with
    * the two-level bounded top-k heap ([[Rank.global]] — no
    * global sort) and broadcast, so the per-doc scoring join ships only
    * `v` strings to every executor; the coverage aggregation is one
    * keyed groupBy on doc_id. All-integer counts plus one exactly-
    * rounded IEEE division keep the oracle comparison exact. At 100 TB
    * the vocab stage is a word-keyed agg (map-side combined) and the
    * scoring stage a broadcast-hash join — no corpus-sized shuffle. */
  def vocabCoverage(docs: DataFrame, v: Int): DataFrame = {
    // The token explode feeds BOTH the vocab aggregation and the
    // scoring join, so the corpus is scanned twice. Deliberately NOT
    // persisted: the exploded token table is LARGER than the compressed
    // corpus (one row per token, uncompressed), so caching it costs
    // more I/O than re-running the codegen'd split+explode over the
    // parquet scan — the opposite trade from imageNearDup, whose shared
    // frame is 5 longs per image.
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("n"))
    val vocab = broadcast(
      Rank.global(counts, "n", "tok", v, Rank.CountDescWordAsc)
        .select(col("tok"), lit(1L).as("in_vocab")))
    toks.join(vocab, Seq("tok"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - sum(coalesce(col("in_vocab"), lit(0L)))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Word trigrams as a multiset (positional, unlike
    * [[Dedup.wordShingles]]' per-doc distinct set): pure array algebra —
    * two zip_with passes over three shifted slices, one generator per
    * row, no shuffle. */
  def wordTrigrams(docs: DataFrame): DataFrame = trigrams(docs, Nil, "gram")

  /** `lead` columns plus one `as` row per positional word trigram of each
    * document with at least three words. */
  private def trigrams(docs: DataFrame, lead: Seq[Column], as: String): DataFrame = {
    val ws = split(col("text"), " ")
    val n = size(ws)
    docs.filter(n >= 3).select(lead :+
      explode(zip_with(
        zip_with(slice(ws, lit(1), n - 2), slice(ws, lit(2), n - 2),
          (a, b) => concat(a, lit(" "), b)),
        slice(ws, lit(3), n - 2),
        (ab, c) => concat(ab, lit(" "), c))).as(as): _*)
  }

  /** Distinct (source, trigram) pairs — the set universe behind the KMV
    * sketch family. Trigrams, not words: the corpus' word vocabulary is
    * tiny and near-fully shared across sources, so word sets would make
    * every pairwise Jaccard ≈ 1 and leave the sketches untested;
    * trigram sets are ~10× the sketch size with 1–8% overlaps. */
  private[graft] def sourceTrigrams(docs: DataFrame): DataFrame =
    trigrams(docs, Seq(col("source")), "word").distinct()

  /** Pairwise SOURCE-overlap matrix — the dataset-card question ("how
    * much of source A is also in source B?") answered two ways in one
    * row: a KMV (k-minimum-values) sketch estimate and the exact
    * Jaccard it approximates.
    *
    * The KMV path is the 100 TB shape: one distinct pass builds an
    * O(k) sketch per source ([[Rank.LongAsc]]'s bounded aggregate over
    * engine-portable md5 hashes), and the S²/2 pairwise stage runs on
    * sketches alone — S·k longs broadcast, never touching the corpus
    * again. Because a set's k smallest hashes are deterministic, the
    * ESTIMATE itself is exactly reproducible by the oracle — this
    * sketch is fully hash-gated, unlike HLL/quantile sketches whose
    * internal state is engine-specific. The estimator is the standard
    * KMV Jaccard: among the k smallest hashes of A∪B, the fraction
    * present in both sketches (σ ≈ √(J(1−J)/k) ≈ 0.04 at k=128).
    *
    * The exact column is the audit companion (the fuzzy-linkage-recall
    * discipline): a word-keyed co-partitioned intersection join — at
    * production scale you run it on a sampled slice or not at all; the
    * sketch column is the one a 100 TB dataset card ships. */
  def sourceOverlapKmv(docs: DataFrame, k: Int): DataFrame = {
    val kmin = Rank.LongAsc.udaf(k)
    // persisted: the trigram explode + distinct feeds the sketch, the
    // sizes, AND the exact-intersection aggregate — repeated executions
    // of the operator's dominant shuffle without the pin. fanOut first:
    // a single-file documents scan would single-thread the explode.
    val words = sourceTrigrams(graft.Tables.fanOut(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hashed = words.select(col("source"),
      graft.functions.Hashing.md5Long(col("word")).as("h")).distinct()
    val sk = hashed.groupBy("source").agg(kmin(col("h")).as("sk"))
    val pairs = sk.toDF("source_a", "ska")
      .join(broadcast(sk.toDF("source_b", "skb")),
        col("source_a") < col("source_b"))
    val unionK = slice(array_sort(array_union(col("ska"), col("skb"))), 1, k)
    val est = pairs.select(col("source_a"), col("source_b"),
      size(filter(unionK, x =>
          array_contains(col("ska"), x) && array_contains(col("skb"), x)))
        .cast("long").as("n_common_kmv"),
      size(unionK).cast("long").as("union_k"))
    val sizes = words.groupBy("source").agg(count(lit(1)).as("n"))
    // Exact pairwise intersections via ONE exchange of the trigram
    // frame (r16, guide §2.4): group by trigram, expand each trigram's
    // sorted source set into its ordered pairs, count per pair. The
    // previous trigram×trigram self-join shuffled `words` TWICE and
    // produced the identical rows — (source, word) is distinct by
    // construction ([[sourceTrigrams]] ends in distinct()), so "both
    // sources contain w" is exactly "both in w's collect_set", and
    // sort_array's UTF-8 binary order is the same `<` the join used.
    // Output cardinality is unchanged: one row per (pair, shared
    // trigram) either way, bounded by |sources|² per trigram.
    val inter = words.groupBy("word")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr("flatten(transform(ss, (a, i) -> " +
        "transform(slice(ss, i + 2, size(ss) - i - 1), " +
        "b -> struct(a AS source_a, b AS source_b))))")).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_inter"))
    val out = est.join(inter, Seq("source_a", "source_b"), "left")
      .join(sizes.toDF("source_a", "na"), Seq("source_a"))
      .join(sizes.toDF("source_b", "nb"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common_kmv"),
        col("union_k"),
        round(col("n_common_kmv") / col("union_k"), 6).as("jaccard_kmv"),
        round(coalesce(col("n_inter"), lit(0L)) /
            (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))), 6)
          .as("jaccard_exact"))
    graft.operators.Dedup.materializeThenRelease(out, words)
  }

  /** DSIR-style data selection (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every raw
    * document by the log likelihood ratio of a TARGET distribution vs
    * the RAW distribution over hashed n-gram features — the published
    * recipe for "select the slice of a crawl that looks like my
    * high-quality target set". Here features are hashed word unigrams
    * (portable md5 → `buckets`), target = the `targetLang` slice, and
    * the per-doc score is the mean per-token log ratio.
    *
    * Scale shape: two bucket histograms (≤ `buckets` rows each —
    * broadcastable at ANY corpus size), then one broadcast join from
    * tokens to the `buckets`-row feature table and a doc-keyed sum.
    * No shuffle wider than the doc-keyed aggregate; the feature table
    * is the only state, O(buckets).
    *
    * Determinism discipline: the per-bucket log ratio is quantized to
    * integer MICRO-units — floor(ln(·)·10⁶ + 0.5) — once per bucket
    * (≤ `buckets` ln calls, so cross-engine libm ULP exposure is
    * bounded and measured-zero), and per-doc scores are then EXACT
    * long sums of those micro-units: no float summation-order
    * dependence across partitionings or engines. */
  def dsirScores(docs: DataFrame, buckets: Int, targetLang: String): DataFrame = {
    // persisted: the full-corpus explode feeds the two histograms AND
    // the final scoring join (a third/fourth full scan each without it)
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .withColumn("b", graft.functions.Hashing.md5Long(col("word")) % buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = toks.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val raw = toks.groupBy("b").agg(count(lit(1)).as("cr"))
    // token totals fold out of the ≤buckets-row histograms — never a
    // third full-corpus pass
    val totals = raw.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
      .crossJoin(tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    val bd = lit(buckets.toDouble)
    val feat = raw.join(tgt, Seq("b"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(log(((col("ct") + lit(1.0)) / (col("tt") + bd)) /
            ((col("cr") + lit(1.0)) / (col("tr") + bd))) * lit(1000000.0)
          + lit(0.5)).cast("long").as("micro"))
    val scored = toks.join(broadcast(feat), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("micro")).as("sm"), count(lit(1)).as("n_tokens"))
      // Mean score stays in integer micro-units to the end:
      // floor(sm/n + 0.5) is the nearest-integer mean (one double
      // division of exact longs — deterministic), and the final /1e6 is
      // the same op on both engines. A round(·, 6) here hit a
      // half-tie whose direction Spark and DuckDB disagree on.
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (floor(col("sm") / col("n_tokens") + lit(0.5)).cast("long") /
          lit(1000000.0)).as("dsir_score"),
        (col("sm") > 0L).cast("long").as("selected"))
    graft.operators.Dedup.materializeThenRelease(scored, toks)
  }

  // ------------------------------------ accumulating DSIR selection

  /** The DSIR feature state as an [[graft.operators.AccumIndex]] —
    * continuous data selection at ingestion cadence: the TARGET
    * histogram is frozen at build (the curated reference distribution
    * does not grow), while the RAW histogram absorbs every arriving
    * wave, so importance weights sharpen as raw coverage accumulates.
    * State is two ≤`buckets`-row histograms — broadcastable at ANY
    * corpus size, and each absorb materializes a fresh merged histogram
    * and releases the old one, so the index is single-leg by
    * construction. Absorb is count-addition — associative/commutative
    * but NOT idempotent, so the streaming face guards replays with the
    * `lastBatchId` watermark. */
  final case class DsirIndex(rawHist: DataFrame, tgtHist: DataFrame, buckets: Int,
                             lastBatchId: Long = -1L)
      extends AccumIndex[DsirIndex] {
    def frames: Seq[DataFrame] = Seq(rawHist, tgtHist)
    def tables: Seq[(String, DataFrame)] = Seq("raw" -> rawHist, "tgt" -> tgtHist)
    override def params: Seq[(String, Long)] = Seq("buckets" -> buckets.toLong)
    def withLastBatchId(batchId: Long): DsirIndex = copy(lastBatchId = batchId)

    /** Fold a wave's token counts into the raw histogram: one keyed sum
      * over ≤2·buckets rows. */
    def absorb(wave: DataFrame): DsirIndex = {
      val waveHist = bucketTokens(wave, buckets).groupBy("b")
        .agg(count(lit(1)).as("cr"))
      copy(rawHist = AccumIndex.swap(rawHist, rawHist.unionByName(waveHist)
        .groupBy("b").agg(sum(col("cr")).as("cr"))))
    }
  }

  private def bucketTokens(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"),
        (graft.functions.Hashing.md5Long(col("word")) % buckets).as("b"))

  /** Freeze the target histogram; seed the raw histogram from the
    * corpus available at build time. */
  def buildDsirIndex(target: DataFrame, seedRaw: DataFrame,
                     buckets: Int): DsirIndex = {
    val tgt = AccumIndex.persist(bucketTokens(target, buckets).groupBy("b")
      .agg(count(lit(1)).as("ct")))
    val raw = AccumIndex.persist(bucketTokens(seedRaw, buckets).groupBy("b")
      .agg(count(lit(1)).as("cr")))
    AccumIndex.fill(tgt, raw)
    DsirIndex(raw, tgt, buckets)
  }

  def loadDsirIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): DsirIndex =
    AccumIndex.load(spark, path) { s =>
      val raw = AccumIndex.persist(s.table("raw"))
      val tgt = AccumIndex.persist(s.table("tgt"))
      AccumIndex.fill(raw, tgt)
      DsirIndex(raw, tgt, s.param("buckets").toInt)
    }

  /** Score a wave against the CURRENT index state (pre-absorb — the
    * accum-family convention): the same micro-unit log-ratio chain as
    * [[dsirScores]], but over the FULL bucket domain (an arriving wave
    * can hit buckets the raw seed never produced — those score with
    * cr = 0 under the same add-one smoothing, instead of silently
    * dropping the tokens an inner join would). */
  def scoreAgainstDsirIndex(index: DsirIndex, wave: DataFrame): DataFrame = {
    val spark = wave.sparkSession
    val bd = lit(index.buckets.toDouble)
    val totals = index.rawHist.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
      .crossJoin(index.tgtHist.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    val domain = spark.range(index.buckets.toLong).toDF("b")
    val feat = domain
      .join(index.rawHist, Seq("b"), "left")
      .join(index.tgtHist, Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(log(((col("ct") + lit(1.0)) / (col("tt") + bd)) /
            ((col("cr") + lit(1.0)) / (col("tr") + bd))) * lit(1000000.0)
          + lit(0.5)).cast("long").as("micro"))
    bucketTokens(wave, index.buckets).join(broadcast(feat), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("micro")).as("sm"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("sm") / col("n_tokens") + lit(0.5)).cast("long") /
          lit(1000000.0)).as("dsir_score"),
        (col("sm") > 0L).cast("long").as("selected"))
  }

  // ------------------------------------ accumulating KMV cardinality

  /** Per-source KMV cardinality sketch as an [[graft.operators.AccumIndex]]
    * — a per-ingest dataset card ("how many distinct trigrams has each
    * source contributed so far?") maintained incrementally, O(sources·k)
    * state total.
    *
    * KMV merge is set-union followed by k-min — associative, commutative
    * AND IDEMPOTENT. Re-absorbing a checkpoint-replayed batch is an
    * algebraic no-op (the k smallest of S ∪ B ∪ B are the k smallest of
    * S ∪ B), so exactly-once state needs NO absorb watermark — this one
    * is replay-safe by construction (KmvIdempotenceSpec pins it; the
    * watermark only skips redundant replay WORK). Every absorb merges
    * eagerly (one groupBy over O(sources·k) exploded longs), so the
    * index is always exactly one leg. */
  final case class KmvIndex(sketch: DataFrame, k: Int, lastBatchId: Long = -1L)
      extends AccumIndex[KmvIndex] {
    def frames: Seq[DataFrame] = Seq(sketch)
    def tables: Seq[(String, DataFrame)] = Seq("sketch" -> sketch)
    override def params: Seq[(String, Long)] = Seq("k" -> k.toLong)
    def withLastBatchId(batchId: Long): KmvIndex = copy(lastBatchId = batchId)

    /** Batch-side k-min (the only corpus-sized work, fully distributed),
      * then an eager O(sources·k) re-merge. Set semantics throughout
      * (the explode→distinct before the final k-min), which is what buys
      * the idempotence above. */
    def absorb(docs: DataFrame): KmvIndex =
      copy(sketch = AccumIndex.swap(sketch, sketch.unionByName(kmvSketch(docs, k))
        .select(col("source"), explode(col("sk")).as("h")).distinct()
        .groupBy("source").agg(Rank.LongAsc.udaf(k)(col("h")).as("sk"))))
  }

  /** Per-source k-min sketch of the docs' distinct trigram hashes. */
  private def kmvSketch(docs: DataFrame, k: Int): DataFrame =
    // fanOut: a single-file scan otherwise single-threads the explode
    sourceTrigrams(graft.Tables.fanOut(docs))
      .select(col("source"), graft.functions.Hashing.md5Long(col("word")).as("h"))
      .distinct()
      .groupBy("source").agg(Rank.LongAsc.udaf(k)(col("h")).as("sk"))

  def buildKmvIndex(docs: DataFrame, k: Int): KmvIndex = {
    val sk = AccumIndex.persist(kmvSketch(docs, k))
    AccumIndex.fill(sk)
    KmvIndex(sk, k)
  }

  def loadKmvIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): KmvIndex =
    AccumIndex.load(spark, path) { s =>
      val sk = AccumIndex.persist(s.table("sketch"))
      AccumIndex.fill(sk)
      KmvIndex(sk, s.param("k").toInt)
    }

  /** The md5Long hash domain: 15 hex chars = 60 bits. 2⁶⁰ is a power
    * of two, hence exactly representable as a double — the estimator's
    * float path is deterministic cross-engine. */
  private val KmvDomain = 1152921504606846976.0 // 2^60

  /** Cardinality card from the sketch: per source, the sketch fill,
    * the k-th smallest hash (an exact integer — the strongest possible
    * gate on a sketch), and the standard KMV estimator
    * (k−1)·D/h_k (Bar-Yossef et al. 2002), exact when the sketch is
    * under-filled (|set| < k ⇒ the sketch IS the set). */
  def kmvCardinalityReport(index: KmvIndex): DataFrame = {
    val k = index.k
    index.sketch.select(col("source"),
        size(col("sk")).cast("long").as("sketch_n"),
        when(size(col("sk")) >= k, element_at(col("sk"), k))
          .otherwise(lit(null)).cast("long").as("kth_hash"))
      .withColumn("est_distinct",
        round(when(col("kth_hash").isNull, col("sketch_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(KmvDomain) / col("kth_hash")), 6))
  }
}
