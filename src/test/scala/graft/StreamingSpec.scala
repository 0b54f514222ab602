package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming tumbling agg over the parquet feed equals the batch result") {
    val q = StreamOps.tumblingHourlyStream(spark, TestSpark.sf0001)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = StreamOps.tumblingHourly(Tables.events(spark, TestSpark.sf0001))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows equal the batch sessionize") {
    val q = StreamOps.sessionizedStream(spark, TestSpark.sf0001, 7200L)
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("session_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSet
      val batch = graft.operators.Warehouse
        .sessionize(Tables.events(spark, TestSpark.sf0001), 7200L)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    val q = StreamOps.purchasesNearSignupsStream(spark, TestSpark.sf0001)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_out").collect()
        .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("p_user"),
          r.getAs[String]("signup_ts"))).toSet
      val batch = StreamOps
        .purchasesNearSignupsBatch(Tables.events(spark, TestSpark.sf0001))
        .collect()
        .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("p_user"),
          r.getAs[String]("signup_ts"))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming dropDuplicates dedups the doubled feed exactly") {
    val q = StreamOps.dedupStream(spark, TestSpark.sf0001)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_out").count()
      val batch = Tables.events(spark, TestSpark.sf0001)
        .select("event_id").distinct().count()
      assert(streamed == batch)
      assert(batch > 0L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups the doubled feed with bounded state") {
    val q = StreamOps.dedupWithinWatermarkStream(spark, TestSpark.sf0001)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_out")
      .start()
    try {
      q.processAllAvailable()
      // No late data in the finite feed → the horizon-bounded dedup
      // equals the exact distinct set.
      val streamed = spark.table("dedup_wm_out").count()
      val batch = Tables.events(spark, TestSpark.sf0001)
        .select("event_id").distinct().count()
      assert(streamed == batch)
      assert(batch > 0L)
    } finally q.stop()
  }

  test("foreachBatch incremental dedup over staged waves equals the batch face") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val base = graft.Scratch.path(s"graft_incdedup_${ProcessHandle.current().pid()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    // Planted near-dups: every 50th corpus doc re-arrives with a shifted
    // id and identical text (jaccard 1.0) — flags are guaranteed.
    val newDocs = corpus.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // Stage the new docs as 3 wave files → ≥3 micro-batches
    // (maxFilesPerTrigger=1): batch boundaries must not change results.
    (0 until 3).foreach { w =>
      newDocs.filter(col("doc_id") % 3 === w).coalesce(1)
        .write.mode("append").parquet(staging)
    }
    val index = Dedup.buildCorpusIndex(Dedup.wordShingles(corpus))
    val q = StreamOps.probeStream(
      spark, staging, newDocs.schema, outPath)(
      b => Dedup.flagAgainstCorpusIndex(Dedup.wordShingles(b), index, 0.6))
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outPath).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet
    // Batch face #1: the same prebuilt-index path, whole batch at once.
    val batchIdx = Dedup.flagAgainstCorpusIndex(
        Dedup.wordShingles(newDocs), index, 0.6).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet
    index.release()
    // Batch face #2: the one-shot operator over the unioned corpus.
    val batchOp = Dedup.minhashLshAgainstCorpus(
        Dedup.wordShingles(corpus.union(newDocs)),
        col("doc_id") >= 1000000L, 0.6).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet
    assert(streamed.nonEmpty, "planted near-dups must be flagged")
    assert(streamed == batchIdx)
    assert(streamed == batchOp)
  }

  test("foreachBatch drift monitor over staged waves equals the batch twin") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val base = graft.Scratch.path(s"graft_drift_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/kl"
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "lang", "text")
    val waves = 4L
    val waved = docs.withColumn("wave",
      graft.functions.Hashing.md5Mod(col("doc_id").cast("string")) % waves)
    // One staged file per wave → one micro-batch per wave
    // (maxFilesPerTrigger=1): the monitor scores each wave in isolation.
    (0L until waves).foreach { w =>
      waved.filter(col("wave") === w).coalesce(1)
        .write.mode("append").parquet(staging)
    }
    val refHist = TextAnalysis.driftRefHistogram(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    refHist.count() // the prebuilt long-lived state
    val q = StreamOps.probeStream(
      spark, staging, waved.schema, outPath)(
      TextAnalysis.klAgainstRef(refHist, _))
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("wave"), r.getAs[String]("lang"),
        r.getAs[Long]("n_vocab"), r.getAs[Long]("tokens_a"),
        r.getAs[Long]("tokens_b"), r.getAs[Double]("kl_ab"),
        r.getAs[Double]("kl_ba"))
    val streamed = spark.read.parquet(outPath).collect().map(key).toSet
    val batch = TextAnalysis.waveDriftReport(docs, waves).collect().map(key).toSet
    refHist.unpersist()
    assert(streamed.nonEmpty)
    assert(streamed == batch) // batch boundaries change nothing
    // identical corpora have LOW drift vs the reference they came from,
    // and both divergences are non-negative (smoothed-KL property)
    streamed.foreach { case (_, _, _, _, _, ab, ba) =>
      assert(ab >= 0.0 && ba >= 0.0)
    }
  }

  test("foreachBatch incremental IMAGE dedup over staged waves equals the batch face") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val base = graft.Scratch.path(s"graft_incimg_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    // Corpus: every doc's base image; batch: delta-1 re-uploads of every
    // 10th doc — each has a planted corpus near-match (its own base).
    val corpusHashes = Multimodal.imageAHash(spark,
      Multimodal.packBaseImages(spark, docs)).toDF()
    val newImgs = Multimodal.packReuploadImages(spark,
      docs.filter(col("doc_id") % 10 === 7))
    // Stage as 3 wave files → ≥3 micro-batches (maxFilesPerTrigger=1):
    // batch boundaries must not change results.
    (0 until 3).foreach { w =>
      newImgs.filter(col("img_id") % 3 === w).coalesce(1)
        .write.mode("append").parquet(staging)
    }
    val index = Multimodal.buildFingerprintIndex(corpusHashes, 6)
    val q = StreamOps.probeStream(
      spark, staging, newImgs.schema, outPath)(
      b => Multimodal.flagAgainstFingerprintIndex(
        StreamOps.imageHashes(spark)(b), index))
    try q.processAllAvailable() finally q.stop()
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    val streamed = rowSet(spark.read.parquet(outPath))
    val batch = rowSet(Multimodal.flagAgainstFingerprintIndex(
      Multimodal.imageAHash(spark, newImgs).toDF(), index))
    index.release()
    assert(streamed.nonEmpty, "planted re-uploads must match their base images")
    assert(streamed == batch)
  }

  test("foreachBatch incremental AUDIO dedup over staged waves equals the batch face") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val base = graft.Scratch.path(s"graft_incaud_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    // Corpus: every doc's base clip; batch: trimmed+×2-gained
    // re-uploads of every 10th doc — the compounded perturbation the
    // band-median fingerprint must still match against the corpus.
    val corpusHashes = Multimodal.audioFingerprint(spark,
      Multimodal.packBaseAudio(spark, docs)).toDF()
    val newClips = Multimodal.packReuploadAudio(spark,
      docs.filter(col("doc_id") % 10 === 7))
    (0 until 3).foreach { w =>
      newClips.filter(col("clip_id") % 3 === w).coalesce(1)
        .write.mode("append").parquet(staging)
    }
    val index = Multimodal.buildFingerprintIndex(corpusHashes, 8)
    val q = StreamOps.probeStream(
      spark, staging, newClips.schema, outPath)(
      b => Multimodal.flagAgainstFingerprintIndex(
        StreamOps.audioPrints(spark)(b), index, idOut = "clip_new"))
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outPath).collect()
      .map(r => (r.getAs[Long]("clip_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    val batch = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.audioFingerprint(spark, newClips).toDF(), index).collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    index.release()
    assert(streamed.nonEmpty, "trimmed+gained re-uploads must match their base clips")
    assert(streamed == batch)
  }

  test("absorbIntoFingerprintIndex: absorbed probe equals a fresh build over the union") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val sel = docs.filter(col("doc_id") % 10 === 7)
    val base = Multimodal.imageAHash(spark,
      Multimodal.packBaseImagesW(spark, docs)).toDF()
    val w1 = Multimodal.imageAHash(spark,
      Multimodal.packImageWave(spark, sel, 1)).toDF()
    val w2 = Multimodal.imageAHash(spark,
      Multimodal.packImageWave(spark, sel, 2)).toDF()
    def rows(idx: Multimodal.FingerprintIndex) =
      Multimodal.flagAgainstFingerprintIndex(w2, idx).collect()
        .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
          r.getAs[Long]("hamming"))).toSet
    val absorbed = Multimodal.buildFingerprintIndex(base, 6).absorb(w1)
    val fresh = Multimodal.buildFingerprintIndex(base.unionByName(w1), 6)
    val got = rows(absorbed)
    val want = rows(fresh)
    absorbed.release()
    fresh.release()
    assert(got.nonEmpty && got == want)
    // The accumulation must MATTER: some wave-2 re-upload's nearest
    // neighbour is its wave-1 sibling (img_id % 4 == 1), which a
    // frozen corpus-only index cannot return.
    assert(got.exists(_._2 % 4 == 1),
      s"no wave-2 image best-matched a wave-1 upload: $got")
  }

  test("self-accumulating image dedup stream absorbs each wave before the next") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val base = graft.Scratch.path(s"graft_accum_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val sel = docs.filter(col("doc_id") % 10 === 7)
    val corpusHashes = Multimodal.imageAHash(spark,
      Multimodal.packBaseImagesW(spark, docs)).toDF()
    // Wave files staged IN ORDER (the file source triggers by mod
    // time): wave 1 must be absorbed before wave 2 probes.
    Multimodal.packImageWave(spark, sel, 1).toDF().coalesce(1)
      .write.mode("append").parquet(staging)
    Thread.sleep(1200)
    Multimodal.packImageWave(spark, sel, 2).toDF().coalesce(1)
      .write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Multimodal.buildFingerprintIndex(corpusHashes, 6))
    val schema = Multimodal.packImageWave(spark, sel, 1).toDF().schema
    val q = StreamOps.accumStream(
      spark, staging, schema, ref, outPath)(
      (i, h) => Multimodal.flagAgainstFingerprintIndex(h, i),
      StreamOps.imageHashes(spark))
    try q.processAllAvailable() finally q.stop()
    val streamedW2 = spark.read.parquet(outPath)
      .filter(col("img_new") % 4 === 2).collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    // Batch face: wave 2 against corpus ∪ wave 1 (the q_st_image_accum
    // shape) — equality proves the stream really absorbed wave 1.
    val batchIdx = Multimodal.buildFingerprintIndex(corpusHashes, 6).absorb(
      Multimodal.imageAHash(spark, Multimodal.packImageWave(spark, sel, 1)).toDF())
    val batch = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.imageAHash(spark,
          Multimodal.packImageWave(spark, sel, 2)).toDF(), batchIdx).collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    batchIdx.release()
    ref.get().release()
    assert(streamedW2.nonEmpty && streamedW2 == batch)
    assert(streamedW2.exists(_._2 % 4 == 1),
      "accumulation must surface wave-1 best matches")
  }

  test("absorbIntoCorpusIndex equals a fresh rebuild over corpus ∪ wave") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val pred = col("doc_id") % 10 === 7
    val w1 = docs.filter(pred).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzwaveone tagone")).as("text"))
    val w2 = docs.filter(pred).select(
      (col("doc_id") + 2000000L).as("doc_id"),
      concat(col("text"),
        lit(" zzwaveone tagone zzwavetwo tagtwo")).as("text"))
    def rows(idx: Dedup.CorpusIndex) =
      Dedup.flagAgainstCorpusIndex(Dedup.wordShingles(w2), idx, 0.6).collect()
        .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
          r.getAs[Double]("jaccard"))).toSet
    val absorbed = Dedup.buildCorpusIndex(Dedup.wordShingles(docs))
      .absorb(Dedup.wordShingles(w1))
    val fresh = Dedup.buildCorpusIndex(
      Dedup.wordShingles(docs.unionByName(w1)))
    val got = rows(absorbed)
    val want = rows(fresh)
    absorbed.release()
    fresh.release()
    assert(got.nonEmpty && got == want)
    // The accumulation must MATTER: a wave-2 doc carries wave 1's tag
    // pair, so its best match is its wave-1 sibling — which a frozen
    // corpus-only index cannot return.
    assert(got.exists(m => m._2 >= 1000000L && m._2 < 2000000L),
      s"no wave-2 doc best-matched a wave-1 arrival: $got")
  }

  test("self-accumulating text dedup stream absorbs each wave before the next") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val base = graft.Scratch.path(s"graft_accumtxt_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val pred = col("doc_id") % 10 === 7
    val w1 = docs.filter(pred).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzwaveone tagone")).as("text"))
    val w2 = docs.filter(pred).select(
      (col("doc_id") + 2000000L).as("doc_id"),
      concat(col("text"),
        lit(" zzwaveone tagone zzwavetwo tagtwo")).as("text"))
    // Waves staged IN ORDER (the file source triggers by mod time):
    // wave 1 must be absorbed before wave 2 probes.
    w1.coalesce(1).write.mode("append").parquet(staging)
    Thread.sleep(1200)
    w2.coalesce(1).write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Dedup.buildCorpusIndex(Dedup.wordShingles(docs)))
    val q = StreamOps.accumStream(
      spark, staging, w1.schema, ref, outPath)(
      (i, sh) => Dedup.flagAgainstCorpusIndex(sh, i, 0.6),
      Dedup.wordShingles(_))
    try q.processAllAvailable() finally q.stop()
    val streamedW2 = spark.read.parquet(outPath)
      .filter(col("doc_new") >= 2000000L).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet
    // Batch face: wave 2 against corpus ∪ wave 1 (the q_st_dedup_accum
    // shape) — equality proves the stream really absorbed wave 1.
    val batchIdx = Dedup.buildCorpusIndex(Dedup.wordShingles(docs))
      .absorb(Dedup.wordShingles(w1))
    val batch = Dedup.flagAgainstCorpusIndex(
        Dedup.wordShingles(w2), batchIdx, 0.6).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet
    batchIdx.release()
    ref.get().release()
    assert(streamedW2.nonEmpty && streamedW2 == batch)
    assert(streamedW2.exists(m => m._2 >= 1000000L && m._2 < 2000000L),
      "accumulation must surface wave-1 best matches")
  }

  test("self-accumulating DSIR stream scores each wave against the accumulated state") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val base = graft.Scratch.path(s"graft_accumdsir_" +
      s"${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/scores"
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text", "lang")
    def wave(r: Int) = docs.filter(col("doc_id") % 3 === r)
    wave(1).coalesce(1).write.mode("append").parquet(staging)
    Thread.sleep(1200)
    wave(2).coalesce(1).write.mode("append").parquet(staging)
    val target = docs.filter(col("lang") === "en")
    val ref = new java.util.concurrent.atomic.AtomicReference(
      TextAnalysis.buildDsirIndex(target, wave(0), 512))
    val q = StreamOps.accumStream(
      spark, staging, wave(1).schema, ref, outPath)(
      TextAnalysis.scoreAgainstDsirIndex)
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("dsir_score"), r.getAs[Long]("selected")))
      .sortBy(_._1).toSeq
    val out = spark.read.parquet(outPath)
    // Batch face: wave 1 against the seed, wave 2 against seed ∪ wave 1.
    val b0 = TextAnalysis.buildDsirIndex(target, wave(0), 512)
    val want1 = rows(TextAnalysis.scoreAgainstDsirIndex(b0, wave(1)))
    val b1 = b0.absorb(wave(1))
    val want2 = rows(TextAnalysis.scoreAgainstDsirIndex(b1, wave(2)))
    val got1 = rows(out.filter(col("batch_id") === 0L).drop("batch_id"))
    val got2 = rows(out.filter(col("batch_id") === 1L).drop("batch_id"))
    b1.release()
    ref.get().release()
    assert(got1.nonEmpty && got1 == want1)
    assert(got2.nonEmpty && got2 == want2)
    // accumulation is OBSERVABLE: scoring wave 2 against the frozen
    // seed instead must differ somewhere (else the absorb did nothing)
    val b0b = TextAnalysis.buildDsirIndex(target, wave(0), 512)
    val frozen2 = rows(TextAnalysis.scoreAgainstDsirIndex(b0b, wave(2)))
    b0b.release()
    assert(frozen2 != want2,
      "wave 2 must score against the accumulated raw histogram")
  }

  test("DSIR accum stream replay guard: a re-delivered batch is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text", "lang")
    def wave(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val target = docs.filter(col("lang") === "en")
    def hist(i: TextAnalysis.DsirIndex) = i.rawHist.collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long]("cr"))).sortBy(_._1).toSeq
    // absorb is NOT idempotent — double-absorb really double-counts…
    val once = TextAnalysis.buildDsirIndex(target, wave(0), 512).absorb(wave(1))
    val h1 = hist(once)
    val twice = once.absorb(wave(1))
    assert(hist(twice) != h1, "double absorb must double-count (not idempotent)")
    twice.release()
    // …which is exactly why the stream's lastBatchId watermark skips
    // replayed batches entirely (same guard as dedup/image/audio).
    val guarded = TextAnalysis.buildDsirIndex(target, wave(0), 512).absorb(wave(1))
      .copy(lastBatchId = 0L)
    assert(!(0L > guarded.lastBatchId), "batch 0 replay must be gated out")
    guarded.release()
  }

  test("self-accumulating KMV cardinality stream equals the one-shot sketch") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val base = graft.Scratch.path(s"graft_accumkmv_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/card"
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text", "source")
    def wave(r: Int) = docs.filter(col("doc_id") % 3 === r)
    wave(1).coalesce(1).write.mode("append").parquet(staging)
    Thread.sleep(1200)
    wave(2).coalesce(1).write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      TextAnalysis.buildKmvIndex(wave(0), 128))
    val q = graft.streaming.StreamOps.kmvCardinalityAccumStream(
      spark, staging, wave(1).schema, ref, outPath)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outPath)
    val lastBatch = out.agg(max(col("batch_id").cast("long"))).head().getLong(0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("sketch_n"),
        Option(r.getAs[java.lang.Long]("kth_hash")),
        r.getAs[Double]("est_distinct"))).sortBy(_._1).toSeq
    val streamed = rows(out.filter(col("batch_id") === lastBatch)
      .drop("batch_id"))
    // One-shot face: because KMV merge is associative/commutative, the
    // three-wave accumulated sketch must equal a single-pass build over
    // the whole corpus — bit-identical, not approximately.
    val oneShot = TextAnalysis.buildKmvIndex(docs, 128)
    val batch = rows(TextAnalysis.kmvCardinalityReport(oneShot))
    oneShot.release()
    ref.get().release()
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("KMV absorb is idempotent: a checkpoint-replayed batch is an algebraic no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text", "source")
    def wave(r: Int) = docs.filter(col("doc_id") % 3 === r)
    def sketchRows(i: TextAnalysis.KmvIndex) = i.sketch.collect()
      .map(r => (r.getAs[String]("source"),
        r.getAs[scala.collection.Seq[Long]]("sk").toVector)).sortBy(_._1).toSeq
    val once = TextAnalysis.buildKmvIndex(wave(0), 128).absorb(wave(1))
    // The replay the other accum indexes must GUARD against: absorbing
    // the identical batch again. KMV's set-union + k-min makes it a
    // no-op with no watermark involved.
    val twice = once.absorb(wave(1))
    val a = sketchRows(twice)
    // twice's merge consumed once's sketch frame (released in absorb) —
    // rebuild the single-absorb state fresh for the comparison.
    val onceAgain = TextAnalysis.buildKmvIndex(wave(0), 128).absorb(wave(1))
    val b = sketchRows(onceAgain)
    twice.release()
    onceAgain.release()
    assert(a.nonEmpty && a == b)
  }

  test("KMV index durable save/load preserves the card and the watermark") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val base = graft.Scratch.path(s"graft_kmvdur_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text", "source")
    val idx = TextAnalysis.buildKmvIndex(docs.filter(col("doc_id") % 3 === 0), 128)
      .absorb(docs.filter(col("doc_id") % 3 =!= 0)).copy(lastBatchId = 7L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toString).sorted.toSeq
    val before = rows(TextAnalysis.kmvCardinalityReport(idx))
    idx.save(base)
    val reloaded = TextAnalysis.loadKmvIndex(spark, base)
    val after = rows(TextAnalysis.kmvCardinalityReport(reloaded))
    assert(reloaded.k == 128 && reloaded.lastBatchId == 7L)
    idx.release()
    reloaded.release()
    assert(before.nonEmpty && before == after)
  }

  test("self-accumulating audio dedup stream absorbs each wave before the next") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val base = graft.Scratch.path(s"graft_accumaud_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val sel = docs.filter(col("doc_id") % 10 === 7)
    val corpusHashes = Multimodal.audioFingerprint(spark,
      Multimodal.packBaseAudio(spark, docs)).toDF()
    // Waves staged IN ORDER: wave 1 (trim-4, gain 1) must be absorbed
    // before wave 2 (trim-4, ×2 gain) probes.
    Multimodal.packAudioWave(spark, sel, 1).toDF().coalesce(1)
      .write.mode("append").parquet(staging)
    Thread.sleep(1200)
    Multimodal.packAudioWave(spark, sel, 2).toDF().coalesce(1)
      .write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Multimodal.buildFingerprintIndex(corpusHashes, 8))
    val schema = Multimodal.packAudioWave(spark, sel, 1).toDF().schema
    val q = StreamOps.accumStream(
      spark, staging, schema, ref, outPath)(
      (i, h) => Multimodal.flagAgainstFingerprintIndex(h, i, idOut = "clip_new"),
      StreamOps.audioPrints(spark))
    try q.processAllAvailable() finally q.stop()
    val streamedW2 = spark.read.parquet(outPath)
      .filter(col("clip_new") >= 2 * Multimodal.WaveStride).collect()
      .map(r => (r.getAs[Long]("clip_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    ref.get().release()
    // Batch face: wave 2 against corpus ∪ wave 1 (the q_st_audio_accum
    // shape) — equality proves the stream really absorbed wave 1.
    val batchIdx = Multimodal.buildFingerprintIndex(corpusHashes, 8).absorb(
      Multimodal.audioFingerprint(spark, Multimodal.packAudioWave(spark, sel, 1)).toDF())
    val batch = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.audioFingerprint(spark,
          Multimodal.packAudioWave(spark, sel, 2)).toDF(), batchIdx).collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet
    batchIdx.release()
    assert(streamedW2.nonEmpty && streamedW2 == batch)
    assert(streamedW2.exists(m =>
        m._2 >= Multimodal.WaveStride && m._2 < 2 * Multimodal.WaveStride),
      "accumulation must surface wave-1 best matches")
  }

  test("self-accumulating embedding near-dup stream absorbs each wave before the next") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val base = graft.Scratch.path(s"graft_accumemb_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val dim = 64
    val b0 = emb.filter(pmod(col("vec_id"), lit(10L)) === 7L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val mix = s"transform(embedding, (x, i) -> " +
      s"x + 0.25D * element_at(embedding, ((i + 1) % $dim) + 1))"
    val m1 = b0.select(col("vec_id"), expr(mix).as("embedding"))
    val w1 = m1.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val w2 = m1.select(col("vec_id"), expr(mix).as("embedding"))
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    w1.coalesce(1).write.mode("append").parquet(staging)
    Thread.sleep(1200)
    w2.coalesce(1).write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Dedup.buildEmbeddingIndex(emb, dim))
    val q = StreamOps.accumStream(
      spark, staging, w1.schema, ref, outPath)(
      (i, b) => Dedup.flagAgainstEmbeddingIndex(b, i, 0.35))
    try q.processAllAvailable() finally q.stop()
    val streamedW2 = spark.read.parquet(outPath)
      .filter(col("vec_new") >= 2000000L).collect()
      .map(r => (r.getAs[Long]("vec_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("cosine"))).toSet
    ref.get().release()
    // Batch face: wave 2 against corpus ∪ wave 1 (the q_st_embed_accum
    // shape).
    val batchIdx = Dedup.buildEmbeddingIndex(emb, dim).absorb(w1)
    val batch = Dedup.flagAgainstEmbeddingIndex(w2, batchIdx, 0.35).collect()
      .map(r => (r.getAs[Long]("vec_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("cosine"))).toSet
    batchIdx.release()
    assert(streamedW2.nonEmpty && streamedW2 == batch)
    assert(streamedW2.exists(m => m._2 >= 1000000L && m._2 < 2000000L),
      "accumulation must surface wave-1 best matches")
  }

  test("self-accumulating IVF monitor stream absorbs each wave before the next") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = graft.Scratch.path(s"graft_accumivf_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/reports"
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10L)) < 8L)
    val b1 = emb.filter(pmod(col("vec_id"), lit(10L)) === 8L)
    val b2 = emb.filter(pmod(col("vec_id"), lit(10L)) === 9L)
    // Waves staged IN ORDER: wave 1 must be absorbed before wave 2
    // reports.
    b1.coalesce(1).write.mode("append").parquet(staging)
    Thread.sleep(1200)
    b2.coalesce(1).write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Similarity.buildIvfIndex(corpus, 61L))
    val q = StreamOps.accumStream(
      spark, staging, b1.schema, ref, outPath)(
      Similarity.ivfReassign)
    try q.processAllAvailable() finally q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("cid"), r.getAs[Long]("old_size"), r.getAs[Long]("added"),
        r.getAs[Long]("new_size"), Option(r.getAs[java.lang.Double]("growth")),
        Option(r.getAs[java.lang.Double]("mean_sim_old")),
        Option(r.getAs[java.lang.Double]("mean_sim_new")))).toSet
    val streamedW2 = canon(spark.read.parquet(outPath)
      .filter(col("batch_id") === 1).drop("batch_id").collect())
    ref.get().release()
    // Batch face: wave-2 report against the index that absorbed wave 1
    // (the q_st_ivf_accum shape).
    val batchIdx = Similarity.buildIvfIndex(corpus, 61L).absorb(b1)
    val batch = canon(Similarity.ivfReassign(batchIdx, b2).collect())
    assert(streamedW2.nonEmpty && streamedW2 == batch)
    // The absorption must MATTER: wave 2's membership baseline counts
    // wave 1's arrivals, not just the corpus build.
    assert(streamedW2.toSeq.map(_._2).sum == corpus.count() + b1.count())
    batchIdx.release()
  }

  test("self-accumulating sketch-ANN serving stream absorbs each wave before the next") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = graft.Scratch.path(s"graft_accumann_${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val staging = s"$base/staging"
    val outPath = s"$base/answers"
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val dim = 64
    val b0 = emb.filter(pmod(col("vec_id"), lit(10L)) === 7L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val mix = s"transform(embedding, (x, i) -> " +
      s"x + 0.25D * element_at(embedding, ((i + 1) % $dim) + 1))"
    val m1 = b0.select(col("vec_id"), expr(mix).as("embedding"))
    val w1 = m1.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val w2 = m1.select(col("vec_id"), expr(mix).as("embedding"))
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    w1.coalesce(1).write.mode("append").parquet(staging)
    Thread.sleep(1200)
    w2.coalesce(1).write.mode("append").parquet(staging)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Similarity.buildSketchIndex(emb, dim, 20))
    val q = StreamOps.accumStream(
      spark, staging, w1.schema, ref, outPath)(
      (i, b) => Similarity.topKAgainstSketchIndex(b, i, 5))
    try q.processAllAvailable() finally q.stop()
    val streamedW2 = spark.read.parquet(outPath)
      .filter(col("query_id") >= 2000000L).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
    ref.get().release()
    // Batch face: wave-2 queries against corpus ∪ wave 1 (the
    // q_st_hamming_ann shape).
    val batchIdx = Similarity.buildSketchIndex(emb, dim, 20).absorb(w1)
    val batch = Similarity.topKAgainstSketchIndex(w2, batchIdx, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
    batchIdx.release()
    assert(streamedW2.nonEmpty && streamedW2 == batch)
    // The absorption must MATTER: wave-2 answers retrieve wave-1
    // siblings, which a frozen corpus index can never return.
    assert(streamedW2.exists(m => m._3 >= 1000000L && m._3 < 2000000L),
      "accumulation must surface wave-1 neighbours")
  }

  /** Shared checkpoint-recovery harness — the failure semantics a
    * 100 TB ingest depends on, proven for EVERY `foreachBatch` stream
    * (they share [[StreamOps.idempotentParquetWrite]], but each stream's
    * recovery path is only real once a spec kills and restarts IT): a
    * stream dies mid-feed — in the worst window, AFTER a batch's sink
    * write but BEFORE its checkpoint commit — restarts from the
    * checkpoint, and the final output must be row-for-row identical
    * (duplicates included) to a run that never failed. The crash window
    * is forced deterministically by deleting the batch-0 commit marker,
    * which makes the restarted query genuinely RE-EXECUTE batch 0
    * against its recorded offsets; the idempotent per-batch_id
    * overwrite must absorb the replay.
    *
    * `stage(staging, w)` writes wave w's file; `run(staging, out, cp)`
    * starts the stream with that checkpoint and drains it; `rows(out)`
    * reads the sink into a canonical sorted multiset. */
  private def recoveryCheck(stage: (String, Int) => Unit,
                            run: (String, String, String) => Unit,
                            rows: String => Seq[Any]): Unit = {
    val base = graft.Scratch.path(s"graft_recov_" +
      s"${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    // Reference: the uninterrupted run over all 3 waves.
    (0 until 3).foreach(stage(s"$base/ref_staging", _))
    run(s"$base/ref_staging", s"$base/ref_out", s"$base/ref_cp")
    // Interrupted run: wave 0 only, stop, crash-window the checkpoint,
    // stage the remaining waves, restart from the same checkpoint.
    stage(s"$base/staging", 0)
    run(s"$base/staging", s"$base/out", s"$base/cp")
    val commit0 = new java.io.File(s"$base/cp/commits/0")
    assert(commit0.exists, "batch-0 commit marker must exist before the kill")
    assert(commit0.delete(), "failed to remove the commit marker")
    // The local FS is Hadoop's ChecksumFileSystem: the marker has a
    // .crc sidecar, and a stale sidecar makes the re-committing rename
    // fail as a (spurious) concurrent-writer conflict.
    new java.io.File(s"$base/cp/commits/.0.crc").delete()
    stage(s"$base/staging", 1)
    stage(s"$base/staging", 2)
    run(s"$base/staging", s"$base/out", s"$base/cp")
    // Row-for-row (multiset) equality: a replay that appended instead
    // of overwriting would duplicate batch 0's rows and fail here even
    // though the SET of flagged rows would look unchanged.
    val ref = rows(s"$base/ref_out")
    val recovered = rows(s"$base/out")
    assert(ref.nonEmpty, "the staged waves must produce output rows")
    assert(recovered == ref)
  }

  test("checkpoint recovery: killed DEDUP stream + forced re-execution equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val newDocs = corpus.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val index = Dedup.buildCorpusIndex(Dedup.wordShingles(corpus))
    try recoveryCheck(
      (staging, w) => newDocs.filter(col("doc_id") % 3 === w).coalesce(1)
        .write.mode("append").parquet(staging),
      (staging, out, cp) => {
        val q = StreamOps.probeStream(
          spark, staging, newDocs.schema, out, Some(cp))(
          b => Dedup.flagAgainstCorpusIndex(Dedup.wordShingles(b), index, 0.6))
        try q.processAllAvailable() finally q.stop()
      },
      p => spark.read.parquet(p).select("doc_new", "best_match", "jaccard")
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted)
    finally index.release()
  }

  test("checkpoint recovery: killed DRIFT-MONITOR stream equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "lang", "text")
    val waved = docs.withColumn("wave",
      graft.functions.Hashing.md5Mod(col("doc_id").cast("string")) % 3L)
    val refHist = TextAnalysis.driftRefHistogram(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    refHist.count()
    try recoveryCheck(
      (staging, w) => waved.filter(col("wave") === w.toLong).coalesce(1)
        .write.mode("append").parquet(staging),
      (staging, out, cp) => {
        val q = StreamOps.probeStream(
          spark, staging, waved.schema, out, Some(cp))(
          TextAnalysis.klAgainstRef(refHist, _))
        try q.processAllAvailable() finally q.stop()
      },
      p => spark.read.parquet(p)
        .select("wave", "lang", "n_vocab", "tokens_a", "tokens_b",
          "kl_ab", "kl_ba")
        .collect().toSeq
        .map(r => (r.getAs[Long]("wave"), r.getAs[String]("lang"),
          r.getAs[Long]("n_vocab"), r.getAs[Long]("tokens_a"),
          r.getAs[Long]("tokens_b"), r.getAs[Double]("kl_ab"),
          r.getAs[Double]("kl_ba"))).sortBy(_.toString))
    finally refHist.unpersist()
  }

  test("checkpoint recovery: killed AUDIO-DEDUP stream equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val corpusHashes = Multimodal.audioFingerprint(spark,
      Multimodal.packBaseAudio(spark, docs)).toDF()
    val newClips = Multimodal.packReuploadAudio(spark,
      docs.filter(col("doc_id") % 10 === 7))
    val index = Multimodal.buildFingerprintIndex(corpusHashes, 8)
    try recoveryCheck(
      (staging, w) => newClips.filter(col("clip_id") % 3 === w).coalesce(1)
        .write.mode("append").parquet(staging),
      (staging, out, cp) => {
        val q = StreamOps.probeStream(
          spark, staging, newClips.schema, out, Some(cp))(
          b => Multimodal.flagAgainstFingerprintIndex(
            StreamOps.audioPrints(spark)(b), index, idOut = "clip_new"))
        try q.processAllAvailable() finally q.stop()
      },
      p => spark.read.parquet(p).select("clip_new", "best_match", "hamming")
        .collect().toSeq
        .map(r => (r.getAs[Long]("clip_new"), r.getAs[Long]("best_match"),
          r.getAs[Long]("hamming"))).sorted)
    finally index.release()
  }

  test("checkpoint recovery: killed IMAGE-DEDUP stream equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val corpusHashes = Multimodal.imageAHash(spark,
      Multimodal.packBaseImages(spark, docs)).toDF()
    val newImgs = Multimodal.packReuploadImages(spark,
      docs.filter(col("doc_id") % 10 === 7))
    val index = Multimodal.buildFingerprintIndex(corpusHashes, 6)
    try recoveryCheck(
      (staging, w) => newImgs.filter(col("img_id") % 3 === w).coalesce(1)
        .write.mode("append").parquet(staging),
      (staging, out, cp) => {
        val q = StreamOps.probeStream(
          spark, staging, newImgs.schema, out, Some(cp))(
          b => Multimodal.flagAgainstFingerprintIndex(
            StreamOps.imageHashes(spark)(b), index))
        try q.processAllAvailable() finally q.stop()
      },
      p => spark.read.parquet(p).select("img_new", "best_match", "hamming")
        .collect().toSeq
        .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
          r.getAs[Long]("hamming"))).sorted)
    finally index.release()
  }

  /* Accum-stream recovery: the frozen-index tests above prove the SINK
   * is replay-safe; these prove the ABSORB is. The forced crash window
   * (commit marker deleted after batch 0's sink write AND absorb) is
   * exactly where an unguarded accum stream corrupts itself twice over:
   * the replayed batch re-flags against its own absorbed copy
   * (self-matches at Jaccard 1 / Hamming 0 overwrite partition 0) and
   * re-absorbs (doubled shingle/size rows skew every later wave's
   * Jaccard denominator; IVF old_size/sim_sum double). The lastBatchId
   * watermark must make the replay a complete no-op — in BOTH restart
   * modes: a same-process restart (the AtomicReference kept the
   * absorbed index) and a re-seed from a durable save taken AFTER the
   * absorb. Waves are staged with strictly increasing mod-times so the
   * file source's batch↔wave mapping is identical across runs (for a
   * frozen index the order is irrelevant; for an accumulating one it
   * IS the semantics). */

  test("checkpoint recovery: killed ACCUM TEXT-DEDUP stream re-seeded from its durable save equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    // Wave w is a near-dup of wave w-1 (tags accumulate), so waves 1-2
    // best-match EARLIER WAVES — their jaccard values read the absorbed
    // shingle/size rows and would shift if a replay double-counted them.
    def wave(w: Int): org.apache.spark.sql.DataFrame = {
      val tags = (1 to w + 1).map(i => s" zzwave$i tag$i").mkString
      corpus.filter(col("doc_id") % 10 === 7).select(
        (col("doc_id") + lit((w + 1) * 1000000L)).as("doc_id"),
        concat(col("text"), lit(tags)).as("text"))
    }
    recoveryCheck(
      (staging, w) => {
        wave(w).coalesce(1).write.mode("append").parquet(staging)
        Thread.sleep(1100)
      },
      (staging, out, cp) => {
        // Re-seed from the durable save if one exists — the restart
        // story the operator docs promise. The save below happens AFTER
        // the batches' absorbs, so the replayed batch is already inside
        // the reloaded index and only the watermark can skip it.
        val idxPath = s"$cp-idx"
        val ref = new java.util.concurrent.atomic.AtomicReference(
          if (new java.io.File(idxPath).exists)
            Dedup.loadCorpusIndex(spark, idxPath)
          else Dedup.buildCorpusIndex(Dedup.wordShingles(corpus)))
        val q = StreamOps.accumStream(
          spark, staging, wave(0).schema, ref, out, Some(cp))(
          (i, sh) => Dedup.flagAgainstCorpusIndex(sh, i, 0.6),
          Dedup.wordShingles(_))
        try q.processAllAvailable() finally q.stop()
        ref.get().save(idxPath)
        ref.get().release()
      },
      p => spark.read.parquet(p).select("doc_new", "best_match", "jaccard")
        .collect().toSeq
        .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
          r.getAs[Double]("jaccard"))).sorted)
  }

  test("checkpoint recovery: killed ACCUM AUDIO-DEDUP stream with a same-process index ref equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val corpusHashes = Multimodal.audioFingerprint(spark,
      Multimodal.packBaseAudio(spark, docs)).toDF()
    val newClips = Multimodal.packReuploadAudio(spark,
      docs.filter(col("doc_id") % 10 === 7))
    // One index ref per run (keyed by checkpoint): the restarted query
    // reuses ITS ref — the same-process crash-recovery mode, where the
    // ref still holds the index that already absorbed batch 0. Without
    // the watermark the replayed clips would best-match their own
    // absorbed copies at Hamming 0 instead of their corpus bases.
    val refs = scala.collection.mutable.Map
      .empty[String, java.util.concurrent.atomic.AtomicReference[
        Multimodal.FingerprintIndex]]
    try recoveryCheck(
      (staging, w) => {
        newClips.filter(col("clip_id") % 3 === w).coalesce(1)
          .write.mode("append").parquet(staging)
        Thread.sleep(1100)
      },
      (staging, out, cp) => {
        val ref = refs.getOrElseUpdate(cp,
          new java.util.concurrent.atomic.AtomicReference(
            Multimodal.buildFingerprintIndex(corpusHashes, 8)))
        val q = StreamOps.accumStream(
          spark, staging, newClips.schema, ref, out, Some(cp))(
          (i, h) => Multimodal.flagAgainstFingerprintIndex(h, i, idOut = "clip_new"),
          StreamOps.audioPrints(spark))
        try q.processAllAvailable() finally q.stop()
      },
      p => spark.read.parquet(p).select("clip_new", "best_match", "hamming")
        .collect().toSeq
        .map(r => (r.getAs[Long]("clip_new"), r.getAs[Long]("best_match"),
          r.getAs[Long]("hamming"))).sorted)
    finally refs.values.foreach(r => r.get().release())
  }

  test("checkpoint recovery: killed ACCUM IVF-MONITOR stream re-seeded from its durable save equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10L)) < 8L)
    val arriving = emb.filter(pmod(col("vec_id"), lit(10L)) >= 8L)
    // The sharpest double-absorb detector: every report row's old_size
    // is the absorbed membership itself, so a replayed batch folded in
    // twice shifts wave 1's and wave 2's entire reports.
    recoveryCheck(
      (staging, w) => {
        arriving.filter(pmod(col("vec_id"), lit(3L)) === w.toLong).coalesce(1)
          .write.mode("append").parquet(staging)
        Thread.sleep(1100)
      },
      (staging, out, cp) => {
        val idxPath = s"$cp-idx"
        val ref = new java.util.concurrent.atomic.AtomicReference(
          if (new java.io.File(idxPath).exists)
            Similarity.loadIvfIndex(spark, idxPath)
          else Similarity.buildIvfIndex(corpus, 61L))
        val q = StreamOps.accumStream(
          spark, staging, arriving.schema, ref, out, Some(cp))(
          Similarity.ivfReassign)
        try q.processAllAvailable() finally q.stop()
        ref.get().save(idxPath)
        ref.get().release()
      },
      p => spark.read.parquet(p)
        .select("batch_id", "cid", "old_size", "added", "new_size",
          "growth", "mean_sim_old", "mean_sim_new")
        .collect().toSeq
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("cid"),
          r.getAs[Long]("old_size"), r.getAs[Long]("added"),
          r.getAs[Long]("new_size"),
          Option(r.getAs[java.lang.Double]("growth")),
          Option(r.getAs[java.lang.Double]("mean_sim_old")),
          Option(r.getAs[java.lang.Double]("mean_sim_new"))))
        .sortBy(_.toString))
  }

  test("checkpoint recovery: killed ACCUM IMAGE-DEDUP stream re-seeded from its durable save equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val corpusHashes = Multimodal.imageAHash(spark,
      Multimodal.packBaseImages(spark, docs)).toDF()
    val newImgs = Multimodal.packReuploadImages(spark,
      docs.filter(col("doc_id") % 10 === 7))
    recoveryCheck(
      (staging, w) => {
        newImgs.filter(col("img_id") % 3 === w).coalesce(1)
          .write.mode("append").parquet(staging)
        Thread.sleep(1100)
      },
      (staging, out, cp) => {
        val idxPath = s"$cp-idx"
        val ref = new java.util.concurrent.atomic.AtomicReference(
          if (new java.io.File(idxPath).exists)
            Multimodal.loadFingerprintIndex(spark, idxPath)
          else Multimodal.buildFingerprintIndex(corpusHashes, 6))
        val q = StreamOps.accumStream(
          spark, staging, newImgs.schema, ref, out, Some(cp))(
          (i, h) => Multimodal.flagAgainstFingerprintIndex(h, i),
          StreamOps.imageHashes(spark))
        try q.processAllAvailable() finally q.stop()
        ref.get().save(idxPath)
        ref.get().release()
      },
      p => spark.read.parquet(p).select("img_new", "best_match", "hamming")
        .collect().toSeq
        .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
          r.getAs[Long]("hamming"))).sorted)
  }

  test("checkpoint recovery: killed ACCUM EMBED-NEARDUP stream with a same-process index ref equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val arriving = emb.filter(pmod(col("vec_id"), lit(10L)) >= 7L)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val refs = scala.collection.mutable.Map
      .empty[String, java.util.concurrent.atomic.AtomicReference[
        Dedup.EmbeddingIndex]]
    try recoveryCheck(
      (staging, w) => {
        arriving.filter(pmod(col("vec_id"), lit(3L)) === w.toLong).coalesce(1)
          .write.mode("append").parquet(staging)
        Thread.sleep(1100)
      },
      (staging, out, cp) => {
        val ref = refs.getOrElseUpdate(cp,
          new java.util.concurrent.atomic.AtomicReference(
            Dedup.buildEmbeddingIndex(emb, 64)))
        val q = StreamOps.accumStream(
          spark, staging, arriving.schema, ref, out, Some(cp))(
          (i, b) => Dedup.flagAgainstEmbeddingIndex(b, i, 0.35))
        try q.processAllAvailable() finally q.stop()
      },
      p => spark.read.parquet(p).select("vec_new", "best_match", "cosine")
        .collect().toSeq
        .map(r => (r.getAs[Long]("vec_new"), r.getAs[Long]("best_match"),
          r.getAs[Double]("cosine"))).sortBy(_.toString))
    finally refs.values.foreach(r => r.get().release())
  }

  test("checkpoint recovery: killed ACCUM SKETCH-ANN stream re-seeded from its durable save equals the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val arriving = emb.filter(pmod(col("vec_id"), lit(10L)) >= 7L)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    recoveryCheck(
      (staging, w) => {
        arriving.filter(pmod(col("vec_id"), lit(3L)) === w.toLong).coalesce(1)
          .write.mode("append").parquet(staging)
        Thread.sleep(1100)
      },
      (staging, out, cp) => {
        val idxPath = s"$cp-idx"
        val ref = new java.util.concurrent.atomic.AtomicReference(
          if (new java.io.File(idxPath).exists)
            Similarity.loadSketchIndex(spark, idxPath)
          else Similarity.buildSketchIndex(emb, 64, 20))
        val q = StreamOps.accumStream(
          spark, staging, arriving.schema, ref, out, Some(cp))(
          (i, b) => Similarity.topKAgainstSketchIndex(b, i, 5))
        try q.processAllAvailable() finally q.stop()
        ref.get().save(idxPath)
        ref.get().release()
      },
      p => spark.read.parquet(p)
        .select("query_id", "rn", "vec_id", "cosine")
        .collect().toSeq
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
        .sortBy(_.toString))
  }

  test("foreachBatch lands the streaming aggregate in JDBC, equal to batch") {
    import org.apache.spark.sql.functions._
    System.setProperty("derby.stream.error.file",
      graft.Scratch.path(s"graft_derby_test.log"))
    val url = s"jdbc:derby:${graft.Scratch.root}/graft_stream_jdbc_" +
      s"${ProcessHandle.current().pid()};create=true"
    val q = StreamOps.aggToJdbcStream(spark, TestSpark.sf0001, url, "STREAM_COUNTS")
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "STREAM_COUNTS")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toMap
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toMap
    assert(landed == batch && batch.nonEmpty)
  }

  test("flatMapGroupsWithState emits exactly the users crossing the threshold") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf0001)
    val threshold = 100.0
    val alerts = StreamOps.thresholdAlerts(spark, events, threshold)
      .collect().map(_.getAs[Long]("user_id")).toSet
    val expected = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(sum(col("value")).as("total"))
      // round-6 on both sides: the batch sum's partial-merge order and
      // the stateful fold's iterator order may differ by ulps.
      .filter(round(col("total"), 6) >= threshold)
      .collect().map(_.getAs[Long]("user_id")).toSet
    assert(alerts == expected)
    assert(expected.nonEmpty)
  }

  test("transformWithState (Spark 4 arbitrary state) equals the batch aggregate") {
    import org.apache.spark.sql.functions._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamOps.runningPerUserTws(spark, TestSpark.sf0001)
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_out")
        .start()
      try {
        q.processAllAvailable()
        // Update mode re-emits a key on every batch it appears in — the
        // final state per user is the row with the largest count.
        val streamed = spark.table("tws_out")
          .groupBy("user_id")
          .agg(max(struct(col("n"), col("total"))).as("s"))
          .select(col("user_id"), col("s.n"), col("s.total"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1e6) / 1e6)).toSet
        val batch = Tables.events(spark, TestSpark.sf0001)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1e6) / 1e6)).toSet
        assert(streamed == batch && batch.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("mapGroupsWithState running totals equal the batch aggregate") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf0001)
    val stateful = StreamOps.runningPerUser(spark, events)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"))).toMap
    val batch = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"))).toMap
    assert(stateful == batch)
  }
}
