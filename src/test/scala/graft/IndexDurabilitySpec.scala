package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity}

/** The two halves of the accumulating-index lifetime story that the
  * absorb/probe specs don't cover: COMPACTION (an unbounded stream
  * must keep cached-leg count O(1)) and DURABILITY (the in-memory
  * index is process state; a restart must rebuild an identical index
  * from the parquet source-of-truth tables). Every assertion is
  * probe-equality: compacted/reloaded indexes must flag the same rows. */
class IndexDurabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    graft.Scratch.path(s"graft_${tag}_" +
      s"${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")

  // -------------------------------------------------------------- text

  private def docs = Tables.documents(spark, TestSpark.sf0001)
    .select("doc_id", "text")
  private def wave(n: Int): org.apache.spark.sql.DataFrame = {
    val tags = (1 to n).map(i => s" zzwave$i tag$i").mkString
    docs.filter(col("doc_id") % 10 === 7).select(
      (col("doc_id") + lit(n * 1000000L)).as("doc_id"),
      concat(col("text"), lit(tags)).as("text"))
  }
  private def probeRows(idx: Dedup.CorpusIndex) =
    Dedup.flagAgainstCorpusIndex(Dedup.wordShingles(wave(3)), idx, 0.6)
      .collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet

  test("compactCorpusIndex: probe-identical, legs collapse to 3, no-op when unabsorbed") {
    val base = Dedup.buildCorpusIndex(Dedup.wordShingles(docs))
    // An unabsorbed index's frames ARE its only cached legs: compaction
    // must hand it back untouched (re-persist + release would drop the
    // only copy).
    assert(base.compact() eq base)
    val absorbed = base.absorb(Dedup.wordShingles(wave(1)))
      .absorb(Dedup.wordShingles(wave(2)))
    assert(absorbed.legs.length == 9)
    val want = probeRows(absorbed)
    val compacted = absorbed.compact()
    assert(compacted.legs.length == 3)
    val got = probeRows(compacted)
    compacted.release()
    assert(got.nonEmpty && got == want)
    // Wave-2 best matches survive compaction (the absorbed state is
    // still in the index, just re-materialized).
    assert(got.exists(m => m._2 >= 2000000L && m._2 < 3000000L))
  }

  test("saveCorpusIndex/loadCorpusIndex: a reloaded index probes identically") {
    val path = tmp("corpusidx")
    val absorbed = Dedup.buildCorpusIndex(Dedup.wordShingles(docs))
      .absorb(Dedup.wordShingles(wave(2)))
    val want = probeRows(absorbed)
    absorbed.save(path)
    absorbed.release()
    val reloaded = Dedup.loadCorpusIndex(spark, path)
    val got = probeRows(reloaded)
    reloaded.release()
    assert(got.nonEmpty && got == want)
    // The save flattened the absorbed wave into the table: wave-2 best
    // matches are reachable after restart.
    assert(got.exists(m => m._2 >= 2000000L && m._2 < 3000000L))
  }

  test("accum dedup stream compacts once past its leg budget, output unchanged") {
    val base = tmp("accumcompact")
    val staging = s"$base/staging"
    val outPath = s"$base/flagged"
    // 3 staged waves × 3 legs + 3 base legs = 12 legs uncompacted;
    // maxLegs=6 forces compaction after (at least) the first absorb.
    (1 to 3).foreach { w =>
      wave(w).coalesce(1).write.mode("append").parquet(staging)
      Thread.sleep(1100)
    }
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Dedup.buildCorpusIndex(Dedup.wordShingles(docs)))
    val q = graft.streaming.StreamOps.accumStream(
      spark, staging, wave(1).schema, ref, outPath, maxLegs = 6)(
      (i, sh) => Dedup.flagAgainstCorpusIndex(sh, i, 0.6), Dedup.wordShingles(_))
    try q.processAllAvailable() finally q.stop()
    assert(ref.get().legs.length <= 6,
      s"leg budget not enforced: ${ref.get().legs.length} legs")
    val streamed = spark.read.parquet(outPath).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).toSet
    ref.get().release()
    // Batch face without any compaction: identical flags.
    var idx = Dedup.buildCorpusIndex(Dedup.wordShingles(docs))
    val batch = (1 to 3).flatMap { w =>
      val sh = Dedup.wordShingles(wave(w))
      val out = Dedup.flagAgainstCorpusIndex(sh, idx, 0.6).collect()
        .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
          r.getAs[Double]("jaccard")))
      idx = idx.absorb(sh)
      out
    }.toSet
    idx.release()
    assert(streamed.nonEmpty && streamed == batch)
  }

  // ------------------------------------------------------------- image

  private def imgCorpus = Multimodal.imageAHash(
    spark, Multimodal.packBaseImagesW(spark, docs)).toDF()
  private def imgWave(w: Int) = Multimodal.imageAHash(
    spark, Multimodal.packImageWave(
      spark, docs.filter(col("doc_id") % 10 === 7), w)).toDF()
  private def imgProbe(idx: Multimodal.FingerprintIndex) =
    Multimodal.flagAgainstFingerprintIndex(imgWave(2), idx).collect()
      .map(r => (r.getAs[Long]("img_new"), r.getAs[Long]("best_match"),
        r.getAs[Long]("hamming"))).toSet

  test("compactFingerprintIndex: probe-identical, legs collapse to 3, no-op when unabsorbed") {
    val base = Multimodal.buildFingerprintIndex(imgCorpus, 6)
    assert(base.compact() eq base)
    val absorbed = base.absorb(imgWave(1))
    // 3 legs per wave since the distinct-hash compression (bands +
    // hashMin + raw hashes).
    assert(absorbed.legs.length == 6)
    val want = imgProbe(absorbed)
    val compacted = absorbed.compact()
    assert(compacted.legs.length == 3)
    val got = imgProbe(compacted)
    compacted.release()
    assert(got.nonEmpty && got == want)
    assert(got.exists(_._2 % 4 == 1),
      "wave-1 best matches must survive compaction")
  }

  test("saveFingerprintIndex/loadFingerprintIndex: reloaded index probes identically, threshold preserved") {
    val path = tmp("imgidx")
    val absorbed = Multimodal.buildFingerprintIndex(imgCorpus, 6).absorb(imgWave(1))
    val want = imgProbe(absorbed)
    absorbed.save(path)
    absorbed.release()
    val reloaded = Multimodal.loadFingerprintIndex(spark, path)
    // The band layout is a function of the build threshold: a reload
    // that lost it would band different bit ranges and drop collisions.
    assert(reloaded.maxHamming == 6)
    val got = imgProbe(reloaded)
    reloaded.release()
    assert(got.nonEmpty && got == want)
    assert(got.exists(_._2 % 4 == 1))
  }

  // ---------------------------------------------------------- embedding

  private def emb = Tables.embeddings(spark, TestSpark.sf0001)
  private def embWave(n: Int): org.apache.spark.sql.DataFrame = {
    val mix = "transform(embedding, (x, i) -> " +
      "x + 0.25D * element_at(embedding, ((i + 1) % 64) + 1))"
    var df = emb.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    (1 to n).foreach(_ => df = df.select(col("vec_id"), expr(mix).as("embedding")))
    df.select((col("vec_id") + lit(n * 1000000L)).as("vec_id"), col("embedding"))
  }
  private def embProbe(idx: Dedup.EmbeddingIndex) =
    Dedup.flagAgainstEmbeddingIndex(embWave(2), idx, 0.35).collect()
      .map(r => (r.getAs[Long]("vec_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("cosine"))).toSet

  test("compactEmbeddingIndex: probe-identical, legs collapse to 2, no-op when unabsorbed") {
    val base = Dedup.buildEmbeddingIndex(emb, 64)
    assert(base.compact() eq base)
    val absorbed = base.absorb(embWave(1))
    assert(absorbed.legs.length == 4)
    val want = embProbe(absorbed)
    val compacted = absorbed.compact()
    assert(compacted.legs.length == 2)
    val got = embProbe(compacted)
    compacted.release()
    assert(got.nonEmpty && got == want)
    assert(got.exists(m => m._2 >= 1000000L && m._2 < 2000000L),
      "wave-1 best matches must survive compaction")
  }

  test("saveEmbeddingIndex/loadEmbeddingIndex: reloaded index probes identically") {
    val path = tmp("embidx")
    val absorbed = Dedup.buildEmbeddingIndex(emb, 64).absorb(embWave(1))
    val want = embProbe(absorbed)
    absorbed.save(path)
    absorbed.release()
    val reloaded = Dedup.loadEmbeddingIndex(spark, path)
    assert(reloaded.dim == 64)
    val got = embProbe(reloaded)
    reloaded.release()
    assert(got.nonEmpty && got == want)
    assert(got.exists(m => m._2 >= 1000000L && m._2 < 2000000L))
  }

  // -------------------------------------------------------- sketch-ANN

  private def annProbe(idx: Similarity.SketchIndex) =
    Similarity.topKAgainstSketchIndex(embWave(2), idx, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet

  test("compactSketchIndex: probe-identical, legs collapse to 2, no-op when unabsorbed") {
    val base = Similarity.buildSketchIndex(emb, 64, 20)
    assert(base.compact() eq base)
    val absorbed = base.absorb(embWave(1))
    assert(absorbed.legs.length == 4)
    val want = annProbe(absorbed)
    val compacted = absorbed.compact()
    assert(compacted.legs.length == 2)
    val got = annProbe(compacted)
    compacted.release()
    assert(got.nonEmpty && got == want)
    assert(got.exists(m => m._3 >= 1000000L && m._3 < 2000000L),
      "wave-1 neighbours survive compaction")
  }

  test("saveSketchIndex/loadSketchIndex: reloaded index answers identically, watermark preserved") {
    val path = tmp("annidx")
    val absorbed = Similarity.buildSketchIndex(emb, 64, 20).absorb(embWave(1))
      .copy(lastBatchId = 3L)
    val want = annProbe(absorbed)
    absorbed.save(path)
    absorbed.release()
    val reloaded = Similarity.loadSketchIndex(spark, path)
    assert(reloaded.dim == 64 && reloaded.maxHamming == 20 &&
      reloaded.lastBatchId == 3L)
    val got = annProbe(reloaded)
    reloaded.release()
    assert(got.nonEmpty && got == want)
    assert(got.exists(m => m._3 >= 1000000L && m._3 < 2000000L))
  }

  // --------------------------------------------------------------- ivf

  test("saveIvfIndex/loadIvfIndex: absorb continues bit-exact across the restart") {
    val path = tmp("ivfidx")
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10L)) < 6L)
    val b1 = emb.filter(pmod(col("vec_id"), lit(10L)).isin(6L, 7L))
    val b2 = emb.filter(pmod(col("vec_id"), lit(10L)).isin(8L, 9L))
    def stats(idx: Similarity.IvfIndex): Map[Long, (Long, java.math.BigDecimal)] =
      idx.corpusStats.collect().map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("old_size"), r.getAs[java.math.BigDecimal]("sim_sum")))
        .toMap
    // Uninterrupted: build → absorb b1 → absorb b2.
    val full = Similarity.buildIvfIndex(corpus, 61L).absorb(b1).absorb(b2)
    val want = stats(full)
    full.release()
    // Interrupted: absorb b1, save, RESTART (load), absorb b2.
    val preSave = Similarity.buildIvfIndex(corpus, 61L).absorb(b1)
    preSave.save(path)
    preSave.release()
    val resumed = Similarity.loadIvfIndex(spark, path).absorb(b2)
    val got = stats(resumed)
    assert(resumed.centStride == 61L)
    resumed.release()
    assert(got.nonEmpty && got == want)
  }

  test("a save that fails mid-write leaves the previous save whole") {
    val path = tmp("ivfcrash")
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10L)) < 6L)
    val b1 = emb.filter(pmod(col("vec_id"), lit(10L)).isin(6L, 7L))
    val b2 = emb.filter(pmod(col("vec_id"), lit(10L)).isin(8L, 9L))
    def report(idx: Similarity.IvfIndex) =
      Similarity.ivfReassign(idx, b2).collect().toSet
    val saved = Similarity.buildIvfIndex(corpus, 61L).absorb(b1).copy(lastBatchId = 1L)
    saved.save(path)
    val want = report(saved)
    // The next save's stats frame throws partway through its write:
    // centroids are already written by then, stats only in part.
    val crash = udf((cid: Long) =>
      if (cid % 2 == 1) throw new IllegalStateException("crash mid-save") else cid)
    val torn = saved.copy(lastBatchId = 2L,
      corpusStats = saved.corpusStats.repartition(4)
        .withColumn("cid", crash(col("cid"))))
    intercept[Exception](torn.save(path))
    saved.release()
    val reloaded = Similarity.loadIvfIndex(spark, path)
    assert(reloaded.lastBatchId == 1L)
    val got = report(reloaded)
    reloaded.release()
    assert(got.nonEmpty && got == want)
  }

  test("DSIR index survives save/load: reloaded state scores identically") {
    import graft.operators.TextAnalysis
    val target = docs.filter(col("lang") === "en")
    def wave(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val path = graft.Scratch.path(s"graft_dsiridx_" +
      s"${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    val idx = TextAnalysis.buildDsirIndex(target, wave(0), 512).absorb(wave(1))
      .copy(lastBatchId = 0L)
    def rows(i: TextAnalysis.DsirIndex) =
      TextAnalysis.scoreAgainstDsirIndex(i, wave(2)).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("dsir_score")))
        .sortBy(_._1).toSeq
    val want = rows(idx)
    idx.save(path)
    idx.release()
    val reloaded = TextAnalysis.loadDsirIndex(spark, path)
    assert(reloaded.lastBatchId == 0L && reloaded.buckets == 512)
    val got = rows(reloaded)
    reloaded.release()
    assert(got.nonEmpty && got == want)
  }

  test("a pre-watermark durable save still loads (missing meta/column → -1)") {
    import spark.implicits._
    val base = graft.Scratch.path(s"graft_oldidx_" +
      s"${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    // corpus index saved WITHOUT any meta table (the pre-upgrade layout)
    val cPath = s"$base/corpus"
    Dedup.wordShingles(docs.limit(50)).write.parquet(s"$cPath/shingles")
    val c = Dedup.loadCorpusIndex(spark, cPath)
    assert(c.lastBatchId == -1L, "missing meta must read as nothing-absorbed")
    c.release()
    // embedding index whose meta predates the last_batch_id column
    val ePath = s"$base/emb"
    graft.operators.Similarity.normalizedNonZero(emb.limit(50))
      .write.parquet(s"$ePath/vectors")
    Seq(64).toDF("dim").coalesce(1).write.parquet(s"$ePath/meta")
    val e = Dedup.loadEmbeddingIndex(spark, ePath)
    assert(e.lastBatchId == -1L, "missing column must read as nothing-absorbed")
    e.release()
  }
}
