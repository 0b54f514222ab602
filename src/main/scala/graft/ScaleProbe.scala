package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale evidence (SCALE.md's 10× fixture table — r8 item #5):
  * synthesizes a CONTENT-DISJOINT 10× blow-up of the sf0.1
  * documents/embeddings/orders/lineitem tables, runs the heavy query
  * set once at both scales, and prints per-query wall time + spill
  * bytes plus the structural drivers the partition-sizing formulas key
  * on (undirected trade-graph edges for `Graph.clamp`, Σ bucket² of
  * the real banded near-dup keys, the video distinct-hash compression
  * factor).
  *
  * Copy k of each table shifts its keys into a disjoint id space and
  * mutates content so near-dup DENSITY stays constant (each word gets
  * a per-copy suffix → cross-copy shingles are disjoint; embeddings
  * rotate by k positions → copies decorrelate): a verbatim ×10 copy
  * would plant 10-way exact duplicates everywhere and blow Σ bucket²
  * quadratically — a stress test, not the "10× more distinct content"
  * shape a real corpus grows by.
  *
  * Usage: runMain graft.ScaleProbe <sf0.1-dir> <outDir> [copies] [q1,q2]
  * The fixture is generated once (skipped when outDir exists); the
  * optional 4th arg restricts the probe to a query subset (and skips
  * the structural report).
  */
object ScaleProbe {

  /** Heavy queries over the scaled tables (top of BENCH_FULL's
    * queries_min that read documents/embeddings/orders/lineitem). */
  private val ProbeQueries = Seq(
    "q_dedup_jaccard", "q_dedup_embedding_lsh", "q_text_dup_coverage",
    "q_text_span_dedup", "q_text_bpe_encode", "q_m_logistic_quality",
    "q_mm_image_neardup", "q_mm_video_frames", "q_mm_video_neardup",
    "q_mm_audio_neardup", "q_sim_ivf_topk", "q_pipeline_curation_manifest",
    "q_x_pagerank", "q_x_hits",
    // Accum batch twins: index build + one absorb + a wave probe each —
    // the per-wave cost cadence of the self-accumulating streams.
    "q_st_dedup_accum", "q_st_image_accum", "q_st_audio_accum",
    "q_st_embed_accum", "q_st_ivf_accum", "q_st_hamming_ann",
    // Round-12: the paged DSV2 stream drains 10× the pages (its fixture
    // derives from orders, so the backfill scales with the dir), the
    // soft-dedup weights ride the 10× cluster labels, and the
    // perplexity bands rank the 10× corpus through the global ntile.
    "q_st_paged_source", "q_dedup_soft_weights", "q_text_ppl_filter",
    "q_pipeline_soft_manifest",
    // Round-13: the two newest accum members (KMV cardinality sentinel,
    // DSIR selection stream) — O(1)-state by construction, but VERDICT
    // r12 #5 wants that measured, not argued.
    "q_st_kmv_accum", "q_st_dsir_accum")

  private val DocShift = 10000000L
  private val OrderShift = 100000000L
  private val KeyShift = 1000000L

  def generate(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    def tenfold(t: String)(mutate: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$t.parquet")
      (0 until copies).map(k => if (k == 0) src else mutate(src, k))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    tenfold("documents") { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(k * DocShift))
        .withColumn("text", array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"q$k"))), " "))
        .withColumn("n_chars",
          length(col("text")).cast(df.schema("n_chars").dataType))
    }
    tenfold("embeddings") { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * DocShift))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
            s"slice(embedding, 1, $k))"))
    }
    tenfold("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * OrderShift))
        .withColumn("o_custkey", col("o_custkey") + lit(k * KeyShift))
    }
    tenfold("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * OrderShift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * KeyShift))
        .withColumn("l_partkey", col("l_partkey") + lit(k * KeyShift))
    }
    // Unscaled tables copied verbatim so Tables.* resolves everywhere.
    Seq("region", "nation", "customer", "supplier", "part", "events")
      .foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
  }

  /** The structural drivers the sizing formulas read, at one dir. */
  private def structure(spark: SparkSession, d: String): Unit = {
    import graft.operators.{Graph, Hamming, Multimodal}
    val und = Graph.tradeEdges(Tables.orders(spark, d), Tables.lineitem(spark, d))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val nEdges = und.count()
    val nNodes = und.select(explode(array(col("a"), col("b"))).as("n"))
      .distinct().count()
    val cap = spark.sessionState.conf.numShufflePartitions.toLong
    def clamp(n: Long) = math.max(1L, math.min(cap, n))
    println(s"STRUCT $d trade_graph: und_edges=$nEdges nodes=$nNodes " +
      s"edgeParts=${clamp(nEdges / 100000L + 1)} " +
      s"rankParts=${clamp(nNodes / 500000L + 1)} (cap=$cap)")
    val imgHashes = Multimodal.imageAHash(spark,
      Multimodal.packImageVariants(spark, Tables.documents(spark, d))).toDF()
    val ib = Hamming.bandKeys(imgHashes, "img_id", Hamming.bandBits(6), Hamming.hid)
      .groupBy("band_idx", "bval").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("buckets"), max(col("c")).as("max_depth"),
        sum(col("c") * col("c")).as("sum_sq")).collect()(0)
    println(s"STRUCT $d image_bands(h=6): buckets=${ib.getLong(0)} " +
      s"max_depth=${ib.getLong(1)} sum_bucket_sq=${ib.getLong(2)}")
    val fh = Multimodal.videoFrameHashes(spark,
      Multimodal.packVideos(spark, Tables.documents(spark, d))).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val frames = fh.count()
    val distinct = fh.select("b0", "b1", "b2", "b3").distinct().count()
    fh.unpersist(blocking = false)
    println(s"STRUCT $d video: frames=$frames distinct_hashes=$distinct " +
      f"dup_factor=${frames.toDouble / distinct}%.1f")
    // Audio at its production threshold (8 → 9×7-bit bands, denser
    // buckets than the image layout): Σ bucket² is the candidate-join
    // cost driver, measured the same way that caught the image cliff.
    val audHashes = Multimodal.audioFingerprint(spark,
      Multimodal.packBaseAudio(spark, Tables.documents(spark, d))).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Both layouts side by side: the 9×7-bit pigeonhole bands (the
    // saturating layout the MIH cutover replaced at h=8) and the MIH
    // exact-side keys actually used — sum_bucket_sq is the candidate
    // cost driver for the banded join; MIH pays n×~718 probe rows
    // against its (much shallower) exact buckets instead.
    def bandStats(keys: DataFrame, tag: String): Unit = {
      val r = keys.groupBy("band_idx", "bval").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("buckets"), max(col("c")).as("max_depth"),
          sum(col("c") * col("c")).as("sum_sq")).collect()(0)
      println(s"STRUCT $d $tag: buckets=${r.getLong(0)} " +
        s"max_depth=${r.getLong(1)} sum_bucket_sq=${r.getLong(2)}")
    }
    bandStats(Hamming.bandKeys(audHashes, "img_id", Hamming.bandBits(8), Hamming.hid),
      "audio_bands_pigeonhole(h=8)")
    bandStats(Hamming.bandKeys(audHashes, "img_id", Hamming.layout(8), Hamming.hid),
      "audio_bands_mih(h=8)")
    audHashes.unpersist(blocking = false)
  }

  /** The accum-stream cadence at scale, image family (the one VERDICT
    * r11 named): build the corpus index, then flag+absorb 13 re-upload
    * waves under the streams' shared leg budget
    * ([[operators.AccumIndex.LegBudget]], 24) — compaction must ENGAGE
    * (each fingerprint wave adds 3 legs: bands, hashMin, hashes, so 3
    * base legs + 7 absorbs reach 24) and the post-compaction probe must
    * cost the same as the pre-compaction one. Prints per-wave
    * flag/absorb seconds, the compaction events with their cost, and a
    * final whole-batch probe timing. */
  private def accumProbe(spark: SparkSession, d: String): Unit = {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val corpus = Multimodal.imageAHash(spark,
      Multimodal.packBaseImages(spark, docs)).toDF()
    var idx = Multimodal.buildFingerprintIndex(corpus, 6)
    val newImgs = Multimodal.imageAHash(spark,
      Multimodal.packReuploadImages(spark, docs)).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNew = newImgs.count()
    val waves = 13
    var flagS = 0.0
    var absorbS = 0.0
    var nCompact = 0
    val t0 = System.nanoTime()
    for (w <- 0 until waves) {
      val wave = newImgs.filter(pmod(col("img_id"), lit(waves)) === w.toLong)
      val tf = System.nanoTime()
      val flagged = Multimodal.flagAgainstFingerprintIndex(wave, idx)
      flagS += (System.nanoTime() - tf) / 1e9
      operators.Lifecycle.release(flagged)
      val ta = System.nanoTime()
      val absorbed = idx.absorb(wave)
      val tc = System.nanoTime()
      idx = absorbed.budgeted(operators.AccumIndex.LegBudget)
      if (idx ne absorbed) {
        nCompact += 1
        println(f"ACCUM $d compaction#$nCompact at wave $w: " +
          f"legs ${absorbed.legs.length}%d→${idx.legs.length}%d " +
          f"in ${(System.nanoTime() - tc) / 1e9}%.1f s")
      }
      absorbS += (System.nanoTime() - ta) / 1e9
    }
    val tp = System.nanoTime()
    val probe = Multimodal.flagAgainstFingerprintIndex(newImgs, idx)
    val probed = (System.nanoTime() - tp) / 1e9
    operators.Lifecycle.release(probe)
    newImgs.unpersist(blocking = false)
    idx.release()
    println(f"ACCUM $d image: new=$nNew%d waves=$waves " +
      f"flag=${flagS}%.1f s absorb=${absorbS}%.1f s " +
      f"compactions=$nCompact total=${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"final_probe=${probed}%.1f s legs=${idx.legs.length}")
  }

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Verify.session("graft-scale-probe")
    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      val t0 = System.nanoTime()
      generate(spark, base, out, copies)
      println(f"GENERATED $out (${copies}x) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    // Subset arg may include the pseudo-entries "struct" and "accum" to
    // run those sections without the full query sweep.
    val selectedRaw = args.lift(3).map(_.split(',').toSeq)
      .getOrElse("struct" +: "accum" +: ProbeQueries)
    val selected = selectedRaw.filterNot(Set("struct", "accum"))
    for (d <- Seq(base, out)) {
      if (selectedRaw.contains("struct")) structure(spark, d)
      if (selectedRaw.contains("accum")) accumProbe(spark, d)
      for (name <- selected) {
        val t0 = System.nanoTime()
        val (m0, d0) = (spillMem.get(), spillDisk.get())
        try {
          SparkEntry.queries(name)(spark, d)
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the listener bus drain task metrics
          println(f"PROBE $d $name%-32s ${dt}%8.2f s  " +
            f"spill_mem=${(spillMem.get() - m0) / 1048576}%d MB " +
            f"spill_disk=${(spillDisk.get() - d0) / 1048576}%d MB")
        } catch {
          case e: Throwable =>
            println(s"PROBE $d $name FAILED: ${e.getMessage}")
        }
        operators.Lifecycle.releaseAll()
      }
    }
    spark.stop()
  }
}
