package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Hashing, Num, Poly31Hash}
import graft.operators.{Dedup, Multimodal, Rank, Sampling, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators (the north-star extras in
  * BASELINE.json): dedup ×5, similarity search, text analysis,
  * multimodal plumbing. Oracle SQL is *generated* from the same Scala
  * constants the Spark operators use (MinHash permutations, SimHash bit
  * widths, hyperplanes, thresholds), so both engines execute literally
  * the same arithmetic. Even the probabilistic LSH queries
  * (`q_sim_ann_lsh`, `q_dedup_embedding_lsh`) are hard-gated: the
  * hyperplanes are seeded constants replayed verbatim in SQL, so the
  * candidate sets are deterministic and hash-comparable.
  */
object PipelinePack {
  type Q = (SparkSession, String) => DataFrame

  private val JACCARD_MIN = 0.5
  private val HAMMING_MAX = 8
  private val COS_MIN = 0.35
  /** Sketch-Hamming radius of the binary-ANN prefilter: sign sketches
    * put neighbours near 64·acos(cos)/π bits — the synthetic corpus's
    * nearest query-corpus pairs measure Hamming 16-19, so 20 admits
    * every genuine neighbour with a few-per-query candidate budget
    * (radii this loose are exactly the regime where the broadcast
    * binary scan beats any blocking scheme — operator doc). */
  private val HAM_ANN_MAX = 20
  private val TOPK = 10
  private val DIM = 64
  /** IVF coarse quantizer: vectors with `vec_id % CENT_STRIDE == 0` are
    * the centroids (data-seeded, deterministic, oracle-replayable);
    * queries probe their NPROBE nearest inverted lists. */
  private val CENT_STRIDE = 61L
  /** Incremental IVF maintenance: vectors with `vec_id % 10 ==
    * IVF_BATCH_REM` play the ARRIVING batch; the rest are the corpus
    * the index was built on (centroid stride applies to the corpus
    * side only — the frozen quantizer predates the batch). */
  private val IVF_BATCH_REM = 7L
  /** Dims kept by the Matryoshka truncation-recall check (DIM / 2). */
  private val TRUNC_DIMS = 32
  /** Hard-negative mining thresholds (data-informed: top-1 cosines sit
    * ~0.36-0.45, rank-10 ~0.26 on the synthetic embeddings). */
  private val HARD_MIN = 0.28
  private val FN_MIN = 0.4
  private val NPROBE = 2
  /** Data-mixing rates for the stratified sample (per-language Bernoulli
    * keep-probabilities; shared literals with the oracle). */
  private val SAMPLE_RATES = Seq("en" -> 0.5, "es" -> 0.25, "fr" -> 0.75)
  private val SAMPLE_DEFAULT = 0.1
  /** Context-window chunking: 50-word windows, 40-word stride. */
  private val CHUNK_W = 50
  private val CHUNK_S = 40
  /** Sequence packing: 2048-token sequences over 8 md5 shards. */
  private val SEQ_LEN = 2048L
  private val SHARDS = 8L
  private val BUCKET_WIDTH = 16L
  private val BATCH_SIZE = 4L
  /** Temperature for the τ-weighted source mixture. */
  private val TEMP_TAU = 0.7
  private val TOKEN_BUDGET = 10000000L
  private val CHUNK_GROUP = 10L
  private val DRIFT_WAVES = 4L
  /** Decontamination: every 97th doc is the "benchmark"; ≥3 shared
    * shingles flags a training doc as contaminated. */
  private val BENCH_MOD = 97L
  private val MIN_SHARED = 3L
  /** Iterative-BPE training rounds (the vocab budget of the demo run);
    * the oracle unrolls exactly this many per-round CTE triples. */
  private val BPE_TRAIN_ROUNDS = 8
  /** Cross-modal alignment: histogram dimension (must divide 256) and
    * the alignment floor below which a pair is flagged. */
  private val ALIGN_BINS = 16
  private val ALIGN_MIN = 0.5
  /** Multimodal frame sampling / resize constants (shared with the
    * oracles so both engines slice identically). */
  private val FRAME_SIZE = 16
  private val FRAME_STRIDE = 4
  private val RESIZE_FACTOR = 4
  /** Max Hamming distance for the aHash image near-dup verify step. */
  private val IMG_HAMMING_MAX = 6
  /** Stricter Hamming bound for CLUSTERING near-dups: transitive
    * closure compounds pairwise errors (a chain of hamming-6 pairs can
    * connect images 30+ bits apart), so the cluster stage keeps only
    * near-certain duplicates — the standard two-threshold practice
    * (report loose, cluster tight). On the ramp fixture this also keeps
    * the component graph ~7× smaller than the hamming-6 pair set. */
  private val IMG_CLUSTER_HAMMING = 2
  /** Max Hamming for the DCT-pHash near-dup over the composite-corrupt
    * corpus. Measured at sf0.01: planted pairs reach Hamming ≤ 6
    * (99.4% ≤ 4) under pHash, while cross-doc distances stay ≥ 12 —
    * threshold 4 sits in the gap with margin on both sides. (aHash on
    * the same corpus spreads to mean 7.5 / max 13 — unusable.) */
  private val PHASH_HAMMING_MAX = 4
  /** Checkerboard amplitude for the fingerprint-robustness scorecard —
    * zero-mean Nyquist noise the pHash box prefilter annihilates
    * exactly while the pixel-domain aHash flips every sampled cell the
    * amplitude pushes across the grid mean. ≤ 32 keeps the wrap-free
    * fixture inside [0, 255]. */
  private val NOISE_AMP = 24
  /** Vocabulary size for the tokenizer coverage / OOV report. */
  private val VOCAB_V = 256
  /** KMV sketch size for the source-overlap matrix: σ ≈ √(J(1−J)/k) ≈
    * 0.044 worst-case — plenty for a mixing-decision dataset card. */
  private val KMV_K = 128
  /** DSIR hashed-feature bucket count + target slice. 512 buckets keeps
    * the feature table broadcast-trivial while leaving ~½ of buckets
    * multi-word at this vocabulary — real hashing collisions, as the
    * method intends. */
  private val DSIR_B = 512
  private val DSIR_TARGET = "en"
  /** PII card fixtures for q_text_pii_scrub, rotated by doc_id: indexes
    * 0–1 are Luhn-VALID public test numbers (redacted), 2–3 fail the
    * checksum (must survive un-redacted — the no-over-redaction gate). */
  private val PII_CARDS = Seq(
    "4111111111111111", "5500005555555559",
    "4111111111111112", "1234567890123456")
  /** Corpus line-dedup: 5-word segments ("lines" — the synthetic corpus
    * has no newlines), dropped when they appear in more than 1 document. */
  private val LINE_W = 5
  private val LINE_MAX_DOCS = 1L
  /** Incremental ingestion dedup: docs with doc_id % INC_MOD == INC_REM
    * are the "new batch"; the rest are the existing corpus. */
  private val INC_MOD = 10L
  private val INC_REM = 7L
  /** Winnowing (MOSS): word-3-gram hashes, window 8 (guarantee span =
    * w + k − 1 = 10 words), pairs need ≥ 2 shared fingerprints, and
    * fingerprints in > 50 docs are boilerplate (dropped before the
    * pair join — the Σ bucket² guard). Shared with the oracles. */
  private val WIN_K = 3
  private val WIN_W = 8
  private val WIN_SHARED = 2L
  private val WIN_MAX_DF = 50L
  /** Accum-wave id stride: wave-w rows are labeled id + w*WAVE. 1e12
    * keeps the label spaces disjoint from any plausible fixture id
    * (the 10x probe fixture shifts doc_ids by 1e7 per copy — the old
    * 1e6 stride ALIASED there, classifying later-copy corpus rows as
    * wave members in the oracles). Shared verbatim by the oracles. */
  private val WAVE = graft.operators.Multimodal.WaveStride
  /** K-means: data-seeded centroids every KM_STRIDE-th vector, KM_ITERS
    * Lloyd iterations (constants shared with the generated oracle CTEs). */
  private val KM_STRIDE = 101L
  private val KM_ITERS = 2
  /** Domain-mix weights: upsample src0/src1, downsample src2, EXCLUDE
    * src3, everything else passes through at 1×. */
  private val MIX_WEIGHTS = Seq(
    "src0" -> 3.0, "src1" -> 2.5, "src2" -> 0.5, "src3" -> 0.0)
  private val MIX_DEFAULT = 1.0
  /** Exact-substring span dedup (Lee et al. 2022): SPAN_N-word grams
    * occurring in ≥ SPAN_MIN_DOCS distinct documents, merged into
    * maximal per-doc spans. */
  private val SPAN_N = 4
  private val SPAN_MIN_DOCS = 2L
  /** SemDeDup: data-seeded cluster stride (expected cluster size) and
    * the within-cluster near-dup cosine threshold (shares COS_MIN). */
  private val SEM_STRIDE = 47L
  /** Product quantization: M subspaces over DIM dims; the per-subspace
    * codebooks are the subvectors of every PQ_STRIDE-th vector. */
  private val PQ_M = 4
  private val PQ_STRIDE = 67L
  /** PCA power iteration: fixed iteration count, constant 1/√DIM start
    * vector (constants shared with the generated per-iteration oracle
    * CTEs, like k-means). */
  private val PCA_ITERS = 3
  /** Bloom decontamination sizing: ~84 bits/key at the estimated item
    * count → per-probe fpp ≈ 2⁻⁵⁸, so zero expected false-positive
    * docs; the query still carries an explicit FP-count bound verdict. */
  private val BLOOM_ITEMS = 100000L
  private val BLOOM_BITS = 1L << 23
  private val BLOOM_FP_DOC_BOUND = 2L
  /** BM25 retrieval: fixed deterministic query-term set + result size
    * (shared literals with the oracle). */
  private val BM25_TERMS = Seq("spark", "join", "window")
  private val BM25_K = 20
  /** Hybrid RRF retrieval: the standard rank constant (Cormack 2009)
    * and the fixed query vector fused with the BM25 term ranking. */
  private val RRF_C = 60
  private val RRF_QVEC = 100L
  /** JL random projection: plane count (the 16 LSH hyperplanes reused
    * as a dense projection) and the deterministic pair-sample stride. */
  private val RP_PLANES = 16
  private val RP_STEP = 17L
  /** Misra–Gries heavy hitters: counter budget and report size. */
  private val MG_K = 400
  private val HH_TOP = 10
  /** Deterministic per-language sample size. */
  private val GRP_SAMPLE_K = 5
  /** Ridge-logistic quality-classifier training: IRLS round count and
    * the ridge strength (shared with the generated per-round oracle
    * CTEs, like k-means/PCA). */
  private val LOGIT_ITERS = 4
  private val LOGIT_LAMBDA = 0.001
  /** Keep threshold for the corpus-wide scoring pass. */
  private val LOGIT_KEEP_MIN = 0.5
  /** Pseudo-count strength of the empirical-Bayes per-source quality
    * shrinkage (the beta-prior weight toward the corpus rate). */
  private val EB_K = 20.0
  /** Train share (percent) of the leakage-safe cluster-atomic split. */
  private val TRAIN_PCT = 80L
  /** Audio near-dup: max fingerprint Hamming distance, picked from the
    * measured `q_mm_audio_neardup_quality` grid of the band-median
    * fingerprint: at 8, precision 0.978 / recall 0.960 / recall_trim
    * 0.960 / recall_gain 0.960 (sf0.01); at 6 recall_trim drops to
    * 0.89 and at 10 precision to 0.92 — 8 is the knee. (The round-9/10
    * raw-loudness-hash fingerprint graded 0.29 / 0.0 on the same grid
    * at its threshold 4 — the scorecard exists to force exactly this
    * re-pick.) */
  private val AUD_HAMMING_MAX = 8
  /** Clip-level video near-dup: max frame-hash Hamming distance and
    * the minimum matching-frame-pair count for a video pair to count
    * as overlapping — the tight two-threshold setting (near-certain
    * frame matches, ≥2 of them), mirroring IMG_CLUSTER_HAMMING's
    * report-loose/act-tight practice: the synthetic ramp frames are
    * deliberately collision-rich, and a loose (6, 1) setting flags 28%
    * of all video pairs — noise, not clip overlap. */
  private val VID_HAMMING_MAX = 2
  private val VID_MIN_FRAMES = 2L
  /** Row cap for the EXACT all-pairs embedding baseline: the quadratic
    * oracle-definition query runs on a bounded `vec_id < cap` slice (same
    * predicate both engines — still oracle-exact), so no benched query is
    * O(n²) in the table size at any scale factor. The full-table path is
    * [[Dedup.embeddingPairsLsh]] (`q_dedup_embedding_lsh`). */
  private val EXACT_PAIRS_CAP = 1000L

  /** The documents scan fanned to session parallelism for the
    * shingle/minhash-heavy pipelines (r15 opt): the bench table is one
    * parquet row group, so every per-shingle hash otherwise runs in ONE
    * task. [[Tables.fanOut]] is a no-op whenever the scan already
    * carries >= cores partitions (any production layout). */
  private def docsWide(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))

  /** Once-per-JVM parquet materialization of a deterministic fixture
    * frame under (kind, sfDir), read back. This is the production shape
    * of a curation intermediate: near-dup pairs and media fingerprints
    * are computed once and stored, not recomputed per consumer, and
    * each query stays independently verifiable (it reads a
    * deterministic function of (sfDir, constants)). The build fans out
    * over the session's cores, but the fixture is written as ONE file:
    * the read side must not pay one tiny file per core per scan (r16:
    * the banded near-dup self-joins re-scan a fixture per band). */
  private[graft] def parquetFixture(s: SparkSession, kind: String, d: String)
                                   (frame: => DataFrame): DataFrame = {
    val path = SinksPack.tmpPath(kind, d)
    SinksPack.ensureFixture(path) {
      frame.repartition(1).write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** The shingle→capped-intersection→jaccard-pairs pipeline shared by
    * `q_dedup_jaccard`, `q_dedup_clusters`, `q_dedup_canonical_docs`
    * and the LSH quality/design reports, built once per JVM (each
    * query rebuilding it was ~2/3 of the dedup family's bench cost). */
  private def jaccardPairsFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "jpairs", d)(
      Dedup.jaccardPairs(Dedup.wordShingles(docsWide(s, d)), JACCARD_MIN))

  /** The media fingerprint tables. The DECODE queries
    * (`q_mm_decode_real`, `q_mm_audio_decode`, `q_mm_video_frames`)
    * still run the real codec round trip every time — only the
    * downstream dedup consumers read the materialized fingerprints. */
  private def imageVariantHashFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "imghash", d)(Multimodal.imageAHash(s,
      Multimodal.packImageVariants(s, Tables.documents(s, d))).toDF())

  private def corruptPHashFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "imgphash", d)(Multimodal.imagePHash(s,
      Multimodal.packImageCorrupt(s, Tables.documents(s, d))).toDF())

  private def noisyAHashFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "noisyah", d)(Multimodal.imageAHash(s,
      Multimodal.packImageNoisy(s, Tables.documents(s, d), NOISE_AMP)).toDF())

  private def noisyPHashFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "noisyph", d)(Multimodal.imagePHash(s,
      Multimodal.packImageNoisy(s, Tables.documents(s, d), NOISE_AMP)).toDF())

  private def baseImageHashFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "basehash", d)(Multimodal.imageAHash(s,
      Multimodal.packBaseImages(s, Tables.documents(s, d))).toDF())

  private def videoFrameHashFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "vidhash", d)(Multimodal.videoFrameHashes(s,
      Multimodal.packVideos(s, Tables.documents(s, d))).toDF())

  private def audioFingerprintFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "audhash", d)(Multimodal.audioFingerprint(s,
      Multimodal.packAudioVariants(s, Tables.documents(s, d))).toDF())

  private def audioGridFingerprintFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "audgrid", d)(Multimodal.audioFingerprint(s,
      Multimodal.packAudioGrid(s, Tables.documents(s, d))).toDF())

  private def baseImageHashWFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "basehashw", d)(Multimodal.imageAHash(s,
      Multimodal.packBaseImagesW(s, Tables.documents(s, d))).toDF())

  private def audioBaseFingerprintFixture(s: SparkSession, d: String): DataFrame =
    parquetFixture(s, "audbase", d)(Multimodal.audioFingerprint(s,
      Multimodal.packBaseAudio(s, Tables.documents(s, d))).toDF())

  /** The embedding re-arrival waves of the accum queries: wave 1 is a
    * one-step neighbor-mix (x_p + 0.25·x_{(p mod D)+1}) of every
    * INC_REM-th corpus vector, labeled +WAVE; wave 2 is the mix applied
    * twice, labeled +2·WAVE — so a wave-2 vector is strictly closer to
    * its wave-1 sibling than to the corpus original. The mix is exact
    * double arithmetic the oracles replay verbatim ([[mixWaveCtes]]). */
  private def mixedWaves(emb: DataFrame): (DataFrame, DataFrame) = {
    val mix = s"transform(embedding, (x, i) -> " +
      s"x + 0.25D * element_at(embedding, ((i + 1) % $DIM) + 1))"
    val m1 = emb.filter(pmod(col("vec_id"), lit(INC_MOD)) === INC_REM)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .select(col("vec_id"), expr(mix).as("embedding"))
    val m2 = m1.select(col("vec_id"), expr(mix).as("embedding"))
    (m1.select((col("vec_id") + WAVE).as("vec_id"), col("embedding")),
      m2.select((col("vec_id") + 2 * WAVE).as("vec_id"), col("embedding")))
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> { (s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy("doc_id")
    },
    "q_dedup_jaccard" -> { (s, d) =>
      jaccardPairsFixture(s, d).orderBy("doc_a", "doc_b")
    },
    "q_dedup_minhash_lsh" -> { (s, d) =>
      Dedup.minhashLshPairs(Dedup.wordShingles(docsWide(s, d)), JACCARD_MIN)
        .orderBy("doc_a", "doc_b")
    },
    // Incremental ingestion: flag new-batch docs near-duplicating the
    // existing corpus; per-ingest cost ∝ batch, not corpus.
    "q_dedup_incremental" -> { (s, d) =>
      Dedup.minhashLshAgainstCorpus(
          Dedup.wordShingles(docsWide(s, d)),
          pmod(col("doc_id"), lit(INC_MOD)) === INC_REM, JACCARD_MIN)
        .orderBy("doc_new")
    },
    // The same semantics THROUGH the streaming-cadence machinery: a
    // prebuilt corpus band index (the stream's long-lived state) with
    // the batch flagged against it — the exact per-micro-batch probe
    // StreamOps.probeStream runs inside foreachBatch
    // (StreamingSpec proves staged-wave equality). Oracle shared with
    // q_dedup_incremental: the two paths must agree row for row.
    "q_st_dedup_incremental" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pred = pmod(col("doc_id"), lit(INC_MOD)) === INC_REM
      val idx = Dedup.buildCorpusIndex(Dedup.wordShingles(docs.filter(!pred)))
      val out = Dedup.flagAgainstCorpusIndex(
        Dedup.wordShingles(docs.filter(pred)), idx, JACCARD_MIN)
      idx.release() // out is already checkpointed
      out.orderBy("doc_new")
    },
    // Batch twin of the drift probe over StreamOps.probeStream:
    // md5-assigned ingest waves scored against the whole-corpus
    // reference histogram — the exact per-micro-batch path of the
    // streaming drift sentinel (StreamingSpec proves staged-wave
    // equality).
    "q_st_drift_monitor" -> { (s, d) =>
      TextAnalysis.waveDriftReport(Tables.documents(s, d), DRIFT_WAVES)
        .orderBy("wave", "lang")
    },
    "q_dedup_simhash" -> { (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    },
    "q_dedup_clusters" -> { (s, d) =>
      Dedup.duplicateClusters(jaccardPairsFixture(s, d)).orderBy("doc_id")
    },
    // SoftDeDup (He et al. 2024): keep every doc, downweight by
    // near-dup cluster size — per-doc sampling weights…
    "q_dedup_soft_weights" -> { (s, d) =>
      Dedup.softDedupWeights(Tables.documents(s, d),
          Dedup.duplicateClusters(jaccardPairsFixture(s, d)))
        .orderBy("doc_id")
    },
    // …and the per-source effective-size report those weights realize.
    "q_dedup_effective_size" -> { (s, d) =>
      Dedup.softDedupEffectiveSize(Tables.documents(s, d),
          Dedup.duplicateClusters(jaccardPairsFixture(s, d)))
        .orderBy("source")
    },
    "q_dedup_embedding" -> { (s, d) =>
      Dedup.embeddingPairs(
          Tables.embeddings(s, d).filter(col("vec_id") < EXACT_PAIRS_CAP), COS_MIN)
        .orderBy("vec_a", "vec_b")
    },
    "q_dedup_embedding_lsh" -> { (s, d) =>
      Dedup.embeddingPairsLsh(Tables.embeddings(s, d), COS_MIN, DIM)
        .orderBy("vec_a", "vec_b")
    },
    "q_sim_cosine_topk" -> { (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), col("vec_id") % 100 === 0, TOPK)
        .orderBy("query_id", "rn")
    },
    "q_sim_ann_lsh" -> { (s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d), col("vec_id") % 100 === 0, TOPK, 64)
        .orderBy("query_id", "rn")
    },
    // Binary-sketch Hamming ANN: 64-bit sign sketch prefilter at
    // Hamming <= HAM_ANN_MAX via a broadcast binary scan, exact-cosine
    // re-rank. Unlike ann_lsh's band-collision candidates, the
    // prefilter is a deterministic function of the data, so the oracle
    // replays the whole definition.
    "q_sim_hamming_ann" -> { (s, d) =>
      Similarity.hammingAnnTopK(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, DIM, HAM_ANN_MAX)
        .orderBy("query_id", "rn")
    },
    "q_sim_ivf_topk" -> { (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), col("vec_id") % 100 === 0,
          TOPK, NPROBE, CENT_STRIDE)
        .orderBy("query_id", "rn")
    },
    // IVF index-health report: inverted-list size spread + skew.
    "q_sim_ivf_balance" -> { (s, d) =>
      Similarity.ivfBalanceReport(Tables.embeddings(s, d), CENT_STRIDE)
    },
    // Incremental IVF maintenance: a prebuilt frozen coarse index over
    // the corpus absorbs an arriving batch WITHOUT a rebuild —
    // per-list staleness report (growth + fit drift) a serving
    // pipeline watches to decide when to re-centroid.
    "q_sim_ivf_incremental" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(10L)) =!= IVF_BATCH_REM),
        CENT_STRIDE)
      val out = Similarity.ivfReassign(idx,
          emb.filter(pmod(col("vec_id"), lit(10L)) === IVF_BATCH_REM))
        .orderBy("cid")
      val materialized = graft.operators.Lifecycle.checkpoint(out)
      idx.release()
      materialized
    },
    // SELF-ACCUMULATING IVF maintenance (the batch face of
    // StreamOps.accumStream over Similarity.ivfReassign): the index
    // ABSORBS wave 1 (vec_id % 10 = 8) before wave 2 (% 10 = 9)
    // reports, so wave 2's old_size/growth/mean_sim_old read corpus ∪
    // wave 1 — the frozen index would compare every wave against the
    // original build.
    "q_st_ivf_accum" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(10L)) < 8L), CENT_STRIDE)
        .absorb(emb.filter(pmod(col("vec_id"), lit(10L)) === 8L))
      val out = Similarity.ivfReassign(idx,
          emb.filter(pmod(col("vec_id"), lit(10L)) === 9L))
        .orderBy("cid")
      val materialized = graft.operators.Lifecycle.checkpoint(out)
      idx.release()
      materialized
    },
    // Incremental EMBEDDING near-dup: a frozen hyperplane-LSH band
    // index over the corpus vectors, probed by the arriving batch —
    // banded candidates only, exact-cosine verify, best corpus match
    // per new vector.
    "q_st_embed_neardup" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val idx = Dedup.buildEmbeddingIndex(
        emb.filter(pmod(col("vec_id"), lit(10L)) =!= INC_REM), DIM)
      val out = Dedup.flagAgainstEmbeddingIndex(
        emb.filter(pmod(col("vec_id"), lit(10L)) === INC_REM), idx, COS_MIN)
      idx.release()
      out.orderBy("vec_new")
    },
    // SELF-ACCUMULATING embedding near-dup (the batch face of
    // StreamOps.accumStream over the embedding probe): wave 1 is a one-step
    // neighbor-mix of every INC_REM-th corpus vector, wave 2 the same
    // mix applied twice — so a wave-2 vector is strictly closer to its
    // wave-1 sibling than to the corpus original, and only an index
    // that absorbed wave 1 can return the right best match. The mix
    // (x_p + 0.25·x_{(p mod D)+1}) is exact double arithmetic the
    // oracle replays verbatim.
    "q_st_embed_accum" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (w1, w2) = mixedWaves(emb)
      val idx = Dedup.buildEmbeddingIndex(emb, DIM).absorb(w1)
      val out = Dedup.flagAgainstEmbeddingIndex(w2, idx, COS_MIN)
      idx.release()
      out.orderBy("vec_new")
    },
    // SELF-ACCUMULATING sketch-ANN serving (the batch face of
    // StreamOps.accumStream over the sketch top-k): the index absorbs wave 1
    // (mixed re-embeds, +1e6) before wave 2 (double-mixed, +2e6)
    // queries it top-k — wave-2 queries are strictly closer to their
    // wave-1 siblings than to the corpus originals, so only an index
    // that absorbed wave 1 returns the right neighbours. Answers are
    // ranked by exact cosine over the sketch-Hamming prefilter, both
    // replayed verbatim by the oracle.
    "q_st_hamming_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (w1, w2) = mixedWaves(emb)
      val idx = Similarity.buildSketchIndex(emb, DIM, HAM_ANN_MAX).absorb(w1)
      val out = Similarity.topKAgainstSketchIndex(w2, idx, TOPK)
      idx.release() // out is already checkpointed
      out.orderBy("query_id", "rn")
    },
    // LSH banding quality vs the exact-jaccard ground truth: candidate
    // precision (verification waste) and recall (banding misses).
    "q_dedup_lsh_quality" -> { (s, d) =>
      Dedup.lshQualityReport(jaccardPairsFixture(s, d),
        Dedup.wordShingles(docsWide(s, d)), JACCARD_MIN)
    },
    // The banding DESIGN sweep behind the deployed 4x4: every (b, r)
    // tiling of the 16-hash signature, analytic s-curve facts next to
    // measured candidates / verified / precision / recall — parameter
    // selection as a measured table, not folklore.
    "q_dedup_lsh_design" -> { (s, d) =>
      Dedup.lshDesignSweep(jaccardPairsFixture(s, d),
        Dedup.wordShingles(docsWide(s, d)), JACCARD_MIN)
        .orderBy(col("bands").desc)
    },
    // Scalar int8 quantization: per-dim corpus min/max grid, nearest
    // code, reconstruction-error stats.
    "q_sim_quantize_int8" -> { (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d)).orderBy("vec_id")
    },
    // Distributed k-means (Lloyd): data-seeded centroids, 2 iterations,
    // decimal-stable centroid means → engine-identical assignments.
    "q_sim_kmeans" -> { (s, d) =>
      Similarity.kmeansClusters(Tables.embeddings(s, d), KM_STRIDE, KM_ITERS)
        .orderBy("cid")
    },
    "q_dedup_canonical_docs" -> { (s, d) =>
      Dedup.resolveCanonical(Tables.documents(s, d), jaccardPairsFixture(s, d))
        .orderBy("doc_id")
    },
    // The CAPSTONE curation manifest — the per-doc decision table an
    // LLM training pipeline actually ships: near-dup status (cluster
    // canonical/duplicate/unique), leakage-safe split, trained quality
    // score + keep flag, token count, and the final include gate
    // (not-a-duplicate ∧ quality-keep ∧ train split). Pure composition
    // of four already-verified operators — every join is doc_id-keyed.
    "q_pipeline_curation_manifest" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = jaccardPairsFixture(s, d)
      val status = docs.select(col("doc_id"))
        .join(Dedup.duplicateClusters(pairs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("cluster_id").isNull, "unique")
            .when(col("doc_id") === col("cluster_id"), "canonical")
            .otherwise("duplicate").as("status"))
      val split = Dedup.leakageSafeSplit(docs, pairs, TRAIN_PCT)
        .select(col("doc_id"), col("split"))
      val score = graft.operators.Classifier.logisticQualityScore(
        docs, LOGIT_ITERS, LOGIT_LAMBDA, LOGIT_KEEP_MIN)
      val toks = TextAnalysis.tokenCounts(docs)
        .select(col("doc_id"), col("ws_tokens"))
      status.join(split, Seq("doc_id")).join(score, Seq("doc_id"))
        .join(toks, Seq("doc_id"))
        .select(col("doc_id"), col("status"), col("split"),
          col("score"), col("keep"), col("ws_tokens"),
          ((col("status") =!= "duplicate") && col("keep") === 1L &&
            col("split") === "train").cast("long").as("include"))
        .orderBy("doc_id")
    },
    // The SOFT-dedup era manifest: same composition, but instead of the
    // hard include gate dropping duplicates, every doc carries its
    // SoftDeDup sampling weight (1/cluster size) and the final
    // sample_weight a weighted data loader integrates — zero when the
    // doc fails quality or falls in the test split, its soft weight
    // otherwise; w_tokens is the token mass the weight realizes.
    "q_pipeline_soft_manifest" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = jaccardPairsFixture(s, d)
      val w = Dedup.softDedupWeights(docs, Dedup.duplicateClusters(pairs))
        .select(col("doc_id"), col("cluster_n"), col("weight"))
      val split = Dedup.leakageSafeSplit(docs, pairs, TRAIN_PCT)
        .select(col("doc_id"), col("split"))
      val score = graft.operators.Classifier.logisticQualityScore(
          docs, LOGIT_ITERS, LOGIT_LAMBDA, LOGIT_KEEP_MIN)
        .select(col("doc_id"), col("keep"))
      val toks = TextAnalysis.tokenCounts(docs)
        .select(col("doc_id"), col("ws_tokens"))
      val inTrain = col("keep") === 1L && col("split") === "train"
      w.join(split, Seq("doc_id")).join(score, Seq("doc_id"))
        .join(toks, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_n"), col("weight"),
          col("split"), col("keep"), col("ws_tokens"),
          when(inTrain, col("weight")).otherwise(lit(0.0)).as("sample_weight"),
          when(inTrain, round(col("weight") * col("ws_tokens"), 6))
            .otherwise(lit(0.0)).as("w_tokens"))
        .orderBy("doc_id")
    },
    // Leakage-safe train/test split: the split key is the near-dup
    // CLUSTER (singleton for docs without a near-dup), so no cluster
    // ever straddles train and test — the evaluation-leakage guard a
    // training pipeline needs on a dedup-aware corpus. The
    // cluster_atomic verdict re-checks the guarantee in-engine.
    "q_dedup_leakage_split" -> { (s, d) =>
      Dedup.leakageSafeSplit(Tables.documents(s, d),
          jaccardPairsFixture(s, d), TRAIN_PCT)
        .orderBy("doc_id")
    },
    // Benchmark decontamination: docs with doc_id % BENCH_MOD == 0 act
    // as the held-out benchmark; corpus docs sharing ≥ MIN_SHARED
    // shingles with any of them are flagged.
    "q_dedup_decontaminate" -> { (s, d) =>
      val sh = Dedup.wordShingles(docsWide(s, d))
      val bench = sh.filter(pmod(col("doc_id"), lit(BENCH_MOD)) === 0)
      val corpus = sh.filter(pmod(col("doc_id"), lit(BENCH_MOD)) =!= 0)
      Dedup.decontaminate(corpus, bench, MIN_SHARED).orderBy("doc_id")
    },

    // Bloom-filter decontamination (the beyond-broadcast scale path):
    // half-gated like the sketches — the exact flag set + shared-shingle
    // counts are hash-checked, and two verdict columns assert the bloom
    // path's guarantees (no false negatives; FP doc count within bound).
    "q_dedup_bloom" -> { (s, d) =>
      val sh = Dedup.wordShingles(docsWide(s, d))
      val corpus = sh.filter(pmod(col("doc_id"), lit(BENCH_MOD)) =!= 0)
      val bench = sh.filter(pmod(col("doc_id"), lit(BENCH_MOD)) === 0)
      val exact = Dedup.decontaminate(corpus, bench, MIN_SHARED)
      val bloom = Dedup.decontaminateBloom(corpus, bench, MIN_SHARED,
        BLOOM_ITEMS, BLOOM_BITS)
      val fpDocs = bloom.join(exact.select("doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("fp_docs"))
      exact
        .join(bloom.select(col("doc_id"), lit(1L).as("bloom_flagged")),
          Seq("doc_id"), "left")
        .crossJoin(broadcast(fpDocs))
        .select(col("doc_id"), col("shared_shingles"),
          coalesce(col("bloom_flagged"), lit(0L)).as("bloom_flagged"),
          (col("fp_docs") <= BLOOM_FP_DOC_BOUND).cast("long").as("fp_within_bound"))
        .orderBy("doc_id")
    },

    // Quality-policy dedup resolution: longest doc survives its cluster.
    "q_dedup_quality_survivor" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.resolveBestQuality(docs, jaccardPairsFixture(s, d),
          size(split(col("text"), " ")).cast("long"))
        .orderBy("doc_id")
    },

    // DSIR data selection (Xie et al. 2023): mean per-token log
    // likelihood ratio of the en-target hashed-unigram distribution vs
    // the raw-corpus distribution; per-bucket ratios quantized to
    // integer micro-units so per-doc scores are exact long sums —
    // deterministic under any partitioning. selected = ratio > 1.
    "q_text_dsir" -> { (s, d) =>
      TextAnalysis.dsirScores(Tables.documents(s, d), DSIR_B, DSIR_TARGET)
        .orderBy("doc_id")
    },

    // Pairwise source-overlap matrix: KMV sketch estimate + exact
    // Jaccard audit in one row per source pair. The sketch estimate is
    // FULLY hash-gated (k smallest portable md5 hashes are
    // deterministic — no bounded-error verdict needed); the pairwise
    // stage runs on O(S·k) broadcast sketches, never the corpus.
    "q_text_source_overlap" -> { (s, d) =>
      TextAnalysis.sourceOverlapKmv(Tables.documents(s, d), KMV_K)
        .orderBy("source_a", "source_b")
    },

    // Curation dashboard: per-source doc/token counts, Gopher pass
    // rate, and near-dup incidence (docs appearing in any jaccard pair,
    // off the shared pairs fixture) — the corpus-health report a
    // pipeline emits per ingest. One narrow scan + one broadcast-able
    // dup-id join + one source-keyed aggregate.
    "q_text_source_report" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val g = TextAnalysis.gopherQuality(docs).select(col("doc_id"), col("passes"))
      val toks = TextAnalysis.tokenCounts(docs).select(col("doc_id"), col("ws_tokens"))
      val pairs = jaccardPairsFixture(s, d)
      val dupIds = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b"))).distinct()
        .withColumn("is_dup", lit(1L))
      docs.select(col("doc_id"), col("source"))
        .join(g, Seq("doc_id")).join(toks, Seq("doc_id"))
        .join(broadcast(dupIds), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).cast("long").as("total_ws_tokens"),
          round(sum(col("passes")) / count(lit(1)), 6).as("gopher_pass_rate"),
          sum(coalesce(col("is_dup"), lit(0L))).cast("long").as("dup_docs"),
          round(sum(coalesce(col("is_dup"), lit(0L))) / count(lit(1)), 6).as("dup_rate"))
        .orderBy("source")
    },
    "q_text_tfidf" -> { (s, d) =>
      TextAnalysis.tfidfTopTerms(docsWide(s, d), 3)
        .orderBy("doc_id", "rn")
    },
    // Tokenizer-training support: the global adjacent-pair histogram —
    // the expensive distributed step of BPE training (each merge round
    // re-ranks corpus-wide pair counts) — with the top candidates
    // ranked through the bounded two-level heap (never a global sort of
    // the histogram). Bigrams come from one zip_with per row (narrow);
    // the histogram is a map-side-combining groupBy on pair.
    "q_text_bpe_candidates" -> { (s, d) =>
      val ws = split(col("text"), " ")
      val pairs = Tables.documents(s, d)
        .select(explode(zip_with(
          slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
      Rank.global(pairs, "n", "pair", 10, Rank.CountDescWordAsc)
        .select(col("rn"), col("pair"), col("n"))
        .orderBy("rn")
    },
    // The encode half of the BPE story: apply the mined top-10 merge
    // table (greedy left-to-right, rank order) to every document and
    // report token counts + compression + encoded-sequence md5.
    "q_text_bpe_encode" -> { (s, d) =>
      TextAnalysis.bpeEncode(Tables.documents(s, d), 10).orderBy("doc_id")
    },
    // TRUE iterative BPE training: re-count adjacent pairs after every
    // learned merge (bpe_candidates/encode use a static one-shot table;
    // real BPE's rule r depends on rules 1..r−1 having been applied).
    // One row per round: the learned merge, its count, the corpus token
    // total after applying it — the training curve.
    "q_text_bpe_train" -> { (s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), BPE_TRAIN_ROUNDS)
    },
    // Deterministic three-way train/val/test split (80/10/10 on the
    // md5-uniform): per-(lang, split) counts — the split audit a
    // training pipeline logs. Pure narrow classify + one keyed agg.
    "q_text_split_report" -> { (s, d) =>
      val u = Sampling.uniformOf(col("doc_id"))
      Tables.documents(s, d)
        .withColumn("split",
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    },
    // Retrieval with payload fetch: exact top-k neighbours of the query
    // vectors joined back to the documents table (vec_id = doc_id in
    // the synthetic data) — the end-to-end RAG shape: rank in vector
    // space, then fetch the text (here its md5) via one key-equi join.
    "q_sim_retrieve_text" -> { (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), col("vec_id") % 100 === 0, TOPK)
        .join(Tables.documents(s, d).select(col("doc_id").as("vec_id"),
          md5(col("text")).as("text_md5")), Seq("vec_id"))
        .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"), col("text_md5"))
        .orderBy("query_id", "rn")
    },
    // Data mixing: deterministic content-keyed stratified sample.
    "q_text_stratified_sample" -> { (s, d) =>
      Sampling.stratified(Tables.documents(s, d), col("doc_id"), col("lang"),
          SAMPLE_RATES, SAMPLE_DEFAULT)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    // Per-group quantile gate: keep docs above their language's median
    // word count (two-pass: tiny per-lang agg broadcast back to the scan).
    "q_text_above_group_median" -> { (s, d) =>
      val q = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      val med = q.groupBy("lang")
        .agg(expr("percentile(n_words, 0.5)").as("median_words"))
      q.join(broadcast(med), Seq("lang"))
        .filter(col("n_words") > col("median_words"))
        .select(col("doc_id"), col("lang"), col("n_words"),
          round(col("median_words"), 6).as("med"))
        .orderBy("doc_id")
    },
    // PII scrubbing: the documents are synthetic ASCII, so emails,
    // phones, IPs, SSNs, and payment cards are INJECTED
    // deterministically from doc_id (same construction in the oracle)
    // and then redacted. Cards rotate through 2 Luhn-valid + 2
    // Luhn-INVALID fixtures, so the hash gate also proves both engines
    // agree on which digit runs the checksum keeps un-redacted.
    "q_text_pii_scrub" -> { (s, d) =>
      val card = element_at(lit(PII_CARDS.toArray),
        (pmod(col("doc_id"), lit(PII_CARDS.size.toLong)) + 1).cast("int"))
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10."), pmod(col("doc_id"), lit(256)),
        lit(".0."), pmod(col("doc_id"), lit(100)),
        lit(" ssn 123-45-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" card "), card)
      docsWide(s, d)
        .select(col("doc_id"), TextAnalysis.scrubPii(raw).as("scrubbed"))
        .orderBy("doc_id")
    },

    // Sequence packing: docs → fixed-size training sequences per
    // (lang, md5-shard), greedy in doc_id order.
    "q_text_seq_pack" -> { (s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), SEQ_LEN, SHARDS)
        .orderBy("doc_id")
    },
    // Padding-waste report over the packing assignment.
    "q_text_pack_efficiency" -> { (s, d) =>
      TextAnalysis.packEfficiency(Tables.documents(s, d), SEQ_LEN, SHARDS)
    },
    // Temperature-weighted source mixture (τ-scaled rebalancing weights).
    "q_text_temperature_mix" -> { (s, d) =>
      TextAnalysis.temperatureMix(Tables.documents(s, d), TEMP_TAU)
    },
    // Token-budget mixing plan: τ-weights realized as per-source token
    // targets and epoch (repetition) counts under a fixed budget.
    "q_text_epoch_plan" -> { (s, d) =>
      TextAnalysis.epochPlan(Tables.documents(s, d), TEMP_TAU, TOKEN_BUDGET)
    },
    // Deterministic global shuffle: md5-keyed pseudo-random permutation
    // into balanced training shards (in-shard rank, no global sort).
    "q_text_global_shuffle" -> { (s, d) =>
      TextAnalysis.globalShuffle(Tables.documents(s, d), SHARDS)
        .orderBy("shard", "pos")
    },
    // Length-bucketed micro-batches with per-batch padding fill ratio.
    "q_text_length_batches" -> { (s, d) =>
      TextAnalysis.lengthBucketBatches(Tables.documents(s, d),
          BUCKET_WIDTH, BATCH_SIZE, SHARDS)
        .orderBy("bucket", "shard", "batch_no")
    },

    // Materialized training sequences: the packing assignment joined
    // back to the text and rolled up per (lang, shard, seq_no) — doc
    // count, token total, and the md5 of the concatenated sequence text
    // in doc_id order (what the dataloader would actually read). Each
    // group is one sequence (Σ n_words ≤ seqLen plus one spill doc), so
    // the collect_list is bounded by construction.
    "q_text_seq_materialize" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.packSequences(docs, SEQ_LEN, SHARDS)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .groupBy("lang", "shard", "seq_no")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("seq_tokens"),
          md5(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")))).as("seq_md5"))
        .orderBy("lang", "shard", "seq_no")
    },

    // Self-repetition signal: 1 − distinct-3-grams / total-3-grams.
    // A doc repeating the same phrases has few distinct shingles
    // relative to its length — the n-gram complement of q_text_entropy.
    // Narrow: one shingle groupBy against a per-doc word count.
    "q_text_repetition" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val total = docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 2, lit(1)).cast("long").as("n_grams"))
      val distinctSh = Dedup.wordShingles(docs)
        .groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
      total.join(distinctSh, Seq("doc_id"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct") / col("n_grams"), 6).as("repetition"))
        .orderBy("doc_id")
    },

    // Flesch-style readability: vowel-group syllables, terminal-punct
    // sentences — per-row regex counting, narrow, no shuffle.
    "q_text_readability" -> { (s, d) =>
      graft.operators.TextAnalysis.readability(Tables.documents(s, d))
        .orderBy("doc_id")
    },

    // Context-window chunking with stride.
    "q_text_chunks" -> { (s, d) =>
      TextAnalysis.chunkWords(Tables.documents(s, d), CHUNK_W, CHUNK_S)
        .orderBy("doc_id", "chunk_no")
    },
    // Word-distribution entropy per doc (repetition signal: low entropy
    // = degenerate/repeated text). H = ln(n) − Σ tf·ln(tf) / n, one
    // narrow groupBy chain; score rounded to 6 on both engines.
    "q_text_entropy" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum(col("tf")).cast("long").as("n_words"),
          // the Σ tf·ln(tf) term is an order-dependent double sum →
          // decimal-stable dsum keeps it identical at any parallelism
          round(log(sum(col("tf"))) -
            graft.functions.Num.dsum(col("tf") * log(col("tf"))) / sum(col("tf")), 6)
            .as("entropy"))
        .orderBy("doc_id")
    },
    "q_text_quality" -> { (s, d) =>
      TextAnalysis.quality(Tables.documents(s, d)).orderBy("doc_id")
    },
    // Gopher-style corpus filtering rules (word bounds, mean word
    // length, alpha fraction, stopword floor, symbol ratio).
    "q_text_gopher_quality" -> { (s, d) =>
      TextAnalysis.gopherQuality(Tables.documents(s, d)).orderBy("doc_id")
    },
    // CCNet-style corpus line dedup: drop fixed-width segments that
    // appear in more than LINE_MAX_DOCS documents, reassemble in order.
    "q_text_line_dedup" -> { (s, d) =>
      TextAnalysis.lineDedup(docsWide(s, d), LINE_W, LINE_MAX_DOCS)
        .orderBy("doc_id")
    },
    // Weighted domain mixing: replicate/drop per-source to hit a target
    // training mixture (deterministic fractional copies).
    "q_text_domain_mix" -> { (s, d) =>
      Sampling.weightedMix(Tables.documents(s, d), col("doc_id"), col("source"),
          MIX_WEIGHTS, MIX_DEFAULT)
        .select(col("doc_id"), col("source"), col("copy_no"))
        .orderBy("doc_id", "copy_no")
    },
    // Exact-substring dedup (Lee et al. 2022): maximal per-doc word
    // spans covered by cross-document duplicated SPAN_N-grams.
    "q_text_span_dedup" -> { (s, d) =>
      TextAnalysis.dupSpans(docsWide(s, d), SPAN_N, SPAN_MIN_DOCS)
        .orderBy("doc_id", "span_start")
    },
    // Unicode normalization battery (the C4/CCNet preprocessing step):
    // synthesize decomposed combining-mark text deterministically from
    // the corpus (base letter + U+0301/U+0300/U+0308/U+0303), compose
    // it back with the native codegen nfc_norm Expression, and strip
    // diacritics with unaccent — the oracle replays the identical
    // construction through DuckDB's nfc_normalize / strip_accents, so
    // a normalization that composes or strips even one mark wrong
    // hash-fails. roundtrip_ok asserts unaccent(nfc(decorated)) equals
    // the undecorated source slice.
    "q_text_unicode_norm" -> { (s, d) =>
      graft.functions.UnicodeNorm.register(s)
      val raw5 = concat_ws(" ", slice(split(col("text"), " "), 1, 5))
      val dec = replace(replace(replace(replace(raw5,
        lit("a"), lit("a\u0301")), lit("e"), lit("e\u0300")),
        lit("o"), lit("o\u0308")), lit("n"), lit("n\u0303"))
      val nfcS = graft.functions.UnicodeNorm.nfcNorm(dec)
      Tables.documents(s, d).select(
          col("doc_id"),
          length(dec).cast("long").as("dec_cp"),
          length(nfcS).cast("long").as("nfc_cp"),
          (length(dec) - length(nfcS)).cast("long").as("marks"),
          nfcS.as("nfc_text"),
          when(graft.functions.UnicodeNorm.unaccent(nfcS) === raw5, 1L)
            .otherwise(0L).as("roundtrip_ok"))
        .orderBy("doc_id")
    },
    // Per-document duplication coverage ratio from the same spans —
    // the drop/trim curation signal.
    "q_text_dup_coverage" -> { (s, d) =>
      TextAnalysis.dupCoverage(docsWide(s, d), SPAN_N, SPAN_MIN_DOCS)
        .orderBy("doc_id")
    },
    // Top principal component via distributed power iteration (no d×d
    // covariance matrix, state O(dim)); loadings + Rayleigh eigenvalue.
    "q_sim_pca_power" -> { (s, d) =>
      Similarity.pcaPower(Tables.embeddings(s, d), PCA_ITERS, DIM)
        .orderBy("dim")
    },
    // One-number batch-collapse probe: top-PC eigenvalue over total
    // variance of the same centered matrix.
    "q_sim_pca_explained" -> { (s, d) =>
      Similarity.pcaExplained(Tables.embeddings(s, d), PCA_ITERS, DIM)
    },
    // SemDeDup: within-cluster semantic near-dup removal over the
    // embedding space (keep-lowest-id policy).
    // Chunk→document embedding pooling: per-doc pooled norm (intra-doc
    // coherence) + first-chunk-vs-centroid cosine.
    "q_sim_chunk_pool" -> { (s, d) =>
      Similarity.chunkPooledEmbeddings(Tables.embeddings(s, d), CHUNK_GROUP)
        .orderBy("group_id")
    },
    "q_sim_semdedup" -> { (s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), SEM_STRIDE, COS_MIN)
        .orderBy("vec_id")
    },
    // Product-quantization encode: per-subspace nearest-codebook codes
    // + squared reconstruction error, long form.
    "q_sim_pq" -> { (s, d) =>
      Similarity.pqEncode(Tables.embeddings(s, d), PQ_STRIDE, PQ_M, DIM)
        .orderBy("vec_id", "sub_no")
    },
    // PQ asymmetric-distance retrieval: query-side distance tables ×
    // corpus codes — the serving path of a PQ index.
    "q_sim_pq_adc" -> { (s, d) =>
      Similarity.pqAdcTopK(Tables.embeddings(s, d), col("vec_id") % 100 === 0,
          TOPK, PQ_STRIDE, PQ_M, DIM)
        .orderBy("query_id", "rn")
    },
    // In-engine ANN index-quality evaluation: recall@k of the LSH index
    // against the exact brute-force ranking.
    "q_sim_recall" -> { (s, d) =>
      Similarity.annRecallReport(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, DIM)
        .orderBy("query_id")
    },
    // Contrastive-training data prep: mine ranks 2..k as negative
    // candidates per query, score each against the rank-1 POSITIVE, and
    // label false negatives (near-dups of the positive), hard negatives,
    // and easy negatives.
    "q_sim_hard_negatives" -> { (s, d) =>
      Similarity.hardNegativeMining(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, HARD_MIN, FN_MIN)
        .orderBy("query_id", "rn")
    },
    // Matryoshka truncation check: recall@k of half-dimension
    // (renormalized) retrieval vs the full-dim exact baseline - the
    // "can I store half the vector" gate before shrinking an index.
    "q_sim_truncation_recall" -> { (s, d) =>
      Similarity.truncationRecallReport(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, TRUNC_DIMS)
        .orderBy("query_id")
    },
    // Hard-negative mining from the IVF ANN index — the production
    // retrieval path (mine from the index the pipeline already built);
    // the exact miner q_sim_hard_negatives stays as its recall oracle
    // via q_sim_hn_recall below.
    "q_sim_hard_negatives_ann" -> { (s, d) =>
      Similarity.hardNegativeMiningIvf(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, NPROBE, CENT_STRIDE,
          HARD_MIN, FN_MIN)
        .orderBy("query_id", "rn")
    },
    // Graded serving scorecard of the IVF index: per-query MRR + nDCG@k
    // vs the exact ranking (rank-discounted quality, not just overlap).
    "q_sim_ranking_metrics" -> { (s, d) =>
      Similarity.rankingMetricsReport(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, NPROBE, CENT_STRIDE)
        .orderBy("query_id")
    },
    // Per-query recall of the index-mined negative candidate set
    // against the exact miner's — the trust gate for index mining.
    "q_sim_hn_recall" -> { (s, d) =>
      Similarity.hardNegativeRecallReport(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, NPROBE, CENT_STRIDE,
          HARD_MIN, FN_MIN)
        .orderBy("query_id")
    },
    // The Matryoshka serving decision row: truncation recall@k joined
    // with the explained-variance probe over the SAME embedding batch —
    // "how much retrieval quality do the kept dims buy, and how
    // concentrated is the variance they carry".
    "q_sim_trunc_explained" -> { (s, d) =>
      val rec = Similarity.truncationRecallReport(Tables.embeddings(s, d),
          col("vec_id") % 100 === 0, TOPK, TRUNC_DIMS)
        .agg(round(Num.dsum(col("recall")) / count(lit(1)), 6).as("avg_recall"))
      Similarity.pcaExplained(Tables.embeddings(s, d), PCA_ITERS, DIM)
        .crossJoin(broadcast(rec))
        .select(lit(TRUNC_DIMS.toLong).as("keep_dims"), col("avg_recall"),
          col("lambda"), col("total_var"), col("explained_ratio"))
    },
    // BM25 keyword retrieval: topical-slice extraction over the corpus.
    // Score rounded to 6 before ranking; global top-k via the bounded
    // tree-merge aggregator (no single-reducer window).
    "q_text_bm25" -> { (s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d), BM25_TERMS, BM25_K)
        .orderBy("rn")
    },
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 keyword
    // ranking and the exact-cosine vector ranking for one query.
    "q_sim_hybrid_rrf" -> { (s, d) =>
      Similarity.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
          BM25_TERMS, RRF_QVEC, BM25_K, RRF_C)
        .orderBy("rn")
    },
    // Johnson–Lindenstrauss random projection (the LSH hyperplanes as a
    // dense 16-dim projection) + cosine-distortion report over the
    // deterministic (vec_id, vec_id + step) pair sample.
    "q_sim_random_projection" -> { (s, d) =>
      Similarity.randomProjectionDistortion(Tables.embeddings(s, d),
          RP_STEP, RP_PLANES, DIM)
        .orderBy("vec_a")
    },
    // Corpus-drift report: per-lang smoothed KL divergence between the
    // even-doc_id and odd-doc_id snapshots (both directions).
    "q_text_kl_drift" -> { (s, d) =>
      TextAnalysis.klDrift(Tables.documents(s, d), pmod(col("doc_id"), lit(2L)) === 1)
        .orderBy("lang")
    },
    // Symmetric bounded drift score over the same snapshot split.
    "q_text_js_drift" -> { (s, d) =>
      TextAnalysis.jsDrift(Tables.documents(s, d), pmod(col("doc_id"), lit(2L)) === 1)
        .orderBy("lang")
    },
    "q_text_tokens" -> { (s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id")
    },
    "q_text_quality_filter" -> { (s, d) =>
      TextAnalysis.qualityFilter(Tables.documents(s, d), 10L, 200L, 0.25)
        .orderBy("doc_id")
    },
    "q_text_corpus_stats" -> { (s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).cast("long").as("total_ws_tokens"),
          sum(col("bpe_tokens")).cast("long").as("total_bpe_tokens"))
    },
    "q_text_langid" -> { (s, d) =>
      TextAnalysis.langId(Tables.documents(s, d)).orderBy("doc_id")
    },
    // Classifier evaluation: heuristic language-ID vs the labeled lang.
    "q_text_lang_confusion" -> { (s, d) =>
      TextAnalysis.langConfusion(Tables.documents(s, d))
    },
    "q_text_fingerprint" -> { (s, d) =>
      Poly31Hash.register(s)
      Tables.documents(s, d)
        .selectExpr("doc_id", "poly31(text) AS fp")
        .orderBy("doc_id")
    },
    // Winnowing (Schleimer/Wilkerson/Aiken 2003, MOSS): per-window
    // minimum of k-gram rolling hashes — the EXACT local-fingerprint
    // counterpart to the MinHash family (any shared ≥ w+k−1-word run
    // is guaranteed a shared fingerprint).
    "q_text_winnow" -> { (s, d) =>
      TextAnalysis.winnowFingerprints(docsWide(s, d), WIN_K, WIN_W)
        .orderBy("doc_id", "pos")
    },
    // The MOSS match report over the winnowed fingerprints: pairs
    // sharing ≥ WIN_SHARED selected fingerprints, boilerplate
    // fingerprints (> WIN_MAX_DF docs) dropped first.
    "q_text_winnow_pairs" -> { (s, d) =>
      TextAnalysis.winnowOverlapPairs(docsWide(s, d), WIN_K, WIN_W,
        WIN_SHARED, WIN_MAX_DF)
        .orderBy("doc_a", "doc_b")
    },
    "q_mm_decode" -> { (s, d) =>
      Multimodal.extractFeatures(s, Multimodal.packPayload(Tables.documents(s, d)))
        .toDF().orderBy("doc_id")
    },
    // REAL codec round trip: render deterministic PNG bytes with the
    // JDK's ImageIO, decode them back per partition, report metadata
    // measured from the decoded raster. The oracle replays the
    // fixture's closed-form pixel function — a wrong decode can't pass.
    "q_mm_decode_real" -> { (s, d) =>
      Multimodal.decodeImages(s, Multimodal.packImages(s, Tables.documents(s, d)))
        .toDF().orderBy("doc_id")
    },
    // Cross-modal alignment (the CLIP-filter shape): cosine of a
    // 16-bin decoded-raster gray histogram vs a 16-bin caption
    // word-length histogram, per (image, caption) pair, flag below the
    // floor. Integer count sums make the cosine deterministic.
    "q_mm_text_image_align" -> { (s, d) =>
      Multimodal.imageTextAlignment(s, Tables.documents(s, d),
        ALIGN_BINS, ALIGN_MIN)
    },
    // Frame sampling: 16-byte frames, keep every 4th — binary substring
    // plumbing with one generator per row, no UDF.
    "q_mm_frame_sample" -> { (s, d) =>
      Multimodal.sampleFrames(Multimodal.packPayload(Tables.documents(s, d)),
          FRAME_SIZE, FRAME_STRIDE)
        .orderBy("doc_id", "frame_no")
    },
    // "Resize": every-RESIZE_FACTOR-th-byte downsample via the typed
    // per-partition path (codec stand-in; plumbing is the production shape).
    "q_mm_resize" -> { (s, d) =>
      Multimodal.resizePayloads(s,
          Multimodal.packPayload(Tables.documents(s, d)), RESIZE_FACTOR)
        .toDF().orderBy("doc_id")
    },
    // REAL audio codec round trip: render deterministic 16-bit PCM as
    // actual RIFF/WAVE bytes (javax.sound.sampled), decode them back per
    // partition, report header metadata + integer signal statistics
    // measured from the decoded samples. Oracle replays the closed-form
    // sample function.
    "q_mm_audio_decode" -> { (s, d) =>
      Multimodal.decodeAudio(s, Multimodal.packAudio(s, Tables.documents(s, d)))
        .toDF().orderBy("doc_id")
    },
    // REAL multi-frame "video" decode: an animated GIF per doc (the one
    // multi-frame container the JDK both writes and reads), every frame
    // decoded back via ImageReader.read(i) with per-frame raster
    // metadata + pixel checksums the oracle replays closed-form — the
    // frame-extraction stage of a video curation pipeline.
    "q_mm_video_frames" -> { (s, d) =>
      Multimodal.decodeVideoFrames(s,
          Multimodal.packVideos(s, Tables.documents(s, d)))
        .toDF().orderBy("doc_id", "frame_no")
    },
    // Clip-level video near-dup from per-frame fingerprints: every
    // decoded GIF frame is aHashed (videoFrameHashes), and
    // Multimodal.videoNearDup counts cross-video frame pairs within
    // Hamming VID_HAMMING_MAX — pairwise over DISTINCT hashes only
    // (video frames repeat fingerprints massively), expanded through
    // per-(hash, video) frame counts straight into the video-pair
    // aggregate; threshold-exact (Hamming.selfPairs + diagonal),
    // verified against the oracle's all-pairs frame DEFINITION — the
    // "re-encoded / overlapping clip" detector a video curation
    // pipeline runs.
    "q_mm_video_neardup" -> { (s, d) =>
      Multimodal.videoNearDup(videoFrameHashFixture(s, d),
          VID_HAMMING_MAX, VID_MIN_FRAMES)
        .orderBy("video_a", "video_b")
    },
    // Ridge-logistic quality-classifier TRAINING (IRLS): distill the
    // Gopher pass rule into a 3-feature scoring model — coefficients +
    // train accuracy in one row; every round is one sufficient-
    // statistics aggregate + an in-engine Cramer solve.
    "q_m_logistic_quality" -> { (s, d) =>
      graft.operators.Classifier.logisticQuality(
        Tables.documents(s, d), LOGIT_ITERS, LOGIT_LAMBDA)
    },
    // The scoring half: apply the trained model corpus-wide — per-doc
    // quality score + keep/drop flag (what the curation pipeline ships
    // downstream). Scoring is one broadcast of the 1-row model.
    "q_m_logistic_score" -> { (s, d) =>
      graft.operators.Classifier.logisticQualityScore(
          Tables.documents(s, d), LOGIT_ITERS, LOGIT_LAMBDA, LOGIT_KEEP_MIN)
        .orderBy("doc_id")
    },
    // Operating-point selection: confusion table + precision/recall/F1
    // at thresholds 0.1..0.9 over the trained classifier's scores —
    // how LOGIT_KEEP_MIN gets chosen, as a decision table.
    "q_m_threshold_sweep" -> { (s, d) =>
      graft.operators.Classifier.thresholdSweep(
          Tables.documents(s, d), LOGIT_ITERS, LOGIT_LAMBDA,
          (1 to 9).map(_ / 10.0))
        .orderBy("thr")
    },
    // Per-source quality ranking with empirical-Bayes shrinkage: small
    // sources pulled toward the corpus rate by a pseudo-count prior.
    "q_text_source_quality_eb" -> { (s, d) =>
      TextAnalysis.sourceQualityEb(Tables.documents(s, d), EB_K)
        .orderBy("source")
    },
    // Image near-dup by 64-bit aHash over REAL decoded rasters,
    // threshold-EXACT blocking (Hamming.layout: pigeonhole or MIH),
    // exact-Hamming verified against the oracle's all-pairs DEFINITION.
    // The corpus plants brightness-shifted re-renders (doc_id % 5 == 0)
    // as the near-dups a crawl-scale image dedup must catch.
    "q_mm_image_neardup" -> { (s, d) =>
      Multimodal.imageNearDup(imageVariantHashFixture(s, d), IMG_HAMMING_MAX)
        .orderBy("img_a", "img_b")
    },
    // Cluster resolution over the image near-dup graph — the same
    // transitive-closure machinery the text dedup uses (union-find /
    // pointer-doubling fixpoint in Dedup.duplicateClusters), composed
    // with the multimodal pair source: pick one canonical image per
    // connected component of near-duplicates.
    "q_mm_image_clusters" -> { (s, d) =>
      val pairs = Multimodal.imageNearDup(
          imageVariantHashFixture(s, d), IMG_CLUSTER_HAMMING)
        .select(col("img_a").as("doc_a"), col("img_b").as("doc_b"))
      Dedup.duplicateClusters(pairs)
        .select(col("doc_id").as("img_id"), col("cluster_id"),
          col("is_canonical"))
        .orderBy("img_id")
    },
    // DCT perceptual-hash near-dup: the SAME banded near-dup machinery
    // (distinct-hash compression, MIH above the cutover) keyed on the
    // integer-DCT pHash, over the corpus its invariances exist for —
    // composite tilt+brightness+checkerboard corruptions where aHash
    // distances blow past any usable threshold (measured: aHash mean
    // 7.5/max 13 vs pHash ≤6). The integer DCT (fixed-point cosine
    // table, the JPEG discipline) makes every coefficient exact 64-bit
    // arithmetic, so the oracle's closed-form replay is bit-identical
    // by construction — no libm-ULP hostage at the median compare.
    "q_mm_phash_neardup" -> { (s, d) =>
      Multimodal.imageNearDup(corruptPHashFixture(s, d), PHASH_HAMMING_MAX)
        .orderBy("img_a", "img_b")
    },
    // The fingerprint DECISION row: under checkerboard noise (the
    // corruption where the two hashes genuinely diverge), how far does
    // each fingerprint move, and how often is the DCT hash strictly
    // closer? One keyed join per fingerprint + a global fold — the
    // measured basis for choosing the crawl-scale dedup key.
    "q_mm_phash_robustness" -> { (s, d) =>
      Multimodal.fingerprintRobustness(
        noisyAHashFixture(s, d), noisyPHashFixture(s, d))
    },
    // Incremental image dedup THROUGH the streaming-cadence machinery:
    // a prebuilt corpus aHash band index (the stream's long-lived
    // state — base images of every doc) probed by a "re-upload" batch
    // (brightness-shifted re-renders of every INC_REM-th doc) — the
    // exact per-micro-batch probe StreamOps.probeStream runs
    // inside foreachBatch (StreamingSpec proves staged-wave equality).
    // One row per new image: its best corpus match by exact Hamming.
    "q_st_image_neardup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pred = pmod(col("doc_id"), lit(INC_MOD)) === INC_REM
      // The corpus fingerprints come from the materialized fixture (a
      // streaming deployment builds its index from the stored hash
      // table, not by re-decoding the corpus); the BATCH side still
      // renders + hashes live — that is the per-ingest work.
      val idx = Multimodal.buildFingerprintIndex(
        baseImageHashFixture(s, d), IMG_HAMMING_MAX)
      val out = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.imageAHash(s,
          Multimodal.packReuploadImages(s, docs.filter(pred))).toDF(),
        idx)
      idx.release() // out is already checkpointed
      out.orderBy("img_new")
    },
    // SELF-ACCUMULATING KMV cardinality card (the batch face of
    // StreamOps.kmvCardinalityAccumStream): the corpus arrives in three
    // waves, each absorbed into the per-source trigram sketch; the
    // final card must equal a single-pass sketch over everything —
    // which is EXACTLY what the oracle computes, because KMV merge is
    // associative/commutative/idempotent (set union + k-min). The
    // oracle needs no wave replay at all: the row match IS the proof
    // that incremental absorb ≡ one-shot build. kth_hash is an exact
    // integer — the strongest possible gate on a sketch's internals.
    // SELF-ACCUMULATING DSIR selection (the batch face of
    // StreamOps.accumStream over the DSIR scorer): target histogram frozen on the
    // 'en' slice, raw histogram seeded on wave 0; wave 1 scores
    // against the seed then absorbs, wave 2 scores against seed ∪
    // wave 1 — the hash pins that wave 2's weights really reflect the
    // accumulated raw distribution, not the frozen seed.
    "q_st_dsir_accum" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      def wave(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
      val idx0 = TextAnalysis.buildDsirIndex(
        docs.filter(col("lang") === DSIR_TARGET), wave(0), DSIR_B)
      val s1 = graft.operators.Lifecycle.checkpoint(
        TextAnalysis.scoreAgainstDsirIndex(idx0, wave(1))
          .withColumn("wave", lit(1L)))
      val idx1 = idx0.absorb(wave(1))
      val s2 = TextAnalysis.scoreAgainstDsirIndex(idx1, wave(2))
        .withColumn("wave", lit(2L))
      val out = s1.unionByName(s2)
        .select(col("wave"), col("doc_id"), col("n_tokens"),
          col("dsir_score"), col("selected"))
        .orderBy("wave", "doc_id")
      Dedup.materializeThenRelease(out, idx1.legs: _*)
    },
    "q_st_kmv_accum" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      def wave(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
      val idx = TextAnalysis.buildKmvIndex(wave(0), KMV_K)
        .absorb(wave(1)).absorb(wave(2))
      val exact = TextAnalysis.sourceTrigrams(Tables.fanOut(docs))
        .groupBy("source").agg(count(lit(1)).as("n_exact"))
      val out = TextAnalysis.kmvCardinalityReport(idx)
        .join(exact, Seq("source"))
        .select(col("source"), col("n_exact"), col("sketch_n"),
          col("kth_hash"), col("est_distinct"),
          round(abs(col("est_distinct") - col("n_exact")) / col("n_exact"), 6)
            .as("rel_err"))
        .orderBy("source")
      Dedup.materializeThenRelease(out, idx.legs: _*)
    },
    // SELF-ACCUMULATING incremental text dedup (the batch face of
    // StreamOps.accumStream over the corpus probe): wave 1 re-arrivals carry
    // one appended tag pair, wave 2 re-arrivals carry wave 1's text
    // plus a second tag pair — so a wave-2 doc is STRICTLY closer to
    // its wave-1 sibling than to the corpus original, and only an
    // index that absorbed wave 1 can return the right best match.
    "q_st_dedup_accum" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pred = pmod(col("doc_id"), lit(INC_MOD)) === INC_REM
      val w1 = docs.filter(pred).select(
        (col("doc_id") + lit(WAVE)).as("doc_id"),
        concat(col("text"), lit(" zzwaveone tagone")).as("text"))
      val w2 = docs.filter(pred).select(
        (col("doc_id") + lit(2 * WAVE)).as("doc_id"),
        concat(col("text"),
          lit(" zzwaveone tagone zzwavetwo tagtwo")).as("text"))
      val idx = Dedup.buildCorpusIndex(Dedup.wordShingles(docs))
        .absorb(Dedup.wordShingles(w1))
      val out = Dedup.flagAgainstCorpusIndex(Dedup.wordShingles(w2), idx,
        JACCARD_MIN)
      idx.release() // out is already checkpointed
      out.orderBy("doc_new")
    },
    // SELF-ACCUMULATING incremental image dedup (the batch face of
    // StreamOps.accumStream over the fingerprint probe): the corpus index ABSORBS
    // wave 1's fingerprints before wave 2 probes, so wave-2 re-uploads
    // can best-match wave-1 uploads — the match a frozen index can
    // never produce (the media twin of the IVF absorb's defect class).
    "q_st_image_accum" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pred = pmod(col("doc_id"), lit(INC_MOD)) === INC_REM
      val idx = Multimodal.buildFingerprintIndex(baseImageHashWFixture(s, d), IMG_HAMMING_MAX)
        .absorb(Multimodal.imageAHash(s,
          Multimodal.packImageWave(s, docs.filter(pred), 1)).toDF())
      val out = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.imageAHash(s,
          Multimodal.packImageWave(s, docs.filter(pred), 2)).toDF(), idx)
      idx.release() // out is already checkpointed
      out.orderBy("img_new")
    },
    // Incremental AUDIO dedup THROUGH the streaming-cadence machinery
    // (the audio face of q_st_image_neardup, and the per-micro-batch
    // probe StreamOps.probeStream runs inside foreachBatch): a
    // prebuilt corpus fingerprint band index probed by "re-upload"
    // clips that are trimmed AND ×2-gained at once — the compounded
    // perturbation only the band-median fingerprint survives. One row
    // per new clip: best corpus match by exact Hamming.
    "q_st_audio_neardup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pred = pmod(col("doc_id"), lit(INC_MOD)) === INC_REM
      val idx = Multimodal.buildFingerprintIndex(
        audioBaseFingerprintFixture(s, d), AUD_HAMMING_MAX)
      val out = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.audioFingerprint(s,
          Multimodal.packReuploadAudio(s, docs.filter(pred))).toDF(),
        idx, idOut = "clip_new")
      idx.release() // out is already checkpointed
      out.select(col("clip_new"), col("best_match"), col("hamming"))
        .orderBy("clip_new")
    },
    // SELF-ACCUMULATING incremental audio dedup (the batch face of
    // StreamOps.accumStream over the fingerprint probe): the index absorbs wave 1
    // (trim-4 re-renders) before wave 2 (the same renders at ×2 gain)
    // probes — wave 2 matches wave 1 up to gain-invariance ties, while
    // both differ from the base clips by the trim, so only the
    // absorbed index returns the wave-1 siblings.
    "q_st_audio_accum" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val sel = docs.filter(pmod(col("doc_id"), lit(INC_MOD)) === INC_REM)
      val idx = Multimodal.buildFingerprintIndex(
          audioBaseFingerprintFixture(s, d), AUD_HAMMING_MAX)
        .absorb(Multimodal.audioFingerprint(s,
          Multimodal.packAudioWave(s, sel, 1)).toDF())
      val out = Multimodal.flagAgainstFingerprintIndex(
        Multimodal.audioFingerprint(s,
          Multimodal.packAudioWave(s, sel, 2)).toDF(), idx,
        idOut = "clip_new")
      idx.release() // out is already checkpointed
      out.select(col("clip_new"), col("best_match"), col("hamming"))
        .orderBy("clip_new")
    },
    // Audio near-dup by 64-bit content fingerprint over REAL decoded
    // PCM (band-energy signs vs the clip median — robust to the
    // planted leading-silence trims AND re-gains, decorrelated across
    // clips), through the SAME threshold-exact banded machinery as the
    // image/video paths.
    "q_mm_audio_neardup" -> { (s, d) =>
      Multimodal.imageNearDup(audioFingerprintFixture(s, d), AUD_HAMMING_MAX)
        .select(col("img_a").as("clip_a"), col("img_b").as("clip_b"),
          col("hamming"))
        .orderBy("clip_a", "clip_b")
    },
    // Audio-fingerprint ROBUSTNESS scorecard: measured precision/recall
    // of the near-dup threshold over a planted grid of trims (2- and
    // 6-frame), a saturating ×2-gain re-render, and the unrelated-clip
    // background — recall_trim measures the modeled perturbation,
    // recall_gain honestly measures the loudness-sum fingerprint's
    // gain sensitivity (≈0: normalize loudness before hashing if
    // gain-invariance is required).
    "q_mm_audio_neardup_quality" -> { (s, d) =>
      Multimodal.audioDedupQualityReport(
        audioGridFingerprintFixture(s, d), AUD_HAMMING_MAX)
    },
    // Tokenizer vocabulary coverage: freeze the top-VOCAB_V tokens by
    // corpus frequency (bounded heap top-k, broadcast) and report every
    // doc's OOV count/rate — the "will my tokenizer cover this corpus"
    // gate before a training run.
    "q_text_vocab_coverage" -> { (s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), VOCAB_V)
        .orderBy("doc_id")
    },

    // Unigram-LM quality score: the CCNet-style perplexity proxy —
    // corpus-fit add-one-smoothed unigram model, per-doc mean −ln p.
    "q_text_unigram_lm" -> { (s, d) =>
      TextAnalysis.unigramLmScore(Tables.documents(s, d)).orderBy("doc_id")
    },
    // CCNet perplexity bands: head/middle/tail tertiles of the LM
    // score, keep = not-tail. The global ntile is the documented
    // single-reducer exactness baseline (SCALE.md known trade-offs).
    "q_text_ppl_filter" -> { (s, d) =>
      TextAnalysis.pplBandFilter(Tables.documents(s, d)).orderBy("doc_id")
    },

    // Deterministic k-per-language sample in md5 order — the exact,
    // repartition-stable form of "give me k random docs per stratum"
    // (content-keyed, so re-runs and engine changes pick the SAME
    // rows). Plans through the native TopKPerGroupExec rank rewrite:
    // only k rows per group survive each partial, never a full sort.
    "q_text_sample_per_group" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("h",
          Hashing.md5Long(concat(lit("smp:"), col("doc_id").cast("string"))))
      Rank.perGroup(docs, Seq("lang"),
          Seq(col("h").asc, col("doc_id").asc), GRP_SAMPLE_K)
        .select(col("lang"), col("rn"), col("doc_id"), col("source"))
        .orderBy("lang", "rn")
    },

    // Misra–Gries heavy hitters over word trigrams (16k+ distinct grams
    // vs a 400-counter buffer — the eviction and merge paths genuinely
    // run). Half-gated like the other sketches: the top-N exact counts
    // hash-match the oracle, and the verdict column asserts the MG
    // theorems per row — est ≤ true (never overcounts) and
    // true − est ≤ 2n/K (bounded undercount) — which hold for ANY
    // partitioning/merge order, so the output is deterministic even
    // though the summary itself isn't. A buggy sketch (overcount, lost
    // mass beyond the bound) flips the verdict and fails the hash gate.
    "q_text_heavy_hitters" -> { (s, d) =>
      val grams = TextAnalysis.wordTrigrams(Tables.documents(s, d))
      val mg = udaf(new graft.functions.MisraGries(MG_K),
        org.apache.spark.sql.Encoders.STRING)
      val est = grams.agg(mg(col("gram")).as("mg"))
        .select(explode(col("mg")).as(Seq("gram", "mg_est")))
      val totals = grams.agg(count(lit(1)).as("n_total"))
      val top = Rank.global(grams.groupBy("gram").agg(count(lit(1)).as("n")),
        "n", "gram", HH_TOP, Rank.CountDescWordAsc)
      top.join(broadcast(est), Seq("gram"), "left")
        .crossJoin(broadcast(totals))
        .select(col("rn"), col("gram"), col("n"),
          ((coalesce(col("mg_est"), lit(0L)) <= col("n")) &&
            ((col("n") - coalesce(col("mg_est"), lit(0L))).cast("double") <=
              lit(2.0) * col("n_total") / MG_K)).cast("long")
            .as("mg_within_bound"))
        .orderBy("rn")
    }
  )

  // ---- oracle SQL generation (same constants as the Spark side) ----

  private val sh = Dedup.wordShinglesSql

  /** All-pairs shingle intersection sizes over the `sh` CTE — the
    * exact-jaccard numerator, as CTE `name(doc_a, doc_b, i)`. */
  private def shingleInterCte(name: String = "inter"): String =
    s"""$name AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** Exact Hamming distance between rows `a` and `b` over the given
    * packed words (default the 4×16-bit b0..b3 fingerprint): the sum
    * of per-word xor popcounts — the one SQL statement of it. */
  private def hammingSql(a: String, b: String,
                         words: Seq[String] = Seq("b0", "b1", "b2", "b3")): String =
    words.map(w => s"bit_count(xor($a.$w, $b.$w))").mkString(" + ")

  /** The 4×16-bit word pivot: one `key, b0..b3` row per key out of
    * `src`'s (key, `idx`, `v`) word rows; `fill0` reads an absent word
    * as 0. */
  private def wordPivotSql(key: String, src: String, idx: String = "band_idx",
                           v: String = "bval", fill0: Boolean = false): String = {
    val words = (0 until 4).map { k =>
      val m = s"max(CASE WHEN $idx = $k THEN $v END)"
      s"${if (fill0) s"coalesce($m, 0)" else m} AS b$k"
    }.mkString(", ")
    s"SELECT $key, $words FROM $src GROUP BY $key"
  }

  /** All-pairs exact Hamming CTE `name(<e>_a, <e>_b, hamming)` over the
    * fingerprint CTE `tbl(id, b0..b3)`, one row per id pair a < b (`e`
    * is `id` without its `_id`) — the near-dup DEFINITION the Spark
    * side's banded blocking prunes losslessly. */
  private def pairHammingCte(id: String, tbl: String = "h",
                             name: String = "ham"): String = {
    val e = id.stripSuffix("_id")
    s"""$name AS (
       |  SELECT ha.$id AS ${e}_a, hb.$id AS ${e}_b,
       |         CAST(${hammingSql("ha", "hb")} AS BIGINT) AS hamming
       |  FROM $tbl ha JOIN $tbl hb ON ha.$id < hb.$id)""".stripMargin
  }

  /** Best corpus match per new fingerprint of the `h(id, b0..b3)` CTE,
    * ending the query: all-pairs batch×corpus exact Hamming within
    * `maxHam` (`pairs` selects the (new `hn`, corpus `hc`) pairs) —
    * the DEFINITION the banded index probe is pigeonhole-lossless
    * over — then best = (min hamming, min id) as
    * (<e>_new, best_match, hamming). */
  private def bestHammingMatchSql(id: String, pairs: String, maxHam: Int): String = {
    val e = id.stripSuffix("_id")
    s"""xham AS (
       |  SELECT hn.$id AS ${e}_new, hc.$id AS ${e}_old,
       |         CAST(${hammingSql("hn", "hc")} AS BIGINT) AS hamming
       |  FROM h hn JOIN h hc ON $pairs
       |  WHERE ${hammingSql("hn", "hc")} <= $maxHam),
       |best AS (
       |  SELECT ${e}_new, ${e}_old AS best_match, hamming FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ${e}_new
       |                ORDER BY hamming ASC, ${e}_old ASC) AS rn
       |    FROM xham) WHERE rn = 1)
       |SELECT ${e}_new, best_match, hamming FROM best
       |ORDER BY ${e}_new""".stripMargin
  }

  /** Shingle → intersection → jaccard-pairs CTE chain ending in
    * `pairs(doc_a, doc_b)` (every pair at jaccard ≥ JACCARD_MIN). */
  private lazy val jaccardPairCtes =
    s"""sh AS ($sh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |${shingleInterCte()},
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |             JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(i / (sa.n + sb.n - i), 6) >= $JACCARD_MIN)""".stripMargin

  /** [[jaccardPairCtes]] → connected-component CTE chain ending in
    * `labels(doc_id, cluster_id)` — the shared body of the cluster and
    * canonical-resolution oracles (prefix with `WITH RECURSIVE`). */
  private lazy val clusterCtes =
    s"""$jaccardPairCtes,
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  /** The closed-form aHash chain (dims → 8×8 cells → mean-compare
    * bits → 16-bit words → `h`) over an `imgs(img_id, doc_id, delta)`
    * CTE already in scope — shared by the near-dup, cluster and
    * streaming corpus-probe oracles, which then state the DEFINITION
    * (all-pairs exact Hamming, every pair within threshold). The Spark
    * side's threshold-derived blocking (Hamming.layout) is a LOSSLESS
    * candidate pruning of the same result, so a recall-losing layout
    * hash-fails here. The hash mirrors
    * Multimodal.{packImageVariants,imageAHash}, which measure the same
    * quantities from rasters DECODED by ImageIO. */
  private lazy val imageHashCtes =
    s"""dims AS (SELECT img_id, doc_id, delta,
       |                8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM imgs),
       |cells AS (
       |  SELECT img_id, gy * 8 + gx AS cell,
       |         (doc_id + delta + 31 * ((gx * w) // 8) + 7 * ((gy * h) // 8)) % 256 AS gray
       |  FROM dims, unnest(range(0, 8)) tx(gx), unnest(range(0, 8)) ty(gy)),
       |$aHashFromCellsCtes""".stripMargin

  /** The aHash bits over a `cells(img_id, cell, gray)` CTE already in
    * scope (the 8×8 downsampled grid): bit = 64·gray > Σgray (the
    * integer-exact mean compare) → 16-bit words → `h(img_id, b0..b3)`. */
  private lazy val aHashFromCellsCtes =
    s"""tot AS (SELECT img_id, sum(gray) AS total FROM cells GROUP BY img_id),
       |bands AS (
       |  SELECT c.img_id, c.cell // 16 AS band_idx,
       |         CAST(sum(CASE WHEN 64 * c.gray > t.total
       |                       THEN 1 << CAST(c.cell % 16 AS INT) ELSE 0 END)
       |              AS BIGINT) AS bval
       |  FROM cells c JOIN tot t USING (img_id)
       |  GROUP BY c.img_id, c.cell // 16),
       |h AS (${wordPivotSql("img_id", "bands")})""".stripMargin

  /** Closed-form replay of [[Multimodal.audioFingerprint]] over an
    * `aud(clip_id, doc_id, sil, g)` CTE already in scope — leading
    * silence frames and gain per clip; channel and frame counts follow
    * doc_id as in the fixture packers (structured render: block
    * amplitude `AudioFixture.ampAt`, alternating sign, leading-silence
    * zeroing, saturating gain):
    * per-frame loudness → 64 contiguous bands (band of frame f =
    * 64f//nf) → lcm-normalized band energy → bit = above the clip's
    * lower-median band under (norm, w) lex order → 4×16-bit words
    * `h(clip_id, b0..b3)`. Assumes nf ≥ 64 (every band non-empty, as
    * both fixture packers guarantee), mirroring the Scala guard. */
  private lazy val audioHashCtes =
    s"""prm AS (SELECT clip_id, doc_id, sil, g,
       |               1 + doc_id % 2 AS nc, 64 + doc_id % 33 AS nf FROM aud),
       |fr AS (SELECT clip_id, f, max(nf) AS nf,
       |              sum(abs(CASE WHEN f < sil THEN 0
       |                   ELSE LEAST(GREATEST(g
       |                     * (CASE WHEN (f + c) % 2 = 0 THEN 1 ELSE -1 END)
       |                     * (((doc_id + 131) * ((f // 4) + 17)
       |                         * (doc_id + (f // 4) * 127 + 29)) % 20000 + 2048),
       |                     -32768), 32767) END)) AS loud
       |       FROM prm, unnest(range(0, nf)) tf(f), unnest(range(0, nc)) tc(c)
       |       GROUP BY clip_id, f),
       |bb AS (SELECT clip_id, (64 * f) // nf AS w, max(nf) AS nf,
       |              sum(loud) AS bsum, count(*) AS cnt
       |       FROM fr GROUP BY clip_id, (64 * f) // nf),
       |rk AS (SELECT clip_id, w,
       |              bsum * (((nf // 64) * (nf // 64 + 1)) // cnt) AS norm,
       |              row_number() OVER (PARTITION BY clip_id
       |                                 ORDER BY bsum * (((nf // 64)
       |                                   * (nf // 64 + 1)) // cnt), w) AS rn
       |       FROM bb),
       |med AS (SELECT clip_id, norm AS mv, w AS mw FROM rk WHERE rn = 32),
       |fb AS (SELECT r.clip_id, r.w // 16 AS band_idx,
       |              CAST(sum(CASE WHEN r.norm > m.mv
       |                              OR (r.norm = m.mv AND r.w > m.mw)
       |                            THEN 1 << CAST(r.w % 16 AS INT) ELSE 0 END)
       |                   AS BIGINT) AS bval
       |       FROM rk r JOIN med m ON r.clip_id = m.clip_id
       |       GROUP BY r.clip_id, r.w // 16),
       |h AS (${wordPivotSql("clip_id", "fb")})""".stripMargin

  private lazy val imageHamCtes =
    s"""imgs AS (
       |  SELECT doc_id * 2 AS img_id, doc_id, 0 AS delta FROM documents
       |  UNION ALL
       |  SELECT doc_id * 2 + 1, doc_id, 1 FROM documents WHERE doc_id % 5 = 0),
       |$imageHashCtes,
       |${pairHammingCte("img_id")}""".stripMargin

  /** Closed-form replay of [[Multimodal.imagePHash]] (2×2 box sum +
    * integer DCT) over a `pxsrc(img_id, w, h, x, y, gray)` CTE already
    * in scope → `ph(img_id, b0..b3)`. Every step is exact integer
    * arithmetic: the fixed-point cosine table floor(cos·10⁴+0.5) is
    * the ONLY float touchpoint, and its argument space is finite and
    * fully exercised at sf0.01 (box-filtered dims w∈7..15, h∈7..13,
    * u,v<8 — doc_id mod cycles cover every combination), so a green
    * check at sf0.01 proves the cross-engine table identical for EVERY
    * scale factor. Median of the 63 AC coefficients is an element (odd
    * count) and the strict > compare is integer — deterministic both
    * sides. */
  private lazy val phashFromPxCtes =
    s"""sm AS (SELECT a.img_id, a.w - 1 AS w, a.h - 1 AS h, a.x, a.y,
       |              a.gray + b.gray + c.gray + d2.gray AS gray
       |       FROM pxsrc a
       |       JOIN pxsrc b ON b.img_id = a.img_id AND b.x = a.x + 1 AND b.y = a.y
       |       JOIN pxsrc c ON c.img_id = a.img_id AND c.x = a.x AND c.y = a.y + 1
       |       JOIN pxsrc d2 ON d2.img_id = a.img_id AND d2.x = a.x + 1
       |                    AND d2.y = a.y + 1
       |       WHERE a.x < a.w - 1 AND a.y < a.h - 1),
       |co AS (SELECT img_id, tu.u AS u, tv.v AS v,
       |              CAST(sum(gray
       |                * CAST(floor(cos(pi() * (2 * x + 1) * tu.u / (2.0 * w))
       |                             * 10000 + 0.5) AS BIGINT)
       |                * CAST(floor(cos(pi() * (2 * y + 1) * tv.v / (2.0 * h))
       |                             * 10000 + 0.5) AS BIGINT))
       |                   AS BIGINT) AS coef
       |       FROM sm, unnest(range(0, 8)) tu(u), unnest(range(0, 8)) tv(v)
       |       GROUP BY img_id, tu.u, tv.v),
       |pac AS (SELECT img_id, u * 8 + v - 1 AS bit, coef FROM co
       |        WHERE NOT (u = 0 AND v = 0)),
       |pmed AS (SELECT img_id, median(coef) AS med FROM pac GROUP BY img_id),
       |pbit AS (SELECT a.img_id, a.bit // 16 AS band_idx,
       |                CAST(sum(CASE WHEN a.coef > m.med
       |                         THEN 1 << CAST(a.bit % 16 AS INT) ELSE 0 END)
       |                     AS BIGINT) AS bval
       |         FROM pac a JOIN pmed m USING (img_id)
       |         GROUP BY a.img_id, a.bit // 16),
       |ph AS (${wordPivotSql("img_id", "pbit", fill0 = true)})""".stripMargin

  private val jaccardTail =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
       |SELECT doc_a, doc_b, round(i / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |           JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE round(i / (sa.n + sb.n - i), 6) >= $JACCARD_MIN
       |ORDER BY doc_a, doc_b""".stripMargin

  /** sh → signature → 4×4 band CTEs shared by the all-pairs and the
    * incremental (batch-vs-corpus) MinHash oracles; `shSql` is the
    * shingle query (over `documents` by default, or a synthesized
    * corpus ∪ wave union for the accumulating-index oracle);
    * `materializeSigs` marks `sigs` AS MATERIALIZED for oracles that
    * read it many times. */
  private def minhashBandCtesFrom(shSql: String,
                                  materializeSigs: Boolean = false): String = {
    val m = Hashing.M
    val minCols = Hashing.minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $m) AS m$i"
    }.mkString(",\n       ")
    val bandSelects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"m${4 * j + r}").mkString(", ")
      s"SELECT doc_id, $j AS band, concat_ws('_', $cols) AS bv FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh AS ($shSql),
       |hs AS (SELECT doc_id, ${Hashing.md5ModSql("shingle")} AS h FROM sh),
       |sigs AS ${if (materializeSigs) "MATERIALIZED " else ""}(SELECT doc_id,
       |       $minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  private val minhashBandCtes: String = minhashBandCtesFrom(sh)

  /** IVF staleness-report oracle (the closed-form ivfReassign replay),
    * parameterized on the centroid-seed predicate and the old/new
    * vector-set predicates — shared by the frozen-index report and the
    * accumulating-index face (where "old" is corpus ∪ absorbed waves:
    * decimal sim sums add exactly, so absorb-then-report over the
    * union is the same arithmetic). */
  private def ivfReassignSql(centPred: String, oldPred: String,
                             newPred: String): String =
    s"""WITH $normalizedCte,
       |rc AS (SELECT vec_id AS cid, v AS cv FROM e
       |       WHERE $centPred
       |         AND vec_id % $CENT_STRIDE = 0),
       |rs AS (SELECT e.vec_id, cid, ${dotSql("v", "cv")} AS cd FROM e, rc),
       |ra AS (SELECT vec_id, cid, cd,
       |              row_number() OVER (PARTITION BY vec_id
       |                   ORDER BY cd DESC, cid ASC) AS crn
       |       FROM rs),
       |r1 AS (SELECT vec_id, cid, round(cd, 6) AS cd FROM ra WHERE crn = 1),
       |rold AS (SELECT cid, CAST(count(*) AS BIGINT) AS old_size,
       |                round(${Num.dsumSql("cd")} / count(*), 6) AS mean_sim_old
       |         FROM r1 WHERE $oldPred GROUP BY cid),
       |rnew AS (SELECT cid, CAST(count(*) AS BIGINT) AS added,
       |                round(${Num.dsumSql("cd")} / count(*), 6) AS mean_sim_new
       |         FROM r1 WHERE $newPred GROUP BY cid)
       |SELECT cid,
       |       coalesce(old_size, 0) AS old_size,
       |       coalesce(added, 0) AS added,
       |       coalesce(old_size, 0) + coalesce(added, 0) AS new_size,
       |       CASE WHEN coalesce(old_size, 0) > 0
       |            THEN round(coalesce(added, 0) / old_size, 6) END AS growth,
       |       mean_sim_old, mean_sim_new
       |FROM rold FULL OUTER JOIN rnew USING (cid) ORDER BY cid""".stripMargin

  /** Batch-vs-corpus incremental dedup oracle tail, parameterized on
    * the leading CTEs (optionally a synthesized-corpus prefix before
    * the band CTEs) and the new/old band-split predicates — shared by
    * the one-shot, streaming-cadence, and accumulating-index faces. */
  private def incrementalDedupSqlFrom(prefix: String, bandCtes: String,
                                      newPred: String, oldPred: String): String =
    s"""WITH $prefix$bandCtes,
       |newb AS (SELECT * FROM bands WHERE $newPred),
       |oldb AS (SELECT * FROM bands WHERE $oldPred),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       |  FROM newb n JOIN oldb o ON n.band = o.band AND n.bv = o.bv),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_new, c.doc_old, count(*) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_new
       |  JOIN sh b ON b.doc_id = c.doc_old AND b.shingle = a.shingle
       |  GROUP BY c.doc_new, c.doc_old),
       |j AS (
       |  SELECT doc_new, doc_old, round(i / (sa.n + sb.n - i), 6) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = doc_new
       |             JOIN sizes sb ON sb.doc_id = doc_old
       |  WHERE round(i / (sa.n + sb.n - i), 6) >= $JACCARD_MIN),
       |r AS (
       |  SELECT doc_new, doc_old, jaccard,
       |         row_number() OVER (PARTITION BY doc_new
       |                            ORDER BY jaccard DESC, doc_old ASC) AS rn
       |  FROM j)
       |SELECT doc_new, doc_old AS best_match, jaccard
       |FROM r WHERE rn = 1 ORDER BY doc_new""".stripMargin

  /** Batch-vs-corpus incremental dedup oracle — shared verbatim by
    * `q_dedup_incremental` (one-shot operator) and
    * `q_st_dedup_incremental` (prebuilt-index / streaming-cadence
    * path): the two execution strategies must agree row for row. */
  private val incrementalDedupSql: String = incrementalDedupSqlFrom(
    "", minhashBandCtes,
    s"doc_id % $INC_MOD = $INC_REM", s"doc_id % $INC_MOD <> $INC_REM")

  /** Self-accumulating text dedup oracle: synthesize corpus ∪ wave 1
    * ∪ wave 2, band the UNION, and flag wave 2 (doc_id ≥ 2e6) against
    * corpus ∪ wave 1 — exactly what an index that ABSORBED wave 1
    * sees. Because a wave-2 doc shares wave 1's appended tag shingles,
    * its best match is its wave-1 sibling, which only the absorbed
    * index (not a frozen one) can return. */
  private val accumDedupSql: String = incrementalDedupSqlFrom(
    s"""corpus_u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $WAVE, text || ' zzwaveone tagone'
       |  FROM documents WHERE doc_id % $INC_MOD = $INC_REM
       |  UNION ALL
       |  SELECT doc_id + ${2 * WAVE}, text || ' zzwaveone tagone zzwavetwo tagtwo'
       |  FROM documents WHERE doc_id % $INC_MOD = $INC_REM),
       |""".stripMargin,
    minhashBandCtesFrom(Dedup.wordShinglesSqlFrom("corpus_u")),
    s"doc_id >= ${2 * WAVE}", s"doc_id < ${2 * WAVE}")

  private val minhashSql: String = {
    s"""WITH $minhashBandCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY c.doc_a, c.doc_b),
       |$jaccardTail""".stripMargin
  }

  /** The simhash oracle states the all-pairs DEFINITION (every doc
    * pair within HAMMING_MAX), so a recall-losing blocking layout on
    * the Spark side hash-fails here. */
  private val simhashSql: String = {
    val sums = (0 until 60).map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS s$j")
      .mkString(",\n       ")
    val sig = (0 until 60).map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, ${Hashing.md5LongSql("w")} AS h FROM w),
       |sums AS (SELECT doc_id,
       |       $sums
       |  FROM h GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM sums)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |       CAST(${hammingSql("x", "y", Seq("simhash"))} AS BIGINT) AS hamming
       |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |WHERE ${hammingSql("x", "y", Seq("simhash"))} <= $HAMMING_MAX
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The [[graft.functions.Poly31Hash]] rolling hash replayed in
    * DuckDB (ASCII text: `unicode` per char == UTF-16 code unit). */
  private def poly31Sql(e: String): String =
    s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(range(1, len($e) + 1),
       |                           i -> unicode(substr($e, CAST(i AS INT), 1)))),
       |            (a, b) -> (a * 31 + b) % ${Poly31Hash.P}) AS BIGINT)"""
      .stripMargin

  /** Winnowing CTEs shared by the fingerprint and pair oracles: word
    * k-grams → poly31 per gram → every FULL window's (min hash,
    * leftmost pos), exactly `TextAnalysis.winnowFingerprints`. */
  private lazy val winnowCtes: String =
    s"""wtok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |wg0 AS (
       |  SELECT doc_id, CAST(len(t) - $WIN_K + 1 AS BIGINT) AS n_grams, t
       |  FROM wtok WHERE len(t) - $WIN_K + 1 >= $WIN_W),
       |wgrams AS (
       |  SELECT doc_id, n_grams, CAST(i AS BIGINT) AS pos,
       |         array_to_string(
       |           t[CAST(i + 1 AS INT):CAST(i + $WIN_K AS INT)], ' ') AS gram
       |  FROM wg0, UNNEST(generate_series(0, n_grams - 1)) AS u(i)),
       |wgh AS (SELECT doc_id, n_grams, pos, ${poly31Sql("gram")} AS h
       |        FROM wgrams),
       |wwins AS (
       |  SELECT doc_id, ws, min(h) AS mh
       |  FROM wgh, UNNEST(generate_series(greatest(pos - $WIN_W + 1, 0),
       |                                   least(pos, n_grams - $WIN_W))) AS u(ws)
       |  GROUP BY doc_id, ws),
       |winsel AS (
       |  SELECT w.doc_id, w.ws, w.mh, min(g.pos) AS pos
       |  FROM wwins w JOIN wgh g ON g.doc_id = w.doc_id AND g.h = w.mh
       |       AND g.pos BETWEEN w.ws AND w.ws + $WIN_W - 1
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Sequential left-fold dot product from 0.0 — matches the native
    * DotProduct expression exactly (same IEEE addition order). */
  private def dotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($x) + 1), i -> $x[i] * $y[i])), (p, q) -> p + q)"

  /** L2-normalized vectors CTE — mirrors Similarity.normalized (divide
    * each element by sqrt(self-dot), then plain dot = cosine). `where`
    * lets the exact-baseline oracle apply the same vec_id cap the Spark
    * side does before normalization. */
  private def normalizedCteWhere(where: String): String =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings$where),
       |${l2NormCte("e", "e0")}""".stripMargin

  /** `xs` divided element-wise by sqrt(self-dot): the one statement of
    * L2 normalization (Similarity.normalized). */
  private def l2NormSql(xs: String): String =
    s"list_transform($xs, x -> x / sqrt(${dotSql(xs, xs)}))"

  /** CTE `name(vec_id, v)`: `src`'s `raw` vectors L2-normalized. */
  private def l2NormCte(name: String, src: String): String =
    s"$name AS (SELECT vec_id, ${l2NormSql("raw")} AS v FROM $src)"

  private val normalizedCte = normalizedCteWhere("")

  /** One neighbor-mix step over a DOUBLE[] column — the wave synthesis
    * of `q_st_embed_accum`: out[p] = c[p] + 0.25·c[(p mod D)+1]
    * (1-based, rolled). Mirrors the Spark `transform(embedding,
    * (x, i) -> x + 0.25D * element_at(embedding, ((i+1) % D) + 1))`
    * exactly (0.25 is an exact double; one multiply + one add per
    * element, same IEEE order). */
  private def mixSql(c: String): String =
    s"list_transform(range(1, ${DIM + 1}), p -> " +
      s"$c[CAST(p AS INT)] + 0.25 * $c[CAST((p % $DIM) + 1 AS INT)])"

  /** The replay of `mixedWaves`: `m1(vec_id, raw)` is one mix step of
    * every INC_REM-th vector, `m2` two, both with the corpus vec_id
    * (each oracle adds its wave label). */
  private lazy val mixWaveCtes: String =
    s"""mb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
       |       FROM embeddings WHERE vec_id % $INC_MOD = $INC_REM),
       |m1 AS (SELECT vec_id, ${mixSql("raw")} AS raw FROM mb),
       |m2 AS (SELECT vec_id, ${mixSql("raw")} AS raw FROM m1)""".stripMargin

  /** The 64 seeded sign-sketch hyperplanes as the `planes64(p_id, p)`
    * CTE — one literalization for every sketch oracle. */
  private lazy val planes64Cte: String =
    s"""planes64(p_id, p) AS (VALUES
       |    ${planesValuesSql(Similarity.hyperplanes(64, DIM))})""".stripMargin

  /** 64-bit sign sketches of the normalized vectors in CTE `src(vec_id,
    * v)` as CTE `name(vec_id, b0..b3)` — plane p sets bit p % 16 of
    * word p / 16 when the fold-dot is positive (Similarity's sketch) —
    * via the helper CTE `<name>w`. Expects [[planes64Cte]] in scope. */
  private def signSketchCtes(name: String, src: String): String =
    s"""${name}w AS (
       |  SELECT vec_id, CAST(p_id // 16 AS INT) AS w,
       |         CAST(sum(CASE WHEN ${dotSql("v", "p")} > 0
       |                       THEN (CAST(1 AS BIGINT) << (p_id % 16))
       |                       ELSE 0 END) AS BIGINT) AS wv
       |  FROM $src, planes64 GROUP BY 1, 2),
       |$name AS (${wordPivotSql("vec_id", s"${name}w", "w", "wv")})""".stripMargin

  /** Power-iteration CTE chain shared by the pca_power and
    * pca_explained oracles: normalized vectors → exploded (vec_id, pos,
    * val) → rounded-mean-centered matrix `c` → PCA_ITERS iterations →
    * final projections `df` → Rayleigh eigenvalue `l`. */
  private val pcaCtes: String = {
    def iterCtes(i: Int): String =
      s"""d$i AS (SELECT vec_id, ${Num.dsumSql("cv * w")} AS d
         |        FROM c JOIN v${i - 1} USING (pos) GROUP BY vec_id),
         |u$i AS (SELECT pos, ${Num.dsumSql("cv * d")} AS u
         |        FROM c JOIN d$i USING (vec_id) GROUP BY pos),
         |n$i AS (SELECT sqrt(${Num.dsumSql("u * u")}) AS norm FROM u$i),
         |v$i AS (SELECT pos, round(u / norm, 6) AS w FROM u$i, n$i)""".stripMargin
    val iterations = (1 to PCA_ITERS).map(iterCtes).mkString(",\n")
    s"""$normalizedCte,
       |ev AS (SELECT vec_id, CAST(t.pos AS BIGINT) AS pos,
       |              v[CAST(t.pos AS INT)] AS val
       |       FROM e, unnest(range(1, ${DIM + 1})) t(pos)),
       |mm AS (SELECT pos, round(${Num.dsumSql("val")} / count(*), 6) AS m
       |       FROM ev GROUP BY pos),
       |c AS (SELECT vec_id, ev.pos, val - m AS cv FROM ev JOIN mm USING (pos)),
       |v0 AS (SELECT CAST(t.pos AS BIGINT) AS pos, ${1.0 / math.sqrt(DIM)} AS w
       |       FROM unnest(range(1, ${DIM + 1})) t(pos)),
       |$iterations,
       |df AS (SELECT vec_id, ${Num.dsumSql("cv * w")} AS d
       |       FROM c JOIN v$PCA_ITERS USING (pos) GROUP BY vec_id),
       |l AS (SELECT round(${Num.dsumSql("d * d")} / count(*), 6) AS lambda FROM df)""".stripMargin
  }


  /** Shared CTE chain for the exact-substring span-dedup oracles —
    * mirrors [[TextAnalysis.dupGramHits]]/[[TextAnalysis.dupSpans]]:
    * 0-based gram starts over the space-split words, md5'd gram text,
    * distinct-doc df gate, and the gaps-and-islands merge (break when
    * the gap between duplicated starts exceeds SPAN_N). */
  private val dupSpanCtes: String =
    s"""wsd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS start_i,
       |             md5(array_to_string(ws[CAST(i AS INT):CAST(i + ${SPAN_N - 1} AS INT)], ' ')) AS gh
       |      FROM wsd, unnest(range(1, len(ws) - $SPAN_N + 2)) t(i)),
       |dup AS (SELECT gh FROM g GROUP BY gh
       |        HAVING count(DISTINCT doc_id) >= $SPAN_MIN_DOCS),
       |hits AS (SELECT doc_id, start_i FROM g JOIN dup USING (gh)),
       |brks AS (SELECT doc_id, start_i,
       |               CASE WHEN start_i - lag(start_i) OVER (PARTITION BY doc_id ORDER BY start_i) <= $SPAN_N
       |                    THEN 0 ELSE 1 END AS brk
       |        FROM hits),
       |isl AS (SELECT doc_id, start_i,
       |               sum(brk) OVER (PARTITION BY doc_id ORDER BY start_i
       |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_no
       |        FROM brks)""".stripMargin

  /** Hyperplane-LSH CTEs shared by the embedding-LSH dedup and ANN
    * oracles: the SAME seeded hyperplanes as
    * [[Similarity.hyperplanes]] embedded as literals, signatures via the
    * same sequential-fold dot product (identical IEEE arithmetic → the
    * sign test branches identically on both engines), banded 4×4 bits
    * exactly like [[Similarity.bandedIds]]. Expects the `e` CTE
    * (normalized vectors) to be in scope. */
  /** One plane-matrix VALUES row per hyperplane — ONE literalization
    * shared by the LSH band oracles and the JL projection oracle, so
    * the embedded doubles cannot drift between them. */
  private def planesValuesSql(planes: Array[Array[Double]]): String =
    planes.zipWithIndex
      .map { case (p, i) => s"($i, ${p.mkString("[", ", ", "]")}::DOUBLE[])" }
      .mkString(",\n    ")

  /** BM25 CTE chain ending in the ranked CTE `br` (rn over score DESC,
    * doc_id ASC) — mirrors [[TextAnalysis.bm25TopK]]; shared by the
    * standalone BM25 oracle and the hybrid-RRF fusion oracle. CTE names
    * are disjoint from the normalized-vector chain so both can sit in
    * one WITH clause. */
  private lazy val bm25RankedCtes: String = {
    val inList = BM25_TERMS.map(t => s"'$t'").mkString(", ")
    s"""dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |            FROM documents),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
       |       FROM documents),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
       |       WHERE word IN ($inList) GROUP BY doc_id, word),
       |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |bsc AS (SELECT doc_id,
       |             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |               (tf * (${TextAnalysis.Bm25K1} + 1.0)) /
       |               (tf + ${TextAnalysis.Bm25K1} * (1.0 - ${TextAnalysis.Bm25B} +
       |                ${TextAnalysis.Bm25B} * dl / avgdl)) AS term_score
       |      FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), st),
       |bg AS (SELECT doc_id, round(${Num.dsumSql("term_score")}, 6) AS score
       |      FROM bsc GROUP BY doc_id),
       |br AS (SELECT doc_id, score,
       |             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn
       |      FROM bg)""".stripMargin
  }

  private val lshCtes: String = {
    val planeVals = planesValuesSql(Similarity.hyperplanes(16, DIM))
    s"""planes(p_id, p) AS (VALUES
       |    $planeVals),
       |sigs AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN ${dotSql("v", "p")} > 0
       |                       THEN (CAST(1 AS BIGINT) << p_id) ELSE 0 END)
       |              AS BIGINT) AS sig
       |  FROM e, planes GROUP BY vec_id),
       |bands AS (
       |  SELECT vec_id, c, (sig >> (4 * c)) & 15 AS cv
       |  FROM sigs, (VALUES (0), (1), (2), (3)) t(c))""".stripMargin
  }

  /** Best corpus match per new vector, ending the query: the banded
    * candidates of [[lshCtes]] whose (new `x`, corpus `y`) rows `pairs`
    * selects, exact cosine over `e`, best = (max cosine, min vec_id)
    * among cosine ≥ COS_MIN, as (vec_new, best_match, cosine). The band
    * join is the execution strategy; the cosine tail states the
    * semantics. */
  private def embedBestMatchSql(pairs: String): String =
    s"""cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_new, y.vec_id AS vec_old
       |  FROM bands x JOIN bands y ON x.c = y.c AND x.cv = y.cv
       |  WHERE $pairs),
       |s AS (SELECT vec_new, vec_old,
       |             round(${dotSql("a.v", "b.v")}, 6) AS cosine
       |      FROM cand JOIN e a ON a.vec_id = vec_new
       |                JOIN e b ON b.vec_id = vec_old),
       |r AS (SELECT vec_new, vec_old, cosine,
       |             row_number() OVER (PARTITION BY vec_new
       |                  ORDER BY cosine DESC, vec_old ASC) AS rn
       |      FROM s WHERE cosine >= $COS_MIN)
       |SELECT vec_new, vec_old AS best_match, cosine FROM r
       |WHERE rn = 1 ORDER BY vec_new""".stripMargin

  /** Per-source distinct word trigrams `w(source, word)`, their md5
    * hashes `hw(source, h)` and per-source hash ranks `rk(source, h,
    * rn)` — the KMV sketch input of the overlap and cardinality
    * oracles. */
  private lazy val kmvRankCtes: String =
    s"""w AS (
       |  SELECT DISTINCT source,
       |         ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS word
       |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents) t,
       |       unnest(range(1, len(ws) - 1)) ti(i)),
       |hw AS (SELECT DISTINCT source,
       |              ${Hashing.md5LongSql("word")} AS h
       |       FROM w),
       |rk AS (SELECT source, h,
       |              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |       FROM hw)""".stripMargin

  /** Exact decontamination: every non-benchmark doc sharing ≥
    * MIN_SHARED shingles with the every-BENCH_MOD-th "benchmark" docs,
    * with its shared count (`extraCols` follows it). */
  private def decontamSql(extraCols: String): String =
    s"""WITH sh AS ($sh),
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $BENCH_MOD = 0),
       |corpus AS (SELECT * FROM sh WHERE doc_id % $BENCH_MOD <> 0)
       |SELECT doc_id, count(*) AS shared_shingles$extraCols
       |FROM corpus JOIN bench USING (shingle)
       |GROUP BY doc_id HAVING count(*) >= $MIN_SHARED
       |ORDER BY doc_id""".stripMargin

  /** doc → (lang, shard, n_words, seq_no) packing CTEs shared by the
    * assignment and materialization oracles (ends in CTE `p`). */
  private val seqPackCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |         (${Hashing.md5ModSql("CAST(doc_id AS VARCHAR)")} % $SHARDS) AS shard
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, shard, n_words,
       |         sum(n_words) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t),
       |p AS (
       |  SELECT doc_id, lang, shard, n_words,
       |         CAST(floor((cum - n_words) / $SEQ_LEN.0) AS BIGINT) AS seq_no
       |  FROM c)""".stripMargin

  /** Subspace slicing → data-seeded codebooks → rounded squared-L2
    * distance table (`sc`) → per-(vector, subspace) argmin ranking
    * (`pqr`) shared by the PQ-encode and PQ-ADC oracles — one spelling
    * of the distance arithmetic for both (expects the `e` CTE). */
  private lazy val pqCtes: String = {
    val sub = DIM / PQ_M
    def slices(src: String, id: String, idAs: String): String =
      s"""SELECT $id AS $idAs, CAST(t.s AS BIGINT) AS sub_no,
         |       ws_v[CAST(t.s * $sub + 1 AS INT):CAST(t.s * $sub + $sub AS INT)] AS sv
         |FROM (SELECT $id, v AS ws_v FROM $src) z, unnest(range(0, $PQ_M)) t(s)""".stripMargin
    s"""cb0 AS (SELECT vec_id, v FROM e WHERE vec_id % $PQ_STRIDE = 0),
       |ex AS (${slices("e", "vec_id", "vec_id")}),
       |cx AS (SELECT cid, sub_no, sv AS cv FROM (${slices("cb0", "vec_id", "cid")}) q),
       |sc AS (SELECT vec_id, sub_no, cid,
       |              round(${dotSql("sv", "sv")} + ${dotSql("cv", "cv")}
       |                    - 2 * ${dotSql("sv", "cv")}, 6) AS d
       |       FROM ex JOIN cx USING (sub_no)),
       |pqr AS (SELECT vec_id, sub_no, cid, d,
       |              row_number() OVER (PARTITION BY vec_id, sub_no
       |                                 ORDER BY d ASC, cid ASC) AS rn
       |        FROM sc)""".stripMargin
  }

  /** Coarse-quantizer → inverted-lists → probes → candidates → ranked
    * CTE chain of the IVF index (expects the normalized `e` CTE; ends
    * in `ir` with a BIGINT rn) — shared by the ivf-top-k,
    * index-mined hard-negative, and hn-recall oracles. i-prefixed
    * names so it composes with [[cosineTopKCtes]] in one WITH. */
  private lazy val ivfCtes: String =
    s"""icent AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id % $CENT_STRIDE = 0),
       |isc AS (SELECT e.vec_id, cid, ${dotSql("v", "cv")} AS cd FROM e, icent),
       |ia AS (SELECT vec_id, cid,
       |              row_number() OVER (PARTITION BY vec_id
       |                   ORDER BY cd DESC, cid ASC) AS crn
       |       FROM isc),
       |ilists AS (SELECT vec_id, cid FROM ia WHERE crn = 1),
       |iprobes AS (SELECT vec_id AS query_id, cid FROM ia
       |            WHERE vec_id % 100 = 0 AND crn <= $NPROBE),
       |icand AS (
       |  SELECT DISTINCT p.query_id, l.vec_id
       |  FROM iprobes p JOIN ilists l
       |    ON p.cid = l.cid AND l.vec_id <> p.query_id),
       |iscored AS (SELECT c2.query_id, c2.vec_id,
       |                   round(${dotSql("a2.v", "b2.v")}, 6) AS cosine
       |            FROM icand c2 JOIN e a2 ON a2.vec_id = c2.query_id
       |                          JOIN e b2 ON b2.vec_id = c2.vec_id),
       |ir AS (SELECT query_id, vec_id, cosine,
       |              CAST(row_number() OVER (PARTITION BY query_id
       |                   ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
       |       FROM iscored)""".stripMargin

  /** The hard-negative mining/labeling tail over a ranked CTE `rcte`
    * carrying (query_id, vec_id, cosine, rn): rank 1 is the positive,
    * ranks 2..k are scored against it (same dot spelling, same product
    * order) and labeled by the shared thresholds — mirrors
    * Similarity.mineNegatives, ONE spelling for the exact and the
    * index-mined variants. */
  private def hardNegSqlTail(rcte: String): String =
    s"""hn_tk AS (SELECT query_id, vec_id, cosine, rn FROM $rcte
       |          WHERE rn <= $TOPK),
       |hn_p AS (SELECT query_id, vec_id AS pos_id FROM hn_tk WHERE rn = 1),
       |hn_n AS (SELECT hn_tk.query_id, hn_tk.rn, hn_tk.vec_id,
       |                hn_tk.cosine, hn_p.pos_id
       |         FROM hn_tk JOIN hn_p USING (query_id) WHERE hn_tk.rn >= 2),
       |hn_sc AS (SELECT hn_n.query_id, hn_n.rn, hn_n.vec_id, hn_n.cosine,
       |                 round(${dotSql("a.v", "b.v")}, 6) AS pos_cosine
       |          FROM hn_n JOIN e a ON a.vec_id = hn_n.vec_id
       |                    JOIN e b ON b.vec_id = hn_n.pos_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rn, vec_id, cosine, pos_cosine,
       |       CASE WHEN pos_cosine >= $FN_MIN THEN 'false_negative'
       |            WHEN cosine >= $HARD_MIN THEN 'hard_negative'
       |            ELSE 'easy_negative' END AS label
       |FROM hn_sc ORDER BY query_id, rn""".stripMargin

  /** Truncate-to-TRUNC_DIMS → renormalize → exact re-ranking → hits
    * CTE chain (expects `e` + the exact ranking `r`; ends in `j2` with
    * (query_id, n_hits)) — shared by the truncation-recall and the
    * truncation×explained-variance oracles. */
  private lazy val truncCtes: String =
    s"""t0 AS (SELECT vec_id,
       |              CAST(embedding AS DOUBLE[])[1:$TRUNC_DIMS] AS raw
       |       FROM embeddings),
       |t1 AS (SELECT vec_id, raw FROM t0
       |       WHERE len(list_filter(raw, x -> x <> 0)) > 0),
       |${l2NormCte("t", "t1")},
       |tq2 AS (SELECT vec_id AS query_id, v AS qv FROM t WHERE vec_id % 100 = 0),
       |ts2 AS (SELECT query_id, t.vec_id, round(${dotSql("qv", "v")}, 6) AS cosine
       |        FROM tq2, t WHERE t.vec_id <> query_id),
       |tr2 AS (SELECT query_id, vec_id,
       |               row_number() OVER (PARTITION BY query_id
       |                    ORDER BY cosine DESC, vec_id ASC) AS rn
       |        FROM ts2),
       |tk2 AS (SELECT query_id, vec_id FROM r WHERE rn <= $TOPK),
       |ak2 AS (SELECT query_id, vec_id FROM tr2 WHERE rn <= $TOPK),
       |j2 AS (SELECT tk2.query_id,
       |              CAST(sum(CASE WHEN ak2.vec_id IS NULL THEN 0 ELSE 1 END)
       |                   AS BIGINT) AS n_hits
       |       FROM tk2 LEFT JOIN ak2 ON tk2.query_id = ak2.query_id
       |                             AND tk2.vec_id = ak2.vec_id
       |       GROUP BY tk2.query_id)""".stripMargin

  /** query → scored → ranked CTE chain of the exact cosine top-k
    * (expects the normalized `e` CTE in scope) — shared by the
    * cosine-top-k and retrieval oracles so the tie-break/rounding
    * spelling cannot drift between them. */
  private lazy val cosineTopKCtes: String =
    s"""q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |s AS (SELECT query_id, e.vec_id, round(${dotSql("qv", "v")}, 6) AS cosine
       |      FROM q, e WHERE e.vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, cosine,
       |             CAST(row_number() OVER (PARTITION BY query_id
       |                  ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
       |      FROM s)""".stripMargin

  /** Gopher signal columns over `documents` (`extraCols` lands between
    * doc_id and the signals) and the shared pass-threshold CASE — ONE
    * spelling for the per-doc oracle and the per-source report. */
  private def gopherSignalsSql(extraCols: String): String = {
    import TextAnalysis.SymbolRe
    s"""SELECT doc_id,$extraCols
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |         CAST(length(replace(text, ' ', '')) AS BIGINT)
       |           / CAST(len(string_split(text, ' ')) AS BIGINT) AS mean_word_len,
       |         CAST(len(list_filter(string_split(text, ' '),
       |                              w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
       |           / CAST(len(string_split(text, ' ')) AS BIGINT) AS alpha_frac,
       |         ${wordsFilterSql(TextAnalysis.stopwords)} AS n_stop,
       |         CAST(len(regexp_extract_all(text, '$SymbolRe')) AS BIGINT)
       |           / CAST(len(string_split(text, ' ')) AS BIGINT) AS symbol_ratio
       |  FROM documents""".stripMargin
  }

  private lazy val gopherPassCase: String = {
    import TextAnalysis._
    s"""CASE WHEN n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
       |               AND mean_word_len >= $GopherMinWordLen
       |               AND mean_word_len <= $GopherMaxWordLen
       |               AND alpha_frac >= $GopherMinAlphaFrac
       |               AND n_stop >= $GopherMinStop
       |               AND symbol_ratio <= $GopherMaxSymbolRatio
       |          THEN 1 ELSE 0 END""".stripMargin
  }

  private val wordsFilterSql: (Seq[String]) => String = set =>
    s"CAST(len(list_filter(string_split(text, ' '), w -> w IN (${set.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"

  /** Mirrors Classifier.logisticQuality round for round: same Gopher
    * signal spellings as q_text_gopher_quality, decimal-exact
    * means/stds, z-scores rounded 6, per-round η rounded BEFORE exp
    * and p/w/r after, every sufficient-statistic sum DECIMAL(38,6),
    * and the LITERALLY SHARED Cramer delta expressions
    * (Classifier.deltaExprs — one spelling of the 4×4 solve for both
    * engines). */
  private lazy val logisticSql: String =
    s"""WITH $logisticCtes,
       |fin AS (SELECT zf.y, zf.n, b.b0, b.b1, b.b2, b.b3,
       |               round(b.b0 + b.b1 * z1 + b.b2 * z2 + b.b3 * z3, 6) AS eta
       |        FROM zf, bb$LOGIT_ITERS b),
       |fp AS (SELECT *, round(1.0 / (1.0 + exp(-eta)), 6) AS p FROM fin),
       |acc AS (SELECT b0, b1, b2, b3, max(n) AS n_docs,
       |               CAST(sum(CASE WHEN (CASE WHEN p >= 0.5 THEN 1.0
       |                                        ELSE 0.0 END) = y
       |                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |        FROM fp GROUP BY b0, b1, b2, b3)
       |SELECT b0, b1, b2, b3, n_docs, n_correct,
       |       round(n_correct / CAST(n_docs AS DOUBLE), 6) AS accuracy
       |FROM acc""".stripMargin

  private lazy val logisticScoreSql: String =
    s"""WITH $logisticCtes,
       |fin AS (SELECT zf.doc_id,
       |               round(b.b0 + b.b1 * z1 + b.b2 * z2 + b.b3 * z3, 6) AS eta
       |        FROM zf, bb$LOGIT_ITERS b)
       |SELECT doc_id, round(1.0 / (1.0 + exp(-eta)), 6) AS score,
       |       CAST(CASE WHEN round(1.0 / (1.0 + exp(-eta)), 6) >= $LOGIT_KEEP_MIN
       |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM fin ORDER BY doc_id""".stripMargin

  /** Standardized features → IRLS rounds shared by the fit and score
    * oracles (ends in `zf` + the final coefficients `bb<ITERS>`). */
  private lazy val logisticCtes: String = {
    val deltas = graft.operators.Classifier.deltaExprs(LOGIT_LAMBDA)
    def d6(e: String) = Num.dsumAtSql(e, 6)
    def zc(j: Int) = if (j == 0) "1.0" else s"z$j"
    val statsCols = (
      (for (r <- 0 until 4; c <- r until 4)
        yield s"${d6(s"${zc(r)} * ${zc(c)} * w")} AS m$r$c") ++
      (0 until 4).map(j => s"${d6(s"${zc(j)} * r")} AS g$j"))
      .mkString(",\n       |       ").stripMargin
    def iterCtes(t: Int): String =
      s"""sc$t AS (SELECT zf.doc_id, zf.y, zf.z1, zf.z2, zf.z3,
         |               round(b.b0 + b.b1 * z1 + b.b2 * z2 + b.b3 * z3, 6) AS eta
         |        FROM zf, bb${t - 1} b),
         |pw$t AS (SELECT *, round(1.0 / (1.0 + exp(-eta)), 6) AS p FROM sc$t),
         |wr$t AS (SELECT *, round(p * (1.0 - p), 6) AS w, round(y - p, 6) AS r
         |         FROM pw$t),
         |st$t AS (SELECT $statsCols FROM wr$t),
         |bb$t AS (SELECT ${(0 until 4)
                     .map(i => s"round(b$i + ${deltas(i)}, 6) AS b$i")
                     .mkString(",\n       |              ")}
         |        FROM st$t, bb${t - 1})""".stripMargin
    val iterations = (1 to LOGIT_ITERS).map(iterCtes).mkString(",\n")
    s"""sb AS (
       |  ${gopherSignalsSql("")}),
       |sig AS (SELECT *, CAST($gopherPassCase AS BIGINT) AS passes FROM sb),
       |f AS (SELECT doc_id, CAST(n_words AS DOUBLE) AS x1, mean_word_len AS x2,
       |             symbol_ratio AS x3, CAST(passes AS DOUBLE) AS y FROM sig),
       |mm0 AS (SELECT round(${d6("x1")} / count(*), 6) AS mu1,
       |               round(${d6("x2")} / count(*), 6) AS mu2,
       |               round(${d6("x3")} / count(*), 6) AS mu3,
       |               count(*) AS n FROM f),
       |sd AS (SELECT round(sqrt(${d6("(x1 - mu1) * (x1 - mu1)")} / max(n)), 6) AS s1,
       |              round(sqrt(${d6("(x2 - mu2) * (x2 - mu2)")} / max(n)), 6) AS s2,
       |              round(sqrt(${d6("(x3 - mu3) * (x3 - mu3)")} / max(n)), 6) AS s3,
       |              max(mu1) AS mu1, max(mu2) AS mu2, max(mu3) AS mu3,
       |              max(n) AS n
       |       FROM f, mm0),
       |zf AS (SELECT doc_id, y,
       |              CASE WHEN s1 = 0 THEN 0.0
       |                   ELSE round((x1 - mu1) / s1, 6) END AS z1,
       |              CASE WHEN s2 = 0 THEN 0.0
       |                   ELSE round((x2 - mu2) / s2, 6) END AS z2,
       |              CASE WHEN s3 = 0 THEN 0.0
       |                   ELSE round((x3 - mu3) / s3, 6) END AS z3,
       |              n
       |       FROM f, sd),
       |bb0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),
       |$iterations""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    // The oracle states the DEFINITION (full inverted-index intersection
    // → exact jaccard); the Spark side's positional prefix filter is a
    // lossless candidate pruning of the same result, so no cap/filter
    // CTE is mirrored — both engines compute the true all-pairs jaccard.
    "q_dedup_jaccard" ->
      s"""WITH sh AS ($sh),
         |${shingleInterCte()},
         |$jaccardTail""".stripMargin,

    "q_dedup_minhash_lsh" -> minhashSql,

    "q_dedup_lsh_quality" ->
      s"""WITH $minhashBandCtes,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS i
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |ver AS (
         |  SELECT doc_a FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE round(i / (sa.n + sb.n - i), 6) >= $JACCARD_MIN),
         |${shingleInterCte("ti")},
         |tru AS (
         |  SELECT ti.doc_a FROM ti
         |  JOIN sizes sa ON sa.doc_id = ti.doc_a
         |  JOIN sizes sb ON sb.doc_id = ti.doc_b
         |  WHERE round(i / (sa.n + sb.n - i), 6) >= $JACCARD_MIN)
         |SELECT (SELECT count(*) FROM tru) AS n_true,
         |       (SELECT count(*) FROM cand) AS n_candidates,
         |       (SELECT count(*) FROM ver) AS n_verified,
         |       round((SELECT count(*) FROM ver) / (SELECT count(*) FROM cand), 6)
         |         AS candidate_precision,
         |       round((SELECT count(*) FROM ver) / (SELECT count(*) FROM tru), 6)
         |         AS recall""".stripMargin,

    // One CTE block per (b, r) tiling, all over the SAME sigs CTE; the
    // s-curve columns are Scala-computed literals shared verbatim with
    // the query (Dedup.lshSCurve) so no engine pow() is in the hash.
    // sigs, truj and every cand_<b>_<r> are read several times each and
    // marked AS MATERIALIZED: DuckDB otherwise inlines every reference,
    // recomputing the all-pairs join until it exhausts its temp disk.
    "q_dedup_lsh_design" -> {
      val layoutCtes = Dedup.LshLayouts.map { case (b, r) =>
        val bandsSel = (0 until b).map { j =>
          val cols = (0 until r).map(k => s"m${r * j + k}").mkString(", ")
          s"SELECT doc_id, $j AS band, concat_ws('_', $cols) AS bv FROM sigs"
        }.mkString("\n    UNION ALL\n    ")
        s"""bands_${b}_$r AS (
           |    $bandsSel),
           |cand_${b}_$r AS MATERIALIZED (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands_${b}_$r x JOIN bands_${b}_$r y
           |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
           |ver_${b}_$r AS (
           |  SELECT c.doc_a FROM cand_${b}_$r c
           |  JOIN truj t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)"""
          .stripMargin
      }.mkString(",\n")
      val layoutRows = Dedup.LshLayouts.map { case (b, r) =>
        val (thr, pc) = Dedup.lshSCurve(b, r, JACCARD_MIN)
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |       $thr AS j_threshold, $pc AS p_collide_at_minj,
           |       (SELECT count(*) FROM truj) AS n_true,
           |       (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
           |       (SELECT count(*) FROM ver_${b}_$r) AS n_verified,
           |       CASE WHEN (SELECT count(*) FROM cand_${b}_$r) > 0
           |            THEN round((SELECT count(*) FROM ver_${b}_$r)
           |                       / (SELECT count(*) FROM cand_${b}_$r), 6)
           |       END AS candidate_precision,
           |       round((SELECT count(*) FROM ver_${b}_$r)
           |             / (SELECT count(*) FROM truj), 6) AS recall"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${minhashBandCtesFrom(sh, materializeSigs = true)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |${shingleInterCte("ti")},
         |truj AS MATERIALIZED (
         |  SELECT ti.doc_a, ti.doc_b FROM ti
         |  JOIN sizes sa ON sa.doc_id = ti.doc_a
         |  JOIN sizes sb ON sb.doc_id = ti.doc_b
         |  WHERE round(i / (sa.n + sb.n - i), 6) >= $JACCARD_MIN),
         |$layoutCtes
         |$layoutRows
         |ORDER BY bands DESC""".stripMargin
    },

    "q_sim_ivf_balance" ->
      s"""WITH $normalizedCte,
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         WHERE vec_id % $CENT_STRIDE = 0),
         |sc AS (SELECT e.vec_id, cid, ${dotSql("v", "cv")} AS cd FROM e, cent),
         |a AS (SELECT vec_id, cid,
         |             row_number() OVER (PARTITION BY vec_id
         |                  ORDER BY cd DESC, cid ASC) AS crn
         |      FROM sc),
         |lists AS (SELECT vec_id, cid FROM a WHERE crn = 1),
         |sz AS (SELECT cid, count(*) AS sz FROM lists GROUP BY cid)
         |SELECT CAST(count(*) AS BIGINT) AS n_lists,
         |       CAST(sum(sz) AS BIGINT) AS n_vectors,
         |       CAST(min(sz) AS BIGINT) AS min_size,
         |       CAST(max(sz) AS BIGINT) AS max_size,
         |       round(avg(sz), 6) AS avg_size,
         |       round(max(sz) / avg(sz), 6) AS skew
         |FROM sz""".stripMargin,

    // Frozen-quantizer incremental maintenance: centroids seed from
    // the CORPUS side only (the index predates the batch), every
    // vector assigns to its nearest frozen centroid (raw-dot argmax,
    // cid-asc tie-break; the winning dot rounds to 6 AFTER the
    // argmax), and the report splits each list's membership into
    // build-time vs arrived — mirrors Similarity.buildIvfIndex +
    // ivfReassign.
    "q_sim_ivf_incremental" -> ivfReassignSql(
      s"vec_id % 10 <> $IVF_BATCH_REM",
      s"vec_id % 10 <> $IVF_BATCH_REM",
      s"vec_id % 10 = $IVF_BATCH_REM"),

    // Accumulated face: the index side (old) is corpus ∪ wave 1 —
    // identical math (decimal sim sums add exactly, so absorb-then-
    // report ≡ one report over the union), centroids still seeded
    // from the corpus only.
    "q_st_ivf_accum" -> ivfReassignSql(
      "vec_id % 10 < 8",
      "vec_id % 10 <> 9",
      "vec_id % 10 = 9"),

    "q_dedup_incremental" -> incrementalDedupSql,

    // Same oracle by construction: the index path is an execution
    // strategy (precomputed corpus state), not different semantics.
    "q_st_dedup_incremental" -> incrementalDedupSql,
    "q_st_dedup_accum" -> accumDedupSql,

    // Single-pass KMV replay — no wave structure anywhere: because KMV
    // merge is associative/commutative/idempotent, the accumulated
    // three-wave sketch MUST equal the one-shot sketch over the whole
    // corpus; this oracle states the one-shot definition and the hash
    // match proves the absorb algebra.
    // Per-wave replay of the accumulating DSIR state: f0 is the
    // frozen-seed feature table (raw = wave 0), f1 the post-absorb one
    // (raw = waves 0 ∪ 1); each wave's docs score against the table
    // that was current when they arrived. Spellings (add-one
    // smoothing, micro-unit floor, long sums, full bucket domain)
    // mirror q_text_dsir / scoreAgainstDsirIndex verbatim.
    "q_st_dsir_accum" ->
      s"""WITH toks AS (SELECT doc_id, lang, doc_id % 3 AS wv,
         |                     unnest(string_split(text, ' ')) AS word
         |              FROM documents),
         |tb AS (SELECT doc_id, lang, wv,
         |              ${graft.functions.Hashing.md5LongSql("word")} % $DSIR_B AS b
         |       FROM toks),
         |bk AS (SELECT unnest(range(0, $DSIR_B)) AS b),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
         |        WHERE lang = '$DSIR_TARGET' GROUP BY b),
         |tts AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt FROM tgt),
         |raw0 AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb
         |         WHERE wv = 0 GROUP BY b),
         |tr0 AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM raw0),
         |raw1 AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb
         |         WHERE wv IN (0, 1) GROUP BY b),
         |tr1 AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM raw1),
         |f0 AS (SELECT bk.b,
         |              CAST(floor(ln(((coalesce(t.ct, 0) + 1.0)
         |                             / (tts.tt + $DSIR_B.0))
         |                            / ((coalesce(r.cr, 0) + 1.0)
         |                               / (tr0.tr + $DSIR_B.0)))
         |                         * 1000000.0 + 0.5) AS BIGINT) AS micro
         |       FROM bk LEFT JOIN raw0 r USING (b)
         |               LEFT JOIN tgt t USING (b), tts, tr0),
         |f1 AS (SELECT bk.b,
         |              CAST(floor(ln(((coalesce(t.ct, 0) + 1.0)
         |                             / (tts.tt + $DSIR_B.0))
         |                            / ((coalesce(r.cr, 0) + 1.0)
         |                               / (tr1.tr + $DSIR_B.0)))
         |                         * 1000000.0 + 0.5) AS BIGINT) AS micro
         |       FROM bk LEFT JOIN raw1 r USING (b)
         |               LEFT JOIN tgt t USING (b), tts, tr1),
         |d1 AS (SELECT tb.doc_id, CAST(sum(f.micro) AS BIGINT) AS sm,
         |              CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM tb JOIN f0 f USING (b) WHERE tb.wv = 1 GROUP BY tb.doc_id),
         |d2 AS (SELECT tb.doc_id, CAST(sum(f.micro) AS BIGINT) AS sm,
         |              CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM tb JOIN f1 f USING (b) WHERE tb.wv = 2 GROUP BY tb.doc_id),
         |u AS (SELECT CAST(1 AS BIGINT) AS wave, doc_id, n_tokens, sm FROM d1
         |      UNION ALL
         |      SELECT CAST(2 AS BIGINT), doc_id, n_tokens, sm FROM d2)
         |SELECT wave, doc_id, n_tokens,
         |       CAST(floor(sm / CAST(n_tokens AS DOUBLE) + 0.5) AS BIGINT)
         |         / 1000000.0 AS dsir_score,
         |       CAST(CASE WHEN sm > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM u ORDER BY wave, doc_id""".stripMargin,

    "q_st_kmv_accum" ->
      s"""WITH $kmvRankCtes,
         |sk AS (SELECT source,
         |              CAST(least(count(*), $KMV_K) AS BIGINT) AS sketch_n,
         |              max(CASE WHEN rn = $KMV_K THEN h END) AS kth_hash
         |       FROM rk GROUP BY source),
         |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM w GROUP BY source),
         |card AS (
         |  SELECT s.source, e.n_exact, s.sketch_n, s.kth_hash,
         |         round(CASE WHEN s.kth_hash IS NULL
         |                    THEN CAST(s.sketch_n AS DOUBLE)
         |                    ELSE ($KMV_K - 1)
         |                         * CAST(1152921504606846976 AS DOUBLE)
         |                         / s.kth_hash END, 6) AS est_distinct
         |  FROM sk s JOIN ex e USING (source))
         |SELECT source, n_exact, sketch_n, kth_hash, est_distinct,
         |       round(abs(est_distinct - n_exact) / n_exact, 6) AS rel_err
         |FROM card ORDER BY source""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
         |SELECT doc_id, cluster_id,
         |       CASE WHEN doc_id = cluster_id THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS is_canonical
         |FROM labels ORDER BY doc_id""".stripMargin,

    // SoftDeDup weights: the same cluster closure, sized, left-joined
    // onto the corpus (absent docs → singleton weight 1). Divisions are
    // CAST AS DOUBLE so DuckDB's decimal-literal division rules never
    // enter; Spark's lit(1.0)/long is the identical IEEE double op.
    "q_dedup_soft_weights" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cs AS (SELECT cluster_id, count(*) AS cn FROM labels GROUP BY cluster_id),
         |w AS (SELECT d.doc_id, d.source, d.n_chars, COALESCE(cs.cn, 1) AS cn
         |      FROM documents d
         |      LEFT JOIN labels l ON l.doc_id = d.doc_id
         |      LEFT JOIN cs ON cs.cluster_id = l.cluster_id)
         |SELECT doc_id, source, CAST(cn AS BIGINT) AS cluster_n,
         |       round(CAST(1 AS DOUBLE) / cn, 6) AS weight,
         |       round(CAST(n_chars AS DOUBLE) / cn, 6) AS w_chars
         |FROM w ORDER BY doc_id""".stripMargin,

    // Effective size: weights summed as exact integer ppm (round(1e6/n))
    // so the aggregate is order-independent on both engines.
    "q_dedup_effective_size" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cs AS (SELECT cluster_id, count(*) AS cn FROM labels GROUP BY cluster_id),
         |w AS (SELECT d.doc_id, d.source, COALESCE(cs.cn, 1) AS cn
         |      FROM documents d
         |      LEFT JOIN labels l ON l.doc_id = d.doc_id
         |      LEFT JOIN cs ON cs.cluster_id = l.cluster_id),
         |agg AS (SELECT source, count(*) AS n_docs,
         |               sum(CAST(round(CAST(1000000 AS DOUBLE) / cn) AS BIGINT)) AS ppm
         |        FROM w GROUP BY source)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |       round(ppm / CAST(1000000 AS DOUBLE), 6) AS effective_docs,
         |       round(ppm / CAST(1000000 AS DOUBLE) / n_docs, 6) AS soft_keep_ratio
         |FROM agg ORDER BY source""".stripMargin,

    // Resolution policy on top of the same transitive closure: keep
    // unique docs and the min-id canonical of every duplicate cluster.
    "q_dedup_canonical_docs" ->
      s"""WITH RECURSIVE $clusterCtes
         |SELECT d.doc_id,
         |       CASE WHEN l.doc_id IS NULL THEN 'unique'
         |            ELSE 'canonical' END AS status
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Joins the four verified CTE families (recursive cluster closure,
    // md5 cluster split, the shared IRLS chain's final coefficients,
    // whitespace tokens) into the per-doc manifest — mirrors the Spark
    // composition literally, including the eta→score rounding chain
    // and the include gate.
    "q_pipeline_curation_manifest" ->
      s"""WITH RECURSIVE $clusterCtes,
         |$logisticCtes,
         |stt AS (SELECT d.doc_id,
         |               CASE WHEN l.doc_id IS NULL THEN 'unique'
         |                    WHEN l.cluster_id = d.doc_id THEN 'canonical'
         |                    ELSE 'duplicate' END AS status
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
         |spl AS (SELECT d.doc_id,
         |               CASE WHEN ${Hashing.md5LongSql(
                           "concat('lsplit:', CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR))")}
         |                    % 100 < $TRAIN_PCT
         |                    THEN 'train' ELSE 'test' END AS split
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
         |fin2 AS (SELECT zf.doc_id,
         |                round(b.b0 + b.b1 * z1 + b.b2 * z2 + b.b3 * z3, 6) AS eta
         |         FROM zf, bb$LOGIT_ITERS b),
         |scf AS (SELECT doc_id, round(1.0 / (1.0 + exp(-eta)), 6) AS score
         |        FROM fin2),
         |tok AS (SELECT doc_id,
         |               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
         |        FROM documents)
         |SELECT stt.doc_id, status, split, score,
         |       CAST(CASE WHEN score >= $LOGIT_KEEP_MIN THEN 1 ELSE 0 END
         |            AS BIGINT) AS keep,
         |       ws_tokens,
         |       CAST(CASE WHEN status <> 'duplicate'
         |                  AND score >= $LOGIT_KEEP_MIN
         |                  AND split = 'train'
         |                 THEN 1 ELSE 0 END AS BIGINT) AS include
         |FROM stt JOIN spl USING (doc_id) JOIN scf USING (doc_id)
         |         JOIN tok USING (doc_id)
         |ORDER BY stt.doc_id""".stripMargin,

    // The soft manifest composes the SAME CTE chains: cluster sizes
    // for the weight, the md5 cluster-keyed split, the trained
    // classifier's keep flag, and the whitespace token count.
    "q_pipeline_soft_manifest" ->
      s"""WITH RECURSIVE $clusterCtes,
         |$logisticCtes,
         |cs AS (SELECT cluster_id, count(*) AS cn FROM labels GROUP BY cluster_id),
         |wd AS (SELECT d.doc_id, COALESCE(cs.cn, 1) AS cn
         |       FROM documents d
         |       LEFT JOIN labels l ON l.doc_id = d.doc_id
         |       LEFT JOIN cs ON cs.cluster_id = l.cluster_id),
         |spl AS (SELECT d.doc_id,
         |               CASE WHEN ${Hashing.md5LongSql(
                           "concat('lsplit:', CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR))")}
         |                    % 100 < $TRAIN_PCT
         |                    THEN 'train' ELSE 'test' END AS split
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
         |fin2 AS (SELECT zf.doc_id,
         |                round(b.b0 + b.b1 * z1 + b.b2 * z2 + b.b3 * z3, 6) AS eta
         |         FROM zf, bb$LOGIT_ITERS b),
         |scf AS (SELECT doc_id,
         |               CAST(CASE WHEN round(1.0 / (1.0 + exp(-eta)), 6)
         |                              >= $LOGIT_KEEP_MIN
         |                         THEN 1 ELSE 0 END AS BIGINT) AS keep
         |        FROM fin2),
         |tok AS (SELECT doc_id,
         |               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
         |        FROM documents)
         |SELECT wd.doc_id, CAST(cn AS BIGINT) AS cluster_n,
         |       round(CAST(1 AS DOUBLE) / cn, 6) AS weight,
         |       split, keep, ws_tokens,
         |       CASE WHEN keep = 1 AND split = 'train'
         |            THEN round(CAST(1 AS DOUBLE) / cn, 6)
         |            ELSE 0.0 END AS sample_weight,
         |       CASE WHEN keep = 1 AND split = 'train'
         |            THEN round(round(CAST(1 AS DOUBLE) / cn, 6) * ws_tokens, 6)
         |            ELSE 0.0 END AS w_tokens
         |FROM wd JOIN spl USING (doc_id) JOIN scf USING (doc_id)
         |        JOIN tok USING (doc_id)
         |ORDER BY wd.doc_id""".stripMargin,

    // Same transitive closure, then the md5 cluster-keyed split and
    // the per-cluster atomicity verdict — mirrors
    // Dedup.leakageSafeSplit (docs without a near-dup are singleton
    // clusters via the LEFT JOIN coalesce).
    "q_dedup_leakage_split" ->
      s"""WITH RECURSIVE $clusterCtes,
         |alld AS (SELECT d.doc_id,
         |                coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |         FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
         |asg AS (SELECT doc_id, cluster_id,
         |               CASE WHEN ${Hashing.md5LongSql(
                             "concat('lsplit:', CAST(cluster_id AS VARCHAR))")}
         |                    % 100 < $TRAIN_PCT
         |                    THEN 'train' ELSE 'test' END AS split
         |        FROM alld),
         |at AS (SELECT cluster_id, count(DISTINCT split) AS nsplits
         |       FROM asg GROUP BY cluster_id)
         |SELECT asg.doc_id, asg.cluster_id, split,
         |       CAST(CASE WHEN nsplits = 1 THEN 1 ELSE 0 END AS BIGINT)
         |         AS cluster_atomic
         |FROM asg JOIN at USING (cluster_id) ORDER BY asg.doc_id""".stripMargin,

    "q_dedup_decontaminate" ->
      decontamSql(""),

    // Exact columns recomputed; the bloom-path verdicts are asserted as
    // literal 1 (no-false-negative is a bloom-filter theorem; the FP
    // bound is deterministic given the fixed hash family and sizing,
    // verified at both SFs).
    "q_dedup_bloom" ->
      decontamSql(""",
         |       CAST(1 AS BIGINT) AS bloom_flagged,
         |       CAST(1 AS BIGINT) AS fp_within_bound""".stripMargin),

    // Same transitive closure as the min-id resolution, but the
    // survivor is the longest document (word count desc, doc_id asc).
    "q_dedup_quality_survivor" ->
      s"""WITH RECURSIVE $clusterCtes,
         |scored AS (
         |  SELECT d.doc_id, l.cluster_id,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
         |ranked AS (
         |  SELECT doc_id, cluster_id,
         |         row_number() OVER (PARTITION BY cluster_id
         |                            ORDER BY score DESC, doc_id ASC) AS rk
         |  FROM scored WHERE cluster_id IS NOT NULL)
         |SELECT doc_id, 'unique' AS status FROM scored WHERE cluster_id IS NULL
         |UNION ALL
         |SELECT doc_id, 'best_quality' AS status FROM ranked WHERE rk = 1
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" -> simhashSql,

    "q_dedup_embedding" ->
      s"""WITH ${normalizedCteWhere(s" WHERE vec_id < $EXACT_PAIRS_CAP")},
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
         |      FROM e a JOIN e b ON a.vec_id < b.vec_id),
         |s AS (SELECT vec_a, vec_b, round(${dotSql("va", "vb")}, 6) AS cosine FROM p)
         |SELECT vec_a, vec_b, cosine FROM s
         |WHERE cosine >= $COS_MIN ORDER BY vec_a, vec_b""".stripMargin,

    "q_dedup_embedding_lsh" ->
      s"""WITH $normalizedCte,
         |$lshCtes,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM bands x JOIN bands y
         |    ON x.c = y.c AND x.cv = y.cv AND x.vec_id < y.vec_id),
         |p AS (SELECT vec_a, vec_b, a.v AS va, b.v AS vb
         |      FROM cand JOIN e a ON a.vec_id = vec_a
         |                JOIN e b ON b.vec_id = vec_b),
         |s AS (SELECT vec_a, vec_b, round(${dotSql("va", "vb")}, 6) AS cosine FROM p)
         |SELECT vec_a, vec_b, cosine FROM s
         |WHERE cosine >= $COS_MIN ORDER BY vec_a, vec_b""".stripMargin,

    // Frozen-index probe: banded candidates between the batch
    // (vec_id % 10 = INC_REM) and the corpus, exact-cosine verify,
    // best match per new vector — the band join is an execution
    // strategy; the all-candidate cosine tail states the semantics.
    "q_st_embed_neardup" ->
      s"""WITH $normalizedCte,
         |$lshCtes,
         |${embedBestMatchSql(
              s"x.vec_id % 10 = $INC_REM AND y.vec_id % 10 <> $INC_REM")}""".stripMargin,

    // Accumulated face: wave 2 (double-mixed, vec_id ≥ 2e6) probes
    // corpus ∪ wave 1 — the union is synthesized with the same exact
    // double mix arithmetic the Spark side applies.
    "q_st_embed_accum" ->
      s"""WITH $mixWaveCtes,
         |u0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $WAVE, raw FROM m1
         |  UNION ALL
         |  SELECT vec_id + ${2 * WAVE}, raw FROM m2),
         |${l2NormCte("e", "u0")},
         |$lshCtes,
         |${embedBestMatchSql(s"x.vec_id >= ${2 * WAVE} AND y.vec_id < ${2 * WAVE}")}""".stripMargin,

    "q_sim_ann_lsh" ->
      s"""WITH $normalizedCte,
         |$lshCtes,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id
         |  FROM bands q JOIN bands b
         |    ON q.c = b.c AND q.cv = b.cv AND b.vec_id <> q.vec_id
         |  WHERE q.vec_id % 100 = 0),
         |s AS (SELECT c2.query_id, c2.vec_id,
         |             round(${dotSql("a.v", "b.v")}, 6) AS cosine
         |      FROM cand c2 JOIN e a ON a.vec_id = c2.query_id
         |                   JOIN e b ON b.vec_id = c2.vec_id),
         |r AS (SELECT query_id, vec_id, cosine,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
         |      FROM s)
         |SELECT query_id, rn, vec_id, cosine FROM r
         |WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin,

    // IVF: centroid set, nearest-centroid assignment, nProbe-list
    // probing, exact scoring of probed lists — identical arithmetic
    // (sequential-fold dots) both engines, so assignment argmax and the
    // final ranking agree bit-for-bit.
    // Binary-sketch Hamming ANN: the oracle replays the 64 seeded
    // hyperplanes (grouped into the same 4x16-bit sign words Spark
    // stores), then states the candidate DEFINITION - every
    // query x corpus pair within sketch-Hamming HAM_ANN_MAX, via a
    // quadratic xor+bit_count cross join - and the exact-cosine top-k
    // over it. Spark finds the identical candidate set through the
    // multi-index blocking instead of n^2 sketch pairs; same sums,
    // same tie-break, hash-identical rows.
    "q_sim_hamming_ann" ->
      s"""WITH $normalizedCte,
         |$planes64Cte,
         |${signSketchCtes("sk", "e")},
         |hc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id
         |  FROM sk q JOIN sk c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 100 = 0
         |    AND ${hammingSql("q", "c")} <= $HAM_ANN_MAX),
         |hs AS (SELECT hc.query_id, hc.vec_id,
         |              round(${dotSql("a.v", "b.v")}, 6) AS cosine
         |       FROM hc JOIN e a ON a.vec_id = hc.query_id
         |               JOIN e b ON b.vec_id = hc.vec_id),
         |hr AS (SELECT query_id, vec_id, cosine,
         |              CAST(row_number() OVER (PARTITION BY query_id
         |                   ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
         |       FROM hs)
         |SELECT query_id, rn, vec_id, cosine FROM hr
         |WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin,

    // Accumulated sketch-ANN serving face: wave-2 queries (double-mixed,
    // +2e6) retrieve top-k against corpus ∪ wave 1 — the union is
    // synthesized with the same exact double mix arithmetic, the
    // sketches replay the 64 seeded hyperplanes, and the candidate set
    // is the quadratic Hamming <= H definition the broadcast scan
    // matches exactly.
    "q_st_hamming_ann" ->
      s"""WITH $mixWaveCtes,
         |hau AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $WAVE, raw FROM m1),
         |haq AS (SELECT vec_id + ${2 * WAVE} AS vec_id, raw FROM m2),
         |${l2NormCte("hae", "hau")},
         |${l2NormCte("haeq", "haq")},
         |$planes64Cte,
         |${signSketchCtes("hack", "hae")},
         |${signSketchCtes("haqk", "haeq")},
         |hahc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id
         |  FROM haqk q JOIN hack c ON c.vec_id <> q.vec_id
         |  WHERE ${hammingSql("q", "c")} <= $HAM_ANN_MAX),
         |hahs AS (SELECT hahc.query_id, hahc.vec_id,
         |                round(${dotSql("a.v", "bb.v")}, 6) AS cosine
         |         FROM hahc JOIN haeq a ON a.vec_id = hahc.query_id
         |                   JOIN hae bb ON bb.vec_id = hahc.vec_id),
         |hahr AS (SELECT query_id, vec_id, cosine,
         |                CAST(row_number() OVER (PARTITION BY query_id
         |                     ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
         |         FROM hahs)
         |SELECT query_id, rn, vec_id, cosine FROM hahr
         |WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin,

    "q_sim_ivf_topk" ->
      s"""WITH $normalizedCte,
         |$ivfCtes
         |SELECT query_id, rn, vec_id, cosine FROM ir
         |WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin,

    // Same explode → per-dim min/max grid → quantize/reconstruct
    // arithmetic, spelled identically (same association order), so the
    // integer codes — and therefore q_sum — are exact on both engines.
    "q_sim_quantize_int8" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings),
         |x AS (SELECT vec_id, t.pos, raw[CAST(t.pos AS INT)] AS val
         |      FROM e0, unnest(range(1, ${DIM + 1})) t(pos)),
         |d AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM x GROUP BY pos),
         |q AS (SELECT vec_id, val, mn, mx,
         |             CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
         |                  ELSE CAST(least(greatest(round((val - mn) * 255 / (mx - mn), 0), 0), 255) AS BIGINT)
         |             END AS qv
         |      FROM x JOIN d ON x.pos = d.pos),
         |r AS (SELECT vec_id, qv,
         |             CASE WHEN mx = mn THEN 0.0
         |                  ELSE abs(val - (mn + qv * (mx - mn) / 255))
         |             END AS err
         |      FROM q)
         |SELECT vec_id, CAST(sum(qv) AS BIGINT) AS q_sum,
         |       round(max(err), 6) AS max_abs_err,
         |       round(${Num.dsumSql("err")} / count(*), 6) AS mean_abs_err
         |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Mirrors Similarity.kmeansClusters iteration for iteration: the
    // CTE chain below is GENERATED for the same KM_ITERS the Spark loop
    // runs — c0 is the data-seeded centroid set, each round is
    // (assignment argmax by sequential-fold dot, decimal-stable
    // per-dimension mean rounded to 6). Identical arithmetic both
    // engines → identical assignments, counts, and norms.
    "q_sim_kmeans" -> {
      def assignCtes(i: Int): String =
        s"""s$i AS (SELECT e.vec_id, cid, ${dotSql("v", "cv")} AS cd FROM e, c${i - 1}),
           |a$i AS (SELECT vec_id, cid FROM (
           |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
           |         ORDER BY cd DESC, cid ASC) AS rn FROM s$i) WHERE rn = 1)""".stripMargin
      def recomputeCtes(i: Int): String =
        s"""x$i AS (SELECT a$i.cid, t.pos, e.v[CAST(t.pos AS INT)] AS val
           |        FROM a$i JOIN e USING (vec_id), unnest(range(1, ${DIM + 1})) t(pos)),
           |m$i AS (SELECT cid, pos, round(${Num.dsumSql("val")} / count(*), 6) AS m
           |        FROM x$i GROUP BY cid, pos),
           |c$i AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m$i GROUP BY cid)""".stripMargin
      val iterations = (1 to KM_ITERS)
        .map(i => s"${assignCtes(i)},\n${recomputeCtes(i)}").mkString(",\n")
      val fin = KM_ITERS + 1
      s"""WITH $normalizedCte,
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $KM_STRIDE = 0),
         |$iterations,
         |${assignCtes(fin)},
         |n AS (SELECT cid, count(*) AS n_assigned FROM a$fin GROUP BY cid)
         |SELECT n.cid, n_assigned,
         |       round(sqrt(${dotSql("cv", "cv")}), 6) AS centroid_norm
         |FROM n JOIN c$KM_ITERS USING (cid)
         |ORDER BY cid""".stripMargin
    },

    // Mirrors Similarity.pcaPower iteration for iteration: same centered
    // long-form matrix, every cross-partition sum the same exact
    // DECIMAL(18,6), direction rounded to 6 after each normalization,
    // same constant 1/√DIM start — loadings and lambda bit-identical.
    "q_sim_pca_power" ->
      s"""WITH $pcaCtes
         |SELECT pos AS dim, w AS loading, lambda
         |FROM v$PCA_ITERS, l ORDER BY dim""".stripMargin,

    "q_sim_pca_explained" ->
      s"""WITH $pcaCtes,
         |tv AS (SELECT round(${Num.dsumSql("cv * cv")} /
         |                    (SELECT count(DISTINCT vec_id) FROM c), 6)
         |         AS total_var FROM c)
         |SELECT round(CAST(lambda AS DOUBLE), 6) AS lambda,
         |       round(CAST(total_var AS DOUBLE), 6) AS total_var,
         |       round(CAST(lambda AS DOUBLE) / CAST(total_var AS DOUBLE), 6)
         |         AS explained_ratio
         |FROM l, tv""".stripMargin,

    // Mirrors Similarity.semDedup: same data-seeded centroids, same
    // raw-fold assignment argmax (identical IEEE arithmetic both
    // engines), same rounded-cosine ≥ COS_MIN within-cluster pair gate,
    // same keep-lowest-vec_id policy (LEFT JOIN NULL-test, never NOT
    // IN).
    "q_sim_semdedup" ->
      s"""WITH $normalizedCte,
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $SEM_STRIDE = 0),
         |s AS (SELECT e.vec_id, cid, ${dotSql("v", "cv")} AS cd FROM e, c0),
         |a AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY cd DESC, cid ASC) AS rn FROM s) WHERE rn = 1),
         |mm AS (SELECT a.vec_id, cid, v FROM a JOIN e USING (vec_id)),
         |p AS (SELECT DISTINCT y.vec_id FROM mm x JOIN mm y
         |      ON x.cid = y.cid AND x.vec_id < y.vec_id
         |      WHERE round(${dotSql("x.v", "y.v")}, 6) >= $COS_MIN)
         |SELECT a.vec_id, cid,
         |       CAST(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM a LEFT JOIN p ON a.vec_id = p.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // Mirrors Similarity.pqEncode: same subspace slicing, same
    // data-seeded per-subspace codebooks, same ‖x‖²+‖c‖²−2x·c
    // sequential-fold distance rounded to 6 BEFORE the argmin, same
    // cid-asc tiebreak.
    "q_sim_pq" ->
      s"""WITH $normalizedCte,
         |$pqCtes
         |SELECT vec_id, sub_no, cid AS code, d AS sq_err
         |FROM pqr WHERE rn = 1 ORDER BY vec_id, sub_no""".stripMargin,

    // Mirrors Similarity.pqAdcTopK: codes + per-query distance tables
    // both read the SAME `sc` distance CTE, ADC score is the
    // DECIMAL-exact sum of the m rounded lookups, ranking ascends with
    // vec_id tiebreak.
    "q_sim_pq_adc" ->
      s"""WITH $normalizedCte,
         |$pqCtes,
         |codes AS (SELECT vec_id, sub_no, cid AS code FROM pqr WHERE rn = 1),
         |dtab AS (SELECT vec_id AS query_id, sub_no, cid AS code, d
         |         FROM sc WHERE vec_id % 100 = 0),
         |ad AS (SELECT query_id, codes.vec_id,
         |              round(${Num.dsumSql("d")}, 6) AS adist
         |       FROM codes JOIN dtab USING (sub_no, code)
         |       WHERE codes.vec_id <> dtab.query_id
         |       GROUP BY query_id, codes.vec_id),
         |adr AS (SELECT query_id, vec_id, adist,
         |              CAST(row_number() OVER (PARTITION BY query_id
         |                   ORDER BY adist ASC, vec_id ASC) AS BIGINT) AS rn
         |        FROM ad)
         |SELECT query_id, rn, vec_id, adist FROM adr
         |WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin,

    // Mirrors Similarity.annRecallReport: the exact chain and the LSH
    // chain are the same CTEs the q_sim_cosine_topk / q_sim_ann_lsh
    // oracles use; recall is overlap / k with ANN-missed queries kept
    // at 0 by the LEFT JOIN.
    "q_sim_recall" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes,
         |$lshCtes,
         |acand AS (
         |  SELECT DISTINCT q2.vec_id AS query_id, b.vec_id
         |  FROM bands q2 JOIN bands b
         |    ON q2.c = b.c AND q2.cv = b.cv AND b.vec_id <> q2.vec_id
         |  WHERE q2.vec_id % 100 = 0),
         |anns AS (SELECT c2.query_id, c2.vec_id,
         |                round(${dotSql("a.v", "b.v")}, 6) AS cosine
         |         FROM acand c2 JOIN e a ON a.vec_id = c2.query_id
         |                      JOIN e b ON b.vec_id = c2.vec_id),
         |ar AS (SELECT query_id, vec_id,
         |              row_number() OVER (PARTITION BY query_id
         |                   ORDER BY cosine DESC, vec_id ASC) AS rn
         |       FROM anns),
         |tk AS (SELECT query_id, vec_id FROM r WHERE rn <= $TOPK),
         |ak AS (SELECT query_id, vec_id FROM ar WHERE rn <= $TOPK),
         |j AS (SELECT tk.query_id,
         |             CAST(sum(CASE WHEN ak.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits
         |      FROM tk LEFT JOIN ak ON tk.query_id = ak.query_id
         |                          AND tk.vec_id = ak.vec_id
         |      GROUP BY tk.query_id)
         |SELECT query_id, n_hits,
         |       round(n_hits / CAST($TOPK AS DOUBLE), 6) AS recall
         |FROM j ORDER BY query_id""".stripMargin,

    // Mirrors Similarity.hardNegativeMining: top-k CTEs give the ranked
    // neighbors; rank 1 is the positive, ranks 2..k are scored against
    // it (same dot spelling, same product order) and labeled by the
    // shared thresholds.
    "q_sim_hard_negatives" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes,
         |${hardNegSqlTail("r")}""".stripMargin,

    // The same mining/labeling tail over the IVF index ranking —
    // mirrors Similarity.hardNegativeMiningIvf (retrieval from the
    // index candidate path instead of the brute-force scan).
    "q_sim_hard_negatives_ann" ->
      s"""WITH $normalizedCte,
         |$ivfCtes,
         |${hardNegSqlTail("ir")}""".stripMargin,

    // Mirrors Similarity.chunkPooledEmbeddings: zipped parallel unnest
    // for (pos, x), DECIMAL(38,12)-exact per-dim sums with one division,
    // dim-ordered list re-assembly, the shared sequential-fold dot.
    "q_sim_chunk_pool" ->
      s"""WITH $normalizedCte,
         |cg AS (SELECT vec_id, vec_id // $CHUNK_GROUP AS group_id, v FROM e),
         |cd AS (SELECT group_id,
         |              unnest(range(0, len(v))) AS pos,
         |              unnest(v) AS x
         |       FROM cg),
         |pm AS (SELECT group_id, pos,
         |              ${Num.dsumAtSql("x", 12)} / count(*) AS m
         |       FROM cd GROUP BY group_id, pos),
         |pv AS (SELECT group_id, list(m ORDER BY pos) AS p
         |       FROM pm GROUP BY group_id),
         |f0 AS (SELECT group_id, min(vec_id) AS vec_id FROM cg GROUP BY group_id),
         |fv AS (SELECT group_id, v AS v0 FROM f0 JOIN cg USING (group_id, vec_id)),
         |nc AS (SELECT group_id, count(*) AS n_chunks FROM cg GROUP BY group_id),
         |fin AS (SELECT group_id, sqrt(${dotSql("p", "p")}) AS nrm,
         |               ${dotSql("p", "v0")} AS d0
         |        FROM pv JOIN fv USING (group_id))
         |SELECT group_id, n_chunks,
         |       round(nrm, 6) AS pooled_norm,
         |       CASE WHEN nrm > 0 THEN round(d0 / nrm, 6) ELSE 0.0 END
         |         AS first_cosine
         |FROM fin JOIN nc USING (group_id)
         |ORDER BY group_id""".stripMargin,

    // Mirrors Similarity.rankingMetricsReport: the exact chain grades
    // relevance (rel = k−trn+1), the IVF chain is the graded ranking;
    // per-position contributions round to 6 BEFORE the DECIMAL-exact
    // per-query sums, log2 spelled ln(x)/ln(2) on both engines.
    "q_sim_ranking_metrics" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes,
         |$ivfCtes,
         |rm_tk AS (SELECT query_id, rn AS trn, vec_id FROM r WHERE rn <= $TOPK),
         |rm_ak AS (SELECT query_id, rn AS arn, vec_id FROM ir WHERE rn <= $TOPK),
         |rm_con AS (
         |  SELECT rm_ak.query_id,
         |         round(coalesce(CAST($TOPK - rm_tk.trn + 1 AS DOUBLE), 0.0)
         |               / (ln(rm_ak.arn + 1) / ln(2)), 6) AS c,
         |         CASE WHEN rm_tk.trn = 1 THEN round(1.0 / rm_ak.arn, 6)
         |              ELSE 0.0 END AS rr1
         |  FROM rm_ak LEFT JOIN rm_tk ON rm_ak.query_id = rm_tk.query_id
         |                            AND rm_ak.vec_id = rm_tk.vec_id),
         |rm_dcg AS (SELECT query_id, round(${Num.dsumSql("c")}, 6) AS dcg,
         |                  max(rr1) AS rr
         |           FROM rm_con GROUP BY query_id),
         |rm_idcg AS (SELECT query_id, round(${Num.dsumSql(
               s"round(CAST($TOPK - trn + 1 AS DOUBLE) / (ln(trn + 1) / ln(2)), 6)")}, 6) AS idcg
         |            FROM rm_tk GROUP BY query_id)
         |SELECT query_id,
         |       coalesce(rr, 0.0) AS rr,
         |       coalesce(rm_dcg.dcg, 0.0) AS dcg,
         |       idcg,
         |       round(coalesce(rm_dcg.dcg, 0.0) / idcg, 6) AS ndcg
         |FROM rm_idcg LEFT JOIN rm_dcg USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // Recall of the index-mined negative set (ranks 2..k of the IVF
    // ranking) against the exact miner's, per query — mirrors
    // Similarity.hardNegativeRecallReport (LEFT JOIN keeps queries the
    // index missed entirely at recall 0; k−1 candidates per query).
    "q_sim_hn_recall" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes,
         |$ivfCtes,
         |tneg AS (SELECT query_id, vec_id FROM r
         |         WHERE rn >= 2 AND rn <= $TOPK),
         |aneg AS (SELECT query_id, vec_id FROM ir
         |         WHERE rn >= 2 AND rn <= $TOPK),
         |hj AS (SELECT tneg.query_id,
         |              CAST(sum(CASE WHEN aneg.vec_id IS NULL THEN 0 ELSE 1 END)
         |                   AS BIGINT) AS n_hits
         |       FROM tneg LEFT JOIN aneg ON tneg.query_id = aneg.query_id
         |                               AND tneg.vec_id = aneg.vec_id
         |       GROUP BY tneg.query_id)
         |SELECT query_id, n_hits,
         |       round(n_hits / CAST(${TOPK - 1} AS DOUBLE), 6) AS recall
         |FROM hj ORDER BY query_id""".stripMargin,

    // Truncate to the first TRUNC_DIMS dims, renormalize, re-run the
    // same exact top-k, score hits against the full-dim truth — the
    // oracle mirror of Similarity.truncationRecallReport.
    "q_sim_truncation_recall" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes,
         |$truncCtes
         |SELECT query_id, n_hits,
         |       round(n_hits / CAST($TOPK AS DOUBLE), 6) AS recall
         |FROM j2 ORDER BY query_id""".stripMargin,

    // Joins the two existing CTE families: mean truncation recall (the
    // exact per-query recalls, decimal-exact averaged) alongside the
    // top-PC explained-variance probe — mirrors the Spark composition
    // in q_sim_trunc_explained (truncationRecallReport ⨯ pcaExplained).
    "q_sim_trunc_explained" ->
      s"""WITH $pcaCtes,
         |tv AS (SELECT round(${Num.dsumSql("cv * cv")} /
         |                    (SELECT count(DISTINCT vec_id) FROM c), 6)
         |         AS total_var FROM c),
         |$cosineTopKCtes,
         |$truncCtes,
         |rec AS (SELECT round(
         |          ${Num.dsumSql(s"round(n_hits / CAST($TOPK AS DOUBLE), 6)")}
         |          / count(*), 6) AS avg_recall FROM j2)
         |SELECT CAST($TRUNC_DIMS AS BIGINT) AS keep_dims, avg_recall,
         |       round(CAST(lambda AS DOUBLE), 6) AS lambda,
         |       round(CAST(total_var AS DOUBLE), 6) AS total_var,
         |       round(CAST(lambda AS DOUBLE) / CAST(total_var AS DOUBLE), 6)
         |         AS explained_ratio
         |FROM l, tv, rec""".stripMargin,

    // Same md5→uniform arithmetic as Sampling.uniformOf; the CASE
    // cascade evaluates the rates in the same (reverse-fold) priority.
    "q_text_stratified_sample" -> {
      val rateCase = SAMPLE_RATES.reverse
        .map { case (k, v) => s"WHEN lang = '$k' THEN $v" }
        .mkString("CASE ", " ", s" ELSE $SAMPLE_DEFAULT END")
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Sampling.uniformSql("doc_id")} < $rateCase
         |ORDER BY doc_id""".stripMargin
    },

    "q_text_bpe_candidates" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS pair
        |      FROM w, unnest(range(1, len(ws))) t(i)),
        |c AS (SELECT pair, count(*) AS n FROM b GROUP BY pair),
        |r AS (SELECT pair, n,
        |             CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rn
        |      FROM c)
        |SELECT rn, pair, n FROM r WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // Same mining CTEs as q_text_bpe_candidates, then the same greedy
    // left-to-right fold as TextAnalysis.bpeEncode: the outer reduce
    // walks the rank-ordered merges (each wrapped as a 1-element list so
    // the accumulator type unifies), the inner reduce applies one merge
    // pass over the token list.
    "q_text_bpe_encode" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS pair
        |      FROM w, unnest(range(1, len(ws))) t(i)),
        |c AS (SELECT pair, count(*) AS n FROM b GROUP BY pair),
        |r AS (SELECT pair, n,
        |             CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rn
        |      FROM c),
        |m AS (SELECT list(pair ORDER BY rn) AS merges FROM r WHERE rn <= 10),
        |e AS (SELECT doc_id, string_split(text, ' ') AS toks0, merges
        |      FROM documents, m),
        |enc AS (
        |  SELECT doc_id, toks0,
        |    list_reduce(
        |      list_prepend(toks0, list_transform(merges, mm -> [mm])),
        |      (acc, x) -> list_reduce(
        |        list_prepend(CAST([] AS VARCHAR[]), list_transform(acc, t -> [t])),
        |        (o, te) -> CASE
        |          WHEN len(o) > 0 AND o[-1] = string_split(x[1], ' ')[1]
        |               AND te[1] = string_split(x[1], ' ')[2]
        |          THEN list_append(o[1:len(o)-1], x[1])
        |          ELSE list_append(o, te[1]) END)
        |    ) AS toks
        |  FROM e)
        |SELECT doc_id, CAST(len(toks0) AS BIGINT) AS ws_tokens,
        |       CAST(len(toks) AS BIGINT) AS bpe_tokens,
        |       round(CAST(len(toks) AS DOUBLE) / len(toks0), 6) AS compression,
        |       md5(array_to_string(toks, '|')) AS encoded_md5
        |FROM enc ORDER BY doc_id""".stripMargin,

    // Iterative BPE training, unrolled round for round (the kmeans
    // generated-oracle pattern): each round re-counts adjacent pairs
    // over the CURRENT tokenization, picks the argmax rule with the
    // shared (count desc, left asc, right asc) tie-break, and applies
    // it with the same greedy left-to-right single-pass fold as
    // q_text_bpe_encode — rule sides are carried as separate columns
    // because from round 2 on a side is a learned symbol CONTAINING
    // spaces.
    "q_text_bpe_train" -> {
      val roundCtes = (1 to BPE_TRAIN_ROUNDS).map { r =>
        val prev = s"t${r - 1}"
        s"""p$r AS (SELECT toks[CAST(i AS INT)] AS l, toks[CAST(i + 1 AS INT)] AS r_,
           |            count(*) AS n
           |      FROM $prev, unnest(range(1, len(toks))) u(i) GROUP BY 1, 2),
           |r$r AS (SELECT l, r_, n FROM p$r ORDER BY n DESC, l ASC, r_ ASC LIMIT 1),
           |t$r AS (SELECT doc_id,
           |    list_reduce(
           |      list_prepend(CAST([] AS VARCHAR[]), list_transform(toks, t -> [t])),
           |      (o, te) -> CASE WHEN len(o) > 0 AND o[-1] = rl AND te[1] = rr
           |                 THEN list_append(o[1:len(o)-1], rl || ' ' || rr)
           |                 ELSE list_append(o, te[1]) END) AS toks
           |  FROM (SELECT doc_id, toks, r$r.l AS rl, r$r.r_ AS rr FROM $prev, r$r))""".stripMargin
      }.mkString(",\n")
      val unions = (1 to BPE_TRAIN_ROUNDS).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round, l || ' ' || r_ AS merge_rule,
           |       n AS pair_n,
           |       (SELECT CAST(sum(len(toks)) AS BIGINT) FROM t$r) AS tokens_after
           |FROM r$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |$roundCtes
         |$unions
         |ORDER BY round""".stripMargin
    },

    "q_text_split_report" ->
      s"""WITH s AS (
         |  SELECT lang,
         |         CASE WHEN ${Sampling.uniformSql("doc_id")} < 0.8 THEN 'train'
         |              WHEN ${Sampling.uniformSql("doc_id")} < 0.9 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents)
         |SELECT lang, split, count(*) AS n_docs
         |FROM s GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin,

    "q_sim_retrieve_text" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes,
         |k AS (SELECT query_id, rn, vec_id, cosine FROM r WHERE rn <= $TOPK)
         |SELECT query_id, rn, vec_id, cosine, md5(text) AS text_md5
         |FROM k JOIN documents ON doc_id = vec_id
         |ORDER BY query_id, rn""".stripMargin,

    "q_text_above_group_median" ->
      """WITH q AS (SELECT doc_id, lang,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |           FROM documents),
        |m AS (SELECT lang, quantile_cont(n_words, 0.5) AS median_words
        |      FROM q GROUP BY lang)
        |SELECT doc_id, q.lang, n_words, round(median_words, 6) AS med
        |FROM q JOIN m ON q.lang = m.lang
        |WHERE n_words > median_words
        |ORDER BY doc_id""".stripMargin,

    "q_text_entropy" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |       round(ln(sum(tf)) - ${Num.dsumSql("tf * ln(tf)")} / sum(tf), 6) AS entropy
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_pii_scrub" -> {
      val cardCase = PII_CARDS.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN '$c'" }
        .mkString(s"CASE doc_id % ${PII_CARDS.size} ", " ", " END")
      val raw = "(text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or call 555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.0.' || CAST(doc_id % 100 AS VARCHAR) || " +
        "' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        s"' card ' || $cardCase)"
      s"""SELECT doc_id, ${TextAnalysis.scrubPiiSql(raw)} AS scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_text_seq_pack" ->
      s"""WITH $seqPackCtes
         |SELECT doc_id, lang, shard, n_words, seq_no
         |FROM p ORDER BY doc_id""".stripMargin,

    "q_text_pack_efficiency" ->
      s"""WITH $seqPackCtes
         |SELECT lang,
         |       CAST(count(DISTINCT shard || ':' || seq_no) AS BIGINT) AS n_seqs,
         |       CAST(sum(n_words) AS BIGINT) AS total_tokens,
         |       CAST(count(DISTINCT shard || ':' || seq_no) * $SEQ_LEN AS BIGINT)
         |         AS capacity,
         |       round(sum(n_words) /
         |             (count(DISTINCT shard || ':' || seq_no) * $SEQ_LEN), 6)
         |         AS fill_ratio
         |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs,
         |         round(pow(count(*), $TEMP_TAU), 6) AS w_raw
         |  FROM documents GROUP BY source),
         |z AS (
         |  SELECT list_reduce(list_prepend(0.0, list_sort(list(w_raw))),
         |                     (a, b) -> a + b) AS z,
         |         CAST(sum(n_docs) AS BIGINT) AS total_docs
         |  FROM c)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |       round(w_raw / z, 6) AS weight,
         |       round(w_raw / z * total_docs / n_docs, 6) AS sample_rate
         |FROM c, z ORDER BY source""".stripMargin,

    // Mirrors TextAnalysis.epochPlan: the temperature-mix CTE plus
    // per-source token sums; target is exact (6-dp weight × 1e7-multiple
    // budget → integer×10 in doubles), epochs one IEEE division.
    "q_text_epoch_plan" ->
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs,
         |         round(pow(count(*), $TEMP_TAU), 6) AS w_raw,
         |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
         |  FROM documents GROUP BY source),
         |z AS (
         |  SELECT list_reduce(list_prepend(0.0, list_sort(list(w_raw))),
         |                     (a, b) -> a + b) AS z
         |  FROM c)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |       round(w_raw / z, 6) AS weight,
         |       avail_tokens,
         |       CAST(round(round(w_raw / z, 6) * $TOKEN_BUDGET, 0) AS BIGINT)
         |         AS target_tokens,
         |       round(round(w_raw / z, 6) * $TOKEN_BUDGET / avail_tokens, 6)
         |         AS epochs
         |FROM c, z ORDER BY source""".stripMargin,

    // Mirrors TextAnalysis.globalShuffle: same md5-derived 60-bit key,
    // same shard mod, same in-shard (key, doc_id) rank.
    "q_text_global_shuffle" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ${Hashing.md5LongSql("CAST(doc_id AS VARCHAR)")} AS skey
         |  FROM documents),
         |s AS (SELECT doc_id, skey, skey % $SHARDS AS shard FROM t)
         |SELECT doc_id, shard,
         |       CAST(row_number() OVER (PARTITION BY shard
         |            ORDER BY skey ASC, doc_id ASC) AS BIGINT) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin,

    // Mirrors TextAnalysis.lengthBucketBatches: same double floor for
    // the bucket and batch, same md5 shard, exact-integer fill ratio.
    "q_text_length_batches" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         (${Hashing.md5ModSql("CAST(doc_id AS VARCHAR)")} % $SHARDS) AS shard
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, n_tokens, shard,
         |         CAST(floor(n_tokens / $BUCKET_WIDTH.0) * $BUCKET_WIDTH AS BIGINT)
         |           AS bucket
         |  FROM t),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY bucket, shard
         |            ORDER BY doc_id) AS rn
         |  FROM b),
         |a AS (
         |  SELECT bucket, shard,
         |         CAST(floor((rn - 1) / $BATCH_SIZE.0) AS BIGINT) AS batch_no,
         |         count(*) AS n_docs,
         |         max(n_tokens) AS max_tokens,
         |         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |  FROM r GROUP BY bucket, shard, batch_no)
         |SELECT bucket, shard, batch_no, n_docs, max_tokens, sum_tokens,
         |       round(CAST(sum_tokens AS DOUBLE)
         |             / CAST(n_docs * max_tokens AS DOUBLE), 6) AS fill_ratio
         |FROM a ORDER BY bucket, shard, batch_no""".stripMargin,

    "q_text_seq_materialize" ->
      s"""WITH $seqPackCtes
         |SELECT p.lang, shard, seq_no, count(*) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS seq_tokens,
         |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
         |FROM p JOIN documents USING (doc_id)
         |GROUP BY p.lang, shard, seq_no
         |ORDER BY p.lang, shard, seq_no""".stripMargin,

    "q_text_repetition" ->
      s"""WITH sh AS ($sh),
         |t AS (SELECT doc_id,
         |             CAST(greatest(len(string_split(text, ' ')) - 2, 1) AS BIGINT) AS n_grams
         |      FROM documents),
         |ds AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_distinct,
         |       round(1.0 - n_distinct / n_grams, 6) AS repetition
         |FROM t JOIN ds USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_text_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |         greatest(CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT),
        |                  CAST(1 AS BIGINT)) AS n_sentences,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents),
        |f AS (SELECT doc_id, n_words, n_sentences, n_syllables,
        |             round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |                           - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
        |      FROM m)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
        |       CASE WHEN flesch >= 60 THEN 'easy'
        |            WHEN flesch >= 30 THEN 'medium'
        |            ELSE 'hard' END AS bucket
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_chunks" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, ws,
         |             unnest(range(0, CAST(floor((len(ws) - 1) / $CHUNK_S.0) AS BIGINT) + 1)) AS i
         |      FROM w)
         |SELECT doc_id, i + 1 AS chunk_no,
         |       array_to_string(ws[CAST(i * $CHUNK_S + 1 AS INT):CAST(i * $CHUNK_S + $CHUNK_W AS INT)], ' ') AS chunk_text,
         |       CAST(len(ws[CAST(i * $CHUNK_S + 1 AS INT):CAST(i * $CHUNK_S + $CHUNK_W AS INT)]) AS BIGINT) AS n_chunk_words
         |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    // Replays the DSIR scoring pipeline: hashed-unigram histograms for
    // target (en) and raw, add-1 smoothed log ratio per bucket
    // quantized to integer micro-units (floor(ln·1e6 + 0.5) — ≤ DSIR_B
    // ln calls total, so libm-ULP exposure is bounded), exact integer
    // per-doc sums, then the mean-per-token score.
    "q_text_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang,
         |                     unnest(string_split(text, ' ')) AS word
         |              FROM documents),
         |tb AS (SELECT doc_id, lang,
         |              ${graft.functions.Hashing.md5LongSql("word")} % $DSIR_B AS b
         |       FROM toks),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
         |        WHERE lang = '$DSIR_TARGET' GROUP BY b),
         |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS tr,
         |               CAST(sum(CASE WHEN lang = '$DSIR_TARGET' THEN 1
         |                             ELSE 0 END) AS BIGINT) AS tt
         |        FROM tb),
         |feat AS (SELECT r.b,
         |                CAST(floor(ln(((coalesce(t.ct, 0) + 1.0)
         |                               / (tot.tt + $DSIR_B.0))
         |                              / ((r.cr + 1.0) / (tot.tr + $DSIR_B.0)))
         |                           * 1000000.0 + 0.5) AS BIGINT) AS micro
         |         FROM raw r LEFT JOIN tgt t USING (b), tot),
         |d AS (SELECT tb.doc_id, tb.lang,
         |             CAST(sum(f.micro) AS BIGINT) AS sm,
         |             CAST(count(*) AS BIGINT) AS n_tokens
         |      FROM tb JOIN feat f USING (b) GROUP BY tb.doc_id, tb.lang)
         |SELECT doc_id, lang, n_tokens,
         |       CAST(floor(sm / CAST(n_tokens AS DOUBLE) + 0.5) AS BIGINT)
         |         / 1000000.0 AS dsir_score,
         |       CAST(CASE WHEN sm > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM d ORDER BY doc_id""".stripMargin,

    // Replays the KMV pipeline exactly: distinct (source, word) →
    // portable md5 hashes → k smallest per source → pairwise union-k →
    // common-membership count; the estimate is deterministic, so every
    // column (sketch estimate included) is hash-checked — plus the
    // exact-Jaccard audit columns from the word-keyed intersection.
    "q_text_source_overlap" ->
      s"""WITH $kmvRankCtes,
         |sk AS (SELECT source, h FROM rk WHERE rn <= $KMV_K),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |pr AS (SELECT a.source AS source_a, b.source AS source_b
         |       FROM srcs a JOIN srcs b ON a.source < b.source),
         |u AS (SELECT p.source_a, p.source_b, s.h
         |      FROM pr p JOIN sk s ON s.source = p.source_a
         |      UNION
         |      SELECT p.source_a, p.source_b, s.h
         |      FROM pr p JOIN sk s ON s.source = p.source_b),
         |ur AS (SELECT source_a, source_b, h,
         |              row_number() OVER (PARTITION BY source_a, source_b
         |                                 ORDER BY h) AS rn
         |       FROM u),
         |uk AS (SELECT source_a, source_b, h FROM ur WHERE rn <= $KMV_K),
         |cm AS (SELECT u.source_a, u.source_b,
         |              CAST(count(*) AS BIGINT) AS union_k,
         |              CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
         |                            THEN 1 ELSE 0 END) AS BIGINT) AS n_common_kmv
         |       FROM uk u
         |       LEFT JOIN sk sa ON sa.source = u.source_a AND sa.h = u.h
         |       LEFT JOIN sk sb ON sb.source = u.source_b AND sb.h = u.h
         |       GROUP BY u.source_a, u.source_b),
         |sz AS (SELECT source, count(*) AS n FROM w GROUP BY source),
         |iv AS (SELECT wa.source AS source_a, wb.source AS source_b,
         |              count(*) AS n_inter
         |       FROM w wa JOIN w wb ON wa.word = wb.word
         |                          AND wa.source < wb.source
         |       GROUP BY 1, 2)
         |SELECT c.source_a, c.source_b, c.n_common_kmv, c.union_k,
         |       round(c.n_common_kmv / CAST(c.union_k AS DOUBLE), 6)
         |         AS jaccard_kmv,
         |       round(coalesce(iv.n_inter, 0)
         |             / CAST(sa.n + sb.n - coalesce(iv.n_inter, 0) AS DOUBLE), 6)
         |         AS jaccard_exact
         |FROM cm c
         |LEFT JOIN iv USING (source_a, source_b)
         |JOIN sz sa ON sa.source = c.source_a
         |JOIN sz sb ON sb.source = c.source_b
         |ORDER BY source_a, source_b""".stripMargin,

    // Same signal constants as the gopher oracle, same pairs chain as
    // the jaccard oracle; dup membership via EXISTS (NULL-safe).
    "q_text_source_report" ->
      s"""WITH $jaccardPairCtes,
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM pairs
         |  UNION ALL SELECT doc_b AS doc_id FROM pairs) u),
         |s AS (
         |  ${gopherSignalsSql(" source,")}),
         |p AS (
         |  SELECT doc_id, source, n_words AS ws_tokens,
         |         $gopherPassCase AS passes,
         |         CASE WHEN EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = s.doc_id)
         |          THEN 1 ELSE 0 END AS is_dup
         |  FROM s)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
         |       round(sum(passes) / count(*), 6) AS gopher_pass_rate,
         |       CAST(sum(is_dup) AS BIGINT) AS dup_docs,
         |       round(sum(is_dup) / count(*), 6) AS dup_rate
         |FROM p GROUP BY source ORDER BY source""".stripMargin,

    // Same parenthesization as the Spark expression tree — every factor
    // is exact (integer counts, one-division avgdl), so both engines
    // compute identical doubles; term sum decimal-stable, score rounded
    // to 6 before ranking. CTE chain shared with the hybrid-RRF oracle.
    "q_text_bm25" ->
      s"""WITH $bm25RankedCtes
         |SELECT rn, doc_id, score FROM br WHERE rn <= $BM25_K ORDER BY rn""".stripMargin,

    // RRF = Σ 1/(C + rank) over the two bounded rankings (absent list →
    // 0); both rank chains are the SAME CTE spellings as their
    // standalone oracles, the fusion re-rank tie-breaks on doc_id like
    // the bounded aggregator.
    "q_sim_hybrid_rrf" ->
      s"""WITH $bm25RankedCtes,
         |$normalizedCte,
         |cq AS (SELECT v AS qv FROM e WHERE vec_id = $RRF_QVEC),
         |csc AS (SELECT e.vec_id, round(${dotSql("qv", "v")}, 6) AS cosine
         |        FROM cq, e WHERE e.vec_id <> $RRF_QVEC),
         |cr AS (SELECT vec_id, cosine,
         |              CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
         |       FROM csc),
         |f AS (SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id,
         |             b.rn AS bm25_rn, c.rn AS cosine_rn,
         |             round(COALESCE(1.0 / ($RRF_C + b.rn), 0.0) +
         |                   COALESCE(1.0 / ($RRF_C + c.rn), 0.0), 6) AS rrf
         |      FROM (SELECT * FROM br WHERE rn <= $BM25_K) b
         |      FULL JOIN (SELECT * FROM cr WHERE rn <= $BM25_K) c
         |        ON b.doc_id = c.vec_id),
         |fr AS (SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rn,
         |              doc_id, rrf, bm25_rn, cosine_rn
         |       FROM f)
         |SELECT rn, doc_id, rrf, bm25_rn, cosine_rn FROM fr
         |WHERE rn <= $BM25_K ORDER BY rn""".stripMargin,

    // The SAME plane literals the LSH oracles embed, used densely:
    // praw_i = fold-dot(v, plane_i) in p_id order, re-normalized, then
    // cosine over the (vec_id, vec_id + step) equi-pair sample. Every
    // dot is the sequential fold, so both engines branch and round
    // identically.
    "q_sim_random_projection" -> {
      val planeVals = planesValuesSql(Similarity.hyperplanes(RP_PLANES, DIM))
      s"""WITH $normalizedCte,
         |planes(p_id, p) AS (VALUES
         |    $planeVals),
         |pr AS (SELECT vec_id, list(${dotSql("v", "p")} ORDER BY p_id) AS praw
         |       FROM e, planes GROUP BY vec_id),
         |pn AS (SELECT vec_id, ${l2NormSql("praw")} AS pv FROM pr),
         |j AS (SELECT vec_id, v, pv FROM e JOIN pn USING (vec_id)),
         |ja AS (SELECT vec_id AS vec_a, v AS va, pv AS pa FROM j),
         |jb AS (SELECT vec_id AS vec_b, v AS vb, pv AS pb FROM j),
         |pairs AS (SELECT vec_a, vec_b,
         |                 round(${dotSql("va", "vb")}, 6) AS cos_orig,
         |                 round(${dotSql("pa", "pb")}, 6) AS cos_proj
         |          FROM ja JOIN jb ON vec_b = vec_a + $RP_STEP)
         |SELECT vec_a, vec_b, cos_orig, cos_proj,
         |       round(abs(cos_proj - cos_orig), 6) AS abs_err
         |FROM pairs ORDER BY vec_a""".stripMargin
    },

    // The log argument is a ratio of exact integer products (cast to
    // double before the multiply, same as the Spark side); terms
    // decimal-stable-summed, divergence rounded to 6.
    "q_text_kl_drift" ->
      s"""WITH w AS (SELECT lang, (doc_id % 2 = 1) AS is_b,
         |                  unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |cnt AS (SELECT lang, word,
         |               count(*) FILTER (WHERE NOT is_b) AS ca,
         |               count(*) FILTER (WHERE is_b) AS cb
         |        FROM w GROUP BY lang, word),
         |tot AS (SELECT lang, CAST(sum(ca) AS BIGINT) AS ta,
         |               CAST(sum(cb) AS BIGINT) AS tb, count(*) AS v
         |        FROM cnt GROUP BY lang),
         |t AS (SELECT lang, ta, tb, v,
         |             (ca + 1) * ln((CAST(ca + 1 AS DOUBLE) * (tb + v)) /
         |                           (CAST(cb + 1 AS DOUBLE) * (ta + v))) AS t_ab,
         |             (cb + 1) * ln((CAST(cb + 1 AS DOUBLE) * (ta + v)) /
         |                           (CAST(ca + 1 AS DOUBLE) * (tb + v))) AS t_ba
         |      FROM cnt JOIN tot USING (lang))
         |SELECT lang, v AS n_vocab, ta AS tokens_a, tb AS tokens_b,
         |       round(${Num.dsumSql("t_ab")} / (ta + v), 6) AS kl_ab,
         |       round(${Num.dsumSql("t_ba")} / (tb + v), 6) AS kl_ba
         |FROM t GROUP BY lang, ta, tb, v ORDER BY lang""".stripMargin,

    // Mirrors TextAnalysis.waveDriftReport: whole-corpus reference
    // histogram expanded per md5-assigned wave, full-outer union vocab,
    // then the exact same smoothed-KL tail as the q_text_kl_drift
    // oracle keyed by (wave, lang).
    "q_st_drift_monitor" ->
      s"""WITH w AS (SELECT (${Hashing.md5ModSql("CAST(doc_id AS VARCHAR)")}
         |                   % $DRIFT_WAVES) AS wave, lang,
         |                  unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |wh AS (SELECT wave, lang, word, count(*) AS cb
         |       FROM w GROUP BY wave, lang, word),
         |rw AS (SELECT lang, unnest(string_split(text, ' ')) AS word
         |       FROM documents),
         |rh AS (SELECT lang, word, count(*) AS ca FROM rw GROUP BY lang, word),
         |wv AS (SELECT DISTINCT wave FROM wh),
         |ra AS (SELECT wave, lang, word, ca FROM rh, wv),
         |cnt AS (SELECT wave, lang, word,
         |               coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         |        FROM ra FULL OUTER JOIN wh USING (wave, lang, word)),
         |tot AS (SELECT wave, lang, CAST(sum(ca) AS BIGINT) AS ta,
         |               CAST(sum(cb) AS BIGINT) AS tb, count(*) AS v
         |        FROM cnt GROUP BY wave, lang),
         |t AS (SELECT wave, lang, ta, tb, v,
         |             (ca + 1) * ln((CAST(ca + 1 AS DOUBLE) * (tb + v)) /
         |                           (CAST(cb + 1 AS DOUBLE) * (ta + v))) AS t_ab,
         |             (cb + 1) * ln((CAST(cb + 1 AS DOUBLE) * (ta + v)) /
         |                           (CAST(ca + 1 AS DOUBLE) * (tb + v))) AS t_ba
         |      FROM cnt JOIN tot USING (wave, lang))
         |SELECT wave, lang, v AS n_vocab, ta AS tokens_a, tb AS tokens_b,
         |       round(${Num.dsumSql("t_ab")} / (ta + v), 6) AS kl_ab,
         |       round(${Num.dsumSql("t_ba")} / (tb + v), 6) AS kl_ba
         |FROM t GROUP BY wave, lang, ta, tb, v ORDER BY wave, lang""".stripMargin,

    // Same exact-integer-product ln arguments as the KL oracle; the
    // two half-divergences are decimal-summed and averaged before the
    // 6-dp round.
    "q_text_js_drift" ->
      s"""WITH w AS (SELECT lang, (doc_id % 2 = 1) AS is_b,
         |                  unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |cnt AS (SELECT lang, word,
         |               count(*) FILTER (WHERE NOT is_b) AS ca,
         |               count(*) FILTER (WHERE is_b) AS cb
         |        FROM w GROUP BY lang, word),
         |tot AS (SELECT lang, CAST(sum(ca) AS BIGINT) AS ta,
         |               CAST(sum(cb) AS BIGINT) AS tb, count(*) AS v
         |        FROM cnt GROUP BY lang),
         |t AS (SELECT lang, ta, tb, v,
         |             (ca + 1) * ln(2.0 * (CAST(ca + 1 AS DOUBLE) * (tb + v)) /
         |                           ((CAST(ca + 1 AS DOUBLE) * (tb + v)) +
         |                            (CAST(cb + 1 AS DOUBLE) * (ta + v)))) AS t_a,
         |             (cb + 1) * ln(2.0 * (CAST(cb + 1 AS DOUBLE) * (ta + v)) /
         |                           ((CAST(ca + 1 AS DOUBLE) * (tb + v)) +
         |                            (CAST(cb + 1 AS DOUBLE) * (ta + v)))) AS t_b
         |      FROM cnt JOIN tot USING (lang))
         |SELECT lang, v AS n_vocab, ta AS tokens_a, tb AS tokens_b,
         |       round((${Num.dsumSql("t_a")} / (ta + v) +
         |              ${Num.dsumSql("t_b")} / (tb + v)) / 2.0, 6) AS js
         |FROM t GROUP BY lang, ta, tb, v ORDER BY lang""".stripMargin,

    // Score rounded to 6 BEFORE ranking on both engines (ln ulps must
    // not decide a rank).
    "q_text_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tf.word, tf,
        |             round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score
        |      FROM tf JOIN df ON tf.word = df.word, n),
        |r AS (SELECT doc_id, word, tf, score,
        |             CAST(row_number() OVER (PARTITION BY doc_id
        |                  ORDER BY score DESC, word ASC) AS BIGINT) AS rn
        |      FROM s)
        |SELECT doc_id, rn, word, tf, score FROM r
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q_sim_cosine_topk" ->
      s"""WITH $normalizedCte,
         |$cosineTopKCtes
         |SELECT query_id, rn, vec_id, cosine FROM r
         |WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin,

    "q_text_quality" ->
      s"""SELECT doc_id,
         |       CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |       CAST(length(replace(text, ' ', '')) AS BIGINT)
         |         / CAST(len(string_split(text, ' ')) AS BIGINT) AS avg_word_len,
         |       ${wordsFilterSql(TextAnalysis.stopwords)}
         |         / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio,
         |       CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_gopher_quality" ->
      s"""WITH s AS (
         |  ${gopherSignalsSql("")})
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop, symbol_ratio,
         |       CAST($gopherPassCase AS BIGINT) AS passes
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_line_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |seg AS (
         |  SELECT doc_id, i AS seg_no,
         |         array_to_string(ws[CAST(i * $LINE_W + 1 AS INT):CAST(i * $LINE_W + $LINE_W AS INT)], ' ') AS seg
         |  FROM w, unnest(range(0, CAST(floor((len(ws) - 1) / $LINE_W.0) AS BIGINT) + 1)) t(i)),
         |hot AS (SELECT seg FROM seg GROUP BY seg
         |        HAVING count(DISTINCT doc_id) > $LINE_MAX_DOCS),
         |kept AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         string_agg(seg, ' ' ORDER BY seg_no) AS kept_text
         |  FROM seg s WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.seg = s.seg)
         |  GROUP BY doc_id)
         |SELECT doc_id,
         |       CAST(floor((len(string_split(text, ' ')) - 1) / $LINE_W.0) AS BIGINT) + 1 AS n_segs,
         |       COALESCE(n_kept, 0) AS n_kept,
         |       md5(COALESCE(kept_text, '')) AS kept_md5
         |FROM documents LEFT JOIN kept USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Same reverse-fold CASE priority as the stratified-sample oracle;
    // the fractional coin replays Sampling.uniformOf verbatim.
    "q_text_domain_mix" -> {
      val wCase = MIX_WEIGHTS.reverse
        .map { case (k, v) => s"WHEN source = '$k' THEN $v" }
        .mkString("CASE ", " ", s" ELSE $MIX_DEFAULT END")
      s"""WITH t AS (SELECT doc_id, source, $wCase AS w FROM documents),
         |c AS (SELECT doc_id, source,
         |             CAST(floor(w) + CASE WHEN ${Sampling.uniformSql("doc_id")} < w - floor(w)
         |                                  THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |      FROM t)
         |SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS copy_no
         |FROM c
         |ORDER BY doc_id, copy_no""".stripMargin
    },

    // Gram generation, duplicated-gram df gate, and gaps-and-islands
    // span merge spelled exactly like TextAnalysis.dupGramHits/dupSpans
    // (same 0-based starts, same md5'd gram text, same break-when-gap
    // > SPAN_N rule).
    "q_text_span_dedup" ->
      s"""WITH $dupSpanCtes
         |SELECT doc_id, CAST(min(start_i) AS BIGINT) AS span_start,
         |       CAST(max(start_i) + ${SPAN_N - 1} AS BIGINT) AS span_end,
         |       CAST(max(start_i) + $SPAN_N - min(start_i) AS BIGINT) AS span_words
         |FROM isl GROUP BY doc_id, isl_no
         |ORDER BY doc_id, span_start""".stripMargin,

    // Same deterministic decoration (combining marks by codepoint, so
    // this source file's own encoding can never leak into the oracle),
    // composed/stripped by DuckDB's utf8proc instead of the JVM
    // Normalizer — agreement is the check.
    "q_text_unicode_norm" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         array_to_string((string_split(text, ' '))[1:5], ' ') AS raw5
        |  FROM documents),
        |dec AS (
        |  SELECT doc_id, raw5,
        |         replace(replace(replace(replace(raw5,
        |           'a', 'a' || chr(769)), 'e', 'e' || chr(768)),
        |           'o', 'o' || chr(776)), 'n', 'n' || chr(771)) AS dec
        |  FROM base),
        |n AS (SELECT doc_id, raw5, dec, nfc_normalize(dec) AS nfc FROM dec)
        |SELECT doc_id,
        |       CAST(length(dec) AS BIGINT) AS dec_cp,
        |       CAST(length(nfc) AS BIGINT) AS nfc_cp,
        |       CAST(length(dec) - length(nfc) AS BIGINT) AS marks,
        |       nfc AS nfc_text,
        |       CAST(CASE WHEN strip_accents(nfc) = raw5 THEN 1 ELSE 0 END
        |            AS BIGINT) AS roundtrip_ok
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_text_dup_coverage" ->
      s"""WITH $dupSpanCtes,
         |sp AS (SELECT doc_id, max(start_i) + $SPAN_N - min(start_i) AS span_words
         |       FROM isl GROUP BY doc_id, isl_no),
         |dw AS (SELECT doc_id, sum(span_words) AS dup_words FROM sp GROUP BY doc_id)
         |SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |       CAST(COALESCE(dup_words, 0) AS BIGINT) AS dup_words,
         |       round(COALESCE(dup_words, 0) / len(string_split(text, ' ')), 6) AS dup_ratio
         |FROM documents LEFT JOIN dw USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |       CAST(length(text) AS BIGINT)
        |         / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         ${wordsFilterSql(TextAnalysis.stopwords)}
         |           / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
         |  FROM documents)
         |SELECT doc_id, n_words, stop_ratio FROM q
         |WHERE n_words >= 10 AND n_words <= 200 AND stop_ratio <= 0.25
         |ORDER BY doc_id""".stripMargin,

    "q_text_corpus_stats" ->
      """SELECT count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS total_bpe_tokens
        |FROM documents""".stripMargin,

    "q_text_langid" -> {
      val scores = TextAnalysis.langMarkers
        .map { case (l, ms) => s"${wordsFilterSql(ms)} AS s_$l" }
        .mkString(",\n       ")
      s"""WITH s AS (
         |  SELECT doc_id, lang AS actual_lang,
         |       $scores
         |  FROM documents)
         |SELECT doc_id, actual_lang, s_en, s_es, s_fr, s_de,
         |       CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |            WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         |            WHEN s_fr >= s_de THEN 'fr'
         |            ELSE 'de' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_text_lang_confusion" -> {
      val scores = TextAnalysis.langMarkers
        .map { case (l, ms) => s"${wordsFilterSql(ms)} AS s_$l" }
        .mkString(",\n       ")
      s"""WITH s AS (
         |  SELECT doc_id, lang AS actual_lang,
         |       $scores
         |  FROM documents),
         |p AS (
         |  SELECT actual_lang,
         |       CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |            WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         |            WHEN s_fr >= s_de THEN 'fr'
         |            ELSE 'de' END AS predicted_lang
         |  FROM s),
         |t AS (SELECT count(*) AS total FROM p)
         |SELECT actual_lang, predicted_lang, count(*) AS n,
         |       round(count(*) / (SELECT total FROM t), 6) AS share
         |FROM p GROUP BY actual_lang, predicted_lang
         |ORDER BY actual_lang, predicted_lang""".stripMargin
    },

    "q_text_fingerprint" ->
      s"""SELECT doc_id, ${poly31Sql("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_winnow" ->
      s"""WITH $winnowCtes
         |SELECT DISTINCT doc_id, pos, mh AS fp FROM winsel
         |ORDER BY doc_id, pos""".stripMargin,

    "q_text_winnow_pairs" ->
      s"""WITH $winnowCtes,
         |fps AS (SELECT DISTINCT doc_id, mh AS fp FROM winsel),
         |rare AS (
         |  SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY 1)
         |  WHERE df <= $WIN_MAX_DF),
         |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(count(*) AS BIGINT) AS shared_fp
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WIN_SHARED
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Same ASCII-text assumption as q_mm_decode (substr on text ==
    // substring on the UTF-8 payload bytes); frames = ⌊len/16⌋, sampled
    // indices 0, 4, 8, … — identical arithmetic both engines.
    "q_mm_frame_sample" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |         CAST(floor(strlen(text) / $FRAME_SIZE) AS BIGINT) AS n_frames
         |  FROM documents),
         |s AS (SELECT doc_id, text,
         |             unnest(range(0, CAST(floor((n_frames - 1) / $FRAME_STRIDE.0) AS BIGINT) + 1)) AS i
         |      FROM f WHERE n_frames > 0)
         |SELECT doc_id, i * $FRAME_STRIDE AS frame_no,
         |       md5(substr(text, CAST(i * ${FRAME_STRIDE * FRAME_SIZE} + 1 AS INT), $FRAME_SIZE)) AS frame_md5
         |FROM s ORDER BY doc_id, frame_no""".stripMargin,

    // Every-RESIZE_FACTOR-th-char mirror of the byte stride (ASCII
    // assumption as in q_mm_decode: one char == one byte).
    "q_mm_resize" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |         CAST(strlen(text) AS BIGINT) AS orig_len,
         |         array_to_string(
         |           list_transform(
         |             range(0, CAST(ceil(strlen(text) / $RESIZE_FACTOR.0) AS BIGINT)),
         |             i -> substr(text, CAST(i * $RESIZE_FACTOR + 1 AS INT), 1)), '') AS small
         |  FROM documents)
         |SELECT doc_id, orig_len,
         |       CAST(strlen(small) AS BIGINT) AS resized_len,
         |       md5(small) AS resized_md5
         |FROM r ORDER BY doc_id""".stripMargin,

    // NOTE: strlen (bytes) vs the Spark side's payload byte length, and
    // unicode(first char) vs first payload byte, agree only for ASCII
    // text — which the synthetic documents table guarantees. If non-ASCII
    // testdata ever lands, switch to octet_length(encode(text)) and a
    // byte-indexed first_byte on the oracle side.
    "q_mm_decode" ->
      """SELECT doc_id,
        |       CAST(strlen(text) AS BIGINT) AS payload_len,
        |       md5(text) AS payload_md5,
        |       CAST(unicode(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Replays Multimodal.ImageFixture's closed-form dimensions + gray
    // ramp: the Spark side measures these from PIXELS DECODED by
    // ImageIO, so equality here proves the PNG encode→decode round
    // trip (RGB PNGs decode with 3 raster bands).
    "q_mm_decode_real" ->
      """WITH d AS (SELECT doc_id,
        |                  8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM d, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y))
        |SELECT doc_id, w AS width, h AS height, CAST(3 AS BIGINT) AS channels,
        |       CAST(sum((doc_id + 31 * x + 7 * y) % 256) AS BIGINT) AS pixel_sum,
        |       CAST(sum(((doc_id + 31 * x + 7 * y) % 256) * (y * w + x + 1)) AS BIGINT)
        |         AS pixel_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // Replays the cross-modal alignment closed-form end to end: the
    // ALIGN_BINS-bin gray histogram from ImageFixture's pixel ramp (the
    // Spark side measures it from the ImageIO-DECODED raster), the
    // word-length histogram straight from the caption text, and the same
    // integer-sum cosine rounded once at 6 places. The image histogram
    // here is sparse (only bins with pixels); the Spark side's is dense,
    // so the dot term LEFT-joins and coalesces missing bins to 0 —
    // identical algebra. ASCII-only caveat shared with q_mm_decode
    // (strlen == char length only for ASCII, which the synthetic
    // documents table guarantees).
    "q_mm_text_image_align" ->
      s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
         |           FROM documents),
         |ih AS (SELECT doc_id,
         |              ((doc_id + 31 * x + 7 * y) % 256) // ${256 / ALIGN_BINS} AS bin,
         |              COUNT(*) AS ic
         |       FROM d, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)
         |       GROUP BY 1, 2),
         |tb AS (SELECT doc_id,
         |              least(greatest(strlen(w), 1), $ALIGN_BINS) - 1 AS bin,
         |              COUNT(*) AS tc
         |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |             FROM documents)
         |       GROUP BY 1, 2),
         |j AS (SELECT tb.doc_id,
         |             sum(tb.tc * coalesce(ih.ic, 0)) AS dot,
         |             sum(tb.tc * tb.tc) AS tn2
         |      FROM tb LEFT JOIN ih ON tb.doc_id = ih.doc_id AND tb.bin = ih.bin
         |      GROUP BY tb.doc_id),
         |n AS (SELECT doc_id, sum(ic * ic) AS in2 FROM ih GROUP BY doc_id),
         |a AS (SELECT j.doc_id,
         |             round(dot / sqrt(CAST(tn2 * n.in2 AS DOUBLE)), 6) AS align
         |      FROM j JOIN n ON j.doc_id = n.doc_id)
         |SELECT doc_id, align,
         |       CASE WHEN align >= $ALIGN_MIN THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS is_aligned
         |FROM a ORDER BY doc_id""".stripMargin,

    // Replays Multimodal.AudioFixture's closed-form PCM: the Spark side
    // measures rate/channels/bits/frames from the WAV header that
    // AudioSystem DECODED and the signal sums from the de-interleaved
    // decoded samples, so equality proves the RIFF/WAVE encode→decode
    // round trip (WAV PCM is lossless).
    "q_mm_audio_decode" ->
      """WITH p AS (SELECT doc_id,
        |                  CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
        |                       WHEN 2 THEN 16000 ELSE 22050 END AS sample_rate,
        |                  1 + doc_id % 2 AS channels,
        |                  64 + doc_id % 33 AS n_frames
        |           FROM documents),
        |s AS (SELECT doc_id, sample_rate, channels, n_frames, f, c,
        |             (doc_id * 131 + c * 17 + f * 37) % 65536 - 32768 AS s
        |      FROM p, unnest(range(0, n_frames)) tf(f),
        |              unnest(range(0, channels)) tc(c))
        |SELECT doc_id,
        |       CAST(sample_rate AS BIGINT) AS sample_rate,
        |       CAST(channels AS BIGINT) AS channels,
        |       CAST(16 AS BIGINT) AS bits,
        |       CAST(n_frames AS BIGINT) AS n_frames,
        |       CAST(sum(s) AS BIGINT) AS sample_sum,
        |       CAST(sum(s * s) AS BIGINT) AS energy,
        |       CAST(sum(s * (f * channels + c + 1)) AS BIGINT) AS sample_checksum
        |FROM s GROUP BY doc_id, sample_rate, channels, n_frames
        |ORDER BY doc_id""".stripMargin,

    // Replays Multimodal.VideoFixture's closed-form per-frame gray ramp
    // (the image ramp shifted 97·frame, mod 256): the Spark side
    // measures frame count from the DECODED GIF container and the
    // sums from DECODED palette-resolved pixels, so equality proves
    // the multi-frame encode→decode round trip (indexed GIF over the
    // 256-gray palette is lossless).
    "q_mm_video_frames" ->
      """WITH v AS (SELECT doc_id,
        |                  8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |                  3 + doc_id % 4 AS nf
        |           FROM documents),
        |fx AS (SELECT doc_id, w, h, nf, f, x, y,
        |              (doc_id + 97 * f + 31 * x + 7 * y) % 256 AS g
        |       FROM v, unnest(range(0, nf)) tf(f),
        |               unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y))
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(sum(g) AS BIGINT) AS pixel_sum,
        |       CAST(sum(g * (y * w + x + 1)) AS BIGINT) AS pixel_checksum
        |FROM fx GROUP BY doc_id, f, nf, w, h
        |ORDER BY doc_id, frame_no""".stripMargin,

    // Replays the audio fingerprint closed-form (base + trimmed-variant
    // clips): the same structured PCM the Spark side DECODES with
    // AudioSystem, the same band-energy/lower-median bit, the same
    // 4×16-bit words, ALL-PAIRS exact Hamming (the definition — the
    // Spark side's banded blocking is pigeonhole-lossless).
    "q_mm_audio_neardup" ->
      s"""WITH aud AS (
         |  SELECT doc_id * 2 AS clip_id, doc_id, 0 AS sil, 1 AS g FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, doc_id, 3, 1 FROM documents WHERE doc_id % 5 = 0),
         |$audioHashCtes,
         |${pairHammingCte("clip_id")}
         |SELECT clip_a, clip_b, hamming FROM ham
         |WHERE hamming <= $AUD_HAMMING_MAX ORDER BY clip_a, clip_b""".stripMargin,

    // The self-accumulating face: wave 2 (delta-2 re-renders, img_id %
    // 4 = 2) probes corpus ∪ wave 1 — all-pairs Hamming states the
    // definition; the absorbed-index probe is pigeonhole-lossless over
    // exactly that union.
    "q_st_image_accum" ->
      s"""WITH imgs AS (
         |  SELECT doc_id * 4 AS img_id, doc_id, 0 AS delta FROM documents
         |  UNION ALL
         |  SELECT doc_id * 4 + 1, doc_id, 1 FROM documents
         |  WHERE doc_id % $INC_MOD = $INC_REM
         |  UNION ALL
         |  SELECT doc_id * 4 + 2, doc_id, 2 FROM documents
         |  WHERE doc_id % $INC_MOD = $INC_REM),
         |$imageHashCtes,
         |${bestHammingMatchSql("img_id",
              "hn.img_id % 4 = 2 AND hc.img_id % 4 <> 2", IMG_HAMMING_MAX)}""".stripMargin,

    // The streaming corpus-probe face for AUDIO: base clips of every
    // doc are the corpus (even clip_ids), trimmed+×2-gained re-uploads
    // of every INC_REM-th doc the batch (odd clip_ids); all-pairs
    // batch×corpus Hamming states the DEFINITION (the banded index
    // probe is pigeonhole-lossless), best match = (min hamming, min
    // clip_id).
    // The self-accumulating face for AUDIO: wave 2 (trim-4 at ×2 gain,
    // clip_id ≥ 2e6) probes corpus ∪ wave 1 (trim-4 at gain 1) —
    // all-pairs Hamming over the union states the definition; the
    // absorbed-index probe is pigeonhole-lossless over exactly it.
    "q_st_audio_accum" ->
      s"""WITH aud AS (
         |  SELECT doc_id * 2 AS clip_id, doc_id, 0 AS sil, 1 AS g FROM documents
         |  UNION ALL
         |  SELECT $WAVE + doc_id * 2, doc_id, 4, 1 FROM documents
         |  WHERE doc_id % $INC_MOD = $INC_REM
         |  UNION ALL
         |  SELECT ${2 * WAVE} + doc_id * 2, doc_id, 4, 2 FROM documents
         |  WHERE doc_id % $INC_MOD = $INC_REM),
         |$audioHashCtes,
         |${bestHammingMatchSql("clip_id",
              s"hn.clip_id >= ${2 * WAVE} AND hc.clip_id < ${2 * WAVE}",
              AUD_HAMMING_MAX)}""".stripMargin,

    "q_st_audio_neardup" ->
      s"""WITH aud AS (
         |  SELECT doc_id * 2 AS clip_id, doc_id, 0 AS sil, 1 AS g FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, doc_id, 3, 2 FROM documents
         |  WHERE doc_id % $INC_MOD = $INC_REM),
         |$audioHashCtes,
         |${bestHammingMatchSql("clip_id",
              "hn.clip_id % 2 = 1 AND hc.clip_id % 2 = 0", AUD_HAMMING_MAX)}""".stripMargin,

    // The robustness grid replayed closed-form: base + trim-2 + trim-6
    // + saturating ×2-gain renders per planted doc, fingerprints via
    // the same band-energy/lower-median bits, ALL-PAIRS Hamming (the
    // definition), then the precision/recall grading tail (ratios
    // COALESCE to 0.0 on empty denominators, mirroring the Spark
    // side's guards) — mirrors Multimodal.packAudioGrid +
    // audioDedupQualityReport.
    "q_mm_audio_neardup_quality" ->
      s"""WITH aud AS (
         |  SELECT doc_id * 4 AS clip_id, doc_id, 0 AS sil, 1 AS g FROM documents
         |  UNION ALL
         |  SELECT doc_id * 4 + 1, doc_id, 2, 1 FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id * 4 + 2, doc_id, 6, 1 FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id * 4 + 3, doc_id, 0, 2 FROM documents WHERE doc_id % 5 = 0),
         |$audioHashCtes,
         |${pairHammingCte("clip_id")},
         |pred AS (SELECT clip_a // 4 AS doc_a, clip_a % 4 AS va,
         |                clip_b // 4 AS doc_b, clip_b % 4 AS vb
         |         FROM ham WHERE hamming <= $AUD_HAMMING_MAX),
         |pa AS (SELECT CAST(count(*) AS BIGINT) AS n_pred,
         |              CAST(coalesce(sum(CASE WHEN doc_a = doc_b THEN 1 ELSE 0 END),
         |                   0) AS BIGINT) AS n_correct,
         |              CAST(coalesce(sum(CASE WHEN doc_a = doc_b AND va < 3 AND vb < 3
         |                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct_trim,
         |              CAST(coalesce(sum(CASE WHEN doc_a = doc_b AND (va = 3 OR vb = 3)
         |                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct_gain
         |       FROM pred),
         |tr AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_clips,
         |              CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS n_true,
         |              CAST(coalesce(sum(CASE WHEN c = 4 THEN 3 ELSE 0 END), 0)
         |                AS BIGINT) AS n_true_trim,
         |              CAST(coalesce(sum(CASE WHEN c = 4 THEN 3 ELSE 0 END), 0)
         |                AS BIGINT) AS n_true_gain
         |       FROM (SELECT doc_id, count(*) AS c FROM aud GROUP BY doc_id))
         |SELECT n_clips, n_true, n_pred, n_correct,
         |       CASE WHEN n_pred > 0 THEN round(n_correct / n_pred, 6)
         |            ELSE 0.0 END AS precision,
         |       CASE WHEN n_true > 0 THEN round(n_correct / n_true, 6)
         |            ELSE 0.0 END AS recall,
         |       CASE WHEN n_true_trim > 0 THEN round(n_correct_trim / n_true_trim, 6)
         |            ELSE 0.0 END AS recall_trim,
         |       CASE WHEN n_true_gain > 0 THEN round(n_correct_gain / n_true_gain, 6)
         |            ELSE 0.0 END AS recall_gain
         |FROM tr, pa""".stripMargin,

    // Per-frame aHash over the closed-form frame ramps (frame f = the
    // image hash chain with delta = 97·f), ALL-PAIRS exact Hamming
    // (the definition — the Spark side's banded blocking is
    // pigeonhole-lossless), then the video-pair aggregation. The Spark
    // side hashes rasters DECODED from the GIF container, so equality
    // also re-proves the multi-frame round trip.
    "q_mm_video_neardup" ->
      s"""WITH v AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
         |imgs AS (SELECT doc_id * 16 + f AS img_id, doc_id, 97 * f AS delta
         |         FROM v, unnest(range(0, nf)) tf(f)),
         |$imageHashCtes,
         |${pairHammingCte("img_id")},
         |vp AS (SELECT img_a // 16 AS video_a, img_b // 16 AS video_b, hamming
         |       FROM ham
         |       WHERE hamming <= $VID_HAMMING_MAX
         |         AND img_a // 16 <> img_b // 16)
         |SELECT video_a, video_b, CAST(count(*) AS BIGINT) AS n_frame_pairs,
         |       min(hamming) AS min_hamming
         |FROM vp GROUP BY video_a, video_b
         |HAVING count(*) >= $VID_MIN_FRAMES
         |ORDER BY video_a, video_b""".stripMargin,

    "q_m_logistic_quality" -> logisticSql,

    // The per-doc scoring tail over the SAME fitted coefficients —
    // mirrors Classifier.logisticQualityScore.
    "q_m_logistic_score" -> logisticScoreSql,

    // The scored corpus vs the same Gopher label across a literal
    // threshold grid; F1 is derived from the ROUNDED precision/recall
    // exactly like the Spark side, so rounding can't compound apart.
    "q_m_threshold_sweep" ->
      s"""WITH $logisticCtes,
         |fin AS (SELECT zf.y,
         |               round(1.0 / (1.0 + exp(-round(b.b0 + b.b1 * z1
         |                 + b.b2 * z2 + b.b3 * z3, 6))), 6) AS p
         |        FROM zf, bb$LOGIT_ITERS b),
         |thr AS (SELECT CAST(unnest([${(1 to 9).map(i => s"0.$i").mkString(", ")}])
         |                    AS DOUBLE) AS thr),
         |cm AS (SELECT thr,
         |              sum(CASE WHEN p >= thr AND y = 1 THEN 1 ELSE 0 END) AS tp,
         |              sum(CASE WHEN p >= thr AND y = 0 THEN 1 ELSE 0 END) AS fp,
         |              sum(CASE WHEN p < thr AND y = 1 THEN 1 ELSE 0 END) AS fn,
         |              sum(CASE WHEN p < thr AND y = 0 THEN 1 ELSE 0 END) AS tn
         |       FROM fin, thr GROUP BY thr),
         |pr AS (SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |              CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |              CASE WHEN tp + fp = 0 THEN 0.0
         |                   ELSE round(tp / CAST(tp + fp AS DOUBLE), 6) END AS prec,
         |              CASE WHEN tp + fn = 0 THEN 0.0
         |                   ELSE round(tp / CAST(tp + fn AS DOUBLE), 6) END AS rec
         |       FROM cm)
         |SELECT thr, tp, fp, fn, tn, prec, rec,
         |       CASE WHEN prec + rec = 0 THEN 0.0
         |            ELSE round(2.0 * prec * rec / (prec + rec), 6) END AS f1
         |FROM pr ORDER BY thr""".stripMargin,

    // Same Gopher pass label per document, aggregated per source and
    // shrunk toward the corpus-wide rate with pseudo-count EB_K.
    "q_text_source_quality_eb" ->
      s"""WITH sb AS (
         |  ${gopherSignalsSql(" source,")}),
         |sig AS (SELECT source, CAST($gopherPassCase AS BIGINT) AS passes FROM sb),
         |per AS (SELECT source, count(*) AS n_docs, sum(passes) AS n_pass
         |        FROM sig GROUP BY source),
         |g AS (SELECT sum(n_pass) / CAST(sum(n_docs) AS DOUBLE) AS g_rate FROM per)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_pass AS BIGINT) AS n_pass,
         |       round(n_pass / CAST(n_docs AS DOUBLE), 6) AS pass_rate,
         |       round((n_pass + CAST($EB_K AS DOUBLE) * g_rate)
         |             / (n_docs + CAST($EB_K AS DOUBLE)), 6) AS shrunk_rate
         |FROM per, g ORDER BY source""".stripMargin,

    // Replays the aHash pipeline end-to-end on the closed-form pixel
    // function (base + brightness-shifted variant images), including the
    // 8×8 nearest-neighbor downsample, the integer-exact mean compare
    // (64·gray > Σgray), then ALL-PAIRS exact Hamming — the definition;
    // the Spark side's threshold-exact banded blocking is a lossless
    // pruning, and it computes the same hash from PIXELS DECODED by
    // ImageIO.
    "q_mm_image_neardup" ->
      s"""WITH $imageHamCtes
         |SELECT img_a, img_b, hamming FROM ham
         |WHERE hamming <= $IMG_HAMMING_MAX ORDER BY img_a, img_b""".stripMargin,

    // Replays the box-filtered integer-DCT pHash pipeline on the
    // closed-form WRAP-FREE pixel function (base at even img_ids, the
    // composite tilt+brightness+checkerboard corruption at odd), then
    // ALL-PAIRS exact Hamming — the definition; the Spark side's
    // banded blocking is a lossless pruning of this.
    "q_mm_phash_neardup" ->
      s"""WITH imgs AS (
         |  SELECT doc_id * 2 AS img_id, doc_id, 0 AS corrupt FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, doc_id, 1 FROM documents),
         |pdims AS (SELECT img_id, doc_id, corrupt,
         |                 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM imgs),
         |pxsrc AS (SELECT img_id, w, h, tx.x AS x, ty.y AS y,
         |                 32 + (doc_id + 31 * tx.x + 7 * ty.y) % 140
         |                 + corrupt * (2 * tx.x + 10
         |                              + 16 * (((tx.x + ty.y) % 2) * 2 - 1)) AS gray
         |          FROM pdims, unnest(range(0, 16)) tx(x),
         |                      unnest(range(0, 14)) ty(y)
         |          WHERE tx.x < w AND ty.y < h),
         |$phashFromPxCtes,
         |${pairHammingCte("img_id", "ph", "pham")}
         |SELECT img_a, img_b, hamming FROM pham
         |WHERE hamming <= $PHASH_HAMMING_MAX ORDER BY img_a, img_b""".stripMargin,

    // Replays BOTH fingerprints over the checkerboard-noise corpus
    // (base at even img_ids, +NOISE_AMP odd-parity squares at odd
    // img_ids), then folds per-doc pair Hamming into the one decision
    // row — fully hash-gated: integers plus round-6 averages of
    // identical operands.
    "q_mm_phash_robustness" ->
      s"""WITH imgs AS (
         |  SELECT doc_id * 2 AS img_id, doc_id, 0 AS amp FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, doc_id, $NOISE_AMP FROM documents),
         |pdims AS (SELECT img_id, doc_id, amp,
         |                 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM imgs),
         |pxsrc AS (SELECT img_id, w, h, tx.x AS x, ty.y AS y,
         |                 32 + (doc_id + 31 * tx.x + 7 * ty.y) % 140
         |                 + amp * (((tx.x + ty.y) % 2) * 2 - 1) AS gray
         |          FROM pdims, unnest(range(0, 16)) tx(x),
         |                      unnest(range(0, 14)) ty(y)
         |          WHERE tx.x < w AND ty.y < h),
         |cells AS (
         |  SELECT img_id, gy * 8 + gx AS cell,
         |         32 + (doc_id + 31 * ((gx * w) // 8) + 7 * ((gy * h) // 8)) % 140
         |         + amp * (((((gx * w) // 8) + ((gy * h) // 8)) % 2) * 2 - 1) AS gray
         |  FROM pdims, unnest(range(0, 8)) tx(gx), unnest(range(0, 8)) ty(gy)),
         |$aHashFromCellsCtes,
         |$phashFromPxCtes,
         |apair AS (
         |  SELECT e.img_id // 2 AS doc_id,
         |         CAST(${hammingSql("e", "o")} AS BIGINT) AS ahd
         |  FROM h e JOIN h o ON o.img_id = e.img_id + 1
         |  WHERE e.img_id % 2 = 0),
         |ppair AS (
         |  SELECT e.img_id // 2 AS doc_id,
         |         CAST(${hammingSql("e", "o")} AS BIGINT) AS phd
         |  FROM ph e JOIN ph o ON o.img_id = e.img_id + 1
         |  WHERE e.img_id % 2 = 0),
         |j AS (SELECT a.doc_id, a.ahd, p.phd
         |      FROM apair a JOIN ppair p USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       round(avg(ahd), 6) AS avg_ahash_hamming,
         |       round(avg(phd), 6) AS avg_phash_hamming,
         |       max(ahd) AS max_ahash_hamming,
         |       max(phd) AS max_phash_hamming,
         |       CAST(sum(CASE WHEN phd < ahd THEN 1 ELSE 0 END) AS BIGINT)
         |         AS phash_strictly_closer,
         |       CAST(sum(CASE WHEN phd <= ahd THEN 1 ELSE 0 END) AS BIGINT)
         |         AS phash_not_worse
         |FROM j""".stripMargin,

    // The streaming corpus-probe face: base images of every doc are
    // the corpus (even img_ids), delta-1 re-uploads of every
    // INC_REM-th doc the batch (odd img_ids); all-pairs batch×corpus
    // Hamming states the DEFINITION (the Spark side's banded index
    // probe is pigeonhole-lossless), best match = (min hamming, min
    // img_id).
    "q_st_image_neardup" ->
      s"""WITH imgs AS (
         |  SELECT doc_id * 2 AS img_id, doc_id, 0 AS delta FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, doc_id, 1 FROM documents
         |  WHERE doc_id % $INC_MOD = $INC_REM),
         |$imageHashCtes,
         |${bestHammingMatchSql("img_id",
              "hn.img_id % 2 = 1 AND hc.img_id % 2 = 0", IMG_HAMMING_MAX)}""".stripMargin,

    // Same aHash pair pipeline, then the same transitive closure the
    // text dedup oracles use: component label = min img_id reachable,
    // canonical = the label holder.
    "q_mm_image_clusters" ->
      s"""WITH RECURSIVE $imageHamCtes,
         |pairs AS (SELECT img_a, img_b FROM ham
         |          WHERE hamming <= $IMG_CLUSTER_HAMMING),
         |edges AS (
         |  SELECT img_a AS u, img_b AS v FROM pairs
         |  UNION SELECT img_b, img_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (
         |  SELECT u AS img_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u)
         |SELECT img_id, cluster_id,
         |       CASE WHEN img_id = cluster_id THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS is_canonical
         |FROM labels ORDER BY img_id""".stripMargin,

    // Top-VOCAB_V frequency vocabulary (count desc, token asc — the
    // exact order Rank.CountDescWordAsc produces), then per-doc OOV coverage.
    "q_text_vocab_coverage" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |           FROM documents),
         |c AS (SELECT tok, count(*) AS n FROM w GROUP BY tok),
         |r AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS rn
         |      FROM c),
         |vcb AS (SELECT tok FROM r WHERE rn <= $VOCAB_V),
         |j AS (SELECT w.doc_id, CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS iv
         |      FROM w LEFT JOIN vcb v ON w.tok = v.tok)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(*) - sum(iv) AS BIGINT) AS n_oov,
         |       round((count(*) - sum(iv)) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_unigram_lm" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v_size FROM v),
         |p AS (SELECT word,
         |             round(-ln((c + 1.0) / (n_total + v_size)), 6) AS neglogp
         |      FROM v, t)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST((sum(CAST(round(neglogp * 1000000) AS BIGINT)) * 10)
         |            // count(*) AS DOUBLE) / 10000000 AS avg_neglogp
         |FROM w JOIN p USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_ppl_filter" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v_size FROM v),
         |p AS (SELECT word,
         |             round(-ln((c + 1.0) / (n_total + v_size)), 6) AS neglogp
         |      FROM v, t),
         |ppl AS (SELECT doc_id, count(*) AS n_tokens,
         |               CAST((sum(CAST(round(neglogp * 1000000) AS BIGINT)) * 10)
         |                    // count(*) AS DOUBLE) / 10000000 AS avg_neglogp
         |        FROM w JOIN p USING (word) GROUP BY doc_id),
         |b AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, avg_neglogp,
         |             CAST(ntile(3) OVER (ORDER BY avg_neglogp, doc_id)
         |                  AS BIGINT) AS tertile
         |      FROM ppl)
         |SELECT doc_id, n_tokens, avg_neglogp, tertile,
         |       CASE WHEN tertile = 1 THEN 'head'
         |            WHEN tertile = 2 THEN 'middle' ELSE 'tail' END AS band,
         |       CAST(CASE WHEN tertile <> 3 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM b ORDER BY doc_id""".stripMargin,

    "q_text_sample_per_group" ->
      s"""WITH h AS (SELECT doc_id, lang, source,
         |                  ${Hashing.md5LongSql("concat('smp:', CAST(doc_id AS VARCHAR))")} AS h
         |           FROM documents),
         |r AS (SELECT lang, doc_id, source,
         |             CAST(row_number() OVER (PARTITION BY lang
         |                  ORDER BY h, doc_id) AS BIGINT) AS rn
         |      FROM h)
         |SELECT lang, rn, doc_id, source FROM r WHERE rn <= $GRP_SAMPLE_K
         |ORDER BY lang, rn""".stripMargin,

    // Exact trigram top-N; the sketch half of the gate is the literal-1
    // verdict (the MG bound holds for any merge order — see the query).
    "q_text_heavy_hitters" ->
      s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
         |           WHERE len(string_split(text, ' ')) >= 3),
         |g AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
         |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
         |      FROM w),
         |c AS (SELECT gram, count(*) AS n FROM g GROUP BY gram),
         |r AS (SELECT gram, n,
         |             CAST(row_number() OVER (ORDER BY n DESC, gram ASC) AS BIGINT) AS rn
         |      FROM c)
         |SELECT rn, gram, n, CAST(1 AS BIGINT) AS mg_within_bound
         |FROM r WHERE rn <= $HH_TOP ORDER BY rn""".stripMargin
  )
}
