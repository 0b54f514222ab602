package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale shapes (the point of each design):
  *  - exact: one hash-partitioned groupBy on the text — the canonical
  *    100 TB dedup; no driver state.
  *  - jaccard: positional prefix filtering + inverted-index self-join —
  *    only each doc's prefix (rarest shingles in a global df order)
  *    generates candidates, so a hot shingle can't explode the join and
  *    the result is still the EXACT all-pairs jaccard.
  *  - minhash: fixed-width signatures (16 mins in ONE groupBy pass — no
  *    per-permutation explosion), banded bucket join → candidates only,
  *    then exact-jaccard verification of the tiny candidate set.
  *  - simhash: 60-bit signature per doc, exact Hamming pairs through
  *    the shared [[Hamming]] kernel. All integer arithmetic,
  *    engine-portable (md5-derived).
  *  - embedding: exact pairwise for oracle-checkable semantics; the
  *    sub-quadratic path at scale is Similarity.annTopK's LSH buckets.
  */
object Dedup {

  /** Materialize `result` eagerly (localCheckpoint, REGISTERED with
    * [[Lifecycle]] so harness loops can free the blocks deterministically
    * instead of waiting for a driver GC), then drop the operator's
    * Dataset-level caches. Every caching operator funnels through this
    * so its CacheManager footprint is ZERO by the time it returns:
    * callers get a self-contained frame, never a persist handle they
    * must remember to release (a long-lived library session would
    * otherwise accumulate MEMORY_AND_DISK entries for the JVM's life). */
  private[graft] def materializeThenRelease(result: DataFrame,
                                                cached: DataFrame*): DataFrame = {
    val out = Lifecycle.checkpoint(result)
    cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** Distinct word 3-gram shingles per document. Documents shorter than
    * 3 words contribute their whole text as one shingle. Goes through the
    * native [[graft.functions.WordShingles]] expression (one primitive
    * pass per row). */
  def wordShingles(docs: DataFrame): DataFrame = {
    graft.functions.WordShingles.register(docs.sparkSession)
    docs.select(col("doc_id"), explode(expr("shingles3(text)")).as("shingle"))
  }

  /** The DuckDB mirror of [[wordShingles]] as a CTE body. */
  def wordShinglesSql: String = wordShinglesSqlFrom("documents")

  /** [[wordShinglesSql]] over an arbitrary source table/CTE carrying
    * (doc_id, text) — lets the accumulating-index oracle shingle a
    * synthesized corpus ∪ wave union. */
  def wordShinglesSqlFrom(src: String): String =
    s"""SELECT DISTINCT doc_id,
       |       array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS shingle
       |FROM (SELECT doc_id, ws,
       |             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) AS i
       |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src))""".stripMargin

  /** Exact dedup: keep the smallest doc_id per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
      .select(col("doc_id"), col("copies"))

  /** All-pairs n-gram Jaccard ≥ minJ, EXACT, via positional prefix
    * filtering (the AllPairs/PPJoin family): order every document's
    * shingles by a global (df ASC, shingle ASC) total order and index
    * only its PREFIX — the first |d| − ⌈minJ·|d|⌉ + 1 shingles. The
    * prefix-filter lemma (holds for ANY global total order): two sets
    * with jaccard ≥ minJ must share at least one prefix shingle, so
    * candidate generation is LOSSLESS; survivors are verified with the
    * exact jaccard over the FULL shingle sets. Scale shape: the join
    * cost is Σ df_prefix(s)² — a stop-shingle sits LAST in the df order
    * and almost never enters a prefix, so the cost self-bounds with
    * corpus redundancy instead of relying on a hand-sized df cap that
    * silently changes the metric (the old `maxShingleDf` approach). The
    * per-doc ordering window partitions by doc_id — bounded by one
    * document's shingle count, never a corpus-wide sort. */
  def jaccardPairs(shingles: DataFrame, minJ: Double): DataFrame = {
    // The plan references the shingle table 4× (prefix build, sizes, two
    // verification sides); shingle generation is lambda-heavy, so
    // materialize it once instead of recomputing per reference. (At
    // 100 TB this would be a parquet-materialized intermediate — and the
    // pairs fixture in PipelinePack does exactly that one level up.)
    val sh = shingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    val pref = sh.join(dfs, Seq("shingle"))
      .withColumn("pos", row_number().over(w))
      .join(sizes, Seq("doc_id"))
      .filter(col("pos") <= col("n") - ceil(lit(minJ) * col("n")) + lit(1))
      .select("doc_id", "shingle")
    val a = pref.withColumnsRenamed(Map("doc_id" -> "doc_a"))
    val b = pref.withColumnsRenamed(Map("doc_id" -> "doc_b"))
    val cand = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sh.withColumnsRenamed(Map("doc_id" -> "doc_a"))
    val sb = sh.withColumnsRenamed(Map("doc_id" -> "doc_b"))
    val inter = cand
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    materializeThenRelease(withJaccard(inter, sizes, minJ), sh)
  }

  /** Attach |A|,|B| and the jaccard i/(|A|+|B|−i); filter ≥ minJ. */
  private def withJaccard(inter: DataFrame, sizes: DataFrame, minJ: Double): DataFrame = {
    val sa = sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n" -> "na"))
    val sb = sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n" -> "nb"))
    inter.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("jaccard", round(col("i") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signatures: one groupBy computing all k permutation minima
    * as parallel aggregates (no row explosion). */
  def minhashSignatures(shingles: DataFrame): DataFrame = {
    val h = Hashing.md5Mod(col("shingle"))
    val aggs = Hashing.minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % Hashing.M).as(s"m$i")
    }
    shingles.withColumn("h", h)
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The LSH band rows (doc_id, band, bv) of a signature frame for an
    * arbitrary (b bands × r rows) layout of the 16-hash signature. */
  private def bandsOfLayout(sigs: DataFrame, b: Int, r: Int): DataFrame = {
    require(b * r == Hashing.minhashPerms.length,
      s"layout ${b}x$r does not tile the ${Hashing.minhashPerms.length}-hash signature")
    val bandCols = (0 until b).map { j =>
      struct(lit(j).as("band"),
        concat_ws("_", (0 until r).map(k => col(s"m${r * j + k}").cast("string")): _*).as("bv"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bv").as("bv"))
  }

  /** The 4×4 LSH band rows (doc_id, band, bv) of a signature frame —
    * the deployed layout. */
  private def bandsOf(sigs: DataFrame): DataFrame = bandsOfLayout(sigs, 4, 4)

  /** The MinHash band-collision candidate pairs of a shingle frame —
    * the shared front half of [[minhashLshPairs]] and
    * [[lshQualityReport]] (one definition, so the quality report can
    * never drift from the operator it measures). */
  private def minhashCandidates(shingles: DataFrame): DataFrame = {
    val bands = bandsOf(minhashSignatures(shingles))
    bands.as("x").join(bands.as("y"), Seq("band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact-jaccard verification of a candidate pair set — the shared
    * back half of the LSH pipelines. */
  private def verifyPairs(cand: DataFrame, shingles: DataFrame,
                          minJ: Double): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sa = shingles.withColumnsRenamed(Map("doc_id" -> "doc_a"))
    val sb = shingles.withColumnsRenamed(Map("doc_id" -> "doc_b"))
    val inter = cand
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    withJaccard(inter, sizes, minJ)
  }

  /** MinHash + LSH near-dup pairs: band the k=16 signature into 4 bands
    * of 4 rows, bucket-join per band, then verify survivors with exact
    * jaccard ≥ minJ. Only candidate pairs (a vanishing fraction at any
    * scale) ever reach the verification join. */
  def minhashLshPairs(rawShingles: DataFrame, minJ: Double): DataFrame = {
    val shingles = rawShingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    materializeThenRelease(
      verifyPairs(minhashCandidates(shingles), shingles, minJ), shingles)
  }

  /** LSH dedup QUALITY report — "measure, don't guess" for the banding
    * parameters: compares the MinHash band-collision CANDIDATE set
    * against the exact-jaccard ground truth (`truePairs`, typically the
    * materialized [[jaccardPairs]] intermediate). One row:
    *  - n_true: exact pairs at jaccard ≥ minJ,
    *  - n_candidates: distinct band collisions (the pairs LSH pays to
    *    verify),
    *  - n_verified: candidates surviving exact verification — the LSH
    *    output, always = candidates ∩ true,
    *  - candidate_precision = n_verified / n_candidates (wasted
    *    verification work when low → widen bands),
    *  - recall = n_verified / n_true (pairs the banding missed — the
    *    16-sig/4×4 banding's false-negative rate at this threshold).
    * Scale: both inputs are the existing linear-candidate pipelines;
    * the report itself is three 1-row aggregates broadcast-crossed. */
  def lshQualityReport(truePairs: DataFrame, rawShingles: DataFrame,
                       minJ: Double): DataFrame = {
    val shingles = rawShingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = minhashCandidates(shingles)
    val verified = verifyPairs(cand, shingles, minJ)
    val out = cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(verified.agg(count(lit(1)).as("n_verified"))))
      .crossJoin(broadcast(truePairs.agg(count(lit(1)).as("n_true"))))
      .select(col("n_true"), col("n_candidates"), col("n_verified"),
        round(col("n_verified") / col("n_candidates"), 6).as("candidate_precision"),
        round(col("n_verified") / col("n_true"), 6).as("recall"))
    materializeThenRelease(out, shingles)
  }

  /** Every (bands × rows) tiling of the 16-hash signature — the design
    * space [[lshDesignSweep]] measures. */
  val LshLayouts: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** The analytic s-curve facts of a (b, r) banding at `minJ`:
    * (threshold jaccard ≈ (1/b)^(1/r), collision probability
    * 1 − (1 − minJ^r)^b), both rounded to 6. Computed ONCE in Scala and
    * interpolated as literals into the query AND the oracle, so the
    * hash gate never rides two engines' `pow` ulps. */
  def lshSCurve(b: Int, r: Int, minJ: Double): (Double, Double) = {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    (r6(math.pow(1.0 / b, 1.0 / r)),
      r6(1.0 - math.pow(1.0 - math.pow(minJ, r), b)))
  }

  /** LSH banding DESIGN sweep — the b×r selection table every MinHash
    * deployment tunes, measured instead of guessed: one row per tiling
    * of the 16-hash signature with the ANALYTIC s-curve facts
    * ([[lshSCurve]]: threshold jaccard, collision probability at
    * `minJ`) next to the MEASURED corpus numbers (candidate pairs the
    * layout pays to verify, candidates surviving exact jaccard — i.e.
    * candidates ∩ `truePairs` — precision, recall). Reading the table:
    * more/narrower bands shift the s-curve left (recall ↑, wasted
    * verifications ↑); the deployed 4×4 is the row whose recall and
    * candidate_precision justify it against its neighbours.
    *
    * Scale: signatures are computed ONCE (one groupBy over the shingle
    * frame) and shared by all layouts; each layout adds one
    * banded-bucket join over 16 rows/doc — the same linear-candidate
    * shape as the production path — and the report rows are 1-row
    * aggregates. */
  def lshDesignSweep(truePairs: DataFrame, rawShingles: DataFrame,
                     minJ: Double): DataFrame = {
    // The fused sweep keys everything by `bands` alone (ADVICE r15):
    // that is only sound while band counts are unique across layouts —
    // true for any fixed-width signature's tilings (b*r = k makes r a
    // function of b) but not guaranteed for a future mixed-width table.
    require(LshLayouts.map(_._1).distinct.size == LshLayouts.size,
      s"lshDesignSweep keys stats by band count; layouts must have " +
        s"distinct band counts, got $LshLayouts")
    val shingles = rawShingles
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = minhashSignatures(shingles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // .distinct() guards the match-flag left join below: duplicate
    // (doc_a, doc_b) truth rows would fan out candidates and inflate
    // BOTH n_candidates and n_verified (ADVICE r15). jaccardPairs
    // emits distinct pairs today; this pins the invariant instead of
    // assuming it.
    val truth = truePairs.select("doc_a", "doc_b").distinct()
    // ONE banded self-join + ONE aggregate for ALL layouts (r15 opt: the
    // per-layout loop ran 5 × (2 joins + 2 aggregates) ≈ 15 jobs whose
    // fixed scheduling cost dominated at any scale where candidates are
    // sparse). The layout's band count joins as part of the bucket key —
    // layouts are disjoint key spaces, so candidates never mix and the
    // join stays the same linear-candidate shape, just fused.
    val allBands = LshLayouts.map { case (b, r) =>
      bandsOfLayout(sigs, b, r)
        .select(lit(b).as("bands"), col("doc_id"), col("band"), col("bv"))
    }.reduce(_ unionByName _)
    val cand = allBands.as("x").join(allBands.as("y"), Seq("bands", "band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("bands"), col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // n_verified = |cand ∩ truth| per layout, folded into the SAME
    // aggregate as n_candidates via a left-join match flag instead of a
    // second join+count pass over the candidate set.
    val stats = cand
      .join(truth.withColumn("t_match", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy("bands")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("t_match"), lit(0L))).as("n_verified"))
    // The analytic s-curve columns ride a 5-row literal frame (computed
    // once in Scala, exactly as before); a layout whose candidate set is
    // EMPTY has no stats row — left join + coalesce keeps its report row
    // with n_candidates = n_verified = 0, as the old empty aggregate did.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val layoutRows = LshLayouts.map { case (b, r) =>
      val (thr, pc) = lshSCurve(b, r, minJ)
      Row(b, r, thr, pc)
    }
    val spark = rawShingles.sparkSession
    val layouts = spark.createDataFrame(
      spark.sparkContext.parallelize(layoutRows, 1),
      StructType(Seq(StructField("bands", IntegerType, nullable = false),
        StructField("rows_per_band", IntegerType, nullable = false),
        StructField("j_threshold", DoubleType, nullable = false),
        StructField("p_collide_at_minj", DoubleType, nullable = false))))
    val out = layouts
      .join(stats, Seq("bands"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("bands"), col("rows_per_band"),
        col("j_threshold"), col("p_collide_at_minj"),
        col("n_true"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"))
      .select(col("bands"), col("rows_per_band"),
        col("j_threshold"), col("p_collide_at_minj"),
        col("n_true"), col("n_candidates"), col("n_verified"),
        when(col("n_candidates") > 0,
          round(col("n_verified") / col("n_candidates"), 6))
          .as("candidate_precision"),
        round(col("n_verified") / col("n_true"), 6).as("recall"))
    materializeThenRelease(out, shingles, sigs)
  }

  /** Incremental ingestion dedup: flag documents of a NEW batch that
    * near-duplicate the EXISTING corpus — the shape a production
    * pipeline actually runs day over day (the batch is small; the corpus
    * index of band rows is the precomputed state). Same MinHash bands as
    * [[minhashLshPairs]], but candidates join batch bands against corpus
    * bands only (never corpus × corpus), so per-ingest cost scales with
    * the batch, not the corpus. Survivors verify with exact jaccard;
    * each flagged doc reports its best corpus match (jaccard desc,
    * doc_old asc — a [[Rank.perGroup]] top-1, which plans through the native
    * TopKPerGroupExec). */
  def minhashLshAgainstCorpus(rawShingles: DataFrame, batchPred: Column,
                              minJ: Double): DataFrame = {
    val shingles = rawShingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = bandsOf(minhashSignatures(shingles))
    val newB = bands.filter(batchPred)
      .withColumnsRenamed(Map("doc_id" -> "doc_new"))
    val oldB = bands.filter(!batchPred)
      .withColumnsRenamed(Map("doc_id" -> "doc_old"))
    // doc_a = new side, doc_b = corpus side, so the shared jaccard
    // verification helper applies unchanged.
    val cand = newB.join(oldB, Seq("band", "bv"))
      .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b")).distinct()
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shingles.withColumnsRenamed(Map("doc_id" -> "doc_a")), Seq("doc_a"))
      .join(shingles.withColumnsRenamed(Map("doc_id" -> "doc_b")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val j = withJaccard(inter, sizes, minJ)
      .withColumnsRenamed(Map("doc_a" -> "doc_new", "doc_b" -> "doc_old"))
    val best = Rank.perGroup(j, Seq("doc_new"), Seq(col("jaccard").desc, col("doc_old").asc), 1)
      .select(col("doc_new"), col("doc_old").as("best_match"), col("jaccard"))
    materializeThenRelease(best, shingles)
  }

  /** Corpus-side state for incremental dedup at STREAMING cadence — the
    * text family of [[AccumIndex]]: the minhash band index, the shingle
    * table (verification side) and per-doc sizes, persisted and
    * materialized once so every micro-batch pays only batch-sized work.
    * Build with [[buildCorpusIndex]], probe arriving batches with
    * [[flagAgainstCorpusIndex]], fold them in with `absorb` (a FROZEN
    * index flags every wave against the original corpus only, so a
    * near-dup of an EARLIER wave's document sails through). The shingle
    * table is the durable truth: bands and sizes derive from it
    * deterministically ([[bandsOf]] ∘ [[minhashSignatures]], seeded
    * permutations), so a reloaded index probes identically. */
  final case class CorpusIndex(frames: Seq[DataFrame],
                               override val legs: Seq[DataFrame],
                               lastBatchId: Long = -1L)
      extends LegIndex[CorpusIndex] {
    def bands: DataFrame = frames(0)
    def shingles: DataFrame = frames(1)
    def sizes: DataFrame = frames(2)
    def tables: Seq[(String, DataFrame)] = Seq("shingles" -> shingles)
    def withLastBatchId(batchId: Long): CorpusIndex = copy(lastBatchId = batchId)
    protected def leg(sh: DataFrame): Seq[DataFrame] = corpusLeg(sh)
    protected def withLegs(f: Seq[DataFrame], l: Seq[DataFrame]): CorpusIndex =
      copy(frames = f, legs = l)
  }

  /** (bands, shingles, sizes): bands and sizes both derive from the
    * shingle cache, so the two of them are the chain tails. */
  private def corpusLeg(shingles: DataFrame): Seq[DataFrame] = {
    val sh = AccumIndex.persist(shingles)
    val bands = AccumIndex.persist(bandsOf(minhashSignatures(sh)))
    val sizes = AccumIndex.persist(sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
    AccumIndex.fill(bands, sizes)
    Seq(bands, sh, sizes)
  }

  def buildCorpusIndex(corpusShingles: DataFrame): CorpusIndex = {
    val l = corpusLeg(corpusShingles)
    CorpusIndex(l, l)
  }

  def loadCorpusIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): CorpusIndex =
    AccumIndex.load(spark, path)(s => buildCorpusIndex(s.table("shingles")))

  /** Flag one NEW batch against a prebuilt [[CorpusIndex]] — identical
    * semantics to [[minhashLshAgainstCorpus]] (band-collision
    * candidates against the corpus only, exact-jaccard verification,
    * best corpus match per flagged doc), but the corpus side is never
    * recomputed: per-ingest cost is the batch's bands plus the
    * candidate joins. The result is checkpointed and the batch-side
    * cache dropped before returning (the [[materializeThenRelease]]
    * discipline), so repeated micro-batches leak nothing. */
  def flagAgainstCorpusIndex(batchShingles: DataFrame, index: CorpusIndex,
                             minJ: Double): DataFrame = {
    val bsh = batchShingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newB = bandsOf(minhashSignatures(bsh))
      .withColumnsRenamed(Map("doc_id" -> "doc_new"))
    val oldB = index.bands.withColumnsRenamed(Map("doc_id" -> "doc_old"))
    val cand = newB.join(oldB, Seq("band", "bv"))
      .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b")).distinct()
    val inter = cand
      .join(bsh.withColumnsRenamed(Map("doc_id" -> "doc_a")), Seq("doc_a"))
      .join(index.shingles.withColumnsRenamed(Map("doc_id" -> "doc_b")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val na = bsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .withColumnsRenamed(Map("doc_id" -> "doc_a", "n" -> "na"))
    val nb = index.sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n" -> "nb"))
    val j = inter.join(na, Seq("doc_a")).join(nb, Seq("doc_b"))
      .withColumn("jaccard", round(col("i") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"), col("jaccard"))
    val best = Rank.perGroup(j, Seq("doc_new"), Seq(col("jaccard").desc, col("doc_old").asc), 1)
      .select(col("doc_new"), col("doc_old").as("best_match"), col("jaccard"))
    materializeThenRelease(best, bsh)
  }

  // --------------------------------- incremental EMBEDDING near-dup

  /** Hyperplane-LSH band index over a normalized embedding corpus — the
    * vector family of [[AccumIndex]]: build with [[buildEmbeddingIndex]],
    * probe with [[flagAgainstEmbeddingIndex]], fold waves in with
    * `absorb`. `dim` is captured at build time (the seeded hyperplanes
    * are a function of it); the normalized vector table is the durable
    * truth and the bands re-derive from it at load. */
  final case class EmbeddingIndex(frames: Seq[DataFrame],
                                  override val legs: Seq[DataFrame],
                                  dim: Int, lastBatchId: Long = -1L)
      extends LegIndex[EmbeddingIndex] {
    def bands: DataFrame = frames(0)
    def vectors: DataFrame = frames(1)
    def tables: Seq[(String, DataFrame)] = Seq("vectors" -> vectors)
    override def params: Seq[(String, Long)] = Seq("dim" -> dim.toLong)
    def withLastBatchId(batchId: Long): EmbeddingIndex = copy(lastBatchId = batchId)
    override protected def truth(emb: DataFrame): DataFrame =
      Similarity.normalizedNonZero(emb)
    protected def leg(e: DataFrame): Seq[DataFrame] = embeddingLeg(e, dim)
    protected def withLegs(f: Seq[DataFrame], l: Seq[DataFrame]): EmbeddingIndex =
      copy(frames = f, legs = l)
  }

  /** (bands, vectors) from normalized vectors: bands ← vectors is one
    * lineage chain. */
  private def embeddingLeg(normalized: DataFrame, dim: Int): Seq[DataFrame] = {
    val e = AccumIndex.persist(normalized)
    val bands = AccumIndex.persist(Similarity.bandedIds(e, dim))
    AccumIndex.fill(bands)
    Seq(bands, e)
  }

  def buildEmbeddingIndex(emb: DataFrame, dim: Int): EmbeddingIndex = {
    val l = embeddingLeg(Similarity.normalizedNonZero(emb), dim)
    EmbeddingIndex(l, l, dim)
  }

  def loadEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): EmbeddingIndex = {
    graft.functions.DotProduct.register(spark)
    AccumIndex.load(spark, path) { s =>
      val dim = s.param("dim").toInt
      val l = embeddingLeg(s.table("vectors"), dim)
      EmbeddingIndex(l, l, dim)
    }
  }

  /** Flag one NEW embedding batch against the index: banded candidates
    * (batch bands × index bands, Σ bucket² — never batch×corpus),
    * exact-cosine verification on candidates only, best corpus match
    * per new vector (max cosine, then min vec_id). Same
    * materialize-then-release discipline as the text/image probes. */
  def flagAgainstEmbeddingIndex(newEmb: DataFrame, index: EmbeddingIndex,
                                minCos: Double): DataFrame = {
    val e = Similarity.normalizedNonZero(newEmb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nb = Similarity.bandedIds(e, index.dim)
      .withColumnsRenamed(Map("vec_id" -> "vec_new"))
    val ob = index.bands.withColumnsRenamed(Map("vec_id" -> "vec_old"))
    val cand = nb.join(ob, Seq("band_idx", "bval"))
      .select(col("vec_new"), col("vec_old")).distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("vec_new"), col("v").as("vn")),
        Seq("vec_new"))
      .join(index.vectors.select(col("vec_id").as("vec_old"), col("v").as("vo")),
        Seq("vec_old"))
      .withColumn("cosine", round(expr("dotp(vn, vo)"), 6))
      .filter(col("cosine") >= minCos)
    val best = Rank.perGroup(scored, Seq("vec_new"),
        Seq(col("cosine").desc, col("vec_old").asc), 1)
      .select(col("vec_new"), col("vec_old").as("best_match"), col("cosine"))
    materializeThenRelease(best, e)
  }

  /** SimHash: 60-bit signature from md5-derived word hashes (term
    * frequency weighted), computed as 60 parallel sums in one groupBy. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .withColumn("h", Hashing.md5Long(col("w")))
    val sumAggs = (0 until 60).map(j =>
      sum(expr(s"((h >> $j) & 1) * 2 - 1")).as(s"s$j"))
    val sig = (0 until 60)
      .map(j => expr(s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"))
      .reduce(_ + _)
    words.groupBy("doc_id")
      .agg(sumAggs.head, sumAggs.tail: _*)
      .withColumn("simhash", sig)
      .select(col("doc_id"), col("simhash"))
  }

  /** SimHash near-dup pairs: every (doc_a < doc_b, hamming) whose
    * signatures lie within `maxHamming` — [[Hamming.memberPairs]] over
    * the distinct signatures, exact for every threshold (identical
    * texts share a signature and pair on the diagonal). */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val (pairs, members, dh) = Hamming.memberPairs(
      simhashSignatures(docs).withColumnRenamed("simhash", "hid"), "doc_id", maxHamming)
    materializeThenRelease(pairs.toDF("doc_a", "doc_b", "hamming"), members, dh)
  }

  /** Duplicate-cluster resolution: connected components over near-dup
    * pairs by iterative min-label propagation with pointer doubling
    * (the distributed alternating-join form of union-find). Each round
    * does a neighbour-min step AND a label-of-label shortcut, so the
    * propagation distance shrinks geometrically — components of
    * diameter up to 2^maxIter converge, vs maxIter for plain
    * propagation. Convergence is read from a `changed` flag aggregated
    * over the SAME checkpointed frame the round produces (one cheap
    * local scan), not a separate join against the previous labels.
    * Output: one row per document that appears in any pair, labeled
    * with the smallest doc_id of its component (the canonical
    * survivor). Throws if the round cap is hit unconverged — silently
    * returning partial labels would diverge from the oracle's
    * transitive closure.
    *
    * maxIter = 40 covers component diameter 2^40 (r14: the 10x full-
    * suite hash gate found the old cap of 20 — diameter 2^20 ≈ 1M —
    * insufficient for the 10x image near-dup graph, whose synthetic
    * rasters chain into one multi-million-node component once the edge
    * count crosses the distributed-path threshold; below 10x the
    * single-task union-find path had masked it). The loop exits on the
    * converged flag, so shallow graphs never pay the higher cap. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 40): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The near-dup pair graph is orders of magnitude smaller than the
    // corpus (it holds only documents with at least one near-duplicate),
    // so below the limit the exact component labeling is one union-find
    // pass, replacing ~5 jobs per fixpoint round.
    Cutover.run("duplicateClusters", edges.count(), Cutover.ClusterEdges)(
      smallGraphClusters(edges))(distributedClusters(edges, maxIter))
      .withColumn("is_canonical",
        when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))
  }

  private def distributedClusters(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = Lifecycle.checkpoint(
      edges.select(col("u").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")))
    var converged = labels.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels, edges("v") === labels("doc_id"))
        .groupBy(col("u")).agg(min(col("cluster_id")).as("nbr_min"))
      val stepped = labels.as("l")
        .join(nbrMin, col("l.doc_id") === nbrMin("u"), "left")
        .select(col("l.doc_id").as("doc_id"),
          col("l.cluster_id").as("old_cluster"),
          least(col("l.cluster_id"), coalesce(col("nbr_min"), col("l.cluster_id")))
            .as("mid_cluster"))
      // Pointer doubling: jump to the label of the current label. Every
      // cluster_id is itself a doc_id present in `labels`, so the join
      // always resolves; `left` + coalesce only guards the final round.
      val updated = stepped
        .join(labels.select(col("doc_id").as("p_id"), col("cluster_id").as("p_cluster")),
          col("mid_cluster") === col("p_id"), "left")
        .select(col("doc_id"), col("old_cluster"),
          least(col("mid_cluster"), coalesce(col("p_cluster"), col("mid_cluster")))
            .as("cluster_id"))
        .withColumn("changed",
          (col("cluster_id") =!= col("old_cluster")).cast("long"))
      // Truncate lineage per round AND free round N−1's blocks — live
      // checkpoint state through the fixpoint stays O(1), not O(rounds).
      val checkpointed = Lifecycle.step(updated, Some(labels))
      converged = checkpointed.agg(coalesce(sum(col("changed")), lit(0L)))
        .first().getLong(0) == 0L
      labels = checkpointed.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: not converged after $maxIter rounds " +
          s"(component diameter > 2^$maxIter?) — refusing to return partial labels")
    // `labels` is localCheckpointed (materialized) by the last round, so
    // the edge cache can be dropped without triggering recompute.
    edges.unpersist(blocking = false)
    labels
  }

  /** SoftDeDup commonness reweighting (He et al. 2024, "SoftDedup: an
    * Efficient Data Reweighting Method for Speeding Up Language Model
    * Pretraining"): instead of DROPPING near-duplicates, keep every
    * document and downweight it by its near-dup cluster size — weight
    * 1/|cluster| makes each duplicated content unit contribute one
    * effective document to the sampling distribution while preserving
    * the distributional tail hard dedup throws away. `clusters` is the
    * (doc_id, cluster_id) labeling from [[duplicateClusters]]; docs
    * absent from it have no near-duplicate and keep weight 1. Output
    * per doc: cluster_n, weight = 1/cluster_n, and w_chars — the doc's
    * char mass scaled by its weight (the quantity a weighted sampler
    * integrates). Scale: cluster sizes are one keyed aggregate over the
    * labels table, which holds ONLY docs with ≥1 near-dup (orders of
    * magnitude smaller than the corpus), so both joins back onto the
    * corpus broadcast at production skew; nothing touches `text`. */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_n"))
    val cn = coalesce(col("cluster_n"), lit(1L))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("source"), cn.as("cluster_n"),
        round(lit(1.0) / cn, 6).as("weight"),
        round(col("n_chars") / cn, 6).as("w_chars"))
  }

  /** Per-source effective corpus size under [[softDedupWeights]] — the
    * curation report comparing raw doc counts with the deduplicated
    * mass the soft weights realize (soft_keep_ratio ≈ what fraction of
    * the source survives hard dedup, measured without dropping a row).
    * Weights are summed as exact integer parts-per-million (one
    * round-trip through `round(1e6/n)`), so the aggregate is
    * order-independent — no float-summation nondeterminism crosses the
    * oracle hash. Scale: one keyed aggregate over the weighted corpus. */
  def softDedupEffectiveSize(docs: DataFrame, clusters: DataFrame): DataFrame =
    softDedupWeights(docs, clusters)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(round(lit(1000000.0) / col("cluster_n")).cast("long")).as("ppm"))
      .select(col("source"), col("n_docs"),
        round(col("ppm") / lit(1000000.0), 6).as("effective_docs"),
        round(col("ppm") / lit(1000000.0) / col("n_docs"), 6).as("soft_keep_ratio"))

  /** Exact connected components for an edge set that fits one task:
    * path-compressed union-find over PRIMITIVE arrays (edge buffers →
    * sorted distinct node ids → int parent indices; node ids are sorted,
    * so a smaller index IS a smaller doc_id and min-rooting by index
    * roots every component at its minimum — the same labels the
    * distributed fixpoint and the oracle's transitive closure produce).
    * Zero boxed collections and no materialized label Seq, so the task's
    * footprint is ~32 bytes/edge ([[Cutover.ClusterEdges]]). Releases
    * the `edges` cache. */
  private def smallGraphClusters(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Cutover.fold(edges.select(col("u").cast("long"), col("v").cast("long"))
        .as[(Long, Long)], edges) { it =>
      val ub = new scala.collection.mutable.ArrayBuilder.ofLong
      val vb = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { case (u, v) => ub += u; vb += v }
      val us = ub.result(); val vs = vb.result()
      // Sorted distinct node ids (in-place dedupe, no hash sets).
      val all = new Array[Long](us.length + vs.length)
      System.arraycopy(us, 0, all, 0, us.length)
      System.arraycopy(vs, 0, all, us.length, vs.length)
      java.util.Arrays.sort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
        i += 1
      }
      val nodes = java.util.Arrays.copyOf(all, n)
      def idx(x: Long): Int = java.util.Arrays.binarySearch(nodes, x)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      var e = 0
      while (e < us.length) {
        val ru = find(idx(us(e))); val rv = find(idx(vs(e)))
        if (ru != rv) {
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
        e += 1
      }
      Iterator.tabulate(n)(i => (nodes(i), nodes(find(i))))
    }.toDF("doc_id", "cluster_id")
  }

  /** Dedup RESOLUTION — the step after pair-finding in a real curation
    * pipeline: resolve pairs to clusters, then keep exactly one survivor
    * per duplicate cluster (the min-id canonical) alongside every
    * untouched document. Output: (doc_id, status) with status ∈
    * {unique, canonical}; dropped duplicates simply don't appear. The
    * join is key-equi on doc_id, so the whole policy is one
    * hash-partitioned pass over the corpus plus the cluster fixpoint. */
  def resolveCanonical(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    docs.join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
      .withColumn("status",
        when(col("cluster_id").isNull, "unique").otherwise("canonical"))
      .select(col("doc_id"), col("status"))
  }

  /** Leakage-safe train/test split — the split a training pipeline
    * must use once the corpus is known to contain near-duplicates: a
    * plain per-doc hash split can land one member of a near-dup
    * cluster in train and another in test (evaluation leakage), so
    * here the split KEY is the near-dup CLUSTER label — docs without
    * any near-duplicate are their own singleton cluster. The
    * assignment is the engine's RNG-free sampling discipline: train
    * iff md5("lsplit:" + cluster_id) % 100 < trainPct — deterministic,
    * repartition-stable, oracle-replayable. The `cluster_atomic`
    * verdict column re-checks the guarantee IN-ENGINE (one distinct
    * split per cluster); a broken key choice flips it and fails the
    * oracle hash. Scale: cluster labels come from the pairs graph
    * (corpus-small — only docs WITH a near-dup); the split is a narrow
    * hash over the full corpus; the verdict is one cluster-keyed
    * distinct-count joined back — all keyed shuffles, nothing
    * quadratic. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       trainPct: Long): DataFrame = {
    val clusters = duplicateClusters(pairs).select("doc_id", "cluster_id")
    val labeled = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val assigned = labeled.withColumn("split",
      when(Hashing.md5Long(
          concat(lit("lsplit:"), col("cluster_id").cast("string"))) % 100
          < trainPct, "train")
        .otherwise("test"))
    val atomic = assigned.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("nsplits"))
    assigned.join(atomic, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("split"),
        (col("nsplits") === 1).cast("long").as("cluster_atomic"))
  }

  /** Benchmark decontamination — the train/test-overlap check every
    * training pipeline needs: flag corpus documents sharing at least
    * `minShared` distinct shingles with ANY benchmark document. Shape:
    * the benchmark shingle set is tiny relative to the corpus, so the
    * inverted-index join is a broadcast semi-join against a distinct
    * shingle list — one corpus-shingle scan, no self-join, no
    * quadratic term at any corpus size. Both inputs are
    * [[wordShingles]]-shaped (distinct per doc), so `count(*)` after
    * the join IS the distinct shared-shingle count. */
  def decontaminate(corpusShingles: DataFrame, benchShingles: DataFrame,
                    minShared: Long): DataFrame =
    corpusShingles
      .join(broadcast(benchShingles.select(col("shingle")).distinct()), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)

  /** Bloom-filter decontamination — [[decontaminate]]'s shape for when
    * even the DISTINCT benchmark shingle set is too large to broadcast
    * as an exact hash relation: `bloom_filter_agg` compacts it into a
    * fixed-size bit array (one 1-row aggregate — a few MB broadcast to
    * every executor regardless of benchmark size, as a scalar subquery,
    * the same plan shape Spark's own runtime row-level filtering
    * plants), and the corpus scan probes it with `might_contain` — no
    * join at all on the corpus side. Bloom filters admit NO false
    * negatives, so every truly-contaminated document is flagged; false
    * positives are bounded by the sizing (numBits/estItems ≈ 84
    * bits/key here → per-probe fpp ≈ 2⁻⁵⁸, vanishing at document
    * granularity). Deterministic: the bit set is an OR of fixed
    * per-item hashes — insertion-order- and partitioning-free — so the
    * flagged set is a pure function of (data, sizing constants). */
  def decontaminateBloom(corpusShingles: DataFrame, benchShingles: DataFrame,
                         minShared: Long, estItems: Long, numBits: Long): DataFrame = {
    val s = corpusShingles.sparkSession
    graft.functions.BloomProbe.register(s)
    // No DISTINCT on the bench side: bloom insertion is idempotent, so
    // deduping the keys first would only add a shuffle.
    benchShingles.select(col("shingle")).createOrReplaceTempView("__bloom_bench")
    corpusShingles.createOrReplaceTempView("__bloom_corpus")
    s.sql(
      s"""SELECT doc_id, count(*) AS shared_shingles
         |FROM __bloom_corpus
         |WHERE might_contain(
         |  (SELECT bloom_filter_agg(xxhash64(shingle),
         |                           CAST($estItems AS BIGINT),
         |                           CAST($numBits AS BIGINT))
         |   FROM __bloom_bench),
         |  xxhash64(shingle))
         |GROUP BY doc_id
         |HAVING count(*) >= $minShared""".stripMargin)
  }

  /** Dedup resolution with a QUALITY policy: like [[resolveCanonical]],
    * but the survivor of each duplicate cluster is the highest-quality
    * document (by `scoreCol`, descending; doc_id ascending tiebreak)
    * instead of the smallest id. The ranking window partitions by
    * cluster — bounded by one cluster's size, never corpus-wide. */
  def resolveBestQuality(docs: DataFrame, pairs: DataFrame,
                         scoreCol: Column): DataFrame = {
    val clusters = duplicateClusters(pairs)
    val scored = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("__score", scoreCol)
    // Uniques bypass the ranking entirely: they all carry a NULL
    // cluster_id, and routing them through the window would pile the
    // whole non-duplicate corpus into ONE window partition.
    val uniques = scored.filter(col("cluster_id").isNull)
      .select(col("doc_id"), lit("unique").as("status"))
    val survivors = Rank.perGroup(scored.filter(col("cluster_id").isNotNull),
        Seq("cluster_id"), Seq(col("__score").desc, col("doc_id").asc), 1)
      .select(col("doc_id"), lit("best_quality").as("status"))
    uniques.unionByName(survivors)
  }

  /** Embedding near-dup: exact pairwise cosine ≥ minCos (a < b).
    * Quadratic by design — the oracle-checkable baseline for small n;
    * [[embeddingPairsLsh]] is the sub-quadratic production path. */
  def embeddingPairs(emb: DataFrame, minCos: Double): DataFrame = {
    val e = Similarity.normalized(emb)
    val a = e.withColumnsRenamed(Map("vec_id" -> "vec_a", "v" -> "va"))
    val b = e.withColumnsRenamed(Map("vec_id" -> "vec_b", "v" -> "vb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(expr("dotp(va, vb)"), 6))
      .filter(col("cosine") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Embedding near-dup, LSH-prefiltered: candidate pairs come from
    * [[Similarity.bandedIds]]'s hyperplane buckets (id-only band rows
    * self-joined per bucket — Σ bucket² work, never n²), then ONLY the
    * candidates are exact-cosine-verified. Deterministic given the
    * seeded hyperplanes, so the DuckDB oracle replays the identical
    * signature arithmetic and the output is hash-gated like any exact
    * query. This is the 100 TB shape for what [[embeddingPairs]] states
    * quadratically. */
  def embeddingPairsLsh(emb: DataFrame, minCos: Double, dim: Int): DataFrame = {
    val e = Similarity.normalized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = Similarity.bandedIds(e, dim)
    val cand = bands.as("x").join(bands.as("y"), Seq("band_idx", "bval"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val pairs = cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .withColumn("cosine", round(expr("dotp(va, vb)"), 6))
      .filter(col("cosine") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
    materializeThenRelease(pairs, e)
  }
}
