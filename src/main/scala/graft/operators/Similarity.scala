package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{DotProduct, NearestCentroid, Num}

/** Similarity search over an embedding column (Array[Float] in parquet,
  * cast to double for engine-stable arithmetic).
  *
  * Vectors are L2-normalized ONCE per row, so cosine degrades to a
  * single dot product per pair, computed by the codegen'd native
  * [[DotProduct]] expression (no boxed higher-order lambdas in the
  * pairwise hot loop).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — correctness baseline,
  *    oracle-checked. Tiny broadcast query side × one corpus scan.
  *  - [[annTopK]]: random-hyperplane LSH — signatures per row (narrow),
  *    banded bucket joins produce id-only candidates, exact scoring only
  *    on candidates. The sub-quadratic 100 TB shape.
  *
  * Ranking in both goes through the bounded per-group heap top-k
  * ([[Rank.topK]]): partial top-k buffers combine
  * map-side, so only O(k) rows per query per partition cross the
  * shuffle — NOT the full scored set sorted under a window.
  */
object Similarity {

  /** Cosine via higher-order functions (reference formulation, used in
    * specs; hot paths use [[normalized]] + [[DotProduct]]). */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** vec_id + L2-normalized array<double> vector. Registers the dotp
    * SQL function on the frame's session. */
  def normalized(emb: DataFrame): DataFrame = {
    DotProduct.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(expr("dotp(raw, raw)")))
      .select(col("vec_id"), transform(col("raw"), x => x / col("nrm")).as("v"))
  }

  /** [[normalized]] with a zero-norm guard. A zero vector has no
    * direction: dividing by its 0 norm yields NaN components, and every
    * cosine against it is NaN — which silently fails a `>= minCos`
    * filter instead of erroring, so the vector never matches anything
    * without any hint why. The guard emits `v = NULL` for zero-norm
    * inputs (a null cosine fails every threshold DETERMINISTICALLY,
    * same protective outcome) — and it lives INSIDE the projection, as
    * a `when`, on purpose: a `.filter(nrm > 0)` variant was 10× slower
    * end-to-end, because predicate pushdown substitutes the whole
    * upstream lambda chain into the filter condition and evaluates it
    * at the scan, outside codegen, duplicating every transform feeding
    * this operator (measured on q_st_embed_accum: 1.6 s → 10.5 s; the
    * plan showed dotp(transform(transform(...))) inlined twice into a
    * non-codegen Filter under the parquet scan). */
  def normalizedNonZero(emb: DataFrame): DataFrame = {
    DotProduct.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(expr("dotp(raw, raw)")))
      .select(col("vec_id"),
        when(col("nrm") > 0,
          transform(col("raw"), x => x / col("nrm"))).as("v"))
  }

  /** The data-seeded centroids (cid, cv): the normalized vectors whose
    * `vec_id % centStride == 0`, so an oracle replays the same set. */
  private def seeds(e: DataFrame, centStride: Long): DataFrame =
    e.filter(pmod(col("vec_id"), lit(centStride)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** Exact top-k neighbours for each query row (queries = `queryPred`),
    * ranked by rounded cosine desc with vec_id tiebreak. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = normalized(emb)
    val q = e.filter(queryPred)
      .withColumnsRenamed(Map("vec_id" -> "query_id", "v" -> "qv"))
    val scored = broadcast(q).crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr("dotp(qv, v)"), 6).as("cosine"))
    Rank.topK(scored, "query_id", "cosine", "vec_id", k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
  }

  /** IVF-style ANN: a coarse quantizer over deterministic centroids (the
    * normalized vectors whose `vec_id % centStride == 0` — seeded by the
    * data itself, so the oracle replays the identical centroid set),
    * inverted lists by nearest-centroid assignment, and `nProbe`-list
    * probing. Work is n·|centroids| assignment dots plus exact scoring of
    * ONLY the probed lists — the classic sub-quadratic alternative to
    * [[annTopK]]'s hash buckets when recall should follow data geometry
    * rather than random hyperplanes. |centroids| stays bounded (stride on
    * vec_id), so the centroid table broadcasts at any corpus size. */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, nProbe: Int,
              centStride: Long): DataFrame = {
    val e = normalized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scoredCent = e.crossJoin(broadcast(seeds(e, centStride)))
      .select(col("vec_id"), col("cid"), expr("dotp(v, cv)").as("cd"))
    // Per-vector centroid ranking: each window partition is one vector's
    // |centroids| rows — bounded, never a corpus-wide sort.
    val byCentroid = Seq(col("cd").desc, col("cid").asc)
    val lists = Rank.perGroup(scoredCent, Seq("vec_id"), byCentroid, 1)
      .select("vec_id", "cid")
    val probes = Rank.perGroup(scoredCent, Seq("vec_id"), byCentroid, nProbe)
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("cid"))
    val cand = probes.join(lists, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr("dotp(qv, v)"), 6).as("cosine"))
    val out = Rank.topK(scored, "query_id", "cosine", "vec_id", k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
    Dedup.materializeThenRelease(out, e)
  }

  /** IVF inverted-list BALANCE report — the index-health probe an ANN
    * deployment runs after (re)training: list-size skew is what drives
    * tail latency (a probe of a hot list scans its whole membership) and
    * recall anisotropy (starved lists under-probe their region). One
    * row: list count, vector count, min/max/avg list size, and skew =
    * max/avg (1.0 = perfectly balanced). Same data-seeded centroids and
    * assignment argmax as [[ivfTopK]], so the report describes exactly
    * the index the query path probes. Scale: the centroid table is
    * collected once; then one scan assigns each vector in place
    * ([[NearestCentroid]]), one keyed count and one tiny aggregate. The
    * frame is returned lazy: nothing is cached or checkpointed. */
  def ivfBalanceReport(emb: DataFrame, centStride: Long): DataFrame = {
    val e = normalized(emb)
    val sizes = assignToCentroids(e, seeds(e, centStride))
      .groupBy("cid").agg(count(lit(1)).as("sz"))
    sizes.agg(
      count(lit(1)).as("n_lists"),
      sum(col("sz")).as("n_vectors"),
      min(col("sz")).as("min_size"),
      max(col("sz")).as("max_size"),
      round(avg(col("sz")), 6).as("avg_size"),
      round(max(col("sz")) / avg(col("sz")), 6).as("skew"))
  }

  /** One Lloyd assignment round: nearest centroid by inner product
    * (vectors are normalized, so this is spherical k-means assignment),
    * deterministic cid-asc tie-break. The centroid table is bounded
    * (data-seeded stride): it is collected once and each vector is
    * searched against it in place by [[NearestCentroid]] — one narrow
    * pass, no cross join, no shuffle, no ranking. */
  private def assignToCentroids(e: DataFrame, cent: DataFrame): DataFrame =
    assignWithSim(e, cent).select("vec_id", "cid")

  /** [[assignToCentroids]] with the winning dot kept: (vec_id, cid,
    * cd) where cd is the assignment similarity ROUNDED to 6 AFTER the
    * argmax (ordering is decided on the raw dot, so rounding cannot
    * flip an assignment) — the per-vector fit signal the staleness
    * accounting aggregates. */
  private[graft] def assignWithSim(e: DataFrame, cent: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(
        NearestCentroid.argmaxDot(e.sparkSession, col("v"), NearestCentroid.table(cent)))
        .as("a"))
      .select(col("vec_id"), col("a.cid").as("cid"), col("a.d").as("cd"))

  // ------------------------------- incremental IVF index maintenance

  /** IVF coarse index — the serving state of the similarity family as
    * an [[AccumIndex]]: `centroids` is the frozen data-seeded coarse
    * quantizer, `corpusStats` the per-list membership statistics (cid,
    * old_size, sim_sum) where `sim_sum` is the EXACT DECIMAL(18,6) sum of
    * the members' rounded assignment similarities — a sum, not a mean,
    * so absorbing batches stays associative (decimal sums add exactly; a
    * stored rounded mean could not be recombined without drift). Build
    * once with [[buildIvfIndex]], report each arriving batch with
    * [[ivfReassign]] — which assigns ONLY the batch, the corpus is never
    * rescanned — and fold accepted batches into the list statistics with
    * `absorb` (the quantizer stays frozen; only the membership accounting
    * advances, so the NEXT batch's growth/drift reads against everything
    * already absorbed, not the original build). State is
    * O(|centroids|) whatever the stream's lifetime.
    *
    * The absorb watermark is MORE load-bearing here than in the other
    * families: the stats are merged per-list aggregates with no vector
    * ids retained, so a replayed batch cannot be anti-joined away; the
    * watermark is the only way to keep a checkpoint replay from
    * double-counting old_size/sim_sum. `corpusStats` is not derivable
    * from the centroids, so both frames are durable tables (decimal sums
    * round-trip bit-exact through parquet's DECIMAL(18,6)). */
  final case class IvfIndex(centroids: DataFrame, corpusStats: DataFrame,
                            centStride: Long, lastBatchId: Long = -1L)
      extends AccumIndex[IvfIndex] {
    def frames: Seq[DataFrame] = Seq(centroids, corpusStats)
    def tables: Seq[(String, DataFrame)] =
      Seq("centroids" -> centroids, "stats" -> corpusStats)
    override def params: Seq[(String, Long)] = Seq("cent_stride" -> centStride)
    def withLastBatchId(batchId: Long): IvfIndex = copy(lastBatchId = batchId)

    /** Associative by construction — absorbing b1 then b2 yields
      * bit-identical `corpusStats` to absorbing b1 ∪ b2 once
      * (IvfMaintenanceSpec pins it), so a serving loop can fold batches
      * at any cadence. Cost is the batch assignment + a |centroids|-row
      * merge; the superseded statistics are released. */
    def absorb(newEmb: DataFrame): IvfIndex = {
      val added = listStats(normalized(newEmb), centroids)
        .select(col("cid"), col("old_size").as("added"),
          col("sim_sum").as("batch_sum"))
      val zeroSum = lit(BigDecimal(0)).cast(SimSumType)
      val merged = corpusStats.join(added, Seq("cid"), "full_outer")
        .select(col("cid"),
          (coalesce(col("old_size"), lit(0L)) + coalesce(col("added"), lit(0L)))
            .as("old_size"),
          (coalesce(col("sim_sum"), zeroSum) + coalesce(col("batch_sum"), zeroSum))
            .cast(SimSumType).as("sim_sum"))
      copy(corpusStats = AccumIndex.swap(corpusStats, merged))
    }
  }

  private val SimSumType = org.apache.spark.sql.types.DecimalType(18, 6)

  /** Per-list (cid, old_size, sim_sum) of one vector set against a
    * frozen centroid table — shared by build / reassign / absorb. */
  private def listStats(e: DataFrame, cent: DataFrame): DataFrame =
    assignWithSim(e, cent)
      .groupBy("cid")
      .agg(count(lit(1)).as("old_size"),
        sum(col("cd").cast(SimSumType)).cast(SimSumType).as("sim_sum"))

  def buildIvfIndex(emb: DataFrame, centStride: Long): IvfIndex = {
    val e = AccumIndex.persist(normalized(emb))
    val cent = AccumIndex.persist(seeds(e, centStride))
    // Materialize up front: the first arriving batch must not absorb the
    // corpus assignment pass. stats ← cent is one lineage chain.
    val stats = AccumIndex.persist(listStats(e, cent))
    AccumIndex.fill(stats)
    e.unpersist(blocking = false)
    IvfIndex(cent, stats, centStride)
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfIndex =
    AccumIndex.load(spark, path) { s =>
      val cent = AccumIndex.persist(s.table("centroids"))
      val stats = AccumIndex.persist(s.table("stats"))
      AccumIndex.fill(cent, stats)
      IvfIndex(cent, stats, s.param("cent_stride"))
    }

  /** Report one arriving batch against a prebuilt [[IvfIndex]] WITHOUT
    * rebuilding it: assign only the new vectors to the frozen
    * centroids and emit the per-list STALENESS report a serving
    * pipeline watches to decide when to re-centroid — (cid, old_size,
    * added, new_size, growth, mean_sim_old, mean_sim_new). `growth`
    * (added/old_size) flags lists whose membership is increasingly
    * post-build (skewed growth starves probes of fresh data);
    * `mean_sim_new` < `mean_sim_old` means arriving vectors fit the
    * frozen quantizer worse than the training corpus did — drift, the
    * re-train signal. Lists with no arrivals keep added = 0 and a null
    * mean_sim_new. The join is FULL OUTER: a batch vector assigned to
    * a centroid with no build-time members (possible when the index
    * state was not self-seeded, or after duplicate-centroid ties)
    * surfaces as a row with old_size = 0 and null growth/mean_sim_old
    * — a left join would silently DROP those arrivals and the report
    * would under-count the batch. Per-batch cost: |batch|·|centroids|
    * in-place dots + one keyed aggregate + a |centroids|-row join —
    * no corpus-sized work. */
  def ivfReassign(index: IvfIndex, newEmb: DataFrame): DataFrame = {
    val added = listStats(normalized(newEmb), index.centroids)
      .select(col("cid"), col("old_size").as("added"),
        col("sim_sum").as("batch_sum"))
    val oldSize = coalesce(col("old_size"), lit(0L))
    val addedN = coalesce(col("added"), lit(0L))
    index.corpusStats.join(added, Seq("cid"), "full_outer")
      .select(col("cid"), oldSize.as("old_size"), addedN.as("added"),
        (oldSize + addedN).as("new_size"),
        when(oldSize > 0, round(addedN / col("old_size"), 6)).as("growth"),
        when(oldSize > 0,
          round(col("sim_sum").cast("double") / col("old_size"), 6))
          .as("mean_sim_old"),
        when(addedN > 0,
          round(col("batch_sum").cast("double") / col("added"), 6))
          .as("mean_sim_new"))
  }

  /** Distributed k-means (Lloyd's iterations) over the embedding column —
    * the clustering step a curation pipeline runs for diversity sampling
    * or IVF index training. Centroids seed from the data (vec_id %
    * centStride == 0, like [[ivfTopK]]); each iteration assigns every
    * vector to its nearest centroid by inner product and recomputes
    * centroids as the per-dimension mean of their members. The mean is a
    * decimal-stable [[graft.functions.Num.dsum]] / count rounded to 6, so
    * centroid components — and therefore every later assignment argmax —
    * are bit-identical on any engine and any partitioning (a raw double
    * mean would drift by ulps and could flip an argmax). Emits one row
    * per surviving centroid: member count + centroid L2 norm. Scale: per
    * iteration one in-place assignment scan (n·|centroids| primitive
    * dots, [[NearestCentroid]]) + one (cid, dim)-keyed map-side-combining
    * aggregate; centroid state is O(|centroids|·dim), never corpus-sized. */
  def kmeansClusters(emb: DataFrame, centStride: Long, iters: Int): DataFrame = {
    val e = normalized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cent = seeds(e, centStride)
    for (i <- 0 until iters) {
      val members = assignToCentroids(e, cent).join(e, Seq("vec_id"))
      val next = members
        .select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(graft.functions.Num.dsum(col("col")) / count(lit(1)), 6).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
      // Per-round truncation: centroid state is O(|centroids|·dim), so
      // the checkpoint is tiny, and freeing round N−1 keeps live blocks
      // O(1) across any number of Lloyd rounds.
      cent = Lifecycle.step(next, if (i == 0) None else Some(cent))
    }
    // Materialize the final centroids once: they feed BOTH the final
    // assignment broadcast and the norm join below, and an
    // un-materialized `cent` would re-execute the whole multi-iteration
    // Lloyd lineage twice (the two consumers use different exchange
    // shapes, so ReuseExchange cannot dedupe them).
    val finalCent = cent.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = assignToCentroids(e, finalCent)
      .groupBy("cid").agg(count(lit(1)).as("n_assigned"))
      .join(finalCent, Seq("cid"))
      .select(col("cid"), col("n_assigned"),
        round(sqrt(expr("dotp(cv, cv)")), 6).as("centroid_norm"))
    Dedup.materializeThenRelease(out, e, finalCent)
  }

  /** Top principal component of the (centered, normalized) embedding
    * cloud via distributed power iteration — the dimensionality-
    * reduction / dominant-direction probe a curation pipeline runs to
    * detect collapsed or degenerate embedding batches. Math shape: with
    * C the centered data matrix, each iteration computes v ←
    * normalize(Cᵀ(Cv)) — two map-side-combining aggregates per
    * iteration (one keyed by vec_id for the projections d = Cv, one
    * keyed by dimension for the back-projection u = Cᵀd) against a
    * broadcast direction vector of `dim` rows; NO d×d covariance matrix
    * is ever materialized, so the cost per iteration is linear in the
    * corpus and the state is O(dim). Engine-exactness (the kmeans
    * discipline): every sum crosses partitions as an exact
    * DECIMAL(18,6) ([[graft.functions.Num.dsum]]), the direction is
    * rounded to 6 after each normalization, and the start vector is the
    * constant 1/√dim — so loadings and the Rayleigh-quotient eigenvalue
    * are bit-identical on any engine at any parallelism. Emits one row
    * per dimension: (dim, loading, lambda). */
  def pcaPower(emb: DataFrame, iters: Int, dim: Int): DataFrame = {
    val (v, lambda, c) = pcaCore(emb, iters, dim)
    val out = v.crossJoin(broadcast(lambda))
      .select(col("pos").as("dim"), col("w").as("loading"), col("lambda"))
    Dedup.materializeThenRelease(out, c)
  }

  /** Explained-variance ratio of the top principal component — the
    * one-number answer to "is this embedding batch collapsed?": λ from
    * the same power iteration as [[pcaPower]], total variance from the
    * same rounded-mean-centered matrix (Σ‖x−µ‖²/n, decimal-exact sum),
    * and their ratio. A healthy isotropic-ish batch sits near 1/dim; a
    * collapsed batch's top component absorbs most of the variance.
    * One row: (lambda, total_var, explained_ratio). */
  def pcaExplained(emb: DataFrame, iters: Int, dim: Int): DataFrame = {
    val (_, lambda, c) = pcaCore(emb, iters, dim)
    val n1 = broadcast(
      c.select("vec_id").distinct().agg(count(lit(1)).as("n")))
    val tv = c.agg(Num.dsum(col("cv") * col("cv")).as("ss"))
      .crossJoin(n1)
      .select(round(col("ss") / col("n"), 6).as("total_var"))
    val out = lambda.crossJoin(broadcast(tv))
      .select(
        round(col("lambda").cast("double"), 6).as("lambda"),
        round(col("total_var").cast("double"), 6).as("total_var"),
        round(col("lambda").cast("double") / col("total_var").cast("double"), 6)
          .as("explained_ratio"))
    Dedup.materializeThenRelease(out, c)
  }

  /** Shared power-iteration core: returns (direction v = (pos, w),
    * 1-row Rayleigh eigenvalue, and the PERSISTED centered matrix —
    * callers must release `c` via `materializeThenRelease(…, c)`). */
  private def pcaCore(emb: DataFrame, iters: Int,
                      dim: Int): (DataFrame, DataFrame, DataFrame) = {
    // fanOut: a single-file embeddings scan otherwise single-threads
    // the normalize+explode AND leaves the centered-matrix cache (and
    // every aggregate over it) one partition wide (r16).
    val ev = normalized(graft.Tables.fanOut(emb))
      .select(col("vec_id"), posexplode(col("v")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("val"))
    val mean = ev.groupBy("pos")
      .agg(round(Num.dsum(col("val")) / count(lit(1)), 6).as("m"))
    val c = ev.join(broadcast(mean), Seq("pos"))
      .select(col("vec_id"), col("pos"), (col("val") - col("m")).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A distributed power iteration pays ~3 jobs of scheduling per
    // round; below the limit the whole loop runs as ONE executor task.
    Cutover.run("pcaCore", c.count(), Cutover.PcaRows)(
      smallMatrixPcaCore(c, iters, dim))(distributedPcaCore(c, iters, dim))
  }

  private def distributedPcaCore(c: DataFrame, iters: Int,
                                 dim: Int): (DataFrame, DataFrame, DataFrame) = {
    var v: DataFrame = c.sparkSession.range(1, dim + 1)
      .select(col("id").as("pos"), lit(1.0 / math.sqrt(dim)).as("w"))
    for (i <- 1 to iters) {
      val d = c.join(broadcast(v), Seq("pos"))
        .groupBy("vec_id").agg(Num.dsum(col("cv") * col("w")).as("d"))
      val u = c.join(d, Seq("vec_id"))
        .groupBy("pos").agg(Num.dsum(col("cv") * col("d")).as("u"))
      val nn = u.agg(sqrt(Num.dsum(col("u") * col("u"))).as("norm"))
      val next = u.crossJoin(broadcast(nn))
        .select(col("pos"), round(col("u") / col("norm"), 6).as("w"))
      // CRITICAL for cost, not just memory: `u` appears TWICE in `next`
      // (directly and inside the norm), so an un-truncated direction
      // doubles its subtree every iteration — 2^iters copies of round 1
      // by the λ computation (round-5 bench: 36–107 s at sf0.1 on 2 000
      // vectors). Checkpointing the O(dim)-row direction each round
      // collapses the plan to one round deep; freeing round N−1 keeps
      // live blocks O(1).
      v = Lifecycle.step(next, if (i == 1) None else Some(v))
    }
    val dF = c.join(broadcast(v), Seq("pos"))
      .groupBy("vec_id").agg(Num.dsum(col("cv") * col("w")).as("d"))
    val lambda = dF
      .agg(round(Num.dsum(col("d") * col("d")) / count(lit(1)), 6).as("lambda"))
    (v, lambda, c)
  }

  /** One-task power iteration over a bounded centered matrix: folds the
    * (vec_id, pos, cv) rows into primitive arrays, runs the exact loop
    * the distributed path runs — d = Σ₆(cv·w) per vector,
    * u = Σ₆(cv·d) per dimension, norm = √Σ₆(u²), w′ = round₆(u/norm),
    * λ = round₆(Σ₆(d²)/n) — where Σ₆ is the exact DECIMAL(18,6) sum
    * ([[graft.functions.Num.unscaledAt]] per term, long accumulation,
    * [[graft.functions.Num.fromUnscaled]] back), then emits one
    * (pos, w, lambda) row per dimension. Returns (v, λ, c) shaped
    * exactly like the distributed path so callers can't tell them
    * apart. */
  private def smallMatrixPcaCore(c: DataFrame, iters: Int,
                                 dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val sess = c.sparkSession
    import sess.implicits._
    val vl = Cutover.fold(c.select(col("vec_id"), col("pos"), col("cv"))
        .as[(Long, Long, Double)]) { it =>
      val vecIds = new Interner[java.lang.Long]
      val vecs = new IntBuf()
      val poss = new IntBuf()
      val cvs = new DoubleBuf()
      while (it.hasNext) {
        val (vec, pos, cv) = it.next()
        // The w/uSum arrays are dim-sized; a dim argument that does
        // not cover the data would index past them — reject loudly
        // (the distributed path would silently widen to the data's
        // dimensionality after round 1, which is equally wrong).
        require(pos >= 1 && pos <= dim,
          s"pcaCore: position $pos outside [1, $dim] — dim must " +
            "cover the embedding dimensionality")
        vecs += vecIds.id(vec); poss += pos.toInt - 1; cvs += cv
      }
      val nVec = vecIds.size
      if (nVec == 0) Iterator.empty
      else {
        val nRows = vecs.length
        val w = Array.fill(dim)(1.0 / math.sqrt(dim))
        val dSum = new Array[Long](nVec)
        val uSum = new Array[Long](dim)
        val d = new Array[Double](nVec)
        var iter = 1
        while (iter <= iters) {
          java.util.Arrays.fill(dSum, 0L)
          var k = 0
          while (k < nRows) {
            // addExact throughout this loop body: a silent long wrap
            // would corrupt the trajectory; the distributed path's
            // decimal sums can't wrap, so fail loudly instead.
            dSum(vecs(k)) = Math.addExact(dSum(vecs(k)),
              Num.unscaledAt(cvs(k) * w(poss(k)), 6))
            k += 1
          }
          var i = 0
          while (i < nVec) { d(i) = Num.fromUnscaled(dSum(i), 6); i += 1 }
          java.util.Arrays.fill(uSum, 0L)
          k = 0
          while (k < nRows) {
            uSum(poss(k)) = Math.addExact(uSum(poss(k)),
              Num.unscaledAt(cvs(k) * d(vecs(k)), 6))
            k += 1
          }
          var nn = 0L
          i = 0
          while (i < dim) {
            val u = Num.fromUnscaled(uSum(i), 6)
            nn = Math.addExact(nn, Num.unscaledAt(u * u, 6))
            i += 1
          }
          val norm = math.sqrt(Num.fromUnscaled(nn, 6))
          i = 0
          while (i < dim) {
            w(i) = Num.roundAt(Num.fromUnscaled(uSum(i), 6) / norm, 6)
            i += 1
          }
          iter += 1
        }
        java.util.Arrays.fill(dSum, 0L)
        var k = 0
        while (k < nRows) {
          dSum(vecs(k)) = Math.addExact(dSum(vecs(k)),
            Num.unscaledAt(cvs(k) * w(poss(k)), 6))
          k += 1
        }
        var ll = 0L
        var i = 0
        while (i < nVec) {
          val df = Num.fromUnscaled(dSum(i), 6)
          ll = Math.addExact(ll, Num.unscaledAt(df * df, 6))
          i += 1
        }
        val lambda = Num.roundAt(Num.fromUnscaled(ll, 6) / nVec, 6)
        (0 until dim).iterator.map(i => (i + 1L, w(i), lambda))
      }
    }.toDF("pos", "w", "lambda")
    (vl.select(col("pos"), col("w")),
      vl.filter(col("pos") === 1).select(col("lambda")),
      c)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then deduplicate ONLY within clusters — pairwise cosine is
    * confined to cluster members, so the quadratic all-pairs blowup
    * never forms. Centroids are data-seeded (vec_id % centStride == 0,
    * same scheme as [[ivfTopK]]/[[kmeansClusters]], so the oracle
    * replays the identical set); each vector is assigned to its nearest
    * centroid by inner product (bounded table searched in place,
    * deterministic cid-asc tiebreak); within a cluster, a vector is DROPPED when a
    * smaller-vec_id member sits at rounded cosine ≥ minCos (keep-lowest
    * — the deterministic stand-in for the paper's keep-farthest-from-
    * centroid policy). Emits one row per vector: (vec_id, cid, kept).
    * Scale: centroid count grows ∝ corpus (fixed stride), so expected
    * cluster size stays a CONSTANT (≈ centStride) — the within-cluster
    * self-join costs Σ|cluster|² ≈ n·centStride, linear in the corpus;
    * this is precisely the paper's scaling argument. */
  def semDedup(emb: DataFrame, centStride: Long, minCos: Double): DataFrame = {
    val e = normalized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assign = assignToCentroids(e, seeds(e, centStride))
    val members = assign.join(e, Seq("vec_id"))
    val a = members.select(col("cid"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = members.select(col("cid"), col("vec_id").as("vec_b"), col("v").as("vb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b") &&
        round(expr("dotp(va, vb)"), 6) >= minCos)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    val out = assign.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("hit").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
    Dedup.materializeThenRelease(out, e)
  }

  /** Product quantization encode (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each normalized
    * vector into `m` contiguous subvectors; quantize each subvector to
    * its nearest (squared-L2) centroid in a per-subspace codebook. The
    * codebooks are data-seeded — subspace s's codebook is the s-th
    * slice of the vectors with vec_id % centStride == 0 — so the oracle
    * rebuilds them exactly. Distances are ‖x‖²+‖c‖²−2x·c via three
    * sequential-fold dot products (identical IEEE arithmetic both
    * engines) and are rounded to 6 BEFORE the argmin so an ulp can
    * never flip a code. Emits the long-form code table (vec_id, sub_no,
    * code, sq_err) — n·m rows, the PQ index a vector store ships to
    * disk at 1/(32·sub/8)th of float32. Scale: the codebooks are
    * collected once and each vector is encoded in place
    * ([[NearestCentroid]]) — one narrow pass, no join, no shuffle; the
    * frame is returned lazy. */
  def pqEncode(emb: DataFrame, centStride: Long, m: Int, dim: Int): DataFrame = {
    val e = normalized(emb)
    pqCodes(e, seeds(e, centStride), m, dim / m)
  }

  /** (vec_id, sub_no, code, sq_err): each vector's nearest codebook
    * entry per subspace, cid-asc tie-break — [[pqScored]]'s rows
    * argmin'd in place by [[NearestCentroid]], with `sq_err`
    * bit-identical to [[pqScored]]'s `d`. */
  private[graft] def pqCodes(e: DataFrame, cent: DataFrame, m: Int, sub: Int): DataFrame =
    e.select(col("vec_id"), posexplode(
        NearestCentroid.pqCodes(e.sparkSession, col("v"), NearestCentroid.table(cent), m, sub)))
      .select(col("vec_id"), col("pos").cast("long").as("sub_no"),
        col("col.cid").as("code"), col("col.d").as("sq_err"))

  /** Every (vector, subspace, codebook-entry) squared-L2 distance of the
    * vectors `x` against the codebooks sliced from `cent` (cid, cv) —
    * [[pqAdcTopK]]'s query-side lookup tables, and the definition
    * [[pqCodes]] replays. */
  private[graft] def pqScored(x: DataFrame, cent: DataFrame, m: Int, sub: Int): DataFrame = {
    def subspaces(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id),
        posexplode(array((0 until m).map(s =>
          expr(s"slice($v, ${s * sub + 1}, $sub)")): _*)))
        .select(col(id), col("pos").cast("long").as("sub_no"), col("col").as(v))
    subspaces(x.withColumnRenamed("v", "sv"), "vec_id", "sv")
      .join(broadcast(subspaces(cent, "cid", "cv")), Seq("sub_no"))
      .select(col("vec_id"), col("sub_no"), col("cid"),
        round(expr("dotp(sv, sv)") + expr("dotp(cv, cv)")
          - lit(2) * expr("dotp(sv, cv)"), 6).as("d"))
  }

  /** PQ asymmetric-distance (ADC) top-k retrieval: corpus vectors are
    * represented ONLY by their m codebook codes ([[pqEncode]]'s output);
    * a query's distance to a corpus vector is the sum of its
    * per-subspace distances to the vector's code centroids, looked up
    * from an m·|codebook| table computed once per query. This is how a
    * PQ index actually serves search at scale: the corpus-side work per
    * query is m hash-join lookups + a sum per candidate — NO full-dim
    * arithmetic ever touches a corpus vector at query time. The
    * per-subspace distances are rounded (6) before the DECIMAL-exact
    * sum, so the ADC scores — and the ranking — are engine-identical.
    * The corpus codes are [[pqCodes]]; the lookup tables are
    * [[pqScored]] over the query rows only, the same arithmetic.
    * Ranking goes through a rank-filter window, which the injected
    * [[graft.plans.TopKPerGroup]] rewrite compiles to the native
    * streaming top-k physical operator. */
  def pqAdcTopK(emb: DataFrame, queryPred: Column, k: Int,
                centStride: Long, m: Int, dim: Int): DataFrame = {
    val e = normalized(emb)
    val cent = seeds(e, centStride)
    val codes = pqCodes(e, cent, m, dim / m).select(col("vec_id"), col("sub_no"), col("code"))
    val dtab = pqScored(e.filter(queryPred), cent, m, dim / m)
      .select(col("vec_id").as("query_id"), col("sub_no"),
        col("cid").as("code"), col("d"))
    val adist = codes.join(dtab, Seq("sub_no", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(round(graft.functions.Num.dsum(col("d")), 6).as("adist"))
    Rank.perGroup(adist, Seq("query_id"),
        Seq(col("adist").asc, col("vec_id").asc), k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("adist"))
  }

  /** Recall@k of the hyperplane-LSH ANN ([[annTopK]]) against the exact
    * brute-force ranking ([[bruteForceTopK]]), computed IN-ENGINE per
    * query: both top-k tables are deterministic, so the overlap count —
    * the index-quality metric a curation pipeline monitors before
    * trusting an ANN index — is oracle-checkable like any other query.
    * Left join keeps queries the ANN missed entirely (recall 0). */
  def annRecallReport(emb: DataFrame, queryPred: Column, k: Int, dim: Int): DataFrame =
    recallVsTruth(
      bruteForceTopK(emb, queryPred, k),
      annTopK(emb, queryPred, k, dim), k)

  /** Per-query recall of `approx`'s (query_id, vec_id) hits against
    * `truth`'s — ONE spelling of the hit-join/ratio tail for every
    * recall report, kept in lockstep with the oracle SQL. */
  private def recallVsTruth(truth: DataFrame, approx: DataFrame,
                            k: Int): DataFrame =
    truth.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id"), col("vec_id"))
        .withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / lit(k.toDouble), 6).as("recall"))

  /** Truncated-embedding retrieval recall — the Matryoshka (MRL) check
    * a retrieval pipeline runs before shrinking its index: keep only
    * the first `keepDims` dimensions, L2-renormalize, run the same
    * exact top-k, and report per-query recall against the full-dim
    * baseline. Pure composition of two [[bruteForceTopK]] passes (each
    * already scale-shaped: broadcast query side, bounded heap ranking)
    * plus one k-row-per-query join — the measurement adds no new
    * scaling term. */
  def truncationRecallReport(emb: DataFrame, queryPred: Column, k: Int,
                             keepDims: Int): DataFrame = {
    // A vector whose kept prefix is all-zero has no direction left —
    // Spark 4's ANSI Divide throws DIVIDE_BY_ZERO on the 0-norm divide
    // even for doubles (observed: SparkArithmeticException from
    // normalized()'s x / nrm) — so truncation removes it from the index
    // and recall reflects the loss. Same predicate spelled in the
    // oracle.
    val truncated = emb
      .select(col("vec_id"), slice(col("embedding"), 1, keepDims).as("embedding"))
      .filter(expr("exists(embedding, x -> x != 0)"))
    recallVsTruth(
      bruteForceTopK(emb, queryPred, k),
      bruteForceTopK(truncated, queryPred, k), k)
  }

  /** Hard-negative mining with false-negative filtering — the
    * contrastive-training data-prep stage: per query, the rank-1
    * neighbor is the positive and ranks 2..k are negative candidates,
    * but a candidate that is itself a near-duplicate of the POSITIVE
    * (cos(neg, pos) ≥ `fnMin`) is a FALSE negative — training on it as
    * a negative poisons the loss — so each candidate is scored against
    * the positive and labeled false_negative / hard_negative
    * (cos(query, neg) ≥ `hardMin`) / easy_negative. Scale: the mined
    * set is k rows per query; the verification pass is two keyed hash
    * joins of that bounded set against the normalized corpus plus one
    * codegen'd dot per row — no new corpus-sized term. */
  def hardNegativeMining(emb: DataFrame, queryPred: Column, k: Int,
                         hardMin: Double, fnMin: Double): DataFrame =
    mineNegatives(normalized(emb), bruteForceTopK(emb, queryPred, k),
      hardMin, fnMin)

  /** [[hardNegativeMining]] over the ANN INDEX candidate path: the
    * mined ranking comes from [[ivfTopK]] (data-seeded coarse
    * quantizer, nProbe-list probing) instead of the brute-force scan —
    * how a production contrastive-data pipeline actually mines, since
    * it already built the index it retrieves from. Same
    * positive/false-negative/hard/easy labeling tail; the exact miner
    * stays available as this variant's recall oracle
    * ([[hardNegativeRecallReport]]). Scale: retrieval cost is the IVF
    * index path's (n·|centroids| assignment dots + probed-list
    * scoring), replacing the exact miner's O(|Q|·N) broadcast scan —
    * the last quadratic retrieval feeding a first-class op. */
  def hardNegativeMiningIvf(emb: DataFrame, queryPred: Column, k: Int,
                            nProbe: Int, centStride: Long,
                            hardMin: Double, fnMin: Double): DataFrame =
    mineNegatives(normalized(emb),
      ivfTopK(emb, queryPred, k, nProbe, centStride), hardMin, fnMin)

  /** Per-query recall of the IVF-mined negative candidate set
    * ([[hardNegativeMiningIvf]], ranks 2..k) against the exact miner's
    * ([[hardNegativeMining]]) — the index-quality gate a pipeline
    * checks before trusting index-mined negatives. k−1 candidates per
    * query, so recall = hits/(k−1). */
  def hardNegativeRecallReport(emb: DataFrame, queryPred: Column, k: Int,
                               nProbe: Int, centStride: Long,
                               hardMin: Double, fnMin: Double): DataFrame =
    recallVsTruth(
      hardNegativeMining(emb, queryPred, k, hardMin, fnMin),
      hardNegativeMiningIvf(emb, queryPred, k, nProbe, centStride,
        hardMin, fnMin), k - 1)

  /** Graded ranking quality (MRR + nDCG@k) of the IVF index against
    * the exact ranking — the serving scorecard a retrieval deployment
    * tracks ALONGSIDE recall: recall@k says whether the true
    * neighbours surface at all, nDCG says where the index puts them
    * (rank-discounted gain), MRR how early the single best neighbour
    * appears. Relevance grades are self-supervised from the exact
    * ranking (rel = k−rank+1 for the exact top-k, 0 otherwise), so no
    * external labels are needed — the same grading source as
    * [[annRecallReport]]. Numeric discipline: each per-position
    * contribution rel/log2(pos+1) is rounded to 6 decimals IMMEDIATELY
    * (absorbing 1-ulp ln() divergence, the temperature-mix pow
    * pattern; both engines spell log2 as ln(x)/ln(2)), and the
    * per-query sums are exact DECIMAL folds ([[Num.dsum]]) — order-
    * independent under any partitioning. Scale: the two retrieval
    * passes dominate; the scoring tail is one k-rows-per-query join
    * plus keyed aggregates. */
  def rankingMetricsReport(emb: DataFrame, queryPred: Column, k: Int,
                           nProbe: Int, centStride: Long): DataFrame = {
    def log2(c: Column): Column = log(c) / log(lit(2.0))
    val truth = bruteForceTopK(emb, queryPred, k)
      .select(col("query_id"), col("rn").as("trn"), col("vec_id"))
    val approx = ivfTopK(emb, queryPred, k, nProbe, centStride)
      .select(col("query_id"), col("rn").as("arn"), col("vec_id"))
    val contrib = approx.join(truth, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"),
        round(coalesce((lit(k) - col("trn") + 1).cast("double"), lit(0.0))
          / log2(col("arn") + 1), 6).as("c"),
        when(col("trn") === 1, round(lit(1.0) / col("arn"), 6))
          .otherwise(lit(0.0)).as("rr1"))
    val dcg = contrib.groupBy("query_id").agg(
      round(Num.dsum(col("c")), 6).as("dcg"),
      max(col("rr1")).as("rr"))
    // iDCG from the exact ranking's own ordering (grades are already
    // descending in rank, so this IS the ideal DCG).
    val idcg = truth
      .select(col("query_id"),
        round((lit(k) - col("trn") + 1).cast("double") / log2(col("trn") + 1), 6)
          .as("ic"))
      .groupBy("query_id").agg(round(Num.dsum(col("ic")), 6).as("idcg"))
    // Left join keeps queries the index missed entirely (all-zero row).
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rr"), lit(0.0)).as("rr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        col("idcg"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }

  /** Chunk→document embedding pooling — how long documents get embedded
    * when the encoder is context-bounded: a document's vector is the
    * mean of its chunk embeddings. Chunks group by `vec_id div
    * groupSize`; the report emits, per document, the chunk count, the
    * POOLED NORM (mean of unit vectors — 1 iff all chunks agree, small
    * when the doc's chunks scatter: the standard intra-doc coherence
    * signal), and the cosine of the first chunk against the pooled
    * direction (does the lead chunk represent the doc?). Determinism:
    * per-dim means are exact DECIMAL(38,12) sums with ONE IEEE division
    * ([[graft.functions.Num.dsumAt]]), the vector re-assembles in dim
    * order, and every dot is the sequential-fold `dotp` both engines
    * spell identically. Scale: one posexplode (rows × dims, the same
    * shape every embedding op here shuffles), keyed means, and a
    * |docs|-sized tail — no pairwise term at all. */
  def chunkPooledEmbeddings(emb: DataFrame, groupSize: Long): DataFrame = {
    val e = normalized(emb)
      .withColumn("group_id", expr(s"vec_id div $groupSize"))
    val pooled = e
      .select(col("group_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("group_id", "pos")
      .agg((Num.dsumAt(col("x"), 12) / count(lit(1))).as("m"))
      .groupBy("group_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        t => t.getField("m")).as("p"))
    // first-chunk id and chunk count in ONE keyed aggregate (one fewer
    // pass over the normalized corpus), then fetch the lead vector
    val meta = e.groupBy("group_id")
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("n_chunks"))
      .join(e, Seq("group_id", "vec_id"))
      .select(col("group_id"), col("n_chunks"), col("v").as("v0"))
    pooled.join(meta, Seq("group_id"))
      .withColumn("nrm", sqrt(expr("dotp(p, p)")))
      .select(col("group_id"), col("n_chunks"),
        round(col("nrm"), 6).as("pooled_norm"),
        when(col("nrm") > 0,
          round(expr("dotp(p, v0)") / col("nrm"), 6)).otherwise(lit(0.0))
          .as("first_cosine"))
  }

  /** The shared mining/labeling tail: rank-1 of `top` is the positive,
    * ranks 2..k are candidates scored against it. `top` must carry
    * (query_id, rn, vec_id, cosine); `e` a [[normalized]] frame. */
  private def mineNegatives(e: DataFrame, top: DataFrame,
                            hardMin: Double, fnMin: Double): DataFrame = {
    val pos = top.filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("pos_id"))
    top.filter(col("rn") >= 2).join(pos, Seq("query_id"))
      .join(e.select(col("vec_id").as("pos_id"), col("v").as("pv")), Seq("pos_id"))
      .join(e.select(col("vec_id"), col("v").as("nv")), Seq("vec_id"))
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"),
        round(expr("dotp(nv, pv)"), 6).as("pos_cosine"))
      .withColumn("label",
        when(col("pos_cosine") >= fnMin, lit("false_negative"))
          .when(col("cosine") >= hardMin, lit("hard_negative"))
          .otherwise(lit("easy_negative")))
  }

  /** Scalar int8 quantization of the embedding column — the
    * storage-compression step of a vector index at scale (4× smaller
    * than float32, 8× smaller than the double working set). Per
    * dimension, the corpus min/max define a 255-step grid; each value
    * maps to its nearest grid point. min/max of doubles are
    * order-independent (exact on any engine / partitioning), and the
    * quantize/reconstruct arithmetic is spelled identically in the
    * oracle, so codes and error stats match bit-for-bit. Emits one row
    * per vector: integer code sum (exact) + max/mean absolute
    * reconstruction error. Shape: one narrow explode (n·dim rows), a
    * 64-row broadcast of the per-dim grid, one keyed agg — no
    * corpus-sized shuffle beyond the vec_id combine. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val x = emb
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("pos"), col("col").as("val"))
    val grid = x.groupBy("pos").agg(min(col("val")).as("mn"), max(col("val")).as("mx"))
    // A corpus-constant dimension (mx == mn) has no grid: code 0, error
    // 0 — guarded explicitly, else the division is ANSI-mode-dependent
    // on Spark and NaN-producing on the oracle side.
    val degenerate = col("mx") === col("mn")
    val q = x.join(broadcast(grid), Seq("pos"))
      .withColumn("qv", when(degenerate, lit(0L)).otherwise(
        least(greatest(round((col("val") - col("mn")) * 255 / (col("mx") - col("mn")), 0),
          lit(0.0)), lit(255.0)).cast("long")))
      .withColumn("err", when(degenerate, lit(0.0)).otherwise(
        abs(col("val") - (col("mn") + col("qv") * (col("mx") - col("mn")) / 255))))
    q.groupBy("vec_id")
      .agg(sum(col("qv")).cast("long").as("q_sum"),
        round(max(col("err")), 6).as("max_abs_err"),
        round(graft.functions.Num.dsum(col("err")) / count(lit(1)), 6).as("mean_abs_err"))
  }

  /** Deterministic random hyperplanes (seeded): nPlanes × dim. Shared
    * with the DuckDB oracle, which embeds the same literals. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] =
    {
      val rnd = new scala.util.Random(seed)
      Array.fill(nPlanes, dim)(rnd.nextGaussian())
    }

  private def planeSql(p: Array[Double]): String =
    p.map(d => s"${d}D").mkString("array(", ", ", ")")

  /** The 16-bit sign-signature expression over a normalized vector
    * column `v`: bit i set iff dotp(v, plane_i) > 0. */
  def signatureExpr(planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN dotp(v, ${planeSql(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Band rows (vec_id, band_idx, bval): the 16-bit signature split
    * into 4 bands of 4 bits ([[Hamming.bandKeys]]; bval = (sig >> 4c) &
    * 15, the value the oracles replay). Id-narrow on purpose —
    * candidate generation joins these tiny rows, never the vectors.
    * `e` must be a [[normalized]] frame. */
  def bandedIds(e: DataFrame, dim: Int): DataFrame =
    Hamming.bandKeys(e, "vec_id", (0 until 16 by 4).map(b => b until b + 4),
      expr(signatureExpr(hyperplanes(16, dim))))

  /** LSH ANN top-k: 16-bit sign signature, banded into 4×4-bit buckets;
    * a pair is a candidate if any band matches; exact cosine ranks the
    * candidates. Deterministic given the seed — the oracle replays the
    * same hyperplanes in SQL. */
  def annTopK(emb: DataFrame, queryPred: Column, k: Int, dim: Int): DataFrame = {
    val e = normalized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = bandedIds(e, dim)
    val qb = bands.filter(queryPred).withColumnRenamed("vec_id", "query_id")
    val cand = qb.join(bands, Seq("band_idx", "bval"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr("dotp(qv, v)"), 6).as("cosine"))
    val ranked = Rank.topK(scored, "query_id", "cosine", "vec_id", k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
    Dedup.materializeThenRelease(ranked, e)
  }

  /** The 64-bit sign SKETCH of each normalized vector, stored as the
    * fingerprint machinery's 4×16-bit words (b0..b3): bit i of word j
    * is the sign of the dot against seeded hyperplane 16j+i. The same
    * deterministic replay contract as [[bandedIds]] — the oracle
    * recomputes identical sketches in SQL. */
  def binarySketch(e: DataFrame, dim: Int): DataFrame = {
    val planes = hyperplanes(64, dim)
    val words = (0 until 4).map { j =>
      // cast: the SQL literal sum parses as INT (every 16-bit term fits)
      // but the fingerprint machinery and the oracle compare 64-bit words
      expr(signatureExpr(planes.slice(16 * j, 16 * j + 16)))
        .cast("long").as(s"b$j")
    }
    e.select(Seq(col("vec_id")) ++ words: _*)
  }

  /** Binary-sketch Hamming ANN — the production 100 TB retrieval
    * pattern (compact binary prefilter + exact re-rank): each vector
    * folds to a 64-bit sign sketch ([[binarySketch]] — 32× smaller
    * than the float vector); candidates are the query×corpus pairs
    * whose sketches sit within Hamming ≤ `maxHamming`; exact cosine
    * re-ranks candidates to top-k via the bounded [[Rank.topK]]
    * aggregator.
    *
    * The candidate pass is a BROADCAST BINARY SCAN ([[Hamming.scan]],
    * the faiss IndexBinaryFlat shape): the packed query sketches
    * broadcast to every partition and one xor+popcount pass streams
    * the corpus — no shuffle, no index, memory traffic 32× below the
    * float vectors. That is the right shape at retrieval radii:
    * nearest neighbours of real-valued embeddings sit near Hamming
    * ≈ bits·acos(cos)/π — a THIRD of the bits at cosine ~0.5 — where
    * any blocking scheme degenerates (the MIH enumeration is
    * C(width, ≤⌊h/m⌋) per band, astronomical at e ≥ 5, and band
    * buckets stop being selective; measured on the synthetic corpus:
    * min query-corpus Hamming 16–19/64). The MIH machinery keeps the
    * NEAR-DUP radii (h ≲ 10) where it is exact and sub-linear — see
    * [[Hamming.layout]]; this operator is the honest shape for the
    * loose-radius regime.
    *
    * Determinism is what makes a full DuckDB oracle possible: SQL
    * replays the seeded sketches and the same Hamming ≤ h candidate
    * definition with a quadratic xor+bit_count join — the scan finds
    * the identical set with an identical tie-break. */
  def hammingAnnTopK(emb: DataFrame, queryPred: Column, k: Int, dim: Int,
                     maxHamming: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = normalized(emb).persist(lvl)
    val sk = packedSketch(e, dim).persist(lvl)
    val cand = Hamming.scan(sk,
      sk.filter(queryPred).withColumnRenamed("vec_id", "query_id"), maxHamming)
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr("dotp(qv, v)"), 6).as("cosine"))
    val ranked = Rank.topK(scored, "query_id", "cosine", "vec_id", k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
    Dedup.materializeThenRelease(ranked, e, sk)
  }

  // ---------------------------------- accumulating sketch-ANN serving index

  /** Accumulating binary-sketch retrieval index — the SERVING face of
    * [[hammingAnnTopK]] as an [[AccumIndex]]: the corpus's normalized
    * vectors + 64-bit sign sketches persist as cached legs; arriving
    * query batches broadcast-scan the sketches (xor+popcount prefilter
    * at `maxHamming`, exact-cosine re-rank); accepted batches ABSORB so
    * later queries retrieve against everything already ingested. The
    * normalized vector table is the durable truth (sketches re-derive
    * from the seeded hyperplanes). */
  final case class SketchIndex(frames: Seq[DataFrame],
                               override val legs: Seq[DataFrame],
                               dim: Int, maxHamming: Int, lastBatchId: Long = -1L)
      extends LegIndex[SketchIndex] {
    def sketches: DataFrame = frames(0)
    def vectors: DataFrame = frames(1)
    def tables: Seq[(String, DataFrame)] = Seq("vectors" -> vectors)
    override def params: Seq[(String, Long)] =
      Seq("dim" -> dim.toLong, "max_hamming" -> maxHamming.toLong)
    def withLastBatchId(batchId: Long): SketchIndex = copy(lastBatchId = batchId)
    override protected def truth(emb: DataFrame): DataFrame = normalizedNonZero(emb)
    protected def leg(e: DataFrame): Seq[DataFrame] = sketchLeg(e, dim)
    protected def withLegs(f: Seq[DataFrame], l: Seq[DataFrame]): SketchIndex =
      copy(frames = f, legs = l)
  }

  /** (vec_id, hid): [[binarySketch]] packed to one 64-bit hash. */
  private def packedSketch(e: DataFrame, dim: Int): DataFrame =
    binarySketch(e, dim).select(col("vec_id"), Hamming.hid)

  /** (sketches, vectors) from normalized vectors: sketches ← vectors is
    * one lineage chain. */
  private def sketchLeg(normalized: DataFrame, dim: Int): Seq[DataFrame] = {
    val e = AccumIndex.persist(normalized)
    val sk = AccumIndex.persist(packedSketch(e, dim))
    AccumIndex.fill(sk)
    Seq(sk, e)
  }

  def buildSketchIndex(emb: DataFrame, dim: Int, maxHamming: Int): SketchIndex = {
    val l = sketchLeg(normalizedNonZero(emb), dim)
    SketchIndex(l, l, dim, maxHamming)
  }

  def loadSketchIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): SketchIndex = {
    graft.functions.DotProduct.register(spark)
    AccumIndex.load(spark, path) { s =>
      val dim = s.param("dim").toInt
      val l = sketchLeg(s.table("vectors"), dim)
      SketchIndex(l, l, dim, s.param("max_hamming").toInt)
    }
  }

  /** Top-k retrieval of one QUERY batch against the index: the query
    * sketches broadcast (a batch is small by construction), one
    * xor+popcount pass streams the corpus sketch legs, exact cosine
    * re-ranks survivors through the bounded heap. Per-batch cost is
    * |corpus|·|batch| popcounts + |candidates| dots — no shuffle of
    * the corpus, no index rebuild. */
  def topKAgainstSketchIndex(queryEmb: DataFrame, index: SketchIndex,
                             k: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val qe = normalizedNonZero(queryEmb).persist(lvl)
    val cand = Hamming.scan(index.sketches,
      packedSketch(qe, index.dim).withColumnRenamed("vec_id", "query_id"),
      index.maxHamming)
    val scored = cand
      .join(qe.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
      .join(index.vectors, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr("dotp(qv, v)"), 6).as("cosine"))
      // normalizedNonZero nulls v for zero-norm vectors (they have no
      // direction); their all-zero sketches still collide at Hamming 0,
      // so the NULL cosine must be dropped HERE — the heap's
      // primitive Double input would NPE on it.
      .filter(col("cosine").isNotNull)
    val ranked = Rank.topK(scored, "query_id", "cosine", "vec_id", k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
    Dedup.materializeThenRelease(ranked, qe)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of a keyword
    * ranking and a vector ranking for one query — the standard
    * hybrid-search combiner: rrf(d) = Σ_lists 1/(c + rank_list(d)),
    * absent lists contributing 0.
    *
    * Keyword side: BM25 over the corpus for a fixed term set; vector
    * side: exact cosine top-k for one query embedding (doc_id ≡ vec_id
    * in the corpus). Both inputs arrive already bounded (≤ k rows
    * each), so the fusion itself is a full-outer join of two k-row
    * frames plus a re-rank of ≤ 2k rows — nothing in this operator
    * scales with the corpus; the heavy lifting stays inside the two
    * scale-shaped retrieval operators it composes. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                queryVecId: Long, k: Int, c: Int): DataFrame = {
    val bm = TextAnalysis.bm25TopK(docs, terms, k)
      .select(col("doc_id"), col("rn").as("bm25_rn"))
    val cs = bruteForceTopK(emb, col("vec_id") === queryVecId, k)
      .select(col("vec_id").as("doc_id"), col("rn").as("cosine_rn"))
    val fused = bm.join(cs, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rn"), col("cosine_rn"),
        round(
          coalesce(lit(1.0) / (lit(c.toDouble) + col("bm25_rn")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("cosine_rn")), lit(0.0)),
          6).as("rrf"))
    Rank.global(fused, "rrf", "doc_id", k, Rank.ScoreDescIdAsc)
      .join(fused.select(col("doc_id"), col("bm25_rn"), col("cosine_rn")),
        Seq("doc_id"))
      .select(col("rn"), col("doc_id"), col("rrf"),
        col("bm25_rn"), col("cosine_rn"))
  }

  /** Johnson–Lindenstrauss random projection + distortion report: each
    * normalized vector is projected through the seeded Gaussian plane
    * matrix (the SAME literals the LSH family embeds — here used as a
    * dense projection, not sign buckets), the projection re-normalized,
    * and cosine distortion measured over the deterministic pair sample
    * (vec_id, vec_id + step) — an equi-join, so the report is linear in
    * the table and needs no pair cap at any scale. The projection
    * itself is a narrow per-row map: nPlanes codegen'd dot products. */
  def randomProjectionDistortion(emb: DataFrame, step: Long,
                                 nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val e = normalized(emb)
    val proj = e.select(col("vec_id"), col("v"),
        array(planes.map(p => expr(s"dotp(v, ${planeSql(p)})")): _*).as("praw"))
      .withColumn("pn", sqrt(expr("dotp(praw, praw)")))
      .select(col("vec_id"), col("v"),
        transform(col("praw"), x => x / col("pn")).as("pv"))
    val lhs = proj.select(col("vec_id").as("vec_a"),
      col("v").as("va"), col("pv").as("pa"))
    val rhs = proj.select((col("vec_id") - step).as("vec_a"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("pv").as("pb"))
    lhs.join(rhs, Seq("vec_a"))
      .select(col("vec_a"), col("vec_b"),
        round(expr("dotp(va, vb)"), 6).as("cos_orig"),
        round(expr("dotp(pa, pb)"), 6).as("cos_proj"))
      .withColumn("abs_err", round(abs(col("cos_proj") - col("cos_orig")), 6))
  }
}
