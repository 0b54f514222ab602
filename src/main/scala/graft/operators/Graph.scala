package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Num

/** Distributed graph analytics over edge-list DataFrames.
  *
  * Connected components live in [[Dedup.duplicateClusters]] (they ARE
  * the dedup-cluster resolution); this object holds the rank/centrality
  * side. Everything is plain DataFrame algebra — an iteration is one
  * key-equi join plus one map-side-combining aggregate, the same shape
  * as [[Similarity.kmeansClusters]]' Lloyd rounds, so a 1000-executor
  * cluster runs each round as a single hash-partitioned shuffle with no
  * driver-side state beyond the loop counter.
  */
object Graph {

  /** PageRank over an UNDIRECTED edge list (the list is symmetrized and
    * deduplicated, so every node has out-degree ≥ 1 and the dangling-
    * node correction vanishes). Deterministic across engines and
    * partitionings: per-edge contributions pr/deg are single IEEE
    * divisions, their in-sum is DECIMAL(18,6)-exact ([[Num.dsum]]), and
    * each iteration's rank is rounded to 6 — so the whole trajectory is
    * replayable in SQL literal-for-literal. Scale: state is one
    * (node, pr) row per node; an iteration shuffles the edge list once
    * on src and once on dst — linear in |E| per round, the canonical
    * distributed PageRank shape. */
  def pageRank(edges: DataFrame, damping: Double, iters: Int): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // One count serves BOTH the cutover gate and the distributed path's
    // edge-partition sizing (undId is a bijective re-keying of und, so
    // the two counts are equal): the distributed path pays no extra
    // materialization job for the gate. The one-task fold reads labels
    // as strings; any other id type keeps the distributed path (a
    // type-agnostic dictionary join) and its output schema.
    val nUndEdges = und.count()
    Cutover.run("pageRank", nUndEdges, Cutover.PageRankEdges, oneTaskFits = stringIds(und))(
      smallGraphPageRank(und, damping, iters))(
      distributedPageRank(und, nUndEdges, damping, iters))
  }

  private def distributedPageRank(und: DataFrame, nUndEdges: Long, damping: Double,
                                  iters: Int): DataFrame = {
    // Dictionary-encode node labels to dense longs for the ITERATION hot
    // path: the loop shuffles the edge list every round, and long keys
    // hash/compare/serialize several times cheaper than string labels —
    // at 100 TB numeric shuffle keys are the only sane choice, and in
    // the 172-query bench JVM the lighter allocation profile halves the
    // query's GC sensitivity. The ids are internal only (a bijection —
    // rank values and groupings are unchanged); they come from
    // monotonically_increasing_id over the distinct labels, CHECKPOINTED
    // so the mapping can never be nondeterministically recomputed.
    val dict = Lifecycle.checkpoint(
      und.select(col("src").as("label")).distinct()
        .select(col("label"), monotonically_increasing_id().as("nid")))
    // Explicit broadcast: a checkpointed frame carries no size stats, so
    // the planner would otherwise fall back to sort-merge for the
    // node-table joins. The encoded edge list is checkpointed too — it
    // feeds the degree count, the cached loop input AND (via lineage)
    // nothing else, so one materialization serves all consumers.
    val undId = Lifecycle.checkpoint(und
      .join(broadcast(dict), col("src") === col("label"))
      .select(col("nid").as("src_id"), col("dst"))
      .join(broadcast(dict.select(col("label").as("dst_label"),
        col("nid").as("dst_id"))), col("dst") === col("dst_label"))
      .select(col("src_id"), col("dst_id")))
    val deg = undId.groupBy("src_id").agg(count(lit(1)).as("deg"))
    // Partition-count discipline (round-6 verdict #2): the edge cache is
    // |E|-sized and the iteration state is node-sized, but both would
    // otherwise inherit the session-wide shuffle partition count — at
    // sf0.1 that is 32 near-empty tasks per round × 10 rounds × the
    // degree/contribution stages, and the scheduling + checkpoint-block
    // overhead of those empty tasks is what AMPLIFIES under a contended
    // suite JVM (driver median 33.9 s vs 7.1 s isolated). Size both from
    // the data instead: two bounded metadata actions on already-
    // checkpointed frames (the same driver-scalar discipline as the JDBC
    // bounds and convergence flags), clamped to [1, session shuffle
    // partitions]. Target ~100k edges per partition: at sf0.1 (1.17M
    // undirected edges) that is 12 partitions — enough parallelism that
    // the per-round join+aggregate actually uses the cores (the first
    // cut's ~1M-edge target collapsed the whole loop onto 2 tasks and
    // cost +4 s isolated), while a 1e9-edge cluster graph still fans out
    // to the session cap. The rank vector stays coarse (~500k nodes per
    // partition): it is O(nodes) small and its reduce side is fed by
    // map-side-combined partials, so one task per half-million nodes is
    // the scheduling sweet spot.
    val defaultParts =
      und.sparkSession.sessionState.conf.numShufflePartitions.toLong
    def clamp(n: Long): Int = math.max(1L, math.min(defaultParts, n)).toInt
    val edgeParts = clamp(nUndEdges / 100000L + 1)
    val rankParts = clamp(dict.count() / 500000L + 1)
    // Pre-join the degree onto every edge ONCE and cache the result
    // hash-partitioned on `src_id`: each iteration then joins only the
    // node-sized rank vector against an already-partitioned edge list —
    // the per-round shuffle is O(nodes) + the contribution aggregation,
    // not a re-shuffle of the full edge list (round-5 full-suite bench:
    // 13.5 s → the edge list was exchanged twice per round).
    val undDeg = undId.join(deg, Seq("src_id"))
      .select(col("src_id"), col("dst_id"), col("deg"))
      .repartition(edgeParts, col("src_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = broadcast(deg.agg(count(lit(1)).cast("long").as("n_nodes")))
    var pr = deg.select(col("src_id").as("node_id")).crossJoin(n1)
      .select(col("node_id"), round(lit(1.0) / col("n_nodes"), 6).as("pr"))
      .coalesce(rankParts)
    // Checkpoint every SECOND round, not every round: a materialization
    // is a whole job (plan + schedule + persist), and at bench scale
    // that fixed cost dominates the round's actual shuffle work. A
    // two-round-deep lazy plan costs one extra cached-edge join per
    // materialization but halves the job count; live checkpoint state
    // stays O(1) (the previous checkpoint is freed at the next one).
    var lastCp: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val contrib = undDeg
        .join(pr.withColumnRenamed("node_id", "src_id"), Seq("src_id"))
        .select(col("dst_id").as("node_id"), (col("pr") / col("deg")).as("c"))
      // Scale-18 sum: at large node counts the per-edge contributions
      // pr/deg fall below 1e-6, where a scale-6 cast quantizes to
      // zero-or-tie and the engines' rounding modes diverge (measured:
      // 588/16k rows off by 1e-6 at sf0.1). See Num.dsumAt.
      // The trailing coalesce collapses the reduce side of the node agg
      // (and therefore the checkpointed block count) to rankParts — the
      // map-side partials keep the edge cache's full parallelism.
      val next = contrib.groupBy("node_id")
        .agg(Num.dsumAt(col("c"), 18).as("in_sum"))
        .crossJoin(n1)
        .select(col("node_id"),
          round(lit(1 - damping) / col("n_nodes")
            + lit(damping) * col("in_sum"), 6).as("pr"))
        .coalesce(rankParts)
      pr =
        if ((i + 1) % 2 == 0 || i == iters - 1) {
          val cp = Lifecycle.step(next, lastCp)
          lastCp = Some(cp)
          cp
        } else next
    }
    val out = pr
      .join(deg.withColumnRenamed("src_id", "node_id"), Seq("node_id"))
      .join(broadcast(dict), col("node_id") === col("nid"))
      .select(col("label").as("node"), col("deg"), col("pr"))
    val result = Dedup.materializeThenRelease(out, und, undDeg)
    Lifecycle.release(dict)
    Lifecycle.release(undId)
    result
  }

  /** One-task PageRank over a bounded symmetrized edge list. Replicates
    * the distributed loop's arithmetic EXACTLY so both paths satisfy the
    * same oracle:
    *  - initial pr = round₆(1.0 / n) (Spark `round` = shortest-string
    *    HALF_UP, [[Num.roundAt]]);
    *  - per-edge contribution = decimal(38,18) cast of the IEEE double
    *    pr/deg ([[Num.unscaledAt]]), summed EXACTLY as scaled longs
    *    (per-node in-sums are ≤ ~1.0, so the scaled sum fits a long with
    *    3 bits to spare), then widened back to double exactly as Spark's
    *    decimal→double cast does;
    *  - next pr = round₆((1−damping)/n + damping·in_sum) with the same
    *    double evaluation order as the Column expression.
    * The task folds the edge iterator into primitive int arrays
    * ([[IntBuf]], 8 B/edge across both endpoints), iterates, and emits
    * one (node, deg, pr) row per node. */
  private def smallGraphPageRank(und: DataFrame, damping: Double,
                                 iters: Int): DataFrame = {
    val sess = und.sparkSession
    import sess.implicits._
    Cutover.fold(und.select(col("src"), col("dst")).as[(String, String)], und) { it =>
      val labels = new Interner[String]
      val srcs = new IntBuf()
      val dsts = new IntBuf()
      while (it.hasNext) {
        val (a, b) = it.next()
        srcs += labels.id(a); dsts += labels.id(b)
      }
      val n = labels.size
      if (n == 0) Iterator.empty
      else {
        val nE = srcs.length
        val deg = new Array[Long](n)
        var k = 0
        while (k < nE) { deg(srcs(k)) += 1; k += 1 }
        val pr = new Array[Double](n)
        java.util.Arrays.fill(pr, Num.roundAt(1.0 / n, 6))
        val base = (1 - damping) / n
        val contribScaled = new Array[Long](n)
        val inSum = new Array[Long](n)
        var iter = 0
        while (iter < iters) {
          var i = 0
          while (i < n) {
            contribScaled(i) = Num.unscaledAt(pr(i) / deg(i), 18)
            inSum(i) = 0L
            i += 1
          }
          k = 0
          while (k < nE) {
            // addExact: a silent long wrap would corrupt ranks; the
            // distributed path's decimals can't wrap, so fail loudly instead.
            inSum(dsts(k)) = Math.addExact(inSum(dsts(k)), contribScaled(srcs(k)))
            k += 1
          }
          i = 0
          while (i < n) {
            pr(i) = Num.roundAt(base + damping * Num.fromUnscaled(inSum(i), 18), 6)
            i += 1
          }
          iter += 1
        }
        Iterator.tabulate(n)(i => (labels(i), deg(i), pr(i)))
      }
    }.toDF("node", "deg", "pr")
  }

  private def stringIds(edges: DataFrame): Boolean =
    edges.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType)

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    * list — on the bipartite customer→supplier trade graph, hub scores
    * rank customers by how strongly they buy from authoritative
    * suppliers and authority scores rank suppliers by how strongly
    * authoritative buyers use them. Deterministic across engines and
    * partitionings, same discipline as [[pageRank]]: the start vector
    * is round₆(1/√|hubs|), every mutual-reinforcement sum crosses
    * partitions as an exact DECIMAL(38,18) ([[Num.dsumAt]]), each
    * normalization is an IEEE sqrt of a decimal-exact sum-of-squares,
    * and scores are rounded to 6 per half-round — the whole trajectory
    * replays literal-for-literal in SQL. Scale: per half-round one
    * key-equi join of the node-sized score vector against the edge list
    * plus one map-side-combining aggregate — linear in |E|, the
    * canonical shape; the norm is a 1-row broadcast. Below
    * [[Cutover.HitsEdges]] the loop runs as ONE executor task (exact
    * `BigDecimal` accumulation because raw HITS sums exceed the
    * long-unscaled range at scale 18). Emits (node, kind ∈
    * hub|authority, score). */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"hits needs at least one iteration, got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Cutover.run("hits", e.count(), Cutover.HitsEdges, oneTaskFits = stringIds(e))(
      smallGraphHits(e, iters))(distributedHits(e, iters))
  }

  private def distributedHits(e: DataFrame, iters: Int): DataFrame = {
    val hubs0 = e.select(col("src")).distinct()
    val nH = broadcast(hubs0.agg(count(lit(1)).as("n_hubs")))
    var h = hubs0.crossJoin(nH)
      .select(col("src"), round(lit(1.0) / sqrt(col("n_hubs")), 6).as("h"))
    var a: DataFrame = null
    var lastCp: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val aRaw = e.join(h, Seq("src"))
        .groupBy("dst").agg(Num.dsumAt(col("h"), 18).as("ar"))
      val na = aRaw.agg(sqrt(Num.dsumAt(col("ar") * col("ar"), 18)).as("nrm"))
      a = aRaw.crossJoin(broadcast(na))
        .select(col("dst"), round(col("ar") / col("nrm"), 6).as("a"))
      // The final authority vector outlives this round's hub checkpoint
      // (Lifecycle.step below frees the PREVIOUS hub vector `a` reads
      // from), so materialize it first on the last round.
      if (i == iters - 1) a = Lifecycle.checkpoint(a)
      val hRaw = e.join(a, Seq("dst"))
        .groupBy("src").agg(Num.dsumAt(col("a"), 18).as("hr"))
      val nh = hRaw.agg(sqrt(Num.dsumAt(col("hr") * col("hr"), 18)).as("nrm"))
      val next = hRaw.crossJoin(broadcast(nh))
        .select(col("src"), round(col("hr") / col("nrm"), 6).as("h"))
      // Checkpoint the hub vector per round (the [[pageRank]] plan-depth
      // discipline); the final authority vector is materialized with the
      // result below.
      val cp = Lifecycle.step(next, lastCp)
      lastCp = Some(cp)
      h = cp
    }
    val out = h.select(col("src").as("node"), lit("hub").as("kind"),
        col("h").as("score"))
      .union(a.select(col("dst").as("node"), lit("authority").as("kind"),
        col("a").as("score")))
    Dedup.materializeThenRelease(out, e)
  }

  /** One-task HITS below the cutover: same exact decimal trajectory as
    * the distributed loop ([[Num.unscaledAt]]-per-term sums done with
    * `BigDecimal` addition — raw sums can pass 9.2, the long-unscaled
    * ceiling at scale 18 — then the same double widening, IEEE sqrt and
    * round-6), over the edge iterator folded into primitive arrays. */
  private def smallGraphHits(e: DataFrame, iters: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    Cutover.fold(e.as[(String, String)], e) { it =>
      val hubs = new Interner[String]
      val auts = new Interner[String]
      val es = new IntBuf()
      val ed = new IntBuf()
      while (it.hasNext) {
        val (s, d) = it.next()
        es += hubs.id(s); ed += auts.id(d)
      }
      val nHub = hubs.size
      val nAut = auts.size
      if (nHub == 0) Iterator.empty
      else {
        val nE = es.length
        val h = Array.fill(nHub)(Num.roundAt(1.0 / math.sqrt(nHub), 6))
        val a = new Array[Double](nAut)
        val ZERO = java.math.BigDecimal.ZERO
        def d18(v: Double): java.math.BigDecimal =
          new java.math.BigDecimal(java.lang.Double.toString(v))
            .setScale(18, java.math.RoundingMode.HALF_UP)
        var iter = 0
        while (iter < iters) {
          val ar = Array.fill(nAut)(ZERO)
          var k = 0
          while (k < nE) { ar(ed(k)) = ar(ed(k)).add(d18(h(es(k)))); k += 1 }
          var ss = ZERO
          var i = 0
          while (i < nAut) {
            val v = ar(i).doubleValue()
            ss = ss.add(d18(v * v))
            i += 1
          }
          var nrm = math.sqrt(ss.doubleValue())
          i = 0
          while (i < nAut) {
            a(i) = Num.roundAt(ar(i).doubleValue() / nrm, 6)
            i += 1
          }
          val hr = Array.fill(nHub)(ZERO)
          k = 0
          while (k < nE) { hr(es(k)) = hr(es(k)).add(d18(a(ed(k)))); k += 1 }
          ss = ZERO
          i = 0
          while (i < nHub) {
            val v = hr(i).doubleValue()
            ss = ss.add(d18(v * v))
            i += 1
          }
          nrm = math.sqrt(ss.doubleValue())
          i = 0
          while (i < nHub) {
            h(i) = Num.roundAt(hr(i).doubleValue() / nrm, 6)
            i += 1
          }
          iter += 1
        }
        Iterator.tabulate(nHub)(i => (hubs(i), "hub", h(i))) ++
          Iterator.tabulate(nAut)(i => (auts(i), "authority", a(i)))
      }
    }.toDF("node", "kind", "score")
  }

  /** The customer↔supplier trade graph implied by the warehouse schema:
    * an edge for every (customer, supplier) pair that shares at least
    * one order line. Prefixed node labels keep the two key spaces
    * disjoint. */
  def tradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
}
