package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the scale properties the operators were
  * designed around, enforced in CI instead of eyeballed via
  * [[graft.Explain]]:
  *
  *  - predicate pushdown + column pruning reach the parquet scan;
  *  - the bucketed join's subtree is exchange-free (co-located SMJ);
  *  - no query plans a CartesianProduct except the one documented
  *    exact baseline (`q_dedup_embedding`, bounded by its vec_id cap);
  *  - AQE's skew-join split fires on an UNSALTED skewed join — the
  *    evidence for when the explicit salt (Warehouse.saltedJoin) is and
  *    isn't needed: AQE handles shuffle-join skew at runtime, so manual
  *    salting is for the cases AQE can't see (streaming state, skewed
  *    aggregation keys, or engines/configs without AQE).
  *
  * Static `sparkPlan` (pre-AQE) is asserted for the shape checks so the
  * results are deterministic; the skew test executes and inspects the
  * final adaptive plan.
  */
class PlanHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, d).queryExecution.sparkPlan

  test("Tables.fanOut: repartitions narrow scans, leaves adaptive plans untouched") {
    import org.apache.spark.sql.functions.col
    // scan+project over a single small file: planned partitions < cores,
    // so fanOut must add exactly one round-robin exchange.
    val narrow = Tables.documents(spark, d).select("doc_id")
    val fanned = Tables.fanOut(narrow)
    assert(fanned.queryExecution.analyzed.toString.contains("Repartition") ||
      fanned.rdd.getNumPartitions >=
        spark.sparkContext.defaultParallelism,
      "fanOut did not spread a narrow single-file scan")
    // a plan containing an exchange is AQE-wrapped: fanOut must return
    // it UNCHANGED (probing it would materialize query stages at
    // plan-build time — the .rdd footgun from ADVICE r15).
    val shuffled = Tables.documents(spark, d).groupBy("lang").count()
    assert(Tables.fanOut(shuffled) eq shuffled,
      "fanOut touched an adaptive (exchange-bearing) plan")
  }

  test("q_x_groupby_q1: shipdate predicate is pushed to the scan, columns pruned") {
    val scans = plan("q_x_groupby_q1").collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet FileSourceScan")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("l_shipdate"), s"l_shipdate not pushed down; PushedFilters=$pushed")
    val readSchema = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("l_orderkey"),
      s"scan reads l_orderkey the query never uses; ReadSchema=$readSchema")
  }

  test("q_text_vocab_coverage: the scoring join is broadcast, not shuffled") {
    // the O(V) vocabulary must broadcast — a shuffled scoring join would
    // re-partition the whole token explode at corpus scale
    val p = plan("q_text_vocab_coverage")
    assert(p.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, s"vocab scoring join is not a BroadcastHashJoin:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "vocab scoring join fell back to a shuffled SMJ")
  }

  test("q_text_sample_per_group: plans through the native TopKPerGroupExec") {
    val p = plan("q_text_sample_per_group")
    assert(p.collect { case e: graft.plans.TopKPerGroupExec => e }.nonEmpty,
      s"q_text_sample_per_group did not plan the native top-k operator:\n$p")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "WindowExec survived alongside the top-k rewrite")
  }

  test("q_text_tfidf: the rank filter plans through the native TopKPerGroupExec") {
    // the library's own row_number-then-filter queries must actually hit
    // the injected whole-operator path, not fall back to WindowExec
    val p = plan("q_text_tfidf")
    assert(p.collect { case e: graft.plans.TopKPerGroupExec => e }.nonEmpty,
      s"q_text_tfidf did not plan the native top-k operator:\n$p")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "WindowExec survived alongside the top-k rewrite")
  }

  /** The physical plan of every action `name`'s query function runs while
    * it builds — the checkpoint an operator materializes before
    * returning included, which the returned frame's plan no longer shows. */
  private def buildPlans(name: String): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = seen.add(qe.sparkPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, d)
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 10000)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  // ivfTopK's two ranks (lists and probes) read off one rank filter.
  test("q_sim_ivf_topk: its build's rank filter plans through TopKPerGroupExec") {
    val plans = buildPlans("q_sim_ivf_topk")
    assert(plans.exists(_.collect { case e: graft.plans.TopKPerGroupExec => e }.nonEmpty),
      s"q_sim_ivf_topk built no native top-k operator:\n${plans.mkString("\n")}")
    assert(plans.forall(_.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty), s"q_sim_ivf_topk planned a WindowExec:\n${plans.mkString("\n")}")
  }

  // The two centroid assignments of the curation_build benchmark mix
  // search each vector in place (NearestCentroid): no ranking operator,
  // no vector × centroid join, and no shuffle between the embeddings
  // scan and the assignment — in the build's plans or the exec plan.
  for (name <- Seq("q_sim_pq", "q_sim_ivf_balance"))
    test(s"$name: in-place assignment, no rank filter, pair join or shuffle") {
      val exec = SparkEntry.queries(name)(spark, d).queryExecution.sparkPlan
      val plans = buildPlans(name) :+ exec
      def dump = plans.mkString("\n")
      for (p <- plans) {
        assert(p.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
          case t: graft.plans.TopKPerGroupExec => t
        }.isEmpty, s"$name planned a rank filter:\n$dump")
        assert(p.collect {
          case c: CartesianProductExec => c
          case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        }.isEmpty, s"$name planned a pair join:\n$dump")
      }
      val assigning = exec.collect {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[graft.functions.NearestCentroid])) => n
      }
      assert(assigning.nonEmpty, s"$name does not assign through NearestCentroid:\n$exec")
      for (n <- assigning)
        assert(n.collect { case x: ShuffleExchangeLike => x }.isEmpty,
          s"$name shuffles between the scan and the assignment:\n$n")
    }

  test("q_s1_paged_source: publishedAfter is pushed into the V2 source, no residual filter") {
    val p = plan("q_s1_paged_source")
    val scans = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScan over PagedJsonSource")
    val scan = scans.head.scan.asInstanceOf[graft.sources.PagedScan]
    assert(scan.pushed.nonEmpty, "publishedAfter filter was not pushed into the source")
    assert(scan.pushed.mkString.contains("published_at"))
    // The source declared the filter handled, so Spark must not plan a
    // residual Filter re-evaluating it.
    val residual = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("published_at") => f
    }
    assert(residual.isEmpty, s"residual filter survived pushdown: $residual")
  }

  test("q_s1_paged_limit: LIMIT pushes into the V2 source alongside the filter") {
    val p = plan("q_s1_paged_limit")
    val scans = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScan over PagedJsonSource")
    val scan = scans.head.scan.asInstanceOf[graft.sources.PagedScan]
    assert(scan.pushedLimit.contains(100),
      s"LIMIT 100 not pushed; description=${scan.description()}")
    assert(scan.pushed.nonEmpty, "the filter must still push alongside the limit")
  }

  test("q_s1_paged_topn: ORDER BY+LIMIT pushes as partial TopN, finished by TakeOrderedAndProject") {
    val p = plan("q_s1_paged_topn")
    val scans = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScan over PagedJsonSource")
    val scan = scans.head.scan.asInstanceOf[graft.sources.PagedScan]
    assert(scan.pushedTopN.exists(_._2 == 50),
      s"TopN 50 not pushed; description=${scan.description()}")
    // partial pushdown: the engine finishes with the bounded
    // TakeOrderedAndProject — never a full global SortExec
    assert(p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"expected TakeOrderedAndProject:\n$p")
    assert(p.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, s"a full sort snuck in above the TopN scan:\n$p")
  }

  test("q_k_dsv2_csv_filtered: predicates push into the CSV source, residual only for unsupported shapes") {
    val p = plan("q_k_dsv2_csv_filtered")
    val scans = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScan over GraftCsvSink")
    val pushed = scans.head.scan.asInstanceOf[graft.sources.KeyedCsvScan].payloadFilters
    assert(pushed.nonEmpty, "no filter was pushed into the CSV source")
    val s = pushed.mkString("; ")
    assert(s.contains("p_brand") && s.contains("p_partkey"),
      s"expected both range predicates pushed; got: $s")
    // The pushed predicates must not be re-evaluated by a residual
    // FilterExec; the deliberately-unsupported disjunction stays.
    val residualConds = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }.mkString
    assert(!residualConds.contains("Brand#3"),
      s"pushed p_brand range survived as residual: $residualConds")
    assert(residualConds.contains("%"), "unsupported disjunction should remain residual")
  }

  test("q_x_bucketed_join: no exchange between the bucketed scans and the SMJ") {
    val smjs = plan("q_x_bucketed_join").collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a SortMergeJoin (MERGE hint pins it)")
    val shuffles = smjs.head.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty,
      s"bucketed join shuffles before joining:\n${smjs.head}")
  }

  test("q_x_spj_join: storage-partitioned join — zero exchange AND zero sort below the SMJ") {
    // The registered query, executed (EnsureRequirements decides SPJ, so
    // the final adaptive plan is what must be clean — the static plan
    // can't show it). AQE wraps subtrees in QueryStageExec nodes whose
    // inner plan a plain collect does not reach, so traverse stages too.
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case other => p +: other.children.flatMap(flatten)
    }
    val df = SparkEntry.queries("q_x_spj_join")(spark, d)
    df.collect()
    val all = flatten(df.queryExecution.executedPlan)
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty,
      s"expected a SortMergeJoin (MERGE hint pins it):\n${all.head}")
    val below = flatten(smjs.head).drop(1)
    assert(below.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"storage-partitioned join still shuffles:\n${smjs.head}")
    assert(below.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty,
      s"reported per-partition ordering unused — sorts below the SPJ:\n${smjs.head}")
  }

  test("globalShuffle: one hash exchange on shard, no global sort") {
    // The operator's contract at 100 TB: the ONLY exchange is the hash
    // partition on `shard` (the in-shard rank is a partition-local
    // sort); a rangepartitioning exchange here would mean a global sort
    // snuck back in. (The registered query adds a presentation orderBy
    // on top — this pins the operator itself.)
    // Repartition the input so the window's clustering is NOT already
    // satisfied (a 1-file sf0.001 scan is a single partition and would
    // need zero exchanges, hiding the property under test). The
    // EnsureRequirements-inserted exchange only exists in the prepared
    // plan, so assert on the formatted explain rather than sparkPlan.
    val docs = Tables.documents(spark, d).repartition(4, col("doc_id"))
    val s = graft.operators.TextAnalysis.globalShuffle(docs, 8L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    assert(!s.contains("Exchange rangepartitioning"),
      s"a range exchange means a global sort snuck in:\n$s")
    // the input repartition + the shard hash — and nothing else
    assert("Exchange hashpartitioning".r.findAllIn(s).length == 2,
      s"want exactly the input + shard hash exchanges, got:\n$s")
  }

  test("videoNearDup: banded candidate joins consume DISTINCT hashes, not raw frames") {
    // r9 item #8: the clip-level near-dup's whole scale story is that
    // the Σ bucket² pairwise stage runs over distinct fingerprints
    // (sf0.1: ~2.2k distinct vs 22.5k frames — candidates shrink by
    // the duplication factor SQUARED). Pin the shape so a refactor
    // cannot silently re-band raw frames: every join keyed on the band
    // value must have an AGGREGATE (the hid-grouped distinct /
    // multiplicity compaction) beneath BOTH inputs.
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val hashes = Multimodal.videoFrameHashes(spark,
      Multimodal.packVideos(spark, docs)).toDF()
    val (out, hv, dh) = Multimodal.videoNearDupPlan(hashes, 2, 2L)
    try {
      // Assert on the ANALYZED logical plan: the physical tree hides the
      // distinct aggregate inside InMemoryRelation.cachedPlan once the
      // operator's persist() kicks in, but the logical dataflow — which
      // is what a refactor would change — is fully visible here.
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
      val p = out.queryExecution.analyzed
      val bandJoins = p.collect {
        case j: Join
          if j.condition.map(_.toString).getOrElse("").contains("bval") => j
      }
      assert(bandJoins.nonEmpty, s"expected a band-keyed candidate join:\n$p")
      bandJoins.foreach { j =>
        Seq(j.left, j.right).foreach { side =>
          val aggs = side.collect {
            case a: Aggregate
              if a.groupingExpressions.exists(_.toString.contains("hid")) => a
          }
          assert(aggs.nonEmpty,
            s"band join side reads raw frames (no hid-grouped aggregate beneath):\n$side")
        }
      }
    } finally { hv.unpersist(); dh.unpersist() }
  }

  test("imageNearDup: banded candidate join consumes DISTINCT hashes, not raw images") {
    // r11's probe-driven win (705 s / 27 GB spill → 82 s spill-free at
    // 10×) pulled videoNearDup's distinct-hash compression into the
    // still-image path; this is the guard the video plan already has —
    // a refactor must not silently re-band raw per-image hash rows.
    // Every join keyed on the band value must have a DEDUPLICATION
    // (the distinct over (hid, b0..b3)) beneath BOTH inputs.
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val hashes = Multimodal.imageAHash(spark,
      Multimodal.packImageVariants(spark, docs)).toDF()
    val (out, members, dh) = Multimodal.imageNearDupPlan(hashes, 6)
    try {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
      val p = out.queryExecution.analyzed
      val bandJoins = p.collect {
        case j: Join
          if j.condition.map(_.toString).getOrElse("").contains("bval") => j
      }
      assert(bandJoins.nonEmpty, s"expected a band-keyed candidate join:\n$p")
      bandJoins.foreach { j =>
        Seq(j.left, j.right).foreach { side =>
          val dedups = side.collect {
            case a: Aggregate
              if a.groupingExpressions.exists(_.toString.contains("hid")) => a
            case dd: Deduplicate
              if dd.keys.exists(_.toString.contains("hid")) => dd
          }
          assert(dedups.nonEmpty,
            s"band join side reads raw images (no hid dedup beneath):\n$side")
        }
      }
    } finally { members.unpersist(); dh.unpersist() }
  }

  test("no CartesianProduct in any query except the documented exact baseline") {
    // q_dedup_embedding is the deliberate exact all-pairs oracle baseline,
    // bounded to a vec_id slice — every other query must join with keys
    // or an explicit broadcast.
    val allowed = Set("q_dedup_embedding")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filterNot(allowed).filter { name =>
      plan(name).collect { case c: CartesianProductExec => c }.nonEmpty
    }
    assert(offenders.isEmpty, s"unexpected cartesian products in: $offenders")
  }

  test("injected lint rule flags single-reducer windows, stays quiet otherwise") {
    import org.apache.spark.sql.expressions.{Window => W}
    val hits = graft.plans.SingleReducerWindowWarning.hits
    val base = Tables.part(spark, d).select(col("p_partkey"), col("p_brand"))
    // partitioned window → no new hits
    val before = hits.get()
    base.withColumn("rn",
        row_number().over(W.partitionBy("p_brand").orderBy("p_partkey")))
      .queryExecution.optimizedPlan
    assert(hits.get() === before, "partitioned window must not trip the lint")
    // global window (empty PARTITION BY) → the lint fires
    base.withColumn("rn", row_number().over(W.orderBy("p_partkey")))
      .queryExecution.optimizedPlan
    assert(hits.get() > before, "global window should trip the lint")
  }

  test("AQE splits the skewed partition of an unsalted shuffle join") {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Tuned down so the ~MB-scale test skew crosses the production
      // thresholds (defaults are 256MB-scale).
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      // Force a shuffle join so the skew machinery (not broadcast) kicks in.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of the left rows share one hot key — the unsalted twin of
      // q_x_salted_join's shape.
      val left = spark.range(0, 100000)
        .select(when(col("id") < 90000, 0L).otherwise(col("id")).as("k"), col("id").as("v"))
      val right = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() (not count(), which builds a SEPARATE QueryExecution)
      // executes THIS frame's plan so AQE finalizes it in place.
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
        s"AQE skew split did not fire; final plan:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
