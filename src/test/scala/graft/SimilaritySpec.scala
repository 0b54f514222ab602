package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cutover, Similarity}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sketch-index top-k survives zero-norm vectors on both sides") {
    import graft.operators.Similarity
    // zero vectors have no direction: normalizedNonZero nulls v, their
    // sketches are all-zero and collide at Hamming 0 — the NULL cosine
    // must be dropped before the primitive-Double heap aggregator
    val emb = Seq(
      (1L, Seq.fill(8)(0.0f)), // zero-norm, in the index
      (2L, Seq(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (4L, Seq.fill(8)(0.0f)) // zero-norm query
    ).toDF("vec_id", "embedding")
    val idx = Similarity.buildSketchIndex(emb, dim = 8, maxHamming = 64)
    val out = Similarity.topKAgainstSketchIndex(emb, idx, k = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
    idx.release()
    // no NPE, no null cosines; zero-norm ids appear in no pair
    assert(out.nonEmpty)
    assert(!out.exists(p => p._1 == 1L || p._1 == 4L || p._2 == 1L || p._2 == 4L))
  }

  test("cosine: identical → 1, orthogonal → 0, opposite → −1") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (Seq(1.0, 1.0, 0.0), Seq(-1.0, -1.0, 0.0))
    ).toDF("a", "b")
    val out = df.select(round(Similarity.cosine(col("a"), col("b")), 9))
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(1.0, 0.0, -1.0))
  }

  test("brute-force top-k is k rows per query, ranked desc") {
    val out = Similarity.bruteForceTopK(
      Tables.embeddings(spark, TestSpark.sf0001), col("vec_id") % 100 === 0, 10)
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty && byQuery.values.forall(_.length == 10))
    byQuery.values.foreach { rows =>
      val cos = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("pcaPower: unit-norm loadings, positive eigenvalue, repartition-stable") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity.pcaPower(emb, 3, 64).collect()
    assert(out.length == 64)
    val loadings = out.map(_.getAs[Double]("loading"))
    val norm2 = loadings.map(x => x * x).sum
    // components are rounded to 6dp AFTER normalization; 64 dims of
    // rounding move the squared norm by < 64·2e-6
    assert(math.abs(norm2 - 1.0) < 1e-3, s"norm² = $norm2")
    val lambda = out.head.getAs[Double]("lambda")
    assert(lambda > 0.0 && out.forall(_.getAs[Double]("lambda") == lambda))
    // variance along the principal direction must be >= the average
    // per-dimension variance of unit vectors (trace/dim = 1/64-ish)
    assert(lambda >= 1.0 / 64)
    val re = Similarity.pcaPower(emb.repartition(7, col("vec_id")), 3, 64)
      .collect().map(r => (r.getAs[Long]("dim"), r.getAs[Double]("loading"))).toMap
    assert(out.forall(r => re(r.getAs[Long]("dim")) == r.getAs[Double]("loading")),
      "loadings must be bit-identical under repartitioning")
  }

  test("LSH ANN recalls a useful fraction of true top-k") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val pred = col("vec_id") % 100 === 0
    val truth = Similarity.bruteForceTopK(emb, pred, 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val ann = Similarity.annTopK(emb, pred, 10, 64).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val recalls = truth.map { case (q, t) =>
      ann.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean ANN recall@10 = $mean%.2f")
    assert(mean >= 0.2) // random-gaussian data is LSH-hostile; bound is a floor
  }

  test("IVF ANN: k ranked rows per query from probed lists, sane recall") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val pred = col("vec_id") % 100 === 0
    val out = Similarity.ivfTopK(emb, pred, 10, 2, 61L).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rows =>
      assert(rows.length <= 10)
      val cos = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    val truth = Similarity.bruteForceTopK(emb, pred, 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val ivf = byQuery.view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val recalls = truth.map { case (q, t) =>
      ivf.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean IVF recall@10 = $mean%.2f")
    // Gaussian data scatters neighbours across lists; nProbe=2 of ~30
    // lists still has to beat random chance (~2/30) by a wide margin.
    assert(mean >= 0.15)
  }

  test("int8 quantization: codes bounded, error within a grid step, deterministic") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity.quantizeInt8(emb).collect()
    assert(out.length == emb.count())
    assert(out.forall { r =>
      val qs = r.getAs[Long]("q_sum"); qs >= 0L && qs <= 255L * 64
    })
    // Nearest-grid-point error is ≤ half the widest dimension's step.
    val step = emb.select(posexplode(col("embedding").cast("array<double>")))
      .agg(max(col("col")) - min(col("col"))).collect().head.getDouble(0) / 255
    assert(out.forall(_.getAs[Double]("max_abs_err") <= step / 2 + 1e-9))
    assert(out.forall(r =>
      r.getAs[Double]("mean_abs_err") <= r.getAs[Double]("max_abs_err")))
    val again = Similarity.quantizeInt8(emb.repartition(7)).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("q_sum"))).sorted.toSeq
    assert(again == out.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("q_sum"))).sorted.toSeq)
  }

  test("k-means: assignments partition the corpus, iterations tighten clusters") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val n = emb.count()
    val out = Similarity.kmeansClusters(emb, 101L, 2).collect()
    // Every vector lands in exactly one surviving cluster.
    assert(out.map(_.getAs[Long]("n_assigned")).sum == n)
    // Mean of unit vectors is inside the unit ball.
    assert(out.forall(_.getAs[Double]("centroid_norm") <= 1.000001))
    assert(out.length >= 2)
    // Deterministic under repartition (decimal means + rounded argmax
    // inputs): same clusters, same counts, same norms.
    val again = Similarity.kmeansClusters(emb.repartition(7), 101L, 2).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_assigned"),
        r.getAs[Double]("centroid_norm"))).sortBy(_._1).toSeq
    assert(key(again) == key(out))
  }

  test("semDedup: total partition, lowest cluster member survives, drops exist") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity.semDedup(emb, 47L, 0.35).collect()
    assert(out.length == emb.count())
    assert(out.forall(r => Set(0L, 1L)(r.getAs[Long]("kept"))))
    // Something must be semantically near-dup at this threshold.
    assert(out.exists(_.getAs[Long]("kept") == 0L))
    // The smallest vec_id in every cluster has no smaller-id pair to
    // lose to — it is always kept.
    val byCluster = out.groupBy(_.getAs[Long]("cid"))
    byCluster.values.foreach { rows =>
      val lowest = rows.minBy(_.getAs[Long]("vec_id"))
      assert(lowest.getAs[Long]("kept") == 1L)
    }
  }

  test("pqEncode: m codes per vector from the codebook, seeds reconstruct exactly") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity.pqEncode(emb, 67L, 4, 64).collect()
    val byVec = out.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec.size == emb.count())
    assert(byVec.values.forall(rs =>
      rs.map(_.getAs[Long]("sub_no")).sorted.toSeq == Seq(0L, 1L, 2L, 3L)))
    // Codes come from the data-seeded codebook, errors are squared L2.
    assert(out.forall(_.getAs[Long]("code") % 67L == 0L))
    assert(out.forall(_.getAs[Double]("sq_err") >= 0.0))
    // A codebook seed's own subvector sits at distance 0 in every
    // subspace, so its winning error must be exactly 0.
    assert(out.filter(_.getAs[Long]("vec_id") % 67L == 0L)
      .forall(_.getAs[Double]("sq_err") == 0.0))
  }

  test("pqAdcTopK: k ascending-distance rows per query, self excluded") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity.pqAdcTopK(emb, col("vec_id") % 100 === 0, 10, 67L, 4, 64)
      .collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty && byQuery.values.forall(_.length == 10))
    byQuery.foreach { case (qid, rows) =>
      assert(rows.forall(_.getAs[Long]("vec_id") != qid))
      val d = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("adist"))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
    }
  }

  test("hybridRrf: fused score recomputes from the two ranks, order consistent") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity
      .hybridRrf(docs, emb, Seq("spark", "join", "window"), 100L, 20, 60)
      .orderBy("rn").collect()
    assert(out.nonEmpty && out.length <= 20)
    val rrfs = out.map(_.getAs[Double]("rrf"))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    out.foreach { r =>
      val b = Option(r.getAs[java.lang.Long]("bm25_rn")).map(_.toLong)
      val c = Option(r.getAs[java.lang.Long]("cosine_rn")).map(_.toLong)
      assert(b.nonEmpty || c.nonEmpty)
      val expect = BigDecimal(
        b.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        c.map(x => 1.0 / (60 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rrf") == expect)
    }
  }

  test("randomProjectionDistortion: stride pairs, bounded cosines, err consistent") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Similarity.randomProjectionDistortion(emb, 17L, 16, 64).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_b") == r.getAs[Long]("vec_a") + 17L)
      val o = r.getAs[Double]("cos_orig")
      val p = r.getAs[Double]("cos_proj")
      assert(math.abs(o) <= 1.000001 && math.abs(p) <= 1.000001)
      val err = BigDecimal(math.abs(p - o))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("abs_err") == err)
    }
  }

  test("pcaExplained: ratio in (0, 1], consistent with pcaPower's lambda") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val r = Similarity.pcaExplained(emb, 3, 64).collect().head
    val lambda = r.getAs[Double]("lambda")
    val tv = r.getAs[Double]("total_var")
    val ratio = r.getAs[Double]("explained_ratio")
    assert(lambda > 0.0 && tv > 0.0)
    assert(ratio > 0.0 && ratio <= 1.0 + 1e-9)
    assert(math.abs(ratio - lambda / tv) < 1e-6)
    val powerLambda = Similarity.pcaPower(emb, 3, 64)
      .select(col("lambda").cast("double")).distinct().collect().map(_.getDouble(0))
    assert(powerLambda.length == 1 && math.abs(powerLambda.head - lambda) < 1e-9,
      "pcaExplained and pcaPower must agree on lambda")
  }

  test("ivfBalanceReport: totals match the corpus, min <= avg <= max") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val r = Similarity.ivfBalanceReport(emb, 40L).collect().head
    assert(r.getAs[Long]("n_vectors") == emb.count())
    val mn = r.getAs[Long]("min_size")
    val mx = r.getAs[Long]("max_size")
    val avg = r.getAs[Double]("avg_size")
    assert(mn <= mx && mn <= avg + 1e-9 && avg <= mx + 1e-9)
    assert(math.abs(r.getAs[Double]("skew") - mx / avg) < 1e-5)
  }

  test("pcaPower: one-task and distributed paths are bit-identical") {
    // The small-matrix cutover replicates the distributed power
    // iteration's decimal discipline (exact DECIMAL(18,6) sums via
    // Num.unscaledAt, round-6 direction, same double evaluation order)
    // — pin both paths to the same output so the oracle hash can never
    // depend on which path ran.
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    def run(path: Cutover.Path) = Cutover.forcing(path) {
      Similarity.pcaPower(emb, 3, 64).collect()
        .map(r => (r.getAs[Long]("dim"), r.getAs[Double]("loading"),
          r.getAs[Double]("lambda"))).sorted.toSeq
    }
    assert(run(Cutover.OneTask) == run(Cutover.Distributed))
  }

  test("hardNegativeMining: planted near-dup of the positive is flagged false_negative") {
    import org.apache.spark.sql.functions._
    // Query 0's nearest neighbor is vec 1 (the positive); vec 2 is a
    // near-copy of vec 1 (the false negative a contrastive loss must
    // not train against); vec 3 is close to the query but not to the
    // positive's direction... make it orthogonal-ish; vec 4 is far.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),     // query
      (1L, Array(0.98f, 0.2f, 0.0f, 0.0f)),    // positive (closest)
      (2L, Array(0.97f, 0.22f, 0.01f, 0.0f)),  // near-dup of positive
      (3L, Array(0.8f, -0.6f, 0.0f, 0.0f)),    // hard negative
      (4L, Array(0.0f, 0.1f, 1.0f, 0.0f))      // easy negative
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegativeMining(emb, col("vec_id") === 0, 4, 0.5, 0.95)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("label")).toMap
    assert(!out.contains(1L), "the positive itself must not be a candidate")
    assert(out(2L) == "false_negative", s"near-dup of positive: $out")
    assert(out(3L) == "hard_negative", s"close to query, far from positive: $out")
    assert(out(4L) == "easy_negative", s"far from both: $out")
  }

  test("truncationRecallReport: lossless when the tail dims carry nothing") {
    import org.apache.spark.sql.functions._
    // Vectors whose information lives entirely in the first 2 dims:
    // truncating to 2 dims is lossless, so recall@k must be exactly 1.
    val emb = Seq(
      (0L, Array(1.0f, 0.1f, 0f, 0f)),
      (1L, Array(0.9f, 0.2f, 0f, 0f)),
      (2L, Array(0.1f, 1.0f, 0f, 0f)),
      (3L, Array(0.2f, 0.9f, 0f, 0f)),
      (100L, Array(1.0f, 0.0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.truncationRecallReport(emb, col("vec_id") % 100 === 0, 3, 2)
      .collect()
    assert(out.length == 2) // queries 0 and 100
    out.foreach { r =>
      assert(r.getAs[Long]("n_hits") == 3L)
      assert(r.getAs[Double]("recall") == 1.0)
    }
    // And with the information in the TAIL dims, truncation must hurt:
    // the report is a measurement, not a constant.
    val bad = Seq(
      (0L, Array(0f, 0f, 1.0f, 0.1f)),
      (1L, Array(0f, 0f, 0.9f, 0.2f)),
      (2L, Array(0f, 0f, 0.1f, 1.0f)),
      (3L, Array(0f, 0f, 0.2f, 0.9f)),
      (100L, Array(0f, 0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // All-zero truncated vectors have no direction left: they drop out
    // of the truncated index entirely (documented semantics; ANSI would
    // otherwise throw on the 0-norm divide), so recall collapses to 0.
    val outBad = Similarity.truncationRecallReport(bad, col("vec_id") % 100 === 0, 3, 2)
      .collect()
    assert(outBad.length == 2)
    outBad.foreach { r =>
      assert(r.getAs[Long]("n_hits") == 0L)
      assert(r.getAs[Double]("recall") == 0.0)
    }
  }

  test("chunkPooledEmbeddings: coherent group → norm 1, scattered group < 1") {
    import org.apache.spark.sql.functions._
    // group 0 (ids 0-2): identical directions → pooled norm 1, lead
    // chunk fully representative. group 1 (ids 10-11): orthogonal
    // chunks → pooled norm 1/√2, lead cosine 1/√2.
    val emb = Seq(
      (0L, Array(2.0f, 0f, 0f, 0f)),
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(5.0f, 0f, 0f, 0f)),
      (10L, Array(0f, 1.0f, 0f, 0f)),
      (11L, Array(0f, 0f, 1.0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.chunkPooledEmbeddings(emb, 10L)
      .orderBy("group_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_chunks") == 3L)
    assert(out(0).getAs[Double]("pooled_norm") == 1.0)
    assert(out(0).getAs[Double]("first_cosine") == 1.0)
    assert(out(1).getAs[Long]("n_chunks") == 2L)
    assert(math.abs(out(1).getAs[Double]("pooled_norm") - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(out(1).getAs[Double]("first_cosine") - math.sqrt(0.5)) < 1e-6)
    // real corpus: every chunk accounted for, norms in (0, 1]
    val real = Tables.embeddings(spark, TestSpark.sf0001)
    val rep = Similarity.chunkPooledEmbeddings(real, 10L).collect()
    assert(rep.map(_.getAs[Long]("n_chunks")).sum == real.count())
    rep.foreach { r =>
      val n = r.getAs[Double]("pooled_norm")
      assert(n > 0.0 && n <= 1.0 + 1e-9)
    }
  }

  test("rankingMetricsReport: perfect index → ndcg = rr = 1; metrics bounded") {
    import org.apache.spark.sql.functions._
    // centStride 1 makes EVERY vector a centroid: each inverted list is
    // a singleton, and probing nProbe = corpus-size lists makes the IVF
    // retrieval exact — so dcg must equal idcg and the exact top-1 sits
    // at index rank 1 (rr = 1).
    val emb = Seq(
      (0L, Array(1.0f, 0.1f, 0f, 0f)),
      (1L, Array(0.9f, 0.2f, 0f, 0f)),
      (2L, Array(0.1f, 1.0f, 0f, 0f)),
      (3L, Array(0.2f, 0.9f, 0f, 0f)),
      (100L, Array(1.0f, 0.0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val perfect = Similarity.rankingMetricsReport(
      emb, col("vec_id") % 100 === 0, 3, 5, 1L).collect()
    assert(perfect.length == 2) // queries 0 and 100
    perfect.foreach { r =>
      assert(r.getAs[Double]("rr") == 1.0)
      assert(r.getAs[Double]("ndcg") == 1.0)
      assert(r.getAs[Double]("dcg") == r.getAs[Double]("idcg"))
    }
    // Real corpus, lossy probe count: bounded metrics, one row/query.
    val real = Tables.embeddings(spark, TestSpark.sf0001)
    val nQueries = real.filter(col("vec_id") % 100 === 0).count()
    val out = Similarity.rankingMetricsReport(
      real, col("vec_id") % 100 === 0, 10, 2, 61L).collect()
    assert(out.length == nQueries)
    out.foreach { r =>
      assert(r.getAs[Double]("rr") >= 0.0 && r.getAs[Double]("rr") <= 1.0)
      assert(r.getAs[Double]("ndcg") >= 0.0 && r.getAs[Double]("ndcg") <= 1.0 + 1e-9)
      assert(r.getAs[Double]("idcg") > 0.0)
      assert(r.getAs[Double]("dcg") <= r.getAs[Double]("idcg") + 1e-9)
    }
  }

  test("annRecallReport: one row per query, recall = hits/k in [0, 1]") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val nQueries = emb.filter(col("vec_id") % 100 === 0).count()
    val out = Similarity.annRecallReport(emb, col("vec_id") % 100 === 0, 10, 64)
      .collect()
    assert(out.length == nQueries)
    out.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 10L)
      assert(r.getAs[Double]("recall") == hits / 10.0)
    }
  }

  test("ivfReassign: incremental assignment equals a fresh build over the union") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 7L)
    val batch = emb.filter(pmod(col("vec_id"), lit(10L)) === 7L)
    val idx = Similarity.buildIvfIndex(corpus, 61L)
    val report = Similarity.ivfReassign(idx, batch).collect()
      .map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("old_size"), r.getAs[Long]("added"),
          r.getAs[Long]("new_size"), r.getAs[Double]("growth")))
      .toMap
    idx.release()
    // Fresh-build ground truth by brute force: the SAME frozen centroid
    // set (corpus-seeded), every union vector assigned to its nearest
    // centroid by raw inner product with cid-asc tie-break. The
    // incremental path must agree list by list — a reassign that
    // re-seeded centroids from the union, or re-scanned the corpus
    // differently, diverges here.
    def vecs(df: org.apache.spark.sql.DataFrame): Array[(Long, Array[Double])] =
      df.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map { r =>
          val raw = r.getSeq[Double](1).toArray
          val n = math.sqrt(raw.map(x => x * x).sum)
          (r.getLong(0), raw.map(_ / n))
        }
    val corpusV = vecs(corpus)
    val batchV = vecs(batch)
    val cents = corpusV.filter(_._1 % 61L == 0L)
    def assign(v: Array[Double]): Long =
      cents.map { case (cid, cv) =>
        (cid, cv.zip(v).map { case (a, b) => a * b }.sum)
      }.minBy { case (cid, d) => (-d, cid) }._1
    val oldSizes = corpusV.groupBy(c => assign(c._2)).view.mapValues(_.length.toLong)
    val addedSizes = batchV.groupBy(c => assign(c._2)).view.mapValues(_.length.toLong)
    val expect = oldSizes.map { case (cid, old) =>
      val added = addedSizes.getOrElse(cid, 0L)
      cid -> (old, added, old + added,
        BigDecimal(added.toDouble / old)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    assert(report.nonEmpty)
    assert(report == expect)
  }

  test("absorbIvfBatch: two sequential batches ≡ one combined batch") {
    // r9 item #6: the serving loop folds accepted batches into the
    // index state; decimal sim sums make the fold ASSOCIATIVE, so any
    // absorb cadence yields bit-identical statistics.
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10L)) < 6L)
    val b1 = emb.filter(pmod(col("vec_id"), lit(10L)).isin(6L, 7L))
    val b2 = emb.filter(pmod(col("vec_id"), lit(10L)).isin(8L, 9L))
    def stats(idx: Similarity.IvfIndex): Map[Long, (Long, java.math.BigDecimal)] =
      idx.corpusStats.collect().map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("old_size"), r.getAs[java.math.BigDecimal]("sim_sum")))
        .toMap
    val seqIdx = Similarity.buildIvfIndex(corpus, 61L).absorb(b1).absorb(b2)
    val sequential = stats(seqIdx)
    val oneIdx = Similarity.buildIvfIndex(corpus, 61L).absorb(b1.unionAll(b2))
    val combined = stats(oneIdx)
    assert(sequential.nonEmpty && sequential == combined)
    // And the absorbed state is what the NEXT reassign reads: a b2
    // report against the advanced index counts b1's arrivals as
    // membership — old_size totals |corpus| + |b1|, not |corpus| (the
    // r9 defect: every batch compared against the original build
    // forever).
    val b1Idx = Similarity.buildIvfIndex(corpus, 61L).absorb(b1)
    val report = Similarity.ivfReassign(b1Idx, b2).collect()
    assert(report.map(_.getAs[Long]("old_size")).sum == corpus.count() + b1.count())
    assert(report.map(_.getAs[Long]("added")).sum == b2.count())
    Seq(seqIdx, oneIdx, b1Idx).foreach(_.release())
  }

  test("ivfReassign: arrivals to a zero-member list surface, not drop") {
    // ADVICE r9 #1: a LEFT join onto corpusStats silently dropped batch
    // vectors assigned to a centroid with no build-time members; the
    // full-outer report must keep them with old_size 0 and null
    // growth/mean_sim_old. Hand-built index state: centroid 99 exists
    // in the quantizer but owns no corpus list.
    import spark.implicits._
    val cent = Seq((0L, Seq(1.0, 0.0)), (99L, Seq(0.0, 1.0)))
      .toDF("cid", "cv").select(col("cid"), col("cv").cast("array<double>").as("cv"))
    val stats = Seq((0L, 3L, new java.math.BigDecimal("2.400000")))
      .toDF("cid", "old_size", "sim_sum")
      .select(col("cid"), col("old_size"),
        col("sim_sum").cast(org.apache.spark.sql.types.DecimalType(18, 6))
          .as("sim_sum"))
    val idx = Similarity.IvfIndex(cent, stats, 1L)
    val batch = Seq((500L, Seq(0.1, 5.0))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val rows = Similarity.ivfReassign(idx, batch).orderBy("cid").collect()
    assert(rows.map(_.getAs[Long]("cid")).toSeq == Seq(0L, 99L))
    val r99 = rows(1)
    assert(r99.getAs[Long]("old_size") == 0L &&
      r99.getAs[Long]("added") == 1L && r99.getAs[Long]("new_size") == 1L)
    assert(r99.isNullAt(r99.fieldIndex("growth")),
      "growth over a zero base must be null, not a division artifact")
    assert(r99.isNullAt(r99.fieldIndex("mean_sim_old")))
    assert(r99.getAs[Double]("mean_sim_new") > 0.99) // ~unit dot with cv
    val r0 = rows(0)
    assert(r0.getAs[Long]("old_size") == 3L && r0.getAs[Long]("added") == 0L &&
      r0.getAs[Double]("mean_sim_old") == 0.8 &&
      r0.isNullAt(r0.fieldIndex("mean_sim_new")))
  }

  test("hammingAnnTopK equals the brute-force sketch-scan definition") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val k = 5
    val h = 20
    // Driver-side brute force over the SAME sketches: candidates =
    // query x corpus within sketch-Hamming h, exact cosine over the
    // normalized vectors, top-k by (cosine desc, vec_id asc).
    val e = Similarity.normalized(emb)
    val sk = Similarity.binarySketch(e, 64).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Seq("b0", "b1", "b2", "b3").map(r.getAs[Long](_))).toMap
    val vs = e.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    def ham(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      BigDecimal(a.zip(b).map { case (x, y) => x * y }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = sk.keys.filter(_ % 100 == 0).flatMap { q =>
      sk.keys.filter(c => c != q && ham(sk(q), sk(c)) <= h)
        .map(c => (q, c, cos(vs(q), vs(c)))).toSeq
        .sortBy { case (_, c, s) => (-s, c) }.take(k).zipWithIndex
        .map { case ((qq, c, s), i) => (qq, (i + 1).toLong, c, s) }
    }.toSet
    val got = Similarity.hammingAnnTopK(emb, col("vec_id") % 100 === 0, k, 64, h)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
    assert(got == expect)
    assert(got.nonEmpty, "radius 20 must admit candidates on this corpus")
  }

  test("zero-norm vectors get null v and never match in the embedding-index paths") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    // vec 1 is a near-dup of vec 2; vec 99 is the zero vector.
    val rows = Seq(
      (1L, Seq.fill(4)(0.5)), (2L, Seq(0.5, 0.5, 0.5, 0.45)),
      (99L, Seq.fill(4)(0.0)))
    val emb = rows.toDF("vec_id", "embedding")
    val n = Similarity.normalizedNonZero(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> Option(r.get(1))).toMap
    assert(n(99L).isEmpty, "zero-norm vector must normalize to NULL, not NaN")
    assert(n(1L).nonEmpty && n(2L).nonEmpty)
    // End to end: a zero vector in the corpus AND in the batch is never
    // flagged and never surfaces as a best match (a NaN cosine would
    // also fail the threshold, but null does so deterministically and
    // cheaply — the guard lives inside the projection, not a filter,
    // because pushdown inlines filter predicates into the scan).
    val idx = Dedup.buildEmbeddingIndex(emb, 4)
    val batch = Seq((11L, Seq(0.5, 0.5, 0.5, 0.48)), (98L, Seq.fill(4)(0.0)))
      .toDF("vec_id", "embedding")
    val got = Dedup.flagAgainstEmbeddingIndex(batch, idx, 0.5).collect()
      .map(r => (r.getAs[Long]("vec_new"), r.getAs[Long]("best_match")))
    idx.release()
    assert(got.nonEmpty && got.forall { case (nw, bm) => nw == 11L && bm != 99L })
  }
}
