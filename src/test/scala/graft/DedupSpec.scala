package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cutover, Dedup}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "a b c d e f g h i j"),
    (1L, "a b c d e f g h i k"), // near-dup of 0
    (2L, "z y x w v u t s r q"),
    (3L, "a b c d e f g h i j") // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id and counts copies") {
    val out = Dedup.exact(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("incremental dedup flags only new-batch docs duplicating the corpus") {
    import org.apache.spark.sql.functions._
    // batch = odd ids. Doc 1 (new) is a one-word-changed twin of corpus
    // doc 0 (jaccard ≈ 0.93 — high enough that the 4×4 bands collide);
    // doc 3 (new) exact-dups doc 0; doc 2 (corpus) is disjoint and the
    // corpus docs themselves are never flagged.
    val base = (0 until 30).map(i => s"w$i")
    val twin = base.updated(29, "changed")
    val inc = Seq(
      (0L, base.mkString(" ")),
      (1L, twin.mkString(" ")),
      (2L, (0 until 30).map(i => s"z$i").mkString(" ")),
      (3L, base.mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.minhashLshAgainstCorpus(
        Dedup.wordShingles(inc), pmod(col("doc_id"), lit(2L)) === 1, 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("best_match"),
        r.getAs[Double]("jaccard"))).sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 3L))
    assert(out.forall(_._2 == 0L))
    assert(out.find(_._1 == 3L).get._3 == 1.0) // exact dup → jaccard 1
  }

  test("prefix-filtered jaccard equals brute-force all-pairs on random corpora") {
    // The prefix-filter lemma in practice: for random word documents,
    // jaccardPairs (prefix candidates + full-set verification) must
    // produce EXACTLY the pairs a quadratic shingle-set comparison
    // finds — lossless candidate generation, no threshold edge missed.
    val rnd = new scala.util.Random(42)
    val vocab = Array("red", "blue", "green", "ox", "hen", "fox", "owl", "elk")
    // Base docs plus mutated twins (one word substituted) so the corpus
    // is guaranteed to contain qualifying near-dup pairs at several
    // jaccard levels, not just whatever random collisions produce.
    val bases = (0 until 20).map { _ =>
      Array.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length)))
    }
    val docsSeq = bases.zipWithIndex.flatMap { case (ws, i) =>
      val twin = ws.clone()
      twin(rnd.nextInt(twin.length)) = vocab(rnd.nextInt(vocab.length))
      Seq((2L * i, ws.mkString(" ")), (2L * i + 1, twin.mkString(" ")))
    }
    val docs = docsSeq.toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(Dedup.wordShingles(docs), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Brute force over the same 3-shingle sets, in plain Scala.
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ")
      if (ws.length < 3) Set(t)
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val local = docs.collect().map(r => (r.getLong(0), shingles(r.getString(1))))
    val want = (for {
      (a, sa) <- local; (b, sb) <- local if a < b
      i = (sa & sb).size
      j = i.toDouble / (sa.size + sb.size - i)
      // mirror the operator's round-to-6 before thresholding
      if BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.3
    } yield (a, b)).toSet
    assert(got == want, s"prefix filter diverged: got ${got.size}, want ${want.size}")
    assert(want.nonEmpty, "test corpus produced no qualifying pairs — tighten vocab")
  }

  test("jaccard pairs find the planted near-dup (and the exact dup)") {
    val set = Dedup.jaccardPairs(Dedup.wordShingles(docs), 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(set.contains((0L, 3L))) // exact dup, jaccard 1.0
    assert(set.contains((0L, 1L)) && set.contains((1L, 3L))) // near-dups
    assert(!set.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH finds exactly the jaccard pairs on real data") {
    val sh = Dedup.wordShingles(Tables.documents(spark, TestSpark.sf0001))
    val exact = Dedup.jaccardPairs(sh, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val lsh = Dedup.minhashLshPairs(sh, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh == exact) // at jaccard ≈ .98, every band collides
    assert(exact.nonEmpty)
  }

  test("simhash distance is small for near-dups, large for unrelated") {
    val out = Dedup.simhashPairs(docs, 60)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Long]("hamming"))).toMap
    assert(out((0L, 3L)) == 0L) // identical text → identical signature
    assert(out.get((0L, 1L)).forall(_ <= 20L))
  }

  test("simhashPairs equals the all-pairs definition over simhashSignatures") {
    val real = Tables.documents(spark, TestSpark.sf001)
    val sigs = Dedup.simhashSignatures(real).as[(Long, Long)].collect()
    val expect = (for {
      (a, ha) <- sigs; (b, hb) <- sigs
      d = java.lang.Long.bitCount(ha ^ hb).toLong
      if a < b && d <= 8L
    } yield (a, b, d)).toSet
    val got = Dedup.simhashPairs(real, 8).as[(Long, Long, Long)].collect().toSet
    val (missed, extra) = (expect -- got, got -- expect)
    assert(expect.nonEmpty && missed.isEmpty && extra.isEmpty,
      s"missed ${missed.size} of ${expect.size} pairs, ${extra.size} extra")
  }

  test("duplicate clusters: a chain collapses to one component, min id wins") {
    val pairs = Seq((1L, 5L), (5L, 9L), (20L, 30L)).toDF("doc_a", "doc_b")
    val expected = Set(
      (1L, 1L, 1L), (5L, 1L, 0L), (9L, 1L, 0L),
      (20L, 20L, 1L), (30L, 20L, 0L))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("is_canonical"))).toSet
    // single-task union-find path (default limit)
    assert(labels(Dedup.duplicateClusters(pairs)) == expected)
    // distributed fixpoint path (forced) — same labels
    assert(Cutover.forcing(Cutover.Distributed)(
      labels(Dedup.duplicateClusters(pairs))) == expected)
    // The sf0.001 near-dup graph (the Jaccard pairs the dedup queries
    // cluster): both paths label it identically.
    val real = Dedup.jaccardPairs(
      Dedup.wordShingles(Tables.documents(spark, TestSpark.sf0001)), 0.5)
    val oneTask = Cutover.forcing(Cutover.OneTask)(labels(Dedup.duplicateClusters(real)))
    assert(oneTask.nonEmpty)
    assert(Cutover.forcing(Cutover.Distributed)(
      labels(Dedup.duplicateClusters(real))) == oneTask)
  }

  test("canonical resolution keeps uniques and one survivor per cluster") {
    val corpus = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"), // chain 1-2, 2-3 → canonical 1
      (7L, "y")                        // untouched
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.resolveCanonical(corpus, pairs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"))).toSet
    assert(out == Set((1L, "canonical"), (7L, "unique"))) // 2 and 3 dropped
  }

  test("embedding near-dup pairs are symmetric-free and thresholded") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val pairs = Dedup.embeddingPairs(emb, 0.35).collect()
    assert(pairs.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
    assert(pairs.forall(r => r.getAs[Double]("cosine") >= 0.35))
  }

  test("lshQualityReport: counts nest (verified <= cand, verified <= true), ratios consistent") {
    val shingles = Dedup.wordShingles(Tables.documents(spark, TestSpark.sf0001))
    val truth = Dedup.jaccardPairs(shingles, 0.4)
    val r = Dedup.lshQualityReport(truth, shingles, 0.4).collect().head
    val nTrue = r.getAs[Long]("n_true")
    val nCand = r.getAs[Long]("n_candidates")
    val nVer = r.getAs[Long]("n_verified")
    assert(nVer <= nCand, "verified pairs must be a subset of candidates")
    assert(nVer <= nTrue, "verified pairs must be a subset of the truth set")
    assert(math.abs(r.getAs[Double]("candidate_precision") - nVer.toDouble / nCand) < 1e-6)
    assert(math.abs(r.getAs[Double]("recall") - nVer.toDouble / nTrue) < 1e-6)
    // The verified set IS minhashLshPairs' output — counts must agree.
    assert(nVer == Dedup.minhashLshPairs(shingles, 0.4).count())
  }

  test("lshDesignSweep: 4x4 row agrees with lshQualityReport; recall climbs with bands") {
    val shingles = Dedup.wordShingles(Tables.documents(spark, TestSpark.sf0001))
    val truth = Dedup.jaccardPairs(shingles, 0.4)
    val sweep = Dedup.lshDesignSweep(truth, shingles, 0.4)
      .collect().map(r => (r.getAs[Int]("bands"), r)).toMap
    assert(sweep.keySet == Dedup.LshLayouts.map(_._1).toSet)
    // the deployed layout's numbers match the dedicated quality report
    val q = Dedup.lshQualityReport(truth, shingles, 0.4).collect().head
    val s44 = sweep(4)
    assert(s44.getAs[Long]("n_candidates") == q.getAs[Long]("n_candidates"))
    assert(s44.getAs[Long]("n_verified") == q.getAs[Long]("n_verified"))
    assert(s44.getAs[Double]("recall") == q.getAs[Double]("recall"))
    // monotonicity of the s-curve family: more/narrower bands never
    // lose pairs (candidate superset) and never tighten recall
    val byBands = Dedup.LshLayouts.map(_._1).sorted.map(sweep)
    val recalls = byBands.map(_.getAs[Double]("recall"))
    assert(recalls == recalls.sorted, s"recall not monotone in bands: $recalls")
    val cands = byBands.map(_.getAs[Long]("n_candidates"))
    assert(cands == cands.sorted, s"candidates not monotone in bands: $cands")
    // analytic literals really are the Scala-computed constants
    val (thr, pc) = Dedup.lshSCurve(4, 4, 0.4)
    assert(s44.getAs[Double]("j_threshold") == thr)
    assert(s44.getAs[Double]("p_collide_at_minj") == pc)
  }

  test("leakageSafeSplit: no near-dup cluster straddles train and test") {
    val docs = (1L to 40L).map((_, "t")).toDF("doc_id", "text")
    // Planted clusters {1,2,3} (chained) and {10,11}; everything else
    // is a singleton.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.leakageSafeSplit(docs, pairs, 80L).collect()
    assert(out.length == 40)
    assert(out.forall(_.getAs[Long]("cluster_atomic") == 1L))
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster_id"), r.getAs[String]("split"))).toMap
    // Chained cluster resolves transitively to one label + one split.
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._1).toSet == Set(1L))
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._2).toSet.size == 1)
    assert(Seq(10L, 11L).map(byDoc(_)._2).toSet.size == 1)
    // Singletons keep their own id as the cluster label.
    assert(byDoc(20L)._1 == 20L)
    // Both splits occur across the 37 clusters (deterministic md5 keys).
    assert(out.map(_.getAs[String]("split")).toSet == Set("train", "test"))
  }

  test("softDedupWeights: weight = 1/cluster size, singletons weight 1") {
    val docs = Seq(
      (1L, "s0", 100L), (2L, "s0", 200L), (3L, "s0", 300L), // cluster {1,2,3}
      (4L, "s1", 400L), (5L, "s1", 500L), // cluster {4,5}
      (6L, "s1", 600L) // singleton (absent from labels)
    ).toDF("doc_id", "source", "n_chars")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)
    ).toDF("doc_id", "cluster_id")
    val out = Dedup.softDedupWeights(docs, clusters).orderBy("doc_id").collect()
    val w = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster_n"), r.getAs[Double]("weight"),
        r.getAs[Double]("w_chars"))).toMap
    assert(w(1L) == ((3L, 0.333333, 33.333333)))
    assert(w(4L) == ((2L, 0.5, 200.0)))
    assert(w(6L) == ((1L, 1.0, 600.0)))
  }

  test("softDedupEffectiveSize: exact ppm sums, order-independent") {
    val docs = Seq(
      (1L, "s0", 100L), (2L, "s0", 200L), (3L, "s0", 300L),
      (4L, "s1", 400L), (5L, "s1", 500L), (6L, "s1", 600L)
    ).toDF("doc_id", "source", "n_chars")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)
    ).toDF("doc_id", "cluster_id")
    val out = Dedup.softDedupEffectiveSize(docs, clusters).orderBy("source")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("effective_docs"), r.getAs[Double]("soft_keep_ratio")))
    // s0: 3 docs in one cluster → 3 * round(1e6/3) = 999999 ppm
    assert(out(0) == (("s0", 3L, 0.999999, 0.333333)))
    // s1: {4,5} at 1/2 each + singleton → 2.0
    assert(out(1) == (("s1", 3L, 2.0, 0.666667)))
  }
}
