package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cutover, Graph}

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank on a path graph: symmetric ends tie, hub dominates, mass ≈ 1") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val pr = Graph.pageRank(edges, 0.85, 3).collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Double]("pr")).toMap
    assert(pr.keySet == Set("a", "b", "c"))
    // a and c see literally the same arithmetic every iteration.
    assert(pr("a") == pr("c"))
    assert(pr("b") > pr("a"))
    assert(math.abs(pr.values.sum - 1.0) < 1e-3)
  }

  test("pageRank: one-task and distributed paths are bit-identical") {
    // The small-graph cutover replicates the distributed loop's decimal
    // arithmetic (shortest-string HALF_UP casts, exact scale-18 sums,
    // round-6 trajectory) — pin the two paths to the same output so the
    // oracle hash can never depend on which path ran.
    val edges = Graph.tradeEdges(
      Tables.orders(spark, TestSpark.sf0001), Tables.lineitem(spark, TestSpark.sf0001))
    def run(path: Cutover.Path) = Cutover.forcing(path) {
      Graph.pageRank(edges, 0.85, 3).collect()
        .map(r => (r.getAs[String]("node"), r.getAs[Long]("deg"),
          r.getAs[Double]("pr"))).sorted.toSeq
    }
    assert(run(Cutover.OneTask) == run(Cutover.Distributed))
  }

  test("hits: unit-norm halves, authority follows in-degree, dual-path bit-identical") {
    // A 'portfolio' hub fixture: c1 buys from every supplier, c2/c3
    // from one each — s1 is the shared (authoritative) supplier.
    val edges = Seq(
      ("c1", "s1"), ("c1", "s2"), ("c1", "s3"),
      ("c2", "s1"), ("c3", "s1")).toDF("src", "dst")
    val out = Graph.hits(edges, 3).collect()
      .map(r => (r.getAs[String]("node"), r.getAs[String]("kind"),
        r.getAs[Double]("score")))
    val auth = out.filter(_._2 == "authority").map(t => t._1 -> t._3).toMap
    val hub = out.filter(_._2 == "hub").map(t => t._1 -> t._3).toMap
    assert(auth.keySet == Set("s1", "s2", "s3") && hub.keySet == Set("c1", "c2", "c3"))
    assert(auth("s1") > auth("s2") && auth("s2") == auth("s3"))
    assert(hub("c1") > hub("c2") && hub("c2") == hub("c3"))
    // Normalization: each half is (approximately, post-rounding) unit L2.
    assert(math.abs(auth.values.map(v => v * v).sum - 1.0) < 1e-3)
    assert(math.abs(hub.values.map(v => v * v).sum - 1.0) < 1e-3)
    // One-task and distributed paths must be bit-identical (the pageRank
    // dual-path pin, HITS edition) on a real slice.
    val trade = Graph.tradeEdges(
      Tables.orders(spark, TestSpark.sf0001), Tables.lineitem(spark, TestSpark.sf0001))
    def run(path: Cutover.Path) = Cutover.forcing(path) {
      Graph.hits(trade, 3).collect()
        .map(r => (r.getAs[String]("node"), r.getAs[String]("kind"),
          r.getAs[Double]("score"))).sorted.toSeq
    }
    assert(run(Cutover.OneTask) == run(Cutover.Distributed))
  }

  test("pageRank over the trade graph is a probability-mass fixpoint, repartition-stable") {
    val edges = Graph.tradeEdges(
      Tables.orders(spark, TestSpark.sf0001), Tables.lineitem(spark, TestSpark.sf0001))
    val out = Graph.pageRank(edges, 0.85, 3).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Double]("pr") > 0.0))
    // Undirected + no dangling nodes → total mass conserved up to the
    // per-node rounding (±5e-7 each).
    val mass = out.map(_.getAs[Double]("pr")).sum
    assert(math.abs(mass - 1.0) < 1e-6 * out.length + 1e-3)
    val again = Graph.pageRank(edges.repartition(7), 0.85, 3).collect()
      .map(r => (r.getAs[String]("node"), r.getAs[Double]("pr"))).sorted.toSeq
    assert(again == out.map(r => (r.getAs[String]("node"), r.getAs[Double]("pr"))).sorted.toSeq)
  }

  test("pageRank: repeated runs in one JVM stay flat (suite-pressure guard)") {
    // Round-6 verdict #2: the driver's in-suite median ran 5× the
    // isolated median. With data-sized partition counts and per-round
    // Lifecycle release, back-to-back executions must neither slow down
    // nor accumulate checkpoint state. Timing asserts are kept loose
    // (1.5× + fixed slack on the min-of-window) so JIT/GC noise cannot
    // flake the suite while a real leak (monotone growth) still fails.
    val edges = Graph.tradeEdges(
      Tables.orders(spark, TestSpark.sf0001), Tables.lineitem(spark, TestSpark.sf0001))
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      Graph.pageRank(edges, 0.85, 10).count()
      graft.operators.Lifecycle.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }
    assert(graft.operators.Lifecycle.liveCount == 0,
      "checkpoint blocks survived releaseAll")
    val early = times.take(2).min
    val late = times.drop(3).min
    assert(late <= early * 1.5 + 0.5, s"pageRank degraded across runs: $times")
  }
}
