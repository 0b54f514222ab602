package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cutover, Dedup}

class CutoverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def path(gate: Long, limit: Long): String =
    Cutover.run("probe", gate, limit)("one-task")("distributed")

  test("gate == limit takes the one-task path, limit + 1 the distributed path") {
    val sc = spark.sparkContext
    assert(path(5L, 5L) == "one-task")
    assert(path(6L, 5L) == "distributed")
    // The record is set for the chosen path only, then removed.
    assert(Cutover.run("probe", 5L, 5L)(sc.getLocalProperty(Cutover.Key))("") ==
      "op=probe path=one-task gate=5 limit=5")
    assert(sc.getLocalProperty(Cutover.Key) == null)
  }

  test("a SparkListener sees the path and gate on the jobs of each path") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(Cutover.Key)))
          .foreach(seen.add)
    }
    // 3 pairs → 6 directed edges: the gate the operator measures.
    val pairs = Seq((1L, 5L), (5L, 9L), (20L, 30L)).toDF("doc_a", "doc_b")
    def labelsSeen(body: => Unit): Set[String] = {
      seen.clear()
      body
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 10000)
      scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSet
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(labelsSeen(Dedup.duplicateClusters(pairs).collect()) ==
        Set("op=duplicateClusters path=one-task gate=6 limit=1000000"))
      assert(labelsSeen(Cutover.forcing(Cutover.Distributed)(
        Dedup.duplicateClusters(pairs).collect())) ==
        Set("op=duplicateClusters path=distributed gate=6 limit=1000000"))
      // Jobs outside any cutover carry no record.
      assert(labelsSeen(spark.range(3).collect()).isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("forcing restores the default path when its body throws") {
    intercept[IllegalStateException] {
      Cutover.forcing(Cutover.Distributed) {
        assert(path(1L, 1L) == "distributed")
        throw new IllegalStateException("boom")
      }
    }
    assert(path(1L, 1L) == "one-task")
    intercept[IllegalStateException] {
      Cutover.run("probe", 1L, 1L)(throw new IllegalStateException("boom"))("")
    }
    assert(spark.sparkContext.getLocalProperty(Cutover.Key) == null)
  }
}
