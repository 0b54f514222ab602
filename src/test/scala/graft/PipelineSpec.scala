package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Num
import graft.pipeline.Pipeline

/** `Pipeline.run`'s two concurrent branches: the same serving row as
  * the sequential stage-by-stage composition, a `graft.stage` label on
  * every job of each branch, and branch errors rethrown only after both
  * branches have ended. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def dir(name: String) =
    graft.Scratch.path(s"graft_pipeline_${ProcessHandle.current().pid()}_$name")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def csvBack(path: String, like: DataFrame): DataFrame =
    spark.read.option("sep", ";").option("header", "true").option("multiLine", "true")
      .schema(like.schema).csv(path)

  private def branchAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == "graft-pipeline-statistics" && t.isAlive)

  test("run returns the sequential composition's row; tables hold their CSV read-backs") {
    // The stage-by-stage order the benchmark's traced DAG uses.
    val seqDir = dir("sequential")
    val descBack = Pipeline.throughCsv(spark,
      Pipeline.scrapeAndClean(spark, sf, seqDir), s"$seqDir/csv_descriptions")
    descBack.write.mode("overwrite").format("parquet").saveAsTable("graft_pipeline_descriptions")
    val statsBack = Pipeline.throughCsv(spark,
      Pipeline.statistics(spark, sf), s"$seqDir/csv_statistics")
    statsBack.write.mode("overwrite").format("parquet").saveAsTable("graft_pipeline_statistics")
    val sequential = Pipeline.regression(spark.table("graft_pipeline_statistics")
      .join(spark.table("graft_pipeline_descriptions"), Seq("video_id"), "inner")
      .select(col("views"), col("comments"))).collect().toSeq

    val runDir = dir("run")
    val served = Pipeline.run(spark, sf, runDir).collect().toSeq
    assert(served.size == 1)
    assert(served == sequential)
    assert(served.head.getAs[Long]("n_videos") > 0L)

    for ((table, csv) <- Seq(
        "graft_pipeline_descriptions" -> "csv_descriptions",
        "graft_pipeline_statistics" -> "csv_statistics")) {
      val t = spark.table(table)
      assert(sorted(t) == sorted(csvBack(s"$runDir/$csv", t)), table)
    }

    // The long group key gives the rows the string key gave.
    val byString = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey").cast("string").as("video_id"))
      .agg(Num.dsum(col("l_quantity")).as("views"), count(lit(1)).as("comments"))
    val stats = Pipeline.statistics(spark, sf)
    assert(stats.schema == byString.schema)
    assert(sorted(stats) == sorted(byString))
  }

  test("a SparkListener sees graft.stage = the branch on every job, none after run") {
    // Each job's SQL execution names the files and tables it touches,
    // which tells its branch apart independently of the label.
    val statsMarks = Seq("lineitem.parquet", "csv_statistics", "graft_pipeline_statistics")
    val descMarks = Seq("orders.parquet", "/pages", "csv_descriptions", "graft_pipeline_descriptions")
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], Option[String])]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription + "\n" + s.description)
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        jobs.add((
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
          p.flatMap(x => Option(x.getProperty(Pipeline.StageKey)))))
      }
    }
    def drain(): Seq[(Option[Long], Option[String])] = {
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 10000)
      val seen = jobs.asScala.toSeq
      jobs.clear()
      seen
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      drain()
      val served = Pipeline.run(spark, sf, dir("listener"))
      val during = drain()
      assert(sc.getLocalProperty(Pipeline.StageKey) == null)
      assert(during.forall(_._2.isDefined), "a branch job without graft.stage")
      assert(during.flatMap(_._2).toSet == Set("pipeline.descriptions", "pipeline.statistics"))
      val classified = for {
        (exec, stage) <- during; id <- exec; plan <- Option(plans.get(id))
        isStats = statsMarks.exists(plan.contains)
        if isStats != descMarks.exists(plan.contains)
      } yield {
        val branch = if (isStats) "pipeline.statistics" else "pipeline.descriptions"
        assert(stage.contains(branch), plan.linesIterator.take(3).mkString(" | "))
        branch
      }
      assert(classified.toSet == Set("pipeline.descriptions", "pipeline.statistics"))
      served.collect()
      val after = drain()
      assert(after.nonEmpty)
      assert(after.forall(_._2.isEmpty))

      // A caller's own label is put back when run returns.
      sc.setLocalProperty(Pipeline.StageKey, "outer")
      try {
        Pipeline.run(spark, sf, dir("listener_outer"))
        assert(sc.getLocalProperty(Pipeline.StageKey) == "outer")
      } finally sc.setLocalProperty(Pipeline.StageKey, null)
    } finally sc.removeSparkListener(listener)
  }

  test("a branch failure surfaces from run with its cause, after both branches end") {
    def sfWith(name: String, tables: String*): String = {
      val d = Paths.get(dir(name))
      Files.createDirectories(d)
      for (t <- tables if !Files.exists(d.resolve(t)))
        Files.copy(Paths.get(sf, t), d.resolve(t))
      d.toString
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    def mentions(t: Throwable, file: String): Boolean =
      causes(t).exists(c => String.valueOf(c.getMessage).contains(file))

    val noLineitem = sfWith("sf_no_lineitem", "orders.parquet")
    val statsFailure = intercept[Throwable](Pipeline.run(spark, noLineitem, dir("fail_stats")))
    assert(mentions(statsFailure, "lineitem.parquet"), statsFailure)
    assert(!branchAlive)

    val noOrders = sfWith("sf_no_orders", "lineitem.parquet")
    val descFailure = intercept[Throwable](Pipeline.run(spark, noOrders, dir("fail_desc")))
    assert(mentions(descFailure, "orders.parquet"), descFailure)
    assert(!branchAlive)

    // Both fail: the descriptions error, the statistics one suppressed.
    val neither = sfWith("sf_empty")
    val both = intercept[Throwable](Pipeline.run(spark, neither, dir("fail_both")))
    assert(mentions(both, "orders.parquet"), both)
    assert(both.getSuppressed.exists(mentions(_, "lineitem.parquet")))
    assert(!branchAlive)
    assert(spark.sparkContext.getLocalProperty(Pipeline.StageKey) == null)
  }
}
