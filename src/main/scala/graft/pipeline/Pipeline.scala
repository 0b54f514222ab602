package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Cleaning, Num}
import graft.sources.JsonFixtureSource

/** The reference's five-stage DAG (SURVEY.md §3.1) composed end-to-end
  * over local paths — scrape-fixture → transform/clean → `;`-CSV sink →
  * warehouse tables → regression — with Spark idioms at every boundary:
  * JSON fixture pages for the API, parquet-free CSV interchange exactly
  * where the reference used S3, `saveAsTable` where it used Postgres,
  * and a distributed OLS fit where it used a Lambda.
  *
  * Role mapping (FIXTURES.md §B): orders = videos, lineitem = comments,
  * per-order aggregates = video_statistics (x = total quantity ≈ views,
  * y = item count ≈ comment count).
  *
  * The DAG has two branches that share no data until the serving join:
  * descriptions (orders → JSON pages → flatten/clean → CSV → table) and
  * statistics (lineitem → per-video aggregate → CSV → table). The
  * reference's Airflow chain runs them one after the other, but that
  * order is declared, not required by the data, so [[run]] runs them
  * at once and joins both before the serving fit.
  */
object Pipeline {

  /** The Spark local property naming the DAG branch a job belongs to. */
  val StageKey = "graft.stage"

  private def stagePath(workDir: String, stage: String): String = s"$workDir/$stage"

  /** Stage 1+2 — ingest the nested JSON fixture and flatten+clean. */
  def scrapeAndClean(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    JsonFixtureSource.writeSearchPages(
      spark, Tables.orders(spark, sfDir), stagePath(workDir, "pages"))
    JsonFixtureSource.readAndFlattenSearch(spark, stagePath(workDir, "pages"))
      .withColumn("video_title", Cleaning.cleanChain(col("video_title")))
      .withColumn("video_description", Cleaning.cleanChain(col("video_description")))
  }

  /** Stage 2 — per-video statistics from the comment-shaped fact table.
    * Grouped on the long key and cast after the aggregate: long → string
    * is injective, so the groups are the same and hashing is cheaper. */
  def statistics(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(
        Num.dsum(col("l_quantity")).as("views"),
        count(lit(1)).as("comments"))
      .select(col("l_orderkey").cast("string").as("video_id"),
        col("views"), col("comments"))

  /** Stage 3 — land both tables as `;`-CSV (K1) and read back (S6). */
  def throughCsv(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite")
      .option("sep", ";").option("header", "true").csv(path)
    spark.read
      .option("sep", ";").option("header", "true").option("multiLine", "true")
      .schema(df.schema) // explicit schema: CSV carries no types (K3's DDL role)
      .csv(path)
  }

  /** Stage 5 — the serving query: OLS comments ~ views over the
    * warehouse statistics table (M3), one row out. */
  def regression(stats: DataFrame): DataFrame =
    stats.agg(
      round(regr_slope(col("comments"), col("views")), 6).as("b1"),
      round(regr_intercept(col("comments"), col("views")), 6).as("b0"),
      count(lit(1)).as("n_videos"),
      round(avg(col("views")), 6).as("avg_views"))

  /** Stages 3+4 of one branch: through the CSV sink into a catalog
    * table (the DAG's store step, K2/K3), with every job of the branch
    * carrying [[StageKey]] = `stage`; the previous value is restored. */
  private def land(spark: SparkSession, stage: String, df: => DataFrame,
                   csvPath: String, table: String): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(StageKey)
    sc.setLocalProperty(StageKey, stage)
    try throughCsv(spark, df, csvPath)
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    finally sc.setLocalProperty(StageKey, prev)
  }

  /** All five stages; returns the 1-row serving result. The statistics
    * branch runs on a fresh thread (which inherits the caller's Spark
    * local properties and active session) while the descriptions
    * branch runs on the caller's; both job chains share the one
    * context. `run` returns only after both branches have ended. A
    * branch's error is rethrown as is; if both fail, the statistics
    * error is attached to the descriptions error as suppressed. */
  def run(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    @volatile var statsError: Throwable = null
    val statsBranch = new Thread(() =>
      try land(spark, "pipeline.statistics", statistics(spark, sfDir),
        stagePath(workDir, "csv_statistics"), "graft_pipeline_statistics")
      catch { case t: Throwable => statsError = t },
      "graft-pipeline-statistics")
    statsBranch.start()
    val descError =
      try {
        land(spark, "pipeline.descriptions", scrapeAndClean(spark, sfDir, workDir),
          stagePath(workDir, "csv_descriptions"), "graft_pipeline_descriptions")
        null
      } catch { case t: Throwable => t }
    // Wait out the branch even when interrupted; re-assert the interrupt after.
    var interrupted = false
    while (statsBranch.isAlive)
      try statsBranch.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (descError, statsError) match {
      case (null, null) => ()
      case (d, null) => throw d
      case (null, s) => throw s
      case (d, s) => d.addSuppressed(s); throw d
    }

    // The serving fit reads from the warehouse, like the Lambda read S3.
    val joined = spark.table("graft_pipeline_statistics")
      .join(spark.table("graft_pipeline_descriptions"), Seq("video_id"), "inner")
    regression(joined.select(col("views"), col("comments")))
  }
}
