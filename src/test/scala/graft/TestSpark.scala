package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (suites reference the lazy val, so
  * the JVM starts a single SparkContext regardless of suite order). */
object TestSpark {
  val sf0001 = "/root/testdata/sf0.001"
  /** The next scale factor up, beside [[sf0001]]. */
  val sf001: String = new java.io.File(new java.io.File(sf0001).getParent, "sf0.01").getPath

  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.warehouse.dir", Scratch.path("warehouse"))
    Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
