package graft

import org.scalatest.funsuite.AnyFunSuite

/** The packs' once-per-JVM parquet fixtures
  * (`PipelinePack.parquetFixture`): the frame is built and written at
  * most once per (kind, sfDir), and always as ONE part file, so the
  * consumers' repeated scans never pay a file per build partition. */
class FixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a parquet fixture is written once per key, as one part file") {
    val kind = s"fixture_spec_${java.lang.System.nanoTime()}"
    var builds = 0
    def frame = { builds += 1; spark.range(0, 100, 1, 4).toDF("id") }
    val first = packs.PipelinePack.parquetFixture(spark, kind, TestSpark.sf0001)(frame)
    val second = packs.PipelinePack.parquetFixture(spark, kind, TestSpark.sf0001)(frame)
    val dir = new java.io.File(new java.net.URI(first.inputFiles.head)).getParentFile
    try {
      assert(builds == 1)
      val parts = dir.listFiles().map(_.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length == 1, parts.mkString(", "))
      assert(second.inputFiles.toSeq == first.inputFiles.toSeq)
      assert(second.count() == 100)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
