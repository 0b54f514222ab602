package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** Schema-once table reads: the schema [[Tables.parquet]] hands back to
  * the reader is the one Spark infers — field names, types, nullability
  * and metadata — and a rewritten file is inferred again. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cached schema equals the inferred one, nullability and metadata included") {
    val names = new java.io.File(TestSpark.sf0001).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("documents") && names.contains("embeddings"))
    for (name <- names; _ <- 1 to 2) {
      val inferred = spark.read.parquet(s"${TestSpark.sf0001}/$name.parquet").schema
      val read = Tables.table(spark, TestSpark.sf0001, name).schema
      assert(read == inferred, s"$name: $read vs $inferred")
      assert(read.fields.map(f => (f.nullable, f.metadata)).toSeq ==
        inferred.fields.map(f => (f.nullable, f.metadata)).toSeq, name)
    }
  }

  test("a file rewritten in place is inferred again") {
    import spark.implicits._
    val dir = Scratch.path(s"tables_spec_${System.nanoTime()}")
    val file = Paths.get(dir, "t.parquet")
    def writeAs(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = s"$dir/out"
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    }
    writeAs(Seq((1L, "a")).toDF("id", "s"))
    assert(Tables.parquet(spark, file.toString).columns.toSeq == Seq("id", "s"))
    writeAs(Seq((1L, 2.0, "b", 3)).toDF("id", "x", "s", "n"))
    assert(Tables.parquet(spark, file.toString).columns.toSeq == Seq("id", "x", "s", "n"))
  }
}
