package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The S1 search-page fixture of `JsonFixtureSource.writeSearchPages`:
  * item coverage, the page-token chain, and the typed read agreeing
  * with a schema-inferred one. */
class SearchPagesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val orders = Tables.orders(spark, TestSpark.sf0001)
  private lazy val pages: String = {
    val p = graft.Scratch.path(s"graft_searchpages_${ProcessHandle.current().pid()}")
    JsonFixtureSource.writeSearchPages(spark, orders, p)
    p
  }
  /** One row per written page: its items' video ids and its token. */
  private lazy val raw: DataFrame = spark.read.json(pages)

  test("every order appears in exactly one page item") {
    val ids = raw.select(explode(col("items.id.videoId")).as("id")).as[String].collect()
    assert(ids.length == orders.count())
    assert(ids.toSet.size == ids.length)
    assert(ids.toSet == orders.select(col("o_orderkey").cast("string")).as[String].collect().toSet)
  }

  test("every non-final page points at tok_<page+1>; the last page has none") {
    val byPage = raw.select(col("items.id.videoId").as("ids"), col("nextPageToken"))
      .as[(Seq[String], Option[String])].collect()
      .map { case (ids, token) =>
        val nums = ids.map(_.toLong / 50).distinct
        assert(nums.size == 1, s"a page mixes page numbers: $nums")
        nums.head -> token
      }.sortBy(_._1)
    assert(byPage.length > 1)
    assert(byPage.map(_._1).distinct.length == byPage.length)
    for ((page, token) <- byPage.init) assert(token.contains(s"tok_${page + 1}"), page)
    assert(byPage.last._2.isEmpty)
  }

  test("the typed flatten returns the rows of a schema-inferred read") {
    val inferred = raw.select(explode(col("items")).as("item"))
      .select(
        col("item.id.videoId").as("video_id"),
        date_format(to_timestamp(col("item.snippet.publishedAt"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'"), "yyyy/MM/dd").as("date"),
        coalesce(col("item.snippet.title"), lit("")).as("video_title"),
        coalesce(col("item.snippet.description"), lit("")).as("video_description"))
    val typed = JsonFixtureSource.readAndFlattenSearch(spark, pages)
    assert(typed.schema == inferred.schema)
    assert(typed.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
  }
}
