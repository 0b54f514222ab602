package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's ingest surface (SURVEY.md §2.1 S1–S5) re-expressed
  * sandbox-side: the YouTube API is unreachable, so the *same nested
  * page shape* (`{items: [{id, snippet}], nextPageToken}`) is built from
  * the test tables, written as JSON, and read back through the real
  * `spark.read.json` + explode + dot-path flatten path. The flattening
  * code is exactly what a live paginated-REST source would feed.
  *
  * Reference shapes: search pages `04_Airflow_Dag/
  * thehoxtontrend_full_pipeline_final.py:135-159` flattened at
  * `:173-178`; commentThreads pages `:231-265` flattened with the
  * reply-depth union at `:286-303`; S5 whole-object read `:129-133`.
  */
object JsonFixtureSource {

  /** Data-sized partition count for the page-assembly shuffle (the
    * Graph.pageRank partition discipline, round-7 verdict #2): the
    * `groupBy(page).agg(collect_list)` fixture build otherwise inherits
    * the session's 32 shuffle partitions, and at sf0.1 (~3 000 pages)
    * that is 32 near-empty collect_list tasks + 32 tiny JSON files per
    * write — the scheduling overhead that AMPLIFIES under a contended
    * suite JVM (driver 10.8 s vs 3.4 s isolated on q_pipeline_e2e).
    * Target ~256 pages (≈ 12 800 items) per task, clamped to the
    * session cap so a cluster-scale corpus still fans out. `rows` is
    * the caller's count of the keyed input. */
  private def pageParts(spark: SparkSession, rows: Long, keysPerPage: Long): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions.toLong
    val nPages = rows / keysPerPage + 1L
    math.max(1L, math.min(cap, nPages / 256L + 1L)).toInt
  }

  /** The S1 page shape [[writeSearchPages]] writes, stated once for the
    * typed read in [[readAndFlattenSearch]]. */
  private val SearchPageSchema = StructType.fromDDL(
    "items ARRAY<STRUCT<id: STRUCT<videoId: STRING>, " +
      "snippet: STRUCT<publishedAt: STRING, title: STRING, description: STRING>>>, " +
      "nextPageToken STRING")

  /** S1-shaped pages: orders become "videos" — pages of 50 items, each
    * item `{id: {videoId}, snippet: {publishedAt, title, description}}`,
    * with a nextPageToken on every non-final page. */
  def writeSearchPages(spark: SparkSession, orders: DataFrame, path: String): Unit = {
    val items = orders.select(
      (col("o_orderkey") / 50).cast("long").as("page"),
      struct(
        struct(col("o_orderkey").cast("string").as("videoId")).as("id"),
        struct(
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("publishedAt"),
          col("o_orderpriority").as("title"),
          col("o_orderstatus").as("description")).as("snippet")).as("item"))
    // One aggregate action sizes the shuffle and finds the last page;
    // the last page number enters the token rule as a literal (a global
    // window would funnel every row through one task).
    val sizes = items.agg(count(lit(1)), max(col("page"))).head()
    val lastPage = if (sizes.isNullAt(1)) -1L else sizes.getLong(1)
    // Pre-partition on the group key at the data-sized count: groupBy
    // reuses the hash partitioning (no second exchange), and the agg +
    // JSON write run as pageParts tasks instead of 32 near-empty ones.
    val pages = items
      .repartition(pageParts(spark, sizes.getLong(0), 50L), col("page"))
      .groupBy("page")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .withColumn("nextPageToken",
        when(col("page") < lit(lastPage), concat(lit("tok_"), col("page") + 1)))
    pages.select("items", "nextPageToken")
      .write.mode("overwrite").json(path)
  }

  /** S1/P1/J2/F5 — read the pages back and flatten to one row per video
    * with the reference's null-safe dot-path projection and day
    * truncation. */
  def readAndFlattenSearch(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(SearchPageSchema).json(path)
      .select(explode(col("items")).as("item"))
      .select(
        col("item.id.videoId").as("video_id"),
        date_format(to_timestamp(col("item.snippet.publishedAt"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'"), "yyyy/MM/dd").as("date"),
        coalesce(col("item.snippet.title"), lit("")).as("video_title"),
        coalesce(col("item.snippet.description"), lit("")).as("video_description"))

  /** The same S1 page shape, laid out for [[PagedJsonSource]]: one
    * `page=N` directory per page, each holding ONE JSON object
    * (`{items, nextPageToken}` — the page payload exactly as the API
    * returns it; `partitionBy` pulls the page number into the path).
    * `nextPageToken` points at the next EXISTING page via `lead()`, so
    * the chain never dangles across sparse orderkey ranges. (The
    * unpartitioned lead window runs one row per PAGE through a single
    * reducer — fixture setup, bounded, not a benched query plan.) */
  def writeSearchPagesPartitioned(spark: SparkSession, orders: DataFrame,
                                  path: String, keysPerPage: Long = 2000L): Unit = {
    val items = orders.select(
      (col("o_orderkey") / keysPerPage).cast("long").as("page"),
      struct(
        struct(col("o_orderkey").cast("string").as("videoId")).as("id"),
        struct(
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("publishedAt"),
          col("o_orderpriority").as("title"),
          col("o_orderstatus").as("description")).as("snippet")).as("item"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("page")
    val pages = items.groupBy("page")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .withColumn("nextPageToken",
        when(lead(col("page"), 1).over(w).isNotNull,
          concat(lit("tok_"), lead(col("page"), 1).over(w))))
    pages.select("page", "items", "nextPageToken")
      .repartition(1)
      .write.mode("overwrite").partitionBy("page").json(path)
  }

  /** S2-shaped commentThreads pages: orders are top-level comments,
    * their lineitems are replies. Orders with no lineitems get NO
    * `replies` field (like the API) — the flatten must null-guard.
    * Page shape: `{items: [{snippet: {topLevelComment: {snippet: {…}}},
    * replies: {comments: [{snippet: {…}}]}}]}`. */
  def writeCommentThreadPages(spark: SparkSession, orders: DataFrame,
                              lineitem: DataFrame, path: String): Unit = {
    val replySnippet = struct(
      col("l_returnflag").as("textOriginal"),
      date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("publishedAt"),
      col("l_orderkey").cast("string").as("videoId"),
      col("l_linestatus").as("authorDisplayName"),
      col("l_linenumber").cast("long").as("likeCount"))
    val replies = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(replySnippet.as("snippet")))).as("comments"))
    val threads = orders
      .join(replies, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        (col("o_orderkey") / 50).cast("long").as("page"),
        struct(
          struct( // items[].snippet.topLevelComment.snippet — ref shape
            struct(struct(
              col("o_orderpriority").as("textOriginal"),
              date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("publishedAt"),
              col("o_orderkey").cast("string").as("videoId"),
              col("o_orderstatus").as("authorDisplayName"),
              (col("o_orderkey") % 100).as("likeCount")).as("snippet"))
              .as("topLevelComment")).as("snippet"),
          when(col("comments").isNotNull,
            struct(col("comments").as("comments"))).as("replies")).as("item"))
    threads
      .repartition(pageParts(spark, orders.count(), 50L), col("page"))
      .groupBy("page")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .select("items")
      .write.mode("overwrite").json(path)
  }

  /** S2/J3/W2 — flatten the thread pages: top-level comments (flag 0)
    * unioned with exploded replies (flag 1), null-guarding threads
    * without a `replies` field (P4). */
  def readAndFlattenCommentThreads(spark: SparkSession, path: String): DataFrame = {
    val items = spark.read.json(path)
      .select(explode(col("items")).as("item"))
    def project(snippet: org.apache.spark.sql.Column, flag: Int) = Seq(
      snippet.getField("videoId").as("video_id"),
      date_format(to_timestamp(snippet.getField("publishedAt"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'"), "yyyy/MM/dd").as("date"),
      snippet.getField("textOriginal").as("comment"),
      snippet.getField("authorDisplayName").as("author"),
      snippet.getField("likeCount").cast("long").as("likes"),
      lit(flag.toLong).as("reply_flag"))
    val parents = items.select(
      project(col("item.snippet.topLevelComment.snippet"), 0): _*)
    val children = items
      .filter(col("item.replies").isNotNull)
      .select(explode(col("item.replies.comments")).as("c"))
      .select(project(col("c.snippet"), 1): _*)
    parents.unionByName(children)
  }

  /** S5 — whole-object text read (the reference reads its API key this
    * way): write one value per line, read with spark.read.text. */
  def writeTextObject(df: DataFrame, textCol: String, path: String): Unit =
    df.select(col(textCol)).write.mode("overwrite").text(path)

  def readTextObject(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
}
