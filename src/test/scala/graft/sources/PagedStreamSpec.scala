package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark

/** The paged-JSON DSV2 table's MicroBatchStream face: append-only page
  * log, offset = pages consumed, exactly-once across stop/restart
  * through the file-sink + offset-checkpoint pair. Pages are written by
  * hand here (not via the fixture writer) for full control over
  * `nextPageToken` staleness — the property that separates the strict
  * batch chain check from the lenient streaming one. */
class PagedStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(kind: String): String = {
    val p = graft.Scratch.path(s"paged_stream_spec_${kind}_" +
      s"${ProcessHandle.current().pid()}_${java.lang.System.nanoTime()}")
    Files.createDirectories(Paths.get(p))
    p
  }

  /** One page file: single JSON object, `part-`-prefixed, one item per
    * id; `token = null` writes NO nextPageToken field (the API shape
    * for a last-at-fetch-time page). */
  private def writePage(root: String, page: Long, token: String,
                        ids: Seq[Int]): Unit = {
    val dir = Paths.get(root, s"page=$page")
    Files.createDirectories(dir)
    val items = ids.map { i =>
      s"""{"id":{"videoId":"v$i"},"snippet":{"publishedAt":""" +
        s""""2020-01-01T00:00:0${i % 10}Z","title":"t$i","description":"d$i"}}"""
    }.mkString(",")
    val tok = if (token == null) "" else s""","nextPageToken":"$token""""
    Files.write(dir.resolve("part-00000.json"),
      s"""{"items":[$items]$tok}""".getBytes("UTF-8"))
  }

  private def runToParquet(src: String, out: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", src).load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("streaming drains the layout, then delivers appended pages exactly once") {
    val src = freshDir("src"); val out = freshDir("out"); val ckpt = freshDir("ckpt")
    writePage(src, 0, "tok_1", Seq(1, 2))
    writePage(src, 1, null, Seq(3))

    runToParquet(src, out, ckpt)
    val ids1 = spark.read.parquet(out).collect()
      .map(_.getAs[String]("video_id")).sorted.toSeq
    assert(ids1 == Seq("v1", "v2", "v3"))

    // Append page 2. Page 1's stored snapshot legitimately still
    // carries NO token (immutable fetch-time response) — the lenient
    // streaming chain check must accept it.
    writePage(src, 2, null, Seq(4, 5))
    runToParquet(src, out, ckpt)
    val ids2 = spark.read.parquet(out).collect()
      .map(_.getAs[String]("video_id")).sorted.toSeq
    assert(ids2 == Seq("v1", "v2", "v3", "v4", "v5"),
      "second run must deliver ONLY the appended page — no re-reads, no drops")

    // Restart with nothing new: the checkpointed offset replays zero pages.
    runToParquet(src, out, ckpt)
    assert(spark.read.parquet(out).count() == 5)
  }

  test("stale null token: streaming (lenient) reads what batch (strict) refuses") {
    val src = freshDir("stale")
    writePage(src, 0, null, Seq(1)) // stale: page 1 exists but 0 predates it
    writePage(src, 1, null, Seq(2))

    // batch chain check: page 0 must carry tok_1 — fails loudly
    val batch = intercept[Exception] {
      spark.read.format("graft.sources.PagedJsonSource")
        .option("path", src).load().collect()
    }
    def chainError(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("broken page chain"))
        || chainError(t.getCause))
    assert(chainError(batch))

    // streaming accepts the append-only interpretation
    val out = freshDir("stale_out"); val ckpt = freshDir("stale_ckpt")
    runToParquet(src, out, ckpt)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("maxPagesPerTrigger throttles a backfill into bounded micro-batches") {
    val src = freshDir("throttle")
    writePage(src, 0, "tok_1", Seq(1))
    writePage(src, 1, "tok_2", Seq(2))
    writePage(src, 2, null, Seq(3))
    val out = freshDir("throttle_out"); val ckpt = freshDir("throttle_ckpt")
    val q = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", src)
      .option("maxPagesPerTrigger", "1")
      .load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // all rows arrive, exactly once…
    assert(spark.read.parquet(out).collect()
      .map(_.getAs[String]("video_id")).sorted.toSeq == Seq("v1", "v2", "v3"))
    // …across one committed micro-batch PER PAGE (offsets 0,1,2)
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).sorted
    assert(batches.length == 3,
      s"expected 3 admission-controlled batches, got ${batches.mkString(",")}")
  }

  test("maxBytesPerTrigger prices pages from the listing — batches bounded by payload") {
    val src = freshDir("bytebudget")
    // page 0 small, page 1 small, page 2 large: a budget of
    // size(0)+size(1) admits pages {0,1} then {2} — two batches, with
    // the oversized page still admitted alone (min-one-page rule)
    writePage(src, 0, "tok_1", Seq(1))
    writePage(src, 1, "tok_2", Seq(2))
    writePage(src, 2, null, (3 to 40))
    def size(p: Int): Long =
      new java.io.File(s"$src/page=$p/part-00000.json").length()
    val out = freshDir("bytebudget_out"); val ckpt = freshDir("bytebudget_ckpt")
    val q = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", src)
      .option("maxBytesPerTrigger", (size(0) + size(1)).toString)
      .load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 40)
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).sorted
    assert(batches.length == 2,
      s"expected 2 byte-budgeted batches, got ${batches.mkString(",")}")
  }

  test("one metadata listing per run — planInputPartitions reuses the trigger's layout") {
    // Offset resolution and partition planning used to list the page
    // directory once EACH (two round-trips per trigger — real money at
    // a million-page mirror). The stream now caches the layout captured
    // at offset time; AvailableNow lists exactly once for the whole
    // run, however many admission-controlled batches it takes.
    val src = freshDir("listing")
    writePage(src, 0, "tok_1", Seq(1))
    writePage(src, 1, "tok_2", Seq(2))
    writePage(src, 2, null, Seq(3))
    val out = freshDir("listing_out"); val ckpt = freshDir("listing_ckpt")
    val before = PagedLayout.listings.get()
    val q = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", src)
      .option("maxPagesPerTrigger", "1")
      .load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val listings = PagedLayout.listings.get() - before
    assert(spark.read.parquet(out).count() == 3)
    assert(listings == 1,
      s"a 3-batch AvailableNow run should list the layout once, listed $listings")
  }

  test("a contradicting token still fails the streaming read") {
    val src = freshDir("bad")
    writePage(src, 0, "tok_9", Seq(1)) // points at a page that is not next
    writePage(src, 1, null, Seq(2))
    val out = freshDir("bad_out"); val ckpt = freshDir("bad_ckpt")
    val e = intercept[Exception] { runToParquet(src, out, ckpt) }
    def chainError(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("broken page chain"))
        || chainError(t.getCause))
    assert(chainError(e))
  }
}
