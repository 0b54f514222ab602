package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{JsonFixtureSource, PagedJsonSource}

/** The DataSource V2 paged-JSON provider: row parity with the table it
  * was generated from, source-side filtering, and loud failure on a
  * broken page chain (a silently dropped page would be data loss). */
class PagedSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def freshFixture(name: String): String = {
    val path = graft.Scratch.path(s"graft_pagedspec_${name}_" +
      ProcessHandle.current().pid())
    JsonFixtureSource.writeSearchPagesPartitioned(
      spark, Tables.orders(spark, d), path, keysPerPage = 500L)
    path
  }

  private def readPaged(path: String) =
    spark.read.format("graft.sources.PagedJsonSource").option("path", path).load()

  test("paged source returns every order exactly once, schema flattened") {
    val path = freshFixture("parity")
    val got = readPaged(path).select("video_id").collect().map(_.getString(0)).toSet
    val want = Tables.orders(spark, d)
      .select(col("o_orderkey").cast("string")).collect().map(_.getString(0)).toSet
    assert(got == want)
  }

  test("_file metadata column names each row's page file (parity with the CSV faces)") {
    val path = freshFixture("filecol")
    val rows = readPaged(path).select(col("video_id"), col("_file")).collect()
    assert(rows.nonEmpty)
    // every reported file is a real page part file under its page= dir
    assert(rows.forall(r => r.getString(1).contains("/page=") &&
      r.getString(1).contains("/part-")))
    // provenance is per-row correct: the ids attributed to one file are
    // exactly the ids a direct single-page read of that file yields
    val byFile = rows.groupBy(_.getString(1))
    assert(byFile.size > 1, "fixture should span multiple pages")
    // distinct pages partition the id space (no id in two pages)
    val all = rows.map(_.getString(0))
    assert(all.distinct.length == all.length)
    // pruning _file out keeps the plain read unchanged
    assert(readPaged(path).count() == rows.length.toLong)
    // pushed filters still work alongside the metadata column
    val bound = PagedJsonSource.PublishedAfter
    val filtered = readPaged(path)
      .filter(col("published_at") > bound).select("_file").collect()
    assert(filtered.length < rows.length)
  }

  test("pushed publishedAfter bound filters inside the source") {
    val path = freshFixture("filter")
    val bound = PagedJsonSource.PublishedAfter
    val got = readPaged(path).filter(col("published_at") > bound).count()
    val want = Tables.orders(spark, d)
      .filter(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'") > bound)
      .count()
    assert(got == want)
    assert(got > 0 && got < Tables.orders(spark, d).count(),
      "bound should be selective for the fixture data")
  }

  test("a broken nextPageToken chain fails loudly instead of dropping pages") {
    val path = freshFixture("broken")
    // Corrupt one middle page's token in place.
    val pageDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("page=")).sortBy(_.getName)
    assume(pageDirs.length >= 3, "need several pages to corrupt a middle one")
    val part = pageDirs(1).listFiles().filter(_.getName.startsWith("part-")).head
    val txt = new String(Files.readAllBytes(part.toPath), "UTF-8")
    assert(txt.contains("tok_"), "middle page should carry a token")
    Files.write(part.toPath,
      txt.replaceAll("\"nextPageToken\":\"tok_\\d+\"", "\"nextPageToken\":\"tok_999999\"")
        .getBytes("UTF-8"))
    // Drop the Hadoop LocalFS checksum sidecar — otherwise the CRC
    // mismatch fires before the reader's own chain validation.
    val crc = new java.io.File(pageDirs(1), s".${part.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    val e = intercept[Exception] { readPaged(path).count() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("broken page chain")),
      s"expected the broken-chain error, got: ${chain(e).mkString(" | ")}")
  }

  test("column pruning is pushed into the source (ReadSchema = projection)") {
    val path = freshFixture("prune")
    val df = readPaged(path).select("title")
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("title"),
      s"source should read only the projection, got ${scans.head.scan.readSchema()}")
    // values still correct under the pruned read
    val got = df.collect().map(_.getString(0)).sorted
    val want = Tables.orders(spark, d)
      .select(col("o_orderpriority")).collect().map(_.getString(0)).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("COUNT(*) is pushed into the source as per-page partial counts") {
    val path = freshFixture("countpush")
    val df = readPaged(path).groupBy().count()
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.getClass.getSimpleName == "PagedAggScan",
      s"expected the pushed-count scan, got ${scans.head.scan.description()}")
    assert(df.collect().head.getLong(0) == Tables.orders(spark, d).count())
    // composed with a pushed filter: the per-page counts respect it
    val bound = PagedJsonSource.PublishedAfter
    val filtered = readPaged(path).filter(col("published_at") > bound).groupBy().count()
    val fs = filtered.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(fs.head.scan.getClass.getSimpleName == "PagedAggScan")
    val want = Tables.orders(spark, d)
      .filter(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'") > bound)
      .count()
    assert(filtered.collect().head.getLong(0) == want)
    // a grouped aggregate is declined: the row scan plans instead
    val grouped = readPaged(path).groupBy("title").count()
    val gs = grouped.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(gs.head.scan.isInstanceOf[graft.sources.PagedScan])
  }

  test("MIN/MAX push as per-page partials alongside COUNT; unsupported shapes decline") {
    val path = freshFixture("minmaxpush")
    val bound = PagedJsonSource.PublishedAfter
    val df = readPaged(path).filter(col("published_at") > bound)
      .agg(count(lit(1)).as("n"), min("published_at").as("lo"),
        max("published_at").as("hi"), max("video_id").as("vmax"))
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val scan = scans.head.scan
    assert(scan.getClass.getSimpleName == "PagedAggScan",
      s"expected the pushed-aggregate scan, got ${scan.description()}")
    assert(scan.readSchema().fieldNames.toSeq ==
      Seq("count(*)", "min(published_at)", "max(published_at)", "max(video_id)"))
    // value parity with the parity table under the same filter
    val got = df.collect().head
    val want = Tables.orders(spark, d)
      .select(col("o_orderkey").cast("string").as("v"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("p"))
      .filter(col("p") > bound)
      .agg(count(lit(1)), min("p"), max("p"), max("v")).collect().head
    assert(got.toSeq == want.toSeq)
    // sum/avg (not implemented) and grouped aggregates fall back to the row scan
    Seq(readPaged(path).agg(sum(length(col("title")))),
        readPaged(path).groupBy("title").agg(max("published_at"))).foreach { q =>
      val s = q.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(s.head.scan.isInstanceOf[graft.sources.PagedScan],
        s"unsupported aggregate should decline; got ${s.head.scan.description()}")
    }
  }

  test("reported size statistics make the small API mirror broadcastable") {
    val path = freshFixture("stats")
    // the scan reports the real on-disk page bytes
    val df = readPaged(path)
    val scan = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.asInstanceOf[graft.sources.PagedScan]
    val want = new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("page="))
      .flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
      .map(_.length()).sum
    assert(scan.estimateStatistics().sizeInBytes().getAsLong == want)
    assert(want > 0)
    // and Catalyst actually picks a broadcast join for it (a stats-less
    // DSV2 relation defaults to defaultSizeInBytes = never broadcast)
    val big = Tables.orders(spark, d)
      .select(col("o_orderkey").cast("string").as("video_id"), col("o_totalprice"))
    val joined = big.join(df, Seq("video_id"))
    val bhj = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "expected the paged side to broadcast:\n" +
      joined.queryExecution.sparkPlan.toString)
  }

  test("runtime key-set filtering drops non-matching items inside the reader") {
    val path = freshFixture("runtime")
    val keys = Tables.orders(spark, d).select(col("o_orderkey").cast("string"))
      .limit(5).collect().map(_.getString(0)).toSet
    val scan = new graft.sources.PagedScan(path, Array.empty)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("video_id", keys.toArray[Any])))
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    val got = scala.collection.mutable.Set[String]()
    parts.foreach { p =>
      val r = factory.createReader(p)
      try while (r.next()) got += r.get().getUTF8String(0).toString
      finally r.close()
    }
    assert(got == keys, s"reader must emit exactly the runtime key set; got ${got.size}")
    // a second filter call intersects (Spark may pass several)
    val scan2 = new graft.sources.PagedScan(path, Array.empty)
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("video_id", keys.toArray[Any]),
      org.apache.spark.sql.sources.EqualTo("video_id", keys.head)))
    val f2 = scan2.createReaderFactory()
    val got2 = scala.collection.mutable.Set[String]()
    scan2.planInputPartitions().foreach { p =>
      val r = f2.createReader(p)
      try while (r.next()) got2 += r.get().getUTF8String(0).toString
      finally r.close()
    }
    assert(got2 == Set(keys.head))
  }

  private def v2Scan(df: org.apache.spark.sql.DataFrame): graft.sources.PagedScan =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.asInstanceOf[graft.sources.PagedScan]

  /** Executes `run` and returns the summed value of one DSV2 custom
    * metric from the SQL status store for the executions it produced —
    * the UI-facing wiring, not the task-level values (those have their
    * own test). The store names a custom metric by its DESCRIPTION and
    * types it `v2Custom_<class>`; it is fed by an async listener, so
    * poll briefly. */
  private def executedMetric(metricClass: String)(run: => Unit): Long = {
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).toSet
    run
    val deadline = java.lang.System.currentTimeMillis() + 30000
    while (java.lang.System.currentTimeMillis() < deadline) {
      val vals = store.executionsList()
        .filter(e => !before.contains(e.executionId) &&
          e.physicalPlanDescription.contains("GraftPagedJson"))
        .flatMap { e =>
          val live = store.executionMetrics(e.executionId)
          e.metrics.filter(_.metricType == s"v2Custom_graft.sources.$metricClass")
            .flatMap(m => live.get(m.accumulatorId))
        }
      if (vals.nonEmpty) return vals.map(_.trim.toLong).sum
      Thread.sleep(100)
    }
    fail(s"custom metric $metricClass never reported to the SQL status store")
  }

  test("pushed LIMIT caps each partition and incremental take opens ONE page") {
    val path = freshFixture("limitpush")
    val df = readPaged(path).limit(7)
    assert(v2Scan(df).pushedLimit.contains(7), "LIMIT was not pushed into the scan")
    // partial-pushdown correctness: exactly 7 rows survive the global limit
    var rows: Long = -1
    val pages = executedMetric("PagesReadMetric") { rows = df.collect().length.toLong }
    assert(rows == 7)
    // CollectLimit's incremental take (initialNumPartitions=1) + the
    // reader's early stop: one 500-item page serves a LIMIT 7 — the
    // other pages of the mirror are never opened.
    assert(pages == 1, s"LIMIT 7 should open one page, opened $pages")
  }

  test("pushed TopN: each page returns its own top-n; union contains the global top-n") {
    val path = freshFixture("topnpush")
    val n = 9
    val df = readPaged(path)
      .orderBy(col("published_at").desc, col("video_id"))
      .limit(n)
    val scan = v2Scan(df)
    assert(scan.pushedTopN.isDefined, "ORDER BY+LIMIT was not pushed as TopN")
    val (keys, pushedN) = scan.pushedTopN.get
    assert(pushedN == n)
    assert(keys.map(k => (k.field, k.asc)).toSeq ==
      Seq(("published_at", false), ("video_id", true)))
    // the finishing operator is the bounded TakeOrderedAndProject, not a
    // full global sort
    assert(df.queryExecution.sparkPlan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "expected TakeOrderedAndProject above the partial TopN scan")
    // value parity with the un-pushed ordering over the parity table
    val got = df.collect().map(r => (r.getString(1), r.getString(0))).toSeq
    val want = Tables.orders(spark, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("p"),
        col("o_orderkey").cast("string").as("v"))
      .orderBy(col("p").desc, col("v"))
      .limit(n).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == want)
    // per-partition bound: no reader emits more than n rows
    val factory = scan.createReaderFactory()
    scan.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      var c = 0
      try while (r.next()) c += 1 finally r.close()
      assert(c <= n, s"partition emitted $c rows > pushed n=$n")
    }
  }

  test("TopN over a computed key is declined — Spark evaluates it, values unchanged") {
    val path = freshFixture("topndecline")
    val df = readPaged(path).orderBy(length(col("title")), col("video_id")).limit(5)
    assert(v2Scan(df).pushedTopN.isEmpty,
      "a computed sort key must not be claimed by the source")
    val got = df.collect().map(_.getString(0)).toSeq
    val want = Tables.orders(spark, d)
      .select(col("o_orderkey").cast("string").as("v"), col("o_orderpriority").as("t"))
      .orderBy(length(col("t")), col("v")).limit(5)
      .collect().map(_.getString(0)).toSeq
    assert(got == want)
  }

  test("custom metrics reach the SQL status store under a pushed-filter scan") {
    val path = freshFixture("uimetrics")
    val bound = PagedJsonSource.PublishedAfter
    var rows = 0L
    val dropped = executedMetric("ItemsFilteredMetric") {
      rows = readPaged(path).filter(col("published_at") > bound).collect().length.toLong
    }
    val total = Tables.orders(spark, d).count()
    assert(rows > 0 && rows < total)
    assert(dropped == total - rows,
      s"store-reported itemsFiltered=$dropped, expected ${total - rows}")
  }

  test("custom metrics report parse/filter work per reader") {
    val path = freshFixture("metrics")
    val scan = new graft.sources.PagedScan(path,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThan(
          "published_at", PagedJsonSource.PublishedAfter)))
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ==
      Set("pagesRead", "itemsParsed", "itemsFiltered"))
    val factory = scan.createReaderFactory()
    var (pages, parsed, filtered, emitted) = (0L, 0L, 0L, 0L)
    scan.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      try {
        while (r.next()) emitted += 1
        val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
        pages += m("pagesRead"); parsed += m("itemsParsed")
        filtered += m("itemsFiltered")
      } finally r.close()
    }
    assert(pages == scan.planInputPartitions().length.toLong)
    assert(parsed == Tables.orders(spark, d).count())
    assert(filtered > 0 && parsed == filtered + emitted,
      s"parsed=$parsed filtered=$filtered emitted=$emitted must balance")
  }
}
