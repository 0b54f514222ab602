package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Num, RmseAggregator}
import graft.operators.Regression
import graft.streaming.StreamOps

/** Source/sink round trips (SURVEY.md §2.1–2.2), the UDAF surface
  * (§2.12), and the batch face of the streaming ops. Round-trip queries
  * prove the sink+source pair is lossless by aggregating the read-back
  * data and hash-matching an oracle computed directly on the original
  * parquet.
  */
object SinksPack {
  type Q = (SparkSession, String) => DataFrame

  // Under the JVM's own scratch root, so two JVMs on the same scale
  // factor (sbt test alongside Verify/Bench) never race on the same
  // overwrite-write + read-back dirs, and nothing outlives the JVM.
  private[packs] def tmpPath(kind: String, d: String): String =
    graft.Scratch.path(s"${kind}_${d.replaceAll("[^A-Za-z0-9]", "_")}")

  /** Once-per-JVM fixture writes: a query's *setup* I/O (writing the
    * nested-JSON fixture, bucketed tables) runs at most once per process,
    * so a prewarmed Bench times the read/flatten path, not fixture
    * creation. Safe because tmpPath/table targets are JVM-unique and the
    * written content is deterministic in (kind, sfDir). NOT used where
    * re-execution is the semantics under test (e.g. k3's append). */
  private val fixtureDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Records per JSONL export shard (shared with the oracle's
    * ceil(n/shard) expectation). */
  private val JsonlShardRows = 5000L
  private[packs] def ensureFixture(key: String)(write: => Unit): Unit =
    if (!fixtureDone.contains(key)) fixtureDone.synchronized {
      if (!fixtureDone.contains(key)) { write; fixtureDone.add(key) }
    }

  /** Registers the `graftw` [[graft.sources.GraftCatalog]] over this
    * scale factor's warehouse dir; returns (catalog name, warehouse dir).
    * Each catalog query keys its once-per-JVM fixture on the dir. */
  private def graftCatalog(s: SparkSession, d: String): (String, String) = {
    val (cat, wh) = ("graftw", tmpPath("catalog_wh", d))
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** Spark SQL for the lineitem (month, returnflag) rows the catalog
    * fixtures load: `m`, `rf`, `n_items` and, with `qty`, the dsum'd
    * `sum_qty`, over the rows of temp view `view` matching `where`. */
  private def monthFlagRowsSql(view: String, where: String = "true",
                               qty: Boolean = false): String =
    "SELECT date_format(l_shipdate, 'yyyy-MM') AS m, l_returnflag AS rf, " +
      "count(*) AS n_items" + (if (qty) s", ${Num.dsumSql("l_quantity")} AS sum_qty" else "") +
      s" FROM $view WHERE $where GROUP BY 1, 2"

  /** The versioned, bucket(16, c) per-customer order aggregate
    * `wh.cust_orders`, loaded once per JVM; returns [[graftCatalog]]'s
    * (catalog, warehouse dir). */
  private def custOrdersTable(s: SparkSession, d: String): (String, String) = {
    val (cat, wh) = graftCatalog(s, d)
    ensureFixture(s"$wh#bucketed") {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.cust_orders " +
        "(c BIGINT, n_orders BIGINT, revenue DOUBLE) " +
        "PARTITIONED BY (bucket(16, c)) TBLPROPERTIES('versioned'='true')")
      Tables.orders(s, d).createOrReplaceTempView("graft_cat_ord_bkt")
      s.sql(s"""INSERT INTO $cat.wh.cust_orders
        SELECT o_custkey, count(*), ${Num.dsumSql("o_totalprice")}
        FROM graft_cat_ord_bkt GROUP BY 1""")
    }
    (cat, wh)
  }

  /** The versioned `wh.li_mv` source of the changefeed-MV queries,
    * written once per JVM: v1 the full (m, rf) load; v2 a COW UPDATE —
    * every file holding an R row emits its pre-image as deletes and its
    * post-image as inserts; v3 a metadata DELETE — pure retractions.
    * Returns the catalog name. */
  private def mvSourceTable(s: SparkSession, d: String): String = {
    val (cat, wh) = graftCatalog(s, d)
    ensureFixture(s"$wh#mv") {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_mv " +
        "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
        "TBLPROPERTIES('versioned'='true')")
      Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_mv")
      s.sql(s"INSERT INTO $cat.wh.li_mv " + monthFlagRowsSql("graft_cat_li_mv"))
      s.sql(s"UPDATE $cat.wh.li_mv SET n_items = n_items * 10 WHERE rf = 'R'")
      s.sql(s"DELETE FROM $cat.wh.li_mv WHERE m >= '1995-01' AND m <= '1995-12'")
    }
    cat
  }

  /** The token-chained search-page fixture the paged-source queries
    * read, written once per JVM; returns its path. */
  private def pagedFixture(s: SparkSession, d: String): String = {
    val path = tmpPath("paged_src", d)
    ensureFixture(path) {
      graft.sources.JsonFixtureSource.writeSearchPagesPartitioned(
        s, Tables.orders(s, d), path)
    }
    path
  }

  /** The paged source over [[pagedFixture]], publishedAfter predicate
    * applied (pushed into the source). */
  private def pagedSource(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.PagedJsonSource")
      .option("path", pagedFixture(s, d)).load()
      .filter(col("published_at") > graft.sources.PagedJsonSource.PublishedAfter)

  /** Nested commentThreads JSON fixture; returns its path. */
  private def threadsFixture(s: SparkSession, d: String): String = {
    val path = tmpPath("threads", d)
    ensureFixture(path) {
      graft.sources.JsonFixtureSource.writeCommentThreadPages(
        s, Tables.orders(s, d), Tables.lineitem(s, d), path)
    }
    path
  }

  /** Pre-bucketed orders/lineitem catalog tables (8 buckets on the join
    * key); returns (ordersTable, lineitemTable). */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val (ot, lt) = ("graft_bkt_orders", "graft_bkt_lineitem")
    ensureFixture(s"bkt_$d") {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    }
    (ot, lt)
  }

  val queries: Map[String, Q] = Map(
    // K1 at STREAMING cadence through the NATIVE StreamingWrite face of
    // the DSV2 CSV sink (no foreachBatch): the events feed drains under
    // Trigger.AvailableNow into epoch-stamped files, read back through
    // the sink's own reader, and the aggregate hash-matches an oracle
    // computed on the original parquet — the whole streaming
    // write→commit→read path is inside the gate. Aggregates are
    // order-independent (count / long sum / min / max), so the
    // micro-batch file layout can never leak into the hash.
    "q_st_csv_sink" -> { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
        StructField, StructType}
      // Stable pid-unique paths, wiped per run (the suite convention):
      // each invocation re-drains from a fresh checkpoint, so Bench's
      // x3 runs don't accumulate dirs — and the write path is fully
      // re-exercised every time.
      val out = tmpPath("csv_stream", d)
      val ckpt = tmpPath("csv_stream_ckpt", d)
      Seq(out, ckpt).foreach { dir =>
        val hp = new org.apache.hadoop.fs.Path(dir)
        val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(hp, true)
      }
      val src = StreamOps.eventsStream(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val q = src.writeStream.format("graft.sources.GraftCsvSink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("graft.sources.GraftCsvSink")
        .schema(StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType))))
        .option("path", out).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))
        .orderBy("event_type")
    },
    // K1/S6 — `;`-CSV with quoted embedded newlines, written then read
    // back with multiLine=true (the reference's S3 CSV shape).
    "q_s6_csv_roundtrip" -> { (s, d) =>
      val dirty = Tables.part(s, d).select(
        col("p_partkey"), col("p_brand"),
        concat(col("p_name"), lit("\n"), col("p_type")).as("dirty"))
      val path = tmpPath("csv", d)
      dirty.write.mode("overwrite")
        .option("sep", ";").option("header", "true").csv(path)
      s.read
        .option("sep", ";").option("header", "true").option("multiLine", "true")
        .csv(path)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(length(col("dirty"))).cast("long").as("sum_len"))
        .orderBy("p_brand")
    },

    // K1 through the ENGINE-SURFACE sink: same dirty payload as q_s6,
    // written by the custom DSv2 GraftCsvSink (two-phase task commit,
    // truncate-on-overwrite, RFC-4180 `;` quoting) and read back by the
    // stock S6 reader — proving the sink's envelope is byte-compatible.
    // Written twice (the second run exercises truncate idempotence; the
    // aggregate would double if overwrite ever appended).
    "q_k_dsv2_csv" -> { (s, d) =>
      val dirty = Tables.part(s, d).select(
        col("p_partkey"), col("p_brand"),
        concat(col("p_name"), lit("\n"), col("p_type")).as("dirty"))
      val path = tmpPath("dsv2csv", d)
      // clusterBy: the sink DEMANDS engine-side clustering on the key
      // (RequiresDistributionAndOrdering) — each p_brand lands whole in
      // one file, the K1 date-stamped-write contract at scale. Results
      // are layout-independent, so the oracle is unchanged; the
      // file-level grouping guarantee is pinned in CsvSinkSpec.
      dirty.write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", path)
        .option("clusterBy", "p_brand").save()
      dirty.write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", path)
        .option("clusterBy", "p_brand").save()
      // Read BACK through the same DSV2 provider (typed schema; the
      // scan prunes to the two referenced columns) — the full
      // write-commit-read cycle stays inside the custom table. The
      // built-in `sep=';' multiLine` reader round-trip of this dialect
      // is separately pinned byte-for-byte in GoldenParitySpec.
      s.read
        .schema("p_partkey LONG, p_brand STRING, dirty STRING")
        .format("graft.sources.GraftCsvSink").option("path", path).load()
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(length(col("dirty"))).cast("long").as("sum_len"))
        .orderBy("p_brand")
    },

    // The FILTERED twin of q_k_dsv2_csv: an equality + range predicate
    // pushed INTO the custom reader (SupportsPushDownFilters) — rows
    // are dropped pre-materialization and no residual Spark filter
    // survives (PlanHygieneSpec pins the plan; this query pins the
    // values). Note p_partkey is pruned from the output, so the reader
    // parses it for evaluation only.
    "q_k_dsv2_csv_filtered" -> { (s, d) =>
      val dirty = Tables.part(s, d).select(
        col("p_partkey"), col("p_brand"),
        concat(col("p_name"), lit("\n"), col("p_type")).as("dirty"))
      val path = tmpPath("dsv2csvf", d)
      ensureFixture(path) {
        dirty.write.format("graft.sources.GraftCsvSink")
          .mode("overwrite").option("path", path).save()
      }
      s.read
        .schema("p_partkey LONG, p_brand STRING, dirty STRING")
        .format("graft.sources.GraftCsvSink").option("path", path).load()
        .filter(col("p_partkey") % 2 === 0 || col("p_partkey") <= 100) // residual (unsupported shape)
        .filter(col("p_brand") >= "Brand#3" && col("p_partkey") <= 1500) // pushed
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(length(col("dirty"))).cast("long").as("sum_len"))
        .orderBy("p_brand")
    },

    // K1's layout contract as a full ENGINE surface: hive-style
    // partitioned write (`partitionedBy=m` — the sink demands
    // clustering+ordering on the key and splits each task's sorted run
    // into one file per key under `m=<value>/`), then a read through
    // the KEY-GROUPED scan with a key-range predicate handled at
    // PLANNING time: pruned months are never listed for files, let
    // alone parsed (PartitionedCsvSpec pins the planned-partition
    // count). The 100 TB shape: partition pruning is the difference
    // between scanning a month and scanning a decade.
    "q_k_partitioned_table" -> { (s, d) =>
      val path = tmpPath("csvpart", d)
      ensureFixture(path) {
        Tables.lineitem(s, d)
          .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"),
            col("l_returnflag").as("rf"), col("l_quantity"))
          .groupBy("m", "rf")
          .agg(count(lit(1)).as("n_items"), Num.dsum(col("l_quantity")).as("sum_qty"))
          .write.format("graft.sources.GraftCsvSink")
          .mode("overwrite").option("path", path).option("partitionedBy", "m").save()
      }
      s.read.schema("m STRING, rf STRING, n_items LONG, sum_qty DOUBLE")
        .format("graft.sources.GraftCsvSink").option("path", path).load()
        .filter(col("m") >= "1996-01" && col("m") <= "1996-12")
        .orderBy("m", "rf")
    },

    // STORAGE-PARTITIONED JOIN (SPARK-37377 semantics on the graft
    // sources): two metric tables written `partitionedBy` the same
    // grain key, joined WITH ZERO EXCHANGE AND ZERO SORT — each scan
    // reports KeyGroupedPartitioning + per-partition key ordering, and
    // the engine aligns partitions instead of shuffling
    // (PlanHygieneSpec pins the plan; this query pins the values).
    // The 100 TB economics: the clustering shuffle is paid ONCE at
    // write time; every downstream join on the grain key is
    // exchange-free forever — DSV2-native bucketing without a Hive
    // metastore.
    "q_x_spj_join" -> { (s, d) =>
      val pa = tmpPath("spjA", d)
      val pb = tmpPath("spjB", d)
      ensureFixture(pa) {
        Tables.orders(s, d)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
            col("o_totalprice"))
          .groupBy("m")
          .agg(count(lit(1)).as("n_orders"), Num.dsum(col("o_totalprice")).as("revenue"))
          .write.format("graft.sources.GraftCsvSink")
          .mode("overwrite").option("path", pa).option("partitionedBy", "m").save()
      }
      ensureFixture(pb) {
        Tables.lineitem(s, d)
          .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"),
            col("l_quantity"))
          .groupBy("m")
          .agg(count(lit(1)).as("n_items"), Num.dsum(col("l_quantity")).as("sum_qty"))
          .write.format("graft.sources.GraftCsvSink")
          .mode("overwrite").option("path", pb).option("partitionedBy", "m").save()
      }
      val a = s.read.schema("m STRING, n_orders LONG, revenue DOUBLE")
        .format("graft.sources.GraftCsvSink").option("path", pa).load()
      val b = s.read.schema("m STRING, n_items LONG, sum_qty DOUBLE")
        .format("graft.sources.GraftCsvSink").option("path", pb).load()
      a.hint("merge").join(b, "m")
        .select(col("m"), col("n_orders"), col("revenue"),
          col("n_items"), col("sum_qty"))
        .orderBy("m")
    },

    // The CATALOG face, pure SQL end to end (graft.sources.GraftCatalog,
    // a DSV2 TableCatalog over the same storage engine): CREATE
    // NAMESPACE / CREATE TABLE … PARTITIONED BY / two INSERT INTOs
    // (catalog APPEND semantics — per-write-tagged file names, disjoint
    // group slices) / SELECT with a key-range predicate (planning-time
    // directory pruning). A user who only speaks SQL gets the whole
    // round-13 surface — clustering-on-write, pruning, SPJ — with no
    // DataFrame code.
    "q_k_catalog_sql" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(wh) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_metrics " +
          "(m STRING, rf STRING, n_items BIGINT, sum_qty DOUBLE) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li")
        // two appends over disjoint group slices — their union IS the
        // full (m, rf) aggregate the oracle replays
        s.sql(s"INSERT INTO $cat.wh.li_metrics " +
          monthFlagRowsSql("graft_cat_li", "l_returnflag = 'R'", qty = true))
        s.sql(s"INSERT INTO $cat.wh.li_metrics " +
          monthFlagRowsSql("graft_cat_li", "l_returnflag <> 'R'", qty = true))
      }
      s.sql(s"""SELECT m, rf, n_items, sum_qty FROM $cat.wh.li_metrics
        WHERE m >= '1995-01' AND m <= '1995-12' ORDER BY m, rf""")
    },

    // Compound partition keys (r14): PARTITIONED BY (m, rf) writes the
    // nested `m=…/rf=…/` hive layout — clustering on BOTH keys at
    // write, KeyGroupedPartitioning over both identity transforms at
    // read (compound-key SPJ, plan-pinned in GraftCatalogSpec/
    // PartitionedCsvSpec), and directory pruning on ANY key subset:
    // this SELECT prunes on the month PREFIX and the rf SUFFIX at once.
    "q_k_partitioned_multi" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#multi") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_multi " +
          "(m STRING, rf STRING, n_items BIGINT, sum_qty DOUBLE) " +
          "PARTITIONED BY (m, rf)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_multi")
        s.sql(s"INSERT OVERWRITE $cat.wh.li_multi " +
          monthFlagRowsSql("graft_cat_li_multi", qty = true))
      }
      s.sql(s"""SELECT m, rf, n_items, sum_qty FROM $cat.wh.li_multi
        WHERE m >= '1996-01' AND m <= '1996-12' AND rf <> 'N'
        ORDER BY m, rf""")
    },

    // Catalog DML face 1 — DELETE FROM (SupportsDelete, r14): key-only
    // predicates drop whole `m=…/` directories as a METADATA op (the
    // retention/correction DML a daily-reloaded warehouse runs);
    // surviving directories are never listed, let alone rewritten
    // (GraftCatalogSpec pins the mtime invariance). The gate: survivors
    // hash-match the oracle's complement aggregate.
    "q_k_catalog_delete" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#del") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_del " +
          "(m STRING, rf STRING, n_items BIGINT, sum_qty DOUBLE) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_del")
        s.sql(s"INSERT OVERWRITE $cat.wh.li_del " +
          monthFlagRowsSql("graft_cat_li_del", qty = true))
        // a whole retention year goes — directory deletes only
        s.sql(s"DELETE FROM $cat.wh.li_del WHERE m >= '1995-01' AND m <= '1995-12'")
      }
      s.sql(s"SELECT m, rf, n_items, sum_qty FROM $cat.wh.li_del ORDER BY m, rf")
    },

    // Zone-map data skipping (r14): `TBLPROPERTIES('write.orderBy'='d')`
    // makes every INSERT demand a GLOBAL ordered distribution — range-
    // partitioned, in-file-sorted part files whose per-file min/max
    // zones (written into the `_zones` sidecar at commit) are DISJOINT.
    // The date-sliced read then opens ONLY the files whose zone range
    // intersects the predicate — planning-time file skipping on a
    // NON-partition column, the ORC/Iceberg data-skipping story on the
    // graft engine (ZoneMapSpec pins the skip count; this query pins
    // the values). The reference's serving layer reads bounded date
    // windows of the warehouse, never whole tables (…final.py:137).
    "q_k_zone_skip" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#zones") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        // sortBuckets pins the layout: 16 range-partitioned files at
        // every scale factor, so the date slice opens ~2 of them
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.ord_daily " +
          "(d STRING, n_orders BIGINT, revenue DOUBLE) " +
          "TBLPROPERTIES('write.orderBy'='d', 'write.sortBuckets'='16')")
        Tables.orders(s, d).createOrReplaceTempView("graft_cat_ord_zone")
        s.sql(s"""INSERT INTO $cat.wh.ord_daily
          SELECT date_format(o_orderdate, 'yyyy-MM-dd'), count(*),
                 ${Num.dsumSql("o_totalprice")}
          FROM graft_cat_ord_zone GROUP BY 1""")
      }
      s.sql(s"""SELECT d, n_orders, revenue FROM $cat.wh.ord_daily
        WHERE d >= '1996-03-01' AND d <= '1996-05-31' ORDER BY d""")
    },

    // Versioned tables + time travel (r14): TBLPROPERTIES('versioned'=
    // 'true') makes every commit append a _graft_log manifest (the
    // complete live-file list), DML logical (DELETE excludes files from
    // the next manifest; bytes stay for VACUUM), and reads resolve ONE
    // manifest instead of listing directories — the lakehouse
    // transaction log on the graft engine. `VERSION AS OF 1` here reads
    // the pre-delete snapshot: the retention DELETE that rewrote
    // nothing also LOST nothing until the operator vacuums.
    "q_k_time_travel" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#tt") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_tt " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_tt")
        s.sql(s"INSERT INTO $cat.wh.li_tt " + monthFlagRowsSql("graft_cat_li_tt"))
        // the retention year goes — LOGICALLY (manifest v2 excludes it)
        s.sql(s"DELETE FROM $cat.wh.li_tt WHERE m >= '1995-01' AND m <= '1995-12'")
      }
      s.sql(s"""SELECT 'v1' AS gen, m, rf, n_items
          FROM $cat.wh.li_tt VERSION AS OF 1
        UNION ALL
        SELECT 'now' AS gen, m, rf, n_items FROM $cat.wh.li_tt
        ORDER BY gen, m, rf""")
    },

    // Streaming reads of the commit log (r14): a versioned table IS a
    // streaming source — `readStream.table` serves one micro-batch per
    // manifest range (the files each commit ADDED; Delta's
    // table-as-stream shape on the graft log). Two INSERT commits land
    // as the stream's input; the drained memory sink must equal the
    // batch aggregate the oracle replays.
    "q_st_catalog_stream" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#stream") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_stream " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_st")
        s.sql(s"INSERT INTO $cat.wh.li_stream " +
          monthFlagRowsSql("graft_cat_li_st", "l_returnflag = 'R'"))
        s.sql(s"INSERT INTO $cat.wh.li_stream " +
          monthFlagRowsSql("graft_cat_li_st", "l_returnflag <> 'R'"))
      }
      // per-run sink table + wiped checkpoint: each invocation re-drains
      // the full commit log (same convention as q_st_paged_source)
      val tbl = s"catalog_stream_out_${java.lang.System.nanoTime()}"
      val ckpt = tmpPath("catalog_stream_ckpt", d)
      val hp = new org.apache.hadoop.fs.Path(ckpt)
      hp.getFileSystem(s.sessionState.newHadoopConf()).delete(hp, true)
      val q = s.readStream.table(s"$cat.wh.li_stream")
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val result = s.table(tbl).select(col("m"), col("rf"), col("n_items"))
        .orderBy("m", "rf")
      s.catalog.dropTempView(tbl)
      result
    },

    // Changefeed reads (r15): a versioned table's CDC face —
    // `graft.ns.t.changes` serves adds AND removes (`_change_type`,
    // `_commit_version`) derived from consecutive manifest diffs, the
    // retraction-carrying source the appends-only stream refuses to
    // fake. History here: INSERT (v1) → key-range DELETE (v2, logical)
    // → INSERT (v3). The drained stream must equal the manifest diff
    // replayed in SQL: v1's rows as inserts, the deleted slice of v1
    // re-stated as deletes, v3's rows as inserts.
    "q_st_catalog_cdc" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#cdc") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_cdc " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_cdc")
        s.sql(s"INSERT INTO $cat.wh.li_cdc " +
          monthFlagRowsSql("graft_cat_li_cdc", "l_returnflag = 'R'"))
        s.sql(s"DELETE FROM $cat.wh.li_cdc WHERE m >= '1995-01' AND m <= '1995-12'")
        s.sql(s"INSERT INTO $cat.wh.li_cdc " +
          monthFlagRowsSql("graft_cat_li_cdc", "l_returnflag <> 'R'"))
      }
      val tbl = s"catalog_cdc_out_${java.lang.System.nanoTime()}"
      val ckpt = tmpPath("catalog_cdc_ckpt", d)
      val hp = new org.apache.hadoop.fs.Path(ckpt)
      hp.getFileSystem(s.sessionState.newHadoopConf()).delete(hp, true)
      val q = s.readStream.table(s"$cat.wh.li_cdc.changes")
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val result = s.table(tbl)
        .select(col("m"), col("rf"), col("n_items"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "m", "rf")
      s.catalog.dropTempView(tbl)
      result
    },

    // Small-file compaction (r15): three INSERT commits accrete three
    // files per month directory; `CALL graft.compact` merges each
    // month's files back to ONE as an identity copy-on-write rewrite
    // published as a single manifest commit (blast radius priced off
    // the manifest — single-file keys are never read or named). The
    // gate: the post-compaction SELECT hash-matches the plain
    // aggregate the three slices union to — compaction changed the
    // LAYOUT, not one value.
    "q_k_compact" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#compact") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_cmp " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_cmp")
        Seq("= 'R'", "= 'A'", "= 'N'").foreach { p =>
          s.sql(s"INSERT INTO $cat.wh.li_cmp " +
            monthFlagRowsSql("graft_cat_li_cmp", s"l_returnflag $p"))
        }
        s.sql(s"CALL $cat.compact('wh.li_cmp')").collect()
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_cmp ORDER BY m, rf")
    },

    // CALL graft.rollback (r15): the undo verb — restore the table to
    // an earlier version as ONE new manifest commit referencing that
    // version's still-on-disk files (zero data copies; Delta RESTORE).
    // A bad correction (10x UPDATE) and a bad retention DELETE are
    // rolled back; the table must hash-match the original load.
    "q_k_rollback" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#rollback") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_rb " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_rb")
        s.sql(s"INSERT INTO $cat.wh.li_rb " + monthFlagRowsSql("graft_cat_li_rb"))
        // the bad day: a wrong correction and a wrong retention sweep
        s.sql(s"UPDATE $cat.wh.li_rb SET n_items = n_items * 10 WHERE rf = 'R'")
        s.sql(s"DELETE FROM $cat.wh.li_rb WHERE m >= '1995-01' AND m <= '1995-12'")
        s.sql(s"CALL $cat.rollback('wh.li_rb', 1)").collect()
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_rb ORDER BY m, rf")
    },

    // Write-write conflict detection (r15): optimistic concurrency on
    // the commit log. A copy-on-write operation reads its groups at
    // snapshot S and publishes later; if a concurrent commit removed
    // any of those groups in between, blindly completing the swap
    // would RESURRECT the deleted rows (the lost update last-writer-
    // wins hides). Here the interleave is replayed exactly: the full
    // load lands, a stale rewrite captures the 1995 groups, a
    // concurrent retention DELETE removes them, and the stale publish
    // is attempted THROUGH THE PRODUCTION COMMIT PATH — it must be
    // refused (ConcurrentWriteConflictException) leaving no trace. The
    // gate is sharp: had the stale swap won, the deleted year would be
    // back in the table and the hash against the post-DELETE
    // complement would fail.
    "q_k_conflict_serialized" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#conflict") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_cfl " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_cfl")
        s.sql(s"INSERT INTO $cat.wh.li_cfl " + monthFlagRowsSql("graft_cat_li_cfl"))
        val root = new org.apache.hadoop.fs.Path(s"$wh/wh/li_cfl")
        val hconf = s.sessionState.newHadoopConf()
        // the stale operation's read set: every 1995 group, as a COW of
        // those months would have captured it
        val stale = graft.sources.GraftLog.latest(root, hconf).map(_.rel)
          .filter(r => r.startsWith("m=1995-")).toSet
        require(stale.nonEmpty, "conflict fixture: expected 1995 groups")
        // the concurrent commit that invalidates it
        s.sql(s"DELETE FROM $cat.wh.li_cfl WHERE m >= '1995-01' AND m <= '1995-12'")
        // the stale publish, through the production path — refused
        val refused =
          try {
            graft.sources.GraftLog.commitReplace(root, hconf, stale,
              Seq(graft.sources.GraftLog.Entry(
                "m=1995-01/part-stale-00000.csv", 1L)))
            false
          } catch {
            case _: graft.sources.ConcurrentWriteConflictException => true
          }
        require(refused, "conflict detection failed: the stale COW " +
          "publish was accepted — deleted rows would be resurrected")
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_cfl ORDER BY m, rf")
    },

    // Streaming writes INTO a versioned table (r15):
    // `writeStream.toTable` commits one manifest per epoch, each
    // carrying its (appId, epoch) txn record — the exactly-once ledger
    // that makes a checkpoint-replayed epoch a recognized no-op
    // (Delta's idempotent-write shape; replay itself is spec-pinned in
    // VersionedStreamSinkSpec). Two staged file-source drains land the
    // two disjoint slices as separate epochs; the table must equal
    // their union — and because each epoch is an ordinary data commit,
    // the partitioned layout, zone sidecars, time travel, and the
    // changefeed all hold underneath.
    "q_st_versioned_sink" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#vsink") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_vsink " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m) " +
          "TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_vsink")
        val staging = tmpPath("vsink_staging", d)
        val ckpt = tmpPath("vsink_ckpt", d)
        def drain(): Unit = {
          val q = s.readStream.schema("m STRING, rf STRING, n_items BIGINT")
            .parquet(staging)
            .writeStream
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .toTable(s"$cat.wh.li_vsink")
          q.awaitTermination()
        }
        // epoch 1: the R slice; epoch 2: everything else
        s.sql(monthFlagRowsSql("graft_cat_li_vsink", "l_returnflag = 'R'"))
          .write.mode("overwrite").parquet(staging)
        drain()
        s.sql(monthFlagRowsSql("graft_cat_li_vsink", "l_returnflag <> 'R'"))
          .write.mode("append").parquet(staging)
        drain()
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_vsink ORDER BY m, rf")
    },

    // Hash-bucket partitioning (r15): PARTITIONED BY (bucket(16, c)) —
    // hidden partitioning for HIGH-CARDINALITY keys, where identity
    // keys would mean one directory per customer (a namenode DoS at
    // 100 TB). The INSERT demands a clustered distribution on the
    // catalog's own V2 `bucket` function, so each write lands ≤16
    // files regardless of key cardinality; `WHERE c = v` prunes to ONE
    // bucket directory at planning time (BucketedTableSpec pins the
    // partition count); this full-table read gates that the hash
    // routing is LOSSLESS — every row in exactly one bucket.
    "q_k_bucketed_table" -> { (s, d) =>
      val (cat, _) = custOrdersTable(s, d)
      s.sql(s"SELECT c, n_orders, revenue FROM $cat.wh.cust_orders ORDER BY c")
    },

    // Bucketed storage-partitioned join (r15): two tables bucketed the
    // SAME way (bucket(16, custkey)) join with ZERO exchange — Spark
    // matches both scans' KeyGroupedPartitioning(bucket) transforms by
    // the catalog function's canonical name and co-locates partitions
    // by stored bucket id (spark.sql.sources.v2.bucketing.enabled,
    // set session-wide). At 100 TB this is THE fact-to-fact join shape
    // identity keys cannot give you: no shuffle of either side, no
    // sort, key cardinality immaterial. Plan shape (zero
    // ShuffleExchange) is pinned in BucketedTableSpec; this query
    // hash-gates the joined VALUES. (q_x_bucketed_join is the OTHER
    // bucketed face — Spark's builtin parquet bucketBy tables.)
    "q_x_spj_bucket" -> { (s, d) =>
      val (cat, wh) = custOrdersTable(s, d)
      ensureFixture(s"$wh#bucketed2") {
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.cust_profile " +
          "(c BIGINT, seg STRING, acctbal DOUBLE) " +
          "PARTITIONED BY (bucket(16, c)) TBLPROPERTIES('versioned'='true')")
        Tables.customer(s, d).createOrReplaceTempView("graft_cat_cust_bkt")
        s.sql(s"""INSERT INTO $cat.wh.cust_profile
          SELECT c_custkey, c_mktsegment,
                 CAST(CAST(c_acctbal AS DECIMAL(18,6)) AS DOUBLE)
          FROM graft_cat_cust_bkt""")
      }
      s.sql(s"""SELECT o.c, p.seg, o.n_orders, o.revenue, p.acctbal
        FROM $cat.wh.cust_orders o JOIN $cat.wh.cust_profile p ON o.c = p.c
        ORDER BY o.c""")
    },

    // truncate(w, col) hidden partitioning (r15): the ORDER-PRESERVING
    // derived transform — truncate(7, o_orderdate-as-string) IS the
    // monthly directory layout, with no materialized month column.
    // Unlike bucket(), ranges prune: this date-sliced read opens ONLY
    // the three intersecting month directories (BucketedTableSpec pins
    // the partition count and the zero-exchange SPJ between two
    // same-truncated tables); the gate hash-matches the range
    // aggregate. The daily-reload + date-window-serving loop is the
    // reference's exact access pattern (…final.py:137).
    "q_k_truncated_table" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#truncated") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.ord_trunc " +
          "(d STRING, n_orders BIGINT, revenue DOUBLE) " +
          "PARTITIONED BY (truncate(7, d)) TBLPROPERTIES('versioned'='true')")
        Tables.orders(s, d).createOrReplaceTempView("graft_cat_ord_trunc")
        s.sql(s"""INSERT INTO $cat.wh.ord_trunc
          SELECT date_format(o_orderdate, 'yyyy-MM-dd'), count(*),
                 ${Num.dsumSql("o_totalprice")}
          FROM graft_cat_ord_trunc GROUP BY 1""")
      }
      s.sql(s"""SELECT d, n_orders, revenue FROM $cat.wh.ord_trunc
        WHERE d >= '1996-03-01' AND d <= '1996-05-31' ORDER BY d""")
    },

    // Enforced CHECK constraints (r15, Spark 4.1 DSV2 constraints):
    // the table DECLARES its integrity rule in DDL and the ENGINE
    // enforces it — Spark wraps every write in a CheckInvariant from
    // the constraint the catalog reports, so a violating batch fails
    // BEFORE the two-phase commit publishes a byte. The gate: after a
    // refused bad load (negative counts — a classic upstream bug), the
    // table still hash-matches the clean aggregate, at the same
    // manifest version. PRIMARY KEY/UNIQUE are informational RELY
    // metadata (nothing on this engine enforces uniqueness, so nothing
    // pretends to); FOREIGN KEY is refused at DDL (ConstraintSpec).
    "q_k_catalog_check" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#check") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_ck " +
          "(m STRING, rf STRING, n_items BIGINT, " +
          "CONSTRAINT n_items_pos CHECK (n_items > 0)) " +
          "PARTITIONED BY (m) TBLPROPERTIES('versioned'='true')")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_ck")
        s.sql(s"INSERT INTO $cat.wh.li_ck " + monthFlagRowsSql("graft_cat_li_ck"))
        // the bad load: negated counts — must be REFUSED whole
        val refused =
          try {
            s.sql(s"""INSERT INTO $cat.wh.li_ck
              SELECT date_format(l_shipdate, 'yyyy-MM'), l_returnflag, -count(*)
              FROM graft_cat_li_ck GROUP BY 1, 2""")
            false
          } catch { case _: Exception => true }
        require(refused, "CHECK enforcement failed: the violating " +
          "INSERT was accepted")
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_ck ORDER BY m, rf")
    },

    // Streaming incremental view maintenance (r15): the changefeed
    // drained ONE COMMIT PER MICRO-BATCH (`maxVersionsPerTrigger=1`,
    // the Delta maxFilesPerTrigger shape) into a foreachBatch MERGE
    // that folds each batch's signed deltas into a catalog-managed
    // result table — CDC + MERGE + catalog composed into the standard
    // warehouse pattern (a continuously-maintained aggregate). After
    // the drain the maintained table must equal the batch aggregate
    // over the source's CURRENT state.
    "q_st_catalog_mv" -> { (s, d) =>
      val cat = mvSourceTable(s, d)
      val mv = s"li_mv_out_${java.lang.System.nanoTime()}"
      s.sql(s"CREATE TABLE $cat.wh.$mv (rf STRING, n_items BIGINT)")
      val ckpt = tmpPath("catalog_mv_ckpt", d)
      val hp = new org.apache.hadoop.fs.Path(ckpt)
      hp.getFileSystem(s.sessionState.newHadoopConf()).delete(hp, true)
      // Per-trigger version budget raised from 1 (r16, guide §2.4 /
      // VERDICT item 8): the MERGE folds SIGNED deltas grouped by rf,
      // so draining k commits per micro-batch reaches the identical
      // final table (delta addition is associative) while paying the
      // per-batch MERGE/commit machinery once instead of once per
      // commit. 64 is a budget, not a semantic: a backlogged feed
      // still drains in bounded batches.
      val q = s.readStream
        .option("maxVersionsPerTrigger", 64)
        .table(s"$cat.wh.li_mv.changes")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val view = s"mv_delta_$batchId"
          batch.createOrReplaceTempView(view)
          batch.sparkSession.sql(s"""MERGE INTO $cat.wh.$mv t USING (
              SELECT rf, sum(CASE WHEN _change_type = 'insert' THEN n_items
                                  ELSE -n_items END) AS delta
              FROM $view GROUP BY rf) s
            ON t.rf = s.rf
            WHEN MATCHED THEN UPDATE SET n_items = t.n_items + s.delta
            WHEN NOT MATCHED THEN INSERT (rf, n_items) VALUES (s.rf, s.delta)""")
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.sql(s"SELECT rf, n_items FROM $cat.wh.$mv ORDER BY rf")
    },

    // Retraction algebra over the changefeed (r15): the reason a CDC
    // face exists. A signed aggregate over the FULL change history —
    // +n for inserts, −n for deletes — must equal the plain aggregate
    // over the CURRENT table, through an UPDATE (copy-on-write pre/post
    // images: copied-through rows cancel exactly, updated rows replace)
    // and a DELETE (retractions subtract). This is incremental
    // materialized-view maintenance as ONE declarative query; the
    // appends-only stream cannot express it.
    "q_k_changes_mv" -> { (s, d) =>
      val cat = mvSourceTable(s, d)
      s.sql(s"""SELECT rf,
          sum(CASE WHEN _change_type = 'insert' THEN n_items
                   ELSE -n_items END) AS n_items
        FROM $cat.wh.li_mv.changes GROUP BY rf ORDER BY rf""")
    },

    // Catalog DML face 2 — ALTER TABLE ADD COLUMN (r14): schema
    // evolution as a pure metadata edit. Generation 1 is inserted
    // BEFORE the column exists; generation 2 after. Old part files
    // never get rewritten — the reader null-fills the missing column
    // per file — and both generations read back as one table.
    "q_k_catalog_evolve" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#evolve") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_evo " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_evo")
        // generation 1: pre-evolution schema (no sum_qty anywhere)
        s.sql(s"INSERT INTO $cat.wh.li_evo " +
          monthFlagRowsSql("graft_cat_li_evo", "l_returnflag = 'R'"))
        s.sql(s"ALTER TABLE $cat.wh.li_evo ADD COLUMN sum_qty DOUBLE")
        // generation 2: carries the evolved column
        s.sql(s"INSERT INTO $cat.wh.li_evo " +
          monthFlagRowsSql("graft_cat_li_evo", "l_returnflag <> 'R'", qty = true))
      }
      s.sql(s"SELECT m, rf, n_items, sum_qty FROM $cat.wh.li_evo ORDER BY m, rf")
    },

    // ViewCatalog (r14): `CREATE VIEW` over a partitioned catalog table
    // — the stored query is metadata (one JSON file), re-resolved per
    // read so pruning/SPJ still fire underneath; the monthly rollup a
    // warehouse serves to dashboards, in pure SQL.
    "q_k_catalog_view" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#view") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_v " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_v")
        s.sql(s"INSERT OVERWRITE $cat.wh.li_v " + monthFlagRowsSql("graft_cat_li_v"))
        s.sql(s"""CREATE VIEW IF NOT EXISTS $cat.wh.li_monthly AS
          SELECT m, count(*) AS n_flags, sum(n_items) AS n_items
          FROM $cat.wh.li_v GROUP BY m""")
      }
      s.sql(s"""SELECT m, n_flags, n_items FROM $cat.wh.li_monthly
        WHERE m >= '1996-01' ORDER BY m""")
    },

    // Catalog DML face 4 — UPDATE via group-based copy-on-write (r14,
    // SupportsRowLevelOperations): a payload-predicate UPDATE in pure
    // SQL. Spark's runtime group filter narrows the rewrite to the part
    // files containing matching rows; everything else is untouched
    // (GraftCatalogSpec pins the mtime invariance).
    "q_k_catalog_update" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#update") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_upd " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_upd")
        s.sql(s"INSERT OVERWRITE $cat.wh.li_upd " + monthFlagRowsSql("graft_cat_li_upd"))
        // the correction: every returned-flag row gets a re-stated count
        s.sql(s"UPDATE $cat.wh.li_upd SET n_items = n_items * 10 WHERE rf = 'R'")
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_upd ORDER BY m, rf")
    },

    // Catalog DML face 5 — MERGE INTO (r14): the incremental-load shape
    // (upsert a recomputed slice: matched rows update in place, new
    // rows insert) as ONE SQL statement over the copy-on-write engine.
    "q_k_catalog_merge" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#merge") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_mrg " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_mrg")
        // base load: everything before 1996
        s.sql(s"INSERT OVERWRITE $cat.wh.li_mrg " +
          monthFlagRowsSql("graft_cat_li_mrg", "year(l_shipdate) < 1996"))
        // the incremental: 1995 onward recomputed with DOUBLED counts —
        // 1995 groups exist (update), 1996+ are new (insert)
        s.sql(s"""MERGE INTO $cat.wh.li_mrg t
          USING (SELECT date_format(l_shipdate, 'yyyy-MM') AS m,
                        l_returnflag AS rf, 2 * count(*) AS n_items
                 FROM graft_cat_li_mrg WHERE year(l_shipdate) >= 1995
                 GROUP BY 1, 2) s
          ON t.m = s.m AND t.rf = s.rf
          WHEN MATCHED THEN UPDATE SET n_items = s.n_items
          WHEN NOT MATCHED THEN INSERT (m, rf, n_items) VALUES (s.m, s.rf, s.n_items)""")
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_mrg ORDER BY m, rf")
    },

    // Catalog DML face 3 — dynamic INSERT OVERWRITE (r14): the
    // daily-reload shape the reference actually runs (recompute a date
    // slice, replace exactly those partitions, leave history byte-
    // identical). Touched keys come from the COMMIT MESSAGES — no
    // directory listing at all.
    "q_k_catalog_overwrite" -> { (s, d) =>
      val (cat, wh) = graftCatalog(s, d)
      ensureFixture(s"$wh#dynow") {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
        s.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_dyn " +
          "(m STRING, rf STRING, n_items BIGINT) PARTITIONED BY (m)")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_cat_li_dyn")
        s.sql(s"INSERT OVERWRITE $cat.wh.li_dyn " + monthFlagRowsSql("graft_cat_li_dyn"))
        // the "corrected reload" of 1996: doubled counts, dynamic mode
        val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
          s.sql(s"""INSERT OVERWRITE $cat.wh.li_dyn
            SELECT date_format(l_shipdate, 'yyyy-MM'), l_returnflag, 2 * count(*)
            FROM graft_cat_li_dyn WHERE year(l_shipdate) = 1996 GROUP BY 1, 2""")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      }
      s.sql(s"SELECT m, rf, n_items FROM $cat.wh.li_dyn ORDER BY m, rf")
    },

    // K4/J5 — JSON write + read-back (schema inferred on read).
    "q_k4_json_roundtrip" -> { (s, d) =>
      val path = tmpPath("json", d)
      Tables.documents(s, d).write.mode("overwrite").json(path)
      s.read.json(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("lang")
    },

    // K2/K3 — catalog table create + append (the warehouse-load shape;
    // Spark batches writes instead of the reference's per-row commits).
    "q_k3_table_append" -> { (s, d) =>
      val t = "graft_wh_orders"
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
      o.write.mode("overwrite").format("parquet").saveAsTable(t)
      o.write.mode("append").format("parquet").saveAsTable(t)
      s.table(t)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // K3 over a REAL JDBC sink (embedded Derby — ships with the JVM
    // distribution's jar set, zero egress): batched `df.write.jdbc`
    // create + append — the set-based replacement for the reference's
    // per-row executemany/commit loop
    // (04_Airflow_Dag/thehoxtontrend_full_pipeline_final.py:598-657) —
    // then a PARTITIONED JDBC read-back (partitionColumn/numPartitions,
    // the shape that lets 1000 executors each pull a key range instead
    // of one task streaming the whole table).
    "q_k3_jdbc_roundtrip" -> { (s, d) =>
      System.setProperty("derby.stream.error.file", graft.Scratch.path("derby.log"))
      val url = s"jdbc:derby:${tmpPath("derbydb", d)};create=true"
      val table = "GRAFT_JDBC_ORDERS"
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
      def writer(mode: String) = o.write.mode(mode).format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("batchsize", 1000)
      writer("overwrite").save()
      writer("append").save()
      // Partition bounds from the ACTUAL key range of the written frame —
      // hardcoded bounds skew at other scale factors (every key above the
      // constant upperBound lands in the final stride partition). One tiny
      // agg on the source parquet; at 100 TB this would be a dictionary /
      // catalog-stats lookup, same idea.
      val mm = o.agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      s.read.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", lo.toString).option("upperBound", (hi + 1).toString)
        .option("numPartitions", "8")
        .load()
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // Schema evolution: two parquet generations with different columns
    // (an added column) read back as ONE table via mergeSchema — the
    // append-only warehouse's schema-drift reality. Old-generation rows
    // null-fill the new column.
    "q_s_schema_evolution" -> { (s, d) =>
      val path = tmpPath("evolve", d)
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$path/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 6).as("o_totalprice"))
        .write.mode("overwrite").parquet(s"$path/gen=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_legacy"),
          Num.dsum(coalesce(col("o_totalprice"), lit(0.0))).as("sum_new_price"))
        .orderBy("o_orderstatus")
    },

    // XML sink/source round trip (Spark 4's built-in XML source — the
    // remaining text-format sibling of CSV/JSON).
    "q_s_xml_roundtrip" -> { (s, d) =>
      val path = tmpPath("xml", d)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").format("xml")
        .option("rowTag", "customer").save(path)
      s.read.format("xml").option("rowTag", "customer").load(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), Num.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("c_mktsegment")
    },

    // Malformed-input resilience: PERMISSIVE JSON read with a corrupt-
    // record column — odd-keyed nation rows are written as broken JSON,
    // and the read must capture them in _corrupt_record while parsing
    // the good lines (the real-world ingestion failure mode the
    // reference's per-row try/except handles driver-side).
    "q_s_json_corrupt" -> { (s, d) =>
      val path = tmpPath("jsoncorrupt", d)
      Tables.nation(s, d).select(
        when(pmod(col("n_nationkey"), lit(2)) === 1,
            concat(lit("{broken "), col("n_name")))
          .otherwise(concat(lit("{\"k\": "), col("n_nationkey"),
            lit(", \"name\": \""), col("n_name"), lit("\"}")))
          .as("value"))
        .write.mode("overwrite").text(path)
      s.read.schema("k LONG, name STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .agg(
          count(col("k")).as("n_good"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(col("k")).cast("long").as("sum_good_keys"))
    },

    // ORC sink/source round trip (the columnar-format sibling of the
    // parquet path; same pushdown/pruning machinery applies on read).
    "q_s_orc_roundtrip" -> { (s, d) =>
      val path = tmpPath("orc", d)
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // A5/§2.12 — RMSE via the typed Aggregator vs the closed form: the
    // two columns must agree (and both match the oracle's formula).
    "q_a5_rmse_udaf" -> { (s, d) =>
      val rmseUdaf = udaf(RmseAggregator)
      val li = Tables.lineitem(s, d)
      val train = li.filter(Regression.isTrain(col("l_orderkey")))
      val test = li.filter(!Regression.isTrain(col("l_orderkey")))
      val coef = train.agg(
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("b1"),
        regr_intercept(col("l_extendedprice"), col("l_quantity")).as("b0"))
      test.crossJoin(broadcast(coef))
        .withColumn("pred", col("b0") + col("b1") * col("l_quantity"))
        .agg(
          round(rmseUdaf(col("pred"), col("l_extendedprice")), 6).as("rmse_udaf"),
          round(sqrt(avg(pow(col("pred") - col("l_extendedprice"), 2))), 6).as("rmse_builtin"),
          count(lit(1)).as("n_test"))
    },

    // Streaming ops' batch face: hourly tumbling window aggregate.
    "q_st_tumbling_hourly" -> { (s, d) =>
      StreamOps.tumblingHourly(Tables.events(s, d))
        .orderBy("hour_start", "event_type")
    },

    // Batch face of the stateful threshold-alert stream: first event at
    // which each user's running total crosses the alert threshold.
    "q_st_threshold_alerts" -> { (s, d) =>
      StreamOps.thresholdCrossingsBatch(Tables.events(s, d), StreamOps.AlertThreshold)
        .orderBy("user_id", "crossing_event")
    },

    // JSONL sharded export: the training-data export shape — JSON Lines
    // with a bounded records-per-shard (dataloaders want fixed-size
    // shards, and a single giant file serializes the downstream read).
    // One writer task + maxRecordsPerFile → deterministically
    // ceil(n/SHARD_ROWS) shards; read back via the _metadata column to
    // prove the shard count, and re-aggregate to prove the JSON round
    // trip is lossless.
    "q_k_jsonl_shards" -> { (s, d) =>
      val path = tmpPath("jsonl_shards", d)
      Tables.events(s, d).select("event_id", "user_id", "value")
        .repartition(1).sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", JsonlShardRows).json(path)
      s.read.schema("event_id BIGINT, user_id BIGINT, value DOUBLE").json(path)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("_metadata.file_path")).cast("long").as("n_shards"),
          Num.dsum(col("value")).as("sum_value"))
    },

    // Batch face of the stream-stream interval join
    // (purchasesNearSignupsStream): purchases within 1 hour after the
    // same user's signup. One purchase can match several signups, so
    // the total order includes the matched signup timestamp.
    "q_st_purchase_join" -> { (s, d) =>
      StreamOps.purchasesNearSignupsBatch(Tables.events(s, d))
        .orderBy("p_id", "signup_ts")
    },

    // Batch face of horizon-bounded streaming dedup
    // (dropDuplicatesWithinWatermark): first event per (user, type)
    // within each hourly window.
    "q_st_dedup_horizon" -> { (s, d) =>
      StreamOps.firstPerKeyHourBatch(Tables.events(s, d))
        .orderBy("user_id", "event_type", "hour_start")
    },

    // S1/P1/J2/F5 — nested JSON fixture pages (the API page shape) →
    // read back → explode/dot-path flatten → clean.
    "q_s1_json_pages_flatten" -> { (s, d) =>
      graft.pipeline.Pipeline.scrapeAndClean(s, d, tmpPath("pipe_s1", d))
        .orderBy("video_id")
    },

    // S1 through the REAL engine surface: the DataSource V2
    // TableProvider over token-chained pages, with the publishedAfter
    // predicate pushed into the source (no residual Spark filter —
    // PlanHygieneSpec asserts it).
    "q_s1_paged_source" -> { (s, d) =>
      pagedSource(s, d)
        .orderBy("video_id")
    },

    // §2.7 O3 — the API's `maxResults` page cap as an ENGINE limit:
    // LIMIT pushes into the DSV2 source (partial pushdown), so each
    // page partition stops parsing after n passing rows and
    // CollectLimit's incremental take opens only the pages it needs
    // (PagedSourceSpec pins pagesRead == 1 via the custom metric).
    // count(*) OVER the limited scan makes the result deterministic —
    // any 100 passing rows count the same — so the hash gate covers a
    // genuinely row-nondeterministic operator.
    "q_s1_paged_limit" -> { (s, d) =>
      pagedSource(s, d)
        .limit(100)
        .agg(count(lit(1)).as("n"))
    },

    // Aggregate pushdown beyond COUNT(*): count+min+max fold into ONE
    // partial row per page inside the source (final merge in Spark) —
    // the freshness/recency probe every mirror consumer runs ("how many
    // items, how recent") without materializing a single item field.
    "q_s1_paged_minmax" -> { (s, d) =>
      pagedSource(s, d)
        .agg(count(lit(1)).as("n"),
          min("published_at").as("first_pub"),
          max("published_at").as("last_pub"))
    },

    // §2.7 O2+O3 — ORDER BY + LIMIT pushes as a partial TopN: each page
    // returns only ITS top-50 under the requested ordering (bounded
    // heap), the finishing TakeOrderedAndProject sees pages·50 rows
    // instead of the whole mirror. (published_at, video_id) is a total
    // order (unique ids), so the row set is deterministic.
    "q_s1_paged_topn" -> { (s, d) =>
      pagedSource(s, d)
        .orderBy(col("published_at").desc, col("video_id"))
        .limit(50)
    },

    // S1 at STREAMING cadence through the same DSV2 table: the custom
    // MicroBatchStream treats the paginated API as an append-only page
    // log (offset = pages consumed, one partition per page, pushed
    // filter rides into the streaming reader). This entry RUNS the real
    // stream — Trigger.AvailableNow over a fresh checkpoint drains the
    // whole layout — so the hash gate covers the streaming read path
    // itself, not a batch twin; incremental append + exactly-once
    // restart live in PagedStreamSpec.
    "q_st_paged_source" -> { (s, d) =>
      val path = pagedFixture(s, d)
      // Per-run memory-sink table, dropped as soon as the result plan
      // holds the sink relation (the NAME leak was the issue: Bench's
      // x3 runs would otherwise pin three full result copies in the
      // driver for the JVM lifetime); checkpoint is a stable path
      // wiped per run so each invocation re-drains the whole layout.
      val tbl = s"paged_stream_out_${java.lang.System.nanoTime()}"
      val ckpt = tmpPath("paged_ckpt", d)
      val hp = new org.apache.hadoop.fs.Path(ckpt)
      hp.getFileSystem(s.sessionState.newHadoopConf()).delete(hp, true)
      val q = s.readStream.format("graft.sources.PagedJsonSource")
        .option("path", path).load()
        .filter(col("published_at") > graft.sources.PagedJsonSource.PublishedAfter)
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val result = s.table(tbl).orderBy("video_id")
      s.catalog.dropTempView(tbl)
      result
    },

    // S2/J3/W2 — commentThreads pages with optional replies: write the
    // nested fixture, read back, flatten parents (flag 0) + replies
    // (flag 1), null-guarding threads without replies.
    "q_s2_comment_threads_flatten" -> { (s, d) =>
      graft.sources.JsonFixtureSource
        .readAndFlattenCommentThreads(s, threadsFixture(s, d))
        .orderBy("video_id", "reply_flag", "likes")
    },

    // S5 — whole-object text read.
    "q_s5_text_object" -> { (s, d) =>
      val path = tmpPath("text", d)
      graft.sources.JsonFixtureSource.writeTextObject(Tables.region(s, d), "r_name", path)
      graft.sources.JsonFixtureSource.readTextObject(s, path)
        .agg(count(lit(1)).as("n"), sum(length(col("value"))).cast("long").as("sum_len"))
    },

    // S7 — Google-Analytics-shaped comma CSV with dd/MM/yyyy dates:
    // write, read with explicit schema, parse dates, aggregate monthly.
    "q_s7_ga_csv" -> { (s, d) =>
      val path = tmpPath("ga", d)
      Tables.events(s, d)
        .select(
          graft.functions.Cleaning.gaDayString(col("ts")).as("ga_date"),
          col("value"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").schema("ga_date STRING, value DOUBLE").csv(path)
        .select(graft.functions.Cleaning.parseGaDay(col("ga_date")).as("day"), col("value"))
        .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"), graft.functions.Num.dsum(col("value")).as("sum_value"))
        .orderBy("month")
    },

    // §3.1 end-to-end: scrape-fixture → clean → CSV → warehouse →
    // regression, one row out (the reference's whole DAG).
    "q_pipeline_e2e" -> { (s, d) =>
      graft.pipeline.Pipeline.run(s, d, tmpPath("pipeline", d))
    },

    // Sliding windows (each event in two 2-hour windows, hourly slide).
    "q_st_sliding_2h" -> { (s, d) =>
      StreamOps.sliding2hHourly(Tables.events(s, d))
        .orderBy("win_start", "event_type")
    },

    // K1 date-stamped keys as real partitioned writes: land events
    // partitioned by day, read back with a partition predicate — the
    // scan touches ONE directory (partition pruning, the scale story
    // behind the reference's dated S3 keys).
    "q_k1_partitioned_dates" -> { (s, d) =>
      val path = tmpPath("part_days", d)
      Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        // co-locate each day before the partitioned write: one file per
        // partition dir instead of one per (task × day) — the
        // small-files discipline that matters most at warehouse scale
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      s.read.parquet(path)
        .filter(col("day") === "2024-01-15")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },

    // Bucketed co-located join: both sides pre-bucketed on the join key
    // → SortMergeJoin with NO exchange (at 100 TB this is the difference
    // between a full-cluster shuffle and none).
    "q_x_bucketed_join" -> { (s, d) =>
      val (ot, lt) = bucketedTables(s, d)
      // MERGE hint: keep the sort-merge join so the plan demonstrates
      // bucket co-location (zero exchange between scan and join) instead
      // of AQE broadcasting the small test-scale side.
      s.table(ot).hint("merge").join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }
  )

  /** Trigger the once-per-JVM fixture writes up front (bench hygiene):
    * after this, q_s2/q_x_bucketed_join time the read/flatten/join path
    * rather than fixture setup. */
  def prewarm(s: SparkSession, d: String): Unit = {
    threadsFixture(s, d)
    bucketedTables(s, d)
  }

  /** The lineitem (month, returnflag) aggregate every catalog oracle
    * replays: `m`, `rf`, the item count as `n`, and with `qty` the
    * dsum'd quantity `sum_qty`. */
  private def monthFlagAggSql(n: String = "n_items", qty: Boolean = false): String =
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS m, l_returnflag AS rf,
       |       count(*) AS $n${if (qty) s", ${Num.dsumSql("l_quantity")} AS sum_qty" else ""}
       |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** The per-flag rollup of the `li_mv` source's CURRENT state — the
    * full load with R rows re-stated 10x and 1995 retracted — which
    * both changefeed-MV queries must converge to. */
  private def mvCurrentRollupSql: String =
    s"""WITH t AS (${monthFlagAggSql("n")}),
       |cur AS (
       |  SELECT m, rf, CASE WHEN rf = 'R' THEN 10 * n ELSE n END AS n
       |  FROM t WHERE m < '1995-01' OR m > '1995-12')
       |SELECT rf, CAST(sum(n) AS BIGINT) AS n_items
       |FROM cur GROUP BY rf ORDER BY rf""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_st_csv_sink" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS sum_id,
        |       round(min(value), 6) AS min_v,
        |       round(max(value), 6) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_s6_csv_roundtrip" ->
      """SELECT p_brand, count(*) AS n,
        |       CAST(sum(length(p_name || chr(10) || p_type)) AS BIGINT) AS sum_len
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Roundtrip identity: the DSv2-written CSV must read back to exactly
    // the source aggregate (same oracle shape as q_s6).
    "q_k_dsv2_csv" ->
      """SELECT p_brand, count(*) AS n,
        |       CAST(sum(length(p_name || chr(10) || p_type)) AS BIGINT) AS sum_len
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_k_dsv2_csv_filtered" ->
      """SELECT p_brand, count(*) AS n,
        |       CAST(sum(length(p_name || chr(10) || p_type)) AS BIGINT) AS sum_len
        |FROM part
        |WHERE (p_partkey % 2 = 0 OR p_partkey <= 100)
        |  AND p_brand >= 'Brand#3' AND p_partkey <= 1500
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Replays the partitioned table's content directly from parquet; the
    // key-range predicate mirrors the planning-time directory pruning.
    "q_k_partitioned_table" ->
      s"""WITH t AS (${monthFlagAggSql(qty = true)})
         |SELECT m, rf, n_items, sum_qty FROM t
         |WHERE m >= '1996-01' AND m <= '1996-12'
         |ORDER BY m, rf""".stripMargin,

    // The SPJ join's values, replayed as two grouped CTEs + a key join —
    // the layout/partitioning is invisible to the result by design.
    "q_x_spj_join" ->
      s"""WITH a AS (
         |  SELECT strftime(o_orderdate, '%Y-%m') AS m, count(*) AS n_orders,
         |         ${Num.dsumSql("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1),
         |b AS (
         |  SELECT strftime(l_shipdate, '%Y-%m') AS m, count(*) AS n_items,
         |         ${Num.dsumSql("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY 1)
         |SELECT a.m AS m, n_orders, revenue, n_items, sum_qty
         |FROM a JOIN b ON a.m = b.m
         |ORDER BY m""".stripMargin,

    // The two disjoint INSERT slices union to the full (m, rf) aggregate.
    "q_k_catalog_sql" ->
      s"""WITH t AS (${monthFlagAggSql(qty = true)})
         |SELECT m, rf, n_items, sum_qty FROM t
         |WHERE m >= '1995-01' AND m <= '1995-12'
         |ORDER BY m, rf""".stripMargin,

    "q_k_partitioned_multi" ->
      s"""WITH t AS (${monthFlagAggSql(qty = true)})
         |SELECT m, rf, n_items, sum_qty FROM t
         |WHERE m >= '1996-01' AND m <= '1996-12' AND rf <> 'N'
         |ORDER BY m, rf""".stripMargin,

    // The deleted retention year is the COMPLEMENT of the kept range.
    "q_k_catalog_delete" ->
      s"""WITH t AS (${monthFlagAggSql(qty = true)})
         |SELECT m, rf, n_items, sum_qty FROM t
         |WHERE m < '1995-01' OR m > '1995-12'
         |ORDER BY m, rf""".stripMargin,

    // The zone-skipped date slice must equal the plain aggregate slice.
    "q_k_zone_skip" ->
      s"""WITH t AS (
         |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, count(*) AS n_orders,
         |         ${Num.dsumSql("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1)
         |SELECT d, n_orders, revenue FROM t
         |WHERE d >= '1996-03-01' AND d <= '1996-05-31'
         |ORDER BY d""".stripMargin,

    // v1 = the full load; 'now' = the post-DELETE complement. The union
    // proves the deleted year is still SERVED at version 1.
    "q_k_time_travel" ->
      s"""WITH t AS (${monthFlagAggSql()})
         |SELECT 'v1' AS gen, m, rf, n_items FROM t
         |UNION ALL
         |SELECT 'now' AS gen, m, rf, n_items FROM t
         |WHERE m < '1995-01' OR m > '1995-12'
         |ORDER BY gen, m, rf""".stripMargin,

    // The stream drains both INSERT commits; their disjoint slices
    // union to the full (m, rf) aggregate.
    "q_st_catalog_stream" ->
      s"${monthFlagAggSql()} ORDER BY m, rf",

    // The changefeed replayed as SQL over the manifest history: v1 =
    // the rf='R' load as inserts; v2 = the deleted retention year of
    // that load, re-stated as deletes; v3 = the rf<>'R' load as inserts.
    "q_st_catalog_cdc" ->
      s"""WITH t AS (${monthFlagAggSql()})
         |SELECT m, rf, n_items, 'insert' AS _change_type,
         |       1 AS _commit_version FROM t WHERE rf = 'R'
         |UNION ALL
         |SELECT m, rf, n_items, 'delete' AS _change_type,
         |       2 AS _commit_version FROM t
         |WHERE rf = 'R' AND m >= '1995-01' AND m <= '1995-12'
         |UNION ALL
         |SELECT m, rf, n_items, 'insert' AS _change_type,
         |       3 AS _commit_version FROM t WHERE rf <> 'R'
         |ORDER BY _commit_version, _change_type, m, rf""".stripMargin,

    // Compaction is layout-only: the merged table still equals the
    // plain (m, rf) aggregate the three slices union to.
    "q_k_compact" ->
      s"${monthFlagAggSql()} ORDER BY m, rf",

    // Rollback erased the 10x correction AND the retention delete: the
    // table equals the original full load, byte for byte.
    "q_k_rollback" ->
      s"${monthFlagAggSql()} ORDER BY m, rf",

    // The stale COW was refused: the table equals the post-DELETE
    // complement. Had last-writer-wins applied the swap, the deleted
    // retention year would be back and this hash would fail.
    "q_k_conflict_serialized" ->
      s"""WITH t AS (${monthFlagAggSql()})
         |SELECT m, rf, n_items FROM t
         |WHERE m < '1995-01' OR m > '1995-12'
         |ORDER BY m, rf""".stripMargin,

    // Two streamed epochs union to the full (m, rf) aggregate — each
    // epoch was one manifest commit with its txn record.
    "q_st_versioned_sink" ->
      s"${monthFlagAggSql()} ORDER BY m, rf",

    // Bucket routing is lossless: the full bucketed table equals the
    // plain per-customer aggregate.
    "q_k_bucketed_table" ->
      s"""SELECT o_custkey AS c, count(*) AS n_orders,
         |       ${Num.dsumSql("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1 ORDER BY c""".stripMargin,

    // The zero-exchange bucketed join equals the plain replayed join.
    "q_x_spj_bucket" ->
      s"""WITH o AS (
         |  SELECT o_custkey AS c, count(*) AS n_orders,
         |         ${Num.dsumSql("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1),
         |p AS (
         |  SELECT c_custkey AS c, c_mktsegment AS seg,
         |         CAST(CAST(c_acctbal AS DECIMAL(18,6)) AS DOUBLE) AS acctbal
         |  FROM customer)
         |SELECT o.c AS c, p.seg, o.n_orders, o.revenue, p.acctbal
         |FROM o JOIN p ON o.c = p.c
         |ORDER BY c""".stripMargin,

    // The truncated-layout date slice equals the plain aggregate slice
    // (same oracle shape as q_k_zone_skip — different pruning engine).
    "q_k_truncated_table" ->
      s"""WITH t AS (
         |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, count(*) AS n_orders,
         |         ${Num.dsumSql("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1)
         |SELECT d, n_orders, revenue FROM t
         |WHERE d >= '1996-03-01' AND d <= '1996-05-31'
         |ORDER BY d""".stripMargin,

    // The refused violating load published nothing: the table equals
    // the clean aggregate alone.
    "q_k_catalog_check" ->
      s"${monthFlagAggSql()} ORDER BY m, rf",

    // The commit-by-commit MERGE-maintained view converges to the same
    // current-state aggregate the one-shot signed fold produces.
    "q_st_catalog_mv" ->
      mvCurrentRollupSql,

    // The signed changefeed aggregate equals the CURRENT table's
    // aggregate: full load, R rows re-stated 10x, 1995 retracted.
    "q_k_changes_mv" ->
      mvCurrentRollupSql,

    // The view's monthly rollup, replayed over the same aggregate.
    "q_k_catalog_view" ->
      s"""WITH t AS (${monthFlagAggSql("n")})
         |SELECT m, CAST(count(*) AS BIGINT) AS n_flags,
         |       CAST(sum(n) AS BIGINT) AS n_items
         |FROM t WHERE m >= '1996-01' GROUP BY m ORDER BY m""".stripMargin,

    // Returned-flag rows carry the 10x re-stated count.
    "q_k_catalog_update" ->
      s"""WITH t AS (${monthFlagAggSql("n")})
         |SELECT m, rf,
         |       CAST(CASE WHEN rf = 'R' THEN 10 * n ELSE n END AS BIGINT) AS n_items
         |FROM t ORDER BY m, rf""".stripMargin,

    // Months from 1995 on carry the doubled incremental recompute
    // (1995: merged update; 1996+: merged insert); earlier months keep
    // the base load.
    "q_k_catalog_merge" ->
      s"""WITH t AS (${monthFlagAggSql("n")})
         |SELECT m, rf,
         |       CAST(CASE WHEN m >= '1995-01' THEN 2 * n ELSE n END AS BIGINT) AS n_items
         |FROM t ORDER BY m, rf""".stripMargin,

    // Generation 1 (rf = 'R') predates the column — NULL sum_qty;
    // generation 2 carries it.
    "q_k_catalog_evolve" ->
      s"""WITH t AS (${monthFlagAggSql(qty = true)})
         |SELECT m, rf, n_items,
         |       CASE WHEN rf = 'R' THEN NULL ELSE sum_qty END AS sum_qty
         |FROM t ORDER BY m, rf""".stripMargin,

    // 1996 partitions were dynamically re-loaded with doubled counts;
    // every other month keeps its original files.
    "q_k_catalog_overwrite" ->
      s"""WITH t AS (${monthFlagAggSql("n")})
         |SELECT m, rf,
         |       CAST(CASE WHEN m >= '1996-01' AND m <= '1996-12'
         |                 THEN 2 * n ELSE n END AS BIGINT) AS n_items
         |FROM t ORDER BY m, rf""".stripMargin,

    "q_k4_json_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_k3_table_append" ->
      """SELECT o_orderstatus, CAST(2 * count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_k3_jdbc_roundtrip" ->
      """SELECT o_orderstatus, CAST(2 * count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_s_orc_roundtrip" ->
      s"""SELECT l_returnflag, count(*) AS n, ${Num.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_s_xml_roundtrip" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${Num.dsumSql("c_acctbal")} AS sum_bal
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Even keys are the legacy generation (no price column → legacy
    // count); odd keys carry the evolved column.
    "q_s_schema_evolution" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
         |       ${Num.dsumSql("CASE WHEN o_orderkey % 2 = 1 THEN round(o_totalprice, 6) ELSE 0.0 END")} AS sum_new_price
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Mirrors the even/odd corruption rule the fixture was written with.
    "q_s_json_corrupt" ->
      """SELECT CAST(count(CASE WHEN n_nationkey % 2 = 0 THEN 1 END) AS BIGINT) AS n_good,
        |       CAST(count(CASE WHEN n_nationkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_corrupt,
        |       CAST(sum(CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey END) AS BIGINT) AS sum_good_keys
        |FROM nation""".stripMargin,

    "q_a5_rmse_udaf" ->
      """WITH coef AS (
        |  SELECT regr_slope(l_extendedprice, l_quantity) AS b1,
        |         regr_intercept(l_extendedprice, l_quantity) AS b0
        |  FROM lineitem WHERE l_orderkey % 5 < 3)
        |SELECT round(sqrt(avg(pow(b0 + b1 * l_quantity - l_extendedprice, 2))), 6) AS rmse_udaf,
        |       round(sqrt(avg(pow(b0 + b1 * l_quantity - l_extendedprice, 2))), 6) AS rmse_builtin,
        |       count(*) AS n_test
        |FROM lineitem, coef WHERE l_orderkey % 5 >= 3""".stripMargin,

    "q_st_tumbling_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         |       event_type, count(*) AS n_events,
         |       ${Num.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q_st_threshold_alerts" ->
      s"""WITH c AS (
         |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,6)) AS v,
         |         sum(CAST(value AS DECIMAL(18,6))) OVER (
         |           PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM events)
         |SELECT user_id, event_id AS crossing_event,
         |       round(CAST(cum AS DOUBLE), 6) AS total_at_crossing
         |FROM c
         |WHERE cum - v < ${StreamOps.AlertThreshold} AND cum >= ${StreamOps.AlertThreshold}
         |ORDER BY user_id, crossing_event""".stripMargin,

    "q_k_jsonl_shards" ->
      s"""SELECT count(*) AS n_rows,
         |       CAST(ceil(count(*) / $JsonlShardRows.0) AS BIGINT) AS n_shards,
         |       ${Num.dsumSql("value")} AS sum_value
         |FROM events""".stripMargin,

    "q_st_purchase_join" ->
      """WITH s AS (SELECT user_id AS s_user, ts AS s_ts FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p_id, p_user, strftime(s_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
        |FROM p JOIN s ON p_user = s_user
        |               AND p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 1 HOUR
        |ORDER BY p_id, signup_ts""".stripMargin,

    "q_st_dedup_horizon" ->
      """WITH c AS (
        |  SELECT user_id, event_type, date_trunc('hour', ts) AS h, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type, date_trunc('hour', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type,
        |       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_id AS first_event
        |FROM c WHERE rn = 1
        |ORDER BY user_id, event_type, hour_start""".stripMargin,

    "q_s1_paged_source" ->
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS video_id,
         |       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS published_at,
         |       o_orderpriority AS title,
         |       o_orderstatus AS description
         |FROM orders
         |WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') >
         |      '${graft.sources.PagedJsonSource.PublishedAfter}'
         |ORDER BY video_id""".stripMargin,

    // LIMIT without ORDER BY is row-nondeterministic; the count over it
    // is not — both engines agree on min(100, passing rows).
    "q_s1_paged_limit" ->
      s"""SELECT count(*) AS n FROM (
         |  SELECT o_orderkey FROM orders
         |  WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') >
         |        '${graft.sources.PagedJsonSource.PublishedAfter}'
         |  LIMIT 100)""".stripMargin,

    "q_s1_paged_minmax" ->
      s"""SELECT count(*) AS n,
         |       min(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')) AS first_pub,
         |       max(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')) AS last_pub
         |FROM orders
         |WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') >
         |      '${graft.sources.PagedJsonSource.PublishedAfter}'""".stripMargin,

    "q_s1_paged_topn" ->
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS video_id,
         |       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS published_at,
         |       o_orderpriority AS title,
         |       o_orderstatus AS description
         |FROM orders
         |WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') >
         |      '${graft.sources.PagedJsonSource.PublishedAfter}'
         |ORDER BY published_at DESC, video_id
         |LIMIT 50""".stripMargin,

    // The streaming read must produce byte-identical rows to the batch
    // scan of the same page layout — one oracle, two engine paths.
    "q_st_paged_source" ->
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS video_id,
         |       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS published_at,
         |       o_orderpriority AS title,
         |       o_orderstatus AS description
         |FROM orders
         |WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') >
         |      '${graft.sources.PagedJsonSource.PublishedAfter}'
         |ORDER BY video_id""".stripMargin,

    "q_s1_json_pages_flatten" -> {
      def cleanSql(e: String): String =
        s"""regexp_replace(regexp_replace(regexp_replace($e, ';', ',', 'g'),
           | '[^\\x00-\\x7F]', '', 'g'), '\\\\t|\\\\n|\\\\r|[\\t\\n\\r]', '', 'g')"""
          .stripMargin.replace("\n", "")
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS video_id,
         |       strftime(o_orderdate, '%Y/%m/%d') AS date,
         |       ${cleanSql("o_orderpriority")} AS video_title,
         |       ${cleanSql("o_orderstatus")} AS video_description
         |FROM orders ORDER BY video_id""".stripMargin
    },

    "q_s2_comment_threads_flatten" ->
      """SELECT * FROM (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS video_id,
        |         strftime(o_orderdate, '%Y/%m/%d') AS date,
        |         o_orderpriority AS comment,
        |         o_orderstatus AS author,
        |         CAST(o_orderkey % 100 AS BIGINT) AS likes,
        |         CAST(0 AS BIGINT) AS reply_flag
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(l_orderkey AS VARCHAR),
        |         strftime(l_shipdate, '%Y/%m/%d'),
        |         l_returnflag, l_linestatus,
        |         CAST(l_linenumber AS BIGINT), 1
        |  FROM lineitem)
        |ORDER BY video_id, reply_flag, likes""".stripMargin,

    "q_s5_text_object" ->
      """SELECT count(*) AS n, CAST(sum(length(r_name)) AS BIGINT) AS sum_len
        |FROM region""".stripMargin,

    "q_s7_ga_csv" ->
      s"""SELECT strftime(ts, '%Y-%m') AS month, count(*) AS n,
         |       ${Num.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY month""".stripMargin,

    "q_st_sliding_2h" ->
      """WITH w AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |         event_type FROM events
        |  UNION ALL
        |  SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'),
        |         event_type FROM events)
        |SELECT win_start, event_type, count(*) AS n_events
        |FROM w GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "q_k1_partitioned_dates" ->
      s"""SELECT event_type, count(*) AS n, ${Num.dsumSql("value")} AS sum_value
         |FROM events
         |WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_x_bucketed_join" ->
      s"""SELECT o_orderstatus, count(*) AS n, ${Num.dsumSql("l_quantity")} AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_pipeline_e2e" ->
      """WITH stats AS (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS views,
        |         count(*) AS comments
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT round(regr_slope(comments, views), 6) AS b1,
        |       round(regr_intercept(comments, views), 6) AS b0,
        |       count(*) AS n_videos,
        |       round(avg(views), 6) AS avg_views
        |FROM stats""".stripMargin
  )
}
