package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hash-bucket partitioning (`PARTITIONED BY (bucket(8, k))`, r15):
  * writes cluster one file per bucket through the catalog's own V2
  * `bucket` function; equality prunes to a single bucket directory;
  * two same-bucketed tables storage-partition-join with ZERO exchange;
  * copy-on-write DML re-buckets rewritten rows; the hash is pinned as
  * a layout contract. */
class BucketedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cat = "graftbkt"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_bucketed_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }
  private def hconf = spark.sessionState.newHadoopConf()

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
  }
  private def allNodes(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    flatten(df.queryExecution.executedPlan)
  }
  private def keyedScanOf(df: org.apache.spark.sql.DataFrame): KeyedCsvScan =
    allNodes(df).collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KeyedCsvScan] =>
        b.scan.asInstanceOf[KeyedCsvScan]
    }.get

  test("the hash is a layout contract: pinned constants") {
    // changing these orphans every committed bucket directory — any
    // failure here means the hash DRIFTED, not that the test is stale
    assert(CsvBuckets.id(8, "c0000001") == CsvBuckets.id(8, "c0000001"))
    assert(CsvBuckets.id(8, 42L) == CsvBuckets.id(8, 42))
    assert(CsvBuckets.id(8, 42L) == CsvBuckets.id(8, 42.toShort))
    assert(CsvBuckets.id(1, "anything") == 0)
    assert((0 until 1000).map(i => CsvBuckets.id(8, i.toLong)).toSet.size == 8,
      "splitmix64 must spread integral keys over all buckets")
    assert((0 until 1000).map(i => CsvBuckets.id(8, s"k$i")).toSet.size == 8,
      "FNV-1a must spread string keys over all buckets")
    // UTF8String and String faces agree (writer vs filter literal)
    assert(CsvBuckets.id(16, org.apache.spark.unsafe.types.UTF8String.fromString("abc")) ==
      CsvBuckets.id(16, "abc"))
  }

  test("INSERT clusters one file per bucket; values round-trip; equality prunes to ONE bucket") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.bt (k STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('versioned'='true')")
    spark.range(0, 400).createOrReplaceTempView("bt_src")
    spark.sql(s"INSERT INTO $cat.wh.bt SELECT concat('k', id % 40), id FROM bt_src")
    // layout: every live file sits in a k_bucket=<i> dir; one file per
    // bucket for the single INSERT (clustered distribution held)
    val root = new HPath(s"$wh/wh/bt")
    val rels = GraftLog.latest(root, hconf).map(_.rel)
    assert(rels.nonEmpty && rels.forall(_.startsWith("k_bucket=")))
    val perDir = rels.groupBy(r => r.substring(0, r.indexOf('/')))
    assert(perDir.size <= 4 && perDir.values.forall(_.length == 1),
      s"expected at most 4 buckets, one file each; got $perDir")
    // values
    assert(spark.sql(s"SELECT sum(v) FROM $cat.wh.bt").head().getLong(0) ==
      (0L until 400L).sum)
    // equality prunes to the single bucket directory of bucket(k7)
    val q = spark.sql(s"SELECT v FROM $cat.wh.bt WHERE k = 'k7'")
    val scan = keyedScanOf(q)
    assert(scan.planInputPartitions().length == 1,
      "equality on the bucket column must prune to one bucket")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 400).filter(i => s"k${i % 40}" == "k7").map(_.toLong))
  }

  test("two same-bucketed tables join with ZERO exchange (storage-partitioned join)") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.bja (k STRING, a BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"CREATE TABLE $cat.wh.bjb (k STRING, b BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('versioned'='true')")
    spark.range(0, 200).createOrReplaceTempView("bj_src")
    spark.sql(s"INSERT INTO $cat.wh.bja SELECT concat('k', id % 50), id FROM bj_src")
    spark.sql(s"INSERT INTO $cat.wh.bjb SELECT concat('k', id % 50), id * 10 FROM bj_src")
    val before = Map(
      "spark.sql.sources.v2.bucketing.enabled" ->
        spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.sql(s"""SELECT a.k, a.a, b.b
        FROM $cat.wh.bja a JOIN $cat.wh.bjb b ON a.k = b.k""")
      val nodes = allNodes(j)
      val exchanges = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(exchanges.isEmpty,
        s"bucketed SPJ must plan zero exchange; got:\n${j.queryExecution.executedPlan}")
      assert(j.count() == 4 * 200) // 50 keys × 4 rows each side per key pair
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("copy-on-write UPDATE re-buckets rewritten rows; time travel serves the old generation") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.bu (k STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.bu VALUES ('a', 1), ('b', 2), ('c', 3)")
    spark.sql(s"UPDATE $cat.wh.bu SET v = v * 100 WHERE v >= 2")
    assert(spark.sql(s"SELECT k, v FROM $cat.wh.bu ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 200L), ("c", 300L)))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.wh.bu VERSION AS OF 1")
      .head().getLong(0) == 6L)
    // the rewrite stayed inside bucket directories
    val rels = GraftLog.latest(new HPath(s"$wh/wh/bu"), hconf).map(_.rel)
    assert(rels.forall(_.startsWith("k_bucket=")), s"got $rels")
    // each row's file sits in ITS key's bucket dir (re-bucketing held)
    val placed = spark.sql(s"SELECT k, _file FROM $cat.wh.bu").collect()
      .map(r => (r.getString(0), r.getString(1)))
    placed.foreach { case (k, f) =>
      assert(f.contains(s"k_bucket=${CsvBuckets.id(4, k)}/"),
        s"row k=$k landed in the wrong bucket: $f")
    }
  }

  test("NULL bucket keys are refused at write; mixing bucket() with identity keys is refused at DDL") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.bn (k STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('versioned'='true')")
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.wh.bn VALUES (NULL, 1)")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: msgs(e.getCause))
    assert(msgs(err).exists(_.contains("bucket key")), msgs(err).mkString("|"))
    val ddl = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.wh.bmix (k STRING, d STRING, v BIGINT) " +
        "PARTITIONED BY (d, bucket(4, k))")
    }
    assert(msgs(ddl).exists(_.contains("cannot be combined")))
  }

  test("truncate(7, d): daily strings land in MONTHLY dirs; ranges prune directories") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.tt (d STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(7, d)) TBLPROPERTIES('versioned'='true')")
    spark.range(0, 120).createOrReplaceTempView("tt_src")
    // 120 days spanning 1996-01 .. 1996-04
    spark.sql(s"INSERT INTO $cat.wh.tt SELECT " +
      "date_format(date_add(DATE'1996-01-01', CAST(id AS INT)), 'yyyy-MM-dd'), " +
      "id FROM tt_src")
    val root = new HPath(s"$wh/wh/tt")
    val rels = GraftLog.latest(root, hconf).map(_.rel)
    val dirs = rels.map(r => r.substring(0, r.indexOf('/'))).distinct.sorted
    assert(dirs == Seq("d_trunc=1996-01", "d_trunc=1996-02",
      "d_trunc=1996-03", "d_trunc=1996-04"), s"got $dirs")
    // one file per month for the single clustered INSERT
    assert(rels.groupBy(r => r.substring(0, r.indexOf('/')))
      .values.forall(_.length == 1))
    // RANGE predicates prune directories — the shape bucket() cannot do
    val q = spark.sql(s"SELECT v FROM $cat.wh.tt " +
      "WHERE d >= '1996-02-10' AND d <= '1996-03-05'")
    val scan = keyedScanOf(q)
    assert(scan.planInputPartitions().length == 2,
      "expected only the 1996-02 and 1996-03 directories")
    assert(q.count() ==
      (0 until 120).map(i => java.time.LocalDate.of(1996, 1, 1).plusDays(i))
        .count(d => { val s = d.toString; s >= "1996-02-10" && s <= "1996-03-05" }))
    // equality prunes to ONE month
    val e = spark.sql(s"SELECT v FROM $cat.wh.tt WHERE d = '1996-04-03'")
    assert(keyedScanOf(e).planInputPartitions().length == 1)
    assert(e.head().getLong(0) ==
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(1996, 1, 1), java.time.LocalDate.of(1996, 4, 3)))
  }

  test("integral truncate(1000, v): width bins, range pruning, lossless values") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.ti (k STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(1000, v)) TBLPROPERTIES('versioned'='true')")
    spark.range(0, 5000).createOrReplaceTempView("ti_src")
    spark.sql(s"INSERT INTO $cat.wh.ti SELECT concat('k', id), id FROM ti_src")
    val rels = GraftLog.latest(new HPath(s"$wh/wh/ti"), hconf).map(_.rel)
    val dirs = rels.map(r => r.substring(0, r.indexOf('/'))).distinct.sorted
    assert(dirs.toSet == (0 until 5).map(i => s"v_trunc=${i * 1000}").toSet,
      s"got $dirs")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.wh.ti").head().getLong(0) ==
      (0L until 5000L).sum)
    val q = spark.sql(s"SELECT count(*) FROM $cat.wh.ti WHERE v >= 2500 AND v < 3200")
    assert(keyedScanOf(q).planInputPartitions().length == 2) // bins 2000, 3000
    assert(q.head().getLong(0) == 700)
  }

  test("two same-truncated tables join with ZERO exchange (SPJ on the transform)") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.tja (m STRING, a BIGINT) " +
      "PARTITIONED BY (truncate(7, m)) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"CREATE TABLE $cat.wh.tjb (m STRING, b BIGINT) " +
      "PARTITIONED BY (truncate(7, m)) TBLPROPERTIES('versioned'='true')")
    spark.range(0, 90).createOrReplaceTempView("tj_src")
    spark.sql(s"INSERT INTO $cat.wh.tja SELECT " +
      "date_format(date_add(DATE'1996-01-01', CAST(id AS INT)), 'yyyy-MM-dd'), id FROM tj_src")
    spark.sql(s"INSERT INTO $cat.wh.tjb SELECT " +
      "date_format(date_add(DATE'1996-01-01', CAST(id AS INT)), 'yyyy-MM-dd'), id * 2 FROM tj_src")
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.sql(s"""SELECT a.m, a.a, b.b
        FROM $cat.wh.tja a JOIN $cat.wh.tjb b ON a.m = b.m""")
      val exchanges = allNodes(j).filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(exchanges.isEmpty,
        s"truncated SPJ must plan zero exchange; got:\n${j.queryExecution.executedPlan}")
      assert(j.count() == 90)
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("SHOW TBLPROPERTIES surfaces the bucket contract; unversioned bucketed tables read back too") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.bp (k STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(3, k))")
    spark.sql(s"INSERT INTO $cat.wh.bp VALUES ('x', 1), ('y', 2), ('z', 3)")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.wh.bp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("bucket").contains("bucket(3, k)"))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.wh.bp").head().getLong(0) == 6L)
    // equality pruning holds on the listed (unversioned) face as well
    val q = spark.sql(s"SELECT v FROM $cat.wh.bp WHERE k = 'x'")
    assert(keyedScanOf(q).planInputPartitions().length == 1)
    assert(q.head().getLong(0) == 1L)
  }
}
