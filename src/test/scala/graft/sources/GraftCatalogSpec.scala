package graft.sources

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The catalog face of the graft storage engine: SQL DDL/DML end to
  * end — CREATE NAMESPACE / CREATE TABLE … PARTITIONED BY / INSERT INTO
  * (append semantics, engine-clustered) / SELECT (directory pruning,
  * storage-partitioned join) / SHOW / RENAME / DROP. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cat = "graftsql"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_catalog_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }

  private def liView(): Unit =
    graft.Tables.lineitem(spark, TestSpark.sf0001).createOrReplaceTempView("li_cat")

  test("CREATE TABLE PARTITIONED BY + INSERT INTO writes the hive layout, engine-clustered") {
    wh; liView()
    spark.sql(s"CREATE TABLE $cat.wh.li_m (m STRING, flag STRING, n BIGINT) PARTITIONED BY (m)")
    spark.sql(
      s"""INSERT INTO $cat.wh.li_m
         |SELECT date_format(l_shipdate, 'yyyy-MM') AS m, l_returnflag AS flag,
         |       count(*) AS n
         |FROM li_cat GROUP BY 1, 2""".stripMargin)
    // layout on disk: key dirs under the table dir, no top-level parts
    val tdir = new java.io.File(s"$wh/wh/li_m")
    val keyDirs = tdir.listFiles().filter(f => f.isDirectory && f.getName.startsWith("m="))
    assert(keyDirs.nonEmpty, s"no key dirs in ${tdir.listFiles().map(_.getName).toSeq}")
    assert(keyDirs.forall(_.listFiles().count(_.getName.endsWith(".csv")) == 1))
    // values match the source aggregate
    val got = spark.sql(s"SELECT m, flag, n FROM $cat.wh.li_m ORDER BY m, flag").collect()
    val want = spark.sql(
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS m, l_returnflag AS flag,
        |       count(*) AS n FROM li_cat GROUP BY 1, 2 ORDER BY m, flag""".stripMargin)
      .collect()
    assert(got.toSeq == want.toSeq)
  }

  test("INSERT INTO appends (tagged file names); INSERT OVERWRITE truncates") {
    wh; liView()
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.appendt (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.appendt VALUES ('a', 1), ('b', 2)")
    spark.sql(s"INSERT INTO $cat.wh.appendt VALUES ('a', 3)")
    val rows = spark.sql(s"SELECT g, v FROM $cat.wh.appendt ORDER BY g, v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 1L), ("a", 3L), ("b", 2L)),
      s"append lost or duplicated rows: $rows")
    // the a-key dir holds TWO tagged files (one per insert)
    val aDir = new java.io.File(s"$wh/wh/appendt/g=a")
    assert(aDir.listFiles().count(_.getName.endsWith(".csv")) == 2)
    spark.sql(s"INSERT OVERWRITE $cat.wh.appendt VALUES ('c', 9)")
    val after = spark.sql(s"SELECT g, v FROM $cat.wh.appendt").collect()
    assert(after.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("c", 9L)))
  }

  test("SELECT with a key predicate prunes directories at planning time") {
    wh; liView()
    val q = spark.sql(s"SELECT m, sum(n) AS total FROM $cat.wh.li_m WHERE m >= '1996-01' GROUP BY m ORDER BY m")
    val scan = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val keyed = scan.scan.asInstanceOf[KeyedCsvScan]
    assert(keyed.partFilters.nonEmpty, "key predicate did not reach partition pruning")
    assert(q.collect().nonEmpty)
  }

  test("SQL storage-partitioned join between two catalog tables: zero exchange below the SMJ") {
    wh; liView()
    graft.Tables.orders(spark, TestSpark.sf0001).createOrReplaceTempView("o_cat")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.o_m (m STRING, n_orders BIGINT) PARTITIONED BY (m)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.o_m SELECT date_format(o_orderdate, 'yyyy-MM'), count(*) FROM o_cat GROUP BY 1")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.l_m (m STRING, n_items BIGINT) PARTITIONED BY (m)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.l_m SELECT date_format(l_shipdate, 'yyyy-MM'), count(*) FROM li_cat GROUP BY 1")
    val j = spark.sql(
      s"""SELECT /*+ MERGE(a) */ a.m, a.n_orders, b.n_items
         |FROM $cat.wh.o_m a JOIN $cat.wh.l_m b ON a.m = b.m
         |ORDER BY a.m""".stripMargin)
    val rows = j.collect()
    assert(rows.length > 10)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case other => p +: other.children.flatMap(flatten)
    }
    val all = flatten(j.queryExecution.executedPlan)
    val smjs = all.collect { case s: SortMergeJoinExec => s }
    assert(smjs.nonEmpty, s"expected SMJ:\n${all.head}")
    val below = flatten(smjs.head).drop(1)
    assert(below.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"SQL SPJ still shuffles:\n${smjs.head}")
    assert(below.collect { case s: SortExec => s }.isEmpty,
      s"SQL SPJ still sorts:\n${smjs.head}")
  }

  test("_file metadata column distinguishes appended writes on the keyed scan") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.filecol (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.filecol VALUES ('a', 1), ('b', 2)")
    spark.sql(s"INSERT INTO $cat.wh.filecol VALUES ('a', 3)")
    val rows = spark.sql(
      s"SELECT g, v, _file FROM $cat.wh.filecol ORDER BY g, v").collect()
    assert(rows.length == 3)
    // the two a-rows came from DIFFERENT files (different INSERTs);
    // each reported file really lives in its row's key directory
    val aFiles = rows.filter(_.getString(0) == "a").map(_.getString(2))
    assert(aFiles.distinct.length == 2, s"append provenance lost: ${aFiles.toSeq}")
    assert(rows.forall(r => r.getString(2).contains(s"g=${r.getString(0)}")))
  }

  test("catalog functions resolve in SQL and match the session expressions") {
    wh
    val r = spark.sql(
      s"""SELECT $cat.dotp(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
         |       $cat.poly31('hello world') AS p,
         |       $cat.hamming64(255, 0) AS h""".stripMargin).head()
    assert(r.getDouble(0) == 32.0)
    assert(r.getLong(1) == graft.functions.Poly31Hash.hash("hello world"))
    assert(r.getInt(2) == 8)
    // over real data: identical to the session-injected Catalyst
    // Expression on every document (same fold/hash implementations)
    graft.functions.Poly31Hash.register(spark)
    graft.Tables.documents(spark, TestSpark.sf0001)
      .createOrReplaceTempView("docs_fn")
    val diff = spark.sql(
      s"SELECT count(*) AS n FROM docs_fn WHERE $cat.poly31(text) <> poly31(text)")
      .head().getLong(0)
    assert(diff == 0L, s"$diff documents disagree between catalog fn and expression")
    // float arrays bind via the declared-type cast (array<float> input)
    graft.Tables.embeddings(spark, TestSpark.sf0001)
      .createOrReplaceTempView("emb_fn")
    val n2 = spark.sql(
      s"SELECT sum(CASE WHEN $cat.dotp(embedding, embedding) >= 0 THEN 1 ELSE 0 END) AS n FROM emb_fn")
      .head().getLong(0)
    assert(n2 > 0)
    assert(spark.sql(s"SHOW FUNCTIONS IN $cat").collect()
      .map(_.getString(0)).exists(_.endsWith("dotp")))
  }

  test("DELETE FROM a key slice drops whole directories; surviving files untouched") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.delt (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.delt VALUES ('a', 1), ('b', 2), ('c', 3), ('d', 4)")
    val tdir = new java.io.File(s"$wh/wh/delt")
    def partFiles() = tdir.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".csv"))
      .map(f => f.getPath -> f.lastModified()).toMap
    val before = partFiles()
    assert(before.size == 4)
    spark.sql(s"DELETE FROM $cat.wh.delt WHERE g >= 'b' AND g <= 'c'")
    val rows = spark.sql(s"SELECT g, v FROM $cat.wh.delt ORDER BY g").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("d", 4L)))
    // metadata-op evidence: matching dirs are GONE, surviving part files
    // keep their exact paths and mtimes (never rewritten, never touched)
    val after = partFiles()
    assert(!tdir.listFiles().exists(f => f.getName == "g=b" || f.getName == "g=c"))
    assert(after == before.filter { case (p, _) =>
      p.contains("g=a") || p.contains("g=d") },
      "surviving files were rewritten or moved by DELETE")
    // IN-list deletes work too
    spark.sql(s"DELETE FROM $cat.wh.delt WHERE g IN ('d')")
    assert(spark.sql(s"SELECT g FROM $cat.wh.delt").collect().map(_.getString(0)).toSeq == Seq("a"))
    // unconditional DELETE empties the table but keeps it queryable
    spark.sql(s"DELETE FROM $cat.wh.delt")
    assert(spark.sql(s"SELECT * FROM $cat.wh.delt").count() == 0)
    // payload predicates fall to the copy-on-write path (r14): only
    // groups containing matching rows are rewritten
    spark.sql(s"INSERT INTO $cat.wh.delt VALUES ('e', 5), ('e', 6)")
    spark.sql(s"INSERT INTO $cat.wh.delt VALUES ('f', 7)")
    val fFiles = new java.io.File(tdir, "g=f").listFiles()
      .filter(_.getName.endsWith(".csv")).map(f => f.getPath -> f.lastModified()).toMap
    spark.sql(s"DELETE FROM $cat.wh.delt WHERE v = 5")
    val left = spark.sql(s"SELECT g, v FROM $cat.wh.delt ORDER BY g, v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(left == Seq(("e", 6L), ("f", 7L)), s"cow DELETE produced $left")
    // the group WITHOUT matching rows was not rewritten
    assert(new java.io.File(tdir, "g=f").listFiles()
      .filter(_.getName.endsWith(".csv"))
      .map(f => f.getPath -> f.lastModified()).toMap == fFiles,
      "cow DELETE rewrote an unaffected group")
  }

  test("UPDATE rewrites only affected groups; key updates move rows across directories") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.cow (g STRING, v BIGINT, note STRING) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.cow VALUES " +
      "('a', 1, 'x'), ('a', 2, 'y'), ('b', 3, 'z'), ('c', 4, 'w')")
    val tdir = new java.io.File(s"$wh/wh/cow")
    def filesOf(key: String): Map[String, Long] = {
      val d = new java.io.File(tdir, s"g=$key")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".csv"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val aBefore = filesOf("a")
    // payload update on one key's rows: only that group rewrites
    spark.sql(s"UPDATE $cat.wh.cow SET v = v + 100 WHERE g = 'b'")
    val rows = spark.sql(s"SELECT g, v, note FROM $cat.wh.cow ORDER BY g, v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 103L, "z"),
      ("c", 4L, "w")), s"UPDATE produced $rows")
    assert(filesOf("a") == aBefore, "UPDATE rewrote an unaffected group")
    assert(filesOf("b").keySet.intersect(aBefore.keySet).isEmpty)
    // updating the PARTITION KEY moves rows to their new directory
    spark.sql(s"UPDATE $cat.wh.cow SET g = 'z' WHERE g = 'c'")
    assert(!new java.io.File(tdir, "g=c").exists(),
      "emptied key directory survived a key-moving UPDATE")
    val moved = spark.sql(s"SELECT g, v FROM $cat.wh.cow WHERE g = 'z'").collect()
    assert(moved.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("z", 4L)))
    assert(filesOf("a") == aBefore, "key-moving UPDATE touched an unaffected group")
  }

  test("MERGE INTO: matched update + not-matched insert, unaffected groups untouched") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.mrg (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.mrg VALUES ('a', 1), ('b', 2), ('c', 3)")
    val tdir = new java.io.File(s"$wh/wh/mrg")
    def filesOf(key: String): Map[String, Long] = {
      val d = new java.io.File(tdir, s"g=$key")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".csv"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val aBefore = filesOf("a")
    Seq(("b", 20L), ("d", 40L)).toDF("g", "v").createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.wh.mrg t USING mrg_src s ON t.g = s.g
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (g, v) VALUES (s.g, s.v)""".stripMargin)
    val rows = spark.sql(s"SELECT g, v FROM $cat.wh.mrg ORDER BY g").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 1L), ("b", 20L), ("c", 3L), ("d", 40L)),
      s"MERGE produced $rows")
    assert(filesOf("a") == aBefore, "MERGE rewrote an unaffected group")
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, old files null-fill") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.evo (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.evo VALUES ('a', 1), ('b', 2)")
    val tdir = new java.io.File(s"$wh/wh/evo")
    def files() = tdir.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".csv"))
      .map(f => f.getPath -> f.lastModified()).toMap
    val before = files()
    spark.sql(s"ALTER TABLE $cat.wh.evo ADD COLUMN note STRING")
    // pure metadata: no part file was rewritten
    assert(files() == before, "ALTER TABLE rewrote data files")
    // old rows read back with the new column null-filled
    val rows = spark.sql(
      s"SELECT g, v, note FROM $cat.wh.evo ORDER BY g").collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(2)),
      s"pre-evolution rows must null-fill: ${rows.mkString(", ")}")
    // new INSERTs carry the column; mixed generations read together
    spark.sql(s"INSERT INTO $cat.wh.evo VALUES ('c', 3, 'hello')")
    val all = spark.sql(s"SELECT g, v, note FROM $cat.wh.evo ORDER BY g").collect()
    assert(all.map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) null else r.getString(2))).toSeq ==
      Seq(("a", 1L, null), ("b", 2L, null), ("c", 3L, "hello")))
    // refusals: NOT NULL, duplicate, nested, non-ADD changes
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wh.evo ADD COLUMN v BIGINT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wh.evo ADD COLUMN strict STRING NOT NULL")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wh.evo DROP COLUMN note")
    }
  }

  test("dynamic INSERT OVERWRITE replaces only the touched keys") {
    wh
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.dyn (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.dyn VALUES ('a', 1), ('b', 2), ('c', 3)")
    val tdir = new java.io.File(s"$wh/wh/dyn")
    def filesOf(key: String) = new java.io.File(tdir, s"g=$key").listFiles()
      .filter(_.getName.endsWith(".csv")).map(f => f.getPath -> f.lastModified()).toMap
    val aBefore = filesOf("a")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
      spark.sql(s"INSERT OVERWRITE $cat.wh.dyn VALUES ('b', 20), ('c', 30), ('c', 31)")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    val rows = spark.sql(s"SELECT g, v FROM $cat.wh.dyn ORDER BY g, v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 1L), ("b", 20L), ("c", 30L), ("c", 31L)),
      s"dynamic overwrite produced $rows")
    // the untouched key's files are bit-identical (same path, same mtime)
    assert(filesOf("a") == aBefore, "dynamic overwrite touched an unwritten key")
  }

  test("compound PARTITIONED BY (m, rf): nested layout, SPJ on both keys, DELETE cleans empty parents") {
    wh; liView()
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_mk " +
      "(m STRING, rf STRING, n BIGINT) PARTITIONED BY (m, rf)")
    spark.sql(
      s"""INSERT OVERWRITE $cat.wh.li_mk
         |SELECT date_format(l_shipdate, 'yyyy-MM'), l_returnflag, count(*)
         |FROM li_cat GROUP BY 1, 2""".stripMargin)
    // nested m=…/rf=… on disk
    val tdir = new java.io.File(s"$wh/wh/li_mk")
    val mDirs = tdir.listFiles().filter(f => f.isDirectory && f.getName.startsWith("m="))
    assert(mDirs.nonEmpty)
    assert(mDirs.forall(_.listFiles().forall(d =>
      d.isDirectory && d.getName.startsWith("rf="))))
    // values match; key predicates on EITHER column prune
    val got = spark.sql(
      s"SELECT m, rf, n FROM $cat.wh.li_mk WHERE rf = 'R' ORDER BY m").collect()
    val want = spark.sql(
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS m, l_returnflag AS rf,
        |count(*) AS n FROM li_cat WHERE l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY m""".stripMargin).collect()
    assert(got.toSeq == want.toSeq)
    // SPJ on the compound key between two catalog tables
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.li_mk2 " +
      "(m STRING, rf STRING, q DOUBLE) PARTITIONED BY (m, rf)")
    spark.sql(
      s"""INSERT OVERWRITE $cat.wh.li_mk2
         |SELECT date_format(l_shipdate, 'yyyy-MM'), l_returnflag,
         |       CAST(sum(l_quantity) AS DOUBLE)
         |FROM li_cat GROUP BY 1, 2""".stripMargin)
    val j = spark.sql(
      s"""SELECT /*+ MERGE(a) */ a.m, a.rf, a.n, b.q
         |FROM $cat.wh.li_mk a JOIN $cat.wh.li_mk2 b
         |  ON a.m = b.m AND a.rf = b.rf
         |ORDER BY a.m, a.rf""".stripMargin)
    assert(j.collect().length > 10)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case other => p +: other.children.flatMap(flatten)
    }
    val smjs = flatten(j.queryExecution.executedPlan)
      .collect { case s: SortMergeJoinExec => s }
    assert(smjs.nonEmpty)
    val below = flatten(smjs.head).drop(1)
    assert(below.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"compound-key catalog SPJ still shuffles:\n${smjs.head}")
    assert(below.collect { case s: SortExec => s }.isEmpty,
      s"compound-key catalog SPJ still sorts:\n${smjs.head}")
    // DELETE on the SECOND key deletes leaves and prunes emptied parents
    spark.sql(s"DELETE FROM $cat.wh.li_mk WHERE rf <> 'R'")
    val left = spark.sql(s"SELECT DISTINCT rf FROM $cat.wh.li_mk").collect()
    assert(left.map(_.getString(0)).toSeq == Seq("R"))
    // no m= directory is left without children
    val after = tdir.listFiles().filter(f => f.isDirectory && f.getName.startsWith("m="))
    assert(after.forall(_.listFiles().nonEmpty),
      "DELETE left empty parent key directories behind")
  }

  test("CREATE VIEW: stored query re-resolves per read; SHOW/RENAME/DROP") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.vt (g STRING, v BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.vt VALUES ('a', 1), ('b', 2), ('b', 3)")
    spark.sql(s"CREATE VIEW $cat.wh.v_agg AS " +
      s"SELECT g, sum(v) AS total FROM $cat.wh.vt GROUP BY g")
    def rows() = spark.sql(s"SELECT g, total FROM $cat.wh.v_agg ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows() == Seq(("a", 1L), ("b", 5L)))
    // the view is METADATA — later INSERTs are visible through it
    spark.sql(s"INSERT INTO $cat.wh.vt VALUES ('a', 10)")
    assert(rows() == Seq(("a", 11L), ("b", 5L)))
    // listed next to (not as) tables
    val views = spark.sql(s"SHOW VIEWS IN $cat.wh").collect().map(_.getString(1)).toSet
    assert(views.contains("v_agg"))
    assert(!spark.sql(s"SHOW TABLES IN $cat.wh").collect()
      .map(_.getString(1)).contains("v_agg"))
    // rename, read through the new name, drop
    spark.sql(s"ALTER VIEW $cat.wh.v_agg RENAME TO wh.v_agg2")
    assert(spark.sql(s"SELECT * FROM $cat.wh.v_agg2").count() == 2)
    spark.sql(s"DROP VIEW $cat.wh.v_agg2")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.v_agg2").collect()
    }
    // a view name cannot shadow an existing table
    intercept[Exception] {
      spark.sql(s"CREATE VIEW $cat.wh.vt AS SELECT 1 AS one")
    }
  }

  test("functions do not resolve under nonexistent namespaces") {
    wh
    // advice r13: graft.any.thing.dotp must NOT resolve — the
    // FunctionCatalog validates the namespace like TableCatalog does
    val e = intercept[Exception] {
      spark.sql(s"SELECT $cat.no.such.ns.dotp(array(1.0D), array(1.0D))").collect()
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(m =>
        m.contains("not") || m.contains("NOT_FOUND") || m.contains("CANNOT")) ||
        msg(t.getCause))
    assert(msg(e), s"unexpected error shape: $e")
    val e2 = intercept[Exception] {
      spark.sql(s"SHOW FUNCTIONS IN $cat.no_such_ns").collect()
    }
    assert(msg(e2), s"unexpected error shape: $e2")
    // existing namespaces (and the catalog top level) still serve them
    assert(spark.sql(s"SHOW FUNCTIONS IN $cat.wh").collect()
      .map(_.getString(0)).exists(_.endsWith("dotp")))
  }

  test("SHOW TABLES / RENAME / DROP / error shapes") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.misc (a STRING, b BIGINT)")
    val names = spark.sql(s"SHOW TABLES IN $cat.wh").collect().map(_.getString(1)).toSet
    assert(names.contains("misc"))
    spark.sql(s"ALTER TABLE $cat.wh.misc RENAME TO wh.misc2")
    assert(!spark.catalog.tableExists(s"$cat.wh.misc"))
    spark.sql(s"INSERT INTO $cat.wh.misc2 VALUES ('x', 1)")
    assert(spark.sql(s"SELECT * FROM $cat.wh.misc2").count() == 1)
    spark.sql(s"DROP TABLE $cat.wh.misc2")
    assert(!spark.catalog.tableExists(s"$cat.wh.misc2"))
    // unpartitioned table writes flat part files with the append tag
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.flat (a STRING, b BIGINT)")
    spark.sql(s"INSERT INTO $cat.wh.flat VALUES ('x', 1)")
    spark.sql(s"INSERT INTO $cat.wh.flat VALUES ('y', 2)")
    assert(spark.sql(s"SELECT * FROM $cat.wh.flat").count() == 2,
      "second flat INSERT overwrote the first")
    // float partition keys are rejected at CREATE time
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.wh.badpart (x DOUBLE, y BIGINT) PARTITIONED BY (x)")
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("partition")) || msg(t.getCause))
    assert(msg(e))
  }
}
