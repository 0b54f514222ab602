package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The write modes' drop decision, face by face: a static key
  * overwrite (`writeTo(t).overwrite(k = v)`, or `INSERT OVERWRITE t
  * PARTITION (k = v)` in SQL) replaces exactly that key's
  * files (unversioned: the directory; versioned: the manifest entries,
  * the prior version still readable AS OF), a dynamic overwrite on a
  * versioned table replaces exactly the keys it writes, and a
  * complete-mode stream into a versioned table replaces the live set
  * with each epoch's files. */
class CommitModeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cat = "graftcm"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_commitmode_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }
  private def hconf = spark.sessionState.newHadoopConf()

  private def rows(sql: String): Seq[(String, Long)] =
    spark.sql(sql).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** (path → mtime) of every part file under `g=<key>`. */
  private def keyFiles(table: String, key: String): Map[String, Long] =
    Option(new java.io.File(s"$wh/wh/$table/g=$key").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".csv")).map(f => f.getPath -> f.lastModified()).toMap

  /** Static key overwrite: `DataFrameWriterV2.overwrite(g = 'b')`, an
    * OverwriteByExpression whose `EqualTo` reaches the sink's
    * `canOverwrite`/`overwrite(filters)`. */
  private def overwriteB(table: String): Unit = {
    import spark.implicits._
    Seq(("b", 20L)).toDF("g", "v").writeTo(s"$cat.wh.$table").overwrite($"g" === "b")
  }

  private def createLoaded(table: String, versioned: Boolean): Unit = {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.$table (g STRING, v BIGINT) PARTITIONED BY (g)" +
      (if (versioned) " TBLPROPERTIES('versioned'='true')" else ""))
    spark.sql(s"INSERT INTO $cat.wh.$table VALUES ('a', 1), ('b', 2), ('c', 3)")
  }

  test("static key overwrite (g = v), unversioned: only that key's files are replaced") {
    createLoaded("so_u", versioned = false)
    val a = keyFiles("so_u", "a"); val b = keyFiles("so_u", "b"); val c = keyFiles("so_u", "c")
    assert(Seq(a, b, c).forall(_.size == 1))
    overwriteB("so_u")
    assert(rows(s"SELECT g, v FROM $cat.wh.so_u ORDER BY g, v") ==
      Seq(("a", 1L), ("b", 20L), ("c", 3L)))
    // untouched keys keep their exact files; the overwritten key holds
    // one file, and it is not the one it held before
    assert(keyFiles("so_u", "a") == a && keyFiles("so_u", "c") == c)
    val bAfter = keyFiles("so_u", "b")
    assert(bAfter.size == 1 && bAfter.keySet != b.keySet)
  }

  test("static key overwrite in SQL, INSERT OVERWRITE t PARTITION (g = v): only that key's files are replaced") {
    // Spark hands the sink the null-safe `g <=> 'b'` for this form
    createLoaded("so_sql", versioned = false)
    val a = keyFiles("so_sql", "a"); val b = keyFiles("so_sql", "b")
    val c = keyFiles("so_sql", "c")
    spark.sql(s"INSERT OVERWRITE $cat.wh.so_sql PARTITION (g = 'b') SELECT 20L AS v")
    assert(rows(s"SELECT g, v FROM $cat.wh.so_sql ORDER BY g, v") ==
      Seq(("a", 1L), ("b", 20L), ("c", 3L)))
    assert(keyFiles("so_sql", "a") == a && keyFiles("so_sql", "c") == c)
    val bAfter = keyFiles("so_sql", "b")
    assert(bAfter.size == 1 && bAfter.keySet != b.keySet)
  }

  test("static key overwrite (g = v), versioned: only that key's entries are replaced, the prior version reads AS OF") {
    createLoaded("so_v", versioned = true)
    val root = new HPath(s"$wh/wh/so_v")
    val v1 = GraftLog.latest(root, hconf).map(_.rel).toSet
    overwriteB("so_v")
    assert(rows(s"SELECT g, v FROM $cat.wh.so_v ORDER BY g, v") ==
      Seq(("a", 1L), ("b", 20L), ("c", 3L)))
    assert(rows(s"SELECT g, v FROM $cat.wh.so_v VERSION AS OF 1 ORDER BY g, v") ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    assert(GraftLog.versions(root, hconf) == Seq(1, 2))
    val v2 = GraftLog.latest(root, hconf).map(_.rel).toSet
    // the a/c entries carried over unchanged; b's entry swapped for a new one
    assert(v2.filterNot(_.startsWith("g=b/")) == v1.filterNot(_.startsWith("g=b/")))
    val (bOld, bNew) = (v1.filter(_.startsWith("g=b/")), v2.filter(_.startsWith("g=b/")))
    assert(bOld.size == 1 && bNew.size == 1 && bOld != bNew)
    // logical: the replaced file is still on disk for version 1
    assert(new java.io.File(s"$wh/wh/so_v/${bOld.head}").exists())
  }

  test("dynamic INSERT OVERWRITE on a versioned table replaces only the touched keys' entries") {
    createLoaded("dyn_v", versioned = true)
    val root = new HPath(s"$wh/wh/dyn_v")
    val v1 = GraftLog.latest(root, hconf).map(_.rel).toSet
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
      spark.sql(s"INSERT OVERWRITE $cat.wh.dyn_v VALUES ('b', 20), ('c', 30), ('c', 31)")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(rows(s"SELECT g, v FROM $cat.wh.dyn_v ORDER BY g, v") ==
      Seq(("a", 1L), ("b", 20L), ("c", 30L), ("c", 31L)))
    assert(rows(s"SELECT g, v FROM $cat.wh.dyn_v VERSION AS OF 1 ORDER BY g, v") ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    val v2 = GraftLog.latest(root, hconf).map(_.rel).toSet
    // the unwritten key's entry is the same file; b and c were replaced
    assert(v2.filter(_.startsWith("g=a/")) == v1.filter(_.startsWith("g=a/")))
    assert(v2.filterNot(_.startsWith("g=a/")).intersect(v1).isEmpty)
    assert(v2.count(_.startsWith("g=b/")) == 1 && v2.count(_.startsWith("g=c/")) == 1)
  }

  test("complete-mode streaming into a versioned table: each epoch's manifest replaces the live set") {
    wh
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.wh.cmp (g STRING, v BIGINT) TBLPROPERTIES('versioned'='true')")
    val root = new HPath(s"$wh/wh/cmp")
    val mem = MemoryStream[(String, Long)]
    val ckpt = graft.Scratch.path(s"graft_commitmode_${ProcessHandle.current().pid()}_" +
      s"${System.nanoTime()}_cmp_ckpt")
    def drain(): Unit = {
      val q = mem.toDF().toDF("g", "n").groupBy("g").agg(sum("n").as("v"))
        .writeStream
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wh.cmp")
      q.awaitTermination()
    }
    mem.addData(("a", 1L), ("b", 2L))
    drain()
    val e0 = GraftLog.latest(root, hconf).map(_.rel).toSet
    mem.addData(("a", 10L), ("c", 4L))
    drain()
    assert(GraftLog.versions(root, hconf) == Seq(1, 2))
    // the second epoch's aggregate alone: no row of the first survives
    assert(rows(s"SELECT g, v FROM $cat.wh.cmp ORDER BY g") ==
      Seq(("a", 11L), ("b", 2L), ("c", 4L)))
    assert(rows(s"SELECT g, v FROM $cat.wh.cmp VERSION AS OF 1 ORDER BY g") ==
      Seq(("a", 1L), ("b", 2L)))
    val e1 = GraftLog.latest(root, hconf).map(_.rel).toSet
    assert(e0.nonEmpty && e1.nonEmpty && e0.intersect(e1).isEmpty,
      s"epoch 1's manifest still names epoch 0's files: $e0 / $e1")
    // both epochs ride the txn ledger under the stream's one app id
    val txns = GraftLog.resolveTxns(root, hconf, 2)
    assert(txns.size == 1 && txns.head._2 == 1L, s"ledger: $txns")
  }
}
