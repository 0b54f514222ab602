package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming writes INTO versioned catalog tables (r15):
  * `writeStream.toTable("graft.wh.t")` commits one manifest per epoch
  * with a `txn` (appId, epoch) record — the exactly-once ledger. Pins:
  * partitioned epoch commits land in key directories with per-epoch
  * manifests; a checkpoint-replayed epoch is recognized from the
  * ledger and skipped (no duplicate rows, no extra manifest); the
  * streamed commits serve the changefeed like any INSERT. */
class VersionedStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cat = "graftvs"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_vstream_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }
  private def hconf = spark.sessionState.newHadoopConf()
  private def dir(name: String) =
    graft.Scratch.path(s"graft_vstream_${ProcessHandle.current().pid()}_" +
      s"${java.lang.System.nanoTime()}_$name")

  test("each micro-batch is one manifest commit; partitioned keys land in their directories") {
    wh
    implicit val sqlCtx = spark.sqlContext
    spark.sql(s"CREATE TABLE $cat.wh.st (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    val mem = MemoryStream[(String, Long)]
    val ckpt = dir("st_ckpt")
    def drain(): Unit = {
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wh.st")
      q.awaitTermination()
    }
    mem.addData(("a", 1L), ("b", 2L))
    drain()
    mem.addData(("a", 3L), ("c", 4L))
    drain()

    assert(spark.sql(s"SELECT k, v FROM $cat.wh.st ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L), ("a", 3L), ("c", 4L)))
    val root = new HPath(s"$wh/wh/st")
    // two epochs → two manifests, ledger at epoch 1
    assert(GraftLog.versions(root, hconf) == Seq(1, 2))
    // rows landed under their key directories (hive layout held)
    val rels = GraftLog.latest(root, hconf).map(_.rel)
    assert(rels.count(_.startsWith("k=a/")) == 2) // one per epoch
    assert(rels.count(_.startsWith("k=b/")) == 1)
    assert(rels.count(_.startsWith("k=c/")) == 1)
    // both epochs are in the txn ledger under the stream's stable id
    val apps = GraftLog.resolveTxns(root, hconf, 2)
    assert(apps.size == 1 && apps.head._2 == 1L,
      s"expected one app at epoch 1, got $apps")
    // time travel sees the first epoch only
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.st VERSION AS OF 1")
      .head().getLong(0) == 2)
  }

  test("a checkpoint-replayed epoch is skipped from the ledger: no duplicates, no new manifest") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.str (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    // file source: replayable across restarts (MemoryStream is not)
    val staging = dir("str_src"); val ckpt = dir("str_ckpt")
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v").write.parquet(staging)
    def run(): Unit = {
      val q = spark.readStream.schema("k STRING, v LONG").parquet(staging)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wh.str")
      q.awaitTermination()
    }
    run()
    val root = new HPath(s"$wh/wh/str")
    assert(GraftLog.versions(root, hconf) == Seq(1))
    // simulate a crash between the sink's manifest commit and Spark's
    // own checkpoint commit: drop the commit marker so the restart
    // REPLAYS epoch 0 with the same data
    val commits = new java.io.File(s"$ckpt/commits/0")
    assert(commits.exists, "expected checkpoint commit marker for epoch 0")
    assert(commits.delete())
    // the local FS keeps a checksum twin; leaving it behind makes
    // Spark's atomic re-create of commits/0 look like a concurrent query
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    run()
    // the replay was recognized from the manifest txn ledger: same
    // rows, same single manifest — exactly-once held
    assert(spark.sql(s"SELECT k, v FROM $cat.wh.str ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    assert(GraftLog.versions(root, hconf) == Seq(1))
    // no stray uncommitted files either: the skip fired before publish
    assert(GraftLog.latest(root, hconf).length == 2)
  }

  test("streamed commits serve the changefeed and appends stream like any INSERT") {
    wh
    implicit val sqlCtx = spark.sqlContext
    spark.sql(s"CREATE TABLE $cat.wh.stc (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    val mem = MemoryStream[(String, Long)]
    val ckpt = dir("stc_ckpt")
    mem.addData(("a", 1L), ("b", 2L))
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.wh.stc")
    q.awaitTermination()
    val changes = spark.sql(
      s"SELECT k, v, _change_type, _commit_version FROM $cat.wh.stc.changes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .sortBy(_._2)
    assert(changes.toSeq ==
      Seq(("a", 1L, "insert", 1), ("b", 2L, "insert", 1)))
  }

  test("an unversioned catalog table refuses streaming writes at planning") {
    wh
    implicit val sqlCtx = spark.sqlContext
    spark.sql(s"CREATE TABLE $cat.wh.stp (k STRING, v BIGINT) PARTITIONED BY (k)")
    val mem = MemoryStream[(String, Long)]
    mem.addData(("a", 1L))
    val err = intercept[Exception] {
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", dir("stp_ckpt"))
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wh.stp")
      q.awaitTermination()
    }
    assert(err != null) // capability absent → refused before any write
  }
}
