package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Versioned catalog tables (GraftLog): every commit appends a manifest
  * of the complete live-file list; DML is logical (no file a previous
  * version references is ever touched until VACUUM); reads resolve one
  * manifest instead of listing; `VERSION AS OF` / `TIMESTAMP AS OF`
  * time-travel; VACUUM reclaims space and enforces the retention
  * horizon loudly. */
class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cat = "graftver"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_versioned_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }

  private def hconf = spark.sessionState.newHadoopConf()

  private def dataFiles(tableDir: String): Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.flatMap { f =>
        if (f.isDirectory && !f.getName.startsWith("_")) walk(f)
        else if (f.isFile && f.getName.startsWith("part-") &&
          f.getName.endsWith(".csv")) Seq(f)
        else Nil
      }
    }
    walk(new java.io.File(tableDir))
  }

  test("DML is logical: DELETE drops no bytes, VERSION AS OF serves the deleted year") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vt (m STRING, n BIGINT) PARTITIONED BY (m) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.range(0, 1200).createOrReplaceTempView("vt_src")
    spark.sql(s"INSERT INTO $cat.wh.vt " +
      "SELECT concat('m', id % 12), count(*) FROM vt_src GROUP BY 1")
    val tdir = s"$wh/wh/vt"
    val afterInsert = dataFiles(tdir).map(f => f.getPath -> f.lastModified()).toMap
    assert(afterInsert.size == 12)

    spark.sql(s"DELETE FROM $cat.wh.vt WHERE m = 'm3'")
    // current read excludes m3; every byte is still on disk, untouched
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.vt").head().getLong(0) == 11)
    val afterDelete = dataFiles(tdir).map(f => f.getPath -> f.lastModified()).toMap
    assert(afterDelete == afterInsert, "logical DELETE must not touch files")
    // v1 still serves the deleted key
    val v1 = spark.sql(s"SELECT m FROM $cat.wh.vt VERSION AS OF 1 WHERE m = 'm3'")
    assert(v1.count() == 1)
    // manifest chain is v1 (insert), v2 (delete)
    assert(GraftLog.versions(new HPath(tdir), hconf) == Seq(1, 2))
  }

  test("copy-on-write UPDATE: the replaced group survives for the prior version") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vu (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vu VALUES ('a', 1), ('b', 2)")
    spark.sql(s"UPDATE $cat.wh.vu SET v = 20 WHERE k = 'b'")
    // current sees the update; v1 sees the original
    assert(spark.sql(s"SELECT v FROM $cat.wh.vu WHERE k = 'b'")
      .head().getLong(0) == 20)
    assert(spark.sql(s"SELECT v FROM $cat.wh.vu VERSION AS OF 1 WHERE k = 'b'")
      .head().getLong(0) == 2)
    // both generations of the b-file are on disk (old one is v1's)
    assert(dataFiles(s"$wh/wh/vu").count(_.getPath.contains("k=b")) == 2)
  }

  test("INSERT OVERWRITE is logical too: the previous load remains readable AS OF") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vo (m STRING, n BIGINT) PARTITIONED BY (m) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vo VALUES ('x', 1), ('y', 2)")
    spark.sql(s"INSERT OVERWRITE $cat.wh.vo VALUES ('x', 100)")
    assert(spark.sql(s"SELECT sum(n) FROM $cat.wh.vo").head().getLong(0) == 100)
    assert(spark.sql(s"SELECT sum(n) FROM $cat.wh.vo VERSION AS OF 1")
      .head().getLong(0) == 3)
  }

  test("TIMESTAMP AS OF resolves by manifest commit time") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vts (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vts VALUES ('a', 1)")
    Thread.sleep(1100) // distinct mtimes at filesystem granularity
    val betweenMicros = System.currentTimeMillis() * 1000L
    Thread.sleep(1100)
    spark.sql(s"INSERT INTO $cat.wh.vts VALUES ('a', 2)")

    val c = new GraftCatalog
    c.initialize("vts_probe", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val ident = Identifier.of(Array("wh"), "vts")
    val t = c.loadTable(ident, betweenMicros).asInstanceOf[GraftCsvTable]
    // between the two commits: only v1's single row is live
    val scan = t.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    assert(scan.toBatch.planInputPartitions().map {
      case p: KeyedCsvPartition => p.files.length
    }.sum == 1)
    // before the first commit: no version existed
    intercept[IllegalArgumentException] {
      c.loadTable(ident, betweenMicros - 600_000_000L)
    }
    // a non-integer version string errors loudly
    intercept[IllegalArgumentException] { c.loadTable(ident, "latest") }
  }

  test("manifest byte counts are the committed files' lengths, non-ASCII included") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vbytes (s STRING, n BIGINT) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vbytes VALUES ('naïve café ✓', 1), ('plain', 2)")
    val tdir = s"$wh/wh/vbytes"
    val entries = GraftLog.latest(new HPath(tdir), hconf)
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val len = new java.io.File(s"$tdir/${e.rel}").length()
      assert(e.bytes == len, s"${e.rel}: manifest says ${e.bytes} bytes, file has $len")
    }
  }

  test("VACUUM reclaims unreferenced bytes and enforces the retention horizon") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vv (m STRING, n BIGINT) PARTITIONED BY (m) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vv VALUES ('a', 1), ('b', 2), ('c', 3)")
    spark.sql(s"DELETE FROM $cat.wh.vv WHERE m = 'a'")
    spark.sql(s"INSERT INTO $cat.wh.vv VALUES ('d', 4)")
    val tdir = s"$wh/wh/vv"
    // a crashed commit's orphan: on disk, referenced by no manifest
    val orphan = new java.io.File(s"$tdir/m=c/part-orphan-99999.csv")
    val w = new java.io.PrintWriter(orphan); w.write("n\n9\n"); w.close()

    val before = spark.sql(s"SELECT m, n FROM $cat.wh.vv ORDER BY m")
      .collect().map(_.toSeq).toSeq

    val c = new GraftCatalog
    c.initialize("vv_probe", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val ident = Identifier.of(Array("wh"), "vv")
    val (manifestsDropped, filesDeleted) = c.vacuumTable(ident, retainLast = 1)
    assert(manifestsDropped == 2, "v1 and v2 fall off the horizon")
    // ONLY the superseded 'a' file goes: it was committed history past
    // the horizon. The fresh orphan is indistinguishable from an
    // in-flight commit's just-published file (advice r14, HIGH) — the
    // default grace keeps it.
    assert(filesDeleted == 1, s"expected just the a-file, got $filesDeleted")
    assert(orphan.exists(), "a fresh orphan must survive the grace window")
    assert(dataFiles(tdir).forall(!_.getPath.contains("m=a")))
    // aged past the grace window, the orphan is reclaimed
    assert(orphan.setLastModified(
      System.currentTimeMillis() - GraftCatalog.DefaultOrphanGraceMs - 60_000))
    val (_, filesDeleted2) = c.vacuumTable(ident, retainLast = 1)
    assert(filesDeleted2 == 1 && !orphan.exists(), "aged orphan reclaimed")

    // the current read is bit-identical after vacuum
    val after = spark.sql(s"SELECT m, n FROM $cat.wh.vv ORDER BY m")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    // time travel past the horizon errors loudly
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.vv VERSION AS OF 1").collect()
    }
    assert(err.getMessage.contains("version 1 does not exist") ||
      Option(err.getCause).exists(_.getMessage.contains("version 1 does not exist")))
  }

  test("manifest claims are atomic: an existing version file is built upon, not clobbered") {
    wh
    val tdir = new HPath(s"$wh/wh/vclaim")
    val fs = tdir.getFileSystem(hconf)
    fs.mkdirs(tdir)
    val v1 = GraftLog.commit(tdir, hconf, _ => Seq(GraftLog.Entry("f1.csv", 10)))
    assert(v1 == 1)
    val v2 = GraftLog.commit(tdir, hconf, live => {
      assert(live.map(_.rel) == Seq("f1.csv")) // built on the winner
      live :+ GraftLog.Entry("f2.csv", 20)
    })
    assert(v2 == 2)
    assert(GraftLog.latest(tdir, hconf).map(_.rel) == Seq("f1.csv", "f2.csv"))
  }

  test("a torn manifest is a named error, not a bricked table: reads serve other versions and the next commit succeeds") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vtorn (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vtorn VALUES ('a', 1)")
    spark.sql(s"INSERT INTO $cat.wh.vtorn VALUES ('b', 2)")
    val tdir = s"$wh/wh/vtorn"
    // plant a truncated v3.json — what external damage (or a pre-r15
    // write-in-place crash) leaves behind; the r15 commit path itself
    // can no longer produce one (complete-then-rename)
    val torn = new java.io.File(s"$tdir/_graft_log/v3.json")
    val w = new java.io.PrintWriter(torn); w.write("{\"version\":3,\"fi"); w.close()

    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
    // (a) a read that resolves the torn latest fails with the NAMED
    // error (remediation in the message), never a raw Jackson stack …
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.vtorn").collect()
    }
    assert(chain(err).exists(_.isInstanceOf[CorruptManifestException]),
      s"expected CorruptManifestException in ${chain(err).map(_.getClass.getName)}")
    // … and every intact version still serves
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.vtorn VERSION AS OF 2")
      .head().getLong(0) == 2)

    // (b) the NEXT commit succeeds: built on v2 (the newest readable
    // manifest), claiming v4 ABOVE the torn file — no hand-deletion
    spark.sql(s"INSERT INTO $cat.wh.vtorn VALUES ('c', 3)")
    assert(GraftLog.versions(new HPath(tdir), hconf) == Seq(1, 2, 3, 4))
    assert(GraftLog.read(new HPath(tdir), hconf, 4).length == 3)
    // current reads resolve v4 and are whole again
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.vtorn").head().getLong(0) == 3)
    // the torn version itself stays a named error until deleted
    assert(chain(intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.vtorn VERSION AS OF 3").collect()
    }).exists(_.isInstanceOf[CorruptManifestException]))
  }

  test("commit publishes no partial manifest: the log dir never holds a torn version file mid-write") {
    wh
    val tdir = new HPath(s"$wh/wh/vatomic")
    val fs = tdir.getFileSystem(hconf)
    fs.mkdirs(tdir)
    GraftLog.commit(tdir, hconf, _ => Seq(GraftLog.Entry("f1.csv", 10)))
    // the claim is rename-based: after a commit, the log dir holds ONLY
    // complete v<N>.json files (no temp debris left behind)
    val names = fs.listStatus(new HPath(tdir, GraftLog.Dir)).map(_.getPath.getName)
    assert(names.toSeq == Seq("v1.json"), s"got ${names.mkString(", ")}")
    // and the manifest carries its own commit timestamp (r15)
    val m = GraftLog.readManifest(tdir, hconf, 1)
    assert(m.ts.exists(t => math.abs(t - System.currentTimeMillis()) < 600_000))
  }

  test("TIMESTAMP AS OF survives mtime rewrites: commit time lives in the manifest") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vmt (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vmt VALUES ('a', 1)")
    Thread.sleep(50)
    val betweenMicros = System.currentTimeMillis() * 1000L
    Thread.sleep(50)
    spark.sql(s"INSERT INTO $cat.wh.vmt VALUES ('a', 2)")
    val tdir = s"$wh/wh/vmt"
    // simulate a backup/restore or distcp: every manifest's mtime moves
    new java.io.File(s"$tdir/_graft_log").listFiles().foreach { f =>
      assert(f.setLastModified(System.currentTimeMillis() + 3_600_000))
    }
    val c = new GraftCatalog
    c.initialize("vmt_probe", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val t = c.loadTable(Identifier.of(Array("wh"), "vmt"), betweenMicros)
      .asInstanceOf[GraftCsvTable]
    // still resolves v1 — commit time came from the manifest's ts field
    val scan = t.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    assert(scan.toBatch.planInputPartitions().map {
      case p: KeyedCsvPartition => p.files.length
    }.sum == 1)
  }

  test("appends stream: snapshot first, then exact per-commit adds — even for files removed before the resume") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vlost (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vlost VALUES ('a', 1)") // v1
    spark.sql(s"INSERT INTO $cat.wh.vlost VALUES ('b', 2)") // v2
    val ckpt = graft.Scratch.path(s"graft_vlost_ckpt_${ProcessHandle.current().pid()}")
    val hp = new HPath(ckpt)
    hp.getFileSystem(hconf).delete(hp, true)
    def drain(sink: String): Set[(String, Long)] = {
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()
      val q = spark.readStream.table(s"$cat.wh.vlost")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got.add((r.getString(0), r.getLong(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }
    // fresh stream: the first batch is the SNAPSHOT at the pinned end
    assert(drain("vlost_s1") == Set(("a", 1L), ("b", 2L)))

    // while the stream is down: c is appended (v3) and removed again
    // (v4). The RESUMED stream covers (2, 4] — an endpoint-only diff
    // would silently lose c's append (advice r14); per-commit adds
    // deliver it regardless of trigger timing.
    spark.sql(s"INSERT INTO $cat.wh.vlost VALUES ('c', 3)")
    spark.sql(s"DELETE FROM $cat.wh.vlost WHERE k = 'c'")
    assert(drain("vlost_s2") == Set(("c", 3L)),
      "resume must deliver the append that was removed before the drain")
  }

  test("the changefeed carries retractions: graft.ns.t.changes") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vcdc (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vcdc VALUES ('a', 1), ('b', 2)") // v1
    spark.sql(s"DELETE FROM $cat.wh.vcdc WHERE k = 'a'")             // v2: metadata delete
    spark.sql(s"UPDATE $cat.wh.vcdc SET v = 20 WHERE k = 'b'")       // v3: COW rewrite

    def tup(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))
    // batch: the full history — inserts AND deletes, per commit
    val all = spark.sql(
      s"SELECT k, v, _change_type, _commit_version FROM $cat.wh.vcdc.changes")
      .collect().map(tup).toSet
    assert(all == Set(
      ("a", 1L, "insert", 1), ("b", 2L, "insert", 1),
      ("a", 1L, "delete", 2),
      ("b", 2L, "delete", 3), ("b", 20L, "insert", 3)), s"got $all")

    // a pushed _change_type filter prunes EVENTS (whole files) at
    // planning time, before any data read
    val deletes = spark.sql(
      s"SELECT k, v, _change_type, _commit_version FROM $cat.wh.vcdc.changes " +
        "WHERE _change_type = 'delete'")
    val scan = deletes.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.inputRDD.getNumPartitions == 2,
      "only the two delete events may be planned")
    assert(deletes.collect().map(tup).toSet ==
      Set(("a", 1L, "delete", 2), ("b", 2L, "delete", 3)))

    // version-range reads: inclusive fromVersion/toVersion options
    val since2 = spark.read.option("fromVersion", 2)
      .table(s"$cat.wh.vcdc.changes").collect().map(tup).toSet
    assert(since2 == Set(
      ("a", 1L, "delete", 2), ("b", 2L, "delete", 3), ("b", 20L, "insert", 3)))
    val only1 = spark.read.option("toVersion", 1)
      .table(s"$cat.wh.vcdc.changes").collect().map(tup).toSet
    assert(only1 == Set(("a", 1L, "insert", 1), ("b", 2L, "insert", 1)))
    intercept[Exception] {
      spark.read.option("toVersion", 99).table(s"$cat.wh.vcdc.changes").collect()
    }

    // streaming: the drained changefeed equals the batch history
    val ckpt = graft.Scratch.path(s"graft_vcdc_ckpt_${ProcessHandle.current().pid()}")
    val hp = new HPath(ckpt)
    hp.getFileSystem(hconf).delete(hp, true)
    val q = spark.readStream.table(s"$cat.wh.vcdc.changes")
      .writeStream.format("memory").queryName("vcdc_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("vcdc_sink")
      .select("k", "v", "_change_type", "_commit_version")
      .collect().map(tup).toSet
    spark.catalog.dropTempView("vcdc_sink")
    assert(streamed == all, s"streamed changefeed diverged: $streamed")

    // an unversioned table has no changefeed — loud, named refusal
    spark.sql(s"CREATE TABLE $cat.wh.vcdc_plain (k STRING, v BIGINT) PARTITIONED BY (k)")
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.vcdc_plain.changes").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("not versioned")))
    // a DATA column claiming a CDC name refuses instead of producing a
    // duplicate-column schema
    spark.sql(s"CREATE TABLE $cat.wh.vcdc_clash (k STRING, _change_type STRING) " +
      "PARTITIONED BY (k) TBLPROPERTIES('versioned'='true')")
    assert(msgs(intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.vcdc_clash.changes").collect()
    }).exists(_.contains("_change_type")))
  }

  test("maxVersionsPerTrigger=1 drains the changefeed one commit per micro-batch") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vmvt (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vmvt VALUES ('a', 1)")
    spark.sql(s"INSERT INTO $cat.wh.vmvt VALUES ('b', 2)")
    spark.sql(s"DELETE FROM $cat.wh.vmvt WHERE k = 'a'")
    val ckpt = graft.Scratch.path(s"graft_vmvt_ckpt_${ProcessHandle.current().pid()}")
    val hp = new HPath(ckpt)
    hp.getFileSystem(hconf).delete(hp, true)
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Set[(String, Long, String, Int)]]()
    val q = spark.readStream
      .option("maxVersionsPerTrigger", 1)
      .table(s"$cat.wh.vmvt.changes")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, b.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // one micro-batch per commit, each carrying exactly that commit's events
    assert(batches.size() == 3, s"expected 3 batches, got ${batches.size()}")
    assert(batches.get(0L) == Set(("a", 1L, "insert", 1)))
    assert(batches.get(1L) == Set(("b", 2L, "insert", 2)))
    assert(batches.get(2L) == Set(("a", 1L, "delete", 3)))

    // the APPENDS face honors the same admission control: first batch
    // is the v1 snapshot, then per-commit adds (the delete adds nothing)
    val ckpt2 = s"${ckpt}_appends"
    val hp2 = new HPath(ckpt2)
    hp2.getFileSystem(hconf).delete(hp2, true)
    val appendBatches = new java.util.concurrent.ConcurrentHashMap[Long, Set[(String, Long)]]()
    val q2 = spark.readStream
      .option("maxVersionsPerTrigger", 1)
      .table(s"$cat.wh.vmvt")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        appendBatches.put(id, b.collect().map(r =>
          (r.getString(0), r.getLong(1))).toSet)
        ()
      }
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(appendBatches.get(0L) == Set(("a", 1L)))
    assert(appendBatches.get(1L) == Set(("b", 2L)))
  }

  test("the log is delta-structured: commits write O(changed), checkpoints anchor, vacuum repairs the chain") {
    wh
    val tdir = new HPath(s"$wh/wh/vdelta")
    val fs = tdir.getFileSystem(hconf)
    fs.mkdirs(tdir)
    def raw(v: Int): String = {
      val in = fs.open(new HPath(new HPath(tdir, GraftLog.Dir), s"v$v.json"))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    // 12 commits: each adds one file; commit 5 also retires f1
    (1 to 12).foreach { i =>
      GraftLog.commit(tdir, hconf, live =>
        live.filterNot(e => i == 5 && e.rel == "f1.csv") :+
          GraftLog.Entry(s"f$i.csv", i * 10L))
    }
    // v1 and v10 are self-contained checkpoints; the rest are deltas
    assert(raw(1).contains("\"files\"") && raw(10).contains("\"files\""))
    assert(!raw(2).contains("\"files\"") && raw(2).contains("\"adds\""))
    assert(!raw(12).contains("\"files\""))
    // a delta commit's JSON is O(changed): one add, no echo of the
    // 10-file live set
    assert(!raw(12).contains("f2.csv"), s"delta v12 must not restate: ${raw(12)}")
    // v5's delta carries the retirement
    assert(raw(5).contains("\"removes\"") && raw(5).contains("f1.csv"))
    // chain-resolved reads equal the materialized history
    assert(GraftLog.read(tdir, hconf, 12).map(_.rel).sorted ==
      (2 to 12).map(i => s"f$i.csv").sorted)
    assert(GraftLog.read(tdir, hconf, 4).map(_.rel).sorted ==
      (1 to 4).map(i => s"f$i.csv").sorted)
    // changes() serves deltas directly: v5 = add f5, remove f1
    val c5 = GraftLog.changes(tdir, hconf, 4, 5)
    assert(c5.map(c => (c.isAdd, c.entry.rel)).toSet ==
      Set((true, "f5.csv"), (false, "f1.csv")))

    // chain repair: materializing a delta rewrites it self-contained
    // (identity) so the versions below it can drop
    GraftLog.materialize(tdir, hconf, 11)
    assert(raw(11).contains("\"files\""), "materialize rewrites the delta as full")
    assert(GraftLog.read(tdir, hconf, 11).map(_.rel).sorted ==
      (2 to 11).map(i => s"f$i.csv").sorted)
    // v12's delta still resolves — now anchored at the materialized v11
    (1 to 10).foreach(v => fs.delete(
      new HPath(new HPath(tdir, GraftLog.Dir), s"v$v.json"), false))
    assert(GraftLog.read(tdir, hconf, 12).map(_.rel).sorted ==
      (2 to 12).map(i => s"f$i.csv").sorted)
  }

  test("vacuum on a delta chain: retained versions stay readable after the horizon drops") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vdv (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    // v1 checkpoint + v2..v4 deltas
    spark.sql(s"INSERT INTO $cat.wh.vdv VALUES ('a', 1)")
    spark.sql(s"INSERT INTO $cat.wh.vdv VALUES ('b', 2)")
    spark.sql(s"DELETE FROM $cat.wh.vdv WHERE k = 'a'")
    spark.sql(s"INSERT INTO $cat.wh.vdv VALUES ('c', 3)")
    val before = spark.sql(s"SELECT k, v FROM $cat.wh.vdv ORDER BY k")
      .collect().map(_.toSeq).toSeq
    val c = new GraftCatalog
    c.initialize("vdv_probe", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    // retain v3+v4 — both deltas; v1 (their checkpoint anchor) drops
    val (dropped, deleted) =
      c.vacuumTable(Identifier.of(Array("wh"), "vdv"), retainLast = 2)
    assert(dropped == 2, s"v1+v2 drop, got $dropped")
    assert(deleted == 1, "the deleted 'a' file is the superseded byte")
    // both retained versions still read (v3 was materialized)
    assert(spark.sql(s"SELECT k, v FROM $cat.wh.vdv ORDER BY k")
      .collect().map(_.toSeq).toSeq == before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.vdv VERSION AS OF 3")
      .head().getLong(0) == 1)
    // and the NEXT commit still works on the repaired chain
    spark.sql(s"INSERT INTO $cat.wh.vdv VALUES ('d', 4)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.vdv").head().getLong(0) == 3)
  }

  test("CALL graft.history / CALL graft.vacuum: maintenance verbs in pure SQL") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vp (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vp VALUES ('a', 1), ('b', 2)")
    spark.sql(s"INSERT INTO $cat.wh.vp VALUES ('c', 3)")
    spark.sql(s"DELETE FROM $cat.wh.vp WHERE k = 'a'")

    val hist = spark.sql(s"CALL $cat.history('wh.vp')").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(hist.map(_.getInt(2)).toSeq == Seq(2, 3, 2), "live files per version")
    assert(hist.forall(r => !r.isNullAt(1)), "committed_at populated")

    val vac = spark.sql(s"CALL $cat.vacuum('wh.vp', 1)").collect()
    assert(vac.head.getInt(0) == 2, "v1+v2 dropped")
    assert(vac.head.getInt(1) == 1, "the deleted 'a' file reclaimed")
    assert(spark.sql(s"CALL $cat.history('wh.vp')").collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    // unknown procedure errors with the available list
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.rewind('wh.vp')").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null &&
      m.contains("history, vacuum, compact, rollback")))
  }

  test("CALL graft.rollback restores an earlier version as a new commit, copying nothing") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vrb (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vrb VALUES ('a', 1), ('b', 2)") // v1
    val tdir = s"$wh/wh/vrb"
    val afterInsert = dataFiles(tdir).map(f => f.getPath -> f.lastModified()).toMap
    spark.sql(s"UPDATE $cat.wh.vrb SET v = 99 WHERE k = 'a'")       // v2 (COW)
    spark.sql(s"DELETE FROM $cat.wh.vrb WHERE k = 'b'")             // v3

    val out = spark.sql(s"CALL $cat.rollback('wh.vrb', 1)").collect()
    assert(out.head.getInt(0) == 1 && out.head.getInt(1) == 4)
    // the head is v1's state again …
    assert(spark.sql(s"SELECT k, v FROM $cat.wh.vrb ORDER BY k")
      .collect().map(_.toSeq).toSeq == Seq(Seq("a", 1L), Seq("b", 2L)))
    // … served by v1's ORIGINAL files (no copies; mtimes prove it) …
    val m = GraftLog.latest(new HPath(tdir), hconf)
    assert(m.map(e => new java.io.File(s"$tdir/${e.rel}")).forall(f =>
      afterInsert.get(f.getPath).contains(f.lastModified())))
    // … and the rolled-back-over history stays inspectable
    assert(spark.sql(s"SELECT v FROM $cat.wh.vrb VERSION AS OF 2 WHERE k = 'a'")
      .head().getLong(0) == 99)
    // the changefeed sees the rollback as a data change: v4 re-adds
    // what v2/v3 removed and retracts the head it replaced
    val v4 = spark.sql(s"SELECT k, v, _change_type FROM $cat.wh.vrb.changes " +
      "WHERE _commit_version = 4").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(v4 == Set(("a", 1L, "insert"), ("b", 2L, "insert"),
      ("a", 99L, "delete")), s"got $v4")
    // rolling back to a never-existing version fails with the list
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(intercept[Exception] {
      spark.sql(s"CALL $cat.rollback('wh.vrb', 99)").collect()
    }).exists(_.contains("does not exist")))
  }

  test("CALL graft.compact merges accreted per-key files as ONE COW manifest commit") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vcp (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vcp VALUES ('a', 1), ('b', 10)") // v1
    spark.sql(s"INSERT INTO $cat.wh.vcp VALUES ('a', 2), ('b', 20)") // v2
    spark.sql(s"INSERT INTO $cat.wh.vcp VALUES ('a', 3)")            // v3
    val tdir = s"$wh/wh/vcp"
    assert(dataFiles(tdir).count(_.getPath.contains("k=a")) == 3)
    assert(dataFiles(tdir).count(_.getPath.contains("k=b")) == 2)
    val before = spark.sql(s"SELECT k, v FROM $cat.wh.vcp ORDER BY k, v")
      .collect().map(_.toSeq).toSeq

    val out = spark.sql(s"CALL $cat.compact('wh.vcp')").collect()
    assert(out.head.getInt(0) == 2 && out.head.getInt(1) == 5,
      s"expected (2 groups, 5 files), got ${out.head}")

    // the CURRENT manifest (v4, the one compaction commit) serves one
    // file per key; the old generations stay on disk for time travel
    val m = GraftLog.latest(new HPath(tdir), hconf)
    assert(m.length == 2, s"one live file per key, got ${m.map(_.rel)}")
    assert(GraftLog.versions(new HPath(tdir), hconf) == Seq(1, 2, 3, 4))
    // SELECT is value-identical before/after
    val after = spark.sql(s"SELECT k, v FROM $cat.wh.vcp ORDER BY k, v")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    // pre-compaction versions still time-travel (files untouched)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.wh.vcp VERSION AS OF 2")
      .head().getLong(0) == 33)
    // a compacted table is a fixpoint
    val again = spark.sql(s"CALL $cat.compact('wh.vcp')").collect()
    assert(again.head.getInt(0) == 0 && again.head.getInt(1) == 0)
    // compaction is INVISIBLE to change consumers (dataChange=false,
    // the Delta convention): the changefeed carries no event for v4 —
    // same rows, different files is not a change
    val cdc = spark.sql(
      s"SELECT _commit_version, count(*) AS n FROM $cat.wh.vcp.changes " +
        "GROUP BY 1 ORDER BY 1").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(cdc.toSeq == Seq((1, 2L), (2, 2L), (3, 1L)),
      s"compaction (v4) must emit no change events; got ${cdc.mkString(", ")}")
    // flat and unversioned tables refuse loudly
    spark.sql(s"CREATE TABLE $cat.wh.vcp_flat (k STRING, v BIGINT) " +
      "TBLPROPERTIES('versioned'='true')")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(intercept[Exception] {
      spark.sql(s"CALL $cat.compact('wh.vcp_flat')").collect()
    }).exists(_.contains("no partition keys")))
  }

  test("SHOW TBLPROPERTIES reflects the write/versioning contract") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vprops (v BIGINT, s STRING) " +
      "TBLPROPERTIES('write.orderBy'='v', 'write.sortBuckets'='8')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.wh.vprops").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.orderBy").contains("v"))
    assert(props.get("write.sortBuckets").contains("8"))
    spark.sql(s"CREATE TABLE $cat.wh.vprops2 (k STRING, v BIGINT) " +
      "PARTITIONED BY (k) TBLPROPERTIES('versioned'='true')")
    val props2 = spark.sql(s"SHOW TBLPROPERTIES $cat.wh.vprops2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2.get("versioned").contains("true"))
  }

  test("readStream.table tails the commit log: load-existing, then exact appends only") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vstr (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vstr VALUES ('a', 1), ('b', 2)")
    val base = graft.Scratch.path(s"graft_vstr_${ProcessHandle.current().pid()}")
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val bp = new HPath(base)
    bp.getFileSystem(hconf).delete(bp, true)
    // sink = the graft CSV streaming sink: checkpoint-recoverable, so
    // the second drain resumes the SAME stream (memory sink cannot)
    def drain(): Unit = {
      val q = spark.readStream.table(s"$cat.wh.vstr")
        .writeStream.format("graft.sources.GraftCsvSink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def drained(): Seq[(String, Long)] =
      spark.read.schema("k STRING, v BIGINT")
        .format("graft.sources.GraftCsvSink").option("path", out).load()
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

    // batch 1: everything that exists (the whole current table)
    drain()
    assert(drained() == Seq(("a", 1L), ("b", 2L)))

    // appends-only + exactly-once: the DELETE emits nothing (no
    // retraction of 'a'), and the resumed stream re-emits NOTHING it
    // already delivered — only the new commit's file arrives
    spark.sql(s"DELETE FROM $cat.wh.vstr WHERE k = 'a'")
    spark.sql(s"INSERT INTO $cat.wh.vstr VALUES ('c', 3)")
    drain()
    assert(drained() == Seq(("a", 1L), ("b", 2L), ("c", 3L)))

    // an unversioned table has no commit log to tail: the capability is
    // absent, so the stream fails at planning, not silently
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.vplain_s (k STRING, v BIGINT) " +
      "PARTITIONED BY (k)")
    val err = intercept[Exception] {
      val q = spark.readStream.table(s"$cat.wh.vplain_s").writeStream
        .format("memory").queryName("vstr_t3")
        .option("checkpointLocation", ckpt + "_plain")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(err != null)
  }

  test("conflict detection: a stale COW publish is refused after a concurrent DELETE") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vcf (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vcf VALUES ('a', 1), ('b', 2)")
    val root = new HPath(s"$wh/wh/vcf")
    // the stale operation's snapshot: it read (and rewrote) a's group
    val aFiles = GraftLog.latest(root, hconf).map(_.rel)
      .filter(_.startsWith("k=a/")).toSet
    assert(aFiles.nonEmpty)
    // a concurrent commit removes those rows before the COW publishes
    spark.sql(s"DELETE FROM $cat.wh.vcf WHERE k = 'a'")
    // the stale COW finishing late: blindly applying its swap would
    // resurrect the deleted k=a rows — it must fail, loudly and named
    val e = intercept[ConcurrentWriteConflictException] {
      GraftLog.commitReplace(root, hconf, aFiles,
        Seq(GraftLog.Entry("k=a/part-stale-00000.csv", 10L)))
    }
    assert(e.getMessage.contains("concurrent write conflict"))
    assert(e.getMessage.contains("re-run the operation"))
    // the table is untouched: the conflict fired BEFORE the claim
    assert(spark.sql(s"SELECT k FROM $cat.wh.vcf").collect()
      .map(_.getString(0)).toSeq == Seq("b"))
    assert(GraftLog.versions(root, hconf) == Seq(1, 2))
    // and the non-conflicting shape still commits: b's group is live
    val bFiles = GraftLog.latest(root, hconf).map(_.rel)
      .filter(_.startsWith("k=b/")).toSet
    val fresh = GraftLog.Entry("k=b/part-rewrite-00000.csv", 10L)
    assert(GraftLog.commitReplace(root, hconf, bFiles, Seq(fresh)) == 3)
    assert(GraftLog.read(root, hconf, 3).map(_.rel) == Seq(fresh.rel))
  }

  test("an end-to-end UPDATE after a DELETE sees the current state (no conflict)") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vcf2 (k STRING, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.vcf2 VALUES ('a', 1), ('b', 2)")
    spark.sql(s"DELETE FROM $cat.wh.vcf2 WHERE k = 'a'")
    // serial DML plans against the post-DELETE snapshot: no conflict
    spark.sql(s"UPDATE $cat.wh.vcf2 SET v = v * 10 WHERE k = 'b'")
    assert(spark.sql(s"SELECT k, v FROM $cat.wh.vcf2").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("b", 20L)))
  }

  test("txn ledger: commits record streaming epochs; checkpoints and materialize carry the ledger") {
    wh
    val root = new HPath(s"$wh/wh/vtxn")
    hconf // force lazy init
    // simulate a streaming writer: 12 epoch commits from app "appA",
    // one mid-stream commit from "appB" — the v10 checkpoint must merge
    // both so resolution never walks past it
    (1 to 9).foreach { e =>
      GraftLog.commit(root, hconf,
        live => live :+ GraftLog.Entry(s"part-a$e.csv", 1L),
        txn = Some("appA" -> e.toLong))
    }
    GraftLog.commit(root, hconf,
      live => live :+ GraftLog.Entry("part-b1.csv", 1L),
      txn = Some("appB" -> 100L)) // v10: checkpoint
    (11 to 12).foreach { e =>
      GraftLog.commit(root, hconf,
        live => live :+ GraftLog.Entry(s"part-a$e.csv", 1L),
        txn = Some("appA" -> e.toLong))
    }
    assert(GraftLog.lastTxn(root, hconf, "appA").contains(12L))
    assert(GraftLog.lastTxn(root, hconf, "appB").contains(100L))
    assert(GraftLog.lastTxn(root, hconf, "appC").isEmpty)
    // the ledger survives at the checkpoint barrier: resolution from
    // v10 (a checkpoint) must not lose appA's earlier epochs
    assert(GraftLog.resolveTxns(root, hconf, 10) ==
      Map("appA" -> 9L, "appB" -> 100L))
    // a txn-less commit leaves the ledger intact
    GraftLog.commit(root, hconf, live => live)
    assert(GraftLog.lastTxn(root, hconf, "appA").contains(12L))
    // materialize (vacuum's chain repair) becomes a barrier — it must
    // carry the merged ledger, not erase it
    GraftLog.materialize(root, hconf, 12)
    assert(GraftLog.resolveTxns(root, hconf, 12) ==
      Map("appA" -> 12L, "appB" -> 100L))
    assert(GraftLog.lastTxn(root, hconf, "appA").contains(12L))
  }

  test("a time-travel read refuses writes and an unversioned table refuses AS OF") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.vplain (k STRING, v BIGINT) PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.wh.vplain VALUES ('a', 1)")
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.wh.vplain VERSION AS OF 1").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(_.contains("not versioned")))
  }
}
