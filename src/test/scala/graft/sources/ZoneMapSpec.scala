package graft.sources

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Per-file zone maps (CsvZones): tagged writes persist min/max/null
  * column statistics per committed file; both scan faces skip files a
  * pushed filter provably excludes — and NEVER skip on missing or
  * inconclusive evidence. `write.orderBy` tables get disjoint zone
  * ranges (ordered distribution), making range predicates open only
  * the intersecting files. */
class ZoneMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cat = "graftzone"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_zones_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }

  /** Every node of the FINAL physical plan — AQE hides shuffle subtrees
    * inside QueryStageExec leaves, so a plain collect misses the scan. */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
  }

  private def allNodes(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // force planning (planInputPartitions runs at execution)
    flatten(df.queryExecution.executedPlan)
  }

  private def flatScanOf(df: org.apache.spark.sql.DataFrame): KeyedCsvScan =
    keyedScanOf(df)

  private def keyedScanOf(df: org.apache.spark.sql.DataFrame): KeyedCsvScan =
    allNodes(df).collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KeyedCsvScan] =>
        b.scan.asInstanceOf[KeyedCsvScan]
    }.get

  /** Committed zone sidecars (the local FS also writes hidden `.crc`
    * checksums next to them — count only the JSONs). */
  private def sidecars(tableDir: String): Int = {
    val d = new java.io.File(s"$tableDir/${CsvZones.Dir}").listFiles()
    if (d == null) 0 else d.count(f => f.getName.endsWith(".json"))
  }

  // ---- end to end: ordered writes, range-sliced reads ---------------------

  test("write.orderBy table: range predicate skips non-intersecting files, values unchanged") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zr (v BIGINT, payload STRING) " +
      "TBLPROPERTIES('write.orderBy'='v', 'write.sortBuckets'='16')")
    spark.range(0, 10000).createOrReplaceTempView("zr_src")
    spark.sql(s"INSERT INTO $cat.wh.zr SELECT id, concat('p', id) FROM zr_src")

    // the sidecar exists and names every committed file
    val zdir = new java.io.File(s"$wh/wh/zr/${CsvZones.Dir}")
    assert(zdir.isDirectory && zdir.listFiles().nonEmpty, "zone sidecar missing")
    val nFiles = new java.io.File(s"$wh/wh/zr").listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(nFiles > 4, s"expected many range-partitioned files, got $nFiles")

    val sliced = spark.sql(
      s"SELECT v, payload FROM $cat.wh.zr WHERE v >= 100 AND v <= 220 ORDER BY v")
    val scan = flatScanOf(sliced)
    assert(scan.zoneSkipped > 0, "range slice skipped no files")
    assert(scan.zoneSkipped < nFiles, "skip must leave the intersecting files")

    // value identity against the zone-skip-disabled read of the same dir
    val readSchema = new StructType().add("v", LongType).add("payload", StringType)
    val off = spark.read.schema(readSchema)
      .format("graft.sources.GraftCsvSink")
      .option("path", s"$wh/wh/zr").option("zoneSkip", "false").load()
      .filter("v >= 100 AND v <= 220").orderBy("v")
    assert(sliced.collect().map(_.toSeq).toSeq == off.collect().map(_.toSeq).toSeq)
    assert(sliced.count() == 121)
  }

  test("keyed face: payload-filter zones skip files inside surviving key directories") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zk " +
      "(g STRING, v BIGINT, w BIGINT) PARTITIONED BY (g)")
    spark.range(0, 4000).createOrReplaceTempView("zk_src")
    // two INSERTs => two tagged files per key directory with disjoint v ranges
    spark.sql(s"INSERT INTO $cat.wh.zk " +
      "SELECT concat('g', id % 4), id, id * 2 FROM zk_src WHERE id < 2000")
    spark.sql(s"INSERT INTO $cat.wh.zk " +
      "SELECT concat('g', id % 4), id, id * 2 FROM zk_src WHERE id >= 2000")

    // v < 2000 lives entirely in the first INSERT's files: the second
    // INSERT's file in every directory is zone-skipped
    val q = spark.sql(s"SELECT g, v, w FROM $cat.wh.zk WHERE v < 100")
    val scan = keyedScanOf(q)
    assert(scan.zoneSkipped >= 4,
      s"expected the 4 high-range files skipped, got ${scan.zoneSkipped}")
    assert(q.count() == 100)

    // inconclusive evidence keeps files: an always-true range skips none
    val all = spark.sql(s"SELECT g, v FROM $cat.wh.zk WHERE v >= 0")
    assert(keyedScanOf(all).zoneSkipped == 0)
    assert(all.count() == 4000)
  }

  test("exact numRows statistics: sidecar row counts sum on both scan faces") {
    wh
    // keyed face: two INSERTs, 12 rows over 3 keys
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zrows " +
      "(k STRING, v BIGINT) PARTITIONED BY (k)")
    spark.range(0, 9).createOrReplaceTempView("zrows_src")
    spark.sql(s"INSERT INTO $cat.wh.zrows " +
      "SELECT concat('k', id % 3), id FROM zrows_src")
    spark.sql(s"INSERT INTO $cat.wh.zrows VALUES ('k0', 100), ('k1', 101), ('k2', 102)")
    val st = keyedScanOf(spark.sql(s"SELECT * FROM $cat.wh.zrows"))
      .estimateStatistics()
    assert(st.numRows().getAsLong == 12, "exact row count off the sidecars")
    assert(st.sizeInBytes().getAsLong > 0)
    // static key pruning prices the slice, not the table
    val sliced = keyedScanOf(
      spark.sql(s"SELECT * FROM $cat.wh.zrows WHERE k = 'k0'"))
      .estimateStatistics()
    assert(sliced.numRows().getAsLong == 4) // ids 0,3,6 + the 100 row

    // flat sorted face
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zrows_f (d STRING, v BIGINT) " +
      "TBLPROPERTIES('write.orderBy'='d', 'write.sortBuckets'='4')")
    spark.sql(s"INSERT INTO $cat.wh.zrows_f " +
      "SELECT concat('d', id), id FROM zrows_src")
    val fst = flatScanOf(spark.sql(s"SELECT * FROM $cat.wh.zrows_f"))
      .estimateStatistics()
    assert(fst.numRows().getAsLong == 9)
    assert(fst.sizeInBytes().getAsLong > 0)
  }

  test("numRows degrades to UNKNOWN when any live file lacks the statistic (v1 sidecars)") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zrows_v1 " +
      "(k STRING, v BIGINT) PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.wh.zrows_v1 VALUES ('a', 1), ('b', 2)")
    // doctor the sidecar back to the v1 format (flat col→zone map, no
    // rows): pre-r15 sidecars must read back with zones intact and the
    // row statistic absent — never a partial (wrong) sum
    val zdir = new java.io.File(s"$wh/wh/zrows_v1/${CsvZones.Dir}")
    val sidecar = zdir.listFiles().filter(_.getName.endsWith(".json")).head
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(sidecar)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val v1 = mapper.createObjectNode()
    node.properties().forEach { e =>
      if (e.getKey != "_v") v1.set[com.fasterxml.jackson.databind.JsonNode](
        e.getKey, e.getValue.get("cols"))
    }
    java.nio.file.Files.write(sidecar.toPath, mapper.writeValueAsBytes(v1))
    new java.io.File(sidecar.getParentFile, s".${sidecar.getName}.crc").delete()

    val st = keyedScanOf(spark.sql(s"SELECT * FROM $cat.wh.zrows_v1"))
      .estimateStatistics()
    assert(!st.numRows().isPresent, "a v1 sidecar must not fake a row count")
    assert(st.sizeInBytes().getAsLong > 0)
    // the v1 zones still skip: query values unaffected
    val q = spark.sql(s"SELECT v FROM $cat.wh.zrows_v1 WHERE v = 1")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("untagged path-API writes never produce a zone sidecar (name reuse would unsound it)") {
    val path = graft.Scratch.path(s"graft_zone_path_${ProcessHandle.current().pid()}")
    spark.range(0, 100).selectExpr("id AS v", "concat('x', id) AS s")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).option("sortBy", "v").save()
    assert(!new java.io.File(s"$path/${CsvZones.Dir}").exists())
    // and the read back is complete (no skipping without evidence)
    val back = spark.read.schema("v LONG, s STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
      .filter("v >= 90")
    assert(back.count() == 10)
  }

  test("catalog UPDATE (copy-on-write) refreshes zone entries for rewritten groups") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zu (v BIGINT, s STRING) " +
      "TBLPROPERTIES('write.orderBy'='v', 'write.sortBuckets'='8')")
    spark.range(0, 1000).createOrReplaceTempView("zu_src")
    spark.sql(s"INSERT INTO $cat.wh.zu SELECT id, 'a' FROM zu_src")
    val before = sidecars(s"$wh/wh/zu")
    spark.sql(s"UPDATE $cat.wh.zu SET s = 'b' WHERE v = 999")
    val after = sidecars(s"$wh/wh/zu")
    assert(after == before + 1, "COW rewrite must add its own zone sidecar")
    // the rewritten file's zones still serve skipping: v = 999 opens few files
    val q = spark.sql(s"SELECT v, s FROM $cat.wh.zu WHERE v = 999")
    assert(q.collect().map(_.getString(1)).toSeq == Seq("b"))
    assert(flatScanOf(q).zoneSkipped > 0)
  }

  test("unconditional overwrite drops every stale zone entry") {
    wh
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.zt (v BIGINT, s STRING) " +
      "TBLPROPERTIES('write.orderBy'='v')")
    spark.range(0, 500).createOrReplaceTempView("zt_src")
    spark.sql(s"INSERT INTO $cat.wh.zt SELECT id, 's' FROM zt_src")
    spark.sql(s"INSERT OVERWRITE $cat.wh.zt SELECT id + 10000, 't' FROM zt_src")
    val zones = CsvZones.load(
      new org.apache.hadoop.fs.Path(s"$wh/wh/zt"),
      spark.sessionState.newHadoopConf())
    // only the overwrite commit's entries survive, and they carry the
    // new range — a pre-truncate zone would claim [0, 499]
    assert(zones.nonEmpty)
    assert(zones.values.forall(_.cols("v").min.get.toLong >= 10000))
    val q = spark.sql(s"SELECT v FROM $cat.wh.zt WHERE v < 1000")
    assert(q.count() == 0)
  }

  // ---- the conservative evaluator, corner by corner -----------------------

  private val schema = new StructType().add("x", LongType).add("s", StringType)
  private def zx(min: Long, max: Long, nulls: Boolean = false) =
    Map("x" -> CsvColZone(Some(min.toString), Some(max.toString), nulls))

  test("ZoneEval: range and equality semantics over [min, max]") {
    assert(!ZoneEval.mayMatch(Array(EqualTo("x", 5L)), schema, zx(10, 20)))
    assert(ZoneEval.mayMatch(Array(EqualTo("x", 15L)), schema, zx(10, 20)))
    assert(!ZoneEval.mayMatch(Array(GreaterThan("x", 20L)), schema, zx(10, 20)))
    assert(ZoneEval.mayMatch(Array(GreaterThanOrEqual("x", 20L)), schema, zx(10, 20)))
    assert(!ZoneEval.mayMatch(Array(LessThan("x", 10L)), schema, zx(10, 20)))
    assert(ZoneEval.mayMatch(Array(In("x", Array(3L, 11L))), schema, zx(10, 20)))
    assert(!ZoneEval.mayMatch(Array(In("x", Array(3L, 5L))), schema, zx(10, 20)))
  }

  test("ZoneEval: Kleene NOT — null rows are UNKNOWN, not FALSE") {
    // every non-null row is 10: NOT(x = 10) can never be TRUE, skip
    assert(!ZoneEval.mayMatch(Array(Not(EqualTo("x", 10L))), schema, zx(10, 10)))
    // nulls present changes nothing: a null x makes NOT(x=10) UNKNOWN
    assert(!ZoneEval.mayMatch(Array(Not(EqualTo("x", 10L))), schema,
      zx(10, 10, nulls = true)))
    // a wider range has a witness ≠ 10
    assert(ZoneEval.mayMatch(Array(Not(EqualTo("x", 10L))), schema, zx(10, 11)))
    // x IN (10, NULL): non-matching rows are UNKNOWN, so NOT(...) is
    // never TRUE even on a range with non-members
    assert(!ZoneEval.mayMatch(Array(Not(In("x", Array(10L, null)))), schema,
      zx(10, 20)))
    assert(ZoneEval.mayMatch(Array(Not(In("x", Array(10L)))), schema, zx(10, 20)))
  }

  test("ZoneEval: null evidence — IS NULL / IS NOT NULL / all-null columns") {
    assert(!ZoneEval.mayMatch(Array(IsNull("x")), schema, zx(1, 2)))
    assert(ZoneEval.mayMatch(Array(IsNull("x")), schema, zx(1, 2, nulls = true)))
    val allNull = Map("x" -> CsvColZone(None, None, nulls = true))
    assert(!ZoneEval.mayMatch(Array(IsNotNull("x")), schema, allNull))
    assert(!ZoneEval.mayMatch(Array(EqualTo("x", 1L)), schema, allNull))
    assert(ZoneEval.mayMatch(Array(IsNull("x")), schema, allNull))
  }

  test("ZoneEval: missing evidence never skips") {
    assert(ZoneEval.mayMatch(Array(EqualTo("s", "zzz")), schema, zx(1, 2)))
    assert(ZoneEval.mayMatch(Array(EqualTo("x", 99L)), schema, Map.empty))
    // unsupported shape inside a conjunction: unknown, keep
    assert(ZoneEval.mayMatch(
      Array(And(EqualTo("x", 15L), StringContains("s", "q"))), schema, zx(10, 20)))
  }

  test("CsvZoneTracker: values beyond the string cap disable the column, never mis-bound it") {
    val sch = new StructType().add("s", StringType).add("n", LongType)
    val t = new CsvZoneTracker(sch)
    def row(s: String, n: Long) = new GenericInternalRow(
      Array[Any](if (s == null) null else UTF8String.fromString(s), n))
    t.update(row("abc", 5))
    t.update(row("m" * 200, 7)) // beyond StringCap: s drops out entirely
    t.update(row(null, 9))
    val z = t.result()
    assert(!z.contains("s"), "oversized string column must be untracked")
    assert(z("n") == CsvColZone(Some("5"), Some("9"), nulls = false))
  }
}
