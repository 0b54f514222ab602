package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Table constraints (r15, the Spark 4.1 DSV2 constraint surface):
  * CHECK constraints are ENFORCED — Spark injects CheckInvariant above
  * every write, so a violating row fails the job before the two-phase
  * commit publishes anything; PRIMARY KEY / UNIQUE are informational
  * RELY metadata; FOREIGN KEY is refused honestly. Constraints are
  * table metadata: they survive reload and ALTER ADD/DROP in place. */
class ConstraintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cat = "graftck"
  private lazy val wh = {
    val p = graft.Scratch.path(s"graft_constraints_${ProcessHandle.current().pid()}")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
    p
  }
  private def hconf = spark.sessionState.newHadoopConf()
  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: msgs(e.getCause))

  test("CHECK is enforced at write: a violating INSERT fails and publishes NOTHING") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.ck (k STRING, v BIGINT, " +
      "CONSTRAINT v_pos CHECK (v > 0)) PARTITIONED BY (k) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO $cat.wh.ck VALUES ('a', 1), ('b', 2)")
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.wh.ck VALUES ('c', 3), ('d', -4)")
    }
    assert(msgs(err).exists(m => m.contains("v_pos") || m.contains("CHECK")),
      msgs(err).mkString("|"))
    // the two-phase commit published nothing: same rows, same version
    assert(spark.sql(s"SELECT k, v FROM $cat.wh.ck ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    assert(GraftLog.versions(new HPath(s"$wh/wh/ck"), hconf) == Seq(1))
    // NULL does not violate (SQL three-valued logic: only FALSE fails)
    spark.sql(s"INSERT INTO $cat.wh.ck VALUES ('e', NULL)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.ck").head().getLong(0) == 3)
  }

  test("CHECK guards UPDATE too (the COW path), and constraints survive reload") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.cku (k STRING, v BIGINT, " +
      "CONSTRAINT v_small CHECK (v < 1000)) PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.wh.cku VALUES ('a', 1), ('b', 2)")
    val err = intercept[Exception] {
      spark.sql(s"UPDATE $cat.wh.cku SET v = v * 10000 WHERE k = 'b'")
    }
    assert(msgs(err).exists(m => m.contains("v_small") || m.contains("CHECK")))
    assert(spark.sql(s"SELECT v FROM $cat.wh.cku WHERE k = 'b'")
      .head().getLong(0) == 2L)
    // reload (fresh Table instance from the catalog) still carries it
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("wh"), "cku")) match {
      case t: GraftCsvTable =>
        assert(t.constraints().exists(_.name() == "v_small"))
      case other => fail(s"unexpected table $other")
    }
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT edits metadata in place") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.cka (k STRING, v BIGINT) PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.wh.cka VALUES ('a', 5)")
    spark.sql(s"ALTER TABLE $cat.wh.cka ADD CONSTRAINT v_cap CHECK (v <= 100)")
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.wh.cka VALUES ('b', 500)")
    }
    assert(msgs(err).exists(m => m.contains("v_cap") || m.contains("CHECK")))
    spark.sql(s"ALTER TABLE $cat.wh.cka DROP CONSTRAINT v_cap")
    spark.sql(s"INSERT INTO $cat.wh.cka VALUES ('b', 500)") // now fine
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.cka").head().getLong(0) == 2)
    // duplicate add and unknown drop are loud
    spark.sql(s"ALTER TABLE $cat.wh.cka ADD CONSTRAINT c1 CHECK (v >= 0)")
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wh.cka ADD CONSTRAINT c1 CHECK (v >= 1)")
    }
    assert(msgs(dup).exists(_.contains("already exists")))
    val missing = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wh.cka DROP CONSTRAINT nope")
    }
    assert(missing != null)
  }

  test("PRIMARY KEY / UNIQUE are informational: stored, surfaced, NOT fake-enforced") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.ckp (k STRING, v BIGINT, " +
      "CONSTRAINT pk PRIMARY KEY (k) RELY) PARTITIONED BY (k)")
    // a duplicate key INSERT succeeds — nothing actually enforces
    // uniqueness on this engine, so nothing pretends to (the honest
    // Delta/Iceberg stance for informational constraints)
    spark.sql(s"INSERT INTO $cat.wh.ckp VALUES ('a', 1)")
    spark.sql(s"INSERT INTO $cat.wh.ckp VALUES ('a', 2)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.wh.ckp").head().getLong(0) == 2)
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("wh"), "ckp")) match {
      case t: GraftCsvTable =>
        val pk = t.constraints().collectFirst {
          case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey => p
        }
        assert(pk.isDefined && pk.get.rely() && !pk.get.enforced())
      case other => fail(s"unexpected table $other")
    }
  }

  test("FOREIGN KEY is refused loudly at DDL") {
    wh
    spark.sql(s"CREATE TABLE $cat.wh.ckf_parent (id BIGINT, " +
      "CONSTRAINT ppk PRIMARY KEY (id))")
    val err = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.wh.ckf (id BIGINT, " +
        s"CONSTRAINT fk FOREIGN KEY (id) REFERENCES $cat.wh.ckf_parent (id))")
    }
    assert(msgs(err).exists(_.contains("FOREIGN KEY")), msgs(err).mkString("|"))
  }
}
