package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Session builder shared by Verify/Bench: local[N], N shuffle
    * partitions (not 200 — local mode has N cores), AQE on, UTC, and the
    * nanos-parquet read conf (Tables.requiredConfs). */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // The library's custom Expressions (dotp/poly31/shingles3) via the
      // standard extensions hook — how a cluster deployment would load
      // them; operators also self-register for foreign sessions.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      // JVM-unique (Scratch.root): a managed table's directory outlives
      // the in-memory catalog, so a location reused by a later JVM fails
      // its saveAsTable — a pid alone recycles on a long-lived host.
      .config("spark.sql.warehouse.dir", Scratch.path("warehouse"))
    Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    // Dev-only A/B hook: semicolon-separated k=v pairs layered on top of
    // the standard session confs, so optimization experiments can flip
    // one conf without a code edit (the driver never sets this).
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { s =>
      // Loud marker (ADVICE r15): any artifact produced under a layered
      // conf must be identifiable as non-standard.
      Console.err.println(s"[graft] WARNING: SPARK_GRAFT_EXTRA_CONF overrides active: $s")
      s.split(';').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev-only; the driver passes two): run only
    // queries whose name starts with one of the comma-separated prefixes,
    // and emit only their oracles, so check.py can gate new queries in
    // one JVM.
    val prefixes = args.lift(2).getOrElse("").split(',').toSeq
    def selected(name: String): Boolean = prefixes.exists(name.startsWith)
    val spark = session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // No clearCache here: cache lifecycle is operator-owned
      // (Dedup.materializeThenRelease) — CacheLifecycleSpec enforces it.
      // The written result is dead: free its checkpoint blocks now
      // instead of waiting for a driver GC (operators.Lifecycle doc).
      operators.Lifecycle.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
