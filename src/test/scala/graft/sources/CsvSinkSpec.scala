package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The DSv2 `;`-CSV sink's write protocol, beyond what the roundtrip
  * query gates: hostile-value quoting, truncate-on-overwrite
  * idempotence, temp-dir hygiene, and task-level abort cleanup. */
class CsvSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(name: String) =
    graft.Scratch.path(s"graft_csvsink_${ProcessHandle.current().pid()}_$name")

  test("hostile values round-trip through sink + stock reader") {
    val path = dir("hostile")
    val src = Seq(
      (1L, "plain", 2.5),
      (2L, "semi;colon", -0.5),
      (3L, "qu\"ote", 0.0),
      (4L, "multi\nline\r\nboth", 1.0),
      (5L, null.asInstanceOf[String], 3.25)
    ).toDF("id", "s", "x")
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    val back = spark.read
      .option("sep", ";").option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"") // RFC-4180 quote doubling
      .option("inferSchema", "true").csv(path)
    val a = src.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("hostile values round-trip through the provider's OWN reader") {
    val path = dir("ownreader")
    val src = Seq(
      (1L, "plain", 2.5),
      (2L, "semi;colon", -0.5),
      (3L, "qu\"ote", 0.0),
      (4L, "multi\nline\r\nboth", 1.0),
      (5L, null.asInstanceOf[String], 3.25),
      (6L, "", 4.5) // empty string must round-trip as "", NOT null
    ).toDF("id", "s", "x")
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    val back = spark.read.schema("id LONG, s STRING, x DOUBLE")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    assert(src.orderBy("id").collect().toSeq.map(_.toSeq) ==
      back.orderBy("id").collect().toSeq.map(_.toSeq))
    // Schemaless read: header-inferred all-string columns, same names.
    val inferred = spark.read
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    assert(inferred.columns.toSeq == Seq("id", "s", "x"))
    assert(inferred.schema.fields.forall(_.dataType == StringType))
    assert(inferred.count() == 6L)
    // Column pruning reaches the scan: a 1-column projection's scan
    // reports a 1-column ReadSchema.
    val pruned = back.select("s")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema: struct<s:string>"),
      s"column pruning not pushed into the scan:\n$scanDesc")
  }

  test("pushed string range filters use UTF-8 binary order, not UTF-16") {
    // U+10000 encodes as surrogates in UTF-16 (0xD800 < 0xE000) but as
    // F0 90 80 80 in UTF-8 (> U+E000's EE 80 80) — Spark's string order
    // is binary UTF-8, and a fully-pushed filter is never re-checked,
    // so the source's own comparison must agree with Spark's.
    val path = dir("utf8ord")
    val supp = new String(Character.toChars(0x10000)) // U+10000
    val bmp = ""                                // U+E000
    val src = Seq((1L, supp), (2L, bmp)).toDF("id", "s")
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    val back = spark.read.schema("id LONG, s STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    // Spark semantics: supp >= bmp (binary UTF-8). The pushed filter
    // must keep row 1; UTF-16 compareTo order would drop it.
    val kept = back.filter(col("s") >= lit(bmp)).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"UTF-8 binary order violated: kept $kept")
    val below = back.filter(col("s") < lit(bmp)).count()
    assert(below == 0L)
    // And pin UNSIGNEDNESS separately: "é" (C3 A9) must sort above "a"
    // (61) — a signed-byte comparator would flip this pair while still
    // passing the surrogate case above (F0 > EE under both signs).
    val path2 = dir("utf8sign")
    Seq((1L, "a"), (2L, "é")).toDF("id", "s")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path2).save()
    val back2 = spark.read.schema("id LONG, s STRING")
      .format("graft.sources.GraftCsvSink").option("path", path2).load()
    val above = back2.filter(col("s") > lit("a")).collect().map(_.getLong(0)).toSet
    assert(above == Set(2L), s"unsigned byte order violated: $above")
  }

  test("clusterBy requests engine-side clustering: one key, one file, sorted runs") {
    val path = dir("clustered")
    // deliberately scatter the key across many input partitions — the
    // SINK, not the caller, must bring each key back together
    val src = graft.Tables.events(spark, TestSpark.sf0001)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d"),
        col("event_id").cast("long").as("id"))
      .repartition(8)
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).option("clusterBy", "d").save()

    // the physical write plan carries the sink-demanded shuffle
    val files = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.nonEmpty)
    // per-file key runs: no date may appear in more than one file, and
    // the requested ordering makes each file's keys non-decreasing
    val perFile: Seq[(String, Seq[String])] = files.toSeq.map { f =>
      val lines = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
      assert(lines.head.startsWith("d;"), s"header missing in ${f.getName}")
      (f.getName, lines.tail.map(_.split(";")(0)))
    }
    perFile.foreach { case (name, keys) =>
      assert(keys == keys.sorted, s"$name rows are not sorted by the cluster key")
    }
    val owners = perFile.flatMap { case (n, ks) => ks.distinct.map(_ -> n) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val split = owners.filter(_._2.length > 1)
    assert(split.isEmpty,
      s"cluster keys split across files: ${split.keys.take(3).mkString(", ")}")
    // parity: clustering must not add or drop rows
    assert(files.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").count(_.nonEmpty) - 1).sum == src.count())
    // a clusterBy column the schema lacks fails loudly at plan time
    val e = intercept[Exception] {
      src.write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", dir("badcluster"))
        .option("clusterBy", "nope").save()
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("clusterBy")) || msg(t.getCause))
    assert(msg(e))
  }

  test("vectorized read: scan is columnar, values identical to the row reader") {
    val path = dir("vectorized")
    val src = Seq(
      (1L, "plain", 2.5, true),
      (2L, "semi;colon", -0.5, false),
      (3L, null.asInstanceOf[String], 0.0, true),
      (4L, "multi\nline", Double.MaxValue, false),
      (5L, "", -0.0, true) // empty string and -0.0 must survive vectors
    ).toDF("id", "s", "x", "b")
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    def read(vectorized: Boolean) = spark.read
      .schema("id LONG, s STRING, x DOUBLE, b BOOLEAN")
      .format("graft.sources.GraftCsvSink")
      .option("path", path).option("vectorized", vectorized.toString).load()
    // default (columnar) and row paths agree exactly — shared value core
    assert(read(true).orderBy("id").collect().toSeq.map(_.toSeq) ==
      read(false).orderBy("id").collect().toSeq.map(_.toSeq))
    assert(read(true).orderBy("id").collect().toSeq.map(_.toSeq) ==
      src.orderBy("id").collect().toSeq.map(_.toSeq))
    // the scan itself reports columnar: the plan converts with
    // ColumnarToRow instead of RowDataSourceScan-style row emission
    val p = read(true).queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"),
      s"vectorized scan did not plan a columnar exchange:\n$p")
    val pRow = read(false).queryExecution.executedPlan.toString
    assert(!pRow.contains("ColumnarToRow"),
      s"vectorized=false must fall back to the row reader:\n$pRow")
    // a filtered, pruned columnar read stays correct (filter pushed,
    // filtered column pruned from the output)
    val filtered = read(true).filter(col("x") > 0.0).select("s")
    assert(filtered.collect().map(_.getString(0)).toSet ==
      Set("plain", "multi\nline"))
    // a flat table is the zero-key case of the one CSV scan: one input
    // partition per part file, and no key grouping claimed
    val nFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val flatScan = read(true).queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(nFiles > 1 && flatScan.inputRDD.getNumPartitions == nFiles &&
      !flatScan.scan.asInstanceOf[KeyedCsvScan].outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
      s"$nFiles part files planned ${flatScan.inputRDD.getNumPartitions} " +
        s"partitions as ${flatScan.scan.asInstanceOf[KeyedCsvScan].outputPartitioning()}")
  }

  test("LIMIT pushes into the scan (partial), both row and columnar faces") {
    val path = dir("limit")
    (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "s")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    for (vec <- Seq(true, false)) {
      val limited = spark.read.schema("id LONG, s STRING")
        .format("graft.sources.GraftCsvSink")
        .option("path", path).option("vectorized", vec.toString).load()
        .limit(7)
      assert(limited.collect().length == 7, s"vectorized=$vec")
      val scan = limited.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.scan.asInstanceOf[KeyedCsvScan]
      assert(scan.pushedLimit.contains(7),
        s"vectorized=$vec: limit not pushed — ${scan.description()}")
    }
    // limit composes with a pushed filter: n rows AFTER the filter
    val f = spark.read.schema("id LONG, s STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
      .filter(col("id") > 500L).limit(5)
    val got = f.collect()
    assert(got.length == 5 && got.forall(_.getLong(0) > 500L))
  }

  test("overwrite truncates (idempotent re-run) and leaves no temp dirs") {
    val path = dir("trunc")
    val src = (1L to 100L).toDF("id").withColumn("tag", lit("t"))
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    src.write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    val back = spark.read.option("sep", ";").option("header", "true").csv(path)
    assert(back.count() == 100L)
    val entries = Files.list(Paths.get(path)).toArray.map(_.toString)
    assert(entries.exists(_.endsWith("_SUCCESS")))
    assert(!entries.exists(_.contains("_tmp_")), s"temp leftovers: ${entries.toSeq}")
  }

  test("_file metadata column: per-row provenance on both reader faces") {
    val path = dir("filecol")
    (1L to 300L).map(i => (i, s"v$i")).toDF("id", "s").repartition(4)
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    val committed = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map(_.getName).toSet
    assert(committed.size == 4)
    for (vec <- Seq(true, false)) {
      val df = spark.read.schema("id LONG, s STRING")
        .format("graft.sources.GraftCsvSink")
        .option("path", path).option("vectorized", vec.toString).load()
        .select(col("id"), col("_file"))
      val rows = df.collect()
      assert(rows.length == 300, s"vectorized=$vec")
      // every reported file is a real committed part file, and all four
      // files are represented
      val seen = rows.map(_.getString(1).split('/').last).toSet
      assert(seen == committed, s"vectorized=$vec: $seen != $committed")
      // groups by _file partition the id space (provenance is per-row
      // correct, not just per-scan): re-reading ONE named file yields
      // exactly the ids attributed to it
      val (f0, ids0) = rows.groupBy(_.getString(1)).head match {
        case (f, rs) => (f, rs.map(_.getLong(0)).toSet)
      }
      val direct = spark.read.schema("id LONG, s STRING")
        .format("graft.sources.GraftCsvSink").option("path", path).load()
        .filter(col("_file") === f0).collect().map(_.getLong(0)).toSet
      assert(direct == ids0, s"vectorized=$vec")
    }
  }

  test("a DATA column named _file hides the metadata column (stored values win)") {
    // ACCEPT_ANY_SCHEMA lets a table legitimately store a `_file`
    // column; per the SupportsMetadataColumns contract the data column
    // must then be served from the payload, NOT replaced by file paths
    // (advice r13). Both reader faces, flat layout.
    val path = dir("filecol_conflict")
    Seq((1L, "stored-a"), (2L, "stored-b")).toDF("id", "_file")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    for (vec <- Seq(true, false)) {
      val rows = spark.read.schema("id LONG, _file STRING")
        .format("graft.sources.GraftCsvSink")
        .option("path", path).option("vectorized", vec.toString).load()
        .orderBy("id").collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("stored-a", "stored-b"),
        s"vectorized=$vec: stored _file values were replaced by paths: " +
          rows.map(_.getString(1)).toSeq)
    }
  }

  test("write metrics report to the SQL status store (rows/files written)") {
    // UI-facing wiring: the V2 write node's custom metrics (summed
    // across tasks) must reach the status store — a silent metrics
    // regression is invisible without this pin.
    def executedMetric(metricClass: String)(run: => Unit): Long = {
      val store = spark.sharedState.statusStore
      val before = store.executionsList().map(_.executionId).toSet
      run
      val deadline = java.lang.System.currentTimeMillis() + 30000
      while (java.lang.System.currentTimeMillis() < deadline) {
        val vals = store.executionsList()
          .filter(e => !before.contains(e.executionId) &&
            e.physicalPlanDescription.contains("GraftCsv"))
          .flatMap { e =>
            val live = store.executionMetrics(e.executionId)
            // the execution lists one entry per plan-node occurrence of
            // the metric — same accumulator, deduplicate before summing
            e.metrics.filter(_.metricType == s"v2Custom_graft.sources.$metricClass")
              .distinctBy(_.accumulatorId)
              .flatMap(m => live.get(m.accumulatorId))
          }
        if (vals.nonEmpty) return vals.map(_.trim.toLong).sum
        Thread.sleep(100)
      }
      fail(s"custom metric $metricClass never reported to the SQL status store")
    }
    val path = dir("writemetrics")
    val src = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "s").repartition(3)
    val rows = executedMetric("CsvRowsWrittenMetric") {
      src.write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", path).save()
    }
    assert(rows == 500L, s"rowsWritten=$rows")
    // partitioned write: one file per key, counted by the rolled writer
    val path2 = dir("writemetrics_part")
    val files = executedMetric("CsvFilesWrittenMetric") {
      (1L to 100L).map(i => (s"g${i % 5}", i)).toDF("g", "v")
        .write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", path2).option("partitionedBy", "g").save()
    }
    assert(files == 5L, s"filesWritten=$files (expected one per key)")
  }

  test("task abort deletes its temp file; job abort deletes the temp dir") {
    val path = dir("abort")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val bw = new GraftCsvBatchWrite(CsvWriteDesc(path, schema, "q-abort-test",
      SerializableHadoopConf.fromSession()), CsvWriteMode.Append)
    val factory = bw.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 42L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      7L, org.apache.spark.unsafe.types.UTF8String.fromString("x")))
    w.abort()
    // the writer's temp file is gone; the job-level abort drops the dir
    bw.abort(Array.empty)
    val tmp = Paths.get(path, "_tmp_q-abort-test")
    assert(!Files.exists(tmp), s"$tmp must be cleaned up")
    // nothing was ever published
    assert(!Files.exists(Paths.get(path, "part-00000.csv")))
  }

  /** The message chain of a failure (planning may wrap the cause). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def readWith(name: String, value: String): Throwable = {
    val path = dir(s"badopt_$name")
    Seq((1L, "a")).toDF("id", "s").write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).save()
    intercept[Exception] {
      spark.read.format("graft.sources.GraftCsvSink")
        .schema(StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
        .option("path", path).option(name, value).load().collect()
    }
  }

  test("malformed sink option sortBuckets fails naming the option") {
    val e = intercept[Exception] {
      Seq((1L, "a")).toDF("id", "s").write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", dir("badopt_sortBuckets"))
        .option("sortBy", "id").option("sortBuckets", "four").save()
    }
    assert(messages(e).contains("graft-csv sink: option 'sortBuckets' must be an integer, got 'four'"),
      messages(e))
  }

  test("malformed sink option maxVersionsPerTrigger fails naming the option") {
    val m = messages(readWith("maxVersionsPerTrigger", "1.5"))
    assert(m.contains("graft-csv sink: option 'maxVersionsPerTrigger' must be an integer, got '1.5'"), m)
  }

  test("malformed sink option vectorized fails naming the option") {
    val m = messages(readWith("vectorized", "yes"))
    assert(m.contains("graft-csv sink: option 'vectorized' must be true or false, got 'yes'"), m)
  }

  test("malformed sink option zoneSkip fails naming the option") {
    val m = messages(readWith("zoneSkip", "0"))
    assert(m.contains("graft-csv sink: option 'zoneSkip' must be true or false, got '0'"), m)
  }
}
