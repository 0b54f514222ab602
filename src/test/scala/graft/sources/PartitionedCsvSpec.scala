package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The hive-style partitioned layout of the DSV2 CSV table and the
  * storage-partitioned join it exists for: layout invariants, key
  * encoding, planning-time partition pruning, and the zero-Exchange /
  * zero-Sort join plan (SPARK-37377 semantics on this source). */
class PartitionedCsvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(name: String) =
    graft.Scratch.path(s"graft_csvpart_${ProcessHandle.current().pid()}_$name")

  private def writePartitioned(path: String): Unit =
    graft.Tables.orders(spark, TestSpark.sf0001)
      .select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      .repartition(5) // scatter deliberately; the SINK must re-cluster
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).option("partitionedBy", "y").save()

  test("partitionedBy writes one file per key under key=value dirs; payload excludes the key") {
    val path = dir("layout")
    writePartitioned(path)
    val root = new java.io.File(path)
    val keyDirs = root.listFiles().filter(_.isDirectory)
      .filter(f => f.getName.startsWith("y=")).sortBy(_.getName)
    assert(keyDirs.nonEmpty, "no key directories written")
    keyDirs.foreach { d =>
      val parts = d.listFiles().filter(f => f.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"${d.getName}: expected exactly one file per key, got ${parts.length}")
      val header = Files.readAllLines(parts.head.toPath).get(0)
      assert(header == "k;st", s"payload header must exclude the key: $header")
    }
    // no stray top-level part files, temp dirs cleaned, _SUCCESS stamped
    assert(!root.listFiles().exists(f => f.isFile && f.getName.startsWith("part-")))
    assert(!root.listFiles().exists(_.getName.contains("_tmp_")))
    assert(root.listFiles().exists(_.getName == "_SUCCESS"))
  }

  test("partitioned round trip through the provider's own reader, with key re-attached") {
    val path = dir("roundtrip")
    writePartitioned(path)
    val src = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
    val back = spark.read.schema("y STRING, k LONG, st STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    assert(back.orderBy("k").collect().toSeq.map(_.toSeq) ==
      src.orderBy("k").collect().toSeq.map(_.toSeq))
    // schemaless read: payload columns from the header + key as string
    val inferred = spark.read
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    assert(inferred.columns.toSeq == Seq("k", "st", "y"))
    assert(inferred.count() == src.count())
  }

  test("overwrite truncates the previous key directories") {
    val path = dir("trunc")
    Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).option("partitionedBy", "g").save()
    Seq(("c", 3L)).toDF("g", "v")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).option("partitionedBy", "g").save()
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("g=c"), s"stale key dirs survived overwrite: $dirs")
  }

  test("hostile string keys encode injectively and round-trip") {
    val path = dir("hostile")
    val keys = Seq("plain", "with space", "a/b", "a=b", "100%", "émoji✓", "..")
    keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("g", "v")
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path).option("partitionedBy", "g").save()
    val back = spark.read.schema("g STRING, v LONG")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == keys.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap)
    // raw encode/decode inverse on the same values
    keys.foreach { k =>
      assert(PartitionedCsvLayout.decode(PartitionedCsvLayout.encode(k)) == k)
    }
  }

  test("null partition keys are rejected loudly") {
    val path = dir("nullkey")
    val e = intercept[Exception] {
      Seq((null.asInstanceOf[String], 1L)).toDF("g", "v")
        .write.format("graft.sources.GraftCsvSink")
        .mode("overwrite").option("path", path).option("partitionedBy", "g").save()
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("partition")) || msg(t.getCause))
    assert(msg(e))
  }

  test("key filters prune directories at planning time; payload filters still push") {
    val path = dir("prune")
    writePartitioned(path)
    val back = spark.read.schema("y STRING, k LONG, st STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    val total = PartitionedCsvLayout.listKeyDirs(path,
      SerializableHadoopConf.fromSession().value).length
    val filtered = back.filter(col("y") >= "1996" && col("k") > 100L)
    val scan = filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    val keyed = scan.scan.asInstanceOf[KeyedCsvScan]
    assert(keyed.partFilters.nonEmpty, "key filter was not captured for pruning")
    assert(keyed.payloadFilters.nonEmpty, "payload filter was not pushed")
    val planned = scan.inputRDD.getNumPartitions
    assert(planned < total,
      s"partition pruning planned $planned of $total key dirs — nothing pruned")
    // values stay correct vs the unpruned frame
    val expect = back.filter(col("y") >= "1996" && col("k") > 100L).count()
    assert(filtered.count() == expect)
  }

  test("runtime key filtering prunes directories to empty partitions (DPP shape)") {
    val path = dir("dpp")
    writePartitioned(path)
    val conf = SerializableHadoopConf.fromSession()
    val (keyCols, leaves) = PartitionedCsvLayout.listPartitionTree(path, conf.value)
    assert(keyCols == Seq("y") && leaves.length > 2)
    val keepKeys: Set[Any] = Set(leaves.head._1.head, leaves.last._1.head)
    def freshScan(): KeyedCsvScan = {
      val b = new KeyedCsvScanBuilder(path,
        org.apache.spark.sql.types.StructType.fromDDL("y STRING, k LONG, st STRING"),
        keyCols, leaves, conf)
      b.build().asInstanceOf[KeyedCsvScan]
    }
    val scan = freshScan()
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("y", keepKeys.toArray)))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[KeyedCsvPartition])
    // partition COUNT preserved (the reported KeyGroupedPartitioning must
    // stay truthful); pruned keys carry zero files
    assert(parts.length == leaves.length)
    assert(parts.filter(p => keepKeys.contains(p.keyRaws.head)).forall(_.files.nonEmpty))
    assert(parts.filterNot(p => keepKeys.contains(p.keyRaws.head)).forall(_.files.isEmpty))
    // rows read = exactly the kept keys' rows
    val factory = scan.createReaderFactory()
    var n = 0
    parts.foreach { p =>
      val r = factory.createReader(p)
      try while (r.next()) n += 1
      finally r.close()
    }
    val expected = spark.read.schema("y STRING, k LONG, st STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
      .filter(col("y").isin(keepKeys.toSeq.map(_.toString): _*)).count()
    assert(n.toLong == expected)
    // intersecting filter calls (Spark may deliver several)
    val scan2 = freshScan()
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("y", keepKeys.toArray),
      org.apache.spark.sql.sources.EqualTo("y", leaves.head._1.head)))
    val parts2 = scan2.planInputPartitions().map(_.asInstanceOf[KeyedCsvPartition])
    assert(parts2.count(_.files.nonEmpty) == 1)
  }

  test("keyed columnar read: constant-vector key, values identical to the row face") {
    val path = dir("keyedvec")
    writePartitioned(path)
    def read(vectorized: Boolean) = spark.read
      .schema("y STRING, k LONG, st STRING")
      .format("graft.sources.GraftCsvSink")
      .option("path", path).option("vectorized", vectorized.toString).load()
    assert(read(true).orderBy("k").collect().toSeq.map(_.toSeq) ==
      read(false).orderBy("k").collect().toSeq.map(_.toSeq))
    val p = read(true).queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"),
      s"keyed vectorized scan did not plan columnar:\n$p")
    // pruned-key projection (key not in output) stays columnar + correct
    assert(read(true).select("st").count() == read(false).select("st").count())
  }

  test("aggregation on the partition key plans ZERO exchange (key-grouped scan satisfies the clustering)") {
    val path = dir("aggfree")
    writePartitioned(path)
    val agg = spark.read.schema("y STRING, k LONG, st STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
      .groupBy("y").agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    val rows = agg.collect()
    assert(rows.length > 3)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: flatten(q.plan)
      case other => p +: other.children.flatMap(flatten)
    }
    val all = flatten(agg.queryExecution.executedPlan)
    assert(all.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"groupBy on the partition key still shuffles:\n${all.head}")
    // values agree with a fresh (shuffled) aggregation over the raw frame
    val plain = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderkey").as("k"))
      .groupBy("y").agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == plain)
  }

  test("storage-partitioned join: zero Exchange and zero Sort below the SMJ") {
    val a = dir("spj_a"); val b = dir("spj_b")
    val orders = graft.Tables.orders(spark, TestSpark.sf0001)
    orders.select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_totalprice").as("p"))
      .groupBy("y").agg(count(lit(1)).as("n_orders"))
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", a).option("partitionedBy", "y").save()
    orders.select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderpriority"))
      .groupBy("y").agg(countDistinct(col("o_orderpriority")).as("n_prio"))
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", b).option("partitionedBy", "y").save()

    val left = spark.read.schema("y STRING, n_orders LONG")
      .format("graft.sources.GraftCsvSink").option("path", a).load()
    val right = spark.read.schema("y STRING, n_prio LONG")
      .format("graft.sources.GraftCsvSink").option("path", b).load()
    val joined = left.hint("merge").join(right, "y")
    val rows = joined.orderBy("y").collect()
    assert(rows.length > 3, "join produced suspiciously few rows")

    // executed above, so the adaptive plan is final — unwrap it (collect
    // on AdaptiveSparkPlanExec itself does not descend into the plan)
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val smjs = plan.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n$plan")
    assert(smjs.head.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"storage-partitioned join still shuffles:\n${smjs.head}")
    assert(smjs.head.collect { case s: SortExec => s }.isEmpty,
      s"reported ordering not used — sorts below the SPJ:\n${smjs.head}")
    // and the values agree with a plain (shuffled) join of the same frames
    val plain = left.join(right, "y").orderBy("y").collect()
    assert(rows.toSeq == plain.toSeq)
  }

  test("LIMIT pushes into the keyed scan (partial, per key partition)") {
    val path = dir("keyedlimit")
    writePartitioned(path)
    for (vec <- Seq(true, false)) {
      val limited = spark.read.schema("y STRING, k LONG, st STRING")
        .format("graft.sources.GraftCsvSink")
        .option("path", path).option("vectorized", vec.toString).load()
        .limit(4)
      assert(limited.collect().length == 4, s"vectorized=$vec")
      val scan = limited.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.scan.asInstanceOf[KeyedCsvScan]
      assert(scan.pushedLimit.contains(4),
        s"vectorized=$vec: limit not pushed — ${scan.description()}")
    }
  }

  private def writeCompound(path: String): Unit =
    graft.Tables.orders(spark, TestSpark.sf0001)
      .select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderstatus").as("st"), col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      .repartition(5)
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", path)
      .option("partitionedBy", "y,st").save()

  test("compound keys: nested y=…/st=… layout, roundtrip, schemaless inference") {
    val path = dir("compound")
    writeCompound(path)
    // nested layout: first level y=, second st=, one file per leaf
    val root = new java.io.File(path)
    val yDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("y="))
    assert(yDirs.length > 2)
    yDirs.foreach { yd =>
      val stDirs = yd.listFiles().filter(_.isDirectory)
      assert(stDirs.nonEmpty && stDirs.forall(_.getName.startsWith("st=")),
        s"${yd.getName}: ${stDirs.map(_.getName).toSeq}")
      stDirs.foreach { sd =>
        val parts = sd.listFiles().filter(_.getName.startsWith("part-"))
        assert(parts.length == 1, s"${yd.getName}/${sd.getName}: ${parts.length} files")
        // payload header excludes BOTH keys
        val header = Files.readAllLines(parts.head.toPath).get(0)
        assert(header == "k;p", s"payload header must exclude the keys: $header")
      }
    }
    val src = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderstatus").as("st"), col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
    val back = spark.read.schema("y STRING, st STRING, k LONG, p DOUBLE")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    assert(back.orderBy("k").collect().toSeq.map(_.toSeq) ==
      src.orderBy("k").collect().toSeq.map(_.toSeq))
    // schemaless: payload columns + both keys (nesting order) as strings
    val inferred = spark.read
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    assert(inferred.columns.toSeq == Seq("k", "p", "y", "st"))
    assert(inferred.count() == src.count())
  }

  test("compound keys: pruning on any subset — prefix, suffix, both") {
    val path = dir("compound_prune")
    writeCompound(path)
    val back = spark.read.schema("y STRING, st STRING, k LONG, p DOUBLE")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    val (_, leaves) = PartitionedCsvLayout.listPartitionTree(path,
      SerializableHadoopConf.fromSession().value)
    def scanOf(df: org.apache.spark.sql.DataFrame): KeyedCsvScan =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }.head.scan.asInstanceOf[KeyedCsvScan]
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }.head.inputRDD.getNumPartitions
    // prefix (first key only)
    val pre = back.filter(col("y") >= "1996")
    assert(scanOf(pre).partFilters.nonEmpty)
    assert(planned(pre) < leaves.length, "prefix predicate pruned nothing")
    // suffix (second key only) — hive layouts prune this too
    val suf = back.filter(col("st") === "F")
    assert(scanOf(suf).partFilters.nonEmpty)
    assert(planned(suf) < leaves.length, "suffix predicate pruned nothing")
    // both keys
    val both = back.filter(col("y") === "1996" && col("st") === "F")
    assert(planned(both) < planned(pre))
    // values stay correct vs a fresh unpruned read
    val expect = graft.Tables.orders(spark, TestSpark.sf0001)
      .filter(substring(col("o_orderdate").cast("string"), 1, 4) === "1996" &&
        col("o_orderstatus") === "F").count()
    assert(both.count() == expect)
  }

  test("compound-key storage-partitioned join: zero Exchange, zero Sort below the SMJ") {
    val a = dir("cspj_a"); val b = dir("cspj_b")
    val orders = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(substring(col("o_orderdate").cast("string"), 1, 4).as("y"),
        col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
    orders.groupBy("y", "st").agg(count(lit(1)).as("n_orders"))
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", a).option("partitionedBy", "y,st").save()
    orders.groupBy("y", "st").agg(sum(col("p")).as("sum_p"))
      .write.format("graft.sources.GraftCsvSink")
      .mode("overwrite").option("path", b).option("partitionedBy", "y,st").save()
    val left = spark.read.schema("y STRING, st STRING, n_orders LONG")
      .format("graft.sources.GraftCsvSink").option("path", a).load()
    val right = spark.read.schema("y STRING, st STRING, sum_p DOUBLE")
      .format("graft.sources.GraftCsvSink").option("path", b).load()
    val joined = left.hint("merge").join(right, Seq("y", "st"))
    val rows = joined.orderBy("y", "st").collect()
    assert(rows.length > 5)
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val smjs = plan.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n$plan")
    assert(smjs.head.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"compound-key SPJ still shuffles:\n${smjs.head}")
    assert(smjs.head.collect { case s: SortExec => s }.isEmpty,
      s"compound-key SPJ still sorts:\n${smjs.head}")
    val plain = left.join(right, Seq("y", "st")).orderBy("y", "st").collect()
    assert(rows.toSeq == plain.toSeq)
  }

  test("regression: broadcast join over keyed scans + orderBy survives AQE") {
    // With v2.bucketing.sorting.enabled, Spark 4.1.2 eliminates the
    // global Sort above a BROADCAST join whose stream side is a
    // key-grouped scan, and AQE then dies staging the BroadcastExchange
    // (missing-logical-link assertion). The conf is pinned OFF in
    // Tables.requiredConfs; this is the exact crash shape, kept green.
    assert(spark.conf.get("spark.sql.sources.v2.bucketing.sorting.enabled") == "false")
    val path = dir("bhj_orderby")
    writePartitioned(path)
    val t = spark.read.schema("y STRING, k LONG, st STRING")
      .format("graft.sources.GraftCsvSink").option("path", path).load()
    val dim = t.groupBy("y").agg(count(lit(1)).as("n"))
    // unhinted: statistics make the dim broadcastable
    val rows = t.join(dim, "y").orderBy("y", "k").collect()
    assert(rows.nonEmpty)
  }
}
