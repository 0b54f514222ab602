package graft.sources

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The DSv2 `;`-CSV sink's native STREAMING write: per-epoch two-phase
  * commit into epoch-stamped final names, exactly-once under replay
  * (a re-committed epoch overwrites its own files), and read-back
  * parity through the sink's own reader. */
class CsvStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(name: String) =
    graft.Scratch.path(s"graft_csvstream_${ProcessHandle.current().pid()}_" +
      s"${java.lang.System.nanoTime()}_$name")

  test("clusterBy holds on the STREAMING write path: engine shuffle, no key split") {
    import org.apache.spark.sql.functions._
    val staging = dir("cluster_src"); val out = dir("cluster_out")
    val ckpt = dir("cluster_ckpt")
    val src = graft.Tables.events(spark, graft.TestSpark.sf0001)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d"),
        col("event_id").cast("long").as("id"))
      .repartition(8) // scatter keys: the SINK must bring them together
    src.write.parquet(staging)
    val q = spark.readStream.schema("d STRING, id LONG").parquet(staging)
      .writeStream.format("graft.sources.GraftCsvSink")
      .option("path", out)
      .option("clusterBy", "d")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the micro-batch write plan carries the sink-demanded clustering
    // exchange (RequiresDistributionAndOrdering honored in streaming)
    org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 10000)
    val plans = spark.sharedState.statusStore.executionsList()
      .map(_.physicalPlanDescription)
      .filter(p => p.contains("GraftCsvStreamingWrite"))
    assert(plans.nonEmpty, "no streaming write execution recorded")
    assert(plans.last.contains("hashpartitioning(d#"),
      "streaming write plan lacks the clusterBy exchange")
    // contract: a key never splits across files, rows survive intact
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    val rows = files.flatMap(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").filter(l => l.nonEmpty && !l.startsWith("d;"))
        .map(l => (l.split(";")(0), f.getName)))
    assert(rows.length.toLong == src.count())
    val split = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
      .filter(_._2 > 1)
    assert(split.isEmpty, s"keys split across files: ${split.keys.take(3)}")
  }

  test("micro-batches land as epoch-stamped files, readable by the sink's reader") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = dir("epochs"); val ckpt = dir("epochs_ckpt")
    val q = mem.toDF().toDF("id", "s")
      .writeStream.format("graft.sources.GraftCsvSink")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())

    mem.addData((1L, "a"), (2L, "b;b"))
    val q1 = q.start(); q1.awaitTermination()
    mem.addData((3L, "c\nd"))
    val q2 = q.start(); q2.awaitTermination()

    val back = spark.read.format("graft.sources.GraftCsvSink")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))))
      .option("path", out).load()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "b;b"), (3L, "c\nd")))
    // epoch-stamped names, one epoch per micro-batch
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).sorted
    assert(files.exists(_.startsWith("part-00000-")) &&
      files.exists(_.startsWith("part-00001-")),
      s"expected files from two epochs, got ${files.mkString(",")}")
    // no temp litter
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("_tmp_")))
  }

  test("a replayed epoch overwrites its own files — exactly-once") {
    val out = dir("replay")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val conf = SerializableHadoopConf.fromSession()
    val sw = new GraftCsvStreamingWrite(CsvWriteDesc(out, schema, "qtest", conf),
      CsvWriteMode.Append)
    val factory = sw.createStreamingWriterFactory(null)

    def writeEpoch(epoch: Long, ids: Seq[Long]) = {
      val w = factory.createWriter(0, 7L, epoch)
      ids.foreach(i => w.write(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i))))
      sw.commit(epoch, Array(w.commit()))
    }
    writeEpoch(0L, Seq(1L, 2L))
    writeEpoch(0L, Seq(1L, 2L)) // checkpoint replay of the SAME epoch
    writeEpoch(1L, Seq(3L))

    // Replay with FEWER partitions than the first attempt: the commit
    // must remove the orphan file the narrower replay does not
    // re-produce, or its rows would survive as duplicates.
    val w2a = factory.createWriter(0, 8L, 2L)
    w2a.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](10L)))
    val w2b = factory.createWriter(1, 9L, 2L)
    w2b.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](11L)))
    sw.commit(2L, Array(w2a.commit(), w2b.commit())) // first attempt: 2 files
    val w2r = factory.createWriter(0, 10L, 2L)
    Seq(10L, 11L).foreach(i => w2r.write(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i))))
    sw.commit(2L, Array(w2r.commit())) // replay: 1 partition, same rows

    val back = spark.read.format("graft.sources.GraftCsvSink")
      .schema(schema).option("path", out).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back == Seq(1L, 2L, 3L, 10L, 11L),
      s"replay must not duplicate or orphan rows: $back")
    // the orphan part-00002-00001.csv from epoch 2's first attempt is gone
    val epoch2 = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("part-00002-")).sorted
    assert(epoch2.toSeq == Seq("part-00002-00000.csv"),
      s"narrower replay must clean the wider attempt's files: ${epoch2.mkString(",")}")
  }

  test("complete output mode on the path face: each epoch's aggregate replaces the earlier epochs'") {
    import org.apache.spark.sql.functions.sum
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val out = dir("complete"); val ckpt = dir("complete_ckpt")
    def drain(): Unit = mem.toDF().toDF("g", "n").groupBy("g").agg(sum("n").as("v"))
      .writeStream.format("graft.sources.GraftCsvSink")
      .outputMode(OutputMode.Complete())
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    def back(): Seq[(String, Long)] = spark.read.format("graft.sources.GraftCsvSink")
      .schema(StructType(Seq(StructField("g", StringType), StructField("v", LongType))))
      .option("path", out).load()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    mem.addData(("a", 1L), ("b", 2L))
    drain()
    assert(back() == Seq(("a", 1L), ("b", 2L)))
    mem.addData(("a", 10L))
    drain()
    // the second epoch's full aggregate alone, not both epochs' rows
    assert(back() == Seq(("a", 11L), ("b", 2L)))
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.startsWith("part-00001-")),
      s"epoch 0's files outlived epoch 1's publish: ${parts.sorted.mkString(",")}")
  }
}
