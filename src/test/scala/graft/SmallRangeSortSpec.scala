package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallRangeSort]]: a global sort's range exchange plans
  * one partition (no sampling job) over a small settled input (a) or a
  * single small input task (b), and keeps Spark's n-way exchange everywhere
  * else. The sorted output must be the definition — the rows ordered by
  * the sort keys — on both sides. */
class SmallRangeSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** 2,000 rows: `k` a double with 50 tied values, nulls and NaNs; `s` a
    * string with 7 values and nulls; `id` unique. */
  private lazy val rows: Seq[(Long, Option[Double], Option[String])] =
    (0L until 2000L).map { i =>
      val k = if (i % 97 == 0) None else if (i % 89 == 0) Some(Double.NaN)
        else Some((i * 37 % 50).toDouble)
      (i, k, if (i % 13 == 0) None else Some(s"s${i % 7}"))
    }

  /** The rows as one parquet file (one input partition) and as four. */
  private lazy val (oneFile, fourFiles) = {
    val s = spark
    import s.implicits._
    val df = rows.toDF("id", "k", "s")
    val one = Scratch.path(s"small_range_sort_one_${System.nanoTime()}")
    val four = Scratch.path(s"small_range_sort_four_${System.nanoTime()}")
    df.coalesce(1).write.parquet(one)
    df.repartition(4).write.parquet(four)
    (one, four)
  }
  private def read(path: String): DataFrame = spark.read.parquet(path)

  /** The partition counts of the range exchanges in the plan that ran. */
  private def rangeParts(df: DataFrame): Seq[Int] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case ShuffleExchangeExec(r: RangePartitioning, _, _, _) => r.numPartitions
    }
  }

  /** Summed runtime bytes of the query stages under the range exchange. */
  private def stageBytesUnderRange(df: DataFrame): BigInt = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case ShuffleExchangeExec(_: RangePartitioning, child, _, _) =>
        collect(child) { case s: ShuffleQueryStageExec => s.getRuntimeStatistics.sizeInBytes }.sum
    }.sum
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  // -- the definition: Spark's sort order, written out -----------------
  private def cmpDouble(a: Double, b: Double): Int =
    if (a.isNaN) { if (b.isNaN) 0 else 1 } else if (b.isNaN) -1 else java.lang.Double.compare(a, b)
  private def cmpKey(a: Any, b: Any, desc: Boolean, nullsFirst: Boolean): Int =
    (a, b) match {
      case (null, null) => 0
      case (null, _) => if (nullsFirst) -1 else 1
      case (_, null) => if (nullsFirst) 1 else -1
      case (x: Double, y: Double) => if (desc) -cmpDouble(x, y) else cmpDouble(x, y)
      case (x: String, y: String) => if (desc) -x.compareTo(y) else x.compareTo(y)
      case other => throw new IllegalArgumentException(s"unexpected keys $other")
    }
  /** (column, descending, nulls first) */
  private type Key = (String, Boolean, Boolean)
  private def column(k: Key): Column = (k._2, k._3) match {
    case (false, true) => col(k._1).asc_nulls_first
    case (false, false) => col(k._1).asc_nulls_last
    case (true, true) => col(k._1).desc_nulls_first
    case (true, false) => col(k._1).desc_nulls_last
  }
  private val orders: Seq[Seq[Key]] = Seq(
    Seq(("k", false, true)),                       // ASC (nulls first)
    Seq(("k", true, false)),                       // DESC (nulls last)
    Seq(("k", false, false)),                      // ASC NULLS LAST
    Seq(("k", true, true)),                        // DESC NULLS FIRST
    Seq(("s", false, true), ("k", true, false)))   // two keys, mixed

  /** The sorted output equals the definition: its key columns are the
    * input's keys in definition order (rows tied on every key may come
    * in any order), and it holds exactly the input's rows. */
  private def checkSorted(sorted: Array[Row], input: Array[Row], keys: Seq[Key]): Unit = {
    def keyOf(r: Row): Seq[Any] = keys.map(k => r.get(r.fieldIndex(k._1)))
    val ordering: Ordering[Seq[Any]] = (a, b) =>
      keys.indices.iterator.map(i => cmpKey(a(i), b(i), keys(i)._2, keys(i)._3))
        .find(_ != 0).getOrElse(0)
    val want = input.map(keyOf).sorted(ordering).toSeq
    val got = sorted.map(keyOf).toSeq
    // NaN != NaN under ==, so compare keys through the ordering
    assert(got.length == want.length && got.zip(want).forall { case (g, w) =>
      ordering.compare(g, w) == 0 }, s"order ${keys.mkString(",")} differs from the definition")
    assert(sorted.map(_.toString).sorted.toSeq == input.map(_.toString).sorted.toSeq)
  }

  test("output is the rows sorted by key: ties, nulls, NaN, descending and nulls-first orders") {
    val scan = read(oneFile)
    val input = scan.collect()
    val grouped = scan.groupBy("k", "s").agg(count(lit(1)).as("n"), sum("id").as("ids"))
    val groupedInput = grouped.collect()
    orders.foreach { keys =>
      // (b) one input task
      val b = scan.filter(col("id") % 3 =!= 1).orderBy(keys.map(column): _*)
      assert(rangeParts(b) == Seq(1), s"(b) did not fire for ${keys.mkString(",")}")
      checkSorted(b.collect(), input.filter(_.getLong(0) % 3 != 1), keys)
      // (a) small settled input
      val a = grouped.orderBy(keys.map(column): _*)
      assert(rangeParts(a) == Seq(1), s"(a) did not fire for ${keys.mkString(",")}")
      checkSorted(a.collect(), groupedInput, keys)
      // Spark's sampled n-way exchange over the four-file input
      val n = read(fourFiles).orderBy(keys.map(column): _*)
      assert(rangeParts(n) == Seq(4))
      checkSorted(n.collect(), input, keys)
    }
  }

  test("(a) holds exactly up to minPartitionSize of summed stage bytes") {
    // a fresh frame per run: a frame's adaptive plan is settled by its
    // first execution and reused by later ones
    def q = read(oneFile).groupBy("s", "k").agg(count(lit(1)).as("n")).orderBy("s", "k")
    val bytes = stageBytesUnderRange(q)
    assert(bytes > 1, s"stage bytes $bytes")
    withConf(MinSize, bytes.toString) {
      assert(rangeParts(q) == Seq(1), s"input of $bytes bytes at a bound of $bytes kept n > 1")
    }
    withConf(MinSize, (bytes - 1).toString) {
      assert(rangeParts(q) == Seq(4), s"input of $bytes bytes over a bound of ${bytes - 1} fired")
    }
    // a join between the stages and the sort: the rows may multiply
    val s = read(oneFile).groupBy("s").agg(count(lit(1)).as("n"))
    val joined = s.join(s.withColumnRenamed("n", "m"), "s").orderBy("s")
    assert(rangeParts(joined) == Seq(4))
    // a projection that builds wide strings: the rows may widen
    val wide = s.select(col("s"), repeat(col("s"), 1000).as("w")).orderBy("w")
    assert(rangeParts(wide) == Seq(4))
  }

  test("(b) needs one input partition: several partitions or repartitionByRange keep n > 1") {
    assert(read(fourFiles).rdd.getNumPartitions > 1, "the four-file input plans one partition")
    assert(rangeParts(read(fourFiles).filter(col("id") > 5).orderBy("k")) == Seq(4))
    // a user's range repartition keeps its own partition count
    assert(rangeParts(read(oneFile).repartitionByRange(4, col("k"))) == Seq(4))
    // a union of two single-file scans plans two input partitions
    assert(rangeParts(read(oneFile).union(read(oneFile)).orderBy("k")) == Seq(4))
  }

  test("(b) holds exactly up to maxPartitionBytes of input") {
    // gzip is not splittable: one input partition whatever its size
    val s = spark
    import s.implicits._
    val gz = Scratch.path(s"small_range_sort_gz_${System.nanoTime()}")
    rows.toDF("id", "k", "s").coalesce(1).write.option("compression", "gzip").json(gz)
    val size = new java.io.File(gz).listFiles().filter(_.getName.endsWith(".json.gz"))
      .map(_.length).sum
    def in = spark.read.schema("id LONG, k DOUBLE, s STRING").json(gz)
    def q = in.orderBy("k")
    withConf("spark.sql.files.maxPartitionBytes", size.toString) {
      assert(in.rdd.getNumPartitions == 1)
      assert(rangeParts(q) == Seq(1), s"input of $size bytes at a bound of $size kept n > 1")
    }
    withConf("spark.sql.files.maxPartitionBytes", (size - 1).toString) {
      assert(rangeParts(q) == Seq(4), s"one input task of $size bytes over a bound of ${size - 1} fired")
    }
  }

  test("noop write of a map-only orderBy over a single-file scan: 2 jobs, not the sampled 3") {
    val sc = spark.sparkContext
    def jobs(df: DataFrame): Int = {
      val group = s"small-range-sort-${System.nanoTime()}"
      val n = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
            n.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, group)
        try df.write.format("noop").mode("overwrite").save() finally sc.clearJobGroup()
        org.apache.spark.GraftListenerDrain.waitUntilEmpty(sc, 10000)
      } finally sc.removeSparkListener(listener)
      n.get
    }
    def query(path: String) =
      read(path).select(col("id"), (col("k") * 2).as("k2")).filter(col("id") % 2 === 0)
        .orderBy(col("k2").desc, col("id"))
    // sampled: range-bounds job, map stage, result stage
    assert(jobs(query(fourFiles)) == 3)
    // one range partition: map stage and result stage only
    assert(jobs(query(oneFile)) == 2)
  }
}
