package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * One parquet file per table under `\$sfDir`. All queries read through
  * here so the scan path (schema pruning, filter pushdown) is uniform:
  * Catalyst pushes `select`/`filter` into these parquet scans, which is
  * the scale story — at 100 TB the scan must only read the referenced
  * columns and row groups.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}
  import java.util.concurrent.ConcurrentHashMap

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` that infers the schema once per session
    * and file: inference reads the footer in a Spark job (about 0.1 s a
    * read), while a read given the schema runs none. The inferred
    * `StructType` — nullability and metadata as inferred — is memoized
    * per session, keyed on the absolute path, length and mtime, so a
    * rewritten file is inferred again. Only regular files are memoized;
    * a directory (whose parts can change without its own mtime moving)
    * or a non-local path is inferred on every read. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (!f.isFile) spark.read.parquet(path)
    else {
      val perSession = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[(String, Long, Long), StructType]()))
      val schema = perSession.computeIfAbsent((f.getAbsolutePath, f.length, f.lastModified),
        _ => spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, Long, Long), StructType]]()

  /** All graft sessions must read nanosecond parquet timestamps
    * (events.ts) as raw longs instead of erroring (PARQUET_TYPE_ILLEGAL);
    * [[events]] then rescales to a proper µs TimestampType. Applied by
    * Verify/Bench/test builders via this helper. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Storage-partitioned joins over the key-grouped DSV2 scans
    // (KeyedCsvScan): plan co-partitioned joins with no Exchange and
    // align mismatched partition-value sets. The SMJ sorts are already
    // eliminated by the scan's reported per-partition ordering;
    // `v2.bucketing.sorting.enabled` (which additionally satisfies
    // GLOBAL sorts by ordering the partition groups) is deliberately
    // LEFT OFF: combined with a broadcast join over a key-grouped scan
    // it eliminates the Sort above the join and Spark 4.1.2's AQE then
    // dies on a missing-logical-link assertion when staging the
    // BroadcastExchange (reproduced in PartitionedCsvSpec history; a
    // plain `a.join(b, k).orderBy(k)` must never crash).
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.sorting.enabled" -> "false")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts arrives in one of three parquet encodings depending on
    * the generator: TIMESTAMP(NANOS) (with nanosAsLong=true the scan
    * yields LongType nanos — rescale with integer division, exact; a
    * double path would lose precision at 1e18 ns), TIMESTAMP_NTZ (cast
    * to TimestampType — the session is pinned UTC via [[requiredConfs]],
    * so the cast is value-preserving), or already TimestampType
    * (pass-through). Normalizing here means every consumer — batch and
    * streaming — sees a plain µs TimestampType `ts`. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** The ts-encoding normalization shared by [[events]] and the
    * streaming reader ([[graft.streaming.StreamOps]]). */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Scale-adaptive scan fan-out for compute-DENSE per-row work
    * (optimization guide §2.5, "input skew: one huge unsplittable
    * file... repartition immediately after the read"). The bench tables
    * are single-row-group parquet files, so a scan yields ONE non-empty
    * partition and expression-heavy stages (percentile buffers, decimal
    * sums, codec decodes, shingle hashing) single-thread on a 32-core
    * host. When the planned scan has fewer partitions than the session's
    * parallelism, spread the rows with one round-robin exchange — a few
    * MB moved once buys cores× the stage. At production scale the scan
    * already carries ≥ cores partitions (many files / row groups), the
    * predicate is false, and NO shuffle is added — this must never
    * become an unconditional repartition, which would re-shuffle the
    * full input at 100 TB. Apply AFTER projecting to the needed columns
    * so the exchange moves only what the operator reads.
    *
    * Contract: pass scan/project frames only. Any frame whose plan AQE
    * wrapped (one with an exchange or subquery) is returned untouched —
    * including one whose exchange AQE coalesced to a single partition,
    * which therefore stays single-task. Fan out before the aggregate or
    * join, not after. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.executedPlan match {
      // A plan AQE wrapped contains an exchange (or subquery): its rows
      // are already shuffle-distributed across the session's shuffle
      // partitions, so no fan-out is needed — and probing it via
      // `.rdd`/`execute()` would materialize query stages at PLAN-BUILD
      // time, running the upstream work twice (ADVICE r15). Returning
      // the frame untouched keeps the probe allocation-free and pins
      // the scan/project-only contract structurally instead of by
      // caller discipline.
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        df
      // Exchange-free plan (scan+project): `execute()` builds the scan
      // RDD lazily — its partition count is the planned file-split
      // count, no job runs.
      case p =>
        if (p.execute().getNumPartitions < target) df.repartition(target)
        else df
    }
  }
}
