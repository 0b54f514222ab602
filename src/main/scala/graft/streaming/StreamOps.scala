package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.functions.Num
import graft.operators.{AccumIndex, Lifecycle, Multimodal, Rank, TextAnalysis}

/** Structured Streaming surface. The reference is batch-only (`@daily`
  * Airflow reruns, SURVEY.md §2.13); these are the streaming-idiomatic
  * supersets: the same tumbling aggregation runs identically over a
  * batch DataFrame (oracle-checkable) and a `readStream` source with a
  * watermark (exercised in StreamingSpec against the batch result).
  */
object StreamOps {

  /** Hourly tumbling window aggregate per event type — works on batch
    * and streaming inputs alike (same Catalyst plan family). */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** The events table as a stream: parquet `FileStreamSource` needs a
    * directory, so the single table file is selected out of the shared
    * sfDir with a glob; the ts-encoding normalization (nanos-long /
    * TIMESTAMP_NTZ / native) is shared with `Tables.events` — a
    * watermark requires a true `TimestampType` column, so NTZ must be
    * cast here too (session pinned UTC → value-preserving). */
  private[graft] def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = graft.Tables.table(spark, dir, "events").schema
    val raw = spark.readStream.schema(batchSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.Tables.normalizeTs(raw)
  }

  /** Streaming variant: parquet source + 2-hour watermark (bounds state
    * at scale; the deterministic test feed has no late data, so the
    * streaming result must equal the batch result exactly). */
  def tumblingHourlyStream(spark: SparkSession, dir: String): DataFrame =
    tumblingHourly(eventsStream(spark, dir).withWatermark("ts", "2 hours"))

  /** Streaming exact dedup — the streaming face of `Dedup.exact`: the
    * feed is deliberately doubled (each event ×2), and stateful
    * `dropDuplicates` on the key emits each event exactly once. In
    * production add `withWatermark` (or `dropDuplicatesWithinWatermark`)
    * so the seen-keys state stays bounded to the late-data horizon. */
  def dedupStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withColumn("copy", explode(array(lit(1), lit(2))))
      .select("event_id", "user_id", "ts")
      .dropDuplicates("event_id")

  /** Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * drops a key's dedup state once the watermark passes it, so state
    * size is the keys-per-horizon rate, not the stream's lifetime key
    * count — the only dedup shape that survives an unbounded stream.
    * The feed is doubled like [[dedupStream]]; with no late data the
    * result equals the batch distinct set exactly (StreamingSpec). */
  def dedupWithinWatermarkStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withColumn("copy", explode(array(lit(1), lit(2))))
      .select("event_id", "user_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id")

  /** The oracle-checkable batch face of horizon-bounded dedup: the first
    * event per (user, event_type) within each hourly tumbling window —
    * what a deduped-at-the-horizon stream retains when the key is
    * (user, type) and the horizon is the hour. Ranking windows partition
    * by (user, type, hour), so no partition exceeds one key-hour. */
  def firstPerKeyHourBatch(events: DataFrame): DataFrame = {
    Rank.perGroup(events.withColumn("h", date_trunc("hour", col("ts"))),
        Seq("user_id", "event_type", "h"), Seq(col("ts"), col("event_id")), 1)
      .select(col("user_id"), col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_id").as("first_event"))
  }

  /** Sliding 2-hour windows every hour — each event lands in exactly two
    * windows. Batch face is oracle-checkable (union of the two grid
    * alignments); streaming face works unchanged. */
  def sliding2hHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"))

  /** Streaming session windows (gap-based) per user — the streaming twin
    * of [[graft.operators.Warehouse.sessionize]], via the native
    * `session_window` state operator. The spec runs it complete-mode
    * over the finite parquet feed (no watermark → every session emits),
    * proving parity with the batch sessionize; a production deployment
    * adds `withWatermark` + append mode so session state stays bounded. */
  def sessionizedStream(spark: SparkSession, dir: String, gapSec: Long): DataFrame =
    eventsStream(spark, dir)
      .groupBy(session_window(col("ts"), s"$gapSec seconds").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Stream-stream interval join: purchases matched to the same user's
    * signups within the preceding hour. Both sides carry watermarks and
    * the join condition bounds the event-time distance, so each side's
    * buffered state is limited to the watermark horizon — the canonical
    * scalable stream-stream join shape. Inner join → matches emit as
    * soon as both sides arrive. */
  def purchasesNearSignupsStream(spark: SparkSession, dir: String): DataFrame = {
    val signups = eventsStream(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(signups,
      expr("p_user = s_user AND p_ts >= s_ts AND p_ts <= s_ts + interval 1 hour"))
      .select(col("p_id"), col("p_user"),
        date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
  }

  /** The batch twin of [[purchasesNearSignupsStream]] for parity specs. */
  def purchasesNearSignupsBatch(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    purchases.join(signups,
      expr("p_user = s_user AND p_ts >= s_ts AND p_ts <= s_ts + interval 1 hour"))
      .select(col("p_id"), col("p_user"),
        date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
  }

  /** Streaming → JDBC warehouse via `foreachBatch`: each micro-batch
    * overwrites the aggregate table with the current complete-mode
    * counts — the standard bridge from a stream to any batch sink Spark
    * has no native streaming writer for (the streaming face of the K3
    * warehouse load). Returns the started query; callers stop it. */
  def aggToJdbcStream(spark: SparkSession, dir: String, url: String,
                      table: String): org.apache.spark.sql.streaming.StreamingQuery =
    eventsStream(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").format("jdbc")
          .option("url", url).option("dbtable", table)
          .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
          .save()
      }
      .start()

  /** One staged-wave stream: each trigger takes one new file off
    * `stagingDir` (one file per ingest wave) and runs `body(batch,
    * batchId)` inside `foreachBatch` — the standard bridge, because each
    * step is a batch join pipeline. */
  private def stagedStream(spark: SparkSession, stagingDir: String, schema: StructType,
                           checkpointDir: Option[String])
                          (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(stagingDir)
      .writeStream.outputMode("append")
      .foreachBatch(body)
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Idempotent per-micro-batch parquet write: each batch overwrites
    * its OWN `batch_id=<id>` partition directory, so a re-executed
    * batch (the at-least-once replay `foreachBatch` gives after a
    * crash between sink write and checkpoint commit) lands byte-
    * identical output instead of appended duplicates — the standard
    * exactly-once bridge for a deterministic batch function. The
    * partition-style directory name makes a plain
    * `spark.read.parquet(outPath)` discover `batch_id` as a column
    * (which wave produced each row — useful lineage in itself).
    *
    * Then the result's own checkpoint blocks are freed, so an unbounded
    * stream accumulates no state beyond its index: a probe that
    * materializes (the flag and top-k probes) returns a bare checkpoint.
    * A lazy result owns no blocks — releasing it would free the
    * checkpoints of its INPUTS — so it is left alone. */
  private def idempotentParquetWrite(out: DataFrame, outPath: String,
                                     batchId: Long): Unit = {
    out.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    if (out.queryExecution.analyzed.isInstanceOf[LogicalRDD]) Lifecycle.release(out)
  }

  /** [[stagedStream]] probing a FROZEN index: each micro-batch's probe
    * result is written with [[idempotentParquetWrite]]. For example,
    * incremental corpus-vs-batch dedup at streaming cadence (the
    * streaming face of [[graft.operators.Dedup.minhashLshAgainstCorpus]])
    * probes `Dedup.flagAgainstCorpusIndex(Dedup.wordShingles(batch), index,
    * minJ)` against a PREBUILT corpus index, so per-ingest cost ∝ the
    * micro-batch. The caller stops the query and releases the index.
    *
    * Exactly-once across failure/restart: `foreachBatch` gives
    * at-least-once delivery — a crash after the sink write but before
    * the checkpoint commit re-executes the batch on restart — so the
    * write is IDEMPOTENT per `batchId` ([[idempotentParquetWrite]]).
    * Pass `checkpointDir` to make restarts resume from the recorded
    * offsets (StreamingSpec kills a run mid-feed, deletes the commit
    * marker to force a true batch re-execution, restarts, and asserts
    * equality with the uninterrupted run). */
  def probeStream(spark: SparkSession, stagingDir: String, schema: StructType,
                  outPath: String, checkpointDir: Option[String] = None)
                 (probe: DataFrame => DataFrame): StreamingQuery =
    stagedStream(spark, stagingDir, schema, checkpointDir) { (batch, batchId) =>
      idempotentParquetWrite(probe(batch), outPath, batchId)
    }

  /** The raw-PNG payload batch as (img_id, b0..b3) aHash rows — the
    * `prep` of an image stream. */
  def imageHashes(spark: SparkSession)(batch: DataFrame): DataFrame = {
    import spark.implicits._
    Multimodal.imageAHash(spark, batch.as[Multimodal.ImageVariant]).toDF()
  }

  /** The raw-WAV payload batch as band-median fingerprint rows (REAL
    * decode, so trimmed AND re-gained re-uploads still match) — the
    * `prep` of an audio stream. */
  def audioPrints(spark: SparkSession)(batch: DataFrame): DataFrame = {
    import spark.implicits._
    Multimodal.audioFingerprint(spark, batch.as[Multimodal.AudioClip]).toDF()
  }

  /** The replay guard every accum stream runs: a batch at or below the
    * index's `lastBatchId` was already written AND absorbed before a
    * crash ate the commit marker — its partition is already correct, and
    * re-running it would probe the batch against its own absorbed copy
    * (self-matches at Hamming 0 / Jaccard 1 overwrite the partition with
    * wrong rows) and double-count the absorb, so the replay is a
    * complete no-op. Holds for a same-process restart (the ref kept the
    * absorbed index) AND for a re-seed from a durable save taken after
    * the absorb (the watermark persists through save/load). Otherwise
    * `step` writes the batch's result and returns the advanced index,
    * which `indexRef` takes with the watermark at this batch — only
    * after the write, so a failed write leaves the batch to replay. */
  private def guardedStream[I <: AccumIndex[I]](
      spark: SparkSession, stagingDir: String, schema: StructType,
      indexRef: AtomicReference[I], checkpointDir: Option[String])
      (step: (I, DataFrame, Long) => I): StreamingQuery =
    stagedStream(spark, stagingDir, schema, checkpointDir) { (batch, batchId) =>
      if (batchId > indexRef.get().lastBatchId)
        indexRef.set(step(indexRef.get(), batch, batchId).withLastBatchId(batchId))
    }

  /** SELF-ACCUMULATING incremental curation — the one loop behind every
    * accum stream: per micro-batch, after the replay guard, the
    * `prep`ared batch is probed against the ADVANCING index and the
    * result written idempotently; then the batch is ABSORBED, so later
    * waves match against it too (a frozen index never catches a wave-2
    * near-dup of a wave-1 arrival); then the index compacts once it
    * holds `maxLegs` legs, probe-identically. A batch is probed BEFORE
    * it is absorbed: it must not match itself. `indexRef` holds the
    * advancing index — seed it with a build or
    * [[graft.operators.AccumIndex.load]], and save / release
    * `indexRef.get()` after the stream stops; the checkpoint replays
    * offsets only, not process memory. */
  def accumStream[I <: AccumIndex[I]](spark: SparkSession, stagingDir: String,
                                      schema: StructType, indexRef: AtomicReference[I],
                                      outPath: String, checkpointDir: Option[String] = None,
                                      maxLegs: Int = AccumIndex.LegBudget)
                                     (probe: (I, DataFrame) => DataFrame,
                                      prep: DataFrame => DataFrame = identity)
      : StreamingQuery =
    guardedStream(spark, stagingDir, schema, indexRef, checkpointDir) {
      (index, batch, batchId) =>
        val in = prep(batch)
        idempotentParquetWrite(probe(index, in), outPath, batchId)
        index.absorb(in).budgeted(maxLegs)
    }

  /** SELF-ACCUMULATING KMV cardinality sentinel: each micro-batch of
    * documents is absorbed into the per-source trigram-cardinality
    * sketch ([[graft.operators.TextAnalysis.KmvIndex]]), then the
    * POST-absorb cardinality card lands idempotently (partition =
    * batch_id, so the highest partition is the current dataset card) —
    * the one stream that writes after absorbing, so it runs its own step
    * under the shared replay guard. KMV merge is idempotent, so a
    * replayed batch folds to the bit-identical sketch: the guard only
    * skips redundant WORK (StreamingSpec re-absorbs a batch with the
    * guard bypassed to pin exactly that), and a failed write leaves the
    * ref untouched, so the replay re-absorbs harmlessly and re-writes. */
  def kmvCardinalityAccumStream(spark: SparkSession, stagingDir: String, schema: StructType,
                                indexRef: AtomicReference[TextAnalysis.KmvIndex],
                                outPath: String, checkpointDir: Option[String] = None)
      : StreamingQuery =
    guardedStream(spark, stagingDir, schema, indexRef, checkpointDir) {
      (index, batch, batchId) =>
        val absorbed = index.absorb(batch)
        idempotentParquetWrite(TextAnalysis.kmvCardinalityReport(absorbed), outPath, batchId)
        absorbed
    }

  case class UserEvent(user_id: Long, value: Double)
  case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Canonicalize an accumulated double before comparing it: group
    * iterators (and batch partial-merges) present values in an
    * unspecified order, so two runs of the same data can differ by ulps
    * — rounding to 6 decimals makes the threshold-crossing decision
    * order-independent (matching the engine-wide dsum/round-6 oracle
    * discipline). */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Variable-arity keyed state via flatMapGroupsWithState: emit a row
    * ONLY for users whose running total crosses `threshold` in this
    * batch (0 or 1 rows per group per invocation — the shape
    * mapGroupsWithState's exactly-one-row contract can't express).
    * Alert-style monitoring over keyed state. The crossing test runs on
    * [[round6]]-canonicalized totals so it cannot flip with the
    * accumulation order. */
  def thresholdAlerts(spark: SparkSession, events: DataFrame,
                      threshold: Double): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          it.foreach { e => n += 1; total += e.value }
          state.update(UserRunning(uid, n, total))
          if (round6(prev.total) < threshold && round6(total) >= threshold)
            Iterator(UserRunning(uid, n, total))
          else Iterator.empty
      }
      .toDF()
  }

  /** Threshold shared by [[thresholdAlerts]]'s spec and the
    * `q_st_threshold_alerts` query + oracle. */
  val AlertThreshold: Double = 100.0

  /** The oracle-checkable batch face of [[thresholdAlerts]]: for each
    * user, the event at which the running total — accumulated in event
    * order (ts, event_id) — first crosses `threshold`, with the total
    * at that moment. The cumulative sum runs in DECIMAL(18,6), so the
    * running values are exact and identical on any engine (a double
    * cumulative sum would drift by ulps between implementations). The
    * window partitions by user, so no partition ever exceeds one user's
    * events — scale-safe. */
  def thresholdCrossingsBatch(events: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast("decimal(18,6)").as("v"))
      .withColumn("cum", sum(col("v")).over(w))
      .filter(col("cum") - col("v") < threshold && col("cum") >= threshold)
      .select(col("user_id"), col("event_id").as("crossing_event"),
        round(col("cum").cast("double"), 6).as("total_at_crossing"))
  }

  /** Spark 4's arbitrary-state API: the [[runningPerUser]] aggregate as
    * a `StatefulProcessor` over `transformWithState` — typed ValueState
    * per key, explicit init/handle lifecycle, RocksDB-backed state
    * store. This is the current-generation replacement for
    * mapGroupsWithState (composable state variables, timers, TTL); the
    * spec proves it emits the same totals as the batch aggregate. */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var state: ValueState[UserRunning] = _
    override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
      var n = prev.n
      var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      val next = UserRunning(key, n, total)
      state.update(next)
      Iterator(next)
    }
  }

  /** [[RunningTotalProcessor]] wired over the parquet feed (requires the
    * RocksDB state store provider — set in the spec's session confs). */
  def runningPerUserTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    eventsStream(spark, dir)
      .select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Custom keyed state via mapGroupsWithState: running per-user count
    * and total (the custom-state analogue of the reference's count
    * accumulation, SURVEY.md §2.5 A6). */
  def runningPerUser(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          it.foreach { e => n += 1; total += e.value }
          val next = UserRunning(uid, n, total)
          state.update(next)
          next
      }
      .toDF()
  }
}
