package graft.operators

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The lifecycle every ACCUMULATING index shares — the long-lived state
  * of incremental curation at ingest cadence: an index that absorbs each
  * arriving wave instead of being rebuilt (the reuse-across-sessions
  * shape of "Incremental Top-K Similarity Search in Interactive Data
  * Analysis Sessions", EDBT 2020). A family states only what is its own
  * — its frames, how it absorbs a wave, its durable tables, its probe;
  * this trait decides the rest once:
  *  - `legs` are every persisted frame. After an absorb the index frames
  *    are lazy unions, and unpersisting a union is a silent no-op, so
  *    [[release]] walks the legs. Release the FINAL index only:
  *    superseded values share their legs with the successor.
  *  - [[compact]] collapses to one leg per frame; [[budgeted]] does so
  *    once the leg count reaches a budget (the accum streams default to
  *    [[AccumIndex.LegBudget]]), which keeps an unbounded stream's
  *    block-manager entries and per-probe union fanout O(1).
  *  - `lastBatchId` is the absorb WATERMARK: the highest `foreachBatch`
  *    batchId already folded in (-1 = none). A checkpoint replay (crash
  *    after the sink write + absorb, before the commit marker)
  *    re-delivers a batch the index already holds; re-probing it would
  *    match the batch against its own absorbed copy and re-absorbing
  *    would double-count, so the accum streams skip any batchId at or
  *    below the watermark. It persists through [[save]] /
  *    [[AccumIndex.load]], which makes a re-seed-from-save restart safe.
  *  - [[save]] publishes the source-of-truth tables plus a meta row
  *    ATOMICALLY; [[AccumIndex.load]] reads the newest complete save. */
trait AccumIndex[I <: AccumIndex[I]] { this: I =>

  /** The index frames in declared order. */
  def frames: Seq[DataFrame]

  /** Every persisted leg. A single-leg family (its absorb merges into a
    * fresh frame and releases the old one) holds exactly its frames. */
  def legs: Seq[DataFrame] = frames

  def lastBatchId: Long

  def withLastBatchId(batchId: Long): I

  /** Fold one wave in (the watermark is the caller's to advance). */
  def absorb(wave: DataFrame): I

  /** The durable source-of-truth tables by name; every other frame
    * re-derives from them deterministically at load. */
  def tables: Seq[(String, DataFrame)]

  /** Build parameters the meta row carries beside the watermark. */
  def params: Seq[(String, Long)] = Nil

  /** One persisted leg per frame, probe-identical. A single-leg family
    * is always compact. */
  def compact(): I = this

  /** [[compact]] once the leg count reaches `budget`. */
  def budgeted(budget: Int): I = if (legs.length >= budget) compact() else this

  def release(): Unit = legs.foreach(_.unpersist(blocking = false))

  def save(path: String): Unit =
    AccumIndex.save(frames.head.sparkSession, path, tables,
      params :+ ("last_batch_id" -> lastBatchId))
}

/** An index whose absorb appends the wave as one more persisted leg under
  * lazy unions: per-wave cost is the wave's own leg build, never a
  * corpus re-materialization. */
trait LegIndex[I <: LegIndex[I]] extends AccumIndex[I] { this: I =>

  /** One persisted, materialized leg (frames in declared order) from a
    * wave's source-of-truth rows. */
  protected def leg(wave: DataFrame): Seq[DataFrame]

  /** The source-of-truth rows of an arriving wave. */
  protected def truth(wave: DataFrame): DataFrame = wave

  protected def withLegs(frames: Seq[DataFrame], legs: Seq[DataFrame]): I

  def absorb(wave: DataFrame): I = {
    val l = leg(truth(wave))
    withLegs(frames.zip(l).map { case (f, n) => f.unionByName(n) }, legs ++ l)
  }

  /** Re-materialize the frames as one fresh leg, then release every
    * superseded leg. No-op on an unabsorbed index: its frames ARE the
    * only cached copies. */
  override def compact(): I =
    if (legs.length <= frames.length) this
    else {
      val fresh = compacted()
      legs.foreach(_.unpersist(blocking = false))
      withLegs(fresh, fresh)
    }

  /** The frames as one persisted, materialized leg, probe-identical: the
    * lazy unions are materialized, not re-derived. */
  protected def compacted(): Seq[DataFrame] = {
    val fresh = frames.map(AccumIndex.persist)
    AccumIndex.fill(fresh: _*)
    fresh
  }
}

object AccumIndex {

  /** Leg count past which the accum streams compact. */
  val LegBudget: Int = 24

  def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Materialize persisted frames with ONE count per lineage chain:
    * counting a chain's tail fills every cache it derives from, so pass
    * only the frames no other frame of the leg is built from (r16 — the
    * extra cached counts were pure scheduling overhead). */
  def fill(tails: DataFrame*): Unit = tails.foreach(_.count())

  /** A single-leg family's absorb: materialize `next` (built from
    * `prev`), then release `prev`. */
  def swap(prev: DataFrame, next: DataFrame): DataFrame = {
    val n = persist(next)
    fill(n)
    prev.unpersist(blocking = false)
    n
  }

  private val Generation = """gen-(\d+)""".r

  /** Atomic save: the tables and the meta row land under an invisible
    * temp directory, which a rename-no-overwrite then publishes as the
    * next `gen-N` — the commit log's temp-then-rename shape
    * ([[graft.sources.GraftLog]]). A crash at any point leaves either
    * the previous generation or the new one as the newest complete
    * save, never a mix; superseded generations (and a layout without
    * generations) are deleted only after the publish. One writer per
    * path. */
  private def save(spark: SparkSession, path: String,
                   tables: Seq[(String, DataFrame)],
                   meta: Seq[(String, Long)]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val tmp = new Path(root, s".tmp-${java.util.UUID.randomUUID()}")
    tables.foreach { case (name, df) => df.write.parquet(s"$tmp/$name") }
    spark.createDataFrame(java.util.List.of(Row.fromSeq(meta.map(_._2))),
        StructType(meta.map { case (n, _) => StructField(n, LongType) }))
      .write.parquet(s"$tmp/meta")
    val gen = new Path(root, s"gen-${newest(fs, root).fold(0)(_._1) + 1}")
    FileContext.getFileContext(fs.getUri, conf).rename(
      fs.makeQualified(tmp), fs.makeQualified(gen), Options.Rename.NONE)
    fs.listStatus(root).map(_.getPath).filter(_.getName != gen.getName)
      .foreach(fs.delete(_, true))
  }

  private def newest(fs: org.apache.hadoop.fs.FileSystem, root: Path): Option[(Int, Path)] =
    if (!fs.exists(root)) None
    else fs.listStatus(root).map(_.getPath).flatMap(p => p.getName match {
      case Generation(n) => Some(n.toInt -> p)
      case _ => None
    }).maxByOption(_._1)

  /** One published save, as [[load]] hands it to a family's rebuild. */
  final class Saved(spark: SparkSession, root: String, meta: Map[String, Long]) {
    def table(name: String): DataFrame = spark.read.parquet(s"$root/$name")
    def param(name: String): Long = meta(name)
    /** A save that predates the watermark (no meta table, or no
      * `last_batch_id` column) reads as nothing-absorbed: every batch
      * replays, instead of the restart failing. */
    def lastBatchId: Long = meta.getOrElse("last_batch_id", -1L)
  }

  /** Rebuild an index from the newest complete save at `path` — a
    * published generation, else a save laid out directly under `path`
    * (the layout before generations). */
  def load[I <: AccumIndex[I]](spark: SparkSession, path: String)
                              (rebuild: Saved => I): I = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = newest(fs, root).fold(path)(_._2.toString)
    val meta =
      if (!fs.exists(new Path(s"$dir/meta"))) Map.empty[String, Long]
      else {
        val row = spark.read.parquet(s"$dir/meta").head()
        row.schema.fieldNames.map(n => n -> row.getAs[Number](n).longValue).toMap
      }
    val saved = new Saved(spark, dir, meta)
    rebuild(saved).withLastBatchId(saved.lastBatchId)
  }
}
