package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations for catalog-managed
  * graft CSV tables — the engine face of `UPDATE`, `MERGE INTO`, and
  * non-key `DELETE` (r14; the public design is Spark's
  * SupportsRowLevelOperations + ReplaceData, SPARK-35801):
  *
  *  - the GROUP is one committed part file (`_file`, the same metadata
  *    column the quarantine story uses);
  *  - Spark's rewrite reads every row of the AFFECTED groups (runtime
  *    group filtering hands the scan the set of files containing
  *    matching rows — untouched files are never read, let alone
  *    rewritten), applies the assignments above the scan, and hands the
  *    surviving rows back to [[GraftCowBatchWrite]];
  *  - commit publishes the rewritten groups as fresh tagged files, then
  *    drops exactly the replaced files. Publish-first ordering: a
  *    driver crash between the two steps leaves transient DUPLICATES
  *    (re-runnable), never data loss.
  *
  * At 100 TB the economics are the point: an UPDATE touching one
  * month's files rewrites those files only — the group-filter subquery
  * prices the blast radius at metadata cost. Key-predicate DELETEs
  * never reach this path at all: Spark's
  * OptimizeMetadataOnlyDeleteFromTable converts them back to
  * [[GraftCsvTable.deleteWhere]]'s directory-level metadata op
  * (spec-pinned by the mtime invariance in GraftCatalogSpec).
  *
  * UPDATEs may change partition KEY columns: rewritten rows re-cluster
  * through the same RequiresDistributionAndOrdering contract as any
  * INSERT and land in their new `key=value/` directories; the old
  * groups are dropped and emptied directories pruned.
  */
private[sources] class GraftCsvRowLevelOperation(path: String,
                                                 tableSchema: StructType,
                                                 partCols: Seq[String],
                                                 cmd: RowLevelOperation.Command,
                                                 versioned: Boolean = false,
                                                 derivedSpec: Option[CsvDerivedSpec] = None)
    extends RowLevelOperation {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftCsvCow[$cmd]"

  /** The group id: which part file each row lives in. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftCsvTable.FileColumn))

  /** Files the operation's scan actually planned (post runtime group
    * filtering) — exactly the groups commit() replaces. Shared between
    * the scan and the write of THIS operation instance (both live on
    * the driver). */
  private[sources] val replacedFiles: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(this, path, tableSchema, partCols, versioned,
      derivedSpec)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftCowWriteBuilder(this, path, info, partCols, versioned, derivedSpec)
}

/** Column pruning only — deliberately NO filter pushdown: the rewrite
  * must see EVERY row of an affected group (unmatched rows are copied
  * through), so a pushed row predicate would silently drop the rows
  * the operation is supposed to preserve. Group narrowing comes from
  * the runtime `_file` filter instead. */
private[sources] class GraftCowScanBuilder(op: GraftCsvRowLevelOperation,
                                           path: String, full: StructType,
                                           partCols: Seq[String],
                                           versioned: Boolean = false,
                                           derivedSpec: Option[CsvDerivedSpec] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new GraftCowScan(op, path, full, partCols, required,
      SerializableHadoopConf.fromSession(), versioned, derivedSpec)
}

/** One partition per part FILE (the replace group), each carrying its
  * directory-derived key values for partitioned layouts; readers are
  * the shared keyed-CSV machinery (null-fill on: pre-evolution files
  * rewrite with the evolved schema, missing columns as NULL). */
private[sources] class GraftCowScan(op: GraftCsvRowLevelOperation,
                                    path: String, full: StructType,
                                    partCols: Seq[String],
                                    required: StructType,
                                    conf: SerializableHadoopConf,
                                    versioned: Boolean = false,
                                    derivedSpec: Option[CsvDerivedSpec] = None)
    extends Scan with Batch with SupportsRuntimeFiltering {

  private val keyFields: Seq[StructField] = partCols.map(c =>
    full.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalStateException(
        s"graft-csv cow: partition column '$c' missing from the schema")))
  private val keySchema = StructType(keyFields)
  private val payload = StructType(full.fields.filterNot(f =>
    partCols.exists(_.equalsIgnoreCase(f.name))))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCsvCow path=$path groups=file ReadSchema: ${required.simpleString}"

  /** Every (key values, part file) pair of the current layout — from
    * the version manifest on versioned tables (logically-deleted files
    * still sit on disk there; a listing would resurrect them into the
    * rewrite), from the filesystem otherwise. */
  private lazy val allFiles: Array[(Seq[String], String)] =
    if (versioned)
      GraftLog.latest(new HPath(path), conf.value).toArray.map(e =>
        (GraftLog.rawsOf(e.rel), s"$path/${e.rel}"))
    else {
      // derived layouts' raws (bucket ids, truncations) are cosmetic
      // here — COW groups by _file, not by key
      val (_, leaves) = PartitionedCsvLayout.listLeaves(path, conf.value)
      leaves.flatMap { case (raws, dir) =>
        GraftCsvTable.listPartFiles(dir, conf.value).map(f => (raws, f))
      }
    }

  /** Runtime GROUP filtering: Spark's row-level rewrite computes the
    * set of files containing matching rows (a metadata-priced subquery)
    * and hands it here — only those groups are read and rewritten. */
  @volatile private var runtimeFiles: Option[Set[String]] = None
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftCsvTable.FileColumn))
  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case In(a, vs) if a.equalsIgnoreCase(GraftCsvTable.FileColumn) =>
        vs.collect { case s: String => s }.toSet
      case EqualTo(a, v: String) if a.equalsIgnoreCase(GraftCsvTable.FileColumn) =>
        Set(v)
    }
    if (sets.nonEmpty) runtimeFiles = Some(sets.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val keep = runtimeFiles
    val survivors = allFiles.filter { case (_, f) => keep.forall(_.contains(f)) }
    op.replacedFiles.clear() // re-planning (AQE) must not accrete stale groups
    survivors.foreach { case (_, f) => op.replacedFiles.add(f) }
    val schemaJson = keySchema.json
    survivors.map { case (raws, f) =>
      KeyedCsvPartition(raws, schemaJson, Array(f)): InputPartition
    }
  }

  // the required schema always carries _file here — it IS the group
  // attribute; no filters (every row of a group is rewritten)
  override def createReaderFactory(): PartitionReaderFactory =
    KeyedCsvReaderFactory(required, payload, keyFields, Array.empty,
      fileSlot = true, conf, vectorized = false, limit = None, nullFill = true)
}

/** The replace-data write: rewritten rows cluster on the partition keys
  * (same contract as INSERT — the partitioned writer needs contiguous
  * sorted runs, and an UPDATE may move rows across keys). */
private[sources] class GraftCowWriteBuilder(op: GraftCsvRowLevelOperation,
                                            path: String,
                                            info: LogicalWriteInfo,
                                            partCols: Seq[String],
                                            versioned: Boolean = false,
                                            derivedSpec: Option[CsvDerivedSpec] = None)
    extends WriteBuilder {
  override def build(): Write =
    new GraftCowWrite(op, path, info, partCols, versioned, derivedSpec)
}

private[sources] class GraftCowWrite(op: GraftCsvRowLevelOperation,
                                     path: String, info: LogicalWriteInfo,
                                     partCols: Seq[String],
                                     versioned: Boolean = false,
                                     derivedSpec: Option[CsvDerivedSpec] = None)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution = derivedSpec match {
    case Some(spec) => Distributions.clustered(
      Array(spec.transform: Expression))
    case None =>
      if (partCols.isEmpty) Distributions.unspecified()
      else Distributions.clustered(
        partCols.map(c => Expressions.column(c): Expression).toArray)
  }
  override def requiredOrdering(): Array[SortOrder] = derivedSpec match {
    case Some(spec) => Array(Expressions.sort(
      spec.transform, SortDirection.ASCENDING))
    case None =>
      if (partCols.isEmpty) Array.empty
      else partCols.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
  }
  override def toBatch: BatchWrite =
    new GraftCowBatchWrite(op, path, info.schema(), info.queryId(),
      SerializableHadoopConf.fromSession(), partCols, versioned, derivedSpec)
}

private[sources] class GraftCowBatchWrite(op: GraftCsvRowLevelOperation,
                                          path: String, schema: StructType,
                                          queryId: String,
                                          conf: SerializableHadoopConf,
                                          partCols: Seq[String],
                                          versioned: Boolean = false,
                                          derivedSpec: Option[CsvDerivedSpec] = None)
    extends BatchWrite {
  private def tmpDir = new HPath(path, s"_tmp_$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // tagged names: rewritten groups can never collide with the files
    // they replace (publish-first, delete-second)
    new GraftCsvWriterFactory(path, tmpDir.toString, schema, conf, partCols,
      appendTag = Some(queryId), derivedSpec = derivedSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new HPath(path)
    val fs = root.getFileSystem(conf.value)
    fs.mkdirs(root)
    // 1. publish the rewritten groups (fresh names — no collisions)
    val files = GraftCsvCommit.files(messages)
    GraftCsvCommit.publish(fs, root, files)
    // rewritten groups keep their data-skipping ability: same tagged-
    // write zone sidecar as a catalog INSERT (replaced files' entries
    // go stale harmlessly — their names are never reused)
    CsvZones.write(root, conf.value, queryId,
      files.map(f => (f.finalName, f.zones, f.rows)))
    if (versioned) {
      // 2v. LOGICAL replace: next manifest = live − replaced + rewritten;
      // replaced bytes stay on disk for older versions (VACUUM reclaims)
      val replaced = {
        val b = Set.newBuilder[String]
        op.replacedFiles.forEach(f =>
          b += GraftLog.relativize(root, conf.value, f))
        b.result()
      }
      // conflict-checked: if a concurrent commit removed any of the
      // groups this rewrite read, publishing would resurrect dead rows
      // — fail loudly instead (ConcurrentWriteConflictException). The
      // just-published rewrite files are deleted on the way out: this
      // writer created them, no manifest names them, and tidying now
      // beats leaving 24h-grace vacuum food behind a failed commit.
      try GraftLog.commitReplace(root, conf.value, replaced,
        files.map(f => GraftLog.Entry(f.finalName, math.max(0L, f.bytes))))
      catch {
        case e: ConcurrentWriteConflictException =>
          files.foreach(f =>
            fs.delete(new HPath(root, f.finalName), false))
          fs.delete(tmpDir, true)
          throw e
      }
    } else {
      // 2. drop exactly the replaced group files
      op.replacedFiles.forEach(f => fs.delete(new HPath(f), false))
      // 3. prune directories the rewrite emptied (rows moved or deleted)
      if (partCols.nonEmpty || derivedSpec.isDefined)
        GraftCsvTable.pruneEmptyKeyDirs(fs, root)
    }
    fs.delete(tmpDir, true)
    fs.create(new HPath(root, "_SUCCESS"), true).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(path).getFileSystem(conf.value)
    fs.delete(tmpDir, true)
  }
}
