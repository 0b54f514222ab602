package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hive-style partitioned layout for the graft `;`-CSV table — the
  * DSV2-native bucketing story (SURVEY.md §2.13 superset; the
  * storage-partitioned-join design is public Spark, SPARK-37377):
  *
  * WRITE (`option("partitionedBy", "d,src")` — ONE OR MORE key columns,
  * r14): the sink REQUIRES clustering + in-partition ordering on the
  * keys (RequiresDistributionAndOrdering, same contract as `clusterBy`),
  * then each task splits its sorted run into one file per key tuple
  * under nested `d=<v1>/src=<v2>/part-NNNNN.csv` directories. The key
  * columns are carried by the DIRECTORY NAMES, not the payload (hive
  * convention) — a 100 TB table partitioned on grain keys never stores
  * the key bytes per row.
  *
  * READ ([[KeyedCsvScan]], the one CSV scan — a flat table is its
  * zero-key case: one partition per part file, no grouping reported):
  * the scan plans ONE input partition per LEAF directory, each
  * declaring its key tuple ([[HasPartitionKey]]), and reports
  * [[KeyGroupedPartitioning]] over `identity(k1), identity(k2), …` plus
  * a per-partition ordering on the keys ([[SupportsReportOrdering]] —
  * trivially true: every row in a partition shares the whole tuple).
  * With `spark.sql.sources.v2.bucketing.enabled` the engine then plans
  * joins between two such tables on the keys with ZERO Exchange and
  * ZERO Sort — the storage-partitioned join. At 100 TB this is the
  * bucketed-join economics without a Hive metastore: pay the
  * clustering shuffle once at write time, and every downstream join or
  * aggregation on the grain keys is exchange-free forever.
  *
  * Planning-time partition pruning: pushed filters that mention ONLY
  * key columns — any subset, so a `date=…/source=…` table prunes on a
  * date-only predicate (prefix) or a source-only one — are evaluated
  * against the directory names; pruned leaves are never listed for
  * files, let alone read. Payload filters ride the in-reader pushdown.
  */
private[sources] object PartitionedCsvLayout {
  /** Key-to-directory-name encoding: injective, filesystem-safe, and
    * ORDER-PRESERVING on the raw string for the unreserved charset
    * (hive's escapePathName shape). `%` itself is reserved so decode is
    * unambiguous. */
  def encode(v: String): String = {
    val sb = new StringBuilder
    v.foreach { c =>
      // ASCII-only passthrough: non-ASCII raw directory names depend on
      // the JVM/filesystem charset (sun.jnu.encoding) and round-trip
      // unreliably — every non-ASCII char is %XX-encoded instead.
      if (c < 128 && (c.isLetterOrDigit || c == '.' || c == '-' || c == '_'))
        sb.append(c)
      else c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => sb.append(f"%%${b & 0xff}%02X")) // %XX per UTF-8 byte
    }
    sb.toString
  }

  def decode(s: String): String = {
    if (!s.contains('%')) return s
    val bytes = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foreach(bytes.write(_))
        i += 1
      }
    }
    new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Partition key types this layout supports (a grain key is a string
    * or an integral — floats make terrible partition keys and are
    * rejected loudly at write time). */
  def keyTypeOk(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | BooleanType => true
    case _ => false
  }

  /** Typed JVM value of a raw (decoded) key string. */
  def keyValue(raw: String, dt: DataType): Any = dt match {
    case StringType => raw
    case LongType => raw.toLong
    case IntegerType => raw.toInt
    case ShortType => raw.toShort
    case BooleanType => raw.toBoolean
    case other => throw new IllegalStateException(s"partition key type $other")
  }

  /** Catalyst form of the key for [[HasPartitionKey]]. */
  def catalystKey(raw: String, dt: DataType): Any = keyValue(raw, dt) match {
    case s: String => UTF8String.fromString(s)
    case v => v
  }

  /** The `<col>=<value>` directories at `path`, if any: (column name,
    * raw decoded value, dir path) sorted by encoded value. Returns an
    * empty array for a flat (non-partitioned) layout. */
  def listKeyDirs(path: String, conf: Configuration): Array[(String, String, String)] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Array.empty
    val dirs = fs.listStatus(root)
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        s.getPath.getName.contains('='))
      .map { s =>
        val n = s.getPath.getName
        val eq = n.indexOf('=')
        (n.substring(0, eq), n.substring(eq + 1), s.getPath.toString)
      }
      // by ENCODED value, as documented — encode() is order-preserving
      // on the unreserved charset, so this is key order for plain keys
      // (nothing downstream is load-bearing on the order; the sort just
      // keeps listings deterministic across filesystems)
      .sortBy(_._2)
      .map { case (c, enc, p) => (c, decode(enc), p) }
    val cols = dirs.map(_._1).distinct
    if (cols.length > 1) throw new IllegalStateException(
      s"graft-csv: mixed partition columns under $path: ${cols.mkString(", ")}")
    dirs
  }

  /** The FULL (possibly nested) partition tree at `path`: the key
    * columns in nesting order plus one entry per LEAF directory with
    * its raw decoded key values. `(Nil, empty)` for a flat layout.
    * Every branch must carry the same column at the same depth and
    * reach the same depth (the writer only produces such trees; a
    * ragged foreign layout fails loudly rather than silently dropping
    * rows). */
  def listPartitionTree(path: String,
                        conf: Configuration): (Seq[String], Array[(Seq[String], String)]) = {
    val level = listKeyDirs(path, conf)
    if (level.isEmpty) return (Nil, Array.empty)
    val col = level.head._1
    var childCols: Seq[String] = null
    val leaves = level.flatMap { case (_, raw, dir) =>
      val (cs, subLeaves) = listPartitionTree(dir, conf)
      if (childCols == null) childCols = cs
      else if (childCols != cs) throw new IllegalStateException(
        s"graft-csv: ragged partition tree under $path — " +
          s"[${childCols.mkString(",")}] vs [${cs.mkString(",")}] at $dir")
      if (cs.isEmpty) Array((Seq(raw), dir))
      else subLeaves.map { case (vs, d) => (raw +: vs, d) }
    }
    (col +: childCols, leaves)
  }

  /** [[listPartitionTree]], with a flat layout as the zero-key case:
    * its root is the one leaf. */
  def listLeaves(path: String,
                 conf: Configuration): (Seq[String], Array[(Seq[String], String)]) = {
    val (cols, leaves) = listPartitionTree(path, conf)
    if (cols.isEmpty) (Nil, Array((Nil, path))) else (cols, leaves)
  }
}

/** One leaf directory = one input partition, declaring its key tuple so
  * the engine can group and align partitions across the two sides of a
  * storage-partitioned join. `keySchemaJson` is the StructType (key
  * columns only, nesting order) serialized for the executor side. */
private[sources] case class KeyedCsvPartition(keyRaws: Seq[String],
                                              keySchemaJson: String,
                                              files: Array[String])
    extends InputPartition with HasPartitionKey {
  private[sources] def keySchema: StructType =
    DataType.fromJson(keySchemaJson).asInstanceOf[StructType]
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keySchema.fields.zip(keyRaws).map {
      case (f, raw) => PartitionedCsvLayout.catalystKey(raw, f.dataType)
    }.toArray[Any])
}

private[sources] class KeyedCsvScanBuilder(path: String, full: StructType,
                                           keyCols: Seq[String],
                                           leaves: Array[(Seq[String], String)],
                                           conf: SerializableHadoopConf,
                                           vectorized: Boolean = false,
                                           nullFill: Boolean = false,
                                           zoneSkip: Boolean = true,
                                           manifestFiles: Option[Map[String, Array[(String, Long)]]] = None,
                                           maxVersionsPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private val keyFields: Seq[StructField] = keyCols.map(c =>
    full.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-csv partitioned read: schema lacks partition column '$c' " +
          s"(layout at $path); pass a schema containing it")))
  private val keySchema = StructType(keyFields)
  /** The payload face: everything the part files actually store. */
  private val payload = StructType(full.fields.filterNot(f =>
    keyCols.exists(_.equalsIgnoreCase(f.name))))

  private var required: StructType = full
  private var partFilters: Array[Filter] = Array.empty
  private var payloadFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL limit: each input partition stops parsing after n
    * surviving rows (the engine's CollectLimit finishes globally) — on a
    * many-file flat table, `LIMIT n` typically opens ONE file. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // A filter whose every reference is a key column — ANY subset of a
    // compound key, so prefix and suffix predicates both qualify —
    // prunes DIRECTORIES at planning time; one the payload dialect can
    // evaluate is pushed into the readers; the rest stay residual.
    val (part, notPart) = filters.partition { f =>
      val refs = f.references
      refs.nonEmpty &&
        refs.forall(r => keyCols.exists(_.equalsIgnoreCase(r))) &&
        CsvFilterEval.supportedBy(keySchema, f)
    }
    val (pay, rest) = notPart.partition(CsvFilterEval.supportedBy(payload, _))
    partFilters = part
    payloadFilters = pay
    rest
  }
  override def pushedFilters(): Array[Filter] = partFilters ++ payloadFilters

  override def build(): Scan = {
    // Planning-time partition pruning: evaluate the key filters against
    // each leaf's typed key tuple.
    val survivors = leaves.filter { case (raws, _) =>
      partFilters.forall(CsvFilterEval.eval(_, KeyedCsvScan.keyLookup(
        keyFields, raws)))
    }
    new KeyedCsvScan(path, required, payload, keyFields, survivors,
      partFilters, payloadFilters, conf, vectorized, limit, nullFill,
      zoneSkip, manifestFiles, maxVersionsPerTrigger)
  }
}

private[sources] object KeyedCsvScan {
  /** Case-insensitive column→typed-value lookup over one leaf's key
    * tuple (filter evaluation during pruning, DELETE, overwrite). */
  def keyLookup(keyFields: Seq[StructField], raws: Seq[String]): String => Any = {
    val m = keyFields.zip(raws).map { case (f, raw) =>
      f.name.toLowerCase(java.util.Locale.ROOT) ->
        PartitionedCsvLayout.keyValue(raw, f.dataType)
    }.toMap
    name => m(name.toLowerCase(java.util.Locale.ROOT))
  }
}

// Public so PlanHygieneSpec can read pushed filters + partition counts
// off the physical plan.
class KeyedCsvScan private[sources] (path: String, required: StructType,
                                     payload: StructType,
                                     keyFields: Seq[StructField],
                                     leaves: Array[(Seq[String], String)],
                                     val partFilters: Array[Filter],
                                     val payloadFilters: Array[Filter],
                                     conf: SerializableHadoopConf,
                                     vectorized: Boolean = false,
                                     val pushedLimit: Option[Int] = None,
                                     nullFill: Boolean = false,
                                     zoneSkip: Boolean = true,
                                     manifestFiles: Option[Map[String, Array[(String, Long)]]] = None,
                                     maxVersionsPerTrigger: Option[Int] = None,
                                     derivedSpec: Option[CsvDerivedSpec] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportOrdering
    with SupportsRuntimeFiltering with SupportsReportStatistics {

  private val keySchema = StructType(keyFields)

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftCsvKeyed path=$path keys=${keyFields.map(_.name).mkString(",")} " +
      s"leaves=${leaves.length} " +
      s"PartitionFilters: [${partFilters.mkString(", ")}] " +
      s"PushedFilters: [${payloadFilters.mkString(", ")}] " +
      s"ReadSchema: ${required.simpleString}" +
      pushedLimit.map(n => s" PushedLimit: $n").getOrElse("")

  override def toBatch: Batch = this

  /** Runtime (DPP-style) partition pruning: a join against the
    * partitioned table hands the build side's key sets to the scan at
    * execution time — per key COLUMN, so a compound-key table prunes on
    * whichever keys the join touches. Pruned leaves are dropped at the
    * METADATA level — never listed for files, never opened. To keep the
    * reported KeyGroupedPartitioning truthful the partition COUNT is
    * preserved: pruned leaves plan as empty partitions (zero files,
    * zero I/O). */
  @volatile private[sources] var runtimeKeys: Option[Map[Int, Set[Any]]] = None
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    derivedSpec match {
      // bucket mode: runtime values arrive on the SOURCE column and
      // map to bucket ids (hash pruning, the DPP of hidden partitioning)
      case Some(spec) => Array(Expressions.column(spec.col.name))
      case None => keyFields.map(f =>
        Expressions.column(f.name): org.apache.spark.sql.connector.expressions.NamedReference).toArray
    }
  override def filter(filters: Array[Filter]): Unit = derivedSpec match {
    case Some(spec) =>
      spec.runtimeDirs(filters).foreach(dirs =>
        runtimeKeys = Some(Map(0 -> dirs)))
    case None =>
      val perCol = filters.collect {
        case org.apache.spark.sql.sources.In(a, vs)
          if keyFields.exists(_.name.equalsIgnoreCase(a)) =>
          keyFields.indexWhere(_.name.equalsIgnoreCase(a)) -> vs.toSet
        case org.apache.spark.sql.sources.EqualTo(a, v)
          if keyFields.exists(_.name.equalsIgnoreCase(a)) =>
          keyFields.indexWhere(_.name.equalsIgnoreCase(a)) -> Set(v)
      }
      if (perCol.nonEmpty)
        runtimeKeys = Some(perCol.groupBy(_._1).map { case (i, ss) =>
          i -> ss.map(_._2).reduce(_ intersect _)
        })
  }

  /** Per-directory file listings (with sizes), performed AT MOST once
    * per directory and only for directories a plan actually reads
    * (runtime-pruned keys never pay their listing). A version manifest,
    * when one governs this read, IS the listing — versioned scans never
    * touch the filesystem for metadata. */
  private val fileCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, Long)]]()
  private def listedOf(dir: String): Array[(String, Long)] =
    manifestFiles match {
      case Some(m) => m.getOrElse(dir, Array.empty)
      case None => fileCache.computeIfAbsent(dir,
        d => GraftCsvTable.listPartFilesWithSize(d, conf.value))
    }

  /** Files the zone maps excluded at the last planning (spec surface). */
  @volatile private var skippedByZones: Int = 0
  def zoneSkipped: Int = skippedByZones

  /** Zone maps for this table, loaded at most once per scan and only
    * when a payload filter could use them (key filters already pruned
    * whole directories; zones prune FILES inside surviving ones) — or
    * when statistics want the per-file row counts they carry. */
  private lazy val zones: Map[String, CsvZones.CsvFileZones] =
    CsvZones.load(new HPath(path), conf.value)

  /** Root-relative publish names of files in leaf `dir` — the `_zones`
    * entry keys. */
  private def relNames(dir: String, files: Array[String]): Array[String] = {
    val relDir = GraftLog.relativize(new HPath(path), conf.value, dir)
    files.map { f =>
      val name = new HPath(f).getName
      if (relDir.isEmpty) name else s"$relDir/$name"
    }
  }

  /** One partition per leaf with keys; with none (a flat table) one
    * partition per part file. */
  override def planInputPartitions(): Array[InputPartition] = {
    val schemaJson = keySchema.json
    val keep = runtimeKeys
    val useZones = zoneSkip && payloadFilters.nonEmpty
    var skipped = 0
    val perLeaf = leaves.map { case (raws, dir) =>
      val pruned = keep.exists(_.exists { case (i, ks) =>
        !ks.contains(PartitionedCsvLayout.keyValue(raws(i), keyFields(i).dataType))
      })
      val files =
        if (pruned) Array.empty[String]
        else {
          val listed = listedOf(dir).map(_._1)
          if (!useZones || zones.isEmpty) listed
          else {
            val kept = listed.zip(relNames(dir, listed)).collect {
              case (f, rel) if zones.get(rel).forall(z =>
                ZoneEval.mayMatch(payloadFilters, payload, z.cols)) => f
            }
            skipped += listed.length - kept.length
            kept
          }
        }
      (raws, files)
    }
    skippedByZones = skipped
    perLeaf.flatMap { case (raws, files) =>
      if (keyFields.nonEmpty) Array[InputPartition](KeyedCsvPartition(raws, schemaJson, files))
      else files.map(f => KeyedCsvPartition(raws, schemaJson, Array(f)): InputPartition)
    }
  }

  /** Post-static-pruning byte size (the honest estimate a join planner
    * should see: a month-sliced read of a decade-deep table reports the
    * month, not the decade). Without this a DSV2 relation defaults to
    * `defaultSizeInBytes` = never broadcastable.
    *
    * Computed with ONE recursive listing of the table root instead of
    * one listStatus RPC per key directory (advice r13 — at high key
    * cardinality the per-directory loop dominates planning), and the
    * walk seeds the per-directory file cache so partitions planned
    * later reuse it instead of re-listing. Runtime-pruned keys still
    * skip the listing when stats were never requested (computed
    * lazily, at most once per scan). */
  private lazy val survivingBytes: Long = manifestFiles match {
    case Some(m) =>
      // versioned: writer-reported bytes straight off the manifest —
      // zero filesystem metadata ops for statistics
      leaves.iterator.flatMap { case (_, d) => m.getOrElse(d, Array.empty) }
        .map(_._2).sum
    case None => survivingBytesListed
  }

  private lazy val survivingBytesListed: Long = {
    val root = new HPath(path)
    val fs = root.getFileSystem(conf.value)
    val byDir = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long)]]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        val parent = s.getPath.getParent
        // skip in-flight temp dirs (_tmp_<queryId>) and meta files
        if (name.startsWith("part-") && name.endsWith(".csv") &&
            !parent.getName.startsWith("_"))
          byDir.getOrElseUpdate(parent.toString,
            scala.collection.mutable.ArrayBuffer.empty) += ((s.getPath.toString, s.getLen))
      }
    }
    // listed parents are qualified; a flat table's leaf is the root as given
    leaves.iterator.map { case (_, d) =>
      val files = byDir.get(fs.makeQualified(new HPath(d)).toString)
        .map(_.sortBy(_._1).toArray).getOrElse(Array.empty[(String, Long)])
      fileCache.putIfAbsent(d, files)
      files.iterator.map(_._2).sum
    }.sum
  }

  /** Exact post-static-pruning ROW COUNT, when every surviving file's
    * sidecar carries one (tagged writes record it at commit — r15):
    * summed from `_zones` metadata, zero file opens. Any file without
    * the statistic (pre-r15 sidecars, untagged writes) degrades the
    * whole answer to "unknown" — a partial sum would be a LIE the
    * planner acts on. Versioned reads resolve rels off the manifest;
    * listed reads reuse the same per-directory listings planning uses. */
  private lazy val survivingRows: Option[Long] = {
    if (zones.isEmpty) None
    else {
      var sum = 0L
      var all = true
      leaves.foreach { case (_, dir) =>
        relNames(dir, listedOf(dir).map(_._1)).foreach { rel =>
          if (all) zones.get(rel).flatMap(_.rows) match {
            case Some(r) => sum += r
            case None => all = false
          }
        }
      }
      if (all) Some(sum) else None
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(survivingBytes)
    override def numRows(): java.util.OptionalLong =
      survivingRows.fold(java.util.OptionalLong.empty())(
        java.util.OptionalLong.of)
  }

  /** The SPJ contract: rows are grouped by `identity(k1), identity(k2),
    * …` with exactly one partition per key tuple. A flat table (no keys)
    * promises no grouping. */
  override def outputPartitioning(): Partitioning = derivedSpec match {
    // derived mode: the reported transform is bucket(n, col) /
    // truncate(w, col) — resolved through the catalog's own V2
    // function, so two tables partitioned the same way
    // storage-partition-join with zero exchange
    case Some(spec) =>
      new KeyGroupedPartitioning(Array(spec.transform), leaves.length)
    case None if keyFields.isEmpty => new UnknownPartitioning(0)
    case None =>
      new KeyGroupedPartitioning(
        keyFields.map(f => Expressions.identity(f.name): Transform).toArray,
        leaves.length)
  }

  /** Within a partition every row carries the SAME key tuple, so
    * "ordered by (k1, k2, …) ascending" holds vacuously — reporting it
    * lets the engine drop the sorts under a storage-partitioned
    * sort-merge join. A BUCKET partition holds many key values in file
    * order: no ordering to report. */
  override def outputOrdering(): Array[SortOrder] =
    if (derivedSpec.isDefined) Array.empty
    else keyFields.map(f => Expressions.sort(Expressions.column(f.name),
      SortDirection.ASCENDING)).toArray

  /** Streaming face (versioned tables only): the commit log as a
    * micro-batch source — see [[GraftLogMicroBatchStream]]. Readers,
    * pushdown, and key pruning are the batch scan's own. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (manifestFiles.isEmpty) throw new UnsupportedOperationException(
      "graft-csv: streaming reads require a VERSIONED catalog table " +
        "(TBLPROPERTIES('versioned'='true') — the commit log is the stream)")
    new GraftLogMicroBatchStream(path, keyFields, partFilters, conf,
      createReaderFactory(), maxVersionsPerTrigger)
  }

  // A DATA column named _file hides the metadata column and parses from
  // the payload like any other field (SupportsMetadataColumns contract;
  // advice r13).
  override def createReaderFactory(): PartitionReaderFactory =
    KeyedCsvReaderFactory(required, payload, keyFields, payloadFilters,
      fileSlot = !payload.fieldNames.exists(
        _.equalsIgnoreCase(GraftCsvTable.FileColumn)),
      conf, vectorized, pushedLimit, nullFill)
}

private[sources] object KeyedCsvSlots {
  /** slotOf markers: non-negative = key index. */
  val Payload: Int = -1
  val File: Int = -2
}

private[sources] object KeyedCsvReaderFactory {
  /** The reader-factory prologue every CSV scan shares. Each required
    * column gets a slot: an index into the partition-constant tuple
    * (`constFields` — keys, plus the changefeed's two CDC columns), the
    * `_file` metadata column (when `fileSlot`), or PAYLOAD. Constants
    * and `_file` are served by the readers, never parsed; the parse
    * schema is the required payload columns plus any payload-filtered
    * column pruning removed (parsed for filter evaluation only). */
  def apply(required: StructType, payload: StructType,
            constFields: Seq[StructField], payloadFilters: Array[Filter],
            fileSlot: Boolean, conf: SerializableHadoopConf,
            vectorized: Boolean, limit: Option[Int],
            nullFill: Boolean): KeyedCsvReaderFactory = {
    val slotOf: Array[Int] = required.fields.map { f =>
      val k = constFields.indexWhere(_.name.equalsIgnoreCase(f.name))
      if (k >= 0) k
      else if (fileSlot && f.name.equalsIgnoreCase(GraftCsvTable.FileColumn))
        KeyedCsvSlots.File
      else KeyedCsvSlots.Payload
    }
    val payloadRequired = StructType(
      required.fields.zip(slotOf).collect {
        case (f, KeyedCsvSlots.Payload) => f
      })
    val extra = CsvFilterEval.referenced(payloadFilters)
      .filterNot(n => payloadRequired.fieldNames.exists(_.equalsIgnoreCase(n)))
      .flatMap(n => payload.fields.find(_.name.equalsIgnoreCase(n)))
    new KeyedCsvReaderFactory(required, payloadRequired,
      StructType(payloadRequired.fields ++ extra), payloadFilters, slotOf,
      conf, vectorized, limit, nullFill)
  }
}

private[sources] class KeyedCsvReaderFactory(required: StructType,
                                             payloadRequired: StructType,
                                             parse: StructType,
                                             payloadFilters: Array[Filter],
                                             slotOf: Array[Int],
                                             conf: SerializableHadoopConf,
                                             vectorized: Boolean,
                                             limit: Option[Int],
                                             nullFill: Boolean)
    extends PartitionReaderFactory {
  private def files(p: InputPartition) =
    new KeyedCsvFiles(p.asInstanceOf[KeyedCsvPartition], payloadRequired,
      parse, payloadFilters, conf, nullFill)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new KeyedCsvReader(files(p), required, slotOf, limit)

  /** Columnar (vectorized) reads by default — `option("vectorized",
    * "false")` falls back to the row reader. */
  override def supportColumnarReads(p: InputPartition): Boolean = vectorized
  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new KeyedCsvColumnarReader(files(p), required, payloadRequired, slotOf,
      limit = limit)
}

/** One partition's part files, opened in turn as [[CsvValueIterator]]s
  * (each only when the previous one is drained), plus the partition's
  * constant key values — the state both reader faces share. */
private[sources] class KeyedCsvFiles(val part: KeyedCsvPartition,
                                     payloadRequired: StructType,
                                     parse: StructType,
                                     payloadFilters: Array[Filter],
                                     conf: SerializableHadoopConf,
                                     nullFill: Boolean) {
  /** Typed JVM key values, in key-schema order. */
  val keyValues: Array[Any] = part.keySchema.fields.zip(part.keyRaws).map {
    case (f, raw) => PartitionedCsvLayout.keyValue(raw, f.dataType)
  }
  private var idx = 0
  /** The open file's values; null between files. */
  var it: CsvValueIterator = _
  def file: String = part.files(idx - 1)

  /** Opens the next file; false when none is left. */
  def advance(): Boolean = {
    close()
    if (idx >= part.files.length) false
    else {
      it = new CsvValueIterator(part.files(idx), payloadRequired, parse,
        payloadFilters, conf, nullFill)
      idx += 1
      true
    }
  }

  def close(): Unit = if (it != null) { it.close(); it = null }
}

/** Columnar face of the CSV scan: surviving records append into on-heap
  * column vectors and leave the source as [[ColumnarBatch]]es of up to
  * 4096 rows; the engine's ColumnarToRow conversion runs inside
  * whole-stage codegen reading the vectors directly. The partition keys
  * — constant across the whole partition by construction — are
  * [[ConstantColumnVector]]s set ONCE per partition: the keys cost zero
  * bytes per row in the batch, the exact vector form of "the key is
  * metadata, not data". */
private[sources] class KeyedCsvColumnarReader(files: KeyedCsvFiles,
                                              required: StructType,
                                              payloadRequired: StructType,
                                              slotOf: Array[Int],
                                              batchSize: Int = 4096,
                                              limit: Option[Int] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val hasFileCol = slotOf.contains(KeyedCsvSlots.File)
  private val payloadVectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, payloadRequired)
  // _file as a per-BATCH constant vector — batches never span files
  // when the column is requested (see next()), so the constant is
  // re-set at each file roll instead of written per row.
  private val fileVector: ConstantColumnVector =
    if (!hasFileCol) null else new ConstantColumnVector(batchSize, StringType)
  private val columns: Array[ColumnVector] = {
    val keySchema = files.part.keySchema
    val out = new Array[ColumnVector](required.length)
    var i = 0; var j = 0
    while (i < required.length) {
      slotOf(i) match {
        case KeyedCsvSlots.File => out(i) = fileVector
        case KeyedCsvSlots.Payload => out(i) = payloadVectors(j); j += 1
        case k =>
          val kv = new ConstantColumnVector(batchSize, keySchema(k).dataType)
          files.keyValues(k) match {
            case s: String => kv.setUtf8String(UTF8String.fromString(s))
            case l: Long => kv.setLong(l)
            case n: Int => kv.setInt(n)
            case n: Short => kv.setShort(n)
            case b: Boolean => kv.setBoolean(b)
            case other => throw new IllegalStateException(s"key value $other")
          }
          out(i) = kv
      }
      i += 1
    }
    out
  }
  private val batch = new ColumnarBatch(columns)
  private val types: Array[DataType] = payloadRequired.fields.map(_.dataType)
  private var emitted = 0L

  override def next(): Boolean = {
    var i = 0
    while (i < payloadVectors.length) { payloadVectors(i).reset(); i += 1 }
    // partial-limit: the batch fill cap shrinks to the rows remaining
    val cap = limit.map(l => math.min(batchSize.toLong, l - emitted).toInt)
      .getOrElse(batchSize)
    if (cap <= 0) return false
    var n = 0
    while (n < cap) {
      if (files.it == null) {
        // end the batch at a file boundary when _file is requested —
        // the constant vector must hold ONE value per batch
        if (hasFileCol && n > 0) { emitted += n; batch.setNumRows(n); return true }
        if (!files.advance()) {
          if (n == 0) return false
          emitted += n; batch.setNumRows(n); return true
        }
        if (fileVector != null)
          fileVector.setUtf8String(UTF8String.fromString(files.file))
      }
      val it = files.it
      if (it.next()) {
        var j = 0
        while (j < types.length) {
          val v = it.values(j)
          if (v == null) payloadVectors(j).putNull(n)
          else types(j) match {
            case StringType =>
              val b = v.asInstanceOf[String]
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              payloadVectors(j).putByteArray(n, b, 0, b.length)
            case LongType => payloadVectors(j).putLong(n, v.asInstanceOf[Long])
            case IntegerType => payloadVectors(j).putInt(n, v.asInstanceOf[Int])
            case ShortType => payloadVectors(j).putShort(n, v.asInstanceOf[Short])
            case DoubleType => payloadVectors(j).putDouble(n, v.asInstanceOf[Double])
            case FloatType => payloadVectors(j).putFloat(n, v.asInstanceOf[Float])
            case BooleanType => payloadVectors(j).putBoolean(n, v.asInstanceOf[Boolean])
            case other => throw new UnsupportedOperationException(
              s"graft-csv columnar read: unsupported column type $other")
          }
          j += 1
        }
        n += 1
      } else files.close()
    }
    emitted += n
    batch.setNumRows(n)
    true
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = { batch.close(); files.close() }
}

/** Row face of the CSV scan: one [[GenericInternalRow]] per surviving
  * record, straight off [[CsvValueIterator]]'s values, with the
  * (constant) partition keys and `_file` placed at their projected
  * positions. The keys never exist in the payload bytes — they cost one
  * catalyst value per PARTITION, not per row. With a pushed `limit` the
  * partition stops PARSING after that many rows (partial-limit
  * contract — the engine's CollectLimit finishes). */
private[sources] class KeyedCsvReader(files: KeyedCsvFiles,
                                      required: StructType,
                                      slotOf: Array[Int],
                                      limit: Option[Int])
    extends PartitionReader[InternalRow] {
  private val keyValues: Array[Any] = files.keyValues.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  }
  private var emitted = 0L
  private var currentFile: UTF8String = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false
    while (true) {
      if (files.it == null) {
        if (!files.advance()) return false
        currentFile = UTF8String.fromString(files.file)
      }
      val it = files.it
      if (it.next()) {
        val out = new Array[Any](required.length)
        var i = 0; var j = 0
        while (i < required.length) {
          slotOf(i) match {
            case KeyedCsvSlots.File => out(i) = currentFile
            case KeyedCsvSlots.Payload =>
              out(i) = it.values(j) match {
                case s: String => UTF8String.fromString(s)
                case v => v
              }
              j += 1
            case k => out(i) = keyValues(k)
          }
          i += 1
        }
        row = new GenericInternalRow(out)
        emitted += 1
        return true
      }
      files.close()
    }
    false // unreachable
  }

  override def get(): InternalRow = row
  override def close(): Unit = files.close()
}

/** Commit message for a task that published SEVERAL files (one per key
  * tuple in its sorted run). */
private[sources] case class CsvFilesCommit(files: Seq[CsvFileCommit])
  extends WriterCommitMessage

/** The rolling writer of the partitioned layouts. The engine has
  * already clustered AND sorted this task's rows by the layout's keys
  * (RequiresDistributionAndOrdering), so destination directories arrive
  * as contiguous runs — each run streams to one temp file destined for
  * `<dir>/<stem>-<partition>.csv`. Because a key lives in exactly one
  * cluster partition, each directory receives exactly one file per
  * write. The layouts differ only in `dirOf` (the row's key values →
  * its directory) and in whether the key columns are stripped from the
  * payload: identity keys live in the directory names only (hive
  * convention), a derived key's source column stays data. */
private[sources] class CsvRollingWriter(tmpDir: String, schema: StructType,
                                        keyCols: Seq[String],
                                        dirOf: Array[Any] => String,
                                        stripKeys: Boolean,
                                        partitionId: Int, taskId: Long,
                                        conf: SerializableHadoopConf,
                                        stem: String, trackZones: Boolean)
    extends DataWriter[InternalRow] {
  private val keyIdx: Array[Int] = keyCols.map { c =>
    val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
    require(i >= 0, s"partition column '$c' missing from the write schema")
    i
  }.toArray
  private val payloadIdx: Array[Int] =
    if (stripKeys) schema.fields.indices.filterNot(keyIdx.contains).toArray
    else schema.fields.indices.toArray
  private val payload = StructType(payloadIdx.map(schema(_)))

  private var currentDir: String = _ // null = no file open
  private var current: GraftCsvDataWriter = _
  private val committed = scala.collection.mutable.ArrayBuffer.empty[CsvFileCommit]
  // metrics carried across rolled files (the current file's live
  // counters are added in currentMetricsValues)
  private var rolledRows = 0L
  private var rolledBytes = 0L

  private def rowDir(row: InternalRow): String =
    dirOf(keyIdx.map { i =>
      if (row.isNullAt(i)) throw new IllegalArgumentException(
        s"graft-csv sink: NULL value in partition column '${schema(i).name}' " +
          "— partition keys (identity or derived) must be non-null")
      row.get(i, schema(i).dataType)
    })

  private def finishCurrent(): Unit = if (current != null) {
    committed += current.commit().asInstanceOf[CsvFileCommit]
    rolledRows += current.rows
    rolledBytes += current.bytes
    current = null
  }

  override def write(row: InternalRow): Unit = {
    val dir = rowDir(row)
    if (currentDir == null || currentDir != dir) {
      finishCurrent()
      current = new GraftCsvDataWriter(tmpDir, payload, partitionId, taskId,
        conf, f"$dir/$stem-$partitionId%05d.csv", trackZones)
      currentDir = dir
    }
    current.write(
      if (!stripKeys) row
      else new GenericInternalRow(payloadIdx.map(i => row.get(i, schema(i).dataType))))
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val liveRows = if (current != null) current.rows else 0L
    val liveBytes = if (current != null) current.bytes else 0L
    Array(PagedTaskMetric("csvRowsWritten", rolledRows + liveRows),
      PagedTaskMetric("csvBytesWritten", rolledBytes + liveBytes),
      PagedTaskMetric("csvFilesWritten",
        committed.length + (if (current != null) 1L else 0L)))
  }

  override def commit(): WriterCommitMessage = {
    finishCurrent()
    CsvFilesCommit(committed.toSeq)
  }

  override def abort(): Unit = if (current != null) current.abort()

  override def close(): Unit = ()
}

private[sources] object CsvRollingWriter {
  /** The one writer choice every batch write and streaming epoch makes
    * (its temp dir and name stem from `w`): a derived layout rolls per
    * `spec` directory (full payload), an identity-keyed one per
    * `k1=v1/…` tuple (keys stripped), and a flat table writes one file
    * per task. Tagged names are never reused, so their zone maps can
    * never go stale against a same-named different file — only they
    * track zones. */
  def forLayout(w: CsvWriteDesc, epoch: Option[Long], partitionId: Int,
                taskId: Long): DataWriter[InternalRow] = {
    val (tmpDir, stem, trackZones) = (w.tmpDir(epoch), w.stem(epoch), w.tag(epoch).isDefined)
    def rolling(keys: Seq[String], dirOf: Array[Any] => String, strip: Boolean) =
      new CsvRollingWriter(tmpDir, w.schema, keys, dirOf, strip, partitionId,
        taskId, w.conf, stem, trackZones)
    w.derived match {
      case Some(spec) =>
        rolling(Seq(spec.col.name), ks => spec.dirName(spec.rawOf(ks(0))),
          strip = false)
      case None if w.partitioned.nonEmpty =>
        val partitioned = w.partitioned
        rolling(partitioned, ks => partitioned.indices.map(k =>
          s"${partitioned(k)}=${PartitionedCsvLayout.encode(ks(k).toString)}")
          .mkString("/"), strip = true)
      case None =>
        new GraftCsvDataWriter(tmpDir, w.schema, partitionId, taskId, w.conf,
          f"$stem-$partitionId%05d.csv", trackZones)
    }
  }
}
