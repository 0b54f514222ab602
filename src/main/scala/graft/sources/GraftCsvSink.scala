package graft.sources

import java.util.{Map => JMap, UUID}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Serializable carrier for the SESSION's Hadoop configuration: scan and
  * write factories ship it to executors so `spark.hadoop.*` settings
  * (credentials, custom filesystem impls) apply on every task — a bare
  * `new Configuration()` would silently ignore them (round-6 advice).
  * Hadoop's `Configuration` is not `Serializable`; this wrapper streams
  * it through its own `write`/`readFields`. */
private[sources] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] object SerializableHadoopConf {
  /** The active session's Hadoop conf (driver side); plain defaults when
    * no session is active (tests constructing readers directly). */
  def fromSession(): SerializableHadoopConf =
    new SerializableHadoopConf(
      SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new Configuration()))
}

/** DataSource V2 batch WRITE path for the reference's `;`-CSV envelope
  * (SURVEY.md §2.2 K1) — the sink-side twin of [[PagedJsonSource]]:
  * where the K1 queries compose Spark's built-in CSV writer, this is
  * the engine-surface form — a `TableProvider` + `SupportsWrite` +
  * `BatchWrite` implementing the full two-phase distributed commit
  * protocol a production sink needs:
  *
  *  - each task streams its partition to a UNIQUELY-NAMED temp file
  *    (`_tmp_<queryId>/…-<taskId>`) and only its commit message
  *    publishes the file — a failed/speculative attempt leaves nothing
  *    visible, and Spark's commit coordinator guarantees one committed
  *    attempt per partition;
  *  - the driver's `commit(messages)` runs the ONE commit sequence
  *    ([[GraftCsvCommit]]) every batch write, streaming epoch, DELETE
  *    and copy-on-write rewrite shares: the write mode's drop decision
  *    ([[CsvWriteMode]] — deleted files and key directories on a plain
  *    table, surviving manifest entries on a versioned one), the rename
  *    of the committed temp files into place (rename, not copy —
  *    O(files) metadata ops), the zone sidecar of tagged writes, the
  *    temp-dir removal and, for batch commits, `_SUCCESS`; `abort()`
  *    removes the temp dir so failed jobs leave the target untouched;
  *  - output is RFC-4180-style `;`-CSV (quote doubling, quoted
  *    embedded separators/newlines, per-file header) — exactly what the
  *    S6 reader (`sep=';', header, multiLine`) round-trips.
  *
  * Usage: `df.write.format("graft.sources.GraftCsvSink")
  * .mode("overwrite").option("path", dir).save()`. The table reports
  * ACCEPT_ANY_SCHEMA and takes the row schema from `LogicalWriteInfo`
  * (string/boolean/integral/floating columns).
  *
  * READ side (round-5 verdict #7): the same provider serves the files
  * it committed — `spark.read.schema(s).format(…).option("path", dir)
  * .load()` (or schemaless: every column inferred as string from the
  * part-file header). One input partition per committed part file;
  * column pruning is pushed into the reader
  * (`SupportsPushDownRequiredColumns`), so a 2-column projection
  * parses every record but materializes only 2 fields, and
  * equality/range predicates are pushed too
  * (`SupportsPushDownFilters`, round-6 verdict #3) — filtered-out rows
  * are dropped inside the reader before any InternalRow is built, and
  * no residual Spark filter re-evaluates the pushed predicates
  * (PlanHygieneSpec pins both). The reader implements the writer's
  * exact RFC-4180 dialect (`;` separator, quote doubling, quoted
  * embedded newlines) and maps empty fields to NULL (the writer's null
  * rendering); header-name resolution is case-insensitive, matching
  * Spark's default column resolution.
  */
class GraftCsvSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  // For writes the schema arrives via LogicalWriteInfo; for schemaless
  // reads, infer all-string columns from a committed part header. DSv2
  // gives no read-vs-write signal at this hook, so a schemaless WRITE
  // also pays the (bounded) cost here: one directory listing plus one
  // header line from the first part file — never a data scan.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCsvTable.inferFromHeader(options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GraftCsvTable(properties.get("path"), schema)
}

private[sources] object GraftCsvTable {
  /** The `_file` metadata column name (both scan faces serve it). */
  val FileColumn = "_file"

  /** Removes `key=value` directories left empty by leaf deletes (a
    * compound-key DELETE drops leaves; their parents may end up bare),
    * depth first below `dir`; `dir` itself is never removed. */
  private[sources] def pruneEmptyKeyDirs(fs: FileSystem, dir: HPath): Unit = {
    fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.contains('=') &&
        !s.getPath.getName.startsWith("_"))
      .foreach { s =>
        pruneEmptyKeyDirs(fs, s.getPath)
        if (fs.listStatus(s.getPath).isEmpty) fs.delete(s.getPath, false)
      }
  }

  /** An integer option, failing with the option's name when malformed
    * (outside input: the check stays). */
  def intOption(options: CaseInsensitiveStringMap, name: String): Option[Int] =
    Option(options.get(name)).map(v => v.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft-csv sink: option '$name' must be an integer, got '$v'")))

  /** A boolean option (`true`/`false`, any case), failing with the
    * option's name when malformed. */
  def boolOption(options: CaseInsensitiveStringMap, name: String): Option[Boolean] =
    Option(options.get(name)).map(v => v.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft-csv sink: option '$name' must be true or false, got '$v'")))

  def listPartFiles(path: String, conf: Configuration): Array[String] =
    listPartFilesWithSize(path, conf).map(_._1)

  /** (path, byte length) per committed part file — ONE listing serving
    * both partition planning and size statistics. */
  def listPartFilesWithSize(path: String, conf: Configuration): Array[(String, Long)] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".csv"))
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  /** Header of the first committed part file, every column as string —
    * the schemaless-read surface (pass `.schema(…)` for typed reads). */
  def inferFromHeader(path: String): StructType = {
    if (path == null) return new StructType()
    val conf = SerializableHadoopConf.fromSession().value
    // Partitioned layout: payload columns from the first LEAF dir's part
    // header, plus the key columns (strings — pass a schema for typed
    // keys) in nesting order.
    val (keyCols, leaves) = PartitionedCsvLayout.listPartitionTree(path, conf)
    val dir = leaves.headOption.map(_._2).getOrElse(path)
    listPartFiles(dir, conf).headOption match {
      case None => new StructType()
      case Some(file) =>
        val p = new HPath(file)
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          p.getFileSystem(conf).open(p),
          java.nio.charset.StandardCharsets.UTF_8))
        try {
          val it = new CsvRecordIterator(in, ';')
          if (!it.hasNext) new StructType()
          else StructType(it.next().map(name => StructField(name, StringType)) ++
            keyCols.map(StructField(_, StringType)))
        } finally in.close()
    }
  }
}

private[sources] class GraftCsvTable(path: String, tableSchema: StructType,
                                     catalogPartitionCols: Seq[String] = Nil,
                                     catalogManaged: Boolean = false,
                                     catalogSortCols: Seq[String] = Nil,
                                     catalogSortBuckets: Int = 0,
                                     catalogVersioned: Boolean = false,
                                     asOfVersion: Option[Int] = None,
                                     catalogDerived: Option[CsvDerivedSpec] = None,
                                     catalogConstraints: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = Array.empty)
    extends Table with SupportsWrite with SupportsRead
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** UPDATE / MERGE INTO / non-key DELETE via group-based copy-on-write
    * (r14, [[GraftCsvRowLevelOperation]]): only affected part files are
    * read and rewritten. Catalog tables only — the path API has no DML
    * surface. Key-predicate DELETEs never reach this path (Spark's
    * OptimizeMetadataOnlyDeleteFromTable routes them back to
    * [[deleteWhere]]'s directory-level metadata op). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (!catalogManaged) throw new UnsupportedOperationException(
      "graft-csv: row-level operations (UPDATE/MERGE/DELETE) require a " +
        "catalog-managed table")
    requireWritable()
    () => new GraftCsvRowLevelOperation(path, tableSchema,
      catalogPartitionCols, info.command(), catalogVersioned, catalogDerived)
  }

  private def requireWritable(): Unit =
    if (asOfVersion.isDefined) throw new UnsupportedOperationException(
      "graft-csv: a VERSION AS OF read is immutable — write to the table, " +
        "not to one of its versions")
  require(path != null, "graft-csv sink requires option(\"path\", …)")
  override def name(): String = s"graft_csv($path)"
  override def schema(): StructType = tableSchema

  /** Integrity constraints (r15): CHECK constraints reported here are
    * ENFORCED by Spark itself — ResolveTableConstraints wraps every
    * write to this table in a CheckInvariant, so a violating row fails
    * the job before the two-phase commit publishes a byte. PRIMARY
    * KEY/UNIQUE are informational (RELY metadata for the planner). */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    catalogConstraints

  /** `SHOW TBLPROPERTIES` surface: the write/versioning contract a
    * reader of the catalog should see, not guess. */
  override def properties(): JMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    if (catalogSortCols.nonEmpty)
      m.put("write.orderBy", catalogSortCols.mkString(","))
    if (catalogSortBuckets > 0)
      m.put("write.sortBuckets", catalogSortBuckets.toString)
    if (catalogVersioned) m.put("versioned", "true")
    catalogDerived.foreach {
      case b: CsvBucketSpec =>
        m.put("bucket", s"bucket(${b.n}, ${b.col.name})")
      case t: CsvTruncSpec =>
        m.put("truncate", s"truncate(${t.len}, ${t.col.name})")
    }
    m
  }

  /** Row provenance: `SELECT …, _file FROM t` — which committed part
    * file each row came from. The 100 TB story is quarantine: a
    * corrupt-batch postmortem groups by `_file` and rewrites exactly
    * the offending files instead of the table. Costs zero payload
    * bytes (constant per file; a constant VECTOR on the columnar
    * face). Per the SupportsMetadataColumns contract, a DATA column
    * named `_file` (writable via ACCEPT_ANY_SCHEMA) hides the metadata
    * column — its stored values parse from the payload like any other
    * field (advice r13). */
  override def metadataColumns(): Array[MetadataColumn] =
    if (tableSchema.fieldNames.exists(
        _.equalsIgnoreCase(GraftCsvTable.FileColumn))) Array.empty
    else Array(new MetadataColumn {
      override def name(): String = GraftCsvTable.FileColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "committed part file this row was read from"
    })
  override def partitioning(): Array[Transform] = catalogDerived match {
    case Some(spec) => Array(spec.transform)
    case None =>
      catalogPartitionCols.map(c => Expressions.identity(c): Transform).toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (catalogManaged) {
      // catalog tables take their schema from _graft_table.json — writes
      // must MATCH it, not redefine it (no ACCEPT_ANY_SCHEMA)
      val caps = java.util.EnumSet.of(TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.BATCH_READ,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)
      // the commit log doubles as a streaming source (current table
      // only — an AS OF snapshot is immutable, nothing to tail) AND as
      // the exactly-once ledger for streaming WRITES (txn records —
      // unversioned catalog tables stay batch-only: without a manifest
      // there is nothing to make a replayed epoch idempotent against)
      if (catalogVersioned && asOfVersion.isEmpty) {
        caps.add(TableCapability.MICRO_BATCH_READ)
        caps.add(TableCapability.STREAMING_WRITE)
      }
      caps
    } else
      java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.ACCEPT_ANY_SCHEMA, TableCapability.BATCH_READ,
        TableCapability.STREAMING_WRITE)
  /** A write into this table: its layout, and (catalog tables) tagged
    * names — catalog INSERTs append instead of overwriting the previous
    * write's identically-named files. The tag is the FULL queryId (a
    * UUID, filesystem-safe) — a truncated hash could collide across
    * INSERTs and publish() deletes-then-renames, so a collision would
    * silently REPLACE the earlier INSERT (advice r13). */
  private def writeDesc(schema: StructType, queryId: String): CsvWriteDesc =
    CsvWriteDesc(path, schema, queryId, SerializableHadoopConf.fromSession(),
      catalogPartitionCols, catalogDerived, tagged = catalogManaged,
      versioned = catalogVersioned)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable()
    GraftCsvWriteBuilder(writeDesc(info.schema(), info.queryId()), info,
      catalogSortCols, catalogSortBuckets)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = SerializableHadoopConf.fromSession()
    val vectorized = GraftCsvTable.boolOption(options, "vectorized").forall(identity)
    val zoneSkip = GraftCsvTable.boolOption(options, "zoneSkip").forall(identity)
    // streaming admission control (versioned tables): at most N commits
    // per micro-batch — see GraftLogStreamBase
    val maxVersions = GraftCsvTable.intOption(options, "maxVersionsPerTrigger")
    // catalog reads null-fill columns missing from an old part file's
    // header (schema evolution); path reads keep the loud error (a
    // user-typed schema with a typo'd column should fail, not null out).
    // Every layout is (key columns, leaves): one (key raws, directory)
    // per partition directory — a flat table is the zero-key case, its
    // root the one leaf.
    val root = new HPath(path)
    val (keyCols, leaves, manifestFiles) =
      if (catalogVersioned) {
        // versioned tables LIST NOTHING: the manifest (current or AS OF)
        // is the file list, the partition tree, and the size statistics
        val entries = asOfVersion match {
          case Some(v) => GraftLog.read(root, conf.value, v)
          case None => GraftLog.latest(root, conf.value)
        }
        val byDir = entries.groupBy(e => GraftLog.dirOf(e.rel)).toArray.sortBy(_._1)
          .map { case (relDir, es) =>
            (relDir, if (relDir.isEmpty) path else s"$path/$relDir", es)
          }
        val isLeaf: String => Boolean = catalogDerived match {
          case Some(spec) => _.startsWith(spec.dirPrefix)
          case None => _.isEmpty == catalogPartitionCols.isEmpty
        }
        (catalogPartitionCols,
          byDir.collect { case (relDir, dir, es) if isLeaf(relDir) =>
            (GraftLog.rawsOf(es.head.rel), dir)
          },
          Some(byDir.map { case (_, dir, es) =>
            dir -> es.map(e => (s"$path/${e.rel}", e.bytes)).sortBy(_._1).toArray
          }.toMap))
      } else catalogDerived match {
        case Some(spec) =>
          // unversioned derived catalog table: derived dirs from one listing
          val fs = root.getFileSystem(conf.value)
          val derivedDirs =
            if (!fs.exists(root)) Array.empty[(Seq[String], String)]
            else fs.listStatus(root).collect {
              case s if s.isDirectory && s.getPath.getName.startsWith(spec.dirPrefix) =>
                (Seq(PartitionedCsvLayout.decode(
                  s.getPath.getName.substring(spec.dirPrefix.length))),
                  s.getPath.toString)
            }.sortBy(_._1.head)
          (Nil, derivedDirs, None)
        case None =>
          // Layout sniff (ONE listing): a root holding key=value
          // directories was written with partitionedBy — key-grouped
          // partitions (storage-partitioned joins, planning-time pruning)
          val (cols, ls) = PartitionedCsvLayout.listLeaves(path, conf.value)
          (cols, ls, None)
      }
    catalogDerived match {
      case Some(spec) =>
        new DerivedCsvScanBuilder(path, tableSchema, spec, leaves, conf,
          vectorized, nullFill = catalogManaged, zoneSkip = zoneSkip,
          manifestFiles = manifestFiles, maxVersionsPerTrigger = maxVersions)
      case None =>
        new KeyedCsvScanBuilder(path, tableSchema, keyCols, leaves, conf,
          vectorized, nullFill = catalogManaged, zoneSkip = zoneSkip,
          manifestFiles = manifestFiles, maxVersionsPerTrigger = maxVersions)
    }
  }

  // ---- DELETE FROM (SupportsDelete) -------------------------------------
  //
  // The retention/correction DML the daily-reload warehouse implies
  // (verdict r13 #1). Two honest shapes only, both a commit of ZERO
  // files under the write modes' one drop decision ([[CsvWriteMode]]):
  //  - no predicate (or TRUE): Truncate — every data file goes (a
  //    versioned table's next manifest is empty; bytes stay for time
  //    travel until VACUUM);
  //  - key-only predicates on a PARTITIONED table: OverwriteKeys —
  //    whole `key=value/` directories (or their manifest entries) go;
  //    surviving directories are never listed, let alone rewritten.
  // Anything needing a row rewrite (payload predicates) reports
  // canDeleteWhere=false: Spark routes it to copy-on-write
  // ([[newRowLevelOperationBuilder]]) instead.

  private def keyFields: Seq[StructField] =
    CsvWriteDesc.keyFields(tableSchema, catalogPartitionCols)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    CsvWriteMode.canDropBy(keyFields, filters)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable()
    GraftCsvCommit.commit(writeDesc(tableSchema, UUID.randomUUID().toString),
      CsvWriteMode.byFilters(filters, keyFields), files = Nil)
  }
}

/** Evaluates the V1 `Filter`s the reader accepts at pushdown time:
  * equality / range / not-null on the writable scalar types. Shared by
  * the builder (supportability check) and the per-partition reader
  * (post-parse evaluation — the "pushdown" saves the residual Spark
  * FilterExec and, more importantly at scale, the materialization of
  * pruned-but-filtered rows into InternalRows). */
private[sources] object CsvFilterEval {
  private val Comparable: Set[DataType] = Set(StringType, LongType,
    IntegerType, ShortType, DoubleType, FloatType, BooleanType)

  private def typeOf(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)

  private def litOk(v: Any): Boolean = v match {
    case _: String | _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Double | _: java.lang.Float |
         _: java.lang.Boolean => true
    case _ => false
  }

  /** A filter this source can evaluate itself: a supported shape over a
    * comparable column with a scalar literal, closed under NOT/AND/OR
    * (three-valued — see [[eval3]]). A null-safe `k <=> v` with a
    * non-null literal is `k = v` that is FALSE, not unknown, on a null
    * `k` — the shape Spark hands a sink for `INSERT OVERWRITE t
    * PARTITION (k = v)`. */
  def supportedBy(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v) => typeOf(schema, a).exists(Comparable) && litOk(v)
    case EqualNullSafe(a, v) => typeOf(schema, a).exists(Comparable) && litOk(v)
    case GreaterThan(a, v) => typeOf(schema, a).exists(Comparable) && litOk(v)
    case GreaterThanOrEqual(a, v) => typeOf(schema, a).exists(Comparable) && litOk(v)
    case LessThan(a, v) => typeOf(schema, a).exists(Comparable) && litOk(v)
    case LessThanOrEqual(a, v) => typeOf(schema, a).exists(Comparable) && litOk(v)
    case In(a, vs) =>
      typeOf(schema, a).exists(Comparable) && vs.forall(v => v == null || litOk(v))
    case IsNotNull(a) => typeOf(schema, a).isDefined
    case IsNull(a) => typeOf(schema, a).isDefined
    case Not(c) => supportedBy(schema, c)
    case And(l, r) => supportedBy(schema, l) && supportedBy(schema, r)
    case Or(l, r) => supportedBy(schema, l) && supportedBy(schema, r)
    case _ => false
  }

  /** The columns a filter set reads (for widening the parse schema when
    * a filtered column was pruned from the output). */
  def referenced(filters: Array[Filter]): Array[String] =
    filters.flatMap(_.references).distinct

  /** Unsigned byte-wise comparison of the UTF-8 encodings — Spark's
    * string order (UTF8String.binaryCompare). `String.compareTo` would
    * rank by UTF-16 code units, which disagrees for supplementary
    * characters (surrogates 0xD800+ sort above BMP chars ≥ U+E000 in
    * UTF-16 but below them in UTF-8 bytes) — and a pushed filter is
    * never re-checked by a residual FilterExec, so the divergence would
    * silently change results. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** The dialect's value ordering, shared with the zone-map layer
    * ([[ZoneEval]]) so a planning-time skip and a row-time filter can
    * never rank two values differently. */
  private[sources] def compareValues(a: Any, b: Any): Int = cmp(a, b)

  private def cmp(v: Any, lit: Any): Int = (v, lit) match {
    case (a: String, b: String) => utf8Cmp(a, b)
    case (a: java.lang.Boolean, b: java.lang.Boolean) => a.compareTo(b)
    // Integral columns always carry integral literals here (litOk +
    // Catalyst typing); mixed numeric widths compare as doubles.
    case (a: Number, b: Number)
      if a.isInstanceOf[java.lang.Long] || a.isInstanceOf[java.lang.Integer] ||
        a.isInstanceOf[java.lang.Short] =>
      if (b.isInstanceOf[java.lang.Double] || b.isInstanceOf[java.lang.Float])
        java.lang.Double.compare(a.doubleValue(), b.doubleValue())
      else java.lang.Long.compare(a.longValue(), b.longValue())
    case (a: Number, b: Number) =>
      java.lang.Double.compare(a.doubleValue(), b.doubleValue())
    case other => throw new IllegalStateException(
      s"graft-csv pushed filter on unsupported value pair: $other")
  }

  /** Kleene three-valued evaluation: Some(true)/Some(false)/None
    * (= UNKNOWN, a NULL operand). NOT must distinguish false from
    * unknown — `NOT (x = 'R')` on a NULL x is unknown, not true —
    * which a boolean evaluator cannot express. */
  private def eval3(f: Filter, valueOf: String => Any): Option[Boolean] = {
    def c(a: String, v: Any)(p: Int => Boolean): Option[Boolean] = {
      val x = valueOf(a)
      if (x == null || v == null) None else Some(p(cmp(x, v)))
    }
    f match {
      case _: AlwaysTrue => Some(true)
      case IsNotNull(a) => Some(valueOf(a) != null)
      case IsNull(a) => Some(valueOf(a) == null)
      case EqualTo(a, v) => c(a, v)(_ == 0)
      case EqualNullSafe(a, v) => Some(c(a, v)(_ == 0).contains(true))
      case GreaterThan(a, v) => c(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => c(a, v)(_ >= 0)
      case LessThan(a, v) => c(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => c(a, v)(_ <= 0)
      case In(a, vs) =>
        val x = valueOf(a)
        if (x == null) None
        else if (vs.exists(v => v != null && cmp(x, v) == 0)) Some(true)
        else if (vs.contains(null)) None // x IN (…, NULL): no match is UNKNOWN
        else Some(false)
      case Not(child) => eval3(child, valueOf).map(!_)
      case And(l, r) => (eval3(l, valueOf), eval3(r, valueOf)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval3(l, valueOf), eval3(r, valueOf)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case other => throw new IllegalStateException(s"unexpected pushed filter $other")
    }
  }

  /** SQL WHERE semantics: UNKNOWN is not-true → row dropped. */
  def eval(f: Filter, valueOf: String => Any): Boolean =
    eval3(f, valueOf).contains(true)
}

/** The sink's RFC-4180 quoting: quote-and-double when the field
  * contains the separator, a quote, or a line break — and ALWAYS quote
  * the empty string, so `""` on disk means empty string while a bare
  * empty field means NULL (without this the two are conflated and a
  * non-null empty STRING column would not round-trip). Shared by the
  * writer and the dialect's property tests. */
private[sources] object GraftCsvDialect {
  def quote(s: String): String =
    if (s.isEmpty) "\"\""
    else if (s.exists(c => c == ';' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}

/** Streaming RFC-4180 record iterator for the sink's dialect: `sep`
  * separates fields; a field starting with `"` runs — including
  * embedded separators and newlines — until its closing quote, with
  * `""` unescaping to one quote; records end at an unquoted `\n`,
  * `\r\n`, or a trailing `\r` at EOF — a bare `\r` inside an unquoted
  * field is DATA and survives (a foreign file in this dialect loses no
  * bytes). A bare empty field decodes as NULL; a quoted
  * empty field (`""`) decodes as the empty string — the writer's
  * rendering of the two, kept distinguishable on purpose. */
private[sources] class CsvRecordIterator(in: java.io.Reader, sep: Char)
    extends Iterator[Array[String]] {
  private var nextRec: Array[String] = readRecord()
  override def hasNext: Boolean = nextRec != null
  override def next(): Array[String] = {
    val r = nextRec
    nextRec = readRecord()
    r
  }

  private def readRecord(): Array[String] = {
    var c = in.read()
    if (c == -1) return null
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQuotes = false
    var quoted = false // the CURRENT field began with a quote
    def endField(): Unit = {
      fields += (if (!quoted && sb.isEmpty) null else sb.toString)
      sb.clear()
      quoted = false
    }
    while (true) {
      if (c == -1) {
        endField()
        return fields.toArray
      }
      val ch = c.toChar
      if (inQuotes) {
        if (ch == '"') {
          val nxt = in.read()
          if (nxt == '"'.toInt) { sb.append('"'); c = in.read() }
          else { inQuotes = false; c = nxt }
        } else { sb.append(ch); c = in.read() }
      } else if (ch == sep) {
        endField()
        c = in.read()
      } else if (ch == '"' && sb.isEmpty && !quoted) {
        inQuotes = true
        quoted = true
        c = in.read()
      } else if (ch == '\n') {
        endField()
        return fields.toArray
      } else if (ch == '\r') {
        // \r\n (or a trailing \r at EOF) ends the record; a bare \r
        // inside an unquoted field is DATA and must survive — silently
        // dropping it would lose bytes from foreign files in this
        // dialect (this writer always quotes CR-bearing fields).
        val nxt = in.read()
        if (nxt == '\n'.toInt || nxt == -1) {
          endField()
          return fields.toArray
        }
        sb.append('\r')
        c = nxt
      } else {
        sb.append(ch)
        c = in.read()
      }
    }
    null // unreachable
  }
}

/** The shared parse/filter/convert core of ONE part file: resolves the
  * parse columns against the file's own header by NAME (committed files
  * are self-describing; resolution is case-insensitive, matching
  * Spark's default column resolution), converts the writer's renderings
  * back to the requested types, and evaluates the pushed filters.
  * Surviving records expose their `required`-prefix JVM values via
  * [[values]] — the row reader turns one into an InternalRow, the
  * columnar reader appends a batch of them into column vectors. Empty
  * fields decode as NULL — the writer's null rendering. */
private[sources] class CsvValueIterator(file: String, required: StructType,
                                        parse: StructType,
                                        pushed: Array[Filter],
                                        conf: SerializableHadoopConf,
                                        nullFill: Boolean = false) {
  private val in = {
    val p = new HPath(file)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf.value).open(p),
      java.nio.charset.StandardCharsets.UTF_8))
  }
  private val records = new CsvRecordIterator(in, ';')
  private val colIndex: Array[Int] = {
    val header = if (records.hasNext) records.next() else Array.empty[String]
    parse.fieldNames.map { name =>
      val i = header.indexWhere(_.equalsIgnoreCase(name))
      // nullFill (catalog reads): the file predates an ALTER TABLE ADD
      // COLUMN — the column reads as NULL for every row of this file
      if (i < 0 && !nullFill) throw new IllegalArgumentException(
        s"graft-csv read: column '$name' not in header ${header.mkString(";")} ($file)")
      i
    }
  }

  // Filter evaluation resolves values by (case-insensitive) column name
  // against the parsed JVM values of the current record.
  private val evalPos: Map[String, Int] =
    parse.fieldNames.zipWithIndex
      .map { case (n, i) => n.toLowerCase(java.util.Locale.ROOT) -> i }.toMap

  /** Plain JVM value (String/Long/…) — comparable by [[CsvFilterEval]];
    * catalyst conversion happens only for EMITTED rows. */
  private def convert(s: String, dt: DataType): Any =
    if (s == null) null // bare empty field = NULL; quoted "" = empty string
    else dt match {
      case StringType => s
      case LongType => s.toLong
      case IntegerType => s.toInt
      case ShortType => s.toShort
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case other => throw new UnsupportedOperationException(
        s"graft-csv read: unsupported column type $other")
    }

  // Hoisted out of the per-record loop: field types aligned with their
  // header positions.
  private val fieldTypes: Array[DataType] = parse.fields.map(_.dataType)

  /** The current surviving record's JVM values, `parse`-ordered (the
    * `required` columns are its prefix). Valid after `next()` = true. */
  var values: Array[Any] = _

  def next(): Boolean = {
    while (records.hasNext) {
      val rec = records.next()
      val vs = new Array[Any](fieldTypes.length)
      var i = 0
      while (i < fieldTypes.length) {
        val idx = colIndex(i)
        // idx < 0: nullFill column absent from this (pre-evolution) file
        vs(i) = if (idx < 0 || idx >= rec.length) null
          else convert(rec(idx), fieldTypes(i))
        i += 1
      }
      def valueOf(name: String): Any =
        vs(evalPos(name.toLowerCase(java.util.Locale.ROOT)))
      if (pushed.forall(CsvFilterEval.eval(_, valueOf))) {
        values = vs
        return true
      }
    }
    false
  }

  def close(): Unit = in.close()
}

/** One write, described once: the table it lands in, its row schema,
  * its layout and how it names and commits files. Built by
  * [[GraftCsvTable]] (its `partitionedBy` overridable per write by
  * [[GraftCsvWriteBuilder]]) or the copy-on-write operation, and
  * threaded through the Write, the batch or streaming write, the commit
  * and the writer factory (which ships it to executors).
  *
  * `tagged` writes (catalog tables) stamp a tag into every published
  * name — the queryId, or `<queryId>-e<epoch>` for a streaming epoch —
  * so names are never reused and a zone sidecar keyed on the tag stays
  * sound. Untagged names (the path face) are reused: a batch write
  * publishes `part-<partition>.csv`, a streaming epoch
  * `part-<epoch:05d>-<partition>.csv`. */
private[sources] case class CsvWriteDesc(path: String, schema: StructType,
                                         queryId: String,
                                         conf: SerializableHadoopConf,
                                         partitioned: Seq[String] = Nil,
                                         derived: Option[CsvDerivedSpec] = None,
                                         tagged: Boolean = false,
                                         versioned: Boolean = false) {
  /** The identity-partition key fields, resolved against the schema. */
  def keys: Seq[StructField] = CsvWriteDesc.keyFields(schema, partitioned)

  /** The tag of the batch write (`None`) or of one streaming epoch. */
  def tag(epoch: Option[Long]): Option[String] =
    if (tagged) Some(queryId + epoch.fold("")(e => s"-e$e")) else None

  /** Published names are `<stem>-<partition:05d>.csv`. */
  def stem(epoch: Option[Long]): String =
    tag(epoch).map(t => s"part-$t").getOrElse(epoch.fold("part")(e => f"part-$e%05d"))

  /** Where the tasks' uncommitted files live until the commit publishes
    * them (the `_` prefix hides it from every listing). */
  def tmpDir(epoch: Option[Long]): String =
    s"$path/_tmp_$queryId" + epoch.fold("")(e => if (tagged) s"_e$e" else s"_$e")
}

private[sources] object CsvWriteDesc {
  def keyFields(schema: StructType, cols: Seq[String]): Seq[StructField] =
    cols.flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))
}

/** What a write does to EXISTING table contents at commit time, with
  * its two faces stated once each: which manifest entries survive
  * ([[survivors]], versioned tables) and which files and `key=value`
  * directories are deleted ([[drop]], plain tables). Batch writes,
  * streaming epochs and DELETE (a commit of zero files) all go through
  * them in [[GraftCsvCommit.commit]]. */
private[sources] sealed trait CsvWriteMode {
  import CsvWriteMode._

  /** Versioned face: the live manifest entries this write keeps;
    * `written` are its own published names. */
  def survivors(live: Seq[GraftLog.Entry], written: Seq[String]): Seq[GraftLog.Entry] =
    this match {
      case Append => live
      case Truncate => Nil
      case k: OverwriteKeys => live.filterNot(e => k.matches(GraftLog.rawsOf(e.rel)))
      case DynamicOverwrite =>
        val touched = written.map(GraftLog.dirOf).toSet
        live.filterNot(e => touched(GraftLog.dirOf(e.rel)))
    }

  /** Whether [[drop]] runs after the publish instead of before it: a
    * complete-mode streaming epoch (Truncate) replaces the earlier
    * epochs' files only once its own are in place, so no reader lists
    * an empty table in between. Its drop spares its own published names
    * and removes every file of a wider earlier attempt of the epoch. */
  def dropsAfterPublish(epoch: Option[Long]): Boolean =
    epoch.isDefined && this == Truncate

  /** Unversioned face: deletes the files and key directories this write
    * replaces — whole directories, a metadata op; survivors are never
    * listed below their key level. */
  def drop(fs: FileSystem, root: HPath, conf: Configuration,
           written: Seq[String]): Unit = this match {
    case Append => ()
    case Truncate =>
      // previous contents = top-level part files AND key=value directories
      // (`written` are already in place when the drop runs after the
      // publish, see dropsAfterPublish)
      val own = written.toSet
      fs.listStatus(root).filter { s =>
        val name = s.getPath.getName
        !name.startsWith("_") && !own(name) &&
          (s.isFile || (s.isDirectory && name.contains('=')))
      }.foreach(s => fs.delete(s.getPath, true))
      // every previous zone entry now describes a deleted file
      CsvZones.drop(root, conf)
    case k: OverwriteKeys =>
      val (_, leaves) = PartitionedCsvLayout.listPartitionTree(root.toString, conf)
      leaves.foreach { case (raws, dir) =>
        if (k.matches(raws)) fs.delete(new HPath(dir), true)
      }
      // compound layouts: drop ancestor key dirs emptied by the leaf
      // deletes (pure metadata walk over the surviving tree)
      if (k.keys.length > 1) GraftCsvTable.pruneEmptyKeyDirs(fs, root)
    case DynamicOverwrite =>
      // exactly the key directories this write publishes into —
      // computed from the commit messages, no directory listing at all
      written.map(GraftLog.dirOf).filter(_.nonEmpty).distinct
        .foreach(d => fs.delete(new HPath(root, d), true))
  }
}

private[sources] object CsvWriteMode {
  /** Keep previous files (catalog INSERT INTO publishes under a fresh
    * tag; the path API overwrites identically-named files). */
  case object Append extends CsvWriteMode
  /** Drop everything: path `mode("overwrite")`, `INSERT OVERWRITE` with
    * no surviving filter, `TRUNCATE TABLE`, unconditional `DELETE`,
    * complete-mode streaming (each epoch replaces the earlier ones). */
  case object Truncate extends CsvWriteMode
  /** Static key overwrite (`writeTo(t).overwrite(k = v)`) or key-only
    * `DELETE`: drop exactly the key directories matching the filters. */
  final case class OverwriteKeys(filters: Array[Filter], keys: Seq[StructField])
      extends CsvWriteMode {
    if (keys.isEmpty) throw new UnsupportedOperationException(
      "graft-csv: a key-filtered overwrite or DELETE requires a partitioned table")
    def matches(raws: Seq[String]): Boolean =
      filters.forall(CsvFilterEval.eval(_, KeyedCsvScan.keyLookup(keys, raws)))
  }
  /** Dynamic partition overwrite (partitionOverwriteMode=dynamic): drop
    * exactly the key directories this write produces files for — the
    * daily-reload shape (re-load today's partitions, history intact). */
  case object DynamicOverwrite extends CsvWriteMode

  /** The one check behind `canDeleteWhere` and `canOverwrite`: every
    * filter is TRUE or a supported predicate over key columns only, so
    * the drop is a directory-level metadata op. Anything else (payload
    * predicates) is refused — Spark raises the analysis error (or routes
    * a DELETE to copy-on-write) instead of this sink silently rewriting
    * the table. */
  def canDropBy(keys: Seq[StructField], filters: Array[Filter]): Boolean =
    filters.forall {
      case _: AlwaysTrue => true
      case f =>
        val refs = f.references
        keys.nonEmpty && refs.nonEmpty &&
          refs.forall(r => keys.exists(_.name.equalsIgnoreCase(r))) &&
          CsvFilterEval.supportedBy(StructType(keys), f)
    }

  /** The mode an overwrite or DELETE by `filters` commits under. */
  def byFilters(filters: Array[Filter], keys: Seq[StructField]): CsvWriteMode = {
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) Truncate else OverwriteKeys(real, keys)
  }
}

/** The write's builder: `table` is the table's layout, which the write's
  * own `partitionedBy=` option overrides; `sortCols`/`sortBuckets` are
  * the table's `write.orderBy`/`write.sortBuckets` defaults. */
private[sources] case class GraftCsvWriteBuilder(table: CsvWriteDesc,
                                                 info: LogicalWriteInfo,
                                                 sortCols: Seq[String] = Nil,
                                                 sortBuckets: Int = 0,
                                                 mode: CsvWriteMode = CsvWriteMode.Append)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {
  private def columnsOption(name: String): Option[Seq[String]] =
    Option(info.options().get(name))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
  private def w: CsvWriteDesc =
    columnsOption("partitionedBy").fold(table)(cs => table.copy(partitioned = cs))

  override def truncate(): WriteBuilder = copy(mode = CsvWriteMode.Truncate)

  override def canOverwrite(filters: Array[Filter]): Boolean =
    CsvWriteMode.canDropBy(w.keys, filters)

  override def overwrite(filters: Array[Filter]): WriteBuilder =
    copy(mode = CsvWriteMode.byFilters(filters, w.keys))

  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (w.partitioned.isEmpty) throw new UnsupportedOperationException(
      "graft-csv sink: dynamic partition overwrite requires a partitioned table")
    copy(mode = CsvWriteMode.DynamicOverwrite)
  }

  override def build(): Write = {
    val schema = info.schema()
    val cluster = columnsOption("clusterBy")
    cluster.foreach { cols =>
      val missing = cols.filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"graft-csv sink: clusterBy columns not in the write schema: " +
          missing.mkString(", "))
    }
    // sortBy= / TBLPROPERTIES('write.orderBy'): GLOBAL ordered
    // distribution — range-partitioned, in-partition-sorted files whose
    // zone ranges are DISJOINT, so a range predicate later opens only
    // the files that intersect it (CsvZones). Hash clustering
    // (clusterBy) spreads every value range across all files, which is
    // the wrong write shape for range-sliced reads — hence exclusive.
    val sorted = columnsOption("sortBy").orElse(Option(sortCols).filter(_.nonEmpty))
    val partitioned = w.partitioned
    sorted.foreach { cols =>
      if (cluster.isDefined || partitioned.nonEmpty)
        throw new IllegalArgumentException(
          "graft-csv sink: sortBy (ordered distribution) and clusterBy/" +
            "partitionedBy (hash clustering) are mutually exclusive")
      cols.foreach { c =>
        val field = schema.fields.find(_.name.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"graft-csv sink: sortBy column '$c' not in the write schema"))
        if (!CsvZoneTracker.eligible(field.dataType))
          throw new IllegalArgumentException(
            s"graft-csv sink: sortBy column '$c' has type " +
              s"${field.dataType.simpleString}; sort keys must be comparable scalars")
      }
    }
    partitioned.foreach { col =>
      if (cluster.isDefined) throw new IllegalArgumentException(
        "graft-csv sink: partitionedBy implies clustering on the keys; " +
          "do not combine it with clusterBy")
      val field = schema.fields.find(_.name.equalsIgnoreCase(col))
        .getOrElse(throw new IllegalArgumentException(
          s"graft-csv sink: partitionedBy column '$col' not in the write schema"))
      if (!PartitionedCsvLayout.keyTypeOk(field.dataType))
        throw new IllegalArgumentException(
          s"graft-csv sink: partitionedBy column '$col' has type " +
            s"${field.dataType.simpleString}; partition keys must be " +
            "string/integral/boolean")
    }
    if (partitioned.nonEmpty && schema.length <= partitioned.length)
      throw new IllegalArgumentException(
        "graft-csv sink: partitionedBy requires at least one payload column")
    // sortBuckets=N pins the ordered write's partition count (N files).
    // Default 0 lets the engine decide — AQE sizes range partitions by
    // bytes, the scale-correct knob; a pinned count is for layouts that
    // must be stable across reloads (and for deterministic specs).
    val buckets = GraftCsvTable.intOption(info.options(), "sortBuckets")
      .getOrElse(sortBuckets)
    if (buckets < 0 || (buckets > 0 && sorted.isEmpty))
      throw new IllegalArgumentException(
        "graft-csv sink: sortBuckets requires sortBy and a positive count")
    new GraftCsvWrite(w, mode, cluster, sorted, buckets)
  }
}

/** The sink's write contract. With `clusterBy=c1,c2` the sink REQUIRES
  * the engine to cluster rows by those keys before any writer sees
  * them ([[RequiresDistributionAndOrdering]]): Spark inserts the
  * shuffle + in-partition sort itself, so a given key value lands in
  * exactly ONE output file regardless of upstream layout. That is K1's
  * date-stamped write (`…final.py:36-39`) at 100 TB — the consumer of
  * `report_YYYY-MM-DD.csv` files needs "one date, one file" as an
  * ENGINE guarantee, not a hope about upstream partitioning. The
  * in-partition ordering additionally groups a multi-key cluster into
  * contiguous runs, so a downstream splitter is a single pass. Without
  * the option the distribution is unspecified and planning is
  * unchanged. */
private[sources] class GraftCsvWrite(w: CsvWriteDesc, mode: CsvWriteMode,
                                     cluster: Option[Seq[String]] = None,
                                     sorted: Option[Seq[String]] = None,
                                     sortBuckets: Int = 0)
    extends Write with RequiresDistributionAndOrdering {
  /** 0 = engine's choice (AQE byte-sized range partitions); >0 pins the
    * ordered write's file count. */
  override def requiredNumPartitions(): Int =
    if (sorted.isDefined) sortBuckets else 0
  // partitionedBy IS a clustering on the keys (plus the hive layout)
  private def keys: Option[Seq[String]] =
    if (w.partitioned.nonEmpty) Some(w.partitioned) else cluster
  private def sortOrders(cs: Seq[String]): Array[SortOrder] =
    cs.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  override def requiredDistribution(): Distribution =
    // sortBy: ORDERED distribution (range partitioning) — contiguous
    // value runs per file, disjoint zone ranges (the data-skipping
    // write shape). clusterBy/partitionedBy: hash clustering (one key,
    // one file). bucket(n, col) / truncate(w, col): clustering on the
    // TRANSFORM — Spark resolves it through the catalog's V2 function
    // and shuffles by the very function the layout stores, so each
    // task's rows arrive grouped by destination directory.
    w.derived.map(spec => Distributions.clustered(
        Array(spec.transform: Expression)))
      .orElse(sorted.map(cs => Distributions.ordered(sortOrders(cs))))
      .orElse(keys.map(cs => Distributions.clustered(
        cs.map(c => Expressions.column(c): Expression).toArray)))
      .getOrElse(Distributions.unspecified())
  override def requiredOrdering(): Array[SortOrder] =
    w.derived.map(spec => Array(Expressions.sort(
        spec.transform, SortDirection.ASCENDING)))
      .getOrElse(sorted.orElse(keys).map(sortOrders).getOrElse(Array.empty))
  /** Spark-UI observability for the WRITE side (mirrors the paged
    * source's read metrics): rows/bytes/files per write, summed across
    * tasks and shown on the V2 write node. At a 100 TB ingest the
    * files-written count versus the cluster key cardinality is the
    * number that tells an operator the clustering contract actually
    * held. */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new CsvRowsWrittenMetric, new CsvBytesWrittenMetric,
      new CsvFilesWrittenMetric)

  override def toBatch: BatchWrite = new GraftCsvBatchWrite(w, mode)
  /** Spark's streaming planner asks for Append, or Truncate (complete
    * output mode) only. */
  override def toStreaming: StreamingWrite = {
    if (!w.versioned && w.partitioned.nonEmpty) throw new UnsupportedOperationException(
      "graft-csv sink: partitionedBy is batch-only on the path face (the " +
        "streaming face writes epoch-stamped flat files; partitioned " +
        "streaming needs the versioned catalog table's manifest commits)")
    new GraftCsvStreamingWrite(w, mode)
  }
}

/** Commit message: the temp file this task wrote, the final name it
  * should be published under, the file's column zone map (tagged
  * writes only; else empty) for the `_zones` sidecar, and the writer's
  * byte and row counts (manifest and sidecar fodder). */
private[sources] case class CsvFileCommit(tempFile: String, finalName: String,
                                          zones: Map[String, CsvColZone],
                                          bytes: Long, rows: Long)
  extends WriterCommitMessage

private[sources] class CsvRowsWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "csvRowsWritten"
  override def description(): String = "rows written"
}
private[sources] class CsvBytesWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "csvBytesWritten"
  override def description(): String = "bytes written (header included)"
}
private[sources] class CsvFilesWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "csvFilesWritten"
  override def description(): String = "files committed"
}

/** The ONE commit sequence of batch writes, streaming epochs, DELETE
  * and copy-on-write rewrites, so the rename/failure semantics and the
  * crash windows can never drift between them:
  *
  *  - plain tables: the mode's [[CsvWriteMode.drop]], then publish (a
  *    complete-mode streaming epoch publishes, then drops);
  *  - versioned tables: publish, then claim the next manifest (live
  *    entries the mode's [[CsvWriteMode.survivors]] keep, plus the
  *    fresh files) — NO physical deletes ever (replaced files stay
  *    referenced by older versions until VACUUM). A crash between
  *    publish and claim leaves orphans no manifest names — vacuum food,
  *    never a manifest of missing files. A streaming epoch's claim
  *    carries its `txn` record, and an epoch the ledger already holds
  *    is a checkpoint replay, skipped before anything publishes;
  *  - copy-on-write ([[replace]]): publish, then swap the replaced
  *    groups out (conflict-checked manifest claim, or delete + prune).
  *
  * Every path then writes the zone sidecar (tagged writes), drops its
  * temp dir and, for batch commits, stamps `_SUCCESS`. */
private[sources] object GraftCsvCommit {
  /** Every file the tasks committed, flattened. */
  def files(messages: Array[WriterCommitMessage]): Seq[CsvFileCommit] =
    messages.toSeq.flatMap {
      case f: CsvFileCommit => Seq(f)
      case CsvFilesCommit(fsq) => fsq // partitioned task: one file per key
    }

  private def open(w: CsvWriteDesc): (FileSystem, HPath) = {
    val root = new HPath(w.path)
    val fs = root.getFileSystem(w.conf.value)
    fs.mkdirs(root)
    (fs, root)
  }

  /** Overwrite-renames every temp file under its final name, then
    * persists the tagged files' zone maps (one sidecar per tag; untagged
    * writes reuse names, so theirs would be unsound). */
  private def publish(fs: FileSystem, root: HPath, w: CsvWriteDesc,
                      epoch: Option[Long], files: Seq[CsvFileCommit]): Unit = {
    rename(fs, root, files)
    writeZones(root, w, epoch, files)
  }

  private def rename(fs: FileSystem, root: HPath, files: Seq[CsvFileCommit]): Unit =
    files.foreach { f =>
      val target = new HPath(root, f.finalName)
      // partitioned finalNames live under key=value subdirectories
      if (target.getParent != root) fs.mkdirs(target.getParent)
      if (fs.exists(target)) fs.delete(target, false)
      if (!fs.rename(new HPath(f.tempFile), target))
        throw new java.io.IOException(s"graft-csv: rename ${f.tempFile} -> $target failed")
    }

  private def writeZones(root: HPath, w: CsvWriteDesc, epoch: Option[Long],
                         files: Seq[CsvFileCommit]): Unit =
    w.tag(epoch).foreach(t => CsvZones.write(root, w.conf.value, t,
      files.map(f => (f.finalName, f.zones, f.rows))))

  private def finish(fs: FileSystem, root: HPath, w: CsvWriteDesc,
                     epoch: Option[Long]): Unit = {
    fs.delete(new HPath(w.tmpDir(epoch)), true)
    if (epoch.isEmpty) fs.create(new HPath(root, "_SUCCESS"), true).close()
  }

  private def entries(files: Seq[CsvFileCommit]): Seq[GraftLog.Entry] =
    files.map(f => GraftLog.Entry(f.finalName, f.bytes))

  /** A batch write (`epoch` None), one streaming epoch, or a DELETE (no
    * files) under `mode`. */
  def commit(w: CsvWriteDesc, mode: CsvWriteMode, files: Seq[CsvFileCommit],
             epoch: Option[Long] = None): Unit = {
    val (fs, root) = open(w)
    val conf = w.conf.value
    val written = files.map(_.finalName)
    if (w.versioned) {
      // exactly-once: an epoch the manifest ledger already records is a
      // checkpoint replay — skip BEFORE publishing anything
      if (epoch.exists(e => GraftLog.lastTxn(root, conf, w.queryId).exists(_ >= e))) {
        fs.delete(new HPath(w.tmpDir(epoch)), true)
        return
      }
      publish(fs, root, w, epoch, files)
      GraftLog.commit(root, conf, live => mode.survivors(live, written) ++ entries(files),
        txn = epoch.map(w.queryId -> _))
    } else {
      val dropLast = mode.dropsAfterPublish(epoch)
      // A replayed epoch may plan FEWER partitions than the attempt that
      // first committed it (shuffle-partition change across restart):
      // overwrite-by-name alone would leave the extra files from the
      // failed attempt behind as duplicate rows. Remove every file this
      // epoch ever published that the replay does not re-produce, THEN
      // publish — the epoch's final state is exactly `files`. (A drop
      // after the publish removes them itself.)
      if (!dropLast) epoch.foreach { _ =>
        val epochPrefix = w.stem(epoch) + "-"
        fs.listStatus(root)
          .filter(s => s.isFile && s.getPath.getName.startsWith(epochPrefix) &&
            !written.contains(s.getPath.getName))
          .foreach(s => fs.delete(s.getPath, false))
      }
      if (!dropLast) mode.drop(fs, root, conf, written)
      rename(fs, root, files)
      if (dropLast) mode.drop(fs, root, conf, written)
      writeZones(root, w, epoch, files)
    }
    finish(fs, root, w, epoch)
  }

  /** Copy-on-write: publish the rewritten groups (fresh tagged names —
    * they can never collide with the files they replace), then drop
    * exactly the `replaced` group files (absolute paths). Publish-first
    * ordering: a crash between the two steps leaves transient
    * DUPLICATES (re-runnable), never data loss. */
  def replace(w: CsvWriteDesc, replaced: Iterable[String],
              files: Seq[CsvFileCommit]): Unit = {
    val (fs, root) = open(w)
    val conf = w.conf.value
    publish(fs, root, w, None, files)
    if (w.versioned) {
      // LOGICAL replace: next manifest = live − replaced + rewritten;
      // replaced bytes stay on disk for older versions (VACUUM reclaims).
      // Conflict-checked: if a concurrent commit removed any of the
      // groups this rewrite read, publishing would resurrect dead rows
      // — fail loudly instead (ConcurrentWriteConflictException). The
      // just-published rewrite files are deleted on the way out: this
      // writer created them, no manifest names them, and tidying now
      // beats leaving 24h-grace vacuum food behind a failed commit.
      try GraftLog.commitReplace(root, conf,
        replaced.map(GraftLog.relativize(root, conf, _)).toSet, entries(files))
      catch {
        case e: ConcurrentWriteConflictException =>
          files.foreach(f => fs.delete(new HPath(root, f.finalName), false))
          fs.delete(new HPath(w.tmpDir(None)), true)
          throw e
      }
    } else {
      replaced.foreach(f => fs.delete(new HPath(f), false))
      // prune directories the rewrite emptied (rows moved or deleted)
      if (w.partitioned.nonEmpty || w.derived.isDefined)
        GraftCsvTable.pruneEmptyKeyDirs(fs, root)
    }
    finish(fs, root, w, None)
  }

  def abort(w: CsvWriteDesc, epoch: Option[Long]): Unit = {
    val tmp = new HPath(w.tmpDir(epoch))
    tmp.getFileSystem(w.conf.value).delete(tmp, true)
  }
}

private[sources] class GraftCsvBatchWrite(w: CsvWriteDesc, mode: CsvWriteMode)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CsvWriterFactory(w)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftCsvCommit.commit(w, mode, GraftCsvCommit.files(messages))
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCsvCommit.abort(w, None)
}

/** K1 at STREAMING cadence, natively (no foreachBatch): per micro-batch
  * the same two-phase task commit as the batch writer.
  *
  * Path face: each epoch publishes into EPOCH-STAMPED final names
  * (`part-<epoch>-<partition>.csv`). A checkpoint-replayed epoch
  * re-derives the identical names and overwrites its own files, so
  * delivery is exactly-once at the file level across kill/restart —
  * the property `foreachBatch` users must hand-build with idempotent
  * per-batch_id overwrites, provided here by the sink itself. Readers
  * see only committed files (temp files live under a `_tmp_` prefix the
  * lister skips). In complete output mode an epoch's files replace the
  * earlier epochs' files once they are published.
  *
  * VERSIONED catalog tables (`df.writeStream.toTable("graft.wh.t")`,
  * r15): each micro-batch commits like a batch INSERT — tagged names
  * (tag = streaming queryId + epoch, unique forever), zone sidecars,
  * one manifest commit — plus the manifest records the epoch as a
  * streaming TRANSACTION (`txn: {app, epoch}`, the Delta
  * SetTransaction/idempotent-write shape). On restart, Spark replays
  * the last un-checkpointed epoch; [[GraftLog.lastTxn]] recognizes an
  * epoch the log already committed and the replay becomes a no-op
  * BEFORE any file publishes — no duplicate rows, no stray files. The
  * appId is the streaming query's stable id (persisted in its
  * checkpoint), so recognition survives restarts; the same query never
  * runs two epochs concurrently, so the check-then-commit window cannot
  * race itself, and commits from OTHER writers interleave safely (the
  * txn ledger rides the same atomic manifest claim). Crash windows:
  * after publish but before the manifest claim → replay re-publishes
  * and commits; the first attempt's files are unreferenced orphans
  * (24h-grace vacuum food). After the claim but before Spark's own
  * checkpoint commit → replay is recognized and skipped. Partitioned
  * layouts work (the Write's distribution contract applies to each
  * micro-batch); complete output mode (Truncate) makes each epoch's
  * manifest REPLACE the live set instead of appending to it. */
private[sources] class GraftCsvStreamingWrite(w: CsvWriteDesc, mode: CsvWriteMode)
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new CsvWriterFactory(w)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftCsvCommit.commit(w, mode, GraftCsvCommit.files(messages), Some(epochId))
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftCsvCommit.abort(w, Some(epochId))
}

/** The one writer factory of batch writes and streaming epochs: every
  * task writes under the write's (or epoch's) temp dir and name stem
  * through [[CsvRollingWriter.forLayout]]. */
private[sources] class CsvWriterFactory(w: CsvWriteDesc)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    CsvRollingWriter.forLayout(w, None, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    CsvRollingWriter.forLayout(w, Some(epochId), partitionId, taskId)
}

private[sources] class GraftCsvDataWriter(tmpDir: String, schema: StructType,
                                          partitionId: Int, taskId: Long,
                                          conf: SerializableHadoopConf,
                                          finalName: String,
                                          trackZones: Boolean)
    extends DataWriter[InternalRow] {

  // zone maps ride tagged writes only (unique final names forever —
  // see CsvZones for why untagged name reuse would make them unsound)
  private val zoneTracker: CsvZoneTracker =
    if (trackZones) new CsvZoneTracker(schema) else null

  // taskId-unique temp file: concurrent attempts for the same partition
  // (retry, speculation) can never collide.
  private val tempFile =
    new HPath(tmpDir, f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}.csv")
  private val fs: FileSystem = tempFile.getFileSystem(conf.value)
  private val stream = fs.create(tempFile, true)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(stream, java.nio.charset.StandardCharsets.UTF_8))
  out.write(schema.fieldNames.map(GraftCsvDialect.quote).mkString(";"))
  out.write("\n")

  private def quote(s: String): String = GraftCsvDialect.quote(s)

  private def render(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) ""
    else dt match {
      case StringType => quote(row.getUTF8String(i).toString)
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case ShortType => row.getShort(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString
      case other => throw new UnsupportedOperationException(
        s"graft-csv sink: unsupported column type $other")
    }

  private[sources] var rows = 0L
  /** Bytes that reached the file so far (header included); exact, the
    * file's length, once committed. */
  private[sources] def bytes: Long = stream.getPos

  override def write(row: InternalRow): Unit = {
    if (zoneTracker != null) zoneTracker.update(row)
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(';')
      sb.append(render(row, i, schema(i).dataType))
      i += 1
    }
    sb.append('\n')
    rows += 1
    out.write(sb.toString())
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(PagedTaskMetric("csvRowsWritten", rows),
      PagedTaskMetric("csvBytesWritten", bytes),
      PagedTaskMetric("csvFilesWritten", 1L))

  override def commit(): WriterCommitMessage = {
    out.close()
    CsvFileCommit(tempFile.toString, finalName,
      if (zoneTracker != null && rows > 0) zoneTracker.result() else Map.empty,
      bytes, rows)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(tempFile, false)
  }

  override def close(): Unit = ()
}
