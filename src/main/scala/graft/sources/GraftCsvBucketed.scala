package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DERIVED (hidden) partitioning for catalog tables (r15): the
  * partition key is a function of a data column, not the column
  * itself — the Iceberg hidden-partitioning shape. Two transforms:
  *
  *  - `PARTITIONED BY (bucket(n, col))` ([[CsvBucketSpec]]): hash
  *    buckets for HIGH-CARDINALITY keys. At 100 TB an identity-keyed
  *    customer table is one directory per value — a namenode DoS;
  *    `n` stable hash buckets cap the layout forever. Equality and
  *    IN prune to single buckets; two same-bucketed tables
  *    storage-partition-join with zero exchange. Ranges cannot prune
  *    (hash layouts have no order).
  *  - `PARTITIONED BY (truncate(w, col))` ([[CsvTruncSpec]]): prefix
  *    (strings) / width-bin (integrals) truncation for TIME-SERIES and
  *    range-sliced layouts — `truncate(7, d)` of `yyyy-MM-dd` strings
  *    IS the monthly directory layout, without materializing a month
  *    column. Truncation is ORDER-PRESERVING, so equality, IN, AND
  *    RANGE predicates on the source column all prune directories —
  *    the pruning shape bucket() cannot give.
  *
  * Shared mechanics: the derived value is METADATA, not data — the
  * source column stays in the payload (zone maps still skip within a
  * directory); writes demand a clustered distribution on the transform
  * (resolved through the catalog's own V2 `bucket`/`truncate`
  * function, so the shuffle hashes by the very function the layout
  * stores — one implementation serving writer routing, scan pruning,
  * and SQL); the scan reports `KeyGroupedPartitioning(transform)` for
  * storage-partitioned joins.
  *
  * The functions are LAYOUT CONTRACTS: changing one orphans every
  * committed directory. Bucket: splitmix64 for integral/boolean keys,
  * FNV-1a 64 over UTF-8 bytes for strings, id = floorMod(hash, n).
  * Truncate: `substring(0, w)` for strings (char-prefix; ASCII-safe,
  * order-preserving under the layout's own directory encoding),
  * `v - floorMod(v, w)` for integrals (the bin's lower bound). NULL
  * derived keys are refused at write time, same rule as identity
  * partition keys.
  */
private[sources] sealed trait CsvDerivedSpec {
  def col: StructField
  /** The synthetic (hidden) key field backing partition grouping —
    * never part of the table schema. */
  def syntheticField: StructField
  def dirPrefix: String
  def dirName(raw: String): String =
    s"$dirPrefix${PartitionedCsvLayout.encode(raw)}"
  /** Directory RAW for one source value (writer routing, filter
    * mapping). Values arrive as UTF8String/primitives (rows) or
    * JVM String/boxed (filter literals) — both faces must agree. */
  def rawOf(v: Any): String
  /** The reported/required V2 transform. */
  def transform: Transform
  /** Planning-time directory pruning: keep only dirs whose DECODED raw
    * could satisfy the pushed filters. Conservative — unknown keeps. */
  def staticKeep(filters: Array[Filter]): String => Boolean
  /** Runtime (DPP-shaped) pruning: narrowing filters on the source
    * column → allowed dir values in keyValue space. None = no
    * restriction. */
  def runtimeDirs(filters: Array[Filter]): Option[Set[Any]]

  /** Typed dir value of a raw (the keyValue space staticKeep compares
    * in). */
  protected def typedDir(raw: String): Any =
    PartitionedCsvLayout.keyValue(raw, syntheticField.dataType)
}

private[sources] object CsvBuckets {
  /** splitmix64 finalizer — avalanches integral keys. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over bytes — strings hash by UTF-8 content, so the
    * JVM-String and UTF8String faces agree by construction. */
  private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def hash(v: Any): Long = v match {
    case s: UTF8String => fnv64(s.getBytes)
    case s: String => fnv64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case l: Long => mix64(l)
    case i: Int => mix64(i.toLong)
    case s: Short => mix64(s.toLong)
    case b: Boolean => mix64(if (b) 1L else 0L)
    case null => throw new IllegalArgumentException(
      "graft-csv: NULL value in a bucket key column — bucket keys must " +
        "be non-null (same rule as identity partition keys)")
    case other => throw new UnsupportedOperationException(
      s"graft-csv: unsupported bucket key value $other (${other.getClass})")
  }

  def id(n: Int, v: Any): Int = java.lang.Math.floorMod(hash(v), n.toLong).toInt

  /** Narrowing filters on the bucket column → allowed ids. Only
    * equality / IN restrict (hash layouts cannot serve ranges);
    * conjunction intersects. `None` = no restriction. */
  def pruneIds(filters: Array[Filter], spec: CsvBucketSpec): Option[Set[Int]] = {
    val sets = filters.collect {
      case EqualTo(a, v) if a.equalsIgnoreCase(spec.col.name) && v != null =>
        Set(spec.idOf(v))
      case EqualNullSafe(a, v) if a.equalsIgnoreCase(spec.col.name) && v != null =>
        Set(spec.idOf(v))
      case In(a, vs) if a.equalsIgnoreCase(spec.col.name) =>
        vs.iterator.filter(_ != null).map(spec.idOf).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}

private[sources] case class CsvBucketSpec(col: StructField, n: Int)
    extends CsvDerivedSpec {
  require(n > 0, s"bucket count must be positive; got $n")
  override def syntheticField: StructField =
    StructField(s"${col.name}_bucket", IntegerType, nullable = false)
  override def dirPrefix: String = s"${col.name}_bucket="
  def idOf(v: Any): Int = CsvBuckets.id(n, v)
  override def rawOf(v: Any): String = idOf(v).toString
  override def transform: Transform = Expressions.bucket(n, col.name)
  override def staticKeep(filters: Array[Filter]): String => Boolean =
    CsvBuckets.pruneIds(filters, this) match {
      case Some(ids) => raw => ids.contains(raw.toInt)
      case None => _ => true
    }
  override def runtimeDirs(filters: Array[Filter]): Option[Set[Any]] = {
    val sets = filters.collect {
      case In(a, vs) if a.equalsIgnoreCase(col.name) =>
        vs.iterator.filter(_ != null).map(v => idOf(v): Any).toSet
      case EqualTo(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        Set(idOf(v): Any)
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}

/** `truncate(w, col)`: order-preserving truncation — `substring(0, w)`
  * on strings, `v - floorMod(v, w)` (bin lower bound) on integrals.
  * Because `a <= b` implies `trunc(a) <= trunc(b)`, RANGE predicates
  * on the source column translate to range predicates on the
  * directory values: `d >= '1996-03-01'` keeps only directories
  * `>= '1996-03'`. */
private[sources] case class CsvTruncSpec(col: StructField, len: Int)
    extends CsvDerivedSpec {
  require(len > 0, s"truncate width must be positive; got $len")
  private val integral = col.dataType match {
    case LongType | IntegerType | ShortType => true
    case StringType => false
    case other => throw new UnsupportedOperationException(
      s"graft-csv: truncate() keys must be string or integral; got $other")
  }
  override def syntheticField: StructField = StructField(
    s"${col.name}_trunc",
    if (integral) LongType else StringType, nullable = false)
  override def dirPrefix: String = s"${col.name}_trunc="

  /** Typed truncation in the synthetic field's value space. */
  private def truncVal(v: Any): Any = v match {
    case null => throw new IllegalArgumentException(
      s"graft-csv: NULL value in truncate key column '${col.name}' — " +
        "derived partition keys must be non-null")
    // code-point truncation on BOTH string faces, so the row face and
    // the V2 function the shuffle evaluates (TruncateBound, UTF8String
    // semantics) can never disagree on surrogate-pair content
    case s: UTF8String =>
      (if (s.numChars() <= len) s else s.substring(0, len)).toString
    case s: String => truncVal(UTF8String.fromString(s))
    case l: Long => l - java.lang.Math.floorMod(l, len.toLong)
    case i: Int => truncVal(i.toLong)
    case s: Short => truncVal(s.toLong)
    case other => throw new UnsupportedOperationException(
      s"graft-csv: unsupported truncate key value $other (${other.getClass})")
  }
  override def rawOf(v: Any): String = truncVal(v).toString
  /** The reported transform is the WIDTH-SUFFIXED single-argument form
    * (`truncate7(m)`, resolved by the catalog's FunctionCatalog): the
    * SPJ satisfiability check requires each partition expression to
    * have exactly ONE leaf (bucket gets this for free — Spark factors
    * its literal into numBucketsOpt; a generic transform keeps literal
    * children and can never satisfy). Encoding the width in the
    * function name gives truncate the same single-leaf shape, and the
    * width rides the canonical name so only same-width layouts are
    * join-compatible. */
  override def transform: Transform = Expressions.apply(s"truncate$len",
    Expressions.column(col.name))

  override def staticKeep(filters: Array[Filter]): String => Boolean = {
    val cmp = (a: Any, b: Any) => CsvFilterEval.compareValues(a, b)
    // each narrowing filter becomes a predicate over the TYPED dir
    // value; order preservation makes the range shapes sound:
    // col >= v  ⇒  trunc(col) >= trunc(v), etc. Non-narrowing shapes
    // (inequality, OR, payload refs) keep every directory.
    val preds: Seq[Any => Boolean] = filters.toSeq.collect {
      case EqualTo(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        val t = truncVal(v); (d: Any) => cmp(d, t) == 0
      case EqualNullSafe(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        val t = truncVal(v); (d: Any) => cmp(d, t) == 0
      case In(a, vs) if a.equalsIgnoreCase(col.name) =>
        val ts = vs.iterator.filter(_ != null).map(truncVal).toSet
        (d: Any) => ts.exists(cmp(d, _) == 0)
      case GreaterThan(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        val t = truncVal(v); (d: Any) => cmp(d, t) >= 0
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        val t = truncVal(v); (d: Any) => cmp(d, t) >= 0
      case LessThan(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        val t = truncVal(v); (d: Any) => cmp(d, t) <= 0
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        val t = truncVal(v); (d: Any) => cmp(d, t) <= 0
    }
    if (preds.isEmpty) _ => true
    else raw => { val d = typedDir(raw); preds.forall(_(d)) }
  }

  override def runtimeDirs(filters: Array[Filter]): Option[Set[Any]] = {
    val sets = filters.collect {
      case In(a, vs) if a.equalsIgnoreCase(col.name) =>
        vs.iterator.filter(_ != null).map(v => truncVal(v): Any).toSet
      case EqualTo(a, v) if a.equalsIgnoreCase(col.name) && v != null =>
        Set(truncVal(v): Any)
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}

/** Scan builder for derived-partitioned catalog tables. Every pushed
  * filter is a PAYLOAD filter (the source column is ordinary data in
  * the file); narrowing filters on it ADDITIONALLY prune directories
  * at build time via [[CsvDerivedSpec.staticKeep]]. Produces the
  * shared [[KeyedCsvScan]] in derived mode: the synthetic field is the
  * partition key, the reported partitioning is the spec's transform. */
private[sources] class DerivedCsvScanBuilder(path: String, full: StructType,
                                             spec: CsvDerivedSpec,
                                             leaves: Array[(Seq[String], String)],
                                             conf: SerializableHadoopConf,
                                             vectorized: Boolean,
                                             nullFill: Boolean,
                                             zoneSkip: Boolean = true,
                                             manifestFiles: Option[Map[String, Array[(String, Long)]]] = None,
                                             maxVersionsPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {

  private var required: StructType = full
  private var payloadFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pay, rest) = filters.partition(CsvFilterEval.supportedBy(full, _))
    payloadFilters = pay
    rest
  }
  override def pushedFilters(): Array[Filter] = payloadFilters

  override def build(): Scan = {
    val keep = spec.staticKeep(payloadFilters)
    new KeyedCsvScan(path, required, payload = full,
      keyFields = Seq(spec.syntheticField),
      leaves = leaves.filter { case (raws, _) => keep(raws.head) },
      partFilters = Array.empty, payloadFilters, conf, vectorized, limit,
      nullFill, zoneSkip, manifestFiles, maxVersionsPerTrigger,
      derivedSpec = Some(spec))
  }
}
