package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-file zone maps (min/max/null column statistics) on the graft CSV
  * engine — the data-skipping layer every lakehouse format (ORC/Parquet
  * footers, Iceberg/Delta manifests) carries, re-expressed for this
  * storage: each TAGGED write (catalog INSERT, copy-on-write rewrite)
  * records, per committed file and per comparable column, the rendered
  * min/max and a null flag into a `_zones/<queryId>.json` sidecar; both
  * scan faces consult the merged sidecars at planning time and never
  * open a file a pushed filter provably excludes.
  *
  * Why tagged writes only: the path API reuses final file names across
  * writes (`part-00000.csv` again after an overwrite), so a stale zone
  * entry could describe a DIFFERENT file of the same name — a silently
  * wrong skip. Catalog writes stamp the full queryId (a UUID) into
  * every published name, so a name can never be reused: a stale entry
  * (from a deleted or rewritten file) simply matches nothing. Files
  * with no zone entry are always read — absence degrades to the
  * pre-zone plan, never to a wrong one.
  *
  * The rendered min/max is EXACTLY the text the CSV cell would carry
  * (same render as the writer, same parse as the reader), so the zone
  * compare and the row compare can never disagree on a value's
  * identity. String zones cap at [[CsvZoneTracker.StringCap]] chars: a
  * longer observed value disables that column's zone for the file
  * (omitted from the map) rather than storing a truncated bound that
  * would be unsound on the max side.
  *
  * 100 TB shape: the skip decision is pure driver-side metadata — a
  * range predicate over a `write.orderBy` table (range-partitioned,
  * sorted files with DISJOINT zones) opens only the files that
  * intersect the range, turning a month-slice of a decade-deep fact
  * table from a full scan into a handful of file opens. Reference
  * semantics: the serving layer's date-sliced reads
  * (reference `…final.py:137` fetches a bounded window, never the
  * table).
  */
private[sources] case class CsvColZone(min: Option[String],
                                       max: Option[String],
                                       nulls: Boolean)

/** Tracks per-column min/max/nulls while a writer streams rows. Only
  * comparable scalar types participate; a string value longer than
  * [[CsvZoneTracker.StringCap]] disables its column (soundness over
  * coverage). Cost per row: one compare per tracked column against the
  * running bounds — noise next to the render+IO the writer already
  * pays. */
private[sources] object CsvZoneTracker {
  val StringCap = 96

  def eligible(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType |
         DoubleType | FloatType | BooleanType => true
    case _ => false
  }

  /** Rendered text of a tracked value — identical to the CSV cell text
    * (numbers via toString, strings raw: quoting is transport, not
    * value). */
  def render(v: Any): String = v.toString

  /** Typed value of a rendered zone bound, per the column's type —
    * inverse of [[render]] for every supported type. */
  def decode(raw: String, dt: DataType): Any = dt match {
    case StringType => raw
    case LongType => raw.toLong
    case IntegerType => raw.toInt
    case ShortType => raw.toShort
    case DoubleType => raw.toDouble
    case FloatType => raw.toFloat
    case BooleanType => raw.toBoolean
    case other => throw new IllegalStateException(s"zone column type $other")
  }
}

private[sources] class CsvZoneTracker(schema: StructType) {
  import CsvZoneTracker._

  private val n = schema.length
  private val track: Array[Boolean] = schema.fields.map(f => eligible(f.dataType))
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)
  private val nulls = new Array[Boolean](n)

  def update(row: InternalRow): Unit = {
    var i = 0
    while (i < n) {
      if (track(i)) {
        if (row.isNullAt(i)) nulls(i) = true
        else {
          val v: Any = schema(i).dataType match {
            case StringType =>
              val s = row.getUTF8String(i).toString
              if (s.length > StringCap) { track(i) = false; null } else s
            case LongType => row.getLong(i)
            case IntegerType => row.getInt(i)
            case ShortType => row.getShort(i)
            case DoubleType => row.getDouble(i)
            case FloatType => row.getFloat(i)
            case BooleanType => row.getBoolean(i)
            case other => throw new IllegalStateException(s"zone type $other")
          }
          if (v != null) {
            if (mins(i) == null || CsvFilterEval.compareValues(v, mins(i)) < 0)
              mins(i) = v
            if (maxs(i) == null || CsvFilterEval.compareValues(v, maxs(i)) > 0)
              maxs(i) = v
          }
        }
      }
      i += 1
    }
  }

  /** The file's zone map: tracked columns only; an all-null column
    * keeps its entry (min/max absent, nulls=true) — that absence is
    * EVIDENCE (no non-null rows), unlike a disabled column's omission
    * (no evidence at all). */
  def result(): Map[String, CsvColZone] =
    schema.fields.indices.iterator.filter(track(_)).map { i =>
      schema(i).name -> CsvColZone(
        Option(mins(i)).map(render), Option(maxs(i)).map(render), nulls(i))
    }.toMap
}

/** Sidecar IO: one `_zones/<tag>.json` per commit under the table root,
  * mapping each published file's ROOT-RELATIVE path to its column
  * zones. Merged wholesale at scan planning (one `_zones` listing + one
  * small read per commit — pure driver metadata, never shipped to
  * executors). Dead entries (files since deleted/rewritten) match no
  * listed file and cost only their bytes; TRUNCATE and unconditional
  * DELETE drop the whole directory. */
private[sources] object CsvZones {
  val Dir = "_zones"
  private val mapper = new ObjectMapper()

  /** One file's sidecar record: its column zones plus (format v2, r15)
    * the file's exact ROW COUNT — the statistic that lets a catalog
    * scan report `numRows` to the planner without opening a byte
    * (`None` for files written by pre-r15 sidecars). */
  case class CsvFileZones(cols: Map[String, CsvColZone], rows: Option[Long])

  def write(root: HPath, conf: Configuration, tag: String,
            files: Seq[(String, Map[String, CsvColZone], Long)]): Unit = {
    if (files.isEmpty) return
    val fs = root.getFileSystem(conf)
    val node = mapper.createObjectNode()
    // format marker: v2 nests each file's zones under "cols" and adds
    // "rows". The key can never collide with a file entry — publish
    // names always end in ".csv". v1 sidecars (flat col→zone maps)
    // read back unchanged via the loader's fallback.
    node.put("_v", 2)
    files.foreach { case (rel, zones, rows) =>
      val f = node.putObject(rel)
      f.put("rows", rows)
      val cs = f.putObject("cols")
      zones.foreach { case (col, z) =>
        val c = cs.putObject(col)
        z.min.foreach(c.put("min", _))
        z.max.foreach(c.put("max", _))
        c.put("nulls", z.nulls)
      }
    }
    val out = fs.create(new HPath(new HPath(root, Dir), s"$tag.json"), true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
  }

  /** All commits' zone maps, keyed by root-relative file path. */
  def load(root: HPath, conf: Configuration): Map[String, CsvFileZones] = {
    val fs = root.getFileSystem(conf)
    val dir = new HPath(root, Dir)
    if (!fs.exists(dir)) return Map.empty
    val out = Map.newBuilder[String, CsvFileZones]
    fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .foreach { s =>
        val in = fs.open(s.getPath)
        val node = try mapper.readTree(in) finally in.close()
        val v2 = node.get("_v") != null && node.get("_v").asInt() >= 2
        node.properties().forEach { e =>
          if (e.getKey != "_v") {
            val colsNode = if (v2) e.getValue.get("cols") else e.getValue
            val cols = Map.newBuilder[String, CsvColZone]
            if (colsNode != null) colsNode.properties().forEach { c =>
              cols += c.getKey -> CsvColZone(
                Option(c.getValue.get("min")).map(_.asText()),
                Option(c.getValue.get("max")).map(_.asText()),
                Option(c.getValue.get("nulls")).exists(_.asBoolean()))
            }
            val rows =
              if (v2) Option(e.getValue.get("rows")).map(_.asLong()) else None
            out += e.getKey -> CsvFileZones(cols.result(), rows)
          }
        }
      }
    out.result()
  }

  def drop(root: HPath, conf: Configuration): Unit = {
    val fs = root.getFileSystem(conf)
    fs.delete(new HPath(root, Dir), true)
  }

  /** Vacuum hook: deletes sidecars none of whose files are still
    * referenced (a sidecar with ANY live entry stays whole — dead
    * entries inside it are harmless and not worth a rewrite). */
  def gc(root: HPath, conf: Configuration, referenced: String => Boolean): Int = {
    val fs = root.getFileSystem(conf)
    val dir = new HPath(root, Dir)
    if (!fs.exists(dir)) return 0
    var dropped = 0
    fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .foreach { s =>
        val in = fs.open(s.getPath)
        val node = try mapper.readTree(in) finally in.close()
        var live = false
        node.fieldNames().forEachRemaining(rel => if (referenced(rel)) live = true)
        if (!live) { fs.delete(s.getPath, false); dropped += 1 }
      }
    dropped
  }
}

/** Conservative satisfiability of a pushed filter against one file's
  * zone map: `canBeTrue(f)` over-approximates "some row of this file
  * satisfies f" — a file is skipped only when canBeTrue is FALSE, i.e.
  * provably no row matches. The dual `canBeFalse` (needed under NOT,
  * where a row satisfies `NOT c` only when c is three-valued FALSE, not
  * UNKNOWN — same Kleene discipline as [[CsvFilterEval.eval3]])
  * over-approximates "some row makes f false". Any column without zone
  * evidence, or any filter shape outside the dialect, answers true for
  * both — unknown never skips. */
private[sources] object ZoneEval {

  private final class Zone(schema: StructType,
                           zones: Map[String, CsvColZone]) {
    private val byName = zones.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    /** (typed min, typed max, nulls) — None when the column has no zone
      * evidence in this file. */
    def of(col: String): Option[(Option[Any], Option[Any], Boolean)] = {
      val lc = col.toLowerCase(java.util.Locale.ROOT)
      byName.get(lc).flatMap { z =>
        schema.fields.find(_.name.equalsIgnoreCase(col)).map { f =>
          (z.min.map(CsvZoneTracker.decode(_, f.dataType)),
            z.max.map(CsvZoneTracker.decode(_, f.dataType)), z.nulls)
        }
      }
    }
  }

  private def cmp(a: Any, b: Any): Int = CsvFilterEval.compareValues(a, b)

  /** May some row satisfy `f`? (false ⇒ the file is skippable when f is
    * a conjunct of the pushed set). */
  def canBeTrue(f: Filter, schema: StructType,
                zones: Map[String, CsvColZone]): Boolean =
    canBeTrue(f, new Zone(schema, zones))

  private def canBeTrue(f: Filter, z: Zone): Boolean = f match {
    case _: AlwaysTrue => true
    case IsNull(a) => z.of(a).forall(_._3)
    case IsNotNull(a) => z.of(a).forall(_._1.isDefined)
    case EqualTo(a, v) => z.of(a).forall {
      case (Some(mn), Some(mx), _) => cmp(v, mn) >= 0 && cmp(v, mx) <= 0
      case _ => false // all-null column: equality never holds
    }
    case GreaterThan(a, v) => z.of(a).forall {
      case (_, Some(mx), _) => cmp(mx, v) > 0
      case _ => false
    }
    case GreaterThanOrEqual(a, v) => z.of(a).forall {
      case (_, Some(mx), _) => cmp(mx, v) >= 0
      case _ => false
    }
    case LessThan(a, v) => z.of(a).forall {
      case (Some(mn), _, _) => cmp(mn, v) < 0
      case _ => false
    }
    case LessThanOrEqual(a, v) => z.of(a).forall {
      case (Some(mn), _, _) => cmp(mn, v) <= 0
      case _ => false
    }
    case In(a, vs) => z.of(a).forall {
      case (Some(mn), Some(mx), _) =>
        vs.exists(v => v != null && cmp(v, mn) >= 0 && cmp(v, mx) <= 0)
      case _ => false // all-null: IN is TRUE for no row (null list members ⇒ UNKNOWN)
    }
    case Not(c) => canBeFalse(c, z)
    case And(l, r) => canBeTrue(l, z) && canBeTrue(r, z)
    case Or(l, r) => canBeTrue(l, z) || canBeTrue(r, z)
    case _ => true
  }

  /** May some row make `f` three-valued FALSE (not merely unknown)? */
  private def canBeFalse(f: Filter, z: Zone): Boolean = f match {
    case _: AlwaysTrue => false
    case IsNull(a) => z.of(a).forall(_._1.isDefined)
    case IsNotNull(a) => z.of(a).forall(_._3)
    case EqualTo(a, v) => z.of(a).forall {
      // some non-null x ≠ v exists unless the range is degenerate at v
      case (Some(mn), Some(mx), _) => !(cmp(mn, v) == 0 && cmp(mx, v) == 0)
      case _ => false // all-null: every row is UNKNOWN, none FALSE
    }
    case GreaterThan(a, v) => z.of(a).forall {
      case (Some(mn), _, _) => cmp(mn, v) <= 0
      case _ => false
    }
    case GreaterThanOrEqual(a, v) => z.of(a).forall {
      case (Some(mn), _, _) => cmp(mn, v) < 0
      case _ => false
    }
    case LessThan(a, v) => z.of(a).forall {
      case (_, Some(mx), _) => cmp(mx, v) >= 0
      case _ => false
    }
    case LessThanOrEqual(a, v) => z.of(a).forall {
      case (_, Some(mx), _) => cmp(mx, v) > 0
      case _ => false
    }
    case In(a, vs) =>
      // x IN (…) is FALSE only for non-null x with NO null list member
      !vs.contains(null) && z.of(a).forall {
        case (Some(mn), Some(mx), _) =>
          // degenerate range whose single value is a member ⇒ never false
          !(cmp(mn, mx) == 0 && vs.exists(v => v != null && cmp(v, mn) == 0))
        case _ => false
      }
    case Not(c) => canBeTrue(c, z)
    case And(l, r) => canBeFalse(l, z) || canBeFalse(r, z)
    case Or(l, r) => canBeFalse(l, z) && canBeFalse(r, z)
    case _ => true
  }

  /** The planning-time verdict: keep the file unless some pushed
    * conjunct is provably unsatisfiable on it. */
  def mayMatch(pushed: Array[Filter], schema: StructType,
               zones: Map[String, CsvColZone]): Boolean = {
    val z = new Zone(schema, zones)
    pushed.forall(canBeTrue(_, z))
  }
}
