package graft.sources

import java.util.{Map => JMap}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `TableProvider` for the reference's paginated search
  * API shape (SURVEY.md §2.1 S1): a directory of token-chained JSON
  * pages (`{items: [{id: {videoId}, snippet: {publishedAt, title,
  * description}}], nextPageToken}`), exposed as a flat table with the
  * `publishedAfter` predicate (`…final.py:137`) pushed INTO the source
  * — the engine-surface form of what `JsonFixtureSource` does with
  * composed built-ins.
  *
  * Scale shape: `planInputPartitions` does METADATA-ONLY work (one
  * directory listing; no page payload is read on the driver) and emits
  * one partition per page, so page fetches parse in parallel across the
  * cluster; each reader validates its page's `nextPageToken` against
  * the planner's layout, so a broken chain fails loudly instead of
  * silently dropping pages. Filters accepted by [[PagedScanBuilder]]
  * are evaluated inside the reader — rows failing `publishedAfter`
  * never leave the source (the DSv2 equivalent of the API's server-side
  * query parameter), and Spark plans NO residual filter for them.
  *
  * Usage: `spark.read.format("graft.sources.PagedJsonSource")
  * .option("path", dir).load()` — or `spark.readStream` for the
  * micro-batch face ([[PagedMicroBatchStream]]): the page layout as an
  * append-only log, offset = pages consumed, exactly-once across
  * restart via Spark's offset checkpoint.
  */
class PagedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedJsonSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new PagedJsonTable(properties.get("path"))
}

object PagedJsonSource {
  /** One row per item, flattened exactly like the reference's S1
    * projection (timestamps stay in the API's ISO-8601 surface form —
    * lexicographic order IS chronological order, which is what makes
    * the pushed string comparison correct). */
  val Schema: StructType = StructType(Seq(
    StructField("video_id", StringType),
    StructField("published_at", StringType),
    StructField("title", StringType),
    StructField("description", StringType)))

  /** The `publishedAfter` bound shared by `q_s1_paged_source` and its
    * oracle. */
  val PublishedAfter = "1995-06-30T23:59:59Z"
}

private[sources] class PagedJsonTable(path: String) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"paged_json($path)"
  override def schema(): StructType = PagedJsonSource.Schema

  /** `_file` provenance, same contract as the CSV faces (r14 — parity
    * across every custom DSV2 source): which page file each row was
    * parsed from, constant per page partition, zero payload bytes. The
    * quarantine story at a million-page mirror: a bad-batch postmortem
    * groups by `_file` and re-fetches exactly the offending pages. The
    * data schema is fixed (no ACCEPT_ANY_SCHEMA), so the name can
    * never conflict. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftCsvTable.FileColumn
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "page file this row was parsed from"
    })
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(path,
      Option(options.get("maxPagesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
}

/** One pushed aggregate over the whole mirror (no grouping): each page
  * partition computes its PARTIAL (count of passing items / min / max
  * of one string column) and the engine's final aggregate merges them —
  * a `SELECT count(*), max(published_at)` over an API mirror
  * materializes one row per page, never an item field. */
private[sources] sealed trait PagedAgg extends Serializable
private[sources] case object PagedCount extends PagedAgg
private[sources] case class PagedMin(field: String) extends PagedAgg
private[sources] case class PagedMax(field: String) extends PagedAgg

/** One key of a pushed ORDER BY: which column, which direction, and
  * where the requested order puts nulls (`nullsFirst` is the REQUESTED
  * null position, independent of direction — exactly what the
  * connector `SortOrder` carries). All four source columns are
  * strings, so one string comparator covers every pushable key. */
private[sources] case class PagedSortKey(field: String, asc: Boolean,
                                         nullsFirst: Boolean)

/** Accepts `published_at > v` / `>= v` (string bounds — the API's
  * `publishedAfter`); everything else is left for Spark to evaluate.
  * Also accepts column pruning: the reader parses only the projected
  * fields out of each page item, so `SELECT video_id` never
  * materializes descriptions (at API scale, most of every page's
  * bytes). `maxPagesPerTrigger` caps pages admitted per micro-batch
  * (streaming only) — the backfill throttle.
  *
  * LIMIT and ORDER-BY-LIMIT push into the source too (the engine form
  * of the API's `maxResults` page cap, SURVEY §2.7 O3 /
  * `…final.py:137`), both PARTIALLY (`isPartiallyPushed = true`, the
  * interfaces' default):
  *
  *  - `pushLimit(n)`: each page partition stops parsing after emitting
  *    n passing rows, and `CollectLimitExec`'s incremental take (1
  *    partition first, then 4×) means a `LIMIT n` over a million-page
  *    mirror typically opens ONE page instead of all of them.
  *  - `pushTopN(orders, n)`: each page returns only ITS top-n under
  *    the requested ordering (bounded heap, O(page·log n) and O(n)
  *    memory). Every global top-n row lives in some page and is in
  *    that page's top-n, so the union is a guaranteed superset; the
  *    engine's finishing sort on top sees pages·n rows instead of the
  *    whole mirror. Page layout is keyed by id, NOT by timestamp, so
  *    full TopN pushdown would be a lie — partial is the honest form.
  *
  * `SupportsPushDownOffset` is deliberately NOT implemented: the
  * interface has no partial form — accepting means the scan skips
  * EXACTLY n rows globally, which parallel, unordered page partitions
  * cannot guarantee. Spark evaluates OFFSET above the (pushed) limit
  * instead, which is correct at every scale.
  */
private[sources] class PagedScanBuilder(path: String, maxPages: Option[Int],
                                        maxBytes: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = PagedJsonSource.Schema
  private var aggPushed: Option[Seq[PagedAgg]] = None
  private var limit: Option[Int] = None
  private var topN: Option[(Array[PagedSortKey], Int)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** Both pushdowns are PARTIAL by design (page layout is id-keyed, not
    * time-sorted): the scan bounds what each partition emits; the
    * engine's limit/sort on top finishes. (Explicit override required —
    * both interfaces ship this default.) */
  override def isPartiallyPushed(): Boolean = true

  /** Accept any ORDER BY whose every key is a bare source column (all
    * StringType, so string comparison IS the engine's comparison);
    * computed keys are declined and evaluated by Spark as usual. The
    * per-partition heap is O(n) driver-independent memory, so very
    * large n (no real TopN — a paginated UI never asks for 1M rows)
    * is declined rather than buffered. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (n > 100000) return false
    val keys = orders.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            PagedJsonSource.Schema.fieldNames.contains(nr.fieldNames.head) =>
          PagedSortKey(nr.fieldNames.head,
            o.direction() == SortDirection.ASCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST)
        case _ => null
      }
    }
    if (keys.contains(null)) false
    else { topN = Some((keys, n)); true }
  }

  /** PARTIAL aggregate pushdown (`supportCompletePushDown` stays
    * false): each page partition emits one pre-aggregated row — count
    * of passing items, min/max of a source column — and Spark's final
    * aggregate merges the partials, so `SELECT count(*),
    * max(published_at)` over an API mirror never materializes a single
    * item field. Grouped aggregates and other functions are declined
    * and evaluated by Spark as usual. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            PagedJsonSource.Schema.fieldNames.contains(nr.fieldNames.head) =>
          Some(nr.fieldNames.head)
        case _ => None
      }
    if (aggregation.groupByExpressions.nonEmpty ||
        aggregation.aggregateExpressions.isEmpty) return false
    val specs = aggregation.aggregateExpressions.map {
      case _: CountStar => PagedCount: PagedAgg
      case m: Min => fieldOf(m.column()).map(PagedMin(_): PagedAgg).orNull
      case m: Max => fieldOf(m.column()).map(PagedMax(_): PagedAgg).orNull
      case _ => null
    }
    if (specs.contains(null)) false
    else { aggPushed = Some(specs.toSeq); true }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case GreaterThan("published_at", _: String) => true
      case GreaterThanOrEqual("published_at", _: String) => true
      // Catalyst derives IsNotNull from any null-intolerant comparison;
      // claim it too or it survives as a residual FilterExec.
      case IsNotNull("published_at") => true
      case _ => false
    }
    pushed = supported
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    aggPushed match {
      case Some(specs) => new PagedAggScan(path, pushed, specs)
      case None =>
        new PagedScan(path, pushed, required, maxPages, limit, topN, maxBytes)
    }
}

/** `strict = true` (batch): the page's `nextPageToken` must equal the
  * planner's layout exactly. `strict = false` (streaming): an
  * append-only page log can't retro-update earlier snapshots, so a
  * page fetched when it was last legitimately carries no token even
  * after later pages land, and the listing can't know tokens past its
  * own horizon — only a non-null token CONTRADICTING a non-null
  * expectation fails. */
private[sources] case class PageInputPartition(file: String, page: Long,
                                               expectedToken: String,
                                               strict: Boolean = true)
    extends InputPartition

/** One `listStatus` of the page layout, sorted by page, and the
  * token-chained partitions planned from it — shared by the batch
  * scans and the micro-batch stream (whose offset is a position in
  * exactly this ordering). */
private[sources] object PagedLayout {
  /** Listings performed since JVM start — observability for the
    * "metadata round-trips per trigger" contract (PagedStreamSpec pins
    * ONE listing per micro-batch; at a million-page mirror a second
    * listing per trigger is a real cost). */
  val listings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (page number, part file, byte length), sorted by page — ONE
    * listing feeding both the batch planner and the size statistic
    * ([[PagedScan]] caches it in a lazy val, so join planning's
    * `estimateStatistics` and `planInputPartitions` never re-list the
    * layout; at a million-page mirror the repeated listing IS a cost). */
  def listPagesWithSize(path: String): Array[(Long, String, Long)] = {
    listings.incrementAndGet()
    val root = new HPath(path)
    val fs: FileSystem =
      root.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("page="))
      .map(s => (s.getPath.getName.stripPrefix("page=").toLong, s.getPath))
      .sortBy(_._1)
      .map { case (pg, dir) =>
        val f = fs.listStatus(dir)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-") && f.getLen > 0)
          .head
        (pg, f.getPath.toString, f.getLen)
      }
  }

  /** One partition per page of `layout(from until until)`, each paired
    * with the token it must carry: the next page in the layout, or none
    * for the last. Metadata only — executors read the payloads. */
  def partitions(layout: Array[(Long, String, Long)], from: Int, until: Int,
                 strict: Boolean): Array[InputPartition] =
    (from until until).map { i =>
      val expected = if (i + 1 < layout.length) s"tok_${layout(i + 1)._1}" else null
      PageInputPartition(layout(i)._2, layout(i)._1, expected, strict): InputPartition
    }.toArray
}

class PagedScan(path: String, val pushed: Array[Filter],
                schema: StructType = PagedJsonSource.Schema,
                maxPages: Option[Int] = None,
                val pushedLimit: Option[Int] = None,
                val pushedTopN: Option[(Array[PagedSortKey], Int)] = None,
                maxBytes: Option[Long] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType = schema

  /** Runtime (DPP-style) filtering: a join against the API mirror on
    * `video_id` hands the build side's key set to the source at
    * execution time — the engine form of the reference's S3/S4 keyed
    * point lookups (one HTTP GET per id). Readers drop non-matching
    * items before materializing a single field. */
  @volatile private[sources] var runtimeKeys: Option[Set[String]] = None
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("video_id"))
  override def filter(filters: Array[Filter]): Unit = {
    val keys = filters.collect {
      case In("video_id", vs) => vs.collect { case s: String => s }.toSet
      case EqualTo("video_id", v: String) => Set(v)
    }
    if (keys.nonEmpty) runtimeKeys = Some(keys.reduce(_ intersect _))
  }

  /** One listing per scan instance, shared by statistics AND partition
    * planning (batch scans are planned once; the STREAMING path must
    * not cache — it re-lists per micro-batch to see appended pages). */
  private lazy val layout: Array[(Long, String, Long)] =
    PagedLayout.listPagesWithSize(path)

  /** Real size statistics from the page layout (metadata-only): without
    * them a DSV2 relation defaults to `defaultSizeInBytes` (= never
    * broadcastable), forcing sort-merge joins against what is often a
    * tiny API mirror. Rows are left unestimated — byte size is what the
    * broadcast threshold consumes. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(layout.map(_._3).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftPagedJson path=$path PushedFilters: [${pushed.mkString(", ")}] " +
      s"ReadSchema: [${schema.fieldNames.mkString(", ")}]" +
      pushedLimit.map(n => s" PushedLimit: $n").getOrElse("") +
      pushedTopN.map { case (ks, n) =>
        val keys = ks.map(k => s"${k.field} ${if (k.asc) "ASC" else "DESC"}")
          .mkString(", ")
        s" PushedTopN: ORDER BY [$keys] LIMIT $n"
      }.getOrElse("")

  override def planInputPartitions(): Array[InputPartition] =
    PagedLayout.partitions(layout, 0, layout.length, strict = true)

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(pushed, schema, runtimeKeys, pushedLimit, pushedTopN)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new PagesReadMetric, new ItemsParsedMetric, new ItemsFilteredMetric)

  /** The STREAMING face of the same table (SURVEY §2.1 S1 at ingestion
    * cadence): the paginated API as an append-only page log. The offset
    * is simply how many pages of the sorted layout have been committed —
    * `latestOffset` is one metadata listing, `planInputPartitions(start,
    * end)` plans exactly the pages in (start, end] as one partition
    * each, and Spark's offset log makes the delivery exactly-once
    * across kill/restart (the checkpoint replays the page RANGE, and
    * page payloads are immutable snapshots). Pushed filters ride along
    * unchanged — the streaming reader is the same [[PagedReader]]. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PagedMicroBatchStream(path, pushed, schema, maxPages, maxBytes)
}

/** Spark-UI observability for the source (DSV2 custom metrics): at a
  * million-page mirror, "how many items did the pushed filters drop
  * before materialization" is the number that tells an operator whether
  * the pushdown is actually earning its keep — surfaced per scan node
  * in the UI, summed across tasks. */
private[sources] class PagesReadMetric extends CustomSumMetric {
  override def name(): String = "pagesRead"
  override def description(): String = "pages fetched and parsed"
}
private[sources] class ItemsParsedMetric extends CustomSumMetric {
  override def name(): String = "itemsParsed"
  override def description(): String = "items parsed across pages"
}
private[sources] class ItemsFilteredMetric extends CustomSumMetric {
  override def name(): String = "itemsFiltered"
  override def description(): String = "items dropped in-source (pushed + runtime filters)"
}
private[sources] case class PagedTaskMetric(metricName: String, v: Long)
    extends CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

/** Offset = number of pages (in sorted-layout order) already consumed. */
private[sources] case class PagedOffset(pages: Long) extends Offset {
  override def json(): String = pages.toString
}

private[sources] class PagedMicroBatchStream(path: String, pushed: Array[Filter],
                                              schema: StructType,
                                              maxPages: Option[Int],
                                              maxBytes: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = PagedOffset(0L)

  /** Trigger.AvailableNow contract: freeze the target offset at start,
    * so the run drains exactly the pages visible then (in bounded
    * batches under `maxPagesPerTrigger`/`maxBytesPerTrigger`) and
    * terminates even while the log keeps growing. */
  @volatile private var availableNowCap: Option[Long] = None

  /** The layout captured by the trigger's offset resolution (WITH file
    * sizes — the byte-budget throttle prices pages from the same
    * listing), reused by the SAME trigger's `planInputPartitions` —
    * ONE metadata listing per micro-batch, not two (at a million-page
    * mirror the second listing is a real round-trip per trigger).
    * Monotonic by the append-only page-log contract: a later listing
    * is always a superset, so planning a range against a layout at
    * least as new as the offsets is safe. */
  @volatile private var cachedLayout: Array[(Long, String, Long)] = Array.empty

  private def refreshLayout(): Array[(Long, String, Long)] = {
    val l = PagedLayout.listPagesWithSize(path)
    cachedLayout = l
    l
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(refreshLayout().length.toLong)

  private def visiblePages(): Long = availableNowCap.getOrElse(
    refreshLayout().length.toLong)

  /** Admission control: `maxPagesPerTrigger` bounds each micro-batch by
    * page count (a page ≈ one API fetch ≈ one file, hence ReadMaxFiles)
    * and `maxBytesPerTrigger` by PAYLOAD BYTES — the production knob
    * when page sizes vary (a fixed page count admits wildly different
    * work when early pages are description-heavy). Either way a
    * backfill over a deep page history proceeds in bounded,
    * individually checkpointed batches instead of one giant catch-up
    * batch. */
  override def getDefaultReadLimit: ReadLimit =
    maxPages.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = PagedOffset(visiblePages())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val all = visiblePages()
    val s0 = start.asInstanceOf[PagedOffset].pages
    val byCount = limit match {
      case mf: ReadMaxFiles => math.min(all, s0 + mf.maxFiles())
      case _ => all
    }
    val end = maxBytes match {
      case Some(budget) =>
        // admit pages (layout order) until the budget is consumed —
        // always at least one, or an oversized page would wedge the
        // stream; sizes come from the SAME cached listing
        val layout = cachedLayout
        var i = s0
        var acc = 0L
        while (i < byCount && (i == s0 || acc + layout(i.toInt)._3 <= budget)) {
          acc += layout(i.toInt)._3
          i += 1
        }
        i
      case None => byCount
    }
    PagedOffset(end)
  }
  override def deserializeOffset(json: String): Offset =
    PagedOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[PagedOffset].pages.toInt
    val e0 = end.asInstanceOf[PagedOffset].pages.toInt
    // reuse the trigger's listing; re-list only if the cache has never
    // seen offset `end` (checkpoint recovery replans a committed range
    // before any latestOffset call)
    val cached = cachedLayout
    val pages = if (cached.length >= e0) cached else refreshLayout()
    PagedLayout.partitions(pages, s0, math.min(e0, pages.length), strict = false)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(pushed, schema)
}

/** The aggregate-pushed scan: same metadata-only planning, but each
  * page partition returns ONE pre-aggregated row — the page's
  * passing-item count and/or min/max of a source column, in the pushed
  * aggregation's order — and Spark's final aggregate merges the
  * partials (sum of counts, min of mins, max of maxes). */
private[sources] class PagedAggScan(path: String, val pushed: Array[Filter],
                                    val specs: Seq[PagedAgg])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(specs.map {
    case PagedCount => StructField("count(*)", LongType, nullable = false)
    case PagedMin(f) => StructField(s"min($f)", StringType)
    case PagedMax(f) => StructField(s"max($f)", StringType)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftPagedJson path=$path PushedFilters: [${pushed.mkString(", ")}] " +
      s"PushedAggregates: [${readSchema().fieldNames.mkString(", ").toUpperCase}]"
  override def planInputPartitions(): Array[InputPartition] = {
    val layout = PagedLayout.listPagesWithSize(path)
    PagedLayout.partitions(layout, 0, layout.length, strict = true)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedAggReaderFactory(pushed, specs)
}

private[sources] class PagedAggReaderFactory(pushed: Array[Filter],
                                             specs: Seq[PagedAgg])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PagedAggReader(p.asInstanceOf[PageInputPartition], pushed, specs)
}

/** Folds a page's passing items through the row reader (same parse,
  * same chain validation, same filter semantics) into one partial row.
  * Min/max compare as UTF8String — Spark's binary collation, identical
  * to what the engine's final MIN/MAX applies to the partials. A page
  * with zero passing rows yields null partial min/max (ignored by the
  * final aggregate) but still counts 0. */
private[sources] class PagedAggReader(part: PageInputPartition,
                                      pushed: Array[Filter],
                                      specs: Seq[PagedAgg])
    extends PartitionReader[InternalRow] {
  // the inner reader projects exactly the columns the min/max specs
  // touch; count uses no column at all
  private val innerFields: Array[String] = specs.collect {
    case PagedMin(f) => f
    case PagedMax(f) => f
  }.distinct.toArray
  private val inner = new PagedReader(part, pushed,
    StructType(innerFields.map(StructField(_, StringType))))
  private var emitted = false
  private var row: InternalRow = _

  override def next(): Boolean =
    if (emitted) false
    else {
      var n = 0L
      val mins = new Array[UTF8String](innerFields.length)
      val maxs = new Array[UTF8String](innerFields.length)
      while (inner.next()) {
        n += 1
        val r = inner.get()
        var i = 0
        while (i < innerFields.length) {
          val v = r.getUTF8String(i)
          if (v != null) {
            if (mins(i) == null || v.compareTo(mins(i)) < 0) mins(i) = v.clone()
            if (maxs(i) == null || v.compareTo(maxs(i)) > 0) maxs(i) = v.clone()
          }
          i += 1
        }
      }
      val idx = innerFields.zipWithIndex.toMap
      row = InternalRow.fromSeq(specs.map {
        case PagedCount => n
        case PagedMin(f) => mins(idx(f))
        case PagedMax(f) => maxs(idx(f))
      })
      emitted = true
      true
    }

  override def get(): InternalRow = row
  override def close(): Unit = inner.close()
}

private[sources] class PagedReaderFactory(pushed: Array[Filter],
                                           schema: StructType,
                                           runtimeKeys: Option[Set[String]] = None,
                                           limit: Option[Int] = None,
                                           topN: Option[(Array[PagedSortKey], Int)] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PagedReader(p.asInstanceOf[PageInputPartition], pushed, schema,
      runtimeKeys, limit, topN)
}

/** Parses ONE page file (a single JSON object line), validates its
  * `nextPageToken` against the planner's layout, and streams the items
  * that pass the pushed filters — emitting ONLY the pruned projection
  * (`schema`): unprojected item fields are never converted to
  * UTF8String, so a 2-column read of a description-heavy page pays
  * parse cost but zero materialization for the dropped columns. */
private[sources] class PagedReader(part: PageInputPartition, pushed: Array[Filter],
                                   schema: StructType,
                                   runtimeKeys: Option[Set[String]] = None,
                                   limit: Option[Int] = None,
                                   topN: Option[(Array[PagedSortKey], Int)] = None)
    extends PartitionReader[InternalRow] {

  private val items: Iterator[JsonNode] = {
    val p = new HPath(part.file)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val root = try new ObjectMapper().readTree(in) finally in.close()
    val token = Option(root.get("nextPageToken")).map(_.asText()).orNull
    val broken =
      if (part.strict) token != part.expectedToken
      else token != null && part.expectedToken != null && token != part.expectedToken
    if (broken)
      throw new IllegalStateException(
        s"paged_json: page ${part.page} carries nextPageToken=$token, " +
          s"expected ${part.expectedToken} — broken page chain")
    val arr = root.get("items")
    if (arr == null) Iterator.empty
    else Iterator.tabulate(arr.size())(arr.get)
  }

  private var row: InternalRow = _

  private def text(n: JsonNode, field: String): String = {
    val v = if (n == null) null else n.get(field)
    if (v == null || v.isNull) null else v.asText()
  }

  /** A source column's value in an item: the one column → JSON path
    * table (`id.videoId`, `snippet.*`). */
  private def fieldOf(column: String): JsonNode => String = {
    val (obj, key) = column match {
      case "video_id" => ("id", "videoId")
      case "published_at" => ("snippet", "publishedAt")
      case "title" => ("snippet", "title")
      case "description" => ("snippet", "description")
      case other => throw new IllegalArgumentException(
        s"paged_json: unknown projected column $other")
    }
    it => text(it.get(obj), key)
  }

  private val publishedAt = fieldOf("published_at")
  private val videoId = fieldOf("video_id")

  private def passes(published: String): Boolean = pushed.forall {
    case GreaterThan("published_at", v: String) => published != null && published > v
    case GreaterThanOrEqual("published_at", v: String) => published != null && published >= v
    case IsNotNull("published_at") => published != null
    case _ => true
  }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** One extractor per PROJECTED field, bound once per reader. `_file`
    * (the metadata column) is a per-page constant — bound ONCE, never
    * re-derived per item. */
  private val extractors: Array[JsonNode => UTF8String] =
    schema.fieldNames.map {
      case f if f.equalsIgnoreCase(GraftCsvTable.FileColumn) =>
        val const = utf8(part.file); (_: JsonNode) => const
      case f =>
        val field = fieldOf(f); (it: JsonNode) => utf8(field(it))
    }

  private var parsed = 0L
  private var filtered = 0L
  private var emitted = 0L

  /** True when `it` passes every pushed + runtime filter (counting the
    * metrics as a side effect) — the ONE filter gate shared by the
    * streaming, limited, and top-n paths. */
  private def admit(it: JsonNode): Boolean = {
    parsed += 1
    // only extracted when a pushed filter needs it; an unfiltered
    // pruned read never touches the snippet timestamp
    val published = if (pushed.isEmpty) null else publishedAt(it)
    val ok = passes(published) && runtimeKeys.forall(ks => ks.contains(videoId(it)))
    if (!ok) filtered += 1
    ok
  }

  /** One extractor per pushed SORT key — independent of the projection
    * (the finishing sort's columns are in the projection anyway, but
    * the reader must not depend on pruning order). */
  private lazy val sortExtractors: Array[JsonNode => String] =
    topN.get._1.map(k => fieldOf(k.field))

  /** "a sorts before b under the requested ordering" as a sign:
    * `nullsFirst` is the REQUESTED null position (already
    * direction-adjusted by Catalyst), so nulls do not negate with
    * `asc`. */
  private def keyCmp(a: Array[String], b: Array[String]): Int = {
    val keys = topN.get._1
    var i = 0
    while (i < keys.length) {
      val x = a(i); val y = b(i)
      val c =
        if (x == null && y == null) 0
        else if (x == null) { if (keys(i).nullsFirst) -1 else 1 }
        else if (y == null) { if (keys(i).nullsFirst) 1 else -1 }
        else { val r = x.compareTo(y); if (keys(i).asc) r else -r }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** The page's top-n passing rows (bounded heap, worst-at-head): O(n)
    * memory no matter how deep the page, emitted in arbitrary order —
    * the engine's finishing sort above the scan (partial pushdown)
    * owns the final order. */
  private lazy val topRows: Iterator[InternalRow] = {
    val n = topN.get._2
    val heap = new java.util.PriorityQueue[(Array[String], InternalRow)](
      math.max(1, math.min(n, 1024)),
      (p: (Array[String], InternalRow), q: (Array[String], InternalRow)) =>
        -keyCmp(p._1, q._1))
    while (items.hasNext) {
      val it = items.next()
      if (admit(it)) {
        val key = sortExtractors.map(_(it))
        if (heap.size < n) {
          heap.offer((key, InternalRow.fromSeq(extractors.map(_(it)).toIndexedSeq)))
        } else if (keyCmp(key, heap.peek()._1) < 0) {
          heap.poll()
          heap.offer((key, InternalRow.fromSeq(extractors.map(_(it)).toIndexedSeq)))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    heap.iterator().asScala.map(_._2)
  }

  override def next(): Boolean = {
    if (topN.isDefined) {
      if (topRows.hasNext) { row = topRows.next(); emitted += 1; true }
      else false
    } else if (limit.exists(emitted >= _)) {
      // partial LIMIT pushdown: this partition is done — remaining page
      // items are never filtered or materialized, and with
      // CollectLimitExec's incremental take, later PAGES are never
      // even opened
      false
    } else {
      while (items.hasNext) {
        val it = items.next()
        if (admit(it)) {
          row = InternalRow.fromSeq(extractors.map(_(it)).toIndexedSeq)
          emitted += 1
          return true
        }
      }
      false
    }
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    PagedTaskMetric("pagesRead", 1L),
    PagedTaskMetric("itemsParsed", parsed),
    PagedTaskMetric("itemsFiltered", filtered))

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
