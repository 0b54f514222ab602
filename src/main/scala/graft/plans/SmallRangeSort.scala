package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, DynamicPruningExpression, NamedExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule (injected via
  * [[graft.GraftExtensions]]): plans a global sort's range exchange as
  * `RangePartitioning(order, 1)` when the n-way range split cannot pay
  * for itself. A range exchange over n > 1 partitions first runs a
  * `RangePartitioner` SAMPLING job, which recomputes the exchange's
  * whole upstream (scan, kernels, shuffle reads) only to pick n − 1
  * bounds; with one partition the partitioner takes no sample, so the
  * job is gone. The exchange stays a `rangepartitioning` exchange
  * (plans and plan greps still show a global sort), and its output is
  * the same sorted rows.
  *
  * It fires on an exchange Spark added for a sort's ordering
  * (`ENSURE_REQUIREMENTS`; a user's `repartitionByRange(n, …)` is never
  * touched) in exactly two cases:
  *
  *  - (a) SETTLED AND SMALL: every leaf under the exchange is a
  *    materialized query stage, every operator between them and the
  *    exchange is one that cannot add rows or widen them (filters,
  *    aggregates, sorts, unions, shuffle reads, codegen wrappers, and
  *    projections whose outputs are columns or fixed-width values), and
  *    the stages' summed runtime bytes are at most
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  *    default) with partition coalescing on. AQE would merge such an
  *    output into ONE partition anyway (its target size never falls
  *    below that floor), so the n-way split and its sample are pure
  *    overhead. Bound: the sort reads at most that floor, plus the
  *    fixed-width columns a projection adds per row.
  *  - (b) ONE SMALL INPUT TASK: the exchange's child has no exchange or
  *    query stage, its leaves are file or DSv2 scans without runtime
  *    (dynamic-pruning) filters, those scans plan exactly ONE input
  *    partition in total, and their input is at most
  *    `spark.sql.files.maxPartitionBytes` (a DSv2 scan must report its
  *    size). The sample would re-run that one task in full — every
  *    scan, decode and per-row kernel above it — only to buy an n-way
  *    parallel sort. The trade: the sort runs in one task over that
  *    one input's rows, times whatever the task's operators emit (a
  *    generator may multiply them), in exchange for one fewer full
  *    pass over the upstream. At scale a scan plans many partitions or
  *    exceeds the bound, and the rule stands aside.
  *
  * Inputs that plan several partitions, exceed a bound, carry runtime
  * filters, pass through any other operator or are not yet settled
  * keep Spark's sampled n-way exchange. The rule reads existing confs
  * only and adds none.
  */
object SmallRangeSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
        if r.numPartitions > 1 && (settledAndSmall(child) || oneInputTask(child)) =>
      e.copy(outputPartitioning = r.copy(numPartitions = 1))
  }

  /** Outputs that are input columns or fixed-width values: a projection
    * of them emits no more bytes per row than its input plus a fixed
    * amount. */
  private def narrow(out: Seq[NamedExpression]): Boolean = out.forall {
    case _: Attribute | Alias(_: Attribute, _) => true
    case e => UnsafeRow.isFixedLength(e.dataType)
  }

  /** Case (a): the summed bytes of the materialized stages below, if
    * every leaf is such a stage and every operator between is on the
    * allow-list of operators that cannot add rows or width. */
  private def settledAndSmall(child: SparkPlan): Boolean = {
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) return false
    def sum(ps: Seq[SparkPlan]): Option[BigInt] =
      ps.map(bytes).foldLeft(Option(BigInt(0)))((acc, b) => acc.zip(b).map { case (x, y) => x + y })
    def bytes(p: SparkPlan): Option[BigInt] = p match {
      case s: QueryStageExec =>
        if (s.isMaterialized) Some(s.getRuntimeStatistics.sizeInBytes) else None
      case a: BaseAggregateExec if narrow(a.resultExpressions) => sum(a.children)
      case pr: ProjectExec if narrow(pr.projectList) => sum(pr.children)
      case _: FilterExec | _: SortExec | _: UnionExec | _: AQEShuffleReadExec |
           _: WholeStageCodegenExec | _: InputAdapter => sum(p.children)
      case _ => None
    }
    bytes(child).exists(_ <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }

  /** Case (b): an exchange-free child whose scans plan one partition of
    * at most `maxPartitionBytes` of input. */
  private def oneInputTask(child: SparkPlan): Boolean = {
    /** (input partitions, input bytes) of a scan this case accepts */
    def input(leaf: SparkPlan): Option[(Int, Long)] = leaf match {
      case f: FileSourceScanExec
          if !f.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression])) =>
        val parts = f.inputRDD.partitions
        val files = parts.collect { case p: FilePartition => p.files.map(_.length).sum }
        if (files.length == parts.length) Some((parts.length, files.sum)) else None
      case b: BatchScanExec if b.runtimeFilters.isEmpty => b.scan match {
        case s: SupportsReportStatistics =>
          val size = s.estimateStatistics().sizeInBytes()
          if (size.isPresent) Some((b.inputRDD.getNumPartitions, size.getAsLong)) else None
        case _ => None
      }
      case _ => None
    }
    // the scans' input RDDs are planned only for an exchange-free child
    child.find { case _: Exchange | _: QueryStageExec => true; case _ => false }.isEmpty && {
      val inputs = child.collectLeaves().map(input)
      inputs.forall(_.isDefined) && inputs.flatten.map(_._1).sum == 1 &&
        inputs.flatten.map(_._2).sum <= conf.filesMaxPartitionBytes
    }
  }
}
