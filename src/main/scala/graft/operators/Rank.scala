package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** The library's two ranking shapes, each written once.
  *
  *  - [[perGroup]], the window rank-filter: `row_number()` over
  *    (keys, order), kept while ≤ k. Every such filter plans through the
  *    streaming [[graft.plans.TopKPerGroupExec]] (the injected rewrite
  *    matches `rn <= k` and `rn = 1`, with or without a cast), so per-task
  *    state is one group key and a counter. Best match per probe, argmin
  *    codes, first event per key and per-document top terms all use it.
  *  - The bounded heap top-k ([[Bounded]]): a typed aggregator that keeps
  *    at most `4k` candidates in each partial buffer, so only O(k) rows
  *    per group per partition cross the shuffle instead of the full
  *    scored set a window sorts. [[topK]] ranks per group, [[global]]
  *    ranks a whole frame through a two-level tree merge, and
  *    [[LongAsc]]`.udaf(k)` is the KMV sketch's k-minimum-values
  *    aggregate. The three total orders are stated once, as [[Order]]s.
  */
object Rank {

  /** The first `k` rows of each `keys` group in `order` — which must be a
    * total order: break ties on an id column, never rely on row_number
    * over a partial order. Appends the 1-based long rank as `rn`; a
    * frame that already has an `rn` column is refused, never overwritten. */
  def perGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    require(!df.columns.contains("rn"), "rank column rn would overwrite a column of the frame")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= k)
  }

  /** Bounded top-k under `ord`. The buffer is trimmed lazily (only past
    * 4k), so the common append is O(1) and sorting amortizes to
    * O(n log k / k) per element; entries dropped by a trim can never
    * re-enter the true top k, so trim-to-k at any point is lossless. */
  final class Bounded[T](k: Int, ord: Ordering[T], enc: Encoder[Seq[T]])
      extends Aggregator[T, Seq[T], Seq[T]] {
    private def trim(s: Seq[T]): Seq[T] =
      if (s.length <= 4 * k) s else s.sorted(ord).take(k)
    override def zero: Seq[T] = Vector.empty
    override def reduce(b: Seq[T], in: T): Seq[T] = trim(b :+ in)
    override def merge(a: Seq[T], b: Seq[T]): Seq[T] = trim(a ++ b)
    override def finish(b: Seq[T]): Seq[T] = b.sorted(ord).take(k)
    override def bufferEncoder: Encoder[Seq[T]] = enc
    override def outputEncoder: Encoder[Seq[T]] = enc
  }

  /** A total order the heap ranks by, first = best. */
  final class Order[T: TypeTag] private[Rank] (ordering: Ordering[T]) {
    def bounded(k: Int): Bounded[T] = new Bounded(k, ordering, ExpressionEncoder[Seq[T]]())
    def udaf(k: Int): UserDefinedFunction =
      org.apache.spark.sql.functions.udaf(bounded(k), ExpressionEncoder[T]())
  }

  /** (score, id): score desc, id asc. `Double.compare` keeps the order
    * total when a NaN score appears (a zero-norm vector's 0/0): NaN
    * sorts as the LARGEST value, where DuckDB's ORDER BY … DESC puts it.
    * `+ 0.0` turns −0.0 into 0.0 so the two zeros tie, as SQL comparison
    * does, instead of −0.0 < 0.0. */
  val ScoreDescIdAsc: Order[(Double, Long)] = new Order(ScoreDescIdAscOrdering)
  private object ScoreDescIdAscOrdering extends Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1 + 0.0, a._1 + 0.0)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** (count, word): count desc, word asc — a vocabulary top-k. */
  val CountDescWordAsc: Order[(Long, String)] = new Order(CountDescWordAscOrdering)
  private object CountDescWordAscOrdering extends Ordering[(Long, String)] {
    def compare(a: (Long, String), b: (Long, String)): Int = {
      val c = java.lang.Long.compare(b._1, a._1)
      if (c != 0) c else a._2.compareTo(b._2)
    }
  }

  /** Long asc: the k minimum values of a KMV sketch. A set's k smallest
    * elements do not depend on arrival order or partitioning, so a KMV
    * sketch over engine-portable hashes is exactly reproducible by the
    * oracle. Feed it DISTINCT values (KMV sketches a set). */
  val LongAsc: Order[Long] = new Order(Ordering.Long)

  /** Per-group top `k` of scored (group, score, id) rows, score desc, id
    * asc: (group, rn, id, score) with rn 1-based — ROW_NUMBER's output
    * for the same total order. */
  def topK(scored: DataFrame, groupCol: String, scoreCol: String, idCol: String,
           k: Int): DataFrame =
    scored.groupBy(col(groupCol))
      .agg(ScoreDescIdAsc.udaf(k)(col(scoreCol), col(idCol)).as("top"))
      .select(col(groupCol), posexplode(col("top")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rn"),
        col("col._2").as(idCol), col("col._1").as(scoreCol))

  /** Partition groups of [[global]]'s first level. */
  private val Fanout = 32

  /** The whole frame's top `k` (score, id) rows under `order`:
    * (rn, id, score) with rn 1-based, as a TWO-LEVEL tree merge. Level 1
    * takes the exact top k within each of [[Fanout]] partition groups
    * (the global top k lies in the union of the group top ks, so this
    * loses nothing); level 2 ranks the ≤ Fanout·k survivors. No task
    * receives more than max(P/Fanout, Fanout)·k rows, where a single
    * final merge would receive P·k. Contract: ONE fully aggregated row
    * per id (a groupBy's output) — an id split across partition groups
    * would rank partial scores. */
  def global[S, I](df: DataFrame, scoreCol: String, idCol: String, k: Int,
                   order: Order[(S, I)]): DataFrame = {
    val top = order.udaf(k)
    val groupWinners = df
      .withColumn("__g", pmod(spark_partition_id(), lit(Fanout)))
      .groupBy("__g").agg(top(col(scoreCol), col(idCol)).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t._1").as(scoreCol), col("t._2").as(idCol))
    groupWinners.agg(top(col(scoreCol), col(idCol)).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rn"),
        col("col._2").as(idCol), col("col._1").as(scoreCol))
  }
}
