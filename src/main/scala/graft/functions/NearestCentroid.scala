package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{call_function, col, lit, typedLit}
import org.apache.spark.sql.types._

/** A small centroid table held by value: cids ascending, each centroid
  * a dense vector (null when its source row's vector was null). */
final class CentroidTable(val cids: Array[Long], val cents: Array[Array[Double]])
    extends Serializable {
  def isEmpty: Boolean = cids.isEmpty
  override def toString: String = s"${cids.length} centroids"
  override def equals(o: Any): Boolean = o match {
    case t: CentroidTable => java.util.Arrays.equals(cids, t.cids) &&
      java.util.Arrays.deepEquals(cents.asInstanceOf[Array[AnyRef]],
        t.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(cids)
}

/** Nearest-centroid assignment as a native Catalyst Expression: each row
  * is searched against a small centroid table held in the expression,
  * in place of an n·|C| cross join that is shuffled and rank-filtered.
  * The result is an array of struct(cid, d) winners, both modes exact
  * replays of the ranking they replace:
  *
  *  - `pqM == 0`, `nearest_centroid(v, cids, cents)`: one winner, the
  *    argmax of the raw dot product v·c (`dotp`'s sequential fold), ties
  *    to the lower cid, with d the dot rounded to 6 AFTER the argmax.
  *  - `pqM > 0`, `pq_codes(v, cids, cents, m, sub)`: m winners, one per
  *    subspace s (elements [s·sub, s·sub + sub) of v and of each
  *    centroid, as `slice` takes them): the argmin of
  *    d = `round((‖x‖² + ‖c‖²) − 2·x·c, 6)`, ties to the lower cid.
  *    `round` is monotone, so only the candidates within 2e-6 of the
  *    raw minimum are rounded.
  *
  * An empty table gives an empty array — no winner, as the cross join
  * it replaces gave no rows.
  *
  * Comparisons follow Spark's sort order: NaN above every number, a
  * null score last under the argmax (DESC) and first under the argmin
  * (ASC) — a null vector, or a null centroid, gives a null score.
  */
case class NearestCentroid(child: Expression, table: CentroidTable, pqM: Int, pqSub: Int)
    extends UnaryExpression {
  override def nullable: Boolean = false
  override def prettyName: String = if (pqM == 0) "nearest_centroid" else "pq_codes"
  override def toString: String =
    s"$prettyName($child, $table${if (pqM == 0) "" else s", m=$pqM, sub=$pqSub"})"

  override def dataType: DataType = ArrayType(NearestCentroid.Winner, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (pqM == 0) NearestCentroid.ivf(v, table)
    else NearestCentroid.pq(v, table, pqM, pqSub)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val t = ctx.addReferenceObj("centroids", table)
    val x = ctx.freshName("vec")
    val call =
      if (pqM == 0) s"graft.functions.NearestCentroid.ivf($x, $t)"
      else s"graft.functions.NearestCentroid.pq($x, $t, $pqM, $pqSub)"
    ev.copy(isNull = FalseLiteral, code =
      code"""${v.code}
            |ArrayData $x = ${v.isNull} ? null : ${v.value};
            |${CodeGenerator.javaType(dataType)} ${ev.value} = $call;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  val Winner: StructType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("d", DoubleType, nullable = true)))

  /** The (cid, cv) rows of `cent`, collected once, ordered by cid. */
  def table(cent: DataFrame): CentroidTable = {
    val rows = cent.select(col("cid"), col("cv")).collect().sortBy(_.getLong(0))
    new CentroidTable(rows.map(_.getLong(0)),
      rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray))
  }

  /** array<struct(cid, d)>: `v`'s nearest centroid of `t` by dot product. */
  def argmaxDot(spark: SparkSession, v: Column, t: CentroidTable): Column = {
    register(spark)
    call_function("nearest_centroid", v, typedLit(t.cids), typedLit(t.cents))
  }

  /** array<struct(cid, d)>: `v`'s PQ code and squared error in each of
    * `m` subspaces of `sub` elements, against `t`'s codebooks. */
  def pqCodes(spark: SparkSession, v: Column, t: CentroidTable, m: Int, sub: Int): Column = {
    register(spark)
    call_function("pq_codes", v, typedLit(t.cids), typedLit(t.cents), lit(m), lit(sub))
  }

  /** Spark's `round(x, 6)` on a double (HALF_UP on its decimal form). */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** The sequential fold of `dotp` over elements [from, from + n). */
  private def dot(x: Array[Double], y: Array[Double], from: Int, n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += x(from + i) * y(from + i); i += 1 }
    s
  }

  private def sliceLen(total: Int, from: Int, sub: Int): Int =
    math.max(0, math.min(sub, total - from))

  def ivf(v: ArrayData, t: CentroidTable): ArrayData = {
    if (t.isEmpty) return new GenericArrayData(Array.empty[Any])
    val x = if (v == null) null else v.toDoubleArray()
    var best = -1
    var bestD = 0.0
    var bestNull = true
    var j = 0
    while (j < t.cids.length) {
      val c = t.cents(j)
      if (x != null && c != null) {
        val d = dot(x, c, 0, math.min(x.length, c.length))
        if (bestNull || SQLOrderingUtil.compareDoubles(d, bestD) > 0) {
          best = j; bestD = d; bestNull = false
        }
      } else if (best < 0) best = j
      j += 1
    }
    val row = newRow(2)
    row.setLong(0, t.cids(best))
    if (bestNull) row.setNullAt(1) else row.setDouble(1, round6(bestD))
    new GenericArrayData(Array[Any](row))
  }

  def pq(v: ArrayData, t: CentroidTable, m: Int, sub: Int): ArrayData = {
    val k = t.cids.length
    val raw = new Array[Double](k)
    val x = if (v == null) null else v.toDoubleArray()
    val n = if (x == null) 0 else x.length
    val out = new Array[Any](if (k == 0) 0 else m)
    var s = 0
    while (s < out.length) {
      val from = s * sub
      val xLen = sliceLen(n, from, sub)
      val xx = dot(x, x, from, xLen)
      // A null distance sorts first under ASC: the lowest-cid null wins.
      var firstNull = if (x == null) 0 else -1
      var minIdx = -1
      var j = 0
      while (j < k && firstNull < 0) {
        val c = t.cents(j)
        if (c == null) firstNull = j
        else {
          val cLen = sliceLen(c.length, from, sub)
          raw(j) = (xx + dot(c, c, from, cLen)) - 2 * dot(x, c, from, math.min(xLen, cLen))
          if (minIdx < 0 || SQLOrderingUtil.compareDoubles(raw(j), raw(minIdx)) < 0) minIdx = j
        }
        j += 1
      }
      val row = newRow(2)
      if (firstNull >= 0) {
        row.setLong(0, t.cids(firstNull)); row.setNullAt(1)
      } else {
        // round is monotone, so the winner is the lowest cid whose
        // distance rounds to round(min); only near-minimal ones can.
        val lo = raw(minIdx)
        val d = round6(lo)
        var win = 0
        while (win < minIdx && !(raw(win) - lo <= 2e-6 && round6(raw(win)) == d)) win += 1
        row.setLong(0, t.cids(win)); row.setDouble(1, d)
      }
      out(s) = row
      s += 1
    }
    new GenericArrayData(out)
  }

  private def newRow(fields: Int): UnsafeRow = {
    val row = new UnsafeRow(fields)
    val size = UnsafeRow.calculateBitSetWidthInBytes(fields) + 8 * fields
    row.pointTo(new Array[Byte](size), size)
    row
  }

  private def register(spark: SparkSession): Unit = {
    Registry.registerOnce(spark, "nearest_centroid")(es =>
      NearestCentroid(es.head, literalTable(es(1), es(2)), 0, 0))
    Registry.registerOnce(spark, "pq_codes")(es =>
      NearestCentroid(es.head, literalTable(es(1), es(2)),
        literalInt(es(3)), literalInt(es(4))))
  }

  private def literalInt(e: Expression): Int = {
    require(e.foldable, s"nearest_centroid: ${e.sql} must be a literal")
    e.eval().asInstanceOf[Int]
  }

  /** The table off literal `array<bigint>` cids and
    * `array<array<double>>` centroids, read once at analysis. */
  private def literalTable(cids: Expression, cents: Expression): CentroidTable = {
    require(cids.foldable && cents.foldable, "nearest_centroid: the table must be literal")
    val ids = cids.eval().asInstanceOf[ArrayData].toLongArray()
    val cs = cents.eval().asInstanceOf[ArrayData]
    new CentroidTable(ids, Array.tabulate(cs.numElements())(i =>
      if (cs.isNullAt(i)) null else cs.getArray(i).toDoubleArray()))
  }
}
