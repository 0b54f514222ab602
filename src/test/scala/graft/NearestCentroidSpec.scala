package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Rank, Similarity}

/** The nearest-centroid kernel against the shape it replaced: the cross
  * join of every vector with every centroid, rank-filtered by
  * `Rank.perGroup`. The vectors mix a coarse grid (many exact dot ties)
  * with random ones, copies of the centroids (distances that are 0 up to
  * rounding), a null vector and a NaN vector; the centroids include an
  * exact duplicate of a lower cid and near-duplicates whose distances
  * differ by less than the rounding step, so a tie that exists only
  * after `round(…, 6)` must still go to the lower cid. Results compare
  * bit for bit (NaN = NaN, −0.0 ≠ 0.0); codegen fallback is off. */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private val m = 2

  private def vec(rnd: scala.util.Random, grid: Boolean): Array[Double] =
    Array.fill(dim)(if (grid) (rnd.nextInt(5) - 2) * 0.5 else rnd.nextGaussian())

  private lazy val (emb, cent) = {
    val rnd = new scala.util.Random(1601L)
    val base = (0 until 10).map(i => vec(rnd, grid = i % 2 == 0))
    val cents: Seq[(Long, Array[Double])] =
      base.zipWithIndex.map { case (v, i) => (i * 3L, v) } ++ Seq(
        (40L, base(2)), // an exact duplicate of cid 6
        (41L, base(4).map(_ + 1e-9)), // within rounding of cid 12
        (1L, base(7).map(_ - 1e-9))) // within rounding of cid 21, lower cid
    val vecs: Seq[Array[Double]] = Seq.fill(200)(vec(rnd, rnd.nextBoolean())) ++
      base ++ base.map(_.map(_ + 3e-8)) :+ Array.fill(dim)(Double.NaN) :+ null
    (vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v"),
      cents.toDF("cid", "cv"))
  }

  private def withoutFallback[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }

  /** Rows with every double as its bit pattern. */
  private def bits(df: DataFrame, order: String*): Seq[Seq[Any]] =
    df.orderBy(order.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  test("argmax dot: the kernel equals cross join + perGroup, ties to the lower cid") {
    val scored = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), expr("dotp(v, cv)").as("cd"))
    val want = Rank.perGroup(scored, Seq("vec_id"), Seq(col("cd").desc, col("cid").asc), 1)
      .select(col("vec_id"), col("cid"), round(col("cd"), 6).as("cd"))
    val got = withoutFallback(bits(Similarity.assignWithSim(emb, cent), "vec_id"))
    assert(got.length == emb.count())
    assert(got == bits(want, "vec_id"))
    // the exact duplicate centroid never wins over its lower cid
    assert(!got.exists(_(1) == 40L))
  }

  test("PQ argmin: codes equal pqScored + perGroup, sq_err bit-identical to d") {
    val sub = dim / m
    val want = Rank.perGroup(Similarity.pqScored(emb, cent, m, sub),
        Seq("vec_id", "sub_no"), Seq(col("d").asc, col("cid").asc), 1)
      .select(col("vec_id"), col("sub_no"), col("cid").as("code"), col("d").as("sq_err"))
    val got = withoutFallback(bits(Similarity.pqCodes(emb, cent, m, sub), "vec_id", "sub_no"))
    assert(got.length == emb.count() * m)
    assert(got == bits(want, "vec_id", "sub_no"))
    // copies of cid 21's vector land on cid 1: its raw distance is not
    // the smallest, but it rounds to the same value and has the lower cid
    val planted = emb.filter(col("vec_id") === 207L).select("vec_id")
    assert(bits(Similarity.pqCodes(emb, cent, m, sub).join(planted, "vec_id")
      .select("code"), "code") == Seq(Seq(1L), Seq(1L)))
  }

  test("an empty centroid table assigns nothing, as the empty cross join did") {
    val none = cent.limit(0)
    assert(Similarity.assignWithSim(emb, none).count() == 0)
    assert(Similarity.pqCodes(emb, none, m, dim / m).count() == 0)
  }

  test("round6 is Spark's round(x, 6) on doubles") {
    val rnd = new scala.util.Random(1602L)
    val xs = Seq(0.0, -0.0, 5e-7, -5e-7, 1.0000005, 2.5e-7, Double.NaN,
      Double.PositiveInfinity, 1e300) ++ Seq.fill(500)(rnd.nextGaussian() * 3)
    val want = xs.toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0))
    assert(xs.map(graft.functions.NearestCentroid.round6)
      .map(java.lang.Double.doubleToRawLongBits) ==
      want.toSeq.map(java.lang.Double.doubleToRawLongBits))
  }
}
