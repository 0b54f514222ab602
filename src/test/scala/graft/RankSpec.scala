package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Rank
import graft.plans.TopKPerGroupExec

/** The ranking module against brute force: the one bounded aggregator
  * under each of its three orders (fed in random partitions, merged in
  * random order, k below, at and above n), the grouped and global heap
  * faces through Spark, and the window rank-filter `perGroup` against
  * a sort-and-take per key. */
class RankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ks = Seq(1, 3, 7, 40, 500)

  /** Scores with NaN, both zeros, infinities and many ties. */
  private val scorePool = Array(Double.NaN, -0.0, 0.0, 0.5, 0.5, 1.0, -1.0,
    Double.PositiveInfinity, Double.NegativeInfinity, 2.25)

  /** (score, id) rows with distinct ids, as the heap's contract asks. */
  private def scored(rnd: scala.util.Random, n: Int): Seq[(Double, Long)] =
    rnd.shuffle((0 until n).map(i => (scorePool(rnd.nextInt(scorePool.length)), i.toLong)))

  /** SQL's score desc, id asc: NaN first, −0.0 = 0.0. */
  private def bruteScore(rows: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    rows.sortBy { case (s, id) =>
      (if (s.isNaN) 0 else 1, if (s.isNaN) 0.0 else -s + 0.0, id)
    }(Ordering.Tuple3(Ordering.Int, Ordering.Double.TotalOrdering, Ordering.Long))
      .take(k)

  /** Bit-exact view: NaN equals NaN, −0.0 differs from 0.0. */
  private def bits(rows: Seq[(Double, Long)]): Seq[(Long, Long)] =
    rows.map { case (s, id) => (java.lang.Double.doubleToLongBits(s), id) }

  /** The aggregator as Spark drives it: reduce within random partitions,
    * merge the partials in random order, finish. */
  private def fold[T](agg: Rank.Bounded[T], rows: Seq[T], rnd: scala.util.Random): Seq[T] = {
    val parts = rows.groupBy(_ => rnd.nextInt(4)).values.toSeq
      .map(_.foldLeft(agg.zero)(agg.reduce))
    agg.finish(rnd.shuffle(parts).foldLeft(agg.zero)(agg.merge))
  }

  test("score desc, id asc: the aggregator equals a full sort (NaN, −0.0, k > n)") {
    val rnd = new scala.util.Random(1401L)
    for (n <- Seq(0, 1, 9, 200); k <- ks) {
      val rows = scored(rnd, n)
      val got = fold(Rank.ScoreDescIdAsc.bounded(k), rows, rnd)
      assert(bits(got) == bits(bruteScore(rows, k)), s"n=$n k=$k")
    }
  }

  test("count desc, word asc: the aggregator equals a full sort") {
    val rnd = new scala.util.Random(1402L)
    for (n <- Seq(0, 1, 9, 200); k <- ks) {
      val rows = rnd.shuffle((0 until n).map(i =>
        (rnd.nextInt(5).toLong, s"w${rnd.nextInt(1000)}_$i")))
      val got = fold(Rank.CountDescWordAsc.bounded(k), rows, rnd)
      assert(got == rows.sortBy { case (c, w) => (-c, w) }.take(k), s"n=$n k=$k")
    }
  }

  test("long asc: the KMV aggregator keeps the k minimum values") {
    val rnd = new scala.util.Random(1403L)
    for (n <- Seq(0, 1, 9, 200); k <- ks) {
      val rows = Seq.fill(n)(if (rnd.nextBoolean()) rnd.nextLong() else rnd.nextInt(7).toLong)
      assert(fold(Rank.LongAsc.bounded(k), rows, rnd) == rows.sorted.take(k), s"n=$n k=$k")
    }
  }

  test("topK and global through Spark equal the brute-force ranks") {
    val rnd = new scala.util.Random(1404L)
    val rows = scored(rnd, 300).map { case (s, id) => (id % 7, s, id) }
    val df = rows.toDF("g", "score", "id").repartition(5)
    for (k <- Seq(1, 4, 60)) {
      val grouped = Rank.topK(df, "g", "score", "id", k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        bruteScore(rs.map(r => (r._2, r._3)), k).zipWithIndex
          .map { case ((s, id), i) => (g, i + 1L, id, s) }
      }
      def key(t: (Long, Long, Long, Double)) =
        (t._1, t._2, t._3, java.lang.Double.doubleToLongBits(t._4))
      assert(grouped.map(key).sorted == expected.map(key).sorted, s"k=$k")

      val global = Rank.global(df, "score", "id", k, Rank.ScoreDescIdAsc)
        .orderBy("rn").collect()
      assert(global.map(_.getLong(0)).toSeq == (1L to math.min(k, rows.length).toLong))
      assert(bits(global.map(r => (r.getDouble(2), r.getLong(1))).toSeq) ==
        bits(bruteScore(rows.map(r => (r._2, r._3)), k)), s"k=$k")
    }
    val words = Seq.tabulate(120)(i => (s"w$i", (i % 9).toLong)).toDF("word", "n")
    val top = Rank.global(words, "n", "word", 200, Rank.CountDescWordAsc)
      .orderBy("rn").collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(top == Seq.tabulate(120)(i => (s"w$i", (i % 9).toLong))
      .sortBy { case (w, n) => (-n, w) })
  }

  test("perGroup: first k per key in a total order; a caller's rn is refused") {
    val rnd = new scala.util.Random(1405L)
    val rows = Seq.tabulate(400)(i =>
      (s"k${rnd.nextInt(6)}", rnd.nextInt(3).toLong, rnd.nextInt(5).toDouble, i.toLong,
        rnd.nextInt(1000).toLong))
    val df = rows.toDF("a", "b", "score", "id", "payload")
    for (k <- Seq(1, 3, 200)) {
      val q = Rank.perGroup(df, Seq("a", "b"), Seq(col("score").desc, col("id").asc), k)
      assert(q.queryExecution.sparkPlan.collect { case e: TopKPerGroupExec => e }.nonEmpty,
        q.queryExecution.sparkPlan.toString)
      val got = q.select("a", "b", "id", "payload", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val expected = rows.groupBy(r => (r._1, r._2)).values.flatMap { rs =>
        rs.sortBy(r => (-r._3, r._4)).take(k).zipWithIndex
          .map { case (r, i) => (r._1, r._2, r._4, r._5, i + 1L) }
      }.toSet
      assert(got == expected, s"k=$k")
    }
    intercept[IllegalArgumentException] {
      Rank.perGroup(df.withColumnRenamed("payload", "rn"), Seq("a"), Seq(col("id")), 1)
    }
  }
}
