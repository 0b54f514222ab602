package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Hamming

/** The Hamming kernel against the brute-force definition: every pair
  * within the threshold, distance = `Long.bitCount` of the XOR. The
  * thresholds cover the pigeonhole layout (0, 3, 6), the MIH window
  * (7, 8, 11), and the pigeonhole layout past the MIH flip cap (12,
  * 60); the planted exact duplicates exercise the Hamming-0 diagonal. */
class HammingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val thresholds = Seq(0, 3, 6, 7, 8, 11, 12, 60)

  /** (id, hash): 40 seeded random 64-bit bases, each followed by 0–2
    * variants with 0–13 random bit flips (0 flips = an exact duplicate
    * under another id), so every threshold sees in- and out-of-range
    * near pairs, and bit 63 is set on about half the hashes. */
  private val members: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20120618L)
    (0 until 40).flatMap { _ =>
      val base = rnd.nextLong()
      base +: Seq.fill(rnd.nextInt(3)) {
        (0 until rnd.nextInt(14)).foldLeft(base)((h, _) => h ^ (1L << rnd.nextInt(64)))
      }
    }.zipWithIndex.map { case (h, i) => (i.toLong, h) }
  }

  private def dist(a: Long, b: Long): Long = java.lang.Long.bitCount(a ^ b).toLong

  test("MIH is used exactly inside its window, pigeonhole elsewhere") {
    assert(thresholds.filter(Hamming.useMih) == Seq(7, 8, 11))
  }

  test("memberPairs equals the all-pairs definition at every layout") {
    val df = members.toDF("id", "hid")
    assert(members.map(_._2).distinct.length < members.length,
      "the fixture must plant exact duplicates")
    for (h <- thresholds) {
      val expect = (for {
        (ia, ha) <- members; (ib, hb) <- members
        if ia < ib && dist(ha, hb) <= h
      } yield (ia, ib, dist(ha, hb))).toSet
      val (pairs, m, dh) = Hamming.memberPairs(df, "id", h)
      val got = try pairs.as[(Long, Long, Long)].collect().toSet
        finally { m.unpersist(); dh.unpersist() }
      assert(got == expect, s"maxHamming=$h")
      assert(expect.exists(_._3 > 0) || h == 0, s"maxHamming=$h")
    }
  }

  test("probe against indexed keys equals the brute-force cross pairs") {
    val (corpus, batch) = members.partition(_._1 % 3 != 0)
    val ch = corpus.map(_._2).distinct
    val bh = batch.map(_._2).distinct
    for (h <- thresholds) {
      val expect = (for {
        a <- bh; b <- ch if dist(a, b) <= h
      } yield (a, b, dist(a, b))).toSet
      val keys = Hamming.exactKeys(ch.toDF("hid"), h)
      val got = Hamming.probe(bh.toDF("hid"), keys, h)
        .select("hid_a", "hid_b", "hamming").as[(Long, Long, Long)].collect()
      assert(got.length == got.distinct.length, s"maxHamming=$h: duplicate pairs")
      assert(got.toSet == expect, s"maxHamming=$h")
    }
  }

  test("bandKeys extracts each band's bits by shift-and-mask") {
    val h = members.map(_._2).find(_ < 0).get
    for (mh <- thresholds) {
      val ranges = Hamming.layout(mh)
      val got = Hamming.bandKeys(Seq((0L, h)).toDF("id", "hid"), "id", ranges)
        .select("band_idx", "bval").as[(Int, Long)].collect().toMap
      val want = ranges.zipWithIndex.map { case (r, k) =>
        k -> r.zipWithIndex.map { case (bit, j) => ((h >>> bit) & 1L) << j }.sum
      }.toMap
      assert(got == want, s"maxHamming=$mh")
    }
  }
}
