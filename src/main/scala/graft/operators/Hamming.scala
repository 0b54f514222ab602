package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hamming-space matching over 64-bit hashes — the one kernel behind
  * simhash near-dup, the image/audio/video fingerprint families and
  * the binary-sketch ANN. A hash is one packed long, `hid`; distance
  * is `bit_count` of the XOR. Three shapes share it:
  *
  *  - [[selfPairs]]: every pair of DISTINCT hashes within the
  *    threshold plus the Hamming-0 diagonal, expanded back to member
  *    ids by [[expand]] (near-dup self-joins);
  *  - [[probe]]: a batch's distinct hashes against indexed
  *    [[exactKeys]] (the accumulating fingerprint index);
  *  - [[scan]]: a broadcast binary scan, for the loose radii where any
  *    blocking degenerates (sketch ANN).
  *
  * Blocking is exact for every threshold: the layout ([[layout]]) is
  * derived from `maxHamming` — pigeonhole bands ([[bandBits]]) or
  * multi-index hashing — and every candidate is verified with the
  * exact distance. Pairwise work runs over distinct hash values only,
  * so duplicated fingerprints (logos, still video frames, identical
  * texts) cost their duplication factor once, not squared. */
object Hamming {

  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The 64-bit hash packed from the four stored 16-bit words b0..b3 —
    * a bijection, so equality / order on `hid` is equality / a total
    * order on the hash, and the distance of two packed hashes is the
    * sum of the per-word distances. */
  def hid: Column =
    col("b0").bitwiseOR(shiftleft(col("b1"), 16))
      .bitwiseOR(shiftleft(col("b2"), 32))
      .bitwiseOR(shiftleft(col("b3"), 48)).as("hid")

  /** Hamming distance of two packed 64-bit hashes. */
  def distance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  // ------------------------------------------------------------ layout

  /** Exact-recall band layout for Hamming ≤ `maxHamming`: maxHamming+1
    * DISJOINT bit ranges covering all 64 bits (sizes differing by ≤1).
    * Pigeonhole: ≤ maxHamming differing bits cannot touch all
    * maxHamming+1 bands, so two in-threshold hashes agree EXACTLY on
    * at least one band — banded blocking is a lossless candidate
    * pruning of the all-pairs Hamming join. */
  private[graft] def bandBits(maxHamming: Int): Seq[Range] = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val base = 64 / nBands
    val extra = 64 % nBands
    val starts = (0 until nBands).scanLeft(0)((off, k) =>
      off + base + (if (k < extra) 1 else 0))
    (0 until nBands).map(k => starts(k) until starts(k + 1))
  }

  /** Threshold at or above which blocking switches from pigeonhole
    * bands to MULTI-INDEX HAMMING (3 wide bands + probe enumeration).
    * At threshold 8 the pigeonhole layout leaves 7-bit band values —
    * 128 possible buckets per band, which any corpus beyond ~10k
    * fingerprints saturates, making Σ bucket² structurally quadratic
    * (measured 12.4M at sf0.1 → 1.24B at 10× for audio, whose
    * fingerprints are near-distinct, so distinct-hash compression
    * cannot help). MIH (Norouzi, Punjani, Fleet: "Fast Search in
    * Hamming Space with Multi-Index Hashing", CVPR 2012) blocks on 3
    * bands of 22/21/21 bits and enumerates every ≤⌊h/3⌋-bit flip of
    * the PROBE side's band values: if all 3 bands differed by more
    * than ⌊h/3⌋, the total would exceed 3·(⌊h/3⌋+1) > h, so candidate
    * recall is exact, while bucket space grows to 2²¹ and join work
    * drops from Σ bucket² to n·(enumeration ≈ 718 at h=8) + near-pair
    * collisions. */
  private val MihCutover = 7

  /** Largest per-band flip budget MIH enumerates: C(22, ≤3) = 1,794
    * masks per band. One more bit costs C(22, 4) = 7,315 more, and the
    * budget grows with the threshold (C(22, ≤20) ≈ 4.2M at h = 60),
    * so wider thresholds use the pigeonhole layout, whose bands are
    * then narrow enough that the verify pass, not blocking, dominates. */
  private val MihMaxErrors = 3

  private[graft] def useMih(maxHamming: Int): Boolean =
    maxHamming >= MihCutover && mihErrors(maxHamming) <= MihMaxErrors

  /** 3 MIH bands over the 64-bit hash: 22 + 21 + 21 bits. */
  private val mihRanges: Seq[Range] = Seq(0 until 22, 22 until 43, 43 until 64)

  /** Per-band error budget e = ⌊h/3⌋ (3·(e+1) > h — pigeonhole). */
  private def mihErrors(maxHamming: Int): Int = maxHamming / 3

  /** All XOR masks with at most e bits set within `width` bits,
    * ascending popcount — the probe enumeration (254 masks at width 22,
    * e = 2). */
  private def mihMasks(width: Int, e: Int): Seq[Long] =
    (0 to e).flatMap {
      case 0 => Seq(0L)
      case k => (0 until width).combinations(k)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq
    }

  /** The band layout indexed for `maxHamming`: MIH ranges inside the
    * MIH window, pigeonhole bands otherwise. */
  private[graft] def layout(maxHamming: Int): Seq[Range] =
    if (useMih(maxHamming)) mihRanges else bandBits(maxHamming)

  // -------------------------------------------------------------- keys

  /** (`id`, band_idx, bval) blocking keys: one row per band of
    * `ranges`, bval = the band's bits of `hash` shifted down to bit 0
    * (shift-and-mask on the long — codegen'd, no UDF). The hash is
    * projected once beneath the explode so an expensive `hash`
    * expression is evaluated once per row, not once per band. */
  def bandKeys(h: DataFrame, id: String, ranges: Seq[Range],
               hash: Column = col("hid")): DataFrame = {
    val bands = ranges.zipWithIndex.map { case (r, k) =>
      val v = shiftrightunsigned(col("hash"), r.start)
      val bval = if (r.length == 64) v else v.bitwiseAND(lit((1L << r.length) - 1))
      struct(lit(k).as("band_idx"), bval.as("bval"))
    }
    h.select(col(id), hash.cast("long").as("hash"))
      .select(col(id), explode(array(bands: _*)).as("b"))
      .select(col(id), col("b.band_idx").as("band_idx"), col("b.bval").as("bval"))
  }

  /** Indexed-side keys (hid, band_idx, bval) of a `hid` frame under
    * [[layout]]. Probe with [[probe]] at the SAME threshold — keys of
    * another layout cover other bit ranges and share no collisions. */
  def exactKeys(h: DataFrame, maxHamming: Int): DataFrame =
    bandKeys(h, "hid", layout(maxHamming))

  /** Probe-side keys: every ≤e-bit flip of every MIH band value, plain
    * band values below the cutover (where both sides coincide). The
    * flips are a BROADCAST join of the exact keys against the tiny
    * (band_idx, mask) table, so each band value is computed once, not
    * once per enumerated output row. */
  private def probeKeys(h: DataFrame, maxHamming: Int): DataFrame =
    if (!useMih(maxHamming)) exactKeys(h, maxHamming)
    else {
      val spark = h.sparkSession
      import spark.implicits._
      val masks = mihRanges.zipWithIndex.flatMap { case (r, k) =>
        mihMasks(r.length, mihErrors(maxHamming)).map(m => (k, m))
      }.toDF("band_idx", "mask")
      exactKeys(h, maxHamming)
        .join(broadcast(masks), Seq("band_idx"))
        .select(col("hid"), col("band_idx"),
          col("bval").bitwiseXOR(col("mask")).as("bval"))
    }

  // ------------------------------------------------------------ shapes

  /** The candidate → verify block: every (hid_a, hid_b, hamming)
    * within `maxHamming` between a DISTINCT `hid` batch (hid_a) and
    * indexed [[exactKeys]] built at the same threshold (hid_b), kept
    * where `keep` holds. Probe-side keys of the batch join the index
    * per (band_idx, bval); each hash pair appears once, however many
    * bands or index legs it collides in. */
  def probe(batch: DataFrame, keys: DataFrame, maxHamming: Int,
            keep: Column = lit(true)): DataFrame =
    probeKeys(batch, maxHamming).withColumnRenamed("hid", "hid_a")
      .join(keys.withColumnRenamed("hid", "hid_b"), Seq("band_idx", "bval"))
      .select(col("hid_a"), col("hid_b"),
        distance(col("hid_a"), col("hid_b")).as("hamming"))
      .filter(keep && col("hamming") <= maxHamming)
      .distinct()

  /** Every (hid_a, hid_b, hamming) within `maxHamming` of a DISTINCT
    * `hid` frame: off-diagonal pairs once each (hid_a < hid_b — band
    * distance is symmetric, so the probe side may take the smaller
    * hash), plus the diagonal (h, h, 0). */
  def selfPairs(dh: DataFrame, maxHamming: Int): DataFrame =
    probe(dh, exactKeys(dh, maxHamming), maxHamming, col("hid_a") < col("hid_b"))
      .unionByName(dh.select(col("hid").as("hid_a"), col("hid").as("hid_b"),
        lit(0L).as("hamming")))

  /** Hash pairs expanded to member pairs: `members` carries `id`,
    * `hid` and any payload, joined on each side with every column but
    * `hid` suffixed `_a` / `_b`. Each unordered pair of distinct members
    * appears once: an off-diagonal hash pair (hid_a < hid_b) is already
    * one orientation, a diagonal one keeps `id_a < id_b`. `lo` / `hi`
    * are the ordered ids. */
  def expand(pairs: DataFrame, members: DataFrame, id: String): DataFrame = {
    def side(s: String) = members.select(members.columns.map(c =>
      col(c).as(if (c == "hid") s"hid_$s" else s"${c}_$s")).toIndexedSeq: _*)
    val (a, b) = (col(s"${id}_a"), col(s"${id}_b"))
    pairs.join(side("a"), "hid_a").join(side("b"), "hid_b")
      .filter(a =!= b && (col("hid_a") =!= col("hid_b") || a < b))
      .withColumn("lo", least(a, b)).withColumn("hi", greatest(a, b))
  }

  /** Unordered (lo, hi, hamming) pairs of `id`s whose hashes lie within
    * `maxHamming` — [[selfPairs]] over the distinct hashes, expanded
    * through the (id, hid) members. Returns the lazy plan with the two
    * frames it caches (members, distinct hashes); the caller releases
    * them after materializing. */
  private[graft] def memberPairs(members: DataFrame, id: String, maxHamming: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val m = members.select(col(id), col("hid")).persist(lvl)
    val dh = m.select("hid").distinct().persist(lvl)
    val pairs = expand(selfPairs(dh, maxHamming), m, id)
      .select(col("lo"), col("hi"), col("hamming"))
    (pairs, m, dh)
  }

  /** Broadcast binary scan (the faiss IndexBinaryFlat shape): query
    * (query_id, hid) rows broadcast to every partition, one
    * xor+popcount pass streams the corpus (vec_id, hid) — (query_id,
    * vec_id) within `maxHamming`, self-matches excluded. No shuffle,
    * no blocking: the right shape where the radius is a sizeable
    * fraction of the bits. */
  def scan(corpus: DataFrame, queries: DataFrame, maxHamming: Int): DataFrame =
    corpus.join(broadcast(queries.withColumnRenamed("hid", "q_hid")),
        col("vec_id") =!= col("query_id") &&
          distance(col("q_hid"), col("hid")) <= maxHamming)
      .select(col("query_id"), col("vec_id"))
}
