package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num

/** The analytical layer the reference's 5-table warehouse exists for but
  * delegates to Postgres (SURVEY.md §2.4, §2.13): star joins, group-bys,
  * windows, sessionization. All shapes chosen for 100 TB survival:
  * dimension sides broadcast, fact-side aggregation is partial (map-side
  * combine) before the single shuffle, windows partition by a
  * high-cardinality key.
  */
object Warehouse {

  /** Star join lineitem⋈orders⋈customer⋈nation⋈region.
    *
    * Scale shape: region/nation are tiny → `broadcast` hints (no
    * shuffle); customer/orders are key-partitioned shuffle joins that
    * AQE can re-plan (skew-split) at runtime. The aggregate runs
    * map-side before the final exchange on the (region, nation) keys.
    */
  def starRevenue(li: DataFrame, orders: DataFrame, customer: DataFrame,
                  nation: DataFrame, region: DataFrame): DataFrame =
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Num.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  /** Sessionization: split each user's event stream on gaps > `gapSec`
    * seconds (lag + running sum — the batch equivalent of a streaming
    * session window). Partitioned by user_id: each user's timeline sorts
    * locally within its shuffle partition, no global sort. */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sec = unix_timestamp(col("ts"))
    events
      .withColumn("sec", sec)
      .withColumn("prev_sec", lag("sec", 1).over(w))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_no",
        sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        Num.dsum(col("value")).as("sum_value"))
  }

  /** Skew-safe equi-join: salt the (skewed) fact side deterministically
    * with `saltOf` ∈ [0, buckets) and replicate the dim side once per
    * salt value, so one hot key spreads over `buckets` reducers instead
    * of melting a single one. Result is identical to the plain join —
    * the salt is deterministic plan plumbing, not data. (AQE's skew-join
    * handles this adaptively at runtime; this is the explicit form for
    * when a static plan is required.) */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, saltOf: Column, buckets: Int): DataFrame = {
    val salted = fact.withColumn("__salt", pmod(saltOf, lit(buckets)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated,
      salted(factKey) === replicated(dimKey) &&
        salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** SCD-1 upsert (MERGE without a table format): changed rows override
    * current ones, new keys insert, untouched rows carry over — one
    * full-outer join on the key, entirely shuffle-partitioned by that
    * key. A literal `true` presence marker on the changes side decides
    * which row won the join, so a change row carrying an explicit NULL
    * in a non-key column DOES overwrite the current value (true MERGE
    * semantics — a per-column coalesce would silently keep the stale
    * value). The set-based replacement for row-at-a-time warehouse
    * updates; at 100 TB both sides hash-partition on `key` and the
    * merge is a single co-partitioned pass (bucket both sides to also
    * skip the shuffle). */
  def upsert(current: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val renamed = changes.columns.foldLeft(changes)(
      (df, c) => df.withColumnRenamed(c, s"__chg_$c"))
      .withColumn("__chg_present", lit(true))
    current.join(renamed, col(key) === col(s"__chg_$key"), "full_outer")
      .select(
        coalesce(col(key), col(s"__chg_$key")).as(key) +:
          current.columns.filterNot(_ == key).toIndexedSeq.map(c =>
            // when() is null-safe here: absent marker (NULL) → otherwise.
            when(col("__chg_present"), col(s"__chg_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** RANGE join at scale (composed from built-ins, preference (a) in the
    * custom-operator ladder): join `points(…, sec)` to
    * `intervals(…, start_sec, end_sec)` where `sec ∈ [start_sec,
    * end_sec)` — WITHOUT the nested-loop/cartesian plan a naive non-equi
    * join produces. Each interval explodes to the `binWidth`-sized bins
    * it overlaps (a handful when intervals are at most a few bins long),
    * each point maps to exactly ONE bin, and the bin key turns the range
    * predicate into an equi-join Catalyst can hash/sort-merge partition;
    * the exact range filter then prunes the bin-collisions. A point
    * meets an interval in precisely one bin (the point's own), so no
    * dedup is needed. */
  def binnedRangeJoin(points: DataFrame, intervals: DataFrame,
                      binWidth: Long): DataFrame = {
    val binned = intervals.withColumn("bin",
      explode(sequence(
        floor(col("start_sec") / binWidth).cast("long"),
        floor((col("end_sec") - 1) / binWidth).cast("long"))))
    points.withColumn("bin", floor(col("sec") / binWidth).cast("long"))
      .join(binned, Seq("bin"))
      .filter(col("sec") >= col("start_sec") && col("sec") < col("end_sec"))
      .drop("bin")
  }

  /** SCD Type-2 history build: turn an attribute change log into a
    * versioned dimension with `valid_from`/`valid_to` intervals and an
    * `is_current` flag (the companion to [[upsert]]'s SCD-1 overwrite).
    *
    * Two passes over the same (key)-partitioned, (ts, tiebreak)-sorted
    * window — Catalyst reuses one Exchange for both sorts, so the whole
    * build is a single shuffle at any scale:
    *   1. collapse no-change rows (`lag` — a log row whose tracked
    *      attribute equals its predecessor's opens no new version);
    *   2. close each surviving version with the next one's start
    *      (`lead`); the open version has NULL `valid_to_ts`.
    *
    * Null-safe on the attribute (`<=>`): a NULL→NULL run collapses, a
    * NULL→value transition versions. */
  def scd2(log: DataFrame, key: String, attr: String, ts: String,
           tiebreak: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tiebreak))
    log
      // row_number (not `lag IS NULL`) marks the first row: a lagged
      // NULL is ambiguous when the attribute itself can be NULL.
      .withColumn("__rn", row_number().over(w))
      .withColumn("__prev", lag(col(attr), 1).over(w))
      .filter(col("__rn") === 1 || !(col("__prev") <=> col(attr)))
      .drop("__rn", "__prev")
      .withColumn("valid_to_ts", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to_ts").isNull.cast("long"))
  }

  /** Exponentially weighted moving average over the trailing `span` rows
    * of each partition: y = Σ_k w_k·x_{n−k} / Σ_k w_k with
    * w_k = (1−alpha)^k (pandas `ewm(alpha).mean()` restricted to a
    * bounded frame so the weighted sum is a FIXED expression tree).
    *
    * Engine-exact by construction: the weights and the per-length
    * normalizers are Scala-computed double literals (the oracle embeds
    * the identical literals), every lag term is combined left-to-right,
    * and IEEE-754 arithmetic over identical literals in identical order
    * is bit-identical on any engine — no decimal detour needed. One
    * window pass, partitioned on `partCols`: no global sort, scales with
    * the key cardinality. */
  def ewma(df: DataFrame, partCols: Seq[String], order: Seq[Column],
           value: Column, alpha: Double, span: Int): DataFrame = {
    require(span >= 1 && alpha > 0 && alpha < 1, "need 0<alpha<1, span>=1")
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(order: _*)
    val terms = (0 until span).map { k =>
      val xk = if (k == 0) value else coalesce(lag(value, k).over(w), lit(0.0))
      xk * lit(math.pow(1 - alpha, k))
    }
    val numer = terms.reduce(_ + _)
    // Normalizer by trailing-window length m = min(row_number, span):
    // Σ_{k<m} (1−alpha)^k, precomputed exactly once in Scala.
    val norms = (1 to span).map(m =>
      (1 to m).map(k => math.pow(1 - alpha, k - 1)).sum)
    val m = least(row_number().over(w), lit(span))
    val denom = norms.zipWithIndex.foldLeft(lit(norms.last)) {
      case (acc, (nv, i)) => when(m === i + 1, lit(nv)).otherwise(acc)
    }
    df.withColumn("ewma", round(numer / denom, 6))
  }
}
