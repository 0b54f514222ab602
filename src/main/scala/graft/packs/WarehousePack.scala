package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Num
import graft.operators.{Rank, Warehouse}

/** `x_`-prefixed analytical superset (SURVEY.md §2.13 / §7.2): the joins,
  * group-bys, windows and set ops the reference's warehouse schema exists
  * to support but delegates to Postgres. Float aggregates use
  * [[Num.dsum]] (exact decimal sums) so results are bit-stable across
  * engines and parallelism.
  */
object WarehousePack {
  type Q = (SparkSession, String) => DataFrame

  /** PageRank over the customer↔supplier trade graph: damping and
    * iteration count shared with the generated oracle CTE chain. */
  private val PR_DAMPING = 0.85
  private val PR_ITERS = 3
  private val HITS_ITERS = 3

  /** Shared constants for the round-5 behavioral-analytics queries —
    * embedded verbatim in the generated oracle SQL so both engines
    * compute from identical literals. */
  private val FunnelStages = Seq("signup", "view", "purchase")
  private val BasketMinCo = 2
  private val BasketTopN = 50
  private val LinkMaxDist = 2
  private val LinkWindow = 10
  /** Bounded audit slice for the linkage recall probe (the exhaustive
    * ground truth is within-block quadratic — audit-sized on purpose). */
  private val LinkProbeCap = 600L
  private val GapFillMaxUser = 10L
  private val SnapMaxKey = 5000L
  private val SnapOldExcl = 3L  // keys missing from the old snapshot → inserts
  private val SnapNewExcl = 7L  // keys missing from the new snapshot → deletes
  private val SnapBumpEvery = 7L // every 7th key gets an updated price in the new snapshot
  private val CmDepth = 4
  private val CmWidth = 32
  private val AucPosPriorities = Seq("1-URGENT", "2-HIGH")
  private val WauWindowDays = 7
  private val OverlapMaxKey = 2000L
  private val OverlapSpanSec = 604800L
  private val OverlapBinSec = 604800L
  private val KAnonK = 5L
  private val LDiversityL = 4L
  private val AcfMaxLag = 7
  private val SkewHotFactor = 10.0
  private val ZMin = 2.0
  /** Profiled orders columns — longs/strings plus the money column
    * (rendered via DECIMAL(18,2) so both engines print identically). */
  private val ProfileCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
      "o_totalprice")
  private val HistLo = 0.0
  private val HistHi = 600000.0
  private val HistBins = 20
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  val queries: Map[String, Q] = Map(
    // PageRank centrality over the (customer, supplier) co-order graph
    // — iterative damped rank with decimal-exact contribution sums.
    "q_x_pagerank" -> { (s, d) =>
      graft.operators.Graph.pageRank(
          graft.operators.Graph.tradeEdges(Tables.orders(s, d), Tables.lineitem(s, d)),
          PR_DAMPING, PR_ITERS)
        .orderBy("node")
    },

    // HITS hubs & authorities over the DIRECTED customer->supplier
    // trade graph: mutual-reinforcement power iteration with
    // decimal-exact sums and per-half-round normalization.
    "q_x_hits" -> { (s, d) =>
      graft.operators.Graph.hits(
          graft.operators.Graph.tradeEdges(Tables.orders(s, d), Tables.lineitem(s, d)),
          HITS_ITERS)
        .orderBy("kind", "node")
    },

    // Star join over the full schema with broadcast dims + partial aggs.
    "q_x_star_join_agg" -> { (s, d) =>
      Warehouse.starRevenue(
          Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
          Tables.nation(s, d), Tables.region(s, d))
        .orderBy("r_name", "n_name")
    },

    // TPC-H Q1-shaped pricing summary with a pushed-down date predicate.
    "q_x_groupby_q1" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.dsum(col("l_quantity")).as("sum_qty"),
          Num.dsum(col("l_extendedprice")).as("sum_base_price"),
          Num.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          Num.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          Num.davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ROLLUP — subtotal rows carry NULL group keys (nulls-first order).
    "q_x_rollup" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Num.dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // CUBE — all grouping-set combinations.
    "q_x_cube" -> { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(Num.dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // Explicit GROUPING SETS with grouping() markers (the SQL face of the
    // engine; grouping() disambiguates subtotal NULLs from data NULLs —
    // rollup/cube's general form).
    "q_x_grouping_sets" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
           |       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
           |       ${Num.dsumSql("l_quantity")} AS sum_qty,
           |       count(*) AS n
           |FROM lineitem_gs
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY g_flag, g_status,
           |         l_returnflag ASC NULLS FIRST,
           |         l_linestatus ASC NULLS FIRST""".stripMargin)
    },

    // LATERAL correlated subquery (SQL:1999 lateral derived table —
    // the SQL face of per-row top-k): for each nation, its 3 richest
    // customers. Catalyst decorrelates the correlated ORDER BY + LIMIT
    // into a ranked window under a key-equi join — no nested-loop
    // per-nation re-scan survives in the physical plan.
    "q_x_lateral" -> { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation_lt")
      Tables.customer(s, d).createOrReplaceTempView("customer_lt")
      s.sql(
        """SELECT n_name, c_custkey, c_acctbal
          |FROM nation_lt,
          |     LATERAL (SELECT c_custkey, c_acctbal FROM customer_lt
          |              WHERE c_nationkey = n_nationkey
          |              ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) top_c
          |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
    },

    // Window ranking: top-3 parts per brand by price (total order).
    "q_x_window_rank" -> { (s, d) =>
      Rank.perGroup(
          Tables.part(s, d), Seq("p_brand"),
          Seq(col("p_retailprice").desc, col("p_partkey").asc), 3)
        .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
        .orderBy("p_brand", "rn")
    },

    // Two-stage top-k: aggregate per (event_type, user), then rank.
    "q_x_topk_users" -> { (s, d) =>
      val totals = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(Num.dsum(col("value")).as("total"))
      Rank.perGroup(
          totals, Seq("event_type"),
          Seq(col("total").desc, col("user_id").asc), 5)
        .select(col("event_type"), col("rn"), col("user_id"), col("total"))
        .orderBy("event_type", "rn")
    },

    // Percentiles: exact linear-interpolation quantiles per group. The
    // three quantiles ride ONE array-form percentile aggregate (r15 opt:
    // three scalar percentile calls each built and merged their own
    // full value-count buffer — 3× the aggregation state and merge work
    // for byte-identical results, since the array form reads all three
    // ranks off the same sorted counts).
    "q_x_percentiles" -> { (s, d) =>
      Tables.fanOut(Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"),
          round(min(col("l_extendedprice")), 6).as("mn"),
          round(max(col("l_extendedprice")), 6).as("mx"))
        .select(col("l_returnflag"),
          round(col("ps").getItem(0), 6).as("p50"),
          round(col("ps").getItem(1), 6).as("p90"),
          round(col("ps").getItem(2), 6).as("p99"),
          col("mn"), col("mx"))
        .orderBy("l_returnflag")
    },

    // Date/time battery over the order calendar.
    "q_f_date_funcs" -> { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
        datediff(to_date(lit("2002-01-01")), col("o_orderdate")).cast("long").as("days_to_2002"))
        .orderBy("o_orderkey")
    },

    // Typed Dataset surface: case-class encoders, typed filter/map, then
    // back to relational aggregation (the Dataset[T] face of the engine).
    "q_x_typed_dataset" -> { (s, d) =>
      import s.implicits._
      graft.TypedTables.lineitem(s, d)
        .filter(li => li.l_quantity > 10.0 && li.l_returnflag != "N")
        .map(li => (li.l_returnflag, li.l_extendedprice * (1.0 - li.l_discount)))
        .toDF("flag", "net")
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), Num.dsum(col("net")).as("net_total"))
        .orderBy("flag")
    },

    // Pivot (the inverse of the R2 unpivot): event counts per user, one
    // column per event type (explicit value list keeps the schema
    // deterministic — never let pivot scan for values at scale).
    "q_x_pivot" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },

    // Vocabulary analysis: top-20 words by frequency with rank. Ranking
    // goes through the bounded heap aggregator (map-side partial top-k,
    // O(k) rows per partition to the final merge) — NOT a row_number
    // window over a constant group, which would funnel every distinct
    // word of a 100 TB corpus's vocabulary through one task.
    "q_x_word_topk" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      Rank.global(counts, "n", "word", 20, Rank.CountDescWordAsc)
        .select(col("rn"), col("word"), col("n"))
        .orderBy("rn")
    },

    // Full outer join over mostly-disjoint key ranges (order months are
    // 1992–98, event months 2024 → real outer semantics on both sides).
    "q_x_full_outer_join" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"))
      val e = Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_events"))
      o.join(e, Seq("month"), "full_outer")
        .select(col("month"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("month")
    },

    // Analytic-window battery: ntile/percent_rank/cume_dist/dense_rank
    // over a total order (price, orderkey, linenumber unique per flag).
    "q_x_window_funcs" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      Tables.lineitem(s, d).select(
        col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        dense_rank().over(w).cast("long").as("dr"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    },

    // Deterministic array aggregation: collect_set → sorted → joined to
    // a string (array aggs are only oracle-comparable once ordered).
    "q_x_array_agg" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // DISTINCT over a projection.
    "q_x_distinct" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Set ops (dedup semantics).
    "q_x_intersect" -> { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .intersect(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    },
    "q_x_except" -> { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .except(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    },

    // Semi/anti joins (EXISTS / NOT EXISTS).
    "q_x_semi_join" -> { (s, d) =>
      val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      Tables.customer(s, d)
        .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    "q_x_anti_join" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },

    // Batch sessionization (2-hour gap) — streaming analogue in §streaming.
    "q_x_session_window" -> { (s, d) =>
      Warehouse.sessionize(Tables.events(s, d), 7200L)
        .select(col("user_id"), col("session_no"), col("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_no")
    },

    // Skew-salted join — result must equal the plain join (the salt is
    // plan plumbing only); oracle is the unsalted SQL join.
    "q_x_salted_join" -> { (s, d) =>
      Warehouse.saltedJoin(
          Tables.lineitem(s, d), Tables.orders(s, d),
          "l_orderkey", "o_orderkey", col("l_linenumber"), 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // Z-order layout audit: bucket lineitem by the top bits of the
    // Morton key over (l_partkey, l_suppkey) and report each bucket's
    // extent in BOTH dimensions — the file-footer min/max a z-sorted
    // write would give every file, i.e. the evidence that scans
    // filtering on EITHER column could prune. Native codegen'd
    // zorder2 Expression; oracle replays the bit-sum definition.
    "q_x_zorder" -> { (s, d) =>
      graft.functions.ZOrder2.register(s)
      Tables.lineitem(s, d)
        .selectExpr("zorder2(l_partkey, l_suppkey) AS z",
          "l_partkey", "l_suppkey")
        .groupBy(shiftright(col("z"), 18).as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
        .orderBy("z_bucket")
    },

    // RANGE frame (value-based, not row-based): per-user trailing-hour
    // event count and sum over the event-time axis — the window
    // mechanics behind "activity in the last N minutes" features.
    "q_x_range_frame" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("sec"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"), col("sec"),
          count(lit(1)).over(w).as("n_last_hour"),
          // decimal cast INSIDE the windowed sum (dsum's stability trick,
          // applied to a frame aggregate)
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("sum_last_hour"))
        .orderBy("event_id")
    },

    // Frame-spec window: per-user running total and lag delta.
    "q_x_window_running" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("running_n",
          count(lit(1)).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("running_n"),
          (col("value") - coalesce(col("prev_value"), lit(0.0))).as("delta"))
        .orderBy("event_id")
    },

    // As-of join, composed from built-ins (preference (a) in the custom-
    // operator ladder): for each purchase event, the most recent prior
    // signup second of the same user — a conditional running max over
    // the unioned timeline, no custom physical operator needed.
    "q_x_asof_event_join" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("asof_signup_sec",
          max(when(col("event_type") === "signup", col("sec"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"),
          col("asof_signup_sec"),
          (col("sec") - col("asof_signup_sec")).as("secs_since_signup"))
        .orderBy("event_id")
    },

    // Sketch surface: HyperLogLog++ distinct estimate, half-gated — the
    // exact count is oracle-checked (rows/schema/hash), and the sketch is
    // gated through a derived bounded-error verdict the oracle asserts as
    // a literal 1 (the estimate itself can't hash-match across engines:
    // DuckDB's HLL is a different implementation). The raw estimate's
    // error bound is additionally spec-bound in WarehouseSpec.
    "q_x_approx_distinct" -> { (s, d) =>
      Tables.lineitem(s, d).agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx") - col("exact_parts"))
            <= col("exact_parts") * 0.05).cast("long").as("approx_within_5pct"))
    },

    // Non-equi RANGE join via bin bucketing: lineitem ship-times against
    // week-long windows anchored at sampled order dates. The bin key
    // makes it an equi-join (hash-partitionable at any scale) instead of
    // the nested-loop plan `p.sec BETWEEN i.start AND i.end` would get.
    "q_x_range_join_binned" -> { (s, d) =>
      val weekSec = 7L * 86400L
      val intervals = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(997)) === 0)
        .select(col("o_orderkey").as("i_id"),
          unix_timestamp(col("o_orderdate")).as("start_sec"),
          (unix_timestamp(col("o_orderdate")) + weekSec).as("end_sec"))
      val points = Tables.lineitem(s, d)
        .select(col("l_extendedprice"), unix_timestamp(col("l_shipdate")).as("sec"))
      Warehouse.binnedRangeJoin(points, intervals, weekSec)
        .groupBy(col("i_id"))
        .agg(count(lit(1)).as("n_points"),
          Num.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("i_id")
    },

    // SCD-1 upsert: every 10th order's status flips to 'U' (price +1),
    // 25 synthetic new keys insert; merge = one full-outer join.
    "q_x_upsert_snapshot" -> { (s, d) =>
      val cur = Tables.orders(s, d).select(
        col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        round(col("o_totalprice"), 6).as("price"))
      val updates = cur.filter(pmod(col("key"), lit(10)) === 0)
        .select(col("key"), lit("U").as("status"),
          round(col("price") + 1.0, 6).as("price"))
      val inserts = Tables.nation(s, d).select(
        (col("n_nationkey") + lit(900000000L)).as("key"),
        lit("N").as("status"),
        col("n_nationkey").cast("double").as("price"))
      Warehouse.upsert(cur, updates.unionByName(inserts), "key")
        .orderBy("key")
    },

    // Sketch surface #2: KLL/GK-style approximate percentile, half-gated
    // like the HLL query — exact quantile oracle-checked, the sketch
    // asserted through a bounded-error verdict. The sketch's guarantee
    // is on RANK error (ε = 1/accuracy = 0.001), not value error, so
    // the gate brackets the approx value between the exact quantiles at
    // ranks 0.5 ± 2ε (2× for interpolation slop) — a value-distance
    // gate would fail on skewed distributions where a tiny rank error
    // moves the value by more than 1%.
    // r15 opt: the three exact ranks share ONE array-form percentile
    // buffer instead of three independent value-count maps (the scalar
    // calls tripled the aggregation state and merge cost; the array
    // form reads lo/mid/hi off the same sorted counts, byte-identical).
    "q_x_approx_quantiles" -> { (s, d) =>
      Tables.fanOut(Tables.lineitem(s, d).select(col("l_extendedprice"))).agg(
          expr("percentile(l_extendedprice, array(0.5D, 0.498D, 0.502D))").as("ps"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"))
        .select(round(col("ps").getItem(0), 6).as("exact_p50"),
          (col("ap50") >= col("ps").getItem(1) &&
            col("ap50") <= col("ps").getItem(2))
            .cast("long").as("approx_within_rank_eps"))
    },

    // Data-quality expectation report: uniqueness, null, range, and
    // referential-integrity checks as ONE query (union of four
    // aggregates — each a partial-agg scan or key-equi anti join; no
    // driver-side loop over checks). The warehouse-health face of the
    // reference's per-row try/except validation.
    "q_x_quality_report" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val uniq = orders.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("violations"))
        .select(lit("orders.o_orderkey.unique").as("check"), col("violations"))
      val nulls = orders.agg(
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("violations"))
        .select(lit("orders.o_orderstatus.not_null").as("check"), col("violations"))
      val range = li.agg(
        sum(when(col("l_quantity") <= 0 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("violations"))
        .select(lit("lineitem.l_quantity.in_(0,50]").as("check"), col("violations"))
      val orphans = li.join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("lineitem.l_orderkey.fk_orders").as("check"), col("violations"))
      uniq.unionByName(nulls).unionByName(range).unionByName(orphans)
        .orderBy("check")
    },

    // A6-style keyed counting via the warehouse join (items per order).
    "q_a6_count_per_key" -> { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), Num.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderkey")
    },

    // SCD Type-2 dimension history (the versioned companion to
    // q_x_upsert_snapshot's SCD-1 merge): the events stream is the
    // change log of each user's tracked attribute; no-change rows
    // collapse, each version closes with the next one's start.
    "q_x_scd2_history" -> { (s, d) =>
      val log = Tables.events(s, d).select(
        col("user_id"), col("event_type").as("attr"), col("ts"), col("event_id"))
      Warehouse.scd2(log, "user_id", "attr", "ts", "event_id")
        .select(col("user_id"), col("attr"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from", "attr")
    },

    // Trailing EWMA per user (pandas ewm-style smoothing over a bounded
    // frame) — literal-for-literal identical arithmetic with the oracle.
    "q_x_ewma" -> { (s, d) =>
      Warehouse.ewma(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"), col("value")),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          col("value"), EWMA_ALPHA, EWMA_SPAN)
        .select(col("event_id"), col("user_id"), col("value"), col("ewma"))
        .orderBy("event_id")
    },

    // Robust per-group outlier report: median + MAD (the
    // median-absolute-deviation robust z-score; 1.4826·MAD ≈ σ for
    // normal data), counting rows beyond 3 robust sigmas. Exact
    // percentiles are per-group in-memory aggregates — the exact-stats
    // face; at unbounded group sizes the scale path is
    // q_x_approx_quantiles' sketch. Two tiny per-flag aggregates
    // broadcast back onto the scan; the unrounded median/MAD feed the
    // comparisons on BOTH engines, and the 0.01-granular price grid
    // keeps any last-ulp percentile difference away from the threshold.
    "q_x_outliers_mad" -> { (s, d) =>
      val x = Tables.fanOut(Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("x")))
      val med = x.groupBy("l_returnflag").agg(expr("percentile(x, 0.5)").as("med"))
      val dev = x.join(broadcast(med), Seq("l_returnflag"))
      val mad = dev.groupBy("l_returnflag")
        .agg(expr("percentile(abs(x - med), 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"),
          count(lit(1)).as("n"),
          sum((abs(col("x") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"))
            .cast("long")).as("n_outliers"))
        .orderBy("l_returnflag")
    },

    // Last-touch purchase attribution: per-channel count + share.
    "q_x_attribution" -> { (s, d) =>
      graft.operators.Analytics.attributionLastTouch(Tables.events(s, d))
    },

    // Ordered funnel: per-stage user counts where each stage's first
    // event is strictly after the previous stage's — N per-user min-aggs
    // co-partitioned on user_id, no event-log window.
    "q_x_funnel" -> { (s, d) =>
      graft.operators.Analytics.funnel(Tables.events(s, d), FunnelStages)
    },

    // Weekly cohort retention grid in pure epoch-day integer arithmetic.
    "q_x_cohort_retention" -> { (s, d) =>
      graft.operators.Analytics.cohortRetention(Tables.events(s, d))
    },

    // Market-basket lift over co-ordered part pairs (Σ basket² candidate
    // generation, never a global cross).
    "q_x_basket_lift" -> { (s, d) =>
      graft.operators.Analytics.basketLift(Tables.lineitem(s, d), BasketMinCo, BasketTopN)
    },

    // Fuzzy record linkage: Levenshtein over two-pass sorted-neighborhood
    // candidates within nation×segment blocks (linear in the table).
    "q_x_fuzzy_linkage" -> { (s, d) =>
      graft.operators.Analytics.fuzzyLinkage(
        Tables.customer(s, d), LinkMaxDist, LinkWindow)
    },

    // Blocking-recall audit on a bounded slice: sorted-neighborhood
    // pairs vs the exhaustive within-block ground truth (round-6 advice
    // — the linkage analogue of q_dedup_lsh_quality).
    "q_x_fuzzy_linkage_recall" -> { (s, d) =>
      graft.operators.Analytics.fuzzyLinkageRecallProbe(
        Tables.customer(s, d).filter(col("c_custkey") <= LinkProbeCap),
        LinkMaxDist, LinkWindow)
    },

    // Dense hourly spine + LOCF + linear interpolation per user.
    "q_x_gap_fill" -> { (s, d) =>
      graft.operators.Analytics.gapFillHourly(Tables.events(s, d), "view", GapFillMaxUser)
    },

    // CDC snapshot diff: insert/delete/update classification between two
    // deterministic snapshots of orders (one co-partitioned full-outer join).
    "q_x_snapshot_diff" -> { (s, d) =>
      val base = Tables.orders(s, d)
        .filter(col("o_orderkey") <= SnapMaxKey)
        .select(col("o_orderkey"), col("o_totalprice"))
      val oldSnap = base.filter(col("o_orderkey") % 10 =!= SnapOldExcl)
      val newSnap = base.filter(col("o_orderkey") % 10 =!= SnapNewExcl)
        .withColumn("o_totalprice",
          col("o_totalprice") +
            when(col("o_orderkey") % SnapBumpEvery === 0, lit(100.0)).otherwise(lit(0.0)))
      graft.operators.Analytics
        .snapshotDiff(oldSnap, newSnap, "o_orderkey", "o_totalprice")
        .select(col("k").as("o_orderkey"), col("change"), col("old_v"), col("new_v"))
    },

    // Count-Min sketch frequency estimates (half-gated like the HLL /
    // quantile sketches: exact count + est + the est≥exact guarantee).
    "q_x_countmin" -> { (s, d) =>
      graft.operators.Analytics.countMinEstimates(Tables.events(s, d), CmDepth, CmWidth)
    },

    // Rank-based ROC-AUC of price as a score for high order priority —
    // distributed average-rank (two-level bucketed prefix sums, no
    // global window).
    "q_m_auc" -> { (s, d) =>
      graft.operators.Analytics.rocAuc(
        Tables.orders(s, d).select(col("o_totalprice").as("score"),
          col("o_orderpriority").isin(AucPosPriorities.map(x => x: Any): _*)
            .cast("int").as("y")),
        "score", "y")
    },

    // Decile calibration of the same score: closed-form ntile over the
    // two-level global row number.
    "q_m_calibration" -> { (s, d) =>
      graft.operators.Analytics.calibration(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice").as("score"),
          col("o_orderpriority").isin(AucPosPriorities.map(x => x: Any): _*)
            .cast("int").as("y")),
        "score", "y", "o_orderkey")
    },

    // Rolling 7-day active users: constant-width generator fan-out, one
    // count-distinct per day — never a self-join over the event log.
    "q_x_rolling_wau" -> { (s, d) =>
      graft.operators.Analytics.rollingWau(Tables.events(s, d), WauWindowDays)
    },

    // Interval×interval overlap via week-bin equi-join + exact predicate.
    "q_x_interval_overlap" -> { (s, d) =>
      graft.operators.Analytics.intervalOverlap(
        Tables.orders(s, d), OverlapMaxKey, OverlapSpanSec, OverlapBinSec)
    },

    // k-anonymity audit over a quasi-identifier tuple.
    "q_x_kanon" -> { (s, d) =>
      graft.operators.Analytics.kAnonymityAudit(Tables.customer(s, d), KAnonK)
    },

    // Month-over-month revenue per region (lag window partitioned by region).
    "q_x_period_over_period" -> { (s, d) =>
      graft.operators.Analytics.periodOverPeriod(
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))
    },

    // Gini coefficient of customer spend (two-level distributed rank,
    // decimal-exact Σx / Σ i·x).
    "q_x_gini" -> { (s, d) =>
      graft.operators.Analytics.giniConcentration(Tables.orders(s, d))
    },

    // First-order Markov transition matrix over user event sequences.
    "q_x_markov_transitions" -> { (s, d) =>
      graft.operators.Analytics.markovTransitions(Tables.events(s, d))
    },

    // Benford first-digit audit of order totals.
    "q_x_benford" -> { (s, d) =>
      graft.operators.Analytics.benfordAudit(Tables.orders(s, d))
    },

    // χ² independence of order status × priority (bounded cell table).
    "q_x_chi_square" -> { (s, d) =>
      graft.operators.Analytics.chiSquareIndependence(
        Tables.orders(s, d), "o_orderstatus", "o_orderpriority")
    },

    // Welch's t-test: urgent vs non-urgent order value, one scan.
    "q_x_ttest_welch" -> { (s, d) =>
      graft.operators.Analytics.welchTTest(Tables.orders(s, d), "1-URGENT")
    },

    // Pairwise Pearson correlations from one sufficient-statistics pass.
    "q_x_corr_matrix" -> { (s, d) =>
      graft.operators.Analytics.corrMatrix(
        Tables.fanOut(Tables.lineitem(s, d).select(CorrCols.map(col): _*)),
        CorrCols)
    },

    // Daily-revenue autocorrelation at lags 1..7 via date equi-joins.
    "q_x_acf_daily" -> { (s, d) =>
      graft.operators.Analytics.acfDaily(Tables.orders(s, d), AcfMaxLag)
    },

    // l-diversity audit over the k-anonymity quasi-identifier tuple.
    "q_x_ldiversity" -> { (s, d) =>
      graft.operators.Analytics.lDiversityAudit(Tables.customer(s, d), LDiversityL)
    },

    // Day-of-week revenue seasonality profile.
    "q_x_dow_seasonality" -> { (s, d) =>
      graft.operators.Analytics.dowSeasonality(Tables.orders(s, d))
    },

    // Fixed-bound equi-width histogram of order totals.
    "q_x_histogram" -> { (s, d) =>
      graft.operators.Analytics.histogram(Tables.orders(s, d), HistLo, HistHi, HistBins)
    },

    // Mann–Kendall monotone-trend test over monthly revenue.
    "q_x_mann_kendall" -> { (s, d) =>
      graft.operators.Analytics.mannKendall(Tables.orders(s, d))
    },

    // Join-key skew diagnostic over the event stream's user key.
    "q_x_skew_report" -> { (s, d) =>
      graft.operators.Analytics.joinKeySkewReport(Tables.events(s, d),
        "user_id", SkewHotFactor)
    },

    // Theil–Sen robust slope of monthly revenue (median pairwise slope).
    "q_x_theil_sen" -> { (s, d) =>
      graft.operators.Analytics.theilSen(Tables.orders(s, d))
    },

    // Daily revenue z-score anomalies (|z| ≥ 2 on the rounded score).
    "q_x_zscore_anomalies" -> { (s, d) =>
      graft.operators.Analytics.zscoreDailyAnomalies(Tables.orders(s, d), ZMin)
    },

    // Stage-to-stage funnel conversion latency (median / p90 hours).
    "q_x_funnel_latency" -> { (s, d) =>
      graft.operators.Analytics.funnelLatency(Tables.events(s, d), FunnelStages)
    },

    // Per-column profile (nulls / distincts / min / max) over orders.
    "q_x_column_profile" -> { (s, d) =>
      graft.operators.Analytics.columnProfile(Tables.orders(s, d), ProfileCols)
    },

    // Sketch surface #4: the MERGEABLE-sketch warehouse rollup (the
    // Apache DataSketches pattern Spark 3.5+ ships as hll_sketch_agg /
    // hll_union_agg). At 100 TB the production shape is: materialize one
    // small HLL sketch per ingest partition (here per month) in a single
    // pass over the raw data, then answer ANY coarser distinct-count
    // question — per year, per quarter, trailing-N-months — by merging
    // the precomputed sketches, never rescanning the raw table. The
    // month→year re-aggregation below exercises exactly that merge;
    // half-gated like the other sketch queries (exact per-year distinct
    // hash-checked, the estimate through a bounded-error verdict:
    // lgConfigK=12 ⇒ rsd≈1.6%, asserted within 5%).
    "q_x_hll_rollup" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val monthly = orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(hll_sketch_agg(col("o_custkey"), 12).as("sketch"))
      val yearly = monthly
        .groupBy(year(col("month")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_months"),
          hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx"))
      val exact = orders
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(countDistinct(col("o_custkey")).as("exact_custs"))
      yearly.join(exact, Seq("yr"))
        .select(col("yr"), col("n_months"), col("exact_custs"),
          (abs(col("approx") - col("exact_custs"))
            <= col("exact_custs") * 0.05).cast("long").as("approx_within_5pct"))
        .orderBy("yr")
    }
  )

  /** EWMA smoothing constants (shared with [[ewmaSql]] so both engines
    * multiply by the exact same double literals). */
  private val EWMA_ALPHA = 0.5
  private val EWMA_SPAN = 8

  /** The DuckDB spelling of [[Warehouse.ewma]]'s fixed expression tree —
    * weights and normalizers are the same Scala-computed doubles
    * (Double.toString round-trips, so DuckDB parses the identical
    * values), combined in the same left-to-right order. */
  private def ewmaSql: String = {
    val terms = (0 until EWMA_SPAN).map { k =>
      val wk = math.pow(1 - EWMA_ALPHA, k)
      if (k == 0) s"value * $wk"
      else s"coalesce(lag(value, $k) OVER w, 0.0) * $wk"
    }.mkString(" + ")
    val norms = (1 to EWMA_SPAN).map(m =>
      (1 to m).map(k => math.pow(1 - EWMA_ALPHA, k - 1)).sum)
    val cases = norms.zipWithIndex
      .map { case (nv, i) => s"WHEN ${i + 1} THEN $nv" }.mkString(" ")
    s"round(($terms) / (CASE least(CAST(row_number() OVER w AS BIGINT), $EWMA_SPAN) " +
      s"$cases ELSE ${norms.last} END), 6)"
  }

  private val dsumQty   = Num.dsumSql("l_quantity")
  private val dsumPrice = Num.dsumSql("l_extendedprice")

  val oracles: Map[String, String] = Map(
    "q_x_star_join_agg" ->
      s"""SELECT r_name, n_name,
         |       ${Num.dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |       count(DISTINCT o_orderkey) AS n_orders,
         |       count(*) AS n_rows
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "q_x_groupby_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       $dsumQty AS sum_qty,
         |       $dsumPrice AS sum_base_price,
         |       ${Num.dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |       ${Num.dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |       ${Num.davgSql("l_quantity")} AS avg_qty,
         |       count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_x_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, $dsumQty AS sum_qty, count(*) AS n
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_x_cube" ->
      s"""SELECT l_returnflag, l_linestatus, $dsumPrice AS sum_price, count(*) AS n
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_x_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
         |       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
         |       $dsumQty AS sum_qty,
         |       count(*) AS n
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY g_flag, g_status,
         |         l_returnflag ASC NULLS FIRST,
         |         l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_x_window_rank" ->
      """SELECT * FROM (
        |  SELECT p_brand,
        |         CAST(row_number() OVER (PARTITION BY p_brand
        |              ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rn,
        |         p_partkey, p_retailprice
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    // GENERATED iteration CTEs (kmeans-oracle discipline): same
    // symmetrized edge set, same 1/N start, same rounded damped update
    // with DECIMAL-exact in-sums — the whole trajectory replays.
    "q_x_pagerank" -> {
      def iter(i: Int): String =
        s"""p$i AS (
           |  SELECT ed.dst AS node,
           |         round(CAST(${1 - PR_DAMPING} AS DOUBLE) / (SELECT n_nodes FROM nn)
           |               + CAST($PR_DAMPING AS DOUBLE) * ${Num.dsumAtSql("p.pr / deg.deg", 18)}, 6) AS pr
           |  FROM ed JOIN p${i - 1} p ON ed.src = p.node
           |          JOIN deg ON deg.src = ed.src
           |  GROUP BY ed.dst)""".stripMargin
      s"""WITH ed0 AS (
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |ed AS (SELECT src, dst FROM ed0 UNION SELECT dst, src FROM ed0),
         |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |nn AS (SELECT count(*) AS n_nodes FROM deg),
         |p0 AS (SELECT src AS node,
         |              round(CAST(1.0 AS DOUBLE) / (SELECT n_nodes FROM nn), 6) AS pr
         |       FROM deg),
         |${(1 to PR_ITERS).map(iter).mkString(",\n")}
         |SELECT p.node, deg.deg, p.pr
         |FROM p$PR_ITERS p JOIN deg ON deg.src = p.node
         |ORDER BY p.node""".stripMargin
    },

    // Replays Graph.hits literal-for-literal: per half-round a
    // decimal(38,18)-exact mutual-reinforcement sum, an IEEE sqrt of a
    // decimal-exact sum of squares, and a round-6 normalized score —
    // identical trajectory to the Spark loop (both the distributed and
    // the one-task path, which a spec pins to each other). `ed`, `h0`
    // and each round's scores are marked AS MATERIALIZED: DuckDB
    // otherwise inlines every CTE reference, and `a<i>`/`h<i>` each read
    // their raw CTE twice, so the expansion grew fourfold per round.
    "q_x_hits" -> {
      def iter(i: Int): String =
        s"""a${i}r AS MATERIALIZED (
           |  SELECT ed.dst, ${Num.dsumAtSql(s"h${i - 1}.h", 18)} AS ar
           |  FROM ed JOIN h${i - 1} ON ed.src = h${i - 1}.src
           |  GROUP BY ed.dst),
           |a${i}n AS (SELECT sqrt(${Num.dsumAtSql("ar * ar", 18)}) AS nrm
           |           FROM a${i}r),
           |a$i AS MATERIALIZED (SELECT dst, round(ar / (SELECT nrm FROM a${i}n), 6) AS a
           |        FROM a${i}r),
           |h${i}r AS MATERIALIZED (
           |  SELECT ed.src, ${Num.dsumAtSql(s"a$i.a", 18)} AS hr
           |  FROM ed JOIN a$i ON ed.dst = a$i.dst
           |  GROUP BY ed.src),
           |h${i}n AS (SELECT sqrt(${Num.dsumAtSql("hr * hr", 18)}) AS nrm
           |           FROM h${i}r),
           |h$i AS MATERIALIZED (SELECT src, round(hr / (SELECT nrm FROM h${i}n), 6) AS h
           |        FROM h${i}r)""".stripMargin
      s"""WITH ed AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |hn AS (SELECT count(DISTINCT src) AS n_hubs FROM ed),
         |h0 AS MATERIALIZED (SELECT DISTINCT src,
         |              round(CAST(1.0 AS DOUBLE) / sqrt((SELECT n_hubs FROM hn)), 6) AS h
         |       FROM ed),
         |${(1 to HITS_ITERS).map(iter).mkString(",\n")}
         |SELECT src AS node, 'hub' AS kind, h AS score FROM h$HITS_ITERS
         |UNION ALL
         |SELECT dst AS node, 'authority' AS kind, a AS score FROM a$HITS_ITERS
         |ORDER BY kind, node""".stripMargin
    },

    "q_x_lateral" ->
      """SELECT n_name, c_custkey, c_acctbal
        |FROM nation,
        |     LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |              WHERE c_nationkey = n_nationkey
        |              ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) top_c
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,

    "q_x_topk_users" ->
      s"""WITH totals AS (
         |  SELECT event_type, user_id, ${Num.dsumSql("value")} AS total
         |  FROM events GROUP BY event_type, user_id)
         |SELECT event_type, rn, user_id, total FROM (
         |  SELECT event_type, user_id, total,
         |         CAST(row_number() OVER (PARTITION BY event_type
         |              ORDER BY total DESC, user_id ASC) AS BIGINT) AS rn
         |  FROM totals)
         |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin,

    "q_x_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
        |       round(min(l_extendedprice), 6) AS mn,
        |       round(max(l_extendedprice), 6) AS mx
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_f_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(month(o_orderdate) AS BIGINT) AS m,
        |       CAST(day(o_orderdate) AS BIGINT) AS dom,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_x_typed_dataset" ->
      s"""SELECT l_returnflag AS flag, count(*) AS n,
         |       ${Num.dsumSql("l_extendedprice * (1 - l_discount)")} AS net_total
         |FROM lineitem
         |WHERE l_quantity > 10 AND l_returnflag <> 'N'
         |GROUP BY l_returnflag ORDER BY flag""".stripMargin,

    "q_x_pivot" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view")
        .map(t => s"CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS $t")
        .mkString(",\n       ")
      s"""SELECT user_id,
         |       $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    "q_x_word_topk" ->
      """WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |counts AS (SELECT word, count(*) AS n FROM words GROUP BY word),
        |ranked AS (SELECT word, n,
        |                  CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS BIGINT) AS rn
        |           FROM counts)
        |SELECT rn, word, n FROM ranked WHERE rn <= 20 ORDER BY rn""".stripMargin,

    "q_x_full_outer_join" ->
      """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |e AS (SELECT strftime(ts, '%Y-%m') AS month, count(*) AS n_events
        |      FROM events GROUP BY 1)
        |SELECT coalesce(o.month, e.month) AS month,
        |       coalesce(n_orders, 0) AS n_orders,
        |       coalesce(n_events, 0) AS n_events
        |FROM o FULL JOIN e ON o.month = e.month
        |ORDER BY month""".stripMargin,

    "q_x_window_funcs" ->
      """SELECT l_returnflag, l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd,
        |       CAST(dense_rank() OVER w AS BIGINT) AS dr
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,

    "q_x_array_agg" ->
      """SELECT o_orderpriority,
        |       array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_x_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_x_intersect" ->
      """SELECT c_custkey FROM customer
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,

    "q_x_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,

    "q_x_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_x_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_x_session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts, value,
         |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
         |  FROM events),
         |l AS (
         |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
         |  FROM e),
         |f AS (
         |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 7200
         |                 THEN 1 ELSE 0 END AS is_new
         |  FROM l),
         |sess AS (
         |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
         |       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
         |  FROM f)
         |SELECT user_id, session_no,
         |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |       count(*) AS n_events,
         |       ${Num.dsumSql("value")} AS sum_value
         |FROM sess GROUP BY user_id, session_no
         |ORDER BY user_id, session_no""".stripMargin,

    "q_x_asof_event_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |m AS (
        |  SELECT *, max(CASE WHEN event_type = 'signup' THEN sec END)
        |         OVER (PARTITION BY user_id ORDER BY sec, event_id
        |               ROWS UNBOUNDED PRECEDING) AS asof_signup_sec
        |  FROM e)
        |SELECT event_id, user_id, sec, asof_signup_sec,
        |       sec - asof_signup_sec AS secs_since_signup
        |FROM m WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q_x_salted_join" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |       ${Num.dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Morton key replayed as 32 integer div/mod terms (ZOrder2.sql) —
    // no dialect bit operators, exact on both engines.
    "q_x_zorder" ->
      s"""WITH z AS (SELECT ${graft.functions.ZOrder2.sql("l_partkey", "l_suppkey")} AS z,
         |                  l_partkey, l_suppkey
         |           FROM lineitem)
         |SELECT (z // ${1L << 18}) AS z_bucket, count(*) AS n,
         |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,

    "q_x_range_frame" ->
      s"""SELECT event_id, user_id,
         |       CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         |       count(*) OVER w AS n_last_hour,
         |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_last_hour
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,

    "q_x_window_running" ->
      """SELECT event_id, user_id,
        |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n,
        |       value - coalesce(lag(value) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id), 0.0) AS delta
        |FROM events ORDER BY event_id""".stripMargin,

    // DuckDB evaluates the range predicate directly (IEJoin); results
    // must equal the binned equi-join exactly.
    "q_x_range_join_binned" ->
      s"""WITH i AS (
         |  SELECT o_orderkey AS i_id,
         |         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS start_sec,
         |         CAST(floor(epoch(o_orderdate)) AS BIGINT) + 604800 AS end_sec
         |  FROM orders WHERE o_orderkey % 997 = 0),
         |p AS (SELECT l_extendedprice,
         |             CAST(floor(epoch(l_shipdate)) AS BIGINT) AS sec
         |      FROM lineitem)
         |SELECT i_id, count(*) AS n_points,
         |       ${Num.dsumSql("l_extendedprice")} AS sum_price
         |FROM i JOIN p ON p.sec >= i.start_sec AND p.sec < i.end_sec
         |GROUP BY i_id ORDER BY i_id""".stripMargin,

    "q_a6_count_per_key" ->
      s"""SELECT o_orderkey, o_orderstatus, count(*) AS n_items, $dsumQty AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderkey, o_orderstatus
         |ORDER BY o_orderkey""".stripMargin,

    "q_x_quality_report" ->
      """SELECT * FROM (
        |  SELECT 'orders.o_orderkey.unique' AS "check",
        |         count(*) - count(DISTINCT o_orderkey) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.o_orderstatus.not_null',
        |         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem.l_quantity.in_(0,50]',
        |         CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey.fk_orders', count(*)
        |  FROM lineitem WHERE NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |ORDER BY "check"""".stripMargin,

    "q_x_upsert_snapshot" ->
      """WITH cur AS (SELECT o_orderkey AS key, o_orderstatus AS status,
        |                    round(o_totalprice, 6) AS price
        |             FROM orders),
        |chg AS (
        |  SELECT key, 'U' AS status, round(price + 1.0, 6) AS price,
        |         TRUE AS present
        |  FROM cur WHERE key % 10 = 0
        |  UNION ALL
        |  SELECT n_nationkey + 900000000, 'N', CAST(n_nationkey AS DOUBLE),
        |         TRUE
        |  FROM nation)
        |SELECT coalesce(cur.key, chg.key) AS key,
        |       CASE WHEN chg.present THEN chg.status ELSE cur.status END AS status,
        |       CASE WHEN chg.present THEN chg.price ELSE cur.price END AS price
        |FROM cur FULL JOIN chg ON cur.key = chg.key
        |ORDER BY key""".stripMargin,

    "q_x_approx_quantiles" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
        |       CAST(1 AS BIGINT) AS approx_within_rank_eps
        |FROM lineitem""".stripMargin,

    // Half-gate: the exact column must hash-match; the sketch is asserted
    // through the bounded-error verdict (1 iff |approx−exact| ≤ 5%·exact,
    // which HLL at rsd=0.02 satisfies with overwhelming margin).
    "q_x_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |       CAST(1 AS BIGINT) AS approx_within_5pct
        |FROM lineitem""".stripMargin,

    "q_x_scd2_history" ->
      """WITH e AS (SELECT user_id, event_type AS attr, ts, event_id FROM events),
        |l AS (SELECT *, lag(attr) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS prev
        |      FROM e),
        |c AS (SELECT user_id, attr, ts, event_id FROM l
        |      WHERE prev IS NULL OR prev <> attr),
        |v AS (SELECT user_id, attr, ts,
        |             lead(ts) OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS vt
        |      FROM c)
        |SELECT user_id, attr,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |       CAST(vt IS NULL AS BIGINT) AS is_current
        |FROM v ORDER BY user_id, valid_from, attr""".stripMargin,

    "q_x_ewma" ->
      s"""SELECT event_id, user_id, value, $ewmaSql AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY event_id""".stripMargin,

    "q_x_outliers_mad" ->
      """WITH x AS (SELECT l_returnflag, l_extendedprice AS x FROM lineitem),
        |m AS (SELECT l_returnflag, quantile_cont(x, 0.5) AS med
        |      FROM x GROUP BY l_returnflag),
        |d AS (SELECT x.l_returnflag, x.x, m.med FROM x JOIN m USING (l_returnflag)),
        |s AS (SELECT l_returnflag, quantile_cont(abs(x - med), 0.5) AS mad
        |      FROM d GROUP BY l_returnflag)
        |SELECT d.l_returnflag,
        |       round(max(d.med), 6) AS med,
        |       round(max(s.mad), 6) AS mad,
        |       count(*) AS n,
        |       CAST(sum(CASE WHEN abs(d.x - d.med) > 3.0 * 1.4826 * s.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN s USING (l_returnflag)
        |GROUP BY d.l_returnflag ORDER BY d.l_returnflag""".stripMargin,

    "q_x_attribution" ->
      """WITH a AS (
        |  SELECT event_id, event_type,
        |         coalesce(last_value(CASE WHEN event_type <> 'purchase'
        |                                  THEN event_type END IGNORE NULLS)
        |                  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                  'direct') AS channel
        |  FROM events),
        |p AS (SELECT channel FROM a WHERE event_type = 'purchase'),
        |t AS (SELECT count(*) AS total FROM p)
        |SELECT channel, count(*) AS n_purchases,
        |       round(count(*) / (SELECT total FROM t), 6) AS share
        |FROM p GROUP BY channel ORDER BY channel""".stripMargin,

    // GENERATED from FunnelStages — the same stage list, labels, and
    // strictly-after semantics the Spark operator runs.
    "q_x_funnel" -> {
      val ctes = FunnelStages.zipWithIndex.tail.map { case (st, i) =>
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(e.sec) AS t FROM ev e
           |  JOIN s$i ON e.user_id = s$i.user_id AND e.sec > s$i.t
           |  WHERE e.event_type = '$st' GROUP BY e.user_id)""".stripMargin
      }
      val unions = FunnelStages.zipWithIndex.map { case (st, i) =>
        s"SELECT '${i + 1}_$st' AS stage, count(*) AS n_users FROM s${i + 1}"
      }.mkString("\n  UNION ALL ")
      s"""WITH ev AS (SELECT user_id, event_type,
         |            CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
         |s1 AS (SELECT user_id, min(sec) AS t FROM ev
         |       WHERE event_type = '${FunnelStages.head}' GROUP BY user_id),
         |${ctes.mkString(",\n")},
         |counts AS (
         |  $unions)
         |SELECT stage, n_users,
         |       round(CAST(n_users AS DOUBLE) / (SELECT count(*) FROM s1), 6) AS pct_of_first
         |FROM counts ORDER BY stage""".stripMargin
    },

    "q_x_cohort_retention" ->
      """WITH ud AS (SELECT user_id,
        |            CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS day0 FROM ud GROUP BY user_id)
        |SELECT f.day0 // 7 AS cohort_week,
        |       (ud.day - f.day0) // 7 AS offset_week,
        |       count(DISTINCT ud.user_id) AS n_users
        |FROM ud JOIN f ON ud.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_x_basket_lift" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |pc AS (SELECT pk, count(*) AS n_pk FROM items GROUP BY pk),
         |n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
         |pairs AS (SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_co
         |          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |          GROUP BY a.pk, b.pk
         |          HAVING count(*) >= $BasketMinCo)
         |SELECT part_a, part_b, n_co,
         |       round(CAST(n_co AS DOUBLE) * (SELECT n_orders FROM n)
         |             / (ca.n_pk * cb.n_pk), 6) AS lift
         |FROM pairs
         |JOIN pc ca ON ca.pk = pairs.part_a
         |JOIN pc cb ON cb.pk = pairs.part_b
         |ORDER BY n_co DESC, lift DESC, part_a, part_b
         |LIMIT $BasketTopN""".stripMargin,

    "q_x_fuzzy_linkage" ->
      s"""WITH r1 AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
         |                            ORDER BY c_name, c_custkey) AS rn
         |  FROM customer),
         |r2 AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
         |                            ORDER BY reverse(c_name), c_custkey) AS rn
         |  FROM customer),
         |cand AS (
         |  SELECT least(a.c_custkey, b.c_custkey) AS key_a,
         |         greatest(a.c_custkey, b.c_custkey) AS key_b
         |  FROM r1 a JOIN r1 b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND b.rn BETWEEN a.rn + 1 AND a.rn + $LinkWindow
         |  UNION
         |  SELECT least(a.c_custkey, b.c_custkey),
         |         greatest(a.c_custkey, b.c_custkey)
         |  FROM r2 a JOIN r2 b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND b.rn BETWEEN a.rn + 1 AND a.rn + $LinkWindow)
         |SELECT p.key_a, p.key_b, a.c_name AS name_a, b.c_name AS name_b,
         |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         |FROM cand p
         |JOIN customer a ON a.c_custkey = p.key_a
         |JOIN customer b ON b.c_custkey = p.key_b
         |WHERE levenshtein(a.c_name, b.c_name) <= $LinkMaxDist
         |ORDER BY key_a, key_b""".stripMargin,

    "q_x_fuzzy_linkage_recall" ->
      s"""WITH cs AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         |  FROM customer WHERE c_custkey <= $LinkProbeCap),
         |r1 AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
         |                            ORDER BY c_name, c_custkey) AS rn
         |  FROM cs),
         |r2 AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
         |                            ORDER BY reverse(c_name), c_custkey) AS rn
         |  FROM cs),
         |cand AS (
         |  SELECT least(a.c_custkey, b.c_custkey) AS key_a,
         |         greatest(a.c_custkey, b.c_custkey) AS key_b
         |  FROM r1 a JOIN r1 b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND b.rn BETWEEN a.rn + 1 AND a.rn + $LinkWindow
         |  UNION
         |  SELECT least(a.c_custkey, b.c_custkey),
         |         greatest(a.c_custkey, b.c_custkey)
         |  FROM r2 a JOIN r2 b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND b.rn BETWEEN a.rn + 1 AND a.rn + $LinkWindow),
         |found AS (
         |  SELECT p.key_a, p.key_b FROM cand p
         |  JOIN cs a ON a.c_custkey = p.key_a
         |  JOIN cs b ON b.c_custkey = p.key_b
         |  WHERE levenshtein(a.c_name, b.c_name) <= $LinkMaxDist),
         |tru AS (
         |  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
         |  FROM cs a JOIN cs b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND a.c_custkey < b.c_custkey
         |  WHERE levenshtein(a.c_name, b.c_name) <= $LinkMaxDist)
         |SELECT (SELECT count(*) FROM tru) AS n_true,
         |       (SELECT count(*) FROM found) AS n_found,
         |       CASE WHEN (SELECT count(*) FROM tru) = 0 THEN 1.0
         |            ELSE round((SELECT count(*) FROM found)
         |                       / (SELECT count(*) FROM tru), 6) END AS recall""".stripMargin,

    "q_x_gap_fill" ->
      s"""WITH obs AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         |         round(${Num.dsumSql("value")}, 6) AS v
         |  FROM events WHERE event_type = 'view' AND user_id < $GapFillMaxUser
         |  GROUP BY 1, 2),
         |bounds AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM obs GROUP BY user_id),
         |spine AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM bounds),
         |j AS (SELECT s.user_id, s.hr, o.v
         |      FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.hr = s.hr),
         |w AS (SELECT user_id, hr, v,
         |        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
         |          ROWS UNBOUNDED PRECEDING) AS v_prev,
         |        max(CASE WHEN v IS NOT NULL THEN hr END) OVER (PARTITION BY user_id ORDER BY hr
         |          ROWS UNBOUNDED PRECEDING) AS h_prev,
         |        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
         |        min(CASE WHEN v IS NOT NULL THEN hr END) OVER (PARTITION BY user_id ORDER BY hr
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS h_next
         |      FROM j)
         |SELECT user_id, hr, v, v_prev AS v_locf,
         |       round(CASE WHEN v IS NOT NULL THEN v
         |                  WHEN v_prev IS NULL THEN v_next
         |                  WHEN v_next IS NULL THEN v_prev
         |                  ELSE v_prev + (v_next - v_prev) * (hr - h_prev) / (h_next - h_prev)
         |             END, 6) AS v_interp
         |FROM w ORDER BY user_id, hr""".stripMargin,

    "q_x_snapshot_diff" ->
      s"""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
         |           WHERE o_orderkey <= $SnapMaxKey),
         |olds AS (SELECT o_orderkey AS k, o_totalprice AS old_v FROM o
         |         WHERE o_orderkey % 10 <> $SnapOldExcl),
         |news AS (SELECT o_orderkey AS k,
         |                o_totalprice + CASE WHEN o_orderkey % $SnapBumpEvery = 0
         |                                    THEN 100.0 ELSE 0.0 END AS new_v
         |         FROM o WHERE o_orderkey % 10 <> $SnapNewExcl),
         |j AS (SELECT coalesce(olds.k, news.k) AS o_orderkey, old_v, new_v
         |      FROM olds FULL OUTER JOIN news ON olds.k = news.k),
         |c AS (SELECT o_orderkey,
         |             CASE WHEN old_v IS NULL THEN 'insert'
         |                  WHEN new_v IS NULL THEN 'delete'
         |                  WHEN old_v <> new_v THEN 'update'
         |                  ELSE 'same' END AS change,
         |             old_v, new_v
         |      FROM j)
         |SELECT o_orderkey, change, old_v, new_v FROM c
         |WHERE change <> 'same' ORDER BY o_orderkey""".stripMargin,

    // GENERATED from (CmDepth, CmWidth) — identical md5-derived buckets.
    "q_x_countmin" -> {
      val bucket = graft.functions.Hashing.md5LongSql(
        "concat('cm', CAST(i AS VARCHAR), ':', CAST(user_id AS VARCHAR))")
      s"""WITH exact AS (SELECT user_id, count(*) AS exact FROM events GROUP BY user_id),
         |probes AS (
         |  SELECT user_id, exact, i, ($bucket % $CmWidth) AS b
         |  FROM exact CROSS JOIN (SELECT unnest([${(0 until CmDepth).mkString(", ")}]) AS i)),
         |cells AS (SELECT i, b, CAST(sum(exact) AS BIGINT) AS cell FROM probes GROUP BY i, b)
         |SELECT p.user_id, p.exact, min(c.cell) AS est,
         |       min(c.cell) >= p.exact AS sketch_ok
         |FROM probes p JOIN cells c ON c.i = p.i AND c.b = p.b
         |GROUP BY p.user_id, p.exact
         |ORDER BY p.user_id""".stripMargin
    },

    // Single-node rank() face of the distributed average-rank AUC — the
    // tie-group average rank is rank() + (|ties| − 1)/2 on the oracle and
    // prefix-count + (|ties| + 1)/2 on the engine: identical values.
    "q_m_auc" -> {
      val posList = AucPosPriorities.map(p => s"'$p'").mkString(", ")
      s"""WITH sc AS (SELECT o_totalprice AS score,
         |                   CASE WHEN o_orderpriority IN ($posList) THEN 1 ELSE 0 END AS y
         |            FROM orders),
         |r AS (SELECT y,
         |             CAST(rank() OVER (ORDER BY score) AS DOUBLE)
         |               + (CAST(count(*) OVER (PARTITION BY score) AS DOUBLE) - 1) / 2 AS arank
         |      FROM sc),
         |a AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
         |             CAST(sum(1 - y) AS BIGINT) AS n_neg,
         |             ${Num.dsumSql("CASE WHEN y = 1 THEN arank ELSE 0 END")} AS rank_sum
         |      FROM r)
         |SELECT n_pos, n_neg,
         |       round((rank_sum - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
         |             / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
         |FROM a""".stripMargin
    },

    "q_m_calibration" -> {
      val posList = AucPosPriorities.map(p => s"'$p'").mkString(", ")
      s"""WITH sc AS (SELECT o_orderkey AS k, o_totalprice AS score,
         |                   CASE WHEN o_orderpriority IN ($posList) THEN 1 ELSE 0 END AS y
         |            FROM orders),
         |b AS (SELECT y, score,
         |             CAST(ntile(10) OVER (ORDER BY score, k) AS BIGINT) AS decile
         |      FROM sc)
         |SELECT decile, count(*) AS n_rows, CAST(sum(y) AS BIGINT) AS n_pos,
         |       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate,
         |       round(${Num.davgSql("score")}, 6) AS avg_score
         |FROM b GROUP BY decile ORDER BY decile""".stripMargin
    },

    "q_x_rolling_wau" ->
      s"""WITH ud AS (SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |                            user_id FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
         |c AS (SELECT user_id, day + k AS day_out
         |      FROM ud CROSS JOIN (SELECT unnest(range(0, $WauWindowDays)) AS k))
         |SELECT day_out, count(DISTINCT user_id) AS wau
         |FROM c, b WHERE day_out BETWEEN lo AND hi
         |GROUP BY day_out ORDER BY day_out""".stripMargin,

    "q_x_interval_overlap" ->
      s"""WITH iv AS (SELECT o_orderkey AS key,
         |                   CAST(floor(epoch(o_orderdate)) AS BIGINT) AS s,
         |                   CAST(floor(epoch(o_orderdate)) AS BIGINT) + $OverlapSpanSec AS e
         |            FROM orders WHERE o_orderkey <= $OverlapMaxKey),
         |bn AS (SELECT key, s, e,
         |              unnest(generate_series(s // $OverlapBinSec,
         |                                     (e - 1) // $OverlapBinSec)) AS bin
         |       FROM iv),
         |a AS (SELECT * FROM bn WHERE key % 2 = 0),
         |b AS (SELECT bin, key AS b_key, s AS b_s, e AS b_e FROM bn WHERE key % 2 = 1),
         |p AS (SELECT DISTINCT a.key AS a_key, b.b_key
         |      FROM a JOIN b ON a.bin = b.bin
         |      WHERE a.s < b.b_e AND b.b_s < a.e)
         |SELECT a_key, count(*) AS n_overlaps, min(b_key) AS first_b
         |FROM p GROUP BY a_key ORDER BY a_key""".stripMargin,

    "q_x_kanon" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
         |       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balance_band,
         |       count(*) AS n
         |FROM customer
         |GROUP BY 1, 2, 3
         |HAVING count(*) < $KAnonK
         |ORDER BY nation, segment, balance_band""".stripMargin,

    "q_x_period_over_period" ->
      s"""WITH rev AS (
         |  SELECT r_name,
         |         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS yyyymm,
         |         round(${Num.dsumSql("l_extendedprice * (1 - l_discount)")}, 6) AS revenue
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  JOIN region   ON n_regionkey = r_regionkey
         |  GROUP BY 1, 2)
         |SELECT r_name, yyyymm, revenue,
         |       lag(revenue, 1) OVER w AS prev_revenue,
         |       round(revenue - lag(revenue, 1) OVER w, 6) AS delta,
         |       round((revenue - lag(revenue, 1) OVER w) / lag(revenue, 1) OVER w, 6)
         |         AS pct_change
         |FROM rev
         |WINDOW w AS (PARTITION BY r_name ORDER BY yyyymm)
         |ORDER BY r_name, yyyymm""".stripMargin,

    // Single-node row_number() face of the distributed two-level rank —
    // identical i per row because (x, k) is a unique sort key.
    "q_x_gini" ->
      s"""WITH rev AS (SELECT o_custkey AS k,
         |                    round(${Num.dsumSql("o_totalprice")}, 6) AS x
         |             FROM orders GROUP BY o_custkey),
         |r AS (SELECT k, x,
         |             CAST(row_number() OVER (ORDER BY x, k) AS BIGINT) AS i
         |      FROM rev),
         |a AS (SELECT count(*) AS n_customers,
         |             ${Num.dsumSql("x")} AS tot,
         |             CAST(sum(CAST(x AS DECIMAL(18,6)) * CAST(i AS DECIMAL(12,0)))
         |                  AS DOUBLE) AS ix
         |      FROM r)
         |SELECT n_customers, round(tot, 6) AS total_revenue,
         |       round((2.0 * ix - (n_customers + 1) * tot)
         |             / (n_customers * tot), 6) AS gini
         |FROM a""".stripMargin,

    "q_x_markov_transitions" ->
      """WITH ev AS (SELECT user_id, event_type,
        |            CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |s AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY sec, event_type) AS to_type
        |      FROM ev),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM s
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q_x_benford" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT)
        |                             AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
        |SELECT digit, n,
        |       round(n / total, 6) AS p,
        |       round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
        |       round(abs(n / total - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
        |FROM c, t ORDER BY digit""".stripMargin,

    // Same cell/marginal/grand decomposition; expected is the exact
    // BIGINT marginal product over the double grand total, contrib is
    // rounded BEFORE the decimal chi2 sum — both engines total identical
    // 6-dp values.
    "q_x_chi_square" ->
      """WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
        |                      CAST(count(*) AS BIGINT) AS n
        |               FROM orders GROUP BY 1, 2),
        |g AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
        |             CAST(count(DISTINCT a) AS BIGINT) AS n_a,
        |             CAST(count(DISTINCT b) AS BIGINT) AS n_b FROM cells),
        |e AS (SELECT a, b, n, n_a, n_b,
        |             CAST(sum(n) OVER (PARTITION BY a) AS BIGINT) *
        |             CAST(sum(n) OVER (PARTITION BY b) AS BIGINT) / total AS expected
        |      FROM cells, g),
        |c AS (SELECT a, b, n, n_a, n_b, expected,
        |             round((n - expected) * (n - expected) / expected, 6) AS contrib
        |      FROM e),
        |t AS (SELECT round(CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE), 6)
        |             AS chi2 FROM c)
        |SELECT a AS o_orderstatus, b AS o_orderpriority, n,
        |       round(expected, 6) AS expected, round(contrib, 6) AS contrib,
        |       chi2, (n_a - 1) * (n_b - 1) AS dof
        |FROM c, t ORDER BY 1, 2""".stripMargin,

    // One conditional-aggregation pass; Σx² at DECIMAL(38,6); identical
    // closed-form t / Welch–Satterthwaite dof expression tree.
    "q_x_ttest_welch" ->
      """WITH a AS (SELECT
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN NOT (o_orderpriority = '1-URGENT') THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sx_a,
        |  CAST(sum(CAST(CASE WHEN NOT (o_orderpriority = '1-URGENT') THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sx_b,
        |  CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sxx_a,
        |  CAST(sum(CAST(CASE WHEN NOT (o_orderpriority = '1-URGENT') THEN o_totalprice * o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sxx_b
        |  FROM orders),
        |b AS (SELECT n_a, n_b,
        |             sx_a / n_a AS m_a, sx_b / n_b AS m_b,
        |             (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) AS v_a,
        |             (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) AS v_b FROM a),
        |c AS (SELECT *, v_a / n_a + v_b / n_b AS se2 FROM b)
        |SELECT n_a, n_b,
        |       round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
        |       round(v_a, 2) AS var_a, round(v_b, 2) AS var_b,
        |       round((m_a - m_b) / sqrt(se2), 6) AS t_stat,
        |       round(se2 * se2 /
        |             (v_a * v_a / (n_a * n_a * (n_a - 1)) +
        |              v_b * v_b / (n_b * n_b * (n_b - 1))), 6) AS welch_dof
        |FROM c""".stripMargin,

    "q_x_corr_matrix" -> corrMatrixSql,

    // Daily series, constant lag fan-out, date-key equi-join, explicit
    // decimal sufficient statistics — the same shape as the Spark plan.
    "q_x_acf_daily" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |                      round(${Num.dsumSql("o_totalprice")}, 6) AS x
         |               FROM orders GROUP BY 1),
         |l AS (SELECT unnest(generate_series(1, $AcfMaxLag)) AS lag),
         |f AS (SELECT daily.d, daily.x, l.lag, s.x AS y
         |      FROM daily, l JOIN daily s ON (daily.d + CAST(l.lag AS INTEGER)) = s.d),
         |a AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
         |             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         |             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         |             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
         |      FROM f GROUP BY lag)
         |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
         |       round((n * sxy - sx * sy) /
         |             sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
         |FROM a ORDER BY lag""".stripMargin,

    "q_x_ldiversity" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nation,
         |       c_mktsegment AS segment,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT)
         |         AS distinct_sensitive,
         |       CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
         |                      < $LDiversityL THEN 1 ELSE 0 END AS INTEGER) AS below_l
         |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // DuckDB dayofweek() is Sunday=0; +1 aligns with Spark's Sunday=1.
    "q_x_dow_seasonality" ->
      s"""WITH b AS (SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
         |                  CAST(count(*) AS BIGINT) AS n_orders,
         |                  ${Num.dsumSql("o_totalprice")} AS rev
         |           FROM orders GROUP BY 1),
         |t AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS n_tot,
         |             ${Num.dsumSql("rev")} AS rev_tot FROM b)
         |SELECT dow, n_orders, round(rev, 6) AS revenue,
         |       round(rev / rev_tot, 6) AS rev_share,
         |       round((rev / n_orders) / (rev_tot / n_tot), 6) AS "index"
         |FROM b, t ORDER BY dow""".stripMargin,

    // Monthly sums are decimal-exact and rounded before the sign
    // compare; S and n are integers, so tau is one double division —
    // identical on both engines.
    "q_x_mann_kendall" ->
      s"""WITH mm AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         |                  round(${Num.dsumSql("o_totalprice")}, 6) AS x
         |           FROM orders GROUP BY 1),
         |s AS (SELECT CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s_stat
         |      FROM mm a JOIN mm b ON a.m < b.m),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM mm)
         |SELECT n_months, s_stat,
         |       round(s_stat / (n_months * (n_months - 1) / 2.0), 6) AS tau
         |FROM n, s""".stripMargin,

    // Per-key counts reduced to integer aggregates; mean/top1/skew are
    // single double divisions of exact integers.
    "q_x_skew_report" ->
      s"""WITH c AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY 1),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |             CAST(sum(cnt) AS BIGINT) AS n_rows,
         |             CAST(max(cnt) AS BIGINT) AS max_cnt,
         |             CAST(min(cnt) AS BIGINT) AS min_cnt,
         |             CAST(sum(cnt) AS DOUBLE) / count(*) AS mean_cnt
         |      FROM c),
         |h AS (SELECT CAST(sum(CASE WHEN cnt >= mean_cnt * $SkewHotFactor
         |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
         |      FROM c, a)
         |SELECT n_keys, n_rows, max_cnt, min_cnt,
         |       round(mean_cnt, 6) AS mean_cnt,
         |       round(max_cnt / CAST(n_rows AS DOUBLE), 6) AS top1_share,
         |       round(max_cnt / mean_cnt, 6) AS skew_ratio,
         |       n_hot_keys
         |FROM a, h""".stripMargin,

    // Same bounded month-pair cross as Mann–Kendall; the median is the
    // continuous 0.5-quantile of the identical slope multiset, rounded
    // to 6 (interpolation-form fp differences sit far below that).
    "q_x_theil_sen" ->
      s"""WITH mm AS (SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
         |                        + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
         |                  round(${Num.dsumSql("o_totalprice")}, 6) AS x
         |           FROM orders GROUP BY 1),
         |p AS (SELECT (b.x - a.x) / (b.mi - a.mi) AS slope
         |      FROM mm a JOIN mm b ON a.mi < b.mi)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       round(quantile_cont(slope, 0.5), 6) AS slope_median
         |FROM p""".stripMargin,

    // Exact decimal daily sums; sufficient statistics through
    // DECIMAL(38,6); the anomaly filter runs on the ROUNDED z.
    "q_x_zscore_anomalies" ->
      s"""WITH dd AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |                  round(${Num.dsumSql("o_totalprice")}, 6) AS x
         |           FROM orders GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |              CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |              CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
         |       FROM dd),
         |z AS (SELECT CAST(d AS VARCHAR) AS day, x,
         |             round((x - sx / n) /
         |                   sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS z
         |      FROM dd, st)
         |SELECT day, x AS revenue, z FROM z WHERE abs(z) >= $ZMin ORDER BY day""".stripMargin,

    // Same s1..sN first-time ladder as the funnel oracle; each step is
    // one equi-join reduced to continuous quantiles of the identical
    // (t_b − t_a)/3600 hour values.
    "q_x_funnel_latency" -> {
      val ctes = FunnelStages.zipWithIndex.tail.map { case (st, i) =>
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(e.sec) AS t FROM ev e
           |  JOIN s$i ON e.user_id = s$i.user_id AND e.sec > s$i.t
           |  WHERE e.event_type = '$st' GROUP BY e.user_id)""".stripMargin
      }
      val steps = (0 until FunnelStages.size - 1).map { i =>
        val name = s"${i + 1}_${FunnelStages(i)}_to_${FunnelStages(i + 1)}"
        s"""SELECT '$name' AS step, CAST(count(*) AS BIGINT) AS n_users,
           |       round(quantile_cont((b.t - a.t) / 3600.0, 0.5), 6) AS median_hours,
           |       round(quantile_cont((b.t - a.t) / 3600.0, 0.9), 6) AS p90_hours
           |FROM s${i + 1} a JOIN s${i + 2} b ON a.user_id = b.user_id""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH ev AS (SELECT user_id, event_type,
         |            CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
         |s1 AS (SELECT user_id, min(sec) AS t FROM ev
         |       WHERE event_type = '${FunnelStages.head}' GROUP BY user_id),
         |${ctes.mkString(",\n")},
         |steps AS (
         |  $steps)
         |SELECT step, n_users, median_hours, p90_hours FROM steps ORDER BY step""".stripMargin
    },

    // One SELECT per profiled column, generated from the same column
    // list the Spark side uses; the money column renders through
    // DECIMAL(18,2) on both engines.
    "q_x_column_profile" -> {
      val selects = ProfileCols.map { c =>
        val (mn, mx) =
          if (c == "o_totalprice")
            (s"CAST(CAST(min($c) AS DECIMAL(18,2)) AS VARCHAR)",
             s"CAST(CAST(max($c) AS DECIMAL(18,2)) AS VARCHAR)")
          else (s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       $mn AS min_value, $mx AS max_value
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT * FROM (\n$selects\n) ORDER BY "column"""".stripMargin
    },

    "q_x_histogram" ->
      s"""WITH h AS (SELECT CAST(least(greatest(
         |             floor((o_totalprice - $HistLo) / ${(HistHi - HistLo) / HistBins}),
         |             0.0), ${(HistBins - 1).toDouble}) AS BIGINT) AS bucket
         |           FROM orders)
         |SELECT bucket,
         |       round($HistLo + bucket * ${(HistHi - HistLo) / HistBins}, 6) AS bucket_lo,
         |       round($HistLo + (bucket + 1) * ${(HistHi - HistLo) / HistBins}, 6) AS bucket_hi,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Half-gate: per-year month count + exact distinct hash-checked; the
    // merged-sketch estimate is asserted through the 5% verdict (HLL at
    // lgConfigK=12 carries ~1.6% rsd — overwhelming margin).
    "q_x_hll_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
        |         AS n_months,
        |       count(DISTINCT o_custkey) AS exact_custs,
        |       CAST(1 AS BIGINT) AS approx_within_5pct
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin
  )

  /** The DuckDB spelling of [[Analytics.corrMatrix]] over [[CorrCols]]:
    * one sufficient-statistics scan, one SELECT per unordered pair —
    * generated from the same column list so the pair set and formula
    * stay in lockstep with the Spark side.
    */
  private def corrMatrixSql: String = {
    def s1(c: String) = s"CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE) AS s_$c"
    def s2(a: String, b: String) =
      s"CAST(sum(CAST($a * $b AS DECIMAL(38,6))) AS DOUBLE) AS s_${a}_$b"
    val pairs = for { i <- CorrCols.indices; j <- i + 1 until CorrCols.size }
      yield (CorrCols(i), CorrCols(j))
    val aggs = (CorrCols.map(s1) ++ CorrCols.map(c => s2(c, c)) ++
      pairs.map { case (a, b) => s2(a, b) }).mkString(",\n  ")
    val selects = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS var_x, '$b' AS var_y, CAST(n AS BIGINT) AS n,
         |  round((n * s_${a}_$b - s_$a * s_$b) /
         |        sqrt((n * s_${a}_$a - s_$a * s_$a) *
         |             (n * s_${b}_$b - s_$b * s_$b)), 6) AS corr FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n,\n  $aggs\n  FROM lineitem)\n" +
      s"SELECT * FROM ($selects) ORDER BY var_x, var_y"
  }
}
