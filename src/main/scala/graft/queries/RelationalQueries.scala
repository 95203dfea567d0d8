package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator coverage over the TPC-H-ish fixtures — the
  * generalized form of every relational operator class in SURVEY.md §2
  * (scan, projection, filter/IN-list, inner/broadcast/semi/anti/outer
  * joins, partial+final aggregation, distinct, window functions, top-k,
  * set operations, scalar functions, conditional aggregation).
  *
  * Determinism discipline for the DuckDB hash-compare:
  *   - Sums of doubles go through DECIMAL casts (exact, order-independent)
  *     and are cast back to DOUBLE for the output schema; both sides of
  *     every oracle use the same construction.
  *   - Counts are BIGINT on both sides.
  *   - Every LIMIT is preceded by a total order with a unique tiebreak.
  *
  * Scale notes (100 TB):
  *   - Dimension joins (region/nation/supplier/customer) are broadcast —
  *     Catalyst picks BHJ under the threshold; the fact-fact join
  *     (orders ⋈ lineitem) shuffles on the join key and is the natural
  *     bucketing candidate.
  *   - All aggregates are two-phase hash aggregates (map-side partials),
  *     so the exchanges carry group cardinality, not row counts.
  *   - Date filters and IN-lists sit directly on scan columns →
  *     parquet min/max row-group pruning + dictionary pushdown.
  */
object RelationalQueries extends QueryGroup {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Exact, order-independent sum of a double expression: cast each value
    * to DECIMAL(25,6), sum exactly, present as DOUBLE. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(25,6)")).cast("double")
  private def dsumSql(e: String): String = s"CAST(sum(CAST($e AS DECIMAL(25,6))) AS DOUBLE)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A-series: partial+final aggregation over the big fact table (TPC-H Q1 shape)
    "q_agg_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // ---- J-series: 3-way join + agg + deterministic top-k (TPC-H Q3 shape)
    "q_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord  = t(s, dir, "orders").filter(col("o_orderdate") < lit("1999-01-01"))
      val li   = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // ---- broadcast dimension chain: revenue per nation (TPC-H Q5 shape)
    "q_nation_revenue" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val cust   = t(s, dir, "customer")
      val ord    = t(s, dir, "orders")
      val li     = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---- W-series: ranking window — top-3 orders per customer
    "q_window_topn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
    }),

    // ---- running-total window (exact decimal accumulation)
    "q_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(25,6)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
    }),

    // ---- value-based (RANGE) window frame: 30-day rolling spend per
    //      customer — the frame is defined by the ORDER value (day
    //      number), so tied order dates are peers and the frame is
    //      deterministic without a unique tiebreak; exact decimal sum
    "q_window_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val day = datediff(col("o_orderdate"), lit("1990-01-01"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(day)
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("rolling_spend",
          sum(col("o_totalprice").cast("decimal(25,6)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("rolling_spend"))
    }),

    // ---- distribution windows: ntile / percent_rank / cume_dist over a
    // high-cardinality partition key (o_custkey — parallelism scales with
    // customers, not a small enum domain). The (o_totalprice, o_orderkey)
    // ordering is a total order within each partition, so rank-based
    // measures are tie-free and engine-portable; percent_rank/cume_dist
    // are exact small-integer divisions — bit-identical across engines.
    "q_window_ntile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // ---- P-series: IN-list + range predicate, pushed to the parquet scan
    "q_filter_in" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1999-01-01"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))),

    // ---- left-semi join (EXISTS)
    "q_semi_join" -> ((s, dir) => {
      val withOrders = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      withOrders.groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    }),

    // ---- left-anti join (NOT EXISTS): customers with no urgent orders
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))),

    // ---- outer join preserving unmatched + conditional count
    "q_outer_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("spend"))),

    // ---- full outer join: per-nation customer/supplier counts, keeping
    //      nations present on either side only
    "q_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),

    // ---- set operations: symmetric difference of two customer predicates
    "q_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      val b = c.filter(col("c_acctbal") > 5000.0).select("c_custkey")
      a.union(b).distinct().except(a.intersect(b))
    }),

    // ---- distinct aggregation
    "q_distinct_parts" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))),

    // ---- scalar function surface (F1–F8): string ops, casts, rounding
    "q_scalar_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lc"),
        substring(col("p_name"), 1, 8).as("name8"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("long").as("name_len"),
        col("p_size").cast("double").as("size_d"),
        floor(col("p_retailprice")).cast("double").as("price_fl"))),

    // ---- string aggregation (LISTAGG family): deterministic by sorting
    //      the collected list before joining — raw listagg order is
    //      partition-dependent on any engine
    "q_string_agg" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          array_join(sort_array(collect_set(col("c_nationkey").cast("string"))), ",")
            .as("nations"))),

    // ---- histogram binning: fixed-width buckets over a numeric column
    //      (floor arithmetic — identical in both engines, no RNG)
    "q_histogram" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(floor(col("o_totalprice") / lit(50000.0)).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))),

    // large-order report (the TPC-H Q18 shape): aggregate the fact
    // table, HAVING-filter the aggregate, semi-join the survivors back
    // through orders to customers — the agg side shrinks BEFORE any
    // dimension join, so the joins carry only qualifying orders
    "q_big_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > BigOrderQty)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          col("o_totalprice"), col("sum_qty"))
    }),

    // equi-DEPTH twin of q_histogram: buckets bounded by exact
    // interpolated percentile cutpoints (rounded before comparison so
    // edge assignment is engine-reproducible); no global sort, no
    // single-partition window — one percentile agg + broadcast cuts
    "q_equidepth" -> ((s, dir) =>
      graft.operators.Distribution.equiDepthHistogram(
        t(s, dir, "orders"), "o_totalprice", 10)),

    // ---- conditional aggregation (CASE WHEN inside agg)
    "q_case_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))).as("spend_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"))),

    // ---- hierarchical aggregation: ROLLUP (grouping sets family)
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))),

    // ---- CUBE: all grouping combinations
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("spend"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("spend"))),

    // ---- pivot (wide conditional aggregation)
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))),

    // ---- exact percentiles (sort-based interpolating median/p90)
    "q_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"))),

    // ---- SQL surface: spark.sql with GROUPING SETS (not expressible in
    //      the DataFrame API directly — the declared-SQL entry path)
    "q_sql_grouping" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
                  coalesce(o_orderstatus, 'ALL') AS status,
                  count(*) AS n
           FROM orders_v
           GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
    }),

    // ---- correlated scalar subquery: orders 1.5x above their customer's
    //      average. Catalyst DECORRELATES this into an aggregate + join —
    //      the scale-safe plan — rather than per-row re-execution; the
    //      inner average goes through the exact-decimal sum so the
    //      threshold is bit-identical across engines and partitionings.
    "q_corr_subq" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_cs")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
           FROM orders_cs o1
           WHERE o_totalprice > 1.5 *
             (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                       / count(*)
              FROM orders_cs o2 WHERE o2.o_custkey = o1.o_custkey)""")
    }),

    // ---- skew-safe aggregation twin of q_salted_join: two-stage
    //      (key, salt) pre-aggregate spreads a hot key over `salt`
    //      reducers; exact and output-identical to the plain groupBy
    "q_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedCount(t(s, dir, "lineitem"), "l_returnflag")),

    // ---- sketch aggregates: HLL++ distinct estimation. HLL hashes are
    //      engine-specific, so the ESTIMATE itself can't be oracle-hashed
    //      — instead the query emits the exact counts plus booleans
    //      asserting the estimate lands within ±5% of exact, and the
    //      DuckDB oracle computes the exact counts and the expected
    //      `true`s. HLL is deterministic per dataset, so this is a
    //      stable, hash-verifiable claim about estimate quality.
    //      rsd = 0.02: the default 0.05 is a ONE-σ bound — measured −8.6%
    //      on this data (orders, flag N); at 0.02 the measured error is
    //      ≤ 1% at sf0.01 and ≤ 3.3% at sf0.1, and sketch state stays
    //      bounded (~16 KB per group).
    //      One single-distinct aggregate per key column (joined on the
    //      tiny group key) instead of one aggregate with two distinct
    //      groups: Spark plans the former Expand-free
    //      (planAggregateWithOneDistinct), the latter triples the scan
    //      rows through an Expand — measured 4.4 s → 2.7 s at sf0.1.
    "q_sketch_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val parts = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"))
      val orders = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
      parts.join(orders, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          col("ap").between(col("exact_parts") * 0.95, col("exact_parts") * 1.05)
            .as("parts_within_5pct"),
          col("ao").between(col("exact_orders") * 0.95, col("exact_orders") * 1.05)
            .as("orders_within_5pct"))
    }),

    // ---- quantile sketch (GK / approx_percentile): same bounds-oracle
    //      treatment — the sketch's median and p90 must land within ±5%
    //      of the exact interpolated quantiles. Bounded sketch state per
    //      group (vs a full sort for exact quantiles) is the 100 TB mode.
    "q_sketch_quantile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("exact_median"),
          expr("percentile(l_extendedprice, 0.9)").as("exact_p90"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("am"),
          expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("ap"))
        .select(col("l_returnflag"),
          round(col("exact_median"), 6).as("exact_median"),
          round(col("exact_p90"), 6).as("exact_p90"),
          col("am").between(col("exact_median") * 0.95, col("exact_median") * 1.05)
            .as("median_within_5pct"),
          col("ap").between(col("exact_p90") * 0.95, col("exact_p90") * 1.05)
            .as("p90_within_5pct"))),

    // ---- full ranking-window family: rank/dense_rank/percent_rank/
    //      cume_dist share a ties-allowed order (deterministic under
    //      ties); ntile needs a total order (tie-dependent otherwise)
    "q_window_ranks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ties = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderdate").asc)
      val total = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderpriority"), col("o_orderkey"),
        rank().over(ties).cast("long").as("rnk"),
        dense_rank().over(ties).cast("long").as("drnk"),
        // floor-scale, don't round: these are exact rationals k/(n-1)
        // whose decimal expansions can land on .5 boundaries where
        // Spark's repr-based HALF_UP and DuckDB's binary rounding differ
        floor(percent_rank().over(ties) * 1000000).cast("long").as("prnk"),
        floor(cume_dist().over(ties) * 1000000).cast("long").as("cdist"),
        ntile(4).over(total).cast("long").as("quartile"))
    }),

    // ---- date/time extraction + aggregation (calendar rollup shape)
    "q_date_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("spend"),
          // NTZ→TS→long: the session is pinned UTC, so wall-clock-as-UTC
          // epoch matches DuckDB's epoch() of the naive timestamp
          min(col("o_orderdate").cast("timestamp").cast("long")).as("first_ts"),
          max(col("o_orderdate").cast("timestamp").cast("long")).as("last_ts"))),

    // ---- string function breadth (F-series extension)
    "q_string_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        translate(col("p_type"), " ", "_").as("type_u"),
        reverse(col("p_name")).as("name_rev"),
        levenshtein(col("p_brand"), col("p_type")).cast("long").as("lev"),
        instr(col("p_type"), "BRASS").cast("long").as("brass_pos"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"))),

    // ---- regex function breadth: extract / extract-all / count / match
    //      (DuckDB's regexp family is RE2-compatible on these patterns)
    "q_regex_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        array_join(regexp_extract_all(col("p_name"), lit("([a-z]{5,})"), lit(1)), ",").as("long_words"),
        regexp_count(col("p_name"), lit("[aeiou]{2}")).cast("long").as("n_vowel_pairs"),
        col("p_type").rlike("^[A-Z]+ [A-Z]+").cast("long").as("type_two_caps"))),

    // ---- fuzzy string join (edit distance ≤ 2) via q-gram BLOCKING:
    //      collapse to the value dictionary, explode each name's distinct
    //      character bigrams, equi-join on the bigram, dedup candidate
    //      pairs, THEN verify levenshtein ≤ 2. Candidate volume is
    //      ∝ bigram-block collisions, never |dict|² — no nested-loop /
    //      cartesian anywhere in the plan (PlanSpec asserts). Blocking is
    //      COMPLETE here: one edit destroys ≤ 2 bigrams, so strings
    //      within distance k share ≥ |a|−1−2k bigrams — ≥ 1 whenever
    //      names are ≥ 6 chars (TPC-H p_names are ≥ 19). The length-diff
    //      ≤ 2 prefilter prunes candidates before the levenshtein.
    "q_fuzzy_join" -> ((s, dir) => {
      val names = t(s, dir, "part").groupBy("p_name").agg(count(lit(1)).as("n"))
      val bg = names.select(col("p_name"), col("n"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(length(col("p_name")) - 1, lit(1))),
          i => col("p_name").substr(i, lit(2))))).as("bg"))
      val a = bg.select(col("bg"), col("p_name").as("name_a"), col("n").as("n_a"))
      val b = bg.select(col("bg"), col("p_name").as("name_b"), col("n").as("n_b"))
      a.join(b, Seq("bg"))
        .where(col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 2)
        .select("name_a", "name_b", "n_a", "n_b").distinct()
        .where(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
          col("n_a"), col("n_b"))
    }),

    // ---- unpivot/melt: wide measure columns → long (measure, val) rows —
    //      the reshape feeding per-metric aggregation/plotting pipelines
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("measure"), col("val"))),

    // ---- statistical aggregates from exact decimal moments: mean/
    //      variance/stddev/corr computed from order-independent DECIMAL
    //      sums, so the doubles are bit-deterministic at any parallelism
    //      (plain stddev/corr accumulate doubles in partition order)
    "q_stats_agg" -> ((s, dir) => {
      val x = col("l_quantity"); val y = col("l_extendedprice")
      t(s, dir, "lineitem")
        // The fixture parquet has 3 row-groups → 3 scan tasks, and the
        // decimal moment sums are CPU-bound in the map-side partial agg.
        // dsum is order-independent by construction, so spreading rows
        // first is semantically free and recovers full parallelism
        // (measured 2×). At real scale input splits already match cores.
        .repartition(s.sparkContext.defaultParallelism)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(x).as("sx"), dsum(x * x).as("sx2"),
          dsum(y).as("sy"), dsum(y * y).as("sy2"),
          dsum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          // no round(), no pow(): every op below (/-*, sqrt) is IEEE
          // correctly-rounded, so identical formulas over the identical
          // decimal-exact sums give bit-identical doubles in both
          // engines (Math.pow is only 1-ulp-accurate — spelled as x*x)
          (col("sx") / col("n")).as("mean_qty"),
          (col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))).as("var_qty"),
          sqrt(col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))).as("sd_qty"),
          ((col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))) /
            (sqrt(col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))) *
             sqrt(col("sy2") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n"))))).as("corr_qp"))
    }),

    // ---- salted skewed join: output provably identical to the plain
    //      join (oracle is the plain SQL) while hot keys spread over
    //      `salt` tasks — the AQE-can't-help shape (skewed big side,
    //      small side too big to broadcast)
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, o, "l_orderkey", salt = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // ---- custom whole-operator path (tier-c): logical node + strategy +
    //      physical partial/final bounded heaps — row_number<=k semantics
    //      with the exchange carrying <= k rows per key per map task
    //      instead of the whole table (see graft.TopKPerKey scaladoc)
    "q_topk_op" -> ((s, dir) =>
      org.apache.spark.sql.graft.TopKOps.topKPerKey(
        t(s, dir, "orders"), keys = Seq("o_custkey"),
        order = Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))),

    // ---- bucketed co-located fact-fact join: both sides written
    //      bucketed+sorted on the join key (shuffle paid once at write
    //      time), then a zero-Exchange SortMergeJoin — the 100 TB shape
    //      for orders ⋈ lineitem (PlanSpec asserts the exchange count)
    "q_bucketed_join" -> ((s, dir) => {
      import graft.operators.Bucketing
      Bucketing.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        "g_li_bkt", "l_orderkey", 16)
      Bucketing.writeBucketed(
        t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        "g_o_bkt", "l_orderkey", 16)
      Bucketing.cogroupJoin(s, "g_li_bkt", "g_o_bkt", "l_orderkey",
          forceSortMerge = true)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- portable KMV distinct sketch (bounded mergeable state; same
    //      estimator reproducible in DuckDB — the oracle-checkable twin
    //      of q_sketch_distinct)
    "q_kmv_distinct" -> ((s, dir) => {
      import graft.dedup.Dedup.portableTokenHash
      import graft.operators.TypedAggregators.KMinValues
      val k = KmvK
      val kmv = udaf(new KMinValues(k), org.apache.spark.sql.Encoders.scalaLong)
      def estimate(sketch: Column): Column =
        when(size(sketch) < k, size(sketch).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble * math.pow(2, 60)) /
            element_at(sketch, k)).cast("long"))
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          kmv(portableTokenHash(col("l_partkey").cast("string"))).as("parts_sketch"),
          kmv(portableTokenHash(col("l_orderkey").cast("string"))).as("orders_sketch"))
        .select(col("l_returnflag"),
          estimate(col("parts_sketch")).as("kmv_parts"),
          estimate(col("orders_sketch")).as("kmv_orders"))
    }),

    // ---- column profiling (ingest sanity report): nulls /
    //      distinct / min / max per column, unpivoted to a row per
    //      column. Double columns are left out of the GATE list only
    //      because float→string rendering differs across engines; the
    //      operator itself takes any column set.
    "q_profile" -> ((s, dir) =>
      graft.operators.Profiling.profile(t(s, dir, "lineitem"), ProfileCols)),

    // ---- the 100 TB profiling mode on the gate: HLL distinct (bounded
    //      state, no Expand shuffle of every distinct value) checked
    //      against exact via a within-5% boolean — same bounds-oracle
    //      technique as q_sketch_distinct. The exact twin runs here ONLY
    //      to state the claim; production profiling at scale runs
    //      profile(exact = false) alone.
    "q_profile_approx" -> ((s, dir) => {
      import graft.operators.Profiling.profile
      val li = t(s, dir, "lineitem")
      val ex = profile(li, ProfileCols, exact = true)
        .select(col("col_name"), col("n_nulls"),
          col("n_distinct").as("exact_distinct"), col("min_val"), col("max_val"))
      // approx side = the production-mode scan: ONE distinct-only HLL
      // aggregate (rsd 0.02), unpivoted — no second nulls/min/max pass
      val wide = li.agg(
        approx_count_distinct(li(ProfileCols.head), 0.02).as("a0"),
        ProfileCols.tail.zipWithIndex.map { case (c, i) =>
          approx_count_distinct(li(c), 0.02).as(s"a${i + 1}") }: _*)
      val ap = wide.select(explode(array(ProfileCols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("col_name"), col(s"a$i").as("approx_distinct")) }: _*)).as("r"))
        .select(col("r.*"))
      ex.join(ap, Seq("col_name"))
        .select(col("col_name"), col("n_nulls"), col("exact_distinct"),
          col("min_val"), col("max_val"),
          col("approx_distinct").between(col("exact_distinct") * 0.95,
            col("exact_distinct") * 1.05).as("distinct_within_5pct"))
    }),

    // ---- z-order clustering key: each dimension min/max-normalized to
    //      the 2^16 grid (exact integer div), bits interleaved — the
    //      multi-dim data-skipping layout key (Delta/Iceberg OPTIMIZE
    //      ZORDER re-expressed as Column arithmetic). The layout's
    //      skipping effect is measured in ZOrderSpec via per-file footer
    //      rectangles; here the key itself is hash-verified.
    "q_zorder" -> ((s, dir) =>
      graft.operators.ZOrder.zOrdered(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          col("__z").as("zval"))),

    // ---- ...and the layout round-trip: rewrite clustered on z, read
    //      back through a box predicate on BOTH dimensions — the result
    //      must be exactly the plain filter (the clustering buys file
    //      skipping, never a different answer)
    "q_zorder_scan" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-zscan")
      graft.operators.ZOrder.writeZOrdered(t(s, dir, "lineitem"), path,
        "l_orderkey", "l_partkey", nFiles = 16)
      graft.FsOps.readParquet(s, path)
        .filter(col("l_orderkey").between(ZBox._1, ZBox._2) &&
                col("l_partkey").between(ZBox._3, ZBox._4))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    }),

    // ---- Bloom-pruned semi join: the selective dim side (urgent,
    //      high-value orders) is summarized as a broadcast bitset and
    //      fact rows that cannot match are dropped BEFORE the join's
    //      exchange. Semantically the plain semi join (Bloom has no
    //      false negatives; the exact join kills false positives) —
    //      which is exactly what the oracle verifies. BloomSpec asserts
    //      the pre-filter really prunes and stays superset-correct.
    "q_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > BloomDimPrice)
      graft.operators.BloomJoin.prunedSemiJoin(
          t(s, dir, "lineitem"), dim, Seq("l_orderkey" -> "o_orderkey"),
          numBits = 1 << 16)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // ---- pairwise Pearson correlation matrix over the fact table's
    //      numeric columns: ONE scan, ONE Expand-free aggregate of
    //      decimal co-moments; r derived per pair from the exact sums
    //      (builtin `corr`'s streaming double co-moments are
    //      order-dependent and not oracle-reproducible)
    "q_corr_matrix" -> ((s, dir) =>
      graft.operators.Profiling.correlationMatrix(t(s, dir, "lineitem"), CorrCols)),
  )

  /** q_bloom_join dim-side price floor — selective at every fixture SF. */
  val BloomDimPrice = 150000.0

  /** q_big_orders quantity floor — selective but nonempty at every SF. */
  val BigOrderQty = 150.0

  /** q_corr_matrix columns (the lineitem numeric measures). */
  val CorrCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q_zorder_scan box predicate (x0, x1, y0, y1) — nonzero matches at
    * every fixture scale factor. */
  val ZBox = (100L, 300L, 10L, 60L)

  /** Gate profiling column list. Double columns are left out only because
    * float→string rendering differs across engines; the operator itself
    * takes any column set. */
  val ProfileCols: Seq[String] =
    Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate")

  /** KMV sketch size: 64 minima → ~12% typical relative error, exact for
    * groups with < 64 distinct keys. */
  val KmvK = 64

  private def kmvOracleCol(keyExpr: String, alias: String): String =
    s"""(WITH h AS (SELECT DISTINCT l_returnflag AS rf,
                    ('0x' || substr(md5(CAST($keyExpr AS VARCHAR)), 1, 15))::BIGINT AS h
             FROM lineitem),
          r AS (SELECT rf, h, row_number() OVER (PARTITION BY rf ORDER BY h ASC) AS rn FROM h),
          s AS (SELECT rf, count(*) AS n, max(h) AS hk FROM r WHERE rn <= $KmvK GROUP BY rf)
      SELECT rf, CASE WHEN n < $KmvK THEN n
                      ELSE CAST(floor(${KmvK - 1} * 1152921504606846976.0 / hk) AS BIGINT)
                 END AS $alias FROM s)"""

  def oracles: Map[String, String] = Map(
    "q_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
                 ${dsumSql("l_quantity")} AS sum_qty,
                 ${dsumSql("l_extendedprice")} AS sum_base_price,
                 ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
                 ${dsumSql("l_quantity")} / count(*) AS avg_qty,
                 count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
          GROUP BY l_returnflag, l_linestatus""",

    "q_top_orders" ->
      s"""SELECT l_orderkey, o_orderpriority,
                 ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1999-01-01'
            AND l_shipdate  > TIMESTAMP '1997-01-01'
          GROUP BY l_orderkey, o_orderpriority
          ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",

    "q_nation_revenue" ->
      s"""SELECT n_name,
                 ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
                 count(*) AS n_items
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          GROUP BY n_name""",

    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""",

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate ASC, o_orderkey ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS running_spend
         FROM orders""",

    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                     OVER (PARTITION BY o_custkey
                           ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
                           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS rolling_spend
         FROM orders""",

    "q_window_ntile" ->
      """SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC)""",

    "q_filter_in" ->
      s"""SELECT l_returnflag, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
          FROM lineitem
          WHERE l_returnflag IN ('A', 'R')
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1999-01-01'
          GROUP BY l_returnflag""",

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_mktsegment""",

    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')""",

    "q_outer_join" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
                 ${dsumSql("coalesce(o_totalprice, 0.0)")} AS spend
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey""",

    "q_full_outer" ->
      """SELECT coalesce(c.k, s.k) AS nationkey,
                coalesce(c.n_cust, 0) AS n_cust,
                coalesce(s.n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
         FULL OUTER JOIN
              (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
         ON c.k = s.k""",

    "q_set_ops" ->
      """SELECT c_custkey FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
           UNION
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
         EXCEPT
         (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
          INTERSECT
          SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)""",

    "q_distinct_parts" ->
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag""",

    "q_scalar_funcs" ->
      """SELECT p_partkey,
                lower(p_name) AS name_lc,
                substring(p_name, 1, 8) AS name8,
                concat_ws('|', p_brand, p_type) AS brand_type,
                length(p_name) AS name_len,
                CAST(p_size AS DOUBLE) AS size_d,
                CAST(floor(p_retailprice) AS DOUBLE) AS price_fl
         FROM part""",

    "q_case_agg" ->
      s"""SELECT o_orderpriority, count(*) AS n,
                 ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")} AS spend_f,
                 CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open
          FROM orders GROUP BY o_orderpriority""",

    "q_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                 coalesce(l_linestatus, 'ALL') AS ls,
                 count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_cube" ->
      s"""SELECT coalesce(o_orderpriority, 'ALL') AS prio,
                 coalesce(o_orderstatus, 'ALL') AS status,
                 count(*) AS n, ${dsumSql("o_totalprice")} AS spend
          FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""",

    "q_pivot" ->
      """SELECT o_orderpriority,
                CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
                CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
                CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
         FROM orders GROUP BY o_orderpriority""",

    "q_sql_grouping" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
                coalesce(o_orderstatus, 'ALL') AS status,
                count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""",

    "q_corr_subq" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o1
         WHERE o_totalprice > 1.5 *
           (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                     / count(*)
            FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)""",

    "q_salted_agg" ->
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",

    "q_sketch_quantile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median,
                round(quantile_cont(l_extendedprice, 0.9), 6) AS exact_p90,
                true AS median_within_5pct,
                true AS p90_within_5pct
         FROM lineitem GROUP BY l_returnflag""",

    // exact counts are recomputed; the within-5pct booleans are the
    // CLAIM the gate verifies (Spark's HLL estimate must land inside)
    "q_sketch_distinct" ->
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS exact_parts,
                count(DISTINCT l_orderkey) AS exact_orders,
                true AS parts_within_5pct,
                true AS orders_within_5pct
         FROM lineitem GROUP BY l_returnflag""",

    "q_percentile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
                round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
         FROM lineitem GROUP BY l_returnflag""",

    "q_kmv_distinct" ->
      s"""SELECT p.rf AS l_returnflag, p.kmv_parts, o.kmv_orders
          FROM ${kmvOracleCol("l_partkey", "kmv_parts")} p
          JOIN ${kmvOracleCol("l_orderkey", "kmv_orders")} o ON p.rf = o.rf""",

    "q_bucketed_join" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority""",

    "q_salted_join" ->
      s"""SELECT o_orderstatus, count(*) AS n,
                 ${dsumSql("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus""",

    "q_window_ranks" ->
      """SELECT o_orderpriority, o_orderkey,
                CAST(rank() OVER w1 AS BIGINT) AS rnk,
                CAST(dense_rank() OVER w1 AS BIGINT) AS drnk,
                CAST(floor(percent_rank() OVER w1 * 1000000) AS BIGINT) AS prnk,
                CAST(floor(cume_dist() OVER w1 * 1000000) AS BIGINT) AS cdist,
                CAST(ntile(4) OVER w2 AS BIGINT) AS quartile
         FROM orders
         WINDOW w1 AS (PARTITION BY o_orderpriority ORDER BY o_orderdate ASC),
                w2 AS (PARTITION BY o_orderpriority
                       ORDER BY o_orderdate ASC, o_orderkey ASC)""",

    "q_date_agg" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                 CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                 count(*) AS n, ${dsumSql("o_totalprice")} AS spend,
                 CAST(floor(epoch(min(o_orderdate))) AS BIGINT) AS first_ts,
                 CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS last_ts
          FROM orders GROUP BY 1, 2""",

    "q_string_funcs" ->
      """SELECT p_partkey,
                lpad(p_brand, 12, '*') AS brand_pad,
                translate(p_type, ' ', '_') AS type_u,
                reverse(p_name) AS name_rev,
                CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev,
                CAST(strpos(p_type, 'BRASS') AS BIGINT) AS brass_pos,
                split_part(p_type, ' ', 1) AS type_head
         FROM part""",

    "q_string_agg" ->
      """SELECT c_mktsegment, count(*) AS n,
                array_to_string(list_sort(list_distinct(list(c_nationkey::VARCHAR))), ',') AS nations
         FROM customer GROUP BY c_mktsegment""",

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket, count(*) AS n
         FROM orders GROUP BY 1""",

    "q_big_orders" ->
      s"""WITH big AS (SELECT l_orderkey, ${dsumSql("l_quantity")} AS sum_qty
                       FROM lineitem GROUP BY 1
                       HAVING ${dsumSql("l_quantity")} > $BigOrderQty)
          SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_totalprice, b.sum_qty
          FROM orders o
          JOIN big b ON o.o_orderkey = b.l_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey""",

    "q_equidepth" ->
      s"""WITH cuts AS (SELECT list_transform(
                                 quantile_cont(o_totalprice,
                                   [${(1 until 10).map(i => s"0.$i").mkString(", ")}]),
                                 c -> round(c, 6)) AS cuts
                        FROM orders),
               b AS (SELECT o_totalprice AS v,
                            CAST(len(list_filter(cuts.cuts, c -> c < o_totalprice)) AS BIGINT) AS bucket
                     FROM orders CROSS JOIN cuts)
          SELECT bucket, count(*) AS n,
                 round(min(v), 6) AS lo, round(max(v), 6) AS hi
          FROM b GROUP BY bucket""",

    "q_regex_funcs" ->
      """SELECT p_partkey,
                regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
                coalesce(array_to_string(regexp_extract_all(p_name, '([a-z]{5,})', 1), ','), '') AS long_words,
                CAST(len(regexp_extract_all(p_name, '[aeiou]{2}')) AS BIGINT) AS n_vowel_pairs,
                (CASE WHEN regexp_matches(p_type, '^[A-Z]+ [A-Z]+') THEN 1 ELSE 0 END)::BIGINT AS type_two_caps
         FROM part""",

    "q_fuzzy_join" ->
      """WITH names AS (SELECT p_name, count(*) AS n FROM part GROUP BY p_name)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
                CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
                a.n AS n_a, b.n AS n_b
         FROM names a JOIN names b
           ON a.p_name < b.p_name
          AND abs(length(a.p_name) - length(b.p_name)) <= 2
          AND levenshtein(a.p_name, b.p_name) <= 2""",

    "q_unpivot" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, measure, val
         FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
                        FROM lineitem)
               ON l_quantity, l_extendedprice, l_discount INTO NAME measure VALUE val)""",

    "q_stats_agg" ->
      s"""SELECT l_returnflag, n,
                 sx/n AS mean_qty,
                 sx2/n - (sx/n)*(sx/n) AS var_qty,
                 sqrt(sx2/n - (sx/n)*(sx/n)) AS sd_qty,
                 (sxy/n - (sx/n)*(sy/n)) /
                   (sqrt(sx2/n - (sx/n)*(sx/n)) * sqrt(sy2/n - (sy/n)*(sy/n))) AS corr_qp
          FROM (SELECT l_returnflag, count(*) AS n,
                       ${dsumSql("l_quantity")} AS sx,
                       ${dsumSql("l_quantity * l_quantity")} AS sx2,
                       ${dsumSql("l_extendedprice")} AS sy,
                       ${dsumSql("l_extendedprice * l_extendedprice")} AS sy2,
                       ${dsumSql("l_quantity * l_extendedprice")} AS sxy
                FROM lineitem GROUP BY 1)""",

    "q_topk_op" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""",

    "q_profile" ->
      ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS VARCHAR) AS min_val,
                   CAST(max($c) AS VARCHAR) AS max_val
            FROM lineitem"""
      }.mkString("\n        UNION ALL\n        "),

    // exact measures recomputed; within-5pct boolean is the verified
    // claim about the HLL estimate (see q_sketch_distinct)
    "q_profile_approx" ->
      ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   count(DISTINCT $c) AS exact_distinct,
                   CAST(min($c) AS VARCHAR) AS min_val,
                   CAST(max($c) AS VARCHAR) AS max_val,
                   true AS distinct_within_5pct
            FROM lineitem"""
      }.mkString("\n        UNION ALL\n        "),

    "q_zorder" ->
      graft.operators.ZOrder.zOrderedSql("lineitem", "l_orderkey", "l_partkey",
        Seq("l_orderkey", "l_partkey", "l_linenumber")),

    // the layout changes WHERE rows live, never WHICH rows match
    "q_zorder_scan" ->
      s"""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
          FROM lineitem
          WHERE l_orderkey BETWEEN ${ZBox._1} AND ${ZBox._2}
            AND l_partkey BETWEEN ${ZBox._3} AND ${ZBox._4}""",

    // the Bloom pre-filter is semantically invisible: the oracle is the
    // plain semi join
    "q_bloom_join" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                               WHERE o_orderpriority = '1-URGENT'
                                 AND o_totalprice > $BloomDimPrice)
          GROUP BY l_returnflag""",

    // identical co-moment/derivation shapes term for term (exact decimal
    // sums → identical doubles → identical r)
    "q_corr_matrix" -> {
      def ds(e: String) = s"CAST(sum(CAST(round($e, 6) AS DECIMAL(27,6))) AS DOUBLE)"
      val pairs = for { i <- CorrCols.indices; j <- i + 1 until CorrCols.size }
        yield (i, j)
      val sums =
        CorrCols.zipWithIndex.map { case (c, i) => s"${ds(c)} AS s$i" } ++
        CorrCols.zipWithIndex.map { case (c, i) => s"${ds(s"$c * $c")} AS ss$i" } ++
        pairs.map { case (i, j) =>
          s"${ds(s"${CorrCols(i)} * ${CorrCols(j)}")} AS sp${i}_$j" } :+
        "CAST(count(*) AS DOUBLE) AS n"
      val rows = pairs.map { case (i, j) =>
        s"""SELECT '${CorrCols(i)}' AS col_a, '${CorrCols(j)}' AS col_b,
                   round((n * sp${i}_$j - s$i * s$j) /
                         (sqrt(n * ss$i - s$i * s$i) * sqrt(n * ss$j - s$j * s$j)), 6) AS r
            FROM m"""
      }
      s"""WITH m AS (SELECT ${sums.mkString(",\n                          ")}
                     FROM lineitem)
          ${rows.mkString("\n          UNION ALL\n          ")}"""
    },
  )
}
