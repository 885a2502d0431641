"""Relational operator library: filters/projections, joins (broadcast,
shuffle, semi/anti), aggregations, windows, sort/limit/top-k, set ops.

The reference framework has none of these natively — its entire query
surface is user map/reduce scripts (SURVEY.md §2, "operators the reference
does NOT have"). Here each operator is expressed declaratively so Catalyst
does pushdown/pruning/join-selection and AQE re-plans at runtime; the
docstrings note the physical plan we expect at 100 TB.

All builders take already-loaded DataFrames and return a DataFrame; the
query registry (`cloud_native_mapreduce_spark.registry`) wires them to the
driver tables and to DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.session import cut


# --- scans / filters / projections -----------------------------------------

def filter_project(lineitem: DataFrame) -> DataFrame:
    """Filter + projection. Physical plan requirement: the parquet scan must
    show PushedFilters for l_shipdate/l_discount and a 4-column ReadSchema —
    at 100 TB this is the difference between reading 4 columns of matching
    row groups and reading everything."""
    return (lineitem
            .where((F.col("l_shipdate") >= "1995-01-01")
                   & (F.col("l_discount") > 0.05))
            .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))


# --- aggregations -----------------------------------------------------------

def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: wide hash aggregate with map-side partial agg.
    One shuffle keyed on (returnflag, linestatus) — 6 groups, so the
    shuffle carries ~6 rows per map partition regardless of input size."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (lineitem
            .where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                 F.round(F.sum(charge), 2).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def agg_distinct(orders: DataFrame) -> DataFrame:
    """COUNT(DISTINCT) per group — Spark expands to a two-phase aggregate
    (partial distinct then merge); stays fully distributed."""
    return (orders
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n_customers"),
                 F.count("*").alias("n_orders"))
            .orderBy("o_orderpriority"))


def rollup_revenue(lineitem: DataFrame) -> DataFrame:
    """ROLLUP grouping-set aggregate (flag → flag+status → grand total)."""
    return (lineitem
            .rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.count("*").alias("n_rows"))
            .orderBy(F.col("l_returnflag").asc_nulls_first(),
                     F.col("l_linestatus").asc_nulls_first()))


def cube_quantity(lineitem: DataFrame) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    return (lineitem
            .cube("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
            .orderBy(F.col("l_returnflag").asc_nulls_first(),
                     F.col("l_linestatus").asc_nulls_first()))


# --- joins ------------------------------------------------------------------

def customer_order_totals(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Fact ⋈ dimension with an explicit broadcast hint: customer is the
    small side at any SF ratio (150 rows per 1500 orders per 6000 lineitems);
    broadcasting removes the shuffle of the orders fact table entirely."""
    return (orders
            .join(F.broadcast(customer),
                  orders.o_custkey == customer.c_custkey)
            .groupBy("c_custkey", "c_name", "c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_spent")))


def shipping_priority(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 shape: filter each input before joining (Catalyst pushes the
    predicates below the joins), broadcast the filtered customer keys, then
    aggregate. Deterministic top-10 via (revenue desc, orderdate, orderkey)."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (customer.where(F.col("c_mktsegment") == "BUILDING")
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .where(F.col("o_orderdate") < "1995-03-15")
            .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .where(F.col("l_shipdate") > "1995-03-15")
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(revenue), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(),
                     F.col("l_orderkey").asc())
            .limit(10))


def local_supplier_volume(region: DataFrame, nation: DataFrame,
                          customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. The dimension chain
    region→nation→{customer,supplier} broadcasts; only the
    lineitem⋈orders fact join shuffles. The customer-nation == supplier-
    nation equality is expressed as a join predicate, not a post-filter."""
    return (region.where(F.col("r_name") == "ASIA")
            .join(F.broadcast(nation),
                  F.col("r_regionkey") == F.col("n_regionkey"))
            .join(customer, F.col("n_nationkey") == F.col("c_nationkey"))
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .where((F.col("o_orderdate") >= "1996-01-01")
                   & (F.col("o_orderdate") < "1997-01-01"))
            .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("s_nationkey") == F.col("c_nationkey")))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name").asc()))


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT SEMI join — existence check without materializing the right side
    into the output (and without the duplicate-explosion of an inner join)."""
    return (customer
            .join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
            .select("c_custkey", "c_name", "c_mktsegment"))


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI join — the NOT EXISTS shape. Filter-before-join keeps the
    anti side small; the filtered orders side broadcasts."""
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return (customer
            .join(urgent, customer.c_custkey == urgent.o_custkey, "left_anti")
            .select("c_custkey", "c_name", "c_acctbal"))


def order_lineitem_join(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fact⋈fact shuffle join on the natural key. Both sides hash-partition
    on orderkey; at 100 TB this is the query you bucket both tables on
    (bucketBy(orderkey)) to eliminate — see sources/bucketing notes."""
    return (orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderstatus", "l_linestatus")
            .agg(F.count("*").alias("n_rows"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
            .orderBy("o_orderstatus", "l_linestatus"))


def range_join_price_band(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Non-equi (theta/range) join: lineitems whose extendedprice falls in a
    band around the part's retail price, with the equi-key carrying the join
    so the range predicate is a post-join filter, not a cartesian product."""
    return (lineitem
            .join(part, (F.col("l_partkey") == F.col("p_partkey"))
                  & (F.col("l_extendedprice") >= F.col("p_retailprice") * 0.5)
                  & (F.col("l_extendedprice") <= F.col("p_retailprice") * 2.0))
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_in_band"),
                 F.round(F.avg(F.col("l_extendedprice")
                               / F.col("p_retailprice")), 4)
                 .alias("avg_price_ratio"))
            .orderBy("p_brand"))


# --- window functions -------------------------------------------------------

def top_orders_per_customer(orders: DataFrame) -> DataFrame:
    """RANK window, keep rank<=3. Single shuffle on o_custkey; ties keep all
    tied rows in both engines, so the result is deterministic without a
    unique tiebreaker."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (orders
            .withColumn("rnk", F.rank().over(w))
            .where(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"), "rnk"))


def order_gaps(orders: DataFrame) -> DataFrame:
    """LAG/LEAD: per-customer order-date deltas in days."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_ts = F.lag("o_orderdate").over(w)
    return (orders.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        (F.datediff(F.col("o_orderdate").cast("date"),
                    prev_ts.cast("date"))).alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey")))


def running_revenue(orders: DataFrame) -> DataFrame:
    """Running-sum frame (rows unbounded preceding → current row) per
    customer over order date."""
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"))


# --- sort / limit / top-k ---------------------------------------------------

def top_lineitems(lineitem: DataFrame) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heap
    then a k-row merge on the driver; no global sort materialized. Ordering
    includes the unique (orderkey, linenumber) key for determinism."""
    return (lineitem
            .orderBy(F.col("l_extendedprice").desc(),
                     F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
            .limit(20)
            .select("l_orderkey", "l_linenumber",
                    F.round("l_extendedprice", 2).alias("l_extendedprice")))


# --- set operations ---------------------------------------------------------

def segment_set_ops(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """UNION/INTERSECT/EXCEPT: customers in BUILDING vs customers with
    URGENT orders, tagged by which set they fall in."""
    building = (customer.where(F.col("c_mktsegment") == "BUILDING")
                .select("c_custkey"))
    urgent = (orders.where(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c_custkey")).distinct())
    both = building.intersect(urgent).withColumn("tag", F.lit("both"))
    only_b = building.exceptAll(urgent.intersect(building)) \
                     .withColumn("tag", F.lit("building_only"))
    only_u = urgent.exceptAll(building.intersect(urgent)) \
                   .withColumn("tag", F.lit("urgent_only"))
    return both.unionByName(only_b).unionByName(only_u)


# --- scalar function showcase ----------------------------------------------

def scalar_functions(part: DataFrame) -> DataFrame:
    """String/math function surface over `part` — each expression is a
    built-in that stays inside whole-stage codegen."""
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.round(F.sqrt(F.col("p_retailprice")), 4).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 4).alias("price_log"),
        (F.col("p_size") % 7).cast("bigint").alias("size_mod7"),
        F.when(F.col("p_retailprice") > 1500, "premium")
         .when(F.col("p_retailprice") > 900, "standard")
         .otherwise("budget").alias("price_tier"))


def array_functions(part: DataFrame) -> DataFrame:
    """Array function surface over the split p_type words: size,
    membership, position, sort, join — all JVM-side builtins."""
    words = F.split(F.col("p_type"), " ")
    # array-valued OUTPUT columns are stringified: the driver's value-hash
    # (and DuckDB's pandas bridge) compares scalars — the array ops
    # themselves all run on real arrays
    return part.select(
        "p_partkey",
        F.array_join(words, " ").alias("type_words"),
        F.size(words).cast("bigint").alias("n_words"),
        F.array_contains(words, "BRUSHED").alias("has_brushed"),
        F.array_position(words, "STEEL").cast("bigint").alias("steel_pos"),
        F.array_join(F.sort_array(words), " ").alias("words_sorted"),
        F.array_join(F.reverse(words), "_").alias("rev_joined"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"))


def null_semantics(customer: DataFrame) -> DataFrame:
    """Null-handling surface: coalesce/nullif, null-safe equality,
    null-aware aggregation. acctbal==0 rows are nulled via nullif to
    create real nulls in the driver data."""
    bal = F.nullif(F.round("c_acctbal", 2), F.lit(0.0))
    return (customer
            .select("c_custkey",
                    bal.alias("bal_nullable"),
                    F.coalesce(bal, F.lit(-1.0)).alias("bal_or_default"),
                    bal.eqNullSafe(F.lit(None).cast("double"))
                       .alias("is_zero_bal"),
                    (F.col("c_nationkey") % 2 == 0).alias("even_nation")))


def date_functions(orders: DataFrame) -> DataFrame:
    """Date/time function surface over `orders`."""
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("order_year"),
        F.month(d).cast("bigint").alias("order_month"),
        F.dayofmonth(d).cast("bigint").alias("order_day"),
        F.date_trunc("month", d).alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd")
         .alias("due_date"),
        F.date_format(d, "yyyy-MM").alias("ym"))


# --- TPC-H-shaped additions --------------------------------------------------

def forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape: tight filter → single global sum. All three
    predicates push to the parquet scan (min/max row-group skipping on
    l_shipdate); the aggregate is a 1-row partial per partition, so the
    shuffle carries one row per map task regardless of input size."""
    return (lineitem
            .where((F.col("l_shipdate") >= "1995-01-01")
                   & (F.col("l_shipdate") < "1996-01-01")
                   & (F.col("l_discount") >= 0.05)
                   & (F.col("l_discount") <= 0.07)
                   & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                         2).alias("revenue")))


def returned_priority_counts(orders: DataFrame,
                             lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style left-semi join (orders with at least one
    returned lineitem) then count per priority. The semi join keeps only
    orderkeys — no lineitem payload crosses the shuffle — and duplicate
    returned lines per order cannot double-count."""
    returned = (lineitem.where(F.col("l_returnflag") == "R")
                .select("l_orderkey"))
    return (orders
            .where((F.col("o_orderdate") >= "1996-01-01")
                   & (F.col("o_orderdate") < "1996-07-01"))
            .join(returned, F.col("o_orderkey") == F.col("l_orderkey"),
                  "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"))
            .orderBy("o_orderpriority"))


def returned_item_report(customer: DataFrame, orders: DataFrame,
                         lineitem: DataFrame, nation: DataFrame) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer.
    Fact⋈fact (lineitem⋈orders) shuffles on orderkey; customer and nation
    broadcast. Top-20 with unique c_custkey tiebreaker.

    Revenue is summed as exact integer 1e-4 units (price cents ×
    (100 - discount%)): float sums are order-dependent across partitions
    and a group whose true value sits on a half-cent boundary would
    round differently per run — integer aggregation is associative, so
    the result is bit-identical under any partitioning."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    return (lineitem.where(F.col("l_returnflag") == "R")
            .join(orders.where((F.col("o_orderdate") >= "1996-01-01")
                               & (F.col("o_orderdate") < "1996-04-01")),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(customer),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(cents * (100 - disc_pct)).alias("rev_e4"))
            .orderBy(F.col("rev_e4").desc(), F.col("c_custkey").asc())
            .limit(20)
            .select("c_custkey", "c_name", "n_name",
                    (F.col("rev_e4") / 10000.0).alias("revenue")))


def big_volume_customers(customer: DataFrame, orders: DataFrame,
                         lineitem: DataFrame) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join. lineitem is reduced to
    per-order quantity totals BEFORE joining orders (the shuffle carries one
    row per order, not per line); the >140 filter then makes the join input
    tiny, and customer broadcasts."""
    big = (lineitem.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
           .where(F.col("total_qty") > 140))
    return (orders
            .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(customer),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "total_qty"))


def grouping_sets_revenue(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — includes a (l_linestatus) level neither
    ROLLUP nor CUBE of the same order would produce. Single shuffle: Spark
    expands the sets map-side and aggregates once."""
    return (lineitem
            .groupingSets([["l_returnflag", "l_linestatus"],
                           ["l_linestatus"], []],
                          "l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                 F.count("*").alias("n_rows"))
            .orderBy(F.col("l_returnflag").asc_nulls_first(),
                     F.col("l_linestatus").asc_nulls_first()))


def conditional_agg(orders: DataFrame) -> DataFrame:
    """Filtered/conditional aggregation: count_if + CASE-gated sums, one
    pass, map-side combine. The idiomatic replacement for N separate
    filtered scans."""
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT",
                    F.col("o_totalprice")).otherwise(F.lit(0.0))
    return (orders
            .groupBy("o_orderstatus")
            .agg(F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
                 F.round(F.sum(urgent), 2).alias("urgent_total"),
                 F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
                 F.count("*").alias("n_orders"))
            .orderBy("o_orderstatus"))


def percentile_prices(part: DataFrame) -> DataFrame:
    """Exact percentiles per brand (linear interpolation — same definition
    as DuckDB quantile_cont). Exact percentile needs the group's values
    together; at 100 TB swap in approx_percentile (t-digest, mergeable
    map-side) — same API shape, bounded memory."""
    # one array-form percentile aggregate (single value buffer per group,
    # not one per requested quantile)
    return (part.groupBy("p_brand")
            .agg(F.expr("percentile(p_retailprice, "
                        "array(0.25, 0.5, 0.75, 0.9))").alias("pcts"),
                 F.count("*").alias("n_parts"))
            .select("p_brand",
                    F.round(F.col("pcts").getItem(0), 4).alias("p25"),
                    F.round(F.col("pcts").getItem(1), 4).alias("p50"),
                    F.round(F.col("pcts").getItem(2), 4).alias("p75"),
                    F.round(F.col("pcts").getItem(3), 4).alias("p90"),
                    "n_parts")
            .orderBy("p_brand"))


# --- windows: range frames, distribution functions --------------------------

def rolling_revenue_30d(orders: DataFrame) -> DataFrame:
    """Time-based RANGE window frame: per-customer trailing-30-day revenue.
    RANGE (not ROWS) so tied order dates share one frame — deterministic
    under any shuffle order. One shuffle on o_custkey; frames evaluated
    with a sliding aggregate, not O(n²) rescans."""
    frame = ("OVER (PARTITION BY o_custkey ORDER BY o_orderdate "
             "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)")
    return orders.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.round(F.expr(f"sum(o_totalprice) {frame}"), 2).alias("rev_30d"),
        F.expr(f"count(*) {frame}").alias("n_orders_30d"))


def customer_value_tiles(customer: DataFrame) -> DataFrame:
    """Global ranking distribution (ntile/percent_rank/cume_dist over a
    total order with a unique tiebreaker) WITHOUT a single-partition
    window: a global ORDER BY window funnels every row through one task
    by construction, which is fatal at 100 TB.

    Distributed formulation:
      1. repartitionByRange on the sort key — each partition holds a
         contiguous, disjoint slice of the total order;
      2. row_number() windowed PER RANGE PARTITION (partitionBy the
         physical partition id — parallel, spillable);
      3. per-partition counts → prefix-sum offsets on a tiny P-row
         frame (broadcast inequality self-join, NOT another global
         window), so global_rank = range_offset + local_rank;
      4. ntile/percent_rank/cume_dist are pure arithmetic over
         (global_rank, total_count) because the tiebreaker makes the
         order tie-free: rank == row_number, cume_dist == rn/n.
    The ranked frame is materialized once (lazy localCheckpoint): the
    partition id must be identical for the rank pass and the count
    pass, and the barrier also stops a double range-shuffle."""
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    ranged = (customer.select("c_custkey", "c_acctbal")
              .repartitionByRange(*order)
              .withColumn("_pid", F.spark_partition_id()))
    w_local = Window.partitionBy("_pid").orderBy(*order)
    local = cut(ranged.withColumn("_lrn",
                                  F.row_number().over(w_local).cast("bigint")))
    counts = local.groupBy("_pid").agg(F.max("_lrn").alias("_cnt"))
    prior = counts.select(F.col("_pid").alias("_pid2"),
                          F.col("_cnt").alias("_cnt2"))
    offsets = (counts
               .join(F.broadcast(prior), F.col("_pid2") < F.col("_pid"),
                     "left")
               .groupBy("_pid")
               .agg(F.coalesce(F.sum("_cnt2"), F.lit(0)).alias("_off")))
    total = counts.agg(F.sum("_cnt").alias("_n"))
    ranked = (local.join(F.broadcast(offsets), "_pid")
              .join(F.broadcast(total))
              .withColumn("_rn", F.col("_off") + F.col("_lrn")))
    # ntile(4): first (n % 4) tiles get (n div 4)+1 rows, the rest
    # (n div 4) — exact integer arithmetic, identical to Spark/ANSI ntile
    quartile = F.expr(
        "CASE WHEN _rn <= (_n % 4) * ((_n div 4) + 1) "
        "THEN (_rn + (_n div 4)) div ((_n div 4) + 1) "
        "ELSE (_n % 4) + ((_rn - (_n % 4) * ((_n div 4) + 1) "
        "+ (_n div 4) - 1) div (_n div 4)) END")
    return ranked.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        quartile.cast("bigint").alias("quartile"),
        F.round(F.when(F.col("_n") > 1,
                       (F.col("_rn") - 1) / (F.col("_n") - 1))
                 .otherwise(F.lit(0.0)), 6).alias("pct_rank"),
        F.round(F.col("_rn") / F.col("_n"), 6).alias("cume"))


# --- scalar surface: maps, string aggregation -------------------------------

def map_functions(part: DataFrame) -> DataFrame:
    """Map-type function surface: construction, key/value extraction,
    lookup, str_to_map parsing — all JVM builtins; map columns themselves
    are flattened to scalars for the order-insensitive output contract."""
    m = F.create_map(F.lit("brand"), F.col("p_brand"),
                     F.lit("type"), F.col("p_type"))
    parsed = F.expr("str_to_map(concat('size:', p_size, ',tier:x'), ',', ':')")
    return part.select(
        "p_partkey",
        F.element_at(m, F.lit("brand")).alias("brand_val"),
        F.size(m).cast("bigint").alias("m_size"),
        F.array_join(F.map_keys(m), ",").alias("keys_joined"),
        F.array_join(F.map_values(m), "|").alias("vals_joined"),
        F.element_at(parsed, F.lit("size")).alias("size_str"))


def names_per_nation(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Ordered string aggregation per group (LISTAGG semantics): customer
    names per nation, alphabetical. collect_list is shuffle-order-
    nondeterministic, so sort in-array before joining — deterministic
    output without a global sort."""
    return (customer
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.array_join(F.array_sort(F.collect_list("c_name")), ",")
                 .alias("names"),
                 F.count("*").alias("n_customers"))
            .orderBy("n_name"))


# --- scalar surface round 2: regex, safe math, intervals, bitwise, ---------
# --- schema evolution -------------------------------------------------------

def regex_functions(documents: DataFrame) -> DataFrame:
    """Regex function surface over prose: global replace, count, match
    test, first-group extract — all RE2/Java-compatible patterns that
    stay JVM-side (no Python)."""
    t = F.col("text")
    return documents.select(
        "doc_id",
        F.regexp_replace(t, "[0-9]+", "#").alias("digits_masked"),
        F.regexp_count(t, F.lit("[aeiou]")).cast("bigint").alias("n_vowels"),
        t.rlike(r"\bthe\b").alias("has_the"),
        F.regexp_extract(t, "([a-z]+)", 1).alias("first_lower_run"))


def safe_math(part: DataFrame) -> DataFrame:
    """NULL-on-error arithmetic: try_divide (÷0 → NULL, not an exception
    or ±Inf) and try_cast — the ingestion-grade behavior for dirty data;
    a 100 TB job must not die on one malformed row."""
    return part.select(
        "p_partkey",
        F.try_divide(F.col("p_retailprice"), F.col("p_size") - 7)
         .alias("price_per_sizegap"),
        F.expr("try_cast(p_brand AS INT)").alias("brand_as_int"),
        F.expr("try_cast(regexp_extract(p_brand, '([0-9]+)', 1) AS INT)")
         .alias("brand_num"))


def interval_functions(orders: DataFrame) -> DataFrame:
    """Calendar-interval arithmetic: month addition (end-of-month
    clamped), quarter truncation, day deltas, last-day-of-month."""
    # dates are emitted as yyyy-MM-dd STRINGS: the pandas bridge turns
    # DuckDB DATEs into midnight timestamps, so raw date columns can
    # never value-match across engines
    d = F.col("o_orderdate")
    ymd = lambda c: F.date_format(c, "yyyy-MM-dd")
    return orders.select(
        "o_orderkey",
        ymd(F.add_months(d.cast("date"), 3)).alias("due_3mo"),
        ymd(F.trunc(d.cast("date"), "quarter")).alias("quarter_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date"))
         .cast("bigint").alias("days_to_eoy98"),
        ymd(F.last_day(d.cast("date"))).alias("month_end"))


def bitwise_agg(part: DataFrame) -> DataFrame:
    """Bitwise aggregate surface (bit_and/bit_or/bit_xor) — set-membership
    style rollups over integer flags."""
    return (part.groupBy("p_brand")
            .agg(F.expr("bit_and(p_size)").cast("bigint").alias("sz_and"),
                 F.expr("bit_or(p_size)").cast("bigint").alias("sz_or"),
                 F.expr("bit_xor(p_size)").cast("bigint").alias("sz_xor"),
                 F.count("*").alias("n"))
            .orderBy("p_brand"))


def schema_evolution_union(customer: DataFrame) -> DataFrame:
    """unionByName(allowMissingColumns=True): two schema versions of the
    same feed (v1 has names, v2 has balances) align by COLUMN NAME with
    NULL fill — positional UNION would silently mis-associate columns.
    The batch analogue of schema evolution at ingest."""
    v1 = (customer.where(F.col("c_custkey") % 2 == 0)
          .select("c_custkey", "c_name"))
    v2 = (customer.where(F.col("c_custkey") % 2 == 1)
          .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal")))
    return v1.unionByName(v2, allowMissingColumns=True)


def promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: promo-revenue share per month. Part broadcasts;
    both the CASE-gated and total revenue come out of ONE aggregate pass.
    Revenue in exact integer 1e-4 units (associative — deterministic
    under any partitioning); the single ratio division happens last."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    rev_e4 = cents * (100 - disc_pct)
    promo = F.when(F.col("p_type").startswith("PROMO"), rev_e4) \
             .otherwise(F.lit(0).cast("bigint"))
    return (lineitem
            .where((F.col("l_shipdate") >= "1996-01-01")
                   & (F.col("l_shipdate") < "1997-01-01"))
            .join(F.broadcast(part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
            .agg(F.sum(promo).alias("promo_e4"),
                 F.sum(rev_e4).alias("total_e4"))
            .select("ship_month",
                    F.round(F.col("promo_e4") * 100.0 / F.col("total_e4"), 4)
                     .alias("promo_pct"),
                    (F.col("total_e4") / 10000.0).alias("total_revenue"))
            .orderBy("ship_month"))


def disjunctive_predicate_revenue(lineitem: DataFrame,
                                  part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: three OR-branches of correlated (brand, size,
    quantity) conditions. The equi-join key (partkey) is extracted so the
    join stays a broadcast-hash join; the OR-tree is a post-join filter —
    never a cartesian. Revenue exact in 1e-4 units."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    branch = (
        (brand == "Brand#12") & (size.between(1, 15)) & (qty.between(1, 11))
    ) | (
        (brand == "Brand#23") & (size.between(1, 30)) & (qty.between(10, 20))
    ) | (
        (brand == "Brand#34") & (size.between(1, 50)) & (qty.between(20, 30))
    )
    return (lineitem
            .join(F.broadcast(part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .where(branch)
            .agg((F.sum(cents * (100 - disc_pct)) / 10000.0)
                 .alias("revenue"),
                 F.count("*").alias("n_lines")))


def deterministic_sample(docs: DataFrame) -> DataFrame:
    """Systematic 1/16 sample by content-independent key hash
    (md5(doc_id) first hex char = '0'). Unlike `df.sample`, the selection
    is a pure function of the key — stable across engines, retries, and
    partitioning — which is what debugging/holdout splits of a 100 TB
    pipeline need (rerun = same sample; join two samples = consistent
    rows)."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (docs.where(bucket == "0")
            .select("doc_id", "lang", "source", "n_chars"))


def window_value_functions(orders: DataFrame) -> DataFrame:
    """first_value/last_value/nth_value per customer ordered by date.
    last_value needs the FULL-partition frame — the default frame ends at
    CURRENT ROW, which silently returns the running last, a classic
    correctness trap."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    w_full = w.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.first_value(F.col("o_orderkey")).over(w_full)
         .alias("first_order"),
        F.last_value(F.col("o_orderkey")).over(w_full).alias("last_order"),
        F.nth_value(F.col("o_orderkey"), 2).over(w_full)
         .alias("second_order"))


def price_histogram(orders: DataFrame) -> DataFrame:
    """Fixed-width histogram via pure arithmetic bucketing (floor of
    price/width) — one hash aggregate, no sort; the bucketing expression
    is engine-portable unlike width_bucket variants."""
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return (orders
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi"))
            .orderBy("bucket"))


def lateral_topk(spark, nation: DataFrame, customer: DataFrame) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by balance per
    nation. Catalyst decorrelates the LATERAL into a window/join plan —
    the per-outer-row subquery never executes row-at-a-time. The window
    formulation (`topk_per_group`) is the same plan written by hand;
    this pins the SQL surface."""
    nation.createOrReplaceTempView("cnms_lat_nation")
    customer.createOrReplaceTempView("cnms_lat_customer")
    return spark.sql("""
        SELECT n.n_name, t.c_custkey, t.acctbal
        FROM cnms_lat_nation n,
        LATERAL (SELECT c_custkey, round(c_acctbal, 2) AS acctbal
                 FROM cnms_lat_customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC
                 LIMIT 2) t
        ORDER BY n.n_name, t.acctbal DESC, t.c_custkey ASC
    """)


def volume_shipping(supplier: DataFrame, lineitem: DataFrame,
                    orders: DataFrame, customer: DataFrame,
                    nation: DataFrame) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, by direction
    and year. The nation dimension broadcasts TWICE under different
    aliases (supplier side / customer side); the cross-nation pair filter
    is a join-level predicate so no symmetric duplicate survives.
    Revenue exact in 1e-4 units."""
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"),
                       F.col("n_name").alias("cust_nation"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    pair = ((F.col("supp_nation") == "NATION_1")
            & (F.col("cust_nation") == "NATION_2")) | \
           ((F.col("supp_nation") == "NATION_2")
            & (F.col("cust_nation") == "NATION_1"))
    return (lineitem
            .where((F.col("l_shipdate") >= "1995-01-01")
                   & (F.col("l_shipdate") < "1997-01-01"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(supplier),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(customer),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
            .where(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg(F.sum(cents * (100 - disc_pct)).alias("rev_e4"))
            .select("supp_nation", "cust_nation", "l_year",
                    (F.col("rev_e4") / 10000.0).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


def top_supplier(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum revenue — the classic
    view + WHERE total = (SELECT max(...)) pattern. The max is a scalar
    aggregate broadcast back onto the per-supplier frame (keeps ties),
    so the fact table is scanned ONCE and no single-partition rank
    window exists: supplier cardinality scales with the corpus, and a
    global ORDER BY window would funnel every supplier row through one
    task. Exact integer revenue units."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    # two consumers below (scalar max + join back); cut the small
    # per-supplier frame once instead of scanning lineitem twice
    rev = cut(lineitem
              .where((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1996-04-01"))
              .groupBy("l_suppkey")
              .agg(F.sum(cents * (100 - disc_pct)).alias("rev_e4")))
    best_e4 = rev.agg(F.max("rev_e4").alias("best_e4"))
    best = (rev.join(F.broadcast(best_e4),
                     F.col("rev_e4") == F.col("best_e4"))
            .drop("best_e4"))
    return (best.join(F.broadcast(supplier),
                      F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    (F.col("rev_e4") / 10000.0).alias("total_revenue"))
            .orderBy("s_suppkey"))


def idle_rich_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    URGENT order — scalar subquery (global avg) + anti join against a
    pre-filtered orders side (the filter rides into the anti join's
    build side), grouped by a derived key (name suffix as the 'country
    code' stand-in)."""
    avg_bal = (customer.where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("a")))
    rich = (customer.join(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("a")))
    no_orders = rich.join(
        orders.where(F.col("o_orderpriority") == "1-URGENT"),
        F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    grp = F.substring("c_name", -1, 1)
    return (no_orders
            .groupBy(grp.alias("name_tail"))
            .agg(F.count("*").alias("n_custs"),
                 F.round(F.sum(F.round("c_acctbal", 2)), 2)
                  .alias("total_bal"))
            .orderBy("name_tail"))


def balance_zscore_outliers(customer: DataFrame) -> DataFrame:
    """Per-nation z-score outliers — the windowed anomaly-detection
    shape: group stats via an aggregate window (no join-back, one
    shuffle on the partition key), then filter on the standardized
    value."""
    w = Window.partitionBy("c_nationkey")
    mu = F.avg("c_acctbal").over(w)
    sd = F.stddev_samp("c_acctbal").over(w)
    z = (F.col("c_acctbal") - mu) / sd
    return (customer
            .select("c_custkey", "c_nationkey",
                    F.round("c_acctbal", 2).alias("acctbal"),
                    (F.round(z, 4) + F.lit(0.0)).alias("zscore"))
            .where(F.abs(F.col("zscore")) > 1.8)
            .orderBy("c_custkey"))


def customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by order count, INCLUDING
    zero-order customers (the left join is the point of the query).

    Plan: pre-aggregate orders to one row per customer FIRST (shuffle
    carries |active customers| rows, not |orders|), left-join customer
    onto that compact frame, then a second small hash aggregate over the
    counts. Both sides of the join scale with |customers|, so it's a
    plain shuffle join — AQE localizes it at small SF; at 100 TB it
    stays a co-partitioned sort-merge on custkey."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("c_count"))
    return (customer
            .join(per_cust, F.col("c_custkey") == F.col("o_custkey"),
                  "left")
            .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
            .groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


def small_quantity_revenue(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    average quantity, for one brand.

    The correlated `l_quantity < 0.2 * avg(l_quantity per part)` is
    rewritten in EXACT integer arithmetic: quantities are integral, so
    `qty < sum_qty / (5 * cnt)` becomes `qty * 5 * cnt < sum_qty` —
    no float threshold that could flip a boundary row between engines.
    Plan: brand filter broadcasts onto lineitem once; the per-part
    (sum, count) aggregate is computed from that SAME filtered frame
    (checkpointed so the fact scan happens once) and joined back on
    partkey — partkey-bounded build side, no window."""
    brand_items = cut(lineitem
                      .join(F.broadcast(part.where(F.col("p_brand")
                                                   == "Brand#3")),
                            F.col("l_partkey") == F.col("p_partkey"))
                      .select("l_partkey", "l_quantity", "l_extendedprice"))
    per_part = brand_items.groupBy(
        F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count("*").alias("n_items"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (brand_items
            .join(per_part, F.col("l_partkey") == F.col("agg_partkey"))
            .where(F.col("l_quantity").cast("bigint") * 5 * F.col("n_items")
                   < F.col("sum_qty"))
            .agg((F.sum(cents) / 100.0 / 7.0).alias("avg_yearly_e2"))
            .select(F.round("avg_yearly_e2", 2).alias("avg_yearly")))


def market_share(region: DataFrame, nation: DataFrame, customer: DataFrame,
                 supplier: DataFrame, part: DataFrame, orders: DataFrame,
                 lineitem: DataFrame) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of ECONOMY-part revenue
    sold to AMERICA-region customers, by order year.

    The share is a conditional aggregate over ONE joined frame (sum-if /
    sum), never two scans. Join order: part filter broadcasts onto
    lineitem first (cuts the fact stream before the fact-fact shuffle
    with orders), customer joins on custkey (shuffle — customer scales),
    nation+region broadcast as true dimensions on both the customer and
    supplier sides. Exact cents; share rounded once at the end."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    n_cust = (nation.join(F.broadcast(region),
                          (F.col("n_regionkey") == F.col("r_regionkey"))
                          & (F.col("r_name") == "AMERICA"))
              .select(F.col("n_nationkey").alias("cust_nkey")))
    n_supp = nation.select(F.col("n_nationkey").alias("supp_nkey"),
                           F.col("n_name").alias("supp_nation"))
    joined = (lineitem
              .join(F.broadcast(part.where(F.col("p_type") == "ECONOMY")),
                    F.col("l_partkey") == F.col("p_partkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(customer, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n_cust),
                    F.col("c_nationkey") == F.col("cust_nkey"))
              .join(F.broadcast(supplier),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(n_supp),
                    F.col("s_nationkey") == F.col("supp_nkey")))
    vol = (cents * (100 - disc_pct)).alias("vol_e4")
    return (joined
            .select(F.year("o_orderdate").cast("bigint").alias("o_year"),
                    F.col("supp_nation"), vol)
            .groupBy("o_year")
            .agg(F.sum(F.when(F.col("supp_nation") == "NATION_1",
                              F.col("vol_e4")).otherwise(F.lit(0)))
                  .alias("target_e4"),
                 F.sum("vol_e4").alias("total_e4"))
            .select("o_year",
                    F.round(F.col("target_e4") / F.col("total_e4"), 6)
                     .alias("mkt_share"))
            .orderBy("o_year"))


def top_users_per_day(events: DataFrame, k: int = 3) -> DataFrame:
    """Daily leaderboard: value totals per (day, user), rank within the
    day, keep top-k. WindowGroupLimit prunes non-contenders before the
    rank shuffle; totals in exact integer cents."""
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (events
             .groupBy(day.alias("day"), "user_id")
             .agg(F.sum(cents).alias("cents")))
    w = Window.partitionBy("day").orderBy(
        F.col("cents").desc(), F.col("user_id").asc())
    return (daily.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("day", "user_id",
                    (F.col("cents") / 100.0).alias("total_value"),
                    F.col("rnk").cast("bigint").alias("rnk"))
            .orderBy("day", "rnk"))


def waiting_sole_slow_suppliers(lineitem: DataFrame,
                                orders: DataFrame,
                                slow_days: int = 90,
                                k: int = 20) -> DataFrame:
    """TPC-H Q21 shape on this schema: suppliers who were the SOLE slow
    supplier on a multi-supplier finished order ("slow" = line shipped
    more than `slow_days` after the order date), scored by their slow
    line count over such orders — the classic double-correlated
    EXISTS / NOT-EXISTS query.

    Plan: the correlated subqueries are REWRITTEN into one pass of
    per-(order, supplier) then per-order aggregates — has_slow /
    n_late per pair, supplier count and slow-supplier count per order
    — followed by one keyed join back; the registry oracle keeps the
    LITERAL EXISTS/NOT-EXISTS formulation, so the value-level match
    proves the rewrite. At 100 TB this is the difference between two
    extra fact-fact semi/anti joins (each a full lineitem shuffle) and
    map-side-combining aggregates on keys the first join already
    clustered. Top-k via TakeOrdered, ties on suppkey.
    """
    fin = orders.where(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    j = (lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
         .join(fin, F.col("l_orderkey") == F.col("o_orderkey"))
         .withColumn(
             "slow",
             (F.col("l_shipdate")
              > F.col("o_orderdate") + F.expr(
                  f"INTERVAL {slow_days} DAYS")).cast("int")))
    per_os = (j.groupBy("l_orderkey", "l_suppkey")
              .agg(F.max("slow").alias("has_slow"),
                   F.sum("slow").alias("n_late")))
    per_o = (per_os.groupBy("l_orderkey")
             .agg(F.count("*").alias("n_supp"),
                  F.sum("has_slow").alias("n_slow")))
    qual = (per_os.where(F.col("has_slow") == 1)
            .join(per_o.where((F.col("n_supp") >= 2)
                              & (F.col("n_slow") == 1)),
                  "l_orderkey"))
    return (qual.groupBy(F.col("l_suppkey").alias("suppkey"))
            .agg(F.sum("n_late").cast("bigint").alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("suppkey").asc())
            .limit(k))


def min_cost_supplier(part: DataFrame, supplier: DataFrame,
                      nation: DataFrame,
                      lineitem: DataFrame) -> DataFrame:
    """TPC-H Q2 shape on this schema (no partsupp table: lineitem is
    the part↔supplier "offer" relation; unit cost = extendedprice per
    unit). For each ECONOMY part of size <= 10, the supplier(s)
    offering the MINIMUM unit cost — the classic correlated-MIN
    subquery, rewritten Spark-side as one per-(part,supplier)
    aggregate + a per-part min + an equality join-back (two hash
    aggregates and one keyed join instead of a per-row rerun of the
    subquery; ties survive, exactly like Q2's). The oracle keeps the
    literal correlated formulation, so the value-level match proves
    the rewrite.

    Unit cost is EXACT integer micro-units: (price_cents * 10000) DIV
    qty — integer division, aggregation-order independent, identical
    in Spark (`DIV`) and DuckDB (`//`); no double division whose
    rounding could differ at a boundary."""
    cost_e6 = F.expr("(CAST(round(l_extendedprice * 100) AS BIGINT) "
                     "* 10000) DIV CAST(round(l_quantity) AS BIGINT)")
    # feeds both the per-part min and the join-back
    offers = cut(lineitem
                 .select("l_partkey", "l_suppkey", cost_e6.alias("c"))
                 .groupBy("l_partkey", "l_suppkey")
                 .agg(F.min("c").alias("cost_e6")))
    best = offers.groupBy("l_partkey").agg(F.min("cost_e6").alias("best"))
    sel_part = part.where((F.col("p_type") == "ECONOMY")
                          & (F.col("p_size") <= 10))
    return (offers
            .join(best, ["l_partkey"])
            .where(F.col("cost_e6") == F.col("best"))
            .join(F.broadcast(sel_part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(supplier),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("p_partkey", "s_suppkey", "s_name", "n_name",
                    (F.col("cost_e6") / 1000000.0).alias("unit_cost"))
            .orderBy("p_partkey", "s_suppkey"))


def late_shipment_priority(lineitem: DataFrame,
                           orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape on this schema (no l_shipmode/receiptdate:
    l_returnflag is the mode class, "late" = shipped more than 90 days
    after the order date). One fact-fact join + conditional FILTER
    aggregate splitting the priority classes — Q12's
    critical/non-critical split. Counts are integers, trivially
    exact."""
    late = (lineitem
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .where((F.col("o_orderdate") >= "1995-01-01")
                   & (F.col("o_orderdate") < "1997-01-01")
                   & (F.col("l_shipdate")
                      > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (late.groupBy("l_returnflag")
            .agg(F.count(F.when(is_high, 1)).alias("high_late_count"),
                 F.count(F.when(~is_high, 1)).alias("low_late_count"))
            .orderBy("l_returnflag"))


def product_type_profit(lineitem: DataFrame, orders: DataFrame,
                        part: DataFrame, supplier: DataFrame,
                        nation: DataFrame) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) over
    parts whose name contains 'gear' — the 5-way join with the profit
    expression split across fact and dimension columns. Supply cost
    stands in as 10% of p_retailprice per unit (no partsupp table);
    the whole amount is computed in EXACT 1e-4 integer units:
    rev_e4 − retail_cents·qty·10, so the sum is order-independent and
    value-level oracle-able. Dimensions broadcast; only the
    lineitem↔orders join shuffles."""
    rev_e4 = (F.round(F.col("l_extendedprice") * 100).cast("bigint")
              * (100 - F.round(F.col("l_discount") * 100).cast("bigint")))
    cost_e4 = (F.round(F.col("p_retailprice") * 100).cast("bigint")
               * F.round(F.col("l_quantity")).cast("bigint") * 10)
    return (lineitem
            .join(F.broadcast(part.where(F.col("p_name").contains("gear"))),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(supplier),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.sum(rev_e4 - cost_e4).alias("profit_e4"))
            .select("nation", "o_year",
                    (F.col("profit_e4") / 10000.0).alias("profit"))
            .orderBy("nation", "o_year"))


def important_stock(lineitem: DataFrame, supplier: DataFrame,
                    nation: DataFrame) -> DataFrame:
    """TPC-H Q11 shape: per-part shipped value restricted to NATION_1
    suppliers, keeping parts whose value exceeds 0.05% of the total —
    the aggregate-vs-scalar-subquery-over-the-same-aggregate pattern.
    The per-part frame is built ONCE (localCheckpoint barrier), the
    global total is a 1-row broadcast back onto it, and the HAVING
    comparison is all-integer (value_e4 · 2000 > total_e4 ⇔ value >
    0.0005 · total) so no float threshold can disagree between
    engines."""
    val_e4 = (F.round(F.col("l_extendedprice") * 100).cast("bigint")
              * F.round(F.col("l_quantity")).cast("bigint") * 100)
    nat_supp = (supplier
                .join(F.broadcast(nation.where(F.col("n_name")
                                               == "NATION_1")),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey"))
    per_part = cut(lineitem
                   .join(F.broadcast(nat_supp),
                         F.col("l_suppkey") == F.col("s_suppkey"),
                         "left_semi")
                   .groupBy("l_partkey")
                   .agg(F.sum(val_e4).alias("value_e4")))
    total = per_part.agg(F.sum("value_e4").alias("total_e4"))
    return (per_part.join(F.broadcast(total))
            .where(F.col("value_e4") * 2000 > F.col("total_e4"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    (F.col("value_e4") / 10000.0).alias("value"))
            .orderBy(F.col("value").desc(), F.col("p_partkey")))


def parts_supplier_relationship(lineitem: DataFrame, part: DataFrame,
                                supplier: DataFrame) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) bucket, excluding one brand, one type prefix, and
    "complaint" suppliers (negative account balance stands in for the
    comment filter — same anti-join role). The excluded-supplier set
    broadcasts into a left-anti join BEFORE the distinct aggregation,
    and the part dimension broadcasts; the only shuffle is the final
    (brand,type,size) count-distinct."""
    bad_supp = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    sel_part = part.where((F.col("p_brand") != "Brand#1")
                          & (~F.col("p_type").startswith("PROMO")))
    return (lineitem
            .join(F.broadcast(bad_supp),
                  F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
            .join(F.broadcast(sel_part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"),
                     F.col("p_type"), F.col("p_size")))


def potential_promotion(lineitem: DataFrame, part: DataFrame,
                        supplier: DataFrame,
                        nation: DataFrame) -> DataFrame:
    """TPC-H Q20 shape: suppliers who DOMINATED shipping of some PROMO
    part in 1995 (their quantity > half the part's total — the
    availability>half-of-sold predicate re-shaped without partsupp).
    The correlated per-part total subquery is rewritten as a per-part
    aggregate joined back onto the per-(part,supplier) frame — both
    derive from ONE persisted aggregate pass — followed by a semi-join
    into the supplier dimension. Quantities are integers; qty·2 >
    total is exact."""
    promo = part.where(F.col("p_type") == "PROMO").select("p_partkey")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    ps = cut(lineitem
             .where((F.col("l_shipdate") >= "1995-01-01")
                    & (F.col("l_shipdate") < "1996-01-01"))
             .join(F.broadcast(promo),
                   F.col("l_partkey") == F.col("p_partkey"), "left_semi")
             .select("l_partkey", "l_suppkey", qty.alias("q"))
             .groupBy("l_partkey", "l_suppkey")
             .agg(F.sum("q").alias("supp_qty")))
    tot = ps.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (ps.join(tot, ["l_partkey"])
                .where(F.col("supp_qty") * 2 > F.col("part_qty"))
                .select("l_suppkey").distinct())
    return (supplier
            .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"),
                  "left_semi")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name")
            .orderBy("s_suppkey"))


def scd2_intervals(orders: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 interval builder over each
    customer's order history: every order becomes a version row with
    [valid_from, valid_to) = [its date, the next order's date), the
    last version open-ended at a 2200-01-01 sentinel (inside the
    nanosecond-timestamp range Arrow enforces at the Spark boundary;
    9999-12-31 overflows ns) and flagged
    current — the standard warehouse pattern for as-of joins against
    mutable dimensions. ONE partitioned window (per-customer lead,
    (date, orderkey) tie-break for determinism) and nothing else: no
    global sort — at 100 TB a trailing unlimited orderBy would be a
    full range-partition exchange purely for presentation order, which
    the order-insensitive correctness contract (SURVEY §1.3) never
    needs. Consumers wanting display order sort their own limited
    slice."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(nxt, F.lit("2200-01-01 00:00:00")
                   .cast("timestamp")).alias("valid_to"),
        nxt.isNull().alias("is_current"))


def scd2_pointintime_join(events: DataFrame,
                          orders: DataFrame) -> DataFrame:
    """Point-in-time (as-of) lookup of each event against the SCD2
    dimension built by `scd2_intervals` — the consumer the interval
    table exists for: equality key (user = customer) + half-open range
    predicate valid_from <= ts < valid_to, LEFT join so events before
    a customer's first version surface with NULL version columns.

    Each event matches at most one version by construction: a
    customer's intervals partition [first_order, 2200) and same-date
    ties produce zero-width [d, d) intervals that match nothing (the
    (date, orderkey) window tie-break), so the join cannot fan out —
    tests pin exactly-one-match for covered events.

    Scale shape: the dimension gets a broadcast hint — SCD2 dims are
    |entity| x versions, orders of magnitude under the event fact
    stream this joins against, and broadcasting turns the range join
    into a narrow map over events (no shuffle of the fact table, no
    cartesian: the equality key drives a hash lookup, the range is a
    residual filter on the matched bucket). If the dimension outgrows
    the broadcast threshold the same plan degrades to a hash join
    shuffled on the equality key only — never an interval cross
    product. Contrast with advanced.asof_join_last_order, which is
    the union+window merge-scan form for when BOTH sides are facts."""
    dim = scd2_intervals(orders)
    e = events.select("event_id", "user_id", "ts")
    return (e.join(F.broadcast(dim),
                   (e["user_id"] == dim["o_custkey"])
                   & (dim["valid_from"] <= e["ts"])
                   & (e["ts"] < dim["valid_to"]),
                   "left")
            .select("event_id", "user_id", "ts",
                    F.col("o_orderkey").alias("version_orderkey"),
                    "valid_from", "is_current"))


def weighted_sample_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Deterministic weight-proportional sample: priority =
    hash_uniform(doc_id) / n_chars, keep the k smallest — heavier
    documents draw proportionally smaller priorities, so the sample
    skews to weight exactly like priority/Efraimidis-Spirakis
    sampling, but with the hash as the uniform draw so the "sample"
    is a pure function of the data: stable across engines, retries,
    and partitioning (df.sample is none of those). The uniform is the
    first 8 md5 hex digits as an integer (the hash_sample convention);
    priority is ONE exact-integer-to-double division both engines
    compute bitwise-identically — no log, no RNG. TakeOrdered cut on
    the (priority, doc_id) total order. Zero-weight (n_chars=0) docs
    are filtered up front: Spark's x/0 is NULL (sorted first under
    asc-nulls-first) while DuckDB's is inf/NULL-last, so the guard
    pins the cross-engine edge instead of leaving it data-dependent;
    semantically a zero-weight item has zero inclusion probability
    anyway."""
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint")
    return (docs.where(F.col("n_chars") > 0)
            .select("doc_id", "n_chars",
                    (u / F.col("n_chars")).alias("priority"))
            .orderBy("priority", "doc_id")
            .limit(k))


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  compare_cols: list[str]) -> DataFrame:
    """Change-data-capture by snapshot comparison: full-outer join the
    two table versions on `key` and classify every key as INSERT
    (new only), DELETE (old only), UPDATE (both, any compare column
    differs) or UNCHANGED — the diff a pipeline turns into a CDC feed
    when the source has no changelog (the nightly-snapshot reality of
    most warehouse ingestion).

    Shape: ONE co-partitioned full-outer join on the key (both sides
    shuffle once on the same key — at 100 TB this is the operator
    you bucket both snapshots on to make zero-exchange, the
    `write_bucketed` path) and a null-safe column compare
    (`eqNullSafe`, so NULL→value and value→NULL both classify as
    UPDATE rather than vanishing); no window, no collect. Emits the
    per-class counts — the audit summary a snapshot-diff job alerts
    on; the row-level feed is the same plan minus the final
    aggregate."""
    o = old.select(F.col(key).alias("_k"),
                   *[F.col(c).alias(f"_o_{c}") for c in compare_cols])
    n = new.select(F.col(key).alias("_k2"),
                   *[F.col(c).alias(f"_n_{c}") for c in compare_cols])
    j = o.join(n, o["_k"] == n["_k2"], "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    cls = (F.when(F.col("_k").isNull(), F.lit("insert"))
           .when(F.col("_k2").isNull(), F.lit("delete"))
           .when(same, F.lit("unchanged"))
           .otherwise(F.lit("update")))
    return (j.select(cls.alias("change_type"))
            .groupBy("change_type")
            .agg(F.count("*").cast("bigint").alias("n_keys"))
            .orderBy("change_type"))


def cdc_apply(part: DataFrame) -> DataFrame:
    """MERGE-style application of a CDC change batch to a base table
    with LATEST-WINS conflict resolution — the CONSUMER side of CDC
    (`snapshot_diff` produces a change feed; this applies one):
    given base rows and a batch of (op, key, seq, value) change rows
    where the same key may carry several changes, keep each key's
    highest-seq change, then full-outer merge: insert keys new to
    the base, update matched keys, drop deleted ones — Delta/Iceberg
    MERGE INTO semantics in plain DataFrame algebra.

    The change batch is DERIVED from the base by pinned formulas so
    the oracle replays it: keys %7==0 get an update at seq 1 (+100
    cents) AND seq 3 (+200), keys %11==0 a delete at seq 2 — so keys
    %77==0 carry the real conflict (update, delete, update): the
    seq-3 update must win and the row must SURVIVE with +200; keys
    %13==0 spawn an insert of a brand-new key (base key + 10^8) at
    1 cent. Emits the applied-action counts and the final table's
    exact row count / cents total, so a single misresolved conflict
    shifts the hash.

    Shape: latest-change = one PARTITIONED window (row_number over
    key, seq desc — ties impossible: seq is unique per key by
    construction); one co-partitioned full-outer join base↔changes;
    no collect. At 100 TB both sides bucket on the key
    (`write_bucketed`) to make the merge zero-exchange."""
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    base = part.select(F.col("p_partkey").alias("k"),
                       cents.alias("c"))
    upd1 = (base.where(F.col("k") % 7 == 0)
            .select("k", F.lit("update").alias("op"),
                    F.lit(1).alias("seq"), (F.col("c") + 100).alias("v")))
    upd3 = (base.where(F.col("k") % 7 == 0)
            .select("k", F.lit("update").alias("op"),
                    F.lit(3).alias("seq"), (F.col("c") + 200).alias("v")))
    dele = (base.where(F.col("k") % 11 == 0)
            .select("k", F.lit("delete").alias("op"),
                    F.lit(2).alias("seq"),
                    F.lit(None).cast("bigint").alias("v")))
    ins = (base.where(F.col("k") % 13 == 0)
           .select((F.col("k") + 100000000).alias("k"),
                   F.lit("insert").alias("op"),
                   F.lit(1).alias("seq"),
                   F.lit(1).cast("bigint").alias("v")))
    changes = upd1.unionAll(upd3).unionAll(dele).unionAll(ins)
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = (changes
              .withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1)
              .select("k", "op", F.col("v").cast("bigint").alias("v")))
    m = base.join(latest.withColumnRenamed("k", "k2"),
                  F.col("k") == F.col("k2"), "full_outer")
    keep = (F.col("k2").isNull()                      # untouched base
            | (F.col("op") != "delete"))              # insert/update
    action = (F.when(F.col("k2").isNull(), "noop")
              .when(F.col("k").isNull(), "insert")
              .otherwise(F.col("op")))
    final_c = (F.when(F.col("k").isNull() | F.col("op").isNotNull(),
                      F.col("v")).otherwise(F.col("c")))
    rows = m.select(
        action.alias("action"),
        F.when(keep, F.coalesce(final_c, F.col("c")))
        .alias("c_final"))
    return rows.agg(
        F.sum((F.col("action") == "insert").cast("int")).cast("bigint")
        .alias("n_inserts"),
        F.sum((F.col("action") == "update").cast("int")).cast("bigint")
        .alias("n_updates"),
        F.sum((F.col("action") == "delete").cast("int")).cast("bigint")
        .alias("n_deletes"),
        F.count("c_final").cast("bigint").alias("n_rows_final"),
        F.sum("c_final").cast("bigint").alias("sum_cents_final"))


def replica_reconcile(orders: DataFrame,
                      n_buckets: int = 64) -> DataFrame:
    """Checksum-based replica reconciliation (the one-level
    merkle/anti-entropy pattern Dynamo-style stores run): two copies
    of a table are compared by PER-BUCKET digests — row count plus
    the sum of a 32-bit row fingerprint — and only the buckets whose
    digests disagree are reported. At 100 TB this is the point: the
    replicas exchange |buckets| digest rows instead of the table,
    and a divergence is LOCALIZED to the buckets that must re-sync
    (`snapshot_diff` is the row-level classifier you then run inside
    those buckets only).

    Replica B derives from A by pinned formulas (keys ≡0 mod 97 get
    a 1-cent corruption, keys ≡0 mod 131 are missing — the torn-
    write and lost-write failure modes), so the oracle replays both
    sides. The fingerprint is the cross-engine uniform hash
    convention (first 8 md5 hex digits of 'key:cents' as a bigint);
    the digest is its exact integer SUM per bucket — order-free and
    mergeable, and with 32-bit fingerprints the bigint sum has
    headroom to ~2e9 rows per bucket. Shape: two map-side-combined
    aggregates (one scan each side) + one |buckets|-row join."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    a = orders.select(F.col("o_orderkey").alias("k"),
                      cents.alias("c"))
    b = (a.where(F.col("k") % 131 != 0)
         .select("k", (F.col("c")
                       + F.when(F.col("k") % 97 == 0, 1)
                       .otherwise(0)).alias("c")))

    def digest(df, nn, fn):
        fp = F.conv(F.substring(
            F.md5(F.concat_ws(":", F.col("k").cast("string"),
                              F.col("c").cast("string"))), 1, 8),
            16, 10).cast("bigint")
        return (df.select(F.pmod(F.col("k"), F.lit(n_buckets))
                          .cast("int").alias("bucket"),
                          fp.alias("fp"))
                .groupBy("bucket")
                .agg(F.count("*").cast("bigint").alias(nn),
                     F.sum("fp").cast("bigint").alias(fn)))
    da = digest(a, "n_a", "fp_a")
    db = (digest(b, "n_b", "fp_b")
          .withColumnRenamed("bucket", "bucket_b"))
    j = da.join(db, F.col("bucket") == F.col("bucket_b"),
                "full_outer")
    out = j.select(
        F.coalesce("bucket", "bucket_b").alias("bucket"),
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        F.coalesce("fp_a", F.lit(0)).cast("bigint").alias("fp_a"),
        F.coalesce("fp_b", F.lit(0)).cast("bigint").alias("fp_b"))
    return (out.where((F.col("n_a") != F.col("n_b"))
                      | (F.col("fp_a") != F.col("fp_b")))
            .orderBy("bucket"))


def ivm_join_delta(orders: DataFrame, customer: DataFrame
                   ) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the classic
    delta rule ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB): the per-nation
    order-count/revenue view over orders⋈customer is maintained from
    a batch of NEW orders and NEW customers without re-joining the
    stable bulk — `incremental_rollup` is the aggregate-only IVM;
    this is the join-view member, the rule every materialized-view
    engine (DBSP/Materialize/Delta incremental) applies. At 100 TB
    the point is cost shape: A₀⋈B₀ (the huge term) is NEVER
    recomputed — each delta term joins a small batch (broadcast)
    against one stable side.

    Deltas derive by pinned formulas (orders with key ≡0 mod 101 and
    customers with key ≡0 mod 13 are 'the new batch'), so the oracle
    replays the split. The output states per nation the base view,
    the delta-maintained increment, their sum, AND the full
    recompute — the value-hash equality of `n_total`/`n_full` (and
    cents twins) IS the proof the three-term rule loses nothing:
    one double-counted or dropped ΔA⋈ΔB row shifts the hash."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    o = orders.select(F.col("o_custkey").alias("ck"),
                      cents.alias("c"),
                      (F.col("o_orderkey") % 101 == 0).alias("new_o"))
    cst = customer.select(F.col("c_custkey").alias("ck2"),
                          F.col("c_nationkey").cast("int")
                          .alias("nation"),
                          (F.col("c_custkey") % 13 == 0)
                          .alias("new_c"))

    def agg(df):
        return (df.groupBy("nation")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.sum("c").cast("bigint").alias("cents")))

    cond = F.col("ck") == F.col("ck2")
    a0, da = o.where(~F.col("new_o")), o.where(F.col("new_o"))
    b0, db = cst.where(~F.col("new_c")), cst.where(F.col("new_c"))
    # the three REAL delta joins — each joins a broadcast-small
    # batch against one stable side (or the other batch); the huge
    # stable-x-stable term appears only in `base`, computed once.
    d1 = F.broadcast(da).join(b0, cond)
    d2 = a0.join(F.broadcast(db), cond)
    d3 = F.broadcast(da).join(F.broadcast(db), cond)
    base = agg(a0.join(b0, cond))
    delta = agg(d1.select("nation", "c")
                .unionAll(d2.select("nation", "c"))
                .unionAll(d3.select("nation", "c")))
    # full recompute exists ONLY as the verification column.
    full = agg(o.join(cst, cond))
    b = base.select(F.col("nation").alias("n1"),
                    F.col("n").alias("n_base"),
                    F.col("cents").alias("cents_base"))
    d = delta.select(F.col("nation").alias("n2"),
                     F.col("n").alias("n_delta"),
                     F.col("cents").alias("cents_delta"))
    out = (full.join(b, F.col("nation") == F.col("n1"), "left")
           .join(d, F.col("nation") == F.col("n2"), "left")
           .select(
               "nation",
               F.coalesce("n_base", F.lit(0)).cast("bigint")
               .alias("n_base"),
               F.coalesce("n_delta", F.lit(0)).cast("bigint")
               .alias("n_delta"),
               (F.coalesce("n_base", F.lit(0))
                + F.coalesce("n_delta", F.lit(0))).cast("bigint")
               .alias("n_total"),
               F.col("n").alias("n_full"),
               (F.coalesce("cents_base", F.lit(0))
                + F.coalesce("cents_delta", F.lit(0))).cast("bigint")
               .alias("cents_total"),
               F.col("cents").alias("cents_full")))
    return out.orderBy("nation")


def ivm_agg_delta(part: DataFrame) -> DataFrame:
    """Incremental maintenance of a per-brand aggregate under the CDC
    batch `cdc_apply` defines — the AGGREGATE sibling of
    `ivm_join_delta`: sum/count are self-maintainable, so the refresh
    touches the BASE AGGREGATE plus signed delta rows only — the base
    fact rows are never rescanned (a full recompute at 100 TB rescans
    the corpus; this re-aggregates |brands| + |changes| rows).

    Signed-delta algebra: an update contributes (-old, +new) to its
    key's brand, a delete (-old), an insert (+new); counts carry
    ±1 the same way. The change batch is the `cdc_apply` pinned
    derivation (keys %7 update +200 latest-wins over +100, %11
    delete, %77 conflict where the update survives, %13 insert a
    new key at 1 cent — inserts keep the source key's brand). The
    oracle recomputes the post-change aggregate from scratch;
    incremental == recompute is the correctness contract.

    Output per brand: (brand, n_parts, cents_total)."""
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    base = part.select(F.col("p_partkey").alias("k"),
                       F.col("p_brand").alias("brand"),
                       cents.alias("c"))
    base_agg = (base.groupBy("brand")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.sum("c").cast("bigint").alias("s")))
    # latest-wins resolution of the pinned batch, as in cdc_apply:
    # %7 -> +200 (seq 3 beats seq 1's +100), %11 -> delete (seq 2),
    # %77 -> update wins over delete, %13 -> insert new key, 1 cent
    upd = (base.where((F.col("k") % 7 == 0))
           .select("brand", F.lit(-1).alias("dn"),
                   (-F.col("c")).alias("ds"))
           .unionAll(
               base.where(F.col("k") % 7 == 0)
               .select("brand", F.lit(1).alias("dn"),
                       (F.col("c") + 200).alias("ds"))))
    dele = (base.where((F.col("k") % 11 == 0) & (F.col("k") % 7 != 0))
            .select("brand", F.lit(-1).alias("dn"),
                    (-F.col("c")).alias("ds")))
    ins = (base.where(F.col("k") % 13 == 0)
           .select("brand", F.lit(1).alias("dn"),
                   F.lit(1).cast("bigint").alias("ds")))
    deltas = (upd.unionAll(dele).unionAll(ins)
              .groupBy("brand")
              .agg(F.sum("dn").cast("bigint").alias("dn"),
                   F.sum("ds").cast("bigint").alias("ds")))
    return (base_agg.join(deltas, "brand", "left")
            .select("brand",
                    (F.col("n") + F.coalesce("dn", F.lit(0)))
                    .cast("bigint").alias("n_parts"),
                    (F.col("s") + F.coalesce("ds", F.lit(0)))
                    .cast("bigint").alias("cents_total")))


def allen_relation_sql() -> str:
    """Allen's interval-algebra relation of interval 1 vs interval 2
    as SQL CASE text over columns s1, e1, s2, e2 (DATE, proper
    intervals s < e) — all 13 relations, exhaustive for proper
    intervals. Shared verbatim with the DuckDB oracle (the
    ols3_exprs/point_in_polygon_sql portability convention): pure
    date comparisons, no float anywhere."""
    return """CASE
      WHEN e1 < s2 THEN 'before'
      WHEN e1 = s2 THEN 'meets'
      WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
      WHEN s1 = s2 AND e1 < e2 THEN 'starts'
      WHEN s1 > s2 AND e1 < e2 THEN 'during'
      WHEN s1 > s2 AND e1 = e2 THEN 'finishes'
      WHEN s1 = s2 AND e1 = e2 THEN 'equals'
      WHEN s1 > e2 THEN 'after'
      WHEN s1 = e2 THEN 'met_by'
      WHEN s1 > s2 AND s1 < e2 AND e1 > e2 THEN 'overlapped_by'
      WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
      WHEN s1 < s2 AND e1 > e2 THEN 'contains'
      WHEN s1 < s2 AND e1 = e2 THEN 'finished_by'
    END"""


def allen_interval_relations(orders: DataFrame) -> DataFrame:
    """Census of Allen's 13 interval relations over per-customer
    order activity windows — the temporal-reasoning primitive under
    every interval join/overlap operator (Allen, CACM 1983): each
    order opens a window [orderdate, orderdate + (orderkey % 25 + 1)
    days], and every same-customer pair (ordered by orderkey, so
    each unordered pair classifies exactly once) lands in exactly
    one of the 13 relations.

    The classifier is a shared-text CASE of pure date comparisons
    (`allen_relation_sql`) — no floats at all. Scale: a
    customer-keyed equi self-join (pairs per customer bounded by
    per-customer order count, never a cartesian), one
    |relations|-sized aggregate."""
    s = F.to_date("o_orderdate")
    e = F.date_add(s, (F.col("o_orderkey") % 25 + 1).cast("int"))
    iv = orders.select(F.col("o_custkey").alias("ck"),
                       F.col("o_orderkey").alias("ok"),
                       s.alias("s"), e.alias("e"))
    a = iv.select("ck", F.col("ok").alias("ok1"),
                  F.col("s").alias("s1"), F.col("e").alias("e1"))
    b = iv.select("ck", F.col("ok").alias("ok2"),
                  F.col("s").alias("s2"), F.col("e").alias("e2"))
    pairs = (a.join(b, "ck").where(F.col("ok1") < F.col("ok2")))
    rel = pairs.select("ck", F.expr(allen_relation_sql()).alias("rel"))
    return (rel.groupBy("rel")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.count_distinct("ck").cast("bigint")
                 .alias("n_customers")))


#: RFM quantile count (quintiles — the classic 5x5x5 grid).
RFM_Q = 5


def rfm_segments(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """RFM segmentation (Hughes 1994 — the classic recency/
    frequency/monetary customer grid): per customer, days since last
    order (R), order count (F), lifetime spend (M); each dimension
    is cut into exact within-NATION quintiles (score 5 = most
    recent / most frequent / highest spend) and the report
    aggregates the resulting segments.

    Exactness: R is integer days against the corpus max date, F an
    integer count, M exact integer cents; quintile scores are pure
    rank arithmetic — ((pos-1)·Q) DIV n + 1 over a deterministic
    (metric, custkey) total order — no percentile estimation, no
    floats until the final reported average.

    Scale: one fact aggregate to the |customers| frame, a keyed
    customer join for the nation, then nation-PARTITIONED rank
    windows (never a global window — the repo-wide walker bans
    those): each nation's frame ranks independently, which is both
    the scale story and the classic per-market RFM reading. Output:
    (nation, r/f/m scores, customer count, avg spend)."""
    day = F.to_date("o_orderdate")
    horizon = orders.agg(F.max(day).alias("dmax"))
    per_cust = (orders.groupBy(F.col("o_custkey").alias("cust"))
                .agg(F.max(day).alias("last_day"),
                     F.count(F.lit(1)).cast("bigint").alias("f_cnt"),
                     F.sum(F.round(F.col("o_totalprice") * 100)
                           .cast("bigint")).cast("bigint")
                     .alias("m_cents"))
                .crossJoin(F.broadcast(horizon))
                .select("cust", "f_cnt", "m_cents",
                        F.datediff(F.col("dmax"), F.col("last_day"))
                        .cast("bigint").alias("r_days")))
    dim = customer.select(F.col("c_custkey").alias("cust"),
                          F.col("c_nationkey").cast("bigint")
                          .alias("nation"))
    base = per_cust.join(dim, "cust")
    nw = Window.partitionBy("nation")
    # pos 1 = WORST (stalest / fewest / lowest spend): score q is
    # ((pos-1)*Q) DIV n + 1, so q=5 lands on the best quintile
    pos_r = F.row_number().over(
        nw.orderBy(F.col("r_days").desc(), "cust"))
    pos_f = F.row_number().over(nw.orderBy(F.col("f_cnt").asc(), "cust"))
    pos_m = F.row_number().over(
        nw.orderBy(F.col("m_cents").asc(), "cust"))
    n_nat = F.count(F.lit(1)).over(nw)
    scored = base.withColumn("pos_r", pos_r).withColumn(
        "pos_f", pos_f).withColumn("pos_m", pos_m).withColumn(
        "n_nat", n_nat).select(
        "nation", "m_cents",
        F.expr(f"((pos_r - 1) * {RFM_Q}) DIV n_nat + 1")
        .cast("bigint").alias("r_score"),
        F.expr(f"((pos_f - 1) * {RFM_Q}) DIV n_nat + 1")
        .cast("bigint").alias("f_score"),
        F.expr(f"((pos_m - 1) * {RFM_Q}) DIV n_nat + 1")
        .cast("bigint").alias("m_score"))
    # avg at cent precision via half-up INTEGER rounding ((2s+n) DIV
    # 2n) — Σcents/(100·n) lands exactly on .xx5 whenever n divides
    # evenly, where Spark (HALF_UP) and DuckDB (HALF_EVEN) disagree
    return (scored.groupBy("nation", "r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                 F.sum("m_cents").cast("bigint").alias("s_cents"))
            .select("nation", "r_score", "f_score", "m_score",
                    "n_customers",
                    (F.expr("(2 * s_cents + n_customers) "
                            "DIV (2 * n_customers)").cast("double")
                     / F.lit(100.0)).alias("avg_monetary")))


def join_cardinality_audit(orders: DataFrame,
                           lineitem: DataFrame) -> DataFrame:
    """Join-cardinality audit for the orders⋈lineitem key — the
    pre-flight measurement a planner (or an engineer staring at a
    blown-up shuffle) wants BEFORE running a fact-fact join: exact
    per-side row/key counts, key overlap, the TRUE output
    cardinality Σ c_l(k)·c_r(k), the textbook uniformity estimate
    |L|·|R| / max(d_L, d_R), and the ratio between them (the
    fan-out skew the estimate misses). The companion to
    `join_skew_profile`, which profiles ONE side's hot keys; this
    audits the PAIRWISE product that actually hits the shuffle.

    Exactness: everything except the final two ratios is exact
    integer arithmetic over per-key count frames (decimal(38) for
    the pair-product sum); the estimate and ratio are fixed-form
    divisions rounded 4dp.

    Scale: one map-side-combined count per side's key column, one
    keyed join of the two |keys| frames, 1-row output — the fact
    tables themselves are never joined."""
    d38 = "decimal(38,0)"
    lk = (orders.groupBy(F.col("o_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("cl")))
    rk = (lineitem.groupBy(F.col("l_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("cr")))
    left = lk.agg(F.sum("cl").cast("bigint").alias("n_left"),
                  F.count(F.lit(1)).cast("bigint").alias("d_left"))
    right = rk.agg(F.sum("cr").cast("bigint").alias("n_right"),
                   F.count(F.lit(1)).cast("bigint").alias("d_right"))
    both = (lk.join(rk, "k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
                 F.sum(F.expr(f"CAST(cl AS {d38}) * cr"))
                 .cast("bigint").alias("actual_rows")))
    est = ("(CAST(n_left AS DOUBLE) * n_right "
           "/ greatest(d_left, d_right))")
    return (left.crossJoin(F.broadcast(right))
            .crossJoin(F.broadcast(both))
            .select("n_left", "n_right", "d_left", "d_right",
                    "n_overlap", "actual_rows",
                    (F.round(F.expr(est), 4) + F.lit(0.0))
                    .alias("est_rows"),
                    (F.round(F.expr(f"actual_rows / {est}"), 4)
                     + F.lit(0.0)).alias("actual_over_est")))


def sales_opportunity(customer: DataFrame, orders: DataFrame,
                      nation: DataFrame) -> DataFrame:
    """TPC-H Q22 shape (the synthetic schema has no phone column, so
    the cohort key is the nation): per nation, the customers whose
    account balance exceeds their nation's POSITIVE-balance average
    and who have placed no order in the trailing 180 days of the
    corpus — dormant high-value accounts. (Q22's literal "no orders
    ever" is empty under this generator — every customer orders — so
    the recency window carries the same anti-join shape with a
    populated answer; the cutoff is max(o_orderdate) − 180 days, one
    broadcast scalar.) The decorrelated-scalar-subquery + anti-join
    pattern: cohort averages are a |nation|-row broadcast, never a
    correlated re-scan; the dormancy test is one left-anti join on
    custkey against the recent-orders slice.

    Balances compare in exact cents (the avg is the exact rational
    Σcents/n, carried as cents·n > Σcents·1 cross-multiplication so
    no float threshold drifts between engines). Output per nation:
    (n_name, n_custs, total_acctbal 2dp)."""
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    cust = customer.select("c_custkey", "c_nationkey",
                           cents.alias("cents"))
    cohort = (cust.where(F.col("cents") > 0)
              .groupBy("c_nationkey")
              .agg(F.sum("cents").cast("bigint").alias("sum_c"),
                   F.count(F.lit(1)).cast("bigint").alias("n_c")))
    hot = (cust.join(F.broadcast(cohort), "c_nationkey")
           .where(F.col("cents") * F.col("n_c") > F.col("sum_c"))
           .select("c_custkey", "c_nationkey", "cents"))
    cutoff = orders.agg(
        F.date_sub(F.max("o_orderdate"), 180).alias("cutoff"))
    recent = (orders.crossJoin(F.broadcast(cutoff))
              .where(F.col("o_orderdate") >= F.col("cutoff"))
              .select(F.col("o_custkey").alias("c_custkey")))
    dormant = hot.join(recent, "c_custkey", "left_anti")
    return (dormant
            .join(F.broadcast(nation.select(
                F.col("n_nationkey").alias("c_nationkey"), "n_name")),
                "c_nationkey")
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_custs"),
                 (F.sum("cents") / 100.0).alias("total_acctbal"))
            .orderBy("n_name"))


def priority_linestatus_mix(lineitem: DataFrame,
                            orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column in the synthetic schema,
    so the grouping key is l_linestatus): per line status, among
    lines shipped in 1995, how many belong to HIGH-priority orders
    (1-URGENT/2-HIGH) vs the rest — the two-sided conditional-count
    pivot over one orderkey join. The ship-date filter pushes to the
    parquet scan; the counts are one map-side-combined aggregate."""
    j = (lineitem
         .where((F.col("l_shipdate") >= "1995-01-01")
                & (F.col("l_shipdate") < "1996-01-01"))
         .select("l_orderkey", "l_linestatus")
         .join(orders.select("o_orderkey", "o_orderpriority"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    high = F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    return (j.groupBy("l_linestatus")
            .agg(F.sum(high.cast("bigint")).cast("bigint")
                 .alias("high_line_count"),
                 F.sum((~high).cast("bigint")).cast("bigint")
                 .alias("low_line_count"))
            .orderBy("l_linestatus"))
