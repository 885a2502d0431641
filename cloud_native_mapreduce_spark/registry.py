"""Query registry: the driver-facing surface of the engine.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with the equivalent DuckDB ANSI-SQL oracle (or None for ops that are not
SQL-expressible — the driver then records a weaker rows-only check).

Alignment rules (the driver compares row-count + schema + order-insensitive
value-hash, sorting columns by name — __spark_entry__ docstring):
  * every computed column is aliased identically on both sides;
  * integer aggregates are BIGINT on both sides (DuckDB promotes SUM(BIGINT)
    to HUGEINT — always cast back);
  * double aggregates are rounded in-query on both sides (sum order across
    partitions is nondeterministic; rounding makes the hash stable);
  * every LIMIT is preceded by a fully deterministic ORDER BY (unique
    tiebreaker) so both engines select the same rows;
  * rounded columns that can be negative-and-near-zero add `+ 0.0` on
    BOTH sides: round() may produce IEEE -0.0, which equals 0.0 but has
    a different repr in the order-insensitive value-hash.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.functions import text as T
from cloud_native_mapreduce_spark.operators import relational as R
from cloud_native_mapreduce_spark.operators.curation import PACK_BUCKETS
from cloud_native_mapreduce_spark.sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    #: str | None, or a zero-arg callable returning str for oracles that
    #: are expensive to build (computed lazily on first `.oracle` access
    #: and cached — keeps registry import cheap)
    oracle_src: "str | None | Callable[[], str]"
    description: str

    @property
    def oracle(self) -> str | None:
        o = self.oracle_src
        if callable(o):
            o = o()
            object.__setattr__(self, "oracle_src", o)
        return o


QUERIES: dict[str, QuerySpec] = {}


def _register(name: str,
              oracle: "str | None | Callable[[], str]",
              description: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(name, fn, oracle, description)
        return fn
    return deco


# regex literal for DuckDB (single-quoted; apostrophe doubled)
_WORD_RE_SQL = T.WORD_RE.replace("'", "''")


# ---------------------------------------------------------------------------
# Word count — the reference's flagship workload (SURVEY.md §7.1)
# ---------------------------------------------------------------------------

@_register(
    "word_count",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0))
                 AS word
          FROM documents)
    GROUP BY word
    """,
    description="Reference flagship: tokenizer-parity word count "
                "(client/scripts/mapper.py:13, reducer.py:14-27)")
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.word_count(load_table(spark, sf_dir, "documents"))


@_register(
    "mapreduce_pipe_wordcount",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0))
                 AS word
          FROM documents)
    GROUP BY word
    """,
    description="word count through the FULL Hadoop-Streaming pipe path: "
                "textFile → pipe(mapper.py) → hash-partition+sort → "
                "pipe(reducer.py) — reference capability parity "
                "(SURVEY.md §2.1, cmd/worker/mr_worker.go:222-243)")
def q_mapreduce_pipe_wordcount(spark, sf_dir):
    from cloud_native_mapreduce_spark import mapreduce as MR
    return MR.pipe_word_count(spark, sf_dir)


# ---------------------------------------------------------------------------
# Relational: aggregations
# ---------------------------------------------------------------------------

@_register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 shape: wide hash aggregate w/ map-side combine")
def q_pricing_summary(spark, sf_dir):
    return R.pricing_summary(load_table(spark, sf_dir, "lineitem"))


@_register(
    "agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="two-phase distinct aggregate")
def q_agg_distinct(spark, sf_dir):
    return R.agg_distinct(load_table(spark, sf_dir, "orders"))


@_register(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    description="ROLLUP grouping sets")
def q_rollup_revenue(spark, sf_dir):
    return R.rollup_revenue(load_table(spark, sf_dir, "lineitem"))


@_register(
    "cube_quantity",
    oracle="""
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    description="CUBE grouping sets")
def q_cube_quantity(spark, sf_dir):
    return R.cube_quantity(load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Relational: filters / projections
# ---------------------------------------------------------------------------

@_register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_discount > 0.05
    """,
    description="predicate pushdown + column pruning showcase")
def q_filter_project(spark, sf_dir):
    return R.filter_project(load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Relational: joins
# ---------------------------------------------------------------------------

@_register(
    "join_broadcast",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spent
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name, c_mktsegment
    """,
    description="broadcast-hash fact⋈dim join")
def q_join_broadcast(spark, sf_dir):
    return R.customer_order_totals(load_table(spark, sf_dir, "orders"),
                                   load_table(spark, sf_dir, "customer"))


@_register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    description="TPC-H Q3 shape: 3-way join + agg + deterministic top-10")
def q_shipping_priority(spark, sf_dir):
    return R.shipping_priority(load_table(spark, sf_dir, "customer"),
                               load_table(spark, sf_dir, "orders"),
                               load_table(spark, sf_dir, "lineitem"))


@_register(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation   ON r_regionkey = n_regionkey
    JOIN customer ON n_nationkey = c_nationkey
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    description="TPC-H Q5 shape: 6-way join, dim chain broadcasts")
def q_local_supplier_volume(spark, sf_dir):
    return R.local_supplier_volume(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"))


@_register(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    description="LEFT SEMI join (EXISTS)")
def q_semi_join(spark, sf_dir):
    return R.customers_with_orders(load_table(spark, sf_dir, "customer"),
                                   load_table(spark, sf_dir, "orders"))


@_register(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
    description="LEFT ANTI join (NOT EXISTS on filtered fact)")
def q_anti_join(spark, sf_dir):
    return R.customers_without_orders(load_table(spark, sf_dir, "customer"),
                                      load_table(spark, sf_dir, "orders"))


@_register(
    "fact_fact_join",
    oracle="""
    SELECT o_orderstatus, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus, l_linestatus
    ORDER BY o_orderstatus, l_linestatus
    """,
    description="fact⋈fact shuffle join (bucketing target at scale)")
def q_fact_fact_join(spark, sf_dir):
    return R.order_lineitem_join(load_table(spark, sf_dir, "orders"),
                                 load_table(spark, sf_dir, "lineitem"))


@_register(
    "range_join",
    oracle="""
    SELECT p_brand,
           count(*) AS n_in_band,
           round(avg(l_extendedprice / p_retailprice), 4) AS avg_price_ratio
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
             AND l_extendedprice >= p_retailprice * 0.5
             AND l_extendedprice <= p_retailprice * 2.0
    GROUP BY p_brand ORDER BY p_brand
    """,
    description="equi+range (theta) join on price band")
def q_range_join(spark, sf_dir):
    return R.range_join_price_band(load_table(spark, sf_dir, "part"),
                                   load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Relational: advanced (as-of join, pivot/unpivot, stats, grouped-map)
# ---------------------------------------------------------------------------

@_register(
    "asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           o.o_orderkey  AS last_orderkey,
           o.o_orderdate AS last_orderdate
    FROM events e
    ASOF LEFT JOIN (SELECT o_custkey, o_orderdate,
                           max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2) o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    description="as-of (point-in-time) join: each event ↔ the user's most "
                "recent order, via union + windowed carry-forward")
def q_asof_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.asof_join_last_order(load_table(spark, sf_dir, "events"),
                                  load_table(spark, sf_dir, "orders"))


@_register(
    "pivot_events",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'error')    AS n_error,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'view')     AS n_view
    FROM events GROUP BY user_id
    """,
    description="pivot (explicit value list, single-pass) user×type counts")
def q_pivot_events(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.pivot_event_counts(load_table(spark, sf_dir, "events"))


@_register(
    "unpivot_pricing",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               round(sum(l_extendedprice), 2) AS gross,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS discounted,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
                     2) AS charged
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'gross' AS metric, gross AS amount FROM wide
    UNION ALL
    SELECT l_returnflag, 'discounted', discounted FROM wide
    UNION ALL
    SELECT l_returnflag, 'charged', charged FROM wide
    """,
    description="unpivot/melt wide aggregates to (metric, amount) rows")
def q_unpivot_pricing(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.unpivot_pricing(load_table(spark, sf_dir, "lineitem"))


@_register(
    "stats_summary",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(stddev_samp(l_extendedprice), 4)        AS sd_price,
           round(var_samp(l_quantity), 4)                AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4)   AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="exact percentiles + stddev/variance/correlation")
def q_stats_summary(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.stats_summary(load_table(spark, sf_dir, "lineitem"))


@_register(
    "approx_distinct",
    oracle=None,  # HLL++ estimates are engine-specific → rows-only
    description="HyperLogLog++ cardinality sketch vs exact distinct")
def q_approx_distinct(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.approx_distinct(load_table(spark, sf_dir, "orders"),
                             load_table(spark, sf_dir, "lineitem"))


@_register(
    "scalar_subquery",
    oracle="""
    SELECT p_partkey, p_brand, round(p_retailprice, 2) AS p_retailprice
    FROM part p
    WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
      AND p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    """,
    description="scalar + correlated subqueries (Catalyst decorrelation)")
def q_scalar_subquery(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.premium_parts(load_table(spark, sf_dir, "part"))


@_register(
    "topk_per_group",
    oracle="""
    SELECT event_type, rnk, user_id, n_events
    FROM (SELECT event_type, user_id, n_events,
                 CAST(row_number() OVER (
                     PARTITION BY event_type
                     ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS rnk
          FROM (SELECT event_type, user_id, count(*) AS n_events
                FROM events GROUP BY 1, 2))
    WHERE rnk <= 3
    """,
    description="agg-based top-k per group (sorted-struct slice, no window)")
def q_topk_per_group(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.topk_users_per_type(load_table(spark, sf_dir, "events"))


@_register(
    "grouped_demean",
    oracle="""
    WITH c AS (
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
    g AS (
        SELECT o_custkey,
               (2 * CAST(sum(cents) AS BIGINT) + count(*))
                   // (2 * count(*)) AS mean_cents
        FROM c GROUP BY o_custkey)
    SELECT c.o_custkey, o_orderkey,
           (cents - mean_cents) / 100.0 AS price_dev
    FROM c JOIN g USING (o_custkey)
    """,
    description="applyInPandas grouped-map: per-customer demeaned totals "
                "(the reference's whole-group reducer contract, Arrow-native)")
def q_grouped_demean(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.grouped_demean(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Relational: windows
# ---------------------------------------------------------------------------

@_register(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rnk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 rank() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
    description="RANK window, top-3 orders per customer")
def q_window_rank(spark, sf_dir):
    return R.top_orders_per_customer(load_table(spark, sf_dir, "orders"))


@_register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS order_seq,
           CAST(date_diff('day',
                lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
                AS days_since_prev,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    description="LAG/LEAD/ROW_NUMBER per-customer order sequence")
def q_window_lag_lead(spark, sf_dir):
    return R.order_gaps(load_table(spark, sf_dir, "orders"))


@_register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
    FROM orders
    """,
    description="running-sum frame")
def q_window_running_sum(spark, sf_dir):
    return R.running_revenue(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Relational: sort/limit, set ops, scalar functions
# ---------------------------------------------------------------------------

@_register(
    "sort_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
    FROM (SELECT * FROM lineitem
          ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
          LIMIT 20)
    """,
    description="global top-k (TakeOrderedAndProject, no full sort)")
def q_sort_topk(spark, sf_dir):
    return R.top_lineitems(load_table(spark, sf_dir, "lineitem"))


@_register(
    "set_ops",
    oracle="""
    WITH building AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    urgent AS (
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT')
    SELECT c_custkey, 'both' AS tag
      FROM (SELECT c_custkey FROM building INTERSECT
            SELECT c_custkey FROM urgent)
    UNION ALL
    SELECT c_custkey, 'building_only' AS tag
      FROM (SELECT c_custkey FROM building EXCEPT
            SELECT c_custkey FROM urgent)
    UNION ALL
    SELECT c_custkey, 'urgent_only' AS tag
      FROM (SELECT c_custkey FROM urgent EXCEPT
            SELECT c_custkey FROM building)
    """,
    description="UNION/INTERSECT/EXCEPT set algebra")
def q_set_ops(spark, sf_dir):
    return R.segment_set_ops(load_table(spark, sf_dir, "customer"),
                             load_table(spark, sf_dir, "orders"))


@_register(
    "scalar_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                AS name_upper,
           CAST(length(p_name) AS BIGINT)               AS name_len,
           substring(p_type, 1, 5)                      AS type_prefix,
           concat_ws('|', p_brand, p_type)              AS brand_type,
           round(sqrt(p_retailprice), 4)                AS price_sqrt,
           round(ln(p_retailprice + 1), 4)              AS price_log,
           CAST(p_size % 7 AS BIGINT)                   AS size_mod7,
           CASE WHEN p_retailprice > 1500 THEN 'premium'
                WHEN p_retailprice > 900  THEN 'standard'
                ELSE 'budget' END                       AS price_tier
    FROM part
    """,
    description="string/math scalar function surface")
def q_scalar_functions(spark, sf_dir):
    return R.scalar_functions(load_table(spark, sf_dir, "part"))


@_register(
    "array_functions",
    oracle="""
    SELECT p_partkey,
           array_to_string(string_split(p_type, ' '), ' ')    AS type_words,
           CAST(len(string_split(p_type, ' ')) AS BIGINT)     AS n_words,
           list_contains(string_split(p_type, ' '), 'BRUSHED') AS has_brushed,
           CAST(coalesce(list_position(string_split(p_type, ' '), 'STEEL'),
                         0) AS BIGINT)                        AS steel_pos,
           array_to_string(list_sort(string_split(p_type, ' ')), ' ')
                                                              AS words_sorted,
           array_to_string(list_reverse(string_split(p_type, ' ')), '_')
                                                              AS rev_joined,
           string_split(p_type, ' ')[1]                       AS first_word,
           string_split(p_type, ' ')[-1]                      AS last_word
    FROM part
    """,
    description="array function surface (size/contains/position/sort/join)")
def q_array_functions(spark, sf_dir):
    return R.array_functions(load_table(spark, sf_dir, "part"))


@_register(
    "null_semantics",
    oracle="""
    SELECT c_custkey,
           nullif(round(c_acctbal, 2), 0.0)                AS bal_nullable,
           coalesce(nullif(round(c_acctbal, 2), 0.0), -1.0) AS bal_or_default,
           nullif(round(c_acctbal, 2), 0.0) IS NOT DISTINCT FROM NULL
                                                           AS is_zero_bal,
           c_nationkey % 2 = 0                             AS even_nation
    FROM customer
    """,
    description="null semantics: nullif/coalesce/null-safe equality")
def q_null_semantics(spark, sf_dir):
    return R.null_semantics(load_table(spark, sf_dir, "customer"))


@_register(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)       AS order_year,
           CAST(month(o_orderdate) AS BIGINT)      AS order_month,
           CAST(day(o_orderdate) AS BIGINT)        AS order_day,
           date_trunc('month', o_orderdate)        AS month_start,
           strftime(o_orderdate::DATE + 30, '%Y-%m-%d') AS due_date,
           strftime(o_orderdate, '%Y-%m')          AS ym
    FROM orders
    """,
    description="date/time scalar function surface")
def q_date_functions(spark, sf_dir):
    return R.date_functions(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Sources: format round-trips (CSV / JSON Lines)
# ---------------------------------------------------------------------------

@_register(
    "csv_roundtrip",
    oracle="SELECT * FROM nation",
    description="nation → CSV (header, schema-first read) → back, lossless")
def q_csv_roundtrip(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources import formats
    return formats.csv_roundtrip_nation(spark, sf_dir)


@_register(
    "jsonl_roundtrip",
    oracle="SELECT * FROM supplier",
    description="supplier → JSON Lines → back, lossless")
def q_jsonl_roundtrip(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources import formats
    return formats.jsonl_roundtrip_supplier(spark, sf_dir)


@_register(
    "xml_roundtrip",
    oracle="SELECT * FROM region",
    description="region → XML (native Spark 4 source, rowTag "
                "elements, schema-first read) → back, lossless — "
                "the enterprise interchange format next to "
                "CSV/JSONL/ORC/fixed-width in the S3 blob-format row")
def q_xml_roundtrip(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources import formats
    return formats.xml_roundtrip_region(spark, sf_dir)


# ---------------------------------------------------------------------------
# User-function surface: registered pandas UDF + Python UDTF from SQL
# ---------------------------------------------------------------------------

@_register(
    "udf_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0))
                AS BIGINT) AS n_tokens
    FROM documents
    """,
    description="registered vectorized pandas UDF invoked from SQL")
def q_udf_token_counts(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions import udfs
    return udfs.udf_token_counts(spark, sf_dir)


@_register(
    "udtf_word_count",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0))
                 AS word
          FROM documents)
    GROUP BY word
    """,
    description="Python UDTF (lateral table function) word expansion + agg")
def q_udtf_word_count(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions import udfs
    return udfs.udtf_word_rows(spark, sf_dir)


# ---------------------------------------------------------------------------
# Text analysis (north-star: training-data pipeline ops over `documents`)
# ---------------------------------------------------------------------------

_TOKS = f"regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0)"

# Posting-list document-frequency cap for the exact n-gram-Jaccard paths.
# Join cost is sum(df^2) over shingles; one boilerplate shingle shared by
# 1e5 docs is 1e10 pairs, so hot shingles MUST be dropped at corpus scale
# (boilerplate cannot define near-dup identity anyway).  128 is a no-op on
# the test corpora (max observed df: 7 at sf0.01, 25 at sf0.1) so the
# oracle stays exact, while bounding the worst shingle at 128^2 pairs at
# any corpus size.  Mirrored verbatim in the DuckDB oracles below.
_NGRAM_MAX_DF = 128


@_register(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)              AS n_chars_actual,
           CAST(len({_TOKS}) AS BIGINT)              AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
    description="per-document token/char statistics")
def q_token_stats(spark, sf_dir):
    return T.token_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "ws_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS ws_tokens
    FROM documents
    """,
    description="whitespace tokenization count")
def q_ws_token_count(spark, sf_dir):
    return T.whitespace_token_count(load_table(spark, sf_dir, "documents"))


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in T.STOPWORDS) + "]"


@_register(
    "quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(toks) AS BIGINT)    AS n_tokens,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / nullif(length(text), 0), 4)  AS alpha_ratio,
           round(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
                 / nullif(len(toks), 0), 4)     AS stopword_ratio,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / nullif(len(toks), 0), 4)     AS mean_token_len
    FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
    description="document quality heuristics (length/alpha/stopword ratios)")
def q_quality_score(spark, sf_dir):
    return T.quality_score(load_table(spark, sf_dir, "documents"))


@_register(
    "language_profile",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang
    """,
    description="corpus language profile over the lang tag")
def q_language_profile(spark, sf_dir):
    return T.language_profile(load_table(spark, sf_dir, "documents"))


@_register(
    "language_id",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               len(list_filter(toks, x -> list_contains(['the','and','of'], x))) AS he,
               len(list_filter(toks, x -> list_contains(['der','und','die'], x))) AS hd,
               len(list_filter(toks, x -> list_contains(['le','et','les'], x)))   AS hf,
               len(list_filter(toks, x -> list_contains(['el','y','los'], x)))    AS hs
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
    SELECT doc_id,
           CASE WHEN greatest(he, hd, hf, hs) = 0 THEN 'other'
                WHEN hf = greatest(he, hd, hf, hs) THEN 'fr'
                WHEN hs = greatest(he, hd, hf, hs) THEN 'es'
                WHEN he = greatest(he, hd, hf, hs) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM s
    """,
    description="stopword-marker language-ID heuristic")
def q_language_id(spark, sf_dir):
    return T.language_id_heuristic(load_table(spark, sf_dir, "documents"))


@_register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string({_TOKS}, ' ')) AS fp_md5
    FROM documents
    """,
    description="normalized-content md5 fingerprint")
def q_doc_fingerprint(spark, sf_dir):
    return T.fingerprint(load_table(spark, sf_dir, "documents")) \
            .select("doc_id", "fp_md5")


# ---------------------------------------------------------------------------
# Deduplication (north-star)
# ---------------------------------------------------------------------------

@_register(
    "dedup_exact_groups",
    oracle=f"""
    SELECT md5(array_to_string({_TOKS}, ' ')) AS fp_md5,
           min(doc_id) AS keep_doc_id,
           count(*)    AS n_dups
    FROM documents GROUP BY 1
    """,
    description="exact dedup groups via content-hash groupBy")
def q_dedup_exact_groups(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import exact
    return exact.dedup_groups(load_table(spark, sf_dir, "documents"))


@_register(
    "dedup_exact_corpus",
    oracle=f"""
    SELECT * FROM documents
    WHERE doc_id IN (
        SELECT min(doc_id) FROM documents
        GROUP BY md5(array_to_string({_TOKS}, ' ')))
    """,
    description="the deduplicated corpus (min doc_id survivor per content)")
def q_dedup_exact_corpus(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import exact
    return exact.deduplicate(load_table(spark, sf_dir, "documents"))


@_register(
    "dedup_minhash",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             text || ' planted near duplicate copy' AS text
      FROM documents),
    d AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
    shl AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
    posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM posting a JOIN posting b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.9
    """,
    description="MinHash+LSH near-dup pairs (64 perms, 16 bands), "
                "exact-Jaccard verified, on documents ∪ planted "
                "suffix-appended near-copies at threshold 0.9. The "
                "oracle is the EXACT all-pairs shingle-Jaccard truth — "
                "it matches because every true pair at J ≥ 0.9 has "
                "banding miss probability (1-J⁴)¹⁶ ≤ 4e-8: the "
                "approximate detector earns a full value-level check "
                "(dedup/planted.py). Second assumption — no planted "
                "LSH bucket exceeds the MAX_BUCKET=64 candidate cap "
                "(measured max 8; the cap would drop pairs the exact "
                "oracle expects) — is pinned in tests/"
                "test_properties.py:test_planted_corpus_buckets_"
                "stay_under_max_bucket")
def q_dedup_minhash(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import minhash, planted
    corpus = planted.with_appended_near_copies(
        load_table(spark, sf_dir, "documents"))
    return minhash.near_duplicates(corpus, threshold=0.9)


@_register(
    "dedup_minhash_natural",
    oracle=None,  # natural-corpus LSH candidate recall is probabilistic
                  # → rows-only; the planted twin dedup_minhash carries
                  # the full value-level oracle for the same detector
    description="MinHash+LSH near-dup pairs (64 perms, 16 bands) on the "
                "NATURAL documents corpus at threshold 0.5 — the "
                "pre-planting workload, kept as a separate twin so "
                "bench trend lines stay comparable across rounds and "
                "natural-corpus detection stays exercised end-to-end")
def q_dedup_minhash_natural(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import minhash
    return minhash.near_duplicates(load_table(spark, sf_dir, "documents"),
                                   threshold=0.5)


@_register(
    "dedup_simhash",
    oracle="""
    SELECT doc_id AS doc_a,
           doc_id + 1000000 AS doc_b,
           CAST(0 AS INT) AS hamming
    FROM documents
    """,
    description="64-bit SimHash near-dup pairs via 16-bit block join, "
                "on documents ∪ planted byte-identical copies, "
                "restricted to the planted (orig, copy) pair subset: "
                "identical text ⇒ identical simhash ⇒ Hamming 0, which "
                "the 4-block join finds by construction, so the truth "
                "is SQL-statable without computing simhash (seeded "
                "xxhash64 bit-sums aren't SQL-expressible; "
                "natural-corpus behavior stays property-tested in "
                "tests/test_properties.py)")
def q_dedup_simhash(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import planted, simhash
    corpus = planted.with_exact_copies(load_table(spark, sf_dir, "documents"))
    pairs = simhash.near_duplicates(corpus)
    return pairs.where(F.col("doc_b") - F.col("doc_a") == 1_000_000)


@_register(
    "dedup_simhash_natural",
    oracle=None,  # block-join recall guarantee only for hamming<=3 →
                  # rows-only; the planted twin dedup_simhash carries
                  # the value-level oracle for the same detector
    description="64-bit SimHash near-dup pairs via 16-bit block join on "
                "the NATURAL documents corpus, full unfiltered pair "
                "output — the pre-planting workload kept as a twin for "
                "bench continuity and natural-corpus coverage")
def q_dedup_simhash_natural(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import simhash
    return simhash.near_duplicates(load_table(spark, sf_dir, "documents"))


@_register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shl AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
    posting0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    hot AS (SELECT shingle FROM posting0
            GROUP BY shingle HAVING count(*) > {_NGRAM_MAX_DF}),
    posting AS (SELECT * FROM posting0
                WHERE shingle NOT IN (SELECT shingle FROM hot)),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM posting a JOIN posting b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.05
    """,
    description="exhaustive 3-gram Jaccard pairs via inverted index "
                f"(posting lists df-capped at {_NGRAM_MAX_DF})")
def q_dedup_ngram_jaccard(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import ngram_jaccard
    return ngram_jaccard.near_duplicates(
        load_table(spark, sf_dir, "documents"), threshold=0.05,
        max_df=_NGRAM_MAX_DF)


# ---------------------------------------------------------------------------
# Similarity search (north-star)
# ---------------------------------------------------------------------------

_NORMS = """
    norms AS (
        SELECT vec_id,
               sqrt(sum(embedding[g.i]::DOUBLE * embedding[g.i]::DOUBLE)) AS nrm
        FROM embeddings, generate_series(1, 64) AS g(i)
        GROUP BY vec_id)
"""


@_register(
    "ann_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    {_NORMS},
    dots AS (
        SELECT e.vec_id,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot
        FROM embeddings e, q, generate_series(1, 64) AS g(i)
        GROUP BY e.vec_id),
    qn AS (SELECT sqrt(sum(qe[g.i]::DOUBLE * qe[g.i]::DOUBLE)) AS qnrm
           FROM q, generate_series(1, 64) AS g(i))
    SELECT vec_id, cosine FROM (
        SELECT d.vec_id, round(d.dot / (n.nrm * qn.qnrm), 4) AS cosine
        FROM dots d JOIN norms n USING (vec_id), qn
        ORDER BY cosine DESC, vec_id ASC LIMIT 10)
    """,
    description="exact cosine top-10 vs query vector (vec_id=0)")
def q_ann_bruteforce(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import bruteforce
    return bruteforce.top_k_similar(
        load_table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


#: Exact top-10 truth over embeddings ∪ 10 exact copies of vec 0 — the
#: shared oracle for both approximate ANN paths (LSH and IVF): an
#: identical embedding provably lands in the query's SRP bucket and the
#: query's IVF list, so the approximate scans recall all copies with
#: certainty and the true top-10 (query + 9 lowest-id copies, cosine
#: 1.0, natural max ≈0.51) is what the exact oracle computes.
_ANN_PLANTED_ORACLE = """
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        -- nested rename: DuckDB lateral alias resolution would
        -- otherwise make the filter see the offset id
        SELECT 1000000 + j AS vec_id, embedding
        FROM (SELECT vec_id AS orig_id, embedding FROM embeddings),
             generate_series(1, 10) AS s(j)
        WHERE orig_id = 0),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    norms AS (
        SELECT vec_id,
               sqrt(sum(embedding[g.i]::DOUBLE * embedding[g.i]::DOUBLE)) AS nrm
        FROM corpus, generate_series(1, 64) AS g(i)
        GROUP BY vec_id),
    dots AS (
        SELECT e.vec_id,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot
        FROM corpus e, q, generate_series(1, 64) AS g(i)
        GROUP BY e.vec_id),
    qn AS (SELECT sqrt(sum(qe[g.i]::DOUBLE * qe[g.i]::DOUBLE)) AS qnrm
           FROM q, generate_series(1, 64) AS g(i))
    SELECT vec_id, cosine FROM (
        SELECT d.vec_id, round(d.dot / (n.nrm * qn.qnrm), 4) AS cosine
        FROM dots d JOIN norms n USING (vec_id), qn
        ORDER BY cosine DESC, vec_id ASC LIMIT 10)
"""


@_register(
    "ann_filtered",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cand AS (SELECT vec_id, label, embedding FROM embeddings
             WHERE label = 3),
    norms AS (
        SELECT vec_id,
               sqrt(sum(embedding[g.i]::DOUBLE * embedding[g.i]::DOUBLE)) AS nrm
        FROM cand, generate_series(1, 64) AS g(i)
        GROUP BY vec_id),
    dots AS (
        SELECT e.vec_id, e.label,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot
        FROM cand e, q, generate_series(1, 64) AS g(i)
        GROUP BY e.vec_id, e.label),
    qn AS (SELECT sqrt(sum(qe[g.i]::DOUBLE * qe[g.i]::DOUBLE)) AS qnrm
           FROM q, generate_series(1, 64) AS g(i))
    SELECT vec_id, label, cosine FROM (
        SELECT d.vec_id, d.label,
               round(d.dot / (n.nrm * qn.qnrm), 4) AS cosine
        FROM dots d JOIN norms n USING (vec_id), qn
        ORDER BY cosine DESC, vec_id ASC LIMIT 10)
    """,
    description="filtered vector search: exact cosine top-10 WHERE "
                "label = 3 — the metadata-predicate ANN pattern; the "
                "filter pushes down to the parquet scan so only the "
                "matching fraction is scored (plan pinned in "
                "tests/test_plan_audit.py)")
def q_ann_filtered(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import bruteforce
    return bruteforce.filtered_top_k(
        load_table(spark, sf_dir, "embeddings"), query_vec_id=0,
        label=3, k=10)


#: shared verbatim by ann_pq_adc and the persisted-index twin
#: ann_pq_indexed: both must land on the identical codebook, codes,
#: and ADC top-10 — the layout changes where the work happens, never
#: the answer.
_ANN_PQ_ADC_ORACLE = """
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    samp AS (
        SELECT row_number() OVER (ORDER BY e.vec_id) - 1 AS cj,
               e.embedding AS cemb
        FROM embeddings e, nn
        WHERE e.vec_id % greatest(1, (nn.n + 15) // 16) = 0
        ORDER BY e.vec_id LIMIT 16),
    dists AS (
        SELECT v.vec_id, g.s, c.cj,
               sum(power(v.embedding[g.s * 8 + g2.i]::DOUBLE
                         - c.cemb[g.s * 8 + g2.i]::DOUBLE, 2)) AS d2
        FROM embeddings v,
             generate_series(0, 7) AS g(s),
             samp c,
             generate_series(1, 8) AS g2(i)
        GROUP BY 1, 2, 3),
    enc AS (
        -- ORDER BY d2, cj mirrors np.argmin's lowest-index tie-break
        SELECT vec_id, s, cj AS code
        FROM (SELECT vec_id, s, cj,
                     row_number() OVER (PARTITION BY vec_id, s
                                        ORDER BY d2 ASC, cj ASC) AS rn
              FROM dists)
        WHERE rn = 1),
    qlut AS (SELECT s, cj, d2 FROM dists WHERE vec_id = 0)
    SELECT e.vec_id, round(sum(q.d2), 4) AS adc_dist
    FROM enc e JOIN qlut q ON q.s = e.s AND q.cj = e.code
    GROUP BY e.vec_id
    ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """


@_register(
    "ann_pq_adc",
    oracle=_ANN_PQ_ADC_ORACLE,
    description="product-quantization ADC top-10 (Jégou et al. 2011): "
                "8 subspaces × 16 centroids (deterministic stride "
                "codebook, same rule as IVF), corpus compressed ~32× "
                "into 4-bit codes, query scans CODES via an 8×16 "
                "lookup table in pure JVM codegen — the "
                "compressed-domain scan that turns a 25 TB embedding "
                "sweep into a 0.8 TB one; oracle reconstructs codebook, "
                "codes, and ADC ranking in SQL")
def q_ann_pq_adc(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import pq
    return pq.top_k_adc(load_table(spark, sf_dir, "embeddings"),
                        query_vec_id=0, k=10)


@_register(
    "ann_ivf_pq",
    oracle="""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    samp AS (
        SELECT row_number() OVER (ORDER BY e.vec_id) - 1 AS cj,
               e.embedding AS cemb
        FROM embeddings e, nn
        WHERE e.vec_id % greatest(1, (nn.n + 15) // 16) = 0
        ORDER BY e.vec_id LIMIT 16),
    vdist AS (
        SELECT v.vec_id, c.cj,
               sum(power(v.embedding[g.i]::DOUBLE
                         - c.cemb[g.i]::DOUBLE, 2)) AS vd2
        FROM embeddings v, samp c, generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
    asg AS (
        SELECT vec_id, cj AS list_id FROM
          (SELECT vec_id, cj,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY vd2 ASC, cj ASC) AS rn
           FROM vdist)
        WHERE rn = 1),
    probes AS (
        SELECT cj FROM
          (SELECT cj, row_number() OVER (ORDER BY vd2 ASC, cj ASC) AS rn
           FROM vdist WHERE vec_id = 0)
        WHERE rn <= 4),
    cand AS (SELECT a.vec_id FROM asg a JOIN probes p
             ON a.list_id = p.cj),
    dists AS (
        SELECT v.vec_id, g.s, c.cj,
               sum(power(v.embedding[g.s * 8 + g2.i]::DOUBLE
                         - c.cemb[g.s * 8 + g2.i]::DOUBLE, 2)) AS d2
        FROM embeddings v,
             generate_series(0, 7) AS g(s),
             samp c,
             generate_series(1, 8) AS g2(i)
        WHERE v.vec_id IN (SELECT vec_id FROM cand) OR v.vec_id = 0
        GROUP BY 1, 2, 3),
    enc AS (
        SELECT vec_id, s, cj AS code FROM
          (SELECT vec_id, s, cj,
                  row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2 ASC, cj ASC) AS rn
           FROM dists)
        WHERE rn = 1),
    qlut AS (SELECT s, cj, d2 FROM dists WHERE vec_id = 0)
    SELECT e.vec_id, round(sum(q.d2), 4) AS adc_dist
    FROM enc e
    JOIN cand ON cand.vec_id = e.vec_id
    JOIN qlut q ON q.s = e.s AND q.cj = e.code
    GROUP BY e.vec_id
    ORDER BY adc_dist ASC, e.vec_id ASC LIMIT 10
    """,
    description="IVF+PQ composition (Faiss IVFPQ, by_residual=False): "
                "coarse-quantize into 16 inverted lists, probe the 4 "
                "nearest to the query, ADC-rank only the probed lists "
                "in the compressed domain — scan fraction × code "
                "compression multiply; one deterministic stride sample "
                "serves as both quantizer and codebook so the oracle "
                "reconstructs the full pipeline in SQL")
def q_ann_ivf_pq(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import pq
    return pq.ivf_pq_top_k(load_table(spark, sf_dir, "embeddings"),
                           query_vec_id=0, k=10)


@_register(
    "ann_lsh",
    oracle=_ANN_PLANTED_ORACLE,
    description="SRP-LSH bucketed approximate top-10 (multiprobe "
                "hamming<=1) on embeddings ∪ planted exact copies of "
                "the query vector — identical vectors provably share "
                "the SRP bucket, so recall is exactly 1.0 and the "
                "exact all-pairs oracle applies "
                "(similarity/lsh.py:with_planted_copies)")
def q_ann_lsh(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import lsh
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                         "embedding")
    return lsh.top_k_similar(lsh.with_planted_copies(emb),
                             query_vec_id=0, dim=64, k=10)


@_register(
    "ann_lsh_natural",
    oracle=None,  # bucket-restricted recall on the natural corpus is
                  # approximate → rows-only; the planted twin ann_lsh
                  # carries the full value-level oracle
    description="SRP-LSH bucketed approximate top-10 (multiprobe "
                "hamming<=1) on the NATURAL embeddings corpus — the "
                "pre-planting workload kept as a twin for bench "
                "continuity and natural-corpus recall coverage")
def q_ann_lsh_natural(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import lsh
    return lsh.top_k_similar(load_table(spark, sf_dir, "embeddings"),
                             query_vec_id=0, dim=64, k=10)


@_register(
    "ann_ivf",
    oracle=_ANN_PLANTED_ORACLE,
    description="IVF approximate top-10 (deterministic coarse "
                "quantizer, n_probe=4 of 16 lists) on embeddings ∪ "
                "planted exact copies of the query vector — identical "
                "vectors provably share the query's inverted list, "
                "which is always probed, so recall is exactly 1.0 and "
                "the exact all-pairs oracle applies")
def q_ann_ivf(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import ivf, lsh
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                         "embedding")
    return ivf.top_k_similar(lsh.with_planted_copies(emb),
                             query_vec_id=0, k=10)


@_register(
    "ann_ivf_natural",
    oracle=None,  # probe-restricted recall on the natural corpus is
                  # approximate → rows-only; the planted twin ann_ivf
                  # carries the full value-level oracle
    description="IVF approximate top-10 (deterministic coarse "
                "quantizer, n_probe=4 of 16 lists) on the NATURAL "
                "embeddings corpus — the pre-planting workload kept as "
                "a twin for bench continuity")
def q_ann_ivf_natural(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import ivf
    return ivf.top_k_similar(load_table(spark, sf_dir, "embeddings"),
                             query_vec_id=0, k=10)


@_register(
    "salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="skew-resistant two-phase salted aggregation — identical "
                "results to the direct groupBy, hot keys sharded 16-way")
def q_salted_agg(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import skew
    return skew.salted_event_totals(load_table(spark, sf_dir, "events"))


@_register(
    "embedding_neardup",
    oracle=f"""
    WITH {_NORMS},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               sum(a.embedding[g.i]::DOUBLE * b.embedding[g.i]::DOUBLE) AS dot
        FROM embeddings a, embeddings b, generate_series(1, 64) AS g(i)
        WHERE a.vec_id < b.vec_id
        GROUP BY 1, 2)
    SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.45
    """,
    description="embedding-cosine near-dup pairs (exact pairwise)")
def q_embedding_neardup(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import bruteforce
    return bruteforce.pairwise_near_duplicates(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45)


@_register(
    "embedding_neardup_lsh",
    oracle="""
    WITH dup AS (
        -- nested rename: DuckDB lateral alias resolution would otherwise
        -- make the sin() argument see the OFFSET id
        SELECT orig_id + 1000000 AS vec_id,
               [(embedding[i]::DOUBLE *
                 (1.0 + 0.1 * sin(97 * orig_id + (i - 1))))::FLOAT
                for i in generate_series(1, 64)] AS embedding
        FROM (SELECT vec_id AS orig_id, embedding FROM embeddings)),
    corpus AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL SELECT vec_id, embedding FROM dup),
    norms AS (
        SELECT vec_id,
               sqrt(sum(embedding[g.i]::DOUBLE * embedding[g.i]::DOUBLE)) AS nrm
        FROM corpus, generate_series(1, 64) AS g(i)
        GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               sum(a.embedding[g.i]::DOUBLE * b.embedding[g.i]::DOUBLE) AS dot
        FROM corpus a, corpus b, generate_series(1, 64) AS g(i)
        WHERE a.vec_id < b.vec_id
        GROUP BY 1, 2)
    SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.95
    """,
    description="SCALABLE embedding near-dup: SRP-LSH candidate buckets "
                "(8 tables × 8 planes, one Arrow GEMM) + exact cosine "
                "verify, on the corpus ∪ planted perturbed duplicates "
                "(the synthetic embeddings have no native near-dups; the "
                "plant is a deterministic column expression mirrored in "
                "the oracle). The oracle is the EXACT all-pairs answer — "
                "it matches because measured LSH recall on this corpus "
                "is 1.0 (planted dups sit at cosine ≈0.997; "
                "P(miss) ≈ 2e-6 per pair at the 8×8 default), so the "
                "approximate operator earns a full value-level check")
def q_embedding_neardup_lsh(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import lsh
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                         "embedding")
    corpus = lsh.with_planted_duplicates(emb)
    # pinned 8x8 (not auto_size): the exact-answer oracle needs the
    # measured-deterministic recall of this configuration on the
    # planted corpus (P(miss) ~ 2e-6 per pair)
    return lsh.near_duplicate_pairs(corpus, dim=64, threshold=0.95,
                                    n_planes=8, n_tables=8)


# ---------------------------------------------------------------------------
# Event-time windows (batch twins of the streaming queries)
# ---------------------------------------------------------------------------

@_register(
    "events_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    description="1h tumbling window × event_type aggregate")
def q_events_tumbling(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.tumbling_counts(load_table(spark, sf_dir, "events"))


@_register(
    "events_sliding",
    oracle="""
    SELECT epoch_ms((CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                     - k.k * 1800) * 1000) AS window_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events, (VALUES (0), (1)) AS k(k)
    GROUP BY 1
    """,
    description="1h windows sliding 30min (each event in 2 windows)")
def q_events_sliding(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.sliding_counts(load_table(spark, sf_dir, "events"))


@_register(
    "events_sessionize",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e)
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    description="per-user gap-based sessionization (session_window)")
def q_events_sessionize(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.sessionize(load_table(spark, sf_dir, "events"))


@_register(
    "events_daily_rollup",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description="hierarchical rollup: daily aggregate computed FROM the "
                "hourly aggregate (lossless via integer cents)")
def q_events_daily_rollup(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.daily_rollup_via_hourly(load_table(spark, sf_dir, "events"))


@_register(
    "events_json",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
               AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="JSON props extraction + aggregate")
def q_events_json(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.json_props_stats(load_table(spark, sf_dir, "events"))


@_register(
    "events_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
    description="exact event dedup on (user_id, event_type, ts)")
def q_events_dedup(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.dedup_events(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Structured Streaming (real readStream execution; oracles = batch twins)
# ---------------------------------------------------------------------------

@_register(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    description="1h tumbling×type through the REAL streaming engine "
                "(readStream file source, 2h watermark, AvailableNow)")
def q_stream_tumbling(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_tumbling(spark, sf_dir)


@_register(
    "stream_sliding",
    oracle="""
    SELECT epoch_ms((CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                     - k.k * 1800) * 1000) AS window_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events, (VALUES (0), (1)) AS k(k)
    GROUP BY 1
    """,
    description="1h/30min sliding windows through the streaming engine")
def q_stream_sliding(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_sliding(spark, sf_dir)


@_register(
    "stream_sessionize",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e)
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    description="stateful session_window merge through the streaming engine")
def q_stream_sessionize(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_sessionize(spark, sf_dir)


@_register(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS sum_value
    FROM events GROUP BY user_id
    """,
    description="custom stateful streaming op (applyInPandasWithState): "
                "per-user running totals in explicit state")
def q_stream_stateful_totals(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_stateful_user_totals(spark, sf_dir)


@_register(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    description="stream-stream interval join (click→purchase attribution "
                "within 1h, watermark-bounded state)")
def q_stream_stream_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_stream_interval_join(spark, sf_dir)


@_register(
    "stream_static_join",
    oracle="""
    SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
           count(*) AS n_events
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    description="stream-static enrichment join (streaming events × "
                "broadcast customer dim) + aggregate")
def q_stream_static_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_static_join(spark, sf_dir)


@_register(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
    description="streaming dropDuplicates state + aggregate "
                "(two chained stateful operators)")
def q_stream_dedup(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_dedup_counts(spark, sf_dir)


@_register(
    "stream_session_dedup",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e)
    SELECT user_id, min(ts) AS session_start,
           CAST(count(DISTINCT event_type) AS INT) AS n_distinct_types,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    description="watermarked session-window dedup through the REAL "
                "streaming engine: distinct event-type count per "
                "(user, 30-min-gap session) via collect_set size "
                "inside the stateful session merge — arrival-order "
                "independent, so the streaming result carries a FULL "
                "value oracle (batch gap-reconstruction twin), no "
                "rows-only downgrade")
def q_stream_session_dedup(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_session_dedup(spark, sf_dir)


@_register(
    "interval_join_unmatched",
    oracle="""
    SELECT c.user_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
    """,
    description="clicks with NO same-user purchase within the "
                "following hour — the batch LEFT-ANTI side of the "
                "attribution interval join and the value-checked "
                "twin of stream_interval_join_outer; equality-key "
                "anti-join with the interval as residual predicate "
                "(never an interval cartesian)")
def q_interval_join_unmatched(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        interval_join_unmatched)
    return interval_join_unmatched(load_table(spark, sf_dir, "events"))


@_register(
    "stream_interval_join_outer",
    oracle=None,  # outer-row set depends on the final watermark at the
    # replay tail (clicks in the last ~3h stay live in join state) —
    # rows-only; interval_join_unmatched is the value-checked twin and
    # tests/test_streaming.py pins the containment invariants
    description="LEFT-OUTER stream-stream interval join: NULL-purchase "
                "rows emitted on state EXPIRY when the watermark "
                "passes a click's 1h join window — the emission path "
                "the inner stream_stream_join never exercises; "
                "watermark-bounded state on both sides")
def q_stream_interval_join_outer(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_interval_join_outer(spark, sf_dir)


@_register(
    "stream_dedup_watermark",
    oracle=None,  # survivor choice is arrival-order dependent → rows-only
    description="dropDuplicatesWithinWatermark: dedup on (user_id, "
                "event_type) where retries may carry different "
                "timestamps; state evicted by watermark instead of "
                "growing with the stream")
def q_stream_dedup_watermark(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_dedup_within_watermark(spark, sf_dir)


# ---------------------------------------------------------------------------
# Multimodal plumbing (north-star; decode stubbed — container has no codecs)
# ---------------------------------------------------------------------------

@_register(
    "binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text)  AS sha256,
           base64(encode(text)) AS payload_b64
    FROM documents
    """,
    description="opaque binary payload metadata (bytes/hash/base64)")
def q_binary_metadata(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    return binary.binary_metadata(load_table(spark, sf_dir, "documents"))


@_register(
    "multimodal_frames",
    oracle="""
    WITH f AS (
        SELECT doc_id, text,
               unnest(range(0, length(text) // 64, 4)) AS frame_idx
        FROM documents)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           sha256(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64))
               AS frame_sha
    FROM f
    """,
    description="frame sampling: 1 row → N frame rows via mapInPandas "
                "(64-char windows, every 4th), content-addressed — "
                "exact oracle on the deterministic fake decoder")
def q_multimodal_frames(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    return binary.frame_sample(load_table(spark, sf_dir, "documents"))


@_register(
    "image_decode_stats",
    oracle="""
    SELECT doc_id, width, height,
           round(CAST(sum(px) AS DOUBLE) / (width * height), 4) AS mean_px,
           CAST(min(px) AS BIGINT) AS min_px,
           CAST(max(px) AS BIGINT) AS max_px
    FROM (
      SELECT doc_id, width, height,
             unnest([(doc_id * 31 + 7 * i) % 256
                     for i in generate_series(0, width * height - 1)]) AS px
      FROM (SELECT doc_id,
                   CAST((doc_id % 5) + 4 AS BIGINT) AS width,
                   CAST((doc_id % 7) + 3 AS BIGINT) AS height
            FROM documents))
    GROUP BY doc_id, width, height
    """,
    description="REAL image decode: synthesize a deterministic greyscale "
                "PNG per doc (stdlib encoder, filter types cycling per "
                "scanline), ship it through Spark as a binary column, "
                "decode it back (zlib inflate + full None/Sub/Up/Average/"
                "Paeth unfilter) and emit pixel stats. The oracle "
                "recomputes the stats arithmetically from the pixel "
                "formula — a full value-level check that the codec "
                "roundtrip is bit-exact")
def q_image_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.image_decode_stats(binary.png_payloads(docs))


@_register(
    "jpeg_decode_stats",
    oracle="""
    SELECT doc_id,
           CAST((doc_id % 6) * 2 + 16 AS BIGINT) AS width,
           CAST((doc_id % 4) * 2 + 12 AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
                AS BIGINT) AS channels,
           TRUE AS recon_ok
    FROM documents
    """,
    description="REAL baseline-JPEG decode (pure-Python Huffman + "
                "dequantize + IDCT + chroma upsample — "
                "multimodal/jpeg.py, ITU T.81 SOF0): synthesize a "
                "deterministic JPEG per doc cycling grey / RGB-4:4:4 / "
                "RGB-4:2:0, ship it through Spark as a binary column, "
                "decode, and emit dims + a recon_ok flag that is TRUE "
                "only when decoded pixels sit within mean-abs error 8 "
                "of the source pattern (worst measured 5.11). JPEG is "
                "lossy so pixel values aren't SQL-statable, but "
                "recon_ok IS: a Huffman/IDCT/upsample bug flips it and "
                "the value-hash fails. Progressive is decoded too "
                "(round 8, see jpeg_progressive_stats); arithmetic "
                "files keep an honest NotImplementedError gate")
def q_jpeg_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.jpeg_decode_stats(binary.jpeg_payloads(docs))


@_register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT)
               AS fake_width,
           CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT)
               AS fake_height
    FROM documents
    """,
    description="Arrow-batched mapInPandas feature extraction over binary "
                "payloads (decode stubbed: deterministic fake keyed on "
                "payload length, so the Python-boundary plumbing — batch "
                "iteration, schema, payload round-trip — is value-checked "
                "by a SQL mirror of the fake)")
def q_multimodal_features(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.fake_decode_features(binary.with_binary_payload(docs))


# ---------------------------------------------------------------------------
# Relational: TPC-H-shaped additions (Q4/Q6/Q10/Q18), grouping sets,
# conditional aggregation, percentiles, range frames, distributions,
# map functions, string aggregation
# ---------------------------------------------------------------------------

@_register(
    "forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="TPC-H Q6 shape: pushdown filter → single global sum")
def q_forecast_revenue(spark, sf_dir):
    return R.forecast_revenue(load_table(spark, sf_dir, "lineitem"))


@_register(
    "exists_semi_agg",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description="TPC-H Q4 shape: EXISTS → left-semi join, then count "
                "per priority")
def q_exists_semi_agg(spark, sf_dir):
    return R.returned_priority_counts(load_table(spark, sf_dir, "orders"),
                                      load_table(spark, sf_dir, "lineitem"))


@_register(
    "returned_item_report",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(rev_e4 AS BIGINT) / 10000.0 AS revenue
    FROM (SELECT c_custkey, c_name, n_name,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                     AS rev_e4
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY c_custkey, c_name, n_name)
    ORDER BY rev_e4 DESC, c_custkey ASC
    LIMIT 20
    """,
    description="TPC-H Q10 shape: returned-item revenue per customer, "
                "top-20 deterministic")
def q_returned_item_report(spark, sf_dir):
    return R.returned_item_report(load_table(spark, sf_dir, "customer"),
                                  load_table(spark, sf_dir, "orders"),
                                  load_table(spark, sf_dir, "lineitem"),
                                  load_table(spark, sf_dir, "nation"))


@_register(
    "big_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS totalprice, total_qty
    FROM orders
    JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING round(sum(l_quantity), 2) > 140) big
      ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
    description="TPC-H Q18 shape: aggregate-then-join (per-order qty "
                "totals before the orders join)")
def q_big_volume_customers(spark, sf_dir):
    return R.big_volume_customers(load_table(spark, sf_dir, "customer"),
                                  load_table(spark, sf_dir, "orders"),
                                  load_table(spark, sf_dir, "lineitem"))


@_register(
    "grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    description="explicit GROUPING SETS incl. a level rollup/cube would "
                "not produce")
def q_grouping_sets(spark, sf_dir):
    return R.grouping_sets_revenue(load_table(spark, sf_dir, "lineitem"))


@_register(
    "conditional_agg",
    oracle="""
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice ELSE 0.0 END), 2) AS urgent_total,
           round(avg(o_totalprice), 4) AS avg_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    description="filtered/conditional aggregation (count_if, CASE-gated "
                "sums) in one pass")
def q_conditional_agg(spark, sf_dir):
    return R.conditional_agg(load_table(spark, sf_dir, "orders"))


@_register(
    "percentile_prices",
    oracle="""
    SELECT p_brand,
           round(quantile_cont(p_retailprice, 0.25), 4) AS p25,
           round(quantile_cont(p_retailprice, 0.5),  4) AS p50,
           round(quantile_cont(p_retailprice, 0.75), 4) AS p75,
           round(quantile_cont(p_retailprice, 0.9),  4) AS p90,
           count(*) AS n_parts
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    description="exact percentiles per group (linear interpolation, same "
                "definition both engines)")
def q_percentile_prices(spark, sf_dir):
    return R.percentile_prices(load_table(spark, sf_dir, "part"))


@_register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           round(sum(o_totalprice) OVER w, 2) AS rev_30d,
           count(*) OVER w AS n_orders_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
    """,
    description="time-based RANGE frame: trailing-30-day revenue per "
                "customer (tie-safe)")
def q_window_range_frame(spark, sf_dir):
    return R.rolling_revenue_30d(load_table(spark, sf_dir, "orders"))


@_register(
    "window_distribution",
    oracle="""
    SELECT c_custkey,
           round(c_acctbal, 2) AS acctbal,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    description="ntile/percent_rank/cume_dist with unique tiebreaker")
def q_window_distribution(spark, sf_dir):
    return R.customer_value_tiles(load_table(spark, sf_dir, "customer"))


@_register(
    "map_functions",
    oracle="""
    SELECT p_partkey,
           p_brand AS brand_val,
           CAST(2 AS BIGINT) AS m_size,
           'brand,type' AS keys_joined,
           p_brand || '|' || p_type AS vals_joined,
           CAST(p_size AS VARCHAR) AS size_str
    FROM part
    """,
    description="map-type function surface (construction, keys/values, "
                "lookup, str_to_map)")
def q_map_functions(spark, sf_dir):
    return R.map_functions(load_table(spark, sf_dir, "part"))


@_register(
    "string_agg_groups",
    oracle="""
    SELECT n_name,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    description="ordered LISTAGG-style string aggregation per group "
                "(array_sort before join for determinism)")
def q_string_agg_groups(spark, sf_dir):
    return R.names_per_nation(load_table(spark, sf_dir, "customer"),
                              load_table(spark, sf_dir, "nation"))


def _custom_source_truth_sql() -> str:
    """VALUES-literal oracle for `custom_source_wordcount`: the
    synthetic_corpus source is a pure function of doc_id, so the exact
    word counts are computable driver-side without Spark. What the
    check then validates is the CONNECTOR round-trip — schema, split
    planning, per-partition iteration with no lost or duplicated
    rows — which is the point of the query; the generator itself is
    trivially shared between both sides (documented, deliberate)."""
    from collections import Counter

    from cloud_native_mapreduce_spark.sources.custom import _doc_text
    counts: Counter[str] = Counter()
    for doc_id in range(2000):
        counts.update(_doc_text(doc_id).split())
    rows = ", ".join(f"('{w}', {n})" for w, n in sorted(counts.items()))
    return f"SELECT word, CAST(cnt AS BIGINT) AS cnt FROM (VALUES {rows}) AS t(word, cnt)"


@_register(
    "custom_source_wordcount",
    # passed UNCALLED: the 2000-doc VALUES literal is built lazily on
    # first .oracle access, not at every registry import (round-6 ADVICE)
    oracle=_custom_source_truth_sql,
    description="word count over the custom Python DataSource connector "
                "(synthetic_corpus) — connector contract: schema, "
                "partition planning, per-partition iteration; "
                "deterministic generator so the read is retry-safe. "
                "Oracle is a VALUES literal computed driver-side from "
                "the same pure generator: it checks the connector "
                "round-trip (no lost/duplicated splits), not the "
                "generator")
def q_custom_source_wordcount(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources import custom
    custom.register(spark)
    corpus = (spark.read.format("synthetic_corpus")
              .option("n_docs", 2000).option("n_partitions", 8).load())
    return T.word_count(corpus)


@_register(
    "orc_roundtrip",
    oracle="SELECT * FROM part",
    description="part → ORC → back, lossless (columnar alternative to "
                "parquet: pruning/pushdown preserved)")
def q_orc_roundtrip(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources import formats
    return formats.orc_roundtrip_part(spark, sf_dir)


@_register(
    "partitioned_scan",
    oracle="""
    SELECT user_id, count(*) AS n_purchases,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY user_id
    """,
    description="Hive-partitioned layout: events partitionBy(event_type), "
                "read back with a partition filter — the scan prunes to "
                "one directory (PartitionFilters), reading 1/5 of files")
def q_partitioned_scan(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources import formats
    return formats.partitioned_events_scan(spark, sf_dir)


@_register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shl AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
    posting0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    hot AS (SELECT shingle FROM posting0
            GROUP BY shingle HAVING count(*) > {_NGRAM_MAX_DF}),
    posting AS (SELECT * FROM posting0
                WHERE shingle NOT IN (SELECT shingle FROM hot)),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM posting a JOIN posting b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.4),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM d
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node)
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS comp
    FROM walk GROUP BY node ORDER BY doc_id
    """,
    description="near-dup CLUSTERS: 3-gram-Jaccard pair graph (>=0.4) → "
                "connected components via distributed min-label "
                "propagation; oracle recomputes components with a "
                "recursive CTE")
def q_dedup_components(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import components, ngram_jaccard
    docs = load_table(spark, sf_dir, "documents")
    edges = (ngram_jaccard.near_duplicates(docs, threshold=0.4,
                                           max_df=_NGRAM_MAX_DF)
             .select("doc_a", "doc_b"))
    return components.connected_components(docs.select("doc_id"), edges)


# ---------------------------------------------------------------------------
# Scalar surface round 2: regex, safe math, intervals, bitwise, lateral
# explode, schema evolution; batched similarity serving
# ---------------------------------------------------------------------------

@_register(
    "regex_functions",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '#', 'g')           AS digits_masked,
           CAST(len(regexp_extract_all(text, '[aeiou]')) AS BIGINT)
                                                              AS n_vowels,
           regexp_matches(text, '\\bthe\\b')                  AS has_the,
           regexp_extract(text, '([a-z]+)', 1)                AS first_lower_run
    FROM documents
    """,
    description="regex surface: global replace, count, match test, "
                "group extract")
def q_regex_functions(spark, sf_dir):
    return R.regex_functions(load_table(spark, sf_dir, "documents"))


@_register(
    "safe_math",
    oracle="""
    SELECT p_partkey,
           p_retailprice / nullif(p_size - 7, 0) AS price_per_sizegap,
           TRY_CAST(p_brand AS INT)              AS brand_as_int,
           TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT)
                                                 AS brand_num
    FROM part
    """,
    description="NULL-on-error arithmetic: try_divide, try_cast")
def q_safe_math(spark, sf_dir):
    return R.safe_math(load_table(spark, sf_dir, "part"))


@_register(
    "interval_functions",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE),
                    '%Y-%m-%d')                            AS due_3mo,
           strftime(CAST(date_trunc('quarter', o_orderdate) AS DATE),
                    '%Y-%m-%d')                            AS quarter_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '1998-12-31') AS BIGINT)    AS days_to_eoy98,
           strftime(last_day(CAST(o_orderdate AS DATE)),
                    '%Y-%m-%d')                            AS month_end
    FROM orders
    """,
    description="calendar-interval arithmetic: add_months, quarter trunc, "
                "day deltas, last_day")
def q_interval_functions(spark, sf_dir):
    return R.interval_functions(load_table(spark, sf_dir, "orders"))


@_register(
    "bitwise_agg",
    oracle="""
    SELECT p_brand,
           CAST(bit_and(p_size) AS BIGINT) AS sz_and,
           CAST(bit_or(p_size)  AS BIGINT) AS sz_or,
           CAST(bit_xor(p_size) AS BIGINT) AS sz_xor,
           count(*) AS n
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    description="bitwise aggregates (bit_and/bit_or/bit_xor)")
def q_bitwise_agg(spark, sf_dir):
    return R.bitwise_agg(load_table(spark, sf_dir, "part"))


@_register(
    "schema_evolution",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS acctbal
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
           round(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_custkey % 2 = 1
    """,
    description="unionByName(allowMissingColumns): name-aligned union of "
                "two schema versions with NULL fill")
def q_schema_evolution(spark, sf_dir):
    return R.schema_evolution_union(load_table(spark, sf_dir, "customer"))


@_register(
    "posexplode_tokens",
    oracle=f"""
    SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.tok AS tok
    FROM (SELECT doc_id,
                 unnest([{{'pos': i - 1, 'tok': toks[i]}}
                         for i in generate_series(1, len(toks))]) AS s
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
                WHERE doc_id % 100 = 0))
    """,
    description="posexplode lateral view: token + ordinal position")
def q_posexplode_tokens(spark, sf_dir):
    return T.positioned_tokens(load_table(spark, sf_dir, "documents"))


@_register(
    "ann_batch",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN (0, 1, 2, 3, 4)),
    {_NORMS},
    dots AS (
        SELECT q.qid, e.vec_id,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot
        FROM embeddings e, q, generate_series(1, 64) AS g(i)
        WHERE e.vec_id <> q.qid
        GROUP BY q.qid, e.vec_id),
    scored AS (
        SELECT d.qid, d.vec_id,
               round(d.dot / (n.nrm * nq.nrm), 4) AS cosine
        FROM dots d
        JOIN norms n  ON n.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.qid)
    SELECT qid, vec_id, cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
    description="batched similarity serving: top-3 per query for 5 query "
                "vectors in ONE corpus scan (broadcast queries + "
                "per-query window rank)")
def q_ann_batch(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import bruteforce
    return bruteforce.top_k_batch(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=3)


_REV_E4 = ("CAST(round(l_extendedprice * 100) AS BIGINT) "
           "* (100 - CAST(round(l_discount * 100) AS BIGINT))")


@_register(
    "promo_revenue",
    oracle=f"""
    SELECT ship_month,
           round(promo_e4 * 100.0 / total_e4, 4) AS promo_pct,
           CAST(total_e4 AS BIGINT) / 10000.0    AS total_revenue
    FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                 sum(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV_E4}
                          ELSE 0 END) AS promo_e4,
                 sum({_REV_E4})       AS total_e4
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1)
    ORDER BY ship_month
    """,
    description="TPC-H Q14 shape: promo-revenue share per month, exact "
                "integer revenue units, one aggregate pass")
def q_promo_revenue(spark, sf_dir):
    return R.promo_revenue(load_table(spark, sf_dir, "lineitem"),
                           load_table(spark, sf_dir, "part"))


@_register(
    "disjunctive_join",
    oracle=f"""
    SELECT CAST(sum_e4 AS BIGINT) / 10000.0 AS revenue, n_lines
    FROM (SELECT sum({_REV_E4}) AS sum_e4, count(*) AS n_lines
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
                 AND l_quantity BETWEEN 20 AND 30))
    """,
    description="TPC-H Q19 shape: OR-tree of correlated predicates over "
                "an equi-join — broadcast-hash join, never cartesian")
def q_disjunctive_join(spark, sf_dir):
    return R.disjunctive_predicate_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"))


@_register(
    "ngram_counts",
    oracle=f"""
    SELECT bigram, cnt FROM (
        SELECT bigram, count(*) AS cnt
        FROM (SELECT unnest(CASE WHEN len(toks) < 2 THEN []
                            ELSE [toks[i] || ' ' || toks[i + 1]
                                  for i in generate_series(1, len(toks) - 1)]
                            END) AS bigram
              FROM (SELECT {_TOKS} AS toks FROM documents))
        GROUP BY bigram
        ORDER BY cnt DESC, bigram ASC
        LIMIT 20)
    """,
    description="top-20 corpus bigrams (JVM transform n-gram build, "
                "lean explode)")
def q_ngram_counts(spark, sf_dir):
    return T.ngram_counts(load_table(spark, sf_dir, "documents"))


@_register(
    "time_spine_fill",
    oracle="""
    WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
                           date_trunc('hour', max(ts)) AS hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                  AS hour FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                      count(*) AS n_events,
                      round(sum(value), 2) AS total_value
               FROM events GROUP BY 1, 2)
    SELECT s.hour, t.event_type,
           coalesce(c.n_events, 0)      AS n_events,
           coalesce(c.total_value, 0.0) AS total_value
    FROM spine s CROSS JOIN types t
    LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
    ORDER BY s.hour, t.event_type
    """,
    description="gap-filled hourly series per event_type: time spine × "
                "type grid, zero fill — the resample ETL primitive")
def q_time_spine_fill(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.hourly_spine_fill(load_table(spark, sf_dir, "events"))


@_register(
    "hash_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    """,
    description="deterministic systematic 1/16 sample by key hash — "
                "stable across engines/retries/partitioning, unlike "
                "df.sample")
def q_hash_sample(spark, sf_dir):
    return R.deterministic_sample(load_table(spark, sf_dir, "documents"))


@_register(
    "window_value_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    description="first/last/nth_value with explicit full-partition frame")
def q_window_value_functions(spark, sf_dir):
    return R.window_value_functions(load_table(spark, sf_dir, "orders"))


@_register(
    "price_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    description="fixed-width histogram via arithmetic bucketing")
def q_price_histogram(spark, sf_dir):
    return R.price_histogram(load_table(spark, sf_dir, "orders"))


@_register(
    "lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, round(c_acctbal, 2) AS acctbal
             FROM customer
             WHERE c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey ASC
             LIMIT 2) t
    ORDER BY n.n_name, t.acctbal DESC, t.c_custkey ASC
    """,
    description="correlated LATERAL subquery (decorrelated by Catalyst): "
                "top-2 customers per nation")
def q_lateral_topk(spark, sf_dir):
    return R.lateral_topk(spark,
                          load_table(spark, sf_dir, "nation"),
                          load_table(spark, sf_dir, "customer"))


@_register(
    "volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(rev_e4 AS BIGINT) / 10000.0 AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS BIGINT) AS l_year,
                 sum({_REV_E4}) AS rev_e4
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
                 (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          GROUP BY 1, 2, 3)
    ORDER BY supp_nation, cust_nation, l_year
    """,
    description="TPC-H Q7 shape: cross-nation shipping volume by "
                "direction and year; nation broadcast twice under "
                "different aliases")
def q_volume_shipping(spark, sf_dir):
    return R.volume_shipping(load_table(spark, sf_dir, "supplier"),
                             load_table(spark, sf_dir, "lineitem"),
                             load_table(spark, sf_dir, "orders"),
                             load_table(spark, sf_dir, "customer"),
                             load_table(spark, sf_dir, "nation"))


@_register(
    "repetition_ratio",
    oracle=f"""
    SELECT doc_id,
           CAST(len(sh) AS BIGINT) AS n_shingles,
           round(len(list_distinct(sh)) / len(sh), 4) AS distinct_ratio
    FROM (SELECT doc_id,
                 CASE WHEN len(toks) < 3
                      THEN [array_to_string(toks, ' ')]
                      ELSE [array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]
                 END AS sh
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
    """,
    description="repetition quality filter: distinct word-trigram "
                "fraction per doc (pretraining boilerplate signal)")
def q_repetition_ratio(spark, sf_dir):
    return T.repetition_ratio(load_table(spark, sf_dir, "documents"))


@_register(
    "freq_items",
    oracle=None,  # KPS sketch may emit false positives → rows-only;
                  # the no-false-negative guarantee is pytest-pinned
    description="heavy hitters via freqItems (single-pass KPS "
                "counting, O(1/support) memory): every item above "
                "support frequency guaranteed present")
def q_freq_items(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.frequent_event_types(load_table(spark, sf_dir, "events"))


@_register(
    "freq_items_planted",
    oracle="""
    SELECT DISTINCT 'hh_' || CAST(event_id % 5 AS VARCHAR) AS item
    FROM events ORDER BY item
    """,
    description="heavy hitters via freqItems on a PLANTED column "
                "('hh_' || event_id % 5): each of the 5 residue "
                "classes holds ~20% of rows > the 0.1 support, so "
                "every observed item is a guaranteed-present true "
                "positive AND the KPS map (capacity 1/support = 10) "
                "never fills, so no decrement ever fires and no false "
                "positive can appear — the sketch output is provably "
                "the exact distinct set, earning the probabilistic "
                "operator a full value-level oracle (the natural-corpus "
                "twin freq_items stays rows-only)")
def q_freq_items_planted(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    ev = load_table(spark, sf_dir, "events")
    planted = ev.select(
        F.concat(F.lit("hh_"), (F.col("event_id") % 5).cast("string"))
        .alias("event_type"))
    return A.frequent_event_types(planted)


@_register(
    "approx_percentiles",
    oracle=None,  # GK-sketch values are engine-specific → rows-only;
                  # tolerance vs exact pinned in tests/test_properties.py
    description="approximate percentiles (percentile_approx, mergeable "
                "GK sketch, bounded memory) — the 100 TB path next to "
                "stats_summary's exact ObjectHashAggregate percentile")
def q_approx_percentiles(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.approx_percentiles(load_table(spark, sf_dir, "lineitem"))


@_register(
    "approx_percentiles_planted",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_disc(l_quantity, 0.51) AS BIGINT) AS p51,
           CAST(quantile_disc(l_quantity, 0.73) AS BIGINT) AS p73,
           CAST(quantile_disc(l_quantity, 0.99) AS BIGINT) AS p99,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="percentile_approx made provably exact: l_quantity "
                "holds 50 integer plateaus of ~2% mass each, and the "
                "targets (0.51, 0.73, 0.99) sit ~0.01·n ranks inside a "
                "plateau while the GK sketch rank-error bound at "
                "accuracy 10000 is n/10000 — two orders of magnitude "
                "smaller — so the sketch MUST return the plateau value "
                "and the exact quantile_disc oracle applies (the "
                "engine-specific continuous-column twin "
                "approx_percentiles stays rows-only)")
def q_approx_percentiles_planted(spark, sf_dir):
    pcts = F.expr("percentile_approx(l_quantity, "
                  "array(0.51, 0.73, 0.99), 10000)")
    return (load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(pcts.alias("pcts"), F.count("*").alias("n_rows"))
            .select("l_returnflag",
                    F.col("pcts")[0].cast("bigint").alias("p51"),
                    F.col("pcts")[1].cast("bigint").alias("p73"),
                    F.col("pcts")[2].cast("bigint").alias("p99"),
                    "n_rows")
            .orderBy("l_returnflag"))


@_register(
    "table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name, count(*) AS n,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           round(CAST(min(o_orderkey) AS DOUBLE), 4) AS min_num,
           round(CAST(max(o_orderkey) AS DOUBLE), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           count(DISTINCT o_custkey),
           round(CAST(min(o_custkey) AS DOUBLE), 4),
           round(CAST(max(o_custkey) AS DOUBLE), 4), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           count(DISTINCT o_totalprice),
           round(CAST(min(o_totalprice) AS DOUBLE), 4),
           round(CAST(max(o_totalprice) AS DOUBLE), 4), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           count(DISTINCT o_orderstatus), NULL, NULL,
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*),
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           count(DISTINCT o_orderdate), NULL, NULL,
           strftime(min(o_orderdate), '%Y-%m-%d'),
           strftime(max(o_orderdate), '%Y-%m-%d')
    FROM orders
    ORDER BY col_name
    """,
    description="single-pass data profiling: per-column row/null/exact-"
                "distinct counts and typed min/max in ONE scan (Expand "
                "for multi-countDistinct) — the ingest QA gate")
def q_table_profile(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.table_profile(load_table(spark, sf_dir, "orders"))


@_register(
    "bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text),
                '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ \\t\\n\\x0B\\f\\ra-z0-9]+',
                0)) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
    description="BPE-ish pretokenizer count (GPT-2 shape minus "
                "lookahead, RE2-compatible): the token-budget estimator "
                "of a training pipeline")
def q_bpe_token_count(spark, sf_dir):
    return T.bpe_token_count(load_table(spark, sf_dir, "documents"))


@_register(
    "winnow_fingerprints",
    oracle="""
    WITH d AS (SELECT doc_id,
                      regexp_extract_all(lower(text),
                          '[a-z](?:[a-z''‘’]*[a-z])?', 0) AS toks
               FROM documents),
    th AS (SELECT doc_id,
             [list_reduce([ascii(t[i])::BIGINT
                           for i in generate_series(1, len(t))],
                          (a, c) -> (a * 131 + c) % 2147483647)
              for t in toks] AS th
           FROM d),
    g AS (SELECT doc_id,
            CASE WHEN len(th) < 3 THEN []
            ELSE [(((th[i] * 131 + th[i + 1]) % 2147483647) * 131
                   + th[i + 2]) % 2147483647
                  for i in generate_series(1, len(th) - 2)] END AS g
          FROM th),
    fps AS (SELECT doc_id,
              list_distinct([list_aggregate(g[j:j + 3], 'min')
                             for j in generate_series(
                                 1, greatest(len(g) - 3, 1))]) AS fps
            FROM g WHERE len(g) > 0)
    SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp
    FROM fps ORDER BY doc_id, fp
    """,
    description="rolling-hash winnowing fingerprints (MOSS, "
                "SIGMOD'03): token-trigram polynomial hashes, min per "
                "window of 4 — engine-free arithmetic so the oracle "
                "reproduces every value exactly")
def q_winnow_fingerprints(spark, sf_dir):
    return T.winnow_fingerprints(load_table(spark, sf_dir, "documents"))


@_register(
    "audio_chunks",
    oracle="""
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 1024 AS BIGINT) AS start_byte,
           CAST(least(1024, len - i * 1024) AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
         unnest(generate_series(0, CAST(ceil(len / 1024.0) AS BIGINT) - 1))
             AS u(i)
    ORDER BY doc_id, chunk_idx
    """,
    description="audio-modality segmentation: fixed-size chunk offsets "
                "per payload via mapInPandas (metadata-narrow output)")
def q_audio_chunks(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    return binary.audio_chunks(load_table(spark, sf_dir, "documents"))


@_register(
    "top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, sum({_REV_E4}) AS rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(rev_e4 AS BIGINT) / 10000.0
               AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
    ORDER BY s_suppkey
    """,
    description="TPC-H Q15 shape: max-revenue supplier via rank window "
                "over the per-supplier aggregate (single fact scan)")
def q_top_supplier(spark, sf_dir):
    return R.top_supplier(load_table(spark, sf_dir, "supplier"),
                          load_table(spark, sf_dir, "lineitem"))


@_register(
    "idle_rich_customers",
    oracle="""
    SELECT substring(c_name, -1, 1) AS name_tail,
           count(*) AS n_custs,
           round(sum(round(c_acctbal, 2)), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    GROUP BY 1 ORDER BY 1
    """,
    description="TPC-H Q22 shape: scalar-subquery threshold + anti join")
def q_idle_rich_customers(spark, sf_dir):
    return R.idle_rich_customers(load_table(spark, sf_dir, "customer"),
                                 load_table(spark, sf_dir, "orders"))


@_register(
    "label_centroids",
    oracle="""
    SELECT label, CAST(g.i - 1 AS BIGINT) AS dim,
           round(avg(embedding[g.i]::DOUBLE), 4) + 0.0 AS centroid,
           count(*) AS n_vectors
    FROM embeddings, generate_series(1, 64) AS g(i)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    description="per-label embedding centroids: posexplode + one hash "
                "agg (map-side partials keep shuffle at labels x dims)")
def q_label_centroids(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import bruteforce
    return bruteforce.label_centroids(
        load_table(spark, sf_dir, "embeddings"))


@_register(
    "curation_pipeline",
    oracle=f"""
    WITH gated AS (
        SELECT doc_id, text, lang, n_chars FROM documents
        WHERE lang = 'en' AND n_chars BETWEEN 100 AND 500),
    toksed AS (SELECT doc_id, lang, n_chars, {_TOKS} AS toks FROM gated),
    rep AS (
        SELECT doc_id,
               len(list_distinct(sh)) / len(sh) AS distinct_ratio
        FROM (SELECT doc_id,
                     CASE WHEN len(toks) < 3
                          THEN [array_to_string(toks, ' ')]
                          ELSE [array_to_string(toks[i:i+2], ' ')
                                for i in generate_series(1, len(toks) - 2)]
                     END AS sh
              FROM toksed)),
    quality AS (
        SELECT t.* FROM toksed t JOIN rep USING (doc_id)
        WHERE rep.distinct_ratio >= 0.3),
    surv AS (
        SELECT min(doc_id) AS doc_id
        FROM (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
              FROM quality)
        GROUP BY fp)
    SELECT q.doc_id, q.lang, q.n_chars,
           CASE WHEN substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 1)
                     IN ('0', '1') THEN 'holdout' ELSE 'train' END AS split
    FROM quality q JOIN surv USING (doc_id)
    ORDER BY q.doc_id
    """,
    description="composed curation pipeline: language/length gate → "
                "repetition gate → exact dedup → deterministic holdout "
                "split; one shuffle end-to-end")
def q_curation_pipeline(spark, sf_dir):
    return T.curation_pipeline(load_table(spark, sf_dir, "documents"))


@_register(
    "curation_pipeline_neardup",
    oracle=f"""
    WITH RECURSIVE
    gated0 AS (SELECT doc_id, lang, n_chars, text FROM documents
               WHERE lang = 'en' AND n_chars BETWEEN 100 AND 500),
    gated AS (SELECT doc_id, lang, n_chars, text FROM gated0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, lang,
                     n_chars + 28 AS n_chars,
                     text || ' planted near duplicate copy' AS text
              FROM gated0),
    d AS (SELECT doc_id, {_TOKS} AS toks FROM gated),
    shl AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
    posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM posting a JOIN posting b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.9),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM gated
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
    comp AS (SELECT node AS doc_id, min(lbl) AS comp
             FROM walk GROUP BY node),
    surv AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
                    CAST(count(*) AS BIGINT) AS cluster_size
             FROM comp GROUP BY comp)
    SELECT s.doc_id, g.lang, g.n_chars, s.cluster_size,
           CASE WHEN substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 1)
                     IN ('0', '1') THEN 'holdout' ELSE 'train' END AS split
    FROM surv s JOIN gated g USING (doc_id)
    ORDER BY s.doc_id
    """,
    description="near-dup-aware curation: language/length gate → "
                "MinHash+LSH pair mining at threshold 0.9 over gate "
                "survivors ∪ planted suffix-appended near-copies → "
                "connected components → min-doc_id survivor per cluster "
                "(with cluster_size) → deterministic holdout split. The "
                "planted corpus makes banding recall deterministic "
                "(≤ 4e-8 miss per true pair), so the WHOLE pipeline is "
                "value-checked by an exact-Jaccard + recursive-CTE-"
                "components oracle; natural-corpus invariants and the "
                "MAX_BUCKET-headroom assumption both stay pinned in "
                "tests/test_properties.py")
def q_curation_pipeline_neardup(spark, sf_dir):
    return T.curation_pipeline_neardup(
        load_table(spark, sf_dir, "documents"),
        jaccard_threshold=0.9, plant_near_copies=True)


@_register(
    "curation_pipeline_neardup_natural",
    oracle=None,  # natural-corpus MinHash pair recall is probabilistic
                  # → rows-only; the planted twin carries the full
                  # value-level oracle for the identical pipeline
    description="near-dup-aware curation on the NATURAL corpus at the "
                "0.5 default threshold: language/length gate → "
                "MinHash+LSH pair mining → connected components → "
                "min-doc_id survivor per cluster → holdout split — the "
                "pre-planting workload kept as a twin for bench "
                "continuity; invariants pinned in "
                "tests/test_properties.py")
def q_curation_pipeline_neardup_natural(spark, sf_dir):
    return T.curation_pipeline_neardup(
        load_table(spark, sf_dir, "documents"))


@_register(
    "kmeans_clusters",
    oracle=None,  # iterative algorithm on the natural corpus → rows-only;
                  # the planted twin kmeans_fixed_point carries the full
                  # value-level oracle for the same pipeline
    description="distributed Lloyd's k-means (k=8, 5 rounds) over the "
                "embedding column: broadcast centroids for assignment, "
                "labels x dims shuffle for the update; deterministic "
                "init + tie-breaks so output is partitioning-stable")
def q_kmeans_clusters(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import kmeans
    return kmeans.kmeans_cluster_sizes(
        load_table(spark, sf_dir, "embeddings"))


@_register(
    "normalize_text",
    oracle=r"""
    SELECT doc_id,
           norm_text,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
           norm_text != text AS changed
    FROM (
      SELECT doc_id, text,
             trim(regexp_replace(
                 regexp_replace(lower(text),
                                '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'),
                 '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm_text
      FROM documents)
    """,
    description="CCNet-style text normalization (casefold, control-"
                "char strip, whitespace collapse, trim) — the "
                "pre-fingerprint pass, one narrow JVM projection at "
                "scan speed")
def q_normalize_text(spark, sf_dir):
    return T.normalize_text(load_table(spark, sf_dir, "documents"))


@_register(
    "zipf_fit",
    oracle=f"""
    WITH wc AS (
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text),
                  '{_WORD_RE_SQL}', 0)) AS word
              FROM documents)
        GROUP BY word),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
        FROM wc)
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(cnt), ln(rank)), 4) + 0.0 AS zipf_slope,
           round(corr(ln(cnt), ln(rank)), 4) + 0.0 AS zipf_corr
    FROM ranked
    """,
    description="Zipf's-law fit of the vocabulary: OLS of ln(count) on "
                "ln(frequency-rank) — the corpus-health statistic; "
                "global rank via the DISTRIBUTED two-pass range rank "
                "(no single-task window), then one algebraic "
                "regr_slope/corr aggregate")
def q_zipf_fit(spark, sf_dir):
    return T.zipf_fit(load_table(spark, sf_dir, "documents"))


@_register(
    "gopher_quality",
    oracle=r"""
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
           stop_distinct,
           n_words BETWEEN 50 AND 100000 AS pass_word_count,
           mean_word_len BETWEEN 3.0 AND 10.0 AS pass_mean_word_len,
           alpha_word_frac >= 0.8 AS pass_alpha_words,
           stop_distinct >= 2 AS pass_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND alpha_word_frac >= 0.8
             AND stop_distinct >= 2 AS pass_gopher
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(len(array_to_string(toks, ''))::DOUBLE /
                   greatest(len(toks), 1), 4) AS mean_word_len,
             round(len(alpha)::DOUBLE / greatest(len(toks), 1), 4)
                 AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(toks),
                  ['the','be','to','of','and','that','have','with']))
                  AS BIGINT) AS stop_distinct
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text),
                       '[^ \t\n\x0B\f\r]+', 0) AS toks,
                   regexp_extract_all(lower(text),
                       '[^ \t\n\x0B\f\r]*[a-z][^ \t\n\x0B\f\r]*', 0)
                       AS alpha
            FROM documents))
    """,
    description="per-document Gopher quality-rule flags (Rae et al. "
                "2021 §A1.1): word-count bounds, mean-word-length "
                "bounds, alphabetic-word fraction, distinct-stopword "
                "requirement, composite verdict — one narrow JVM pass, "
                "no shuffle, no Python")
def q_gopher_quality(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.gopher_quality(load_table(spark, sf_dir, "documents"))


@_register(
    "kmeans_fixed_point",
    oracle="""
    SELECT CAST(j AS BIGINT) AS cluster, CAST(11 + j AS BIGINT) AS size
    FROM generate_series(0, 7) AS s(j)
    ORDER BY cluster
    """,
    description="the SAME Lloyd's pipeline as kmeans_clusters, run on a "
                "planted FIXED-POINT corpus (the k init vectors + 10+j "
                "exact copies each) where convergence is provable and "
                "the final sizes are 11..18 by construction — a full "
                "value-level check of the iterative machinery "
                "(assignment GEMM, posexplode+hash-agg update, "
                "iteration order); see similarity/kmeans.py:"
                "with_planted_fixed_point. kmeans_clusters keeps the "
                "natural corpus for the bench workload")
def q_kmeans_fixed_point(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import kmeans
    return kmeans.kmeans_cluster_sizes(
        kmeans.with_planted_fixed_point(
            load_table(spark, sf_dir, "embeddings")))


@_register(
    "zscore_outliers",
    oracle="""
    SELECT c_custkey, c_nationkey, acctbal, zscore
    FROM (SELECT c_custkey, c_nationkey,
                 round(c_acctbal, 2) AS acctbal,
                 round((c_acctbal - avg(c_acctbal) OVER w)
                       / stddev_samp(c_acctbal) OVER w, 4) + 0.0 AS zscore
          FROM customer
          WINDOW w AS (PARTITION BY c_nationkey))
    WHERE abs(zscore) > 1.8
    ORDER BY c_custkey
    """,
    description="per-nation z-score outliers via aggregate windows "
                "(no join-back)")
def q_zscore_outliers(spark, sf_dir):
    return R.balance_zscore_outliers(load_table(spark, sf_dir, "customer"))


@_register(
    "top_users_per_day",
    oracle="""
    SELECT day, user_id, CAST(cents AS BIGINT) / 100.0 AS total_value,
           rnk
    FROM (SELECT day, user_id, cents,
                 row_number() OVER (PARTITION BY day
                     ORDER BY cents DESC, user_id ASC) AS rnk
          FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                       user_id,
                       sum(CAST(round(value * 100) AS BIGINT)) AS cents
                FROM events GROUP BY 1, 2))
    WHERE rnk <= 3
    ORDER BY day, rnk
    """,
    description="daily top-3 leaderboard: exact-cents totals + "
                "WindowGroupLimit rank pruning")
def q_top_users_per_day(spark, sf_dir):
    return R.top_users_per_day(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Training-data curation: sampling, mixing, decontamination, TF-IDF, packing
# (operators/curation.py — north-star scope, no reference analogue)
# ---------------------------------------------------------------------------

#: engine-portable uniform draw — see curation.hash_uniform
_HASH_U_SQL = ("('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
               "::BIGINT / 4294967296.0")


@_register(
    "stratified_sample",
    oracle=f"""
    WITH rates AS (
      SELECT source, least(1.0, 10.0 / count(*)) AS rate
      FROM documents GROUP BY source)
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d JOIN rates r USING (source)
    WHERE {_HASH_U_SQL} < r.rate
    """,
    description="deterministic stratified sample: ~10 docs/source via "
                "md5-uniform vs broadcast per-stratum rates — one scan, "
                "no corpus shuffle")
def q_stratified_sample(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.stratified_sample(load_table(spark, sf_dir, "documents"),
                                target_per_stratum=10)


@_register(
    "corpus_mix",
    oracle=f"""
    WITH w(source, wt) AS (VALUES ('src0', 3.0), ('src1', 2.0),
                                  ('src2', 1.0), ('src3', 1.0)),
    cw AS (SELECT c.source, c.n_src, w.wt
           FROM (SELECT source, count(*) AS n_src
                 FROM documents GROUP BY source) c
           JOIN w USING (source)),
    t AS (SELECT min(n_src / wt) AS t_min FROM cw),
    rates AS (SELECT source, least(1.0, wt * t_min / n_src) AS rate
              FROM cw, t)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING (source)
    WHERE {_HASH_U_SQL} < r.rate
    """,
    description="deterministic corpus mixing to 3:2:1:1 source weights "
                "(bottleneck source kept whole, rest hash-downsampled)")
def q_corpus_mix(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.corpus_mix(
        load_table(spark, sf_dir, "documents"),
        {"src0": 3.0, "src1": 2.0, "src2": 1.0, "src3": 1.0})


#: shared oracle fragment: word 5-grams of every document, plus the
#: doc_id%7 benchmark/train split used by the decontamination entries.
_DECON_GRAMS_SQL = f"""
    toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS ws
      FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
      FROM toks, unnest(range(1, len(ws) - 3)) AS t(i)),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0)
"""


@_register(
    "decontaminate",
    oracle=f"""
    WITH {_DECON_GRAMS_SQL},
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN bench USING (gram)
      WHERE g.doc_id % 7 <> 0)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 7 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    description="benchmark decontamination: drop training docs sharing "
                "any word 5-gram with the doc_id%7 benchmark split "
                "(broadcast bench grams, map-side anti filter)")
def q_decontaminate(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    return CU.decontaminate(docs.where(F.col("doc_id") % 7 != 0),
                            docs.where(F.col("doc_id") % 7 == 0))


@_register(
    "contamination_report",
    oracle=f"""
    WITH {_DECON_GRAMS_SQL},
    tg AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 7 <> 0)
    SELECT doc_id, count(*) AS n_shared_grams
    FROM tg JOIN bench USING (gram)
    GROUP BY doc_id
    """,
    description="flagged complement of decontaminate: distinct shared "
                "5-grams per contaminated training doc")
def q_contamination_report(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    return CU.contamination_report(docs.where(F.col("doc_id") % 7 != 0),
                                   docs.where(F.col("doc_id") % 7 == 0))


@_register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tfc AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dfc AS (SELECT term, count(*) AS df_term FROM tfc GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df_term), 4) AS score
      FROM tfc JOIN dfc USING (term), n)
    SELECT doc_id, term, tf, score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
    description="top-3 TF-IDF terms/doc: single tokenize feeding both "
                "tf and df aggregates; doc-partitioned window top-k")
def q_tfidf_top_terms(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@_register(
    "sequence_pack",
    oracle=rf"""
    WITH RECURSIVE d AS (
      SELECT pack_group, doc_id, n_tok,
             row_number() OVER (PARTITION BY pack_group
                                ORDER BY doc_id) AS rn
      FROM (
        SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT % {PACK_BUCKETS} AS VARCHAR) AS pack_group,
               doc_id,
               least(512, len(regexp_extract_all(
                   text, '[^ \t\n\x0B\f\r]+', 0))) AS n_tok
        FROM documents)),
    pack AS (
      SELECT pack_group, doc_id, n_tok, rn,
             CAST(1 AS BIGINT) AS seq_id, n_tok AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.pack_group, d.doc_id, d.n_tok, d.rn,
             CASE WHEN p.fill + d.n_tok <= 512
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.fill + d.n_tok <= 512
                  THEN p.fill + d.n_tok ELSE d.n_tok END
      FROM d JOIN pack p
        ON d.pack_group = p.pack_group AND d.rn = p.rn + 1)
    SELECT pack_group, doc_id, CAST(n_tok AS BIGINT) AS n_tok, seq_id
    FROM pack
    """,
    description="greedy next-fit sequence packing to 512 tokens per "
                "md5-hash bucket (64-way chosen parallelism, "
                "applyInPandas per group vs recursive-CTE oracle)")
def q_sequence_pack(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.sequence_pack(load_table(spark, sf_dir, "documents"),
                            max_tokens=512)


# ---------------------------------------------------------------------------
# TPC-H depth: Q13 / Q17 / Q8 shapes
# ---------------------------------------------------------------------------

@_register(
    "customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey,
                 coalesce(o.c_count, 0) AS c_count
          FROM customer c
          LEFT JOIN (SELECT o_custkey, count(*) AS c_count
                     FROM orders GROUP BY o_custkey) o
            ON c.c_custkey = o.o_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    description="TPC-H Q13 shape: customer count histogram by order "
                "count incl. zero-order customers (pre-aggregated left "
                "join, two hash aggregates)")
def q_customer_distribution(spark, sf_dir):
    return R.customer_distribution(load_table(spark, sf_dir, "customer"),
                                   load_table(spark, sf_dir, "orders"))


@_register(
    "small_quantity_revenue",
    oracle="""
    WITH bi AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#3'),
    pp AS (
      SELECT l_partkey AS agg_partkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             count(*) AS n_items
      FROM bi GROUP BY l_partkey)
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) / 100.0 / 7.0, 2) AS avg_yearly
    FROM bi JOIN pp ON l_partkey = agg_partkey
    WHERE CAST(l_quantity AS BIGINT) * 5 * n_items < sum_qty
    """,
    description="TPC-H Q17 shape: small-quantity revenue with the "
                "correlated per-part avg rewritten in exact integer "
                "arithmetic (no float threshold flips)")
def q_small_quantity_revenue(spark, sf_dir):
    return R.small_quantity_revenue(load_table(spark, sf_dir, "part"),
                                    load_table(spark, sf_dir, "lineitem"))


@_register(
    "market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(CASE WHEN ns.n_name = 'NATION_1'
                          THEN vol_e4 ELSE 0 END)
                 / sum(vol_e4), 6) AS mkt_share
    FROM (SELECT l_orderkey, l_suppkey,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   AS vol_e4
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'ECONOMY') l
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = 'AMERICA'
    JOIN supplier ON l_suppkey   = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    GROUP BY o_year
    ORDER BY o_year
    """,
    description="TPC-H Q8 shape: NATION_1 supplier share of ECONOMY "
                "revenue to AMERICA customers by year (one joined frame, "
                "conditional aggregate, dims broadcast)")
def q_market_share(spark, sf_dir):
    return R.market_share(*[load_table(spark, sf_dir, t) for t in
                            ("region", "nation", "customer", "supplier",
                             "part", "orders", "lineitem")])


# ---------------------------------------------------------------------------
# LLM-pipeline depth: corpus LM scoring, PII redaction, int8 quantization
# ---------------------------------------------------------------------------

@_register(
    "unigram_logprob",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
            FROM tf GROUP BY term),
    tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM ctf)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * ln(CAST(ctf AS DOUBLE) / n_total)) / sum(tf), 4)
           + 0.0 AS avg_logprob
    FROM tf JOIN ctf USING (term), tot
    GROUP BY doc_id
    """,
    description="per-doc mean unigram log-prob under the corpus's own "
                "unigram model (one tokenize; vocab-bounded join-back; "
                "the cheap LM quality score)")
def q_unigram_logprob(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.unigram_logprob(load_table(spark, sf_dir, "documents"))


@_register(
    "pii_redact",
    oracle=r"""
    WITH synth AS (
      SELECT event_id AS doc_id,
             'user u' || CAST(user_id AS VARCHAR)
             || '@mail' || CAST(event_id % 10 AS VARCHAR)
             || '.com logged from 10.' || CAST(user_id % 256 AS VARCHAR)
             || '.' || CAST(event_id % 256 AS VARCHAR)
             || '.7 tel +' || CAST(10000000 + (event_id * 37) % 9999999
                                   AS VARCHAR)
             || ' note ' || event_type AS text
      FROM events WHERE event_id % 5 = 0),
    pats AS (
      SELECT '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+' AS em,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b' AS ip,
             '\+[0-9]{7,12}' AS tel)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, em)) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, ip)) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text, tel)) AS BIGINT) AS n_tel,
           CAST(len(regexp_extract_all(text, em))
                + len(regexp_extract_all(text, ip))
                + len(regexp_extract_all(text, tel)) AS BIGINT) AS n_pii,
           regexp_replace(regexp_replace(regexp_replace(
               text, em, '<email>', 'g'), ip, '<ip>', 'g'),
               tel, '<tel>', 'g') AS redacted
    FROM synth, pats
    """,
    description="PII detect+redact (email/IPv4/phone) over text "
                "synthesized deterministically from events — counts via "
                "regexp_extract_all, chained global regexp_replace")
def q_pii_redact(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 5 == 0)
    text = F.concat(
        F.lit("user u"), F.col("user_id").cast("string"),
        F.lit("@mail"), (F.col("event_id") % 10).cast("string"),
        F.lit(".com logged from 10."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."), (F.col("event_id") % 256).cast("string"),
        F.lit(".7 tel +"),
        (F.lit(10000000) + (F.col("event_id") * 37) % 9999999)
        .cast("string"),
        F.lit(" note "), F.col("event_type"))
    return CU.pii_redact(
        ev.select(F.col("event_id").alias("doc_id"), text.alias("text")))


@_register(
    "embedding_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE))))
             / 127.0 AS sc
      FROM embeddings)
    SELECT vec_id, round(sc, 6) + 0.0 AS scale,
           CAST(list_sum(list_transform(xs,
               x -> CASE WHEN sc = 0.0 THEN 0
                    ELSE CAST(floor(x/sc + 0.5) AS BIGINT) END))
                AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(xs,
               x -> CASE WHEN sc = 0.0 OR floor(x/sc + 0.5) = 0
                    THEN 1 ELSE 0 END)) AS BIGINT) AS n_zero,
           CAST(list_max(list_transform(xs,
               x -> CASE WHEN sc = 0.0 THEN 0
                    ELSE CAST(abs(floor(x/sc + 0.5)) AS BIGINT) END))
                AS BIGINT) AS q_max
    FROM s
    """,
    description="int8 symmetric per-vector quantization summary "
                "(scale, signed code sum, dead-zone count, range pin) — "
                "narrow JVM HOF pass, no shuffle")
def q_embedding_quantize(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import quantize as Q
    return Q.quantize_int8(load_table(spark, sf_dir, "embeddings"))


@_register(
    "boilerplate_strip",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS ws
      FROM documents),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+4], ' ') AS gram
      FROM toks, unnest(range(1, len(ws) - 3)) AS t(i)),
    hot AS (
      SELECT gram
      FROM (SELECT gram, count(DISTINCT doc_id) AS df
            FROM grams GROUP BY gram)
      WHERE df >= 3
      ORDER BY df DESC, gram ASC LIMIT 1024),
    cpos AS (
      SELECT DISTINCT g.doc_id, g.pos + j AS cpos
      FROM grams g JOIN hot USING (gram), unnest(range(0, 5)) AS u(j)),
    covl AS (SELECT doc_id, list(cpos) AS cov FROM cpos GROUP BY doc_id),
    kept AS (
      SELECT t.doc_id, t.ws,
             [t.ws[i] FOR i IN generate_series(1, len(t.ws))
              IF cov IS NULL OR NOT list_contains(cov, i - 1)] AS kept
      FROM toks t LEFT JOIN covl USING (doc_id))
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_before,
           CAST(len(kept) AS BIGINT) AS n_after,
           coalesce(array_to_string(kept, ' '), '') AS cleaned
    FROM kept
    """,
    description="cross-document boilerplate removal: word 5-grams in "
                ">=3 docs (capped top-1024 by df) stripped token-wise "
                "from every doc — broadcast hot set, indexed-lambda "
                "rebuild")
def q_boilerplate_strip(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.boilerplate_strip(load_table(spark, sf_dir, "documents"),
                                k=5, min_docs=3, max_hot=1024)


@_register(
    "zorder_stats",
    oracle="""
    WITH b AS (
      SELECT min(l_partkey) AS x_lo, max(l_partkey) AS x_hi,
             min(l_suppkey) AS y_lo, max(l_suppkey) AS y_hi
      FROM lineitem),
    coded AS (
      SELECT (l_partkey - x_lo) * 16 // (x_hi - x_lo + 1) AS cx,
             (l_suppkey - y_lo) * 16 // (y_hi - y_lo + 1) AS cy,
             l_partkey, l_suppkey
      FROM lineitem, b),
    z AS (
      SELECT l_partkey, l_suppkey,
             (((cx >> 0) & 1) << 1) + (((cy >> 0) & 1) << 0)
           + (((cx >> 1) & 1) << 3) + (((cy >> 1) & 1) << 2)
           + (((cx >> 2) & 1) << 5) + (((cy >> 2) & 1) << 4)
           + (((cx >> 3) & 1) << 7) + (((cy >> 3) & 1) << 6) AS zcode
      FROM coded)
    SELECT CAST(zcode * 16 // 256 AS BIGINT) AS file_id,
           count(*) AS n_rows,
           min(l_partkey) AS x_min, max(l_partkey) AS x_max,
           min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
    FROM z
    GROUP BY file_id ORDER BY file_id
    """,
    description="Z-order layout effectiveness: Morton-interleave "
                "(partkey,suppkey) into 16 file buckets, emit per-file "
                "min/max spans — the data-skipping footer stats, exact "
                "integer arithmetic end-to-end")
def q_zorder_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.zorder_layout_stats(load_table(spark, sf_dir, "lineitem"),
                                 bits=4, files=16)


@_register(
    "incremental_rollup",
    oracle="""
    SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_value
    FROM events
    GROUP BY event_type, hod
    """,
    description="incremental materialized-rollup maintenance: persisted "
                "pre-split rollup (parquet round-trip) merged with the "
                "new partition by union+re-aggregate; oracle recomputes "
                "from scratch — incremental == full recompute")
def q_incremental_rollup(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.incremental_rollup_merge(
        spark, load_table(spark, sf_dir, "events"))


@_register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_prev FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_prev
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t_prev
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_prev
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_prev
      GROUP BY e.user_id),
    counts AS (
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'view',     (SELECT count(*) FROM s1)),
        (CAST(2 AS BIGINT), 'click',    (SELECT count(*) FROM s2)),
        (CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)))
        AS t(step_no, step, n_users))
    SELECT step_no, step, n_users,
           round(n_users / (SELECT n_users FROM counts WHERE step_no = 1),
                 4) AS conversion
    FROM counts ORDER BY step_no
    """,
    description="strict sequential funnel view->click->purchase: per-"
                "step min-ts frames co-partitioned on user_id, counts "
                "only in the result")
def q_funnel_conversion(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.funnel_conversion(load_table(spark, sf_dir, "events"))


@_register(
    "retention_cohorts",
    oracle="""
    WITH first AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE))
             AS cohort_day
      FROM events GROUP BY user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', cohort_day,
                          CAST(date_trunc('day', ts) AS DATE))
                AS BIGINT) AS day_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first USING (user_id)
    WHERE date_diff('day', cohort_day,
                    CAST(date_trunc('day', ts) AS DATE)) BETWEEN 0 AND 7
    GROUP BY cohort, day_offset
    ORDER BY cohort, day_offset
    """,
    description="daily cohort retention matrix (first-seen day x "
                "activity offset 0..7, distinct users per cell)")
def q_retention_cohorts(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.retention_cohorts(load_table(spark, sf_dir, "events"))


@_register(
    "interpolate_hourly",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
              AS hour FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    obs AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS obs_cents
            FROM events GROUP BY 1, 2),
    grid AS (
      SELECT s.hour, t.event_type, o.obs_cents, epoch(s.hour) AS h,
             CASE WHEN o.obs_cents IS NOT NULL
                  THEN epoch(s.hour) END AS obs_h
      FROM spine s CROSS JOIN types t
      LEFT JOIN obs o ON o.hour = s.hour AND o.event_type = t.event_type),
    w AS (
      SELECT *,
        last_value(obs_cents IGNORE NULLS) OVER wb AS prev_c,
        last_value(obs_h IGNORE NULLS) OVER wb AS prev_h,
        first_value(obs_cents IGNORE NULLS) OVER wf AS next_c,
        first_value(obs_h IGNORE NULLS) OVER wf AS next_h
      FROM grid
      WINDOW wb AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT hour, event_type,
           floor(CASE WHEN obs_cents IS NOT NULL
                      THEN CAST(obs_cents AS DOUBLE)
                      WHEN prev_c IS NULL THEN CAST(next_c AS DOUBLE)
                      WHEN next_c IS NULL THEN CAST(prev_c AS DOUBLE)
                      ELSE prev_c + (next_c - prev_c) * (h - prev_h)
                           / CAST(next_h - prev_h AS DOUBLE) END
                 * 100 + 0.5) / 10000.0 AS value_interp,
           obs_cents IS NOT NULL AS is_observed
    FROM w ORDER BY hour, event_type
    """,
    description="hourly resample with linear interpolation between "
                "observations per event_type (ignoreNulls window frames, "
                "exact cents until the final ratio; boundary clamp)")
def q_interpolate_hourly(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.interpolate_hourly(load_table(spark, sf_dir, "events"))


@_register(
    "chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS ws
      FROM documents),
    starts AS (
      SELECT doc_id, ws, s, s // 48 AS chunk_id
      FROM toks, unnest(range(0, len(ws), 48)) AS t(s))
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(ws[s + 1 : s + 64]) AS BIGINT) AS n_tokens,
           coalesce(array_to_string(ws[s + 1 : s + 64], ' '), '')
           AS chunk_text
    FROM starts
    """,
    description="overlapping token-window chunking (64-token chunks, "
                "16 overlap, stride 48) — the RAG/embedding preprocessing "
                "pass; zero-shuffle narrow JVM pipeline")
def q_chunk_documents(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.chunk_documents(load_table(spark, sf_dir, "documents"),
                              chunk_tokens=64, overlap=16)


@_register(
    "linear_trend",
    oracle="""
    SELECT event_type,
           round(regr_slope(y, x), 4) + 0.0 AS slope_per_day,
           round(regr_intercept(y, x), 4) + 0.0 AS intercept,
           round(corr(y, x), 4) + 0.0 AS corr_xy,
           count(*) AS n_events
    FROM (SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) / 86400.0 AS x,
                 CAST(round(value * 100) AS BIGINT) / 100.0 AS y
          FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
    description="per-type OLS trend of value over time (regr_slope/"
                "intercept/corr — algebraic mergeable aggregates, "
                "days-scaled x so slopes survive rounding)")
def q_linear_trend(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.linear_trend(load_table(spark, sf_dir, "events"))


@_register(
    "triangle_count",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    wedges AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a),
    closed AS (
      SELECT w.a, w.b, w.c
      FROM wedges w JOIN edges e ON w.a = e.a AND w.c = e.b)
    SELECT (SELECT count(DISTINCT v)
            FROM (SELECT a AS v FROM edges
                  UNION ALL SELECT b AS v FROM edges)) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM closed) AS n_triangles
    """,
    description="distributed triangle count on the co-purchase part "
                "graph (degree-oriented edge-iterator with "
                "array_intersect closure, max-degree safety cap — the "
                "WWW'11 pattern; oracle mirrors the logical graph, "
                "orientation is physical-only)")
def q_triangle_count(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.triangle_count(load_table(spark, sf_dir, "lineitem"))



@_register(
    "bm25_topk",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    qt AS (SELECT unnest(['hash', 'join', 'scan', 'vector']) AS term),
    dfq AS (SELECT term, count(*) AS df_term
            FROM tf JOIN qt USING (term) GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (n_docs - df_term + 0.5) / (df_term + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS part
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats)
    SELECT doc_id, round(sum(part), 4) + 0.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
    description="Okapi BM25 top-20 docs for a 4-term query: one "
                "tokenize feeds tf/dl/df; query-term semi-join is "
                "broadcast; top-k via TakeOrdered heaps")
def q_bm25_topk(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import retrieval as RV
    return RV.bm25_topk(load_table(spark, sf_dir, "documents"),
                        ["hash", "join", "scan", "vector"], k=20)


@_register(
    "dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS l
      FROM documents),
    uni AS (SELECT doc_id, unnest(l) AS gram FROM toks),
    bi AS (SELECT doc_id,
                  unnest(list_transform(
                      range(len(l) - 1),
                      i -> l[i + 1] || ' ' || l[i + 2])) AS gram
           FROM toks WHERE len(l) >= 2),
    feats AS (
      SELECT doc_id, substring(md5(gram), 1, 3) AS bucket,
             count(*) AS n
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      GROUP BY doc_id, bucket),
    tgt AS (SELECT bucket, sum(n) AS t_n FROM feats
            WHERE doc_id % 7 = 0 GROUP BY bucket),
    raw AS (SELECT doc_id, bucket, n FROM feats WHERE doc_id % 7 <> 0),
    rawc AS (SELECT bucket, sum(n) AS r_n FROM raw GROUP BY bucket),
    tt AS (SELECT sum(t_n) AS t_tot FROM tgt),
    rt AS (SELECT sum(r_n) AS r_tot FROM rawc),
    rates AS (
      SELECT COALESCE(tgt.bucket, rawc.bucket) AS bucket,
             ln((COALESCE(t_n, 0) + 1.0) / (t_tot + 4096))
             - ln((COALESCE(r_n, 0) + 1.0) / (r_tot + 4096)) AS llr
      FROM tgt FULL OUTER JOIN rawc ON tgt.bucket = rawc.bucket, tt, rt)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
           round(sum(n * llr), 4) + 0.0 AS logw
    FROM raw JOIN rates USING (bucket)
    GROUP BY doc_id
    """,
    description="DSIR hashed uni+bigram importance weights (Xie et al. "
                "2023): target = doc_id%7 split; md5-prefix buckets are "
                "engine-portable; 4096-row rate table broadcasts")
def q_dsir_weights(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import retrieval as RV
    return RV.dsir_weights(load_table(spark, sf_dir, "documents"))


@_register(
    "source_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
             / nullif(len(toks), 0) AS r
      FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents)),
    src AS (SELECT source, round(avg(r), 4) + 0.0 AS mean_stopword_ratio
            FROM scored GROUP BY source)
    SELECT doc_id, source, mean_stopword_ratio
    FROM documents JOIN src USING (source)
    WHERE mean_stopword_ratio >= 0.05
    """,
    description="domain-level quality filter (C4-style): drop whole "
                "sources whose mean stopword ratio is sub-floor; "
                "|sources|-row table broadcasts, corpus never shuffles")
def q_source_quality_filter(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.source_quality_filter(load_table(spark, sf_dir, "documents"))


@_register(
    "token_budget_sample",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             / 4294967296.0 AS u
      FROM documents),
    cum AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY u ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_tokens
      FROM base)
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens - n_tokens < 500
    """,
    description="per-source token-budget sampling in deterministic "
                "hash-shuffle order: running-total window partitioned "
                "by source, explicit ROWS frame, unique ordering")
def q_token_budget_sample(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.token_budget_sample(load_table(spark, sf_dir, "documents"),
                                  budget_tokens=500)


@_register(
    "audio_decode_stats",
    oracle="""
    SELECT doc_id, sample_rate, channels, n_frames,
           -- floor, not CAST: Spark CAST(double AS BIGINT) truncates
           -- while DuckDB CAST rounds; an explicit floor on BOTH sides
           -- keeps fractional-ms durations engine-identical
           CAST(floor(n_frames * 1000 / sample_rate) AS BIGINT)
               AS duration_ms,
           CAST(sum(abs(s)) AS BIGINT) AS total_abs,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM (
      SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
             CAST(CASE WHEN doc_id % 50 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS channels,
             n_frames,
             unnest([((i * k) % 2001) - 1000
                     for i in generate_series(0, n_frames - 1)]) AS s
      FROM (SELECT doc_id,
                   CAST(1 + doc_id % 17 AS BIGINT) AS k,
                   CAST(800 + (doc_id % 32) * 8 AS BIGINT) AS n_frames
            FROM documents))
    GROUP BY doc_id, sample_rate, channels, n_frames
    """,
    description="REAL audio decode: synthesize a deterministic integer-"
                "sawtooth RIFF/PCM16 WAV per doc (stdlib codec, stereo "
                "every 50th doc), ship it through Spark as binary, parse "
                "the RIFF framing back and emit exact integer amplitude "
                "stats; the oracle recomputes the waveform from first "
                "principles — the full encode->binary->decode->DSP "
                "pipeline is value-checked")
def q_audio_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.audio_decode_stats(binary.wav_payloads(docs))


@_register(
    "video_frame_stats",
    oracle="""
    SELECT doc_id, frame_idx, width, height, n_frames,
           CAST(sum(px) AS BIGINT) AS luma_sum,
           CAST(min(px) AS BIGINT) AS luma_min,
           CAST(max(px) AS BIGINT) AS luma_max
    FROM (
      SELECT doc_id, frame_idx, width, height, n_frames,
             unnest([(doc_id * 13 + frame_idx * 31 + i * 7) % 256
                     for i in generate_series(0, width * height - 1)])
             AS px
      FROM (
        SELECT doc_id, width, height, n_frames,
               unnest([f for f in generate_series(0, n_frames - 1)
                       if f % 2 = 0]) AS frame_idx
        FROM (SELECT doc_id,
                     CAST(8 + (doc_id % 4) * 2 AS BIGINT) AS width,
                     CAST(6 + (doc_id % 3) * 2 AS BIGINT) AS height,
                     CAST(4 + doc_id % 6 AS BIGINT) AS n_frames
              FROM documents)))
    GROUP BY doc_id, frame_idx, width, height, n_frames
    """,
    description="REAL video decode + frame sampling: synthesize a "
                "deterministic multi-frame YUV4MPEG2 stream per doc "
                "(stdlib codec; C420 every 40th doc, Cmono otherwise), "
                "ship as binary, parse the stream framing back, keep "
                "every 2nd frame, emit exact integer luma stats; the "
                "oracle recomputes the luma planes from first "
                "principles — the video encode->binary->decode->sample "
                "pipeline is value-checked end to end")
def q_video_frame_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.video_frame_stats(binary.y4m_payloads(docs))


@_register(
    "approx_distinct_bounded",
    oracle="""
    SELECT 'orders.o_custkey' AS col_name,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_nd,
           TRUE AS within_10pct
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_partkey',
           CAST(count(DISTINCT l_partkey) AS BIGINT), TRUE
    FROM lineitem
    """,
    description="the HLL++ sketch's ACCURACY CONTRACT as a value check: "
                "estimate within 10% (2x default rsd) of exact, so a "
                "sketch regression hash-fails the gate; the estimate "
                "itself stays engine-specific (see approx_distinct)")
def q_approx_distinct_bounded(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.approx_distinct_bounded(load_table(spark, sf_dir, "orders"),
                                     load_table(spark, sf_dir, "lineitem"))


@_register(
    "bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS l
      FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(
                      range(len(l) - 1),
                      i -> l[i + 1] || ' ' || l[i + 2])) AS bg
           FROM toks WHERE len(l) >= 2),
    bgn AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg),
    cbg AS (SELECT bg, sum(n) AS cbg FROM bgn GROUP BY bg),
    ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cbg) AS cctx
            FROM cbg GROUP BY w1),
    v AS (SELECT count(*) AS v FROM ctx)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * ln((cbg + 1.0) / (cctx + v))) / sum(n), 4)
           + 0.0 AS avg_logprob
    FROM bgn
    JOIN cbg USING (bg)
    JOIN ctx ON split_part(bgn.bg, ' ', 1) = ctx.w1, v
    GROUP BY doc_id
    """,
    description="per-doc mean bigram log-prob under the corpus's own "
                "add-one bigram model (context-aware LM quality score; "
                "one tokenize, vocabulary-bounded join-backs)")
def q_bigram_logprob(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.bigram_logprob(load_table(spark, sf_dir, "documents"))


@_register(
    "containment_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shl AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
    posting0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    hot AS (SELECT shingle FROM posting0
            GROUP BY shingle HAVING count(*) > {_NGRAM_MAX_DF}),
    posting AS (SELECT * FROM posting0
                WHERE shingle NOT IN (SELECT shingle FROM hot)),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM posting a JOIN posting b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
    cand AS (
        SELECT doc_a, doc_b, n_shared, sa.n_sh AS n_a, sb.n_sh AS n_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT doc_src, doc_tgt, containment FROM (
      SELECT doc_a AS doc_src, doc_b AS doc_tgt,
             round(n_shared / n_a, 4) AS containment FROM cand
      UNION ALL
      SELECT doc_b, doc_a, round(n_shared / n_b, 4) FROM cand)
    WHERE containment >= 0.1
    """,
    description="asymmetric shingle containment |A∩B|/|A| (Broder): "
                "the sub-document duplication / quotation signal the "
                "symmetric jaccard misses; same df-capped inverted "
                "index, both directions scored from one candidate row")
def q_containment_pairs(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import ngram_jaccard
    return ngram_jaccard.containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.1,
        max_df=_NGRAM_MAX_DF)


@_register(
    "hybrid_topk_rrf",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    qt AS (SELECT unnest(['hash', 'join', 'scan', 'vector']) AS term),
    dfq AS (SELECT term, count(*) AS df_term
            FROM tf JOIN qt USING (term) GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (n_docs - df_term + 0.5) / (df_term + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS part
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
    bm_all AS (SELECT doc_id, round(sum(part), 4) + 0.0 AS bm25
               FROM scored GROUP BY doc_id),
    bm AS (SELECT doc_id, r_bm FROM
             (SELECT doc_id, row_number()
                     OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm
              FROM bm_all)
           WHERE r_bm <= 100),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    norms AS (
        SELECT vec_id,
               sqrt(sum(embedding[g.i]::DOUBLE * embedding[g.i]::DOUBLE))
                   AS nrm
        FROM embeddings, generate_series(1, 64) AS g(i)
        GROUP BY vec_id),
    dots AS (
        SELECT e.vec_id,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot
        FROM embeddings e, q, generate_series(1, 64) AS g(i)
        GROUP BY e.vec_id),
    qn AS (SELECT sqrt(sum(qe[g.i]::DOUBLE * qe[g.i]::DOUBLE)) AS qnrm
           FROM q, generate_series(1, 64) AS g(i)),
    ann_all AS (SELECT vec_id AS doc_id,
                       round(dot / (nrm * qnrm), 4) AS cosine
                FROM dots JOIN norms USING (vec_id), qn),
    ann AS (SELECT doc_id, r_ann FROM
              (SELECT doc_id, row_number()
                      OVER (ORDER BY cosine DESC, doc_id ASC) AS r_ann
               FROM ann_all)
            WHERE r_ann <= 100)
    SELECT COALESCE(bm.doc_id, ann.doc_id) AS doc_id,
           round(COALESCE(1.0 / (60 + r_bm), 0)
                 + COALESCE(1.0 / (60 + r_ann), 0), 6) AS rrf
    FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.doc_id
    ORDER BY rrf DESC, COALESCE(bm.doc_id, ann.doc_id) ASC LIMIT 20
    """,
    description="hybrid retrieval: reciprocal-rank fusion (Cormack "
                "2009, k=60) of the BM25 lexical leg and the exact-"
                "cosine embedding leg, top-100 each — both legs are "
                "the existing scale-safe top-N operators; ranks derive "
                "from the bounded leg frames via broadcast theta "
                "joins, never a global window")
def q_hybrid_topk_rrf(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import retrieval as RV
    return RV.hybrid_topk_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        ["hash", "join", "scan", "vector"], query_vec_id=0, k=20)


@_register(
    "semantic_dedup",
    oracle="""
    WITH dup AS (
        SELECT orig_id + 1000000 AS vec_id,
               [(embedding[i]::DOUBLE *
                 (1.0 + 0.1 * sin(97 * orig_id + (i - 1))))::FLOAT
                for i in generate_series(1, 64)] AS embedding
        FROM (SELECT vec_id AS orig_id, embedding FROM embeddings)),
    corpus AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL SELECT vec_id, embedding FROM dup),
    nn AS (SELECT count(*) AS n FROM corpus),
    -- mirror of dedup/semantic.auto_clusters: clusters scale with the
    -- corpus (floor 16, target 256 vectors/cluster, cap 65536)
    nc AS (SELECT greatest(16, least(65536, n // 256)) AS k FROM nn),
    samp AS (
        SELECT cj, cemb FROM (
            SELECT row_number() OVER (ORDER BY c.vec_id) - 1 AS cj,
                   c.embedding AS cemb
            FROM corpus c, nn, nc
            WHERE c.vec_id % greatest(1, (nn.n + nc.k - 1) // nc.k) = 0
            ORDER BY c.vec_id) s, nc
        WHERE s.cj < nc.k),
    vdist AS (
        SELECT v.vec_id, c.cj,
               sum(power(v.embedding[g.i]::DOUBLE
                         - c.cemb[g.i]::DOUBLE, 2)) AS vd2
        FROM corpus v, samp c, generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
    asg AS (
        SELECT vec_id, cluster FROM
          (SELECT vec_id, cj AS cluster,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY vd2 ASC, cj ASC) AS rn
           FROM vdist)
        WHERE rn = 1),
    norms AS (
        SELECT vec_id,
               sqrt(sum(embedding[g.i]::DOUBLE * embedding[g.i]::DOUBLE))
                   AS nrm
        FROM corpus, generate_series(1, 64) AS g(i)
        GROUP BY vec_id),
    -- mirror of the operator's max_cluster=4096 hot-cluster cap:
    -- clusters past the cap are excluded from pair enumeration (their
    -- members stay kept=true), so a skewed corpus cannot make the
    -- oracle report drops the operator deliberately skips
    csz AS (SELECT cluster, count(*) AS c FROM asg GROUP BY cluster),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE a.cluster NOT IN (SELECT cluster FROM csz
                                WHERE c > 4096)),
    cos AS (
        SELECT p.ia, p.ib,
               round(sum(va.embedding[g.i]::DOUBLE
                         * vb.embedding[g.i]::DOUBLE)
                     / (any_value(na.nrm) * any_value(nb.nrm)), 4)
                   AS cosine
        FROM pairs p
        JOIN corpus va ON va.vec_id = p.ia
        JOIN corpus vb ON vb.vec_id = p.ib
        JOIN norms na ON na.vec_id = p.ia
        JOIN norms nb ON nb.vec_id = p.ib,
        generate_series(1, 64) AS g(i)
        GROUP BY p.ia, p.ib),
    dropped AS (SELECT DISTINCT ib AS vec_id FROM cos
                WHERE cosine >= 0.95)
    SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
           (d.vec_id IS NULL) AS kept
    FROM asg a LEFT JOIN dropped d USING (vec_id)
    """,
    description="SemDeDup semantic dedup (Abbas 2023): stride coarse "
                "quantizer (the ann_ivf convention) partitions the "
                "corpus ∪ planted perturbed duplicates into 16 "
                "clusters; exact-cosine pairs WITHIN a cluster at "
                ">= 0.95 drop the larger id (min-id survivor, the "
                "exact-dedup convention). Cross-cluster near-dups are "
                "missed by design — the clustering is what bounds the "
                "pair stage at scale, and the oracle replays the same "
                "clustering so every assignment and every verdict is "
                "value-checked")
def q_semantic_dedup(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import semantic
    from cloud_native_mapreduce_spark.similarity import lsh
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                         "embedding")
    return semantic.semantic_dedup(lsh.with_planted_duplicates(emb),
                                   threshold=0.95)


@_register(
    "udaf_median_value",
    oracle="""
    SELECT event_type, round(median(value), 4) AS median_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="GROUPED_AGG pandas UDAF: per-event-type exact median "
                "of value — the UDAF-registration leg of the Python "
                "surface (scalar pandas UDF and grouped-map "
                "applyInPandas are udf_token_counts/grouped_demean); "
                "holistic aggregate, so no map-side combine by nature "
                "(the sketched twin with partials is approx_percentiles)")
def q_udaf_median_value(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as ADV
    return ADV.udaf_median_by_type(load_table(spark, sf_dir, "events"))


@_register(
    "embedding_project_jl",
    oracle="""
    WITH sgn AS (
        SELECT g.i, h.j,
               CASE WHEN substring(md5(g.i || '-' || h.j), 1, 1)
                    IN ('8','9','a','b','c','d','e','f')
                    THEN 1.0 ELSE -1.0 END AS s
        FROM generate_series(0, 63) AS g(i),
             generate_series(0, 15) AS h(j))
    SELECT e.vec_id, s.j,
           -- list_reduce over an ORDER BY i list: an EXPLICITLY
           -- sequential left fold, matching the Spark side's per-dim
           -- accumulation by construction (a bare sum() has no
           -- ordering contract and could drift at ULP level under
           -- parallel partial aggregation)
           round(list_reduce(
                     list(e.embedding[s.i + 1]::DOUBLE * s.s
                          ORDER BY s.i),
                     (acc, x) -> acc + x) / sqrt(16.0), 4)
               + 0.0 AS v
    FROM embeddings e JOIN sgn s ON TRUE
    GROUP BY e.vec_id, s.j
    """,
    description="Johnson-Lindenstrauss Rademacher projection 64->16 "
                "dims (Achlioptas 2003): the distance-preserving "
                "payload-shrink sketch for ANN prefiltering. The +-1 "
                "matrix derives from md5 high bits so Spark and DuckDB "
                "rebuild the identical matrix; per-dim sequential "
                "accumulation keeps the sums IEEE-identical (the PQ "
                "encode lesson); long-form output value-checks every "
                "coordinate")
def q_embedding_project_jl(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import bruteforce
    return bruteforce.project_jl(
        load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                       "embedding"))


@_register(
    "audio_g711_stats",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               1 + doc_id % 13 AS k,
               400 + (doc_id % 25) * 8 AS n,
               doc_id % 2 AS is_alaw
        FROM documents),
    codes AS (
        -- fixed-range series (max n = 400 + 24*8 = 592) filtered per
        -- doc: DuckDB's generate_series cannot take a lateral column
        SELECT doc_id, is_alaw, n,
               CAST((g.i * k + doc_id) % 256 AS BIGINT) AS b
        FROM p, generate_series(0, 591) AS g(i)
        WHERE g.i < n),
    dec AS (
        SELECT doc_id, n,
               CASE WHEN is_alaw = 0 THEN
                 -- mu-law expansion: u = ~b; +-(((mant<<3)+132)<<seg)-132
                 CASE WHEN ((255 - b) & 128) > 0
                      THEN 132 - ((((255 - b) & 15) * 8 + 132)
                                  * (1 << (((255 - b) & 112) // 16)))
                      ELSE ((((255 - b) & 15) * 8 + 132)
                            * (1 << (((255 - b) & 112) // 16))) - 132
                 END
               ELSE
                 -- A-law expansion: a = b xor 0x55; sign SET = positive
                 CASE WHEN (xor(b, 85) & 128) > 0
                      THEN CASE WHEN (xor(b, 85) & 112) = 0
                                THEN (xor(b, 85) & 15) * 16 + 8
                                ELSE ((xor(b, 85) & 15) * 16 + 264)
                                     * (1 << ((xor(b, 85) & 112) // 16 - 1))
                           END
                      ELSE -(CASE WHEN (xor(b, 85) & 112) = 0
                                  THEN (xor(b, 85) & 15) * 16 + 8
                                  ELSE ((xor(b, 85) & 15) * 16 + 264)
                                       * (1 << ((xor(b, 85) & 112) // 16 - 1))
                             END)
                 END
               END AS s
        FROM codes)
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(floor(n * 1000 / 8000) AS BIGINT) AS duration_ms,
           CAST(sum(abs(s)) AS BIGINT) AS total_abs,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM dec
    GROUP BY doc_id, n
    """,
    description="REAL G.711 companded-audio decode: deterministic "
                "mu-law (even docs) / A-law (odd docs) code bytes in "
                "genuine format-7/format-6 RIFF payloads, expanded to "
                "linear int16 with the ITU segment/mantissa integer "
                "formulas (multimodal/wav.py) — exact to the LSB, so "
                "the oracle replays the expansion in SQL and the "
                "whole encode->binary->decode->DSP pipeline is "
                "value-checked; upgrades two former NotImplementedError "
                "gates into decoded formats")
def q_audio_g711_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.audio_decode_stats(binary.g711_payloads(docs))


@_register(
    "audio_adpcm_stats",
    oracle="""
    WITH RECURSIVE p AS (
        SELECT doc_id,
               1 + doc_id % 13 AS k,
               ((doc_id * 37) % 4001) - 2000 AS pred0,
               doc_id % 89 AS idx0,
               60 + (doc_id % 16) * 2 AS m
        FROM documents),
    nib AS (
        SELECT doc_id,
               g.i * 2 + h.j AS jn,
               CASE WHEN h.j = 0
                    THEN ((g.i * k + doc_id) % 256) % 16
                    ELSE ((g.i * k + doc_id) % 256) // 16 END AS n
        FROM p, generate_series(0, 89) AS g(i),
             generate_series(0, 1) AS h(j)
        WHERE g.i < m),
    tabs AS (SELECT
        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
         34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
         157,173,190,209,230,253,279,307,337,371,408,449,494,544,
         598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
         1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,
         5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
         15289,16818,18500,20350,22385,24623,27086,29794,32767] AS st,
        [-1,-1,-1,-1,2,4,6,8] AS it),
    rec AS (
        SELECT doc_id, CAST(-1 AS BIGINT) AS jn, pred0 AS pred,
               idx0 AS idx
        FROM p
        UNION ALL
        SELECT doc_id, jn,
               greatest(-32768, least(32767,
                   CASE WHEN n >= 8 THEN pred - diff
                        ELSE pred + diff END)) AS pred,
               greatest(0, least(88, idx + it[(n % 8) + 1])) AS idx
        FROM (
            SELECT r.doc_id, nb.jn, nb.n, r.pred, r.idx, t.it,
                   (t.st[r.idx + 1] // 8)
                   + CASE WHEN nb.n % 2 = 1
                          THEN t.st[r.idx + 1] // 4 ELSE 0 END
                   + CASE WHEN (nb.n // 2) % 2 = 1
                          THEN t.st[r.idx + 1] // 2 ELSE 0 END
                   + CASE WHEN (nb.n // 4) % 2 = 1
                          THEN t.st[r.idx + 1] ELSE 0 END AS diff
            FROM rec r
            JOIN nib nb ON nb.doc_id = r.doc_id AND nb.jn = r.jn + 1,
                 tabs t))
    SELECT p.doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(1 + 2 * m AS BIGINT) AS n_frames,
           CAST(floor((1 + 2 * m) * 1000 / 8000) AS BIGINT)
               AS duration_ms,
           CAST(sum(abs(r.pred)) AS BIGINT) AS total_abs,
           CAST(max(abs(r.pred)) AS BIGINT) AS peak
    FROM rec r JOIN p ON p.doc_id = r.doc_id
    GROUP BY p.doc_id, p.m
    """,
    description="REAL compressed-audio decode: one-block mono IMA/DVI "
                "ADPCM (WAV format 0x11) per doc with deterministic "
                "header state and nibble bytes, expanded by the IMA "
                "step-table state machine (multimodal/wav.py) — the "
                "oracle replays the full sequential decoder with a "
                "recursive CTE (89-entry step table as a SQL list), so "
                "a genuinely compressed coding gets an LSB-exact "
                "value-level check; the real compressor is pinned by "
                "the pytest roundtrip")
def q_audio_adpcm_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.audio_decode_stats(binary.adpcm_payloads(docs))


@_register(
    "audio_float_stats",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               1 + doc_id % 13 AS k,
               320 + (doc_id % 40) * 8 AS n
        FROM documents),
    s AS (
        SELECT doc_id, n,
               CAST(floor(((((g.i * k + doc_id) % 129) - 64) / 64.0)
                          * 32767 + 0.5) AS BIGINT) AS v
        FROM p, generate_series(0, 639) AS g(i)
        WHERE g.i < n)
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(floor(n * 1000 / 8000) AS BIGINT) AS duration_ms,
           CAST(sum(abs(v)) AS BIGINT) AS total_abs,
           CAST(max(abs(v)) AS BIGINT) AS peak
    FROM s
    GROUP BY doc_id, n
    """,
    description="REAL IEEE float32 PCM decode (WAV format 3): "
                "deterministic m/64 sample values — exactly "
                "representable in float32 — through a genuine format-3 "
                "RIFF payload, converted to int16 with the explicit "
                "half-up rule floor(f*32767 + 0.5) that both engines "
                "state exactly; no float tolerance anywhere in the "
                "value-level check")
def q_audio_float_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.audio_decode_stats(binary.float_wav_payloads(docs))


@_register(
    "pagerank",
    oracle="""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    outd AS (SELECT src, count(*) AS d FROM bi GROUP BY src),
    r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS rank FROM outd),
    r1 AS (SELECT b.dst AS v,
                  CAST(150000 + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r0 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r2 AS (SELECT b.dst AS v,
                  CAST(150000 + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r1 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r3 AS (SELECT b.dst AS v,
                  CAST(150000 + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r2 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r4 AS (SELECT b.dst AS v,
                  CAST(150000 + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r3 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r5 AS (SELECT b.dst AS v,
                  CAST(150000 + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r4 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst)
    SELECT v, rank FROM r5
    """,
    description="integer-exact PageRank (5 iterations, damping 85/100, "
                "micro-unit ranks) on the capped undirected co-purchase "
                "part graph — integer truncation replaces float damping "
                "so the iterative fixpoint is aggregation-order "
                "independent and earns a full value-level oracle "
                "(unrolled in SQL); the loop body is the textbook "
                "scatter-join + inflow aggregate with per-round lineage "
                "truncation")
def q_pagerank(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.pagerank(load_table(spark, sf_dir, "lineitem"))


@_register(
    "bfs_hops",
    oracle="""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    verts AS (SELECT DISTINCT src AS v FROM bi),
    d0 AS (SELECT v, CASE WHEN v = (SELECT min(v) FROM verts)
                          THEN 0 ELSE 99 END AS dist FROM verts),
    d1 AS MATERIALIZED (SELECT d.v, CAST(least(d.dist,
                 coalesce(min(n.dist) + 1, 99)) AS INT) AS dist
           FROM d0 d LEFT JOIN bi b ON b.dst = d.v
           LEFT JOIN d0 n ON n.v = b.src
           GROUP BY d.v, d.dist),
    d2 AS MATERIALIZED (SELECT d.v, CAST(least(d.dist,
                 coalesce(min(n.dist) + 1, 99)) AS INT) AS dist
           FROM d1 d LEFT JOIN bi b ON b.dst = d.v
           LEFT JOIN d1 n ON n.v = b.src
           GROUP BY d.v, d.dist),
    d3 AS MATERIALIZED (SELECT d.v, CAST(least(d.dist,
                 coalesce(min(n.dist) + 1, 99)) AS INT) AS dist
           FROM d2 d LEFT JOIN bi b ON b.dst = d.v
           LEFT JOIN d2 n ON n.v = b.src
           GROUP BY d.v, d.dist),
    d4 AS MATERIALIZED (SELECT d.v, CAST(least(d.dist,
                 coalesce(min(n.dist) + 1, 99)) AS INT) AS dist
           FROM d3 d LEFT JOIN bi b ON b.dst = d.v
           LEFT JOIN d3 n ON n.v = b.src
           GROUP BY d.v, d.dist)
    SELECT v, dist FROM d4
    """,
    description="bounded-hop BFS distances (4 rounds of integer "
                "min-relaxation, sentinel 99 beyond the budget) from "
                "the minimum-id vertex of the capped co-purchase "
                "graph — min() is aggregation-order independent, so "
                "the iterative operator carries a full value-level "
                "oracle (unrolled SQL), the BFS companion to the "
                "integer pagerank")
def q_bfs_hops(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.bfs_hops(load_table(spark, sf_dir, "lineitem"))


@_register(
    "jpeg_progressive_stats",
    oracle="""
    SELECT doc_id,
           CAST((doc_id % 6) * 2 + 16 AS BIGINT) AS width,
           CAST((doc_id % 4) * 2 + 12 AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
                AS BIGINT) AS channels,
           TRUE AS recon_ok
    FROM documents
    """,
    description="REAL progressive-JPEG decode (SOF2: spectral "
                "selection + successive approximation, multimodal/"
                "jpeg.py): the same per-doc patterns as "
                "jpeg_decode_stats encoded with the multi-scan "
                "progressive script (interleaved DC first+refine, "
                "per-component AC first+refine), decoded through the "
                "progressive entropy path — which shares the "
                "quantized coefficients with baseline, so pixels are "
                "byte-identical and the same dims+recon_ok oracle "
                "value-checks the whole path; a former "
                "NotImplementedError gate upgraded to a decoded "
                "format")
def q_jpeg_progressive_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.jpeg_decode_stats(binary.jpeg_progressive_payloads(docs))


@_register(
    "waiting_orders_suppliers",
    oracle="""
    SELECT l1.l_suppkey AS suppkey, count(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY l1.l_suppkey
    ORDER BY numwait DESC, suppkey ASC LIMIT 20
    """,
    description="TPC-H Q21 shape (sole slow supplier on multi-supplier "
                "finished orders): the Spark plan REWRITES the "
                "double-correlated EXISTS/NOT-EXISTS into one pass of "
                "per-(order,supplier) and per-order aggregates + one "
                "keyed join-back, while the oracle keeps the literal "
                "correlated formulation — the value-level match proves "
                "the rewrite that saves two fact-fact semi/anti "
                "shuffles at 100 TB")
def q_waiting_orders_suppliers(spark, sf_dir):
    return R.waiting_sole_slow_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"))


# --- round-9 TPC-H gap-fill: the six shapes the surface still lacked ------


@_register(
    "min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               min((CAST(round(l_extendedprice * 100) AS BIGINT) * 10000)
                   // CAST(round(l_quantity) AS BIGINT)) AS cost_e6
        FROM lineitem GROUP BY 1, 2)
    SELECT p_partkey, s_suppkey, s_name, n_name,
           cost_e6 / 1000000.0 AS unit_cost
    FROM offers o
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'ECONOMY' AND p_size <= 10
      AND cost_e6 = (SELECT min(o2.cost_e6) FROM offers o2
                     WHERE o2.l_partkey = o.l_partkey)
    ORDER BY p_partkey, s_suppkey
    """,
    description="TPC-H Q2 shape (min-cost supplier per part; lineitem "
                "is the offer relation on this schema): the Spark plan "
                "rewrites the correlated MIN subquery into a per-part "
                "min + equality join-back over ONE checkpointed "
                "aggregate; the oracle keeps the literal correlated "
                "form — the value match proves the rewrite. Unit cost "
                "in exact integer micro-units (DIV), so no float "
                "division boundary can disagree")
def q_min_cost_supplier(spark, sf_dir):
    return R.min_cost_supplier(load_table(spark, sf_dir, "part"),
                               load_table(spark, sf_dir, "supplier"),
                               load_table(spark, sf_dir, "nation"),
                               load_table(spark, sf_dir, "lineitem"))


@_register(
    "late_shipment_priority",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE o_orderpriority
                            IN ('1-URGENT', '2-HIGH')) AS high_late_count,
           count(*) FILTER (WHERE o_orderpriority
                            NOT IN ('1-URGENT', '2-HIGH')) AS low_late_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY 1 ORDER BY 1
    """,
    description="TPC-H Q12 shape (late shipments split by priority "
                "class; l_returnflag stands in for shipmode): fact-"
                "fact join + conditional FILTER aggregate")
def q_late_shipment_priority(spark, sf_dir):
    return R.late_shipment_priority(load_table(spark, sf_dir, "lineitem"),
                                    load_table(spark, sf_dir, "orders"))


@_register(
    "product_type_profit",
    oracle=f"""
    SELECT nation, o_year, CAST(profit_e4 AS BIGINT) / 10000.0 AS profit
    FROM (SELECT n_name AS nation,
                 CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 sum({_REV_E4}
                     - CAST(round(p_retailprice * 100) AS BIGINT)
                       * CAST(round(l_quantity) AS BIGINT) * 10)
                     AS profit_e4
          FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%gear%'
          GROUP BY 1, 2)
    ORDER BY nation, o_year
    """,
    description="TPC-H Q9 shape (profit per supplier-nation per year "
                "over 'gear' parts; supply cost = 10% of retail, no "
                "partsupp on this schema): 5-way join, dims broadcast, "
                "profit in exact 1e-4 integer units")
def q_product_type_profit(spark, sf_dir):
    return R.product_type_profit(load_table(spark, sf_dir, "lineitem"),
                                 load_table(spark, sf_dir, "orders"),
                                 load_table(spark, sf_dir, "part"),
                                 load_table(spark, sf_dir, "supplier"),
                                 load_table(spark, sf_dir, "nation"))


@_register(
    "important_stock",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_quantity) AS BIGINT) * 100)
                    AS BIGINT) AS value_e4
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                            JOIN nation ON s_nationkey = n_nationkey
                            WHERE n_name = 'NATION_1')
        GROUP BY 1)
    SELECT l_partkey AS p_partkey, value_e4 / 10000.0 AS value
    FROM per_part
    WHERE value_e4 * 2000 > (SELECT sum(value_e4) FROM per_part)
    ORDER BY value DESC, p_partkey
    """,
    description="TPC-H Q11 shape (parts whose NATION_1-shipped value "
                "exceeds 0.05% of the total): aggregate + scalar "
                "subquery over the SAME aggregate — built once behind "
                "a checkpoint barrier, 1-row total broadcast back; "
                "all-integer HAVING comparison")
def q_important_stock(spark, sf_dir):
    return R.important_stock(load_table(spark, sf_dir, "lineitem"),
                             load_table(spark, sf_dir, "supplier"),
                             load_table(spark, sf_dir, "nation"))


@_register(
    "parts_supplier_relationship",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    description="TPC-H Q16 shape (distinct suppliers per part bucket, "
                "excluding a brand, a type prefix, and negative-"
                "balance 'complaint' suppliers): broadcast anti-join "
                "before the count-distinct, part dim broadcast — the "
                "only shuffle is the final distinct aggregate")
def q_parts_supplier_relationship(spark, sf_dir):
    return R.parts_supplier_relationship(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"))


@_register(
    "potential_promotion",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS supp_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_type = 'PROMO')
        GROUP BY 1, 2)
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM ps p
        WHERE supp_qty * 2 > (SELECT sum(supp_qty) FROM ps p2
                              WHERE p2.l_partkey = p.l_partkey))
    ORDER BY s_suppkey
    """,
    description="TPC-H Q20 shape (suppliers dominating a PROMO part's "
                "1995 shipments — qty > half the part total stands in "
                "for availability > half-of-sold): the correlated "
                "per-part-total subquery is rewritten as a per-part "
                "aggregate joined back onto the SAME checkpointed "
                "per-(part,supplier) pass, then a semi-join into the "
                "dimension; the oracle keeps the correlated form")
def q_potential_promotion(spark, sf_dir):
    return R.potential_promotion(load_table(spark, sf_dir, "lineitem"),
                                 load_table(spark, sf_dir, "part"),
                                 load_table(spark, sf_dir, "supplier"),
                                 load_table(spark, sf_dir, "nation"))


@_register(
    "substring_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS t
        FROM documents),
    spans AS (
        -- unnest(scalar generate_series) instead of the table
        -- function: DuckDB's lateral table function cannot reference
        -- the row's own column; the scalar form returns [] for docs
        -- shorter than k, which unnests to zero span rows
        SELECT doc_id, md5(array_to_string(t[i : i + 9], ' ')) AS h
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 9)) AS i
              FROM toks)),
    counts AS (SELECT h, count(*) AS c FROM spans GROUP BY h),
    per_doc AS (
        SELECT doc_id, count(*) AS n,
               count(*) FILTER (WHERE c >= 2) AS nd
        FROM spans JOIN counts USING (h) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.nd, 0) AS BIGINT) AS n_dup_spans,
           CASE WHEN coalesce(p.n, 0) = 0 THEN 0.0
                ELSE round(p.nd::DOUBLE / p.n::DOUBLE, 4)
           END AS dup_ratio
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    description="exact duplicate-substring stats (Lee et al. 2021 at "
                "fixed k=10 token granularity): per doc, how many of "
                "its 10-token spans occur >= 2 times anywhere in the "
                "corpus (md5 span hashing so the oracle replays the "
                "identical hash; tokenizer-parity word regex; docs "
                "shorter than k surface with n_spans = 0)")
def q_substring_dedup(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import substring
    return substring.duplicate_span_stats(
        load_table(spark, sf_dir, "documents"))


@_register(
    "link_prediction",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b AS u, a AS v FROM edges),
    -- mirror of max_center_degree=64: wedges only through low-degree
    -- shared neighbors (the Σ deg² hub guard AND the Adamic-Adar
    -- "shared-with-everybody carries no signal" observation in
    -- oracle-replayable integer form)
    centers AS (
      SELECT u, v FROM bi
      WHERE u IN (SELECT u FROM bi GROUP BY u
                  HAVING count(*) <= 64)),
    cand AS (
      SELECT w1.v AS x, w2.v AS y, count(*) AS common
      FROM centers w1 JOIN centers w2
        ON w1.u = w2.u AND w1.v < w2.v
      GROUP BY 1, 2 HAVING count(*) >= 2),
    noedge AS (
      SELECT c.x, c.y, c.common FROM cand c
      LEFT JOIN edges e ON c.x = e.a AND c.y = e.b
      WHERE e.a IS NULL),
    degs AS (SELECT u, count(*) AS deg FROM bi GROUP BY u)
    SELECT x AS part_a, y AS part_b,
           CAST(common AS BIGINT) AS common_cnt,
           round(common::DOUBLE / (dx.deg + dy.deg - common), 4)
               AS jaccard
    FROM noedge JOIN degs dx ON x = dx.u JOIN degs dy ON y = dy.u
    ORDER BY common_cnt DESC, part_a, part_b LIMIT 100
    """,
    description="common-neighbor link prediction (Liben-Nowell/"
                "Kleinberg) on the capped co-purchase graph: top-100 "
                "NON-adjacent pairs by shared-LOW-DEGREE-neighbor "
                "count with neighborhood Jaccard — the wedge join runs "
                "only through centers of degree <= 64 (the Σ deg² hub "
                "guard the sf1 soak demanded: 274 s uncapped → 29 s, "
                "and the integer form of Adamic-Adar's hubs-carry-no-"
                "signal downweight), anti-join against existing edges, "
                "deterministic (common, a, b) total order; integer "
                "count + one exact division so the oracle matches "
                "value-for-value")
def q_link_prediction(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.link_prediction(load_table(spark, sf_dir, "lineitem"))


@_register(
    "pagerank_personalized",
    oracle="""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    outd AS (SELECT src, count(*) AS d FROM bi GROUP BY src),
    st AS (SELECT min(src) AS s, count(*) AS nv FROM outd),
    r0 AS (SELECT src AS v,
                  CAST(CASE WHEN src = (SELECT s FROM st)
                       THEN (SELECT nv FROM st) * 1000000
                       ELSE 0 END AS BIGINT) AS rank
           FROM outd),
    r1 AS (SELECT b.dst AS v,
                  CAST(CASE WHEN b.dst = (SELECT s FROM st)
                       THEN (15 * (SELECT nv FROM st) * 1000000) // 100
                       ELSE 0 END
                       + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r0 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r2 AS (SELECT b.dst AS v,
                  CAST(CASE WHEN b.dst = (SELECT s FROM st)
                       THEN (15 * (SELECT nv FROM st) * 1000000) // 100
                       ELSE 0 END
                       + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r1 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r3 AS (SELECT b.dst AS v,
                  CAST(CASE WHEN b.dst = (SELECT s FROM st)
                       THEN (15 * (SELECT nv FROM st) * 1000000) // 100
                       ELSE 0 END
                       + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r2 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r4 AS (SELECT b.dst AS v,
                  CAST(CASE WHEN b.dst = (SELECT s FROM st)
                       THEN (15 * (SELECT nv FROM st) * 1000000) // 100
                       ELSE 0 END
                       + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r3 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst),
    r5 AS (SELECT b.dst AS v,
                  CAST(CASE WHEN b.dst = (SELECT s FROM st)
                       THEN (15 * (SELECT nv FROM st) * 1000000) // 100
                       ELSE 0 END
                       + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r4 r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst)
    SELECT v, rank FROM r5
    """,
    description="integer-exact PERSONALIZED PageRank (random walk "
                "with restart to the min-id source, 5 iterations, "
                "teleport mass 15% of the |V|-SCALE total all at the "
                "source): the PPR similarity under graph recommenders; "
                "same persisted-edge-list iteration shape and unrolled-"
                "SQL value-level oracle as pagerank, with the source/"
                "|V| scalars riding a broadcast 1-row frame instead of "
                "a driver collect")
def q_pagerank_personalized(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.personalized_pagerank(load_table(spark, sf_dir, "lineitem"))


@_register(
    "ann_int8_rerank",
    oracle="""
    WITH bounds AS (
        SELECT g.i,
               min(e.embedding[g.i]::DOUBLE) AS mn,
               max(e.embedding[g.i]::DOUBLE) AS mx
        FROM embeddings e, generate_series(1, 64) AS g(i)
        GROUP BY g.i),
    codes AS (
        SELECT e.vec_id, b.i,
               CAST(round((e.embedding[b.i]::DOUBLE - b.mn)
                    * (CASE WHEN b.mx > b.mn THEN 254.0 / (b.mx - b.mn)
                            ELSE 0.0 END)) AS INTEGER) - 127 AS c
        FROM embeddings e JOIN bounds b ON TRUE),
    qc AS (SELECT i, c FROM codes WHERE vec_id = 0),
    dist AS (
        SELECT codes.vec_id,
               CAST(sum(CAST((codes.c - qc.c) * (codes.c - qc.c)
                             AS BIGINT)) AS BIGINT) AS d2
        FROM codes JOIN qc USING (i) GROUP BY codes.vec_id),
    cand AS (SELECT vec_id FROM dist
             ORDER BY d2 ASC, vec_id ASC LIMIT 50),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    dots AS (
        SELECT e.vec_id,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot,
               sum(e.embedding[g.i]::DOUBLE * e.embedding[g.i]::DOUBLE)
                   AS nsq,
               sum(q.qe[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS qsq
        FROM embeddings e JOIN cand USING (vec_id), q,
             generate_series(1, 64) AS g(i)
        GROUP BY e.vec_id)
    SELECT vec_id, cosine FROM (
        SELECT vec_id, round(dot / (sqrt(nsq) * sqrt(qsq)), 4) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10)
    """,
    description="int8 scalar-quantized ANN with exact re-rank (Faiss "
                "SQ8 shape): per-dim affine codes from one bounded "
                "2-dim-scalar aggregate, INTEGER squared code distance "
                "ranks the compressed-domain scan (codes not vectors — "
                "4x less I/O at scale), top-50 candidates re-ranked by "
                "exact cosine; both cuts on deterministic (score, id) "
                "total orders so the oracle replays value-for-value")
def q_ann_int8_rerank(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity import sq
    return sq.top_k_sq_rerank(load_table(spark, sf_dir, "embeddings"),
                              query_vec_id=0, k=10)


@_register(
    "gif_decode_stats",
    oracle="""
    WITH geom AS (
        SELECT doc_id,
               doc_id % 7 + 6 AS w,
               doc_id % 5 + 5 AS h,
               CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8
                    ELSE 16 END AS nc
        FROM documents),
    px AS (
        SELECT doc_id, w, h, nc, i,
               (doc_id * 37 + 11 * (i - 1)) % nc AS v
        FROM (SELECT doc_id, w, h, nc,
                     unnest(generate_series(1, w * h)) AS i
              FROM geom))
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(nc AS BIGINT) AS n_colors,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px,
           CAST(sum(i * v) % 1000000007 AS BIGINT) AS checksum
    FROM px GROUP BY doc_id, w, h, nc
    """,
    description="REAL GIF89a decode (from-scratch LZW with variable "
                "code width + CLEAR/EOI + Appendix-E de-interlacing — "
                "multimodal/gif.py): synthesize a deterministic GIF "
                "per doc (palette cycling 4/8/16, every odd doc "
                "interlaced), ship as a binary column, decode, and "
                "emit EXACT index-stream stats — GIF is lossless, so "
                "unlike the JPEG recon_ok contract the oracle states "
                "sum/min/max AND a position-weighted checksum that a "
                "de-interlace or dictionary-rebuild bug cannot survive")
def q_gif_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.gif_decode_stats(binary.gif_payloads(docs))


@_register(
    "kcore_membership",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS (SELECT a AS u, b AS w FROM edges
           UNION ALL SELECT b AS u, a AS w FROM edges),
    a0 AS (SELECT DISTINCT u AS v FROM bi),
    a1 AS (SELECT u AS v FROM bi
           WHERE u IN (SELECT v FROM a0) AND w IN (SELECT v FROM a0)
           GROUP BY u HAVING count(*) >= 3),
    a2 AS (SELECT u AS v FROM bi
           WHERE u IN (SELECT v FROM a1) AND w IN (SELECT v FROM a1)
           GROUP BY u HAVING count(*) >= 3),
    a3 AS (SELECT u AS v FROM bi
           WHERE u IN (SELECT v FROM a2) AND w IN (SELECT v FROM a2)
           GROUP BY u HAVING count(*) >= 3),
    a4 AS (SELECT u AS v FROM bi
           WHERE u IN (SELECT v FROM a3) AND w IN (SELECT v FROM a3)
           GROUP BY u HAVING count(*) >= 3)
    SELECT a0.v, a0.v IN (SELECT v FROM a4) AS in_core
    FROM a0
    """,
    description="bounded k-core peeling (k=3, 4 synchronous rounds) "
                "on the capped co-purchase graph — the densest-region "
                "graph-curation signal; per round two keyed semi-joins "
                "of the persisted edge list against the |V|-row "
                "survivor set + one map-side-combined degree "
                "aggregate, lineage-truncated; pure integer/boolean "
                "peel earns the unrolled-SQL value-level oracle")
def q_kcore_membership(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.kcore_membership(load_table(spark, sf_dir, "lineitem"))


@_register(
    "cooccurrence_topk",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(list_distinct(regexp_extract_all(
                       lower(text), '{_WORD_RE_SQL}', 0))) AS w
            FROM documents)),
    dfw AS (SELECT w, count(*) AS df FROM words GROUP BY w),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    sel AS (SELECT w, df FROM dfw, nd
            WHERE df * 1000 >= 2 * n_docs
              AND df * 100 <= 95 * n_docs
              AND df <= 100000),
    ws AS (SELECT doc_id, w, df FROM words JOIN sel USING (w)),
    pairs AS (
        SELECT a.w AS word_a, b.w AS word_b, count(*) AS pair_cnt,
               any_value(a.df) AS df_a, any_value(b.df) AS df_b
        FROM ws a JOIN ws b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY 1, 2 HAVING count(*) >= 5)
    SELECT word_a, word_b, CAST(pair_cnt AS BIGINT) AS pair_cnt,
           round(pair_cnt * n_docs / (df_a * df_b), 4) AS lift
    FROM pairs, nd
    ORDER BY pair_cnt DESC, word_a, word_b LIMIT 100
    """,
    description="top-100 co-occurring word pairs by document "
                "co-occurrence with their LIFT (the PMI ratio before "
                "the log — exact-integer products + one IEEE division, "
                "so the oracle matches bitwise where a log would hang "
                "on cross-engine libm ULPs): the collocation/phrase-"
                "mining signal. The fraction-based df band (0.2%–95% "
                "corpus presence, integer-exact comparisons, plus an "
                "absolute web-scale ceiling) is the pair guard — "
                "corpus-hot words are dropped BEFORE the per-doc "
                "self-join exactly like the shingle operators' max_df "
                "cap (Σ d² law), near-hapax words can never reach the "
                "min_pair floor; deterministic TakeOrdered cut")
def q_cooccurrence_topk(spark, sf_dir):
    return T.cooccurrence_topk(load_table(spark, sf_dir, "documents"))


@_register(
    "ewma_values",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    r AS (
        SELECT user_id, event_id, rn, value AS ewma
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.rn, (o.value + r.ewma) / 2
        FROM ordered o JOIN r ON o.user_id = r.user_id
                              AND o.rn = r.rn + 1)
    SELECT user_id, event_id, ewma FROM r
    """,
    description="per-user EWMA of value with alpha = 1/2 over the "
                "(ts, event_id) order — SEQUENTIAL grouped state via "
                "a JVM aggregate() fold over the sorted event array "
                "(no window frame expresses s_t = (v_t + s_{t-1})/2; "
                "no Python boundary). The halving form is one IEEE "
                "rounding per step with an exact power-of-two divisor, "
                "so the codegen fold and the DuckDB recursive CTE agree "
                "bit-for-bit with NO tolerance; oracle recursion depth "
                "= max events per entity, the Spark side is one linear "
                "pass per group")
def q_ewma_values(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.ewma_by_user(load_table(spark, sf_dir, "events"))


@_register(
    "scd2_intervals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_orderdate AS valid_from,
           coalesce(lead(o_orderdate) OVER w,
                    TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           lead(o_orderdate) OVER w IS NULL AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, valid_from, o_orderkey
    """,
    description="SCD type-2 interval builder over each customer's "
                "order history: [valid_from, valid_to) versions with "
                "an open-ended current row at a 2200-01-01 sentinel (ns-safe) "
                "— the warehouse pattern behind as-of joins against "
                "mutable dimensions; one PARTITIONED window with a "
                "deterministic (date, orderkey) tie-break")
def q_scd2_intervals(spark, sf_dir):
    return R.scd2_intervals(load_table(spark, sf_dir, "orders"))


@_register(
    "weighted_sample",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) / n_chars AS priority
    FROM documents
    WHERE n_chars > 0
    ORDER BY priority, doc_id LIMIT 50
    """,
    description="deterministic weight-proportional sampling (priority "
                "sampling with the md5-uniform as the draw): priority "
                "= hash_uniform / n_chars, k smallest kept — stable "
                "across engines/retries/partitioning unlike "
                "df.sample; one exact-integer-to-double division, no "
                "log, no RNG; TakeOrdered cut; n_chars>0 guard pins "
                "the div-by-zero edge (Spark NULL-first vs DuckDB "
                "inf-last) in both engines")
def q_weighted_sample(spark, sf_dir):
    return R.weighted_sample_topk(load_table(spark, sf_dir, "documents"))


@_register(
    "bloom_semi_join",
    oracle="""
    WITH keys AS (SELECT c_custkey FROM customer
                  WHERE c_acctbal > 9000.0),
    pos AS (
        SELECT CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),
                                       1, 8)) AS BIGINT) % 1024 AS p
        FROM keys
        UNION ALL
        SELECT CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),
                                       9, 8)) AS BIGINT) % 1024
        FROM keys),
    bitmap AS (
        SELECT p // 32 AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        FROM pos GROUP BY 1),
    probe AS (
        SELECT o_custkey,
               CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                                       1, 8)) AS BIGINT) % 1024 AS p1,
               CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                                       9, 8)) AS BIGINT) % 1024 AS p2
        FROM orders),
    pass AS (
        SELECT 1 FROM probe
        JOIN bitmap b1 ON probe.p1 // 32 = b1.w
             AND ((b1.bits >> CAST(probe.p1 % 32 AS INT)) & 1) = 1
        JOIN bitmap b2 ON probe.p2 // 32 = b2.w
             AND ((b2.bits >> CAST(probe.p2 % 32 AS INT)) & 1) = 1)
    SELECT (SELECT count(*) FROM orders) AS n_probe,
           (SELECT count(*) FROM pass) AS n_bloom_pass,
           (SELECT count(*) FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM keys))
               AS n_exact_match,
           (SELECT count(*) FROM pass)
           - (SELECT count(*) FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM keys))
               AS n_false_positive
    """,
    description="Bloom-filter semi-join pruning telemetry (m=1024, "
                "k=2, md5-hex hashes both engines parse identically): "
                "bitmap as bigint words via bit_or, probe via two "
                "broadcast word-table lookups per row — the explicit, "
                "oracle-replayable form of scan-side runtime bloom "
                "pruning; no false negatives by construction, so "
                "n_bloom_pass - n_exact_match IS the false-positive "
                "count")
def q_bloom_semi_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as ADV
    return ADV.bloom_semi_join_stats(load_table(spark, sf_dir, "orders"),
                                     load_table(spark, sf_dir,
                                                "customer"))


def _kcore_full_oracle(n_rounds: int = 40) -> str:
    """Unrolled iterated-h-index SQL for the full k-core decomposition.

    One CTE per round; the update core_{t+1}(v) = least(deg(v),
    h-index of neighbor estimates) is monotone non-increasing, so
    rounds past the fixpoint are no-ops and the unroll count only has
    to EXCEED the graph's convergence depth (measured: 9 rounds at
    sf0.001, 18 at sf0.01; 40 gives >2x margin — check_oracle gates
    it). Every CTE is MATERIALIZED: inlining a 40-deep CTE chain
    sends the DuckDB planner into minutes of plan expansion (the
    un-hinted form timed out at 120 s; materialized runs in 0.4 s). Mirrors graph.kcore_decomposition, which runs the same update
    to true fixpoint behind a scalar-sum convergence barrier."""
    parts = ["""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    fdeg AS MATERIALIZED (
      SELECT v FROM (SELECT a AS v FROM raw UNION ALL
                     SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM fdeg) AND b IN (SELECT v FROM fdeg)),
    bi AS MATERIALIZED (SELECT a AS u, b AS w FROM edges
           UNION ALL SELECT b AS u, a AS w FROM edges),
    deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM bi GROUP BY u),
    c0 AS MATERIALIZED (SELECT u AS v, deg AS core FROM deg)"""]
    for t in range(1, n_rounds + 1):
        parts.append(f""",
    c{t} AS MATERIALIZED (
      SELECT d.u AS v, least(d.deg, t.h) AS core
      FROM deg d JOIN (
        SELECT u, max(least(rn, nc)) AS h
        FROM (SELECT e.u, s.core AS nc,
                     row_number() OVER (PARTITION BY e.u
                                        ORDER BY s.core DESC) AS rn
              FROM bi e JOIN c{t - 1} s ON e.w = s.v)
        GROUP BY u) t ON d.u = t.u)""")
    parts.append(f"""
    SELECT v, CAST(core AS BIGINT) AS core FROM c{n_rounds}
    ORDER BY v""")
    return "".join(parts)


@_register(
    "kcore_full",
    oracle=_kcore_full_oracle,
    description="FULL k-core decomposition (per-vertex core number) of "
                "the capped co-purchase graph, run to TRUE fixpoint via "
                "iterated neighborhood h-index (Montresor et al. / Lu "
                "et al. 2016: converges to coreness) with the "
                "components-style scalar-sum convergence barrier — the "
                "peel-to-convergence upgrade of kcore_membership's "
                "fixed-round prefix; per round one keyed join of the "
                "persisted bidirectional edge list against the |V|-row "
                "estimate table + one partitioned window + one "
                "map-side-combined max agg, lineage-truncated; oracle "
                "is the same update unrolled 40 rounds (no-op past "
                "fixpoint, >2x measured convergence depth)")
def q_kcore_full(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.kcore_decomposition(load_table(spark, sf_dir, "lineitem"))


@_register(
    "scd2_asof_join",
    oracle="""
    WITH dim AS (
      SELECT o_custkey, o_orderkey,
             o_orderdate AS valid_from,
             coalesce(lead(o_orderdate) OVER w,
                      TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
             lead(o_orderdate) OVER w IS NULL AS is_current
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey))
    SELECT e.event_id, e.user_id, e.ts,
           d.o_orderkey AS version_orderkey,
           d.valid_from, d.is_current
    FROM events e LEFT JOIN dim d
      ON e.user_id = d.o_custkey
     AND d.valid_from <= e.ts AND e.ts < d.valid_to
    """,
    description="point-in-time (as-of) join of the events fact stream "
                "against the scd2_intervals dimension — the consumer "
                "SCD2 exists for: equality key + half-open range "
                "predicate, broadcast dimension (a narrow map over "
                "events, no fact shuffle, no cartesian — the range is "
                "a residual filter on the hash-matched bucket); LEFT "
                "join keeps pre-first-version events with NULL version "
                "columns; intervals partition each customer's timeline "
                "so the join provably cannot fan out")
def q_scd2_asof_join(spark, sf_dir):
    return R.scd2_pointintime_join(load_table(spark, sf_dir, "events"),
                                   load_table(spark, sf_dir, "orders"))


def _ivf_index_ready(spark, sf_dir) -> str:
    """Build the persisted IVF+SQ8 index for `sf_dir` once per session
    and return its table prefix. Existence check is the session
    catalog: saveAsTable registers both tables there, and a fresh
    driver process rebuilds from the parquet source (the index is a
    deterministic function of the corpus, so a rebuild is equivalence,
    not drift)."""
    import os
    import tempfile

    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    prefix = f"cnms_ivf_{base}"
    if not spark.catalog.tableExists(f"{prefix}_postings"):
        from cloud_native_mapreduce_spark.similarity.ivf_index import (
            build_ivf_sq_index)
        path = os.path.join(tempfile.gettempdir(), "cnms_ivf_index", base)
        build_ivf_sq_index(load_table(spark, sf_dir, "embeddings"),
                           prefix, path)
    return prefix


@_register(
    "ann_ivf_indexed",
    oracle="""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    cents AS (
        SELECT cj, cemb FROM (
            SELECT row_number() OVER (ORDER BY e.vec_id) - 1 AS cj,
                   e.embedding AS cemb
            FROM embeddings e, nn
            WHERE e.vec_id % greatest(1, (nn.n + 15) // 16) = 0
            ORDER BY e.vec_id) s
        WHERE s.cj < 16),
    vdist AS (
        SELECT v.vec_id, c.cj,
               sum(power(v.embedding[g.i]::DOUBLE
                         - c.cemb[g.i]::DOUBLE, 2)) AS vd2
        FROM embeddings v, cents c, generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
    asg AS (
        SELECT vec_id, cluster FROM
          (SELECT vec_id, cj AS cluster,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY vd2 ASC, cj ASC) AS rn
           FROM vdist)
        WHERE rn = 1),
    probes AS (
        SELECT cj FROM vdist WHERE vec_id = 0
        ORDER BY vd2 ASC, cj ASC LIMIT 4),
    bounds AS (
        SELECT g.i,
               min(e.embedding[g.i]::DOUBLE) AS mn,
               max(e.embedding[g.i]::DOUBLE) AS mx
        FROM embeddings e, generate_series(1, 64) AS g(i)
        GROUP BY g.i),
    codes AS (
        SELECT e.vec_id, b.i,
               CAST(round((e.embedding[b.i]::DOUBLE - b.mn)
                    * (CASE WHEN b.mx > b.mn THEN 254.0 / (b.mx - b.mn)
                            ELSE 0.0 END)) AS INTEGER) - 127 AS c
        FROM embeddings e JOIN bounds b ON TRUE
        WHERE e.vec_id = 0
           OR e.vec_id IN (SELECT a.vec_id FROM asg a
                           WHERE a.cluster IN (SELECT cj FROM probes))),
    qc AS (SELECT i, c FROM codes WHERE vec_id = 0),
    dist AS (
        SELECT codes.vec_id,
               CAST(sum(CAST((codes.c - qc.c) * (codes.c - qc.c)
                             AS BIGINT)) AS BIGINT) AS d2
        FROM codes JOIN qc USING (i)
        WHERE codes.vec_id IN (SELECT a.vec_id FROM asg a
                               WHERE a.cluster IN (SELECT cj FROM probes))
        GROUP BY codes.vec_id),
    cand AS (SELECT vec_id FROM dist
             ORDER BY d2 ASC, vec_id ASC LIMIT 50),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    dots AS (
        SELECT e.vec_id,
               sum(e.embedding[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS dot,
               sum(e.embedding[g.i]::DOUBLE * e.embedding[g.i]::DOUBLE)
                   AS nsq,
               sum(q.qe[g.i]::DOUBLE * q.qe[g.i]::DOUBLE) AS qsq
        FROM embeddings e JOIN cand USING (vec_id), q,
             generate_series(1, 64) AS g(i)
        GROUP BY e.vec_id)
    SELECT vec_id, cosine FROM (
        SELECT vec_id, round(dot / (sqrt(nsq) * sqrt(qsq)), 4) AS cosine
        FROM dots ORDER BY cosine DESC, vec_id ASC LIMIT 10)
    """,
    description="ANN over a PERSISTED IVF+SQ8 index (the production "
                "shape: quantization/codes/shuffle paid once at build, "
                "postings bucketed+sorted on list_id): probe the 4 "
                "nearest of 16 inverted lists via the n_list-bounded "
                "centroid table, rank members by integer squared code "
                "distance on a bucket-PRUNED codes-only scan, exactly "
                "re-rank the top-50 via a broadcast join back onto the "
                "pruned layout — ZERO shuffle exchanges at query time "
                "(plan-pinned); oracle replays stride centroids, "
                "assignment, probe selection, SQ8 codes, the integer "
                "candidate cut, and the exact re-rank value-for-value")
def q_ann_ivf_indexed(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.ivf_index import (
        ann_ivf_indexed)
    return ann_ivf_indexed(spark, _ivf_index_ready(spark, sf_dir),
                           query_vec_id=0, k=10)


def _minhash_index_ready(spark, sf_dir) -> str:
    """Build the persisted MinHash/LSH dedup index for `sf_dir`'s
    documents once per session; returns the table prefix (the
    _ivf_index_ready convention — the index is a deterministic
    function of the corpus, so a fresh-process rebuild is equivalence,
    not drift)."""
    import os
    import tempfile

    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    prefix = f"cnms_mh_{base}"
    if not spark.catalog.tableExists(f"{prefix}_bands"):
        from cloud_native_mapreduce_spark.dedup.incremental import (
            build_minhash_index)
        path = os.path.join(tempfile.gettempdir(), "cnms_mh_index", base)
        build_minhash_index(load_table(spark, sf_dir, "documents"),
                            prefix, path)
    return prefix


@_register(
    "dedup_incremental",
    oracle=f"""
    WITH newb AS (
      SELECT doc_id + 2000000 AS doc_id,
             text || ' planted near duplicate copy' AS text
      FROM documents WHERE doc_id % 10 = 0),
    dold AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dnew AS (SELECT doc_id, {_TOKS} AS toks FROM newb),
    shl_old AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM dold),
    shl_new AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM dnew),
    so AS (SELECT doc_id, len(shingles) AS n_sh FROM shl_old),
    sn AS (SELECT doc_id, len(shingles) AS n_sh FROM shl_new),
    po AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl_old),
    pn AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl_new),
    shared AS (
        SELECT n.doc_id AS doc_new, o.doc_id AS doc_old,
               count(*) AS n_shared
        FROM pn n JOIN po o USING (shingle)
        GROUP BY 1, 2)
    SELECT doc_new, doc_old,
           round(n_shared / (sn.n_sh + so.n_sh - n_shared), 4) AS jaccard
    FROM shared
    JOIN sn ON sn.doc_id = doc_new
    JOIN so ON so.doc_id = doc_old
    WHERE round(n_shared / (sn.n_sh + so.n_sh - n_shared), 4) >= 0.9
    """,
    description="INCREMENTAL near-dup detection against a PERSISTED "
                "MinHash/LSH index (the continuous-ingest shape: new "
                "crawl vs historical corpus, corpus never recomputed): "
                "index = band postings bucketed on band_key (hot "
                "buckets dropped at build — the MAX_BUCKET cap paid "
                "once) + hashed shingle sets bucketed on doc_id; the "
                "new batch runs the narrow signature map, candidates "
                "come from one band_key join that shuffles ONLY the "
                "batch, verification is exact hashed Jaccard with the "
                "old side fetched from the layout. Oracle = exact "
                "all-pairs new-vs-old Jaccard (banding miss prob at "
                "J>=0.9 is (1-J^4)^16 <= 4e-8, the dedup_minhash "
                "planted argument)")
def q_dedup_incremental(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup.incremental import (
        incremental_near_duplicates)
    docs = load_table(spark, sf_dir, "documents")
    newb = (docs.where(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 2000000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" planted near duplicate copy"))
                    .alias("text")))
    return incremental_near_duplicates(
        spark, _minhash_index_ready(spark, sf_dir), newb, threshold=0.9)


# ---------------------------------------------------------------------------
# Round 10 batch 2: BPE merge training, weighted SSSP, fuzzy vocab join
# ---------------------------------------------------------------------------

def _bpe_fuse_sql(seq: str, a: str, b: str) -> str:
    """DuckDB twin of `functions/bpe.greedy_fuse`: the textbook
    greedy-leftmost tokenwise merge as a list_reduce fold (a padded
    string replace consumes the shared boundary space and mis-merges
    symbol runs — see the bpe module docstring)."""
    return (f"(' ' || list_reduce(string_split(trim({seq}), ' '), "
            f"(acc, x) -> CASE WHEN (acc = {a} "
            f"OR ends_with(acc, ' ' || {a})) AND x = {b} "
            f"THEN substr(acc, 1, length(acc) - length({a})) "
            f"|| {a} || {b} "
            f"ELSE acc || ' ' || x END) || ' ')")


def _bpe_train_oracle(n_merges: int = 6) -> str:
    """K unrolled rounds of count / arg-max / rewrite — the exact loop
    body `functions/bpe.bpe_train_merges` runs, in DuckDB SQL."""
    rounds = []
    for k in range(1, n_merges + 1):
        prev = f"r{k - 1}"
        rounds.append(f"""
    p{k} AS (
      SELECT pair, sum(cnt) AS c
      FROM (SELECT cnt,
                   unnest([arr[i] || ' ' || arr[i+1]
                           for i in generate_series(1, len(arr) - 1)])
                   AS pair
            FROM (SELECT cnt, string_split(trim(seq), ' ') AS arr
                  FROM {prev})
            WHERE len(arr) > 1)
      GROUP BY pair),
    b{k} AS (SELECT pair, c, string_split(pair, ' ')[1] AS a,
                    string_split(pair, ' ')[2] AS b
             FROM p{k} ORDER BY c DESC, pair ASC LIMIT 1),
    r{k} AS (SELECT cnt,
             CASE WHEN bb.a IS NULL THEN seq
                  ELSE {_bpe_fuse_sql('seq', 'bb.a', 'bb.b')} END
                 AS seq
             FROM {prev} LEFT JOIN b{k} bb ON TRUE)""")
    selects = "\n    UNION ALL\n".join(
        f"    SELECT CAST({k} AS INT) AS merge_rank, pair,"
        f" replace(pair, ' ', '') AS merged,"
        f" CAST(c AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1))
    return f"""
    WITH wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS word
            FROM documents)
      GROUP BY word),
    r0 AS (SELECT cnt,
           ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
           FROM wc),{','.join(rounds)}
{selects}
    """


@_register(
    "bpe_train_merges",
    oracle=_bpe_train_oracle,
    description="distributed BPE merge-table training (Sennrich ACL'16): "
                "corpus collapsed ONCE to the word-frequency table, then "
                "6 rounds of pair-count / global arg-max / fused rewrite "
                "over the vocab-sized frame; arg-max reaches the rewrite "
                "as a broadcast 1-row frame (zero driver collects), "
                "ties pinned (count DESC, pair ASC) in both engines; "
                "completes the tokenization family next to the applying "
                "`bpe_token_count`")
def q_bpe_train_merges(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.bpe import bpe_train_merges
    return bpe_train_merges(load_table(spark, sf_dir, "documents"))


def _sssp_round(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
    d{k} AS MATERIALIZED (SELECT d.v, CAST(least(d.dist,
                 coalesce(min(n.dist + b.w), 99999)) AS INT) AS dist
           FROM {prev} d LEFT JOIN bi b ON b.dst = d.v
           LEFT JOIN {prev} n ON n.v = b.src
           GROUP BY d.v, d.dist)"""


@_register(
    "sssp_weighted",
    oracle=f"""
    WITH opq AS (
      SELECT l_orderkey, l_partkey AS p, CAST(min(l_quantity) AS INT) AS q
      FROM lineitem GROUP BY 1, 2),
    raw AS MATERIALIZED (
      SELECT x.p AS a, y.p AS b, CAST(min(x.q + y.q) AS INT) AS w
      FROM opq x JOIN opq y
        ON x.l_orderkey = y.l_orderkey AND x.p < y.p
      GROUP BY 1, 2),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b, w FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM edges
           UNION ALL SELECT b AS src, a AS dst, w FROM edges),
    verts AS (SELECT DISTINCT src AS v FROM bi),
    d0 AS (SELECT v, CASE WHEN v = (SELECT min(v) FROM verts)
                          THEN 0 ELSE 99999 END AS dist FROM verts),
    {','.join(_sssp_round(k) for k in range(1, 5))}
    SELECT v, dist FROM d4
    """,
    description="bounded-round weighted single-source shortest paths "
                "(4 Bellman-Ford relaxations, integer cheapest-"
                "co-purchase weights, sentinel 99999 beyond the "
                "budget) from the minimum-id vertex of the capped "
                "weighted co-purchase graph — the weighted companion "
                "to `bfs_hops`, same unrolled-SQL full oracle; the "
                "relaxation join is keyed on the persisted "
                "bidirectional edge list so only the |V|-row distance "
                "table moves per round")
def q_sssp_weighted(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.sssp_weighted(load_table(spark, sf_dir, "lineitem"))


@_register(
    "fuzzy_token_join",
    oracle=f"""
    WITH corpus AS (
      SELECT text FROM documents
      UNION ALL
      SELECT replace(replace(replace(text, 'table', 'tible'),
                             'window', 'windo'), 'merge', 'mergee')
             AS text
      FROM documents WHERE doc_id % 10 = 0),
    wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS word
            FROM corpus)
      WHERE len(word) >= 4
      GROUP BY word),
    keys AS (
      SELECT word, cnt,
             unnest(list_distinct(
                 [word] || [word[1:i-1] || word[i+1:]
                            for i in generate_series(1, len(word))]))
             AS key
      FROM wc),
    cand AS (
      SELECT DISTINCT a.word AS word_a, b.word AS word_b,
             a.cnt AS cnt_a, b.cnt AS cnt_b
      FROM keys a JOIN keys b USING (key)
      WHERE a.word < b.word)
    SELECT word_a, word_b, cnt_a, cnt_b
    FROM cand WHERE levenshtein(word_a, word_b) <= 1
    """,
    description="EXACT edit-distance-1 vocabulary self-match via "
                "symmetric-delete blocking (SymSpell / FastSS, Bocek "
                "2007): candidates from ONE equality join on "
                "{word} ∪ {single-deletions} keys — provably complete "
                "for lev<=1, never all-pairs — verified by JVM-side "
                "levenshtein (key-sharing pairs can be distance 2: "
                "'abc'/'bca'); runs on the vocab frame, corpus "
                "touched once; the record-linkage family entry. The "
                "synthetic corpus's 31-word palette has no natural "
                "lev-1 pairs, so a deterministically corrupted batch "
                "is planted (substitution 'tible', deletion 'windo', "
                "insertion 'mergee' — one per edit operation), the "
                "planted-corpus pattern of `dedup_minhash`")
def q_fuzzy_token_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup.fuzzy import fuzzy_token_join
    docs = load_table(spark, sf_dir, "documents")
    corrupted = (docs.where(F.col("doc_id") % 10 == 0)
                 .select(F.replace(
                     F.replace(
                         F.replace(F.col("text"),
                                   F.lit("table"), F.lit("tible")),
                         F.lit("window"), F.lit("windo")),
                     F.lit("merge"), F.lit("mergee")).alias("text")))
    return fuzzy_token_join(docs.select("text").unionAll(corrupted))


@_register(
    "fuzzy_token_join_d2",
    oracle=f"""
    WITH corpus AS (
      SELECT text FROM documents
      UNION ALL
      SELECT replace(replace(replace(text, 'table', 'tabel'),
                             'window', 'wndw'), 'merge', 'mergeee')
             AS text
      FROM documents WHERE doc_id % 10 = 0),
    wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS word
            FROM corpus)
      WHERE len(word) >= 4
      GROUP BY word)
    SELECT a.word AS word_a, b.word AS word_b,
           a.cnt AS cnt_a, b.cnt AS cnt_b
    FROM wc a JOIN wc b ON a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 2
    """,
    description="EXACT edit-distance-2 vocabulary self-match via "
                "depth-2 symmetric-delete blocking (the SymSpell "
                "property extends: lev<=2 ⇒ depth-2 delete "
                "neighborhoods intersect, so recall stays exact; "
                "key fan-out O(len²/2) per vocab word — linear in "
                "the vocab, never all-pairs). The ORACLE is the "
                "independent naive formulation — all-pairs "
                "levenshtein over the vocab frame (fine at oracle "
                "scale, the non-starter the operator exists to "
                "avoid) — so blocking completeness is checked "
                "against a different algorithm, not mirrored. "
                "Planted two-edit corruptions (transposition "
                "'tabel', double deletion 'wndw', double insertion "
                "'mergeee') exercise the depth-2-only matches")
def q_fuzzy_token_join_d2(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup.fuzzy import fuzzy_token_join
    docs = load_table(spark, sf_dir, "documents")
    corrupted = (docs.where(F.col("doc_id") % 10 == 0)
                 .select(F.replace(
                     F.replace(
                         F.replace(F.col("text"),
                                   F.lit("table"), F.lit("tabel")),
                         F.lit("window"), F.lit("wndw")),
                     F.lit("merge"), F.lit("mergeee")).alias("text")))
    return fuzzy_token_join(docs.select("text").unionAll(corrupted),
                            max_edits=2)


@_register(
    "typo_canonicalize",
    oracle=f"""
    WITH corpus AS (
      SELECT text FROM documents
      UNION ALL
      SELECT replace(replace(replace(text, 'table', 'tible'),
                             'window', 'windo'), 'merge', 'mergee')
             AS text
      FROM documents WHERE doc_id % 20 = 0),
    wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS word
            FROM corpus)
      WHERE len(word) >= 4
      GROUP BY word),
    pairs AS (
      SELECT a.word AS word_a, b.word AS word_b,
             a.cnt AS cnt_a, b.cnt AS cnt_b
      FROM wc a JOIN wc b ON a.word < b.word
      WHERE levenshtein(a.word, b.word) <= 1),
    directed AS (
      SELECT word_a AS typo, cnt_a AS cnt_typo,
             word_b AS canonical, cnt_b AS cnt_canonical FROM pairs
      UNION ALL
      SELECT word_b, cnt_b, word_a, cnt_a FROM pairs),
    ranked AS (
      SELECT typo, canonical, cnt_typo, cnt_canonical,
             row_number() OVER (PARTITION BY typo
                                ORDER BY cnt_canonical DESC,
                                         canonical ASC) AS rn
      FROM directed
      WHERE cnt_canonical >= 10 * cnt_typo)
    SELECT typo, canonical, cnt_typo, cnt_canonical
    FROM ranked WHERE rn = 1
    """,
    description="frequency-prior spell-correction map (Norvig corpus "
                "prior): each typo maps to its >=10x-more-frequent "
                "edit-distance-1 neighbor, most-frequent-wins with a "
                "lexicographic tie-break so the map is deterministic; "
                "candidates from the exact symmetric-delete join, "
                "the oracle re-derives them via independent all-pairs "
                "levenshtein; corruption planted on 5% of docs so "
                "the canonical:typo ratio clears the 10x prior with "
                "margin")
def q_typo_canonicalize(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup.fuzzy import typo_canonicalize
    docs = load_table(spark, sf_dir, "documents")
    corrupted = (docs.where(F.col("doc_id") % 20 == 0)
                 .select(F.replace(
                     F.replace(
                         F.replace(F.col("text"),
                                   F.lit("table"), F.lit("tible")),
                         F.lit("window"), F.lit("windo")),
                     F.lit("merge"), F.lit("mergee")).alias("text")))
    return typo_canonicalize(docs.select("text").unionAll(corrupted))


@_register(
    "holt_values",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    r AS (
        SELECT user_id, event_id, rn,
               value AS level, CAST(0.0 AS DOUBLE) AS trend
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.rn,
               (o.value + (r.level + r.trend)) / 2,
               (r.trend + (((o.value + (r.level + r.trend)) / 2)
                           - r.level)) / 2
        FROM ordered o JOIN r ON o.user_id = r.user_id
                              AND o.rn = r.rn + 1)
    SELECT user_id, event_id, level, trend FROM r
    """,
    description="per-user Holt double-exponential smoothing (level + "
                "trend, alpha = beta = 1/2) over the (ts, event_id) "
                "order — the trend-aware sibling of `ewma_values`, "
                "same SEQUENTIAL grouped state via the JVM "
                "aggregate() fold (no Python boundary); "
                "all three per-step roundings use exact power-of-two "
                "divisors with parenthesization the recursive-CTE "
                "oracle mirrors token-for-token, so both engines "
                "match bit-for-bit with NO tolerance (pinned in "
                "tests/test_holt_smoother.py)")
def q_holt_values(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.holt_by_user(load_table(spark, sf_dir, "events"))


@_register(
    "stream_ewma",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    r AS (
        SELECT user_id, rn, value AS ewma
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn, (o.value + r.ewma) / 2
        FROM ordered o JOIN r ON o.user_id = r.user_id
                              AND o.rn = r.rn + 1)
    SELECT r.user_id, CAST(r.rn AS BIGINT) AS n_events, r.ewma
    FROM r JOIN (SELECT user_id, max(rn) AS mx
                 FROM r GROUP BY user_id) m
      ON r.user_id = m.user_id AND r.rn = m.mx
    """,
    description="streaming EWMA (alpha = 1/2) per user via "
                "applyInPandasWithState — the smoother's sequential "
                "state carried ACROSS micro-batches (update mode, "
                "AvailableNow replay); the oracle is the batch "
                "recursive CTE's final row per user, bit-exact by the "
                "`ewma_values` halving-form argument; O(1) state per "
                "user, one shuffle per batch")
def q_stream_ewma(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_ewma_by_user(spark, sf_dir)


@_register(
    "salted_replicate_join",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) / 10000.0 AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand
    """,
    description="skew-resistant salt-and-replicate equi-join "
                "(operators/skew.salted_replicate_join): fact rows "
                "salted by a deterministic hash of l_orderkey, the "
                "dimension replicated n_salts times via explode, join "
                "on (key, salt) — a hot fact key spreads over "
                "n_salts reducers instead of pinning one; purely a "
                "physical rewrite, so the oracle is the PLAIN join + "
                "aggregate (exact-cents e4 revenue); property-tested "
                "equal to the unsalted join in tests/test_skew.py")
def q_salted_replicate_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.skew import (
        salted_replicate_join,
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_orderkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_replicate_join(li, part, key="p_partkey",
                                   salt_src="l_orderkey")
    rev_e4 = (F.round(F.col("l_extendedprice") * 100).cast("long")
              * (F.lit(100) - F.round(F.col("l_discount") * 100)
                 .cast("long")))
    return (joined.groupBy("p_brand")
            .agg(F.count("*").alias("n_items"),
                 (F.sum(rev_e4).cast("long") / 10000.0).alias("revenue"))
            .orderBy("p_brand"))


#: Fixed rank-ordered merge table for the BPE APPLY entries — the
#: trained artifact a tokenizer ships (train side: `bpe_train_merges`).
#: A literal so the oracle can mirror the replace chain verbatim.
_BPE_MERGES = [("a n", "an"), ("o r", "or"), ("or d", "ord"),
               ("e r", "er"), ("t h", "th"), ("s t", "st")]

#: DuckDB expression applying _BPE_MERGES to a spaced-out word —
#: the same greedy tokenwise fuse as `functions/bpe.greedy_fuse`
#: (pinned by the 'aaaa'-run parity + hypothesis-vs-reference tests
#: in tests/test_bpe_train.py / tests/test_properties.py).
_BPE_SEG_SQL = "(' ' || regexp_replace(word, '(.)', '\\1 ', 'g'))"
for _pair, _merged in _BPE_MERGES:
    _a, _b = _pair.split(" ")
    _BPE_SEG_SQL = _bpe_fuse_sql(_BPE_SEG_SQL, f"'{_a}'", f"'{_b}'")
_BPE_SEG_SQL = f"trim({_BPE_SEG_SQL})"


@_register(
    "bpe_segment_vocab",
    oracle=f"""
    WITH wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      GROUP BY word)
    SELECT word, cnt, {_BPE_SEG_SQL} AS seg
    FROM wc
    """,
    description="BPE merge application over the corpus vocabulary: "
                "replay a fixed rank-ordered merge table (the trained "
                "artifact — K driver-side rows by design, vocab state "
                "stays distributed) via chained greedy tokenwise fuse "
                "folds (Catalyst aggregate — textbook BPE semantics, "
                "not a boundary-consuming string replace) on the "
                "spaced character sequence; completes the train→apply "
                "pair with `bpe_train_merges`; corpus touched once "
                "(vocab trick), fuse chain whole-stage-codegen'd")
def q_bpe_segment_vocab(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.bpe import segment_vocab
    return segment_vocab(load_table(spark, sf_dir, "documents"),
                         _BPE_MERGES)


@_register(
    "bpe_subword_counts",
    oracle=f"""
    WITH wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      GROUP BY word),
    seg AS (
      SELECT word, len(string_split({_BPE_SEG_SQL}, ' ')) AS n_sub
      FROM wc),
    words AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
    SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_subwords
    FROM words JOIN seg USING (word)
    GROUP BY doc_id
    """,
    description="per-document subword counts under the fixed merge "
                "table — the sequence-packing budget number; each "
                "doc's words join the segmented vocab (broadcast-"
                "sized) and symbol counts sum per doc; corpus scanned "
                "once on each side, segmentation computed once per "
                "VOCAB word not per token")
def q_bpe_subword_counts(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.bpe import subword_counts
    return subword_counts(load_table(spark, sf_dir, "documents"),
                          _BPE_MERGES)


@_register(
    "mp3_frame_stats",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               2 + doc_id % 6 AS n,
               ([44100, 48000, 32000])[doc_id % 3 + 1] AS sr,
               CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS ch,
               CASE WHEN doc_id % 10 = 0 AND doc_id % 64 > 0
                    THEN 10 + doc_id % 64 ELSE 0 END AS id3
        FROM documents),
    frames AS (
        SELECT doc_id, n, sr, ch, id3, i,
               ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320])[
                   1 + CASE WHEN doc_id % 4 = 0
                            THEN (doc_id + i) % 14
                            ELSE doc_id % 14 END] AS kbps,
               i % 2 AS pad
        FROM (SELECT doc_id, n, sr, ch, id3,
                     unnest(generate_series(0, n - 1)) AS i
              FROM params))
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_frames,
           CAST(id3 + sum(144 * kbps * 1000 // sr + pad) AS BIGINT)
               AS n_bytes,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(sum(kbps) // n AS BIGINT) AS avg_bitrate_kbps,
           count(DISTINCT kbps) > 1 AS is_vbr,
           CAST(n * 1152 * 1000 // sr AS BIGINT) AS duration_ms
    FROM frames GROUP BY doc_id, n, sr, ch, id3
    """,
    description="REAL MPEG-1 Layer III frame-header walk "
                "(multimodal/mp3.py): synthesize a deterministic MP3 "
                "per doc (2-7 frames, CBR/VBR by doc_id mod 4, "
                "alternating padding, every 10th doc carries an ID3v2 "
                "tag exercising the syncsafe skip), ship as a binary "
                "column, walk sync-validated headers with the spec "
                "144*bitrate/sample_rate+padding step — the "
                "ffprobe-style inventory pass; the oracle recomputes "
                "every field (byte counts via the frame-length rule, "
                "floor-mean kbps, VBR flag, floor-divided duration) "
                "from the synthesis formulas and spec tables")
def q_mp3_frame_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.mp3_frame_stats(binary.mp3_payloads(docs))


@_register(
    "tiff_decode_stats",
    oracle="""
    WITH geom AS (
        SELECT doc_id,
               8 + doc_id % 13 AS w,
               6 + doc_id % 9 AS h,
               CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 1 END AS comp
        FROM documents),
    px AS (
        SELECT doc_id, w, h, comp,
               (doc_id + 3 * (i % w) + 5 * (i // w)) % 256 AS v
        FROM (SELECT doc_id, w, h, comp,
                     unnest(generate_series(0, w * h - 1)) AS i
              FROM geom))
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(comp AS BIGINT) AS compression,
           CAST(sum(v) AS BIGINT) AS luma_sum,
           CAST(min(v) AS BIGINT) AS luma_min,
           CAST(max(v) AS BIGINT) AS luma_max
    FROM px GROUP BY doc_id, w, h, comp
    """,
    description="REAL baseline TIFF decode (multimodal/tiff.py): IFD "
                "walk + multi-strip reassembly + TIFF-variant LZW "
                "(early-change code-width bump) over both byte orders "
                "and both codings — synthesized deterministic rasters "
                "(px = (doc_id + 3x + 5y) mod 256, LZW for doc_id ≡ 0 "
                "mod 3, big-endian every 7th doc, rows_per_strip 4), "
                "lossless, so the oracle replays the raster from "
                "first principles and states exact luma sum/min/max")
def q_tiff_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.tiff_decode_stats(binary.tiff_payloads(docs))


def _lpa_round(k: int) -> str:
    prev = f"l{k - 1}"
    return f"""
    l{k} AS (
      SELECT u AS v, label FROM (
        SELECT b.u, l.label, count(*) AS c,
               row_number() OVER (PARTITION BY b.u
                                  ORDER BY count(*) DESC, l.label ASC)
                   AS rn
        FROM bi b JOIN {prev} l ON l.v = b.w
        GROUP BY b.u, l.label)
      WHERE rn = 1)"""


@_register(
    "label_propagation",
    oracle=f"""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey
        AND (l1.l_partkey % 4 = l2.l_partkey % 4
             OR (l1.l_partkey + l2.l_partkey) % 37 = 0)),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS (SELECT a AS u, b AS w FROM edges
           UNION ALL SELECT b AS u, a AS w FROM edges),
    l0 AS (SELECT DISTINCT u AS v, u AS label FROM bi),
    {','.join(_lpa_round(k) for k in range(1, 4))}
    SELECT v, label FROM l3
    """,
    description="community detection by synchronous label propagation "
                "(Raghavan 2007) on the capped co-purchase graph: 3 "
                "deterministic rounds, per-vertex argmax of neighbor "
                "labels with smallest-label tie-break — the total tie "
                "order that makes synchronous LPA reproducible and "
                "value-oracle-able (classic LPA randomizes both); "
                "run on the planted 4-block graph (same-residue "
                "edges + thin deterministic cross links — the "
                "planted-community pattern; the NATURAL co-purchase "
                "graph is structureless and correctly floods, see "
                "operator docstring); "
                "per round one keyed join against the persisted edge "
                "list + one map-side-combined count + one window rank, "
                "only the |V|-row label table moves; unrolled-SQL "
                "full oracle (all-integer argmax)")
def q_label_propagation(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.label_propagation(load_table(spark, sf_dir, "lineitem"),
                               block_mod=4)


@_register(
    "hits_scores",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    fulldeg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v),
    deg AS (SELECT v, deg FROM fulldeg WHERE deg <= 256),
    oriented AS (
      SELECT CASE WHEN da.deg <= db.deg THEN a ELSE b END AS src,
             CASE WHEN da.deg <= db.deg THEN b ELSE a END AS dst
      FROM raw JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
    a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS a1
           FROM oriented GROUP BY dst),
    h1 AS (SELECT src, CAST(sum(a1) AS BIGINT) AS h1
           FROM oriented JOIN a1 USING (dst) GROUP BY src),
    a2 AS (SELECT dst, CAST(sum(h1) AS BIGINT) AS a2
           FROM oriented JOIN h1 USING (src) GROUP BY dst)
    SELECT a2.dst AS v, a2 AS authority, a1 AS indegree
    FROM a2 JOIN a1 USING (dst)
    ORDER BY authority DESC, v ASC LIMIT 20
    """,
    description="Kleinberg HITS (JACM'99) on the degree-oriented "
                "capped co-purchase graph: two UNNORMALIZED mutual-"
                "reinforcement rounds — normalization only rescales "
                "the eigenvector direction, and skipping it keeps "
                "every hub/authority score an exact path-count "
                "integer (aggregation-order independent, full "
                "unrolled-SQL oracle — the `pagerank` integer-mass "
                "argument); top-20 authorities via TakeOrdered with "
                "a unique (score, v) tie order")
def q_hits_scores(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.hits_scores(load_table(spark, sf_dir, "lineitem"))


@_register(
    "anomaly_zscore",
    oracle="""
    WITH d AS (
      SELECT event_id, event_type, v,
             count(v) OVER w AS n,
             sum(v) OVER w AS s1,
             sum(v * v) OVER w AS s2
      FROM (SELECT event_id, event_type, ts,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events)
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, v / 100.0 AS value,
           round((n * v - s1) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)),
                 4) AS zscore
    FROM d
    WHERE n >= 10 AND (n * s2 - s1 * s1) > 0
      AND (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)
    ORDER BY event_id
    """,
    description="ROLLING z-score anomaly flags per event_type over "
                "the previous 20 events: the flag predicate is PURE "
                "INTEGER — (n·v−s1)² > 9·(n·s2−s1²) on exact cents — "
                "so no float rounding touches the decision and the "
                "value oracle needs no tolerance; the reported z is "
                "one deterministic sqrt+divide; min-history and "
                "zero-variance edges pinned in-predicate; ONE "
                "partitioned window, no other shuffle (the time-"
                "series monitor form — `zscore_outliers` is the "
                "static whole-population cousin)")
def q_anomaly_zscore(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.anomaly_zscore(load_table(spark, sf_dir, "events"))


#: HLL shared SQL: 32-bit md5-prefix hash → (bucket, rho) over
#: lineitem part keys; alpha·m² embedded as the repr of the exact
#: double the Spark side uses (identical literal → identical IEEE
#: value in both engines).
#: The sketched key is the line-level uid (orderkey*10 + linenumber,
#: unique per lineitem row): its cardinality is far above the 2.5·m
#: small-range threshold at every SF, so the RAW HLL estimator is in
#: its published-accuracy regime and no linear-counting correction
#: (whose ln() is not bit-deterministic across engines) is needed.
_HLL_HASH = ("CAST(('0x' || substring(md5(CAST(l_orderkey * 10 "
             "+ l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)")
_HLL_REGS_SQL = f"""
    b AS (SELECT h % 1024 AS bucket, h // 1024 AS w
          FROM (SELECT {_HLL_HASH} AS h FROM lineitem)),
    regs AS (
      SELECT bucket,
             CAST(max(CASE WHEN w = 0 THEN 23
                           ELSE 23 - length(bin(w)) END) AS BIGINT)
                 AS m
      FROM b GROUP BY bucket)"""
_HLL_ALPHA_M2 = repr(0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024)


@_register(
    "hll_registers",
    oracle=f"""
    WITH {_HLL_REGS_SQL}
    SELECT bucket, m FROM regs ORDER BY bucket
    """,
    description="from-scratch HyperLogLog register table (Flajolet "
                "2007; p=10, m=1024) over lineitem part keys: "
                "bucket = h mod m, register = max leading-zero rank "
                "of the 22-bit hash window — all exact integers from "
                "the deterministic md5-prefix uniform, so the sketch "
                "STATE itself carries a full value oracle; one "
                "map-side-combining max, never a distinct; mergeable "
                "by element-wise max (the persist-and-merge-across-"
                "runs property Spark's opaque HLL++ aggregate "
                "doesn't expose)")
def q_hll_registers(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import sketches as SK
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint").alias("line_uid"))
    return SK.hll_registers(li, "line_uid")


@_register(
    "hll_estimate",
    oracle=f"""
    WITH {_HLL_REGS_SQL},
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets_used,
                 sum(CAST(1 AS DOUBLE)
                     / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)) AS s
          FROM regs),
    e AS (SELECT CAST(count(DISTINCT line_uid) AS BIGINT)
                 AS true_distinct
          FROM (SELECT l_orderkey * 10 + l_linenumber AS line_uid
                FROM lineitem))
    SELECT n_buckets_used,
           round({_HLL_ALPHA_M2}
                 / (s + (1024 - n_buckets_used)), 2) AS est_distinct,
           true_distinct,
           round(({_HLL_ALPHA_M2} / (s + (1024 - n_buckets_used))
                  - true_distinct) / true_distinct, 4) AS rel_err
    FROM s, e
    """,
    description="HLL cardinality estimate from the register table, "
                "next to the exact distinct count (the column you "
                "drop at production scale — here it demonstrates and "
                "the oracle checks estimator accuracy): every 2^-M "
                "register term is exactly representable and all "
                "partial sums fit the mantissa, so the double sum is "
                "EXACT and order-independent — the estimate is "
                "bit-deterministic across engines, not just the "
                "integer registers")
def q_hll_estimate(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import sketches as SK
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint").alias("line_uid"))
    return SK.hll_estimate(li, "line_uid")


#: CMS shared SQL: vocab-collapsed word counts and the 4 salted cells.
_CMS_WC_SQL = f"""
    wc AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      GROUP BY word)"""
_CMS_CELL = ("CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':' "
             "|| word), 1, 8)) AS BIGINT) % 256")


@_register(
    "cms_sketch",
    oracle=f"""
    WITH {_CMS_WC_SQL}
    SELECT d AS depth, {_CMS_CELL} AS cell,
           CAST(sum(cnt) AS BIGINT) AS counter
    FROM wc, (VALUES (0), (1), (2), (3)) AS t(d)
    GROUP BY depth, cell ORDER BY depth, cell
    """,
    description="Count-Min sketch (Cormode 2005; depth 4 × width 256) "
                "of the corpus word frequencies: counter(j, c) = Σ "
                "counts hashing to cell c under salted md5 hash j — "
                "pure integer state with a full value oracle; built "
                "over the VOCAB frequency table (corpus touched "
                "once), d map-side-combining sums, ≤ d·width rows "
                "out; mergeable by element-wise sum")
def q_cms_sketch(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import tokens
    from cloud_native_mapreduce_spark.operators import sketches as SK
    docs = load_table(spark, sf_dir, "documents")
    wc = (docs.select(F.explode(tokens(F.col("text"))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    return SK.cms_sketch(wc, "word", "cnt")


#: CMS probe palette: high/medium frequency words + one absent.
_CMS_QUERIES = ["scan", "column", "window", "merge", "zzzmissing"]


@_register(
    "cms_point_estimates",
    oracle=f"""
    WITH {_CMS_WC_SQL},
    sketch AS (
      SELECT d AS depth, {_CMS_CELL} AS cell,
             CAST(sum(cnt) AS BIGINT) AS counter
      FROM wc, (VALUES (0), (1), (2), (3)) AS t(d)
      GROUP BY depth, cell),
    probe AS (
      SELECT q.word, d AS depth, {_CMS_CELL.replace("|| word", "|| q.word")}
                 AS cell
      FROM (VALUES ('scan'), ('column'), ('window'), ('merge'),
                   ('zzzmissing')) AS q(word),
           (VALUES (0), (1), (2), (3)) AS t(d)),
    est AS (
      SELECT word, CAST(min(coalesce(counter, 0)) AS BIGINT)
                 AS est_count
      FROM probe LEFT JOIN sketch USING (depth, cell)
      GROUP BY word),
    tr AS (
      SELECT word, CAST(sum(cnt) AS BIGINT) AS true_count
      FROM wc WHERE word IN ('scan', 'column', 'window', 'merge',
                             'zzzmissing')
      GROUP BY word)
    SELECT word, est_count,
           CAST(coalesce(true_count, 0) AS BIGINT) AS true_count
    FROM est LEFT JOIN tr USING (word) ORDER BY word
    """,
    description="Count-Min point-frequency reads: est(q) = min over "
                "depth of counter(j, h_j(q)) — the canonical CMS "
                "lookup, an UPPER bound on the true count "
                "(collisions only add; est >= true is a theorem the "
                "property test also pins); probes include an absent "
                "word; each lookup is a keyed join against the "
                "≤ d·width-row sketch, the corpus is never rescanned")
def q_cms_point_estimates(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import tokens
    from cloud_native_mapreduce_spark.operators import sketches as SK
    docs = load_table(spark, sf_dir, "documents")
    wc = (docs.select(F.explode(tokens(F.col("text"))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    return SK.cms_point_estimates(wc, "word", "cnt", _CMS_QUERIES)


@_register(
    "exact_percentiles",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             quantile_cont(value, [0.5, 0.9, 0.99]) AS pv,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type)
    SELECT event_type, ([0.5, 0.9, 0.99])[i] AS p,
           round(pv[i], 6) AS value, n_events
    FROM agg, generate_series(1, 3) AS t(i)
    ORDER BY event_type, p
    """,
    description="EXACT per-type value percentiles (p50/p90/p99): "
                "Spark `percentile` and DuckDB `quantile_cont` share "
                "the type-7 linear-interpolation definition and agree "
                "bit-for-bit on this corpus (rounded at 6dp for "
                "boundary safety) — the ground-truth sibling of the "
                "sketch family: an exact quantile is a per-group "
                "sort, the cost HLL/CMS/t-digest exist to avoid")
def q_exact_percentiles(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.value_percentiles(load_table(spark, sf_dir, "events"))


@_register(
    "lpa_modularity",
    oracle=f"""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey
        AND (l1.l_partkey % 4 = l2.l_partkey % 4
             OR (l1.l_partkey + l2.l_partkey) % 37 = 0)),
    fdeg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM fdeg) AND b IN (SELECT v FROM fdeg)),
    bi AS (SELECT a AS u, b AS w FROM edges
           UNION ALL SELECT b AS u, a AS w FROM edges),
    l0 AS (SELECT DISTINCT u AS v, u AS label FROM bi),
    {','.join(_lpa_round(k) for k in range(1, 4))},
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    intra AS (
      SELECT la.label, CAST(count(*) AS BIGINT) AS intra_edges
      FROM edges e JOIN l3 la ON la.v = e.a JOIN l3 lb ON lb.v = e.b
      WHERE la.label = lb.label GROUP BY la.label),
    deg2 AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
             FROM bi GROUP BY u),
    dmass AS (
      SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS degree_sum,
             CAST(count(*) AS BIGINT) AS n_members
      FROM deg2 d JOIN l3 l ON l.v = d.u GROUP BY l.label)
    SELECT dm.label, dm.n_members,
           CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           dm.degree_sum,
           CAST(4 * mm.m * coalesce(i.intra_edges, 0)
                - dm.degree_sum * dm.degree_sum AS BIGINT)
               AS contrib_4m2,
           round((4 * mm.m * coalesce(i.intra_edges, 0)
                  - dm.degree_sum * dm.degree_sum)
                 / (4.0 * mm.m * mm.m), 6) + 0.0 AS q_contrib
    FROM dmass dm LEFT JOIN intra i ON i.label = dm.label, mm
    ORDER BY dm.label
    """,
    description="Newman modularity of the LPA partition in EXACT "
                "integer form — per community, contrib = 4m·e_c − "
                "d_c² (Q's numerator over common denominator 4m²), "
                "the partition-quality acceptance check (Q > 0 beats "
                "a random cut) before communities drive placement — "
                "on the planted 4-block graph Q is far above 0, on "
                "the natural structureless graph it sits at 0; "
                "e_c via one keyed double-join of the edge list "
                "against the |V|-row labels, m as a broadcast 1-row "
                "frame, no driver collects; full value oracle "
                "(integers + one fixed-form rounded division)")
def q_lpa_modularity(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.lpa_modularity(load_table(spark, sf_dir, "lineitem"),
                            block_mod=4)


@_register(
    "hll_merge_days",
    oracle="""
    WITH b AS (
      SELECT h % 1024 AS bucket, h // 1024 AS w
      FROM (SELECT CAST(('0x' || substring(md5(CAST(user_id AS
                   VARCHAR)), 1, 8)) AS BIGINT) AS h
            FROM events))
    SELECT bucket,
           CAST(max(CASE WHEN w = 0 THEN 23
                         ELSE 23 - length(bin(w)) END) AS BIGINT) AS m
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    description="the HLL merge law as a value check: per-DAY register "
                "tables (the artifact a nightly pipeline persists) "
                "merged by element-wise max, while the ORACLE computes "
                "the direct single-pass registers over all events — "
                "merge-then-read == read-then-merge because max is "
                "associative/commutative; this in-engine mergeability "
                "is why the register layout is an explicit table "
                "rather than Spark's opaque HLL++ binary")
def q_hll_merge_days(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import sketches as SK
    return SK.hll_registers_merged_daily(
        load_table(spark, sf_dir, "events"))


def _zorder_pruning_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.layout import zvalue_sql
    return f"""
    WITH d AS (
      SELECT o_custkey % 1024 AS x,
             (CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 1024
                 AS y
      FROM orders),
    b AS (SELECT x, y, {{Z}} >> 10 AS bucket FROM d),
    stats AS (
      SELECT bucket, count(*) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max
      FROM b GROUP BY bucket),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets_total,
             CAST(sum(CASE WHEN x_max >= 100 AND x_min <= 160
                            AND y_max >= 400 AND y_min <= 480
                           THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_buckets_hit,
             CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
             CAST(sum(CASE WHEN x_max >= 100 AND x_min <= 160
                            AND y_max >= 400 AND y_min <= 480
                           THEN n_rows ELSE 0 END) AS BIGINT)
                 AS n_rows_scanned
      FROM stats),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows_matching
      FROM d WHERE x BETWEEN 100 AND 160 AND y BETWEEN 400 AND 480)
    SELECT n_buckets_total, n_buckets_hit, n_rows_total,
           n_rows_scanned, n_rows_matching
    FROM agg, m
    """.replace("{Z}", zvalue_sql("x", "y"))


@_register(
    "zorder_pruning",
    oracle=_zorder_pruning_oracle,
    description="Z-order pruning benefit, quantified: for a box query "
                "on (customer, order-day), the buckets a zone-map "
                "reader must scan vs total, and rows scanned vs rows "
                "matching (read amplification) — the skip-rate "
                "arithmetic that justifies the layout at 100 TB, "
                "computed over the bucket statistics so it is engine-"
                "checkable (the same numbers parquet footers give "
                "after layout.write_zordered); all-integer full "
                "oracle")
def q_zorder_pruning(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import layout as L
    return L.zorder_pruning(load_table(spark, sf_dir, "orders"))


@_register(
    "stream_anomaly",
    oracle="""
    WITH d AS (
      SELECT event_id, event_type, v,
             count(v) OVER w AS n,
             sum(v) OVER w AS s1,
             sum(v * v) OVER w AS s2
      FROM (SELECT event_id, event_type, ts,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events)
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, v / 100.0 AS value,
           round((n * v - s1) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)),
                 4) AS zscore
    FROM d
    WHERE n >= 10 AND (n * s2 - s1 * s1) > 0
      AND (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)
    """,
    description="STREAMING rolling z-score anomaly alerts per "
                "event_type (applyInPandasWithState, append mode — "
                "flagged events emitted as detected): the batch "
                "detector's integer predicate folded over a "
                "last-20-cents ring buffer carried across "
                "micro-batches; O(window) state per type; oracle = "
                "the batch operator's window SQL, matched bit-for-bit "
                "over the AvailableNow replay")
def q_stream_anomaly(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_anomaly_by_type(spark, sf_dir)


#: KMV shared SQL: per-type distinct-user 32-bit hashes.
_KMV_H = ("CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), "
          "1, 8)) AS BIGINT)")


@_register(
    "kmv_sketch",
    oracle=f"""
    WITH uh AS (
      SELECT DISTINCT event_type, {_KMV_H} AS h FROM events),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY h) AS rk
      FROM uh)
    SELECT event_type, h, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= 256 ORDER BY event_type, h
    """,
    description="K-minimum-values (theta) sketch of distinct users "
                "per event_type (Beyer SIGMOD'07 / DataSketches "
                "theta): the k=256 smallest deterministic md5 hashes "
                "— an ITEM sample, so unlike HLL it supports set-"
                "operation cardinalities; the sketch table itself is "
                "a pure function of each set and carries the full "
                "value oracle; one distinct + one partitioned window "
                "rank, k·|sets| rows out, mergeable")
def q_kmv_sketch(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import sketches as SK
    return SK.kmv_sketch(load_table(spark, sf_dir, "events"),
                         "event_type", "user_id")


@_register(
    "kmv_intersection",
    oracle=f"""
    WITH sa AS (
      SELECT h FROM (
        SELECT DISTINCT {_KMV_H} AS h FROM events
        WHERE event_type = 'click')
      ORDER BY h LIMIT 256),
    sb AS (
      SELECT h FROM (
        SELECT DISTINCT {_KMV_H} AS h FROM events
        WHERE event_type = 'purchase')
      ORDER BY h LIMIT 256),
    caps AS (
      SELECT least(
        CASE WHEN (SELECT count(*) FROM sa) = 256
             THEN (SELECT max(h) FROM sa) ELSE 4294967296 END,
        CASE WHEN (SELECT count(*) FROM sb) = 256
             THEN (SELECT max(h) FROM sb) ELSE 4294967296 END) AS cap),
    inter AS (
      SELECT cap,
             CAST((SELECT count(*) FROM sa JOIN sb USING (h)
                   WHERE h < cap) AS BIGINT) AS n_sample
      FROM caps),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS true_overlap
      FROM (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'click')
      JOIN (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase') USING (user_id))
    SELECT n_sample,
           round(n_sample / (CAST(cap AS DOUBLE) / 4294967296.0), 2)
               AS est_overlap,
           true_overlap
    FROM inter, ex
    """,
    description="audience-overlap cardinality from KMV sketches: "
                "|click-users ∩ purchase-users| estimated as "
                "|sample ∩ below cap| / theta with exact-mode-aware "
                "cap (non-full sketch ⇒ theta = 1 ⇒ degenerates to "
                "the exact overlap by construction) — the set "
                "operation HLL registers cannot express; every join "
                "after the two k-row sketch builds is sketch-sized; "
                "all estimate inputs are exact integers, the one "
                "division fixed-form")
def q_kmv_intersection(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import sketches as SK
    return SK.kmv_intersection(load_table(spark, sf_dir, "events"))


@_register(
    "snapshot_diff",
    oracle="""
    WITH newsnap AS (
      SELECT o_orderkey, 
             CASE WHEN o_orderkey % 97 = 0
                  THEN o_totalprice + 1.0 ELSE o_totalprice END
                 AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 131 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, 'N'
      FROM orders WHERE o_orderkey % 53 = 0),
    j AS (
      SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN o.o_totalprice IS NOT DISTINCT FROM
                       n.o_totalprice
                   AND o.o_orderstatus IS NOT DISTINCT FROM
                       n.o_orderstatus THEN 'unchanged'
                  ELSE 'update' END AS change_type
      FROM orders o FULL OUTER JOIN newsnap n
        ON o.o_orderkey = n.o_orderkey)
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys
    FROM j GROUP BY change_type ORDER BY change_type
    """,
    description="change-data-capture by snapshot comparison: ONE "
                "co-partitioned full-outer join of two table versions "
                "on the key + null-safe column compare classifying "
                "every key insert/delete/update/unchanged — the diff "
                "a pipeline turns into a CDC feed when the source has "
                "no changelog; the new snapshot is a deterministic "
                "mutation of orders (price bump on keys ≡ 0 mod 97, "
                "deletes mod 131, inserts mod 53 — the planted-"
                "mutation pattern); at 100 TB both snapshots bucket "
                "on the key for a zero-exchange diff")
def q_snapshot_diff(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.relational import (
        snapshot_diff,
    )
    orders = load_table(spark, sf_dir, "orders")
    newsnap = (orders.where(F.col("o_orderkey") % 131 != 0)
               .select("o_orderkey",
                       F.when(F.col("o_orderkey") % 97 == 0,
                              F.col("o_totalprice") + 1.0)
                       .otherwise(F.col("o_totalprice"))
                       .alias("o_totalprice"),
                       "o_orderstatus")
               .unionAll(
                   orders.where(F.col("o_orderkey") % 53 == 0)
                   .select((F.col("o_orderkey") + 100000000)
                           .alias("o_orderkey"),
                           "o_totalprice",
                           F.lit("N").alias("o_orderstatus"))))
    return snapshot_diff(orders, newsnap, "o_orderkey",
                         ["o_totalprice", "o_orderstatus"])


@_register(
    "event_transitions",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events),
    counts AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type)
    SELECT from_type, to_type, n,
           CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS n_from,
           round(n / CAST(sum(n) OVER (PARTITION BY from_type)
                          AS BIGINT), 6) AS p
    FROM counts ORDER BY from_type, to_type
    """,
    description="first-order Markov transition matrix over per-user "
                "event sequences: consecutive (from, to) event-type "
                "pairs in (ts, event_id) order, with counts and "
                "transition probabilities — the session-model / "
                "next-event primitive, the SEQUENCE analogue of "
                "cooccurrence_topk's unordered co-occurrence; one "
                "lead window + one aggregate; exact integer pair + "
                "one fixed-form rounded division")
def q_event_transitions(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.event_transitions(load_table(spark, sf_dir, "events"))


@_register(
    "holt_forecast",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    r AS (
        SELECT user_id, event_id, rn,
               value AS level, CAST(0.0 AS DOUBLE) AS trend
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.rn,
               (o.value + (r.level + r.trend)) / 2,
               (r.trend + (((o.value + (r.level + r.trend)) / 2)
                           - r.level)) / 2
        FROM ordered o JOIN r ON o.user_id = r.user_id
                              AND o.rn = r.rn + 1),
    last AS (
        SELECT r.user_id, r.level, r.trend
        FROM r JOIN (SELECT user_id, max(rn) AS mx
                     FROM r GROUP BY user_id) m
          ON r.user_id = m.user_id AND r.rn = m.mx)
    SELECT user_id, CAST(h AS INT) AS h,
           level + h * trend AS forecast
    FROM last, generate_series(1, 3) AS t(h)
    ORDER BY user_id, h
    """,
    description="h-step-ahead Holt forecasts from each user's "
                "terminal (level, trend): ŷ(T+h) = l_T + h·b_T for "
                "h = 1..3 — what the level+trend decomposition "
                "exists for; the terminal state is bit-exact (the "
                "holt_values recursion), and each forecast adds one "
                "multiply and one add in identical form, so the "
                "whole chain matches the recursive-CTE oracle "
                "bit-for-bit; no second pass over events, horizon "
                "rides a broadcast 3-row frame")
def q_holt_forecast(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.holt_forecast(load_table(spark, sf_dir, "events"))


@_register(
    "neighbor_agg_2hop",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS (SELECT a AS u, b AS w FROM edges
           UNION ALL SELECT b AS u, a AS w FROM edges),
    feat AS (
      SELECT v, CAST(round(p_retailprice * 100) AS BIGINT) AS f
      FROM (SELECT DISTINCT u AS v FROM bi)
      JOIN part ON p_partkey = v),
    h1 AS (
      SELECT u, CAST(sum(f) AS BIGINT) AS s1,
             CAST(count(*) AS BIGINT) AS n1
      FROM bi JOIN feat ON feat.v = bi.w GROUP BY u),
    h2 AS (
      SELECT b.u, CAST(sum(h1.s1) AS BIGINT) AS s2,
             CAST(count(*) AS BIGINT) AS n2
      FROM bi b JOIN h1 ON h1.u = b.w GROUP BY b.u)
    SELECT feat.v, feat.f, h1.s1, h1.n1, h2.s2, h2.n2
    FROM feat JOIN h1 ON h1.u = feat.v JOIN h2 ON h2.u = feat.v
    ORDER BY feat.v
    """,
    description="GraphSAGE-style 2-layer neighborhood feature "
                "aggregation (Hamilton NeurIPS'17) on the capped "
                "co-purchase graph with retail-price-cents vertex "
                "features: per layer ONE keyed join of the persisted "
                "edge list against the |V|-row feature frame + one "
                "map-side-combined aggregate; (sum, count) kept as "
                "exact integer algebraic parts so the full oracle "
                "needs no tolerance — the GNN featurization "
                "primitive, not a centrality (cf. hits_scores)")
def q_neighbor_agg_2hop(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.neighbor_agg_2hop(load_table(spark, sf_dir, "lineitem"),
                               load_table(spark, sf_dir, "part"))


@_register(
    "bmp_decode_stats",
    oracle="""
    WITH geom AS (
        SELECT doc_id,
               9 + doc_id % 12 AS w,
               5 + doc_id % 8 AS h,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS comp
        FROM documents),
    px AS (
        SELECT doc_id, w, h, comp, i,
               (((i % w) // 3) + (i // w) + doc_id) % 16 AS v
        FROM (SELECT doc_id, w, h, comp,
                     unnest(generate_series(0, w * h - 1)) AS i
              FROM geom))
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(comp AS BIGINT) AS compression,
           CAST(16 AS BIGINT) AS n_colors,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px,
           CAST(sum((i + 1) * v) % 1000000007 AS BIGINT) AS checksum
    FROM px GROUP BY doc_id, w, h, comp
    """,
    description="REAL BMP decode (multimodal/bmp.py — the eighth "
                "format): header/palette parse, BI_RLE8 run-length "
                "expansion with the full escape grammar (encoded "
                "runs, word-aligned absolute mode, EOL/EOB; delta "
                "escapes rejected loudly — they encode undefined "
                "pixels) or padded-row BI_RGB unpack, bottom-up row "
                "reassembly; synthesized rasters exercise both "
                "codings; lossless, so the oracle replays the raster "
                "and states exact stats plus a position-weighted "
                "checksum a row-order or RLE-reassembly bug cannot "
                "survive")
def q_bmp_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.bmp_decode_stats(binary.bmp_payloads(docs))


def _lmb_round(k: int) -> str:
    prev = f"d{k - 1}"
    mins = ", ".join(
        f"CAST(least(d.d{j}, coalesce(min(n.d{j}) + 1, 99)) AS INT) "
        f"AS d{j}" for j in range(1, 5))
    return f"""
    d{k} AS MATERIALIZED (SELECT d.v, {mins}
           FROM {prev} d LEFT JOIN bi b ON b.dst = d.v
           LEFT JOIN {prev} n ON n.v = b.src
           GROUP BY d.v, d.d1, d.d2, d.d3, d.d4)"""


@_register(
    "landmark_distances",
    oracle=f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    verts AS (SELECT DISTINCT src AS v FROM bi),
    lms AS (SELECT v, row_number() OVER (ORDER BY v) AS rk
            FROM verts),
    d0 AS (SELECT v,
           {", ".join(f"CASE WHEN v = (SELECT v FROM lms WHERE rk = {j}) THEN 0 ELSE 99 END AS d{j}" for j in range(1, 5))}
           FROM verts),
    {','.join(_lmb_round(k) for k in range(1, 5))}
    SELECT v, d1, d2, d3, d4,
           CAST(CASE WHEN least(d1, d2, d3, d4) >= 99 THEN 0
                WHEN d1 = least(d1, d2, d3, d4) THEN 1
                WHEN d2 = least(d1, d2, d3, d4) THEN 2
                WHEN d3 = least(d1, d2, d3, d4) THEN 3
                ELSE 4 END AS INT) AS nearest
    FROM d4
    """,
    description="bounded multi-source BFS from 4 deterministic "
                "landmark vertices, all distances relaxed "
                "SIMULTANEOUSLY — state is (v, d1..d4) and each "
                "round is one edge join + one aggregate with 4 min "
                "columns, the vectorized-state form costing the same "
                "shuffles as single-source bfs_hops for 4x the "
                "distances; the vector is the landmark distance-"
                "sketch embedding (Potamias CIKM'09) and `nearest` "
                "the routing/partitioning label; all-integer "
                "min-relaxation earns the full unrolled-SQL oracle")
def q_landmark_distances(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.landmark_distances(load_table(spark, sf_dir, "lineitem"))


@_register(
    "winsorize_stats",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           round(any_value(lo), 6) AS p_lo,
           round(any_value(hi), 6) AS p_hi,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_low,
           CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_high
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    description="winsorization audit per event_type: exact [p01, "
                "p99] boundaries (the bit-portable type-7 percentile "
                "`exact_percentiles` established) and integer-exact "
                "tail clip counts — the outlier-CORRECTION companion "
                "to `anomaly_zscore`'s detection; one aggregate + a "
                "broadcast |types|-row boundary join, the clipped "
                "column itself is a projection on the same broadcast")
def q_winsorize_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.winsorize_stats(load_table(spark, sf_dir, "events"))


@_register(
    "schema_evolution_read",
    oracle="""
    WITH merged AS (
      SELECT doc_id, n_chars, NULL AS lang
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL BY NAME
      SELECT doc_id, n_chars,
             'lang_' || CAST(doc_id % 3 AS VARCHAR) AS lang
      FROM documents WHERE doc_id % 2 = 1)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM merged GROUP BY lang ORDER BY lang NULLS FIRST
    """,
    description="schema-evolution read: an old-schema parquet "
                "partition and an evolved one (added `lang` column) "
                "written to disk and reconciled by mergeSchema — old "
                "files surface NULL for the added column, the "
                "append-only-table reality; REAL write+read on the "
                "Spark side, the oracle replays the union-by-name "
                "semantics from the deterministic parity split")
def q_schema_evolution_read(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources.formats import (
        schema_evolution_read,
    )
    return schema_evolution_read(spark, sf_dir)


@_register(
    "corrupt_records_ingest",
    oracle="""
    SELECT CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN n_chars END)
                AS BIGINT) AS sum_chars_good
    FROM documents
    """,
    description="robust JSONL ingestion with a dead-letter lane: "
                "deterministically planted corrupt lines (every 13th "
                "record truncated mid-object) read in PERMISSIVE "
                "mode with columnNameOfCorruptRecord — broken rows "
                "quarantined whole instead of killing the job "
                "(FAILFAST) or vanishing (DROPMALFORMED); REAL "
                "write+read, exact good-lane stats, formula-replay "
                "oracle")
def q_corrupt_records_ingest(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources.formats import (
        corrupt_records_ingest,
    )
    return corrupt_records_ingest(spark, sf_dir)


@_register(
    "drift_chisq",
    oracle="""
    WITH base AS (
      SELECT event_type, ts,
             CAST(round(value * 100) AS BIGINT) // 5000 AS bucket
      FROM events),
    before AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_b
      FROM base WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY event_type, bucket),
    after AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_a
      FROM base WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY event_type, bucket),
    tot AS (
      SELECT event_type,
             CAST(sum(coalesce(n_b, 0)) AS BIGINT) AS tb,
             CAST(sum(coalesce(n_a, 0)) AS BIGINT) AS ta
      FROM before FULL OUTER JOIN after USING (event_type, bucket)
      GROUP BY event_type),
    j AS (
      SELECT event_type, bucket,
             coalesce(n_b, 0) AS n_b, coalesce(n_a, 0) AS n_a
      FROM before FULL OUTER JOIN after USING (event_type, bucket)),
    terms AS (
      SELECT j.event_type, j.n_b, j.n_a, t.tb, t.ta,
             CAST(round(
               (j.n_a - t.ta * CAST(j.n_b + 1 AS DOUBLE)
                        / CAST(t.tb + 1 AS DOUBLE))
               * (j.n_a - t.ta * CAST(j.n_b + 1 AS DOUBLE)
                          / CAST(t.tb + 1 AS DOUBLE))
               / (t.ta * CAST(j.n_b + 1 AS DOUBLE)
                  / CAST(t.tb + 1 AS DOUBLE)) * 10000)
               AS BIGINT) AS term_q4
      FROM j JOIN tot t USING (event_type))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(ta) AS BIGINT) AS n_after,
           CAST(max(tb) AS BIGINT) AS n_before,
           CAST(sum(term_q4) AS BIGINT) / 10000.0 AS chisq
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
    description="distribution-drift gate between two time periods: "
                "per-event-type chi-square of the AFTER value "
                "histogram against the (+1-smoothed) BEFORE "
                "distribution on integer-cents buckets — the "
                "monitoring check a training pipeline runs before "
                "ingesting a new drop (PSI's ln() is not bit-"
                "portable; chi-square is fixed-form rational "
                "arithmetic). Each bucket's contribution is "
                "quantized to 1e-4 and summed as INTEGERS, so the "
                "statistic is order-free and exact across engines")
def q_drift_chisq(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.drift_chisq(load_table(spark, sf_dir, "events"))


@_register(
    "path_trigrams",
    oracle="""
    WITH tri AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM tri WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """,
    description="top-20 most frequent contiguous length-3 event-type "
                "paths across user sequences — the sequential-"
                "pattern step past event_transitions' first order "
                "(the contiguous slice of PrefixSpan, the variant "
                "with a one-window distributed cost law); two leads "
                "share one partitioned window, top-k is TakeOrdered "
                "under a fully deterministic order")
def q_path_trigrams(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.path_trigrams(load_table(spark, sf_dir, "events"))


def _hilbert_vs_zorder_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.layout import (
        hilbert_sql,
        zvalue_sql,
    )
    return f"""
    WITH d AS (
      SELECT o_custkey % 1024 AS x,
             (CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 1024
                 AS y
      FROM orders),
    mort AS (SELECT x, y, 'morton' AS curve,
                    {zvalue_sql('x', 'y')} // 768 AS bucket FROM d),
    hseed AS (SELECT x AS x0, y AS y0, x, y,
                     CAST(0 AS BIGINT) AS hd FROM d),
    {hilbert_sql('x', 'y', 10)},
    hil AS (SELECT x0 AS x, y0 AS y, 'hilbert' AS curve,
                   hd // 768 AS bucket FROM h10),
    boxes AS (
      SELECT curve, bucket, count(*) AS n,
             max(x) - min(x) AS sx, max(y) - min(y) AS sy
      FROM (SELECT * FROM mort UNION ALL SELECT * FROM hil)
      GROUP BY curve, bucket)
    SELECT curve, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sx) AS BIGINT) AS sum_span_x,
           CAST(sum(sy) AS BIGINT) AS sum_span_y
    FROM boxes GROUP BY curve ORDER BY curve
    """


@_register(
    "hilbert_vs_zorder",
    oracle=_hilbert_vs_zorder_oracle,
    description="Hilbert vs Morton locality, quantified on the same "
                "points: per curve the bucket count and summed "
                "per-bucket x/y spans (the zone-map boxes a pruning "
                "reader pays for) — Hilbert's no-jump property "
                "yields tighter boxes than Morton's quadrant hops, "
                "stated here as exact integers; the Hilbert index is "
                "the classic xy2d walk — Arrow-vectorized numpy on the "
                "Spark side (the inline JVM form's tree grows "
                "~4^bits; Catalyst spends minutes analyzing the "
                "10-bit version) and generated MATERIALIZED chained "
                "CTEs on the DuckDB side (plain CTEs get re-inlined "
                "into the same blowup), verified cell-for-cell "
                "against the reference algorithm and bijective in "
                "tests; buckets are 768 consecutive curve cells — "
                "power-of-4-aligned buckets make both curves emit "
                "identical perfect squares and the comparison "
                "degenerates")
def q_hilbert_vs_zorder(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import layout as L
    return L.hilbert_vs_zorder(load_table(spark, sf_dir, "orders"))


@_register(
    "acf_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    lags AS (SELECT CAST(range AS INT) AS lag FROM range(1, 8)),
    pairs AS (
      SELECT a.event_type, l.lag,
             CAST(a.v AS HUGEINT) AS x, CAST(b.v AS HUGEINT) AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + l.lag),
    sums AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM pairs GROUP BY event_type, lag)
    SELECT event_type, lag, n_pairs,
           CASE WHEN (n_pairs * sxx - sx * sx) > 0
                 AND (n_pairs * syy - sy * sy) > 0
                THEN round((n_pairs * sxy - sx * sy)
                           / (sqrt(n_pairs * sxx - sx * sx)
                              * sqrt(n_pairs * syy - sy * sy)), 6)
                     + 0.0
           END AS acf
    FROM sums ORDER BY event_type, lag
    """,
    description="Autocorrelation of each event_type's daily-revenue "
                "series at lags 1..7 — the seasonality/persistence "
                "diagnostic between linear_trend's single slope and "
                "the holt smoothers; observed-pair Pearson r (inner "
                "self-join on day+k, exact under calendar gaps), "
                "moment sums accumulated in exact wide integers "
                "(decimal(38,0) / HUGEINT — daily-cents squares "
                "overflow bigint at scale) then ONE fixed-form "
                "double expression with correctly-rounded IEEE sqrt "
                "(portable, unlike ln/pow), rounded 6dp in-query on "
                "both engines; the raw stream collapses in one "
                "map-side-combined aggregate, the lag fan-out is a "
                "broadcast 7-row frame (not explode(array), which "
                "re-scans input), and all joins run on the tiny "
                "types-by-days frame")
def q_acf_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.acf_daily(load_table(spark, sf_dir, "events"))


@_register(
    "session_concurrency",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL
                    OR prev + INTERVAL 30 MINUTE <= ts
                  THEN 1 ELSE 0 END AS is_new
      FROM seq),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    iv AS (SELECT user_id, sid, min(ts) AS s, max(ts) AS e
           FROM sess GROUP BY user_id, sid),
    bounds AS (
      SELECT s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT e + INTERVAL 1 SECOND AS t, -1 AS delta FROM iv),
    inst AS (
      SELECT t, CAST(t AS DATE) AS day,
             CAST(sum(delta) AS BIGINT) AS net,
             CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS starts
      FROM bounds GROUP BY t),
    run AS (
      SELECT day, starts,
             sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                 AS conc
      FROM inst),
    per_day AS (
      SELECT day, CAST(sum(starts) AS BIGINT) AS n_starts,
             CAST(max(conc) AS BIGINT) AS peak_in_day
      FROM run GROUP BY day),
    offs AS (
      SELECT day,
             CAST(coalesce(sum(day_net) OVER (
                 ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS carry_in
      FROM (SELECT day, sum(net) AS day_net
            FROM inst GROUP BY day))
    SELECT strftime(p.day, '%Y-%m-%d') AS day, p.n_starts,
           greatest(p.peak_in_day, o.carry_in) AS peak_concurrent
    FROM per_day p JOIN offs o ON o.day = p.day
    ORDER BY p.day
    """,
    description="Peak concurrent sessions per day — the sweep-line "
                "interval-overlap family (events_sessionize PRODUCES "
                "intervals; this CONSUMES them — overlap across rows "
                "needs a sweep): gap-sessionize per user with pure "
                "timestamp comparisons (no epoch/timezone coupling), "
                "closed [first,last] activity so single-event "
                "sessions count, +1/-1 deltas NETTED per instant "
                "before summing so simultaneous starts/ends are "
                "order-free, per-day peak includes the carry-in "
                "level of sessions spanning midnight; the running "
                "sum is HIERARCHICAL on the Spark side (per-day "
                "partitioned prefix + day offsets via a broadcast "
                "triangular self-join over the |days| frame — zero "
                "Window nodes, per the repo-wide no-unpartitioned-"
                "window plan gate), not one global window "
                "serializing the timeline through a single "
                "partition; integer-exact, full value oracle")
def q_session_concurrency(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.session_concurrency(load_table(spark, sf_dir, "events"))


@_register(
    "spatial_grid_join",
    oracle="""
    WITH p AS (
      SELECT c_custkey AS k,
             CAST(((CAST(round(c_acctbal * 100) AS BIGINT) % 256)
                   + 256) % 256 AS INT) AS x,
             CAST(c_custkey % 256 AS INT) AS y
      FROM customer)
    SELECT CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS INT)
               AS cheb_d,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM p a JOIN p b ON a.k < b.k
    WHERE abs(a.x - b.x) <= 4 AND abs(a.y - b.y) <= 4
    GROUP BY 1 ORDER BY 1
    """,
    description="Blocked 2-D spatial proximity self-join: all "
                "customer pairs within Chebyshev radius 4 on the "
                "(acctbal-cents mod 256, custkey mod 256) plane, "
                "profiled as exact pair counts per distance. The "
                "Spark plan is the grid-cell blocking join (cell "
                "side = radius, 3x3 neighborhood fan-out via a "
                "broadcast 9-row offset frame, keyed equi-join on "
                "shifted cell ids + residual integer distance "
                "filter — no cartesian, pytest-pinned plan; each "
                "qualifying pair matches exactly one offset so the "
                "k_a < k_b cut counts it once); the oracle is the "
                "NAIVE O(n^2) pairwise form, proving the blocked "
                "plan finds exactly the same pairs — a completeness "
                "check, not just plausibility")
def q_spatial_grid_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.spatial import (
        spatial_grid_join,
    )
    return spatial_grid_join(load_table(spark, sf_dir, "customer"))


@_register(
    "fixed_width_ingest",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT)
               AS n_priorities,
           strftime(min(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS first_day,
           strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS last_day
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    description="fixed-width (COBOL-copybook) text ingestion: orders "
                "serialized to a 60-byte zero-padded record layout "
                "with an IMPLIED-2-decimal price field (PIC 9(12)V99 "
                "— no decimal point), REALLY written to disk and read "
                "back via spark.read.text + pure-substring carving "
                "into typed columns (no regex, no UDF — whole-stage "
                "codegen); the oracle replays the aggregate from the "
                "base columns, so the value match proves the "
                "round-trip is lossless (zero-pad→cast, implied "
                "decimal→cents, space-pad→trim, yyyyMMdd→date all "
                "invert); the mainframe-extract ingestion family "
                "after csv/jsonl/orc/parquet/custom-datasource")
def q_fixed_width_ingest(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources.formats import (
        fixed_width_ingest,
    )
    return fixed_width_ingest(spark, sf_dir)


@_register(
    "decayed_popularity",
    oracle="""
    WITH ref AS (SELECT max(CAST(ts AS DATE)) AS ref_day FROM events),
    aged AS (
      SELECT event_type,
             date_diff('day', CAST(ts AS DATE),
                       (SELECT ref_day FROM ref)) AS age
      FROM events),
    terms AS (
      SELECT event_type,
             CASE WHEN age BETWEEN 0 AND 40
                  THEN CAST(1 AS BIGINT) << (40 - age) END AS term
      FROM aged)
    SELECT event_type,
           CAST(count(term) AS BIGINT) AS n_in_window,
           CAST(sum(term) AS DOUBLE) / 1099511627776.0
               AS decayed_score
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
    description="exponentially time-decayed popularity per "
                "event_type (half-life 1 day vs the corpus's most "
                "recent day) — the trending/recency-weighted COUNT "
                "ranking, distinct from ewma_values' per-entity "
                "sequential VALUE smoothing; exact-dyadic arithmetic "
                "(the hll_estimate convention): each contribution is "
                "the integer 2^(40-age), events older than the "
                "40-day window cut (< 1e-12 of a fresh event), one "
                "exact division by 2^40 at the end — the sum is "
                "aggregation-order-free and the double bit-identical "
                "across engines with NO rounding step; reference day "
                "rides a broadcast 1-row frame, one map-side-combined "
                "aggregate")
def q_decayed_popularity(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.decayed_popularity(load_table(spark, sf_dir, "events"))


@_register(
    "cms_selfjoin_size",
    oracle="""
    WITH freq AS (
      SELECT l_partkey AS k, count(*) AS cnt
      FROM lineitem GROUP BY l_partkey),
    sk AS (
      SELECT d AS depth,
             CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':'
                   || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                 AS cell,
             sum(cnt) AS counter
      FROM freq, (VALUES (0), (1), (2), (3)) AS t(d)
      GROUP BY depth, cell),
    ip AS (SELECT depth,
                  sum(CAST(counter AS HUGEINT)
                      * CAST(counter AS HUGEINT)) AS ip
           FROM sk GROUP BY depth),
    est AS (SELECT CAST(min(ip) AS BIGINT) AS est_f2 FROM ip),
    tr AS (SELECT CAST(sum(CAST(cnt AS HUGEINT)
                           * CAST(cnt AS HUGEINT)) AS BIGINT)
               AS true_f2 FROM freq)
    SELECT est_f2, true_f2,
           round((CAST(est_f2 AS DOUBLE) - CAST(true_f2 AS DOUBLE))
                 / CAST(true_f2 AS DOUBLE), 4) + 0.0 AS rel_err
    FROM est, tr
    """,
    description="self-join size (second frequency moment F2 = sum of "
                "squared key frequencies) of lineitem on l_partkey, "
                "estimated as the Count-Min sketch's inner product "
                "with itself (AMS'96: min over depths of sum of "
                "squared counters, an upper bound — collisions only "
                "add) next to the exact F2 and relative error — the "
                "join-cardinality estimate a cost-based optimizer "
                "consults before picking a strategy, from a mergeable "
                "one-scan sketch; exact-integer arithmetic throughout "
                "(inner products in decimal(38,0)/HUGEINT — counter "
                "squares pass bigint near 3e9 rows), one fixed-form "
                "rounded double for the error; corpus collapses to "
                "the key-frequency table once, depth fan-out via the "
                "broadcast d-row frame, all downstream sketch-sized")
def q_cms_selfjoin_size(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import sketches as SK
    return SK.cms_selfjoin_size(load_table(spark, sf_dir, "lineitem"))


@_register(
    "cdc_apply",
    oracle="""
    WITH base AS (
      SELECT p_partkey AS k,
             CAST(round(p_retailprice * 100) AS BIGINT) AS c
      FROM part),
    changes AS (
      SELECT k, 'update' AS op, 1 AS seq, c + 100 AS v
      FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT k, 'update', 3, c + 200 FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT k, 'delete', 2, NULL FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT k + 100000000, 'insert', 1, 1
      FROM base WHERE k % 13 = 0),
    latest AS (
      SELECT k AS k2, op, v FROM (
        SELECT k, op, v,
               row_number() OVER (PARTITION BY k
                                  ORDER BY seq DESC) AS rn
        FROM changes) WHERE rn = 1),
    m AS (SELECT base.k AS k, base.c AS c, latest.k2 AS k2,
                 latest.op AS op, latest.v AS v
          FROM base FULL OUTER JOIN latest ON base.k = latest.k2),
    applied AS (
      SELECT CASE WHEN k2 IS NULL THEN 'noop'
                  WHEN k IS NULL THEN 'insert'
                  ELSE op END AS action,
             CASE WHEN (k2 IS NULL) OR op <> 'delete'
                  THEN coalesce(CASE WHEN k IS NULL
                                       OR op IS NOT NULL
                                     THEN v ELSE c END, c)
             END AS c_final
      FROM m)
    SELECT CAST(sum(CASE WHEN action = 'insert' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserts,
           CAST(sum(CASE WHEN action = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updates,
           CAST(sum(CASE WHEN action = 'delete' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deletes,
           CAST(count(c_final) AS BIGINT) AS n_rows_final,
           CAST(sum(c_final) AS BIGINT) AS sum_cents_final
    FROM applied
    """,
    description="MERGE-style CDC batch application with latest-wins "
                "conflict resolution — the CONSUMER side of CDC "
                "(snapshot_diff produces the feed; this applies one): "
                "per-key highest-seq change via one PARTITIONED "
                "window, then a single co-partitioned full-outer "
                "merge classifying insert/update/delete/noop — "
                "Delta/Iceberg MERGE INTO semantics in plain "
                "DataFrame algebra; the batch is pinned-formula "
                "derived (keys %7 double-updated at seq 1 and 3, "
                "%11 deleted at seq 2, so %77 keys carry the real "
                "update-delete-update conflict the seq-3 update must "
                "win; %13 spawn brand-new keys) and the output is "
                "the applied-action counts plus the final table's "
                "exact row count and cents total, so one misresolved "
                "conflict shifts the hash; at 100 TB both sides "
                "bucket on the key for a zero-exchange merge")
def q_cdc_apply(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import relational as R
    return R.cdc_apply(load_table(spark, sf_dir, "part"))


@_register(
    "dq_expectations",
    oracle="""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_null,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                 AS v_dup,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_price,
             CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                                  < DATE '1992-01-01'
                             OR CAST(o_orderdate AS DATE)
                                  > DATE '1998-12-31'
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_date
      FROM orders),
    fk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0
                      END) AS BIGINT) AS n_violations
      FROM orders o LEFT JOIN customer c
        ON o.o_custkey = c.c_custkey
      WHERE o.o_custkey IS NOT NULL),
    rules AS (
      SELECT 'not_null(o_custkey)' AS rule, n AS n_checked,
             v_null AS n_violations FROM a
      UNION ALL SELECT 'unique(o_orderkey)', n, v_dup FROM a
      UNION ALL SELECT 'accepted_values(o_orderstatus)', n,
                       v_status FROM a
      UNION ALL SELECT 'range(o_totalprice>0)', n, v_price FROM a
      UNION ALL SELECT 'date_bounds(o_orderdate)', n, v_date FROM a
      UNION ALL SELECT 'fk(o_custkey->customer)', n_checked,
                       n_violations FROM fk)
    SELECT rule, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM rules ORDER BY rule
    """,
    description="declarative data-quality expectation suite over "
                "orders (the dbt-test/Great-Expectations validation "
                "gate — table_profile DESCRIBES, this ASSERTS a "
                "contract): one row per rule with checked/violation "
                "counts and a pass flag, covering not_null, unique, "
                "accepted_values, numeric range, date bounds, and "
                "cross-table referential integrity; every row-level "
                "rule is a conditional sum in ONE single-scan "
                "aggregate (stacked to rows on the 1-row result — "
                "not the explode-that-rescans trap), the FK rule the "
                "only join (keyed left-anti count); exact integers")
def q_dq_expectations(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.dq_expectations(load_table(spark, sf_dir, "orders"),
                             load_table(spark, sf_dir, "customer"))


@_register(
    "replica_reconcile",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders),
    b AS (
      SELECT k, c + CASE WHEN k % 97 = 0 THEN 1 ELSE 0 END AS c
      FROM a WHERE k % 131 <> 0),
    da AS (
      SELECT CAST(k % 64 AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(CAST(('0x' || substring(md5(
                 CAST(k AS VARCHAR) || ':' || CAST(c AS VARCHAR)),
                 1, 8)) AS BIGINT)) AS BIGINT) AS fp_a
      FROM a GROUP BY 1),
    db AS (
      SELECT CAST(k % 64 AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(CAST(('0x' || substring(md5(
                 CAST(k AS VARCHAR) || ':' || CAST(c AS VARCHAR)),
                 1, 8)) AS BIGINT)) AS BIGINT) AS fp_b
      FROM b GROUP BY 1),
    j AS (
      SELECT coalesce(da.bucket, db.bucket) AS bucket,
             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
             coalesce(fp_a, 0) AS fp_a, coalesce(fp_b, 0) AS fp_b
      FROM da FULL OUTER JOIN db ON da.bucket = db.bucket)
    SELECT bucket, n_a, n_b, fp_a, fp_b
    FROM j WHERE n_a <> n_b OR fp_a <> fp_b
    ORDER BY bucket
    """,
    description="checksum-based replica reconciliation — the "
                "one-level merkle / anti-entropy pattern: two copies "
                "of orders compared by per-bucket digests (row count "
                "+ exact integer SUM of the 32-bit md5-prefix row "
                "fingerprint — order-free, mergeable, ~2e9 rows/"
                "bucket of bigint headroom), reporting ONLY the "
                "buckets whose digests disagree, which is the point "
                "at 100 TB: replicas exchange |buckets| digest rows "
                "and divergence is localized to the buckets that "
                "must re-sync (snapshot_diff is the row-level step "
                "you then run inside those); replica B derives by "
                "pinned formulas (1-cent corruption at keys %97, "
                "missing rows at %131 — torn-write and lost-write), "
                "so the oracle replays both sides; two map-side "
                "aggregates + one tiny join")
def q_replica_reconcile(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import relational as R
    return R.replica_reconcile(load_table(spark, sf_dir, "orders"))


def _holt_winters_oracle(period: int = 7) -> str:
    """Recursive-CTE twin of `events.holt_winters_values`: the
    `period` seasonal slots ride as rotating columns; identical
    parenthesization, all divisors powers of two → bit-exact."""
    zeros = ", ".join(
        f"CAST(0.0 AS DOUBLE) AS s{k}" for k in range(period))
    sp = ("CASE (o.rn - 1) % {p} " + " ".join(
        f"WHEN {k} THEN r.s{k}" for k in range(period))
        + " END").format(p=period)
    l_new = f"((o.y - {sp}) + (r.level + r.trend)) / 2"
    s_new = f"((o.y - (r.level + r.trend)) + {sp}) / 2"
    slot_updates = ", ".join(
        f"CASE WHEN (o.rn - 1) % {period} = {k} THEN {s_new} "
        f"ELSE r.s{k} END AS s{k}" for k in range(period))
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    ordered AS (
      SELECT event_type, day, y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily),
    r AS (
      SELECT event_type, day, rn, y AS level,
             CAST(0.0 AS DOUBLE) AS trend,
             CAST(0.0 AS DOUBLE) AS seasonal, {zeros}
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.day, o.rn,
             {l_new} AS level,
             (r.trend + (({l_new}) - r.level)) / 2 AS trend,
             {s_new} AS seasonal,
             {slot_updates}
      FROM ordered o JOIN r ON o.event_type = r.event_type
                            AND o.rn = r.rn + 1)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           level, trend, seasonal
    FROM r
    """


@_register(
    "holt_winters",
    oracle=_holt_winters_oracle,
    description="per-event_type Holt-Winters ADDITIVE triple "
                "smoothing (level+trend+weekly season, "
                "alpha=beta=gamma=1/2) over daily revenue — the "
                "seasonal member completing the smoothing family "
                "(ewma: level; holt: +trend; this: +season, the "
                "model acf_daily's lag-7 spike calls for); pinned "
                "zero-seeded seasonal slots so the first cycle "
                "doubles as seeding, halving-form updates with "
                "identical parenthesization on both engines → the "
                "applyInPandas loop and the recursive-CTE oracle "
                "(seasonal slots as rotating columns) match "
                "BIT-FOR-BIT with no tolerance, the holt_values "
                "convention extended to vector state; corpus "
                "collapses to |types×days| first, recursion depth "
                "calendar-bounded")
def q_holt_winters(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.holt_winters_values(load_table(spark, sf_dir, "events"))


@_register(
    "pareto_frontier",
    oracle="""
    WITH per_size AS (
      SELECT CAST(p_size AS INT) AS size,
             CAST(min(CAST(round(p_retailprice * 100) AS BIGINT))
                  AS BIGINT) AS min_cents
      FROM part GROUP BY p_size)
    SELECT size, min_cents FROM per_size p
    WHERE NOT EXISTS (
      SELECT 1 FROM per_size q
      WHERE q.size <= p.size AND q.min_cents <= p.min_cents
        AND (q.size < p.size OR q.min_cents < p.min_cents))
    ORDER BY size
    """,
    description="skyline / Pareto-frontier query (Borzsonyi ICDE'01) "
                "over parts on (size, retail price): the parts no "
                "other part dominates (at most as small AND at most "
                "as cheap, strictly better in one) — the multi-"
                "criteria shortlist operator; the scale move is that "
                "dominance only ever keeps min-price-per-size, so "
                "the fact stream collapses to the bounded |sizes| "
                "frame first (one map-side aggregate; sizes don't "
                "grow with data volume) and the dominance test is a "
                "broadcast triangular semi/anti join on that tiny "
                "frame — no O(n^2) self-join on facts, no "
                "unpartitioned window; exact integer cents")
def q_pareto_frontier(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.pareto_frontier(load_table(spark, sf_dir, "part"))


@_register(
    "ivm_join_delta",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             o_orderkey % 101 = 0 AS new_o
      FROM orders),
    cst AS (
      SELECT c_custkey AS ck2, CAST(c_nationkey AS INT) AS nation,
             c_custkey % 13 = 0 AS new_c
      FROM customer),
    j AS (SELECT * FROM o JOIN cst ON ck = ck2),
    base AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_base,
             CAST(sum(c) AS BIGINT) AS cents_base
      FROM j WHERE NOT new_o AND NOT new_c GROUP BY nation),
    delta AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_delta,
             CAST(sum(c) AS BIGINT) AS cents_delta
      FROM j WHERE new_o OR new_c GROUP BY nation),
    fullv AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_full,
             CAST(sum(c) AS BIGINT) AS cents_full
      FROM j GROUP BY nation)
    SELECT f.nation,
           CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
           CAST(coalesce(d.n_delta, 0) AS BIGINT) AS n_delta,
           CAST(coalesce(b.n_base, 0) + coalesce(d.n_delta, 0)
                AS BIGINT) AS n_total,
           f.n_full,
           CAST(coalesce(b.cents_base, 0) + coalesce(d.cents_delta, 0)
                AS BIGINT) AS cents_total,
           f.cents_full
    FROM fullv f LEFT JOIN base b ON b.nation = f.nation
                 LEFT JOIN delta d ON d.nation = f.nation
    ORDER BY f.nation
    """,
    description="incremental view maintenance for a JOIN view — the "
                "classic three-term delta rule (dV = dA join B0, "
                "plus A0 join dB, plus dA join dB) maintaining the "
                "per-nation order-count/revenue view over "
                "orders-join-customer from pinned new-batch deltas "
                "(order keys %101, customer keys %13) WITHOUT "
                "re-joining the stable bulk — incremental_rollup is "
                "the aggregate-only IVM, this is the join-view "
                "member every materialized-view engine applies; at "
                "scale each delta term joins a broadcast-small batch "
                "against one stable side and A0-join-B0 is never "
                "recomputed; the output states base, delta, their "
                "sum AND the full recompute per nation, so the "
                "value hash itself proves the rule loses nothing "
                "(a double-counted or dropped dA-join-dB row shifts "
                "it)")
def q_ivm_join_delta(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import relational as R
    return R.ivm_join_delta(load_table(spark, sf_dir, "orders"),
                            load_table(spark, sf_dir, "customer"))


def _ols_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.advanced import (
        ols3_exprs,
    )
    e = ols3_exprs()
    return f"""
    WITH t AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS s2,
             CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) AS s11,
             CAST(sum(CAST(q AS HUGEINT) * d) AS DOUBLE) AS s12,
             CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS s22,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(q AS HUGEINT) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(d AS HUGEINT) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM t)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CASE WHEN {e['det']} <> 0
                THEN round({e['beta0']}, 6) + 0.0 END AS beta0,
           CASE WHEN {e['det']} <> 0
                THEN round({e['beta1']}, 6) + 0.0 END AS beta1,
           CASE WHEN {e['det']} <> 0
                THEN round({e['beta2']}, 6) + 0.0 END AS beta2,
           CASE WHEN {e['det']} <> 0
                THEN round({e['r2']}, 6) + 0.0 END AS r2
    FROM s
    """


@_register(
    "ols_normal_equations",
    oracle=_ols_oracle,
    description="closed-form multivariate OLS by normal equations: "
                "predict extended-price cents from quantity and "
                "discount cents with intercept — the multi-feature "
                "member next to linear_trend's single-slope regr_* "
                "aggregates, in the shape distributed preprocessing "
                "uses (one map-side-combined pass of EXACT moment "
                "sums in decimal(38,0)/HUGEINT, then a constant-size "
                "Cramer solve on a 1-row frame, no driver collect); "
                "the solve + R-squared is one expression tree whose "
                "TEXT is shared verbatim between F.expr and the "
                "DuckDB oracle (the hilbert_sql bit-portability "
                "trick applied to linear algebra), so the only float "
                "arithmetic anywhere is an identical IEEE op tree — "
                "rounded 6dp in-query both sides, det=0 guarded to "
                "NULL")
def q_ols_normal_equations(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import advanced as A
    return A.ols_normal_equations(load_table(spark, sf_dir,
                                             "lineitem"))


@_register(
    "anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(y AS HUGEINT)) AS s,
             sum(CAST(y AS HUGEINT) * y) AS ss
      FROM (SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS y
            FROM events)
      GROUP BY event_type),
    tot AS (
      SELECT CAST(sum(n) AS DOUBLE) AS tn,
             CAST(sum(s) AS DOUBLE) AS ts,
             CAST(sum(ss) AS DOUBLE) AS tss,
             CAST(count(*) AS DOUBLE) AS k
      FROM g),
    per AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) AS sd, CAST(n AS DOUBLE) AS nd,
             CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE) * 10000) AS BIGINT) AS q
      FROM g),
    gl AS (SELECT CAST(sum(q) AS DOUBLE) / 10000.0
               AS sum_sq_over_n FROM per),
    calc AS (
      SELECT tn, ts, tss, k,
             sum_sq_over_n - ts * ts / tn AS ssb,
             tss - sum_sq_over_n AS ssw
      FROM tot, gl)
    SELECT p.event_type, p.n,
           round(p.sd / p.nd, 4) + 0.0 AS mean_cents,
           CAST(c.k AS BIGINT) AS n_groups,
           round(c.ssb, 4) + 0.0 AS ssb,
           round(c.ssw, 4) + 0.0 AS ssw,
           CASE WHEN c.k > 1 AND c.tn > c.k AND c.ssw > 0
                THEN round((c.ssb / (c.k - 1))
                           / (c.ssw / (c.tn - c.k)), 6) + 0.0
           END AS f_stat
    FROM per p, calc c
    ORDER BY p.event_type
    """,
    description="one-way ANOVA of event value (cents) across "
                "event_types — the continuous-response hypothesis "
                "test next to drift_chisq's categorical chi-square: "
                "F = (SSB/(k-1))/(SSW/(n-k)) from exact wide-integer "
                "per-group moments (n, sum, sum-of-squares in "
                "decimal(38,0)/HUGEINT), each group's s^2/n "
                "contribution quantized to 1e-4 integers BEFORE the "
                "cross-group sum (the drift_chisq order-free "
                "convention) and one fixed-form double expression "
                "for SSB/SSW/F, rounded in-query both sides; one "
                "map-side-combined aggregate collapses the corpus to "
                "the k-row group frame, everything after is k-sized")
def q_anova_oneway(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.anova_oneway(load_table(spark, sf_dir, "events"))


def _point_in_polygon_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.spatial import (
        point_in_polygon_sql,
    )
    return f"""
    WITH p AS (
      SELECT CAST(((CAST(round(c_acctbal * 100) AS BIGINT) % 256)
                   + 256) % 256 AS INT) AS x,
             CAST(c_custkey % 256 AS INT) AS y,
             CAST(round(c_acctbal * 100) AS BIGINT) AS c
      FROM customer)
    SELECT {point_in_polygon_sql('x', 'y')} AS region,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(c) AS BIGINT) AS sum_cents
    FROM p GROUP BY 1 ORDER BY 1
    """


@_register(
    "point_in_polygon",
    oracle=_point_in_polygon_oracle,
    description="geofence point classification: customer points on "
                "the shared 256x256 integer plane classified against "
                "a fixed NON-convex 7-vertex polygon (notch, "
                "horizontal/vertical/diagonal edges) as inside / "
                "outside / boundary with exact counts and cents "
                "totals — the point-classification half of the "
                "geospatial family next to spatial_grid_join's "
                "proximity join; ray casting in PURE integer "
                "arithmetic (cross-product sign tests instead of "
                "intersection division — no float anywhere), "
                "half-open vertex rule so a vertex-touching ray "
                "counts once, exact on-edge points classified "
                "'boundary' before the parity test, and the whole "
                "classifier is ONE shared CASE expression text "
                "parsed verbatim by both engines (the ols3_exprs "
                "trick on geometry); single-scan whole-stage-codegen "
                "map, no join, no UDF")
def q_point_in_polygon(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.spatial import (
        point_in_polygon,
    )
    return point_in_polygon(load_table(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# Graph-based ANN: k-NN graph build + greedy beam search (round-11;
# the one similarity family previously absent — IVF/PQ/SQ/LSH existed)
# ---------------------------------------------------------------------------

#: Shared oracle prefix: corpus-sized plane count, 1e-4 quantized
#: vectors, md5-parity ±1 planes, SRP buckets, bucket-mate pairs, exact
#: integer dots, per-src rank. The Spark side computes the IDENTICAL
#: functions (graph_ann.plane_sign / auto_planes / quantized) — the
#: shared-spec convention that makes every value exact across engines.
_KNN_GRAPH_SQL = """
nn AS (SELECT count(*) AS n FROM embeddings),
par AS (SELECT CASE WHEN n <= 64 THEN 2
                    ELSE greatest(2, CAST(ceil(log2(n / 64.0)) AS INT))
               END AS p FROM nn),
qv AS MATERIALIZED (SELECT vec_id, j.j AS j,
              CAST(round(embedding[j.j]::DOUBLE * 10000) AS BIGINT) AS q
       FROM embeddings, generate_series(1, 64) j(j)),
sig AS (SELECT t.t AS t, i.i AS i, j.j AS j,
               CASE WHEN ('0x'||substr(md5(t.t||':'||i.i||'_'||j.j),1,8))::BIGINT
                         % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM generate_series(0, 3) t(t),
             generate_series(0, 61) i(i),
             generate_series(1, 64) j(j), par
        WHERE i.i < par.p),
dots AS (SELECT qv.vec_id, sig.t, sig.i, sum(qv.q * sig.s) AS d
         FROM qv JOIN sig ON sig.j = qv.j
         GROUP BY 1, 2, 3),
buck AS (SELECT vec_id, t,
                CAST(sum(CASE WHEN d > 0 THEN (1 << i) ELSE 0 END)
                     AS BIGINT) AS bucket
         FROM dots GROUP BY vec_id, t),
prs AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM buck a JOIN buck b ON a.t = b.t AND a.bucket = b.bucket
        WHERE a.vec_id <> b.vec_id),
pd AS (SELECT p.src, p.dst, CAST(sum(qa.q * qb.q) AS BIGINT) AS dot_q
       FROM prs p JOIN qv qa ON qa.vec_id = p.src
                  JOIN qv qb ON qb.vec_id = p.dst AND qb.j = qa.j
       GROUP BY 1, 2),
knn AS MATERIALIZED (SELECT src, dst, dot_q,
               row_number() OVER (PARTITION BY src
                                  ORDER BY dot_q DESC, dst ASC) AS rn
        FROM pd)"""


@_register(
    "knn_graph",
    oracle=f"""
    WITH {_KNN_GRAPH_SQL}
    SELECT src, dst, dot_q,
           round(dot_q / 100000000.0, 4) + 0.0 AS cosine
    FROM knn WHERE rn <= 8
    """,
    description="k-NN graph build WITHOUT all-pairs: multi-table SRP "
                "buckets (corpus-sized plane count, md5-parity ±1 "
                "planes baked as literals) generate candidates via a "
                "keyed bucket self-join; EXACT int64 quantized dots "
                "rank each node's top-8 through one partitioned "
                "window; oracle replays plane derivation, bucketing, "
                "pairing, and ranking value-for-value")
def q_knn_graph(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.graph_ann import knn_graph
    return knn_graph(load_table(spark, sf_dir, "embeddings"))


def _beam_round_sql(r: int, beam: int) -> str:
    """One unrolled beam-search round: candidates = beam ∪ neighbors
    through the k-NN graph, rescored exactly, top-`beam` kept."""
    return f"""
c{r} AS MATERIALIZED (SELECT DISTINCT vec_id FROM (
           SELECT vec_id FROM b{r - 1}
           UNION ALL
           SELECT g.dst AS vec_id FROM b{r - 1} JOIN g ON g.src = b{r - 1}.vec_id)
         WHERE vec_id <> 0),
b{r} AS MATERIALIZED (SELECT sc.vec_id, sc.dot_q FROM c{r} JOIN sc USING (vec_id)
         ORDER BY dot_q DESC, vec_id ASC LIMIT {beam})"""


#: Shared by ann_graph_search and its persisted-index twin — the
#: index changes WHERE the work happens (ingest vs query), never the
#: answer, so one oracle grades both.
_ANN_GRAPH_SEARCH_ORACLE = f"""
    WITH {_KNN_GRAPH_SQL},
    g AS MATERIALIZED (SELECT src, dst FROM knn WHERE rn <= 12),
    sc AS MATERIALIZED (SELECT qv.vec_id, CAST(sum(qv.q * qq.q) AS BIGINT) AS dot_q
           FROM qv JOIN qv qq ON qq.vec_id = 0 AND qq.j = qv.j
           WHERE qv.vec_id <> 0 GROUP BY 1),
    ent AS (SELECT DISTINCT src AS vec_id FROM g WHERE src <> 0
            ORDER BY 1 LIMIT 4),
    b0 AS (SELECT sc.vec_id, sc.dot_q FROM ent JOIN sc USING (vec_id)),
    {",".join(_beam_round_sql(r, 32) for r in (1, 2, 3, 4))}
    SELECT vec_id, dot_q,
           round(dot_q / 100000000.0, 4) + 0.0 AS cosine
    FROM b4 ORDER BY dot_q DESC, vec_id ASC LIMIT 10
    """


@_register(
    "ann_graph_search",
    oracle=_ANN_GRAPH_SEARCH_ORACLE,
    description="greedy beam search over the k-NN graph (NSW-style, "
                "bounded rounds): 4 deterministic entry seeds, 4 "
                "rounds of beam ∪ neighbors rescored by exact integer "
                "dot, beam 32, graph degree 12 — recall@10 = 1.0 vs "
                "brute force at sf0.001 (0.9 at degree 8); only the "
                "≤32-row frontier moves per round; oracle unrolls the "
                "identical rounds as chained CTEs")
def q_ann_graph_search(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.graph_ann import (
        ann_graph_search)
    return ann_graph_search(load_table(spark, sf_dir, "embeddings"),
                            graph_k=12)


def _graph_index_ready(spark, sf_dir) -> str:
    """Build the persisted k-NN-graph index for `sf_dir` once per
    session and return its table prefix — the _ivf_index_ready
    convention: existence check is the session catalog, and a fresh
    driver process rebuilds from the parquet source (the index is a
    deterministic function of the corpus, so a rebuild is
    equivalence, not drift). graph_k=12 matches the search entry's
    parameters so the shared oracle grades both."""
    import os
    import tempfile

    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    prefix = f"cnms_gann_{base}"
    if not spark.catalog.tableExists(f"{prefix}_graph"):
        from cloud_native_mapreduce_spark.similarity.graph_ann_index \
            import build_knn_graph_index
        path = os.path.join(tempfile.gettempdir(), "cnms_gann_index",
                            base)
        build_knn_graph_index(load_table(spark, sf_dir, "embeddings"),
                              prefix, path, graph_k=12)
    return prefix


@_register(
    "ann_graph_indexed",
    oracle=_ANN_GRAPH_SEARCH_ORACLE,
    description="beam search over the PERSISTED k-NN-graph index "
                "(build once: graph bucketed on src, quantized "
                "vectors bucketed on vec_id, 8-row entry pool; the "
                "one ANN family member that lacked a durable form) — "
                "identical algorithm/parameters/tie-breaks as "
                "ann_graph_search so the same unrolled-CTE oracle "
                "grades both; every query-round job is one "
                "bucket-pruned literal-IN point scan with ZERO "
                "shuffle exchanges (plan-pinned), driver state "
                "parameter-bounded (≤8 entries, ≤32-row beam, "
                "≤beam·graph_k neighbor ids)")
def q_ann_graph_indexed(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.graph_ann_index import (
        ann_graph_indexed)
    return ann_graph_indexed(spark, _graph_index_ready(spark, sf_dir))


# ---------------------------------------------------------------------------
# Entity resolution: Fellegi-Sunter record linkage (round-11)
# ---------------------------------------------------------------------------

#: Shared oracle prefix: the md5-parity corrupted replica, the clean
#: feature frame, union-blocked candidates, and integer F-S scoring —
#: replayed bit-for-bit from operators/linkage.py's shared spec.
_LINKAGE_SQL = """
dirty AS (
  SELECT c_custkey + 9000000 AS dirty_key,
         CASE ('0x'||substr(md5(c_custkey||':n'),1,8))::BIGINT % 3
           WHEN 0 THEN substr(c_name, 1, 17)
           WHEN 1 THEN substr(c_name, 1, 12) || 'X' || substr(c_name, 14, 5)
           ELSE c_name END AS d_name,
         CASE WHEN ('0x'||substr(md5(c_custkey||':k'),1,8))::BIGINT % 5 = 0
              THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS d_nation,
         CASE WHEN ('0x'||substr(md5(c_custkey||':s'),1,8))::BIGINT % 7 = 0
              THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg,
         CASE WHEN ('0x'||substr(md5(c_custkey||':b'),1,8))::BIGINT % 2 = 0
              THEN CAST(round(c_acctbal) AS BIGINT) * 100
              ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS d_bal_cents
  FROM customer),
clean AS (
  SELECT c_custkey AS clean_key, c_name AS name,
         c_nationkey AS nation, c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer),
cand AS (
  SELECT DISTINCT clean_key, dirty_key FROM (
    SELECT c.clean_key, d.dirty_key
    FROM clean c JOIN dirty d ON substr(c.name,1,17) = substr(d.d_name,1,17)
    UNION ALL
    SELECT c.clean_key, d.dirty_key
    FROM clean c JOIN dirty d ON substr(c.name,14,5) = substr(d.d_name,14,5))),
matched AS (
  SELECT s.clean_key, s.dirty_key, s.score FROM (
    SELECT c.clean_key, p.dirty_key,
           CAST(
             (CASE WHEN c.name = p.d_name THEN 90
                   WHEN substr(c.name,1,17) = substr(p.d_name,1,17) THEN 70
                   WHEN substr(c.name,1,12) = substr(p.d_name,1,12)
                        AND substr(c.name,14,5) = substr(p.d_name,14,5)
                     THEN 70
                   ELSE -50 END)
           + (CASE WHEN c.nation = p.d_nation THEN 43 ELSE -23 END)
           + (CASE WHEN c.seg = p.d_seg THEN 21 ELSE -25 END)
           + (CASE WHEN abs(c.bal_cents - p.d_bal_cents) <= 50
                   THEN 33 ELSE -33 END)
           AS BIGINT) AS score
    FROM cand ca JOIN clean c ON c.clean_key = ca.clean_key
                 JOIN dirty p ON p.dirty_key = ca.dirty_key) s
  WHERE s.score >= 80)"""


@_register(
    "record_linkage",
    oracle=f"""
    WITH {_LINKAGE_SQL}
    SELECT clean_key, dirty_key, score FROM matched
    """,
    description="Fellegi-Sunter probabilistic record linkage: an "
                "md5-parity corrupted customer replica (name tail-drop "
                "/ middle-digit noise, nation shift, segment blanking, "
                "dollar rounding) linked back via UNION blocking "
                "(name prefix-17 + name tail-5 — every corruption "
                "mode keeps one key intact, so blocking is lossless) "
                "and exact integer log-likelihood weights with a "
                "3-level name comparator and a 50-cent balance band; "
                "precision 0.96 / recall 0.98 at sf0.01")
def q_record_linkage(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.linkage import (
        record_linkage)
    return record_linkage(load_table(spark, sf_dir, "customer"))


@_register(
    "linkage_quality",
    oracle=f"""
    WITH {_LINKAGE_SQL},
    agg AS (
      SELECT CAST(sum(CASE WHEN dirty_key - 9000000 = clean_key
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(count(*) AS BIGINT) AS n_match
      FROM matched),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM customer)
    SELECT tp, n_match - tp AS fp, n_true - tp AS fn,
           round(tp / (n_match * 1.0), 4) + 0.0 AS precision,
           round(tp / (n_true * 1.0), 4) + 0.0 AS recall,
           round(2 * (tp / (n_match * 1.0)) * (tp / (n_true * 1.0))
                 / ((tp / (n_match * 1.0)) + (tp / (n_true * 1.0))), 4)
           + 0.0 AS f1
    FROM agg, tot
    """,
    description="exact evaluation of the linkage run against the free "
                "ground truth (replica key offset): tp/fp/fn + "
                "precision/recall/F1, entirely in-plan (one aggregate "
                "crossJoined with the broadcast 1-row corpus count)")
def q_linkage_quality(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.linkage import (
        linkage_quality)
    return linkage_quality(load_table(spark, sf_dir, "customer"))


@_register(
    "cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_id, event_type, ts,
             CAST(round(value * 100) AS BIGINT)
             + CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                    THEN 20000 ELSE 0 END AS x
      FROM events),
    base AS (
      SELECT event_type, CAST(sum(x) AS BIGINT) // count(*) AS mu0
      FROM d WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type),
    pre AS (
      SELECT d.event_type, d.ts, d.event_id,
             CAST(sum(d.x - b.mu0 - 10000) OVER w AS BIGINT) AS pu,
             CAST(sum(b.mu0 - 10000 - d.x) OVER w AS BIGINT) AS pl
      FROM d JOIN base b USING (event_type)
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.ts, d.event_id
                   ROWS UNBOUNDED PRECEDING)),
    cs AS (
      SELECT event_type, ts,
             pu - least(0, min(pu) OVER w) AS su,
             pl - least(0, min(pl) OVER w) AS sl
      FROM pre
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN su > 40000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms_up,
           CAST(sum(CASE WHEN sl > 40000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms_down,
           strftime(min(CASE WHEN su > 40000 THEN ts END),
                    '%Y-%m-%d %H:%M:%S') AS first_alarm_ts,
           CAST(max(su) AS BIGINT) AS max_s_up,
           CAST(max(sl) AS BIGINT) AS max_s_down
    FROM cs GROUP BY event_type
    """,
    description="tabular CUSUM changepoint detection (Page 1954) per "
                "event_type over a planted +$200 level shift at "
                "Jan 20: the recursion S=max(0,S+d) is replayed as "
                "its closed form S_i = P_i - min(0, min_j P_j) — ONE "
                "partitioned window with running sum+min, exact int64 "
                "cents end-to-end, half-shift allowance K, decision "
                "interval 4K; detects within hours of the pivot with "
                "zero false alarms on 30 days of data")
def q_cusum_changepoint(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        cusum_changepoint)
    return cusum_changepoint(load_table(spark, sf_dir, "events"))


def _mmr_round_sql(r: int) -> str:
    """One unrolled MMR greedy round (materialized CTEs keep DuckDB
    from re-expanding the parquet scan per reference)."""
    return f"""
p{r} AS (
  SELECT c.vec_id, c.rel_q,
         c.rel_q * 7 - 3 * (SELECT max(sim_q) FROM sim
                            WHERE sim.a = c.vec_id
                              AND sim.b IN (SELECT vec_id FROM sel{r - 1}))
         AS mmr_x10
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})),
s{r} AS MATERIALIZED (
  SELECT vec_id, rel_q, CAST(mmr_x10 AS BIGINT) AS mmr_x10,
         CAST({r} AS BIGINT) AS rank
  FROM p{r} ORDER BY mmr_x10 DESC, vec_id ASC LIMIT 1),
sel{r} AS MATERIALIZED (
  SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM s{r})"""


@_register(
    "mmr_rerank",
    oracle=f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, j.j AS j,
             CAST(round(embedding[j.j]::DOUBLE * 10000) AS BIGINT) AS q
      FROM embeddings, generate_series(1, 64) j(j)),
    rel AS (SELECT qv.vec_id, CAST(sum(qv.q * qq.q) AS BIGINT) AS rel_q
            FROM qv JOIN qv qq ON qq.vec_id = 0 AND qq.j = qv.j
            WHERE qv.vec_id <> 0 GROUP BY 1),
    cand AS MATERIALIZED (
      SELECT vec_id, rel_q FROM rel
      ORDER BY rel_q DESC, vec_id ASC LIMIT 30),
    sim AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(sum(qa.q * qb.q) AS BIGINT) AS sim_q
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
      JOIN qv qa ON qa.vec_id = a.vec_id
      JOIN qv qb ON qb.vec_id = b.vec_id AND qb.j = qa.j
      GROUP BY 1, 2),
    s1 AS MATERIALIZED (
      SELECT vec_id, rel_q, CAST(rel_q * 7 AS BIGINT) AS mmr_x10,
             CAST(1 AS BIGINT) AS rank
      FROM cand ORDER BY rel_q DESC, vec_id ASC LIMIT 1),
    sel1 AS (SELECT vec_id FROM s1),
    {",".join(_mmr_round_sql(r) for r in range(2, 11))}
    SELECT rank, vec_id, rel_q, mmr_x10 FROM (
      {" UNION ALL ".join(f"SELECT * FROM s{r}" for r in range(1, 11))})
    """,
    description="Maximal Marginal Relevance diversity re-ranking "
                "(Carbonell & Goldstein SIGIR'98): one corpus-wide "
                "TakeOrdered top-30 relevance cut, a parameter-bounded "
                "30x30 exact-integer similarity matrix, then 10 greedy "
                "argmax rounds of 7*rel - 3*maxsim (lambda=0.7 as "
                "integer decimals — every pick exact with vec_id "
                "tie-break); oracle unrolls the identical rounds as "
                "materialized CTEs")
def q_mmr_rerank(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import mmr_rerank
    return mmr_rerank(load_table(spark, sf_dir, "embeddings"))


#: RAKE stopword list literal — single-sourced from functions.text.
_RAKE_STOP_SQL = ",".join(f"'{s}'" for s in T.STOPWORDS)


@_register(
    "rake_keywords",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    flat AS MATERIALIZED (
      SELECT doc_id, u.p AS pos, u.w AS w FROM (
        SELECT doc_id,
               unnest([{{'p': i, 'w': toks[i]}}
                       for i in generate_series(1, len(toks))]) AS u
        FROM d) q),
    segd AS MATERIALIZED (
      SELECT doc_id, pos, w,
             CASE WHEN w IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS stop,
             sum(CASE WHEN w IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS seg
      FROM flat),
    ph AS MATERIALIZED (
      SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS n_words,
             string_agg(w, ' ' ORDER BY pos) AS phrase
      FROM segd WHERE stop = 0 GROUP BY doc_id, seg
      HAVING count(*) <= 4),
    pw AS MATERIALIZED (
      SELECT s.doc_id, s.seg, p.n_words, p.phrase, s.w
      FROM segd s JOIN ph p USING (doc_id, seg) WHERE s.stop = 0),
    stats AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
                     CAST(sum(n_words) AS BIGINT) AS degree
              FROM pw GROUP BY w),
    ws AS (SELECT w, (degree * 10000) // freq AS wscore FROM stats),
    ps AS (SELECT pw.doc_id, pw.seg, pw.phrase, pw.n_words,
                  CAST(sum(ws.wscore) AS BIGINT) AS score
           FROM pw JOIN ws USING (w) GROUP BY 1, 2, 3, 4)
    SELECT phrase, max(n_words) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(score) AS BIGINT) AS score
    FROM ps GROUP BY phrase ORDER BY score DESC, phrase ASC LIMIT 20
    """,
    description="RAKE keyword extraction (Rose et al. 2010): candidate "
                "phrases = maximal stopword-delimited token runs (cap "
                "4) via ONE partitioned running-sum window; word score "
                "= degree/freq over all phrases kept exact as "
                "(degree*10000)//freq integer floor division; phrase "
                "score = sum of word scores; top-20 via TakeOrdered "
                "with total (score, phrase) order")
def q_rake_keywords(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import rake_keywords
    return rake_keywords(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Governance: k-anonymity risk + generalization ladder (round-11)
# ---------------------------------------------------------------------------

#: Positive-shifted integer balance bucket (Spark div truncates toward
#: zero, DuckDB // floors — they agree only on non-negative operands).
_QI_BUCKET = ("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) "
              "// {w}")


@_register(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey AS nation, c_mktsegment AS seg,
             {_QI_BUCKET.format(w=50000)} AS bal_bucket,
             CAST(count(*) AS BIGINT) AS sz
      FROM customer GROUP BY 1, 2, 3),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
               AS n_at_risk_records,
           round(sum(CASE WHEN sz < k THEN sz ELSE 0 END) * 100.0
                 / sum(sz), 4) + 0.0 AS risk_pct
    FROM g, ks GROUP BY k
    """,
    description="k-anonymity re-identification audit (Sweeney 2002) "
                "under the (nation, segment, $500 balance bucket) "
                "quasi-identifier: violating-group and at-risk-record "
                "counts at k=2/5/10 — one map-side-combined groupBy "
                "plus a broadcast 3-row threshold frame; balance "
                "buckets are shift-positive integer floor divisions "
                "so both engines agree on negative balances")
def q_k_anonymity_audit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.governance import (
        k_anonymity_audit)
    return k_anonymity_audit(load_table(spark, sf_dir, "customer"))


@_register(
    "generalization_ladder",
    oracle=f"""
    WITH ws AS (SELECT unnest([50000, 100000, 200000, 500000]) AS w),
    g AS (
      SELECT ws.w, c_nationkey, c_mktsegment,
             {_QI_BUCKET.format(w='ws.w')} AS bal_bucket,
             CAST(count(*) AS BIGINT) AS sz
      FROM customer, ws GROUP BY 1, 2, 3, 4)
    SELECT CAST(w AS BIGINT) AS bucket_cents,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(sz) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS n_at_risk_records
    FROM g GROUP BY w
    """,
    description="the generalization half of k-anonymization: the same "
                "audit at four balance-bucket widths ($500 to $5000), "
                "showing the resolution-for-safety trade an anonymizer "
                "walks; monotone at-risk reduction 1495 -> 399 at "
                "sf0.01")
def q_generalization_ladder(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.governance import (
        generalization_ladder)
    return generalization_ladder(load_table(spark, sf_dir, "customer"))


def _ridge_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.advanced import (
        ols3_exprs,
    )
    e = ols3_exprs()
    return f"""
    WITH t AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n0,
             CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS s2,
             CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) AS s11_0,
             CAST(sum(CAST(q AS HUGEINT) * d) AS DOUBLE) AS s12,
             CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS s22_0,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(q AS HUGEINT) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(d AS HUGEINT) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM t),
    lams AS (SELECT unnest([0.0, 1e6, 1e9, 1e12]) AS lam),
    adj AS (
      SELECT lam, n0 + lam AS n, s1, s2, s11_0 + lam AS s11, s12,
             s22_0 + lam AS s22, sy, s1y, s2y, syy
      FROM s, lams)
    SELECT lam AS lambda,
           CASE WHEN {e['det']} <> 0
                THEN round({e['beta0']}, 6) + 0.0 END AS beta0,
           CASE WHEN {e['det']} <> 0
                THEN round({e['beta1']}, 6) + 0.0 END AS beta1,
           CASE WHEN {e['det']} <> 0
                THEN round({e['beta2']}, 6) + 0.0 END AS beta2
    FROM adj
    """


@_register(
    "ridge_path",
    oracle=_ridge_oracle,
    description="ridge regression path by regularized normal "
                "equations (Hoerl & Kennard 1970): ridge IS the OLS "
                "Cramer solve with lambda added to the moment "
                "diagonal, so the SAME shared expression text as "
                "ols_normal_equations runs against an adjusted 1-row "
                "moment frame per rung (exact decimal(38,0)/HUGEINT "
                "moments computed once, 4-rung broadcast ladder; "
                "lambda=0 reproduces OLS exactly, betas shrink "
                "monotonically toward zero)")
def q_ridge_path(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.advanced import ridge_path
    return ridge_path(load_table(spark, sf_dir, "lineitem"))


@_register(
    "ab_test_conversion",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                       AND ts < TIMESTAMP '2024-01-02'
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    armed AS (
      SELECT ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT % 2
                 AS arm,
             converted
      FROM pu),
    arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(converted) AS BIGINT) AS conv
             FROM armed GROUP BY arm),
    a AS (SELECT n AS n_a, conv AS conv_a FROM arms WHERE arm = 0),
    b AS (SELECT n AS n_b, conv AS conv_b FROM arms WHERE arm = 1)
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a / n_a, 4) + 0.0 AS rate_a,
           round(conv_b / n_b, 4) + 0.0 AS rate_b,
           round((conv_a / n_a - conv_b / n_b)
                 / sqrt(((conv_a + conv_b) / (n_a + n_b))
                        * (1 - (conv_a + conv_b) / (n_a + n_b))
                        * (1 / n_a + 1 / n_b)), 4) + 0.0 AS z,
           abs(round((conv_a / n_a - conv_b / n_b)
                 / sqrt(((conv_a + conv_b) / (n_a + n_b))
                        * (1 - (conv_a + conv_b) / (n_a + n_b))
                        * (1 / n_a + 1 / n_b)), 4)) > 1.96
               AS significant
    FROM a, b
    """,
    description="two-proportion z-test on a deterministic md5-parity "
                "A/B split (an A/A test — the null is true by "
                "construction, so |z| stays small: the calibration "
                "check an experimentation platform runs continuously); "
                "conversion = first-day purchase (the full-month "
                "window saturates at 100%); exact integer counts, one "
                "IEEE divide/sqrt tree rounded 4dp both engines")
def q_ab_test_conversion(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        ab_test_conversion)
    return ab_test_conversion(load_table(spark, sf_dir, "events"))


@_register(
    "phrase_search",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    flat AS MATERIALIZED (
      SELECT doc_id, u.p AS pos, u.w AS w FROM (
        SELECT doc_id,
               unnest([{{'p': i, 'w': toks[i]}}
                       for i in generate_series(1, len(toks))]) AS u
        FROM d) q
      WHERE u.w IN ('big', 'order', 'scan')),
    m AS (
      SELECT a.doc_id, a.pos AS p0
      FROM flat a
      JOIN flat b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN flat c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      WHERE a.w = 'big' AND b.w = 'order' AND c.w = 'scan')
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(p0) AS BIGINT) AS first_pos
    FROM m GROUP BY doc_id
    """,
    description="exact positional phrase search ('big order scan'): "
                "postings filtered to the query's terms BEFORE any "
                "shuffle (the index-probe pruning principle), then "
                "k-1 keyed equi-joins on (doc_id, pos+offset) enforce "
                "adjacency — the IR operator bag-of-words BM25 cannot "
                "express; note Spark's offset is applied on the probe "
                "side (pos - i) so every join key is the first term's "
                "position")
def q_phrase_search(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        phrase_search)
    return phrase_search(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Association rules: same-basket + sequential next-purchase (round-11)
# ---------------------------------------------------------------------------

@_register(
    "association_rules",
    oracle="""
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ps AS (SELECT a.p AS a, bb.p AS b, CAST(count(*) AS BIGINT) AS support
           FROM b a JOIN b bb ON a.o = bb.o AND a.p < bb.p
           GROUP BY 1, 2 HAVING count(*) >= 3),
    isup AS (SELECT p, CAST(count(*) AS BIGINT) AS sup_p
             FROM b GROUP BY p),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb
           FROM lineitem),
    d AS (SELECT a AS antecedent, b AS consequent, support FROM ps
          UNION ALL
          SELECT b AS antecedent, a AS consequent, support FROM ps)
    SELECT antecedent, consequent, support,
           (support * 10000) // sa.sup_p AS conf_x10000,
           round((support * nb.nb) / (sa.sup_p * sc.sup_p * 1.0), 4)
               + 0.0 AS lift
    FROM d JOIN isup sa ON sa.p = antecedent
           JOIN isup sc ON sc.p = consequent, nb
    """,
    description="Apriori-setting pair association rules over order "
                "baskets: supports from the per-basket sorted-array "
                "suffix-slice enumeration (the copart_pairs shape "
                "WITH multiplicity — the catalog is never "
                "self-joined), directed rules at support>=3 with "
                "exact integer confidence (support*10000 floor-div "
                "antecedent support) and lift rounded from exact "
                "counts")
def q_association_rules(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.assoc import (
        association_rules)
    return association_rules(load_table(spark, sf_dir, "lineitem"))


@_register(
    "next_purchase_rules",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS ok1,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
                 AS ok2
      FROM orders),
    tr AS (SELECT ok1, ok2 FROM t WHERE ok2 IS NOT NULL),
    it AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    ante AS MATERIALIZED (
      SELECT tr.ok1, tr.ok2, it.p AS a FROM tr JOIN it ON it.ok = tr.ok1),
    pairs AS (SELECT ante.a, i2.p AS c
              FROM ante JOIN it i2 ON i2.ok = ante.ok2),
    sup AS (SELECT a, c, CAST(count(*) AS BIGINT) AS support
            FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2),
    na AS (SELECT a, CAST(count(*) AS BIGINT) AS n_a
           FROM ante GROUP BY a)
    SELECT a AS antecedent, c AS consequent, support,
           (support * 10000) // n_a AS conf_x10000
    FROM sup JOIN na USING (a)
    """,
    description="sequential next-purchase rules: part in a customer's "
                "order followed by part in their NEXT order "
                "(consecutive via one lead() over a customer-"
                "partitioned window); transition pairs bounded by "
                "orders x items-per-order squared, never |parts|^2; "
                "exact integer confidence at support>=2")
def q_next_purchase_rules(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.assoc import (
        next_purchase_rules)
    return next_purchase_rules(load_table(spark, sf_dir, "orders"),
                               load_table(spark, sf_dir, "lineitem"))


@_register(
    "interval_coverage",
    oracle="""
    WITH d AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events),
    pm AS (
      SELECT user_id, event_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max_e
      FROM d),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY s, event_id
                       ROWS UNBOUNDED PRECEDING) AS island
      FROM pm),
    per AS (
      SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
      FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_end - i_start) AS BIGINT) AS covered_seconds,
           CAST(max(i_end - i_start) AS BIGINT)
               AS longest_island_seconds
    FROM per GROUP BY user_id
    """,
    description="gaps-and-islands interval union per user: each event "
                "claims [ts, ts+300s); overlaps merge via the classic "
                "two-window form (running max of previous ends marks "
                "island starts, running sum assigns island ids — both "
                "windows user-partitioned); reports island count, "
                "union length (no overlap double-count), longest "
                "island — exact epoch-second integers")
def q_interval_coverage(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        interval_coverage)
    return interval_coverage(load_table(spark, sf_dir, "events"))


@_register(
    "stream_cusum",
    oracle="""
    WITH d AS (
      SELECT event_id, event_type, ts,
             CAST(round(value * 100) AS BIGINT)
             + CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                    THEN 20000 ELSE 0 END AS x
      FROM events),
    base AS (
      SELECT event_type, CAST(sum(x) AS BIGINT) // count(*) AS mu0
      FROM d WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type),
    pre AS (
      SELECT d.event_id, d.event_type, d.ts,
             CAST(sum(d.x - b.mu0 - 10000) OVER w AS BIGINT) AS pu
      FROM d JOIN base b USING (event_type)
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.ts, d.event_id
                   ROWS UNBOUNDED PRECEDING)),
    cs AS (
      SELECT event_id, event_type,
             pu - least(0, min(pu) OVER w) AS su
      FROM pre
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT event_id, event_type, CAST(su AS BIGINT) AS s_up
    FROM cs WHERE su > 40000
    """,
    description="STREAMING tabular CUSUM alarms per event_type "
                "(applyInPandasWithState, append mode — alarm rows "
                "emitted as the upper statistic crosses 4K): O(1) "
                "two-scalar state per type carried across "
                "micro-batches; per-type targets are a calibration "
                "read of the pre-pivot static window (the batch "
                "operator's exact floored-mean formula); oracle = the "
                "batch closed form S_i = P_i - min(0, min_j P_j) "
                "selecting alarm points, matched row-for-row over the "
                "AvailableNow replay")
def q_stream_cusum(spark, sf_dir):
    from cloud_native_mapreduce_spark.streaming import core as S
    return S.stream_cusum_by_type(spark, sf_dir)


def _markov_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        MARKOV_ROUNDS,
        MARKOV_STATES,
    )
    mat_cols = ",\n           ".join(
        f"coalesce(sum(CASE WHEN from_type = '{s}' AND to_type = '{t}'"
        f" THEN p END), 0.0) AS {s}_{t}"
        for s in MARKOV_STATES for t in MARKOV_STATES)
    n = len(MARKOV_STATES)
    rounds = []
    prev = "r0"
    for r in range(1, MARKOV_ROUNDS + 1):
        cols = ",\n             ".join(
            f"(" + " + ".join(
                f"({prev}.v_{s} * m.{s}_{t})" for s in MARKOV_STATES)
            + f") AS v_{t}" for t in MARKOV_STATES)
        rounds.append(f"r{r} AS (SELECT {cols} FROM {prev}, m)")
        prev = f"r{r}"
    rounds_sql = ",\n    ".join(rounds)
    stack = " UNION ALL ".join(
        f"SELECT '{t}' AS state, round(v_{t}, 6) + 0.0 AS pi"
        f" FROM r{MARKOV_ROUNDS}" for t in MARKOV_STATES)
    return f"""
    WITH pairs AS (
      SELECT from_type, to_type FROM (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events) q WHERE to_type IS NOT NULL),
    c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS nn
          FROM pairs GROUP BY 1, 2),
    tt AS (SELECT from_type, CAST(sum(nn) AS BIGINT) AS tot
           FROM c GROUP BY 1),
    pr AS (SELECT c.from_type, c.to_type, c.nn / tt.tot AS p
           FROM c JOIN tt USING (from_type)),
    m AS MATERIALIZED (
      SELECT {mat_cols}
      FROM pr),
    r0 AS (SELECT {", ".join(f"1.0 / {n} AS v_{s}"
                             for s in MARKOV_STATES)}),
    {rounds_sql}
    {stack}
    """


@_register(
    "markov_stationary",
    oracle=_markov_oracle,
    description="stationary distribution of the per-user event-type "
                "Markov chain by power iteration: the FIXED 5-state "
                "space pivots the transition matrix into one wide row "
                "(exact count / row-total divisions), and each of the "
                "8 unrolled rounds materializes five 5-term "
                "sum-products in a pinned term order — the ols3_exprs "
                "float-portability trick applied to an iterated map "
                "(naive textual substitution would grow 5^rounds "
                "terms; chained materialization keeps codegen linear)")
def q_markov_stationary(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        markov_stationary)
    return markov_stationary(load_table(spark, sf_dir, "events"))


@_register(
    "ivm_agg_delta",
    oracle="""
    WITH base AS (
      SELECT p_partkey AS k, p_brand AS brand,
             CAST(round(p_retailprice * 100) AS BIGINT) AS c
      FROM part),
    post AS (
      SELECT brand, c + 200 AS c FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT brand, c FROM base WHERE k % 7 <> 0 AND k % 11 <> 0
      UNION ALL
      SELECT brand, CAST(1 AS BIGINT) AS c FROM base WHERE k % 13 = 0)
    SELECT brand, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(c) AS BIGINT) AS cents_total
    FROM post GROUP BY brand
    """,
    description="incremental maintenance of a per-brand aggregate "
                "under the cdc_apply change batch — the AGGREGATE "
                "sibling of ivm_join_delta: sum/count are "
                "self-maintainable, so the refresh touches the base "
                "AGGREGATE plus signed delta rows only (update = "
                "-old +new, delete = -old, insert = +new), never "
                "rescanning base facts; the oracle recomputes the "
                "post-change aggregate from scratch — incremental == "
                "recompute is the contract")
def q_ivm_agg_delta(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.relational import (
        ivm_agg_delta)
    return ivm_agg_delta(load_table(spark, sf_dir, "part"))


# ---------------------------------------------------------------------------
# Nonparametric distribution tests + inequality/digit-law audits
# ---------------------------------------------------------------------------

def _mann_whitney_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        mann_whitney_exprs)
    e = mann_whitney_exprs()
    return f"""
    WITH vals AS (
      SELECT n_chars,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM documents WHERE lang IN ('en', 'de') GROUP BY n_chars),
    cum AS (
      SELECT v.n_chars, v.ca, v.cb, COALESCE(sum(u.cb), 0) AS cumb
      FROM vals v LEFT JOIN vals u ON u.n_chars < v.n_chars
      GROUP BY v.n_chars, v.ca, v.cb),
    sums AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(CAST(ca AS HUGEINT)
                      * (2 * CAST(cumb AS HUGEINT) + cb))
                  AS DOUBLE) AS two_u,
             CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
                      - (ca + cb)) AS DOUBLE) AS s_ties
      FROM cum)
    SELECT n_a, n_b,
           {e['u_stat']} + 0.0 AS u_stat,
           round({e['z']}, 6) + 0.0 AS z,
           round({e['effect_r']}, 6) + 0.0 AS effect_r
    FROM sums
    """


@_register(
    "mann_whitney_u",
    oracle=_mann_whitney_oracle,
    description="Mann-Whitney U rank-sum test of document length "
                "across languages (en vs de) with exact tie "
                "correction — the nonparametric sibling of "
                "anova_oneway: 2U and the tie term sum(t^3-t) are "
                "exact integers (decimal38/HUGEINT — pair counts are "
                "~n^2), the bounded n_chars domain collapses the "
                "corpus to a ~600-row value frame in ONE map-side "
                "aggregate, the exclusive cumulative runs as a "
                "broadcast triangular self-join on that frame (no "
                "global window), and z is a shared-text IEEE "
                "expression rounded 6dp both sides")
def q_mann_whitney_u(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import mann_whitney_u
    return mann_whitney_u(load_table(spark, sf_dir, "documents"))


def _ks_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import ks_exprs
    e = ks_exprs()
    return f"""
    WITH vals AS (
      SELECT n_chars,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM documents WHERE lang IN ('en', 'de') GROUP BY n_chars),
    cum AS (
      SELECT v.n_chars, sum(u.ca) AS cuma, sum(u.cb) AS cumb
      FROM vals v JOIN vals u ON u.n_chars <= v.n_chars
      GROUP BY v.n_chars),
    tot AS (
      SELECT CAST(max(cuma) AS BIGINT) AS n_a,
             CAST(max(cumb) AS BIGINT) AS n_b
      FROM cum),
    gaps AS (
      SELECT c.n_chars, t.n_a, t.n_b,
             abs(CAST(c.cuma AS HUGEINT) * t.n_b
                 - CAST(c.cumb AS HUGEINT) * t.n_a) AS gap
      FROM cum c, tot t),
    best AS (SELECT n_a, n_b, max(gap) AS maxgap
             FROM gaps GROUP BY n_a, n_b),
    located AS (
      SELECT g.n_a, g.n_b, min(g.n_chars) AS d_at,
             CAST(max(g.gap) AS DOUBLE) AS d_num
      FROM gaps g JOIN best b
        ON g.n_a = b.n_a AND g.n_b = b.n_b AND g.gap = b.maxgap
      GROUP BY g.n_a, g.n_b)
    SELECT n_a, n_b, d_at,
           round({e['d_stat']}, 6) + 0.0 AS d_stat,
           round({e['k_stat']}, 6) + 0.0 AS k_stat
    FROM located
    """


@_register(
    "ks_two_sample",
    oracle=_ks_oracle,
    description="two-sample Kolmogorov-Smirnov D between language "
                "length distributions, located exactly: the ECDF gap "
                "numerator |cumA*nB - cumB*nA| is an exact integer "
                "(HUGEINT/decimal38 cross products), so the max and "
                "its smallest attaining value are engine-independent; "
                "same bounded value-frame + triangular inclusive "
                "cumulative shape as mann_whitney_u, D and the "
                "scaled statistic via shared-text IEEE expressions")
def q_ks_two_sample(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import ks_two_sample
    return ks_two_sample(load_table(spark, sf_dir, "documents"))


@_register(
    "gini_by_nation",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT c.c_nationkey AS nationkey, s.x,
             row_number() OVER (PARTITION BY c.c_nationkey
                                ORDER BY s.x, s.o_custkey) AS i
      FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
    agg AS (
      SELECT nationkey, CAST(count(*) AS BIGINT) AS n_buyers,
             sum(CAST(x AS HUGEINT)) AS sx,
             sum(CAST(i AS HUGEINT) * x) AS six
      FROM ranked GROUP BY nationkey)
    SELECT nationkey, n_buyers,
           CAST(sx AS DOUBLE) AS total_cents,
           round(CAST(2 * six - (n_buyers + 1) * sx AS DOUBLE)
                 / CAST(n_buyers * sx AS DOUBLE), 6) + 0.0 AS gini
    FROM agg
    """,
    description="per-nation Gini coefficient of customer spend "
                "(exact cents; rank form G = (2*sum(i*x_i) - "
                "(n+1)*sum(x)) / (n*sum(x)) with deterministic "
                "custkey tie-break — i*x over tied blocks is "
                "order-invariant so ties don't move the value): the "
                "revenue-concentration skew audit; rank window is "
                "nation-partitioned (no global window) and output is "
                "|nation|-sized")
def q_gini_by_nation(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import gini_by_nation
    return gini_by_nation(load_table(spark, sf_dir, "orders"),
                          load_table(spark, sf_dir, "customer"))


def _benford_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        benford_expected_sql)
    p = benford_expected_sql()
    return f"""
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n_orders FROM obs),
    per AS (
      SELECT digit, obs, n_orders,
             round(n_orders * {p}, 4) AS expected,
             CAST(round((obs - n_orders * {p})
                        * (obs - n_orders * {p})
                        / (n_orders * {p}) * 1e6) AS BIGINT)
                 AS term_micro
      FROM obs, tot),
    chi AS (SELECT sum(term_micro) / 1e6 AS chi2 FROM per)
    SELECT digit, obs, expected + 0.0 AS expected,
           round(term_micro / 1e6, 6) + 0.0 AS chi2_term,
           round(chi2, 6) + 0.0 AS chi2_total
    FROM per, chi
    """


@_register(
    "benford_digits",
    oracle=_benford_oracle,
    description="Benford's-law first-digit audit of order totals "
                "with chi-square goodness-of-fit: expected "
                "probabilities log10(1+1/d) are shared 17-digit "
                "double literals (no cross-engine log10 call), "
                "chi-square terms quantize to 1e-6 integers BEFORE "
                "the cross-digit sum (drift_chisq convention); one "
                "map-side aggregate collapses the corpus to 9 digit "
                "rows")
def q_benford_digits(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import benford_digits
    return benford_digits(load_table(spark, sf_dir, "orders"))


@_register(
    "multitouch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts,
             event_type AS touch_type
      FROM events WHERE event_type IN ('view', 'click')),
    j AS (
      SELECT p.p_id, t.t_id, t.touch_type, t.t_ts
      FROM p JOIN t USING (user_id)
      WHERE t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
    r AS (
      SELECT touch_type,
             count(*) OVER (PARTITION BY p_id) AS k,
             row_number() OVER (PARTITION BY p_id
                                ORDER BY t_ts, t_id) AS rf,
             row_number() OVER (PARTITION BY p_id
                                ORDER BY t_ts DESC, t_id DESC) AS rl
      FROM j)
    SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_credit,
           CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS last_credit,
           CAST(sum(CAST(round(1000000.0 / k) AS BIGINT)) AS BIGINT)
               AS linear_micro
    FROM r GROUP BY touch_type
    """,
    description="multi-touch attribution (first/last/linear) of "
                "purchases to same-user view/click touches in the "
                "prior 7 days — the batch credit-assignment "
                "complement of the streaming interval join: "
                "first/last are integer counts under a deterministic "
                "(ts, event_id) tie order, linear credit quantizes "
                "per touch to round(1e6/k) micro-credits so the "
                "cross-row sum is exact (never summed 1/k doubles); "
                "user-keyed join, purchase-partitioned rank windows, "
                "|touch-type|-sized output")
def q_multitouch_attribution(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        multitouch_attribution)
    return multitouch_attribution(load_table(spark, sf_dir, "events"))


@_register(
    "entropy_profile",
    oracle="""
    WITH ct AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    peru AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
             sum(c * log2(c)) AS clogc
      FROM ct GROUP BY user_id),
    b AS (SELECT n, log2(n) - clogc / n AS h FROM peru)
    SELECT CAST(floor(h * 10) AS INT) AS entropy_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(min(h), 4) + 0.0 AS min_h,
           round(max(h), 4) + 0.0 AS max_h
    FROM b GROUP BY 1
    """,
    description="behavioral-entropy histogram: Shannon entropy "
                "(bits) of each user's event-type mix in 0.1-bit "
                "bands — engagement diversity profiling; the only "
                "float work is ≤|types| log2 terms per user and H ≤ "
                "log2(5), so banding sits ~11 orders above the ulp "
                "noise (the avg_logprob precedent); per-band min/max "
                "are order-free, counts exact; two keyed shuffles "
                "then a |bands|-sized aggregate")
def q_entropy_profile(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        entropy_profile)
    return entropy_profile(load_table(spark, sf_dir, "events"))


def _readability_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.curation import flesch_expr
    fl = flesch_expr()
    return f"""
    WITH per AS (
      SELECT lang,
             len(regexp_extract_all(lower(text), '{_WORD_RE_SQL}'))
                 AS w,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS v
      FROM documents),
    p2 AS (SELECT lang, w, s, greatest(v, w) AS syl
           FROM per WHERE w > 0),
    b AS (SELECT lang, w, {fl} AS fl,
                 CAST(floor({fl} / 10) AS INT) AS band
          FROM p2)
    SELECT lang, band, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           round(min(fl), 4) + 0.0 AS min_score,
           round(max(fl), 4) + 0.0 AS max_score
    FROM b GROUP BY lang, band
    """


@_register(
    "readability_profile",
    oracle=_readability_oracle,
    description="Flesch reading-ease histogram per language: words "
                "by the reference-parity tokenizer, sentences as "
                "[.!?]+ runs (min 1), syllables as [aeiouy]+ vowel "
                "groups clamped to ≥1/word — all JVM regex, no UDF; "
                "the score is a shared-text IEEE expression "
                "(flesch_expr) so 10-point banding is engine-stable; "
                "single narrow scan projection (lang + text only) "
                "into a |lang × band|-sized aggregate")
def q_readability_profile(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        readability_profile)
    return readability_profile(load_table(spark, sf_dir, "documents"))


@_register(
    "clustering_coefficients",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    fdeg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM fdeg) AND b IN (SELECT v FROM fdeg)),
    wedges AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a),
    closed AS (
      SELECT w.a, w.b, w.c
      FROM wedges w JOIN edges e ON w.a = e.a AND w.c = e.b),
    tri AS (
      SELECT v, CAST(count(*) AS BIGINT) AS t
      FROM (SELECT a AS v FROM closed UNION ALL
            SELECT b AS v FROM closed UNION ALL
            SELECT c AS v FROM closed)
      GROUP BY v),
    cdeg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
      GROUP BY v)
    SELECT d.v, d.deg, COALESCE(t.t, 0) AS triangles,
           round(CAST(2 * COALESCE(t.t, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) + 0.0 AS cc
    FROM cdeg d LEFT JOIN tri t USING (v)
    WHERE d.deg >= 2
    """,
    description="per-vertex local clustering coefficient on the "
                "capped co-purchase graph — the node-level "
                "refinement of triangle_count (same degree-oriented "
                "edge iterator; each closed wedge credits its three "
                "corners exactly once): cc = 2t/(d(d-1)) over "
                "capped-graph degree, an exact-integer ratio in one "
                "IEEE division rounded 6dp; no new corpus-sized "
                "shuffle beyond the triangle pass")
def q_clustering_coefficients(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.clustering_coefficients(load_table(spark, sf_dir,
                                                "lineitem"))


def _allen_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.relational import (
        allen_relation_sql)
    return f"""
    WITH iv AS (
      SELECT o_custkey AS ck, o_orderkey AS ok,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 25 + 1 AS INT) AS e
      FROM orders),
    pairs AS (
      SELECT a.ck, a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
      FROM iv a JOIN iv b ON a.ck = b.ck AND a.ok < b.ok)
    SELECT {allen_relation_sql()} AS rel,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT ck) AS BIGINT) AS n_customers
    FROM pairs
    GROUP BY 1
    """


@_register(
    "allen_interval_relations",
    oracle=_allen_oracle,
    description="census of Allen's 13 interval-algebra relations "
                "(Allen, CACM 1983) over per-customer order activity "
                "windows — the temporal-reasoning primitive beneath "
                "interval joins: shared-text CASE of pure date "
                "comparisons (no floats), each unordered same-"
                "customer pair classified exactly once via the "
                "orderkey total order; customer-keyed equi self-join "
                "with pairs bounded per customer, 13-row output")
def q_allen_interval_relations(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.relational import (
        allen_interval_relations)
    return allen_interval_relations(load_table(spark, sf_dir, "orders"))


def _dag_layers_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import DAG_ROUNDS
    rounds = []
    prev = "l0"
    for r in range(1, DAG_ROUNDS + 1):
        cur = f"l{r}"
        rounds.append(f"""
    {cur} AS (
      SELECT s.v,
             CASE WHEN m.ml IS NULL OR m.ml < s.lay
                  THEN s.lay ELSE m.ml END AS lay
      FROM {prev} s LEFT JOIN (
        SELECT e.b AS v, max(s2.lay) + 1 AS ml
        FROM edges e JOIN {prev} s2 ON s2.v = e.a
        GROUP BY e.b) m ON s.v = m.v)""")
        prev = cur
    return f"""
    WITH edges AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    verts AS (
      SELECT DISTINCT v
      FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)),
    l0 AS (SELECT v, 0 AS lay FROM verts),{','.join(rounds)}
    SELECT lay AS layer, CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(min(v) AS BIGINT) AS min_vertex
    FROM {prev}
    GROUP BY lay
    """


@_register(
    "dag_layers",
    oracle=_dag_layers_oracle,
    description="topological layering of the key-oriented co-purchase "
                "DAG (acyclic by construction: edges only increase "
                "the part key): layer = longest incoming chain after "
                "6 Bellman-style relaxation rounds — the dependency-"
                "depth / critical-path primitive beside bfs_hops; "
                "per round only the |V|-row layer frame moves (keyed "
                "join + map-side max + left join back, localCheckpoint "
                "truncation), integer arithmetic only, oracle unrolls "
                "the identical rounds; output bounded by rounds+1")
def q_dag_layers(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.dag_layers(load_table(spark, sf_dir, "lineitem"))


@_register(
    "kalman_daily",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS z
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT event_type, day, z,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS i
      FROM daily),
    k AS (
      SELECT event_type, i, day, z,
             CAST(z AS DOUBLE) AS x, CAST(100.0 AS DOUBLE) AS p,
             CAST(0.0 AS DOUBLE) AS kg
      FROM idx WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i, s.day, s.z,
             prev.x + ((prev.p + 10.0) / ((prev.p + 10.0) + 100.0))
                      * (CAST(s.z AS DOUBLE) - prev.x) AS x,
             (1.0 - ((prev.p + 10.0) / ((prev.p + 10.0) + 100.0)))
                 * (prev.p + 10.0) AS p,
             ((prev.p + 10.0) / ((prev.p + 10.0) + 100.0)) AS kg
      FROM k prev JOIN idx s
        ON s.event_type = prev.event_type AND s.i = prev.i + 1)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, z,
           round(x, 6) + 0.0 AS x_filt,
           round(kg, 6) + 0.0 AS k_gain
    FROM k
    """,
    description="1-D Kalman filter (random-walk state, fixed "
                "Q=10/R=100) over each event type's daily count "
                "series — the optimal-under-Gaussian smoother beside "
                "Holt/EWMA, and the batch applyInPandas showcase: a "
                "truly sequential per-group recursion with no "
                "window/aggregate form; the corpus collapses to "
                "|types|x|days| rows BEFORE the Arrow stage, and the "
                "oracle replays the IDENTICAL IEEE op sequence via a "
                "recursive CTE (numpy float64 == C double), rounding "
                "6dp engine-side both ends")
def q_kalman_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import kalman_daily
    return kalman_daily(load_table(spark, sf_dir, "events"))


def _bootstrap_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        BOOTSTRAP_B, poisson_mult_case)
    k_lo = max(1, int(0.05 * BOOTSTRAP_B))
    k_hi = min(BOOTSTRAP_B, int(round(0.975 * BOOTSTRAP_B)))
    case = poisson_mult_case("h")
    return f"""
    WITH base AS (
      SELECT o_orderkey AS okey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    reps AS (SELECT CAST(range AS INT) AS b FROM range({BOOTSTRAP_B})),
    rep AS (
      SELECT reps.b, base.cents,
             CAST(('0x' || substring(md5(CAST(okey AS VARCHAR) || '_'
                                         || CAST(reps.b AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 1000 AS h
      FROM base, reps),
    mul AS (
      SELECT b, cents, {case} AS m FROM rep),
    live AS (SELECT b, cents, m FROM mul WHERE m > 0),
    means AS (
      SELECT b, CAST(sum(CAST(m AS HUGEINT) * cents) AS DOUBLE)
                / CAST(sum(m) AS DOUBLE) AS mean_b
      FROM live GROUP BY b),
    ranked AS (
      SELECT a.b, a.mean_b, count(*) AS rank
      FROM means a JOIN means c
        ON c.mean_b < a.mean_b
           OR (c.mean_b = a.mean_b AND c.b <= a.b)
      GROUP BY a.b, a.mean_b),
    lo AS (SELECT min(mean_b) AS ci_lo FROM ranked WHERE rank = {k_lo}),
    hi AS (SELECT min(mean_b) AS ci_hi FROM ranked WHERE rank = {k_hi}),
    point AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS point_mean
      FROM base)
    SELECT n_orders, round(point_mean, 6) + 0.0 AS point_mean,
           round(ci_lo, 6) + 0.0 AS ci_lo,
           round(ci_hi, 6) + 0.0 AS ci_hi,
           CAST({BOOTSTRAP_B} AS INT) AS n_boot
    FROM point, lo, hi
    """


@_register(
    "bootstrap_ci_mean",
    oracle=_bootstrap_oracle,
    description="deterministic Poisson bootstrap CI for the mean "
                "order total: every row draws a Poisson(1) "
                "multiplicity per replicate from the md5 "
                "row-replicate hash (no RNG — both engines replay "
                "identical resamples, the distributed bootstrap that "
                "needs no global index); replicate sums in "
                "decimal(38,0)/HUGEINT, one exact-integer division "
                "per replicate mean, 5%/97.5% order statistics via a "
                "broadcast triangular rank over the B-row frame; "
                "m=0 rows dropped before the combine")
def q_bootstrap_ci_mean(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        bootstrap_ci_mean)
    return bootstrap_ci_mean(load_table(spark, sf_dir, "orders"))


def _boruvka_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        BORUVKA_LABEL_ROUNDS, BORUVKA_ROUNDS)
    parts = []
    for r in range(1, BORUVKA_ROUNDS + 1):
        prev = f"comp{r - 1}"
        parts.append(f"""
    ce{r} AS (
      SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
      FROM edges e JOIN {prev} x ON e.a = x.v
                   JOIN {prev} y ON e.b = y.v
      WHERE x.c <> y.c),
    cand{r} AS (
      SELECT ca AS cc, w, a, b, cb AS oc FROM ce{r}
      UNION ALL
      SELECT cb AS cc, w, a, b, ca AS oc FROM ce{r}),
    sel{r} AS MATERIALIZED (
      SELECT cc, oc, w, a, b FROM (
        SELECT cc, oc, w, a, b,
               row_number() OVER (PARTITION BY cc
                                  ORDER BY w, a, b) AS rn
        FROM cand{r})
      WHERE rn = 1),
    stat{r} AS (
      SELECT CAST(count(*) AS BIGINT) AS edges_added,
             CAST(COALESCE(sum(w), 0) AS BIGINT) AS weight_added
      FROM (SELECT DISTINCT w, a, b FROM sel{r})),
    ged{r} AS MATERIALIZED (
      SELECT DISTINCT gc, gn FROM (
        SELECT cc AS gc, oc AS gn FROM sel{r}
        UNION ALL
        SELECT oc AS gc, cc AS gn FROM sel{r})),
    lab{r}_0 AS MATERIALIZED (
      SELECT DISTINCT c AS cc, c AS lab FROM {prev})""")
        for j in range(1, BORUVKA_LABEL_ROUNDS + 1):
            # MATERIALIZED is load-bearing: inlining would re-evaluate
            # the whole label chain once per downstream reference
            parts.append(f"""
    lab{r}_{j} AS MATERIALIZED (
      SELECT l.cc,
             CASE WHEN m.nl IS NULL OR l.lab <= m.nl
                  THEN l.lab ELSE m.nl END AS lab
      FROM lab{r}_{j - 1} l LEFT JOIN (
        SELECT g.gc AS cc, min(l2.lab) AS nl
        FROM ged{r} g JOIN lab{r}_{j - 1} l2 ON l2.cc = g.gn
        GROUP BY g.gc) m ON l.cc = m.cc)""")
        parts.append(f"""
    comp{r} AS MATERIALIZED (
      SELECT c0.v, lb.lab AS c
      FROM {prev} c0 JOIN lab{r}_{BORUVKA_LABEL_ROUNDS} lb
        ON c0.c = lb.cc),
    nc{r} AS (
      SELECT CAST(count(DISTINCT c) AS BIGINT) AS n_components
      FROM comp{r})""")
    finals = "\n    UNION ALL\n".join(
        f"    SELECT CAST({r} AS INT) AS round, edges_added, "
        f"weight_added, n_components FROM stat{r}, nc{r}"
        for r in range(1, BORUVKA_ROUNDS + 1))
    return f"""
    WITH opq AS (
      SELECT l_orderkey, l_partkey AS p, CAST(min(l_quantity) AS INT) AS q
      FROM lineitem GROUP BY 1, 2),
    raw AS (
      SELECT x.p AS a, y.p AS b, CAST(min(x.q + y.q) AS INT) AS w
      FROM opq x JOIN opq y
        ON x.l_orderkey = y.l_orderkey AND x.p < y.p
      GROUP BY 1, 2),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b, w FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    comp0 AS MATERIALIZED (
      SELECT v, v AS c
      FROM (SELECT DISTINCT v FROM (SELECT a AS v FROM edges
                                    UNION ALL SELECT b AS v FROM edges))),
    {','.join(parts)}
{finals}
    """


@_register(
    "boruvka_msf",
    oracle=_boruvka_oracle,
    description="minimum spanning forest by bounded-round Borůvka on "
                "the capped weighted co-purchase graph — the classic "
                "massive-graph MST: each round every component picks "
                "its lightest cross edge under the TOTAL order "
                "(w, a, b) (unique forest without assuming distinct "
                "weights) via a component-partitioned rank window, "
                "then contracts by pointer jumping (mutual pairs "
                "root at the smaller id, 6 label-doubling joins); "
                "per-round trace rows (edges/weight added, components "
                "left) with exact integer sums; oracle unrolls the "
                "identical 3 rounds × 6 jumps in SQL")
def q_boruvka_msf(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import graph as G
    return G.boruvka_msf(load_table(spark, sf_dir, "lineitem"))


@_register(
    "kaplan_meier",
    oracle="""
    WITH RECURSIVE fs AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    fp AS (
      SELECT user_id, min(epoch_us(ts)) AS p_us
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    hz AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
    per_user AS (
      SELECT CASE WHEN p.p_us >= f.s_us
                  THEN CAST(floor((p.p_us - f.s_us) / 86400000000.0)
                            AS BIGINT) END AS ev_day,
             CAST(floor((h.h_us - f.s_us) / 86400000000.0)
                  AS BIGINT) AS cens_day
      FROM fs f LEFT JOIN fp p USING (user_id), hz h),
    durations AS (
      SELECT COALESCE(ev_day, cens_day) AS t,
             CASE WHEN ev_day IS NOT NULL THEN 1 ELSE 0 END AS e
      FROM per_user),
    days AS (
      SELECT t, CAST(sum(e) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS ended
      FROM durations GROUP BY t),
    risk AS (
      SELECT a.t, a.d, CAST(sum(b.ended) AS BIGINT) AS n_risk
      FROM days a JOIN days b ON b.t >= a.t
      GROUP BY a.t, a.d HAVING a.d > 0),
    idx AS (
      SELECT t, d, n_risk, row_number() OVER (ORDER BY t) AS i
      FROM risk),
    km AS (
      SELECT i, t, d, n_risk,
             CAST(1.0 AS DOUBLE)
               * (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
      FROM idx WHERE i = 1
      UNION ALL
      SELECT n.i, n.t, n.d, n.n_risk,
             prev.s * (1.0 - CAST(n.d AS DOUBLE)
                             / CAST(n.n_risk AS DOUBLE)) AS s
      FROM km prev JOIN idx n ON n.i = prev.i + 1)
    SELECT t, n_risk, d AS n_events, round(s, 6) + 0.0 AS s
    FROM km
    """,
    description="Kaplan-Meier survival curve for time-to-first-"
                "purchase after first signup, right-censored at the "
                "corpus horizon (Kaplan & Meier 1958): durations in "
                "whole 86400s days on exact integer microseconds "
                "(floor, not cast — Spark truncates double->bigint, "
                "DuckDB rounds), risk sets from a broadcast "
                "triangular count over the bounded day frame, and "
                "the survival product folded sequentially in ONE "
                "single-group applyInPandas task whose IEEE op "
                "sequence the oracle replays via a recursive CTE "
                "(the kalman_daily portability pattern)")
def q_kaplan_meier(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import kaplan_meier
    return kaplan_meier(load_table(spark, sf_dir, "events"))


@_register(
    "heaps_law_curve",
    oracle=f"""
    WITH bounds AS (
      SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    d_stage AS (
      SELECT least(10, 1 + ((doc_id - mn) * 10)
                          // greatest(mx - mn, 1)) AS k,
             count(*) AS docs_new
      FROM documents, bounds GROUP BY 1),
    w_first AS (
      SELECT w, min(doc_id) AS first_id
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS w
            FROM documents)
      GROUP BY w),
    w_stage AS (
      SELECT least(10, 1 + ((first_id - mn) * 10)
                          // greatest(mx - mn, 1)) AS k,
             count(*) AS words_new
      FROM w_first, bounds GROUP BY 1),
    stages AS (
      SELECT d.k, d.docs_new, COALESCE(w.words_new, 0) AS words_new
      FROM d_stage d LEFT JOIN w_stage w ON d.k = w.k)
    SELECT a.k, CAST(sum(b.docs_new) AS BIGINT) AS n_docs,
           CAST(sum(b.words_new) AS BIGINT) AS vocab_size,
           CAST(max(CASE WHEN b.k = a.k THEN b.words_new END)
                AS BIGINT) AS new_words
    FROM stages a JOIN stages b ON b.k <= a.k
    GROUP BY a.k
    """,
    description="Heaps'-law vocabulary growth curve over 10 equal "
                "doc-id stages: a word's first appearance is its MIN "
                "doc id, so the whole curve costs ONE map-side-"
                "combined token aggregate (never a per-stage rescan); "
                "stage buckets use integer DIV (exact both engines: "
                "Spark DIV, DuckDB //) and cumulatives run as a "
                "broadcast triangular join over the 10-row stage "
                "frame — the vocab-sizing audit for tokenizer/dedup "
                "table planning")
def q_heaps_law_curve(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        heaps_law_curve)
    return heaps_law_curve(load_table(spark, sf_dir, "documents"))


@_register(
    "simpson_diversity",
    oracle="""
    WITH cl AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2),
    agg AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(c * (c - 1)) AS BIGINT) AS num
      FROM cl GROUP BY source)
    SELECT source, n AS n_docs, n_langs,
           round(CAST(num AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE), 6) + 0.0 AS simpson,
           round(1.0 - CAST(num AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE), 6) + 0.0 AS gini_simpson
    FROM agg WHERE n >= 2
    """,
    description="Simpson diversity of each source's language mix: "
                "D = sum c(c-1)/(n(n-1)) — the probability two "
                "random docs share a language (Simpson 1949) plus "
                "the Gini-Simpson complement; exact integer "
                "numerator/denominator, one fixed-form division "
                "rounded 6dp, two keyed aggregates, |source|-sized "
                "output")
def q_simpson_diversity(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        simpson_diversity)
    return simpson_diversity(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-11 wave 3: HDR quantile sketch, KN LM scoring, NB classifier,
# decision stump, seasonal decomposition, ER golden record, l-diversity,
# gap-subsequence patterns, quantile normalization
# ---------------------------------------------------------------------------

@_register(
    "hdr_quantiles",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
      FROM lineitem),
    b AS (
      SELECT g, k, v >> k AS sub, count(*) AS cnt
      FROM (SELECT g, v, greatest(0, length(bin(v)) - 6) AS k FROM v)
      GROUP BY 1, 2, 3),
    buckets AS (
      SELECT g, k, sub, cnt, k * 64 + sub AS o FROM b
      UNION ALL
      SELECT 'ALL', k, sub, sum(cnt), k * 64 + sub
      FROM b GROUP BY k, sub),
    tot AS (SELECT g, sum(cnt) AS n FROM buckets GROUP BY g),
    cum AS (
      SELECT a.g, a.o, sum(c.cnt) AS cum
      FROM buckets a JOIN buckets c ON c.g = a.g AND c.o <= a.o
      GROUP BY a.g, a.o),
    qf AS (SELECT * FROM (VALUES (1, 2, 'p50'), (9, 10, 'p90'),
                                 (99, 100, 'p99'), (999, 1000, 'p999'))
           AS t(qn, qd, q_label)),
    thresholds AS (
      SELECT g, q_label, n, (qn * n + qd - 1) // qd AS r
      FROM tot, qf),
    pick AS (
      SELECT t.g, t.q_label, t.n, min(c.o) AS o
      FROM cum c JOIN thresholds t ON t.g = c.g AND c.cum >= t.r
      GROUP BY t.g, t.q_label, t.n)
    SELECT p.g AS l_returnflag, p.q_label,
           CAST(p.n AS BIGINT) AS n_vals,
           round(CAST(((2 * b.sub + 1) << b.k) - 1 AS BIGINT) // 2
                 / 100.0, 2) AS est_price
    FROM pick p JOIN buckets b ON b.g = p.g AND b.o = p.o
    """,
    description="HdrHistogram-family mergeable quantile sketch "
                "(Tene's HdrHistogram / DDSketch, Masson VLDB'19): "
                "log-linear integer buckets (32 sub-buckets per "
                "octave => <=3.1% relative error) of extendedprice "
                "cents, one sketch per returnflag plus the 'ALL' "
                "sketch produced by the bucket-wise-SUM merge law — "
                "never a rescan; p50/p90/p99/p999 extracted from the "
                "bounded bucket table with integer ceil(q*n) rank "
                "thresholds; completes the sketch suite (HLL "
                "cardinality, CMS frequency, KMV intersection, HDR "
                "quantiles)")
def q_hdr_quantiles(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.sketches import (
        hdr_quantiles)
    return hdr_quantiles(load_table(spark, sf_dir, "lineitem"))


def _kneser_ney_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.curation import kn_prob_expr
    return f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS l
      FROM documents),
    bgs AS (SELECT doc_id,
                   unnest(list_transform(
                       range(len(l) - 1),
                       i -> l[i + 1] || ' ' || l[i + 2])) AS bg
            FROM toks WHERE len(l) >= 2),
    bgn AS (SELECT doc_id, bg, count(*) AS n FROM bgs GROUP BY doc_id, bg),
    cbgt AS (SELECT bg, sum(n) AS cbg FROM bgn GROUP BY bg),
    ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cbg) AS cctx,
                   count(*) AS n1pv
            FROM cbgt GROUP BY w1),
    cont AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS n1pw
             FROM cbgt GROUP BY w2),
    bt AS (SELECT count(*) AS b FROM cbgt)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * ln({kn_prob_expr()})) / sum(n), 4)
           + 0.0 AS kn_logprob
    FROM bgn
    JOIN cbgt USING (bg)
    JOIN ctx ON split_part(bgn.bg, ' ', 1) = ctx.w1
    JOIN cont ON split_part(bgn.bg, ' ', 2) = cont.w2, bt
    GROUP BY doc_id
    """


@_register(
    "kneser_ney_logprob",
    oracle=_kneser_ney_oracle,
    description="per-doc mean bigram log-prob under the corpus's own "
                "INTERPOLATED KNESER-NEY model (d=0.75; Kneser & Ney "
                "1995, Chen & Goodman 1998) — the smoothing real "
                "KenLM-style quality filters use: absolute "
                "discounting plus the distinct-continuation backoff "
                "that add-one (bigram_logprob) lacks; all model "
                "terms exact integers from one corpus bigram "
                "aggregate, probability via the shared kn_prob_expr "
                "text so both engines run the identical IEEE op "
                "sequence")
def q_kneser_ney_logprob(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.kneser_ney_logprob(load_table(spark, sf_dir, "documents"))


@_register(
    "naive_bayes_lang",
    oracle=f"""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    tl AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS tok
            FROM train)
      GROUP BY 1, 2),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM tl),
    totals AS (SELECT lang, sum(c) AS ctot FROM tl GROUP BY lang),
    nt AS (SELECT count(*) AS n_total FROM train),
    priors AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY lang),
    lang_frame AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priors p JOIN totals t USING (lang), nt, vocab v),
    model AS (
      SELECT tl.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tl JOIN lang_frame lf ON tl.lang = lf.lang),
    test_tc AS (
      SELECT doc_id, actual_lang, tok, count(*) AS n
      FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS tok
            FROM test)
      GROUP BY 1, 2, 3),
    scored AS (
      SELECT doc_id, actual_lang, lf.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lf.unk_mn)) AS score
      FROM test_tc t CROSS JOIN lang_frame lf
      LEFT JOIN model m ON m.lang = lf.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lf.lang, prior_mn),
    pred AS (
      SELECT doc_id, actual_lang, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scored)
    SELECT actual_lang, lang AS predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rk = 1 GROUP BY 1, 2
    """,
    description="multinomial naive Bayes language classifier trained "
                "on the corpus's own (text, lang) pairs, evaluated on "
                "the held-out doc_id%5=0 fold — the fastText-shaped "
                "classifier step of real curation stacks, as pure "
                "DataFrame aggregates: model cells quantized to "
                "BIGINT micronats at build time so scoring and the "
                "argmax are EXACT integer arithmetic (engine- and "
                "partitioning-independent); one training tokenize, "
                "broadcast |lang|-row prior/default frames, "
                "vocabulary-keyed scoring join, |lang|^2 confusion "
                "matrix out")
def q_naive_bayes_lang(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import naive_bayes_lang
    return naive_bayes_lang(load_table(spark, sf_dir, "documents"))


@_register(
    "decision_stump",
    oracle="""
    WITH vals AS (
      SELECT 'quantity' AS feature, CAST(l_quantity AS DOUBLE) AS val,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
      FROM lineitem),
    hist AS (
      SELECT feature, val, count(*) AS cnt, sum(pos) AS p
      FROM vals GROUP BY 1, 2),
    tot AS (
      SELECT feature, sum(cnt) AS n, sum(p) AS pos_tot
      FROM hist GROUP BY feature),
    lft AS (
      SELECT a.feature, a.val AS threshold,
             sum(b.cnt) AS n_left, sum(b.p) AS pos_left
      FROM hist a JOIN hist b
        ON b.feature = a.feature AND b.val <= a.val
      GROUP BY 1, 2),
    cand AS (
      SELECT l.feature, threshold, n_left, pos_left,
             t.n - n_left AS n_right, t.pos_tot - pos_left AS pos_right
      FROM lft l JOIN tot t ON t.feature = l.feature
      WHERE t.n - n_left > 0 AND n_left > 0),
    ranked AS (
      SELECT feature, threshold,
             CAST((( (CAST(n_left AS HUGEINT) * n_left
                    - CAST(pos_left AS HUGEINT) * pos_left
                    - CAST(n_left - pos_left AS HUGEINT)
                      * (n_left - pos_left)) * n_right
                  + (CAST(n_right AS HUGEINT) * n_right
                    - CAST(pos_right AS HUGEINT) * pos_right
                    - CAST(n_right - pos_right AS HUGEINT)
                      * (n_right - pos_right)) * n_left
                  ) * 1000000 // (CAST(n_left AS HUGEINT) * n_right))
             AS BIGINT) AS gini_scaled,
             CAST(n_left AS BIGINT) AS n_left,
             CAST(pos_left AS BIGINT) AS pos_left,
             CAST(n_right AS BIGINT) AS n_right,
             CAST(pos_right AS BIGINT) AS pos_right
      FROM cand)
    SELECT feature, threshold, gini_scaled,
           n_left, pos_left, n_right, pos_right,
           CASE WHEN 2 * pos_left >= n_left THEN 'R'
                ELSE 'not_R' END AS predict_left,
           CASE WHEN 2 * pos_right >= n_right THEN 'R'
                ELSE 'not_R' END AS predict_right
    FROM ranked
    ORDER BY gini_scaled, feature, threshold LIMIT 1
    """,
    description="CART decision stump (Breiman 1984) predicting "
                "l_returnflag='R' — the unit step of boosted-tree "
                "quality filters, fit as pure aggregates: ONE scan "
                "unpivots both candidate features into a bounded "
                "per-value class histogram, left-side counts via a "
                "keyed triangular join, and the best split is the "
                "argmin of EXACT weighted Gini evaluated as a scaled "
                "decimal(38) integer division — no float compare "
                "anywhere, total-order tiebreak")
def q_decision_stump(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import decision_stump
    return decision_stump(load_table(spark, sf_dir, "lineitem"))


@_register(
    "seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    d2 AS (
      SELECT event_type, day, v,
             (day - DATE '1970-01-05') AS day_i
      FROM daily),
    win AS (
      SELECT a.event_type, a.day, a.v, a.day_i,
             CAST(sum(b.v) AS BIGINT) AS sum_w, count(*) AS n_w
      FROM d2 a JOIN d2 b
        ON b.event_type = a.event_type
       AND b.day_i BETWEEN a.day_i - 3 AND a.day_i + 3
      GROUP BY 1, 2, 3, 4),
    d4 AS (
      SELECT event_type, day, v, sum_w,
             7 * v - sum_w AS ds, day_i % 7 AS dow
      FROM win WHERE n_w = 7),
    seas AS (
      SELECT event_type, dow, CAST(sum(ds) AS BIGINT) AS s_ds,
             count(*) AS n_dow
      FROM d4 GROUP BY 1, 2)
    SELECT d4.event_type, strftime(day, '%Y-%m-%d') AS day,
           round(CAST(v AS DOUBLE) / 100.0, 2) AS obs,
           round(CAST(sum_w AS DOUBLE) / 700.0, 4) AS trend,
           round(CAST(s_ds AS DOUBLE) / (700.0 * n_dow), 4) + 0.0
               AS seasonal,
           round(CAST(ds AS DOUBLE) / 700.0
                 - CAST(s_ds AS DOUBLE) / (700.0 * n_dow), 4) + 0.0
               AS residual
    FROM d4 JOIN seas ON seas.event_type = d4.event_type
                     AND seas.dow = d4.dow
    """,
    description="classical additive seasonal decomposition "
                "(centered 7-day MA trend, raw day-of-week seasonal "
                "means of the detrended series, residual remainder; "
                "obs = trend + seasonal + residual) of each event_type's "
                "daily revenue: exact integer cents, full-window-"
                "guarded MA, period-scaled integer detrending, "
                "epoch-day dow (engine-neutral), fixed-form rounded "
                "divisions; |types x days| output from one "
                "map-side-combined aggregate")
def q_seasonal_decompose(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import events as E
    return E.seasonal_decompose(load_table(spark, sf_dir, "events"))


@_register(
    "golden_record",
    oracle=f"""
    WITH RECURSIVE {_LINKAGE_SQL},
    members AS (
      SELECT clean_key AS rec_key, name, nation, seg, bal_cents
      FROM clean
      UNION ALL
      SELECT dirty_key, d_name, d_nation, d_seg, d_bal_cents
      FROM dirty),
    edges AS (
      SELECT clean_key AS src, dirty_key AS dst FROM matched
      UNION ALL
      SELECT dirty_key, clean_key FROM matched),
    walk(node, lbl) AS (
      SELECT rec_key, rec_key FROM members
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
    comps AS (SELECT node AS rec_key, min(lbl) AS comp
              FROM walk GROUP BY node),
    m AS (SELECT mb.*, comp FROM members mb JOIN comps USING (rec_key)),
    gname AS (
      SELECT comp, name AS golden_name FROM (
        SELECT comp, name,
               row_number() OVER (PARTITION BY comp
                                  ORDER BY length(name) DESC, name) AS rn
        FROM m) WHERE rn = 1),
    ncnt AS (SELECT comp, nation, count(*) AS c FROM m GROUP BY 1, 2),
    gnat AS (
      SELECT comp, nation AS golden_nation FROM (
        SELECT comp, nation,
               row_number() OVER (PARTITION BY comp
                                  ORDER BY c DESC, nation) AS rn
        FROM ncnt) WHERE rn = 1),
    scnt AS (SELECT comp, seg, count(*) AS c FROM m GROUP BY 1, 2),
    gseg AS (
      SELECT comp, seg AS golden_seg FROM (
        SELECT comp, seg,
               row_number() OVER (PARTITION BY comp
                 ORDER BY (CASE WHEN seg = 'UNKNOWN' THEN 1 ELSE 0 END),
                          c DESC, seg) AS rn
        FROM scnt) WHERE rn = 1),
    master AS (
      SELECT comp, rec_key AS master_key,
             bal_cents AS master_bal_cents FROM (
        SELECT comp, rec_key, bal_cents,
               row_number() OVER (PARTITION BY comp
                                  ORDER BY rec_key) AS rn
        FROM m) WHERE rn = 1),
    sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_members
           FROM m GROUP BY comp)
    SELECT CAST(sz.comp AS BIGINT) AS entity_id, n_members,
           CAST(master_key AS BIGINT) AS master_key, golden_name,
           CAST(golden_nation AS INTEGER) AS golden_nation, golden_seg,
           CAST(master_bal_cents AS BIGINT) AS master_bal_cents
    FROM sz JOIN gname USING (comp) JOIN gnat USING (comp)
            JOIN gseg USING (comp) JOIN master USING (comp)
    """,
    description="MDM survivorship after Fellegi-Sunter linkage: "
                "connected components over the match pairs fold "
                "clean+dirty records into one golden record per "
                "entity under explicit deterministic rules — longest-"
                "then-lex name, mode-then-smallest nation, blank-"
                "demoted mode segment, master-record (min-key) "
                "balance; comp-partitioned windows and keyed "
                "aggregates only, |entities|-sized output")
def q_golden_record(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.linkage import golden_record
    return golden_record(load_table(spark, sf_dir, "customer"))


@_register(
    "l_diversity_audit",
    oracle=f"""
    WITH sens AS (
      SELECT c_nationkey AS nation,
             {_QI_BUCKET.format(w=50000)} AS bal_bucket,
             c_mktsegment AS seg, count(*) AS c
      FROM customer GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY nation, bal_bucket
                                   ORDER BY c DESC, seg) AS rn
      FROM sens),
    ls AS (SELECT unnest([2, 3]) AS l),
    per_group AS (
      SELECT nation, bal_bucket, l, sum(c) AS sz,
             count(*) AS n_distinct,
             max(CASE WHEN rn = 1 THEN c ELSE 0 END) AS r1,
             sum(CASE WHEN rn >= l THEN c ELSE 0 END) AS tail_l
      FROM ranked, ls GROUP BY 1, 2, 3)
    SELECT CAST(l AS BIGINT) AS l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_distinct < l THEN 1 ELSE 0 END)
                AS BIGINT) AS n_distinct_violating,
           CAST(sum(CASE WHEN n_distinct < l THEN sz ELSE 0 END)
                AS BIGINT) AS n_at_risk_records,
           CAST(sum(CASE WHEN r1 >= 3 * tail_l THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recursive_violating
    FROM per_group GROUP BY l
    """,
    description="l-diversity audit (Machanavajjhala 2006) under the "
                "(nation, $500 balance bucket) QI with market segment "
                "sensitive: distinct-l violations, at-risk records, "
                "and recursive (3,l)-diversity violations — all exact "
                "integer frequency-rank comparisons (no entropy float "
                "sums); one groupBy + partitioned rank window + "
                "broadcast 2-row l fan-out")
def q_l_diversity_audit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.governance import (
        l_diversity_audit)
    return l_diversity_audit(load_table(spark, sf_dir, "customer"))


@_register(
    "subsequence_patterns",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, ts, event_id FROM events),
    f1 AS (
      SELECT user_id, event_type AS t1,
             min(ROW(ts, event_id)) AS p1
      FROM ev GROUP BY 1, 2),
    f2 AS (
      SELECT e.user_id, f.t1, e.event_type AS t2,
             min(ROW(e.ts, e.event_id)) AS p2
      FROM ev e JOIN f1 f ON f.user_id = e.user_id
      WHERE ROW(e.ts, e.event_id) > f.p1
      GROUP BY 1, 2, 3),
    sup AS (
      SELECT f.t1, f.t2, e.event_type AS t3, e.user_id
      FROM ev e JOIN f2 f ON f.user_id = e.user_id
      WHERE ROW(e.ts, e.event_id) > f.p2
      GROUP BY 1, 2, 3, 4),
    cnt AS (
      SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_users
      FROM sup GROUP BY 1, 2, 3),
    tot AS (SELECT count(DISTINCT user_id) AS n_total FROM events)
    SELECT t1, t2, t3, n_users,
           round(n_users * 100.0 / n_total, 4) AS support_pct
    FROM cnt, tot
    """,
    description="gap-allowed length-3 sequential patterns (the "
                "PrefixSpan projection, Pei ICDE'01): distinct-user "
                "support of every ordered type triple as a "
                "SUBSEQUENCE under the total (ts, event_id) order, "
                "by greedy earliest matching — two user-keyed joins "
                "of the stream against bounded per-user frontier "
                "frames, |T|^3 output; the with-gaps complement of "
                "path_trigrams' contiguous windows")
def q_subsequence_patterns(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.assoc import (
        subsequence_patterns)
    return subsequence_patterns(load_table(spark, sf_dir, "events"))


@_register(
    "quantile_normalize",
    oracle="""
    WITH hist AS (
      SELECT n_chars AS q_val, count(*) AS c
      FROM documents GROUP BY 1),
    cum AS (
      SELECT a.q_val, a.c, sum(b.c) AS cum
      FROM hist a JOIN hist b ON b.q_val <= a.q_val
      GROUP BY 1, 2),
    ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
    nt AS (SELECT count(*) AS n_total FROM documents),
    ranked AS (
      SELECT d.doc_id, d.source, d.n_chars,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY d.n_chars, d.doc_id) AS r,
             n_s, n_total
      FROM documents d JOIN ns USING (source), nt)
    SELECT doc_id, source, n_chars,
           CAST(q_val AS BIGINT) AS norm_chars
    FROM ranked JOIN cum
      ON (r * n_total + n_s - 1) // n_s <= cum
     AND (r * n_total + n_s - 1) // n_s > cum - c
    """,
    description="quantile normalization (Bolstad 2003, unequal-size "
                "generalization) of each source's doc-length "
                "distribution onto the pooled distribution: integer "
                "within-source ranks (partitioned window), integer "
                "ceil target ranks, inverse CDF via the bounded "
                "length histogram's cumulative counts, single-match "
                "half-open-interval broadcast join — the per-source "
                "feature-alignment step before mixed-corpus models")
def q_quantile_normalize(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        quantile_normalize)
    return quantile_normalize(load_table(spark, sf_dir, "documents"))


def _exact_split_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.curation import (
        split_case_sql)
    case = split_case_sql().replace(" DIV ", " // ")
    return f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                           1, 8))::BIGINT
                        / 4294967296.0,
                        doc_id) AS r
      FROM documents),
    ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1)
    SELECT doc_id, source, {case} AS split
    FROM ranked JOIN ns USING (source)
    """


@_register(
    "exact_stratified_split",
    oracle=_exact_split_oracle,
    description="deterministic EXACT-count 800/100/100 permille "
                "train/val/test split per source by the largest-"
                "remainder (Hamilton) method over stratum-local md5 "
                "hash ranks — reproducible under repartitioning, "
                "retries and engines; the exact-allocation guarantee "
                "stratified_sample's one-pass rate formulation "
                "trades away; pure integer permille arithmetic via "
                "the shared split_case_sql text")
def q_exact_stratified_split(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        exact_stratified_split)
    return exact_stratified_split(load_table(spark, sf_dir, "documents"))


@_register(
    "bitmap_retention",
    oracle="""
    WITH mn AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    bm AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << off) AS bitmap
      FROM (SELECT user_id, (CAST(ts AS DATE) - d0) AS off
            FROM events, mn)
      WHERE off < 63
      GROUP BY user_id),
    weeks AS (SELECT unnest(range(8)) AS week),
    flags AS (
      SELECT week,
             CASE WHEN (bitmap & (CAST(127 AS BIGINT) << (week * 7)))
                       <> 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN (bitmap & (CAST(127 AS BIGINT) << (week * 7)))
                       <> 0
                   AND (bitmap & (CAST(127 AS BIGINT) << (week * 7 + 7)))
                       <> 0 THEN 1 ELSE 0 END AS r
      FROM bm, weeks),
    agg AS (
      SELECT week, CAST(sum(a) AS BIGINT) AS n_active,
             CAST(sum(r) AS BIGINT) AS n_retained_next
      FROM flags GROUP BY week)
    SELECT CAST(week AS BIGINT) AS week, n_active, n_retained_next,
           round(n_retained_next * 100.0 / n_active, 4) + 0.0
               AS retention_pct
    FROM agg WHERE n_active > 0
    """,
    description="week-over-week retention on PACKED activity bitmaps "
                "(the bit-index cohort idiom): each user's daily "
                "activity collapses to one BIGINT via a single "
                "bit_or aggregate — one stream scan ever; every "
                "retention question is then a bitwise mask test on "
                "the |users|-row bitmap frame fanned across a "
                "broadcast week frame; exact by construction (OR is "
                "order-free)")
def q_bitmap_retention(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        bitmap_retention)
    return bitmap_retention(load_table(spark, sf_dir, "events"))


@_register(
    "proximity_search",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    flat AS MATERIALIZED (
      SELECT doc_id, u.p AS pos, u.w AS w FROM (
        SELECT doc_id,
               unnest([{{'p': i, 'w': toks[i]}}
                       for i in generate_series(1, len(toks))]) AS u
        FROM d) q
      WHERE u.w IN ('data', 'query')),
    pairs AS (
      SELECT a.doc_id, abs(a.pos - b.pos) AS dist
      FROM flat a JOIN flat b
        ON b.doc_id = a.doc_id
       AND b.pos BETWEEN a.pos - 5 AND a.pos + 5
      WHERE a.w = 'data' AND b.w = 'query')
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(dist) AS BIGINT) AS min_dist
    FROM pairs GROUP BY doc_id
    """,
    description="NEAR/5 proximity search ('data' within 5 tokens of "
                "'query', either order): positional postings filtered "
                "to the two terms pre-shuffle, paired via POSITION "
                "BANDING (band = pos div k, a-side replicated to 3 "
                "adjacent bands by a broadcast offset frame, keyed "
                "equi-join) — fan-out bounded by positions-per-band, "
                "never tf-squared; each qualifying pair found by "
                "exactly one replica")
def q_proximity_search(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        proximity_search)
    return proximity_search(load_table(spark, sf_dir, "documents"))


@_register(
    "conversion_lag_quantiles",
    oracle="""
    WITH fs AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    fp AS (
      SELECT user_id, min(epoch_us(ts)) AS p_us
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    lag AS (
      SELECT CAST(floor((p_us - s_us) / 86400000000.0) AS BIGINT) AS d
      FROM fs JOIN fp USING (user_id) WHERE p_us >= s_us),
    hist AS (SELECT d, count(*) AS c FROM lag GROUP BY d),
    cum AS (
      SELECT a.d, sum(b.c) AS cum
      FROM hist a JOIN hist b ON b.d <= a.d GROUP BY a.d),
    tot AS (SELECT count(*) AS n FROM lag),
    qf AS (SELECT * FROM (VALUES (1, 4, 'p25'), (1, 2, 'p50'),
                                 (3, 4, 'p75'), (9, 10, 'p90'))
           AS t(qn, qd, q_label)),
    th AS (SELECT q_label, n, (qn * n + qd - 1) // qd AS r
           FROM tot, qf)
    SELECT q_label, CAST(n AS BIGINT) AS n_converted,
           CAST(min(d) AS BIGINT) AS lag_days
    FROM cum JOIN th ON cum.cum >= th.r
    GROUP BY q_label, n
    """,
    description="exact time-to-convert quantiles (p25/p50/p75/p90 of "
                "whole-day first-signup->first-purchase lag, "
                "converted users only) — kaplan_meier's uncensored "
                "companion: exact microsecond minimums, floor day "
                "bucketing, bounded lag histogram + triangular "
                "cumulative + integer ceil-rank selection")
def q_conversion_lag_quantiles(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        conversion_lag_quantiles)
    return conversion_lag_quantiles(load_table(spark, sf_dir, "events"))


def _burst_detect_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        burst_cost_exprs)
    ex = burst_cost_exprs()
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, sum(n) AS total, count(*) AS t_days
      FROM daily GROUP BY 1),
    costs AS MATERIALIZED (
      SELECT d.event_type,
             row_number() OVER (PARTITION BY d.event_type
                                ORDER BY d.day) AS i,
             s.t_days,
             {ex['c0']} AS c0, {ex['c1']} AS c1,
             {ex['trans']} AS trans
      FROM daily d JOIN stats s USING (event_type)),
    v(event_type, i, d0, d1, p0, p1) AS (
      SELECT event_type, i, c0, trans + c1, '0', '1'
      FROM costs WHERE i = 1
      UNION ALL
      SELECT c.event_type, c.i,
             least(v.d0, v.d1) + c.c0,
             least(v.d1, v.d0 + c.trans) + c.c1,
             (CASE WHEN v.d0 <= v.d1 THEN v.p0 ELSE v.p1 END) || '0',
             (CASE WHEN v.d0 + c.trans <= v.d1
                   THEN v.p0 ELSE v.p1 END) || '1'
      FROM v JOIN costs c ON c.event_type = v.event_type
                         AND c.i = v.i + 1),
    fin AS (
      SELECT v.event_type,
             CASE WHEN d0 <= d1 THEN p0 ELSE p1 END AS path, v.i
      FROM v JOIN costs c ON c.event_type = v.event_type
                         AND c.i = v.i AND v.i = c.t_days)
    SELECT event_type, CAST(i AS BIGINT) AS n_days,
           CAST(length(path) - length(replace(path, '1', ''))
                AS BIGINT) AS n_burst_days,
           path AS burst_path
    FROM fin
    """


@_register(
    "burst_detect",
    oracle=_burst_detect_oracle,
    description="Kleinberg 2-state burst detection (KDD'02) over "
                "each event type's daily counts: Poisson emission "
                "costs at base/2x rates and the ln(T+1) burst-entry "
                "cost, QUANTIZED to BIGINT micronats engine-side so "
                "the Viterbi fold is exact integer min-plus with "
                "fixed tie rules — pandas fold and recursive-CTE "
                "oracle replay the identical integer DP carrying "
                "both candidate path strings; output is the per-type "
                "burst labelling path")
def q_burst_detect(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import burst_detect
    return burst_detect(load_table(spark, sf_dir, "events"))


def _psi_drift_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        PSI_BUCKET_CENTS,
        PSI_N_BUCKETS,
        PSI_SCALE,
    )
    p = f"(CAST(n_ref + 1 AS DOUBLE) / (t_ref + {PSI_N_BUCKETS}))"
    q = f"(CAST(n_cur + 1 AS DOUBLE) / (t_cur + {PSI_N_BUCKETS}))"
    contrib = f"(({p} - {q}) * ln({p} / {q}))"
    return f"""
    WITH bounds AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS dmin,
             max(CAST(o_orderdate AS DATE)) AS dmax
      FROM orders),
    cnt AS (
      SELECT least({PSI_N_BUCKETS - 1},
                   CAST(round(o_totalprice * 100, 0) AS BIGINT)
                   // {PSI_BUCKET_CENTS}) AS bucket,
             sum(CASE WHEN CAST(o_orderdate AS DATE)
                      <= dmin + CAST((dmax - dmin) // 2 AS INTEGER)
                      THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN CAST(o_orderdate AS DATE)
                      <= dmin + CAST((dmax - dmin) // 2 AS INTEGER)
                      THEN 0 ELSE 1 END) AS n_cur
      FROM orders, bounds GROUP BY 1),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM cnt),
    per AS (
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             round({p}, 6) + 0.0 AS p_ref,
             round({q}, 6) + 0.0 AS p_cur,
             round({contrib}, 6) + 0.0 AS contribution,
             CAST(round(({contrib}) * {PSI_SCALE}, 0) AS BIGINT) AS c_mn
      FROM cnt, tot),
    total AS (SELECT sum(c_mn) / CAST({PSI_SCALE} AS DOUBLE) AS psi
              FROM per)
    SELECT bucket, n_ref, n_cur, p_ref, p_cur, contribution,
           round(psi, 6) + 0.0 AS psi
    FROM per, total
    """


@_register(
    "psi_drift",
    oracle=_psi_drift_oracle,
    description="Population Stability Index of the order-price "
                "distribution between the first and second half of "
                "the date range: fixed-width integer cent buckets "
                "(clamped top), add-one smoothing, per-bucket "
                "contributions as fixed-form expressions, and the "
                "headline PSI as the EXACT integer sum of 1e-8-"
                "quantized contributions (order-free) — the how-much "
                "drift metric next to drift_chisq's is-there-drift "
                "test")
def q_psi_drift(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import psi_drift
    return psi_drift(load_table(spark, sf_dir, "orders"))


def _tfidf_cosine_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.retrieval import (
        TFIDF_COS_MIN,
        TFIDF_MAX_DF,
        tfidf_weight_expr,
    )
    return f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0)) AS term
            FROM documents)
      GROUP BY 1, 2),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT doc_id, term, {tfidf_weight_expr()} AS w
      FROM tf JOIN dft USING (term), nd
      WHERE df >= 2 AND df * 2 <= n_docs AND df <= {TFIDF_MAX_DF}),
    norms AS (
      SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
      FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(CAST(a.w AS HUGEINT) * b.w) AS dot
      FROM w a JOIN w b USING (term)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    cosd AS (
      SELECT doc_a, doc_b,
             round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na.n2 AS DOUBLE))
                      * sqrt(CAST(nb.n2 AS DOUBLE))), 4) + 0.0 AS cosine
      FROM dots
      JOIN norms na ON na.doc_id = doc_a
      JOIN norms nb ON nb.doc_id = doc_b)
    SELECT doc_a, doc_b, cosine FROM cosd WHERE cosine >= {TFIDF_COS_MIN}
    """


@_register(
    "tfidf_cosine_pairs",
    oracle=_tfidf_cosine_oracle,
    description="all-pairs tf-idf cosine document similarity over "
                "the inverted index (Elsayed ACL'08): candidates from "
                "per-term posting joins under the band "
                "2<=df<=min(N/2, TFIDF_MAX_DF) — hot terms dropped "
                "pre-join with an ABSOLUTE posting cap bounding "
                "per-term fan-out (the sum-df^2 law), "
                "weights quantized to BIGINT micro-weights so dots "
                "and norms are exact decimal(38) sums; only the final "
                "dot/(sqrt*sqrt) is float (sqrt is correctly rounded "
                "=> portable), 4dp; the reworded-overlap lexical "
                "near-dup signal next to MinHash's shingle model")
def q_tfidf_cosine_pairs(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        tfidf_cosine_pairs)
    return tfidf_cosine_pairs(load_table(spark, sf_dir, "documents"))


@_register(
    "rolling_median_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v,
             (CAST(ts AS DATE) - DATE '1970-01-05') AS day_i
      FROM events GROUP BY 1, 2, 4),
    win AS (
      SELECT a.event_type, a.day, a.v, a.day_i, b.day_i AS j,
             b.v AS vj
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type
       AND b.day_i BETWEEN a.day_i - 3 AND a.day_i + 3),
    full_w AS (
      SELECT *, count(*) OVER (PARTITION BY event_type, day_i) AS n_w
      FROM win),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_type, day_i
                                   ORDER BY vj, j) AS rn
      FROM full_w WHERE n_w = 7)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(CAST(v AS DOUBLE) / 100.0, 2) AS obs,
           round(CAST(vj AS DOUBLE) / 100.0, 2) AS rolling_median
    FROM ranked WHERE rn = 4
    """,
    description="centered rolling 7-day MEDIAN of daily revenue per "
                "event type — the robust trend next to "
                "seasonal_decompose's mean: exact 4th-smallest "
                "integer-cent selection under a (value, day) total "
                "order via a banded self-join on the bounded daily "
                "frame + partitioned rank window; full windows only")
def q_rolling_median_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        rolling_median_daily)
    return rolling_median_daily(load_table(spark, sf_dir, "events"))


@_register(
    "also_bought_topk",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b,
             CAST(count(*) AS BIGINT) AS n_baskets
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3),
    sym AS (
      SELECT a AS part, b AS also, n_baskets FROM pairs
      UNION ALL
      SELECT b, a, n_baskets FROM pairs),
    ranked AS (
      SELECT part, also, n_baskets,
             row_number() OVER (PARTITION BY part
                                ORDER BY n_baskets DESC, also) AS rk
      FROM sym)
    SELECT part, CAST(rk AS BIGINT) AS rk, also, n_baskets
    FROM ranked WHERE rk <= 5
    """,
    description="per-item 'also bought' top-5 by same-basket "
                "co-occurrence — the ranked rec list over the basket "
                "suffix-slice pair enumeration (no fact self-join), "
                "item-partitioned rank window, deterministic ties, "
                "|parts|*k output; the oracle's DISTINCT self-join "
                "form proves the slice enumeration finds the "
                "identical pair multiset")
def q_also_bought_topk(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.assoc import (
        also_bought_topk)
    return also_bought_topk(load_table(spark, sf_dir, "lineitem"))


@_register(
    "erasure_cascade_audit",
    oracle="""
    WITH batch AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    ords AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM batch)),
    lvl AS (
      SELECT 'customer' AS table_name,
             (SELECT count(*) FROM batch) AS n_affected,
             (SELECT count(*) FROM customer) AS n_total
      UNION ALL
      SELECT 'orders', (SELECT count(*) FROM ords),
             (SELECT count(*) FROM orders)
      UNION ALL
      SELECT 'lineitem',
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM ords)),
             (SELECT count(*) FROM lineitem)
      UNION ALL
      SELECT 'events',
             (SELECT count(*) FROM events
              WHERE user_id IN (SELECT c_custkey FROM batch)),
             (SELECT count(*) FROM events))
    SELECT table_name, CAST(n_affected AS BIGINT) AS n_affected,
           CAST(n_total AS BIGINT) AS n_total,
           round(n_affected * 100.0 / n_total, 4) + 0.0
               AS affected_pct
    FROM lvl
    """,
    description="GDPR right-to-erasure blast-radius audit: the "
                "deterministic c_custkey%97 batch cascaded through "
                "keyed semi-joins customer->orders->lineitem plus "
                "the user-keyed event stream; per-table affected "
                "rows and share, 4-row output — the dry run a "
                "privacy team signs off before the delete ships")
def q_erasure_cascade_audit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.governance import (
        erasure_cascade_audit)
    return erasure_cascade_audit(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "events"))


def _sax_daily_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        SAX_BREAKS,
        SAX_SEG_DAYS,
        sax_z_expr,
    )
    b1, b2, b3 = SAX_BREAKS
    z = sax_z_expr()
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS i
      FROM daily),
    segs AS (
      SELECT event_type, (i - 1) // {SAX_SEG_DAYS} AS k,
             sum(v) AS seg_sum, count(*) AS seg_len
      FROM idx GROUP BY 1, 2),
    mom AS (
      SELECT event_type, sum(v) AS sv,
             sum(CAST(v AS HUGEINT) * v) AS svv, count(*) AS n
      FROM daily GROUP BY 1),
    lettered AS (
      SELECT s.event_type, s.k,
             CASE WHEN ({z}) < CAST({b1} AS DOUBLE) THEN 'a'
                  WHEN ({z}) < CAST({b2} AS DOUBLE) THEN 'b'
                  WHEN ({z}) < CAST({b3} AS DOUBLE) THEN 'c'
                  ELSE 'd' END AS sym
      FROM segs s JOIN mom USING (event_type))
    SELECT event_type, string_agg(sym, '' ORDER BY k) AS sax_word,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM lettered GROUP BY event_type
    """


@_register(
    "sax_daily",
    oracle=_sax_daily_oracle,
    description="SAX symbolic fingerprint (Lin/Keogh DMKD'03, "
                "alphabet 4, 5-day PAA) of each event type's daily "
                "revenue: exact integer segment sums and moments, "
                "one fixed-form z expression per segment (shared "
                "text, sqrt portable), Gaussian-quartile breakpoint "
                "CASE, order-keyed word assembly — the discretized "
                "series fingerprint for motif/similarity lookups by "
                "string equality")
def q_sax_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import sax_daily
    return sax_daily(load_table(spark, sf_dir, "events"))



def _greedy_coverage_oracle() -> str:
    return """
    WITH pt AS MATERIALIZED (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{{re}}', 0)) AS tok
        FROM documents)),
    cov0(tok) AS (SELECT CAST(NULL AS VARCHAR) WHERE 1 = 0),
    sel0(doc_id) AS (SELECT CAST(NULL AS BIGINT) WHERE 1 = 0),
    g1 AS MATERIALIZED (
      SELECT doc_id, count(*) AS gain FROM pt
      WHERE tok NOT IN (SELECT tok FROM cov0)
        AND doc_id NOT IN (SELECT doc_id FROM sel0)
      GROUP BY doc_id),
    s1 AS MATERIALIZED (
      SELECT 1 AS pick_rank, doc_id, gain FROM g1
      ORDER BY gain DESC, doc_id LIMIT 1),
    cov1 AS MATERIALIZED (
      SELECT tok FROM cov0
      UNION
      SELECT tok FROM pt WHERE doc_id IN (SELECT doc_id FROM s1)),
    sel1 AS MATERIALIZED (
      SELECT doc_id FROM sel0 UNION SELECT doc_id FROM s1),
    g2 AS MATERIALIZED (
      SELECT doc_id, count(*) AS gain FROM pt
      WHERE tok NOT IN (SELECT tok FROM cov1)
        AND doc_id NOT IN (SELECT doc_id FROM sel1)
      GROUP BY doc_id),
    s2 AS MATERIALIZED (
      SELECT 2 AS pick_rank, doc_id, gain FROM g2
      ORDER BY gain DESC, doc_id LIMIT 1),
    cov2 AS MATERIALIZED (
      SELECT tok FROM cov1
      UNION
      SELECT tok FROM pt WHERE doc_id IN (SELECT doc_id FROM s2)),
    sel2 AS MATERIALIZED (
      SELECT doc_id FROM sel1 UNION SELECT doc_id FROM s2),
    g3 AS MATERIALIZED (
      SELECT doc_id, count(*) AS gain FROM pt
      WHERE tok NOT IN (SELECT tok FROM cov2)
        AND doc_id NOT IN (SELECT doc_id FROM sel2)
      GROUP BY doc_id),
    s3 AS MATERIALIZED (
      SELECT 3 AS pick_rank, doc_id, gain FROM g3
      ORDER BY gain DESC, doc_id LIMIT 1),
    cov3 AS MATERIALIZED (
      SELECT tok FROM cov2
      UNION
      SELECT tok FROM pt WHERE doc_id IN (SELECT doc_id FROM s3)),
    sel3 AS MATERIALIZED (
      SELECT doc_id FROM sel2 UNION SELECT doc_id FROM s3),
    g4 AS MATERIALIZED (
      SELECT doc_id, count(*) AS gain FROM pt
      WHERE tok NOT IN (SELECT tok FROM cov3)
        AND doc_id NOT IN (SELECT doc_id FROM sel3)
      GROUP BY doc_id),
    s4 AS MATERIALIZED (
      SELECT 4 AS pick_rank, doc_id, gain FROM g4
      ORDER BY gain DESC, doc_id LIMIT 1),
    cov4 AS MATERIALIZED (
      SELECT tok FROM cov3
      UNION
      SELECT tok FROM pt WHERE doc_id IN (SELECT doc_id FROM s4)),
    sel4 AS MATERIALIZED (
      SELECT doc_id FROM sel3 UNION SELECT doc_id FROM s4),
    g5 AS MATERIALIZED (
      SELECT doc_id, count(*) AS gain FROM pt
      WHERE tok NOT IN (SELECT tok FROM cov4)
        AND doc_id NOT IN (SELECT doc_id FROM sel4)
      GROUP BY doc_id),
    s5 AS MATERIALIZED (
      SELECT 5 AS pick_rank, doc_id, gain FROM g5
      ORDER BY gain DESC, doc_id LIMIT 1),
    cov5 AS MATERIALIZED (
      SELECT tok FROM cov4
      UNION
      SELECT tok FROM pt WHERE doc_id IN (SELECT doc_id FROM s5)),
    sel5 AS MATERIALIZED (
      SELECT doc_id FROM sel4 UNION SELECT doc_id FROM s5)
    SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, CAST(gain AS BIGINT) AS gain, (SELECT CAST(count(*) AS BIGINT) FROM cov1) AS covered_total FROM s1
      UNION ALL
      SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, CAST(gain AS BIGINT) AS gain, (SELECT CAST(count(*) AS BIGINT) FROM cov2) AS covered_total FROM s2
      UNION ALL
      SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, CAST(gain AS BIGINT) AS gain, (SELECT CAST(count(*) AS BIGINT) FROM cov3) AS covered_total FROM s3
      UNION ALL
      SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, CAST(gain AS BIGINT) AS gain, (SELECT CAST(count(*) AS BIGINT) FROM cov4) AS covered_total FROM s4
      UNION ALL
      SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, CAST(gain AS BIGINT) AS gain, (SELECT CAST(count(*) AS BIGINT) FROM cov5) AS covered_total FROM s5
    """.replace("{{re}}", _WORD_RE_SQL)


@_register(
    "greedy_coverage_select",
    oracle=_greedy_coverage_oracle,
    description="greedy maximum-coverage selection of <=5 docs (the "
                "(1-1/e) submodular pick, Nemhauser 1978): each round "
                "takes the doc with the largest MARGINAL new-vocab "
                "gain — ties (gain DESC, doc_id) — and selection "
                "stops early once coverage saturates (zero-gain "
                "picks are noise); one tokenize into a persisted "
                "distinct posting frame, per-round anti-join + count "
                "+ deterministic 1-row TakeOrdered, zero driver "
                "collects; oracle unrolls the identical rounds as "
                "MATERIALIZED CTEs")
def q_greedy_coverage_select(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        greedy_coverage_select)
    return greedy_coverage_select(load_table(spark, sf_dir, "documents"))


@_register(
    "dtw_daily_pairs",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    pl AS MATERIALIZED (
      SELECT t1.event_type AS t1, t2.event_type AS t2,
             (SELECT list(v ORDER BY day) FROM daily
              WHERE event_type = t1.event_type) AS va,
             (SELECT list(v ORDER BY day) FROM daily
              WHERE event_type = t2.event_type) AS vb
      FROM (SELECT DISTINCT event_type FROM daily) t1
      JOIN (SELECT DISTINCT event_type FROM daily) t2
        ON t1.event_type < t2.event_type),
    walk(t1, t2, idx, dp) AS (
      SELECT t1, t2, 1,
             [abs(va[1] - vb[1])]
      FROM pl
      UNION ALL
      SELECT w.t1, w.t2, w.idx + 1,
             list_append(w.dp,
               abs(p.va[(w.idx) // len(p.vb) + 1]
                   - p.vb[(w.idx) % len(p.vb) + 1])
               + CASE
                   WHEN (w.idx) // len(p.vb) + 1 = 1
                     THEN w.dp[w.idx]
                   WHEN (w.idx) % len(p.vb) + 1 = 1
                     THEN w.dp[w.idx + 1 - len(p.vb)]
                   ELSE least(w.dp[w.idx + 1 - len(p.vb)],
                              w.dp[w.idx],
                              w.dp[w.idx - len(p.vb)])
                 END)
      FROM walk w JOIN pl p ON p.t1 = w.t1 AND p.t2 = w.t2
      WHERE w.idx < len(p.va) * len(p.vb))
    SELECT w.t1, w.t2,
           CAST(len(p.va) AS BIGINT) AS n1,
           CAST(len(p.vb) AS BIGINT) AS n2,
           CAST(dp[idx] AS BIGINT) AS dtw_cents
    FROM walk w JOIN pl p ON p.t1 = w.t1 AND p.t2 = w.t2
    WHERE w.idx = len(p.va) * len(p.vb)
    """,
    description="dynamic-time-warping distance between every pair "
                "of event types' daily-revenue series — exact "
                "integer min-plus over |a_i - b_j| cents, full DP; "
                "the oracle walks the table row-major as ONE "
                "recursive chain (state = DP prefix list, "
                "up/left/diag as list lookups), the Spark side runs "
                "the identical fold per pair in one Arrow batch; "
                "DP work bounded by the calendar window, never "
                "corpus size")
def q_dtw_daily_pairs(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        dtw_daily_pairs)
    return dtw_daily_pairs(load_table(spark, sf_dir, "events"))



def _k_center_oracle() -> str:
    return """WITH qv AS MATERIALIZED (
      SELECT vec_id, j.j AS j,
             CAST(round(embedding[j.j]::DOUBLE * 10000) AS BIGINT) AS q
      FROM embeddings, generate_series(1, 64) j(j)),
    c1 AS (SELECT min(vec_id) AS cid FROM embeddings),
    d1 AS MATERIALIZED (
      SELECT a.vec_id,
             100000000 - sum(a.q * b.q) AS dmin
      FROM qv a JOIN qv b ON b.j = a.j
      JOIN c1 ON b.vec_id = c1.cid
      GROUP BY a.vec_id),
    s2 AS MATERIALIZED (
      SELECT vec_id, dmin FROM d1
      ORDER BY dmin DESC, vec_id LIMIT 1),
    d2 AS MATERIALIZED (
      SELECT d.vec_id,
             least(d.dmin,
                   100000000 - (SELECT sum(a.q * b.q)
                                FROM qv a JOIN qv b ON b.j = a.j
                                JOIN s2 ON b.vec_id = s2.vec_id
                                WHERE a.vec_id = d.vec_id)) AS dmin
      FROM d1 d),
    s3 AS MATERIALIZED (
      SELECT vec_id, dmin FROM d2
      ORDER BY dmin DESC, vec_id LIMIT 1),
    d3 AS MATERIALIZED (
      SELECT d.vec_id,
             least(d.dmin,
                   100000000 - (SELECT sum(a.q * b.q)
                                FROM qv a JOIN qv b ON b.j = a.j
                                JOIN s3 ON b.vec_id = s3.vec_id
                                WHERE a.vec_id = d.vec_id)) AS dmin
      FROM d2 d),
    s4 AS MATERIALIZED (
      SELECT vec_id, dmin FROM d3
      ORDER BY dmin DESC, vec_id LIMIT 1),
    d4 AS MATERIALIZED (
      SELECT d.vec_id,
             least(d.dmin,
                   100000000 - (SELECT sum(a.q * b.q)
                                FROM qv a JOIN qv b ON b.j = a.j
                                JOIN s4 ON b.vec_id = s4.vec_id
                                WHERE a.vec_id = d.vec_id)) AS dmin
      FROM d3 d),
    s5 AS MATERIALIZED (
      SELECT vec_id, dmin FROM d4
      ORDER BY dmin DESC, vec_id LIMIT 1),
    d5 AS MATERIALIZED (
      SELECT d.vec_id,
             least(d.dmin,
                   100000000 - (SELECT sum(a.q * b.q)
                                FROM qv a JOIN qv b ON b.j = a.j
                                JOIN s5 ON b.vec_id = s5.vec_id
                                WHERE a.vec_id = d.vec_id)) AS dmin
      FROM d4 d),
    radius AS (SELECT CAST(max(dmin) AS BIGINT) AS coverage_radius
               FROM d5),
    picks AS (
      SELECT 1 AS pick_rank, cid AS vec_id,
             CAST(100000000 AS BIGINT) AS separation FROM c1
      UNION ALL
      SELECT 2, vec_id, CAST(dmin AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, vec_id, CAST(dmin AS BIGINT) FROM s3
      UNION ALL
      SELECT 4, vec_id, CAST(dmin AS BIGINT) FROM s4
      UNION ALL
      SELECT 5, vec_id, CAST(dmin AS BIGINT) FROM s5)
    SELECT CAST(pick_rank AS BIGINT) AS pick_rank, vec_id,
           separation, coverage_radius
    FROM picks, radius
    """


@_register(
    "k_center_select",
    oracle=_k_center_oracle,
    description="greedy k-center coreset over embeddings (Gonzalez "
                "1985 farthest-point, k=5): the embedding-space "
                "diversity pick next to greedy_coverage_select's "
                "lexical one — 1e-4-grid integer quantization, "
                "exact-int cosine distances, per-round broadcast of "
                "the 1-row new center + least() fold + deterministic "
                "TakeOrdered, zero collects; reports each pick's "
                "separation and the final coverage radius (the "
                "k-center objective), all exact integers")
def q_k_center_select(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.coreset import (
        k_center_select)
    return k_center_select(load_table(spark, sf_dir, "embeddings"))


@_register(
    "ltv_cohort_curves",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events),
    fu AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
    sizes AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_users
              FROM fu GROUP BY 1),
    wk_rev AS (
      SELECT cohort_wk, e.wk - cohort_wk AS age,
             CAST(sum(c) AS BIGINT) AS rev
      FROM ev e JOIN fu USING (user_id)
      GROUP BY 1, 2),
    cum AS (
      SELECT a.cohort_wk, a.age, CAST(sum(b.rev) AS BIGINT) AS cum_cents
      FROM wk_rev a JOIN wk_rev b
        ON b.cohort_wk = a.cohort_wk AND b.age <= a.age
      GROUP BY 1, 2)
    SELECT CAST(cum.cohort_wk AS BIGINT) AS cohort_week,
           CAST(age AS BIGINT) AS age_weeks, n_users,
           round(CAST(cum_cents AS DOUBLE) / 100.0, 2) AS cum_revenue,
           round(CAST(cum_cents AS DOUBLE) / (100.0 * n_users), 4)
               AS revenue_per_user
    FROM cum JOIN sizes ON sizes.cohort_wk = cum.cohort_wk
    """,
    description="cumulative LTV curves by first-event-week cohort "
                "(the revenue companion to retention_cohorts): "
                "integer epoch-week cohorts/ages, exact cent sums, "
                "keyed triangular cumulative over the bounded "
                "cohort x age frame, fixed-form per-user ratio — "
                "the payback-period curve")
def q_ltv_cohort_curves(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        ltv_cohort_curves)
    return ltv_cohort_curves(load_table(spark, sf_dir, "events"))


@_register(
    "eb_shrunk_rates",
    oracle="""
    WITH per AS (
      SELECT l_partkey AS part, count(*) AS n,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x,
             (sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              * 1000000) // count(*) AS rs
      FROM lineitem GROUP BY 1),
    mom AS (
      SELECT count(*) AS k, sum(rs) AS s1,
             sum(CAST(rs AS HUGEINT) * rs) AS s2
      FROM per),
    ab AS (
      SELECT (CAST(s1 AS DOUBLE) / k / 1000000.0)
             * ((CAST(s1 AS DOUBLE) / k / 1000000.0)
                * (1.0 - (CAST(s1 AS DOUBLE) / k / 1000000.0))
                / (CAST(s2 AS DOUBLE) / k / 1000000.0 / 1000000.0
                   - (CAST(s1 AS DOUBLE) / k / 1000000.0)
                     * (CAST(s1 AS DOUBLE) / k / 1000000.0)) - 1.0)
             AS a,
             (1.0 - (CAST(s1 AS DOUBLE) / k / 1000000.0))
             * ((CAST(s1 AS DOUBLE) / k / 1000000.0)
                * (1.0 - (CAST(s1 AS DOUBLE) / k / 1000000.0))
                / (CAST(s2 AS DOUBLE) / k / 1000000.0 / 1000000.0
                   - (CAST(s1 AS DOUBLE) / k / 1000000.0)
                     * (CAST(s1 AS DOUBLE) / k / 1000000.0)) - 1.0)
             AS b
      FROM mom)
    SELECT part, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
           round(CAST(x AS DOUBLE) / n, 6) + 0.0 AS raw_rate,
           round((a + x) / (a + b + n), 6) + 0.0 AS shrunk_rate
    FROM per, ab
    ORDER BY shrunk_rate DESC, part LIMIT 50
    """,
    description="empirical-Bayes Beta shrinkage of per-part return "
                "rates (method-of-moments prior, Robbins 1956): raw "
                "rate moments as exact scaled-integer sums, prior "
                "(a,b) computed once in a broadcast 1-row frame, "
                "shrunk rate one fixed-form expression — the "
                "small-sample rate stabilization behind every "
                "product-score ranking; deterministic top-50 cut")
def q_eb_shrunk_rates(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        eb_shrunk_rates)
    return eb_shrunk_rates(load_table(spark, sf_dir, "lineitem"))


@_register(
    "emd_length_drift",
    oracle="""
    WITH hist_p AS (
      SELECT n_chars AS v, count(*) AS cp FROM documents GROUP BY 1),
    cum_p AS (
      SELECT a.v, sum(b.cp) AS cump
      FROM hist_p a JOIN hist_p b ON b.v <= a.v GROUP BY a.v),
    gaps AS (
      SELECT a.v, min(b.v) - a.v AS gap
      FROM hist_p a JOIN hist_p b ON b.v > a.v GROUP BY a.v),
    ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
    nt AS (SELECT count(*) AS n_total FROM documents),
    hist_s AS (
      SELECT source, n_chars AS vs, count(*) AS cs
      FROM documents GROUP BY 1, 2),
    cum_s AS (
      SELECT sv.source, sv.v,
             COALESCE(sum(h.cs), 0) AS cums
      FROM (SELECT source, v FROM ns, hist_p) sv
      LEFT JOIN hist_s h
        ON h.source = sv.source AND h.vs <= sv.v
      GROUP BY 1, 2)
    SELECT s.source, CAST(ns.n_s AS BIGINT) AS n_docs,
           round(CAST(sum(abs(CAST(cums AS HUGEINT) * n_total
                              - CAST(cump AS HUGEINT) * n_s) * gap)
                      AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * n_total), 4) + 0.0
               AS emd_chars
    FROM cum_s s
    JOIN cum_p ON cum_p.v = s.v
    JOIN gaps ON gaps.v = s.v
    JOIN ns ON ns.source = s.source, nt
    GROUP BY s.source, ns.n_s, n_total
    """,
    description="per-source 1-D earth-mover (Wasserstein) distance "
                "between the source's doc-length distribution and "
                "the pooled corpus, in characters — the mass-"
                "transport drift metric next to psi_drift and "
                "ks_two_sample: exact integer scaled-CDF-difference "
                "x value-gap terms in decimal(38), one final "
                "fixed-form division; bounded length histograms, "
                "keyed triangular cumulatives")
def q_emd_length_drift(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        emd_length_drift)
    return emd_length_drift(load_table(spark, sf_dir, "documents"))



def _v_optimal_oracle() -> str:
    return """WITH hist AS (
      SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT a.v, a.c, CAST(count(*) AS INT) AS i
      FROM hist a JOIN hist b ON b.v <= a.v GROUP BY a.v, a.c),
    seg AS MATERIALIZED (
      SELECT a.i AS a, b.i AS b, sum(j.c) AS m,
             CAST((sum(CAST(j.c AS HUGEINT) * j.v * j.v) * sum(j.c)
                   - sum(CAST(j.c AS HUGEINT) * j.v)
                     * sum(CAST(j.c AS HUGEINT) * j.v))
                  // sum(j.c) AS HUGEINT) AS sse
      FROM idx a JOIN idx b ON a.i <= b.i
      JOIN idx j ON j.i BETWEEN a.i AND b.i
      GROUP BY a.i, b.i),
    d1 AS MATERIALIZED (SELECT b, sse AS d FROM seg WHERE a = 1),
    d2 AS MATERIALIZED (
      SELECT s.b, min(p.d + s.sse) AS d
      FROM seg s JOIN d1 p ON p.b = s.a - 1
      GROUP BY s.b),
    d3 AS MATERIALIZED (
      SELECT s.b, min(p.d + s.sse) AS d
      FROM seg s JOIN d2 p ON p.b = s.a - 1
      GROUP BY s.b),
    bk4 AS MATERIALIZED (
      SELECT s.a, s.b FROM seg s
      JOIN d3 p ON p.b = s.a - 1
      WHERE s.b = (SELECT max(i) FROM idx)
      ORDER BY p.d + s.sse, s.a LIMIT 1),
    bk3 AS MATERIALIZED (
      SELECT s.a, s.b FROM seg s
      JOIN d2 p ON p.b = s.a - 1
      WHERE s.b = (SELECT a - 1 FROM bk4)
      ORDER BY p.d + s.sse, s.a LIMIT 1),
    bk2 AS MATERIALIZED (
      SELECT s.a, s.b FROM seg s
      JOIN d1 p ON p.b = s.a - 1
      WHERE s.b = (SELECT a - 1 FROM bk3)
      ORDER BY p.d + s.sse, s.a LIMIT 1),
    bk1 AS (SELECT 1 AS a, (SELECT a - 1 FROM bk2) AS b),
    bins AS (
      SELECT 1 AS bin, a, b FROM bk1
      UNION ALL
      SELECT 2 AS bin, a, b FROM bk2
      UNION ALL
      SELECT 3 AS bin, a, b FROM bk3
      UNION ALL
      SELECT 4 AS bin, a, b FROM bk4)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(la.v AS BIGINT) AS lo, CAST(lb.v AS BIGINT) AS hi,
           CAST(s.m AS BIGINT) AS n_docs, CAST(s.sse AS BIGINT) AS sse_q
    FROM bins
    JOIN seg s ON s.a = bins.a AND s.b = bins.b
    JOIN idx la ON la.i = bins.a
    JOIN idx lb ON lb.i = bins.b
    """


@_register(
    "v_optimal_histogram",
    oracle=_v_optimal_oracle,
    description="V-optimal histogram (Jagadish VLDB'98, 4 bins) over "
                "the doc-length domain: exact DP on the bounded value "
                "histogram with interval SSE quantized to integer "
                "units via decimal(38) prefix-moment arithmetic "
                "(floor div, engine-identical); argmin splits tie to "
                "the smallest boundary; oracle unrolls DP layers and "
                "the backtrack as MATERIALIZED CTEs — the synopsis a "
                "cost-based optimizer builds where equi-width "
                "misestimates skew")
def q_v_optimal_histogram(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        v_optimal_histogram)
    return v_optimal_histogram(load_table(spark, sf_dir, "documents"))


@_register(
    "join_skew_profile",
    oracle="""
    WITH cnt AS (
      SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
    prof AS (
      SELECT count(*) AS n_keys, sum(cnt) AS total,
             max(cnt) AS max_cnt
      FROM cnt)
    SELECT CAST(k AS BIGINT) AS key, CAST(cnt AS BIGINT) AS n_rows,
           CAST((cnt * 10000) // total AS BIGINT) AS share_bp,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST((max_cnt * 100 * n_keys) // total AS BIGINT)
               AS straggler_x100,
           CAST(ceil(max_cnt * 32 / CAST(total AS DOUBLE)) AS BIGINT)
               AS salt_buckets
    FROM cnt, prof
    ORDER BY n_rows DESC, key LIMIT 10
    """,
    description="pre-join skew diagnosis on the event user key: "
                "top-10 hottest keys with share (basis points), the "
                "max/avg straggler factor, and the recommended salt "
                "bucket count ceil(max*P/total) — the measurement "
                "that decides whether salted_replicate_join is "
                "needed; one key count + broadcast 1-row profile, "
                "all integer DIV arithmetic")
def q_join_skew_profile(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.skew import (
        join_skew_profile)
    return join_skew_profile(load_table(spark, sf_dir, "events"))


@_register(
    "encoding_advisor",
    oracle="""
    WITH vals AS (
      SELECT 'l_quantity' AS col, CAST(l_quantity AS VARCHAR) AS v
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', CAST(l_extendedprice AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'l_shipdate',
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                  AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', l_returnflag FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', l_linestatus FROM lineitem),
    per_val AS (
      SELECT col, v, count(*) AS c FROM vals GROUP BY 1, 2),
    st AS (
      SELECT col, sum(c) AS n, count(*) AS n_distinct,
             max(c) AS top1
      FROM per_val GROUP BY col)
    SELECT col AS column_name,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST((n_distinct * 10000) // n AS BIGINT) AS distinct_bp,
           CAST((top1 * 10000) // n AS BIGINT) AS top1_bp,
           CASE WHEN n_distinct <= 64 THEN 'RLE_DICT'
                WHEN (n_distinct * 10000) // n <= 500 THEN 'DICT'
                ELSE 'PLAIN' END AS recommendation
    FROM st
    """,
    description="columnar-encoding advisor over six lineitem "
                "columns: one unpivoting scan -> per-column value "
                "counts (map-side combined), distinct/mode shares "
                "in integer basis points, DICT/RLE-DICT/PLAIN "
                "recommendation as an integer CASE — the parquet "
                "writer heuristics made explicit and auditable")
def q_encoding_advisor(spark, sf_dir):
    from cloud_native_mapreduce_spark.sources.formats import (
        encoding_advisor)
    return encoding_advisor(load_table(spark, sf_dir, "lineitem"))



def _nb_learning_curve_oracle() -> str:
    return """WITH ttc AS MATERIALIZED (
      SELECT doc_id, actual_lang, tok, count(*) AS n
      FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2, 3),
    traina AS (SELECT * FROM documents WHERE doc_id % 5 = 1),
    tla AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM traina)
      GROUP BY 1, 2),
    vocaba AS (SELECT count(DISTINCT tok) AS v FROM tla),
    totalsa AS (SELECT lang, sum(c) AS ctot FROM tla GROUP BY lang),
    nta AS (SELECT count(*) AS n_total FROM traina),
    priorsa AS (SELECT lang, count(*) AS n_docs FROM traina
                    GROUP BY lang),
    lfa AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsa p JOIN totalsa t USING (lang),
           nta, vocaba v),
    modela AS (
      SELECT tla.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tla JOIN lfa ON tla.lang = lfa.lang),
    scoreda AS (
      SELECT doc_id, actual_lang, lfa.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfa.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfa
      LEFT JOIN modela m
        ON m.lang = lfa.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfa.lang, prior_mn),
    preda AS (
      SELECT doc_id, actual_lang, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scoreda),
    rowa AS (
      SELECT CAST(1 AS BIGINT) AS n_train_folds,
             (SELECT CAST(count(*) AS BIGINT) FROM traina)
                 AS n_train,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             CAST((sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                   * 10000) // count(*) AS BIGINT) AS accuracy_bp
      FROM preda WHERE rk = 1),
    trainb AS (SELECT * FROM documents WHERE doc_id % 5 IN (1, 2)),
    tlb AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM trainb)
      GROUP BY 1, 2),
    vocabb AS (SELECT count(DISTINCT tok) AS v FROM tlb),
    totalsb AS (SELECT lang, sum(c) AS ctot FROM tlb GROUP BY lang),
    ntb AS (SELECT count(*) AS n_total FROM trainb),
    priorsb AS (SELECT lang, count(*) AS n_docs FROM trainb
                    GROUP BY lang),
    lfb AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsb p JOIN totalsb t USING (lang),
           ntb, vocabb v),
    modelb AS (
      SELECT tlb.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tlb JOIN lfb ON tlb.lang = lfb.lang),
    scoredb AS (
      SELECT doc_id, actual_lang, lfb.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfb.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfb
      LEFT JOIN modelb m
        ON m.lang = lfb.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfb.lang, prior_mn),
    predb AS (
      SELECT doc_id, actual_lang, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scoredb),
    rowb AS (
      SELECT CAST(2 AS BIGINT) AS n_train_folds,
             (SELECT CAST(count(*) AS BIGINT) FROM trainb)
                 AS n_train,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             CAST((sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                   * 10000) // count(*) AS BIGINT) AS accuracy_bp
      FROM predb WHERE rk = 1),
    trainc AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    tlc AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM trainc)
      GROUP BY 1, 2),
    vocabc AS (SELECT count(DISTINCT tok) AS v FROM tlc),
    totalsc AS (SELECT lang, sum(c) AS ctot FROM tlc GROUP BY lang),
    ntc AS (SELECT count(*) AS n_total FROM trainc),
    priorsc AS (SELECT lang, count(*) AS n_docs FROM trainc
                    GROUP BY lang),
    lfc AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsc p JOIN totalsc t USING (lang),
           ntc, vocabc v),
    modelc AS (
      SELECT tlc.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tlc JOIN lfc ON tlc.lang = lfc.lang),
    scoredc AS (
      SELECT doc_id, actual_lang, lfc.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfc.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfc
      LEFT JOIN modelc m
        ON m.lang = lfc.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfc.lang, prior_mn),
    predc AS (
      SELECT doc_id, actual_lang, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scoredc),
    rowc AS (
      SELECT CAST(4 AS BIGINT) AS n_train_folds,
             (SELECT CAST(count(*) AS BIGINT) FROM trainc)
                 AS n_train,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             CAST((sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                   * 10000) // count(*) AS BIGINT) AS accuracy_bp
      FROM predc WHERE rk = 1)
    SELECT * FROM rowa
    UNION ALL SELECT * FROM rowb
    UNION ALL SELECT * FROM rowc
    """.replace("{re}", _WORD_RE_SQL)


@_register(
    "nb_learning_curve",
    oracle=_nb_learning_curve_oracle,
    description="NB accuracy vs training-set size (1, 2, 4 of the "
                "training folds; test fold fixed): three passes of "
                "the micronat-quantized NB pipeline on shrinking "
                "corpora, accuracy as exact integer basis points — "
                "the is-more-labelled-data-worth-it curve; model "
                "eval family next to naive_bayes_lang's confusion "
                "matrix")
def q_nb_learning_curve(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        nb_learning_curve)
    return nb_learning_curve(load_table(spark, sf_dir, "documents"))


@_register(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v,
             (CAST(ts AS DATE) - DATE '1970-01-05') AS i
      FROM events GROUP BY 1, 2, 4),
    slopes AS (
      SELECT a.event_type, a.i, b.i AS j,
             b.v - a.v AS num, b.i - a.i AS den,
             CAST(b.v - a.v AS DOUBLE) / (b.i - a.i) AS slope_d
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.i > a.i),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_d, i, j) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM slopes)
    SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(num AS BIGINT) AS slope_num_cents,
           CAST(den AS BIGINT) AS slope_den_days,
           round(CAST(num AS DOUBLE) / (den * 100.0), 6) + 0.0
               AS slope_dollars_per_day
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
    description="Theil-Sen robust trend per event type: the median "
                "of all pairwise daily-revenue slopes (exact cent/"
                "day rationals; ordering by the deterministic single "
                "division with an (i,j) tiebreak; type-partitioned "
                "rank window over the calendar-bounded pair frame) — "
                "29.3% breakdown where OLS chases every outlier; "
                "reports the exact rational alongside the 6dp slope")
def q_theil_sen_trend(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        theil_sen_trend)
    return theil_sen_trend(load_table(spark, sf_dir, "events"))


@_register(
    "mad_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    med AS (
      SELECT event_type, v AS med, n_days FROM (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily) WHERE rn = (n_days + 1) // 2),
    dev AS (
      SELECT d.event_type, d.day, m.n_days, m.med,
             abs(d.v - m.med) AS ad
      FROM daily d JOIN med m ON m.event_type = d.event_type)
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           round(CAST(med AS DOUBLE) / 100.0, 2) AS median_revenue,
           round(CAST(ad AS DOUBLE) / 100.0, 2) AS mad_revenue
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ad, day) AS rn
          FROM dev)
    WHERE rn = (n_days + 1) // 2
    """,
    description="median absolute deviation of daily revenue per "
                "event type — the robust scale next to theil_sen's "
                "robust slope: both medians exact lower-median order "
                "statistics under (value, day) total orders via "
                "type-partitioned rank windows on the bounded daily "
                "frame")
def q_mad_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import mad_daily
    return mad_daily(load_table(spark, sf_dir, "events"))


@_register(
    "max_drawdown_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    d2 AS MATERIALIZED (
      SELECT event_type, day, v,
             CAST(max(v) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS peak,
             CAST(max(v) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) - v AS dd
      FROM daily),
    per AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             max(dd) AS max_dd
      FROM d2 GROUP BY 1),
    tr AS (
      SELECT d.event_type, p.n_days, p.max_dd,
             min(d.day) AS trough_day
      FROM d2 d JOIN per p ON p.event_type = d.event_type
                          AND d.dd = p.max_dd
      GROUP BY 1, 2, 3),
    trp AS (
      SELECT t.*, d.peak AS p
      FROM tr t JOIN d2 d ON d.event_type = t.event_type
                         AND d.day = t.trough_day),
    pk AS (
      SELECT t.event_type, t.n_days, t.max_dd, t.trough_day, t.p,
             min(d.day) AS peak_day
      FROM trp t JOIN d2 d ON d.event_type = t.event_type
                          AND d.day <= t.trough_day
                          AND d.v = t.p
      GROUP BY 1, 2, 3, 4, 5)
    SELECT event_type, n_days,
           strftime(peak_day, '%Y-%m-%d') AS peak_day,
           strftime(trough_day, '%Y-%m-%d') AS trough_day,
           round(CAST(max_dd AS DOUBLE) / 100.0, 2) + 0.0
               AS max_drawdown,
           round(CASE WHEN p = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(max_dd AS DOUBLE) / p END, 6) + 0.0
               AS drawdown_pct
    FROM pk
    """,
    description="maximum drawdown of each event_type's daily-revenue "
                "LEVEL against its running peak (the running total of "
                "a revenue stream is monotone, so the level series is "
                "the meaningful one): exact BIGINT running peak over "
                "the bounded daily frame, earliest-day tiebreaks for "
                "both trough and peak, one display division — the "
                "peak-to-trough risk readout next to the trend/scale "
                "robustness family")
def q_max_drawdown_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        max_drawdown_daily)
    return max_drawdown_daily(load_table(spark, sf_dir, "events"))


@_register(
    "hodges_lehmann_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             CAST(ts AS DATE) - DATE '1970-01-05' AS i,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    w AS (
      SELECT a.event_type, a.i, b.i AS j, a.v + b.v AS s
      FROM daily a JOIN daily b ON b.event_type = a.event_type
                               AND b.i >= a.i),
    ranked AS (
      SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s, i, j) AS rk
      FROM w),
    per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
            FROM daily GROUP BY 1),
    pick AS (
      SELECT event_type, n_days,
             CAST(n_days * (n_days + 1) // 2 AS BIGINT) AS n_pairs,
             CAST((n_days * (n_days + 1) // 2 + 1) // 2 AS BIGINT)
                 AS k
      FROM per)
    SELECT r.event_type, p.n_days, p.n_pairs,
           round(CAST(s AS DOUBLE) / 200.0, 6) + 0.0 AS hl_dollars
    FROM ranked r JOIN pick p ON p.event_type = r.event_type
                             AND r.rk = p.k
    """,
    description="Hodges-Lehmann pseudomedian of daily revenue per "
                "event type — median of all Walsh averages (v_i+v_j)/2 "
                "over day pairs i<=j (the Wilcoxon-associated location "
                "estimator, breakdown 29%%, efficiency 0.955): doubled "
                "Walsh sums stay exact integers, lower median "
                "rank-selected under the (sum, i, j) total order on "
                "the calendar-bounded pair frame")
def q_hodges_lehmann_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        hodges_lehmann_daily)
    return hodges_lehmann_daily(load_table(spark, sf_dir, "events"))


@_register(
    "diebold_mariano_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, v,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY day)
                 AS l1,
             lag(v, 7) OVER (PARTITION BY event_type ORDER BY day)
                 AS l7
      FROM daily),
    d AS (
      SELECT event_type,
             CAST((v - l1) AS HUGEINT) * (v - l1)
               - CAST((v - l7) AS HUGEINT) * (v - l7) AS dt
      FROM lagged WHERE l7 IS NOT NULL),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(dt) AS sd, sum(dt * dt) AS ssq
      FROM d GROUP BY 1),
    stats AS (
      SELECT event_type, n,
             CAST(sd AS DOUBLE) / n AS mu,
             CAST(ssq AS DOUBLE) / n
               - (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n)
                 AS var0
      FROM agg),
    dm AS (
      SELECT event_type, n, mu,
             CASE WHEN var0 <= 0 THEN CAST(NULL AS DOUBLE)
                  ELSE mu / sqrt(var0 / n) END AS dm
      FROM stats)
    SELECT event_type, n,
           round(mu, 4) + 0.0 AS mean_d,
           round(dm, 6) + 0.0 AS dm_stat,
           CASE WHEN dm < 0 THEN 'naive'
                WHEN dm > 0 THEN 'seasonal'
                ELSE 'tie' END AS favors
    FROM dm
    """,
    description="Diebold-Mariano equal-accuracy test between the "
                "naive (lag-1) and seasonal-naive (lag-7) one-step "
                "forecasters of daily revenue per event type — the "
                "significance test mase_backtest's scores lack: loss "
                "differential d = e1^2 - e2^2 summed exactly in "
                "128-bit/decimal(38) (cents^2 squares pass BIGINT), "
                "DM = mean(d)/sqrt(var0(d)/n) as one fixed-form "
                "double expression, sign verdict column")
def q_diebold_mariano_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        diebold_mariano_daily)
    return diebold_mariano_daily(load_table(spark, sf_dir, "events"))


def _shapley_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        ATTR_CHANNELS,
        SHAPLEY_N_FACT,
    )
    n = len(ATTR_CHANNELS)
    fact = [1, 1, 2, 6, 24]
    bit_case = "CASE event_type " + " ".join(
        f"WHEN '{c}' THEN {1 << i}"
        for i, c in enumerate(ATTR_CHANNELS)) + " ELSE 0 END"
    wt = " ".join(f"WHEN {s} THEN {fact[s] * fact[n - 1 - s]}"
                  for s in range(n))
    chan_rows = ", ".join(f"('{c}', {1 << i})"
                          for i, c in enumerate(ATTR_CHANNELS))
    return f"""
    WITH base AS (
      SELECT user_id, event_type,
             COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS j
      FROM events),
    jm AS (
      SELECT user_id, j, bit_or({bit_case}) AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS conv
      FROM base GROUP BY 1, 2),
    mv AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS cv
           FROM jm GROUP BY 1),
    masks AS (SELECT unnest(range({1 << n})) AS s),
    v AS MATERIALIZED (
      SELECT s, CAST(COALESCE(sum(cv), 0) AS BIGINT) AS v
      FROM masks LEFT JOIN mv ON (mask & s) = mask
      GROUP BY s),
    chans AS (SELECT * FROM (VALUES {chan_rows}) t(channel, bit)),
    pairs AS (
      SELECT channel, bit, s, v.v AS v0,
             CASE bit_count(s) {wt} END AS wt
      FROM chans CROSS JOIN v WHERE (s & bit) = 0),
    phi AS (
      SELECT channel,
             CAST(sum(wt * (v2.v - pairs.v0)) AS BIGINT) AS phi_num
      FROM pairs JOIN v v2 ON v2.s = pairs.s + pairs.bit
      GROUP BY channel),
    tot AS (SELECT sum(phi_num) AS phi_tot FROM phi)
    SELECT channel, phi_num,
           CAST({SHAPLEY_N_FACT} AS BIGINT) AS n_fact,
           CAST((phi_num * 1000000) // {SHAPLEY_N_FACT} AS BIGINT)
               AS shapley_micro,
           round(CAST(phi_num AS DOUBLE) / phi_tot, 6) + 0.0
               AS attribution_share
    FROM phi, tot
    """


@_register(
    "shapley_attribution",
    oracle=_shapley_oracle,
    description="exact Shapley-value channel attribution (Shapley "
                "1953 / Zhao et al. 2018) over the coalition game "
                "v(S) = conversions of journeys whose touched-channel "
                "set is a subset of S — the axiomatic completion of "
                "the attribution family (heuristic multitouch, Markov "
                "removal effect, Shapley): removal-effect journey "
                "segmentation verbatim, fixed 4-channel bitmask "
                "lattice (16 masks) so all credits are exact integers "
                "scaled by n!=24; efficiency pinned in tests")
def q_shapley_attribution(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        shapley_attribution)
    return shapley_attribution(load_table(spark, sf_dir, "events"))


def _trigram_search_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.retrieval import (
        TRIGRAM_NEEDLES)
    vals = ", ".join(f"('{nd}')" for nd in TRIGRAM_NEEDLES)
    return f"""
    SELECT needle, doc_id
    FROM (VALUES {vals}) n(needle), documents
    WHERE contains(lower(text), needle)
    """


@_register(
    "trigram_index_search",
    oracle=_trigram_search_oracle,
    description="trigram-postings-accelerated substring search (the "
                "pg_trgm / Code Search architecture): candidates = "
                "docs containing ALL trigrams of the needle via a "
                "broadcast semi-join on a once-built postings frame, "
                "then exact contains() verification of candidates "
                "only — byte-identical to the brute scan, which IS "
                "the oracle (fully independent implementation)")
def q_trigram_index_search(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        trigram_index_search)
    return trigram_index_search(load_table(spark, sf_dir, "documents"))


def _luby_mis_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        _MIS_SHIFT,
        MIS_ROUNDS,
    )
    rounds = []
    for r in range(1, MIS_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""u{r} AS MATERIALIZED (
      SELECT v, k FROM s{p} WHERE st = 0),
    n{r} AS (
      SELECT e.a AS v, min(u2.k) AS mn
      FROM bi e JOIN u{r} u1 ON u1.v = e.a
                JOIN u{r} u2 ON u2.v = e.b
      GROUP BY e.a),
    m{r} AS MATERIALIZED (
      SELECT u.v FROM u{r} u LEFT JOIN n{r} n ON n.v = u.v
      WHERE n.mn IS NULL OR u.k < n.mn),
    x{r} AS (
      SELECT DISTINCT e.b AS v
      FROM bi e JOIN m{r} m ON m.v = e.a
      WHERE e.b IN (SELECT v FROM u{r})),
    s{r} AS MATERIALIZED (
      SELECT v, k, st, rnd FROM s{p} WHERE st > 0
      UNION ALL
      SELECT s.v, s.k,
             CASE WHEN s.v IN (SELECT v FROM m{r}) THEN 1
                  WHEN s.v IN (SELECT v FROM x{r}) THEN 2
                  ELSE 0 END,
             CASE WHEN s.v IN (SELECT v FROM m{r})
                       OR s.v IN (SELECT v FROM x{r})
                  THEN {r} END
      FROM s{p} s WHERE s.st = 0)""")
    body = ",\n    ".join(rounds)
    return f"""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (
      SELECT a, b FROM edges
      UNION ALL SELECT b AS a, a AS b FROM edges),
    s0 AS MATERIALIZED (
      SELECT v,
             ('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 7))
                 ::BIGINT * {_MIS_SHIFT} + v AS k,
             0 AS st, CAST(NULL AS INTEGER) AS rnd
      FROM (SELECT DISTINCT a AS v FROM bi)),
    {body}
    SELECT CAST(v AS BIGINT) AS partkey,
           CAST(rnd AS INTEGER) AS mis_round
    FROM s{MIS_ROUNDS} WHERE st = 1
    """


@_register(
    "luby_mis",
    oracle=_luby_mis_oracle,
    description="maximal independent set of the capped co-purchase "
                "graph by synchronous greedy-by-priority rounds "
                "(Luby 1986 with a fixed deterministic (md5, id) "
                "priority — the unique lexicographically-first MIS "
                "under the hash order): per round one keyed join of "
                "the static symmetric edge list against the shrinking "
                "undecided set, a min aggregate for the neighborhood "
                "priority floor, and two new-MIS-sized semi joins; "
                "16-round budget, early exit on convergence, oracle "
                "unrolls identically")
def q_luby_mis(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import luby_mis
    return luby_mis(load_table(spark, sf_dir, "lineitem"))


def _neyman_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.curation import (
        NEYMAN_TOTAL)
    t = NEYMAN_TOTAL
    return f"""
    WITH per AS MATERIALIZED (
      SELECT source, CAST(n_h0 AS BIGINT) AS n_h,
             CAST(round(sqrt(CAST(n_h0 AS DOUBLE)
                 * CAST(n_h0 * ssq - sx * sx AS DOUBLE)
                 / (n_h0 - 1)), 0) AS BIGINT) AS wq
      FROM (SELECT source, count(*) AS n_h0,
                   sum(CAST(n_chars AS HUGEINT)) AS sx,
                   sum(CAST(n_chars AS HUGEINT) * n_chars) AS ssq
            FROM documents GROUP BY source HAVING count(*) >= 2)),
    wt AS (SELECT CAST(sum(wq) AS BIGINT) AS w FROM per),
    p2 AS MATERIALIZED (
      SELECT source, n_h, wq,
             CAST(({t} * wq) // w AS BIGINT) AS base,
             CAST(({t} * wq) % w AS BIGINT) AS rem
      FROM per, wt),
    sf AS (SELECT CAST({t} - sum(base) AS BIGINT) AS n_bonus
           FROM p2),
    cnt AS (
      SELECT a.source, a.n_h, a.wq, a.base, sf.n_bonus,
             count(b.source) AS n_greater
      FROM p2 a CROSS JOIN sf
      LEFT JOIN p2 b ON (b.rem > a.rem)
                     OR (b.rem = a.rem AND b.source < a.source)
      GROUP BY 1, 2, 3, 4, 5)
    SELECT source, n_h, wq AS weight_q,
           CAST(base + CASE WHEN n_greater < n_bonus THEN 1 ELSE 0
                        END AS BIGINT) AS alloc_n
    FROM cnt
    """


@_register(
    "neyman_allocation",
    oracle=_neyman_oracle,
    description="Neyman optimal stratified-sample allocation (1934): "
                "n_h proportional to N_h*S_h with the per-stratum "
                "moment N*SSQ-SX^2 exact in 128-bit/decimal(38), one "
                "correctly-rounded sqrt quantized to an integer "
                "weight, then Hamilton largest-remainder "
                "apportionment across strata as pure integer "
                "arithmetic (sum alloc_n = total exactly) via a "
                "triangular self-join on the bounded strata frame — "
                "the sampling DESIGN step before "
                "exact_stratified_split executes one")
def q_neyman_allocation(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        neyman_allocation)
    return neyman_allocation(load_table(spark, sf_dir, "documents"))


def _dbscan_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.spatial import (
        DBSCAN_EPS,
        DBSCAN_MIN_PTS,
    )
    return f"""
    WITH RECURSIVE
    p AS MATERIALIZED (
      SELECT c_custkey AS k,
             CAST(((CAST(round(c_acctbal * 100) AS BIGINT) % 256)
                   + 256) % 256 AS INT) AS x,
             CAST(c_custkey % 256 AS INT) AS y
      FROM customer),
    nb AS MATERIALIZED (
      SELECT a.k AS ka, b.k AS kb
      FROM p a JOIN p b
        ON a.k <> b.k
       AND greatest(abs(a.x - b.x), abs(a.y - b.y)) <= {DBSCAN_EPS}),
    cores AS MATERIALIZED (
      SELECT p.k FROM p
      LEFT JOIN (SELECT ka, count(*) AS n FROM nb GROUP BY ka) c
        ON c.ka = p.k
      WHERE COALESCE(c.n, 0) + 1 >= {DBSCAN_MIN_PTS}),
    ce AS MATERIALIZED (
      SELECT ka AS src, kb AS dst FROM nb
      WHERE ka IN (SELECT k FROM cores)
        AND kb IN (SELECT k FROM cores)),
    walk(node, lbl) AS (
      SELECT k, k FROM cores
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN ce e ON e.src = w.node),
    comp AS MATERIALIZED (
      SELECT node AS k, min(lbl) AS cluster FROM walk GROUP BY node),
    border AS (
      SELECT nb.ka AS k, min(c.cluster) AS cluster
      FROM nb JOIN comp c ON c.k = nb.kb
      WHERE nb.ka NOT IN (SELECT k FROM cores)
      GROUP BY nb.ka),
    lab AS (
      SELECT k, 'core' AS role, cluster FROM comp
      UNION ALL
      SELECT k, 'border' AS role, cluster FROM border)
    SELECT CAST(p.k AS BIGINT) AS custkey,
           COALESCE(lab.role, 'noise') AS role,
           CAST(COALESCE(lab.cluster, -1) AS BIGINT) AS cluster
    FROM p LEFT JOIN lab ON lab.k = p.k
    """


@_register(
    "dbscan_grid",
    oracle=_dbscan_oracle,
    description="grid-accelerated DBSCAN (Ester et al. KDD'96) on "
                "the (acctbal-cents mod 256, custkey mod 256) "
                "integer plane: core points exact (Chebyshev "
                "eps-ball counts via the 3x3 blocked cell join — "
                "never a cartesian), clusters = connected components "
                "of the core-core eps-graph labelled by min core id, "
                "border points take the MIN adjacent-core cluster "
                "(the deterministic pin for the textbook's "
                "scan-order dependence), noise = -1; oracle is the "
                "naive O(n^2) pairwise form + recursive CTE")
def q_dbscan_grid(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.spatial import (
        dbscan_grid)
    return dbscan_grid(load_table(spark, sf_dir, "customer"))


@_register(
    "croston_intermittent",
    oracle="""
    WITH RECURSIVE d0 AS (SELECT min(CAST(ts AS DATE)) AS d0
                          FROM events),
    occ AS (
      SELECT user_id, off, q,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY off) AS rn
      FROM (SELECT user_id, CAST(ts AS DATE) - d0 AS off,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS q
            FROM events, d0 WHERE event_type = 'purchase'
            GROUP BY user_id, CAST(ts AS DATE) - d0)),
    r AS (
      SELECT user_id, rn, off,
             CAST(q AS DOUBLE) AS z,
             CAST(off + 1 AS DOUBLE) AS p
      FROM occ WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.off,
             (r.z + CAST(o.q AS DOUBLE)) / 2,
             (r.p + CAST(o.off - r.off AS DOUBLE)) / 2
      FROM occ o JOIN r ON o.user_id = r.user_id
                       AND o.rn = r.rn + 1),
    last AS (SELECT user_id, max(rn) AS m FROM occ GROUP BY user_id)
    SELECT r.user_id, CAST(r.rn AS BIGINT) AS n_occasions,
           r.z, r.p, round(r.z / r.p, 6) + 0.0 AS croston_forecast
    FROM r JOIN last l ON l.user_id = r.user_id AND l.m = r.rn
    """,
    description="Croston's intermittent-demand forecast (1972) per "
                "user over daily purchase spend — demand SIZE and "
                "inter-demand INTERVAL smoothed separately with "
                "alpha = 1/2, updated only on demand occasions; "
                "every update is an add + exact power-of-two "
                "division with pinned parenthesization mirrored "
                "token-for-token by the recursive-CTE oracle "
                "(the holt_values bit-parity playbook), forecast "
                "= z/p; JVM aggregate() fold over the sorted "
                "occasion array — identical IEEE sequence, no "
                "Python boundary — one shuffle")
def q_croston_intermittent(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        croston_by_user)
    return croston_by_user(load_table(spark, sf_dir, "events"))


@_register(
    "degree_assortativity",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    dg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM dg) AND b IN (SELECT v FROM dg)),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM edges
            UNION ALL SELECT b AS v FROM edges)
      GROUP BY v),
    sym AS (SELECT a, b FROM edges
            UNION ALL SELECT b AS a, a AS b FROM edges),
    j AS (
      SELECT CAST(da.deg AS HUGEINT) AS x,
             CAST(db.deg AS HUGEINT) AS y
      FROM sym JOIN deg da ON da.v = sym.a
               JOIN deg db ON db.v = sym.b),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS m2,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM j),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_v FROM deg)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           round(CAST(m2 AS DOUBLE) / n_v, 2) + 0.0 AS mean_deg,
           round(CASE WHEN m2 * sxx = sx * sx OR m2 * syy = sy * sy
                      THEN CAST(NULL AS DOUBLE) ELSE
                 (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * CAST(sy AS DOUBLE))) END,
                 6) + 0.0 AS assortativity
    FROM agg, nv
    """,
    description="degree assortativity of the capped co-purchase "
                "graph (Newman 2002): Pearson correlation of "
                "endpoint degrees over the symmetric edge set — do "
                "hubs attach to hubs or to leaves; all five moments "
                "exact 128-bit/decimal(38) sums over one degree "
                "aggregate + two broadcast join-backs, one "
                "fixed-form double expression at the end")
def q_degree_assortativity(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        degree_assortativity)
    return degree_assortativity(load_table(spark, sf_dir, "lineitem"))


def _kruskal_wallis_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import KW_SCALE
    h = (f"3.0 * (CAST(srr_q AS DOUBLE) / {KW_SCALE}) "
         "/ (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)")
    c = ("1.0 - CAST(tie_sum AS DOUBLE) "
         "/ (CAST(n AS DOUBLE) * n * n - n)")
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v,
             (CAST(ts AS DATE) - DATE '1970-01-05') % 7 AS dow
      FROM events GROUP BY 1, 2, 4),
    r AS (
      SELECT event_type, dow,
             2 * rank() OVER (PARTITION BY event_type ORDER BY v)
               + count(*) OVER (PARTITION BY event_type, v) - 1
                 AS r2
      FROM daily),
    grp AS (
      SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(r2) AS BIGINT) AS rs2
      FROM r GROUP BY 1, 2),
    terms AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(n_g) AS BIGINT) AS n,
             sum((CAST(rs2 AS HUGEINT) * rs2 * {KW_SCALE}) // n_g)
                 AS srr_q
      FROM grp GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
      FROM (SELECT event_type, v, count(*) AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY 1)
    SELECT t.event_type, n, n_groups, tie_sum,
           round({h}, 6) + 0.0 AS h,
           round(CASE WHEN ({c}) <= 0.0 THEN CAST(NULL AS DOUBLE)
                      ELSE ({h}) / ({c}) END, 6) + 0.0 AS h_adj
    FROM terms t JOIN ties USING (event_type)
    """


@_register(
    "kruskal_wallis_dow",
    oracle=_kruskal_wallis_oracle,
    description="Kruskal-Wallis H test of day-of-week effect on "
                "daily revenue per event type — the k-sample "
                "extension of mann_whitney_u: doubled midranks keep "
                "rank sums integral, each group term "
                "(R2^2*SCALE) DIV n_g is an exact order-free integer "
                "(a float sum of R^2/n would be engine-order-"
                "sensitive), tie-corrected H as one fixed-form "
                "double; portable Monday-based (day-epoch)%%7 dow")
def q_kruskal_wallis_dow(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        kruskal_wallis_dow)
    return kruskal_wallis_dow(load_table(spark, sf_dir, "events"))


def _wl_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import WL_ROUNDS
    rounds, sels = [], []
    for r in range(1, WL_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""n{r} AS (
      SELECT e.a AS v, string_agg(l.lbl, ',' ORDER BY l.lbl) AS nls
      FROM bi e JOIN l{p} l ON l.v = e.b
      GROUP BY e.a),
    l{r} AS MATERIALIZED (
      SELECT l.v, substring(md5(l.lbl || '|' || n.nls), 1, 8) AS lbl
      FROM l{p} l JOIN n{r} n ON n.v = l.v)""")
        sels.append(f"""SELECT CAST({r} AS INTEGER) AS round,
           CAST(count(*) AS BIGINT) AS n_distinct_labels,
           CAST(max(c) AS BIGINT) AS max_class,
           CAST(sum(('0x' || lbl)::BIGINT * c) AS BIGINT)
               AS fingerprint
    FROM (SELECT lbl, count(*) AS c FROM l{r} GROUP BY lbl)""")
    body = ",\n    ".join(rounds)
    tail = "\n    UNION ALL\n    ".join(sels)
    return f"""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    dg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM dg) AND b IN (SELECT v FROM dg)),
    bi AS MATERIALIZED (
      SELECT a, b FROM edges
      UNION ALL SELECT b AS a, a AS b FROM edges),
    l0 AS (SELECT DISTINCT a AS v, '1' AS lbl FROM bi),
    {body}
    {tail}
    """


@_register(
    "wl_fingerprints",
    oracle=_wl_oracle,
    description="Weisfeiler-Lehman color refinement (1-WL) over the "
                "capped co-purchase graph — the WL-kernel / GNN-"
                "expressiveness fingerprint: each round rehashes "
                "every vertex label with the SORTED multiset of "
                "neighbor labels (byte-identical md5 inputs in both "
                "engines), reporting per round the label-class "
                "count, largest class, and the order-free integer "
                "fingerprint sum(hash*count); per round one keyed "
                "join against the static edge frame, degree-capped "
                "aggregate state")
def q_wl_fingerprints(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        wl_fingerprints)
    return wl_fingerprints(load_table(spark, sf_dir, "lineitem"))


def _bh_fdr_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        BH_ALPHA_MICRO,
        BH_P_SCALE,
        normal_two_sided_p_expr,
    )
    z = ("((CAST(k_h AS DOUBLE) / n_h "
         "  - CAST(k_all - k_h AS DOUBLE) / (n_all - n_h)) "
         " / sqrt((CAST(k_all AS DOUBLE) / n_all) "
         "        * (1.0 - CAST(k_all AS DOUBLE) / n_all) "
         "        * (1.0 / n_h + 1.0 / (n_all - n_h))))")
    p = normal_two_sided_p_expr(z)
    return f"""
    WITH nat AS MATERIALIZED (
      SELECT c.c_nationkey AS nation,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0
                      END) AS BIGINT) AS k_h
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1),
    tot AS (SELECT CAST(sum(n_h) AS BIGINT) AS n_all,
                   CAST(sum(k_h) AS BIGINT) AS k_all,
                   CAST(count(*) AS BIGINT) AS m
            FROM nat),
    base AS MATERIALIZED (
      SELECT nation, n_h, k_h, m,
             round({z}, 4) + 0.0 AS z,
             CAST(round({p} * {BH_P_SCALE}, 0) AS BIGINT) AS p_micro
      FROM nat, tot),
    ranked AS MATERIALIZED (
      SELECT a.nation, a.n_h, a.k_h, a.m, a.z, a.p_micro,
             CAST(count(b.nation) + 1 AS BIGINT) AS i
      FROM base a LEFT JOIN base b
        ON (b.p_micro < a.p_micro)
        OR (b.p_micro = a.p_micro AND b.nation < a.nation)
      GROUP BY 1, 2, 3, 4, 5, 6),
    terms AS (
      SELECT i AS j,
             least((p_micro * m * 1000) // i,
                   {BH_P_SCALE} * 1000) AS term
      FROM ranked),
    adj AS (
      SELECT r.nation, r.n_h, r.k_h, r.z, r.p_micro,
             min(t.term) AS adj_q
      FROM ranked r JOIN terms t ON t.j >= r.i
      GROUP BY 1, 2, 3, 4, 5)
    SELECT CAST(nation AS BIGINT) AS nation, n_h, k_h, z, p_micro,
           CAST(adj_q // 1000 AS BIGINT) AS p_adj_micro,
           adj_q <= {BH_ALPHA_MICRO} * 1000 AS discovery
    FROM adj
    """


@_register(
    "bh_fdr_return_rates",
    oracle=_bh_fdr_oracle,
    description="Benjamini-Hochberg FDR control over the 25 "
                "per-nation return-rate two-proportion z-tests — "
                "the multiple-testing correction next to the MWU/KS/"
                "ANOVA/chi-square family: two-sided p via the shared "
                "A&S 7.1.26 erfc text, micro-quantized so the BH "
                "step-up (suffix min of p*m/j, nation tiebreak) is "
                "pure integer arithmetic on the bounded m-row frame "
                "via triangular self-joins, never a global window")
def q_bh_fdr_return_rates(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        bh_fdr_return_rates)
    return bh_fdr_return_rates(load_table(spark, sf_dir, "lineitem"),
                               load_table(spark, sf_dir, "orders"),
                               load_table(spark, sf_dir, "customer"))


@_register(
    "did_estimate",
    oracle="""
    WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS dmin,
                           max(CAST(ts AS DATE)) AS dmax FROM events),
    pu AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= dmin
                      + CAST((dmax - dmin) // 2 AS INTEGER)
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= dmin
                      + CAST((dmax - dmin) // 2 AS INTEGER)
                      THEN 0
                      ELSE CAST(round(value * 100, 0) AS BIGINT)
                      END) AS BIGINT) AS y
      FROM events, bounds GROUP BY user_id),
    arms AS (
      SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(y - x AS HUGEINT) * (y - x)) AS sdd
      FROM pu GROUP BY 1),
    t AS (SELECT n AS n1, sx AS sx1, sy AS sy1, sdd AS sdd1
          FROM arms WHERE arm = 1),
    c AS (SELECT n AS n0, sx AS sx0, sy AS sy0, sdd AS sdd0
          FROM arms WHERE arm = 0)
    SELECT n1 AS n_treat, n0 AS n_ctrl,
           round((CAST(sx1 AS DOUBLE) / n1 / 100.0), 4) + 0.0
               AS pre_treat,
           round((CAST(sy1 AS DOUBLE) / n1 / 100.0), 4) + 0.0
               AS post_treat,
           round((CAST(sx0 AS DOUBLE) / n0 / 100.0), 4) + 0.0
               AS pre_ctrl,
           round((CAST(sy0 AS DOUBLE) / n0 / 100.0), 4) + 0.0
               AS post_ctrl,
           round(((CAST(sy1 AS DOUBLE) / n1 / 100.0)
                  - (CAST(sx1 AS DOUBLE) / n1 / 100.0))
                 - ((CAST(sy0 AS DOUBLE) / n0 / 100.0)
                    - (CAST(sx0 AS DOUBLE) / n0 / 100.0)), 4) + 0.0
               AS did,
           round(CASE WHEN n1 < 2 OR n0 < 2
                 OR ((CAST(sdd1 AS DOUBLE)
                      - (CAST(sy1 AS DOUBLE) - sx1)
                        * (CAST(sy1 AS DOUBLE) - sx1) / n1)
                     / (n1 - 1) / 10000.0) / n1
                  + ((CAST(sdd0 AS DOUBLE)
                      - (CAST(sy0 AS DOUBLE) - sx0)
                        * (CAST(sy0 AS DOUBLE) - sx0) / n0)
                     / (n0 - 1) / 10000.0) / n0 <= 0.0
                 THEN CAST(NULL AS DOUBLE)
                 ELSE (((CAST(sy1 AS DOUBLE) / n1 / 100.0)
                        - (CAST(sx1 AS DOUBLE) / n1 / 100.0))
                       - ((CAST(sy0 AS DOUBLE) / n0 / 100.0)
                          - (CAST(sx0 AS DOUBLE) / n0 / 100.0)))
                      / sqrt(((CAST(sdd1 AS DOUBLE)
                               - (CAST(sy1 AS DOUBLE) - sx1)
                                 * (CAST(sy1 AS DOUBLE) - sx1) / n1)
                              / (n1 - 1) / 10000.0) / n1
                             + ((CAST(sdd0 AS DOUBLE)
                                 - (CAST(sy0 AS DOUBLE) - sx0)
                                   * (CAST(sy0 AS DOUBLE) - sx0)
                                   / n0)
                                / (n0 - 1) / 10000.0) / n0)
                 END, 6) + 0.0 AS z
    FROM t, c
    """,
    description="difference-in-differences on the CUPED panel "
                "(user_id-parity arms, pre/post date-range halves): "
                "DiD of per-user mean spend with a Welch z from "
                "each arm's per-user delta variance — exact "
                "decimal(38)/128-bit moments, fixed-form doubles, "
                "explicit ANSI /0 guards; one corpus scan, 2-row "
                "arm frame, one output row")
def q_did_estimate(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        did_estimate)
    return did_estimate(load_table(spark, sf_dir, "events"))


@_register(
    "bennet_decomposition",
    oracle="""
    WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS dmin,
                           max(CAST(ts AS DATE)) AS dmax FROM events),
    per AS (
      SELECT event_type,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= dmin
                      + CAST((dmax - dmin) // 2 AS INTEGER) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= dmin
                      + CAST((dmax - dmin) // 2 AS INTEGER)
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= dmin
                      + CAST((dmax - dmin) // 2 AS INTEGER) THEN 0 ELSE 1 END)
                  AS BIGINT) AS n2,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= dmin
                      + CAST((dmax - dmin) // 2 AS INTEGER) THEN 0
                      ELSE CAST(round(value * 100, 0) AS BIGINT)
                      END) AS BIGINT) AS s2
      FROM events, bounds GROUP BY event_type)
    SELECT event_type, n1, n2,
           round(s1 / 100.0, 2) + 0.0 AS rev_pre,
           round(s2 / 100.0, 2) + 0.0 AS rev_post,
           round((s2 - s1) / 100.0, 2) + 0.0 AS delta,
           round(CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE (CAST(n2 - n1 AS DOUBLE)
                       * ((CAST(s1 AS DOUBLE) / n1)
                          + (CAST(s2 AS DOUBLE) / n2)) / 2) / 100.0
                 END, 4) + 0.0 AS volume_effect,
           round(CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE (((CAST(s2 AS DOUBLE) / n2)
                        - (CAST(s1 AS DOUBLE) / n1))
                       * CAST(n1 + n2 AS DOUBLE) / 2) / 100.0
                 END, 4) + 0.0 AS rate_effect
    FROM per
    """,
    description="Bennet symmetric rate/volume decomposition of the "
                "revenue change between the date-range halves, per "
                "event type: volume = (n2-n1)(r1+r2)/2, rate = "
                "(r2-r1)(n1+n2)/2, summing EXACTLY to the delta "
                "(pinned) — the BI rate/mix analysis as one "
                "conditional aggregate and row-local arithmetic")
def q_bennet_decomposition(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        bennet_decomposition)
    return bennet_decomposition(load_table(spark, sf_dir, "events"))


def _ktruss_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        KTRUSS_K,
        KTRUSS_ROUNDS,
    )
    km2 = KTRUSS_K - 2
    rounds = []
    for r in range(1, KTRUSS_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""bi{p} AS (
      SELECT a, b FROM e{p}
      UNION ALL SELECT b AS a, a AS b FROM e{p}),
    s{p} AS (
      SELECT e.a, e.b, count(*) AS sup
      FROM e{p} e JOIN bi{p} x ON x.a = e.a
                  JOIN bi{p} y ON y.a = e.b AND y.b = x.b
      GROUP BY e.a, e.b),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b
      FROM e{p} e JOIN s{p} s ON s.a = e.a AND s.b = e.b
      WHERE s.sup >= {km2})""")
    body = ",\n    ".join(rounds)
    return f"""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    dg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    e0 AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM dg) AND b IN (SELECT v FROM dg)),
    {body}
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
    FROM e{KTRUSS_ROUNDS}
    """


@_register(
    "ktruss_edges",
    oracle=_ktruss_oracle,
    description="k-truss (k=4) of the capped co-purchase graph "
                "(Cohen 2008): synchronous support peel — every "
                "surviving edge must sit in >= k-2 triangles among "
                "surviving edges, support via two keyed adjacency "
                "joins per round (wedge form, degree-cap bounded), "
                "early exit on a stable edge count, oracle unrolls "
                "the identical round budget; one notch stronger "
                "cohesion than k-core")
def q_ktruss_edges(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        ktruss_edges)
    return ktruss_edges(load_table(spark, sf_dir, "lineitem"))


def _blocklist_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.curation import (
        BLOCKLIST,
        LEET_FROM,
        LEET_TO,
    )
    vals = ", ".join(f"('{t}')" for t in BLOCKLIST)
    return f"""
    SELECT DISTINCT d.doc_id, b.term
    FROM (SELECT doc_id,
                 unnest(regexp_extract_all(
                     translate(lower(text), '{LEET_FROM}',
                               '{LEET_TO}'), '{_WORD_RE_SQL}', 0))
                     AS term
          FROM documents) d
    JOIN (VALUES {vals}) b(term) ON b.term = d.term
    """


@_register(
    "blocklist_filter",
    oracle=_blocklist_oracle,
    description="blocklist content filter with leetspeak "
                "de-obfuscation (0->o, 1->i, 3->e, 4->a, 5->s, "
                "7->t, $->s, @->a as one char-for-char translate "
                "both engines share) — the content-safety audit "
                "trail next to pii_redact: reference tokenizer on "
                "the normalized text, broadcast term semi-join, "
                "one (doc_id, term) row per distinct hit")
def q_blocklist_filter(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        blocklist_filter)
    return blocklist_filter(load_table(spark, sf_dir, "documents"))


def _pmi_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.retrieval import (
        PMI_MIN_PAIR,
        PMI_TOP_K,
    )
    return f"""
    WITH d AS MATERIALIZED (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text),
                                             '{_WORD_RE_SQL}', 0))
                       AS tok
            FROM documents)),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
           FROM d),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
           FROM d GROUP BY tok),
    pairs AS (
      SELECT a.tok AS ta, b.tok AS tb,
             CAST(count(*) AS BIGINT) AS cab
      FROM d a JOIN d b ON b.doc_id = a.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_PAIR})
    SELECT ta AS tok_a, tb AS tok_b, cab AS n_pair,
           ca.c AS df_a, cb.c AS df_b,
           CAST(round(ln((CAST(nd AS DOUBLE) * cab)
                / (CAST(ca.c AS DOUBLE) * cb.c)) * 1000000, 0)
                AS BIGINT) AS pmi_mn
    FROM pairs JOIN df ca ON ca.tok = ta
               JOIN df cb ON cb.tok = tb, nd
    ORDER BY pmi_mn DESC, tok_a, tok_b LIMIT {PMI_TOP_K}
    """


@_register(
    "pmi_pairs",
    oracle=_pmi_oracle,
    description="top-20 word associations by pointwise mutual "
                "information over within-document co-occurrence "
                "(Church-Hanks 1990): distinct-doc counts from one "
                "tokenize pass, per-doc pairs from the sorted "
                "distinct-token array (copart_pairs shape — never a "
                "corpus self-join), min-pair pruning BEFORE the one "
                "ln per surviving pair, micronat-quantized, "
                "TakeOrdered under (pmi DESC, pair) total order")
def q_pmi_pairs(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        pmi_pairs)
    return pmi_pairs(load_table(spark, sf_dir, "documents"))


def _wilson_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import WILSON_Z
    z = repr(WILSON_Z)
    p = "(CAST(k AS DOUBLE) / n)"
    denom = f"(1.0 + {z} * {z} / n)"
    center = f"(({p} + {z} * {z} / (2.0 * n)) / {denom})"
    half = (f"({z} * sqrt({p} * (1.0 - {p}) / n "
            f"+ {z} * {z} / (4.0 * CAST(n AS DOUBLE) * n)) / {denom})")
    types = ("view", "click", "signup", "purchase", "error")
    sels = "\n      UNION ALL\n      ".join(
        f"SELECT '{t}' AS event_type, CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum(t_{t}) AS BIGINT) AS k FROM users"
        for t in types)
    flags = ", ".join(
        f"max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS t_{t}"
        for t in types)
    return f"""
    WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    users AS MATERIALIZED (
      SELECT user_id, {flags}
      FROM events, d0 WHERE CAST(ts AS DATE) = d0
      GROUP BY user_id),
    rows_ AS ({sels})
    SELECT event_type, n, k,
           round({p}, 6) + 0.0 AS rate,
           round({center} - {half}, 6) + 0.0 AS lo95,
           round({center} + {half}, 6) + 0.0 AS hi95
    FROM rows_
    """


@_register(
    "wilson_intervals",
    oracle=_wilson_oracle,
    description="Wilson score 95%% confidence interval for each "
                "event type's first-day conversion rate (Brown-Cai-"
                "DasGupta 2001's recommended default over the Wald "
                "interval, which collapses at p=0/1): exact integer "
                "counts from one per-user aggregate, fixed-form "
                "shared-text interval expression, stays inside "
                "[0,1] by construction")
def q_wilson_intervals(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        wilson_intervals)
    return wilson_intervals(load_table(spark, sf_dir, "events"))


def _pca_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.ml import (
        _sdiv,
        PCA_DIM,
        PCA_Q,
        PCA_ROUNDS,
        PCA_SQUARINGS,
        PCA_V_SCALE,
    )
    cfull = "(CAST(n AS HUGEINT) * g - CAST(si AS HUGEINT) * sj)"

    def norm(x: str) -> str:
        scaled = f"(CAST({x} AS HUGEINT) * {PCA_V_SCALE})"
        return (f"CASE WHEN mx = 0 THEN CAST(0 AS HUGEINT) "
                f"ELSE CAST({_sdiv(scaled, 'mx', '//')} AS HUGEINT) "
                f"END")

    sq = []
    for t in range(1, PCA_SQUARINGS + 1):
        pm = t - 1
        sq.append(f"""p{t} AS (
      SELECT a.i, b.j, sum(CAST(a.m AS HUGEINT) * b.m) AS w
      FROM m{pm} a JOIN m{pm} b ON b.i = a.j GROUP BY a.i, b.j),
    pd{t} AS (SELECT max(abs(w)) AS mx FROM p{t}),
    m{t} AS MATERIALIZED (
      SELECT i, j, {norm('w')} AS m
      FROM p{t}, pd{t})""")
    rounds = []
    for r in range(1, PCA_ROUNDS + 1):
        pm = r - 1
        rounds.append(f"""w{r} AS (
      SELECT i, sum(CAST(m AS HUGEINT) * v) AS w
      FROM m{PCA_SQUARINGS} JOIN v{pm} USING (j) GROUP BY i),
    d{r} AS (SELECT max(abs(w)) AS mx FROM w{r}),
    v{r} AS MATERIALIZED (
      SELECT i AS j, {norm('w')} AS v
      FROM w{r}, d{r})""")
    sq_body = ",\n    ".join(sq)
    body = ",\n    ".join(rounds)
    last = f"v{PCA_ROUNDS}"
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * {PCA_Q}, 0)
                           AS BIGINT)) AS q
      FROM embeddings),
    nf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vecs),
    di AS (SELECT unnest(range(1, {PCA_DIM + 1})) AS i),
    dj AS (SELECT unnest(range(1, {PCA_DIM + 1})) AS j),
    s AS MATERIALIZED (
      SELECT i, CAST(sum(q[i]) AS BIGINT) AS si
      FROM vecs, di GROUP BY i),
    g AS (
      SELECT i, j, sum(CAST(q[i] AS HUGEINT) * q[j]) AS g
      FROM vecs, di, dj GROUP BY i, j),
    cmat AS MATERIALIZED (
      SELECT i, j,
             CAST({_sdiv(cfull, 'n', '//')} AS BIGINT) AS c
      FROM g JOIN s USING (i)
      JOIN (SELECT i AS j, si AS sj FROM s) s2 USING (j), nf),
    nd0 AS (SELECT max(abs(c)) AS mx FROM cmat),
    m0 AS MATERIALIZED (
      SELECT i, j, {norm('c')} AS m
      FROM cmat, nd0),
    {sq_body},
    v0 AS (SELECT i AS j, CAST({PCA_V_SCALE} AS HUGEINT) AS v
           FROM di),
    {body},
    wf AS (
      SELECT i, sum(CAST(c AS HUGEINT) * v) AS w
      FROM cmat JOIN {last} USING (j) GROUP BY i),
    mxf AS (SELECT max(abs(w)) AS mx FROM wf),
    trf AS (SELECT sum(CAST(c AS HUGEINT)) AS tr
            FROM cmat WHERE i = j)
    SELECT {last}.j AS dim, CAST({last}.v AS BIGINT) AS v_q,
           round((CAST(mx AS DOUBLE) / {PCA_V_SCALE})
                 / CAST(tr AS DOUBLE), 6) + 0.0 AS lambda_over_trace
    FROM {last}, mxf, trf
    """


@_register(
    "pca_top_component",
    oracle=_pca_oracle,
    description="distributed PCA top component by power iteration on "
                "the EXACT integer scatter matrix: milli-quantized "
                "coordinates, C = N*G - s*s' exact in 128-bit/"
                "decimal(38) then entrywise sign-split-floored by N "
                "(Spark DIV truncates, DuckDB // floors — the split "
                "makes them agree), integer renormalization per round "
                "(no norms, no float sum order), fixed 15-round "
                "budget unrolled identically by the oracle; the one "
                "d^2-cell corpus aggregate is the honest X'X cost, "
                "everything after is 64x64-frame arithmetic")
def q_pca_top_component(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        pca_top_component)
    return pca_top_component(load_table(spark, sf_dir, "embeddings"))


@_register(
    "transition_entropy",
    oracle="""
    WITH pairs AS (
      SELECT from_type, to_type FROM (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   AS to_type
        FROM events)
      WHERE to_type IS NOT NULL),
    counts AS MATERIALIZED (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2),
    per AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
            FROM counts GROUP BY 1),
    h AS MATERIALIZED (
      SELECT c.from_type, p.n_from,
             CAST(sum(n * (CAST(round(ln(CAST(p.n_from AS DOUBLE))
                                * 1000000, 0) AS BIGINT)
                           - CAST(round(ln(CAST(n AS DOUBLE))
                                  * 1000000, 0) AS BIGINT)))
                  // max(p.n_from) AS BIGINT) AS entropy_mn
      FROM counts c JOIN per p USING (from_type)
      GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_from) AS BIGINT) AS n_all FROM h)
    SELECT from_type, n_from, entropy_mn FROM h
    UNION ALL
    SELECT '__rate__',
           (SELECT n_all FROM tot),
           CAST((SELECT sum(n_from * entropy_mn) FROM h)
                // (SELECT n_all FROM tot) AS BIGINT)
    """,
    description="entropy rate of the user event process under the "
                "first-order Markov model: per source state the "
                "conditional next-event entropy H(next|s) and the "
                "pi-weighted process entropy rate, each ln quantized "
                "once per bounded transition cell to BIGINT "
                "micronats so the combination is exact integer "
                "arithmetic (the NB playbook) — how predictable the "
                "clickstream is, next to event_transitions and "
                "markov_stationary")
def q_transition_entropy(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        transition_entropy)
    return transition_entropy(load_table(spark, sf_dir, "events"))


def _triples_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        TRIPLES_TOP_K)
    return f"""
    WITH bsk AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
    SELECT CAST(a.p AS BIGINT) AS pa, CAST(b.p AS BIGINT) AS pb,
           CAST(c.p AS BIGINT) AS pc,
           CAST(count(*) AS BIGINT) AS n_support
    FROM bsk a JOIN bsk b ON b.o = a.o AND b.p > a.p
               JOIN bsk c ON c.o = a.o AND c.p > b.p
    GROUP BY 1, 2, 3
    ORDER BY n_support DESC, pa, pb, pc LIMIT {TRIPLES_TOP_K}
    """


@_register(
    "frequent_triples",
    oracle=_triples_oracle,
    description="top-20 most frequent 3-itemsets over order baskets "
                "(Apriori level 3 above association_rules' pairs): "
                "triples enumerated INSIDE each basket from the "
                "sorted distinct-part array via nested suffix-slice "
                "transforms (C(t,3) per basket, t bounded by lines "
                "per order — never a 3-way corpus self-join, which "
                "is what the oracle does instead, a genuine "
                "differential test), one map-side aggregate, "
                "TakeOrdered under (support DESC, keys)")
def q_frequent_triples(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        frequent_triples)
    return frequent_triples(load_table(spark, sf_dir, "lineitem"))


def _hub_removal_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        HUB_REMOVAL_K)
    return f"""
    WITH RECURSIVE raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    dg0 AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM dg0) AND b IN (SELECT v FROM dg0)),
    verts AS MATERIALIZED (
      SELECT DISTINCT v FROM (SELECT a AS v FROM edges
                              UNION ALL SELECT b AS v FROM edges)),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM edges UNION ALL
            SELECT b AS v FROM edges)
      GROUP BY v),
    hubs AS MATERIALIZED (
      SELECT v FROM deg ORDER BY deg DESC, v LIMIT {HUB_REMOVAL_K}),
    bi AS (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    walk1(node, lbl) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.dst, w.lbl FROM walk1 w JOIN bi e ON e.src = w.node),
    comp1 AS (SELECT node, min(lbl) AS comp FROM walk1
              GROUP BY node),
    s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_comp_before,
                  CAST(max(sz) AS BIGINT) AS giant_before
           FROM (SELECT comp, count(*) AS sz FROM comp1
                 GROUP BY comp)),
    e2 AS MATERIALIZED (
      SELECT a, b FROM edges
      WHERE a NOT IN (SELECT v FROM hubs)
        AND b NOT IN (SELECT v FROM hubs)),
    v2 AS (SELECT v FROM verts
           WHERE v NOT IN (SELECT v FROM hubs)),
    bi2 AS (SELECT a AS src, b AS dst FROM e2
            UNION ALL SELECT b AS src, a AS dst FROM e2),
    walk2(node, lbl) AS (
      SELECT v, v FROM v2
      UNION
      SELECT e.dst, w.lbl FROM walk2 w JOIN bi2 e ON e.src = w.node),
    comp2 AS (SELECT node, min(lbl) AS comp FROM walk2
              GROUP BY node),
    s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_comp_after,
                  CAST(max(sz) AS BIGINT) AS giant_after
           FROM (SELECT comp, count(*) AS sz FROM comp2
                 GROUP BY comp))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts)
               AS n_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           n_comp_before, giant_before, n_comp_after, giant_after
    FROM s1, s2
    """


@_register(
    "hub_removal_impact",
    oracle=_hub_removal_oracle,
    description="targeted-attack resilience audit (Albert-Jeong-"
                "Barabasi 2000): remove the top-20 degree hubs "
                "(exact (degree DESC, vertex) order) and compare "
                "component count and giant-component size before and "
                "after — exact min-label components counted WITH "
                "singletons both times; one degree pass + TakeOrdered "
                "+ two broadcast anti-joins + two persisted-edge "
                "label loops")
def q_hub_removal_impact(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        hub_removal_impact)
    return hub_removal_impact(load_table(spark, sf_dir, "lineitem"))


def _segmented_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        SEG_SSE_SCALE)

    def sse(n, sx, sy, sxy, sxx, syy):
        saa = (f"(CAST({n} AS HUGEINT) * {sxx} "
               f"- CAST({sx} AS HUGEINT) * {sx})")
        sbb = (f"(CAST({n} AS HUGEINT) * {syy} "
               f"- CAST({sy} AS HUGEINT) * {sy})")
        sab = (f"(CAST({n} AS HUGEINT) * {sxy} "
               f"- CAST({sx} AS HUGEINT) * {sy})")
        return (f"CAST((({sbb} * {saa} - {sab} * {sab}) "
                f"* {SEG_SSE_SCALE}) "
                f"// (CAST({n} AS HUGEINT) * {saa}) AS BIGINT)")

    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events GROUP BY 1, 2),
    d2 AS (SELECT event_type, day, y,
                  CAST(day - DATE '1970-01-05' AS BIGINT) AS x
           FROM daily),
    cum AS MATERIALIZED (
      SELECT event_type, day, x, y,
             row_number() OVER wo AS rn,
             count(*) OVER wc AS cn,
             sum(x) OVER wc AS csx,
             sum(y) OVER wc AS csy,
             sum(CAST(x AS HUGEINT) * y) OVER wc AS csxy,
             sum(CAST(x AS HUGEINT) * x) OVER wc AS csxx,
             sum(CAST(y AS HUGEINT) * y) OVER wc AS csyy
      FROM d2
      WINDOW wo AS (PARTITION BY event_type ORDER BY x),
             wc AS (PARTITION BY event_type ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)),
    tot AS (
      SELECT event_type AS et, CAST(max(cn) AS BIGINT) AS n,
             CAST(max(csx) AS BIGINT) AS tx,
             CAST(max(csy) AS BIGINT) AS ty,
             max(csxy) AS txy, max(csxx) AS txx, max(csyy) AS tyy
      FROM cum GROUP BY 1 HAVING max(cn) >= 4),
    cand AS (
      SELECT c.event_type, t.n, c.x,
             {sse('c.cn', 'c.csx', 'c.csy', 'c.csxy', 'c.csxx',
                  'c.csyy')}
             + {sse('(t.n - c.cn)', '(t.tx - c.csx)',
                    '(t.ty - c.csy)', '(t.txy - c.csxy)',
                    '(t.txx - c.csxx)', '(t.tyy - c.csyy)')}
                 AS sse_q
      FROM cum c JOIN tot t ON t.et = c.event_type
      WHERE c.rn >= 2 AND c.rn <= t.n - 2),
    best AS (
      SELECT event_type, n AS n_days, sse_q AS sse_split_q, x
      FROM (SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY sse_q, x) AS rk
            FROM cand)
      WHERE rk = 1),
    nxt AS (
      SELECT event_type, x,
             lead(day) OVER (PARTITION BY event_type ORDER BY x)
                 AS break_day
      FROM cum),
    single AS (
      SELECT et AS event_type,
             {sse('n', 'tx', 'ty', 'txy', 'txx', 'tyy')}
                 AS sse_single_q
      FROM tot)
    SELECT b.event_type, b.n_days,
           strftime(nxt.break_day, '%Y-%m-%d') AS break_day,
           b.sse_split_q, s.sse_single_q,
           round(CASE WHEN s.sse_single_q <= 0
                 THEN CAST(NULL AS DOUBLE)
                 ELSE 1.0 - CAST(b.sse_split_q AS DOUBLE)
                      / s.sse_single_q END, 6) + 0.0 AS explained
    FROM best b
    JOIN nxt ON nxt.event_type = b.event_type AND nxt.x = b.x
    JOIN single s ON s.event_type = b.event_type
    """


@_register(
    "segmented_trend_break",
    oracle=_segmented_oracle,
    description="single-breakpoint segmented regression of daily "
                "revenue per event type (Quandt's structural-break "
                "search, the regression complement of "
                "cusum_changepoint): all candidate splits fitted "
                "from ONE type-partitioned cumulative-moment window "
                "(suffix = total - prefix), each segment's OLS SSE "
                "exact in 128-bit/decimal(38) quantized by one "
                "non-negative integer division, argmin under "
                "(sse, day); reports the break day and the "
                "variance the break explains")
def q_segmented_trend_break(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        segmented_trend_break)
    return segmented_trend_break(load_table(spark, sf_dir, "events"))


def _logrank_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        LOGRANK_SCALE)
    from cloud_native_mapreduce_spark.operators.stats import (
        normal_two_sided_p_expr)
    s = LOGRANK_SCALE
    chi2 = (f"CASE WHEN v_q <= 0 THEN CAST(NULL AS DOUBLE) ELSE "
            f"(CAST(o1 AS DOUBLE) * {s} - e1_q) "
            f"* (CAST(o1 AS DOUBLE) * {s} - e1_q) "
            f"/ (CAST(v_q AS DOUBLE) * {s}) END")
    p = normal_two_sided_p_expr(f"sqrt({chi2})")
    return f"""
    WITH fs AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    fp AS (
      SELECT user_id, min(epoch_us(ts)) AS p_us
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    hz AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
    pu AS MATERIALIZED (
      SELECT arm, COALESCE(ev_day, cens_day) AS t,
             CASE WHEN ev_day IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM (SELECT f.user_id % 2 AS arm,
                   CASE WHEN p.p_us >= f.s_us
                        THEN CAST(floor((p.p_us - f.s_us)
                                  / 86400000000.0) AS BIGINT)
                   END AS ev_day,
                   CAST(floor((h.h_us - f.s_us) / 86400000000.0)
                        AS BIGINT) AS cens_day
            FROM fs f LEFT JOIN fp p USING (user_id), hz h)),
    per AS MATERIALIZED (
      SELECT arm, t, CAST(count(*) AS BIGINT) AS ended,
             CAST(sum(ev) AS BIGINT) AS d
      FROM pu GROUP BY 1, 2),
    ntot AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_arm
             FROM pu GROUP BY 1),
    days AS (SELECT DISTINCT t FROM per),
    r0 AS (
      SELECT days.t,
             CAST((SELECT n_arm FROM ntot WHERE arm = 0)
                  - COALESCE(sum(e.ended), 0) AS BIGINT) AS n0
      FROM days LEFT JOIN (SELECT t AS t2, ended FROM per
                           WHERE arm = 0) e ON e.t2 < days.t
      GROUP BY days.t),
    r1 AS (
      SELECT days.t,
             CAST((SELECT n_arm FROM ntot WHERE arm = 1)
                  - COALESCE(sum(e.ended), 0) AS BIGINT) AS n1
      FROM days LEFT JOIN (SELECT t AS t2, ended FROM per
                           WHERE arm = 1) e ON e.t2 < days.t
      GROUP BY days.t),
    bt AS (
      SELECT r0.t, r0.n0, r1.n1,
             CAST(COALESCE(d0.d, 0) AS BIGINT) AS d0,
             CAST(COALESCE(d1.d, 0) AS BIGINT) AS d1
      FROM r0 JOIN r1 ON r1.t = r0.t
      LEFT JOIN (SELECT t, d FROM per WHERE arm = 0) d0
        ON d0.t = r0.t
      LEFT JOIN (SELECT t, d FROM per WHERE arm = 1) d1
        ON d1.t = r0.t
      WHERE COALESCE(d0.d, 0) + COALESCE(d1.d, 0) >= 1),
    agg AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1,
             CAST(sum((CAST(n1 AS HUGEINT) * (d0 + d1) * {s})
                      // (n0 + n1)) AS BIGINT) AS e1_q,
             CAST(sum(CASE WHEN n0 + n1 > 1 THEN
                      (CAST(d0 + d1 AS HUGEINT) * n1 * n0
                       * (n0 + n1 - d0 - d1) * {s})
                      // (CAST(n0 + n1 AS HUGEINT) * (n0 + n1)
                          * (n0 + n1 - 1)) ELSE 0 END)
                  AS BIGINT) AS v_q
      FROM bt)
    SELECT (SELECT n_arm FROM ntot WHERE arm = 1) AS n_treat,
           (SELECT n_arm FROM ntot WHERE arm = 0) AS n_ctrl,
           o1, e1_q, v_q,
           round({chi2}, 6) + 0.0 AS chi2,
           CASE WHEN v_q <= 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(round({p} * {s}, 0) AS BIGINT)
           END AS p_micro
    FROM agg
    """


@_register(
    "logrank_test",
    oracle=_logrank_oracle,
    description="log-rank test (Mantel 1966) comparing the "
                "time-to-first-purchase survival of the user-parity "
                "arms — the hypothesis test next to the "
                "kaplan_meier estimator, censoring handled via risk "
                "sets: kaplan_meier's duration definitions verbatim, "
                "per-day O/E/V terms each quantized by one integer "
                "division so the sums are order-free exact integers, "
                "chi-square as one fixed-form double, p via the "
                "shared A&S erfc text with z = sqrt(chi2); risk sets "
                "from cumulative ended-counts on the bounded day "
                "frame, never a users-by-days join")
def q_logrank_test(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        logrank_test)
    return logrank_test(load_table(spark, sf_dir, "events"))


def _rich_club_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        RICH_CLUB_KS)
    kvals = ", ".join(f"({k})" for k in RICH_CLUB_KS)
    return f"""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    dg0 AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM dg0) AND b IN (SELECT v FROM dg0)),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM edges UNION ALL
            SELECT b AS v FROM edges)
      GROUP BY v),
    kf AS (SELECT * FROM (VALUES {kvals}) t(k)),
    members AS MATERIALIZED (
      SELECT kf.k, deg.v FROM kf JOIN deg ON deg.deg > kf.k),
    nm AS (SELECT k, CAST(count(*) AS BIGINT) AS n_members
           FROM members GROUP BY k),
    ce AS (
      SELECT kf.k, CAST(count(*) AS BIGINT) AS n_club_edges
      FROM kf JOIN edges ON TRUE
      JOIN members ma ON ma.k = kf.k AND ma.v = edges.a
      JOIN members mb ON mb.k = kf.k AND mb.v = edges.b
      GROUP BY kf.k)
    SELECT CAST(kf.k AS INTEGER) AS k,
           COALESCE(nm.n_members, 0) AS n_members,
           COALESCE(ce.n_club_edges, 0) AS n_club_edges,
           round(CASE WHEN COALESCE(nm.n_members, 0) < 2
                 THEN CAST(NULL AS DOUBLE)
                 ELSE 2.0 * COALESCE(ce.n_club_edges, 0)
                      / (CAST(nm.n_members AS DOUBLE)
                         * (nm.n_members - 1)) END, 6) + 0.0 AS phi
    FROM kf LEFT JOIN nm ON nm.k = kf.k
            LEFT JOIN ce ON ce.k = kf.k
    """


@_register(
    "rich_club_coefficients",
    oracle=_rich_club_oracle,
    description="rich-club coefficient profile (Zhou-Mondragon "
                "2004) of the capped co-purchase graph: phi(k) = "
                "2E/(N(N-1)) over vertices of degree > k for five "
                "thresholds — hub solidarity next to assortativity "
                "and the hub-removal audit; one degree aggregate, "
                "broadcast threshold fan-out, two keyed member "
                "joins, exact integers to one fixed-form division")
def q_rich_club_coefficients(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        rich_club_coefficients)
    return rich_club_coefficients(load_table(spark, sf_dir,
                                             "lineitem"))


@_register(
    "holdout_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, doc_id % 5 AS fold,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS l
      FROM documents),
    bgs AS (SELECT doc_id, fold,
                   unnest(list_transform(
                       range(len(l) - 1),
                       i -> l[i + 1] || ' ' || l[i + 2])) AS bg
            FROM toks WHERE len(l) >= 2),
    train_bg AS (
      SELECT bg, count(*) AS cbg FROM bgs WHERE fold <> 0 GROUP BY bg),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(cbg) AS cctx
      FROM train_bg GROUP BY w1),
    vt AS (SELECT count(*) AS v FROM ctx),
    test_bg AS (
      SELECT doc_id, bg, count(*) AS n
      FROM bgs WHERE fold = 0 GROUP BY doc_id, bg)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * ln((COALESCE(cbg, 0) + CAST(1 AS DOUBLE))
                            / (COALESCE(cctx, 0) + v))) / sum(n), 4)
           + 0.0 AS holdout_logprob
    FROM test_bg
    LEFT JOIN train_bg USING (bg)
    LEFT JOIN ctx ON split_part(test_bg.bg, ' ', 1) = ctx.w1, vt
    GROUP BY doc_id
    """,
    description="held-out LM evaluation: per fold-0 doc, mean add-one "
                "bigram log-prob under the model fitted on the other "
                "four folds — the generalization measurement the "
                "self-scored bigram_logprob cannot give; OOV bigrams/"
                "contexts fall out of COALESCE in one shared formula; "
                "same vocabulary-bounded join shape")
def q_holdout_bigram_logprob(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import curation as CU
    return CU.holdout_bigram_logprob(load_table(spark, sf_dir,
                                                "documents"))


@_register(
    "cms_heavy_change",
    oracle="""
    WITH li AS (
      SELECT l_partkey AS part, CAST(o_orderdate AS DATE) AS day
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM li),
    tagged AS (
      SELECT part,
             day <= dmin + CAST((dmax - dmin) // 2 AS INTEGER) AS is_a
      FROM li, bounds),
    freq AS (
      SELECT part,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
      FROM tagged GROUP BY part),
    cells AS (
      SELECT part, ca, cb, d,
             CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':'
                                         || CAST(part AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 256 AS cell
      FROM freq, (VALUES (0), (1), (2), (3)) AS t(d)),
    ska AS (SELECT d, cell, sum(ca) AS counter
            FROM cells GROUP BY 1, 2),
    skb AS (SELECT d, cell, sum(cb) AS counter
            FROM cells GROUP BY 1, 2),
    est AS (
      SELECT c.part,
             CAST(min(a.counter) AS BIGINT) AS est_a,
             CAST(min(b.counter) AS BIGINT) AS est_b
      FROM cells c
      JOIN ska a ON a.d = c.d AND a.cell = c.cell
      JOIN skb b ON b.d = c.d AND b.cell = c.cell
      GROUP BY c.part)
    SELECT e.part, est_a, est_b, est_b - est_a AS est_change,
           CAST(f.ca AS BIGINT) AS true_a,
           CAST(f.cb AS BIGINT) AS true_b
    FROM est e JOIN freq f ON f.part = e.part
    ORDER BY abs(est_b - est_a) DESC, e.part LIMIT 20
    """,
    description="heavy-change detection from Count-Min sketch "
                "differences (Cormode's what's-new question): two "
                "half-period sketches (linear, mergeable, KB-sized "
                "and shippable), probed over the part dimension for "
                "the top-20 movers by estimated signed change, exact "
                "true counts alongside as audit columns; one fact "
                "scan per half, everything else sketch-sized")
def q_cms_heavy_change(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.sketches import (
        cms_heavy_change)
    return cms_heavy_change(load_table(spark, sf_dir, "orders"),
                            load_table(spark, sf_dir, "lineitem"))


@_register(
    "robust_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    med AS (
      SELECT event_type, v AS med FROM (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily) WHERE rn = (n_days + 1) // 2),
    dev AS (
      SELECT d.event_type, d.day, d.v, abs(d.v - m.med) AS ad
      FROM daily d JOIN med m ON m.event_type = d.event_type),
    mad AS (
      SELECT event_type, ad AS mad FROM (
        SELECT event_type, ad,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ad, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM dev) WHERE rn = (n_days + 1) // 2)
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           round(CAST(d.v AS DOUBLE) / 100.0, 2) AS revenue,
           round(CAST(0.6745 AS DOUBLE) * d.ad / m.mad, 4) + 0.0
               AS modified_z
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    WHERE d.ad * 6745 * 10 > 20 * 10000 * m.mad
    """,
    description="modified-z anomaly days (Iglewicz-Hoaglin "
                "statistic on median/MAD, monitoring threshold 2.0) "
                "per event type — the "
                "masking-immune robust cousin of anomaly_zscore; "
                "flagging is exact integer cross-multiplication, "
                "the printed modified z is one rounded fixed-form "
                "division")
def q_robust_anomaly_days(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        robust_anomaly_days)
    return robust_anomaly_days(load_table(spark, sf_dir, "events"))


@_register(
    "nelson_aalen_hazard",
    oracle="""
    WITH fs AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    fp AS (
      SELECT user_id, min(epoch_us(ts)) AS p_us
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    hz AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
    per_user AS (
      SELECT CASE WHEN p.p_us >= f.s_us
                  THEN CAST(floor((p.p_us - f.s_us) / 86400000000.0)
                            AS BIGINT) END AS ev_day,
             CAST(floor((h.h_us - f.s_us) / 86400000000.0)
                  AS BIGINT) AS cens_day
      FROM fs f LEFT JOIN fp p USING (user_id), hz h),
    durations AS (
      SELECT COALESCE(ev_day, cens_day) AS t,
             CASE WHEN ev_day IS NOT NULL THEN 1 ELSE 0 END AS e
      FROM per_user),
    days AS (
      SELECT t, CAST(sum(e) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS ended
      FROM durations GROUP BY t),
    risk AS (
      SELECT a.t, a.d, CAST(sum(b.ended) AS BIGINT) AS n_risk
      FROM days a JOIN days b ON b.t >= a.t
      GROUP BY a.t, a.d HAVING a.d > 0),
    hq AS (
      SELECT t, d, n_risk, (d * 100000000) // n_risk AS hq FROM risk)
    SELECT a.t, a.n_risk, a.d AS n_events,
           round(CAST(CAST(sum(b.hq) AS BIGINT) AS DOUBLE)
                 / 100000000.0, 8) + 0.0 AS cum_hazard
    FROM hq a JOIN hq b ON b.t <= a.t
    GROUP BY a.t, a.n_risk, a.d
    """,
    description="Nelson-Aalen cumulative hazard for time-to-first-"
                "purchase after first signup, right-censored at the "
                "corpus horizon (Nelson 1972; Aalen 1978) — the "
                "cumulative-RISK companion to kaplan_meier, and "
                "where KM's product needs a sequential applyInPandas "
                "fold + recursive-CTE oracle, the NA SUM quantizes "
                "each d/n increment to BIGINT 1e-8 units (integer "
                "DIV, engine-identical) so the cumulative is an "
                "exact order-free triangular sum — no recursion, no "
                "Python, bounded |days| frames after keyed per-user "
                "aggregates")
def q_nelson_aalen_hazard(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        nelson_aalen_hazard)
    return nelson_aalen_hazard(load_table(spark, sf_dir, "events"))


def _removal_effect_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        ATTR_CHANNELS,
        ATTR_ROUNDS,
        removal_final_exprs,
        removal_round_exprs,
    )
    froms = ("start",) + ATTR_CHANNELS
    tos = ATTR_CHANNELS + ("conv",)
    p_cols = [f"p_{s}_{t}" for s in froms for t in tos]
    mat = ",\n             ".join(
        f"coalesce(sum(CASE WHEN from_s = '{s}' AND to_s = '{t}' "
        f"THEN p END), 0.0) AS p_{s}_{t}"
        for s in froms for t in tos)
    zeros = ", ".join(f"0.0 AS {name}"
                      for name, _ in removal_round_exprs())
    rounds = []
    prev = "r0"
    for r in range(1, ATTR_ROUNDS + 1):
        cols = ", ".join(p_cols) + ", " + ", ".join(
            f"{sql} AS {name}" for name, sql in removal_round_exprs())
        rounds.append(f"r{r} AS (SELECT {cols} FROM {prev})")
        prev = f"r{r}"
    fin = removal_final_exprs()
    fin_cols = ", ".join(f"{sql} AS {name}" for name, sql in fin.items())
    tot_re = " + ".join(f"((p_full - p_rm_{c}) / p_full)"
                        for c in ATTR_CHANNELS)
    per_channel = "\n    UNION ALL\n    ".join(
        f"SELECT '{c}' AS channel, round(p_full, 6) + 0.0 AS p_full, "
        f"round(p_rm_{c}, 6) + 0.0 AS p_removed, "
        f"round(((p_full - p_rm_{c}) / p_full), 6) + 0.0 "
        f"AS removal_effect, "
        f"round(((p_full - p_rm_{c}) / p_full) / re_total, 6) + 0.0 "
        f"AS attribution_share FROM tot" for c in ATTR_CHANNELS)
    return f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 'conv'
                  ELSE event_type END AS st,
             COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS j
      FROM events),
    seq AS (
      SELECT st,
             row_number() OVER (PARTITION BY user_id, j
                                ORDER BY ts, event_id) AS rn,
             lead(st) OVER (PARTITION BY user_id, j
                            ORDER BY ts, event_id) AS nxt
      FROM base),
    trans AS (
      SELECT 'start' AS from_s, st AS to_s FROM seq WHERE rn = 1
      UNION ALL
      SELECT st, COALESCE(nxt, 'null') FROM seq WHERE st <> 'conv'),
    c AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS n
          FROM trans GROUP BY 1, 2),
    tt AS (SELECT from_s, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY 1),
    pr AS (SELECT c.from_s, c.to_s, c.n / tt.tot AS p
           FROM c JOIN tt USING (from_s)),
    m AS MATERIALIZED (
      SELECT {mat}
      FROM pr),
    r0 AS (SELECT m.*, {zeros} FROM m),
    {",{nl}    ".format(nl=chr(10)).join(rounds)},
    fin AS (SELECT {fin_cols} FROM {prev}),
    tot AS (SELECT fin.*, ({tot_re}) AS re_total FROM fin)
    {per_channel}
    """


@_register(
    "removal_effect_attribution",
    oracle=_removal_effect_oracle,
    description="Markov removal-effect channel attribution (Anderl "
                "et al. 2014): user journeys (restarting after each "
                "purchase) become an absorbing chain start -> touch "
                "channels -> conv/null; a channel's credit is the "
                "relative drop in start->conv probability when every "
                "path through it is redirected to null. Exact "
                "count/total transition probabilities pivot to ONE "
                "wide row; the five absorbing-chain evaluations "
                "(full + four removals) unroll as 12 chained "
                "fixed-form rounds in pinned term order shared "
                "verbatim with the oracle (the markov_stationary "
                "playbook) — the data-driven successor to first/"
                "last/linear in multitouch_attribution")
def q_removal_effect_attribution(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        removal_effect_attribution)
    return removal_effect_attribution(
        load_table(spark, sf_dir, "events"))


def _hbos_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        HBOS_BUCKET_CENTS,
        HBOS_N_BUCKETS,
        HBOS_SCALE,
        HBOS_TOP_K,
        hbos_cost_expr,
    )
    pb = (f"least({HBOS_N_BUCKETS - 1}, "
          f"CAST(round(o_totalprice * 100, 0) AS BIGINT) "
          f"// {HBOS_BUCKET_CENTS})")
    return f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
    u AS (
      SELECT 'price_b' AS feat, CAST({pb} AS VARCHAR) AS val
      FROM orders
      UNION ALL
      SELECT 'month', CAST(month(CAST(o_orderdate AS DATE)) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'prio', o_orderpriority FROM orders),
    hist AS (
      SELECT feat, val, {hbos_cost_expr()} AS mn
      FROM (SELECT feat, val, CAST(count(*) AS BIGINT) AS c
            FROM u GROUP BY 1, 2) q, nn),
    fact AS (
      SELECT o_orderkey, CAST({pb} AS VARCHAR) AS v1,
             CAST(month(CAST(o_orderdate AS DATE)) AS VARCHAR) AS v2,
             o_orderpriority AS v3
      FROM orders)
    SELECT o_orderkey, CAST(v1 AS BIGINT) AS price_bucket,
           CAST(v2 AS BIGINT) AS order_month, v3 AS priority,
           CAST(h1.mn + h2.mn + h3.mn AS BIGINT) AS score_mn,
           round(CAST(h1.mn + h2.mn + h3.mn AS DOUBLE)
                 / {HBOS_SCALE}.0, 6) + 0.0 AS hbos_score
    FROM fact
    JOIN hist h1 ON h1.feat = 'price_b' AND h1.val = v1
    JOIN hist h2 ON h2.feat = 'month' AND h2.val = v2
    JOIN hist h3 ON h3.feat = 'prio' AND h3.val = v3
    ORDER BY score_mn DESC, o_orderkey LIMIT {HBOS_TOP_K}
    """


@_register(
    "hbos_outliers",
    oracle=_hbos_oracle,
    description="Histogram-Based Outlier Score (Goldstein & Dengel "
                "2012) over orders: price bucket, order month and "
                "priority histograms; a row's score is the exact "
                "integer SUM of per-feature micronat costs "
                "(one ln per BOUNDED feature value, shared text, "
                "never per row), top-20 by (score, orderkey). One "
                "stack-unpivot scan builds all histograms; the fact "
                "scan joins three broadcast cost maps and cuts via "
                "TakeOrdered — the independence-assumption outlier "
                "detector next to anomaly_zscore's univariate z")
def q_hbos_outliers(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        hbos_outliers)
    return hbos_outliers(load_table(spark, sf_dir, "orders"))


def _cuped_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import cuped_exprs
    e = cuped_exprs()
    return f"""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS dmin,
             max(CAST(ts AS DATE)) AS dmax
      FROM events),
    pu AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE)
                           <= dmin + CAST((dmax - dmin) // 2 AS INTEGER)
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN CAST(ts AS DATE)
                           <= dmin + CAST((dmax - dmin) // 2 AS INTEGER)
                           THEN 0
                           ELSE CAST(round(value * 100, 0) AS BIGINT)
                           END) AS BIGINT) AS y
      FROM events, b GROUP BY user_id),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM pu),
    arms AS (
      SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS na,
             CAST(sum(x) AS BIGINT) AS sxa,
             CAST(sum(y) AS BIGINT) AS sya
      FROM pu GROUP BY 1)
    SELECT CAST(arm AS BIGINT) AS arm, na AS n_users,
           round({e['mean_post']}, 4) + 0.0 AS mean_post,
           round({e['mean_post_adj']}, 4) + 0.0 AS mean_post_adj,
           round({e['theta']}, 6) + 0.0 AS theta,
           round({e['var_reduction_pct']}, 4) + 0.0
               AS var_reduction_pct
    FROM arms, pooled
    """


@_register(
    "cuped_adjusted_lift",
    oracle=_cuped_oracle,
    description="CUPED variance-reduced A/B readout (Deng et al., "
                "WSDM 2013): pre-period user revenue as the "
                "covariate for post-period revenue, theta = "
                "cov(X,Y)/var(X) and the 100*rho^2 variance "
                "reduction from EXACT integer-cent moments "
                "(decimal(38) sums, fixed-form doubles only at the "
                "end, shared text); arms by user_id parity (an A/A "
                "by construction, the ab_test_conversion twin) — "
                "one corpus scan, |users| frame, broadcast 1-row "
                "moments")
def q_cuped_adjusted_lift(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        cuped_adjusted_lift)
    return cuped_adjusted_lift(load_table(spark, sf_dir, "events"))


def _rfm_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.relational import RFM_Q
    return f"""
    WITH hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax
                FROM orders),
    pc AS (
      SELECT o_custkey AS cust,
             CAST(dmax - max(CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS r_days,
             CAST(count(*) AS BIGINT) AS f_cnt,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS m_cents
      FROM orders, hz GROUP BY o_custkey, dmax),
    base AS (
      SELECT pc.*, CAST(c.c_nationkey AS BIGINT) AS nation
      FROM pc JOIN customer c ON c.c_custkey = pc.cust),
    ranked AS (
      SELECT nation, m_cents,
             row_number() OVER (PARTITION BY nation
                                ORDER BY r_days DESC, cust) AS pos_r,
             row_number() OVER (PARTITION BY nation
                                ORDER BY f_cnt ASC, cust) AS pos_f,
             row_number() OVER (PARTITION BY nation
                                ORDER BY m_cents ASC, cust) AS pos_m,
             count(*) OVER (PARTITION BY nation) AS n_nat
      FROM base)
    SELECT nation,
           CAST((pos_r - 1) * {RFM_Q} // n_nat + 1 AS BIGINT)
               AS r_score,
           CAST((pos_f - 1) * {RFM_Q} // n_nat + 1 AS BIGINT)
               AS f_score,
           CAST((pos_m - 1) * {RFM_Q} // n_nat + 1 AS BIGINT)
               AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST((2 * CAST(sum(m_cents) AS BIGINT) + count(*))
                // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_monetary
    FROM ranked GROUP BY 1, 2, 3, 4
    """


@_register(
    "rfm_segments",
    oracle=_rfm_oracle,
    description="RFM customer segmentation (Hughes 1994): recency/"
                "frequency/monetary per customer, cut into exact "
                "within-NATION quintiles by pure rank arithmetic "
                "((pos-1)*5 DIV n + 1 over a deterministic (metric, "
                "custkey) order — no percentile estimation), "
                "reported per (nation, r, f, m) segment with exact "
                "counts and integer-cent averages; nation-"
                "partitioned windows keep every frame market-sized "
                "(never a global window)")
def q_rfm_segments(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.relational import (
        rfm_segments)
    return rfm_segments(load_table(spark, sf_dir, "orders"),
                        load_table(spark, sf_dir, "customer"))


def _diameter_oracle() -> str:
    # every round CTE references its predecessor TWICE (the carried
    # dist and the neighbor side) — without MATERIALIZED DuckDB
    # inlines the chain per reference and the 2×4 rounds explode to
    # 2^8 parquet scans (observed as "Too many open files"); the
    # markov/Borůvka oracle lesson applies verbatim
    def sweep(prefix: str, src_sql: str) -> list[str]:
        ctes = [f"{prefix}0 AS MATERIALIZED (SELECT v, "
                f"CASE WHEN v = ({src_sql}) "
                f"THEN 0 ELSE 99 END AS dist FROM verts)"]
        for r in range(1, 5):
            ctes.append(
                f"{prefix}{r} AS MATERIALIZED (SELECT d.v, "
                f"CAST(least(d.dist, "
                f"coalesce(min(n.dist) + 1, 99)) AS INT) AS dist "
                f"FROM {prefix}{r - 1} d LEFT JOIN bi b ON b.dst = d.v "
                f"LEFT JOIN {prefix}{r - 1} n ON n.v = b.src "
                f"GROUP BY d.v, d.dist)")
        return ctes
    s1 = ",\n    ".join(sweep("s", "SELECT min(v) FROM verts"))
    s2 = ",\n    ".join(sweep("e", "SELECT f FROM farv"))
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM bi),
    {s1},
    m1 AS (SELECT CAST(max(dist) AS BIGINT) AS ecc_source
           FROM s4 WHERE dist < 99),
    farv AS (SELECT CAST(min(v) AS BIGINT) AS f
             FROM s4, m1 WHERE dist = ecc_source AND dist < 99),
    {s2},
    m2 AS (SELECT CAST(max(dist) AS BIGINT) AS diameter_lb
           FROM e4 WHERE dist < 99)
    SELECT (SELECT CAST(min(v) AS BIGINT) FROM verts) AS source_v,
           m1.ecc_source, farv.f AS far_v, m2.diameter_lb
    FROM m1, farv, m2
    """


@_register(
    "graph_diameter_approx",
    oracle=_diameter_oracle,
    description="double-sweep diameter lower bound (Magnien/Latapy/"
                "Habib 2009) on the capped co-purchase graph: BFS "
                "from the min-id vertex, then BFS from the farthest "
                "vertex found (min-id tiebreak, an exact integer "
                "argmax), both sweeps hop-budgeted like bfs_hops; "
                "integer min-relaxation rounds over the ONE persisted "
                "hash-partitioned edge list, the pivot a 1-row "
                "broadcast — exact on trees, a certified lower bound "
                "everywhere else")
def q_graph_diameter_approx(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        graph_diameter_approx)
    return graph_diameter_approx(load_table(spark, sf_dir, "lineitem"))


@_register(
    "join_cardinality_audit",
    oracle="""
    WITH lk AS (SELECT o_orderkey AS k, count(*) AS cl
                FROM orders GROUP BY 1),
    rk AS (SELECT l_orderkey AS k, count(*) AS cr
           FROM lineitem GROUP BY 1),
    l AS (SELECT CAST(sum(cl) AS BIGINT) AS n_left,
                 CAST(count(*) AS BIGINT) AS d_left FROM lk),
    r AS (SELECT CAST(sum(cr) AS BIGINT) AS n_right,
                 CAST(count(*) AS BIGINT) AS d_right FROM rk),
    b AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap,
                 CAST(sum(CAST(cl AS HUGEINT) * cr) AS BIGINT)
                     AS actual_rows
          FROM lk JOIN rk USING (k))
    SELECT n_left, n_right, d_left, d_right, n_overlap, actual_rows,
           round((CAST(n_left AS DOUBLE) * n_right
                  / greatest(d_left, d_right)), 4) + 0.0 AS est_rows,
           round(actual_rows / (CAST(n_left AS DOUBLE) * n_right
                  / greatest(d_left, d_right)), 4) + 0.0
               AS actual_over_est
    FROM l, r, b
    """,
    description="join-cardinality audit for orders JOIN lineitem: "
                "exact per-side row/key counts, key overlap, TRUE "
                "output cardinality sum(cl*cr) in decimal(38), the "
                "textbook uniformity estimate |L|*|R|/max(dL,dR) and "
                "the actual/estimate ratio — the pairwise-product "
                "companion to join_skew_profile's one-sided hot "
                "keys; the fact tables themselves are never joined, "
                "only the two |keys| count frames")
def q_join_cardinality_audit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.relational import (
        join_cardinality_audit)
    return join_cardinality_audit(load_table(spark, sf_dir, "orders"),
                                  load_table(spark, sf_dir, "lineitem"))


def _strat_ate_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.stats import (
        ATE_SCALE,
        STRATA_BUCKET,
        STRATA_MAX,
    )
    diff = "(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)"
    contrib = f"(CAST(n0 + n1 AS DOUBLE) / nn * {diff})"
    return f"""
    WITH pu AS (
      SELECT user_id % 2 AS arm,
             least({STRATA_MAX}, (count(*) - 1) // {STRATA_BUCKET})
                 AS stratum,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    cell AS (
      SELECT stratum, arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM pu GROUP BY 1, 2),
    strata AS (
      SELECT stratum,
             CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT)
                 AS n0,
             CAST(sum(CASE WHEN arm = 0 THEN sy ELSE 0 END) AS BIGINT)
                 AS sy0,
             CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT)
                 AS n1,
             CAST(sum(CASE WHEN arm = 1 THEN sy ELSE 0 END) AS BIGINT)
                 AS sy1
      FROM cell GROUP BY stratum
      HAVING sum(CASE WHEN arm = 0 THEN n ELSE 0 END) > 0
         AND sum(CASE WHEN arm = 1 THEN n ELSE 0 END) > 0),
    tot AS (SELECT sum(n0 + n1) AS nn FROM strata),
    per AS (
      SELECT CAST(stratum AS BIGINT) AS stratum, n0, n1,
             round(CAST(sy0 AS DOUBLE) / n0 / 100.0, 4) + 0.0
                 AS mean_y0,
             round(CAST(sy1 AS DOUBLE) / n1 / 100.0, 4) + 0.0
                 AS mean_y1,
             round({diff} / 100.0, 4) + 0.0 AS diff,
             CAST(round(({contrib}) * {ATE_SCALE}, 0) AS BIGINT)
                 AS c_mn
      FROM strata, tot),
    a AS (SELECT sum(c_mn) / ({ATE_SCALE}.0 * 100.0) AS a FROM per)
    SELECT stratum, n0, n1, mean_y0, mean_y1, diff,
           round(a, 6) + 0.0 AS ate
    FROM per, a
    """


@_register(
    "stratified_treatment_effect",
    oracle=_strat_ate_oracle,
    description="stratified ATE (Cochran 1968, the exact-matching "
                "form of propensity adjustment): parity arms (A/A by "
                "construction), strata by user activity bucket (the "
                "confounder a naive diff ignores), outcome = purchase "
                "revenue; ATE = sum_s (n_s/N)(y1s - y0s) with each "
                "stratum's weighted contribution quantized to "
                "micro-cents so the headline is an exact order-free "
                "integer sum (psi playbook); corpus -> |users| -> "
                "|strata x 2| frames")
def q_stratified_treatment_effect(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        stratified_treatment_effect)
    return stratified_treatment_effect(
        load_table(spark, sf_dir, "events"))


def _ndcg_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.retrieval import (
        ndcg_discount_expr)
    w = ndcg_discount_expr()
    return f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    qt AS (SELECT unnest(['hash', 'join', 'scan', 'vector']) AS term),
    dfq AS (SELECT term, count(*) AS df_term
            FROM tf JOIN qt USING (term) GROUP BY term),
    bm AS (
      SELECT tf.doc_id,
             ln(1.0 + (n_docs - df_term + 0.5) / (df_term + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS part
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
    topk AS (
      SELECT doc_id, round(sum(part), 4) + 0.0 AS bm25
      FROM bm GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
    matched AS (SELECT doc_id, count(DISTINCT term) AS nq
                FROM tf JOIN qt USING (term) GROUP BY doc_id),
    gains AS (SELECT doc_id,
                     CAST(CASE WHEN nq >= 2 THEN 3 WHEN nq = 1 THEN 1
                          ELSE 0 END AS BIGINT) AS gain
              FROM matched),
    ranked AS (
      SELECT t.doc_id, t.bm25, CAST(1 + count(o.d2) AS BIGINT) AS pos
      FROM topk t LEFT JOIN
           (SELECT doc_id AS d2, bm25 AS s2 FROM topk) o
        ON o.s2 > t.bm25 OR (o.s2 = t.bm25 AND o.d2 < t.doc_id)
      GROUP BY t.doc_id, t.bm25),
    sc AS (
      SELECT r.doc_id, r.pos, COALESCE(g.gain, 0) AS gain, {w} AS w
      FROM ranked r LEFT JOIN gains g USING (doc_id)),
    dcg AS (SELECT CAST(sum(gain * w) AS BIGINT) AS dcg_q FROM sc),
    fh AS (SELECT min(pos) AS fpos FROM sc WHERE gain > 0),
    hist AS (
      SELECT CAST(sum(CASE WHEN gain = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n3,
             CAST(sum(CASE WHEN gain = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n1
      FROM gains),
    rf AS (SELECT unnest(range(1, 21)) AS pos),
    ideal AS (
      SELECT CAST(sum((CASE WHEN pos <= least(n3, 20) THEN 3
                        WHEN pos <= least(n3 + n1, 20) THEN 1
                        ELSE 0 END) * ({w})) AS BIGINT) AS idcg_q
      FROM rf, hist),
    summ AS (
      SELECT round(CAST(dcg_q AS DOUBLE) / idcg_q, 6) + 0.0 AS ndcg,
             COALESCE(round(1.0 / fpos, 6) + 0.0, 0.0) AS mrr
      FROM dcg, ideal, fh)
    SELECT pos, doc_id, gain, ndcg, mrr FROM sc, summ
    """


@_register(
    "ndcg_retrieval_eval",
    oracle=_ndcg_oracle,
    description="nDCG@20 + MRR of the BM25 ranking against planted "
                "graded relevance (rel 2 = >=2 distinct query terms, "
                "rel 1 = exactly one; gain 2^rel-1) — Jarvelin & "
                "Kekalainen 2002: rank discounts quantized to BIGINT "
                "1e-8 units at the bounded rank frame (one ln pair "
                "per POSITION), DCG/iDCG exact integer sums, the "
                "ideal from the corpus GAIN HISTOGRAM joined to a "
                "20-row rank frame (never a corpus sort), in-result "
                "ranks via broadcast triangular self-join (no global "
                "window) — the retriever evaluation a retrieval-"
                "filtered data pipeline needs")
def q_ndcg_retrieval_eval(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        ndcg_retrieval_eval)
    return ndcg_retrieval_eval(load_table(spark, sf_dir, "documents"),
                               ["hash", "join", "scan", "vector"], k=20)


def _nb_margin_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.ml import (
        MARGIN_BUCKET_MN,
        MARGIN_MAX_BUCKET,
    )
    return """WITH ttc AS MATERIALIZED (
      SELECT doc_id, actual_lang, tok, count(*) AS n
      FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2, 3),
    trainc AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    tlc AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM trainc)
      GROUP BY 1, 2),
    vocabc AS (SELECT count(DISTINCT tok) AS v FROM tlc),
    totalsc AS (SELECT lang, sum(c) AS ctot FROM tlc GROUP BY lang),
    ntc AS (SELECT count(*) AS n_total FROM trainc),
    priorsc AS (SELECT lang, count(*) AS n_docs FROM trainc
                    GROUP BY lang),
    lfc AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsc p JOIN totalsc t USING (lang),
           ntc, vocabc v),
    modelc AS (
      SELECT tlc.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tlc JOIN lfc ON tlc.lang = lfc.lang),
    scoredc AS (
      SELECT doc_id, actual_lang, lfc.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfc.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfc
      LEFT JOIN modelc m
        ON m.lang = lfc.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfc.lang, prior_mn),
    predm AS (
      SELECT doc_id, actual_lang, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scoredc),
    top2 AS (
      SELECT doc_id, actual_lang,
             max(CASE WHEN rk = 1 THEN lang END) AS pred,
             max(CASE WHEN rk = 1 THEN score END) AS s1,
             max(CASE WHEN rk = 2 THEN score END) AS s2
      FROM predm WHERE rk <= 2 GROUP BY 1, 2),
    m AS (
      SELECT CASE WHEN pred = actual_lang THEN 1 ELSE 0 END AS ok,
             s1 - s2 AS margin
      FROM top2)
    SELECT CAST(least({mx}, margin // {bw}) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ok) AS BIGINT) AS n_correct,
           CAST((sum(ok) * 10000) // count(*) AS BIGINT) AS accuracy_bp,
           CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin_mn
    FROM m GROUP BY 1
    """.replace("{re}", _WORD_RE_SQL) \
       .replace("{mx}", str(MARGIN_MAX_BUCKET)) \
       .replace("{bw}", str(MARGIN_BUCKET_MN))


@_register(
    "nb_margin_calibration",
    oracle=_nb_margin_oracle,
    description="margin-based calibration audit of the NB language "
                "classifier (the reliability-diagram question, "
                "DeGroot-Fienberg 1983, asked of the exact integer "
                "micronat margin between the top-2 class scores "
                "instead of a softmax that would drag cross-engine "
                "exp() into every cell): per 2-meganat margin bucket "
                "the doc count, correct count, accuracy in integer "
                "basis points and mean margin (integer DIV) — "
                "confidence should predict accuracy; train folds "
                "1..4, test fold 0")
def q_nb_margin_calibration(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        nb_margin_calibration)
    return nb_margin_calibration(load_table(spark, sf_dir, "documents"))


def _nb_roc_auc_oracle() -> str:
    return """WITH ttc AS MATERIALIZED (
      SELECT doc_id, actual_lang, tok, count(*) AS n
      FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2, 3),
    trainc AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    tlc AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM trainc)
      GROUP BY 1, 2),
    vocabc AS (SELECT count(DISTINCT tok) AS v FROM tlc),
    totalsc AS (SELECT lang, sum(c) AS ctot FROM tlc GROUP BY lang),
    ntc AS (SELECT count(*) AS n_total FROM trainc),
    priorsc AS (SELECT lang, count(*) AS n_docs FROM trainc
                    GROUP BY lang),
    lfc AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsc p JOIN totalsc t USING (lang),
           ntc, vocabc v),
    modelc AS (
      SELECT tlc.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tlc JOIN lfc ON tlc.lang = lfc.lang),
    scoredc AS (
      SELECT doc_id, actual_lang, lfc.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfc.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfc
      LEFT JOIN modelc m
        ON m.lang = lfc.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfc.lang, prior_mn),
    g AS (
      SELECT lang, score,
             sum(CASE WHEN actual_lang = lang THEN 1 ELSE 0 END)
                 AS pos_n,
             count(*) AS tot_n
      FROM scoredc GROUP BY 1, 2),
    cum AS (
      SELECT lang, pos_n, tot_n,
             COALESCE(sum(tot_n) OVER (
                 PARTITION BY lang ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS c_less
      FROM g),
    agg AS (
      SELECT lang, CAST(sum(pos_n) AS BIGINT) AS n_pos,
             CAST(sum(tot_n) - sum(pos_n) AS BIGINT) AS n_neg,
             sum(pos_n * (2 * c_less + tot_n + 1)) AS r2
      FROM cum GROUP BY lang)
    SELECT lang, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(((r2 - n_pos * (n_pos + 1)) * 1000000)
                          // (2 * n_pos * n_neg) AS BIGINT)
                END AS auc_micro
    FROM agg
    """.replace("{re}", _WORD_RE_SQL)


@_register(
    "nb_roc_auc",
    oracle=_nb_roc_auc_oracle,
    description="one-vs-rest ROC-AUC per class of the NB language "
                "classifier via the rank-sum identity (Hanley-McNeil "
                "1982) — the threshold-free ranking metric next to "
                "the confusion matrix / calibration / learning-curve "
                "evals: micronat scores are exact integers so doubled "
                "midranks (2*cnt_less + cnt_tie + 1) keep the whole "
                "statistic in integer arithmetic down to one final "
                "DIV; the rank pass runs over per-(lang, score) "
                "count groups, never raw documents")
def q_nb_roc_auc(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import nb_roc_auc
    return nb_roc_auc(load_table(spark, sf_dir, "documents"))


@_register(
    "growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST((CAST(ts AS DATE) - DATE '1970-01-05') // 7
                  AS BIGINT) AS wk
      FROM events),
    lab AS (
      SELECT wk, lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                 AS prev
      FROM uw),
    per AS (
      SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN prev <= wk - 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_resurrected
      FROM lab GROUP BY wk)
    SELECT a.wk AS week, a.n_active, a.n_new, a.n_retained,
           a.n_resurrected,
           CAST(COALESCE(p.n_active - a.n_retained, 0) AS BIGINT)
               AS n_churned_from_prev
    FROM per a LEFT JOIN per p ON p.wk = a.wk - 1
    """,
    description="weekly growth accounting (the new/retained/"
                "resurrected/churned MAU decomposition): active users "
                "per Monday-anchored epoch week split exactly by one "
                "lag() per user over the distinct (user, week) frame; "
                "churn via the identity churned(w) = active(w-1) - "
                "retained(w); all integers, user-partitioned windows, "
                "|weeks|-frame join-backs")
def q_growth_accounting(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        growth_accounting)
    return growth_accounting(load_table(spark, sf_dir, "events"))


def _series_strengths_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        STRENGTH_SCALE)
    period = 7
    det = (f"round(CAST(ds AS DOUBLE) * {STRENGTH_SCALE / 100} "
           f"/ {period}, 0)")
    sea = (f"(CAST(s_ds AS DOUBLE) * {STRENGTH_SCALE / 100} "
           f"/ ({period} * n_dow))")
    res = (f"round(CAST(ds AS DOUBLE) * {STRENGTH_SCALE / 100} "
           f"/ {period} - {sea}, 0)")
    tr = (f"round(CAST(v AS DOUBLE) * {STRENGTH_SCALE / 100} "
          f"- {sea}, 0)")
    vr = "(CAST(n AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr)"
    vd = "(CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)"
    vt = "(CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v,
             (CAST(ts AS DATE) - DATE '1970-01-05') AS day_i
      FROM events GROUP BY 1, 2, 4),
    win AS (
      SELECT event_type, day_i, v,
             sum(v) OVER (PARTITION BY event_type ORDER BY day_i
                          RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                 AS sum_w,
             count(v) OVER (PARTITION BY event_type ORDER BY day_i
                            RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                 AS n_w
      FROM daily),
    d4 AS (
      SELECT event_type, day_i, v, {period} * v - sum_w AS ds,
             day_i % {period} AS dow
      FROM win WHERE n_w = {period}),
    seas AS (
      SELECT event_type, dow, sum(ds) AS s_ds, count(*) AS n_dow
      FROM d4 GROUP BY 1, 2),
    q AS (
      SELECT d4.event_type,
             CAST({det} AS BIGINT) AS dq,
             CAST({res} AS BIGINT) AS rq,
             CAST({tr} AS BIGINT) AS tq
      FROM d4 JOIN seas ON seas.event_type = d4.event_type
                       AND seas.dow = d4.dow),
    mom AS (
      SELECT event_type, count(*) AS n,
             sum(rq) AS sr, sum(CAST(rq AS HUGEINT) * rq) AS srr,
             sum(dq) AS sd, sum(CAST(dq AS HUGEINT) * dq) AS sdd,
             sum(tq) AS st, sum(CAST(tq AS HUGEINT) * tq) AS stt
      FROM q GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(CASE WHEN {vt} <= 0.0 THEN 0.0
                 ELSE greatest(0.0, 1.0 - {vr} / {vt}) END, 4) + 0.0
               AS trend_strength,
           round(CASE WHEN {vd} <= 0.0 THEN 0.0
                 ELSE greatest(0.0, 1.0 - {vr} / {vd}) END, 4) + 0.0
               AS seasonal_strength
    FROM mom
    """


@_register(
    "series_strengths",
    oracle=_series_strengths_oracle,
    description="trend/seasonality strength per event type (Hyndman "
                "FPP: F = max(0, 1 - Var(R)/Var(comp+R))) over the "
                "seasonal_decompose machinery: each per-day component "
                "quantizes to ONE BIGINT via fixed-form round (never "
                "DIV — negative truncation disagrees cross-engine), "
                "variances are exact decimal(38) moment sums, each "
                "strength one fixed-form expression — the one-number "
                "series triage before choosing a forecasting model")
def q_series_strengths(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        series_strengths)
    return series_strengths(load_table(spark, sf_dir, "events"))


def _prefix_join_oracle() -> str:
    from cloud_native_mapreduce_spark.dedup.prefix_join import (
        T_DEN,
        T_NUM,
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS tok
            FROM documents)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM toks a JOIN toks b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           round(CAST(n_shared AS DOUBLE)
                 / (sa.sz + sb.sz - n_shared), 4) + 0.0 AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared * {T_DEN} >= {T_NUM} * (sa.sz + sb.sz - n_shared)
    """


@_register(
    "jaccard_prefix_join",
    oracle=_prefix_join_oracle,
    description="prefix-filtered set-similarity self-join (PPJoin's "
                "prefix filter, Xiao/Wang/Lin/Yu WWW'08): all doc "
                "pairs with token-set Jaccard >= 0.6, candidates from "
                "each set's first L-ceil(tL)+1 tokens under the "
                "ascending-df canonical order — LOSSLESS by the "
                "pigeonhole on the overlap, and skew-resistant by "
                "construction (hot tokens sort to the END of every "
                "set and never become join keys); the oracle runs the "
                "UNFILTERED full-posting join with the same final "
                "predicate, so the value gate verifies the filter's "
                "losslessness pair for pair")
def q_jaccard_prefix_join(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup.prefix_join import (
        jaccard_prefix_join)
    return jaccard_prefix_join(load_table(spark, sf_dir, "documents"))


def _harmonic_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.graph import (
        HC_SCALE,
        HC_TOP_K,
        hc_contrib_expr,
    )
    hc = " + ".join(f"({hc_contrib_expr(f'd{j}')})" for j in range(1, 5))
    reached = " + ".join(
        f"(CASE WHEN d{j} > 0 AND d{j} < 99 THEN 1 ELSE 0 END)"
        for j in range(1, 5))
    d0_cols = ", ".join(
        f"CASE WHEN v = (SELECT v FROM lms WHERE rk = {j}) "
        f"THEN 0 ELSE 99 END AS d{j}" for j in range(1, 5))
    rounds = ",".join(_lmb_round(k) for k in range(1, 5))
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg AS MATERIALIZED (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v HAVING count(*) <= 256),
    edges AS MATERIALIZED (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg) AND b IN (SELECT v FROM deg)),
    bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
           UNION ALL SELECT b AS src, a AS dst FROM edges),
    verts AS (SELECT DISTINCT src AS v FROM bi),
    lms AS (SELECT v, row_number() OVER (ORDER BY v) AS rk
            FROM verts),
    d0 AS (SELECT v, {d0_cols} FROM verts),
    {rounds}
    SELECT v, CAST({reached} AS BIGINT) AS n_reached,
           round(CAST(({hc}) AS DOUBLE) / {HC_SCALE}.0, 6) + 0.0
               AS hc_score
    FROM d4
    ORDER BY ({hc}) DESC, v LIMIT {HC_TOP_K}
    """


@_register(
    "harmonic_centrality_approx",
    oracle=_harmonic_oracle,
    description="landmark-approximated harmonic centrality (Boldi-"
                "Vigna measure, Potamias CIKM'09 estimation): "
                "hc(v) = sum over 4 deterministic landmarks of "
                "1/d(v,l) with 1/d quantized to BIGINT 1e-8 units at "
                "the bounded distance domain — exact integer scores "
                "with a (score, v) total order over the SAME "
                "vectorized multi-source relaxation as "
                "landmark_distances; top-50 via TakeOrdered — the "
                "closeness ranking at L-BFS cost instead of the "
                "unpayable all-pairs exact measure")
def q_harmonic_centrality_approx(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        harmonic_centrality_approx)
    return harmonic_centrality_approx(
        load_table(spark, sf_dir, "lineitem"))


@_register(
    "quantile_treatment_effect",
    oracle="""
    WITH pu AS (
      SELECT user_id % 2 AS arm,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS BIGINT) AS np
      FROM events GROUP BY user_id),
    hist AS (SELECT arm, np, count(*) AS c FROM pu GROUP BY 1, 2),
    cum AS (
      SELECT a.arm, a.np, CAST(sum(b.c) AS BIGINT) AS cum
      FROM hist a JOIN hist b
        ON b.arm = a.arm AND b.np <= a.np
      GROUP BY 1, 2),
    tot AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM pu
            GROUP BY arm),
    qf AS (SELECT * FROM (VALUES (1, 4, 'p25'), (1, 2, 'p50'),
                                 (3, 4, 'p75'), (9, 10, 'p90'))
           AS t(qn, qd, q_label)),
    th AS (SELECT arm, q_label, n, (qn * n + qd - 1) // qd AS r
           FROM tot, qf),
    qv AS (
      SELECT th.q_label, th.arm, th.n, min(cum.np) AS val
      FROM cum JOIN th ON th.arm = cum.arm AND cum.cum >= th.r
      GROUP BY 1, 2, 3)
    SELECT a0.q_label, a0.n AS n0, a1.n AS n1,
           CAST(a0.val AS BIGINT) AS q_arm0,
           CAST(a1.val AS BIGINT) AS q_arm1,
           CAST(a1.val - a0.val AS BIGINT) AS qte
    FROM (SELECT * FROM qv WHERE arm = 0) a0
    JOIN (SELECT * FROM qv WHERE arm = 1) a1 USING (q_label)
    """,
    description="quantile treatment effects (Doksum 1974): exact "
                "per-arm ceil(q*n) order statistics of per-user "
                "purchase counts (a BOUNDED outcome domain, so the "
                "conversion_lag histogram+triangular-cumulative "
                "machinery gives exact quantiles per arm) and their "
                "p25/p50/p75/p90 differences — where the "
                "distribution moved, which the mean-based "
                "stratified ATE averages away; parity arms, all "
                "integers")
def q_quantile_treatment_effect(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        quantile_treatment_effect)
    return quantile_treatment_effect(load_table(spark, sf_dir, "events"))


@_register(
    "mase_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '1970-01-05') AS day_i,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    mx AS (SELECT event_type, max(day_i) AS mx FROM daily GROUP BY 1),
    j AS (
      SELECT d.event_type,
             CASE WHEN d.day_i > mx.mx - 7 THEN 1 ELSE 0 END
                 AS is_hold,
             abs(d.v - l.v) AS ae
      FROM daily d
      JOIN daily l ON l.event_type = d.event_type
                  AND l.day_i = d.day_i - 7
      JOIN mx ON mx.event_type = d.event_type),
    agg AS (
      SELECT event_type,
             CAST(sum(is_hold) AS BIGINT) AS h_days,
             CAST(sum(ae * is_hold) AS BIGINT) AS se_h,
             CAST(sum(1 - is_hold) AS BIGINT) AS m_days,
             CAST(sum(ae * (1 - is_hold)) AS BIGINT) AS se_i
      FROM j GROUP BY event_type)
    SELECT event_type, h_days, m_days,
           round(CASE WHEN h_days = 0 THEN 0.0
                 ELSE CAST(se_h AS DOUBLE) / h_days / 100.0 END, 4)
               + 0.0 AS mae_holdout,
           round(CASE WHEN se_i = 0 OR h_days = 0 THEN 0.0
                 ELSE (CAST(se_h AS DOUBLE) * m_days)
                      / (CAST(se_i AS DOUBLE) * h_days) END, 4)
               + 0.0 AS mase
    FROM agg
    """,
    description="seasonal-naive backtest with MASE (Hyndman-Koehler "
                "2006): last-7-day holdout per event type, forecast "
                "= value one week earlier, MASE = holdout MAE / "
                "in-sample seasonal-naive MAE as ONE exact-integer "
                "cross-multiplication ratio (errors are exact "
                "integer-cent |differences| from one keyed self-join "
                "on the bounded daily frame) — the scale-free "
                "beat-the-naive gate to run above holt_forecast")
def q_mase_backtest(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        mase_backtest)
    return mase_backtest(load_table(spark, sf_dir, "events"))


def _kappa_oracle() -> str:
    return """WITH ttc AS MATERIALIZED (
      SELECT doc_id, actual_lang, tok, count(*) AS n
      FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2, 3),
    trainc AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    tlc AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM trainc)
      GROUP BY 1, 2),
    vocabc AS (SELECT count(DISTINCT tok) AS v FROM tlc),
    totalsc AS (SELECT lang, sum(c) AS ctot FROM tlc GROUP BY lang),
    ntc AS (SELECT count(*) AS n_total FROM trainc),
    priorsc AS (SELECT lang, count(*) AS n_docs FROM trainc
                    GROUP BY lang),
    lfc AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsc p JOIN totalsc t USING (lang),
           ntc, vocabc v),
    modelc AS (
      SELECT tlc.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tlc JOIN lfc ON tlc.lang = lfc.lang),
    scoredc AS (
      SELECT doc_id, actual_lang, lfc.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfc.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfc
      LEFT JOIN modelc m
        ON m.lang = lfc.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfc.lang, prior_mn),
    nbp AS (
      SELECT doc_id, lang AS nb_lang
      FROM (SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang) AS rk
            FROM scoredc) WHERE rk = 1),
    hs AS (
      SELECT doc_id,
             len(list_filter(toks,
                 x -> list_contains(['the','and','of'], x))) AS he,
             len(list_filter(toks,
                 x -> list_contains(['der','und','die'], x))) AS hd,
             len(list_filter(toks,
                 x -> list_contains(['le','et','les'], x))) AS hf,
             len(list_filter(toks,
                 x -> list_contains(['el','y','los'], x))) AS hspa
      FROM (SELECT doc_id, {toks} AS toks FROM documents
            WHERE doc_id % 5 = 0)),
    heur AS (
      SELECT doc_id,
             CASE WHEN greatest(he, hd, hf, hspa) = 0 THEN 'other'
                  WHEN hf = greatest(he, hd, hf, hspa) THEN 'fr'
                  WHEN hspa = greatest(he, hd, hf, hspa) THEN 'es'
                  WHEN he = greatest(he, hd, hf, hspa) THEN 'en'
                  ELSE 'de' END AS heur_lang
      FROM hs),
    conf AS (
      SELECT nb_lang, heur_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM nbp JOIN heur USING (doc_id)
      GROUP BY 1, 2),
    rws AS (SELECT nb_lang AS lab, sum(n_docs) AS r FROM conf
            GROUP BY 1),
    cls AS (SELECT heur_lang AS lab, sum(n_docs) AS c FROM conf
            GROUP BY 1),
    rc AS (SELECT COALESCE(sum(CAST(r AS HUGEINT) * c), 0) AS src
           FROM rws JOIN cls USING (lab)),
    tot AS (SELECT sum(n_docs) AS n,
                   sum(CASE WHEN nb_lang = heur_lang THEN n_docs
                       ELSE 0 END) AS diag
            FROM conf),
    head AS (
      SELECT CAST((diag * 10000) // n AS BIGINT) AS agreement_bp,
             round(((CAST(n AS DOUBLE) * diag - CAST(src AS DOUBLE))
                    / (CAST(n AS DOUBLE) * n - CAST(src AS DOUBLE))),
                   6) + 0.0 AS kappa
      FROM tot, rc)
    SELECT nb_lang, heur_lang, n_docs, agreement_bp, kappa
    FROM conf, head
    """.replace("{re}", _WORD_RE_SQL).replace("{toks}", _TOKS)


@_register(
    "classifier_agreement_kappa",
    oracle=_kappa_oracle,
    description="Cohen's kappa between the trained NB language model "
                "and the stopword-marker heuristic on the fold-0 "
                "holdout (Cohen 1960 — chance-corrected agreement): "
                "exact integer confusion matrix; kappa collapses to "
                "ONE fixed-form expression (n*diag - sum r_k*c_k) / "
                "(n^2 - sum r_k*c_k) with marginal products in "
                "decimal(38) — no po/pe float intermediates; output "
                "= confusion cells with the headline agreement_bp "
                "and kappa alongside — the is-the-cheap-fallback-"
                "safe model-governance number")
def q_classifier_agreement_kappa(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        classifier_agreement_kappa)
    return classifier_agreement_kappa(
        load_table(spark, sf_dir, "documents"))


@_register(
    "pnm_decode_stats",
    oracle="""
    WITH geom AS (
      SELECT doc_id,
             ['P2', 'P5', 'P6'][CAST(doc_id % 3 AS INT) + 1] AS magic,
             7 + doc_id % 9 AS w, 4 + doc_id % 6 AS h,
             CASE WHEN doc_id % 3 = 1 AND doc_id % 4 = 1
                  THEN 1000 ELSE 255 END AS mv,
             CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 1 END AS pp
      FROM documents),
    px AS (
      SELECT doc_id, magic, w, h, mv, unnest(range(0, w * h * pp)) AS i
      FROM geom),
    v AS (SELECT doc_id, magic, w, h, mv, i,
                 (doc_id + 7 * i) % (mv + 1) AS v
          FROM px)
    SELECT doc_id, magic,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(mv AS BIGINT) AS maxval,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px,
           CAST(sum((i + 1) * v) % 1000000007 AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, magic, w, h, mv
    """,
    description="REAL netpbm decode (multimodal/pnm.py — the ninth "
                "format, and the text-header binary container): "
                "comment-aware tokenized header parse, then plain "
                "ASCII-token (P2) or raw 1/2-byte big-endian (P5/P6 "
                "with maxval 1000 exercising the 16-bit path) raster "
                "read; synthesized payloads cycle all three magics "
                "with a planted # comment; lossless, so the oracle "
                "replays the raster from first principles and states "
                "exact stats plus a position-weighted checksum a "
                "header-offset or byte-order bug cannot survive")
def q_pnm_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.pnm_decode_stats(binary.pnm_payloads(docs))


def _fw_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.curation import (
        FW_TOP_K,
        fw_z_expr,
    )
    return f"""
    WITH tl AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS y
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS tok
            FROM documents)
      GROUP BY 1, 2),
    tw AS (SELECT tok, CAST(sum(y) AS BIGINT) AS yw FROM tl
           GROUP BY tok),
    nls AS (SELECT lang, CAST(sum(y) AS BIGINT) AS nl FROM tl
            GROUP BY lang),
    ntt AS (SELECT CAST(sum(y) AS BIGINT) AS nt FROM tl),
    cell AS (
      SELECT tl.lang, tl.tok, tl.y,
             round({fw_z_expr()}, 4) + 0.0 AS z
      FROM tl JOIN tw USING (tok) JOIN nls USING (lang), ntt),
    ranked AS (
      SELECT lang, tok, y, z,
             row_number() OVER (PARTITION BY lang
                                ORDER BY z DESC, tok) AS rk
      FROM cell)
    SELECT lang, tok AS term, y AS n_in_lang, z AS z_score
    FROM ranked WHERE rk <= {FW_TOP_K}
    """


@_register(
    "odds_ratio_keywords",
    oracle=_fw_oracle,
    description="distinctive vocabulary per language by informative-"
                "Dirichlet log-odds z-scores (Monroe/Colaresi/Quinn "
                "2008 'Fightin' Words' — variance-aware, so two lucky "
                "hits of a rare term cannot outrank a genuinely "
                "overused common one): corpus-as-prior smoothing at "
                "ALPHA0=1000 pseudo-tokens, each z ONE fixed-form "
                "ln/sqrt chain over exact integers at the vocabulary-"
                "bounded cell frame (shared text — the ols3_exprs "
                "portability rule), lang-partitioned top-10")
def q_odds_ratio_keywords(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        odds_ratio_keywords)
    return odds_ratio_keywords(load_table(spark, sf_dir, "documents"))


def _steps_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.events import (
        ATTR_CHANNELS,
        ATTR_ROUNDS,
        steps_round_exprs,
    )
    froms = ("start",) + ATTR_CHANNELS
    tos = ATTR_CHANNELS + ("conv",)
    p_cols = [f"p_{s}_{t}" for s in froms for t in tos]
    mat = ",\n             ".join(
        f"coalesce(sum(CASE WHEN from_s = '{s}' AND to_s = '{t}' "
        f"THEN p END), 0.0) AS p_{s}_{t}"
        for s in froms for t in tos)
    zeros = ", ".join(f"0.0 AS {name}"
                      for name, _ in steps_round_exprs())
    rounds = []
    prev = "r0"
    for r in range(1, ATTR_ROUNDS + 1):
        cols = ", ".join(p_cols) + ", " + ", ".join(
            f"{sql} AS {name}" for name, sql in steps_round_exprs())
        rounds.append(f"r{r} AS (SELECT {cols} FROM {prev})")
        prev = f"r{r}"
    start_terms = " + ".join(f"(v_st_{u} * p_start_{u})"
                             for u in ATTR_CHANNELS)
    stack = "\n    UNION ALL\n    ".join(
        ["SELECT 'start' AS state, round((CAST(1.0 AS DOUBLE) + "
         f"{start_terms}), 6) + 0.0 AS expected_steps FROM {prev}"]
        + [f"SELECT '{c}', round(v_st_{c}, 6) + 0.0 FROM {prev}"
           for c in ATTR_CHANNELS])
    return f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 'conv'
                  ELSE event_type END AS st,
             COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS j
      FROM events),
    seq AS (
      SELECT st,
             row_number() OVER (PARTITION BY user_id, j
                                ORDER BY ts, event_id) AS rn,
             lead(st) OVER (PARTITION BY user_id, j
                            ORDER BY ts, event_id) AS nxt
      FROM base),
    trans AS (
      SELECT 'start' AS from_s, st AS to_s FROM seq WHERE rn = 1
      UNION ALL
      SELECT st, COALESCE(nxt, 'null') FROM seq WHERE st <> 'conv'),
    c AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS n
          FROM trans GROUP BY 1, 2),
    tt AS (SELECT from_s, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY 1),
    pr AS (SELECT c.from_s, c.to_s, c.n / tt.tot AS p
           FROM c JOIN tt USING (from_s)),
    m AS MATERIALIZED (
      SELECT {mat}
      FROM pr),
    r0 AS (SELECT m.*, {zeros} FROM m),
    {",{nl}    ".format(nl=chr(10)).join(rounds)}
    {stack}
    """


@_register(
    "expected_steps_to_absorption",
    oracle=_steps_oracle,
    description="expected journey length (touches until conversion "
                "or abandonment) per chain state — the absorbing-"
                "chain fundamental-matrix readout (Kemeny-Snell "
                "1960) by the same truncated fixed-form unrolling, "
                "transition frame and pinned term order as "
                "removal_effect_attribution (E[s] = 1 + sum_u "
                "p(s->u)E[u] over transient channels); the how-long "
                "companion to the removal effect's which-channel")
def q_expected_steps_to_absorption(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        expected_steps_to_absorption)
    return expected_steps_to_absorption(
        load_table(spark, sf_dir, "events"))


@_register(
    "lorenz_curve_points",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey),
    bn AS (
      SELECT s.o_custkey, s.x,
             CAST(c.c_nationkey AS BIGINT) AS nationkey
      FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey),
    ranked AS (
      SELECT nationkey, x,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY x ASC, o_custkey ASC) AS i,
             sum(x) OVER (PARTITION BY nationkey
                          ORDER BY x ASC, o_custkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM bn),
    pn AS (SELECT nationkey, count(*) AS n,
                  CAST(sum(x) AS BIGINT) AS sx
           FROM bn GROUP BY nationkey),
    dec AS (SELECT unnest(range(1, 11)) AS decile),
    th AS (SELECT nationkey, decile, sx,
                  (decile * n) // 10 AS i
           FROM pn, dec WHERE (decile * n) // 10 >= 1)
    SELECT r.nationkey, th.decile, CAST(r.i AS BIGINT) AS buyers_cum,
           round(CAST(r.cum AS DOUBLE) / th.sx, 6) + 0.0
               AS spend_share
    FROM ranked r JOIN th ON th.nationkey = r.nationkey
                         AND th.i = r.i
    """,
    description="Lorenz curve of customer spend per nation at decile "
                "resolution — the curve gini_by_nation's single "
                "number integrates: L(d) = poorest-floor(dn/10) "
                "buyers' share of total spend, same ascending "
                "(spend, custkey) total order and exact-cent sums, "
                "nation-partitioned running cumulative, one "
                "fixed-form division per decile point")
def q_lorenz_curve_points(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        lorenz_curve_points)
    return lorenz_curve_points(load_table(spark, sf_dir, "orders"),
                               load_table(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# Round 13: rank/trend statistics wave
# ---------------------------------------------------------------------------

@_register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT a.event_type,
             CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2) g
      GROUP BY 1),
    base AS (
      SELECT n.event_type, n.n_days, s.s_stat,
             CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                  - ties.tie18 AS BIGINT) AS var18
      FROM n JOIN s USING (event_type) JOIN ties USING (event_type)),
    z AS (
      SELECT *, CASE WHEN var18 <= 0 THEN CAST(NULL AS DOUBLE)
                     WHEN s_stat > 0
                     THEN (s_stat - 1) / sqrt(var18 / 18.0)
                     WHEN s_stat < 0
                     THEN (s_stat + 1) / sqrt(var18 / 18.0)
                     ELSE 0.0 END AS zz
      FROM base)
    SELECT event_type, n_days, s_stat, var18,
           round(zz, 6) + 0.0 AS z,
           CASE WHEN zz > 1.959963984540054 THEN 'up'
                WHEN zz < -1.959963984540054 THEN 'down'
                ELSE 'none' END AS trend
    FROM z
    """,
    description="Mann-Kendall monotonic-trend test per event type "
                "over daily revenue: S = sum of pairwise diff signs "
                "(exact integer, calendar-bounded pair frame), "
                "tie-corrected variance as the exact integer "
                "var18 = 18*Var(S), continuity-corrected z, 5% "
                "two-sided trend call — the significance companion "
                "to theil_sen_trend's slope")
def q_mann_kendall_trend(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        mann_kendall_trend)
    return mann_kendall_trend(load_table(spark, sf_dir, "events"))


@_register(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT day, CAST(sum(cx) AS BIGINT) AS x,
             CAST(sum(cy) AS BIGINT) AS y
      FROM (SELECT CAST(ts AS DATE) AS day,
                   CASE WHEN event_type = 'click'
                        THEN CAST(round(value * 100, 0) AS BIGINT)
                        ELSE 0 END AS cx,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100, 0) AS BIGINT)
                        ELSE 0 END AS cy
            FROM events WHERE event_type IN ('click', 'purchase')) e
      GROUP BY day),
    shared AS (
      SELECT day, x, y FROM daily
      WHERE day IN (SELECT CAST(ts AS DATE) FROM events
                    WHERE event_type = 'click')
        AND day IN (SELECT CAST(ts AS DATE) FROM events
                    WHERE event_type = 'purchase')),
    pairs AS (
      SELECT CAST(sign(b.x - a.x) AS INT) AS sx,
             CAST(sign(b.y - a.y) AS INT) AS sy
      FROM shared a JOIN shared b ON a.day < b.day),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS concordant,
        CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
            AS discordant,
        CAST(sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_x_only,
        CAST(sum(CASE WHEN sx <> 0 AND sy = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_y_only,
        CAST(sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS ties_both
      FROM pairs),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM shared)
    SELECT n_days, concordant, discordant, ties_x_only, ties_y_only,
           ties_both,
           round(CASE WHEN (concordant + discordant + ties_y_only) = 0
                        OR (concordant + discordant + ties_x_only) = 0
                      THEN CAST(NULL AS DOUBLE)
                      ELSE (concordant - discordant) /
                           sqrt(CAST(concordant + discordant
                                     + ties_y_only AS DOUBLE)
                                * CAST(concordant + discordant
                                       + ties_x_only AS DOUBLE)) END,
                 6) + 0.0 AS tau_b
    FROM nd, agg
    """,
    description="Kendall tau-b between click and purchase daily "
                "revenue over shared days: exact integer concordant/"
                "discordant/tie counts from the calendar-bounded "
                "day-pair frame, one fixed-form double, NULL on a "
                "constant margin")
def q_kendall_tau_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        kendall_tau_daily)
    return kendall_tau_daily(load_table(spark, sf_dir, "events"))


@_register(
    "spearman_daily",
    oracle="""
    WITH daily AS (
      SELECT day, CAST(sum(cx) AS BIGINT) AS x,
             CAST(sum(cy) AS BIGINT) AS y
      FROM (SELECT CAST(ts AS DATE) AS day,
                   CASE WHEN event_type = 'click'
                        THEN CAST(round(value * 100, 0) AS BIGINT)
                        ELSE 0 END AS cx,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100, 0) AS BIGINT)
                        ELSE 0 END AS cy
            FROM events WHERE event_type IN ('click', 'purchase')) e
      GROUP BY day),
    shared AS (
      SELECT day, x, y FROM daily
      WHERE day IN (SELECT CAST(ts AS DATE) FROM events
                    WHERE event_type = 'click')
        AND day IN (SELECT CAST(ts AS DATE) FROM events
                    WHERE event_type = 'purchase')),
    rx AS (
      SELECT x, 2 * (SELECT count(*) FROM shared s2
                     WHERE s2.x < g.x)
               + count(*) + 1 AS r2x
      FROM shared g GROUP BY x),
    ry AS (
      SELECT y, 2 * (SELECT count(*) FROM shared s2
                     WHERE s2.y < g.y)
               + count(*) + 1 AS r2y
      FROM shared g GROUP BY y),
    j AS (SELECT r2x, r2y FROM shared
          JOIN rx USING (x) JOIN ry USING (y)),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(r2x) AS BIGINT) AS sx,
             CAST(sum(r2y) AS BIGINT) AS sy,
             CAST(sum(r2x * r2y) AS BIGINT) AS sxy,
             CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
             CAST(sum(r2y * r2y) AS BIGINT) AS syy
      FROM j)
    SELECT n_days,
           round(CASE WHEN n_days * sxx = sx * sx
                        OR n_days * syy = sy * sy
                      THEN CAST(NULL AS DOUBLE)
                      ELSE (CAST(n_days AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / (sqrt(CAST(n_days AS DOUBLE) * sxx
                                   - CAST(sx AS DOUBLE) * sx)
                              * sqrt(CAST(n_days AS DOUBLE) * syy
                                     - CAST(sy AS DOUBLE) * sy)) END,
                 6) + 0.0 AS rho
    FROM agg
    """,
    description="Spearman rank correlation between click and purchase "
                "daily revenue: doubled midranks are exact integers "
                "(2*cnt_less + cnt_tie + 1), every rank moment an "
                "exact integer sum, rho one fixed-form double (the "
                "doubling cancels), NULL on a constant margin")
def q_spearman_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        spearman_daily)
    return spearman_daily(load_table(spark, sf_dir, "events"))


@_register(
    "friedman_dow",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1),
    wk AS (
      SELECT day, v,
             date_trunc('week', CAST(day AS TIMESTAMP)) AS wk,
             CAST(dayofweek(day) + 1 AS INT) AS dow
      FROM daily),
    full_wk AS (
      SELECT wk FROM wk GROUP BY wk HAVING count(*) = 7),
    d AS (SELECT wk.* FROM wk JOIN full_wk USING (wk)),
    r2 AS (
      SELECT d.wk, d.dow,
             2 * (SELECT count(*) FROM d d2
                  WHERE d2.wk = d.wk AND d2.v < d.v)
               + (SELECT count(*) FROM d d3
                  WHERE d3.wk = d.wk AND d3.v = d.v) + 1 AS r2
      FROM d),
    per_dow AS (
      SELECT dow, CAST(sum(r2) AS BIGINT) AS r2j,
             CAST(count(*) AS BIGINT) AS n
      FROM r2 GROUP BY dow),
    num AS (
      SELECT CAST(max(n) AS BIGINT) AS n_blocks,
             CAST(sum((r2j - n * 8) * (r2j - n * 8)) AS BIGINT) AS num
      FROM per_dow),
    den AS (
      SELECT CAST(sum((r2 - 8) * (r2 - 8)) AS BIGINT) AS den FROM r2)
    SELECT n_blocks, CAST(7 AS INT) AS k,
           round(CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(6 AS DOUBLE) * num / den END,
                 6) + 0.0 AS q_stat
    FROM num, den
    """,
    description="Friedman rank test for a day-of-week revenue effect: "
                "blocks = complete ISO weeks, doubled within-week "
                "midranks exact integers, tie-robust Conover form "
                "with every sum exact and one final double — blocks "
                "out the week-level drift kruskal_wallis_dow pools in")
def q_friedman_dow(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        friedman_dow)
    return friedman_dow(load_table(spark, sf_dir, "events"))


@_register(
    "burstiness_index",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY event_type ORDER BY ts, event_id)
                  AS BIGINT) AS g
      FROM events),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(CAST(g AS HUGEINT)) AS HUGEINT) AS sg,
             CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sgg
      FROM g WHERE g IS NOT NULL GROUP BY 1)
    SELECT event_type, n_gaps,
           round(CAST(sg AS DOUBLE) / n_gaps / 1000000.0, 2) + 0.0
               AS mean_gap_s,
           round(CASE WHEN n_gaps < 2
                        OR sqrt(CAST(sgg AS DOUBLE) / n_gaps
                                - (CAST(sg AS DOUBLE) / n_gaps)
                                  * (CAST(sg AS DOUBLE) / n_gaps))
                           + CAST(sg AS DOUBLE) / n_gaps = 0
                      THEN CAST(NULL AS DOUBLE)
                      ELSE (sqrt(CAST(sgg AS DOUBLE) / n_gaps
                                 - (CAST(sg AS DOUBLE) / n_gaps)
                                   * (CAST(sg AS DOUBLE) / n_gaps))
                            - CAST(sg AS DOUBLE) / n_gaps)
                           / (sqrt(CAST(sgg AS DOUBLE) / n_gaps
                                   - (CAST(sg AS DOUBLE) / n_gaps)
                                     * (CAST(sg AS DOUBLE) / n_gaps))
                              + CAST(sg AS DOUBLE) / n_gaps) END,
                 6) + 0.0 AS b_index
    FROM agg
    """,
    description="Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) "
                "of each event type's inter-arrival gaps: exact "
                "integer second gaps from one type-partitioned window "
                "pass, exact decimal(38) moment sums, one fixed-form "
                "double — -1 metronome, 0 Poisson, ->1 bursty")
def q_burstiness_index(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        burstiness_index)
    return burstiness_index(load_table(spark, sf_dir, "events"))


@_register(
    "cochran_armitage_returns",
    oracle="""
    WITH lev AS (
      SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INT) AS w,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0
                      END) AS BIGINT) AS n_returned
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n_lines) AS BIGINT) AS nn,
             CAST(sum(n_returned) AS BIGINT) AS rr,
             CAST(sum(w * n_returned) AS BIGINT) AS swr,
             CAST(sum(w * n_lines) AS BIGINT) AS swn,
             CAST(sum(w * w * n_lines) AS BIGINT) AS sw2n
      FROM lev),
    z AS (
      SELECT *, CASE WHEN rr = 0 OR rr = nn
                       OR nn * sw2n = swn * swn
                     THEN CAST(NULL AS DOUBLE)
                     ELSE (CAST(swr AS DOUBLE)
                           - CAST(swn AS DOUBLE) * rr / nn)
                          / sqrt((CAST(rr AS DOUBLE) / nn)
                                 * (1.0 - CAST(rr AS DOUBLE) / nn)
                                 * (CAST(sw2n AS DOUBLE)
                                    - CAST(swn AS DOUBLE) * swn / nn))
                     END AS zz
      FROM tot)
    SELECT lev.w, lev.n_lines, lev.n_returned,
           round(CAST(lev.n_returned AS DOUBLE) / lev.n_lines, 6)
               + 0.0 AS return_rate,
           round(z.zz, 6) + 0.0 AS z_trend,
           CASE WHEN z.zz > 1.959963984540054 THEN 'increasing'
                WHEN z.zz < -1.959963984540054 THEN 'decreasing'
                ELSE 'none' END AS direction
    FROM lev, z
    """,
    description="Cochran-Armitage trend test for return rate across "
                "the ordinal order-priority scale (scores 1..5): five "
                "exact integer sums (N, R, sum w*r, sum w*n, sum "
                "w^2*n), one fixed-form z, per-level observed rates, "
                "5% direction call — the ordered-exposure test a "
                "plain chi-square wastes power on")
def q_cochran_armitage_returns(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        cochran_armitage_returns)
    return cochran_armitage_returns(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"))


@_register(
    "sales_opportunity",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer),
    cohort AS (
      SELECT c_nationkey, CAST(sum(cents) AS BIGINT) AS sum_c,
             CAST(count(*) AS BIGINT) AS n_c
      FROM cust WHERE cents > 0 GROUP BY 1),
    cutoff AS (
      SELECT max(o_orderdate) - INTERVAL 180 DAY AS cutoff
      FROM orders),
    dormant AS (
      SELECT c.c_nationkey, c.cents
      FROM cust c JOIN cohort h USING (c_nationkey)
      WHERE c.cents * h.n_c > h.sum_c
        AND NOT EXISTS (SELECT 1 FROM orders o, cutoff
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= cutoff.cutoff))
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_custs,
           CAST(sum(d.cents) AS BIGINT) / 100.0 AS total_acctbal
    FROM dormant d JOIN nation n ON n.n_nationkey = d.c_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    description="TPC-H Q22 shape over the synthetic schema (cohort = "
                "nation, no phone column): dormant high-balance "
                "customers — above their nation's positive-balance "
                "average (exact-cents cross-multiplied threshold, "
                "broadcast |nation|-row cohort frame, decorrelated "
                "scalar subquery) with no order in the corpus's "
                "trailing 180 days (broadcast scalar cutoff + one "
                "anti-join; literal no-orders-ever is empty under "
                "this generator)")
def q_sales_opportunity(spark, sf_dir):
    return R.sales_opportunity(load_table(spark, sf_dir, "customer"),
                               load_table(spark, sf_dir, "orders"),
                               load_table(spark, sf_dir, "nation"))


@_register(
    "priority_linestatus_mix",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN
                         ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN
                         ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY 1 ORDER BY 1
    """,
    description="TPC-H Q12 shape over the synthetic schema (grouping "
                "key = l_linestatus, no shipmode column): per line "
                "status the high- vs low-priority order line counts "
                "among 1995 shipments — pushed-down date filter, one "
                "orderkey join, two-sided conditional-count pivot")
def q_priority_linestatus_mix(spark, sf_dir):
    return R.priority_linestatus_mix(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Round 13: text/retrieval wave
# ---------------------------------------------------------------------------

def _textrank_round(r: int) -> str:
    """One unrolled integer-PageRank round over the word graph (the
    pagerank oracle's loop body verbatim, string vertices)."""
    return f"""
    r{r} AS (SELECT b.dst AS v,
                  CAST(150000 + (85 * sum(r.rank // o.d)) // 100
                       AS BIGINT) AS rank
           FROM r{r - 1} r JOIN bi b ON b.src = r.v
           JOIN outd o ON o.src = r.v GROUP BY b.dst)"""


@_register(
    "textrank_keywords",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    flat AS MATERIALIZED (
      SELECT doc_id, u.p AS pos, u.w AS w FROM (
        SELECT doc_id,
               unnest([{{'p': i, 'w': toks[i]}}
                       for i in generate_series(1, len(toks))]) AS u
        FROM d) q),
    adj AS (
      SELECT w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM flat),
    e AS (SELECT DISTINCT least(w, prev) AS a, greatest(w, prev) AS b
          FROM adj
          WHERE prev IS NOT NULL AND prev <> w
            AND w NOT IN ({_RAKE_STOP_SQL})
            AND prev NOT IN ({_RAKE_STOP_SQL})),
    bi AS (SELECT a AS src, b AS dst FROM e
           UNION ALL SELECT b AS src, a AS dst FROM e),
    outd AS (SELECT src, count(*) AS d FROM bi GROUP BY src),
    r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS rank FROM outd),
    {",".join(_textrank_round(r) for r in (1, 2, 3, 4, 5))}
    SELECT v AS word, rank FROM r5
    ORDER BY rank DESC, word ASC LIMIT 20
    """,
    description="TextRank keyword extraction (Mihalcea & Tarau 2004): "
                "integer-exact PageRank (1e6 micro-units, 85/100 "
                "damping, 5 unrolled rounds) over the word "
                "co-occurrence graph of adjacent non-stopword tokens "
                "(one lag window, no self-join) — the graph-centrality "
                "complement of rake_keywords; top-20 by (rank, word)")
def q_textrank_keywords(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import (
        textrank_keywords)
    return textrank_keywords(load_table(spark, sf_dir, "documents"))


@_register(
    "cross_source_contamination",
    oracle=f"""
    WITH d AS (SELECT source, {_TOKS} AS toks FROM documents),
    sg AS MATERIALIZED (
      SELECT DISTINCT source, g.gram FROM (
        SELECT source,
               unnest([array_to_string(toks[i:i+4], ' ')
                       for i in generate_series(1, len(toks) - 4)])
                   AS gram
        FROM d WHERE len(toks) >= 5) g),
    per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
            FROM sg GROUP BY 1),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2)
    SELECT p.src_a, p.src_b, p.n_shared,
           round(CAST(p.n_shared AS DOUBLE)
                 / (pa.n_grams + pb.n_grams - p.n_shared), 6) + 0.0
               AS jaccard
    FROM pairs p
    JOIN per pa ON pa.source = p.src_a
    JOIN per pb ON pb.source = p.src_b
    """,
    description="pairwise cross-source contamination audit: distinct "
                "shared word 5-grams and Jaccard overlap per source "
                "pair from ONE tokenize pass + one gram-keyed "
                "self-join (fan-out bounded by the source-catalog "
                "size, never docs) — which ingest sources are copying "
                "each other")
def q_cross_source_contamination(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        cross_source_contamination)
    return cross_source_contamination(
        load_table(spark, sf_dir, "documents"))


@_register(
    "knn_text_classifier",
    oracle=f"""
    WITH tr AS (
      SELECT doc_id AS tr_doc, lang, w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS w
            FROM documents WHERE doc_id % 5 <> 0) t
      GROUP BY 1, 2, 3),
    te AS (
      SELECT doc_id AS te_doc, lang AS actual_lang, w,
             CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS w
            FROM documents WHERE doc_id % 5 = 0) t
      GROUP BY 1, 2, 3),
    kept AS (SELECT w FROM (SELECT w, count(*) AS df FROM tr
                            GROUP BY w) g WHERE df <= 256),
    dots AS (
      SELECT te.te_doc, tr.tr_doc,
             CAST(sum(te.c * tr.c) AS BIGINT) AS dot
      FROM te JOIN kept USING (w) JOIN tr USING (w)
      GROUP BY 1, 2),
    nn AS (
      SELECT te_doc, tr_doc, dot,
             row_number() OVER (PARTITION BY te_doc
                                ORDER BY dot DESC, tr_doc ASC) AS rn
      FROM dots),
    votes AS (
      SELECT nn.te_doc, trl.nb_lang,
             CAST(count(*) AS BIGINT) AS n_votes,
             max(nn.dot) AS best_dot
      FROM (SELECT * FROM nn WHERE rn <= 5) nn
      JOIN (SELECT DISTINCT tr_doc, lang AS nb_lang FROM tr) trl
        USING (tr_doc)
      GROUP BY 1, 2),
    pred AS (
      SELECT te_doc, nb_lang AS predicted_lang FROM (
        SELECT te_doc, nb_lang,
               row_number() OVER (PARTITION BY te_doc
                                  ORDER BY n_votes DESC,
                                           best_dot DESC,
                                           nb_lang ASC) AS rv
        FROM votes) v WHERE rv = 1),
    actual AS (
      SELECT DISTINCT te_doc, actual_lang FROM te)
    SELECT a.actual_lang, p.predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred p JOIN actual a USING (te_doc)
    GROUP BY 1, 2
    """,
    description="5-NN language classifier over raw token-count "
                "vectors: exact integer sparse dot products via one "
                "df-capped (<=256) term join, (dot, doc) neighbor "
                "order, (votes, best-dot, lang) majority — the "
                "instance-based baseline beside naive_bayes_lang; "
                "held-out fold-0 confusion matrix")
def q_knn_text_classifier(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        knn_text_classifier)
    return knn_text_classifier(load_table(spark, sf_dir, "documents"))


@_register(
    "tga_decode_stats",
    oracle="""
    WITH geom AS (
      SELECT doc_id,
             [2, 10, 3][CAST(doc_id % 3 AS INT) + 1] AS itype,
             5 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
      FROM documents),
    g2 AS (
      SELECT doc_id, itype, w, h,
             CASE WHEN itype = 3 THEN 1 ELSE 3 END AS pp,
             CASE WHEN itype = 3 THEN 8 ELSE 24 END AS depth
      FROM geom),
    px AS (
      SELECT doc_id, itype, w, h, pp, depth,
             unnest(range(0, w * h * pp)) AS i
      FROM g2),
    v AS (SELECT doc_id, itype, w, h, depth, i,
                 CASE WHEN itype = 10
                      THEN (doc_id + 9 * (i // 12)
                            + CASE WHEN (i // 3) % 4 = 3
                                   THEN 13 ELSE 0 END) % 256
                      ELSE (doc_id + 5 * i) % 256 END AS v
          FROM px)
    SELECT doc_id, CAST(itype AS BIGINT) AS image_type,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px,
           CAST(sum((i + 1) * v) % 1000000007 AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, itype, w, h, depth
    """,
    description="REAL Truevision TGA decode (multimodal/tga.py — the "
                "tenth format): LE fixed-struct header with ID-field "
                "skip, BGR->RGB channel reorder, bottom-up->top-down "
                "row flip (descriptor bit 5; even docs stored "
                "bottom-up), uncompressed and pixel-RLE true-color "
                "plus uncompressed gray; synthesized payloads cycle "
                "all three types with run+raw RLE packets; the "
                "position-weighted checksum over the NORMALIZED "
                "sample order breaks on any orientation, reorder, "
                "offset, or RLE bug")
def q_tga_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.tga_decode_stats(binary.tga_payloads(docs))


@_register(
    "silhouette_seed_partition",
    oracle="""
    WITH qv AS (
      SELECT vec_id, j.j AS j,
             CAST(round(embedding[j.j]::DOUBLE * 10000) AS BIGINT)
                 AS q
      FROM embeddings, generate_series(1, 64) j(j)),
    seed_ids AS (
      SELECT vec_id AS sid,
             row_number() OVER (ORDER BY vec_id) - 1 AS cl
      FROM (SELECT vec_id FROM embeddings
            ORDER BY vec_id LIMIT 8) s),
    sq AS (SELECT si.cl, qv.j, qv.q AS qs
           FROM seed_ids si JOIN qv ON qv.vec_id = si.sid),
    d2 AS (
      SELECT qv.vec_id, sq.cl,
             CAST(sum((qv.q - sq.qs) * (qv.q - sq.qs)) AS BIGINT)
                 AS d
      FROM qv JOIN sq ON sq.j = qv.j GROUP BY 1, 2),
    rk AS (SELECT vec_id, cl, d,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cl) AS rn
           FROM d2),
    ab AS (SELECT a.vec_id, a.cl AS cluster, a.d AS a, b.d AS b
           FROM (SELECT * FROM rk WHERE rn = 1) a
           JOIN (SELECT * FROM rk WHERE rn = 2) b USING (vec_id)),
    s AS (SELECT cluster,
                 CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(round((b - a) * 1000000
                                / CAST(greatest(a, b) AS DOUBLE), 0)
                                AS BIGINT) END AS s
          FROM ab)
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(s) // count(*) AS BIGINT) AS mean_s_micro,
           CAST(min(s) AS BIGINT) AS min_s_micro
    FROM s GROUP BY cluster ORDER BY cluster
    """,
    description="simplified (centroid-based) silhouette audit of the "
                "deterministic seed Voronoi partition (nearest of the "
                "8 lowest-id vectors — the kmeans seeding rule): "
                "1e-4-quantized embeddings make every squared L2 an "
                "exact int64, s = (b-a)/max(a,b) is one double "
                "division of exact integers quantized to integer "
                "micro-units per point, then integer-summed — the "
                "separation readout float-centroid silhouettes can't "
                "oracle")
def q_silhouette_seed_partition(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.kmeans import (
        silhouette_seed_partition)
    return silhouette_seed_partition(
        load_table(spark, sf_dir, "embeddings"))


@_register(
    "doc_novelty_ratio",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, g.gram FROM (
        SELECT doc_id,
               unnest([array_to_string(toks[i:i+4], ' ')
                       for i in generate_series(1, len(toks) - 4)])
                   AS gram
        FROM d WHERE len(toks) >= 5) g),
    dft AS (SELECT gram, CAST(count(*) AS BIGINT) AS df
            FROM dg GROUP BY 1),
    per AS (
      SELECT dg.doc_id,
             CAST(count(*) AS BIGINT) AS n_distinct_grams,
             CAST(sum(CASE WHEN dft.df = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unique_grams
      FROM dg JOIN dft USING (gram) GROUP BY 1)
    SELECT doc.doc_id,
           coalesce(per.n_distinct_grams, 0) AS n_distinct_grams,
           coalesce(per.n_unique_grams, 0) AS n_unique_grams,
           round(CASE WHEN coalesce(per.n_distinct_grams, 0) = 0
                      THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(per.n_unique_grams AS DOUBLE)
                           / per.n_distinct_grams END, 6) + 0.0
               AS novelty
    FROM documents doc LEFT JOIN per USING (doc_id)
    """,
    description="per-document novelty: the fraction of a doc's "
                "distinct word 5-grams that are corpus-unique "
                "(df = 1) — the memorization-risk readout between "
                "repetition_ratio (intra-doc) and whole-doc dedup; "
                "two map-side-combined gram aggregates + one "
                "join-back, exact integers, NULL for docs shorter "
                "than one gram")
def q_doc_novelty_ratio(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        doc_novelty_ratio)
    return doc_novelty_ratio(load_table(spark, sf_dir, "documents"))


@_register(
    "matrix_profile_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    pos AS (
      SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY day) - 1 AS INT) AS pos,
             v
      FROM daily),
    np AS (SELECT event_type, max(pos) AS max_pos
           FROM pos GROUP BY 1),
    win AS (
      SELECT p.event_type, p.pos - o.off AS start, o.off, p.v
      FROM pos p, generate_series(0, 6) o(off), np
      WHERE np.event_type = p.event_type
        AND p.pos - o.off >= 0
        AND p.pos - o.off <= np.max_pos - 6),
    dist AS (
      SELECT a.event_type, a.start, b.start AS start_b,
             CAST(sum(CAST((a.v - b.v) AS HUGEINT) * (a.v - b.v))
                  AS BIGINT) AS d2
      FROM win a
      JOIN win b ON a.event_type = b.event_type AND a.off = b.off
      WHERE abs(a.start - b.start) >= 7
      GROUP BY 1, 2, 3),
    nn AS (
      SELECT event_type, start, start_b, d2,
             row_number() OVER (PARTITION BY event_type, start
                                ORDER BY d2 ASC, start_b ASC) AS rn
      FROM dist)
    SELECT event_type, CAST(start AS INT) AS pos,
           CAST(start_b AS INT) AS nn_pos, d2
    FROM nn WHERE rn = 1
    """,
    description="matrix profile (Yeh et al. ICDM'16) of each event "
                "type's daily revenue at window 7: per position, the "
                "exact integer squared distance to its nearest "
                "non-overlapping window (|i-j| >= m exclusion, "
                "lower-index tie-break) — motifs where small, "
                "discords where large; the pair frame is "
                "calendar-bounded, never corpus-sized")
def q_matrix_profile_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        matrix_profile_daily)
    return matrix_profile_daily(load_table(spark, sf_dir, "events"))


@_register(
    "local_bridges",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg0 AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg0 WHERE deg <= 256)
        AND b IN (SELECT v FROM deg0 WHERE deg <= 256)),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS dg
      FROM (SELECT a AS v FROM edges
            UNION ALL SELECT b AS v FROM edges)
      GROUP BY v),
    sym AS (SELECT a, b FROM edges
            UNION ALL SELECT b AS a, a AS b FROM edges),
    supported AS (
      SELECT DISTINCT e.a, e.b
      FROM edges e
      JOIN sym s1 ON s1.a = e.a
      JOIN sym s2 ON s2.a = e.b AND s2.b = s1.b)
    SELECT e.a, e.b, da.dg AS deg_a, db.dg AS deg_b,
           (da.dg = 1 OR db.dg = 1) AS pendant
    FROM edges e
    LEFT JOIN supported s ON s.a = e.a AND s.b = e.b
    JOIN deg da ON da.v = e.a
    JOIN deg db ON db.v = e.b
    WHERE s.a IS NULL
    """,
    description="local bridges (Granovetter weak ties): capped "
                "co-purchase edges whose endpoints share NO common "
                "neighbor — triangle support 0 via the same "
                "degree-ordered oriented wedge enumeration as the "
                "k-truss rework (O(m^1.5)), anti-joined against the "
                "supported-edge set; pendant edges flagged; the "
                "oracle counts support by the independent symmetric "
                "common-neighbor join (a true differential)")
def q_local_bridges(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        local_bridges)
    return local_bridges(load_table(spark, sf_dir, "lineitem"))


@_register(
    "event_type_mi",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT user_id, event_type AS t FROM events),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nn
           FROM events),
    per AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t
            FROM pres GROUP BY 1),
    pairs AS (
      SELECT a.t AS type_a, b.t AS type_b,
             CAST(count(*) AS BIGINT) AS n11
      FROM pres a JOIN pres b
        ON a.user_id = b.user_id AND a.t < b.t
      GROUP BY 1, 2),
    base AS (
      SELECT p.type_a, p.type_b, p.n11,
             pa.n_t AS na, pb.n_t AS nb, nu.nn,
             pa.n_t - p.n11 AS n10,
             pb.n_t - p.n11 AS n01,
             nu.nn - pa.n_t - pb.n_t + p.n11 AS n00
      FROM pairs p
      JOIN per pa ON pa.t = p.type_a
      JOIN per pb ON pb.t = p.type_b, nu)
    SELECT type_a, type_b, n11, n10, n01, n00,
           round(
             (CASE WHEN n11 = 0 THEN 0.0
                   ELSE (CAST(n11 AS DOUBLE) / nn)
                        * ln(CAST(n11 AS DOUBLE) * nn
                             / (CAST(na AS DOUBLE) * nb)) END)
           + (CASE WHEN n10 = 0 THEN 0.0
                   ELSE (CAST(n10 AS DOUBLE) / nn)
                        * ln(CAST(n10 AS DOUBLE) * nn
                             / (CAST(na AS DOUBLE) * (nn - nb))) END)
           + (CASE WHEN n01 = 0 THEN 0.0
                   ELSE (CAST(n01 AS DOUBLE) / nn)
                        * ln(CAST(n01 AS DOUBLE) * nn
                             / (CAST(nn - na AS DOUBLE) * nb)) END)
           + (CASE WHEN n00 = 0 THEN 0.0
                   ELSE (CAST(n00 AS DOUBLE) / nn)
                        * ln(CAST(n00 AS DOUBLE) * nn
                             / (CAST(nn - na AS DOUBLE) * (nn - nb)))
              END), 4) + 0.0 AS mi_nats
    FROM base
    """,
    description="pairwise mutual information between event-type "
                "presence per user: exact integer 2x2 contingency "
                "cells from one distinct unpivot + user-keyed "
                "self-join, MI as one fixed-form expression with "
                "0-cell guards, 4dp (the tfidf ln hash-stability "
                "convention) — the user-level dependence readout "
                "beside pmi_pairs and transition_entropy")
def q_event_type_mi(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        event_type_mi)
    return event_type_mi(load_table(spark, sf_dir, "events"))


def _label_noise_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.ml import (
        NOISE_MARGIN_MN)
    return """WITH ttc AS MATERIALIZED (
      SELECT doc_id, actual_lang, tok, count(*) AS n
      FROM (SELECT doc_id, lang AS actual_lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2, 3),
    trainc AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    tlc AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest(regexp_extract_all(lower(text), '{re}', 0))
                       AS tok
            FROM trainc)
      GROUP BY 1, 2),
    vocabc AS (SELECT count(DISTINCT tok) AS v FROM tlc),
    totalsc AS (SELECT lang, sum(c) AS ctot FROM tlc GROUP BY lang),
    ntc AS (SELECT count(*) AS n_total FROM trainc),
    priorsc AS (SELECT lang, count(*) AS n_docs FROM trainc
                    GROUP BY lang),
    lfc AS (
      SELECT p.lang, t.ctot, v.v,
             CAST(round((ln(CAST(n_docs AS DOUBLE)
                            / CAST(n_total AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS prior_mn,
             CAST(round((ln(CAST(1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS unk_mn
      FROM priorsc p JOIN totalsc t USING (lang),
           ntc, vocabc v),
    modelc AS (
      SELECT tlc.lang, tok,
             CAST(round((ln(CAST(c + 1 AS DOUBLE)
                            / CAST(ctot + v AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS llr_mn
      FROM tlc JOIN lfc ON tlc.lang = lfc.lang),
    scoredc AS (
      SELECT doc_id, actual_lang, lfc.lang,
             prior_mn + sum(n * COALESCE(m.llr_mn, lfc.unk_mn))
                 AS score
      FROM ttc t CROSS JOIN lfc
      LEFT JOIN modelc m
        ON m.lang = lfc.lang AND m.tok = t.tok
      GROUP BY doc_id, actual_lang, lfc.lang, prior_mn),
    predm AS (
      SELECT doc_id, actual_lang, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scoredc),
    top2 AS (
      SELECT doc_id, actual_lang,
             max(CASE WHEN rk = 1 THEN lang END) AS predicted_lang,
             max(CASE WHEN rk = 1 THEN score END) AS s1,
             max(CASE WHEN rk = 2 THEN score END) AS s2
      FROM predm WHERE rk <= 2 GROUP BY 1, 2)
    SELECT doc_id, actual_lang, predicted_lang,
           CAST(s1 - s2 AS BIGINT) AS margin_mn
    FROM top2
    WHERE predicted_lang <> actual_lang AND s1 - s2 >= {mm}
    """.replace("{re}", _WORD_RE_SQL) \
       .replace("{mm}", str(NOISE_MARGIN_MN))


@_register(
    "label_noise_suspects",
    oracle=_label_noise_oracle,
    description="confident-learning-style label-noise screen "
                "(Northcutt et al. 2021 in spirit): held-out fold-0 "
                "docs the micronat NB model classifies wrongly with "
                "a margin of at least one calibration bucket "
                "(2 meganats) — the doc-level re-annotation list "
                "nb_margin_calibration aggregates away; exact "
                "integers end to end")
def q_label_noise_suspects(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        label_noise_suspects)
    return label_noise_suspects(load_table(spark, sf_dir, "documents"))


@_register(
    "brand_assortativity",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey),
    deg0 AS (
      SELECT v, count(*) AS deg
      FROM (SELECT a AS v FROM raw UNION ALL SELECT b AS v FROM raw)
      GROUP BY v),
    edges AS (
      SELECT a, b FROM raw
      WHERE a IN (SELECT v FROM deg0 WHERE deg <= 256)
        AND b IN (SELECT v FROM deg0 WHERE deg <= 256)),
    lab AS (
      SELECT pa.p_brand AS ba, pb.p_brand AS bb
      FROM edges e
      JOIN part pa ON pa.p_partkey = e.a
      JOIN part pb ON pb.p_partkey = e.b),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS BIGINT)
                 AS same
      FROM lab),
    ends AS (
      SELECT br, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT ba AS br FROM lab UNION ALL SELECT bb FROM lab)
      GROUP BY br),
    endagg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_brands,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2,
             CAST(sum(c) AS BIGINT) AS m2
      FROM ends)
    SELECT n_edges, n_brands, same AS same_brand_edges,
           round(CASE WHEN CAST(m2 AS HUGEINT) * m2 = sc2
                      THEN CAST(NULL AS DOUBLE)
                      ELSE (CAST(2 * same AS DOUBLE) * m2
                            - CAST(sc2 AS DOUBLE))
                           / (CAST(m2 AS DOUBLE) * m2
                              - CAST(sc2 AS DOUBLE)) END, 6) + 0.0
               AS assortativity
    FROM base, endagg
    """,
    description="categorical brand assortativity of the capped "
                "co-purchase graph (Newman 2003): r from the brand "
                "mixing matrix via cross-multiplied exact integers "
                "(same-brand ends, per-brand end counts, total ends) "
                "— one division, 6dp, NULL on a one-brand graph; "
                "broadcast dimension joins; the attribute "
                "counterpart of degree_assortativity")
def q_brand_assortativity(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.graph import (
        brand_assortativity)
    return brand_assortativity(load_table(spark, sf_dir, "lineitem"),
                               load_table(spark, sf_dir, "part"))


@_register(
    "record_breaks_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
      FROM events GROUP BY 1, 2),
    flagged AS (
      SELECT event_type, day, v,
             CASE WHEN v > coalesce(max(v) OVER (
                      PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS is_rec
      FROM daily)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(is_rec) AS BIGINT) AS n_records,
           strftime(max(CASE WHEN is_rec = 1 THEN day END),
                    '%Y-%m-%d') AS last_record_day
    FROM flagged GROUP BY event_type
    """,
    description="running-record audit per event type: days strictly "
                "exceeding every earlier day's revenue (first day a "
                "record by convention) and the last record date — "
                "one type-partitioned strictly-preceding cummax "
                "window, exact cents; i.i.d. expectation is H(n), "
                "excess is trend")
def q_record_breaks_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        record_breaks_daily)
    return record_breaks_daily(load_table(spark, sf_dir, "events"))


@_register(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shl AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]
               END) AS shingles
        FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
    posting0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    hot AS (SELECT shingle FROM posting0
            GROUP BY shingle HAVING count(*) > {_NGRAM_MAX_DF}),
    posting AS (SELECT * FROM posting0
                WHERE shingle NOT IN (SELECT shingle FROM hot)),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM posting a JOIN posting b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.4),
    eg AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM d
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN eg e ON e.src = w.node),
    comp AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS comp
             FROM walk GROUP BY node),
    csz AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
            FROM comp GROUP BY comp),
    assigned AS (
        SELECT c.doc_id, c.comp, s.sz,
               CASE WHEN ('0x' || substring(md5(CAST(c.comp AS VARCHAR)),
                                            1, 8))::BIGINT
                         / 4294967296.0 < 0.8 THEN 'train'
                    WHEN ('0x' || substring(md5(CAST(c.comp AS VARCHAR)),
                                            1, 8))::BIGINT
                         / 4294967296.0 < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM comp c JOIN csz s USING (comp))
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT comp) AS BIGINT) AS n_components,
           CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singleton_docs
    FROM assigned GROUP BY split ORDER BY split
    """,
    description="group-aware train/val/test split (Lee et al. 2022's "
                "deduplicate-then-split): near-dup components "
                "(3-gram Jaccard >= 0.4, the dedup_components graph) "
                "assigned to splits WHOLE by md5 hash-uniform of the "
                "component label — zero eval docs with a near-copy "
                "in train by construction; output is the per-split "
                "doc/component/singleton audit")
def q_leakage_safe_split(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import ngram_jaccard
    from cloud_native_mapreduce_spark.operators.curation import (
        leakage_safe_split)
    docs = load_table(spark, sf_dir, "documents")
    edges = (ngram_jaccard.near_duplicates(docs, threshold=0.4,
                                           max_df=_NGRAM_MAX_DF)
             .select("doc_a", "doc_b"))
    return leakage_safe_split(docs, edges)


def _pca2_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.ml import (
        _sdiv,
        PCA_DIM,
        PCA_Q,
        PCA_ROUNDS,
        PCA_SQUARINGS,
        PCA_V_SCALE,
    )
    cfull = "(CAST(n AS HUGEINT) * g - CAST(si AS HUGEINT) * sj)"

    def norm(x: str) -> str:
        scaled = f"(CAST({x} AS HUGEINT) * {PCA_V_SCALE})"
        return (f"CASE WHEN mx = 0 THEN CAST(0 AS HUGEINT) "
                f"ELSE CAST({_sdiv(scaled, 'mx', '//')} AS HUGEINT) "
                f"END")

    def phase(base: str, sq_p: str, w_p: str, v_p: str) -> str:
        """One squaring+power phase over base matrix `base` with
        name prefixes (the pca_top_component oracle's generators,
        parameterized for the two-phase deflation pipeline)."""
        parts = []
        prev = base
        for t in range(1, PCA_SQUARINGS + 1):
            parts.append(f"""{sq_p}p{t} AS (
      SELECT a.i, b.j, sum(CAST(a.m AS HUGEINT) * b.m) AS w
      FROM {prev} a JOIN {prev} b ON b.i = a.j GROUP BY a.i, b.j),
    {sq_p}d{t} AS (SELECT max(abs(w)) AS mx FROM {sq_p}p{t}),
    {sq_p}m{t} AS MATERIALIZED (
      SELECT i, j, {norm('w')} AS m
      FROM {sq_p}p{t}, {sq_p}d{t})""")
            prev = f"{sq_p}m{t}"
        parts.append(f"""{v_p}0 AS (
      SELECT i AS j, CAST({PCA_V_SCALE} AS HUGEINT) AS v FROM di)""")
        for r in range(1, PCA_ROUNDS + 1):
            parts.append(f"""{w_p}{r} AS (
      SELECT i, sum(CAST(m AS HUGEINT) * v) AS w
      FROM {prev} JOIN {v_p}{r - 1} USING (j) GROUP BY i),
    {w_p}d{r} AS (SELECT max(abs(w)) AS mx FROM {w_p}{r}),
    {v_p}{r} AS MATERIALIZED (
      SELECT i AS j, {norm('w')} AS v
      FROM {w_p}{r}, {w_p}d{r})""")
        return ",\n    ".join(parts)

    v1 = f"av{PCA_ROUNDS}"
    v2 = f"bv{PCA_ROUNDS}"
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * {PCA_Q}, 0)
                           AS BIGINT)) AS q
      FROM embeddings),
    nf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vecs),
    di AS (SELECT unnest(range(1, {PCA_DIM + 1})) AS i),
    dj AS (SELECT unnest(range(1, {PCA_DIM + 1})) AS j),
    s AS MATERIALIZED (
      SELECT i, CAST(sum(q[i]) AS BIGINT) AS si
      FROM vecs, di GROUP BY i),
    g AS (
      SELECT i, j, sum(CAST(q[i] AS HUGEINT) * q[j]) AS g
      FROM vecs, di, dj GROUP BY i, j),
    cmat AS MATERIALIZED (
      SELECT i, j,
             CAST({_sdiv(cfull, 'n', '//')} AS BIGINT) AS c
      FROM g JOIN s USING (i)
      JOIN (SELECT i AS j, si AS sj FROM s) s2 USING (j), nf),
    nd0 AS (SELECT max(abs(c)) AS mx FROM cmat),
    m0 AS MATERIALIZED (
      SELECT i, j, {norm('c')} AS m
      FROM cmat, nd0),
    {phase('m0', 'a', 'aw', 'av')},
    wdef AS MATERIALIZED (
      SELECT i, sum(CAST(m AS HUGEINT) * v) AS w
      FROM m0 JOIN {v1} USING (j) GROUP BY i),
    tdef AS (
      SELECT sum(CAST(w.w AS HUGEINT) * v.v) AS t
      FROM wdef w JOIN (SELECT j AS i, v FROM {v1}) v USING (i)),
    defl AS (
      SELECT m0.i, m0.j,
             CAST(m0.m AS HUGEINT) * t
               - CAST(wi.w AS HUGEINT) * wj.w AS d
      FROM m0
      JOIN wdef wi ON wi.i = m0.i
      JOIN (SELECT i AS j, w FROM wdef) wj ON wj.j = m0.j, tdef),
    nd2 AS (SELECT max(abs(d)) AS mx FROM defl),
    b0 AS MATERIALIZED (
      SELECT i, j, {norm('d')} AS m
      FROM defl, nd2),
    {phase('b0', 'b', 'bw', 'bv')},
    trf AS (SELECT sum(CAST(c AS HUGEINT)) AS tr
            FROM cmat WHERE i = j),
    wf1 AS (SELECT i, sum(CAST(c AS HUGEINT) * v) AS w
            FROM cmat JOIN {v1} USING (j) GROUP BY i),
    mx1 AS (SELECT max(abs(w)) AS mx FROM wf1),
    wf2 AS (SELECT i, sum(CAST(c AS HUGEINT) * v) AS w
            FROM cmat JOIN {v2} USING (j) GROUP BY i),
    mx2 AS (SELECT max(abs(w)) AS mx FROM wf2)
    SELECT CAST(1 AS INT) AS component, {v1}.j AS dim,
           CAST({v1}.v AS BIGINT) AS v_q,
           round((CAST(mx AS DOUBLE) / {PCA_V_SCALE})
                 / CAST(tr AS DOUBLE), 6) + 0.0 AS lambda_over_trace
    FROM {v1}, mx1, trf
    UNION ALL
    SELECT CAST(2 AS INT), {v2}.j, CAST({v2}.v AS BIGINT),
           round((CAST(mx AS DOUBLE) / {PCA_V_SCALE})
                 / CAST(tr AS DOUBLE), 6) + 0.0
    FROM {v2}, mx2, trf
    """


@_register(
    "pca_top2_components",
    oracle=_pca2_oracle,
    description="top TWO principal components by Hotelling deflation "
                "on the renormed integer scatter: M2 = M*(v1'w) - "
                "w*w' with w = M*v1 via exact integer cross-"
                "multiplication (no rational eigenvalue ever "
                "materializes), then the identical squared-matrix "
                "power phase; 2x64 rows, explained-variance readouts "
                "against the ORIGINAL scatter; oracle unrolls BOTH "
                "phases; numpy differential + orthogonality pinned "
                "in tests")
def q_pca_top2_components(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        pca_top2_components)
    return pca_top2_components(load_table(spark, sf_dir, "embeddings"))


def _pq_index_ready(spark, sf_dir) -> str:
    """Build the persisted PQ index for `sf_dir` once per session and
    return its table prefix — the `_ivf_index_ready` convention: the
    session catalog is the existence check, and a fresh driver
    rebuilds from the parquet source (the index is a deterministic
    function of the corpus, so a rebuild is equivalence, not
    drift)."""
    import os
    import tempfile

    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    prefix = f"cnms_pq_{base}"
    if not spark.catalog.tableExists(f"{prefix}_postings"):
        from cloud_native_mapreduce_spark.similarity.pq_index import (
            build_pq_index)
        path = os.path.join(tempfile.gettempdir(), "cnms_pq_index", base)
        build_pq_index(load_table(spark, sf_dir, "embeddings"),
                       prefix, path)
    return prefix


@_register(
    "ann_pq_indexed",
    oracle=_ANN_PQ_ADC_ORACLE,
    description="product-quantization ADC top-10 over a PERSISTED "
                "index (the last ANN family member that was still "
                "rebuilding per query): the encode pass and codebook "
                "are paid once at build into (vec_id, codes, "
                "embedding) bucketed on vec_id plus a 16-row codebook "
                "table; a query is ONE codes-only column-pruned scan "
                "with the 8x16 distance table baked in as literal "
                "arrays, ending in TakeOrderedAndProject — zero "
                "shuffle exchanges, no join, no Python (plan-pinned "
                "in tests/test_plan_audit.py); shares ann_pq_adc's "
                "oracle VERBATIM, proving the layout changes where "
                "the work happens, never the answer")
def q_ann_pq_indexed(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.pq_index import (
        ann_pq_indexed)
    return ann_pq_indexed(spark, _pq_index_ready(spark, sf_dir),
                          query_vec_id=0, k=10)


def _prefix_join_summary_oracle() -> str:
    return f"""
    WITH pairs AS ({_prefix_join_oracle()})
    SELECT CAST(floor(jaccard * 10) AS INT) AS bucket_x10,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(n_shared) AS BIGINT) AS total_shared
    FROM pairs GROUP BY 1
    """


@_register(
    "jaccard_join_summary",
    oracle=_prefix_join_summary_oracle,
    description="bounded audit summary of the prefix-filtered "
                "set-similarity self-join (round-13 verdict #8): "
                "pair counts + total shared-token mass per 0.1-wide "
                "Jaccard bucket over jaccard_prefix_join's full "
                "output — at most 5 rows (J in [0.6, 1.0]), so the "
                "output-bound heavy gets a value-checked trend line "
                "whose result is bench-able without materializing "
                "~1M pair rows; the 5-row aggregate folds map-side "
                "into the verify join's output, adding no shuffle "
                "of pairs")
def q_jaccard_join_summary(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup.prefix_join import (
        jaccard_prefix_join)
    pairs = jaccard_prefix_join(load_table(spark, sf_dir, "documents"))
    return (pairs
            .groupBy(F.floor(F.col("jaccard") * 10).cast("int")
                     .alias("bucket_x10"))
            .agg(F.count("*").alias("n_pairs"),
                 F.sum("n_shared").cast("bigint").alias("total_shared")))


_BPE_RE_DUCK = ("'''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+"
                "| ?[^ \\t\\n\\x0B\\f\\ra-z0-9]+'")


@_register(
    "good_turing_estimate",
    oracle=f"""
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0)
            AS l
        FROM documents),
    wc AS (
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(list_transform(
                  range(len(l) - 2),
                  i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3]))
                  AS word
              FROM toks WHERE len(l) >= 3)
        GROUP BY word),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM wc),
    fof AS (SELECT CAST(cnt AS BIGINT) AS r,
                   CAST(count(*) AS BIGINT) AS n_r
            FROM wc GROUP BY cnt)
    SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r,
           round(n1.n_r / tot.n, 4) + 0.0 AS r_star,
           round(1000000.0 * n1.n_r / tot.n, 4) + 0.0 AS p_per_million
    FROM fof n1, tot WHERE n1.r = 1
    UNION ALL
    SELECT f.r, f.n_r,
           round((f.r + 1) * f2.n_r / f.n_r, 4) + 0.0,
           round(1000000.0 * (f.r + 1) * f2.n_r / f.n_r / tot.n, 4) + 0.0
    FROM fof f LEFT JOIN fof f2 ON f2.r = f.r + 1, tot
    WHERE f.r <= 10
    """,
    description="Good-Turing frequency smoothing over word TRIGRAMS "
                "(Gale-Sampson simple estimator): adjusted counts "
                "r* = (r+1)N_{r+1}/N_r for r <= 10 plus the r=0 "
                "unseen-mass row p0 = N1/N — the n-gram-tail audit "
                "behind every LM (unigrams are vacuous on a closed "
                "vocabulary); one frequency-of-frequencies aggregate "
                "+ a lag-1 self-join on the bounded r domain, <= 11 "
                "output rows")
def q_good_turing_estimate(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import (
        good_turing_estimate)
    return good_turing_estimate(load_table(spark, sf_dir, "documents"))


@_register(
    "chao1_richness",
    oracle=f"""
    WITH wc AS (
        SELECT source, word, count(*) AS cnt
        FROM (SELECT source,
                     unnest(regexp_extract_all(lower(text),
                         '{_WORD_RE_SQL}', 0)) AS word
              FROM documents)
        GROUP BY source, word)
    SELECT source,
           CAST(count(*) AS BIGINT) AS d_obs,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
           CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2,
           round(count(*)
                 + sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                   * (sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1)
                   / (2.0 * (sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)
                             + 1)), 4) + 0.0 AS chao1
    FROM wc GROUP BY source
    """,
    description="Chao1 vocabulary-richness estimator per source "
                "(bias-corrected: D + f1(f1-1)/(2(f2+1))) — the "
                "under-sampling triage beside heaps_law_curve; "
                "integers until one final division")
def q_chao1_richness(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import (
        chao1_richness)
    return chao1_richness(load_table(spark, sf_dir, "documents"))


@_register(
    "jensen_shannon_sources",
    oracle=f"""
    WITH wc AS (
        SELECT source, word, count(*) AS cnt
        FROM (SELECT source,
                     unnest(regexp_extract_all(lower(text),
                         '{_WORD_RE_SQL}', 0)) AS word
              FROM documents)
        GROUP BY source, word),
    tot AS (SELECT source, sum(cnt) AS tot FROM wc GROUP BY source),
    wp AS (SELECT wc.source, wc.word, wc.cnt / tot.tot AS p
           FROM wc JOIN tot USING (source)),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               sum(a.p / 2 * ln(2 * a.p / (a.p + b.p))
                   + b.p / 2 * ln(2 * b.p / (a.p + b.p)))
                   AS inter_term,
               sum(a.p) AS mass_a, sum(b.p) AS mass_b
        FROM wp a JOIN wp b ON a.word = b.word
                           AND a.source < b.source
        GROUP BY 1, 2)
    SELECT src_a, src_b,
           round(inter_term + (1 - mass_a) / 2 * ln(2.0)
                            + (1 - mass_b) / 2 * ln(2.0), 4) + 0.0
               AS jsd_nats
    FROM inter
    """,
    description="pairwise Jensen-Shannon divergence (nats) between "
                "source unigram distributions — the symmetric bounded "
                "distribution-shift monitor for corpus mixing; the "
                "join carries only the INTERSECTION vocabulary "
                "(exclusive-support mass contributes (mass/2)ln2 in "
                "closed form — no outer join)")
def q_jensen_shannon_sources(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import (
        jensen_shannon_sources)
    return jensen_shannon_sources(load_table(spark, sf_dir, "documents"))


@_register(
    "tokenizer_fertility",
    oracle=f"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(text),
                {_BPE_RE_DUCK}, 0))) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) AS n_ws_words,
           round(CAST(sum(len(regexp_extract_all(lower(text),
                     {_BPE_RE_DUCK}, 0))) AS BIGINT)
                 / CAST(sum(len(regexp_split_to_array(trim(text),
                     '\\s+'))) AS BIGINT), 4) + 0.0 AS fertility
    FROM documents GROUP BY source
    """,
    description="tokenizer fertility per source: BPE-ish pretokenizer "
                "tokens per whitespace word — the compression-cost "
                "statistic a training pipeline budgets with; two JVM "
                "regex counts per document, integer sums until one "
                "division")
def q_tokenizer_fertility(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import (
        tokenizer_fertility)
    return tokenizer_fertility(load_table(spark, sf_dir, "documents"))


@_register(
    "ngram_coverage_curve",
    oracle=f"""
    WITH wc AS (
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text),
                  '{_WORD_RE_SQL}', 0)) AS word
              FROM documents)
        GROUP BY word),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
        FROM wc),
    ks AS (SELECT unnest([100, 500, 1000, 2000, 5000]) AS k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           CAST(sum(CASE WHEN rank <= ks.k THEN cnt ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(sum(cnt) AS BIGINT) AS total_tokens,
           round(sum(CASE WHEN rank <= ks.k THEN cnt ELSE 0 END)
                 / sum(cnt), 4) + 0.0 AS coverage
    FROM ranked, ks GROUP BY ks.k
    """,
    description="cumulative token coverage of the top-k vocabulary at "
                "k in (100,500,1000,2000,5000) — the curve that sizes "
                "a tokenizer vocab and exposes template-dominated "
                "corpora; tie-free distributed two-pass range rank "
                "(the zipf_fit machinery, never a global-ORDER-BY "
                "window) + ONE conditional aggregate")
def q_ngram_coverage_curve(spark, sf_dir):
    from cloud_native_mapreduce_spark.functions.text import (
        ngram_coverage_curve)
    return ngram_coverage_curve(load_table(spark, sf_dir, "documents"))


@_register(
    "page_hinkley_drift",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT event_type, day,
               v - sum(v) OVER w / count(v) OVER w AS dev
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    u AS (
        SELECT event_type, day,
               sum(dev) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS uu
        FROM m),
    p AS (
        SELECT event_type, day,
               uu - min(uu) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS ph
        FROM u),
    mx AS (SELECT event_type, max(ph) AS mxv FROM p GROUP BY 1)
    SELECT p.event_type,
           round(max(ph), 4) + 0.0 AS ph_max,
           strftime(min(CASE WHEN ph = mx.mxv THEN day END),
                    '%Y-%m-%d') AS ph_argmax_day,
           strftime(min(CASE WHEN ph > 50000.0 THEN day END),
                    '%Y-%m-%d') AS first_drift_day,
           max(CASE WHEN ph > 50000.0 THEN TRUE ELSE FALSE END)
               AS drifted
    FROM p JOIN mx USING (event_type) GROUP BY 1
    """,
    description="Page-Hinkley mean-drift test per event type over "
                "daily revenue (Page 1954): PH_t = U_t - min U_s with "
                "U the cumulative deviation from the running mean; "
                "flags the first day PH crosses the fixed lambda. "
                "Day-ordered window chain keeps every float op in "
                "identical order cross-engine; the upward-drift "
                "complement of cusum_changepoint")
def q_page_hinkley_drift(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        page_hinkley_drift)
    return page_hinkley_drift(load_table(spark, sf_dir, "events"))


@_register(
    "scc_event_graph",
    oracle="""
    WITH RECURSIVE seq AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events),
    edges AS (
        SELECT DISTINCT event_type AS src, nxt AS dst
        FROM seq WHERE nxt IS NOT NULL),
    verts AS (
        SELECT DISTINCT src AS v FROM edges
        UNION SELECT DISTINCT dst FROM edges),
    r(src, dst) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON e.src = r.dst),
    mutual AS (
        SELECT a.src, a.dst
        FROM r a JOIN r b ON b.src = a.dst AND b.dst = a.src),
    scc AS (
        SELECT src AS event_type, min(dst) AS scc_id
        FROM mutual GROUP BY 1)
    SELECT event_type, scc_id,
           CAST(count(*) OVER (PARTITION BY scc_id) AS BIGINT)
               AS scc_size
    FROM scc
    """,
    description="strongly connected components of the event-type "
                "transition digraph: one corpus pass builds the "
                "distinct type-level edge list, then reachability "
                "closes by DOUBLING on catalog-bounded frames "
                "(rounds = ceil(log2 |V|), never corpus-sized); "
                "SCC id = min mutually-reachable type — the directed "
                "complement of event_type_mi/transition_entropy")
def q_scc_event_graph(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        scc_event_graph)
    return scc_event_graph(load_table(spark, sf_dir, "events"))


@_register(
    "mcnemar_quality_rules",
    oracle=f"""
    WITH flags AS (
        SELECT len({_TOKS}) >= 50 AS a,
               len(array_to_string({_TOKS}, ''))
                 / greatest(len({_TOKS}), 1)
                 BETWEEN 3.0 AND 10.0 AS b
        FROM documents),
    cells AS (
        SELECT CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both_pass,
               CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a_only,
               CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b_only,
               CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neither
        FROM flags)
    SELECT n_both_pass, n_a_only, n_b_only, n_neither,
           round(CASE WHEN n_a_only + n_b_only > 0 THEN
                 (n_a_only - n_b_only) * (n_a_only - n_b_only)
                 / (n_a_only + n_b_only) END, 4) + 0.0 AS mcnemar_chi2
    FROM cells
    """,
    description="McNemar's paired test between two curation rules on "
                "the same corpus (word-count band vs mean-word-length "
                "band): chi2 = (b-c)^2/(b+c) on the discordant cells "
                "only — the filter-replacement question; one pass, "
                "one 4-cell conditional aggregate")
def q_mcnemar_quality_rules(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        mcnemar_quality_rules)
    return mcnemar_quality_rules(load_table(spark, sf_dir, "documents"))


@_register(
    "hard_negative_mining",
    oracle="""
    WITH q AS (
        SELECT vec_id AS q_vec_id, label AS q_label, embedding AS qe
        FROM embeddings WHERE vec_id < 5),
    cand AS (
        SELECT q.q_vec_id, e.vec_id, e.label, e.embedding, q.qe
        FROM embeddings e JOIN q ON e.label <> q.q_label),
    scored AS (
        SELECT q_vec_id, vec_id, label,
               round(sum(embedding[g.i]::DOUBLE * qe[g.i]::DOUBLE)
                     / (sqrt(sum(embedding[g.i]::DOUBLE
                                 * embedding[g.i]::DOUBLE))
                        * sqrt(sum(qe[g.i]::DOUBLE * qe[g.i]::DOUBLE))),
                     4) + 0.0 AS cosine
        FROM cand, generate_series(1, 64) AS g(i)
        GROUP BY q_vec_id, vec_id, label),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_vec_id
                                     ORDER BY cosine DESC, vec_id ASC)
                      AS rn
        FROM scored)
    SELECT q_vec_id, vec_id, label, cosine FROM ranked WHERE rn <= 5
    """,
    description="hard-negative mining for contrastive training (ANCE "
                "batch shape): per query vector, the top-5 most-"
                "similar DIFFERENT-label vectors — the negatives that "
                "move a contrastive loss; broadcast queries against "
                "one corpus scan, per-query top-k via a q-partitioned "
                "window (never a global sort)")
def q_hard_negative_mining(spark, sf_dir):
    from cloud_native_mapreduce_spark.similarity.bruteforce import (
        hard_negative_mining)
    return hard_negative_mining(load_table(spark, sf_dir, "embeddings"))


@_register(
    "dedup_cluster_histogram",
    oracle=f"""
    WITH groups AS (
        SELECT md5(array_to_string({_TOKS}, ' ')) AS fp,
               CAST(count(*) AS BIGINT) AS n_dups
        FROM documents GROUP BY 1)
    SELECT n_dups AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(n_dups * count(*) AS BIGINT) AS n_docs
    FROM groups GROUP BY n_dups
    """,
    description="duplicate-cluster size histogram over exact content "
                "groups: (size, n_groups, n_docs) — the one-screen "
                "dedup health readout (heavy tail = template/mirror "
                "dominated, near-dup passes will pay off); bounded by "
                "the largest cluster size, never the corpus")
def q_dedup_cluster_histogram(spark, sf_dir):
    from cloud_native_mapreduce_spark.dedup import exact
    return exact.cluster_size_histogram(
        load_table(spark, sf_dir, "documents"))


def _rbo_oracle() -> str:
    from cloud_native_mapreduce_spark.operators.retrieval import (
        _RBO_DENOM, _RBO_SUFFIX, RBO_DEPTH)
    suffix_sql = "[" + ", ".join(
        f"CAST('{v}' AS HUGEINT)" for v in _RBO_SUFFIX) + "]"
    return f"""
    WITH wc AS (
        SELECT source, word, count(*) AS cnt
        FROM (SELECT source,
                     unnest(regexp_extract_all(lower(text),
                         '{_WORD_RE_SQL}', 0)) AS word
              FROM documents)
        GROUP BY source, word),
    top AS (
        SELECT source, word, rank FROM (
            SELECT source, word,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY cnt DESC, word ASC)
                       AS rank
            FROM wc)
        WHERE rank <= {RBO_DEPTH}),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               {suffix_sql}[greatest(a.rank, b.rank)] AS wgt
        FROM top a JOIN top b ON a.word = b.word
                             AND a.source < b.source)
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS n_shared,
           round(CAST(sum(wgt) AS DOUBLE)
                 / CAST(CAST('{_RBO_DENOM}' AS HUGEINT) AS DOUBLE), 6)
               + 0.0 AS rbo
    FROM pairs GROUP BY 1, 2
    """


@_register(
    "rbo_vocab_agreement",
    oracle=_rbo_oracle,
    description="truncated rank-biased overlap (Webber et al. 2010, "
                "depth 20, p=0.9) between every source pair's "
                "frequency-ranked top-20 vocabularies — the rank-"
                "aware complement of jensen_shannon_sources; exact "
                "integer suffix-weight collapse (each matched word "
                "contributes SUFFIX[max(rank_a, rank_b)] in "
                "decimal(38)), ONE float division at the end; "
                "source-partitioned windows, top-20 rows per source "
                "into the join")
def q_rbo_vocab_agreement(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.retrieval import (
        rbo_vocab_agreement)
    return rbo_vocab_agreement(load_table(spark, sf_dir, "documents"))


@_register(
    "levene_brown_forsythe",
    oracle="""
    WITH y AS (SELECT event_type,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events),
    med AS (SELECT event_type, quantile_cont(y, 0.5) AS med
            FROM y GROUP BY 1),
    z AS (SELECT y.event_type, med.med,
                 abs(2 * y.y - CAST(round(2 * med.med) AS BIGINT))
                     AS z2
          FROM y JOIN med USING (event_type)),
    g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 any_value(med) AS med,
                 sum(CAST(z2 AS HUGEINT)) AS s,
                 sum(CAST(z2 AS HUGEINT) * CAST(z2 AS HUGEINT)) AS ss
          FROM z GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tn,
                   CAST(sum(s) AS DOUBLE) AS ts,
                   CAST(sum(ss) AS DOUBLE) AS tss,
                   CAST(count(*) AS DOUBLE) AS k
            FROM g),
    per AS (SELECT event_type, n, med,
                   CAST(s AS DOUBLE) AS sd, CAST(n AS DOUBLE) AS nd,
                   tn, ts, tss, k,
                   CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(n AS DOUBLE) * 10000) AS BIGINT)
                       AS q4
            FROM g, tot),
    gstats AS (SELECT tn, k, ts, tss,
                      CAST(sum(q4) AS DOUBLE) / 10000.0 AS sq
               FROM per GROUP BY tn, k, ts, tss)
    SELECT p.event_type, p.n,
           round(p.med / 100.0, 2) + 0.0 AS median_value,
           round(p.sd / p.nd / 200.0, 4) + 0.0 AS mean_abs_dev,
           CASE WHEN g2.k > 1 AND g2.tn > g2.k
                     AND (g2.tss - g2.sq) > 0 THEN
               round(((g2.sq - g2.ts * g2.ts / g2.tn) / (g2.k - 1))
                     / ((g2.tss - g2.sq) / (g2.tn - g2.k)), 6)
           END + 0.0 AS w_stat,
           CAST(g2.k - 1 AS BIGINT) AS df_between,
           CAST(g2.tn - g2.k AS BIGINT) AS df_within
    FROM per p, gstats g2
    """,
    description="Brown-Forsythe variance-homogeneity test across "
                "event types (Levene with median centers): one-way "
                "ANOVA W on exact integer |2y - 2*median| deviations "
                "(median is integer-or-half cents, so 2z is exact "
                "BIGINT; W is scale-invariant) with the anova_oneway "
                "quantized s^2/n convention — the equal-variance "
                "premise check behind the F test")
def q_levene_brown_forsythe(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        levene_brown_forsythe)
    return levene_brown_forsythe(load_table(spark, sf_dir, "events"))


@_register(
    "runs_test_daily",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2),
    med AS (SELECT event_type, quantile_cont(v, 0.5) AS med
            FROM daily GROUP BY 1),
    signed AS (
        SELECT d.event_type, d.day,
               2 * d.v > CAST(round(2 * m.med) AS BIGINT) AS above
        FROM daily d JOIN med m USING (event_type)
        WHERE 2 * d.v <> CAST(round(2 * m.med) AS BIGINT)),
    lagged AS (
        SELECT event_type, above,
               lag(above) OVER (PARTITION BY event_type
                                ORDER BY day) AS prev
        FROM signed),
    runs AS (
        SELECT event_type,
               CAST(sum(CASE WHEN prev IS NULL OR above <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_runs,
               CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN NOT above THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2
        FROM lagged GROUP BY 1)
    SELECT event_type, r_runs, n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0
                     AND (2.0 * n1 * n2) * (2.0 * n1 * n2
                         - (n1 + n2)::DOUBLE)
                         / ((n1 + n2)::DOUBLE * (n1 + n2)::DOUBLE
                            * ((n1 + n2)::DOUBLE - 1)) > 0 THEN
               round((r_runs - (2.0 * n1 * n2 / (n1 + n2)::DOUBLE
                                + 1))
                     / sqrt((2.0 * n1 * n2) * (2.0 * n1 * n2
                            - (n1 + n2)::DOUBLE)
                            / ((n1 + n2)::DOUBLE * (n1 + n2)::DOUBLE
                               * ((n1 + n2)::DOUBLE - 1))), 4)
           END + 0.0 AS z_stat
    FROM runs
    """,
    description="Wald-Wolfowitz runs test per event type on the "
                "daily-revenue above/below-median sequence (ties "
                "dropped, the standard convention): exact integer "
                "runs/n1/n2, one fixed-form z expression — the "
                "sequence-randomness triage beside mann_kendall_trend")
def q_runs_test_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        runs_test_daily)
    return runs_test_daily(load_table(spark, sf_dir, "events"))


@_register(
    "decile_lift",
    oracle="""
    WITH base AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1
                             ELSE 0 END) AS BIGINT) AS clicks,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS pos
        FROM events GROUP BY user_id),
    ranked AS (
        SELECT pos,
               row_number() OVER (ORDER BY clicks DESC, user_id ASC)
                   AS rank
        FROM base),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(pos) AS BIGINT) AS n_pos_total
            FROM ranked),
    dec AS (
        SELECT CAST((rank - 1) * 10 // n_users AS INTEGER) AS decile,
               CAST(count(*) AS BIGINT) AS n_users_decile,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               any_value(n_users) AS n_users,
               any_value(n_pos_total) AS n_pos_total
        FROM ranked, tot
        GROUP BY 1)
    SELECT decile, n_users_decile, n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
               AS cum_pos,
           round(CAST(sum(n_pos) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                      ROW) AS BIGINT) / n_pos_total, 4) + 0.0
               AS cum_gain,
           round((n_pos / n_users_decile)
                 / (n_pos_total / n_users), 4) + 0.0 AS lift
    FROM dec
    """,
    description="cumulative-gains / lift table: users ranked by click "
                "count (tie-free, distributed two-pass range rank — "
                "never an ntile global window), outcome = ever "
                "purchased; per exact-integer decile: positives, "
                "cumulative recall, lift vs base rate — the "
                "campaign-targeting readout beside nb_roc_auc")
def q_decile_lift(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        decile_lift)
    return decile_lift(load_table(spark, sf_dir, "events"))


@_register(
    "cramers_v_dow",
    oracle="""
    WITH cells AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2),
    row_m AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n
              FROM cells GROUP BY 1),
    col_m AS (SELECT dow, CAST(sum(o) AS BIGINT) AS col_n
              FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS k,
                   CAST(count(DISTINCT dow) AS BIGINT) AS c
            FROM cells),
    grid AS (SELECT event_type, row_n, dow, col_n
             FROM row_m CROSS JOIN col_m),
    q AS (SELECT n, k, c,
                 CAST(round((coalesce(o, 0)
                             - CAST(row_n AS DOUBLE) * col_n / n)
                            * (coalesce(o, 0)
                               - CAST(row_n AS DOUBLE) * col_n / n)
                            / (CAST(row_n AS DOUBLE) * col_n / n)
                            * 10000) AS BIGINT) AS term_q4
          FROM grid
          LEFT JOIN cells USING (event_type, dow), tot)
    SELECT n, k,
           round(CAST(sum(term_q4) AS DOUBLE) / 10000.0, 4) + 0.0
               AS chi2,
           round(sqrt(CAST(sum(term_q4) AS DOUBLE) / 10000.0
                      / (n * CAST(least(k - 1, c - 1) AS DOUBLE))), 4)
               + 0.0 AS cramers_v
    FROM q GROUP BY n, k, c
    """,
    description="Cramer's V association between event type and "
                "day-of-week on the exact count contingency table: "
                "chi2 with per-cell 1e-4 quantization before the "
                "bounded cross-cell sum (the drift_chisq convention), "
                "V = sqrt(chi2/(n*min(k-1, c-1))) — the normalized "
                "[0,1] strength readout (dow encodings differ across "
                "engines but the table, and hence chi2, is "
                "encoding-invariant)")
def q_cramers_v_dow(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        cramers_v_dow)
    return cramers_v_dow(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Round-14 extension wave A: classical hypothesis tests
# ---------------------------------------------------------------------------

@_register(
    "welch_ttest_pairs",
    oracle="""
    WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      sum(CAST(round(value * 100) AS HUGEINT)) AS s,
                      sum(CAST(round(value * 100) AS HUGEINT)
                          * CAST(round(value * 100) AS HUGEINT)) AS ss
               FROM events GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS na, b.n AS nb,
           round(CAST(a.s AS DOUBLE) / a.n / 100.0, 4) + 0.0 AS mean_a,
           round(CAST(b.s AS DOUBLE) / b.n / 100.0, 4) + 0.0 AS mean_b,
           round(CASE WHEN a.n > 1 AND b.n > 1 AND
               (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s)
                 / (a.n - 1)) / a.n
                + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n * b.s)
                   / (b.n - 1)) / b.n) > 0 THEN
               (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
               / sqrt(((CAST(a.ss AS DOUBLE)
                        - CAST(a.s AS DOUBLE) / a.n * a.s)
                       / (a.n - 1)) / a.n
                      + ((CAST(b.ss AS DOUBLE)
                          - CAST(b.s AS DOUBLE) / b.n * b.s)
                         / (b.n - 1)) / b.n)
           END, 4) + 0.0 AS t_stat,
           round(CASE WHEN a.n > 1 AND b.n > 1 AND
               (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s)
                 / (a.n - 1)) / a.n
                + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n * b.s)
                   / (b.n - 1)) / b.n) > 0 THEN
               (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s)
                 / (a.n - 1)) / a.n
                + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n * b.s)
                   / (b.n - 1)) / b.n)
               * (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s)
                   / (a.n - 1)) / a.n
                  + ((CAST(b.ss AS DOUBLE)
                      - CAST(b.s AS DOUBLE) / b.n * b.s)
                     / (b.n - 1)) / b.n)
               / ((((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s)
                    / (a.n - 1)) / a.n)
                  * (((CAST(a.ss AS DOUBLE)
                       - CAST(a.s AS DOUBLE) / a.n * a.s)
                      / (a.n - 1)) / a.n) / (a.n - 1)
                  + (((CAST(b.ss AS DOUBLE)
                       - CAST(b.s AS DOUBLE) / b.n * b.s)
                      / (b.n - 1)) / b.n)
                  * (((CAST(b.ss AS DOUBLE)
                       - CAST(b.s AS DOUBLE) / b.n * b.s)
                      / (b.n - 1)) / b.n) / (b.n - 1))
           END, 2) + 0.0 AS df_welch
    FROM g a JOIN g b ON a.event_type < b.event_type
    """,
    description="Welch's unequal-variance t statistic + "
                "Welch-Satterthwaite df for every pair of event types "
                "on per-event value: exact integer moments per group, "
                "bounded k-row self-join on type_a < type_b, one "
                "fixed-form double — the pairwise follow-up to "
                "anova_oneway without the pooled-variance assumption")
def q_welch_ttest_pairs(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        welch_ttest_pairs)
    return welch_ttest_pairs(load_table(spark, sf_dir, "events"))


@_register(
    "bartlett_variances",
    oracle="""
    WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      sum(CAST(round(value * 100) AS HUGEINT)) AS s,
                      sum(CAST(round(value * 100) AS HUGEINT)
                          * CAST(round(value * 100) AS HUGEINT)) AS ss
               FROM events GROUP BY 1),
    per AS (SELECT n, s, ss,
                   CASE WHEN n > 1 AND ((CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) / n * s) / (n - 1)) > 0
                        THEN CAST(round((n - 1)
                            * ln((CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) / n * s)
                                 / (n - 1)) * 1000000) AS BIGINT)
                   END AS lnterm_q6,
                   CASE WHEN n > 1 THEN
                       CAST(round(1000000.0 / (n - 1)) AS BIGINT)
                   END AS inv_q6,
                   CASE WHEN n > 1 AND ((CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) / n * s) / (n - 1)) > 0
                        THEN 0 ELSE 1 END AS bad
            FROM g),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(n) AS BIGINT) AS n_total,
                   sum(ss) AS tss,
                   CAST(sum(CAST(round(CAST(s AS DOUBLE) / n * s
                                       * 10000) AS BIGINT))
                        AS BIGINT) AS sq_over_n_q4,
                   CAST(sum(lnterm_q6) AS BIGINT) AS sum_lnterm_q6,
                   CAST(sum(inv_q6) AS BIGINT) AS sum_inv_q6,
                   CAST(sum(bad) AS BIGINT) AS n_bad
            FROM per)
    SELECT k, n_total AS n,
           round(CASE WHEN n_bad = 0 AND k > 1 AND n_total > k
                     AND ((CAST(tss AS DOUBLE)
                           - CAST(sq_over_n_q4 AS DOUBLE) / 10000.0)
                          / (n_total - k)) > 0 THEN
               ((CAST(tss AS DOUBLE)
                 - CAST(sq_over_n_q4 AS DOUBLE) / 10000.0)
                / (n_total - k)) / 10000.0 END, 4) + 0.0
               AS pooled_var,
           round(CASE WHEN n_bad = 0 AND k > 1 AND n_total > k
                     AND ((CAST(tss AS DOUBLE)
                           - CAST(sq_over_n_q4 AS DOUBLE) / 10000.0)
                          / (n_total - k)) > 0 THEN
               ((n_total - k) * ln((CAST(tss AS DOUBLE)
                    - CAST(sq_over_n_q4 AS DOUBLE) / 10000.0)
                   / (n_total - k))
                - CAST(sum_lnterm_q6 AS DOUBLE) / 1000000.0)
               / (1.0 + (CAST(sum_inv_q6 AS DOUBLE) / 1000000.0
                         - 1.0 / (n_total - k)) / (3.0 * (k - 1)))
           END, 4) + 0.0 AS t_stat
    FROM tot
    """,
    description="Bartlett's likelihood-ratio test of variance "
                "homogeneity across event types: per-group "
                "(n-1)*ln(s^2) and 1/(n-1) terms quantized to 1e-6 "
                "before the cross-group sum (order-free), pooled "
                "variance from exact decimal moments — the "
                "normal-theory sibling of levene_brown_forsythe")
def q_bartlett_variances(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        bartlett_variances)
    return bartlett_variances(load_table(spark, sf_dir, "events"))


@_register(
    "kendalls_w_days",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2),
    k_tot AS (SELECT count(DISTINCT event_type) AS kt FROM daily),
    full_days AS (
        SELECT day, event_type, v FROM (
            SELECT d.day, d.event_type, d.v, kt,
                   count(*) OVER (PARTITION BY d.day) AS k_day
            FROM daily d, k_tot)
        WHERE k_day = kt),
    r AS (SELECT day, event_type,
                 2 * rank() OVER (PARTITION BY day ORDER BY v)
                 + count(*) OVER (PARTITION BY day, v) - 1 AS r2
          FROM full_days),
    rsums AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2sum,
                     CAST(count(*) AS BIGINT) AS m
              FROM r GROUP BY 1),
    km AS (SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(max(m) AS BIGINT) AS m FROM rsums),
    s4 AS (SELECT k, m,
                  sum(CAST((r2sum - m * (k + 1)) AS HUGEINT)
                      * (r2sum - m * (k + 1))) AS s4
           FROM (SELECT r2sum FROM rsums) rs, km GROUP BY k, m),
    tiecnt AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
               FROM (SELECT count(*) AS t FROM full_days
                     GROUP BY day, v))
    SELECT k, m, tie_sum,
           round(CASE WHEN (CAST(m AS DOUBLE) * m
                    * (CAST(k AS DOUBLE) * k * k - k)
                    - CAST(m AS DOUBLE) * tie_sum) > 0 THEN
               3.0 * CAST(s4 AS DOUBLE)
               / (CAST(m AS DOUBLE) * m
                  * (CAST(k AS DOUBLE) * k * k - k)
                  - CAST(m AS DOUBLE) * tie_sum) END, 6) + 0.0 AS w,
           round(CASE WHEN (CAST(m AS DOUBLE) * m
                    * (CAST(k AS DOUBLE) * k * k - k)
                    - CAST(m AS DOUBLE) * tie_sum) > 0 THEN
               m * (k - 1) * (3.0 * CAST(s4 AS DOUBLE)
                   / (CAST(m AS DOUBLE) * m
                      * (CAST(k AS DOUBLE) * k * k - k)
                      - CAST(m AS DOUBLE) * tie_sum)) END, 4) + 0.0
               AS chi2
    FROM s4, tiecnt
    """,
    description="Kendall's coefficient of concordance W across days "
                "(each complete day ranks the event types by daily "
                "revenue, doubled midranks keep rank sums integral, "
                "tie-corrected denominator) + chi2 = m(k-1)W — the "
                "judge-agreement readout beside friedman_dow")
def q_kendalls_w_days(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        kendalls_w_days)
    return kendalls_w_days(load_table(spark, sf_dir, "events"))


@_register(
    "grubbs_daily_outlier",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2),
    g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS s,
                 sum(CAST(v AS HUGEINT) * v) AS ss
          FROM daily GROUP BY 1),
    j AS (SELECT d.event_type, d.day, d.v, g.n, g.s, g.ss,
                 row_number() OVER (
                     PARTITION BY d.event_type
                     ORDER BY abs(CAST(g.n AS HUGEINT) * d.v - g.s)
                         DESC, d.day) AS rn
          FROM daily d JOIN g USING (event_type))
    SELECT event_type, n, strftime(day, '%Y-%m-%d') AS outlier_day,
           round(v / 100.0, 2) + 0.0 AS outlier_value,
           round(CASE WHEN n > 2 AND ((CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) / n * s) / (n - 1)) > 0 THEN
               abs(v - CAST(s AS DOUBLE) / n)
               / sqrt((CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) / n * s) / (n - 1))
           END, 4) + 0.0 AS g_stat
    FROM j WHERE rn = 1
    """,
    description="Grubbs' maximum-studentized-deviate statistic per "
                "event type on daily revenue: the argmax day selected "
                "by exact integer |n*v - sum| comparison (earliest-day "
                "tie-break), G one fixed-form double — the "
                "single-outlier screen beside anomaly_zscore")
def q_grubbs_daily_outlier(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        grubbs_daily_outlier)
    return grubbs_daily_outlier(load_table(spark, sf_dir, "events"))


@_register(
    "jonckheere_terpstra",
    oracle="""
    WITH j AS (SELECT CAST(l.l_quantity AS BIGINT) AS q,
                      CAST(substring(o.o_orderpriority, 1, 1) AS INT)
                          AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cells AS (SELECT w, q, CAST(count(*) AS BIGINT) AS c
              FROM j GROUP BY 1, 2),
    j2t AS (SELECT coalesce(sum(CASE WHEN a.q < b.q
                       THEN 2 * CAST(a.c AS HUGEINT) * b.c
                       WHEN a.q = b.q THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE 0 END), 0) AS j2
            FROM cells a JOIN cells b ON a.w < b.w),
    grp AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn,
                   CAST(sum(n_g * n_g) AS BIGINT) AS sn2,
                   sum(CAST(n_g AS HUGEINT) * (n_g - 1)
                       * (2 * n_g + 5)) AS sn_a,
                   sum(CAST(n_g AS HUGEINT) * (n_g - 1) * (n_g - 2))
                       AS sn_b,
                   sum(CAST(n_g AS HUGEINT) * (n_g - 1)) AS sn_c
            FROM (SELECT w, CAST(sum(c) AS BIGINT) AS n_g
                  FROM cells GROUP BY 1)),
    tie AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
                       AS st_a,
                   sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st_b,
                   sum(CAST(t AS HUGEINT) * (t - 1)) AS st_c
            FROM (SELECT q, CAST(sum(c) AS BIGINT) AS t
                  FROM cells GROUP BY 1))
    SELECT nn AS n, CAST(j2 AS DOUBLE) / 2.0 AS j_stat,
           round(((CAST(nn AS DOUBLE)) * nn - sn2) / 2.0 / 2.0, 2)
               + 0.0 AS j_expected,
           round(CASE WHEN nn > 2 AND
               (((CAST(nn AS DOUBLE)) * (nn - 1)
                 * (2 * CAST(nn AS DOUBLE) + 5)
                 - CAST(sn_a AS DOUBLE) - CAST(st_a AS DOUBLE)) / 72.0
                + CAST(sn_b AS DOUBLE) * CAST(st_b AS DOUBLE)
                  / (36.0 * (CAST(nn AS DOUBLE)) * (nn - 1) * (nn - 2))
                + CAST(sn_c AS DOUBLE) * CAST(st_c AS DOUBLE)
                  / (8.0 * (CAST(nn AS DOUBLE)) * (nn - 1))) > 0 THEN
               (CAST(j2 AS DOUBLE)
                - ((CAST(nn AS DOUBLE)) * nn - sn2) / 2.0)
               / (2.0 * sqrt(
                   ((CAST(nn AS DOUBLE)) * (nn - 1)
                    * (2 * CAST(nn AS DOUBLE) + 5)
                    - CAST(sn_a AS DOUBLE) - CAST(st_a AS DOUBLE))
                   / 72.0
                   + CAST(sn_b AS DOUBLE) * CAST(st_b AS DOUBLE)
                     / (36.0 * (CAST(nn AS DOUBLE)) * (nn - 1)
                        * (nn - 2))
                   + CAST(sn_c AS DOUBLE) * CAST(st_c AS DOUBLE)
                     / (8.0 * (CAST(nn AS DOUBLE)) * (nn - 1))))
           END, 6) + 0.0 AS z_stat
    FROM j2t, grp, tie
    """,
    description="Jonckheere-Terpstra ordered-alternative test of "
                "quantity shift across the priority scale: 2J exact "
                "from the bounded 250-cell (priority, quantity) count "
                "table self-join, tie-corrected variance (Hollander & "
                "Wolfe) from exact integer sums — the ordered-k-sample "
                "member of the nonparametric family")
def q_jonckheere_terpstra(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        jonckheere_terpstra)
    return jonckheere_terpstra(load_table(spark, sf_dir, "lineitem"),
                               load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Round-14 extension wave B: time-series spectrum / memory / lead-lag
# ---------------------------------------------------------------------------

@_register(
    "ccf_lead_lag",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1, 2),
    lags AS (SELECT CAST(range AS INT) AS lag FROM range(-3, 4)),
    j AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 l.lag, a.v AS x, b.v AS y
          FROM daily a CROSS JOIN lags l
          JOIN daily b ON a.event_type < b.event_type
                       AND b.day = a.day + l.lag),
    g AS (SELECT type_a, type_b, lag,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM j GROUP BY 1, 2, 3)
    SELECT type_a, type_b, lag, n,
           round(CASE WHEN n >= 3
                   AND (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n AS DOUBLE) * syy
                        - CAST(sy AS DOUBLE) * sy) > 0 THEN
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / sqrt((CAST(n AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy))
           END, 4) + 0.0 AS ccf
    FROM g
    """,
    description="sample cross-correlation between every event-type "
                "pair's daily-revenue series at lags -3..+3 "
                "(pairwise-complete calendar join): exact integer "
                "moment sums per (pair, lag), one fixed-form r — the "
                "lead-lag readout beside acf_daily")
def q_ccf_lead_lag(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        ccf_lead_lag)
    return ccf_lead_lag(load_table(spark, sf_dir, "events"))


@_register(
    "periodogram_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1),
    stats AS (SELECT min(day) AS day0,
                     CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(v AS HUGEINT)) AS s
              FROM daily),
    periods AS (SELECT * FROM (VALUES (2), (3), (4), (5), (6), (7),
                               (8), (9), (10), (14)) t(period)),
    base AS (SELECT period, n,
                    datediff('day', day0, day) AS t,
                    CAST(n AS HUGEINT) * v - s AS w
             FROM daily, stats, periods),
    q AS (SELECT period, n, w,
                 CAST(round(cos(2 * pi() * t / period) * 1000000)
                      AS BIGINT) AS cq,
                 CAST(round(sin(2 * pi() * t / period) * 1000000)
                      AS BIGINT) AS sq
          FROM base),
    g AS (SELECT period, n, sum(w * cq) AS sc, sum(w * sq) AS ss
          FROM q GROUP BY 1, 2)
    SELECT period, n AS n_days,
           round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                  + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                 / (CAST(n AS DOUBLE) * n * n * n * 1e12 * 1e4), 4)
               + 0.0 AS power
    FROM g
    """,
    description="Schuster periodogram of total daily revenue at "
                "fixed probe periods 2..14 days: integer demeaning "
                "(w = n*v - sum), cos/sin quantized to 1e-6 before "
                "the cross-day sum (order-free), power from two "
                "exact decimal sums — the frequency-domain "
                "seasonality readout; a weekly cycle peaks at p=7")
def q_periodogram_daily(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        periodogram_daily)
    return periodogram_daily(load_table(spark, sf_dir, "events"))


@_register(
    "hurst_rs",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1),
    day0 AS (SELECT min(day) AS d0 FROM daily),
    sizes AS (SELECT * FROM (VALUES (5), (10), (15)) t(m)),
    idx AS (SELECT m, t // m AS chunk, t % m AS j, v
            FROM (SELECT datediff('day', d0, day) AS t, v
                  FROM daily, day0), sizes),
    cum AS (SELECT m, chunk, j, v,
                   sum(CAST(v AS HUGEINT)) OVER (
                       PARTITION BY m, chunk ORDER BY j
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum
            FROM idx),
    chunk_s AS (SELECT m, chunk, sum(CAST(v AS HUGEINT)) AS s_c,
                       CAST(count(*) AS BIGINT) AS n_days,
                       sum(CAST(v AS HUGEINT) * v) AS ss_c
                FROM idx GROUP BY 1, 2),
    cdev AS (SELECT c.m, c.chunk, s.n_days, s.s_c, s.ss_c,
                    CAST(c.m AS HUGEINT) * c.cum
                    - CAST(c.j + 1 AS HUGEINT) * s.s_c AS cd
             FROM cum c JOIN chunk_s s USING (m, chunk)
             WHERE s.n_days = c.m),
    rs AS (SELECT m, chunk, n_days, s_c, ss_c,
                  max(cd) - min(cd) AS r_scaled
           FROM cdev GROUP BY 1, 2, 3, 4, 5),
    qchunk AS (SELECT m,
                      CAST(round((ln(CAST(r_scaled AS DOUBLE)
                          / (m * sqrt((CAST(ss_c AS DOUBLE)
                                       - CAST(s_c AS DOUBLE) / m * s_c)
                                      / m))) / ln(2)) * 1000000)
                           AS BIGINT) AS l_q6
               FROM rs
               WHERE (CAST(ss_c AS DOUBLE)
                      - CAST(s_c AS DOUBLE) / m * s_c) / m > 0
                 AND r_scaled > 0),
    per_size AS (SELECT m, CAST(count(*) AS BIGINT) AS n_chunks,
                        CAST(sum(l_q6) AS BIGINT) AS sum_l_q6
                 FROM qchunk GROUP BY 1),
    pts AS (SELECT m, n_chunks, sum_l_q6,
                   CAST(round((ln(CAST(m AS DOUBLE)) / ln(2))
                              * 1000000) AS BIGINT) AS x_q6,
                   CAST(round((ln(CAST(m AS DOUBLE)) / ln(2))
                              * (CAST(sum_l_q6 AS DOUBLE) / n_chunks
                                 / 1000000.0) * 1000000) AS BIGINT)
                       AS xy_q6,
                   CAST(round((ln(CAST(m AS DOUBLE)) / ln(2))
                              * (ln(CAST(m AS DOUBLE)) / ln(2))
                              * 1000000) AS BIGINT) AS xx_q6,
                   CAST(round((CAST(sum_l_q6 AS DOUBLE) / n_chunks
                               / 1000000.0) * 1000000) AS BIGINT)
                       AS y_q6
            FROM per_size),
    fit AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(x_q6) AS BIGINT) AS sx,
                   CAST(sum(y_q6) AS BIGINT) AS sy,
                   CAST(sum(xy_q6) AS BIGINT) AS sxy,
                   CAST(sum(xx_q6) AS BIGINT) AS sxx
            FROM pts)
    SELECT p.m, p.n_chunks,
           round(CAST(p.sum_l_q6 AS DOUBLE) / p.n_chunks / 1000000.0,
                 4) + 0.0 AS mean_log2_rs,
           f.k,
           round(CASE WHEN f.k >= 2 THEN
               (CAST(f.k AS DOUBLE) * f.sxy * 1e-6
                - CAST(f.sx AS DOUBLE) * f.sy * 1e-12)
               / (CAST(f.k AS DOUBLE) * f.sxx * 1e-6
                  - CAST(f.sx AS DOUBLE) * f.sx * 1e-12) END, 4)
               + 0.0 AS hurst
    FROM per_size p, fit f
    """,
    description="rescaled-range (R/S) analysis of total daily "
                "revenue with calendar-defined chunks m in {5,10,15}: "
                "exact-integer scaled cumulative deviations "
                "(m*cum - (j+1)*sum), per-chunk log2(R/S) quantized "
                "to 1e-6 before the per-size mean, Hurst H as the "
                "quantized log-log OLS slope — the long-memory "
                "readout beside acf_daily")
def q_hurst_rs(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import hurst_rs
    return hurst_rs(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Round-14 extension wave C: retrieval scoring / fusion / corpus diversity
# ---------------------------------------------------------------------------

_QL_TERMS_SQL = "['hash', 'join', 'scan', 'vector']"


@_register(
    "query_likelihood_topk",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    qt AS (SELECT unnest({_QL_TERMS_SQL}) AS term),
    tfq AS (SELECT tf.doc_id, tf.term, tf.tf
            FROM tf JOIN qt USING (term)),
    cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
           FROM tfq GROUP BY term HAVING sum(tf) > 0),
    clen AS (SELECT CAST(sum(dl) AS BIGINT) AS clen FROM dl),
    cand AS (SELECT DISTINCT doc_id FROM tfq),
    grid AS (SELECT doc_id, term, cf FROM cand, cf),
    scored AS (
      SELECT g.doc_id,
             ln((coalesce(t.tf, 0) + 2000.0 * g.cf / clen)
                / (dl + 2000.0)) AS part
      FROM grid g
      LEFT JOIN tfq t ON g.doc_id = t.doc_id AND g.term = t.term
      JOIN dl ON g.doc_id = dl.doc_id, clen)
    SELECT doc_id, round(sum(part), 4) + 0.0 AS ql
    FROM scored GROUP BY doc_id
    ORDER BY ql DESC, doc_id ASC LIMIT 20
    """,
    description="Dirichlet-smoothed query-likelihood top-20 (Zhai & "
                "Lafferty, mu=2000) for the bm25_topk query: OR-gate "
                "candidates score all terms incl. zero-tf background "
                "mass; cf/|C| broadcast scalars, TakeOrdered top-k — "
                "the language-modeling alternative to BM25")
def q_query_likelihood_topk(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import retrieval as RV
    return RV.query_likelihood_topk(
        load_table(spark, sf_dir, "documents"),
        ["hash", "join", "scan", "vector"], k=20)


@_register(
    "combsum_fusion",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_WORD_RE_SQL}',
                                             0)) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    qt AS (SELECT unnest({_QL_TERMS_SQL}) AS term),
    dfq AS (SELECT term, count(*) AS df_term
            FROM tf JOIN qt USING (term) GROUP BY term),
    scored_a AS (
      SELECT tf.doc_id,
             ln(1.0 + (n_docs - df_term + 0.5) / (df_term + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS part
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
    leg_a AS (SELECT doc_id, round(sum(part), 4) AS s_a
              FROM scored_a GROUP BY doc_id
              ORDER BY s_a DESC, doc_id ASC LIMIT 100),
    tfq AS (SELECT tf.doc_id, tf.term, tf.tf
            FROM tf JOIN qt USING (term)),
    cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
           FROM tfq GROUP BY term HAVING sum(tf) > 0),
    clen AS (SELECT CAST(sum(dl) AS BIGINT) AS clen FROM dl),
    cand AS (SELECT DISTINCT doc_id FROM tfq),
    grid AS (SELECT doc_id, term, cf FROM cand, cf),
    scored_b AS (
      SELECT g.doc_id,
             ln((coalesce(t.tf, 0) + 2000.0 * g.cf / clen)
                / (dl + 2000.0)) AS part
      FROM grid g
      LEFT JOIN tfq t ON g.doc_id = t.doc_id AND g.term = t.term
      JOIN dl ON g.doc_id = dl.doc_id, clen),
    leg_b AS (SELECT doc_id, round(sum(part), 4) AS s_b
              FROM scored_b GROUP BY doc_id
              ORDER BY s_b DESC, doc_id ASC LIMIT 100),
    na AS (SELECT min(s_a) AS mn_a, max(s_a) AS mx_a FROM leg_a),
    nb AS (SELECT min(s_b) AS mn_b, max(s_b) AS mx_b FROM leg_b),
    j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, s_a, s_b
          FROM leg_a a FULL OUTER JOIN leg_b b
          ON a.doc_id = b.doc_id)
    SELECT doc_id,
           round((CASE WHEN s_a IS NULL THEN 0.0
                       WHEN mx_a = mn_a THEN 0.0
                       ELSE (s_a - mn_a) / (mx_a - mn_a) END)
                 + (CASE WHEN s_b IS NULL THEN 0.0
                         WHEN mx_b = mn_b THEN 0.0
                         ELSE (s_b - mn_b) / (mx_b - mn_b) END), 6)
               + 0.0 AS combsum,
           round((CASE WHEN s_a IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s_b IS NULL THEN 0 ELSE 1 END)
                 * ((CASE WHEN s_a IS NULL THEN 0.0
                          WHEN mx_a = mn_a THEN 0.0
                          ELSE (s_a - mn_a) / (mx_a - mn_a) END)
                    + (CASE WHEN s_b IS NULL THEN 0.0
                            WHEN mx_b = mn_b THEN 0.0
                            ELSE (s_b - mn_b) / (mx_b - mn_b) END)),
                 6) + 0.0 AS combmnz,
           CAST(CASE WHEN s_a IS NULL THEN 0 ELSE 1 END
                + CASE WHEN s_b IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS n_legs
    FROM j, na, nb
    ORDER BY combsum DESC, doc_id ASC LIMIT 20
    """,
    description="CombSUM/CombMNZ score fusion (Fox & Shaw) of the "
                "BM25 and query-likelihood top-100 legs for the same "
                "4-term query: per-leg min-max normalization from "
                "broadcast scalars, fixed-form fused score, top-20 — "
                "the score-level sibling of hybrid_topk_rrf")
def q_combsum_fusion(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators import retrieval as RV
    return RV.combsum_fusion(load_table(spark, sf_dir, "documents"),
                             ["hash", "join", "scan", "vector"], k=20)


@_register(
    "self_bleu_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             regexp_extract_all(lower(text), '{_WORD_RE_SQL}', 0) AS l
      FROM documents),
    bg AS (SELECT source,
                  unnest(list_transform(
                      range(len(l) - 1),
                      i -> l[i + 1] || ' ' || l[i + 2])) AS bg
           FROM toks WHERE len(l) >= 2),
    sb AS (SELECT source, bg, CAST(count(*) AS BIGINT) AS c_s
           FROM bg GROUP BY 1, 2),
    tot AS (SELECT bg, CAST(sum(c_s) AS BIGINT) AS c_t
            FROM sb GROUP BY 1),
    per AS (SELECT source,
                   CAST(sum(c_s) AS BIGINT) AS n_bigrams,
                   CAST(sum(least(c_s, c_t - c_s)) AS BIGINT)
                       AS clipped_overlap
            FROM sb JOIN tot USING (bg) GROUP BY source)
    SELECT source, n_bigrams, clipped_overlap,
           round(clipped_overlap / CAST(n_bigrams AS DOUBLE), 6) + 0.0
               AS self_bleu2
    FROM per
    """,
    description="corpus-level self-BLEU-2 per source: clipped bigram "
                "precision of each source against the rest of the "
                "corpus (min(c_s, c_total - c_s) / c_s sums, exact "
                "integers, one vocabulary-keyed join) — the "
                "count-weighted redundancy/diversity readout beside "
                "cross_source_contamination")
def q_self_bleu_sources(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        self_bleu_sources)
    return self_bleu_sources(load_table(spark, sf_dir, "documents"))


@_register(
    "directional_hull",
    oracle="""
    WITH pts AS (
        SELECT c_nationkey AS nation, c_custkey AS k,
               CAST(CAST(round(c_acctbal * 100) AS BIGINT) % 256
                    + CASE WHEN CAST(round(c_acctbal * 100) AS BIGINT)
                                % 256 < 0 THEN 256 ELSE 0 END AS INT)
                   AS x,
               CAST(c_custkey % 256 AS INT) AS y
        FROM customer),
    dirs AS (SELECT CAST(range AS INT) AS d,
                    CAST(round(cos(2 * pi() * range / 16) * 1000000)
                         AS BIGINT) AS cq,
                    CAST(round(sin(2 * pi() * range / 16) * 1000000)
                         AS BIGINT) AS sq
             FROM range(16)),
    dot AS (SELECT nation, d, k, x, y, x * cq + y * sq AS dot
            FROM pts CROSS JOIN dirs),
    ranked AS (SELECT nation, d, k, x, y, dot,
                      row_number() OVER (
                          PARTITION BY nation, d
                          ORDER BY dot DESC, k ASC) AS rn
               FROM dot)
    SELECT nation, d AS direction, k AS c_custkey, x, y,
           round(dot / 1000000.0, 2) + 0.0 AS support
    FROM ranked WHERE rn = 1
    """,
    description="approximate convex hull per nation by directional "
                "support sampling (Bentley-Faust-Preparata): extreme "
                "point under 16 quantized-integer directions on the "
                "spatial_grid_join plane, exact-integer argmax with "
                "custkey tie-break — the scale shape for hulls (the "
                "exact monotone chain is inherently sequential)")
def q_directional_hull(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.spatial import (
        directional_hull)
    return directional_hull(load_table(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# Round-14 extension wave E: segmented-trend / effect-size / inequality
# ---------------------------------------------------------------------------

@_register(
    "slope_reversal_audit",
    oracle="""
    WITH base AS (SELECT l_returnflag AS grp,
                         CAST(l_quantity AS BIGINT) AS x,
                         CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS y
                  FROM lineitem),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx
          FROM base GROUP BY 1),
    pool AS (SELECT CAST(sum(n) AS BIGINT) AS np, sum(sx) AS sxp,
                    sum(sy) AS syp, sum(sxy) AS sxyp,
                    sum(sxx) AS sxxp
             FROM g)
    SELECT grp, n,
           round(CASE WHEN n >= 2 THEN
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           END, 4) + 0.0 AS group_slope,
           round(CASE WHEN np >= 2 THEN
               (CAST(np AS DOUBLE) * sxyp - CAST(sxp AS DOUBLE) * syp)
               / (CAST(np AS DOUBLE) * sxxp
                  - CAST(sxp AS DOUBLE) * sxp)
           END, 4) + 0.0 AS pooled_slope,
           sign(CAST(n AS HUGEINT) * sxy - sx * sy)
               <> sign(CAST(np AS HUGEINT) * sxyp - sxp * syp)
               AS sign_reversed
    FROM g, pool
    """,
    description="Simpson's-paradox screen: pooled OLS slope of price "
                "on quantity vs per-return-flag slopes from one "
                "exact-integer moment pass, reversal flag compared "
                "on exact integer numerator signs (variance "
                "denominators are positive) — the segmented-trend "
                "warning light")
def q_slope_reversal_audit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        slope_reversal_audit)
    return slope_reversal_audit(load_table(spark, sf_dir, "lineitem"))


@_register(
    "effect_size_pairs",
    oracle="""
    WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      sum(CAST(round(value * 100) AS HUGEINT)) AS s,
                      sum(CAST(round(value * 100) AS HUGEINT)
                          * CAST(round(value * 100) AS HUGEINT)) AS ss
               FROM events GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS na, b.n AS nb,
           round(CASE WHEN a.n > 1 AND b.n > 1 AND
               (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s))
                + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n * b.s)))
               / (a.n + b.n - 2) > 0 THEN
               (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
               / sqrt((((CAST(a.ss AS DOUBLE)
                         - CAST(a.s AS DOUBLE) / a.n * a.s))
                       + ((CAST(b.ss AS DOUBLE)
                           - CAST(b.s AS DOUBLE) / b.n * b.s)))
                      / (a.n + b.n - 2))
           END, 4) + 0.0 AS cohens_d,
           round(CASE WHEN a.n > 1 AND b.n > 1 AND
               (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s))
                + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n * b.s)))
               / (a.n + b.n - 2) > 0 THEN
               ((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                / sqrt((((CAST(a.ss AS DOUBLE)
                          - CAST(a.s AS DOUBLE) / a.n * a.s))
                        + ((CAST(b.ss AS DOUBLE)
                            - CAST(b.s AS DOUBLE) / b.n * b.s)))
                       / (a.n + b.n - 2)))
               * (1.0 - 3.0 / (4.0 * (a.n + b.n - 2) - 1.0))
           END, 4) + 0.0 AS hedges_g,
           round(CASE WHEN a.n > 1 AND b.n > 1 AND
               (((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n * a.s))
                + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n * b.s)))
               / (a.n + b.n - 2) > 0 THEN
               (1.959963984540054 + 0.8416212335729143)
               * sqrt(1.0 / a.n + 1.0 / b.n)
           END, 4) + 0.0 AS mde_80
    FROM g a JOIN g b ON a.event_type < b.event_type
    """,
    description="standardized effect sizes per event-type pair: "
                "Cohen's d on the pooled sd, Hedges' g small-sample "
                "correction J=1-3/(4df-1), and the 80%-power minimum "
                "detectable effect in pooled-sd units — the magnitude "
                "companion to welch_ttest_pairs")
def q_effect_size_pairs(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        effect_size_pairs)
    return effect_size_pairs(load_table(spark, sf_dir, "events"))


@_register(
    "theil_decomposition",
    oracle="""
    WITH spend AS (
        SELECT * FROM (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1)
        WHERE y > 0),
    by_nation AS (
        SELECT s.y, c.c_nationkey AS nationkey
        FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
    per AS (SELECT nationkey, CAST(count(*) AS BIGINT) AS n_g,
                   sum(CAST(y AS HUGEINT)) AS s_g,
                   sum(CAST(round(y * ln(y) * 100) AS HUGEINT))
                       AS ylny_q2
            FROM by_nation GROUP BY 1),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s,
                   sum(ylny_q2) AS ylny_tot_q2
            FROM per)
    SELECT nationkey, n_g,
           round(CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE), 6) + 0.0
               AS spend_share,
           round(CAST(ylny_q2 AS DOUBLE) / 100.0
                 / CAST(s_g AS DOUBLE)
                 - ln(CAST(s_g AS DOUBLE) / n_g), 6) + 0.0
               AS theil_within,
           round((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
                 * ln((CAST(s_g AS DOUBLE) / n_g)
                      / (CAST(s AS DOUBLE) / n)), 6) + 0.0
               AS between_term,
           round(CAST(ylny_tot_q2 AS DOUBLE) / 100.0
                 / CAST(s AS DOUBLE)
                 - ln(CAST(s AS DOUBLE) / n), 6) + 0.0 AS theil_total
    FROM per, tot
    """,
    description="Theil T inequality of customer spend decomposed "
                "within/between nations: per-customer y*ln(y) terms "
                "quantized to 1e-2 before the per-nation sum "
                "(order-free), T_g = sum(y ln y)/S_g - ln(mean_g), "
                "between = share*ln(mean_g/mean) — the decomposable "
                "complement to gini_by_nation")
def q_theil_decomposition(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.stats import (
        theil_decomposition)
    return theil_decomposition(load_table(spark, sf_dir, "orders"),
                               load_table(spark, sf_dir, "customer"))


@_register(
    "aiff_decode_stats",
    oracle="""
    SELECT doc_id, sample_rate, channels, n_frames,
           CAST(floor(n_frames * 1000 / sample_rate) AS BIGINT)
               AS duration_ms,
           CAST(sum(abs(s)) AS BIGINT) AS total_abs,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM (
      SELECT doc_id, CAST(11025 AS BIGINT) AS sample_rate,
             CAST(CASE WHEN doc_id % 40 = 0 THEN 2 ELSE 1 END
                  AS BIGINT) AS channels,
             n_frames,
             unnest([((i * k) % 1601) - 800
                     for i in generate_series(0, n_frames - 1)]) AS s
      FROM (SELECT doc_id,
                   CAST(1 + doc_id % 13 AS BIGINT) AS k,
                   CAST(600 + (doc_id % 24) * 10 AS BIGINT) AS n_frames
            FROM documents))
    GROUP BY doc_id, sample_rate, channels, n_frames
    """,
    description="REAL AIFF decode (11th from-scratch codec): "
                "synthesize a deterministic integer-sawtooth "
                "FORM/AIFF per doc (big-endian IFF chunks, IEEE "
                "extended-80 sample-rate field decoded exactly by "
                "bit arithmetic, stereo every 40th doc), ship as "
                "binary, parse back and emit exact integer amplitude "
                "stats; the oracle recomputes the waveform from "
                "first principles")
def q_aiff_decode_stats(spark, sf_dir):
    from cloud_native_mapreduce_spark.multimodal import binary
    docs = load_table(spark, sf_dir, "documents")
    return binary.aiff_decode_stats(binary.aiff_payloads(docs))


@_register(
    "chain_ladder_forecast",
    oracle="""
    WITH day0 AS (SELECT min(CAST(ts AS DATE)) AS day0 FROM events),
    ev AS (SELECT user_id, event_type,
                  datediff('day', day0, CAST(ts AS DATE)) // 7 AS week
           FROM events, day0),
    cohort AS (SELECT user_id, min(week) AS cohort_week
               FROM ev GROUP BY 1),
    pur AS (SELECT cohort_week, week - cohort_week AS age,
                   CAST(count(*) AS BIGINT) AS inc
            FROM ev JOIN cohort USING (user_id)
            WHERE event_type = 'purchase' GROUP BY 1, 2),
    weeks AS (SELECT DISTINCT week FROM ev),
    max_w AS (SELECT max(week) AS max_week FROM weeks),
    cohorts AS (SELECT DISTINCT cohort_week AS c FROM cohort),
    grid AS (SELECT c, week - c AS age
             FROM cohorts JOIN weeks ON week >= c),
    cum AS (SELECT c, age,
                   CAST(sum(coalesce(inc, 0)) OVER (
                       PARTITION BY c ORDER BY age
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cum
            FROM (SELECT g.c, g.age, p.inc
                  FROM grid g LEFT JOIN pur p
                  ON p.cohort_week = g.c AND p.age = g.age)),
    factors AS (SELECT a.age,
                       CAST(round(ln(CAST(sum(b.cum) AS DOUBLE)
                                     / sum(a.cum)) * 1000000000)
                            AS BIGINT) AS lnf_q9
                FROM cum a JOIN cum b
                ON a.c = b.c AND b.age = a.age + 1
                GROUP BY a.age HAVING sum(a.cum) > 0),
    latest AS (SELECT c, age AS latest_age, cum AS observed_cum
               FROM cum, max_w WHERE age = max_week - c),
    proj AS (SELECT c, latest_age, observed_cum,
                    CAST(coalesce(sum(lnf_q9), 0) AS BIGINT) AS s
             FROM latest LEFT JOIN factors
             ON factors.age >= latest.latest_age
             GROUP BY 1, 2, 3)
    SELECT c AS cohort_week, latest_age, observed_cum,
           round(exp(CAST(s AS DOUBLE) / 1000000000.0), 4) + 0.0
               AS dev_factor,
           round(observed_cum
                 * exp(CAST(s AS DOUBLE) / 1000000000.0), 2) + 0.0
               AS ultimate
    FROM proj
    """,
    description="chain-ladder cohort forecast (Mack): signup-week "
                "cohorts x purchase-age triangle on a dense calendar "
                "grid of exact integer cumulative counts, "
                "volume-weighted development factors over cohorts "
                "that reached each age, ultimate = observed x "
                "exp(sum of 1e-9-quantized ln factors) — the "
                "projection complement of retention_cohorts")
def q_chain_ladder_forecast(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        chain_ladder_forecast)
    return chain_ladder_forecast(load_table(spark, sf_dir, "events"))


@_register(
    "constraint_audit",
    oracle="""
    WITH pk AS (
        SELECT * FROM (VALUES
            ('pk_region', (SELECT CAST(count(*) AS BIGINT) FROM region),
             (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM region GROUP BY r_regionkey)
              WHERE c > 1)),
            ('pk_nation', (SELECT CAST(count(*) AS BIGINT) FROM nation),
             (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM nation GROUP BY n_nationkey)
              WHERE c > 1)),
            ('pk_customer',
             (SELECT CAST(count(*) AS BIGINT) FROM customer),
             (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
              WHERE c > 1)),
            ('pk_supplier',
             (SELECT CAST(count(*) AS BIGINT) FROM supplier),
             (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM supplier GROUP BY s_suppkey)
              WHERE c > 1)),
            ('pk_part', (SELECT CAST(count(*) AS BIGINT) FROM part),
             (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM part GROUP BY p_partkey)
              WHERE c > 1)),
            ('pk_orders', (SELECT CAST(count(*) AS BIGINT) FROM orders),
             (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
              WHERE c > 1))
        ) t(constraint_name, n, violations)),
    fk AS (
        SELECT * FROM (VALUES
            ('fk_nation_region',
             (SELECT CAST(count(*) AS BIGINT) FROM nation
              WHERE n_regionkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM nation
              WHERE n_regionkey IS NOT NULL AND n_regionkey NOT IN
                    (SELECT r_regionkey FROM region))),
            ('fk_customer_nation',
             (SELECT CAST(count(*) AS BIGINT) FROM customer
              WHERE c_nationkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM customer
              WHERE c_nationkey IS NOT NULL AND c_nationkey NOT IN
                    (SELECT n_nationkey FROM nation))),
            ('fk_supplier_nation',
             (SELECT CAST(count(*) AS BIGINT) FROM supplier
              WHERE s_nationkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM supplier
              WHERE s_nationkey IS NOT NULL AND s_nationkey NOT IN
                    (SELECT n_nationkey FROM nation))),
            ('fk_orders_customer',
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_custkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
                    (SELECT c_custkey FROM customer))),
            ('fk_lineitem_orders',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
                    (SELECT o_orderkey FROM orders))),
            ('fk_lineitem_part',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_partkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_partkey IS NOT NULL AND l_partkey NOT IN
                    (SELECT p_partkey FROM part))),
            ('fk_lineitem_supplier',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_suppkey IS NOT NULL),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN
                    (SELECT s_suppkey FROM supplier)))
        ) t(constraint_name, n, violations))
    SELECT constraint_name, 'primary_key' AS kind, n, violations,
           round(violations / CAST(n AS DOUBLE), 6) + 0.0
               AS violation_rate
    FROM pk
    UNION ALL
    SELECT constraint_name, 'foreign_key' AS kind, n, violations,
           round(violations / CAST(n AS DOUBLE), 6) + 0.0
               AS violation_rate
    FROM fk
    """,
    description="PK/FK constraint audit across the star schema: "
                "duplicate-key counts per primary key and orphan "
                "counts per foreign-key edge (left-anti joins), one "
                "row per constraint with exact violation rates — the "
                "load-time gate that keeps inner joins from silently "
                "dropping rows at scale")
def q_constraint_audit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.governance import (
        constraint_audit)
    return constraint_audit(*[load_table(spark, sf_dir, t)
                              for t in ("region", "nation", "customer",
                                        "supplier", "part", "orders",
                                        "lineitem")])


@_register(
    "user_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    islands AS (
        SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
        FROM (SELECT user_id,
                     day - CAST(row_number() OVER (
                         PARTITION BY user_id ORDER BY day) AS INT)
                         AS anchor
              FROM days)
        GROUP BY 1, 2),
    per_user AS (
        SELECT user_id, max(len) AS max_streak,
               CAST(sum(len) AS BIGINT) AS n_active,
               CAST(count(*) AS BIGINT) AS n_islands
        FROM islands GROUP BY 1)
    SELECT max_streak, CAST(count(*) AS BIGINT) AS n_users,
           round(sum(n_active) / CAST(count(*) AS DOUBLE), 2) + 0.0
               AS mean_active_days,
           round(sum(n_islands) / CAST(count(*) AS DOUBLE), 2) + 0.0
               AS mean_islands
    FROM per_user GROUP BY max_streak
    """,
    description="gaps-and-islands activity streaks: longest "
                "consecutive-active-day run per user via the "
                "day-minus-row_number island anchor (one partitioned "
                "window, no self-join), folded to a calendar-bounded "
                "(max_streak, n_users) histogram with mean active "
                "days/islands")
def q_user_streaks(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        user_streaks)
    return user_streaks(load_table(spark, sf_dir, "events"))


def _weibull_km_oracle() -> str:
    """Wrap the kaplan_meier oracle verbatim as a CTE and fit the
    linearized Weibull on its published 6dp curve — one source of
    truth for the KM replay, two consumers."""
    km_sql = QUERIES["kaplan_meier"].oracle.strip()
    return f"""
    WITH km_curve AS ({km_sql}),
    pts AS (SELECT
                CAST(round(ln(CAST(t AS DOUBLE)) * 1000000) AS BIGINT)
                    AS x_q6,
                CAST(round(ln(-ln(s)) * 1000000) AS BIGINT) AS y_q6,
                CAST(round(ln(CAST(t AS DOUBLE)) * ln(-ln(s))
                           * 1000000) AS BIGINT) AS xy_q6,
                CAST(round(ln(CAST(t AS DOUBLE))
                           * ln(CAST(t AS DOUBLE)) * 1000000)
                     AS BIGINT) AS xx_q6
            FROM km_curve WHERE t > 0 AND s > 0 AND s < 1),
    fit AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(x_q6) AS BIGINT) AS sx,
                   CAST(sum(y_q6) AS BIGINT) AS sy,
                   CAST(sum(xy_q6) AS BIGINT) AS sxy,
                   CAST(sum(xx_q6) AS BIGINT) AS sxx
            FROM pts)
    SELECT n_points,
           round(CASE WHEN n_points >= 2 AND
               ((CAST(n_points AS DOUBLE) * sxy * 1e-6
                 - CAST(sx AS DOUBLE) * sy * 1e-12)
                / (CAST(n_points AS DOUBLE) * sxx * 1e-6
                   - CAST(sx AS DOUBLE) * sx * 1e-12)) > 0 THEN
               (CAST(n_points AS DOUBLE) * sxy * 1e-6
                - CAST(sx AS DOUBLE) * sy * 1e-12)
               / (CAST(n_points AS DOUBLE) * sxx * 1e-6
                  - CAST(sx AS DOUBLE) * sx * 1e-12)
           END, 4) + 0.0 AS shape_k,
           round(CASE WHEN n_points >= 2 AND
               ((CAST(n_points AS DOUBLE) * sxy * 1e-6
                 - CAST(sx AS DOUBLE) * sy * 1e-12)
                / (CAST(n_points AS DOUBLE) * sxx * 1e-6
                   - CAST(sx AS DOUBLE) * sx * 1e-12)) > 0 THEN
               exp(-((CAST(sy AS DOUBLE) * 1e-6
                      - ((CAST(n_points AS DOUBLE) * sxy * 1e-6
                          - CAST(sx AS DOUBLE) * sy * 1e-12)
                         / (CAST(n_points AS DOUBLE) * sxx * 1e-6
                            - CAST(sx AS DOUBLE) * sx * 1e-12))
                      * CAST(sx AS DOUBLE) * 1e-6) / n_points)
                   / ((CAST(n_points AS DOUBLE) * sxy * 1e-6
                       - CAST(sx AS DOUBLE) * sy * 1e-12)
                      / (CAST(n_points AS DOUBLE) * sxx * 1e-6
                         - CAST(sx AS DOUBLE) * sx * 1e-12)))
           END, 4) + 0.0 AS scale_days
    FROM fit
    """


@_register(
    "weibull_km_fit",
    oracle=_weibull_km_oracle,
    description="linearized Weibull fit on the Kaplan-Meier curve: "
                "ln(-ln S) vs ln t OLS over the published 6dp KM "
                "points (1e-6-quantized terms, order-free sums) -> "
                "shape k and scale days; k<1 = falling conversion "
                "hazard — the parametric summary of kaplan_meier; "
                "oracle wraps the KM recursive-CTE replay verbatim")
def q_weibull_km_fit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        weibull_km_fit)
    return weibull_km_fit(load_table(spark, sf_dir, "events"))


@_register(
    "isotonic_daily_fit",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events GROUP BY 1),
    day0 AS (SELECT min(day) AS d0 FROM daily),
    idx AS (SELECT day, datediff('day', d0, day) AS t, v
            FROM daily, day0),
    ivals AS (SELECT a.t AS ta, b.t AS tb
              FROM idx a JOIN idx b ON a.t <= b.t),
    isum AS (SELECT ta, tb,
                    CAST(round(CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
                               / count(*) * 1000000) AS BIGINT)
                        AS avg_q6
             FROM ivals JOIN idx
             ON idx.t >= ivals.ta AND idx.t <= ivals.tb
             GROUP BY ta, tb),
    inner_min AS (SELECT i.t AS ti, s.ta, min(s.avg_q6) AS m_q6
                  FROM isum s JOIN idx i
                  ON s.ta <= i.t AND i.t <= s.tb
                  GROUP BY i.t, s.ta),
    fit AS (SELECT ti, max(m_q6) AS fit_q6
            FROM inner_min GROUP BY ti)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           round(v / 100.0, 2) + 0.0 AS observed,
           round(fit_q6 / 1000000.0 / 100.0, 6) + 0.0 AS fitted
    FROM idx JOIN fit ON idx.t = fit.ti
    """,
    description="isotonic (monotone) L2 trend of daily revenue by "
                "the minimax identity max_{a<=i} min_{b>=i} "
                "mean(a..b) on 1e-6-quantized exact interval means — "
                "PAVA's sequential pooling recast as calendar-bounded "
                "joins (the distributed shape); monotone by "
                "construction, exact integer comparisons throughout")
def q_isotonic_daily_fit(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.events import (
        isotonic_daily_fit)
    return isotonic_daily_fit(load_table(spark, sf_dir, "events"))


def _tree_level_sql(src: str, out: str) -> str:
    """One tree level of exact scaled-integer Gini split selection in
    SQL: per-node winner from the (node, feature, val, pos) rows of
    CTE `src` — the decision_stump ranked/argmin idiom with a node
    partition, emitted twice by _tree_depth2_oracle."""
    return f"""
    {out}_hist AS (
      SELECT node, feature, val, count(*) AS cnt, sum(pos) AS p
      FROM {src} GROUP BY 1, 2, 3),
    {out}_tot AS (
      SELECT node, feature, sum(cnt) AS n, sum(p) AS pos_tot
      FROM {out}_hist GROUP BY 1, 2),
    {out}_lft AS (
      SELECT a.node, a.feature, a.val AS threshold,
             sum(b.cnt) AS n_left, sum(b.p) AS pos_left
      FROM {out}_hist a JOIN {out}_hist b
        ON b.node = a.node AND b.feature = a.feature
           AND b.val <= a.val
      GROUP BY 1, 2, 3),
    {out}_cand AS (
      SELECT l.node, l.feature, threshold, n_left, pos_left,
             t.n - n_left AS n_right, t.pos_tot - pos_left AS pos_right
      FROM {out}_lft l JOIN {out}_tot t
        ON t.node = l.node AND t.feature = l.feature
      WHERE t.n - n_left > 0 AND n_left > 0),
    {out} AS (
      SELECT node, feature, threshold, gini_scaled,
             n_left, pos_left, n_right, pos_right
      FROM (
        SELECT node, feature, threshold,
               CAST((( (CAST(n_left AS HUGEINT) * n_left
                      - CAST(pos_left AS HUGEINT) * pos_left
                      - CAST(n_left - pos_left AS HUGEINT)
                        * (n_left - pos_left)) * n_right
                    + (CAST(n_right AS HUGEINT) * n_right
                      - CAST(pos_right AS HUGEINT) * pos_right
                      - CAST(n_right - pos_right AS HUGEINT)
                        * (n_right - pos_right)) * n_left
                    ) * 1000000
                    // (CAST(n_left AS HUGEINT) * n_right))
               AS BIGINT) AS gini_scaled,
               CAST(n_left AS BIGINT) AS n_left,
               CAST(pos_left AS BIGINT) AS pos_left,
               CAST(n_right AS BIGINT) AS n_right,
               CAST(pos_right AS BIGINT) AS pos_right
        FROM {out}_cand)
      QUALIFY row_number() OVER (
          PARTITION BY node
          ORDER BY gini_scaled, feature, threshold) = 1)"""


def _tree_depth2_oracle() -> str:
    return f"""
    WITH rows_f AS (
      SELECT CAST(l_quantity AS DOUBLE) AS quantity,
             l_discount AS discount,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    v1 AS (
      SELECT 'root' AS node, 'quantity' AS feature, quantity AS val,
             pos FROM rows_f
      UNION ALL
      SELECT 'root', 'discount', discount, pos FROM rows_f),
    {_tree_level_sql('v1', 'lvl1').lstrip()},
    v2 AS (
      SELECT CASE WHEN (r.feature = 'quantity'
                        AND f.quantity <= r.threshold)
                       OR (r.feature = 'discount'
                           AND f.discount <= r.threshold)
                  THEN 'left' ELSE 'right' END AS node,
             'quantity' AS feature, f.quantity AS val, f.pos
      FROM rows_f f, lvl1 r
      UNION ALL
      SELECT CASE WHEN (r.feature = 'quantity'
                        AND f.quantity <= r.threshold)
                       OR (r.feature = 'discount'
                           AND f.discount <= r.threshold)
                  THEN 'left' ELSE 'right' END,
             'discount', f.discount, f.pos
      FROM rows_f f, lvl1 r),
    {_tree_level_sql('v2', 'lvl2').lstrip()}
    SELECT node, feature, threshold, gini_scaled,
           n_left, pos_left, n_right, pos_right,
           CASE WHEN 2 * pos_left >= n_left THEN 'R'
                ELSE 'not_R' END AS predict_left,
           CASE WHEN 2 * pos_right >= n_right THEN 'R'
                ELSE 'not_R' END AS predict_right
    FROM (SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2)
    """


@_register(
    "decision_tree_depth2",
    oracle=_tree_depth2_oracle,
    description="depth-2 CART tree predicting l_returnflag='R' from "
                "(quantity, discount): decision_stump's exact "
                "scaled-integer Gini argmin grown one level — the "
                "root winner conditions the child histograms as a "
                "broadcast 1-row frame (no driver loop), one row per "
                "splittable node with side histograms and leaf "
                "majorities; pure/single-valued children honestly "
                "emit no row")
def q_decision_tree_depth2(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.ml import (
        decision_tree_depth2)
    return decision_tree_depth2(load_table(spark, sf_dir, "lineitem"))


@_register(
    "source_scorecard",
    oracle=f"""
    WITH base AS (
        SELECT source, lang, text AS t, md5(text) AS h
        FROM documents),
    dup_groups AS (SELECT h, CAST(count(*) AS BIGINT) AS g
                   FROM base GROUP BY 1),
    per_doc AS (
        SELECT source, lang,
               CAST(length(t) AS BIGINT) AS chars,
               CAST(len(regexp_extract_all(lower(t), '{_WORD_RE_SQL}',
                                           0)) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN g > 1 THEN 1 ELSE 0 END AS BIGINT)
                   AS is_dup
        FROM base JOIN dup_groups USING (h)),
    agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(chars) AS BIGINT) AS sum_chars,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(sum(is_dup) AS BIGINT) AS n_dup
            FROM per_doc GROUP BY 1),
    lang_counts AS (SELECT source, lang,
                           CAST(count(*) AS BIGINT) AS c
                    FROM per_doc GROUP BY 1, 2),
    top_lang AS (SELECT source, lang AS majority_lang, c AS lang_c
                 FROM (SELECT source, lang, c,
                              row_number() OVER (
                                  PARTITION BY source
                                  ORDER BY c DESC, lang ASC) AS rn
                       FROM lang_counts)
                 WHERE rn = 1)
    SELECT a.source, a.n_docs,
           round(n_dup / CAST(n_docs AS DOUBLE), 6) + 0.0 AS dup_rate,
           round(sum_chars / CAST(n_docs AS DOUBLE), 2) + 0.0
               AS mean_chars,
           round(sum_tokens / CAST(n_docs AS DOUBLE), 2) + 0.0
               AS mean_tokens,
           majority_lang,
           round(lang_c / CAST(n_docs AS DOUBLE), 4) + 0.0
               AS majority_lang_share
    FROM agg a JOIN top_lang USING (source)
    """,
    description="per-source corpus scorecard: volume, exact "
                "corpus-wide md5 duplication rate, mean chars/tokens "
                "(shared tokenizer), majority language + share — the "
                "one-frame summary a curation review starts from, "
                "each column backed by a dedicated drill-down "
                "operator")
def q_source_scorecard(spark, sf_dir):
    from cloud_native_mapreduce_spark.operators.curation import (
        source_scorecard)
    return source_scorecard(load_table(spark, sf_dir, "documents"))
