"""Data-governance audits: k-anonymity risk and the generalization
ladder (Sweeney 2002; Samarati's generalization model) — the
re-identification checks a privacy review runs before a table ships.

A record is k-anonymous when at least k records share its
quasi-identifier (QI) combination; groups below k are re-identification
risks. The QI here is (nation, market segment, account-balance bucket)
on the customer table — the classic "demographics + coarse numeric"
shape. ``k_anonymity_audit`` reports the risk at several k thresholds;
``generalization_ladder`` shows how coarsening the balance bucket (the
generalization operation an anonymizer would apply) trades resolution
for safety.

Exactness: balance buckets are integer arithmetic on cents with a
+10^7 shift so the floor division is over positives (Spark's ``div``
truncates toward zero while DuckDB's ``//`` floors — they agree only
for non-negative operands; balances go to -$999.85). Risk percentages
are one rounded division of exact counts.

At 100 TB: each audit is one groupBy on the QI (map-side combined)
plus a tiny threshold frame crossJoined broadcast — nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.session import cut

#: Cent shift making every balance positive before bucketing
#: (|min| = $999.85 << $100,000).
BAL_SHIFT_CENTS = 10_000_000
#: k thresholds the audit reports.
K_LEVELS = (2, 5, 10)
#: Bucket widths (cents) for the generalization ladder.
LADDER = (50_000, 100_000, 200_000, 500_000)


def _qi(bucket_cents: int):
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    bucket = F.expr(
        f"div(CAST(round(c_acctbal * 100) AS BIGINT) + {BAL_SHIFT_CENTS},"
        f" {bucket_cents})")
    return [F.col("c_nationkey").cast("int").alias("nation"),
            F.col("c_mktsegment").alias("seg"),
            bucket.cast("bigint").alias("bal_bucket")]


def k_anonymity_audit(customer: DataFrame,
                      bucket_cents: int = 50_000) -> DataFrame:
    """(k, n_groups, n_violating_groups, n_at_risk_records, risk_pct)
    for each k in K_LEVELS under the (nation, seg, $500-bucket) QI."""
    groups = (customer.groupBy(*_qi(bucket_cents))
              .agg(F.count("*").cast("bigint").alias("sz")))
    spark = customer.sparkSession
    ks = spark.createDataFrame([(k,) for k in K_LEVELS], "k int")
    per_k = (groups.crossJoin(F.broadcast(ks))
             .groupBy("k")
             .agg(F.count("*").cast("bigint").alias("n_groups"),
                  F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
                  .cast("bigint").alias("n_violating_groups"),
                  F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz"))
                        .otherwise(0)).cast("bigint")
                  .alias("n_at_risk_records"),
                  F.sum("sz").cast("bigint").alias("n_records")))
    return per_k.select(
        F.col("k").cast("bigint").alias("k"),
        "n_groups", "n_violating_groups", "n_at_risk_records",
        (F.round(F.col("n_at_risk_records") * 100.0 / F.col("n_records"),
                 4) + F.lit(0.0)).alias("risk_pct"))


def generalization_ladder(customer: DataFrame, k: int = 5) -> DataFrame:
    """(bucket_cents, n_groups, min_group_size, n_at_risk_records):
    the same audit at each rung of the balance-bucket generalization
    ladder — the resolution/safety trade an anonymizer walks."""
    spark = customer.sparkSession
    out = None
    for width in LADDER:
        groups = (customer.groupBy(*_qi(width))
                  .agg(F.count("*").cast("bigint").alias("sz")))
        row = groups.agg(
            F.lit(width).cast("bigint").alias("bucket_cents"),
            F.count("*").cast("bigint").alias("n_groups"),
            F.min("sz").alias("min_group_size"),
            F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
            .cast("bigint").alias("n_at_risk_records"))
        out = row if out is None else out.unionByName(row)
    return out


#: l thresholds the diversity audit reports.
L_LEVELS = (2, 3)
#: Recursive (c,l)-diversity constant: r1 < c · (r_l + … + r_m).
RECURSIVE_C = 3


def l_diversity_audit(customer: DataFrame,
                      bucket_cents: int = 50_000) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006 — the
    attribute-disclosure check k-anonymity misses: a group can be
    k-anonymous yet reveal everyone's sensitive value if the group is
    homogeneous). QI = (nation, $500 balance bucket); sensitive
    attribute = market segment. Per l in L_LEVELS reports groups
    failing DISTINCT l-diversity (fewer than l distinct sensitive
    values), their at-risk records, and groups failing RECURSIVE
    (c,l)-diversity (r1 ≥ c·(r_l+…+r_m) over the group's descending
    sensitive-value frequencies — the stronger "most common value
    doesn't dominate the tail" test, c = 3).

    Both tests are EXACT INTEGER comparisons over per-group frequency
    ranks — no entropy float sums (entropy-l needs a group-ordered ln
    sum whose cross-engine determinism costs more than the recursive
    variant's strictly stronger guarantee is worth).

    Shape: one QI+sensitive groupBy (map-side combined), a group-
    partitioned rank window over the |groups × segments| frame, a
    broadcast |L_LEVELS|-row fan-out, one summary aggregate."""
    qi = [F.col("c_nationkey").cast("int").alias("nation"),
          F.expr(f"div(CAST(round(c_acctbal * 100) AS BIGINT) "
                 f"+ {BAL_SHIFT_CENTS}, {bucket_cents})")
          .cast("bigint").alias("bal_bucket")]
    sens = (customer.groupBy(*qi, F.col("c_mktsegment").alias("seg"))
            .agg(F.count("*").alias("c")))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("nation", "bal_bucket")
         .orderBy(F.col("c").desc(), F.col("seg")))
    ranked = sens.withColumn("rn", F.row_number().over(w))
    spark = customer.sparkSession
    ls = spark.createDataFrame([(l,) for l in L_LEVELS], "l int")
    per_group = (ranked.crossJoin(F.broadcast(ls))
                 .groupBy("nation", "bal_bucket", "l")
                 .agg(F.sum("c").alias("sz"),
                      F.count(F.lit(1)).alias("n_distinct"),
                      F.max(F.when(F.col("rn") == 1, F.col("c"))
                            .otherwise(0)).alias("r1"),
                      F.sum(F.when(F.col("rn") >= F.col("l"),
                                   F.col("c")).otherwise(0))
                      .alias("tail_l")))
    viol_d = F.col("n_distinct") < F.col("l")
    viol_r = F.col("r1") >= RECURSIVE_C * F.col("tail_l")
    return (per_group.groupBy("l")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                 F.sum(viol_d.cast("int")).cast("bigint")
                 .alias("n_distinct_violating"),
                 F.sum(F.when(viol_d, F.col("sz")).otherwise(0))
                 .cast("bigint").alias("n_at_risk_records"),
                 F.sum(viol_r.cast("int")).cast("bigint")
                 .alias("n_recursive_violating"))
            .select(F.col("l").cast("bigint").alias("l"),
                    "n_groups", "n_distinct_violating",
                    "n_at_risk_records", "n_recursive_violating"))


#: Deterministic erasure batch: every 97th customer key.
ERASURE_MOD = 97


def erasure_cascade_audit(customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame,
                          events: DataFrame) -> DataFrame:
    """Right-to-erasure blast-radius audit (the GDPR/CCPA dry run a
    privacy team requires BEFORE a delete batch ships): for a
    deterministic erasure batch (c_custkey % 97 = 0), how many rows
    each downstream table loses through the foreign-key cascade —
    customer → orders → lineitem, plus the event stream keyed by
    user id. Reports per-table affected rows and the affected share.

    Plan shape is the cascade itself: the batch key set flows through
    KEYED SEMI-JOINS (customer keys into orders, the affected order
    keys into lineitem — never a broadcast of anything data-sized on
    the probe side, never a rescan of the fact table per level), and
    each level is one count aggregate crossJoined with its broadcast
    1-row table total. Output is 4 rows."""
    batch = (customer.where(F.col("c_custkey") % ERASURE_MOD == 0)
             .select("c_custkey"))
    ords = cut(orders.join(batch, orders.o_custkey == batch.c_custkey,
                           "left_semi")
               .select("o_orderkey"))
    li = lineitem.join(ords, lineitem.l_orderkey == ords.o_orderkey,
                       "left_semi")
    ev = events.join(batch, events.user_id == batch.c_custkey,
                     "left_semi")

    def level(name: str, affected: DataFrame, total: DataFrame):
        n = affected.agg(F.count(F.lit(1)).cast("bigint")
                         .alias("n_affected"))
        t = total.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
        return (n.crossJoin(F.broadcast(t))
                .select(F.lit(name).alias("table_name"), "n_affected",
                        "n_total",
                        (F.round(F.col("n_affected") * 100.0
                                 / F.col("n_total"), 4) + F.lit(0.0))
                        .alias("affected_pct")))

    return (level("customer", batch, customer)
            .unionByName(level("orders", ords, orders))
            .unionByName(level("lineitem", li, lineitem))
            .unionByName(level("events", ev, events)))


def constraint_audit(region: DataFrame, nation: DataFrame,
                     customer: DataFrame, supplier: DataFrame,
                     part: DataFrame, orders: DataFrame,
                     lineitem: DataFrame) -> DataFrame:
    """Primary-key and foreign-key constraint audit across the star
    schema — the load-time data-quality gate every warehouse runs
    before trusting a join (and the check whose absence turns an
    inner join into silent row loss at 100 TB): per constraint, the
    row count, the violation count (duplicate keys for PKs, orphan
    references for FKs), and the violation rate.

    PKs audited: each table's declared key. FKs audited: every edge
    of the schema graph (nation→region, customer→nation,
    supplier→nation, orders→customer, lineitem→orders,
    lineitem→part, lineitem(partkey,suppkey) pairs are covered by
    the single-column edges here — composite partsupp is not in the
    test corpus).

    Exactness: counts are exact integers; orphans via LEFT ANTI join
    (never EXCEPT, which would dedup), duplicates via groupBy-
    count>1 sums. Output is one row per constraint — constant-size.

    Scale: each FK check is one shuffle (anti join on the key, with
    the small dimension side broadcast by AQE); each PK check is one
    aggregate. No data-sized output, no window."""
    checks = []

    def pk(name, df, key):
        dup = (df.groupBy(key).agg(F.count("*").alias("c"))
               .where(F.col("c") > 1)
               .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
                    .cast("bigint").alias("violations")))
        n = df.agg(F.count("*").cast("bigint").alias("n"))
        checks.append(
            n.crossJoin(F.broadcast(dup)).select(
                F.lit(name).alias("constraint_name"),
                F.lit("primary_key").alias("kind"),
                "n", "violations"))

    def fk(name, child, ckey, parent, pkey):
        orphans = (child.select(F.col(ckey).alias("k"))
                   .where(F.col("k").isNotNull())
                   .join(parent.select(F.col(pkey).alias("k"))
                         .distinct(), "k", "left_anti")
                   .agg(F.count("*").cast("bigint").alias("violations")))
        n = child.agg(F.count("*").cast("bigint").alias("n"))
        checks.append(
            n.crossJoin(F.broadcast(orphans)).select(
                F.lit(name).alias("constraint_name"),
                F.lit("foreign_key").alias("kind"),
                "n", "violations"))

    pk("pk_region", region, "r_regionkey")
    pk("pk_nation", nation, "n_nationkey")
    pk("pk_customer", customer, "c_custkey")
    pk("pk_supplier", supplier, "s_suppkey")
    pk("pk_part", part, "p_partkey")
    pk("pk_orders", orders, "o_orderkey")
    fk("fk_nation_region", nation, "n_regionkey", region,
       "r_regionkey")
    fk("fk_customer_nation", customer, "c_nationkey", nation,
       "n_nationkey")
    fk("fk_supplier_nation", supplier, "s_nationkey", nation,
       "n_nationkey")
    fk("fk_orders_customer", orders, "o_custkey", customer,
       "c_custkey")
    fk("fk_lineitem_orders", lineitem, "l_orderkey", orders,
       "o_orderkey")
    fk("fk_lineitem_part", lineitem, "l_partkey", part, "p_partkey")
    fk("fk_lineitem_supplier", lineitem, "l_suppkey", supplier,
       "s_suppkey")
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "constraint_name", "kind", "n", "violations",
        (F.round(F.col("violations") / F.col("n").cast("double"), 6)
         + F.lit(0.0)).alias("violation_rate"))
