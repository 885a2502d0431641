"""2-D spatial proximity join via grid-cell blocking.

North-star scope: the reference has no geospatial surface, but
"find all pairs within distance r" is the canonical scale trap — the
naive form is an O(n²) cartesian that no cluster survives at 100 TB.
The standard fix (the same blocking idea PostGIS/Sedona/ST_DWithin
partitioned joins use) is to hash points into grid cells of side r:
any pair within Chebyshev distance r lies in the same or an adjacent
cell, so the candidate set is a keyed equi-join of each point against
its 3×3 cell neighborhood — shuffle-partitionable, broadcast-free,
and exact after a cheap residual distance filter. The oracle is the
NAIVE pairwise form (fine at oracle scale), which proves the blocked
plan finds exactly the same pairs — completeness, not just
plausibility.

Coordinates are exact integer transforms of customer attributes
(acctbal cents and custkey mod GRID) so every distance is integer
arithmetic and the value oracle is exact. Cell side = radius is the
textbook choice (9 candidate cells); at much higher point density
you shrink cells relative to r (more, smaller cells trade candidate
count against fan-out) — the blocking SHAPE is the scale story, the
resolution is a tunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Grid extent per axis (coordinates are taken mod GRID).
GRID = 256
#: Chebyshev radius — also the blocking cell side.
RADIUS = 4


def spatial_grid_join(customer: DataFrame,
                      grid: int = GRID,
                      radius: int = RADIUS) -> DataFrame:
    """All unordered customer pairs within Chebyshev distance
    `radius` on the (acctbal-cents mod grid, custkey mod grid)
    plane, profiled as pair counts per exact distance — the
    blocked spatial self-join.

    Plan shape: points get a (x//radius, y//radius) cell; the probe
    side fans out over the 9 neighbor-cell offsets via a BROADCAST
    9-row frame (not explode(array(...)), which Catalyst rewrites
    into an input-rescanning union) and equi-joins the build side on
    the shifted cell key — a plain shuffled hash/SMJ on cell ids, no
    cartesian anywhere (pytest pins the plan). A pair at distance
    ≤ radius differs by ≤ 1 in each cell coordinate, so exactly one
    offset row matches it: counted once under the k_a < k_b cut,
    no dedup pass needed."""
    def pts(df):
        x = F.pmod(F.round(F.col("c_acctbal") * 100).cast("bigint"),
                   F.lit(grid)).cast("int")
        y = F.pmod(F.col("c_custkey"), F.lit(grid)).cast("int")
        return df.select(F.col("c_custkey").alias("k"),
                         x.alias("x"), y.alias("y"))

    spark = customer.sparkSession
    a = (pts(customer)
         .withColumn("cx", (F.col("x") / radius).cast("int"))
         .withColumn("cy", (F.col("y") / radius).cast("int")))
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("int").alias("dx"),
        (F.col("id") / 3).cast("int").alias("dy")).select(
            "dx", (F.col("dy") - 1).alias("dy"))
    b = a.select(F.col("k").alias("bk"), F.col("x").alias("bx"),
                 F.col("y").alias("by"), F.col("cx").alias("bcx"),
                 F.col("cy").alias("bcy"))
    cand = (a.crossJoin(F.broadcast(offs))
            .join(b, (F.col("bcx") == F.col("cx") + F.col("dx"))
                  & (F.col("bcy") == F.col("cy") + F.col("dy"))))
    cheb = F.greatest(F.abs(F.col("bx") - F.col("x")),
                      F.abs(F.col("by") - F.col("y")))
    pairs = cand.where((F.col("k") < F.col("bk"))
                       & (cheb <= radius))
    return (pairs.select(cheb.cast("int").alias("cheb_d"))
            .groupBy("cheb_d")
            .agg(F.count("*").cast("bigint").alias("n_pairs"))
            .orderBy("cheb_d"))


#: Geofence polygon on the same 256x256 plane `spatial_grid_join`
#: uses: 7 integer vertices, deliberately NON-convex (the (96,160)
#: notch) with horizontal, vertical and diagonal edges, and long
#: lattice-aligned edges (y=128, x=32, y=32) so the boundary class
#: is genuinely populated by real points.
GEOFENCE = [(32, 32), (224, 32), (224, 128), (128, 128),
            (128, 224), (96, 160), (32, 224)]


def point_in_polygon_sql(px: str, py: str,
                         poly: list = None) -> str:
    """Ray-casting point-in-polygon classification as ONE SQL-syntax
    CASE expression over integer coordinates — pure integer
    arithmetic (the crossing test compares cross-products instead of
    dividing for the intersection x, so there is no float anywhere),
    parsed verbatim by BOTH Spark (`F.expr`) and DuckDB: the shared-
    expression-text portability trick (`ols3_exprs`), here applied
    to computational geometry. Half-open vertex rule (y1 <= py < y2)
    counts a vertex-touching ray exactly once; exact on-edge points
    (cross-product 0 inside the edge bbox) classify as 'boundary'
    BEFORE the parity test, so the three classes partition the
    plane deterministically."""
    poly = poly or GEOFENCE
    crossings, on_edges = [], []
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        if y1 != y2:
            cond_y = (f"(({y1} <= {py} AND {py} < {y2}) OR "
                      f"({y2} <= {py} AND {py} < {y1}))")
            u = (f"(({x1} - {px}) * ({y2 - y1}) "
                 f"+ ({x2 - x1}) * ({py} - {y1}))")
            dirn = f"{u} > 0" if y2 > y1 else f"{u} < 0"
            crossings.append(
                f"CASE WHEN {cond_y} AND {dirn} THEN 1 ELSE 0 END")
        t = (f"(({x2 - x1}) * ({py} - {y1}) "
             f"- ({px} - {x1}) * ({y2 - y1}))")
        bbox = (f"{min(x1, x2)} <= {px} AND {px} <= {max(x1, x2)} "
                f"AND {min(y1, y2)} <= {py} AND {py} <= {max(y1, y2)}")
        on_edges.append(f"({t} = 0 AND {bbox})")
    inside = "(" + " + ".join(crossings) + ") % 2 = 1"
    boundary = " OR ".join(on_edges)
    return (f"CASE WHEN {boundary} THEN 'boundary' "
            f"WHEN {inside} THEN 'inside' ELSE 'outside' END")


def point_in_polygon(customer: DataFrame,
                     grid: int = GRID) -> DataFrame:
    """Geofence classification of customer points against the fixed
    non-convex GEOFENCE polygon: per region (inside / outside /
    boundary) the exact point count and acctbal-cents total — the
    point-classification half of the geospatial family
    (`spatial_grid_join` is the proximity-join half; both live on
    the same integer plane). Scale shape: the classifier is one
    branch-free-ish integer CASE expression inside whole-stage
    codegen over a single scan — no join, no UDF; a real geofencing
    pass over 100 TB is exactly this map."""
    x = F.pmod(F.round(F.col("c_acctbal") * 100).cast("bigint"),
               F.lit(grid)).cast("int")
    y = F.pmod(F.col("c_custkey"), F.lit(grid)).cast("int")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    pts = customer.select(x.alias("x"), y.alias("y"),
                          cents.alias("c"))
    klass = F.expr(point_in_polygon_sql("x", "y"))
    return (pts.select(klass.alias("region"), "c")
            .groupBy("region")
            .agg(F.count("*").cast("bigint").alias("n_points"),
                 F.sum("c").cast("bigint").alias("sum_cents"))
            .orderBy("region"))


#: DBSCAN parameters for the registered query: Chebyshev radius and
#: the minimum neighborhood size (INCLUDING the point itself) that
#: makes a point core (Ester et al., KDD'96 convention).
DBSCAN_EPS = 16
DBSCAN_MIN_PTS = 8


def dbscan_grid(customer: DataFrame,
                eps: int = DBSCAN_EPS,
                min_pts: int = DBSCAN_MIN_PTS,
                grid: int = GRID) -> DataFrame:
    """Grid-accelerated DBSCAN (Ester et al., KDD'96) on the
    (acctbal-cents mod 256, custkey mod 256) integer plane — the
    density-based clustering that, unlike `kmeans_clusters`, needs
    no k, finds arbitrary-shape clusters, and labels sparse points
    NOISE instead of forcing them into a centroid.

    Exact semantics, made deterministic where the textbook algorithm
    is scan-order-dependent: core points (≥ min_pts neighbors within
    Chebyshev eps, counting self) are exact; clusters are the
    connected components of the core-core eps-graph labelled by MIN
    CORE ID; border points join the MINIMUM cluster label among
    their adjacent cores (the textbook assigns whichever core claims
    the border first — order-dependent — so the min rule is pinned
    here and mirrored in the oracle); everything else is noise
    (cluster −1).

    Scale (learned at the sf1 soak, where the first cut OOMed):
    candidate pairs come from the cell = eps blocking join (3×3
    broadcast offset fan-out, never a cartesian), and every consumer
    STREAMS them into an aggregate — the pair frame is never
    checkpointed or reused as a materialized dataset. The components
    step runs on the CELL-REDUCED core graph, which is EXACTLY
    equivalent to the point-level core graph: all cores in one cell
    are pairwise within eps (cell side = eps, max same-cell Chebyshev
    diff = eps−1), so a star to the cell's min core preserves
    same-cell connectivity, and each qualifying cross-cell core pair
    collapses (distinct) to one (min-core, min-core) edge — the
    label-propagation loop sees O(#cells) edges instead of
    Σ density² pairs. Candidate volume itself is Θ(N · points-per-
    eps-ball) — linear at real spatial density, quadratic only when
    a fixed plane is artificially saturated (documented; the demo
    plane is fixed, production derives cells from real coordinates).

    Output: (custkey, role core/border/noise, cluster; −1 = noise)."""
    spark = customer.sparkSession
    x = F.pmod(F.round(F.col("c_acctbal") * 100).cast("bigint"),
               F.lit(grid)).cast("int")
    y = F.pmod(F.col("c_custkey"), F.lit(grid)).cast("int")
    pts = (customer.select(F.col("c_custkey").alias("k"),
                           x.alias("x"), y.alias("y"))
           .withColumn("cx", (F.col("x") / eps).cast("int"))
           .withColumn("cy", (F.col("y") / eps).cast("int"))
           .localCheckpoint(eager=False))
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("int").alias("dx"),
        ((F.col("id") / 3).cast("int") - 1).alias("dy"))
    b = pts.select(F.col("k").alias("bk"), F.col("x").alias("bx"),
                   F.col("y").alias("by"), F.col("cx").alias("bcx"),
                   F.col("cy").alias("bcy"))
    cheb = F.greatest(F.abs(F.col("bx") - F.col("x")),
                      F.abs(F.col("by") - F.col("y")))

    def neighbor_pairs():
        """Directed qualifying pairs (k, cell, bk, bcell) — built
        fresh per consumer so the frame only ever streams."""
        return (pts.crossJoin(F.broadcast(offs))
                .join(b, (F.col("bcx") == F.col("cx") + F.col("dx"))
                      & (F.col("bcy") == F.col("cy") + F.col("dy")))
                .where((F.col("k") != F.col("bk")) & (cheb <= eps))
                .select("k", "cx", "cy", "bk", "bcx", "bcy"))

    ncnt = neighbor_pairs().groupBy("k").agg(
        F.count(F.lit(1)).alias("n_nb"))
    flags = (pts.select("k", "cx", "cy")
             .join(ncnt, "k", "left")
             .select("k", "cx", "cy",
                     ((F.coalesce(F.col("n_nb"), F.lit(0)) + 1)
                      >= min_pts).alias("is_core"))
             .localCheckpoint(eager=False))
    cores = flags.where("is_core").select("k", "cx", "cy")
    cellmin = (cores.groupBy("cx", "cy")
               .agg(F.min("k").alias("mk"))
               .localCheckpoint(eager=False))
    star = (cores.join(cellmin, ["cx", "cy"])
            .where(F.col("k") != F.col("mk"))
            .select(F.col("mk").alias("doc_a"),
                    F.col("k").alias("doc_b")))
    core_set = cores.select("k")
    cross = (neighbor_pairs()
             .join(core_set, "k")
             .join(core_set.select(F.col("k").alias("bk")), "bk")
             .where((F.col("cx") != F.col("bcx"))
                    | (F.col("cy") != F.col("bcy")))
             .join(cellmin, ["cx", "cy"])
             .join(cellmin.select(F.col("cx").alias("bcx"),
                                  F.col("cy").alias("bcy"),
                                  F.col("mk").alias("bmk")),
                   ["bcx", "bcy"])
             .select(F.col("mk").alias("doc_a"),
                     F.col("bmk").alias("doc_b"))
             .where(F.col("doc_a") != F.col("doc_b"))
             .distinct())
    from cloud_native_mapreduce_spark.dedup.components import (
        connected_components)
    # pointer_jumping: the cell graph is a large-hop-diameter
    # spatial blob (labels walk the plane cell by cell), the exact
    # shape the components doc reserves the shortcut step for.
    comp = connected_components(
        cores.select(F.col("k").alias("doc_id")),
        star.unionByName(cross), pointer_jumping=True)
    comp = comp.select(F.col("doc_id").alias("k"),
                       F.col("comp").alias("cluster"))
    border = (neighbor_pairs().select("k", "bk")
              .join(flags.where(~F.col("is_core")).select("k"), "k")
              .join(comp.select(F.col("k").alias("bk"),
                                F.col("cluster")), "bk")
              .groupBy("k")
              .agg(F.min("cluster").alias("cluster"))
              .select("k", F.lit("border").alias("role"), "cluster"))
    core_out = comp.select("k", F.lit("core").alias("role"), "cluster")
    labelled = core_out.unionByName(border)
    noise = (pts.select("k")
             .join(labelled.select("k"), "k", "left_anti")
             .select("k", F.lit("noise").alias("role"),
                     F.lit(-1).cast("bigint").alias("cluster")))
    return (labelled.withColumn(
        "cluster", F.col("cluster").cast("bigint"))
        .unionByName(noise)
        .select(F.col("k").cast("bigint").alias("custkey"),
                "role", "cluster"))


#: Number of probe directions for the approximate hull (BFP-style
#: support sampling). Constant fan-out: the scan is |points|×K.
HULL_DIRECTIONS = 16


def directional_hull(customer: DataFrame, grid: int = GRID,
                     n_dirs: int = HULL_DIRECTIONS) -> DataFrame:
    """Approximate convex hull per nation by directional extremes
    (Bentley, Faust & Preparata 1982): the support point argmax_p
    ⟨p, u_d⟩ for K equally spaced directions u_d — the K-gon inner
    approximation whose Hausdorff error is O(diam/K²). The exact
    hull is inherently sequential (monotone chain); support sampling
    is ONE aggregate per direction and is how hulls are done at
    scale. Same (acctbal-cents mod grid, custkey mod grid) plane as
    `spatial_grid_join`.

    Exactness: direction vectors are 1e-6-quantized integer pairs
    (both engines round the identical cos/sin double), so the dot
    product x·cq + y·sq is an exact BIGINT and the per-(nation,
    direction) argmax is exact integer comparison, ties broken by
    custkey — deterministic without comparing doubles. The support
    value reports the exact integer dot scaled back, 2dp.

    Scale: |customers|×K rows through one partitioned window — no
    self-join, no global sort; output is |nations|×K."""
    x = F.pmod(F.round(F.col("c_acctbal") * 100).cast("bigint"),
               F.lit(grid)).cast("int")
    y = F.pmod(F.col("c_custkey"), F.lit(grid)).cast("int")
    pts = customer.select(F.col("c_nationkey").alias("nation"),
                          F.col("c_custkey").alias("k"),
                          x.alias("x"), y.alias("y"))
    dirs = customer.sparkSession.createDataFrame(
        [(d,) for d in range(n_dirs)], "d int")
    arg = f"2 * pi() * d / {n_dirs}"
    dv = dirs.select(
        "d",
        F.expr(f"CAST(round(cos({arg}) * 1000000) AS BIGINT)")
        .alias("cq"),
        F.expr(f"CAST(round(sin({arg}) * 1000000) AS BIGINT)")
        .alias("sq"))
    dot = (pts.crossJoin(F.broadcast(dv))
           .select("nation", "d", "k", "x", "y",
                   F.expr("x * cq + y * sq").alias("dot")))
    w = Window.partitionBy("nation", "d").orderBy(
        F.col("dot").desc(), F.col("k").asc())
    return (dot.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("nation", F.col("d").alias("direction"),
                    F.col("k").alias("c_custkey"), "x", "y",
                    (F.round(F.col("dot") / 1000000.0, 2)
                     + F.lit(0.0)).alias("support")))
