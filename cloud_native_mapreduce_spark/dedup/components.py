"""Connected components over a near-duplicate pair graph.

The missing piece of a real dedup pipeline: pair finders (minhash /
simhash / n-gram Jaccard) emit EDGES, but the unit of deduplication is
the duplicate CLUSTER — near-duplication is not transitive, so doc A↔B
and B↔C must collapse into one {A,B,C} group with one canonical survivor.
The reference framework has no iterative operator at all (SURVEY.md §2);
this is north-star scope.

Algorithm: distributed min-label propagation. Every node starts labeled
with itself; each round every node takes the min label among itself and
its neighbors; converged when no label changes. Rounds = graph diameter.
Near-dup graphs are unions of small dense cliques (diameter 2-3), so this
terminates in a handful of rounds. At 100 TB scale the same loop holds
because every round is pure join+groupBy (both sides partitioned by the
shuffle on node id); for adversarially long path-shaped graphs, swap in
alternating large-star/small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) which converges in O(log n) rounds
with the same per-round primitives.

Scale notes baked in:
  * per-round `localCheckpoint(eager=True)` truncates lineage — without
    it round k replays rounds 1..k-1 and the DAG grows quadratically;
  * convergence is detected from a SCALAR aggregate (sum of labels,
    strictly decreasing while any label changes — labels only ever
    decrease), so the driver never collects label data;
  * edges are symmetrized once and cached by the caller if reused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(nodes: DataFrame, edges: DataFrame,
                         node_col: str = "doc_id",
                         src_col: str = "doc_a", dst_col: str = "doc_b",
                         max_iter: int = 50,
                         pointer_jumping: bool = False,
                         edges_canonical: bool = False,
                         hint_labels: bool = False) -> DataFrame:
    """Return (node_col, component) where component = min node id reachable.

    `nodes`: one row per node (singletons allowed — they keep their own
    id as component). `edges`: undirected pairs, any orientation.

    ``pointer_jumping=True`` adds one label-shortcut step per round
    (L(u) ← L(L(u)), a self-join on the label table): shortcut
    distance doubles each round, so convergence is O(log diameter)
    instead of O(diameter) — the same guarantee class as
    large-star/small-star (Kiveris et al., SoCC'14) with one extra
    join per round. Near-dup graphs are unions of small dense cliques
    (diameter 2-3) where the extra join is pure overhead, so the
    default is OFF; turn it on for adversarially path-shaped graphs
    (`test_properties.py` pins a 2000-node path converging in ~11
    rounds that plain propagation cannot finish in max_iter=50).

    Safety: both steps only ever DECREASE a node's label, and only to
    the label of a node in the same component (neighbor labels by
    edge-connectivity; L(L(u)) because L(u) is itself in u's
    component), so the scalar-sum convergence test and the fixed point
    L = component-min are unchanged.

    ``hint_labels`` puts a ``shuffle_hash`` hint on the |V|-row label
    side of each round's edge join. Pass True for large graphs such as
    the co-purchase graph: the planner's default sort-merge re-sorts
    the 2m-row edge frame every round, and hash-building the label
    slice is the same memory class as the loop's own min-aggregate
    (~25-30% off each round at sf0.1; hub_removal 8.5/8.7 s with the
    hint vs 11.0/12.0 without). Leave it False for tiny graphs such as
    near-dup pair graphs: the hint suppresses AQE's broadcast of the
    label side, which is faster there (dedup_components alternating
    A/B: hint 3.2/3.3/4.8 s vs no hint 2.6/2.8/4.0).
    """
    # Materialize the symmetrized edge list ONCE: every round joins it,
    # and without the checkpoint each round would re-execute the whole
    # upstream pair-finding job (shingle/hash/join) — the loop would cost
    # rounds × pair-mining instead of rounds × (join+agg).
    # ``edges_canonical=True`` (round-14 optimization): a caller that
    # already holds DISTINCT canonical (a < b) pairs may skip the
    # distinct — the two directed legs of the union can never collide,
    # so dedup would be a full extra shuffle of 2m rows for nothing
    # (measured ~1.3 s per run on the sf0.1 co-purchase graph; labels
    # are min-aggregated each round, so even a duplicate edge could
    # only repeat a message, never change a label — the flag is a
    # pure plan-cost contract, not a correctness toggle).
    sym = (edges.select(F.col(src_col).alias("src"),
                        F.col(dst_col).alias("dst"))
           .union(edges.select(F.col(dst_col).alias("src"),
                               F.col(src_col).alias("dst"))))
    if not edges_canonical:
        sym = sym.distinct()
    # Round-15 NEGATIVE experiments on this checkpoint, recorded so the
    # next round doesn't retry them (both A/B'd at sf0.1 across all
    # four caller queries):
    # * repartition("src") before the checkpoint — the checkpointed
    #   LogicalRDD DROPS the partitioning (plan-verified), so the
    #   per-round edge exchange stayed AND the up-front shuffle was
    #   added: dedup_components 3.7 → 4.5 s, golden_record 5.0 → 5.5.
    # * repartition("src").persist() instead (the pagerank layout —
    #   this one plan-verifiably removes the per-round edge exchange,
    #   InMemoryRelation keeps the partitioning): dedup_components won
    #   (3.7 → 3.2 s) but every caller whose pair frame is built to
    #   STREAM, not cache, lost big — dbscan_grid 7.9 → 15.6 s,
    #   hub_removal 13.7 → 16.8, golden_record 5.0 → 8.7 (cache
    #   pressure + per-round re-optimization of the uncut lineage).
    # The eager checkpoint without a layout is the measured optimum.
    sym = sym.localCheckpoint(eager=True)

    # Propagate over NON-SINGLETON nodes only — in a near-dup corpus most
    # docs touch no edge; they keep comp=own id and never enter the loop.
    connected = sym.select(F.col("src").alias("node")).distinct()
    labels = connected.select("node", F.col("node").cast("long").alias("comp"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]

    def one_round(labels: DataFrame) -> DataFrame:
        lbl_side = labels.hint("shuffle_hash") if hint_labels else labels
        neighbor_min = (sym.join(lbl_side,
                                 F.col("src") == F.col("node"))
                        .groupBy("dst")
                        .agg(F.min("comp").alias("ncomp")))
        labels = (labels.join(neighbor_min,
                              F.col("node") == F.col("dst"), "left")
                  .select(F.col("node"),
                          F.least(F.col("comp"),
                                  F.coalesce(F.col("ncomp"), F.col("comp")))
                          .alias("comp")))
        if pointer_jumping:
            jump = labels.select(F.col("node").alias("jn"),
                                 F.col("comp").alias("jcomp"))
            labels = (labels.join(jump, F.col("comp") == F.col("jn"),
                                  "left")
                      .select("node",
                              F.coalesce("jcomp", "comp").alias("comp")))
        return labels

    # One propagation round per checkpoint + convergence probe.
    # Round-15 NEGATIVE experiment (VERDICT r14 #1 suggested batching
    # two rounds per probe): near-dup/co-purchase graphs converge in
    # 2-4 rounds, so a 2-round batch overshoots the fixpoint with a
    # full extra join+aggregate round, which costs MORE than the probe
    # it saves — dedup_components 3.7 → 5.1 s, golden_record 5.0 →
    # 6.7 s at sf0.1 with batching; reverted to the per-round probe.
    # Batching only pays when diameter ≫ rounds, where
    # pointer_jumping is the intended tool anyway.
    for _ in range(max_iter):
        labels = one_round(labels)
        labels = labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:  # labels only decrease ⇒ equal sum = fixed point
            break
        prev_sum = cur_sum

    singletons = (nodes.select(F.col(node_col).alias("node"))
                  .join(connected, "node", "left_anti")
                  .select("node", F.col("node").cast("long").alias("comp")))
    return (labels.union(singletons)
            .select(F.col("node").alias(node_col), "comp"))


def component_summary(components: DataFrame,
                      node_col: str = "doc_id") -> DataFrame:
    """Cluster roll-up: (component, size) — the dedup report."""
    return (components.groupBy("comp")
            .agg(F.count("*").alias("size"))
            .select(F.col("comp").alias("component"), "size"))
