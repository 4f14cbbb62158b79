"""Connected components over alias/sameAs edges — the canonicalization
pass (BASELINE.json north_rule; no reference counterpart — SURVEY.md §7.7).

Output contract: one row per distinct endpoint, labeled by its component's
MINIMUM member id in UTF-8 byte order (Spark's string order) —
deterministic across runs and parallelism levels, matching the DuckDB
recursive-CTE oracle's min(reachable) semantics. A node with only
self-loops is its own component; a null endpoint adds no edge and one
(null, null) row.

Two solvers, picked by the edge count observed (no option):

- Driver solve, for at most BROADCAST_MAX_ROWS edges (the size the engine
  already treats as known-small): the edges are collected once as Arrow,
  labeled with vectorized numpy (hook-and-shortcut, `_min_labels`) and
  returned as a one-partition DataFrame built from the Arrow table. One
  Spark job; no Python worker.
- Rounds, for larger graphs: min-label propagation with pointer doubling,
  expressed as DataFrame joins:

    comp(u) ← min(comp(u), min_{(u,v)∈E} comp(v))      (neighbor step)
    comp(u) ← min(comp(u), comp(comp(u)))               (doubling step)

  Both steps per round; pointer doubling halves label-chain lengths so a
  component of diameter d converges in O(log d) rounds (the 100-node chain
  fixture takes 7). At fixpoint every edge has comp(u) == comp(v).

Scale notes (rounds): each round is two equi-joins keyed by node — shuffle
partitioned on the node key, AQE-coalesced. Lineage is cut every round
(localCheckpoint; checkpoint() to reliable storage on a cluster) so the
plan depth stays O(1). Convergence is derived from the doubling join
ITSELF: each round carries a `changed` flag (new label ≠ round-start
label) and the changed-row count materializes the round's lazy
checkpoint. A round still costs 9–10 Spark jobs: under AQE,
`localCheckpoint(eager=False)` runs every upstream shuffle stage as its
own job when it is called, and the count adds the final one. That fixed
per-round cost is what the driver solve removes for small graphs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.skew import BROADCAST_MAX_ROWS


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src,dst) → (node, component); component = min member id.

    max_iterations bounds the round path only; the driver solve always
    runs to its fixpoint.

    stats: pass a dict to receive {"n_nodes": <exact row count>} when the
    graph was solved on the driver — the size hint for a join against the
    map. Round-solved maps leave it unset (their size is not known without
    another job)."""
    pairs = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
    )
    # one job; an over-bound graph costs a collect of BROADCAST_MAX_ROWS + 1
    # rows before it takes the rounds path
    tbl = pairs.limit(BROADCAST_MAX_ROWS + 1).toArrow()
    if tbl.num_rows > BROADCAST_MAX_ROWS:
        return _connected_components_rounds(edges, src, dst, max_iterations)
    comp = _label_on_driver(tbl)
    if stats is not None:
        stats["n_nodes"] = comp.num_rows
    # the map was built on the driver: one partition says so to the planner,
    # so a count over it needs no exchange
    return edges.sparkSession.createDataFrame(comp).coalesce(1)


def _label_on_driver(tbl: pa.Table) -> pa.Table:
    """Arrow (src, dst) edges → Arrow (node, component) map."""
    m = tbl.num_rows
    ends = pa.concat_arrays(
        [tbl.column("src").combine_chunks(), tbl.column("dst").combine_chunks()]
    ).dictionary_encode()
    # rank = position in UTF-8 byte order, so the minimum rank of a
    # component is its minimum id in Spark's string order
    order = pc.sort_indices(ends.dictionary.cast(pa.large_binary()))
    rank = np.empty(len(order), dtype=np.int64)
    rank[order.to_numpy()] = np.arange(len(order))
    code = pc.fill_null(ends.indices, -1).to_numpy()
    u, v = code[:m], code[m:]
    keep = (u >= 0) & (v >= 0) & (u != v)
    labels = _min_labels(len(order), rank[u[keep]], rank[v[keep]])
    nodes = ends.dictionary.take(order).cast(pa.string())
    comps = nodes.take(pa.array(labels))
    if (code < 0).any():
        nodes = pa.concat_arrays([nodes, pa.nulls(1, pa.string())])
        comps = pa.concat_arrays([comps, pa.nulls(1, pa.string())])
    return pa.table({"node": nodes, "component": comps})


def _min_labels(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Label of each node 0..n-1 = the minimum node of its component, for
    undirected edges (u, v).

    Hook and shortcut: every edge whose ends have different roots hooks
    the larger root under the smaller (the minimum over all such edges),
    then pointer jumping flattens every tree to depth one. parent[x] ≤ x
    throughout, so the trees stay acyclic and at the fixpoint each
    component's one root is its minimum node. An edge whose ends share a
    root stays settled (roots only merge), so it is dropped."""
    parent = np.arange(n)
    while u.size:
        pu, pv = parent[u], parent[v]
        live = pu != pv
        u, v, pu, pv = u[live], v[live], pu[live], pv[live]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return parent


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def _connected_components_rounds(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """The round-based solve (module docstring) for graphs past the
    driver-solve bound; same output contract."""
    e = _symmetrize(
        edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
    ).localCheckpoint()

    # Iterative rounds pay per-task overhead every round; size the working
    # width to the graph, not the session default (a 1k-edge alias graph on
    # 64 shuffle partitions is ~10 jobs of overhead and no compute). At
    # cluster scale n_edges drives the width up to 2x parallelism.
    n_edges = e.count()
    spark = edges.sparkSession
    dp = spark.sparkContext.defaultParallelism
    width = int(max(4, min(dp * 2, n_edges // 50_000 + 4)))
    # keyed by dst: the checkpoint scan loses partitioning metadata, so
    # this explicit repartition is re-planned in EVERY round — keying it
    # by the neighbor join's own key lets it double as that join's
    # exchange instead of adding a src-keyed shuffle the join immediately
    # re-shuffles (one exchange per round saved; hash spread identical)
    e = e.repartition(width, "dst")

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col(src).cast("string").alias("node")))
        .unionByName(edges.select(F.col(dst).cast("string").alias("node")))
        .distinct()
    )
    # lazy: round 1's convergence-count job materializes it (both comp
    # references inside that job share the one RDD), saving the separate
    # eager-materialization job
    comp = nodes.withColumn("comp", F.col("node")).localCheckpoint(eager=False)

    for _ in range(max_iterations):
        # neighbor step: min of neighbor labels (round-start label kept as
        # `prev` so the round's change count falls out of the same plan)
        nbr_min = (
            e.join(
                comp.select(F.col("node").alias("dst"), F.col("comp").alias("dcomp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dcomp").alias("nmin"))
            .withColumnRenamed("src", "node")
        )
        stepped = comp.join(nbr_min, "node", "left").select(
            "node",
            F.col("comp").alias("prev"),
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                "comp"
            ),
        )
        # doubling step: follow the label one hop (comp(comp(u)))
        newc = F.least(F.col("a.comp"), F.coalesce(F.col("lcomp"), F.col("a.comp")))
        doubled = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("lnode"), F.col("comp").alias("lcomp")
                ).alias("b"),
                F.col("a.comp") == F.col("b.lnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                newc.alias("comp"),
                (newc != F.col("a.prev")).alias("changed"),
            )
            # LAZY checkpoint: the changed-count action below materializes
            # it — lineage cut + convergence test share the round's jobs
            .localCheckpoint(eager=False)
        )
        n_changed = doubled.where(F.col("changed")).count()
        comp = doubled.drop("changed")
        if n_changed == 0:
            break

    return comp.select("node", F.col("comp").alias("component"))
