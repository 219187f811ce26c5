"""Connected components on an edge DataFrame — the operator that turns
pairwise near-dup candidates (MinHash/SimHash/embedding pairs) into
cluster assignments for dedup keeper selection.

Algorithm: iterative min-label propagation ("hash-to-min") with a
pointer-jumping step each round:

1. every node's label starts as its own id;
2. each round, a node takes the min of its label and its neighbors'
   labels (one shuffle join edges x labels);
3. labels are then path-compressed by looking up the label of the label
   (one join labels x labels — smaller than the edge join), which gives
   the O(log n) convergence of pointer jumping on chains;
4. stop when no label changed.

Scale notes: the per-round cost is one edges-vs-labels shuffle join.
Near-dup graphs have tiny diameters (clusters are quasi-cliques), so
this converges in 2-4 rounds; pointer jumping bounds pathological
chains. Lineage is cut per round with ``localCheckpoint`` (the loop is
driver-side control flow, not driver-side data).

The reference has no graph algorithms at all (it delegates everything
to Neo4j); this is part of the engine's training-data-pipeline
extension surface (repo north star), not reference parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver-path memory model (measured, scripts/bench_cc_rss.py; table in
# SCALE.md §cc-handover): the Arrow-collected numpy path's peak driver
# RSS grows linearly at ~129 B per symmetrized edge on the straddle
# topology (516 MB / 1.03 GB / 2.06 GB at 4/8/16M symmetrized edges,
# nodes ~= 0.55x edges). The constant is rounded up to 200 B because a
# node-heavy graph (pure chain: nodes ~= edges) carries ~9 extra
# 8-byte array cells per NODE (uniq + inv + three label generations +
# the result frame). The handover admits a graph to the driver only
# while edges x DRIVER_CC_EDGE_BYTES fits the budget (default 4 GiB,
# overridable via SPARK_GRAFT_CC_DRIVER_BYTES — size it to spare
# driver headroom, not total driver memory).
DRIVER_CC_EDGE_BYTES = 200
DRIVER_CC_MEM_BUDGET = int(
    os.environ.get("SPARK_GRAFT_CC_DRIVER_BYTES", str(4 * 1024**3))
)


def driver_edge_budget() -> int:
    """Max deduped (symmetrized) edges admitted to the driver path:
    the memory budget divided by the measured per-edge footprint."""
    return max(1, DRIVER_CC_MEM_BUDGET // DRIVER_CC_EDGE_BYTES)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Return ``(id, component)``: each node labeled with the minimum
    node id reachable from it (undirected). Ids may be any orderable
    type. Self-loops are ignored; a node appearing *only* in self-loops
    gets no row (callers left-join and coalesce to self, as singletons
    get no row either).

    Adaptive execution: when the deduped edge list fits a DRIVER MEMORY
    BUDGET (``edges x DRIVER_CC_EDGE_BYTES <= DRIVER_CC_MEM_BUDGET``,
    VERDICT r6 #2 — a measured bytes-per-edge model, not a fixed edge
    count), the graph is pulled to the driver over Arrow and solved
    with vectorized numpy min-label propagation — near-dup graphs are
    usually tiny relative to the corpus that produced them, and the
    distributed loop's floor is ~10 s of fixed job overhead (3-4
    rounds x 4 jobs) regardless of size. ``driver_threshold``
    overrides the derived edge cap (0 forces the distributed loop —
    the over-budget path for graphs that genuinely cannot collect).

    Measured at the handover (scripts/bench_cc.py + bench_cc_rss.py,
    SCALE.md §cc-handover): the Arrow/numpy driver path replaced the
    per-Row Python union-find in r7 — collect is a columnar Arrow
    transfer and each propagation round is O(m) numpy, so the real
    sf10 near-dup graph (5.45M symmetrized edges) solves in ~4 s on
    the driver vs ~25 s distributed, and the measured RSS footprint
    (not an assumed one) sets how far that is allowed to scale."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )

    cap = driver_edge_budget() if driver_threshold is None else driver_threshold
    if cap:
        # budget check and collect FUSED into one limited Arrow pull:
        # <= cap rows back means the pull IS the complete edge set (the
        # limit never truncated), so the driver path pays one pass over
        # the edge computation instead of three (checkpoint + count +
        # collect — two fixed jobs of pure overhead per CC call on the
        # near-dup hot paths). CollectLimit computes any upstream
        # shuffle once and fetches partitions incrementally, so the
        # over-budget probe costs one round of fetches, not a recompute.
        pdf = und.limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            return _driver_union_find_pdf(und, pdf)
    # over budget: materialize once, then the distributed loop
    und = und.localCheckpoint()
    labels = (
        und.select(F.col("a").alias("id"))
        .dropDuplicates()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        nbr = (
            und.join(labels, und.a == labels.id)
            .select(F.col("b").alias("id"), "comp")
        )
        new = (
            labels.select("id", "comp")
            .union(nbr)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp <- label(comp)
        lookup = new.select(F.col("id").alias("c_id"), F.col("comp").alias("c_comp"))
        new = (
            new.join(lookup, new.comp == lookup.c_id, "left")
            .select("id", F.least("comp", "c_comp").alias("comp"))
        )
        new = new.localCheckpoint()
        changed = (
            new.join(labels.withColumnRenamed("comp", "old"), "id")
            .where(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break

    return labels


def _driver_union_find_pdf(und: DataFrame, pdf) -> DataFrame:
    """Driver-local components over an already-collected edge pandas
    frame; same output contract (min reachable id per node) as the
    distributed loop. ``und`` supplies the session and output schema
    only. Ids are mapped to dense ranks with ``np.unique`` (sorted, so
    rank order == id order and the min-rank root IS the min-id
    component label), and labels converge by vectorized min propagation
    — ``np.minimum.at`` per round, pointer-jump compressed with
    ``label[label]`` doubling — each round O(m) in C (~40 ns/edge,
    which is what lets the handover be sized by memory instead of
    patience)."""
    import numpy as np

    spark = und.sparkSession
    out_schema = (
        f"id {und.schema['a'].dataType.simpleString()}, "
        f"comp {und.schema['b'].dataType.simpleString()}"
    )
    if len(pdf) == 0:
        return spark.createDataFrame([], out_schema)
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    uniq, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a) :]
    label = np.arange(len(uniq))
    while True:
        nxt = label.copy()
        # und is symmetrized, so one directed pass sees every neighbor
        np.minimum.at(nxt, ea, label[eb])
        # pointer jumping to closure: label(label) halves depth per
        # apply, so chains compress in O(log diameter) O(n) passes
        while True:
            jumped = np.minimum(nxt, nxt[nxt])
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, label):
            break
        label = nxt

    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"id": uniq, "comp": uniq[label]}), out_schema
    )
