"""Connected components over an edge list, two ways with the same labels
(component = min node id):

* `union_find` — pure Python on the driver, for an edge list already
  collected behind a cap (alias linking, M13: a bounded result of an
  iterative graph step is finished on the driver, in no Spark job);
* `connected_components` — distributed, over an edge DataFrame via
  iterative joins (the "hash-min" label-propagation variant of
  large-star/small-star; see Kiveris et al., "Connected Components in
  MapReduce and Beyond"), for edge lists too long for the driver: the alias
  route above the cap, near-dup clustering (`corpus.cluster_verdict`) and
  the `kg_connected_components` query.

The reference computes components with an in-memory BFS over the batch's
adjacency dict (lightrag.py:387-439) purely to scope locks; the rebuild uses
CC for something semantic — collapsing alias groups and near-duplicate
clusters into canonical ids.

Hash-min scale notes: each iteration is one self-join + one groupBy-min;
lineage is cut with localCheckpoint() per iteration so plans don't grow
superlinearly; convergence is detected by counting changed labels (an
aggregate, not a collect of the data). Alias clusters are tiny-diameter
(name variants), so iterations ~ O(log d) ≈ 2-4 in practice; max_iter
bounds pathology, and a run that reaches it without converging raises
instead of returning partial labels.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def union_find(edges: Iterable[tuple[str, str]]) -> dict[str, str]:
    """(src, dst) pairs → {node: component}, component = min node id of its
    component (string min) — the labels `connected_components` returns.
    Undirected; self-loops and edges with a null end are skipped, so a node
    only on those is absent, as there."""
    parent: dict[str, str] = {}

    def root(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        ra, rb = root(parent.setdefault(a, a)), root(parent.setdefault(b, b))
        # a root is the min of its set, so the smaller root stays one
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return {x: root(x) for x in parent}


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """edges(src,dst) → (node, component) where component = min node id in
    the component (string min). Undirected; isolated nodes absent from
    `edges` are absent from the result. Raises RuntimeError, reporting the
    changed-label count, when max_iter rounds end with labels still
    changing."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be at least 1, got {max_iter}")
    undirected = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # lazy checkpoint: the first iteration's convergence count materializes
    # sym once; without it the union+distinct re-shuffles every round
    sym = (
        undirected.union(undirected.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # labels: node → current min label over closed neighborhood
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(
            F.col("a").alias("node"),
            F.least("a", "nbr_min").alias("component"),
        )
    ).localCheckpoint(eager=False)

    for _ in range(max_iter):
        # hash-min: every node takes min(label(self), min over neighbors');
        # the PREVIOUS label rides along as `old` so convergence is read off
        # the new frame directly — one materializing job per round instead
        # of an eager checkpoint plus a count-join (each a driver-blocking
        # job; at small frontiers the per-round job overhead dominated)
        nbr_labels = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(nbr_labels, labels.node == nbr_labels.a, "left").select(
            "node",
            F.col("component").alias("old"),
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: component ids are node ids, so chase one level
        # (label[label[v]]) — contracts label chains geometrically, giving
        # O(log diameter) rounds instead of O(diameter) for path-like graphs
        parents = stepped.select(
            F.col("node").alias("component"), F.col("component").alias("grand")
        )
        new_labels = (
            stepped.join(parents, "component", "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("component"), F.coalesce("grand", F.col("component"))
                ).alias("component"),
            )
        ).localCheckpoint(eager=False)
        changed = new_labels.where(F.col("component") != F.col("old")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            return labels
    # the last round still moved labels: they are not components yet
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} rounds: "
        f"{changed} labels changed in the last round"
    )
