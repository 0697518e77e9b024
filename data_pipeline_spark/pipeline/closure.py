"""Connected-components labeling — the equivalence-closure engine.

Replaces the reference's per-record BFS collector + mutable Redis idmap
unions (collector.py:108-278, reference_manager.py:212-407) with a
whole-dataset closure that labels every node with the minimum node id of
its component, in three steps:

1. **probe** — path-halving label propagation, each round one shuffle
   join plus a pointer shortcut.  Bounded-diameter equivalence graphs
   (the common shape: the reference caps BFS at max_distance=3) converge
   here and stop.
2. **contract** — a probe that runs out of budget or decays slowly (long
   chains, giant components) has its edges relabeled by the current
   labels: converged components collapse to nothing and chains shrink
   ~2^k-fold, leaving a small quotient-graph residue.
3. **finish** — a residue of at most ``DRIVER_FINISH_EDGES`` edges is
   collected and finished by union-find on the driver (one bounded
   collect instead of ~14 Spark jobs per star round); a larger residue
   finishes with large-star/small-star (O(log n) rounds of the same join
   primitive).  Either way the labels are joined back onto the probe's.

`localCheckpoint` truncates lineage so per-round plans stay flat; AQE
coalesces the shrinking change-set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Largest contracted residue (edges) finished on the driver rather than
# by star rounds; a few MB of driver memory at most.
DRIVER_FINISH_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
    algorithm: str = "auto",
    auto_halving_budget: int = 4,
    auto_decay_threshold: float = 0.7,
) -> DataFrame:
    """Label every node of the undirected graph with the minimum node id
    reachable from it. Returns DataFrame(node, component).

    ``edges`` may be directed and contain duplicates/self-loops; it is
    symmetrized and deduplicated here, and edges with a null endpoint are
    dropped.  ``stats`` (if given) receives {"rounds", "algorithm",
    "residue_edges"}, where ``algorithm`` names the step that produced
    the final labels: "halving", "driver" or "star".

    ``algorithm``: 'halving' is label propagation with pointer
    shortcutting — right for equivalence graphs whose components have
    bounded diameter.  'star' is large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), whose per-round work
    is proportional to the CURRENT edge set rather than the full label
    relation (SCALE.md round 10).

    'auto' (default) runs halving for at most ``auto_halving_budget``
    rounds, bailing out early when the changed-label count decays slower
    than ``auto_decay_threshold`` round-over-round (the long-chain
    signature), then contracts and finishes the residue as the module
    docstring describes.  Every path produces the same labels (min-id per
    component), so routing never changes results — only which plan
    computes them (tests/test_pipeline_scale.py, test_closure_finish.py).
    """
    if algorithm == "star":
        return connected_components_star(
            edges, src=src, dst=dst, max_iter=max_iter, stats=stats
        )
    if algorithm not in ("halving", "auto"):
        raise ValueError(f"unknown closure algorithm: {algorithm!r}")
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    # eager: round 1 scans sym twice inside one stage, and a lazy
    # checkpoint would let both branches race to compute it
    sym = sym.filter(F.col("src") != F.col("dst")).localCheckpoint()

    budget = min(auto_halving_budget, max_iter) if algorithm == "auto" else max_iter
    labels, converged, rounds = _halving_loop(
        sym,
        budget,
        decay_threshold=(auto_decay_threshold if algorithm == "auto" else None),
    )
    if converged or algorithm == "halving":
        if stats is not None:
            stats.update(rounds=rounds, algorithm="halving", residue_edges=0)
        return labels

    # contract: label(u) is always a node of u's component, so the
    # quotient graph (label(u), label(v)) has the original component
    # structure; probe-converged components become dropped self-loops
    lab_u = labels.select(F.col("node").alias("_u"), F.col("component").alias("_cu"))
    lab_v = labels.select(F.col("node").alias("_v"), F.col("component").alias("_cv"))
    contracted = (
        sym.join(lab_u, sym.src == F.col("_u"))
        .join(lab_v, sym.dst == F.col("_v"))
        .select(F.col("_cu").alias("src"), F.col("_cv").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    residue = contracted.limit(DRIVER_FINISH_EDGES + 1).collect()
    if len(residue) <= DRIVER_FINISH_EDGES:
        roots = _driver_finish(contracted, residue)
        finisher, finish_rounds = "driver", 1
    else:
        star_stats: dict = {}
        roots = connected_components_star(
            contracted, max_iter=max_iter, stats=star_stats
        )
        finisher, finish_rounds = "star", star_stats["rounds"]
    roots = roots.select(F.col("node").alias("_lab"), F.col("component").alias("_comp"))
    # probe-converged components never reach the finisher — their probe
    # label IS the answer
    out = labels.join(roots, labels.component == F.col("_lab"), "left").select(
        "node", F.coalesce(F.col("_comp"), F.col("component")).alias("component")
    )
    if stats is not None:
        stats.update(
            rounds=rounds + finish_rounds,
            halving_rounds=rounds,
            algorithm=finisher,
            residue_edges=(
                len(residue) if finisher == "driver" else contracted.count()
            ),
        )
    return out


def _driver_finish(contracted: DataFrame, residue: list) -> DataFrame:
    """(node, component) for a collected residue: union-find that always
    links the larger root under the smaller, so each root is its
    component's minimum id.  Python orders str by code point and ints
    numerically — the same orders Spark's min uses (UTF-8 byte order is
    code-point order).  The result is a local relation built from an Arrow
    table: a list of tuples would plan as a Python-RDD scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in residue:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    key = contracted.schema["src"].dataType
    schema = StructType([StructField("node", key, False), StructField("component", key, False)])
    arrow_type = to_arrow_type(key)
    table = pa.table({
        "node": pa.array(list(parent), arrow_type),
        "component": pa.array([find(n) for n in parent], arrow_type),
    })
    return contracted.sparkSession.createDataFrame(table, schema=schema)


def _halving_loop(
    sym: DataFrame,
    max_iter: int,
    decay_threshold: float | None = None,
) -> tuple[DataFrame, bool, int]:
    """Path-halving label propagation over a symmetrized, deduplicated,
    self-loop-free edge set.  Returns (labels, converged, rounds).

    ``decay_threshold``: if set, bail out (converged=False) as soon as
    changed(r) > threshold * changed(r-1) for r >= 2 — slow decay means
    the graph has long chains / a giant component and the caller should
    re-route to the star algorithm rather than keep paying the full
    label-relation join per round."""
    labels: DataFrame | None = None  # identity mapping until after round 1

    rounds = 0
    converged = False
    prev_changed: int | None = None
    for _ in range(max_iter):
        rounds += 1
        # round 1 reads labels straight off the edge set: against the
        # identity labeling the propagate join is a no-op
        if labels is None:
            tagged = (
                sym.select(
                    F.col("src").alias("node"),
                    F.col("src").alias("component"),
                    F.lit(True).alias("_self"),
                )
                .union(
                    sym.select(
                        F.col("dst").alias("node"),
                        F.col("src").alias("component"),
                        F.lit(False).alias("_self"),
                    )
                )
            )
        else:
            # neighbor labels: for every edge (src->dst), dst can adopt
            # src's label
            prop = (
                sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), F.col("component"))
            )
            tagged = labels.select(
                "node", "component", F.lit(True).alias("_self")
            ).union(prop.select("node", "component", F.lit(False).alias("_self")))
        # self rows are tagged so each node's OLD label rides through the
        # aggregation, making the convergence check a filter-count
        new_labels = (
            tagged.groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max(F.when(F.col("_self"), F.col("component"))).alias("_old"),
            )
        )
        # pointer shortcut (path halving): component ids are node ids, so
        # every node can also adopt its component's OWN component —
        # label(u) := min(label(u), label(label(u))). This turns O(chain
        # length) convergence into O(log n): without it a 120-node chain
        # needs 120 rounds; with it, ~8.
        step = new_labels
        right = step.select(
            F.col("node").alias("_ptr_node"), F.col("component").alias("_ptr_comp")
        )
        # lazy: the convergence count is the sole first consumer and
        # materializes every partition inside its own job
        new_labels = (
            step.join(right, step.component == F.col("_ptr_node"), "left")
            .select(
                step.node,
                F.least(
                    step.component,
                    F.coalesce(F.col("_ptr_comp"), step.component),
                ).alias("component"),
                step._old,
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("component") != F.col("_old")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            converged = True
            break
        if (
            decay_threshold is not None
            and prev_changed is not None
            and changed > decay_threshold * prev_changed
        ):
            break
        prev_changed = changed
    if labels is None:  # max_iter == 0: the identity labeling, unpropagated
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
    return labels, converged, rounds


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edge set -> large-star round: every node connects its
    strictly-larger neighbors to the minimum of its closed neighborhood."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller-or-equal
    neighbors (grouping each edge at its larger endpoint) to the minimum
    of that closed neighborhood."""
    canon = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = canon.groupBy("u").agg(F.min("v").alias("mn"))
    j = canon.join(m, "u")
    return (
        j.filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(j.select("u", F.col("mn").alias("v")))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star connected components: alternate the two star
    operations until the edge set reaches its fixpoint (a forest of
    stars), then read each node's component off its star root.  O(log n)
    rounds on any graph — including the long chains and giant components
    where per-round label propagation degrades — and every round is the
    same bounded-fanout groupBy+join primitive, so no single key ever
    accumulates more than its current neighborhood."""
    # eager here (_large_star's union scans e twice in one stage); each
    # round's new_e is lazy, its first consumer being the sequential
    # exceptAll convergence check
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        changed = (
            new_e.exceptAll(e).limit(1).count() + e.exceptAll(new_e).limit(1).count()
        )
        e = new_e
        if changed == 0:
            break
    if stats is not None:
        stats.update(rounds=rounds, algorithm="star")
    # converged: edges point children at their star root (v < u, v = root)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mn")).alias("component"),
        )
    )
