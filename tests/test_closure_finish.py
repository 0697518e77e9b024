"""The auto closure's two finishers for the contracted residue: union-find
on the driver (residues up to DRIVER_FINISH_EDGES edges) and
large-star/small-star above it.  Both must give the labels every other
closure path gives — the minimum node id per component."""

from __future__ import annotations

import random

from pyspark.sql.types import LongType, StringType, StructField, StructType

from data_pipeline_spark.pipeline import closure
from data_pipeline_spark.pipeline.closure import connected_components


def _uf_reference(edges) -> set:
    """(node, min id of its component) by Python union-find, over the
    edges the engine keeps: both endpoints non-null and distinct."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def _chain_and_cliques(ids, n_chain: int, n_cliques: int, seed: int):
    """A chain long enough to defeat the halving probe, with its ids in
    shuffled order, plus 5-node cliques and noise: duplicated, reversed
    and self-loop edges."""
    rnd = random.Random(seed)
    nodes = list(ids)
    rnd.shuffle(nodes)
    chain, rest = nodes[: n_chain + 1], nodes[n_chain + 1:]
    edges = [(chain[i], chain[i + 1]) for i in range(n_chain)]
    for g in range(n_cliques):
        members = rest[5 * g: 5 * g + 5]
        edges += [(a, b) for a in members for b in members if a < b]
    edges += [(b, a) for a, b in rnd.sample(edges, 20)]  # reversed
    edges += rnd.sample(edges, 20)  # duplicated
    edges += [(a, a) for a in rnd.sample(nodes, 5)]  # self-loops
    rnd.shuffle(edges)
    return edges


def _labels(spark, edges, key_type, **kw) -> tuple[set, dict]:
    schema = StructType([StructField("src", key_type), StructField("dst", key_type)])
    stats: dict = {}
    df = spark.createDataFrame(edges, schema)
    got = {(r.node, r.component) for r in connected_components(df, stats=stats, **kw).collect()}
    return got, stats


def test_auto_finishes_through_star_above_the_bound(spark, monkeypatch):
    """With the driver bound at 0 every residue is 'large': auto must hand
    it to star, report so, and label exactly as the driver finisher does."""
    edges = _chain_and_cliques([f"n{i:04d}" for i in range(400)], 200, 20, seed=3)
    driver, d_stats = _labels(spark, edges, StringType())
    monkeypatch.setattr(closure, "DRIVER_FINISH_EDGES", 0)
    star, s_stats = _labels(spark, edges, StringType())
    assert d_stats["algorithm"] == "driver"
    assert s_stats["algorithm"] == "star"
    assert s_stats["residue_edges"] == d_stats["residue_edges"] > 0
    assert star == driver == _uf_reference(edges)


def test_driver_finisher_matches_union_find(spark):
    """Long ids, non-ASCII string ids whose UTF-16 order differs from
    their code-point order (Spark's UTF-8 byte order is code-point order,
    as is Python's), and null endpoints, which drop the edge."""
    rnd = random.Random(11)
    longs = rnd.sample(range(2**40, 2**40 + 10**9), 400)
    alphabet = "aZé中ﬀ😀𝔸ǅ"
    texts = sorted({"".join(rnd.choice(alphabet) for _ in range(4)) for _ in range(600)})[:400]
    for ids, key_type in ((longs, LongType()), (texts, StringType())):
        edges = _chain_and_cliques(ids, 220, 25, seed=5)
        edges += [(ids[0], None), (None, ids[-1]), (None, None)]
        got, stats = _labels(spark, edges, key_type)
        assert stats["algorithm"] == "driver", stats
        assert stats["rounds"] == stats["halving_rounds"] + 1
        assert got == _uf_reference(edges)


def test_driver_finish_job_count_tripwire(spark):
    """The closure of a 250-link chain plus cliques must stay a few dozen
    Spark jobs; the star finish ran ~14 jobs per round on top."""
    edges = _chain_and_cliques([f"n{i:04d}" for i in range(400)], 250, 25, seed=7)
    df = spark.createDataFrame(edges, ["src", "dst"]).localCheckpoint()
    sc = spark.sparkContext
    group = "closure-finish-tripwire"
    sc.setJobGroup(group, "closure job count")
    try:
        stats: dict = {}
        rows = connected_components(df, stats=stats).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats["algorithm"] == "driver"
    assert {(r.node, r.component) for r in rows} == _uf_reference(edges)
    assert jobs <= 50, f"closure ran {jobs} Spark jobs"
