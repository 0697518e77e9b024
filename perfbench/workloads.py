"""The two workloads, each with an untraced and a traced form.

``full_build`` commits the 3-tier build exactly as ``cli build`` does
(``run_build(materialize=True)``, then ``write_parquet_atomic`` per tier
merged, idmap, edges).  ``search_serving`` answers DSL queries through
``serving_planner`` in a closed loop with one client.  Every operation's
output is checked after it returns, outside the timed region.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import checks
import gen
from spans import SPARK_COUNTERS, SPARK_LAYERS, Tracer, layer_counters, median

INDEXES = ("name_index", "uri_index", "same_as", "different_from")
BUILD_TIERS = ("merged", "idmap", "edges")  # cli build's default --tiers
SETUP_REPS = 3  # input generation is repeated and its median reported
MIN_STEADY_QUERIES = 36


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    trace: bool
    event_log: str | None
    records: int
    orders: int
    queries: int
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def op(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] {what} FAILED: {'; '.join(problems)}", file=sys.stderr)


def now() -> float:
    return time.perf_counter()


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    k = n - 11  # s[k] has exactly ten samples above it
    return s[k], 100.0 * (k + 1) / n


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# --------------------------------------------------------------------------
# session


def start_session(ctx: Ctx):
    from data_pipeline_spark.session import get_spark

    t = now()
    spark = get_spark("perfbench")
    return spark, now() - t


def canaries(ctx: Ctx, spark) -> float:
    """The repo bench's host canaries; returns the Spark canary's seconds."""
    import bench

    ctx.notes["canary.spark_s"] = bench._spark_canary(spark)
    return ctx.notes["canary.spark_s"]


def generate(ctx: Ctx, make) -> tuple[dict, float]:
    """Run the generator SETUP_REPS times into fresh directories; keep the
    last output, return it with the median generation time."""
    times, out = [], None
    for i in range(SETUP_REPS):
        d = os.path.join(ctx.work, f"inputs{i}")
        t = now()
        out = make(d)
        times.append(now() - t)
        if i < SETUP_REPS - 1:
            shutil.rmtree(d)
    return out, statistics.median(times)


# --------------------------------------------------------------------------
# full_build


def _read_inputs(spark, corpus: str):
    records = spark.read.parquet(os.path.join(corpus, "records.parquet"))
    idx = {k: spark.read.parquet(os.path.join(corpus, f"{k}.parquet")) for k in INDEXES}
    return records, idx


def build_commit(spark, corpus: str, out_dir: str) -> None:
    """One ``cli build --tiers merged,idmap,edges`` invocation's work."""
    from data_pipeline_spark.pipeline.build import run_build
    from data_pipeline_spark.sinks.exports import write_parquet_atomic

    records, idx = _read_inputs(spark, corpus)
    out = run_build(spark, records, idx, merge_order=gen.MERGE_ORDER, materialize=True)
    for tier in BUILD_TIERS:
        write_parquet_atomic(out[tier], os.path.join(out_dir, f"{tier}.parquet"))


def _timed_build(ctx: Ctx, spark, inputs: dict, out_dir: str, build=build_commit, **kw) -> float:
    t = now()
    try:
        build(spark, inputs["corpus"], out_dir, **kw)
    except Exception as e:  # a failed build is counted, the run goes on
        ctx.op([f"{type(e).__name__}: {e}"], "build")
        return now() - t
    dt = now() - t
    ctx.op(checks.check_build(out_dir, inputs["corpus"], inputs["entities"]), "build")
    return dt


def full_build(ctx: Ctx) -> dict:
    spark, session_s = start_session(ctx)
    ctx.notes["session.start_s"] = session_s

    inputs, gen_s = generate(ctx, lambda d: gen.make_corpus(d, ctx.seed, ctx.records))
    ctx.notes["records"] = inputs["records"]
    ctx.notes["entities"] = inputs["entities"]
    out_dir = os.path.join(ctx.work, "build")
    setup_s = session_s + gen_s + canaries(ctx, spark)
    # the measured operation is the session's first build: one `cli build`
    # invocation is one fresh session, so this is what its users wait for
    wall = _timed_build(ctx, spark, inputs, out_dir)
    if ctx.trace:
        # one untraced and one traced build after the first one: their
        # difference is the tracing overhead
        untraced = _timed_build(ctx, spark, inputs, out_dir)
        tracer = Tracer(spark)
        traced_dir = os.path.join(ctx.work, "traced_build")
        traced = _timed_build(ctx, spark, inputs, traced_dir, build=traced_build,
                              tracer=tracer, request="build")
        spark.stop()
        return {"per_layer": build_layer_metrics(ctx, tracer, traced - untraced)}
    tier_bytes, _ = dir_bytes(out_dir)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (1000 * wall, "ms"),
        "op_tail_ms": (1000 * wall, "ms"),
        "items_per_s": (inputs["records"] / wall, "1/s"),
        "bytes_per_item": (tier_bytes / inputs["records"], "B"),
    }


def _ck(df):
    """Layer barrier: materialize and truncate lineage, as
    run_build(materialize=True) does at its stage boundaries."""
    df = df.localCheckpoint()
    return df, df.count()


def traced_build(spark, corpus: str, out_dir: str, tracer: Tracer, request: str) -> None:
    """build_commit's chain called layer by layer, one span and one Spark
    job group per layer, with a barrier after each."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.pipeline.closure import connected_components
    from data_pipeline_spark.pipeline.edges import extract_edges
    from data_pipeline_spark.pipeline.envelope import extract_names, with_doc
    from data_pipeline_spark.pipeline.idmap import assign_yuids
    from data_pipeline_spark.pipeline.merge_records import merge_by_yuid
    from data_pipeline_spark.pipeline.reconcile import reconcile
    from data_pipeline_spark.pipeline.reidentify import reidentify
    from data_pipeline_spark.sinks.exports import write_parquet_atomic

    span = tracer.span
    with span("build", request):
        records, idx = _read_inputs(spark, corpus)
        with span("pipeline.envelope", request, "envelope") as s:
            docs, s.attrs["rows"] = _ck(with_doc(records))
        with span("pipeline.reconcile", request, "reconcile") as s:
            equiv, s.attrs["edges_out"] = _ck(reconcile(docs, idx))
        s.attrs["name_edges"] = equiv.filter(F.col("provenance") == "name").count()
        s.attrs["name_probes"] = extract_names(docs).count()
        stats: dict = {}
        with span("pipeline.closure", request, "closure") as s:
            comps, _ = _ck(connected_components(equiv, src="src_uri", dst="dst_uri", stats=stats))
        sizes = comps.groupBy("component").count().agg(
            F.count(F.lit(1)).alias("n"), F.max("count").alias("mx")).first()
        s.attrs.update(rounds=stats["rounds"], star=int(stats["algorithm"] == "star"),
                       components=sizes["n"], max_component=sizes["mx"] or 0)
        with span("pipeline.idmap", request, "idmap") as s:
            labeled = comps.select(F.col("node").alias("uri"), "component")
            all_uris = docs.select(F.coalesce(
                F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri"))
            singles = (all_uris.distinct().join(labeled, "uri", "left_anti")
                       .withColumn("component", F.col("uri")))
            idmap, _ = _ck(assign_yuids(labeled.unionByName(singles)))
        s.attrs.update(minted=idmap.select("yuid").distinct().count(), reused=0)
        with span("pipeline.reidentify", request, "reidentify") as s:
            reid, s.attrs["rows"] = _ck(reidentify(
                records.select("source", "identifier", "rectype", "data"), idmap))
        with span("pipeline.merge_records", request, "merge") as s:
            merged, s.attrs["groups"] = _ck(merge_by_yuid(
                reid.select("yuid", "source", "identifier", "data"), gen.MERGE_ORDER))
        g = reid.groupBy("yuid").count().agg(
            F.sum(F.when(F.col("count") == 1, 1).otherwise(0)).alias("single"),
            F.max("count").alias("mx")).first()
        s.attrs.update(singles=g["single"], max_group=g["mx"])
        with span("pipeline.edges", request, "edges") as s:
            edges, s.attrs["rows_out"] = _ck(extract_edges(with_doc(merged)))
        with span("sinks.exports", request, "exports") as s:
            for tier, df in (("merged", merged), ("idmap", idmap), ("edges", edges)):
                write_parquet_atomic(df, os.path.join(out_dir, f"{tier}.parquet"))
        s.attrs["bytes"], s.attrs["files"] = dir_bytes(out_dir)


def _dump_spans(ctx: Ctx, tracer: Tracer) -> None:
    """Spans outlive the run's working directory, which is removed at exit."""
    d = os.path.join(os.path.dirname(ctx.work), "spans")
    os.makedirs(d, exist_ok=True)
    ctx.notes["spans"] = os.path.join(d, os.path.basename(ctx.work) + ".jsonl")
    tracer.dump(ctx.notes["spans"])


def _self(tracer: Tracer, name: str, request: str) -> float:
    return sum(tracer.self_time(i) for i, sp in enumerate(tracer.spans)
               if sp.name == name and sp.request == request)


def _attr(tracer: Tracer, name: str, request: str, key: str):
    for sp in tracer.spans:
        if sp.name == name and sp.request == request:
            return sp.attrs.get(key, 0)
    return 0


def build_layer_metrics(ctx: Ctx, tracer: Tracer, overhead_s: float) -> dict:
    r = "build"
    a = lambda name, key: _attr(tracer, name, r, key)  # noqa: E731
    m = zero_layer_metrics()
    m.update({
        "envelope.self_s": _self(tracer, "pipeline.envelope", r),
        "envelope.rows": a("pipeline.envelope", "rows"),
        "reconcile.self_s": _self(tracer, "pipeline.reconcile", r),
        "reconcile.edges_out": a("pipeline.reconcile", "edges_out"),
        "reconcile.name_edges_per_probe":
            a("pipeline.reconcile", "name_edges") / max(1, a("pipeline.reconcile", "name_probes")),
        "closure.self_s": _self(tracer, "pipeline.closure", r),
        "closure.rounds": a("pipeline.closure", "rounds"),
        "closure.star_fallback": a("pipeline.closure", "star"),
        "closure.components": a("pipeline.closure", "components"),
        "closure.max_component": a("pipeline.closure", "max_component"),
        "idmap.self_s": _self(tracer, "pipeline.idmap", r),
        "idmap.yuids_minted": a("pipeline.idmap", "minted"),
        "idmap.yuids_reused": a("pipeline.idmap", "reused"),
        "reidentify.self_s": _self(tracer, "pipeline.reidentify", r),
        "reidentify.rows": a("pipeline.reidentify", "rows"),
        "merge.self_s": _self(tracer, "pipeline.merge_records", r),
        "merge.groups": a("pipeline.merge_records", "groups"),
        "merge.singleton_share":
            a("pipeline.merge_records", "singles") / max(1, a("pipeline.merge_records", "groups")),
        "merge.max_group": a("pipeline.merge_records", "max_group"),
        "edges.self_s": _self(tracer, "pipeline.edges", r),
        "edges.rows_out": a("pipeline.edges", "rows_out"),
        "exports.self_s": _self(tracer, "sinks.exports", r),
        "exports.bytes": a("sinks.exports", "bytes"),
        "exports.files": a("sinks.exports", "files"),
    })
    counters = layer_counters(tracer, ctx.event_log, {r})
    for layer, vals in counters.items():
        for k, v in vals.items():
            m[f"{layer}.{k}"] = v
    build_idx = next(i for i, sp in enumerate(tracer.spans) if sp.name == "build")
    build_span = tracer.spans[build_idx]
    layers_self = sum(tracer.self_time(i) for i, sp in enumerate(tracer.spans)
                      if sp.request == r and sp.parent == build_idx)
    m["trace.overhead_s"] = overhead_s
    m["trace.op_wall_s"] = build_span.duration
    m["trace.layer_share"] = layers_self / build_span.duration
    m["trace.jobs_per_op"] = sum(sp.jobs for sp in tracer.spans if sp.request == r)
    _dump_spans(ctx, tracer)
    return m


# --------------------------------------------------------------------------
# search_serving


def _run_query(planner, q: dict) -> set:
    if q["kind"] == "boost":
        return {(r["id"], r["score"]) for r in planner.search_scored(q["dsl"]).collect()}
    return {r["id"] for r in planner.plan(q["dsl"]).collect()}


def search_serving(ctx: Ctx) -> dict:
    from data_pipeline_spark.plans.model import serving_planner

    spark, session_s = start_session(ctx)
    ctx.notes["session.start_s"] = session_s
    inputs, gen_s = generate(ctx, lambda d: gen.make_search(d, ctx.seed, ctx.orders, ctx.queries))
    canary_s = canaries(ctx, spark)
    t = now()
    planner = serving_planner(spark, inputs["dir"])
    model_s = now() - t
    model_bytes, _ = dir_bytes(os.path.join(ctx.work, "spark-warehouse"))
    setup_s = session_s + gen_s + canary_s + model_s
    ctx.notes["model.materialize_s"] = model_s
    queries, passes = inputs["queries"], inputs["passes"]

    results: dict[int, set] = {}
    outcomes: list[tuple[int, set | None]] = []  # every op: (query, result or None)

    def run(i: int) -> float:
        t = now()
        try:
            res = _run_query(planner, queries[i])
        except Exception as e:
            print(f"[perfbench] query {queries[i]['dsl']} raised {e}", file=sys.stderr)
            res = None
        dt = now() - t
        outcomes.append((i, res))
        if res is not None:
            results.setdefault(i, res)
        return dt

    # the first pass runs every distinct query once: each plan shape's
    # first execution warms the session and counts as set-up
    cold_pass = sum(run(i) for i in range(len(queries)))
    ctx.notes["cold_pass_s"] = cold_pass
    setup_s += cold_pass
    if ctx.trace:
        untraced = [run(i) for i in passes[0]]
        tracer = Tracer(spark)
        traced = [traced_query(tracer, planner, queries[i], f"q{i}", outcomes, results, i)
                  for i in passes[0]]
        _check_queries(ctx, inputs["dir"], queries, results, outcomes)
        spark.stop()
        m = zero_layer_metrics()
        reqs = [f"q{i}" for i in passes[0]]
        planner_spans = [sp for sp in tracer.spans if sp.layer == "planner"]
        m.update({
            "parser.us_per_query": 1e6 * median(_self(tracer, "plans.parser", q) for q in reqs),
            "planner.build_ms": 1000 * median(_self(tracer, "plans.planner.build", q) for q in reqs),
            "planner.exec_ms": 1000 * median(_self(tracer, "plans.planner.exec", q) for q in reqs),
            "planner.jobs_per_query": statistics.mean(sp.jobs for sp in planner_spans),
            "planner.stages_per_query": statistics.mean(sp.stages for sp in planner_spans),
            "planner.exchanges_per_query": statistics.mean(sp.attrs["exchanges"] for sp in planner_spans),
            "planner.cold_pass_s": cold_pass,
            "model.materialize_s": model_s,
            "model.bytes": model_bytes,
            "trace.overhead_s": sum(traced) - sum(untraced),
            "trace.op_wall_s": median(traced),
            "trace.layer_share": statistics.mean(
                1 - tracer.self_time(i) / sp.duration
                for i, sp in enumerate(tracer.spans) if sp.name == "query"),
            "trace.jobs_per_op": statistics.mean(sp.jobs for sp in planner_spans),
        })
        _dump_spans(ctx, tracer)
        return {"per_layer": m}

    # closed loop, one client: whole passes over the distinct queries (each
    # pass in its own seeded order) until --seconds have elapsed
    steady = []
    t0 = now()
    for order in passes:
        if len(steady) >= MIN_STEADY_QUERIES and now() - t0 >= ctx.seconds:
            break
        steady += [run(i) for i in order]
    _check_queries(ctx, inputs["dir"], queries, results, outcomes)
    value, pct = tail(steady)
    ctx.notes["steady_queries"] = len(steady)
    ctx.notes["tail_percentile"] = pct
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (1000 * statistics.median(steady), "ms"),
        "op_tail_ms": (1000 * value, "ms"),
        "items_per_s": (len(steady) / sum(steady), "1/s"),
        "bytes_per_item": (model_bytes / inputs["entities"], "B"),
    }


_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused)?Exchange\b")


def traced_query(tracer: Tracer, planner, q: dict, request: str, outcomes, results, i) -> float:
    from data_pipeline_spark.plans.parser import parse

    with tracer.span("query", request) as root:
        with tracer.span("plans.parser", request):
            ast = parse(q["dsl"])
        with tracer.span("plans.planner.build", request):
            df = planner.search_scored(ast) if q["kind"] == "boost" else planner.plan(ast)
        with tracer.span("plans.planner.exec", request, "planner") as s:
            rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    s.attrs["exchanges"] = len(_EXCHANGE.findall(plan))
    res = {(r["id"], r["score"]) for r in rows} if q["kind"] == "boost" else {r["id"] for r in rows}
    outcomes.append((i, res))
    results.setdefault(i, res)
    return root.duration


def _check_queries(ctx: Ctx, search_dir: str, queries, results, outcomes) -> None:
    """Every distinct query's id set against DuckDB; every op's result
    against its query's."""
    expected = checks.oracle_results(search_dir, gen.ORACLE_VIEWS, [q["sql"] for q in queries])
    for i, res in outcomes:
        if res is None:
            ctx.op(["raised"], f"query {i}")
        elif res != expected[i]:
            ctx.op([f"{len(res)} ids, oracle {len(expected[i])}"], f"query {queries[i]['dsl']}")
        else:
            ctx.op([], "query")


# --------------------------------------------------------------------------


def per_layer_names() -> list[str]:
    names = ["session.start_s", "canary.spin_s", "canary.spark_s",
             "envelope.self_s", "envelope.rows",
             "reconcile.self_s", "reconcile.edges_out", "reconcile.name_edges_per_probe",
             "closure.self_s", "closure.rounds", "closure.star_fallback",
             "closure.components", "closure.max_component",
             "idmap.self_s", "idmap.yuids_minted", "idmap.yuids_reused",
             "reidentify.self_s", "reidentify.rows",
             "merge.self_s", "merge.groups", "merge.singleton_share", "merge.max_group",
             "edges.self_s", "edges.rows_out",
             "exports.self_s", "exports.bytes", "exports.files",
             "parser.us_per_query", "planner.build_ms", "planner.exec_ms", "planner.cold_pass_s",
             "planner.jobs_per_query", "planner.stages_per_query", "planner.exchanges_per_query",
             "model.materialize_s", "model.bytes",
             "trace.overhead_s", "trace.op_wall_s", "trace.layer_share", "trace.jobs_per_op"]
    names += [f"{layer}.{c}" for layer in SPARK_LAYERS for c in SPARK_COUNTERS]
    return names


def zero_layer_metrics() -> dict:
    return dict.fromkeys(per_layer_names(), 0)


WORKLOADS = {"full_build": full_build, "search_serving": search_serving}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("us_per_query"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("_share", "_per_probe")):
        return "ratio"
    return "count"
