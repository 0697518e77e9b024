"""End-to-end build: the reference's full pipeline as chained DataFrame jobs.

run-all.sh's 24-process, file-flag-barrier orchestration (SURVEY §3.1)
collapses into ~6 chained Spark stages — map/parse, reconcile (join family),
closure+idmap (component labeling), reidentify, merge (grouped fold),
extract (edges/facets/names). Stage boundaries that the reference persists
as Postgres cache tiers become DataFrames; callers persist whichever tiers
they want as Parquet/Delta tables (sinks/).

At 100TB: every stage is shuffle-bounded by its key (uri or yuid), the
closure iterates O(component diameter) bounded rounds, and the only
driver collect is the closure's contracted residue, bounded at
``closure.DRIVER_FINISH_EDGES`` edges (larger residues stay distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import extract_edges, extract_facets, extract_names_table
from .envelope import with_doc
from .idmap import build_idmap
from .merge_records import merge_by_yuid
from .reconcile import reconcile
from .reidentify import reidentify


def run_build(
    spark: SparkSession,
    records: DataFrame,
    indexes: dict[str, DataFrame],
    idmap_prev: DataFrame | None = None,
    merge_order: dict[str, int] | None = None,
    delta_sized: bool = False,
    materialize: bool = False,
    idmap_outside: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """records + reconcile indexes (+ prev idmap) -> all output tiers.

    ``delta_sized``: this build covers a change-feed-sized slice (the
    incremental rebuild) — size-asymmetric joins against prev-build
    relations broadcast the slice side (see idmap.assign_yuids).

    ``idmap_outside``: (qua_uri, yuid) rows for records NOT in this
    build (an incremental slice's untouched components).  References to
    them are rewritten to their yuids, as a full build would; without it
    only URIs this build labels are rewritten.

    Reliability caveat (ADVICE r15): localCheckpoint stores
    non-replicated executor-local blocks with TRUNCATED lineage — on a
    cluster with dynamic allocation or executor loss the blocks cannot
    be recomputed and the job fails.  It is the right tool for the
    single-JVM bench/gate shape this function serves; a cluster
    deployment consuming several tiers should persist them (the CLI's
    write-per-tier layout IS that) or use a reliable checkpoint dir.

    ``materialize``: localCheckpoint each stage tier so a caller
    consuming SEVERAL tiers in one session (the CLI writing
    merged+idmap+edges) executes the shared chain once instead of once
    per consumed tier — measured 67 s -> ~40 s for a 900k-record
    3-tier CLI build.  Leave False when only one lineage is consumed
    (bench, the incremental slice — which checkpoints its own input)
    or when tiers are persisted externally anyway; at cluster scale the
    equivalent is writing each tier and reading it back, which the CLI
    write-per-tier layout gives you on the NEXT invocation for free."""
    def _m(df: DataFrame) -> DataFrame:
        return df.localCheckpoint() if materialize else df

    def _m_lazy(df: DataFrame) -> DataFrame:
        # lazy checkpoint: same execute-once sharing, but materialization
        # happens inside the FIRST consumer's job instead of a dedicated
        # blocking job here (r15 opt: tiers with exactly one in-chain
        # consumer were paying a job barrier for nothing; the chain is
        # job-count-bound at bench scale and the barrier buys no sharing).
        # r16 boundary (measured, TRIED AND PARTIALLY REVERTED): lazy is
        # ONLY safe when the tier's consumers materialize SEQUENTIALLY.
        # When two consumer subtrees sit in ONE downstream job, AQE
        # materializes their stages CONCURRENTLY and both race to compute
        # the deferred final stage before either has cached it — the tier
        # executes twice (observed: all-lazy b02 9.3-18.8 s/run vs 6.4 s
        # eager-reidentified; same double-broadcast race measured on
        # knn_ivf's centroid checkpoint, v04 3.7 -> 4.3 s).  Tiers with
        # concurrent consumers stay EAGER (_m); lazy is for exactly-one
        # consumer or strictly sequential consumers.
        return df.localCheckpoint(eager=False) if materialize else df

    # parse the JSON envelope ONCE and share the relation: reconcile's
    # three extractions (names/equivalents/timespans) and all_uris each
    # re-execute their input lineage, so an un-shared with_doc costs four
    # full corpus parses per build.  Under materialize the parsed tier is
    # checkpointed (the cluster-scale equivalent: persist the envelope
    # tier once and read it back), truncating every downstream scan to a
    # columnar read of the already-parsed struct.
    docs = _m_lazy(with_doc(records))
    # lazy: the one in-chain consumer is the closure's own (eager)
    # symmetrize checkpoint, which executes this exactly once anyway
    equiv_edges = _m_lazy(reconcile(docs, indexes))

    all_uris = docs.select(
        F.coalesce(F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri")
    )
    # lazy: one in-chain consumer (reidentify's join); CLI tier writes
    # read the cached blocks the first consumer materialized
    idmap = _m_lazy(build_idmap(equiv_edges, all_uris, idmap_prev, delta_sized))

    # EAGER: reidentified has two consumers IN ONE downstream job (the
    # merge fold's exchange and the caller's members aggregation) — see
    # the _m_lazy boundary note
    resolve = idmap if idmap_outside is None else (
        idmap.select("qua_uri", "yuid").unionByName(idmap_outside.select("qua_uri", "yuid"))
    )
    reidentified = _m(reidentify(
        records.select("source", "identifier", "rectype", "data"), resolve, delta_sized
    ))
    # EAGER: merged feeds concurrent extract subtrees in multi-tier
    # consumers (b03's facets+names join in one job)
    merged = _m(merge_by_yuid(
        reidentified.select("yuid", "source", "identifier", "data"), merge_order
    ))
    # same parse-once argument as the input envelope: the three export
    # extractions each re-parse the merged docs; share one parsed
    # relation so a multi-tier export consumer (the CLI writing
    # edges+facets+names) pays one parse.  LAZY checkpoint, unlike the
    # stage tiers: a consumer that never touches an export tier (b01)
    # must not pay for materializing the parsed docs.
    merged_docs = (
        with_doc(merged).localCheckpoint(eager=False)
        if materialize
        else with_doc(merged)
    )
    edges = extract_edges(merged_docs)
    facets = extract_facets(merged_docs)
    names = extract_names_table(merged_docs)
    return {
        "equiv_edges": equiv_edges,
        "idmap": idmap,
        "reidentified": reidentified,
        "merged": merged,
        "edges": edges,
        "facets": facets,
        "names": names,
    }
