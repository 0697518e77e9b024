"""Incremental rebuild correctness: applying the Family-B change feed
incrementally must produce the same merged output as a full rebuild over
the post-change records tier (the gold-standard equivalence check)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.pipeline.build import run_build
from data_pipeline_spark.pipeline.fixtures import fixture_tables, uri
from data_pipeline_spark.pipeline.incremental import (
    affected_uris,
    apply_changes_to_records,
    incremental_build,
)


@pytest.fixture(scope="module")
def setup(spark):
    t = fixture_tables(spark)
    t["changes"] = t["changes"].withColumn(
        "end_time", F.col("end_time").cast("timestamp")
    )
    idx = {k: t[k] for k in ("name_index", "uri_index", "same_as", "different_from")}
    return t, idx


def test_apply_changes_to_records(spark, setup):
    t, _ = setup
    out = apply_changes_to_records(t["records"], t["changes"])
    by_uri = {json.loads(r.data).get("id"): r for r in out.collect()}
    assert uri("srcA", "p7") not in by_uri  # deleted
    assert uri("srcA", "p9") in by_uri  # created
    # p1 updated to the seq-1 payload (latest end_time wins over seq 2)
    doc = json.loads(by_uri[uri("srcA", "p1")].data)
    assert doc["_label"] == "Rembrandt van Rijn (updated)"


def test_apply_changes_rejects_mismatched_payload_id(spark, setup):
    """Ingest contract (ADVICE r12): an upsert whose payload $.id is
    missing or differs from object_uri fails LOUDLY — silently applied,
    the row would be keyed by object_uri here but invisible to every
    downstream $.id-keyed scan (and dropped by the streaming delta
    fold's winner join), diverging the batch and streaming twins."""
    t, _ = setup
    for bad_payload in (
        json.dumps({"id": uri("srcA", "somebody-else"), "type": "Person"}),
        json.dumps({"type": "Person"}),  # $.id missing entirely
    ):
        bad = spark.createDataFrame(
            [(99, "2026-02-01 00:00:00", "update", uri("srcA", "p1"), bad_payload)],
            "seq bigint, end_time string, change string, object_uri string, payload string",
        ).withColumn("end_time", F.col("end_time").cast("timestamp"))
        with pytest.raises(Exception, match="does not match object_uri"):
            apply_changes_to_records(t["records"], bad).collect()


def test_affected_uris_is_component_closed(spark, setup):
    t, idx = setup
    blast = {r.uri for r in affected_uris(t["changes"], t["idmap_prev"], idx).collect()}
    # p1's whole previous component (p1 + e1) is in the radius
    assert uri("srcA", "p1") in blast and uri("extX", "e1") in blast
    # p9 (brand new) is included even though no previous yuid exists
    assert uri("srcA", "p9") in blast
    # p10's payload asserts an equivalent into p4's untouched component:
    # p4 must be pulled in (seed expansion through asserted equivalents)
    assert uri("srcA", "p10") in blast and uri("srcA", "p4") in blast
    # untouched component is NOT
    assert uri("srcA", "pl1") not in blast


@pytest.mark.slow  # full-coverage tier (r16 split): fast siblings cover the surface
def test_incremental_equals_full_rebuild(spark, setup):
    t, idx = setup
    order = {"srcA": 0, "extX": 1, "extY": 2}
    watermark = "2026-01-10 00:00:00"
    prev = run_build(spark, t["records"], idx, idmap_prev=t["idmap_prev"], merge_order=order)
    prev_merged = prev["merged"].localCheckpoint()
    # round N consumes round N-1's COMPUTED idmap (covers minted yuids too)
    prev_idmap = prev["idmap"].localCheckpoint()

    inc = incremental_build(
        spark, t["records"], t["changes"], idx,
        idmap_prev=prev_idmap, prev_merged=prev_merged, merge_order=order,
        last_harvest=watermark,
    )
    inc_rows = {r.yuid: r.data for r in inc["merged_full"].collect()}

    live_changes = t["changes"].filter(
        F.col("end_time") > F.lit(watermark).cast("timestamp")
    )
    full = run_build(
        spark,
        apply_changes_to_records(t["records"], live_changes),
        idx, idmap_prev=prev_idmap, merge_order=order,
    )
    full_rows = {r.yuid: r.data for r in full["merged"].collect()}

    assert set(inc_rows) == set(full_rows)
    for y in full_rows:
        assert inc_rows[y] == full_rows[y], f"divergence at {y}"


def test_incremental_resolves_references_outside_the_slice(spark, setup):
    """A changed record that references an untouched group (member_of, not
    an equivalence, so the group stays outside the blast radius) must
    point at the group's yuid after the splice, exactly as a full rebuild
    rewrites it — not keep the raw group URI."""
    t, idx = setup
    order = {"srcA": 0, "extX": 1, "extY": 2}
    prev = run_build(spark, t["records"], idx, idmap_prev=t["idmap_prev"], merge_order=order)
    prev_merged = prev["merged"].localCheckpoint()
    prev_idmap = prev["idmap"].localCheckpoint()

    person, group = uri("srcA", "anc1"), uri("srcA", "g1")
    payload = json.dumps({
        "id": person, "type": "Person", "_label": "Herodotus",
        "member_of": [{"id": group, "type": "Group"}],
    })
    changes = spark.createDataFrame(
        [(1, "2026-02-01 00:00:00", "update", person, payload)],
        "seq bigint, end_time string, change string, object_uri string, payload string",
    ).withColumn("end_time", F.col("end_time").cast("timestamp"))
    assert group not in {
        r.uri for r in affected_uris(changes, prev_idmap, idx).collect()
    }

    inc = incremental_build(
        spark, t["records"], changes, idx,
        idmap_prev=prev_idmap, prev_merged=prev_merged, merge_order=order,
    )
    inc_rows = {r.yuid: r.data for r in inc["merged_full"].collect()}
    full = run_build(
        spark, apply_changes_to_records(t["records"], changes), idx,
        idmap_prev=prev_idmap, merge_order=order,
    )
    full_rows = {r.yuid: r.data for r in full["merged"].collect()}

    group_yuid = prev_idmap.filter(F.col("qua_uri") == group).first().yuid
    rebuilt = json.loads(inc_rows[prev_idmap.filter(F.col("qua_uri") == person).first().yuid])
    assert [m["id"] for m in rebuilt["member_of"]] == [group_yuid]
    assert inc_rows == full_rows
