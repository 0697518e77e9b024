#!/usr/bin/env python
"""Warm per-stage profile of the b01/b02 build chain at the bench SF
(guide §1: decide whether time goes to shuffle, compute, or job/stage
fixed overhead before changing anything).

Runs the chain PASSES times in one session with the bench's warm-up and
prints per-stage seconds for each pass — pass 1 shows the cold envelope,
later passes the steady state the bench medians sample.  Stage boundary =
localCheckpoint + count, exactly run_build(materialize=True)'s barriers.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_pipeline_spark.session import get_spark  # noqa: E402
from data_pipeline_spark.catalog import empty_relation  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("SPARK_GRAFT_PROFILE_PASSES", "3"))
    spark = get_spark("profile_build_chain")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    wu = spark.range(500_000).selectExpr("id", "id % 97 AS k", "id % 13 AS g")
    (
        wu.groupBy("k").agg({"id": "sum"})
        .join(wu.groupBy("g").count().withColumnRenamed("g", "k"), "k", "left")
        .selectExpr("k", "count", "row_number() OVER (ORDER BY k) AS rn")
        .count()
    )

    from data_pipeline_spark.pipeline.closure import connected_components
    from data_pipeline_spark.pipeline.envelope import with_doc
    from data_pipeline_spark.pipeline.idmap import assign_yuids, label_components
    from data_pipeline_spark.pipeline.merge_records import merge_by_yuid
    from data_pipeline_spark.pipeline.reconcile import reconcile
    from data_pipeline_spark.pipeline.reidentify import reidentify
    from data_pipeline_spark.queries.build_gate import _MERGE_ORDER, _pair_records

    indexes = {
        "name_index": empty_relation(spark, "source string, name_clean string, target_identifier string, rectype string"),
        "uri_index": empty_relation(spark, "source string, ext_uri string, target_identifier string, rectype string"),
        "same_as": empty_relation(spark, "uri_a string, uri_b string"),
        "different_from": empty_relation(spark, "uri_a string, uri_b string"),
    }

    for p in range(passes):
        stages: dict[str, float] = {}
        t_all = time.perf_counter()

        def stage(name: str, df, eager: bool = True):
            t0 = time.perf_counter()
            out = df.localCheckpoint() if eager else df
            if eager:
                out.count()
            stages[name] = round(time.perf_counter() - t0, 3)
            return out

        spark.sparkContext.setJobDescription(f"pass{p}")
        records = _pair_records(spark, sf_dir)
        docs = stage("parse_docs", with_doc(records))
        equiv_edges = stage("reconcile", reconcile(docs, indexes))
        all_uris = docs.select(
            F.coalesce(F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri")
        )
        t0 = time.perf_counter()
        cc_stats: dict = {}
        spark.sparkContext.setJobGroup(f"closure{p}", f"pass{p} closure")
        comps = connected_components(
            equiv_edges, src="src_uri", dst="dst_uri", stats=cc_stats
        ).localCheckpoint()
        comps.count()
        stages["closure"] = round(time.perf_counter() - t0, 3)
        closure_jobs = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(f"closure{p}")
        )
        spark.sparkContext.setJobGroup(f"pass{p}", f"pass{p}")
        t0 = time.perf_counter()
        labeled = comps.select(F.col("node").alias("uri"), "component")
        singles = (
            all_uris.select("uri").distinct()
            .join(labeled, "uri", "left_anti")
            .withColumn("component", F.col("uri"))
        )
        idmap = stage("mint", assign_yuids(labeled.unionByName(singles)))
        _ = label_components  # chain parity documented; singles built inline
        reident = stage(
            "reidentify",
            reidentify(records.select("source", "identifier", "rectype", "data"), idmap),
        )
        merged = stage(
            "merge",
            merge_by_yuid(
                reident.select("yuid", "source", "identifier", "data"), _MERGE_ORDER
            ),
        )
        t0 = time.perf_counter()
        members = reident.groupBy("yuid").agg(
            F.min("identifier").alias("identifier"),
            F.countDistinct("source").alias("n_sources"),
        )
        out = (
            merged.join(members, "yuid")
            .select(
                "identifier", "rectype",
                F.get_json_object("data", "$._label").alias("label"),
                "n_sources",
            )
        )
        from data_pipeline_spark.queries.registry import total_order

        total_order(out).count()
        stages["final_project"] = round(time.perf_counter() - t0, 3)
        total = round(time.perf_counter() - t_all, 3)
        print(
            f"pass{p}: total={total} closure_rounds={cc_stats.get('rounds')} "
            f"closure_finisher={cc_stats.get('algorithm')} "
            f"residue_edges={cc_stats.get('residue_edges')} "
            f"closure_jobs={closure_jobs} stages={stages}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
