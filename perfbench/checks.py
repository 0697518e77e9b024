"""Output checks, run with DuckDB outside every timed region.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import duckdb


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def check_build(out_dir: str, corpus_dir: str, n_entities: int) -> list[str]:
    """A committed full build (merged, idmap, edges tiers) against the
    planted truth: one merged row per planted entity, each planted entity
    under exactly one yuid and each yuid holding one entity, and an idmap
    that covers every record uri."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW merged AS SELECT * FROM {_pq(out_dir + '/merged.parquet')}")
        con.execute(f"CREATE VIEW idmap AS SELECT * FROM {_pq(out_dir + '/idmap.parquet')}")
        con.execute(f"CREATE VIEW truth AS SELECT * FROM '{corpus_dir}/truth.parquet'")
        fails = []
        merged, distinct = con.execute("SELECT count(*), count(DISTINCT yuid) FROM merged").fetchone()
        if merged != n_entities or distinct != merged:
            fails.append(f"merged has {merged} rows / {distinct} yuids, planted {n_entities} entities")
        missing = con.execute(
            "SELECT count(*) FROM truth t ANTI JOIN idmap i ON t.uri = i.qua_uri").fetchone()[0]
        if missing:
            fails.append(f"{missing} record uris missing from idmap")
        split = con.execute(
            "SELECT count(*) FROM (SELECT entity FROM truth JOIN idmap ON uri = qua_uri "
            "GROUP BY entity HAVING count(DISTINCT yuid) > 1)").fetchone()[0]
        fused = con.execute(
            "SELECT count(*) FROM (SELECT yuid FROM truth JOIN idmap ON uri = qua_uri "
            "GROUP BY yuid HAVING count(DISTINCT entity) > 1)").fetchone()[0]
        if split or fused:
            fails.append(f"{split} planted entities split over several yuids, {fused} yuids fuse entities")
        orphan = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT yuid FROM truth JOIN idmap ON uri = qua_uri) y "
            "ANTI JOIN merged m ON y.yuid = m.yuid").fetchone()[0]
        if orphan:
            fails.append(f"{orphan} record yuids have no merged row")
        edges = con.execute(f"SELECT count(*) FROM {_pq(out_dir + '/edges.parquet')}").fetchone()[0]
        if edges == 0:
            fails.append("edges tier is empty")
        return fails
    finally:
        con.close()


def oracle_results(search_dir: str, views_sql: str, sqls: list[str]) -> list[set]:
    """Each query's answer over the same parquet files: a set of ids, or
    of (id, score) pairs for two-column queries."""
    con = duckdb.connect()
    try:
        con.execute(views_sql.format(d=search_dir))
        return [{tuple(r) if len(r) > 1 else r[0] for r in con.execute(sql).fetchall()}
                for sql in sqls]
    finally:
        con.close()
