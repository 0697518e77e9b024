"""Reidentification (J8): rewrite every URI in a document to its YUID.

The reference walks each JSON tree recursively, consulting the Redis idmap
per URI (process/reidentifier.py:43-218 in /root/reference). That is a
per-record RPC storm; the Spark restatement is a distributed
extract-join-reassemble:

1. extract all URI occurrences per record (one ``regexp_extract_all`` over
   the raw JSON — cheap, JVM-side);
2. join the exploded (record, uri) pairs against the idmap — an equi-join
   that shuffles only (uri, yuid) pairs, never documents;
3. collect each record's private ``uri -> yuid`` map (tiny: the record's
   own reference set) back onto the row;
4. apply the substitutions as a JVM higher-order fold —
   ``aggregate(map_entries(submap), data, replace(acc, "uri", "yuid"))``
   — inside whole-stage codegen (round 10; previously an Arrow-batched
   pandas pass: at 3M records the Python round-trip was the dominant
   chain stage, 76.6 s of 140.7).

Substitution-order independence (why the unordered map is safe): every
search key is a full quoted string ``"<uri>"`` and every replacement a
quoted yuid, which is never itself an http URI — so no replacement can
create, destroy, or overlap another key's match, and any fold order
yields the same string.

No broadcast of the full idmap, no driver loop, no Python boundary —
both sides stream, so a billion-record idmap is fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_URI_RE = r'"(https?://[^"]+)"'


def reidentify(records: DataFrame, idmap: DataFrame, delta_sized: bool = False) -> DataFrame:
    """records(source, identifier, rectype, data) + idmap(qua_uri, yuid)
    -> same rows with `data` rewritten and a `yuid` column attached.

    ``delta_sized``: the records are a change-feed-sized slice resolved
    against a corpus-sized idmap — broadcast their references so the
    idmap is scanned, not shuffled.

    Record-key contract (ADVICE r15): identifiers are unique per source —
    the envelope model's primary key, which every upstream source mapper
    enforces.  The reference-set join below keys on the (source,
    identifier) PAIR (no string concat, so no 'a|b'/'c' vs 'a'/'b|c'
    ambiguity), and the per-record map aggregates with collect_SET, so
    even a duplicated record row (two identical keys carrying the same
    refs) folds to one (uri, yuid) entry per uri instead of tripping
    map_from_entries' duplicate-key exception."""
    # per-record URI dedup is ROW-LOCAL (array_distinct before the
    # explode) — map_from_entries below only needs uniqueness within a
    # record, and the old global .distinct() paid a full exchange of the
    # exploded refs to get a guarantee a row-local op already gives
    # (r15 opt, guide §2.4; same trick as the r5 shingle-array rewrite)
    refs = records.select(
        "source",
        "identifier",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.col("data"), F.lit(_URI_RE), 1)
            )
        ).alias("uri"),
    )
    if delta_sized:
        refs = F.broadcast(refs)
    mapped = refs.join(idmap, refs.uri == idmap.qua_uri).select(
        "source", "identifier", "uri", "yuid"
    )
    per_record = mapped.groupBy("source", "identifier").agg(
        F.map_from_entries(F.collect_set(F.struct("uri", "yuid"))).alias("_submap")
    )
    joined = records.join(per_record, ["source", "identifier"], "left")

    # exact quoted-string matches only, so partial-prefix URIs never
    # clobber longer ones; see the module docstring for why the fold is
    # order-independent over the (unordered) collected map
    rewritten = joined.withColumn(
        "data",
        F.when(
            F.col("_submap").isNotNull(),
            F.aggregate(
                F.map_entries("_submap"),
                F.col("data"),
                lambda acc, e: F.replace(
                    acc,
                    F.concat(F.lit('"'), e["key"], F.lit('"')),
                    F.concat(F.lit('"'), e["value"], F.lit('"')),
                ),
            ),
        ).otherwise(F.col("data")),
    ).drop("_submap")

    # the record's own yuid is its rewritten doc id (the reference also
    # rewrites the top-level id, reidentifier.py:190-218)
    return rewritten.withColumn(
        "yuid", F.get_json_object(F.col("data"), "$.id")
    )
