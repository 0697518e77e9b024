"""Seeded input generator for the benchmark.

Everything the program reads is written here as files, from one seed:

* ``corpus/`` — a Linked Art Person/Group records tier over five sources,
  the four reconcile indexes, and ``truth.parquet`` (record uri -> planted
  entity) for the output checks.  Planted component shapes: singletons,
  pairs and 3-5 record groups linked by asserted ``equivalent``, by the
  name index only, or by the uri index only; ``same_as`` bridges;
  ``different_from`` vetoes; a heavy chain tail (the longest has
  min(1000, records / 20) links);
  and one celebrity-name hub.  Every name is unique to its component, so
  the planted truth is unambiguous.
* ``search/`` — a small star schema (region, nation, customer, supplier,
  part, orders, lineitem) for the serving model, and ``queries.json``:
  distinct DSL queries, each with the DuckDB SQL that answers it, plus the
  query stream: passes over that list, each pass in its own seeded order.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

URI = "https://fixture.test"  # data_pipeline_spark.pipeline.fixtures.URI
SOURCES = ("ulan", "wikidata", "viaf", "lcnaf", "ycba")
MERGE_ORDER = {s: i for i, s in enumerate(SOURCES)}
VOCAB = "https://vocab.test"
CELEBRITY = "John Smith"
RECORD_FILES = 8

_SYL = ("ka", "ro", "mi", "te", "su", "na", "vo", "li", "de", "pa", "shu", "gre",
        "lin", "tor", "ban", "vel", "mor", "dun", "ser", "qua")
_GIVEN = ("Anna", "Pieter", "Maria", "Jan", "Sofia", "Willem", "Clara", "Hendrik",
          "Eva", "Lucas", "Greta", "Tomas", "Ines", "Bruno", "Lena", "Oskar")
_GROUP = ("Guild", "Society", "Workshop", "Academy", "Circle", "Company")

RECORDS_SCHEMA = pa.schema([
    ("source", pa.string()), ("identifier", pa.string()), ("rectype", pa.string()),
    ("record_time", pa.string()), ("change", pa.string()), ("data", pa.string()),
])


def uri(source: str, ident: str) -> str:
    return f"{URI}/{source}/{ident}"


def _code(n: int) -> str:
    """A pronounceable word unique to ``n`` (bijective base-20 syllables)."""
    out = []
    n += 1
    while n:
        n, r = divmod(n - 1, len(_SYL))
        out.append(_SYL[r])
    return "".join(reversed(out)).capitalize()


class _Corpus:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n_names = 0
        self.n_ident = 0
        self.records: dict[str, dict] = {}  # uri -> doc
        self.meta: dict[str, tuple] = {}  # uri -> (source, ident, rectype)
        self.entity: dict[str, int] = {}  # record uri -> planted entity
        self.n_entities = 0
        self.name_index: list[dict] = []
        self.uri_index: list[dict] = []
        self.same_as: list[dict] = []
        self.different_from: list[dict] = []
        self.groups: list[str] = []  # Group record uris, targets of member_of

    def unique_name(self, rectype: str) -> str:
        self.n_names += 1
        code = _code(self.n_names)
        if rectype == "Group":
            return f"{self.rng.choice(_GROUP)} of {code}"
        return f"{self.rng.choice(_GIVEN)} {code}"

    def doc(self, source: str, rectype: str, name: str | None = None) -> str:
        self.n_ident += 1
        ident = f"r{self.n_ident:07d}"
        u = uri(source, ident)
        name = name or self.unique_name(rectype)
        d = {
            "id": u,
            "type": rectype,
            "_label": name,
            "identified_by": [{
                "type": "Name", "content": name,
                "classified_as": [{"id": f"{VOCAB}/primaryName"}],
            }],
            "classified_as": [{"id": f"{VOCAB}/nationality/{self.rng.randrange(40)}"}],
            "referred_to_by": [{
                "type": "LinguisticObject",
                "content": f"{rectype} described by {source}, note {self.rng.randrange(10**6)}",
                "classified_as": [{"id": f"{VOCAB}/description"}],
            }],
        }
        if rectype == "Person" and self.groups and self.rng.random() < 0.3:
            d["member_of"] = [{"id": self.rng.choice(self.groups), "type": "Group"}]
        self.records[u] = d
        self.meta[u] = (source, ident, rectype)
        if rectype == "Group":
            self.groups.append(u)
        return u

    def new_entity(self, uris: list[str]) -> None:
        for u in uris:
            self.entity[u] = self.n_entities
        self.n_entities += 1

    def link(self, a: str, b: str, kind: str) -> None:
        """Plant one a->b link; ``a`` and ``b`` come from different sources."""
        sb, ib, rt = self.meta[b]
        if kind == "equiv":
            self.records[a].setdefault("equivalent", []).append({"id": b, "type": rt})
        elif kind == "name":
            name = self.records[a]["identified_by"][0]["content"]
            self.name_index.append({"source": sb, "name_clean": name.lower(),
                                    "target_identifier": ib, "rectype": rt})
        elif kind == "uri":
            self.n_names += 1
            ext = f"authority.test/{sb}/x{self.n_names}"
            self.records[a].setdefault("equivalent", []).append(
                {"id": f"http://{ext}", "type": rt})
            self.uri_index.append({"source": sb, "ext_uri": f"https://www.{ext}",
                                   "target_identifier": ib, "rectype": rt})
        elif kind == "same_as":
            self.same_as.append({"uri_a": a, "uri_b": b})
        else:
            raise ValueError(kind)

    def group(self, size: int, rectype: str, kinds=("equiv", "equiv", "equiv", "name", "uri")) -> list[str]:
        srcs = self.rng.sample(SOURCES, size)
        members = [self.doc(s, rectype) for s in srcs]
        for i in range(1, size):
            self.link(members[i], members[self.rng.randrange(i)], self.rng.choice(kinds))
        return members


def make_corpus(out_dir: str, seed: int, n_records: int) -> dict:
    rng = random.Random(seed * 7919 + 1)
    c = _Corpus(rng)
    for _ in range(max(5, n_records // 200)):  # member_of targets
        c.new_entity([c.doc(rng.choice(SOURCES), "Group")])

    # heavy chain tail: each record asserts its predecessor
    longest = min(1000, max(6, n_records // 20))
    for length in (longest, longest // 3, longest // 9):
        if length < 3:
            continue
        chain = [c.doc(rng.choice(SOURCES), "Person")]
        for _ in range(length - 1):
            chain.append(c.doc(rng.choice(SOURCES), "Person"))
            c.link(chain[-1], chain[-2], "equiv")
        c.new_entity(chain)

    # celebrity hub: every member links to one target only through the name index
    hub_src = SOURCES[0]
    target = c.doc(hub_src, "Person", CELEBRITY)
    hub = [target]
    for _ in range(min(1500, max(4, n_records // 40))):
        m = c.doc(rng.choice(SOURCES[1:]), "Person", CELEBRITY)
        hub.append(m)
    c.name_index.append({"source": hub_src, "name_clean": CELEBRITY.lower(),
                         "target_identifier": c.meta[target][1], "rectype": "Person"})
    c.new_entity(hub)

    # different_from vetoes: an asserted link the veto removes -> two entities
    for _ in range(max(1, n_records // 40)):
        rt = rng.choice(("Person", "Person", "Group"))
        sa, sb = rng.sample(SOURCES, 2)
        a, b = c.doc(sa, rt), c.doc(sb, rt)
        c.link(a, b, rng.choice(("equiv", "name")))
        c.different_from.append({"uri_a": a, "uri_b": b})
        c.new_entity([a])
        c.new_entity([b])

    # same_as bridges between two otherwise separate linked halves
    for _ in range(max(1, n_records // 80)):
        rt = rng.choice(("Person", "Group"))
        left, right = c.group(2, rt), c.group(2, rt)
        c.link(left[0], right[0], "same_as")
        c.new_entity(left + right)

    singles_target = int(0.35 * n_records)
    n_single = 0
    while len(c.records) < n_records:
        rt = "Group" if rng.random() < 0.2 else "Person"
        if n_single < singles_target and rng.random() < 0.55:
            c.new_entity([c.doc(rng.choice(SOURCES), rt)])
            n_single += 1
            continue
        size = rng.choices((2, 3, 4, 5), weights=(55, 25, 12, 8))[0]
        c.new_entity(c.group(size, rt))

    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    rows = [
        {"source": s, "identifier": i, "rectype": rt, "record_time": "2026-01-15T00:00:00",
         "change": "create", "data": json.dumps(c.records[u], sort_keys=True)}
        for u, (s, i, rt) in c.meta.items()
    ]
    rec_dir = os.path.join(corpus, "records.parquet")
    os.makedirs(rec_dir, exist_ok=True)
    for k in range(RECORD_FILES):  # a harvest lands as several files
        _write(os.path.join(rec_dir, f"part-{k}.parquet"), rows[k::RECORD_FILES], RECORDS_SCHEMA)
    _write(os.path.join(corpus, "name_index.parquet"), c.name_index, None)
    _write(os.path.join(corpus, "uri_index.parquet"), c.uri_index, None)
    _write(os.path.join(corpus, "same_as.parquet"), c.same_as, None)
    _write(os.path.join(corpus, "different_from.parquet"), c.different_from, None)
    _write(os.path.join(corpus, "truth.parquet"),
           [{"uri": u, "entity": e} for u, e in c.entity.items()], None)
    return {"corpus": corpus, "records": len(rows), "entities": c.n_entities}


# --------------------------------------------------------------------------
# search_serving inputs

_NATIONS = ("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
            "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
            "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
            "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
_NATION_REGION = (0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_COLORS = ("almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
           "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
           "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan",
           "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest",
           "frosted", "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
           "hot", "indian", "ivory", "khaki", "lace", "lavender", "lawn", "lemon")

# DuckDB views mirroring plans/model.py build_entities / build_edges
ORACLE_VIEWS = """
CREATE VIEW entities AS
  SELECT 'customer:' || c_custkey AS id, 'customer' AS type, c_name AS name,
         c_acctbal::DOUBLE AS number FROM '{d}/customer.parquet/*.parquet'
  UNION ALL SELECT 'supplier:' || s_suppkey, 'supplier', s_name, s_acctbal::DOUBLE
         FROM '{d}/supplier.parquet/*.parquet'
  UNION ALL SELECT 'part:' || p_partkey, 'part', p_name, p_retailprice::DOUBLE
         FROM '{d}/part.parquet/*.parquet'
  UNION ALL SELECT 'nation:' || n_nationkey, 'nation', n_name, NULL
         FROM '{d}/nation.parquet/*.parquet'
  UNION ALL SELECT 'region:' || r_regionkey, 'region', r_name, NULL
         FROM '{d}/region.parquet/*.parquet'
  UNION ALL SELECT 'order:' || o_orderkey, 'order', NULL, o_totalprice::DOUBLE
         FROM '{d}/orders.parquet/*.parquet';
CREATE VIEW edges AS
  SELECT 'order:' || o_orderkey AS subject, 'placed_by' AS predicate,
         'customer:' || o_custkey AS object FROM '{d}/orders.parquet/*.parquet'
  UNION ALL SELECT 'customer:' || c_custkey, 'in_nation', 'nation:' || c_nationkey
         FROM '{d}/customer.parquet/*.parquet'
  UNION ALL SELECT 'supplier:' || s_suppkey, 'in_nation', 'nation:' || s_nationkey
         FROM '{d}/supplier.parquet/*.parquet'
  UNION ALL SELECT 'nation:' || n_nationkey, 'in_region', 'region:' || n_regionkey
         FROM '{d}/nation.parquet/*.parquet'
  UNION ALL SELECT 'order:' || l_orderkey, 'contains', 'part:' || l_partkey
         FROM '{d}/lineitem.parquet/*.parquet'
  UNION ALL SELECT 'order:' || l_orderkey, 'supplied_by', 'supplier:' || l_suppkey
         FROM '{d}/lineitem.parquet/*.parquet';
"""


def make_search(out_dir: str, seed: int, n_orders: int, n_distinct: int, n_passes: int = 100) -> dict:
    rng = random.Random(seed * 15485863 + 3)
    d = os.path.join(out_dir, "search")
    n_cust, n_part, n_supp = max(50, n_orders // 10), max(50, n_orders // 8), max(10, n_orders // 100)
    tables = {
        "region": {"r_regionkey": list(range(5)), "r_name": list(_REGIONS)},
        "nation": {"n_nationkey": list(range(25)), "n_name": list(_NATIONS),
                   "n_regionkey": list(_NATION_REGION)},
        "customer": {"c_custkey": list(range(1, n_cust + 1)),
                     "c_name": [f"Customer#{k:09d}" for k in range(1, n_cust + 1)],
                     "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
                     "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)]},
        "supplier": {"s_suppkey": list(range(1, n_supp + 1)),
                     "s_name": [f"Supplier#{k:09d}" for k in range(1, n_supp + 1)],
                     "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
                     "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]},
        "part": {"p_partkey": list(range(1, n_part + 1)),
                 "p_name": [" ".join(rng.sample(_COLORS, 5)) for _ in range(n_part)],
                 "p_retailprice": [round(rng.uniform(900, 2100), 2) for _ in range(n_part)]},
        "orders": {"o_orderkey": list(range(1, n_orders + 1)),
                   "o_custkey": [rng.randint(1, n_cust) for _ in range(n_orders)],
                   "o_totalprice": [round(rng.uniform(800, 500000), 2) for _ in range(n_orders)],
                   "o_orderdate": [datetime.date(1992, 1, 1) + datetime.timedelta(rng.randrange(2400))
                                   for _ in range(n_orders)]},
    }
    li_o, li_p, li_s = [], [], []
    for o in range(1, n_orders + 1):
        for _ in range(rng.randint(1, 7)):
            li_o.append(o)
            li_p.append(rng.randint(1, n_part))
            li_s.append(rng.randint(1, n_supp))
    tables["lineitem"] = {"l_orderkey": li_o, "l_partkey": li_p, "l_suppkey": li_s}
    for name, cols in tables.items():
        t = pa.table(cols)
        os.makedirs(os.path.join(d, f"{name}.parquet"), exist_ok=True)
        pq.write_table(t, os.path.join(d, f"{name}.parquet", "part-0.parquet"))

    queries = [_query(rng, i, n_cust) for i in range(n_distinct)]
    passes = [rng.sample(range(n_distinct), n_distinct) for _ in range(n_passes)]
    with open(os.path.join(d, "queries.json"), "w") as f:
        json.dump({"queries": queries, "passes": passes}, f)
    n_entities = n_cust + n_supp + n_part + 25 + 5 + n_orders
    return {"dir": d, "queries": queries, "passes": passes, "entities": n_entities,
            "lineitem": len(li_o)}


def _lit(v) -> tuple[str, str]:
    """(DSL literal, SQL literal)"""
    if isinstance(v, str):
        return '"' + v + '"', "'" + v.replace("'", "''") + "'"
    return repr(v), repr(v)


def _leaf(field, op, v):
    dsl_v, sql_v = _lit(v)
    if op == "~":
        cond = f"list_contains(regexp_split_to_array(lower({field}), '\\W+'), lower({sql_v}))"
    else:
        cond = f"{field} {op} {sql_v}"
    return f"{field}{op}{dsl_v}", f"SELECT id FROM entities WHERE {cond}"


def _typ(t):
    return f"type={t}", f"SELECT id FROM entities WHERE type = '{t}'"


def _and(*legs):
    return ("AND(" + ", ".join(d for d, _ in legs) + ")",
            " INTERSECT ".join(f"({s})" for _, s in legs))


def _or(*legs):
    return ("OR(" + ", ".join(d for d, _ in legs) + ")",
            " UNION ".join(f"({s})" for _, s in legs))


def _not(leg):
    return f"NOT({leg[0]})", f"(SELECT id FROM entities) EXCEPT ({leg[1]})"


def _andnot(pos, neg):
    return f"ANDNOT({pos[0]}, {neg[0]})", f"({pos[1]}) EXCEPT ({neg[1]})"


def _rel(pred, leg, inverse=False):
    if inverse:
        return (f"^{pred}({leg[0]})",
                f"SELECT object AS id FROM edges WHERE predicate = '{pred}' AND subject IN ({leg[1]})")
    return (f"{pred}({leg[0]})",
            f"SELECT subject AS id FROM edges WHERE predicate = '{pred}' AND object IN ({leg[1]})")


def _query(rng: random.Random, i: int, n_cust: int) -> dict:
    kind = ("point", "word", "hop1", "hop2", "inverse", "or", "not", "andnot", "boost")[i % 9]
    nation = rng.choice(_NATIONS)
    cust = f"Customer#{rng.randint(1, n_cust):09d}"
    c1, c2 = rng.sample(_COLORS, 2)
    if kind == "point":
        q = _and(_typ("customer"), _leaf("name", "=", cust))
    elif kind == "word":
        q = _and(_typ("part"), _leaf("name", "~", c1))
    elif kind == "hop1":
        q = _and(_typ("supplier"), _rel("in_nation", _leaf("name", "=", nation)))
    elif kind == "hop2":
        q = _rel("placed_by", _rel("in_nation", _leaf("name", "=", nation)))
    elif kind == "inverse":
        q = _rel("contains", _and(_typ("order"), _leaf("number", ">", float(rng.randrange(440000, 499000)))), inverse=True)
    elif kind == "or":
        q = _or(_and(_typ("supplier"), _leaf("number", "<", float(rng.randrange(-900, 0)))),
                _rel("in_nation", _leaf("name", "=", nation)))
    elif kind == "not":
        q = _and(_typ("nation"), _not(_rel("in_region", _leaf("name", "=", rng.choice(_REGIONS)))))
    elif kind == "andnot":
        q = _andnot(_and(_typ("part"), _leaf("name", "~", c1)), _leaf("name", "~", c2))
    else:
        base = _and(_typ("customer"), _rel("in_nation", _leaf("name", "=", nation)))
        boost = _leaf("number", ">", float(rng.randrange(4000, 8000)))
        return {"kind": kind, "dsl": f"BOOST({base[0]}, {boost[0]})",
                "sql": f"SELECT b.id, CASE WHEN x.id IS NULL THEN 1 ELSE 2 END AS score "
                       f"FROM ({base[1]}) b LEFT JOIN ({boost[1]}) x ON b.id = x.id"}
    return {"kind": kind, "dsl": q[0], "sql": f"SELECT DISTINCT id FROM ({q[1]})"}


def _write(path: str, rows: list[dict], schema) -> None:
    if schema is None and not rows:
        raise ValueError(f"{path}: empty table needs a schema")
    t = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(t, path)
