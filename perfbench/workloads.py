"""Seeded read_mix operation streams, and how each operation drives the
program.

`make_ops` is pure: it turns (seed, sizes, units) into plain dicts, so
the same seed always yields the same inputs. `execute` runs one op
through the package's public functions and returns a plain-Python result
that `oracle.expected` can be compared with.
"""

from __future__ import annotations

import os

import numpy as np

# one read_mix block: 20 API ops (20% point, 25% search, 15% agg,
# 15% traverse, 15% sparql, 10% feed)
READ_BLOCK = {"point": 4, "search": 5, "agg": 3, "traverse": 3, "sparql": 3, "feed": 2}
# every read_mix run also carries one graph, one similarity and one dedup
# operator, at seeded positions, so those layers are measured too
READ_ANALYTICS = ["analytics.pagerank", "analytics.knn_graph", "analytics.minhash"]
# templates per class; block u takes READ_BLOCK[c] of them starting at
# offset u, so the op-type composition of a run depends on the number of
# blocks only, never on the seed
READ_TEMPLATES = {
    "point": ["point.read_path", "point.read_render", "point.batch_get"],
    "search": ["search.segment_range", "search.name_contains", "search.order_status"],
    # three agg templates for three agg slots: every block runs all five
    # ap types (term, card, stats, hist, sig)
    "agg": ["agg.term_card", "agg.stats_hist", "agg.sig"],
    "traverse": ["traverse.xg", "traverse.yg", "traverse.gqp"],
    "sparql": ["sparql.bgp", "sparql.group", "sparql.optional_path"],
    "feed": ["feed.consume", "feed.bulk"],
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NOUNS = ["widget", "ring", "gear", "bolt", "valve", "spring", "panel", "cable", "pump", "frame"]
STATUSES = ["F", "O", "P"]
LINK_FIELDS = ["ofOrder", "ofPart", "bySupplier", "byCustomer", "inNation", "ofRegion"]
FEED_NOW_MS = 1_800_000_000_000  # fixed "now": the 10 s feed watermark is far behind it


class Keys:
    """Zipf-skewed key draws over a fixed permutation, so hot keys are
    spread over the key space rather than being 0, 1, 2..."""

    def __init__(self, rng: np.random.Generator, sizes: dict[str, int]):
        self.rng = rng
        self.sizes = sizes
        perm_rng = np.random.default_rng(12345)
        self.perm = {t: perm_rng.permutation(n) for t, n in sorted(sizes.items())}

    def zipf(self, table: str) -> int:
        n = self.sizes[table]
        rank = min(int(self.rng.zipf(1.3)), n) - 1
        return int(self.perm[table][rank])

    def distinct(self, table: str, k: int) -> list[int]:
        out: list[int] = []
        while len(out) < k:
            v = self.zipf(table) if len(out) % 2 == 0 else int(self.rng.integers(0, self.sizes[table]))
            if v not in out:
                out.append(v)
        return out

    def uniform(self, lo: float, hi: float, nd: int = 2) -> float:
        return round(float(self.rng.uniform(lo, hi)), nd)


def _read_op(name: str, k: Keys) -> dict:
    r = k.rng
    seg = SEGMENTS[int(r.integers(0, 5))]
    if name in ("point.read_path", "point.read_render"):
        table = ["customer", "part", "supplier", "orders"][int(r.integers(0, 4))]
        return {"name": name, "table": table, "key": k.zipf(table)}
    if name == "point.batch_get":
        return {"name": name, "keys": k.distinct("customer", int(r.integers(3, 12)))}
    if name == "search.segment_range":
        return {"name": name, "seg": seg, "min_bal": k.uniform(-500, 8000), "offset": int(r.integers(0, 20)), "length": 10}
    if name == "search.name_contains":
        return {"name": name, "noun": NOUNS[int(r.integers(0, 10))], "offset": int(r.integers(0, 30)), "length": 20}
    if name == "search.order_status":
        return {
            "name": name,
            "status": STATUSES[int(r.integers(0, 3))],
            "max_price": k.uniform(2_000, 60_000),
            "offset": int(r.integers(0, 10)),
            "length": 15,
        }
    if name == "agg.term_card":
        return {"name": name, "min_bal": k.uniform(-900, 9000)}
    if name == "agg.stats_hist":
        return {"name": name, "brand": f"Brand#{int(r.integers(1, 26))}", "interval": int(r.choice([5, 10, 25]))}
    if name == "agg.sig":
        return {"name": name, "min_bal": k.uniform(2000, 9000)}
    if name == "traverse.xg":
        return {"name": name, "orders": k.distinct("orders", int(r.integers(1, 4)))}
    if name == "traverse.yg":
        return {"name": name, "nation": int(r.integers(0, 25)), "seg": seg}
    if name == "traverse.gqp":
        return {"name": name, "orders": k.distinct("orders", 20), "seg": seg}
    if name == "sparql.bgp":
        return {"name": name, "seg": seg, "bal": k.uniform(0, 9500)}
    if name == "sparql.optional_path":
        return {"name": name, "seg": seg, "bal": k.uniform(5000, 9500)}
    if name == "sparql.group":
        return {"name": name, "status": STATUSES[int(r.integers(0, 3))], "max_price": k.uniform(1_000, 40_000)}
    if name == "feed.consume":
        use_qp = bool(r.integers(0, 2))
        return {"name": name, "seg": seg if use_qp else None, "chunk": int(r.integers(20, 120))}
    if name == "feed.bulk":
        return {"name": name, "length_hint": int(r.integers(50, 400))}
    raise KeyError(name)


def _analytics_op(name: str, k: Keys) -> dict:
    """Seeded constants with a fixed shape (sizes, iteration counts), so
    the cost of an operator does not swing with the seed."""
    r = k.rng
    if name == "analytics.pagerank":
        fields = sorted(r.choice(LINK_FIELDS, 4, replace=False).tolist())
        return {"name": name, "fields": fields, "iterations": 3, "damping": round(float(r.uniform(0.8, 0.9)), 3)}
    if name == "analytics.knn_graph":
        return {"name": name, "mod": 5, "drop": int(r.integers(0, 5)), "k": 5, "seed": int(r.integers(0, 10_000))}
    if name == "analytics.minhash":
        return {"name": name, "mod": 10, "drop": sorted(r.choice(10, 3, replace=False).tolist()), "threshold": 0.6}
    raise KeyError(name)


def make_ops(seed: int, sizes: dict[str, int], units: int) -> list[dict]:
    """`units` whole read_mix blocks plus the READ_ANALYTICS ops. Each op
    gets an id so spans and checks can be joined."""
    rng = np.random.default_rng([seed, 1])
    k = Keys(rng, sizes)
    ops: list[dict] = []
    for u in range(units):
        names = [
            READ_TEMPLATES[c][(u + i) % len(READ_TEMPLATES[c])]
            for c, n in READ_BLOCK.items()
            for i in range(n)
        ]
        rng.shuffle(names)
        ops.extend(_read_op(n, k) for n in names)
    for n in READ_ANALYTICS:
        ops.insert(int(rng.integers(0, len(ops) + 1)), _analytics_op(n, k))
    for i, op in enumerate(ops):
        op["id"] = i
        op["cls"] = op["name"].split(".", 1)[0]
    return ops


# ---------------------------------------------------------------------------
# execution: everything below calls the package
# ---------------------------------------------------------------------------


def fetch(df, columns=None) -> list[tuple]:
    """The client's result fetch: collect the rows into this process."""
    if columns is not None:
        df = df.select(*columns)
    return [tuple(r) for r in df.collect()]


class Store:
    """Opens the served store through the lakehouse layer on every call,
    as an API request would; the layer memoizes the frames."""

    def __init__(self, spark, sf_dir: str, root: str | None = None):
        self.spark, self.sf_dir, self.root = spark, sf_dir, root

    def inf(self):
        from cm_well_spark.model.lakehouse import load_infotons

        return load_infotons(self.spark, self.sf_dir, self.root)

    def tri(self):
        from cm_well_spark.model.lakehouse import load_triples

        return load_triples(self.spark, self.sf_dir, self.root)

    def stats(self):
        from cm_well_spark.model.lakehouse import load_predicate_stats

        return load_predicate_stats(self.spark, self.sf_dir, self.root)


def paths_df(spark, paths):
    return spark.createDataFrame([(p,) for p in paths], "path string")


def _fields(row_fields) -> dict[str, list[str]]:
    return {k: sorted(v["value"] for v in vs) for k, vs in (row_fields or {}).items()}


def execute(st: Store, op: dict, out_dir: str | None = None):
    from cm_well_spark.formats import render
    from cm_well_spark.operators import aggregations as A
    from cm_well_spark.operators import consume as C
    from cm_well_spark.operators import search as S
    from cm_well_spark.operators import traversal as T
    from cm_well_spark.operators.sparql.compiler import sparql_query

    spark = st.spark
    name = op["name"]
    if name == "point.read_path":
        rows = fetch(S.read_path(st.inf(), f"/tpch/{op['table']}/{op['key']}"), ["path", "fields"])
        return [(p, _fields(f)) for p, f in rows]
    if name == "point.read_render":
        import json

        df = render.to_json_rows(S.read_path(st.inf(), f"/tpch/{op['table']}/{op['key']}"))
        out = []
        for (js,) in fetch(df):
            d = json.loads(js)
            out.append((d["system"]["path"], {k: sorted(v) for k, v in d["fields"].items()}))
        return out
    if name == "point.batch_get":
        keys = paths_df(spark, [f"/tpch/customer/{c}" for c in op["keys"]])
        rows = fetch(S.batch_get(st.inf(), keys), ["path", "fields"])
        return sorted((p, _fields(f)) for p, f in rows)
    if name.startswith("search."):
        if name == "search.segment_range":
            qp, sort = f"rdfType::Customer,mktsegment::{op['seg']},acctbal>{op['min_bal']}", "-acctbal"
        elif name == "search.name_contains":
            qp, sort = f"rdfType::Part,name:{op['noun']}", "path"
        else:
            qp, sort = f"rdfType::Order,orderstatus::{op['status']},totalprice<{op['max_price']}", "path"
        df = S.search(st.inf(), qp=qp, sort_by=sort, offset=op["offset"], length=op["length"], triples=st.tri(), stats=st.stats())
        return [p for (p,) in fetch(df, ["path"])]
    if name.startswith("agg."):
        inf, tri, stats = st.inf(), st.tri(), st.stats()
        if name == "agg.term_card":
            base = S.search(inf, qp=f"rdfType::Customer,acctbal>{op['min_bal']}", length=None, triples=tri, stats=stats)
            term, card = A.aggregate(base, "type:term,field::mktsegment~type:card,field::inNation", triples=tri, stats=stats)
            return sorted(fetch(term.df, ["key", "objects"])), [int(n) for (n,) in fetch(card.df, ["count"])]
        if name == "agg.stats_hist":
            base = S.search(inf, qp=f"rdfType::Part,brand::{op['brand']}", length=None, triples=tri, stats=stats)
            ap = f"type:stats,field::retailprice~type:hist,field::size,interval:{op['interval']},minDocCount:1"
            sts, hist = A.aggregate(base, ap, triples=tri, stats=stats)
            return (
                [tuple(None if x is None else float(x) for x in r) for r in fetch(sts.df, ["count", "min", "max", "sum"])],
                sorted((float(a), int(b)) for a, b in fetch(hist.df, ["key", "objects"])),
            )
        fg = S.search(inf, qp=f"rdfType::Customer,acctbal>{op['min_bal']}", length=None, triples=tri, stats=stats)
        bg = S.search(inf, qp="rdfType::Customer", length=None, triples=tri, stats=stats)
        res = A.aggregate(fg, "type:sig,field::mktsegment,minDocCount:1", base=bg, triples=tri, stats=stats)[0].df
        return sorted((k, int(a), int(b), float(s)) for k, a, b, s in fetch(res, ["key", "objects", "bg_count", "score"]))
    if name.startswith("traverse."):
        inf, tri, stats = st.inf(), st.tri(), st.stats()
        if name == "traverse.xg":
            seeds = S.batch_get(inf, paths_df(spark, [f"/tpch/orders/{o}" for o in op["orders"]]))
            df = T.expand_out(inf, seeds, "byCustomer>inNation", triples=tri, stats=stats)
        elif name == "traverse.yg":
            seeds = S.read_path(inf, f"/tpch/nation/{op['nation']}")
            df = T.expand_paths(inf, tri, seeds, f"<inNation[mktsegment::{op['seg']}]", limit=1_000_000, stats=stats)
        else:
            results = S.batch_get(inf, paths_df(spark, [f"/tpch/orders/{o}" for o in op["orders"]]))
            df = T.gqp_filter(inf, tri, results, f">byCustomer[mktsegment::{op['seg']}]", stats=stats)
        return sorted(p for (p,) in fetch(df, ["path"]))
    if name.startswith("sparql."):
        df = sparql_query(st.tri(), sparql_text(op), stats=st.stats())
        rows = [tuple(None if v is None else str(v) for v in r) for r in fetch(df)]
        return sorted(rows, key=lambda r: tuple(v or "" for v in r))
    if name == "feed.consume":
        tok = C.create_consumer(path=None if op["seg"] else "/tpch/supplier", qp=f"rdfType::Customer,mktsegment::{op['seg']}" if op["seg"] else None)
        out = []
        for _ in range(2):  # one chunk, then resume from the returned token
            tok, chunk, status = C.consume(st.inf(), tok, chunk=op["chunk"], now_ms=FEED_NOW_MS)
            out.append((status, [p for (p,) in fetch(chunk, ["path"])]))
        return out
    if name == "feed.bulk":
        tok = C.create_consumer(path="/tpch/part")
        tok, chunk, status = C.bulk_consume(st.inf(), tok, length_hint=op["length_hint"], now_ms=FEED_NOW_MS, exact=True)
        return (status, sorted(p for (p,) in fetch(chunk, ["path"])))
    return execute_analytics(st, op, out_dir)


def sparql_text(op: dict) -> str:
    name = op["name"]
    if name == "sparql.bgp":
        return (
            f'SELECT ?c ?n WHERE {{ ?c <mktsegment> "{op["seg"]}" . ?c <acctbal> ?b . '
            f"?c <inNation> ?x . ?x <name> ?n . FILTER(?b > {op['bal']}) }}"
        )
    if name == "sparql.optional_path":
        return (
            f'SELECT ?c ?r ?o WHERE {{ ?c <inNation>/<ofRegion> ?r . ?c <mktsegment> "{op["seg"]}" . '
            f"?c <acctbal> ?b . FILTER(?b > {op['bal']}) OPTIONAL {{ ?o <byCustomer> ?c }} }}"
        )
    return (
        f'SELECT ?s (COUNT(?o) AS ?k) WHERE {{ ?o <orderstatus> "{op["status"]}" . ?o <totalprice> ?t . '
        f"?o <byCustomer> ?c . ?c <mktsegment> ?s . FILTER(?t < {op['max_price']}) }} GROUP BY ?s"
    )


def write_result(df, out_dir: str, op: dict) -> str:
    """Analytics results are written in full, as a batch job would."""
    path = os.path.join(out_dir, f"op{op['id']:05d}")
    df.write.mode("overwrite").parquet(path)
    return path


def execute_analytics(st: Store, op: dict, out_dir: str):
    from pyspark.sql import functions as F

    from cm_well_spark.operators import dedup as D
    from cm_well_spark.operators import graph as G
    from cm_well_spark.operators import similarity as SIM
    from cm_well_spark.sources import tables as tbl

    spark, name = st.spark, op["name"]
    if name == "analytics.pagerank":
        df = G.pagerank(st.tri(), op["fields"], iterations=op["iterations"], damping=op["damping"])
    elif name == "analytics.knn_graph":
        emb = tbl.load_table(spark, st.sf_dir, "embeddings").where(F.col("vec_id") % op["mod"] != op["drop"])
        df = SIM.knn_graph(emb, k=op["k"], seed=op["seed"])
    elif name == "analytics.minhash":
        docs = tbl.load_table(spark, st.sf_dir, "documents").where(~(F.col("doc_id") % op["mod"]).isin(op["drop"]))
        df = D.minhash_dedup_pairs(docs, threshold=op["threshold"])
    else:
        raise KeyError(name)
    return write_result(df, out_dir, op)
