"""Expected results, computed without the program under test.

Reads are answered by DuckDB over the raw source tables; the one
approximate read, the HLL `type:card` aggregation, is held to the API's
documented error. PageRank is recomputed exactly with DuckDB plus numpy.
The LSH-based operators are approximate by design, so they are checked by
property: every reported similarity is recomputed, neighbour counts are
bounded, and recall against brute force stays at or above a floor.

Path scheme (the ingest adapter's, kept here independently):
/tpch/<table>/<key>, lineitems /tpch/lineitem/<orderkey>-<linenumber>-1
(the generator keeps (orderkey, linenumber) unique).
"""

from __future__ import annotations

import math
import os
import re
from collections import defaultdict

import duckdb
import numpy as np

# recall floors (mean recall@k against brute force, pair recall for
# minhash): about half the lowest value measured over the proof seeds,
# which README.md records
RECALL_FLOOR = {"analytics.knn_graph": 0.25, "analytics.minhash": 0.5}
# relative error allowed to an HLL cardinality (the API documents +-5-10%)
CARD_REL_ERR = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]

EDGE_SQL = {
    "ofOrder": "SELECT '/tpch/lineitem/' || l_orderkey || '-' || l_linenumber || '-1', '/tpch/orders/' || l_orderkey FROM lineitem",
    "ofPart": "SELECT '/tpch/lineitem/' || l_orderkey || '-' || l_linenumber || '-1', '/tpch/part/' || l_partkey FROM lineitem",
    "bySupplier": "SELECT '/tpch/lineitem/' || l_orderkey || '-' || l_linenumber || '-1', '/tpch/supplier/' || l_suppkey FROM lineitem",
    "byCustomer": "SELECT '/tpch/orders/' || o_orderkey, '/tpch/customer/' || o_custkey FROM orders",
    "inNation": "SELECT '/tpch/customer/' || c_custkey, '/tpch/nation/' || c_nationkey FROM customer "
    "UNION ALL SELECT '/tpch/supplier/' || s_suppkey, '/tpch/nation/' || s_nationkey FROM supplier",
    "ofRegion": "SELECT '/tpch/nation/' || n_nationkey, '/tpch/region/' || n_regionkey FROM nation",
}


class Approx:
    """An expected count that an approximate estimator may miss by
    CARD_REL_ERR of its value, or by 1."""

    def __init__(self, value: int):
        self.value = value

    def __repr__(self) -> str:
        return f"~{self.value}"


class Oracle:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self._edges: dict[tuple, list] = {}
        self._emb = None
        self._docs = None

    def q(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # -- reads ---------------------------------------------------------------

    def entity(self, table: str, key: int):
        """(path, {field: sorted lexical values}) with numbers as floats."""
        if table == "customer":
            r = self.q(f"SELECT c_name, c_custkey, c_acctbal, c_mktsegment, c_nationkey FROM customer WHERE c_custkey = {key}")
            if not r:
                return []
            n, k, b, s, nk = r[0]
            f = {"name": [n], "custkey": [float(k)], "acctbal": [b], "mktsegment": [s], "inNation": [f"/tpch/nation/{nk}"], "rdfType": ["Customer"]}
        elif table == "supplier":
            r = self.q(f"SELECT s_name, s_suppkey, s_acctbal, s_nationkey FROM supplier WHERE s_suppkey = {key}")
            if not r:
                return []
            n, k, b, nk = r[0]
            f = {"name": [n], "suppkey": [float(k)], "acctbal": [b], "inNation": [f"/tpch/nation/{nk}"], "rdfType": ["Supplier"]}
        elif table == "part":
            r = self.q(f"SELECT p_name, p_partkey, p_brand, p_type, p_size, p_retailprice FROM part WHERE p_partkey = {key}")
            if not r:
                return []
            n, k, br, ty, sz, pr = r[0]
            f = {"name": [n], "partkey": [float(k)], "brand": [br], "ptype": [ty], "size": [float(sz)], "retailprice": [pr], "words": sorted(set(n.split(" "))), "rdfType": ["Part"]}
        else:
            r = self.q(f"SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority, o_custkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.000Z') FROM orders WHERE o_orderkey = {key}")
            if not r:
                return []
            k, st, tp, pri, ck, od = r[0]
            f = {"orderkey": [float(k)], "orderstatus": [st], "totalprice": [tp], "orderpriority": [pri], "byCustomer": [f"/tpch/customer/{ck}"], "orderdate": [od], "rdfType": ["Order"]}
        return [(f"/tpch/{table}/{key}", f)]

    def expected(self, op: dict):
        name = op["name"]
        if name in ("point.read_path", "point.read_render"):
            return self.entity(op["table"], op["key"])
        if name == "point.batch_get":
            return sorted(e for k in op["keys"] for e in self.entity("customer", k))
        if name == "search.segment_range":
            return [r[0] for r in self.q(
                f"SELECT '/tpch/customer/' || c_custkey FROM customer WHERE c_mktsegment = '{op['seg']}' "
                f"AND c_acctbal > {op['min_bal']} ORDER BY c_acctbal DESC LIMIT {op['length']} OFFSET {op['offset']}")]
        if name == "search.name_contains":
            return [r[0] for r in self.q(
                f"SELECT '/tpch/part/' || p_partkey AS path FROM part WHERE list_contains(string_split(p_name, ' '), '{op['noun']}') "
                f"ORDER BY path LIMIT {op['length']} OFFSET {op['offset']}")]
        if name == "search.order_status":
            return [r[0] for r in self.q(
                f"SELECT '/tpch/orders/' || o_orderkey AS path FROM orders WHERE o_orderstatus = '{op['status']}' "
                f"AND o_totalprice < {op['max_price']} ORDER BY path LIMIT {op['length']} OFFSET {op['offset']}")]
        if name == "agg.term_card":
            where = f"c_acctbal > {op['min_bal']}"
            term = sorted(self.q(f"SELECT c_mktsegment, count(*) FROM customer WHERE {where} GROUP BY 1"))
            card = self.q(f"SELECT count(DISTINCT c_nationkey) FROM customer WHERE {where}")[0][0]
            return term, [Approx(card)]
        if name == "agg.stats_hist":
            i, where = op["interval"], f"p_brand = '{op['brand']}'"
            r = self.q(f"SELECT count(*), min(p_retailprice), max(p_retailprice), sum(p_retailprice) FROM part WHERE {where}")
            hist = sorted((float(a), int(b)) for a, b in self.q(
                f"SELECT floor(p_size / {i}) * {i}, count(*) FROM part WHERE {where} GROUP BY 1"))
            return [tuple(None if x is None else float(x) for x in r[0])], hist
        if name == "agg.sig":
            # JLH score (fg% / bg%) * (fg% - bg%), foreground the customers
            # above the balance, background all customers; positive scores only
            rows = self.q(f"""
                WITH fg AS (SELECT c_mktsegment AS key, count(*) AS objects FROM customer
                            WHERE c_acctbal > {op['min_bal']} GROUP BY 1),
                     bg AS (SELECT c_mktsegment AS key, count(*) AS bg_count FROM customer GROUP BY 1),
                     n AS (SELECT (SELECT count(*) FROM customer WHERE c_acctbal > {op['min_bal']})::DOUBLE AS fg_n,
                                  (SELECT count(*) FROM customer)::DOUBLE AS bg_n)
                SELECT key, objects, bg_count,
                       ((objects / fg_n) / (bg_count / bg_n)) * ((objects / fg_n) - (bg_count / bg_n)) AS score
                FROM fg JOIN bg USING (key), n""")
            return sorted((k, int(a), int(b), float(s)) for k, a, b, s in rows if s > 0)
        if name == "traverse.xg":
            ks = ",".join(map(str, op["orders"]))
            return sorted(r[0] for r in self.q(
                f"SELECT '/tpch/orders/' || o_orderkey FROM orders WHERE o_orderkey IN ({ks}) "
                f"UNION SELECT '/tpch/customer/' || o_custkey FROM orders WHERE o_orderkey IN ({ks}) "
                f"UNION SELECT '/tpch/nation/' || c_nationkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderkey IN ({ks}))"))
        if name == "traverse.yg":
            found = [r[0] for r in self.q(
                f"SELECT '/tpch/customer/' || c_custkey FROM customer WHERE c_nationkey = {op['nation']} AND c_mktsegment = '{op['seg']}'")]
            return sorted(found + [f"/tpch/nation/{op['nation']}"])
        if name == "traverse.gqp":
            ks = ",".join(map(str, op["orders"]))
            return sorted(r[0] for r in self.q(
                f"SELECT '/tpch/orders/' || o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey "
                f"WHERE o_orderkey IN ({ks}) AND c_mktsegment = '{op['seg']}'"))
        if name == "sparql.bgp":
            rows = self.q(f"SELECT '/tpch/customer/' || c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
                          f"WHERE c_mktsegment = '{op['seg']}' AND c_acctbal > {op['bal']}")
            return sorted(rows)
        if name == "sparql.optional_path":
            rows = self.q(f"SELECT '/tpch/customer/' || c_custkey, '/tpch/region/' || n_regionkey, "
                          f"CASE WHEN o_orderkey IS NULL THEN NULL ELSE '/tpch/orders/' || o_orderkey END "
                          f"FROM customer JOIN nation ON c_nationkey = n_nationkey LEFT JOIN orders ON o_custkey = c_custkey "
                          f"WHERE c_mktsegment = '{op['seg']}' AND c_acctbal > {op['bal']}")
            return sorted(rows, key=lambda r: (r[0], r[1], r[2] or ""))
        if name == "sparql.group":
            rows = self.q(f"SELECT c_mktsegment, count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
                          f"WHERE o_orderstatus = '{op['status']}' AND o_totalprice < {op['max_price']} GROUP BY 1")
            return sorted((s, str(k)) for s, k in rows)
        if name == "feed.consume":
            if op["seg"]:
                keys = [r[0] for r in self.q(f"SELECT c_custkey FROM customer WHERE c_mktsegment = '{op['seg']}' ORDER BY 1")]
                paths = [f"/tpch/customer/{k}" for k in keys]
            else:
                paths = [f"/tpch/supplier/{k}" for (k,) in self.q("SELECT s_suppkey FROM supplier ORDER BY 1")]
            c = op["chunk"]
            out = []
            for i in range(2):
                got = paths[i * c:(i + 1) * c]
                out.append((200 if got else 204, got))
            return out
        if name == "feed.bulk":
            keys = [r[0] for r in self.q(f"SELECT p_partkey FROM part ORDER BY 1 LIMIT {op['length_hint']}")]
            return (200, sorted(f"/tpch/part/{k}" for k in keys))
        raise KeyError(name)

    # -- analytics -----------------------------------------------------------

    def edges(self, fields) -> list[tuple[str, str]]:
        key = tuple(sorted(fields))
        if key not in self._edges:
            sql = " UNION ".join(EDGE_SQL[f] for f in key)
            self._edges[key] = self.q(sql)
        return self._edges[key]

    def pagerank(self, fields, iterations: int, damping: float) -> dict[str, float]:
        e = self.edges(fields)
        nodes = sorted({a for a, _ in e} | {b for _, b in e})
        ix = {n: i for i, n in enumerate(nodes)}
        src = np.array([ix[a] for a, _ in e])
        dst = np.array([ix[b] for _, b in e])
        odeg = np.bincount(src, minlength=len(nodes)).astype(float)
        rank = np.ones(len(nodes))
        for _ in range(iterations):
            contrib = np.bincount(dst, weights=rank[src] / odeg[src], minlength=len(nodes))
            rank = (1.0 - damping) + damping * contrib
        return {n: float(rank[i]) for n, i in ix.items()}

    def embeddings(self):
        if self._emb is None:
            rows = self.q("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
            ids = np.array([r[0] for r in rows])
            m = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            self._emb = (ids, m / np.where(nrm == 0, 1, nrm))
        return self._emb

    def documents(self) -> dict[int, set[str]]:
        if self._docs is None:
            self._docs = {i: shingles(t) for i, t in self.q("SELECT doc_id, text FROM documents")}
        return self._docs


def shingles(text: str, k: int = 3) -> set[str]:
    words = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
    m = max(len(words) - k, 0) + 1
    return {" ".join(w for w in words[j:j + k]) for j in range(m)}


def _close(a: float, b: float, tol: float) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


def check_analytics(orc: Oracle, op: dict, rows: list[dict], notes: list | None = None) -> str | None:
    """None if the written result is right, else a one-line reason."""
    name = op["name"]
    if name == "analytics.pagerank":
        exp = orc.pagerank(op["fields"], op["iterations"], op["damping"])
        got = {r["path"]: r["rank"] for r in rows}
        if set(got) != set(exp):
            return f"node set differs: {len(got)} vs {len(exp)}"
        bad = [p for p in exp if not _close(got[p], exp[p], 1e-9)]
        return f"{len(bad)} ranks differ, e.g. {bad[0]}" if bad else None
    if name == "analytics.knn_graph":
        ids, m = orc.embeddings()
        ix = {int(i): j for j, i in enumerate(ids)}
        members = [int(i) for i in ids if i % op["mod"] != op["drop"]]
        pairs = [(r["src"], r["dst"], r["cosine"]) for r in rows]
        mset = set(members)
        per: dict[int, list[int]] = defaultdict(list)
        for a, b, c in pairs:
            if a not in mset or b not in mset:
                return f"pair ({a}, {b}) outside the input"
            exact = float(m[ix[a]] @ m[ix[b]])
            if abs(c - exact) > 2e-6:
                return f"cosine ({a}, {b}) = {c}, recomputed {exact:.6f}"
            per[a].append(b)
        k = op["k"]
        if any(len(v) > k for v in per.values()):
            return "a node has more than k neighbours"
        if any(a == b for a, b, _ in pairs):
            return "self edge"
        sub = np.array([ix[i] for i in members])
        recalls = []
        for q in members:
            sims = m[sub] @ m[ix[q]]
            order = [members[j] for j in np.argsort(-sims, kind="stable") if members[j] != q]
            truth = set(order[:k])
            recalls.append(len(truth & set(per[q])) / k)
        rec = float(np.mean(recalls))
        if notes is not None:
            notes.append(f"{name} recall {rec:.3f}")
        return None if rec >= RECALL_FLOOR[name] else f"recall {rec:.3f} below floor {RECALL_FLOOR[name]}"
    if name == "analytics.minhash":
        docs = orc.documents()
        keep = [i for i in docs if i % op["mod"] not in op["drop"]]
        t = op["threshold"]
        found = set()
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            if a not in docs or b not in docs or a % op["mod"] in op["drop"] or b % op["mod"] in op["drop"]:
                return f"pair ({a}, {b}) outside the input"
            sa, sb = docs[a], docs[b]
            j = len(sa & sb) / len(sa | sb)
            if abs(round(j, 6) - r["jaccard"]) > 1.5e-6 or j < t:
                return f"jaccard ({a}, {b}) = {r['jaccard']}, recomputed {j:.6f}"
            found.add((min(a, b), max(a, b)))
        truth = set()
        for x in range(len(keep)):
            for y in range(x + 1, len(keep)):
                a, b = keep[x], keep[y]
                sa, sb = docs[a], docs[b]
                if len(sa & sb) / len(sa | sb) >= t:
                    truth.add((min(a, b), max(a, b)))
        rec = len(found & truth) / len(truth) if truth else 1.0
        if notes is not None:
            notes.append(f"{name} recall {rec:.3f}")
        return None if rec >= RECALL_FLOOR[name] else f"recall {rec:.3f} below floor {RECALL_FLOOR[name]}"
    raise KeyError(name)


def same(got, exp) -> bool:
    """Structural equality where numbers compare as floats and an Approx
    allows its estimator's error."""
    if isinstance(exp, Approx):
        return isinstance(got, int) and abs(got - exp.value) <= max(1.0, CARD_REL_ERR * exp.value)
    if isinstance(exp, float) or isinstance(got, float):
        try:
            return math.isclose(float(got), float(exp), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    if isinstance(exp, dict):
        return isinstance(got, dict) and got.keys() == exp.keys() and all(same(got[k], exp[k]) for k in exp)
    if isinstance(exp, (list, tuple)):
        return isinstance(got, (list, tuple)) and len(got) == len(exp) and all(same(a, b) for a, b in zip(got, exp))
    return got == exp
