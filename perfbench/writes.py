"""write_mix: seeded merge-command batches over a fresh store, reads aimed
at the touched entities, and their expected results from the pure
`operators.merge.apply_command` fold.

`plan` is pure given the base state of the entities it may touch, so the
expected results are all known before the timed phase starts.
"""

from __future__ import annotations

import copy
import json
from datetime import datetime, timedelta

import numpy as np

from workloads import FEED_NOW_MS, SEGMENTS, fetch, paths_df

READS_PER_CYCLE = [
    "point.read_path", "point.read_path", "point.read_path", "point.read_path", "point.batch_get",
    "point.batch_get", "search.tag", "search.tag", "agg.tag_terms", "sparql.tag", "sparql.tag",
    "sparql.tag", "traverse.xg", "feed.consume",
]
COMPACT_EVERY = 3
N_HOT = 6


def sfv(v: str) -> dict:
    return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}


def signature(state) -> tuple:
    """Content identity of a (kind, fields) state: the writer stores no
    new version when a command leaves it unchanged."""
    kind, fields = state
    return kind, tuple(sorted((k, tuple(sorted(json.dumps(v, sort_keys=True, default=str) for v in vs))) for k, vs in fields.items() if vs))


def lexical(state) -> dict[str, list[str]] | None:
    kind, fields = state
    if kind != "ObjectInfoton":
        return None
    return {k: sorted(v["value"] for v in vs) for k, vs in fields.items() if vs}


def candidates(n_customers: int, seed: int) -> tuple[list[str], list[str]]:
    rng = np.random.default_rng([seed, 31])
    perm = [f"/tpch/customer/{int(k)}" for k in rng.permutation(n_customers)]
    return perm[:N_HOT], perm[N_HOT:]


def plan(seed: int, cycles: int, base: dict[str, tuple], hot: list[str], cold: list[str]) -> list[dict]:
    """Cycles of {batch, reads, compact}; every read carries its expected
    result from folding the batches so far over `base`. The last cycle
    always compacts, and every compaction is followed by a
    read-your-writes batch get of everything touched so far."""
    from cm_well_spark.operators.merge import apply_command

    rng = np.random.default_rng([seed, 3])
    state = copy.deepcopy(base)
    cmd_id = 0
    out = []
    lm0 = datetime(2024, 3, 1)
    deleted: set[str] = set()
    touched_all: list[str] = []
    for b in range(cycles):
        cmds = []
        live_cold = [p for p in cold if p not in deleted]
        picks = list(rng.choice(hot, 3, replace=False)) + list(rng.choice(live_cold, 4, replace=False))
        tags = []
        for i, p in enumerate(picks[:6]):
            tag = f"t{seed % 1000}-{b}-{i % 3}"
            tags.append(tag)
            cmds.append({"path": p, "op": "write", "fields": {"tag": [sfv(tag)]}, "delete_fields": None})
        p = picks[6]
        seg = SEGMENTS[int(rng.integers(0, 5))]
        cmds.append({"path": p, "op": "update", "fields": {"mktsegment": [sfv(seg)]}, "delete_fields": {"mktsegment": []}})
        tagged = sorted(q for q, s in state.items() if q not in picks and s[0] == "ObjectInfoton" and "tag" in s[1])
        if tagged:
            cmds.append({"path": tagged[int(rng.integers(0, len(tagged)))], "op": "delete_attributes", "fields": None, "delete_fields": {"tag": []}})
        if b % 2 == 1:
            victims = [q for q in live_cold if q not in picks and q not in [c["path"] for c in cmds]]
            victim = victims[int(rng.integers(0, len(victims)))]
            cmds.append({"path": victim, "op": "delete_path", "fields": None, "delete_fields": None})
            deleted.add(victim)
        new = f"/bench/new/{seed}-{b}"
        cmds.append({"path": new, "op": "write", "fields": {"name": [sfv(f"new {b}")], "rdfType": [sfv("Customer")], "tag": [sfv(tags[0])]}, "delete_fields": None})
        changed = []
        for c in cmds:
            c["seq"] = 1
            c["last_modified"] = lm0 + timedelta(minutes=cmd_id)
            cmd_id += 1
            before = state.get(c["path"], ("missing", {}))
            state[c["path"]] = apply_command(before, c)
            if before[0] == "missing" or signature(before) != signature(state[c["path"]]):
                changed.append(c["path"])
        touched = [c["path"] for c in cmds]
        touched_all.extend(t for t in touched if t not in touched_all)
        reads = []
        for name in READS_PER_CYCLE:
            reads.append(_read(name, rng, state, touched, hot, tags, changed))
        compact = (b + 1) % COMPACT_EVERY == 0 or b == cycles - 1
        if compact:
            reads.append({"name": "point.batch_get", "paths": sorted(touched_all), "expected": _batch(state, touched_all), "after_compact": True})
        out.append({"batch": cmds, "reads": reads, "compact": compact})
    return out


def _batch(state, paths):
    return sorted((p, lexical(state[p])) for p in paths if lexical(state.get(p, ("missing", {}))) is not None)


def _read(name: str, rng, state, touched, hot, tags, changed) -> dict:
    if name == "point.read_path":
        p = touched[int(rng.integers(0, len(touched)))]
        lex = lexical(state.get(p, ("missing", {})))
        return {"name": name, "path": p, "expected": [] if lex is None else [(p, lex)]}
    if name == "point.batch_get":
        return {"name": name, "paths": sorted(hot), "expected": _batch(state, hot)}
    live = {p: lexical(s) for p, s in state.items() if lexical(s) is not None}
    if name == "search.tag":
        tag = tags[int(rng.integers(0, len(tags)))]
        return {"name": name, "tag": tag, "expected": sorted(p for p, f in live.items() if tag in f.get("tag", []))}
    if name == "agg.tag_terms":
        counts: dict[str, int] = {}
        for p, f in live.items():
            if "Customer" in f.get("rdfType", []):
                for v in f.get("tag", []):
                    counts[v] = counts.get(v, 0) + 1
        return {"name": name, "expected": sorted(counts.items())}
    if name == "sparql.tag":
        tag = tags[int(rng.integers(0, len(tags)))]
        return {"name": name, "tag": tag, "expected": sorted((p,) for p, f in live.items() if tag in f.get("tag", []))}
    if name == "traverse.xg":
        p = hot[int(rng.integers(0, len(hot)))]
        return {"name": name, "path": p, "expected": sorted({p} | set(live[p].get("inNation", [])))}
    if name == "feed.consume":
        # every new version of the batch, and nothing else
        return {"name": name, "expected": sorted(set(changed))}
    raise KeyError(name)


def commands_df(spark, cmds):
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    rows = [(c["path"], c["seq"], c["op"], c["fields"], c["delete_fields"], c["last_modified"], "https") for c in cmds]
    return spark.createDataFrame(rows, COMMAND_SCHEMA)


def base_state(store_dir: str, paths) -> tuple[dict[str, tuple], int]:
    """Current versions of `paths` read straight from the store's files
    (not through the program), plus the store's max index_time."""
    import pyarrow.dataset as ds

    d = ds.dataset(f"{store_dir}/infotons", format="parquet", partitioning="hive")
    t = d.to_table(columns=["path", "fields", "current", "kind", "index_time"])
    wm = max(t.column("index_time").to_pylist())
    want = set(paths)
    out = {}
    for r in t.to_pylist():
        if r["path"] in want and r["current"]:
            out[r["path"]] = (r["kind"], {k: [dict(v) for v in vs] for k, vs in (r["fields"] or [])})
    return out, int(wm)


def run_read(st, rd: dict, feed: dict):
    """Execute one write_mix read; returns a result comparable with rd['expected']."""
    from cm_well_spark.operators import aggregations as A
    from cm_well_spark.operators import consume as C
    from cm_well_spark.operators import search as S
    from cm_well_spark.operators import traversal as T
    from cm_well_spark.operators.sparql.compiler import sparql_query

    spark = st.spark
    name = rd["name"]
    if name == "point.read_path":
        rows = fetch(S.read_path(st.inf(), rd["path"]), ["path", "kind", "fields"])
        return [(p, {k: sorted(v["value"] for v in vs) for k, vs in f.items() if vs}) for p, kind, f in rows if kind == "ObjectInfoton"]
    if name == "point.batch_get":
        rows = fetch(S.batch_get(st.inf(), paths_df(spark, rd["paths"])), ["path", "kind", "fields"])
        return sorted((p, {k: sorted(v["value"] for v in vs) for k, vs in f.items() if vs}) for p, kind, f in rows if kind == "ObjectInfoton")
    if name == "search.tag":
        df = S.search(st.inf(), qp=f"tag::{rd['tag']}", sort_by="path", length=1000, triples=st.tri(), stats=st.stats())
        return [p for (p,) in fetch(df, ["path"])]
    if name == "agg.tag_terms":
        tri, stats = st.tri(), st.stats()
        base = S.search(st.inf(), qp="rdfType::Customer", length=None, triples=tri, stats=stats)
        res = A.aggregate(base, "type:term,field::tag,size:1000", triples=tri, stats=stats)[0].df
        return sorted((k, int(n)) for k, n in fetch(res, ["key", "objects"]))
    if name == "sparql.tag":
        df = sparql_query(st.tri(), f'SELECT ?s WHERE {{ ?s <tag> "{rd["tag"]}" }}', stats=st.stats())
        return sorted(tuple(str(v) for v in r) for r in fetch(df))
    if name == "traverse.xg":
        inf = st.inf()
        seeds = S.read_path(inf, rd["path"])
        return sorted(p for (p,) in fetch(T.expand_out(inf, seeds, "inNation", triples=st.tri(), stats=st.stats()), ["path"]))
    if name == "feed.consume":
        tok, chunk, status = C.consume(st.inf(), feed["token"], chunk=3000, now_ms=FEED_NOW_MS)
        feed["token"] = tok
        return sorted({p for (p,) in fetch(chunk, ["path"])})
    raise KeyError(name)
