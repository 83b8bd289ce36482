"""Traced-run tooling: spans around layer calls, and a fold of Spark's
JSON event log into per-layer metrics.

Spans record (name, layer, op id, start, end, parent). Layer functions
are wrapped by rebinding every module global of the package that refers
to the original function, so calls between the package's own modules
are seen too, not only the benchmark's direct calls.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

# layer -> (module, public functions); the benchmark's own client calls
# (request frames, result fetch and write) are wrapped separately in run.py
LAYERS = {
    "parsers": [
        ("cm_well_spark.parsers.qp", ["parse_qp"]),
        ("cm_well_spark.parsers.ap", ["parse_ap"]),
        ("cm_well_spark.parsers.expansion", ["parse_xg", "parse_yg", "parse_gqp"]),
        ("cm_well_spark.parsers.sort", ["parse_sort_by"]),
        ("cm_well_spark.operators.sparql.parser", ["parse_sparql"]),
    ],
    "plans": [
        ("cm_well_spark.plans.compile", ["compile_filter"]),
        ("cm_well_spark.plans.index_route", ["index_search_paths"]),
        ("cm_well_spark.plans.bounds", ["export_path_bound", "proven_path_bound"]),
        ("cm_well_spark.plans.iterative", ["iter_checkpoint", "iter_checkpoint_lazy", "iter_checkpoint_count"]),
    ],
    "operators.search": [("cm_well_spark.operators.search", ["search", "read_path", "batch_get"])],
    "operators.aggregations": [("cm_well_spark.operators.aggregations", ["aggregate"])],
    "operators.traversal": [("cm_well_spark.operators.traversal", ["expand_out", "expand_paths", "gqp_filter"])],
    "operators.sparql": [("cm_well_spark.operators.sparql.compiler", ["sparql_query"])],
    "operators.consume": [("cm_well_spark.operators.consume", ["create_consumer", "consume", "bulk_consume"])],
    "operators.graph": [("cm_well_spark.operators.graph", ["pagerank", "reference_edges"])],
    "operators.similarity": [("cm_well_spark.operators.similarity", ["knn_graph"])],
    "operators.dedup": [("cm_well_spark.operators.dedup", ["minhash_dedup_pairs"])],
    "formats.render": [("cm_well_spark.formats.render", ["to_json_rows"])],
    "sources": [("cm_well_spark.sources.tables", ["load_table"])],
    "model.lakehouse": [
        ("cm_well_spark.model.lakehouse", ["materialize", "load_infotons", "load_triples", "load_predicate_stats", "_load", "triples_of", "collect_predicate_stats"]),
        ("cm_well_spark.model.builder", ["build_infotons"]),
    ],
    "model.compaction": [
        ("cm_well_spark.model.compaction", ["write_batch", "compact", "reconciled_infotons", "reconciled_triples"])
    ],
}
OPERATOR_LAYERS = [k for k in LAYERS if k.startswith("operators.")]


class Recorder:
    """Span store. `enabled` False makes `span` a plain call."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None

    def begin(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "layer": layer, "op": self.op_id,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.time(), "end": None,
        })
        self.stack.append(sid)
        return sid

    def end(self, sid: int, **extra) -> None:
        s = self.spans[sid]
        s["end"] = time.time()
        s.update(extra)
        self.stack.pop()

    def wrap(self, fn, name: str, layer: str):
        rec = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not rec.enabled:
                return fn(*a, **kw)
            sid = rec.begin(name, layer)
            if name == "_load":
                from cm_well_spark.model import lakehouse

                n0 = len(lakehouse._DF_CACHE)
            try:
                out = fn(*a, **kw)
            except BaseException:
                rec.end(sid, error=True)
                raise
            extra = {}
            if name == "load_predicate_stats":
                extra["stale"] = out is None
            elif name == "_load":
                extra["hit"] = len(lakehouse._DF_CACHE) == n0
            elif name == "compact" and isinstance(out, dict):
                extra["mode"] = out.get("mode")
            rec.end(sid, **extra)
            return out

        wrapper.__wrapped_layer__ = layer
        return wrapper


REC = Recorder()


def install(recorder: Recorder = REC) -> int:
    """Wrap every layer function and rebind all references to it inside
    the loaded package modules. Returns the number of rebindings."""
    import importlib

    originals = {}
    for layer, entries in LAYERS.items():
        for mod_name, names in entries:
            mod = importlib.import_module(mod_name)
            for n in names:
                fn = getattr(mod, n)
                if getattr(fn, "__wrapped_layer__", None):
                    continue
                originals[id(fn)] = (fn, recorder.wrap(fn, n, layer))
    n_bound = 0
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith("cm_well_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                n_bound += 1
    return n_bound


# ---------------------------------------------------------------------------
# span folds
# ---------------------------------------------------------------------------


def union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the duration of its direct children that sit
    in another layer (same-layer children stay in the parent's self time)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans if s["end"] is not None}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None and s["end"] is not None and p in out and by_id[p]["layer"] != s["layer"]:
            out[p] -= s["end"] - s["start"]
    return out


# ---------------------------------------------------------------------------
# Spark event log fold
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> list[dict]:
    """Events of one application log: a single file, or a rolling-log
    directory of events_<n>_<app> files."""
    if os.path.isdir(path):
        parts = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    events = []
    for fp in files:
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold_jobs(events: list[dict]) -> list[dict]:
    """One record per job: submit/end time (s), group, call-site file,
    and the task metrics of its stages summed."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            site = props.get("callSite.short") or ""
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid,
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "site": site,
                "site_file": _site_file(site),
                "stages": set(ev.get("Stage IDs") or []),
                "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "gc_s": 0.0, "sched_delay_s": 0.0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "input_bytes": 0, "input_rows": 0,
                "output_bytes": 0, "stage_task_s": defaultdict(list),
            }
            for sid in jobs[jid]["stages"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            if j is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            j["tasks"] += 1
            if info.get("Failed"):
                j["failed_tasks"] += 1
            dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            run = m.get("Executor Run Time", 0) / 1000.0
            j["task_s"] += dur
            j["stage_task_s"][ev.get("Stage ID")].append(dur)
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            j["sched_delay_s"] += max(
                0.0,
                dur - run - (m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)) / 1000.0
                - info.get("Getting Result Time", 0) / 1000.0,
            )
            sr = m.get("Shuffle Read Metrics") or {}
            j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            im = m.get("Input Metrics") or {}
            j["input_bytes"] += im.get("Bytes Read", 0)
            j["input_rows"] += im.get("Records Read", 0)
            j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    out = []
    for j in sorted(jobs.values(), key=lambda x: x["submit"]):
        if j["end"] is None:
            j["end"] = j["submit"]
        skews = []
        for durs in j["stage_task_s"].values():
            if len(durs) >= 2:
                srt = sorted(durs)
                med = srt[len(srt) // 2]
                if med > 0:
                    skews.append(srt[-1] / med)
        j["skew"] = max(skews) if skews else 1.0
        j["n_stages"] = len(j["stage_task_s"])
        del j["stage_task_s"], j["stages"]
        out.append(j)
    return out


def _site_file(site: str) -> str:
    """'collect at /x/y/search.py:123' -> 'search'; the benchmark's own
    files -> 'client'."""
    if " at " not in site:
        return "unknown"
    loc = site.rsplit(" at ", 1)[1]
    if os.path.dirname(loc.split(":", 1)[0]) == os.path.dirname(os.path.abspath(__file__)):
        return "client"
    base = os.path.basename(loc.split(":", 1)[0])
    return base[:-3] if base.endswith(".py") else base or "unknown"


def find_event_log(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if name in (app_id, f"eventlog_v2_{app_id}"):
            return os.path.join(log_dir, name)
    return None


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, int | None]:
    """job id -> innermost span whose [start, end] holds the job's
    submission, restricted to spans of the job's op group when it has one."""
    closed = [s for s in spans if s["end"] is not None]
    by_op = defaultdict(list)
    for s in closed:
        by_op[s["op"]].append(s)
    out = {}
    for j in jobs:
        op = int(j["group"][2:]) if j["group"] and j["group"].startswith("op") else None
        cands = by_op.get(op, closed) if op is not None else closed
        best = None
        for s in cands:
            if s["start"] - 0.002 <= j["submit"] <= s["end"] + 0.002:
                if best is None or s["start"] >= best["start"]:
                    best = s
        out[j["job"]] = best["id"] if best else None
    return out
