"""Per-layer metrics of a traced run: spans folded with the Spark event log."""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

import spans as SP

LOAD_FNS = ("load_infotons", "load_triples", "load_predicate_stats")


def per_layer(b, app_id: str, log_dir: str) -> dict:
    """{metric: (value, unit, n)}; value None marks not applicable."""
    rec = SP.REC
    t0, t1 = b.timed_wall
    sp = [s for s in rec.spans if s["end"] is not None and s["start"] >= t0 - 1e-3 and s["end"] <= t1 + 1e-3]
    ops = [s for s in sp if s["layer"] == "op"]
    n_ops = max(1, len(ops))
    wall = t1 - t0
    selft = SP.self_times(sp)
    m: dict[str, tuple] = {}

    def by_layer(layer):
        return [s for s in sp if s["layer"] == layer]

    for layer in ("parsers", "plans"):
        ss = by_layer(layer)
        m[f"{layer}.calls"] = (len(ss), "count", len(ss))
        m[f"{layer}.busy_s"] = (SP.union_s((s["start"], s["end"]) for s in ss), "s", len(ss))
    total_build = 0.0
    for layer in SP.OPERATOR_LAYERS + ["formats.render"]:
        ss = by_layer(layer)
        v = sum(selft[s["id"]] for s in ss)
        if layer != "formats.render":
            total_build += v
        m[f"{layer}.build_s"] = (v if ss else None, "s", len(ss))
    m["operators.build_s"] = (total_build, "s", n_ops)

    # Spark event log
    path = SP.find_event_log(log_dir, app_id)
    jobs = SP.fold_jobs(SP.read_event_log(path)) if path else []
    if path:
        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    jobs = [j for j in jobs if t0 - 1e-3 <= j["submit"] <= t1 + 1e-3]
    owner = SP.attribute_jobs(jobs, sp)
    by_id = {s["id"]: s for s in sp}

    def layer_of(sid):
        return by_id[sid]["layer"] if sid is not None else None

    client_jobs = [j for j in jobs if layer_of(owner[j["job"]]) == "client"]
    probe = [j for j in jobs if layer_of(owner[j["job"]]) not in ("client", "op", None)]
    m["build.probe_jobs"] = (len(probe), "count", n_ops)
    m["build.probe_jobs_per_op"] = (len(probe) / n_ops, "jobs/op", n_ops)
    m["spark.plan_s"] = (b.plan_s, "s", n_ops)
    m["spark.exec_s"] = (sum(j["end"] - j["submit"] for j in jobs), "s", len(jobs))
    op_of = {}
    for j in jobs:
        sid = owner[j["job"]]
        while sid is not None and by_id[sid]["layer"] != "op":
            sid = by_id[sid]["parent"]
        op_of[j["job"]] = by_id[sid]["name"].split(".")[0] if sid is not None else "other"
    per_cls = defaultdict(float)
    for j in jobs:
        per_cls[op_of[j["job"]]] += j["end"] - j["submit"]
    for cls, v in per_cls.items():
        m[f"spark.exec_s.{cls}"] = (v, "s", sum(1 for j in jobs if op_of[j["job"]] == cls))
    m["spark.jobs"] = (len(jobs), "count", len(jobs))
    m["spark.stages"] = (sum(j["n_stages"] for j in jobs), "count", len(jobs))
    m["spark.tasks"] = (sum(j["tasks"] for j in jobs), "count", len(jobs))
    m["spark.task_busy_s"] = (sum(j["task_s"] for j in jobs), "s", len(jobs))
    m["spark.scheduler_delay_s"] = (sum(j["sched_delay_s"] for j in jobs), "s", len(jobs))
    m["spark.gc_s"] = (sum(j["gc_s"] for j in jobs), "s", len(jobs))
    m["spark.shuffle_read_bytes"] = (sum(j["shuffle_read"] for j in jobs), "bytes", len(jobs))
    m["spark.shuffle_write_bytes"] = (sum(j["shuffle_write"] for j in jobs), "bytes", len(jobs))
    m["spark.spill_bytes"] = (sum(j["spill"] for j in jobs), "bytes", len(jobs))
    m["spark.task_skew"] = (max([j["skew"] for j in jobs] or [1.0]), "ratio", len(jobs))
    m["spark.failed_tasks"] = (sum(j["failed_tasks"] for j in jobs), "count", len(jobs))
    m["spark.input_bytes"] = (sum(j["input_bytes"] for j in jobs), "bytes", len(jobs))
    in_rows = sum(j["input_rows"] for j in jobs)
    m["spark.input_rows_per_result_row"] = (in_rows / max(1, b.rows_returned), "ratio", b.rows_returned)
    # a job without a Python call site (one Spark starts on its own, such
    # as a broadcast or a file write) goes to the module of its span
    site = {j["job"]: j["site_file"] if j["site_file"] != "unknown" or owner[j["job"]] is None
            else layer_of(owner[j["job"]]).rsplit(".", 1)[-1] for j in jobs}
    per_file = defaultdict(float)
    for j in jobs:
        per_file[site[j["job"]]] += j["task_s"]
    for f, v in per_file.items():
        m[f"spark.task_s.{f}"] = (v, "s", sum(1 for j in jobs if site[j["job"]] == f))
    m["spark.cached_relations"] = (b.cached_max, "count", n_ops)

    # storage layers
    loads = [s for s in sp if s["name"] == "_load"]
    m["model.lakehouse.load_calls"] = (len(loads), "count", len(loads))
    m["model.lakehouse.load_s"] = (SP.union_s((s["start"], s["end"]) for s in sp if s["name"] in LOAD_FNS), "s", len(loads))
    m["model.lakehouse.frame_reuse_ratio"] = (sum(1 for s in loads if s.get("hit")) / len(loads) if loads else None, "ratio", len(loads))
    st = [s for s in sp if s["name"] == "load_predicate_stats"]
    m["model.lakehouse.stats_stale_ratio"] = (sum(1 for s in st if s.get("stale")) / len(st) if st else None, "ratio", len(st))
    # the write store's cold ingest happens in set-up, on the run that builds it
    mat = [s for s in (rec.spans if b.args.workload == "write_mix" else sp)
           if s["name"] == "materialize" and s["end"] is not None and s["end"] - s["start"] > 0.5]
    ing = _ingest_split(rec.spans, mat[-1]) if mat else None
    m["model.lakehouse.materialize_s"] = (mat[-1]["end"] - mat[-1]["start"] if mat else None, "s", len(mat))
    for k in ("ingest_infotons_write_s", "ingest_triples_write_s", "ingest_stats_s"):
        m[f"model.lakehouse.{k}"] = (ing[k] if ing else None, "s", len(mat))

    wb = [s for s in sp if s["name"] == "write_batch"]
    cp = [s for s in sp if s["name"] == "compact"]
    rc = [s["id"] for s in sp if s["name"] in ("reconciled_infotons", "reconciled_triples")]
    is_write = b.args.workload == "write_mix"
    m["model.compaction.write_batch_s"] = (sum(s["end"] - s["start"] for s in wb) if wb else None, "s", len(wb))
    m["model.compaction.rows_written"] = (b.extra_layer.get("rows_written", 0) if is_write else 0, "count", len(wb))
    m["model.compaction.deltas_pending_mean"] = (sum(b.deltas_seen) / len(b.deltas_seen) if b.deltas_seen else 0.0, "count", len(b.deltas_seen))
    m["model.compaction.reconcile_jobs"] = (sum(1 for j in jobs if _inside(owner[j["job"]], rc, by_id)), "count", len(rc))
    m["model.compaction.compact_s"] = (sum(s["end"] - s["start"] for s in cp) if cp else None, "s", len(cp))
    m["model.compaction.compact_incremental_ratio"] = (sum(1 for s in cp if s.get("mode") == "incremental") / len(cp) if cp else None, "ratio", len(cp))
    user_bytes = b.extra_layer.get("delta_bytes", 0) if is_write else 0
    cp_ids = [s["id"] for s in cp]
    rewritten = sum(j["output_bytes"] for j in jobs if _inside(owner[j["job"]], cp_ids, by_id))
    m["model.compaction.bytes_rewritten_per_user_byte"] = (rewritten / user_bytes if user_bytes else None, "ratio", len(cp))

    cl = by_layer("client")
    m["client.collect_s"] = (SP.union_s((s["start"], s["end"]) for s in cl), "s", len(cl))
    m["client.rows_returned"] = (b.rows_returned, "count", len(cl))
    m["client.jobs"] = (len(client_jobs), "count", len(cl))
    # share of the timed wall inside a layer span: a parse, plan, operator,
    # model or source call, a render, or the client's request, fetch or write
    inner = [(s["start"], s["end"]) for s in sp if s["layer"] != "op"]
    m["trace.span_coverage"] = (SP.union_s(inner) / wall if wall > 0 else None, "ratio", len(inner))
    base = b.untraced_qps
    qps = len(b.lat) / wall if wall > 0 else None
    m["trace.overhead_pct"] = (100.0 * (base - qps) / base if base and qps else None, "%", len(b.lat))
    return m


def _inside(sid, roots: list[int], by_id) -> bool:
    rs = set(roots)
    while sid is not None:
        if sid in rs:
            return True
        sid = by_id[sid]["parent"] if sid in by_id else None
    return False


def _ingest_split(all_spans, mat: dict) -> dict | None:
    """Materialize's phases from the spans it opens: build_infotons (lazy
    build), then the infotons write, triples_of (lazy), the triples write,
    and collect_predicate_stats."""
    inside = [s for s in all_spans if s["end"] is not None and s["start"] >= mat["start"] and s["end"] <= mat["end"]]

    def first(name):
        return next((s for s in inside if s["name"] == name), None)

    bi, to, cs = first("build_infotons"), first("triples_of"), first("collect_predicate_stats")
    if not (bi and to and cs):
        return None
    return {
        "ingest_infotons_write_s": to["start"] - bi["end"],
        "ingest_triples_write_s": cs["start"] - to["end"],
        "ingest_stats_s": cs["end"] - cs["start"],
    }
