"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last two tests start Spark and take about a minute together.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import datagen  # noqa: E402
import spans as SP  # noqa: E402
import stats as ST  # noqa: E402
import workloads as W  # noqa: E402

SIZES = datagen.sizes(0.3)


def _constants(ops):
    return [{k: v for k, v in op.items() if k not in ("id", "cls", "name")} for op in ops]


def test_same_seed_same_inputs_other_seed_other_constants():
    a = W.make_ops(7, SIZES, 2)
    b = W.make_ops(7, SIZES, 2)
    c = W.make_ops(8, SIZES, 2)
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)
    assert _constants(a) != _constants(c)


def test_read_mix_composition_does_not_depend_on_seed():
    names = lambda s: sorted(op["name"] for op in W.make_ops(s, SIZES, 2) if op["cls"] != "analytics")  # noqa: E731
    assert names(1) == names(2)
    block = W.make_ops(3, SIZES, 1)
    classes = [op["cls"] for op in block]
    assert {c: classes.count(c) for c in W.READ_BLOCK} == W.READ_BLOCK
    # one block runs every agg template, so every ap type, in each run
    assert {op["name"] for op in block if op["cls"] == "agg"} == set(W.READ_TEMPLATES["agg"])
    assert sorted(op["name"] for op in W.make_ops(3, SIZES, 2) if op["cls"] == "analytics") == sorted(W.READ_ANALYTICS)


def test_approximate_counts_allow_the_estimator_error():
    import oracle

    assert oracle.same(([("A", 3)], [26]), ([("A", 3)], [oracle.Approx(25)]))
    assert oracle.same([101], [oracle.Approx(110)])
    assert not oracle.same([98], [oracle.Approx(110)])
    assert not oracle.same([28], [oracle.Approx(25)])


def test_write_plan_is_seeded():
    import writes as WR

    hot, cold = WR.candidates(50, 4)
    base = {p: ("ObjectInfoton", {"name": [WR.sfv(p)], "rdfType": [WR.sfv("Customer")], "inNation": [WR.sfv("/tpch/nation/1")]}) for p in hot + cold}
    a = WR.plan(4, 3, base, hot, cold)
    b = WR.plan(4, 3, base, hot, cold)
    hot5, cold5 = WR.candidates(50, 5)
    c = WR.plan(5, 3, base, hot5, cold5)
    assert repr(a) == repr(b)
    assert repr(a) != repr(c)
    assert base[hot[0]][1].get("tag") is None  # the fold never mutates the base state


def test_datagen_is_deterministic():
    t1, t2 = datagen.tables(0.02, 3), datagen.tables(0.02, 3)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["customer"].equals(datagen.tables(0.02, 4)["customer"])
    li = t1["lineitem"].to_pydict()
    keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
    assert len(keys) == len(set(keys))


def test_tail_rule_keeps_ten_samples_beyond():
    for n in (11, 18, 20, 25, 40, 100, 1000):
        xs = [float(i) for i in range(n)]
        name, v = ST.tail(xs)
        p = int(name[1:])
        assert sum(1 for x in xs if x > v) >= ST.MIN_BEYOND
        # one percentile higher would leave fewer than ten beyond
        if p < 99:
            assert sum(1 for x in xs if x > ST.percentile(xs, p + 1)) < ST.MIN_BEYOND
    assert ST.tail([1.0] * 10) is None
    assert ST.tail([float(i) for i in range(40)])[0] == "p75"
    assert ST.tail([float(i) for i in range(20)])[0] == "p50"
    assert ST.tail([float(i) for i in range(1000)])[0] == "p99"


def test_median():
    assert ST.median([3.0, 1.0, 2.0]) == 2.0
    assert ST.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def _canned_log():
    def task(stage, launch, finish, run_ms, gc=0, sr=0, sw=0, spill=0, inb=0, inr=0, failed=False):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed, "Getting Result Time": 0},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor Deserialize Time": 1, "Result Serialization Time": 0,
                "JVM GC Time": gc, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Input Metrics": {"Bytes Read": inb, "Records Read": inr},
                "Output Metrics": {"Bytes Written": 0},
            },
        }

    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000, "Stage IDs": [0, 1],
         "Properties": {"callSite.short": "collect at /x/cm_well_spark/operators/search.py:120", "spark.jobGroup.id": "op3"}},
        task(0, 1_000_010, 1_000_110, 90, gc=5, sw=300, inb=1000, inr=50),
        task(0, 1_000_010, 1_000_410, 390, sw=200, inb=1000, inr=50),
        task(1, 1_000_420, 1_000_470, 45, sr=500, spill=64),
        task(1, 1_000_420, 1_000_480, 55, sr=0, failed=True),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_002_000, "Stage IDs": [2],
         "Properties": {"callSite.short": "count at /x/cm_well_spark/model/compaction.py:9"}},
        task(2, 1_002_001, 1_002_101, 99),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_200},
    ]


def test_event_log_fold(tmp_path):
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in _canned_log()) + "\n")
    jobs = SP.fold_jobs(SP.read_event_log(str(p)))
    assert [j["job"] for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0["site_file"] == "search" and j1["site_file"] == "compaction"
    assert j0["group"] == "op3" and j1["group"] is None
    assert j0["tasks"] == 4 and j0["failed_tasks"] == 1 and j0["n_stages"] == 2
    assert j0["task_s"] == pytest.approx(0.1 + 0.4 + 0.05 + 0.06)
    assert j0["gc_s"] == pytest.approx(0.005)
    assert j0["shuffle_write"] == 500 and j0["shuffle_read"] == 500 and j0["spill"] == 64
    assert j0["input_bytes"] == 2000 and j0["input_rows"] == 100
    assert j0["skew"] == pytest.approx(0.4 / 0.4)  # 2 tasks: median is the upper one
    assert j0["end"] - j0["submit"] == pytest.approx(0.5)
    # scheduler delay = duration - run - deserialize - serialize - result fetch
    assert j0["sched_delay_s"] == pytest.approx((10 + 10 + 5 + 5 - 4) / 1000.0)
    # rolling-log directories are read in part order
    d = tmp_path / "eventlog_v2_app-2"
    d.mkdir()
    ev = _canned_log()
    (d / "events_2_app-2").write_text("\n".join(json.dumps(e) for e in ev[5:]) + "\n")
    (d / "events_1_app-2").write_text("\n".join(json.dumps(e) for e in ev[:5]) + "\n")
    assert SP.find_event_log(str(tmp_path), "app-2") == str(d)
    assert len(SP.fold_jobs(SP.read_event_log(str(d)))) == 2


def test_jobs_attach_to_innermost_span_of_their_op():
    spans = [
        {"id": 0, "name": "search.segment_range", "layer": "op", "op": 3, "parent": None, "start": 999.9, "end": 1001.0},
        {"id": 1, "name": "search", "layer": "operators.search", "op": 3, "parent": 0, "start": 999.95, "end": 1000.2},
        {"id": 2, "name": "fetch", "layer": "client", "op": 3, "parent": 0, "start": 1000.3, "end": 1000.9},
        {"id": 3, "name": "write_batch", "layer": "model.compaction", "op": 4, "parent": None, "start": 1001.5, "end": 1002.5},
    ]
    jobs = SP.fold_jobs(_canned_log())
    owner = SP.attribute_jobs(jobs, spans)
    assert owner == {0: 1, 1: 3}


def test_span_recorder_self_time_and_union():
    rec = SP.Recorder()
    rec.enabled = True
    inner = rec.wrap(lambda: 1, "parse_qp", "parsers")
    outer = rec.wrap(lambda: inner() + inner(), "search", "operators.search")
    assert outer() == 2
    assert [s["layer"] for s in rec.spans] == ["operators.search", "parsers", "parsers"]
    assert rec.spans[1]["parent"] == 0 and rec.stack == []
    st = SP.self_times(rec.spans)
    whole = rec.spans[0]["end"] - rec.spans[0]["start"]
    kids = sum(s["end"] - s["start"] for s in rec.spans[1:])
    assert st[0] == pytest.approx(whole - kids)
    assert SP.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    rec.enabled = False
    assert outer() == 2 and len(rec.spans) == 3


@pytest.fixture(scope="module")
def spark():
    import run as R

    os.environ.update(R.host_env())
    os.environ["CMW_EXTRA_CONF"] = "spark.ui.showConsoleProgress=false"
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(R.WORK, d), exist_ok=True)
    from cm_well_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    R.stop_spark(s)


def test_store_rebuild_is_kept_out_of_setup(spark, tmp_path):
    """A store rebuilt because its stamp no longer matches, as an edit of
    any model/*.py file leaves it, counts as a build: it is reported as
    ingest and left out of setup_s. A matching stamp is no build."""
    import run as R

    from cm_well_spark.model import lakehouse

    data, root = str(tmp_path / "tiny"), str(tmp_path / "lake")
    rows = datagen.write(data, 0.01, 6)

    def opened():
        b = R.Bench(argparse.Namespace(trace=0))
        b.spark, b.t_start = spark, time.time()
        b.open_store(data, rows, root)
        b.mark_setup()
        return b

    first = opened()
    assert first.ingest is not None and first.one_time_build_s > 0
    hit = opened()
    assert hit.ingest is None and hit.one_time_build_s == 0
    with open(os.path.join(lakehouse.lakehouse_dir(data, root), "_STAMP.json"), "w") as fh:
        fh.write("[]")
    rebuilt = opened()
    assert rebuilt.ingest == (rows, rebuilt.one_time_build_s) and rebuilt.one_time_build_s > 1.0
    assert 0 <= rebuilt.setup_s < 0.5


def test_write_verification_fold_on_a_small_store(spark, tmp_path):
    """write_batch + compaction on a tiny generated store, every read
    checked against the apply_command fold; a wrong expectation is caught."""
    import oracle
    import writes as WR

    from cm_well_spark.model import compaction, lakehouse
    from cm_well_spark.operators import consume as C

    data = str(tmp_path / "tiny")
    datagen.write(data, 0.01, 5)  # about sf0.001: 50 customers, ~1k lineitems
    store = lakehouse.materialize(spark, data, root=str(tmp_path / "lake"), force=True)
    st = W.Store(spark, data, root=str(tmp_path / "lake"))
    hot, cold = WR.candidates(datagen.sizes(0.01)["customer"], 9)
    base, wm = WR.base_state(store, hot + cold)
    assert set(base) == set(hot + cold)
    cycles = WR.plan(9, 2, base, hot, cold)
    feed = {"token": C.create_consumer(since_ms=wm)}
    checked = 0
    for c in cycles:
        compaction.write_batch(spark, store, WR.commands_df(spark, c["batch"]))
        before = [rd for rd in c["reads"] if not rd.get("after_compact")]
        after = [rd for rd in c["reads"] if rd.get("after_compact")]
        if c["compact"]:
            assert len(after) == 1
        for rd in before + (["compact"] if c["compact"] else []) + after:
            if rd == "compact":
                compaction.compact(spark, store)
                continue
            got = WR.run_read(st, rd, feed)
            assert oracle.same(got, rd["expected"]), (rd["name"], got, rd["expected"])
            checked += 1
    assert cycles[-1]["compact"]
    assert checked == sum(len(c["reads"]) for c in cycles) >= 2 * len(WR.READS_PER_CYCLE)
    rd = next(r for r in cycles[-1]["reads"] if r["name"] == "point.batch_get")
    wrong = [(p, dict(f, tag=["not-written"])) for p, f in rd["expected"]]
    assert not oracle.same(WR.run_read(st, rd, feed), wrong)
