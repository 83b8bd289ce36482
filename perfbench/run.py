"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 30 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it is the full report (every metric of the workload, with
units, sample counts and not-applicable marks). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import stats as ST  # noqa: E402

DATA_VERSION = "v2"
STORE_SCALE, STORE_DATA_SEED = 0.15, 1  # read_mix's store
WRITE_SCALE, WRITE_DATA_SEED = 0.05, 2  # write_mix's fresh store
# seconds one unit of work takes on the reference host (4 cores); a run
# does round(--seconds / nominal) units, so the same arguments always give
# the same operations and the figures stay comparable between runs
NOMINAL_UNIT_S = {"read_mix": 25.0, "write_mix": 15.0}
MIN_UNITS = {"read_mix": 1, "write_mix": 2}
WORKLOADS = tuple(NOMINAL_UNIT_S)
WARM_OPS = ("search.segment_range",)


def host_env() -> dict[str, str]:
    """Deployment settings from the host, handed to the program by
    environment variable."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = int(min(8192, max(1024, mem_kb // 1024 // 10)))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    return {
        "CMW_DRIVER_MEM": f"{heap_mb}m",
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "CMW_DRIVER_XOPTS": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "CMW_LAKEHOUSE": os.path.join(WORK, "lake"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "CMW_CACHE": "1",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])),
    }


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def cpu_sample() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:]))


def steal_pct(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return 100.0 * d[7] / tot if tot > 0 and len(d) > 7 else 0.0


def tree_hwm_mb(pids: list[int]) -> float:
    """Peak resident memory (VmHWM) summed over the given processes and
    all their descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    seen, stack, total = set(), list(pids), 0
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        stack.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def ensure_data(name: str, scale: float, seed: int) -> tuple[str, int]:
    import datagen

    d = os.path.join(WORK, "data", f"{name}-{DATA_VERSION}-s{scale}-d{seed}")
    stamp = os.path.join(d, "_ROWS")
    if not os.path.exists(stamp):
        if os.path.isdir(d):
            shutil.rmtree(d)
        rows = datagen.write(d, scale, seed)
        with open(stamp, "w") as fh:
            fh.write(str(rows))
    with open(stamp) as fh:
        return d, int(fh.read())


def stamp_state(path: str):
    """What identifies one write of a stamp file: absent, or its
    modification time and contents."""
    try:
        with open(path) as fh:
            return os.stat(path).st_mtime_ns, fh.read()
    except FileNotFoundError:
        return None


def planning_s(df) -> float:
    """analysis + optimization + planning time of the frame's query
    execution, from Spark's QueryPlanningTracker."""
    from py4j.protocol import Py4JError

    try:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        for name in ("analysis", "optimization", "planning"):
            o = phases.get(name)
            if o.isDefined():
                total += o.get().durationMs()
        return total / 1000.0
    except Py4JError:  # a frame whose plan was never tracked
        return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for r, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(r, f))
    return total


class Bench:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.lat: list[tuple[str, float]] = []  # (op name, seconds) of timed queries
        self.writes: list[tuple[str, float]] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.extra: dict[str, tuple] = {}  # name -> (value, unit, n)
        self.cached_max = 0
        self.plan_s = 0.0
        self.rows_returned = 0
        self.deltas_seen: list[int] = []
        self.extra_layer: dict[str, int] = {"rows_written": 0, "delta_bytes": 0}
        self.untraced_qps = None
        self.phases: dict[str, float] = {}
        self.notes: list[str] = []
        self.t_start = T_START
        self.one_time_build_s = 0.0
        self.ingest = None

    # -- op timing -------------------------------------------------------------

    def timed(self, op_name: str, op_id: int, fn, sink=None):
        """Run fn as one timed operation; returns (ok, result)."""
        from spans import REC

        sc = self.spark.sparkContext
        sc.setJobGroup(f"op{op_id}", op_name)
        REC.op_id = op_id
        sid = REC.begin(op_name, "op") if self.trace else None
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception as e:  # a failing op counts, the run goes on
            out, ok = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}", False
        dt = time.perf_counter() - t0
        if sid is not None:
            REC.end(sid)
            self.cached_max = max(self.cached_max, sc._jsc.sc().getPersistentRDDs().size())
        REC.op_id = None
        (sink if sink is not None else self.lat).append((op_name, dt))
        return ok, out

    def check(self, ok, got, expected, label):
        self.attempted += 1
        import oracle

        if not ok:
            self.failures.append(f"{label}: {got}")
        elif not oracle.same(got, expected):
            self.failures.append(f"{label}: wrong output: got {str(got)[:300]} expected {str(expected)[:300]}")

    # -- setup ---------------------------------------------------------------

    def start(self):
        env = host_env()
        os.environ.update(env)
        conf = spark_conf(self.trace)
        os.environ["CMW_EXTRA_CONF"] = ";".join(f"{k}={v}" for k, v in conf.items())
        for d in ("tmp", "spark-local", "lake", "eventlog", "runs"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        self.settings = {k: v for k, v in env.items() if k != "PYTHONPATH"}
        self.settings["CMW_EXTRA_CONF"] = os.environ["CMW_EXTRA_CONF"]
        self.run_dir = os.path.join(WORK, "runs", f"{self.args.workload}-{self.args.seed}-{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)
        self.cpu0 = cpu_sample()

        from spans import REC, install

        import cm_well_spark.session as session

        REC.enabled = False
        install()
        self.install_client(REC)
        self.spark = session.get_spark("perfbench")
        self.phases["session_s"] = time.time() - self.t_start
        self.spark.sparkContext.setCheckpointDir(os.path.join(self.run_dir, "checkpoints"))

    def open_store(self, data: str, rows: int, root: str | None = None) -> None:
        """Materialize a store. The program rebuilds it only when the
        stamp is missing or its fingerprint (source files and the
        model/*.py files) changed; a build rewrites the stamp. The build
        is kept out of setup_s, so a run that pays it stays comparable,
        and its rate is the cold-ingest figure."""
        from cm_well_spark.model.lakehouse import lakehouse_dir, materialize
        from spans import REC

        stamp = os.path.join(lakehouse_dir(data, root), "_STAMP.json")
        before = stamp_state(stamp)
        t0 = time.time()
        REC.enabled = self.trace  # a traced build run splits the ingest into its phases
        materialize(self.spark, data, root)
        REC.enabled = False
        dt = time.time() - t0
        if stamp_state(stamp) != before:
            self.one_time_build_s += dt
            self.ingest = (rows, dt)

    def mark_setup(self) -> None:
        """setup_s: process start to now, less any store build."""
        self.setup_s = time.time() - self.t_start - self.one_time_build_s

    def install_client(self, rec):
        """The client layer: the request frames it sends (key lists,
        command batches), result fetch and result write, with the fetched
        row count and, when tracing, the planning time Spark's
        QueryExecution tracker recorded for the fetched frame."""
        import workloads as W
        import writes as WR

        bench, write_result = self, W.write_result

        def fetch(df, columns=None):
            d = df.select(*columns) if columns is not None else df
            rows = [tuple(r) for r in d.collect()]
            bench.rows_returned += len(rows)
            if bench.trace:
                bench.plan_s += planning_s(d)
            return rows

        def write(df, out_dir, op):
            path = write_result(df, out_dir, op)
            if bench.trace:
                bench.plan_s += planning_s(df)
            return path

        W.fetch = WR.fetch = rec.wrap(fetch, "fetch", "client")
        W.write_result = rec.wrap(write, "write_result", "client")
        W.paths_df = WR.paths_df = rec.wrap(W.paths_df, "paths_df", "client")
        WR.commands_df = rec.wrap(WR.commands_df, "commands_df", "client")

    def warm(self, st):
        """Untimed warm pass: open the store, fill the frame cache, and run
        the WARM_OPS so the first timed op does not meet a cold JVM. The
        warm ops draw keys present in both stores."""
        import datagen
        import workloads as W

        st.inf().count()
        st.tri().count()
        st.stats()
        for op in W.make_ops(0, datagen.sizes(WRITE_SCALE), 1):
            if op["name"] in WARM_OPS:
                W.execute(st, op, os.path.join(self.run_dir, "warm"))

    # -- workloads -----------------------------------------------------------

    def units(self) -> int:
        w = self.args.workload
        return max(MIN_UNITS[w], round(self.args.seconds / NOMINAL_UNIT_S[w]))

    def run(self):
        import datagen
        import workloads as W
        from spans import REC

        self.start()
        w = self.args.workload
        if w == "read_mix":
            self.sizes = datagen.sizes(STORE_SCALE)
            self.store_data, rows = ensure_data("store", STORE_SCALE, STORE_DATA_SEED)
            self.open_store(self.store_data, rows)
            st = W.Store(self.spark, self.store_data)
        else:
            # a fresh copy of the once-built write store per run
            from cm_well_spark.model.lakehouse import lakehouse_dir

            self.wsizes = datagen.sizes(WRITE_SCALE)
            self.write_data, rows = ensure_data("write", WRITE_SCALE, WRITE_DATA_SEED)
            self.open_store(self.write_data, rows)
            root = os.path.join(self.run_dir, "lake")
            shutil.copytree(lakehouse_dir(self.write_data), lakehouse_dir(self.write_data, root))
            st = W.Store(self.spark, self.write_data, root=root)
        self.warm(st)
        self.mark_setup()
        self.phases["warm_s"] = self.setup_s - self.phases["session_s"]
        REC.enabled = self.trace
        getattr(self, "run_" + w)(st)
        REC.enabled = False

    def run_read_mix(self, st):
        import pyarrow.parquet as pq

        import oracle
        import workloads as W

        ops = W.make_ops(self.args.seed, self.sizes, self.units())
        orc = oracle.Oracle(self.store_data)
        exp = {op["id"]: orc.expected(op) for op in ops if op["cls"] != "analytics"}
        out_dir = os.path.join(self.run_dir, "results")
        results = []
        t0 = time.time()
        for op in ops:
            if time.time() - t0 > 3 * self.args.seconds:
                break
            ok, got = self.timed(op["name"], op["id"], lambda: W.execute(st, op, out_dir))
            results.append((op, ok, got))
        self.timed_wall = (t0, time.time())
        for op, ok, got in results:
            label = f"op{op['id']} {op['name']}"
            if op["cls"] != "analytics":
                self.check(ok, got, exp[op["id"]], label)
                continue
            self.attempted += 1
            if not ok:
                self.failures.append(f"{label}: {got}")
                continue
            rows = pq.read_table(got).to_pylist()
            self.rows_returned += len(rows)
            why = oracle.check_analytics(orc, op, rows, self.notes)
            if why:
                self.failures.append(f"{label}: {why}")

    def run_write_mix(self, st):
        import writes as WR

        from cm_well_spark.model import compaction, lakehouse

        spark = self.spark
        store = lakehouse.lakehouse_dir(self.write_data, st.root)
        hot, cold = WR.candidates(self.wsizes["customer"], self.args.seed)
        base, watermark = WR.base_state(store, hot + cold)
        cycles = WR.plan(self.args.seed, self.units(), base, hot, cold)
        from cm_well_spark.operators import consume as C

        feed = {"token": C.create_consumer(since_ms=watermark)}
        results = []
        t_start = time.time()
        op_id = 0

        def read(rd):
            nonlocal op_id
            delta_dir = os.path.join(store, "infotons_delta")
            self.deltas_seen.append(sum(1 for b in os.listdir(delta_dir) if b.startswith("batch=")) if os.path.isdir(delta_dir) else 0)
            ok, got = self.timed(rd["name"], op_id, lambda: WR.run_read(st, rd, feed))
            op_id += 1
            results.append((rd, ok, got))

        for c in cycles:
            if time.time() - t_start > 3 * self.args.seconds:
                break
            ok, got = self.timed("write.batch", op_id, lambda: compaction.write_batch(spark, store, WR.commands_df(spark, c["batch"])), self.writes)
            op_id += 1
            if not ok:
                self.attempted += 1
                self.failures.append(f"write_batch: {got}")
            elif self.trace:  # rows and bytes written feed per-layer metrics only
                self.count_delta(store, got)
            # reads under merge-on-read, then the compaction and the
            # read-your-writes check behind it
            for rd in c["reads"]:
                if not rd.get("after_compact"):
                    read(rd)
            if c["compact"]:
                ok, got = self.timed("write.compact", op_id, lambda: compaction.compact(spark, store), self.writes)
                op_id += 1
                if not ok:
                    self.attempted += 1
                    self.failures.append(f"compact: {got}")
                for rd in c["reads"]:
                    if rd.get("after_compact"):
                        read(rd)
        self.timed_wall = (t_start, time.time())
        for i, (rd, ok, got) in enumerate(results):
            self.check(ok, got, rd["expected"], f"read{i} {rd['name']}")
        # only a run that built the write store saw its cold ingest
        self.extra["ingest_rows_per_s"] = (self.ingest[0] / self.ingest[1] if self.ingest else None, "rows/s", 1 if self.ingest else 0)
        self.extra["store_bytes_per_input_byte"] = (
            dir_bytes(store) / sum(os.path.getsize(os.path.join(self.write_data, f)) for f in os.listdir(self.write_data) if f.endswith(".parquet")),
            "ratio", 1,
        )

    def count_delta(self, store: str, batch: int):
        import pyarrow.parquet as pq

        d = os.path.join(store, "infotons_delta", f"batch={batch}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                self.extra_layer["rows_written"] += pq.read_metadata(os.path.join(d, f)).num_rows
                self.extra_layer["delta_bytes"] += os.path.getsize(os.path.join(d, f))

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> dict:
        lats = [d for _n, d in self.lat]
        wall = self.timed_wall[1] - self.timed_wall[0]
        m = {
            "setup_s": (self.setup_s, "s", 1),
            "queries_per_s": (len(lats) / wall, "ops/s", len(lats)),
            "query_p50_s": (ST.median(lats), "s", len(lats)),
        }
        tail = ST.tail(lats)
        m["query_tail_s"] = (tail[1], "s", len(lats), tail[0]) if tail else (None, "s", len(lats))
        m["peak_rss_mb"] = (self.peak_rss, "MB", 1)
        for cls in ("point", "search", "agg", "traverse", "sparql", "feed", "analytics"):
            xs = [d for n, d in self.lat if n.split(".")[0] == cls]
            m[f"{cls}_p50_s"] = (ST.median(xs) if xs else None, "s", len(xs))
        if self.args.workload == "write_mix":
            wb = [d for n, d in self.writes if n == "write.batch"]
            m["write_batch_p50_s"] = (ST.median(wb), "s", len(wb))
            allw = [d for _n, d in self.writes]
            t = ST.tail(allw)
            m["write_batch_tail_s"] = (t[1], "s", len(allw), t[0]) if t else (max(allw), "s", len(allw), "max")
        for k, v in self.extra.items():
            m[k] = v
        m["failed_op_share"] = (len(self.failures) / max(1, self.attempted), "ratio", self.attempted)
        return m


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it: the
    gateway server exits when its stdin closes."""
    if spark is None:
        return
    import subprocess

    from py4j.protocol import Py4JError

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    try:
        spark.sparkContext._gateway.shutdown()
    except (Py4JError, OSError):
        pass  # the gateway is already gone; the wait below still applies
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the program of this checkout, never another copy on the path
    sys.path.insert(0, ROOT)
    try:
        import cm_well_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(cm_well_spark.__file__))) != ROOT:
        print(f"perfbench: cm_well_spark comes from {cm_well_spark.__file__}, not from {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    b = Bench(args)
    res_file = os.path.join(WORK, "results", f"{args.workload}-untraced.json")
    if b.trace and os.path.exists(res_file):
        with open(res_file) as fh:
            b.untraced_qps = json.load(fh)["queries_per_s"]
    try:
        b.run()
        b.peak_rss = tree_hwm_mb([os.getpid(), b.spark.sparkContext._gateway.proc.pid])
        e2e = b.end_to_end()
        app_id = b.spark.sparkContext.applicationId
        host = {"host.steal_pct": (steal_pct(b.cpu0, cpu_sample()), "%", 1), "host.loadavg_1m": (os.getloadavg()[0], "load", 1)}
    finally:
        stop_spark(getattr(b, "spark", None))
        if hasattr(b, "run_dir"):
            shutil.rmtree(b.run_dir, ignore_errors=True)
    import layers

    # the event log is complete only once the context has stopped
    per_layer = layers.per_layer(b, app_id, os.path.join(WORK, "eventlog")) if b.trace else {}
    per_layer.update(host)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "units": b.units(), "settings": b.settings, "one_time_build_s": b.one_time_build_s,
        "end_to_end": ST.render(e2e), "per_layer": ST.render(per_layer),
        "failures": b.failures[:20], "setup_phases": b.phases, "notes": b.notes,
        "op_p50_s": {n: ST.median([d for m, d in b.lat + b.writes if m == n]) for n in sorted({m for m, _ in b.lat + b.writes})},
    }
    if not b.trace:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(res_file, "w") as fh:
            json.dump({"queries_per_s": e2e["queries_per_s"][0]}, fh)
    print(json.dumps(report, sort_keys=True))
    names = [m["name"] for m in spec["per_layer" if b.trace else "end_to_end"]]
    src = per_layer if b.trace else e2e
    metrics = {}
    for n in names:
        v = src.get(n)
        if v is None or v[0] is None or (isinstance(v[0], float) and math.isnan(v[0])):
            print(f"perfbench: metric {n} has no value on {args.workload}", file=sys.stderr)
            return 3
        metrics[n] = {"value": v[0], "unit": v[1]}
    print(json.dumps({"correct": not b.failures, "attempted": b.attempted, "failed": len(b.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
