"""Closed-loop benchmark of medvedi-spark.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

One client sends one registered query at a time and waits for its reply, as
one worker of a serving loop does. A request is ``Query.builder(spark, dir)``
plus a full-output checksum action (row count and
``sum(xxhash64(*cols))``), so Catalyst cannot prune the work away.

Every run reads the same fixed tables (``workloads.DATA_DIR``); ``--seed``
drives the order of the requests. Setup starts the session and runs
``warmup_passes`` passes over the workload. Each output's checksum must match
the one stored in ``expected.json``, which was taken from an output the
query's DuckDB oracle accepted (``tools/check_oracle.compare``). A query
whose checksum differs is compared with the oracle again, off the set-up
clock, and its new checksum is taken if the oracle accepts it. ``--record``
checks every query of the workload with the oracle and rewrites its stored
checksums. Timed passes then send the workload's queries in a seed-shuffled
order, starting passes until ``--seconds`` have passed and at least
``MIN_PASSES`` passes have been sent.

The end-to-end metrics are CPU times of this process, the JVM and its Python
workers: ``setup_s`` from process start to the first timed request, and
``cpu_ms_per_req``, the median over the passes of CPU per request. Wall-clock
throughput and latency follow the host's CPU steal, which swings by tens of
percent within minutes on shared machines, so they are per-layer metrics of
the ``client`` (``client.req_per_s``, the median over untraced passes, and
``client.latency_p50_s``, over untraced requests) and are logged on every run.
A request fails if it raises or if its checksum differs.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer
metrics of the traced requests and the tracing overhead, and writes every
span to ``.perfbench/trace-<workload>-<seed>.json``. Either way the last
line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the metric names are checked
against ``BENCHMARK.json``.

Each run works in its own directory under ``.perfbench/`` (``TMPDIR``,
Spark local dirs, warehouse) and removes it on exit.
"""

import time

T_PROCESS = time.perf_counter()  # session.setup_wall_s counts from here, imports included

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import DATA_DIR, WORKLOADS, check_membership  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")  # query -> [row count, hash sum]
MIN_PASSES = 3  # timed, per run

#: per-layer metric -> key of the per-request trace row averaged into it
LAYER_MEANS = {
    "queries.build_s": "build_s",
    "queries.py4j_calls": "py4j_calls",
    "queries.eager_jobs": "eager_jobs",
    "queries.eager_job_s": "eager_job_s",
    "queries.construct_s": "construct_s",
    "catalyst.analysis_ms": "analysis",
    "catalyst.optimization_ms": "optimization",
    "catalyst.planning_ms": "planning",
    "exec.action_s": "action_s",
    "exec.action_jobs": "action_jobs",
    "exec.stages": "stages",
    "exec.stages_skipped": "stages_skipped",
    "exec.tasks": "tasks",
    "exec.cpu_s": "cpu_s",
    "exec.run_s": "run_s",
    "exec.core_util": "core_util",
    "exec.input_bytes": "input_bytes",
    "exec.output_bytes": "output_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes",
    "streaming.queries": "streams",
    "streaming.batches": "batches",
    "streaming.input_rows": "input_rows",
    "persist.release_s": "release_s",
    "persist.released": "released",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Unit of each end-to-end and each per-layer metric, by name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def isolate(run_dir: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``run_dir``."""
    dirs = {sub: os.path.join(run_dir, sub) for sub in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # The JIT stops at C1. With C2, its compiler threads still took 43% of the
    # JVM's CPU a minute into a run, and throughput kept climbing through more
    # than ten passes, so a run of a minute measured mostly the compiler.
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    tempfile.tempdir = None  # re-read TMPDIR


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
        if os.path.isfile(os.path.join(d, f))
    )


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it (the
    driver JVM and its Python workers), reaped children included. Unlike wall
    time, this leaves out time the host's hypervisor gave to other guests."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        kids.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, workload, seed: int, run_dir: str) -> None:
        self.w = workload
        self.seed = seed
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.data_dir = DATA_DIR
        self.session: dict[str, float] = {}
        self.warmup_rates: list[float] = []  # req/s of the warm-up passes, logged
        self.cold: dict[str, float] = {}  # latency of each query's first request, logged
        self.oracle_s = self.oracle_cpu_s = 0.0  # the oracle's time is the benchmark's, not the program's
        self.spark = self.con = None

    def setup(self, record: bool) -> None:
        from pyspark.sql import functions as F

        from medvedi_spark.operators._persist import release_persisted
        from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
        from medvedi_spark.session import get_spark

        self.F, self.release_persisted = F, release_persisted
        _ensure_loaded()
        check_membership(list(QUERIES))
        self.queries = [QUERIES[n] for n in self.w.queries]

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session["session.start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.expected = self.warm_up(record)
        self.session["session.warmup_s"] = time.perf_counter() - t - self.oracle_s
        self.session["session.setup_wall_s"] = time.perf_counter() - T_PROCESS - self.oracle_s
        self.setup_s = tree_cpu_s(os.getpid()) - self.oracle_cpu_s

    def shuffled(self) -> list:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def checksum(self, df):
        """One-row frame of the row count and the hash sum of every column."""
        F = self.F
        return df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*[F.col(c) for c in df.columns])))

    def warm_up(self, record: bool) -> dict:
        """``warmup_passes`` passes over the workload; returns the checksum
        each query's timed requests must reproduce. The first pass takes a
        query's checksum if it matches the stored one or, failing that (and
        for every query with ``record``), if the oracle accepts the output.
        A query without one fails all its requests."""
        with open(EXPECTED) as fh:
            stored = json.load(fh)
        expected = {}
        t = time.perf_counter()
        for q in self.shuffled():
            try:
                tq = time.perf_counter()
                df = q.builder(self.spark, self.data_dir)
                got = list(self.checksum(df).collect()[0])
                self.cold[q.name] = time.perf_counter() - tq
                if (record or got != stored.get(q.name)) and self.oracle_rejects(q, df, stored.get(q.name)):
                    continue
                expected[q.name] = got
            except Exception:  # noqa: BLE001 — a broken query fails its requests, not the run
                log(f"{q.name}: warm-up failed\n{traceback.format_exc()}")
            finally:
                self.release_persisted()
        self.warmup_rates.append(len(self.queries) / (time.perf_counter() - t - self.oracle_s))
        for _ in range(1, self.w.warmup_passes):
            t = time.perf_counter()
            for q in self.shuffled():
                try:
                    self.request(q, expected)
                except Exception as exc:  # noqa: BLE001
                    log(f"{q.name}: warm-up failed: {type(exc).__name__}: {str(exc)[:300]}")
                    expected.pop(q.name, None)
            self.warmup_rates.append(len(self.queries) / (time.perf_counter() - t))
        if record:
            stored.update(expected)
            with open(EXPECTED, "w") as fh:
                json.dump(dict(sorted(stored.items())), fh, indent=1)
                fh.write("\n")
        return expected

    def oracle_rejects(self, q, df, stored) -> bool:
        """Compare ``df`` with the query's DuckDB oracle, off the set-up clock."""
        t, cpu = time.perf_counter(), tree_cpu_s(os.getpid())
        try:
            from tools.check_oracle import compare, duck_connect

            if self.con is None:
                self.con = duck_connect(self.data_dir)
            problems = compare(q.name, df.toPandas(), self.con.execute(q.oracle).fetchdf())
        finally:
            self.oracle_s += time.perf_counter() - t
            self.oracle_cpu_s += tree_cpu_s(os.getpid()) - cpu
        if problems:
            log(f"{q.name}: output differs from the oracle: {'; '.join(problems)}")
        elif stored is not None:
            log(f"{q.name}: checksum differs from {EXPECTED}, but the oracle accepts the output; "
                "--record updates it")
        return bool(problems)

    def request(self, q, expected: dict) -> float:
        t = time.perf_counter()
        got = list(self.checksum(q.builder(self.spark, self.data_dir)).collect()[0])
        latency = time.perf_counter() - t
        self.release_persisted()
        if got != expected.get(q.name):
            raise ValueError(f"checksum {got} != expected {expected.get(q.name)}")
        return latency

    def traced_request(self, q, rid: int) -> float:
        tr = self.tracer
        try:
            with tr.span("request", rid) as req:
                req.attrs["query"] = q.name
                with tr.span("queries.build", rid, req) as build:
                    calls = tr.py4j_calls
                    df = q.builder(self.spark, self.data_dir)
                    build.attrs["py4j_calls"] = tr.py4j_calls - calls
                with tr.span("catalyst.plan", rid, req) as plan:
                    cdf = self.checksum(df)
                    qe = cdf._jdf.queryExecution()
                    qe.executedPlan()
                with tr.span("exec.action", rid, req):
                    got = list(cdf.collect()[0])
                with tr.span("persist.release", rid, req) as rel:
                    rel.attrs["released"] = self.release_persisted()
            phases = qe.tracker().phases().iterator()
            while phases.hasNext():
                kv = phases.next()
                plan.attrs[kv._1()] = kv._2().durationMs()
        finally:
            tr.attach_jobs(rid)
        if got != self.expected.get(q.name):
            raise ValueError(f"checksum {got} != expected {self.expected.get(q.name)}")
        return req.duration()

    def timed(self, seconds: float, trace: bool) -> dict:
        """Start passes until ``seconds`` have passed and at least
        ``MIN_PASSES`` have been sent, so every run times as many passes
        whether the host is fast or slow. Traced runs alternate untraced and
        traced passes, so the traced pass sits between two untraced ones."""
        arms = {traced: {"lat": [], "rates": [], "cpu_ms": [], "by_query": {}} for traced in (False, True)}
        attempted = failed = rid = n = 0
        start = time.perf_counter()
        while n < MIN_PASSES or time.perf_counter() - start < seconds:
            traced = trace and n % 2 == 1
            arm = arms[traced]
            t, cpu, ok = time.perf_counter(), tree_cpu_s(os.getpid()), 0
            for q in self.shuffled():
                attempted += 1
                rid += 1
                try:
                    latency = self.traced_request(q, rid) if traced else self.request(q, self.expected)
                except Exception as exc:  # noqa: BLE001 — counted, reported, and the loop goes on
                    failed += 1
                    log(f"{q.name}: request failed: {type(exc).__name__}: {str(exc)[:300]}")
                    continue
                arm["lat"].append(latency)
                arm["by_query"].setdefault(q.name, []).append(latency)
                ok += 1
            arm["rates"].append(ok / (time.perf_counter() - t))
            arm["cpu_ms"].append(1000 * (tree_cpu_s(os.getpid()) - cpu) / max(ok, 1))
            n += 1
        return {"arms": arms, "attempted": attempted, "failed": failed, "passes": n}

    def end_state(self) -> None:
        """What the run left behind, read before the session stops."""
        sc = self.spark.sparkContext
        self.session["session.retained_tables"] = len(self.spark.catalog.listTables())
        self.session["session.persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
        self.session["session.tmp_bytes_left"] = sum(
            dir_bytes(os.path.join(self.run_dir, d)) for d in ("tmp", "local", "warehouse")
        )
        self.session["session.peak_rss_mb"] = (vm_hwm_kb(sc._gateway.proc.pid) + vm_hwm_kb("self")) / 1024

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.con is not None:
            self.con.close()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def end_to_end(bench: Bench, loop: dict) -> dict:
    arm = loop["arms"][False]
    lat = arm["lat"]
    values = {
        "setup_s": bench.setup_s,
        "cpu_ms_per_req": statistics.median(arm["cpu_ms"]),
    }
    log("first request by query: " + ", ".join(f"{k} {v:.2f}" for k, v in bench.cold.items()))
    log("warm-up passes at " + ", ".join(f"{r:.3f}" for r in bench.warmup_rates) + " req/s")
    log(f"{bench.w.name} seed {bench.seed}: setup {bench.setup_s:.1f} CPU s; "
        f"{len(lat)} timed requests over {loop['passes']} passes "
        f"at {', '.join(f'{r:.3f}' for r in arm['rates'])} req/s and "
        f"{', '.join(f'{c:.1f}' for c in arm['cpu_ms'])} CPU ms/req; "
        f"median latency {statistics.median(lat):.3f} s over n={len(lat)}; setup "
        + ", ".join(f"{k} {v:.2f}" for k, v in bench.session.items() if k.endswith("_s")))
    log("median latency by query: " + ", ".join(
        f"{name} {statistics.median(v):.3f}" for name, v in sorted(arm["by_query"].items())))
    return values


def per_layer(bench: Bench, loop: dict, path: str) -> dict:
    tr = bench.tracer
    tr.attach_streams()
    rows = tr.request_rows(bench.spark.sparkContext.defaultParallelism)
    plain, traced = loop["arms"][False], loop["arms"][True]
    overhead = statistics.median(plain["rates"]) / statistics.median(traced["rates"]) - 1
    values = {name: statistics.fmean(r.get(key, 0) for r in rows) for name, key in LAYER_MEANS.items()}
    values.update(bench.session)
    values["client.req_per_s"] = statistics.median(plain["rates"])
    values["client.latency_p50_s"] = statistics.median(plain["lat"])
    values["trace.overhead"] = overhead
    values["trace.unattributed_max"] = max(r["unattributed"] for r in rows)
    tr.dump(path, {"workload": bench.w.name, "seed": bench.seed, "requests": rows, "metrics": values})
    log(f"traced {len(rows)} requests; tracing overhead {overhead:+.1%} of untraced req_per_s; "
        f"spans written to {os.path.relpath(path, ROOT)}")
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="check every output with the oracle and store its checksum in expected.json")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "medvedi_spark")):
        log(f"no medvedi_spark package beside {os.path.relpath(HERE)}; run from a full checkout")
        return 2
    e2e_units, layer_units = declared_metrics()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the cleanup below runs

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    bench = Bench(WORKLOADS[args.workload], args.seed, run_dir)
    try:
        isolate(run_dir)
        bench.setup(args.record)
        if args.trace:
            from tracing import Tracer

            bench.tracer = Tracer(bench.spark)
        loop = bench.timed(args.seconds, bool(args.trace))
        bench.end_state()
        if args.trace:
            bench.tracer.close()
            out = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
            values, units = per_layer(bench, loop, out), layer_units
        else:
            values, units = end_to_end(bench, loop), e2e_units
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    if set(values) != set(units):
        log(f"metric names differ from BENCHMARK.json: printed {sorted(values)}, declared {sorted(units)}")
        return 3
    result = {
        "correct": loop["failed"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
