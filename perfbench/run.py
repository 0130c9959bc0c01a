"""Repository benchmark: one workload of the engine, end to end.

    python3 perfbench/run.py --workload curation_ml --seed 1 --seconds 10 --trace 0

One run is one fresh process on `local[N]` (N = the CPUs this process may
use). It sets the engine up from process start, writes its fixed inputs,
then runs the workload's operations in a closed loop: each starts when
the previous one has finished, in an order the seed shuffles per pass.
The first pass collects every result and compares it with its DuckDB
oracle; the warm passes that follow (after `workloads.WARMUP_PASSES`
untimed ones), for `--seconds`, force execution through the `noop` sink
and check the observed row count against the oracle's.

`--trace 0` reports the end-to-end metrics. `--trace 1` wraps the
engine's public functions in spans (`spans.py`), alternates untraced and
traced warm passes, and reports the per-layer metrics and the tracing
overhead. The last stdout line is one JSON object
`{"correct", "attempted", "failed", "metrics"}`; the full record (run
metadata, every latency, the spans) goes to `.perfbench_work/results/`.
The exit code is non-zero when any output is wrong or any operation
raised.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETTLE_S = 2.0

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_core_s": "core-s"}


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out = [root]
    for pid in out:
        out.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the process tree: the driver, the JVM and the
    Python workers, with reaped children included."""
    ticks = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def rss_by_process(root: int) -> dict[str, tuple[int, int]]:
    """`pid:name` -> (VmHWM, VmRSS) in kB for every live process of the tree."""
    out = {}
    for pid in _proc_tree(root):
        fields = {}
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    key, _, val = line.partition(":")
                    fields[key] = val.split()
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'][0]}"] = (int(fields["VmHWM"][0]),
                                                int(fields["VmRSS"][0]))
    return out


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's CPUs (all CPUs)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_engine(work: str, cores: int):
    """Build the session and load the plans. The times count from process
    start, so `total_s` covers the imports, the JVM launch,
    `session.get_spark` and `registry.load_all_plans`."""
    from etl_pipeline_mini_project_01_spark import session
    from etl_pipeline_mini_project_01_spark.plans import registry

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    t1 = time.perf_counter()
    spark = session.get_spark(
        "perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    registry.load_all_plans()
    t3 = time.perf_counter()
    return spark, {"total_s": t3 - PROCESS_START, "get_spark_s": t2 - t1,
                   "load_all_plans_s": t3 - t2}


def _git_commit() -> str:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD"), encoding="ascii") as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:]), encoding="ascii") as fh:
            return fh.read().strip()
    except OSError:
        return "unknown"  # a plain checkout, not a git work tree


class Bench:
    """One run: inputs, engine set-up, oracle answers and the passes."""

    def __init__(self, workload: str, seed: int, work: str, traced: bool):
        from etl_pipeline_mini_project_01_spark.plans import registry
        from perfbench import spans, workloads

        self.registry = registry
        self.workload, self.seed, self.work = workload, seed, work
        self.ops = workloads.WORKLOADS[workload]
        self.sf = workloads.SCALE
        self.cores = len(os.sched_getaffinity(0))
        self.data = os.path.join(work, "data")
        self.rng = random.Random(seed)
        self.tracer = spans.Tracer(f"{workload}-{seed}") if traced else None
        self.jobstats = None
        self.spark = None
        self.oracle: dict[str, tuple] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_times: dict[str, float] = {}
        self.pipeline_stats: list[dict] = []
        # Traced passes only: operation windows, their jobs, bytes left
        # behind per pass.
        self.op_windows: list[tuple[float, float]] = []
        self.jobs: list[dict] = []
        self.stored_bytes: list[int] = []
        self.scratch_max = 0
        self.rss: dict[str, tuple[int, int]] = {}
        self.input_bytes = 0

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        self.spark, self.setup_times = start_engine(self.work, self.cores)

    def load_oracles(self) -> None:
        """Canonical DuckDB answer for every query the workload checks."""
        import duckdb

        from etl_pipeline_mini_project_01_spark.catalog import TABLES
        from etl_pipeline_mini_project_01_spark.pipeline import GOLD_VIEWS
        from perfbench.workloads import PIPELINE
        from tests.driver_mimic import canon_frame

        names = [n for op in self.ops
                 for n in (GOLD_VIEWS if op == PIPELINE else (op,))]
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
            self.oracle = {n: canon_frame(con.sql(self.registry.ORACLES[n]).df())
                           for n in names}
        finally:
            con.close()

    def start_tracing(self) -> None:
        from perfbench import spans

        spans.install(self.tracer)
        self.jobstats = spans.JobStats(self.spark)

    # -- operations ----------------------------------------------------
    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _run_pipeline(self, mode: str, run_id: str) -> tuple[float, int]:
        from etl_pipeline_mini_project_01_spark import pipeline
        from tests.driver_mimic import canon_frame

        out = os.path.join(self.work, "medallion", run_id)
        t0 = time.perf_counter()
        stats = pipeline.run_pipeline(self.spark, self.data, out, run_id)
        dt = time.perf_counter() - t0
        self.pipeline_stats.append(stats)
        rows = 0
        for view in pipeline.GOLD_VIEWS:
            want = self.oracle[view]
            if mode == "collect":
                got = canon_frame(
                    self.spark.read.parquet(f"{out}/gold/{view}").toPandas())
                if got != want:
                    raise AssertionError(f"gold {view} differs from its oracle")
            n = stats.get(f"gold_{view}_rows")
            if n != len(want[1]):
                raise AssertionError(
                    f"gold {view}: {n} rows, oracle {len(want[1])}")
            rows += n
        if self.tracing:
            self.stored_bytes.append(du(out) + self.scratch_bytes(local=False))
        return dt, rows

    def run_op(self, op: str, mode: str, run_id: str) -> tuple[float, int]:
        """Run one operation; return (latency, result rows). `mode` is
        "collect" (first pass: full oracle comparison) or "noop" (warm
        pass: observed row count). Raises AssertionError on a wrong
        output."""
        import bench
        from perfbench.workloads import PIPELINE
        from tests.driver_mimic import canon_frame

        if op == PIPELINE:
            return self._run_pipeline(mode, run_id)
        want = self.oracle[op]
        t0 = time.perf_counter()
        with self._span("plans.op"):
            df = self.registry.QUERIES[op](self.spark, self.data)
            with self._span("plans.exec"):
                if mode == "collect":
                    pdf = df.toPandas()
                    rows = len(pdf)
                else:
                    rows = bench._consume(df)
        dt = time.perf_counter() - t0
        if mode == "collect" and canon_frame(pdf) != want:
            raise AssertionError(f"{op} differs from its oracle")
        if rows != len(want[1]):
            raise AssertionError(f"{op}: {rows} rows, oracle {len(want[1])}")
        return dt, rows

    @property
    def tracing(self) -> bool:
        return bool(self.tracer and self.tracer.enabled)

    def release(self) -> None:
        """Drop persisted RDDs and pipeline outputs left by the last
        operation (as bench.py does), outside every timed window."""
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist()
        shutil.rmtree(os.path.join(self.work, "medallion"), ignore_errors=True)

    def run_pass(self, label: str, mode: str) -> dict[str, float]:
        lat: dict[str, float] = {}
        for i, op in enumerate(self.rng.sample(self.ops, len(self.ops))):
            self.attempted += 1
            if self.tracer:
                self.tracer.op = op
            t0 = time.time()
            try:
                lat[op], _ = self.run_op(op, mode, f"s{self.seed}_{label}_{i}")
            except Exception as exc:  # a broken op is counted, not fatal
                self.failures.append(
                    f"{label} {op}: {type(exc).__name__}: {str(exc)[:300]}")
            if self.jobstats:
                jobs = self.jobstats.take_new()
                if self.tracing:
                    self.op_windows.append((t0, time.time()))
                    self.jobs.extend(jobs)
            self.release()
        if self.tracing:
            self.scratch_max = max(self.scratch_max, self.scratch_bytes())
        return lat

    def scratch_bytes(self, local: bool = True) -> int:
        """Bytes under the engine's scratch roots and Spark's local dirs."""
        from etl_pipeline_mini_project_01_spark import catalog

        total = sum(du(p) for p in catalog._SCRATCH_REGISTERED)
        if local:
            total += du(os.environ["SPARK_LOCAL_DIRS"])
        return total

    # -- metrics -------------------------------------------------------
    def end_to_end(self, warm: list[dict], cpu_s: float) -> dict:
        per_op = [statistics.median(p[op] for p in warm if op in p)
                  for op in self.ops if any(op in p for p in warm)]
        return {
            "setup_s": self.setup_times["total_s"],
            "pass_s": sum(per_op),
            "cpu_core_s": cpu_s / len(warm),
        }

    def per_layer(self, first: dict, warm: list[dict],
                  traced: list[dict]) -> dict:
        from perfbench import spans

        done = [s for s in self.tracer.spans
                if s["end"] is not None and s["op"] is not None]
        m = {"session.get_spark_s": self.setup_times["get_spark_s"],
             "session.load_all_plans_s": self.setup_times["load_all_plans_s"]}
        m.update(spans.layer_metrics(done, self.jobs, self.op_windows,
                                     len(traced), self.cores))
        m["plans.first_pass_s"] = sum(first.values())
        m["sources.scratch_bytes"] = self.scratch_max
        m["sources.stored_bytes_ratio"] = (
            statistics.median(self.stored_bytes or [self.scratch_bytes(False)])
            / self.input_bytes)
        m["peak_rss_mb"] = sum(hwm for hwm, _ in self.rss.values()) / 1024
        m["trace.overhead_ratio"] = (
            statistics.median(sum(p.values()) for p in traced)
            / statistics.median(sum(p.values()) for p in warm))
        return m


def _unit(key: str) -> str:
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_s") or key.endswith(".s"):
        return "s"
    if key.endswith(("share", "ratio", "utilization")):
        return "ratio"
    return "count"


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session, then wait until the JVM and every process it
    started (the Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    started = _proc_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.05)
    for pid in started:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def run(args, work: str, results: str) -> int:
    leftovers = sorted(glob.glob("/tmp/spark_graft_*"))
    loadavg, steal0 = os.getloadavg(), steal_s()
    b = Bench(args.workload, args.seed, work, bool(args.trace))
    b.setup()

    import duckdb
    import pyspark

    from perfbench import datagen, workloads

    meta = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": b.cores, "master": f"local[{b.cores}]", "sf": b.sf,
        "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        "duckdb": duckdb.__version__, "commit": _git_commit(),
        "loadavg_start": loadavg,
        "steal_s_at_start": steal0,
        # Leftover engine scratch means an earlier process died without
        # cleaning up; its disk and page cache age this run.
        "scratch_leftovers_at_start": leftovers,
        "stale_scratch": bool(leftovers),
    }
    if leftovers:
        print(f"WARNING: engine scratch left by earlier processes: {leftovers}",
              file=sys.stderr)
    t = time.perf_counter()
    b.input_bytes = datagen.write_tables(b.data, workloads.DATA_SEED, b.sf)
    meta["datagen_s"] = time.perf_counter() - t
    meta["input_bytes"] = b.input_bytes
    meta["scratch_bytes_at_start"] = b.scratch_bytes()
    t = time.perf_counter()
    b.load_oracles()
    meta["oracles_s"] = time.perf_counter() - t
    if b.tracer:
        b.start_tracing()

    first = b.run_pass("first", "collect")
    for i in range(workloads.WARMUP_PASSES[args.workload]):
        b.run_pass(f"warmup{i}", "noop")
    # Outside the timed window: collect the first pass's garbage in both
    # runtimes and let the JIT compile what the first pass made hot, so
    # the warm window starts from the same state in every run.
    b.spark.sparkContext._jvm.System.gc()
    gc.collect()
    time.sleep(SETTLE_S)
    warm: list[dict] = []
    traced: list[dict] = []
    cpu_s = 0.0
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < args.seconds or not warm
           or (b.tracer and not traced)):
        on = bool(b.tracer) and len(traced) < len(warm)
        if b.tracer:
            b.tracer.enabled = on
        c0 = tree_cpu_s(os.getpid())
        lat = b.run_pass(f"warm{len(warm) + len(traced)}", "noop")
        if on:
            traced.append(lat)
        else:
            warm.append(lat)
            cpu_s += tree_cpu_s(os.getpid()) - c0
    if b.tracer:
        b.tracer.enabled = False
    meta["warm_window_s"] = time.perf_counter() - t0
    b.rss = meta["rss_kb_by_process"] = rss_by_process(os.getpid())
    meta["steal_s_during_run"] = steal_s() - meta["steal_s_at_start"]

    if b.tracer:
        metrics = b.per_layer(first, warm, traced)
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = b.end_to_end(warm, cpu_s)
        units = END_TO_END_UNITS
    t = time.perf_counter()
    _stop(b.spark)
    meta["stop_s"] = time.perf_counter() - t
    meta["run_s"] = time.perf_counter() - PROCESS_START

    record = {"meta": meta, "failures": b.failures, "metrics": metrics,
              "setup": b.setup_times, "first_pass": first,
              "warm_passes": warm, "traced_passes": traced,
              "pipeline_stats": b.pipeline_stats,
              "spans": b.tracer.spans if b.tracer else []}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, default=str)
    for f in b.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not b.failures, "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    sys.stdout.flush()
    return 1 if b.failures else 0


def main(argv: list[str] | None = None) -> int:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    results = os.path.join(ROOT, ".perfbench_work", "results")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Every JVM (the spark-submit launcher too) keeps its temp files in
    # the work dir and writes no hsperfdata under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    # A terminated run still removes its work dir and the engine's scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the engine, bench.py and tests/ from the checkout
    sys.exit(main())
