"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --list-metrics

Runs one workload against the engine in this checkout and prints, as
the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the program's public module
functions, turns on Spark's event log, and reports the per-layer
metrics instead. The line before it (``detail``) carries the
workload's own headline numbers, sample counts and host contention
(steal share, load average, generator lateness).

The run environment is pinned here, before the JVM starts:
``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_DRIVER_MEM`` from
``--driver-mem``, ``SPARK_LOCAL_DIRS``/``TMPDIR``/``java.io.tmpdir``
under ``.bench_build/perfbench`` in the checkout, and ``PYTHONPATH``
= the checkout root so Spark's Python workers import the package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_INIT = os.path.join(ROOT, "universal_data_connector_spark", "__init__.py")

# name -> (unit, better, bound); every workload reports every one.
# op_s is the workload's typical operation latency and work_per_s its
# throughput (each workload module says what its operation is).
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "ok_frac": ("frac", "higher", 0.01),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "op_s": ("s", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}

GROUPS = ("llm", "rel")
CONNECTORS = ("file", "kafka", "jdbc", "s3")
EVENTLOG = ("driver_gap_s", "shuffle_mb", "input_mb", "executor_run_s",
            "executor_cpu_s", "gc_s", "spill_mb")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")


def _layer_units() -> dict[str, str]:
    u = {"session.get_spark_s": "s", "session.warmup_s": "s"}
    for g in GROUPS:
        u[f"catalog.{g}.pass_s"] = "s"
        u[f"catalog.{g}.build_s"] = "s"
        u[f"catalog.{g}.execute_s"] = "s"
        for k in ("jobs", "stages", "tasks", "one_task_stages"):
            u[f"catalog.{g}.{k}"] = "count"
        for k in EVENTLOG:
            u[f"catalog.{g}.{k}"] = "MB" if k.endswith("_mb") else "s"
    for m in ("dedup", "multimodal", "relational", "quantiles"):
        u[f"operators.{m}.self_s"] = "s"
    u["operators.relational.materialize_calls"] = "count"
    u["operators.relational.spread_calls"] = "count"
    for c in CONNECTORS:
        u[f"{c}.rows_per_s"] = "1/s"
        u[f"manager.{c}.submit_s"] = "s"
        u[f"sources.{c}.create_s"] = "s"
        u[f"sinks.{c}.write_s"] = "s"
        u[f"engine.{c}.finalize_s"] = "s"
        u[f"manager.{c}.terminal_lag_s"] = "s"
        u[f"{c}.jobs"] = "count"
        u[f"{c}.tasks"] = "count"
    u["kafka_loopback.self_s"] = "s"
    u["s3.requests_per_object"] = "count"
    u["stream.lat_p50_s"] = "s"
    u["stream.lat_p90_s"] = "s"
    u["stream.lat_p99_s"] = "s"
    u["stream.drain_rows_per_s"] = "1/s"
    u["stream.batch_s.p50"] = "s"
    u["stream.batches"] = "count"
    for p in STREAM_PHASES:
        u[f"stream.phase.{p}_s"] = "s"
    u["operators.dedup_state.self_s"] = "s"
    u["store_lease.self_s"] = "s"
    u["sinks.files.write_s"] = "s"
    u["stream.jobs_per_batch"] = "count"
    u["stream.tasks_per_batch"] = "count"
    u["state.files"] = "count"
    u["state.mb"] = "MB"
    u["dedup_state.dropped_frac"] = "frac"
    u["rest.all_ms.p50"] = "ms"
    u["rest.jobs_ms.p50"] = "ms"
    u["rest.jobs_ms.p95"] = "ms"
    u["rest.status_ms.p50"] = "ms"
    u["gen.late_max_s"] = "s"
    u["stream.backlog_end"] = "count"
    u["host.steal_frac"] = "frac"
    u["host.loadavg_1m"] = "count"
    u["trace.overhead_frac"] = "frac"
    return u


PER_LAYER = _layer_units()


# -- host and process probes ---------------------------------------------

def _proc_start_boottime() -> float:
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _cpu_steal() -> tuple[int, int]:
    """(steal jiffies, number of cpuN lines) from /proc/stat; the cpu
    line sums over exactly those CPUs, so they are its capacity basis."""
    steal, ncpu = 0, 0
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                steal = int(line.split()[8])
            elif line.startswith("cpu") and line[3].isdigit():
                ncpu += 1
    return steal, ncpu


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class RssSampler:
    """Peak RSS of this process and each of its descendants (the JVM
    and Spark's Python workers), summed: each process's kernel
    high-water mark (VmHWM), read on a thread so that processes which
    exit before the end are counted too."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.hwm_kb: dict[int, int] = {}   # pid -> peak RSS seen
        self.live: set[int] = set()        # descendants at the last sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1e3

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
        todo, live = [os.getpid()], set()
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            live.add(pid)
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue
        self.live = live - {os.getpid()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


class ControlPoller:
    """Polls the REST control plane at a fixed rate on one thread,
    alternating GET /api/pipelines/jobs and GET .../jobs/{name}/status
    (or /api/pipelines/status while no job is known)."""

    def __init__(self, port: int, rate_hz: float = 10.0):
        self.base = f"http://127.0.0.1:{port}/api/pipelines"
        self.period = 1.0 / rate_hz
        self.jobs_ms: list[float] = []
        self.status_ms: list[float] = []
        self.errors = 0
        self.job_name: str | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _get(self, path: str) -> float:
        import urllib.request

        t0 = time.perf_counter()
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            r.read()
        return (time.perf_counter() - t0) * 1e3

    def _run(self) -> None:
        due, i = time.perf_counter(), 0
        while not self._stop.is_set():
            try:
                if i % 2 == 0:
                    self.jobs_ms.append(self._get("/jobs"))
                elif self.job_name:
                    self.status_ms.append(
                        self._get(f"/jobs/{self.job_name}/status"))
                else:
                    self.status_ms.append(self._get("/status"))
            except OSError:
                self.errors += 1
            i += 1
            due += self.period
            self._stop.wait(max(0.0, due - time.perf_counter()))

    def start(self) -> "ControlPoller":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def reset(self) -> None:
        """Drops the samples taken so far (set-up is not measured)."""
        self.jobs_ms.clear()
        self.status_ms.clear()

    @property
    def all_ms(self) -> list[float]:
        return self.jobs_ms + self.status_ms


# -- statistics ----------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- run context ---------------------------------------------------------

class Run:
    """What a workload gets: the session, the work directory, the
    seed and window, an optional tracer, and the op/check ledger."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_s = None                  # typical operation latency
        self.work_units = 0.0             # completed units of work
        self.work_time = 0.0              # time they took
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.setup_s = None
        self.steal_at_setup = None        # (steal jiffies, monotonic time)
        self.spark = None
        self.tracer = None
        self.poller: ControlPoller | None = None

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def mark(self, phase: str) -> float:
        """Records (in ``detail``) seconds from process start to here."""
        t = time.clock_gettime(time.CLOCK_BOOTTIME) - _proc_start_boottime()
        self.detail.setdefault("phase_end_s", {})[phase] = round(t, 3)
        return t

    def first_timed_op(self) -> None:
        """Ends set-up: process start to here is ``setup_s``."""
        self.setup_s = self.mark("setup")
        self.steal_at_setup = _cpu_steal()[0], time.monotonic()
        if self.poller is not None:
            self.poller.reset()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _pin_env(args, work: str) -> None:
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    # every JVM (the launcher too): no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # S3 clients get explicit endpoint and keys; read no home-dir config
    # and never ask an instance-metadata service
    os.environ["AWS_CONFIG_FILE"] = os.path.join(work, "aws-config")
    os.environ["AWS_SHARED_CREDENTIALS_FILE"] = os.path.join(work, "aws-creds")
    os.environ["AWS_EC2_METADATA_DISABLED"] = "true"
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work}"
            f" -Dderby.stream.error.file={work}/derby.log",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'--conf "{k}={v}"' for k, v in conf.items()) + " pyspark-shell"


def start_session(run: Run):
    """Session start plus one warm-up job; both are set-up."""
    from universal_data_connector_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    run.mark("session")
    run.layers["session.get_spark_s"] = t1 - t0
    run.layers["session.warmup_s"] = time.perf_counter() - t1
    run.spark = spark
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids, timeout: float = 60.0) -> None:
    """Waits until none of ``pids`` is alive (Spark's Python workers
    exit after the JVM that started them)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still alive: {sorted(pids)}")
        time.sleep(0.05)


def _stop_spark(spark, trace: bool) -> None:
    """Stops the JVM and waits for it to exit. A traced run stops the
    session first, which flushes and closes the event log."""
    from pyspark import SparkContext

    if trace:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("catalog", "pipelines"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="3g")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    ap.add_argument("--list-metrics", action="store_true")
    args = ap.parse_args(argv)

    if args.list_metrics:
        for name, (unit, better, bound) in END_TO_END.items():
            print(f"end_to_end  {name:40s} {unit:6s} {better} bound={bound}")
        for name, unit in PER_LAYER.items():
            print(f"per_layer   {name:40s} {unit}")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(PKG_INIT):
        print(f"engine package not found next to the benchmark "
              f"({PKG_INIT}); run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _pin_env(args, work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import importlib

    mod = importlib.import_module(f"wl_{args.workload}")
    run = Run(args, work)
    rss = RssSampler().start()
    steal0, ncpu = _cpu_steal()
    t0 = time.monotonic()
    try:
        mod.run(run)
    finally:
        if run.poller is not None:
            run.poller.stop()
        rss.stop()
        rss.sample()
        if run.spark is not None:
            _stop_spark(run.spark, run.trace)
        _wait_gone(rss.live)
    t1 = time.monotonic()
    steal1, _ = _cpu_steal()
    hz = os.sysconf("SC_CLK_TCK")
    steal_frac = (steal1 - steal0) / max((t1 - t0) * ncpu * hz, 1e-9)
    if run.steal_at_setup is not None:
        s0, ts = run.steal_at_setup
        run.detail["steal_frac_timed"] = round(
            (steal1 - s0) / max((t1 - ts) * ncpu * hz, 1e-9), 5)
    if run.trace:
        mod.finish_trace(run)  # reads the event log after spark.stop()
        run.tracer.dump(os.path.join(ROOT, ".bench_build", "perfbench",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))

    ctl = run.poller.all_ms if run.poller else []
    e2e = {
        "setup_s": run.setup_s,
        "ok_frac": 1.0 - run.failed / max(run.attempted, 1),
        "peak_rss_mb": rss.peak_mb,
        "op_s": run.op_s,
        "work_per_s": run.work_units / max(run.work_time, 1e-9),
    }
    run.layers["rest.all_ms.p50"] = median(ctl)
    run.layers["host.steal_frac"] = steal_frac
    run.layers["host.loadavg_1m"] = _loadavg_1m()
    run.detail.update({
        "workload": args.workload, "seed": args.seed, "op_s": run.op_s,
        "work_per_s": e2e["work_per_s"], "peak_rss_mb": rss.peak_mb,
        "control_p50_ms": median(ctl), "control_samples": len(ctl),
        "control_errors": run.poller.errors if run.poller else 0,
        "steal_frac": round(steal_frac, 5), "cpu_lines": ncpu,
        "loadavg_1m": run.layers["host.loadavg_1m"],
        "failures": run.failures[:20]})
    print(json.dumps({"detail": run.detail}, default=float), flush=True)

    if args.trace:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v if v is not None else 0.0), "unit": u}
                   for k, (u, _b, _bd) in END_TO_END.items()
                   for v in [e2e[k]]}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed if run.attempted else 1,
                      "metrics": metrics}), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
