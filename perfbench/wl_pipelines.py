"""Workload ``pipelines``: the YAML pipeline path through
``PipelineManager``, batch and streaming, in one process.

Batch (closed loop, one client): four pipelines in sequence, each
waited to COMPLETED: file -> filter -> parquet, kafka-loopback ->
filter -> kafka-loopback, jdbc (embedded Derby) -> filter -> jdbc and
s3 (a moto server the benchmark runs) -> filter -> s3. Inputs are
seeded documents; a seeded share carries the filter token. In set-up
each runs once on a few items (its first use, untimed) while the
stream warms up; ``BATCH_ROUNDS`` timed rounds follow the stream
phase.

Streaming (open loop, fixed rate): file (``streaming: "true"``) ->
filter -> ``dedup_state`` exact (POSIX ``stateDir``) -> parquet. One
generator thread drops whole-file documents into the watched
directory on a schedule, the sequence number and due time in the
file name; a seeded share are exact copies of earlier content. After
the steady phase drains, a burst of files is dropped at once and the
drain is timed. The stream is drained before it is stopped.

Meanwhile one thread polls the REST control plane at a fixed rate.
``op_s`` is the median over steady-phase events of the time from an
event's due time to the write of the sink file that holds its row;
``work_per_s`` is batch input rows per second from ``start_pipeline``
to COMPLETED over the timed rounds.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import data
from run import CONNECTORS, STREAM_PHASES, ControlPoller, median, pct, start_session

SIZES = {"file": 80, "kafka": 1200, "jdbc": 4000, "s3": 12}
WARM_ITEMS = 4      # per connector in the warm-up round
KEEP = 0.9          # share of documents that carry the filter token
DUP = 0.1           # share of stream files that copy earlier content
RATE = 8.0          # stream files per second in the steady phase
WARM_FILES = 80     # fed at RATE in set-up
BURST_FILES = 16
BATCH_ROUNDS = 1
DRAIN_TIMEOUT = 60.0
CREDS = {"accessKey": "bench", "secretKey": "bench"}
BUCKET = "perfbench"
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
TRACED = ["sources", "sources.files", "sources.kafka", "sources.jdbc",
          "sinks", "sinks.files", "sinks.kafka", "sinks.jdbc", "engine",
          "kafka_loopback", "operators.dedup_state", "store_lease"]
NAME_RE = re.compile(r"e(\d+)-(\d+)\.txt")


class CountingMoto:
    """A local moto S3 server that counts the requests it serves."""

    def __init__(self):
        import logging

        from moto.server import ThreadedMotoServer

        logging.getLogger("werkzeug").setLevel(logging.ERROR)

        self.server = ThreadedMotoServer(ip_address="127.0.0.1", port=0,
                                         verbose=False)
        self.server.start()
        self.requests = 0
        self._lock = threading.Lock()
        app = self.server._server.app

        def counted(environ, start_response):
            with self._lock:
                self.requests += 1
            return app(environ, start_response)

        self.server._server.app = counted
        self.endpoint = "http://127.0.0.1:%d" % self.server.get_host_and_port()[1]

    def stop(self) -> None:
        self.server.stop()


def _wait_terminal(mgr, job: str, timeout: float = 120.0) -> str:
    deadline = time.monotonic() + timeout
    while mgr.is_running(job):
        if time.monotonic() > deadline:
            mgr.stop(job)
            return "TIMEOUT"
        time.sleep(0.005)
    return next(j["status"] for j in mgr.jobs() if j["name"] == job)


class Batch:
    def __init__(self, run, mgr, docs: data.Docs):
        import boto3

        self.run, self.mgr, self.docs = run, mgr, docs
        self.moto = CountingMoto()
        self.s3 = boto3.client(
            "s3", endpoint_url=self.moto.endpoint, region_name="us-east-1",
            aws_access_key_id=CREDS["accessKey"],
            aws_secret_access_key=CREDS["secretKey"])
        self.s3.create_bucket(Bucket=BUCKET)
        self.broker = run.path("broker")
        self.derby = f"jdbc:derby:{run.path('derby')};create=true"

    def _prepare(self, c: str, tag: str, n: int):
        """(pipeline dict, inputs, expected outputs, output counter)."""
        from universal_data_connector_spark import kafka_loopback as KL

        items = self.docs.draw(n)
        texts = [t for t, _ in items]
        expect = sum(p for _, p in items)
        flt = {"type": "filter", "properties": {"condition": data.TOKEN}}
        if c == "file":
            inp, out = self.run.path(f"file_in_{tag}"), self.run.path(f"file_out_{tag}")
            os.makedirs(inp)
            for i, t in enumerate(texts):
                with open(os.path.join(inp, f"doc-{i:05d}.txt"), "w") as fh:
                    fh.write(t)
            cfg = {"source": {"type": "file", "properties": {
                       "path": inp, "pattern": "*.txt"}},
                   "sink": {"type": "file", "properties": {
                       "path": out, "format": "parquet"}}}

            def count():
                return pq.read_table(out).num_rows if os.path.isdir(out) else 0
        elif c == "kafka":
            KL.ensure_topic(self.broker, f"src{tag}", 4)
            KL.append_records(self.broker, f"src{tag}",
                              [(None, t.encode()) for t in texts], 4)
            boot = f"loopback://{self.broker}"
            cfg = {"source": {"type": "kafka", "properties": {
                       "bootstrapServers": boot, "topic": f"src{tag}",
                       "groupId": f"g{tag}"}},
                   "sink": {"type": "kafka", "properties": {
                       "bootstrapServers": boot, "topic": f"dst{tag}"}}}

            def count():
                return sum(KL.end_offsets(self.broker, f"dst{tag}").values())
        elif c == "jdbc":
            spark = self.run.spark
            (spark.createDataFrame(list(enumerate(texts)), "id bigint, text string")
             .coalesce(1).write.format("jdbc")
             .options(url=self.derby, dbtable=f"docs_{tag}", driver=DERBY_DRIVER)
             .mode("append").save())
            flt = {"type": "filter", "properties": {"column": "text",
                                                    "condition": data.TOKEN}}
            cfg = {"source": {"type": "jdbc", "properties": {
                       "jdbcUrl": self.derby, "driver": DERBY_DRIVER,
                       "query": f'SELECT "id", "text" FROM docs_{tag}',
                       "oneTimeOperation": True}},
                   "sink": {"type": "jdbc", "properties": {
                       "jdbcUrl": self.derby, "table": f"out_{tag}",
                       "driver": DERBY_DRIVER, "batchSize": 1000}}}

            def count():
                return (spark.read.format("jdbc")
                        .options(url=self.derby, dbtable=f"out_{tag}",
                                 driver=DERBY_DRIVER).load().count())
        else:
            for i, t in enumerate(texts):
                self.s3.put_object(Bucket=BUCKET, Key=f"in{tag}/doc-{i:05d}.txt",
                                   Body=t.encode())
            loc = {"bucketName": BUCKET, "endpoint": self.moto.endpoint, **CREDS}
            cfg = {"source": {"type": "s3", "properties": {
                       "prefix": f"in{tag}", "pattern": "*.txt", **loc}},
                   "sink": {"type": "s3", "properties": {
                       "prefix": f"out{tag}", **loc}}}

            def count():
                pages = self.s3.get_paginator("list_objects_v2").paginate(
                    Bucket=BUCKET, Prefix=f"out{tag}/")
                return sum(len(p.get("Contents", [])) for p in pages)
        cfg.update(name=f"{c}-{tag}", transformations=[flt])
        return cfg, len(texts), expect, count

    def _check(self, c, tag, status, expect, count) -> None:
        got = count() if status == "COMPLETED" else -1
        self.run.check(status == "COMPLETED" and got == expect,
                       f"{c} {tag}: status={status} rows_out={got} expected={expect}")

    def warm(self) -> None:
        """The first use of each connector, on a few items, untimed."""
        from universal_data_connector_spark.config import parse_config

        for c in CONNECTORS:
            cfg, _, expect, count = self._prepare(c, "w", WARM_ITEMS)
            job = self.mgr.start_pipeline(
                parse_config({"pipelines": [cfg]}).pipelines[0])
            self._check(c, "w", _wait_terminal(self.mgr, job), expect, count)

    def round(self, tag: str, timed: bool) -> dict:
        """Runs the four pipelines in sequence; returns per-connector layers."""
        from universal_data_connector_spark.config import parse_config
        from spans import job_counts

        run, tracer = self.run, self.run.tracer
        out = {}
        for c in CONNECTORS:
            n = max(WARM_ITEMS, int(SIZES[c] * run.scale))
            cfg, n_in, expect, count = self._prepare(c, tag, n)
            pc = parse_config({"pipelines": [cfg]}).pipelines[0]
            incl0 = dict(tracer.incl_s) if tracer else {}
            req0 = self.moto.requests
            t0 = time.perf_counter()
            try:
                job = self.mgr.start_pipeline(pc)
                t_sub = time.perf_counter()
                run.poller.job_name = job
                status = _wait_terminal(self.mgr, job)
            except Exception as exc:  # noqa: BLE001 - a failed start is a result
                job, t_sub, status = None, t0, f"START FAILED {exc!r}"[:200]
            t_done = time.perf_counter()
            wall = t_done - t0
            requests = self.moto.requests - req0
            self._check(c, tag, status, expect, count)
            layer = {"wall": wall, "rows": n_in,
                     "rows_per_s": n_in / wall,
                     "submit_s": t_sub - t0,
                     "requests_per_object": requests / n_in}
            if job is not None:
                layer.update(job_counts(run.spark.sparkContext, job))
            if tracer:
                def d(name):
                    return tracer.incl_s.get(name, 0.0) - incl0.get(name, 0.0)
                layer["create_s"] = d("sources.create_source")
                layer["write_s"] = d("sinks.create_sink")
                layer["finalize_s"] = d("engine.finalize_batch_sink")
                layer["terminal_lag_s"] = t_done - tracer.last_end.get(
                    "sinks.create_sink", t_done)
            if timed:
                run.work_units += n_in
                run.work_time += wall
            out[c] = layer
        return out

    def close(self) -> None:
        self.moto.stop()


class Stream:
    def __init__(self, run, mgr, docs: data.Docs):
        self.run, self.mgr, self.docs = run, mgr, docs
        self.inp, self.stage = run.path("s_in"), run.path("s_stage")
        self.out, self.state = run.path("s_out"), run.path("s_state")
        for d in (self.inp, self.stage):
            os.makedirs(d)
        self.rng = np.random.default_rng(run.seed + 17)
        self.n_files = 0                  # next sequence number
        self.passing: list[str] = []      # passing contents, in order
        self.n_pass_files = 0
        self.n_dup_files = 0
        self.rows: dict[str, tuple] = {}  # source_file -> (content, mtime)
        self._seen_files: set[str] = set()
        self.late_max = 0.0

    def start(self) -> None:
        from universal_data_connector_spark.config import parse_config

        pc = parse_config({"pipelines": [{
            "name": "stream",
            "source": {"type": "file", "properties": {
                "path": self.inp, "pattern": "*.txt", "streaming": "true"}},
            "transformations": [
                {"type": "filter", "properties": {"condition": data.TOKEN}},
                {"type": "dedup_state", "properties": {
                    "mode": "exact", "keys": "content",
                    "stateDir": self.state}}],
            "sink": {"type": "file", "properties": {
                "path": self.out, "format": "parquet"}},
        }]}).pipelines[0]
        self.job = self.mgr.start_pipeline(pc)
        self.run.poller.job_name = self.job
        self.query = self.run.spark.streams.active[0]

    def _next_content(self) -> str:
        if self.passing and self.rng.random() < DUP:
            self.n_dup_files += 1
            self.n_pass_files += 1
            return self.passing[int(self.rng.integers(0, len(self.passing)))]
        text, passes = self.docs.draw(1)[0]
        if passes:
            self.n_pass_files += 1
            self.passing.append(text)
        return text

    def _drop(self, seq: int, due: float, text: str) -> None:
        name = f"e{seq:06d}-{int(due * 1e6)}.txt"
        tmp = os.path.join(self.stage, name)
        with open(tmp, "w") as fh:
            fh.write(text)
        os.rename(tmp, os.path.join(self.inp, name))

    def emit(self, n: int, rate: float | None) -> tuple[int, float]:
        """Drops n files, at ``rate`` per second or all at once; returns
        (first seq, first due time). Runs on the caller's thread."""
        texts = [self._next_content() for _ in range(n)]
        seq0 = self.n_files
        self.n_files += n
        t0 = time.time() + 0.05
        for i, text in enumerate(texts):
            due = t0 + (i / rate if rate else 0.0)
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            self._drop(seq0 + i, due, text)
            self.late_max = max(self.late_max, time.time() - due)
        return seq0, t0

    def collect(self) -> None:
        """Reads sink part files not read before (top level only:
        a file appears there when its batch commits)."""
        if not os.path.isdir(self.out):
            return
        for name in sorted(os.listdir(self.out)):
            if name in self._seen_files or not name.endswith(".parquet"):
                continue
            path = os.path.join(self.out, name)
            mtime = os.stat(path).st_mtime
            t = pq.read_table(path, columns=["source_file", "content"])
            for sf, content in zip(t["source_file"].to_pylist(),
                                   t["content"].to_pylist()):
                self.rows[os.path.basename(sf)] = (content, mtime)
            self._seen_files.add(name)

    def wait_emitted(self, what: str) -> bool:
        """Waits until every unique passing content so far is in the sink."""
        want = len(set(self.passing))
        deadline = time.monotonic() + DRAIN_TIMEOUT
        while time.monotonic() < deadline:
            self.collect()
            if len(self.rows) >= want:
                return True
            time.sleep(0.05)
        return self.run.check(False, f"stream {what}: {len(self.rows)} of "
                                     f"{want} rows emitted in {DRAIN_TIMEOUT}s")

    def latencies(self, seq_lo: int, seq_hi: int) -> list[tuple[float, float]]:
        """(due, latency) of emitted rows with seq in [seq_lo, seq_hi)."""
        out = []
        for name, (_, mtime) in self.rows.items():
            m = NAME_RE.fullmatch(name)
            if m and seq_lo <= int(m.group(1)) < seq_hi:
                due = int(m.group(2)) / 1e6
                out.append((due, mtime - due))
        return out

    def stop_and_check(self) -> None:
        err = None
        try:
            self.query.processAllAvailable()
        except Exception as exc:  # noqa: BLE001
            err = repr(exc)[:300]
        self.mgr.stop(self.job)
        err = err or self.query.exception()
        self.run.check(err is None, f"stream query error: {err}")
        self.collect()
        emitted = sorted(c for c, _ in self.rows.values())
        self.run.check(emitted == sorted(set(self.passing)),
                       f"stream output: {len(emitted)} rows, expected "
                       f"{len(set(self.passing))} unique passing contents")
        dropped = self.n_pass_files - len(emitted)
        self.run.check(dropped == self.n_dup_files,
                       f"dedup_state dropped {dropped} of {self.n_pass_files}"
                       f" passing files; {self.n_dup_files} were duplicates")


def _progress_ts(p) -> float:
    return dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def _job_id_ceiling(sc, start: int) -> int:
    """Next unused job id at or after ``start``. Job ids are sequential;
    a run submits far fewer jobs than Spark's status store retains
    (``spark.ui.retainedJobs``), so none has been evicted yet."""
    st, j = sc.statusTracker(), start
    while st.getJobInfo(j) is not None:
        j += 1
    return j


def _job_range_counts(sc, lo: int, hi: int) -> tuple[int, int]:
    st, tasks = sc.statusTracker(), 0
    for j in range(lo, hi):
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            tasks += si.numCompletedTasks if si else 0
    return hi - lo, tasks


def run(run) -> None:
    from universal_data_connector_spark.manager import PipelineManager
    from universal_data_connector_spark.rest import ControlPlaneServer

    spark = start_session(run)
    mgr = PipelineManager(spark)
    server = ControlPlaneServer(mgr).start()
    run.poller = ControlPoller(server.port).start()
    batch = Batch(run, mgr, data.Docs(run.seed, KEEP))
    stream = Stream(run, mgr, data.Docs(run.seed + 1, KEEP))
    if run.trace:
        from spans import Tracer
        run.tracer = Tracer(TRACED)
    try:
        # set-up: the stream runs micro-batches at the steady rate while
        # each batch connector is used once on a few items
        stream.start()
        feeder = threading.Thread(target=stream.emit, args=(WARM_FILES, RATE))
        feeder.start()
        batch.warm()
        feeder.join()
        run.mark("batch_warmup")
        stream.wait_emitted("warm-up")
        stream.late_max = 0.0
        run.first_timed_op()

        # steady phase: open loop at RATE, timed from each file's due time
        if run.tracer:
            run.tracer.install()
        sc = spark.sparkContext
        job_lo = _job_id_ceiling(sc, 0)
        n_steady = max(1, int(RATE * run.seconds))
        seq0, t_s0 = stream.emit(n_steady, RATE)
        t_s1 = time.time()
        job_hi = _job_id_ceiling(sc, job_lo)
        stream.wait_emitted("steady drain")
        run.mark("steady_drain")
        steady = stream.latencies(seq0, seq0 + n_steady)
        backlog_end = sum(1 for due, lat in steady if due + lat > t_s1)

        # burst: drop at once, time the drain
        seqb, t_b = stream.emit(BURST_FILES, None)
        stream.wait_emitted("burst drain")
        burst = stream.latencies(seqb, seqb + BURST_FILES)
        drain_s = max((lat for _, lat in burst), default=0.0)
        stream.stop_and_check()
        run.mark("stream_stop")
        if run.tracer:
            run.tracer.uninstall()
            stream_self = dict(run.tracer.self_s)
            stream_incl = dict(run.tracer.incl_s)

        rounds = [batch.round(f"t{i}", timed=True) for i in range(BATCH_ROUNDS)]
        run.mark("batch_rounds")
        if run.tracer:
            run.tracer.install()
            traced = batch.round("traced", timed=False)
            run.tracer.uninstall()
    finally:
        run.poller.stop()
        batch.close()
        mgr.stop_all()
        server.stop()

    lat = [x for _, x in steady]
    run.op_s = median(lat)
    run.detail.update({
        "stream_lat_p50_s": median(lat), "stream_lat_p90_s": pct(lat, 0.9),
        "stream_lat_p99_s": pct(lat, 0.99), "stream_events": len(lat),
        "stream_drain_rows_per_s": BURST_FILES / max(drain_s, 1e-9),
        "gen_late_max_s": stream.late_max, "stream_backlog_end": backlog_end,
        **{f"{c}_rows_per_s": median(r[c]["rows_per_s"] for r in rounds)
           for c in CONNECTORS}})
    if not run.trace:
        return

    L = run.layers
    for c in CONNECTORS:
        t = traced[c]
        L[f"{c}.rows_per_s"] = run.detail[f"{c}_rows_per_s"]
        L[f"manager.{c}.submit_s"] = t["submit_s"]
        L[f"sources.{c}.create_s"] = t["create_s"]
        L[f"sinks.{c}.write_s"] = t["write_s"]
        L[f"engine.{c}.finalize_s"] = t["finalize_s"]
        L[f"manager.{c}.terminal_lag_s"] = t["terminal_lag_s"]
        L[f"{c}.jobs"] = t.get("jobs", 0)
        L[f"{c}.tasks"] = t.get("tasks", 0)
    L["s3.requests_per_object"] = median(r["s3"]["requests_per_object"]
                                         for r in rounds)
    L["kafka_loopback.self_s"] = (run.tracer.self_s["kafka_loopback"]
                                  - stream_self.get("kafka_loopback", 0.0))
    L["trace.overhead_frac"] = (sum(traced[c]["wall"] for c in CONNECTORS)
                                / median(sum(r[c]["wall"] for c in CONNECTORS)
                                         for r in rounds)) - 1

    L["stream.lat_p50_s"] = median(lat)
    L["stream.lat_p90_s"] = pct(lat, 0.9)
    L["stream.lat_p99_s"] = pct(lat, 0.99)
    L["stream.drain_rows_per_s"] = run.detail["stream_drain_rows_per_s"]
    progress = [p for p in stream.query.recentProgress
                if p.numInputRows > 0 and t_s0 <= _progress_ts(p) <= t_s1]
    L["stream.batches"] = len(progress)
    L["stream.batch_s.p50"] = median(p.durationMs.get("triggerExecution", 0) / 1e3
                                     for p in progress)
    for ph in STREAM_PHASES:
        L[f"stream.phase.{ph}_s"] = median(p.durationMs.get(ph, 0) / 1e3
                                           for p in progress)
    jobs, tasks = _job_range_counts(sc, job_lo, job_hi)
    L["stream.jobs_per_batch"] = jobs / max(len(progress), 1)
    L["stream.tasks_per_batch"] = tasks / max(len(progress), 1)
    L["operators.dedup_state.self_s"] = stream_self.get("operators.dedup_state", 0.0)
    L["store_lease.self_s"] = stream_self.get("store_lease", 0.0)
    L["sinks.files.write_s"] = stream_incl.get("sinks.files.file_sink", 0.0)
    files = [os.path.join(d, f) for d, _, fs in os.walk(stream.state) for f in fs]
    L["state.files"] = len(files)
    L["state.mb"] = sum(os.path.getsize(f) for f in files) / 1e6
    L["dedup_state.dropped_frac"] = 1 - len(stream.rows) / max(stream.n_pass_files, 1)
    p = run.poller
    L["rest.jobs_ms.p50"] = median(p.jobs_ms)
    L["rest.jobs_ms.p95"] = pct(p.jobs_ms, 0.95)
    L["rest.status_ms.p50"] = median(p.status_ms)
    L["gen.late_max_s"] = stream.late_max
    L["stream.backlog_end"] = backlog_end


def finish_trace(run) -> None:
    """Everything was gathered while the session was up."""
