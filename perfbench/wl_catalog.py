"""Workload ``catalog``: closed loop, one client.

Builds and then acts on catalog keys of two groups into the noop sink,
one group per pass, key order shuffled per pass from the seed. The
warm-up pass (set-up) compares every key with its DuckDB oracle. An
operation is one key (build + noop write): ``op_s`` is the mean over
keys of each key's median time across rounds, ``work_per_s`` is keys
per second over all timed rounds.

The key groups are a subset of the LLM-data and relational operator
families, sized so that a run (JVM start, Python worker start, the
cold oracle pass and two timed rounds) stays under a minute:
the n-gram dedup, grouped-dispatch and global-window keys that ROADMAP
open items name, plus callers of the multimodal, ``spread`` and
quantiles operators.
"""

from __future__ import annotations

import random
import time
import uuid

import data
from run import GROUPS, EVENTLOG, median, start_session

KEYS = {
    "llm": ["dedup_ngram_jaccard", "multimodal_decode_features",
            "text_pii_redact"],
    "rel": ["cogroup_asof_merge", "ts_moving_window_avg",
            "events_rfm_segments"],
}
ROUND_S = 4.0   # window seconds per timed round
TRACED = ["operators.dedup", "operators.multimodal", "operators.relational",
          "operators.quantiles"]


def _run_key(run, queries, sf: str, key: str, group_id: str | None):
    """(build_s, execute_s) of one key; raises on failure."""
    spark = run.spark
    if group_id:
        spark.sparkContext.setJobGroup(group_id, key)
    t0 = time.perf_counter()
    df = queries[key](spark, sf)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def run(run) -> None:
    from universal_data_connector_spark.plans.catalog import ORACLES, QUERIES
    from tests.oracle_harness import compare, duck_connection

    spark = start_session(run)
    sf = run.path("tables")
    data.write_tables(sf, run.seed, run.scale)
    rng = random.Random(run.seed)

    # warm-up pass: each key's first execution is its oracle comparison
    duck = duck_connection(sf)
    for key in KEYS["llm"] + KEYS["rel"]:
        try:
            ok, detail = compare(QUERIES[key](spark, sf), duck.sql(ORACLES[key]))
        except Exception as exc:  # noqa: BLE001 - a failing key is a result
            ok, detail = False, repr(exc)[:200]
        run.check(ok, f"oracle {key}: {detail}")
        spark.catalog.clearCache()
    duck.close()

    if run.trace:
        from spans import Tracer
        run.tracer = Tracer(TRACED)
    run.first_timed_op()

    passes = {g: [] for g in GROUPS}     # untraced pass walls
    traced = {g: [] for g in GROUPS}     # per traced pass: layer dict
    key_s = run.detail.setdefault("key_s", {})
    # whole rounds (one pass per group), a fixed number per window, so
    # every key is sampled equally often; a traced run adds one traced
    # round after the first untraced one
    rounds = [False] * max(1, round(run.seconds / ROUND_S))
    if run.trace:
        rounds.insert(1, True)
    for tracing in rounds:
        for g in GROUPS:
            _one_pass(run, QUERIES, sf, g, rng, tracing, passes, traced, key_s)

    for g in GROUPS:
        run.detail[f"catalog_{g}_s"] = median(passes[g])
        run.detail[f"catalog_{g}_passes"] = len(passes[g])
        run.layers[f"catalog.{g}.pass_s"] = median(passes[g])
    # a key's latency is its median over rounds; op_s averages the keys
    run.op_s = sum(median(v) for v in key_s.values()) / len(key_s)
    run._traced_passes = traced


def _one_pass(run, QUERIES, sf, g, rng, tracing, passes, traced, key_s):
    spark = run.spark
    keys = list(KEYS[g])
    rng.shuffle(keys)
    if tracing:
        run.tracer.install()
    layer = {"build_s": 0.0, "execute_s": 0.0, "wall": {}}
    t_pass = time.perf_counter()
    for key in keys:
        gid = f"pb-{g}-{key}-{uuid.uuid4().hex[:8]}" if tracing else None
        t0 = time.perf_counter()
        try:
            b, e = _run_key(run, QUERIES, sf, key, gid)
            run.check(True, key)
        except Exception as exc:  # noqa: BLE001
            run.check(False, f"{key}: {exc!r}"[:200])
            b = e = 0.0
        op = time.perf_counter() - t0
        spark.catalog.clearCache()
        if tracing:
            layer["build_s"] += b
            layer["execute_s"] += e
            layer["wall"][gid] = op
        else:
            key_s.setdefault(key, []).append(op)
    wall = time.perf_counter() - t_pass
    if tracing:
        # later untraced passes must not inherit the last key's group
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        run.tracer.uninstall()
        layer["pass_s"] = wall
        from spans import job_counts
        for gid in layer["wall"]:
            for k, v in job_counts(spark.sparkContext, gid).items():
                layer[k] = layer.get(k, 0) + v
        traced[g].append(layer)
    else:
        passes[g].append(wall)
        run.work_units += len(keys)
        run.work_time += wall


def finish_trace(run) -> None:
    """Per-layer numbers from the traced passes and the event log."""
    from spans import eventlog_layers

    ev = eventlog_layers(run.path("eventlog"))
    untraced = sum(run.layers[f"catalog.{g}.pass_s"] for g in GROUPS)
    traced_wall = 0.0
    for g in GROUPS:
        tp = run._traced_passes[g]
        for k in ("build_s", "execute_s", "jobs", "stages", "tasks",
                  "one_task_stages"):
            run.layers[f"catalog.{g}.{k}"] = median(p.get(k, 0) for p in tp)
        per_pass = []
        for p in tp:
            agg = dict.fromkeys(EVENTLOG, 0.0)
            for gid, wall in p["wall"].items():
                m = ev.get(gid, {})
                agg["driver_gap_s"] += wall - m.get("stage_union_s", 0.0)
                for k in EVENTLOG[1:]:
                    agg[k] += m.get(k, 0.0)
            per_pass.append(agg)
        for k in EVENTLOG:
            run.layers[f"catalog.{g}.{k}"] = median(a[k] for a in per_pass)
        traced_wall += median(p["pass_s"] for p in tp)
    t = run.tracer
    # self time per traced pass (each group had the same number of them)
    n = max(len(run._traced_passes["llm"]), 1)
    for m in ("dedup", "multimodal", "relational", "quantiles"):
        run.layers[f"operators.{m}.self_s"] = t.self_s[f"operators.{m}"] / n
    run.layers["operators.relational.materialize_calls"] = (
        t.calls["operators.relational.materialize_reliable"]
        + t.calls["operators.relational.pin_frame"]) / n
    run.layers["operators.relational.spread_calls"] = (
        t.calls["operators.relational.spread"]
        + t.calls["operators.relational.grouped_spread"]) / n
    run.layers["trace.overhead_frac"] = traced_wall / max(untraced, 1e-9) - 1
