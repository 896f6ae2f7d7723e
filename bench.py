"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is fully materialized via the noop sink (measures the whole
plan — scan, shuffle, aggregation — without driver-collect overhead).
One warm-up execution amortizes JVM/codegen startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import re
import time

import pandas as pd

HEADLINE = [
    # core relational (rounds 1-2)
    "scan_parquet",
    "agg_hash_sum_avg",
    "agg_count_distinct",
    "join_inner_hash",
    "join_broadcast",
    "window_row_number_topk",
    "window_running_sum",
    "sort_multi_key",
    "stream_tumbling_count",
    "stream_session_window",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "sim_search_cosine_topk",
    "text_tokenize_stats",
    "text_quality_score",
    # rounds 3-5 operators (custom joins, skew strategy, exact
    # percentiles, graph dedup, packing, PII, multimodal, composition)
    "join_asof",
    "join_salted_skew",
    "agg_percentile_exact",
    "window_range_frame",
    "dedup_cluster_cc",
    "dedup_embedding_cosine",
    "sample_stratified",
    "reshape_pack_sequences",
    "text_token_count_bpe",
    "text_pii_redact",
    "multimodal_decode_features",
    "pipeline_training_data",
    # round 6 (per-key caps, gap-filled rollup, chunking, upsert sink)
    "sample_capped_per_key",
    "ts_rollup_gapfill",
    "reshape_chunk_tokens",
    "stream_upsert_latest",
    # round 7 (sessionization, path analysis, FK gate, moving window,
    # oracle-checkable LSH; star join joined the set from round 6)
    "events_sessionize_gap",
    "events_top_paths",
    "dq_fk_integrity",
    "ts_moving_window_avg",
    "sim_search_lsh",
    "join_star_schema",
    # round 7 analytics/state keys that previously aged without a
    # recorded number (VERDICT r7 item 7)
    "stream_agg_state_totals",
    "events_dau_wau",
    "ts_anomaly_mad",
    "ts_resample_interp",
    "ts_ewma",
    "agg_array_collect",
    # round 8 (weighted/argmax/corr aggregates, quantile segmentation,
    # IQR fences, attribution, basket pairs, TF-IDF, containment
    # dedup, sliding windows, tolerance as-of)
    "agg_weighted_avg",
    "agg_argmax_struct",
    "agg_corr_exact",
    "events_rfm_segments",
    "ts_outlier_iqr",
    "events_attribution_first_last",
    "market_basket_pairs",
    "text_tfidf_topk",
    "dedup_containment_ngram",
    "reshape_sliding_windows",
    "join_asof_tolerance",
    "ts_cumulative_distinct",
]


def read_steal_jiffies() -> int | None:
    """Aggregate steal time (field 8 of /proc/stat's cpu line): time
    this guest's vCPUs were runnable but not scheduled by the host.
    Recorded before/after the run so every BENCH artifact carries its
    own ambient-contention evidence (r20's 49 s headline landed in a
    ~26%-steal window that only separate canary files could prove)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return None


def read_loadavg_1min() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, IndexError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from universal_data_connector_spark.plans.catalog import QUERIES
    from universal_data_connector_spark.session import get_spark

    spark = get_spark("udc-bench", cpus=cpus)

    def run(name: str) -> tuple[float, int]:
        s0 = read_steal_jiffies()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        s1 = read_steal_jiffies()
        # Drop every persisted dataset before the next rep: Spark's
        # CacheManager substitutes cached plans by logical-plan
        # equality, so without this a repeat execution of the same
        # query reads the previous rep's DISK_ONLY blocks and min-of-N
        # times cached disk reads instead of recomputation. Outside the
        # timer — cache teardown isn't part of the query.
        spark.catalog.clearCache()
        steal = (s1 - s0) if s0 is not None and s1 is not None else 0
        return elapsed, steal

    # multi-job queries (iterative convergence loops, foreachBatch
    # stream sinks, eager rank-selection) launch many short Spark jobs
    # per rep — each job boundary is a fresh chance for a host
    # CPU-starvation spike to land, so their MEDIANS are far noisier
    # than single-plan queries (r8: dedup_cluster_cc driver median
    # 1.9x its min from one starved rep). Two extra reps so one spike
    # cannot move the median (VERDICT r8 item 6).
    MULTI_JOB = {"dedup_cluster_cc", "stream_upsert_latest",
                 "stream_agg_state_totals", "ts_outlier_iqr",
                 "events_rfm_segments"}

    # Steal-aware retry (r21 verdict "Next round #1"): the r21 driver
    # bench ran in a ~19%-steal window and recorded 9 phantom
    # "regressions" on untouched code (events_sessionize_gap 2.6 s vs
    # 0.42 s minutes later). A rep whose steal fraction — steal jiffies
    # during the rep over the machine's total jiffy capacity for its
    # duration (cpus * 100/s) — exceeds this threshold was measurably
    # contended, so the key earns extra reps (bounded) hunting for one
    # clean sample. min-of-reps reduction is unchanged; this only adds
    # samples when the existing ones are provably contaminated.
    STEAL_RETRY_FRAC = float(os.environ.get("SPARK_GRAFT_STEAL_FRAC", "0.015"))
    STEAL_RETRY_MAX = int(os.environ.get("SPARK_GRAFT_STEAL_RETRIES", "3"))
    # /proc/stat's cpu line aggregates over the CPUs it lists as cpuN
    # lines, so the jiffy capacity basis is that count — the counter's
    # own scope — not os.cpu_count() (which can disagree under CPU
    # hotplug or a container view) nor the Spark core count.
    def stat_cpus() -> int:
        try:
            with open("/proc/stat") as fh:
                return sum(1 for line in fh
                           if line.startswith("cpu") and line[3].isdigit())
        except OSError:
            return 0

    ncpu = stat_cpus() or os.cpu_count() or int(cpus)

    def steal_frac(elapsed: float, steal: int) -> float:
        cap = max(elapsed, 1e-9) * ncpu * 100.0
        return steal / cap

    def run_best(name: str, reps: int = 4) -> tuple[float, float, float, int]:
        """(min, median, min-rep steal fraction, extra reps) over reps.
        The host VM shows transient multi-second CPU starvation spikes
        that land on random queries; min-of-N measures the engine, not
        the neighbor, and the median rides along in the artifact so
        noise is diagnosable from the JSON alone (median >> min across
        queries = noisy run). Four reps so operators whose first
        execution materializes an eager checkpoint still get three
        clean samples; multi-job keys get two more so a single starved
        rep can't be the median. If even the BEST rep landed in a steal
        burst, up to STEAL_RETRY_MAX extra reps run until one clean
        sample exists — the r21 contended-window adjudication, done by
        the bench itself instead of a human reading canary files."""
        import statistics
        if name in MULTI_JOB:
            reps += 2
        samples = [run(name) for _ in range(reps)]
        extra = 0
        while (extra < STEAL_RETRY_MAX
               and steal_frac(*min(samples)) > STEAL_RETRY_FRAC):
            samples.append(run(name))
            extra += 1
        best = min(samples)
        ts = sorted(t for t, _ in samples)
        return best[0], statistics.median(ts), steal_frac(*best), extra

    run("agg_hash_sum_avg")  # warm-up: JVM, codegen, parquet footer cache

    # warm the Python worker pool (fork + numpy/pandas import happens
    # once per session; Arrow-batched operators shouldn't bill for it)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as np
        return s + int(np.int64(0))

    spark.range(0, int(cpus) * 4, 1, int(cpus)).select(_warm("id")) \
         .write.format("noop").mode("overwrite").save()

    def noise_probe(n: int = 5) -> list[float]:
        """Fixed CPU-bound task timed n times: a machine-noise canary.
        The work never changes, so spread across its samples measures
        the HOST (CPU starvation on the shared VM), not the engine —
        lets a reader separate real regressions from noisy runs."""
        import numpy as np
        a = np.arange(1_000_000, dtype=np.float64)
        ts = []
        for _ in range(n):
            t0 = time.perf_counter()
            for _ in range(10):
                (a * 1.0001 + 1.0).sum()
            ts.append(time.perf_counter() - t0)
        return ts

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "4"))
    steal_before = read_steal_jiffies()
    loadavg_before = read_loadavg_1min()
    wall_t0 = time.perf_counter()
    noise_before = noise_probe()
    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    noise_by_key: dict[str, float] = {}
    rep_steal: dict[str, float] = {}
    rep_extra: dict[str, int] = {}
    for name in HEADLINE:
        best, med, bsteal, extra = run_best(name, reps)
        times[name] = round(best, 3)
        medians[name] = round(med, 3)
        rep_steal[name] = round(bsteal, 4)
        if extra:
            rep_extra[name] = extra
        # one canary sample right after each key: the r9/r10 rounds
        # showed multi-second starvation BURSTS landing on random keys
        # mid-run — a per-key noise timeline lets a reader align a
        # key's elevation with the host state at that moment instead
        # of adjudicating from the run-level floor alone
        noise_by_key[name] = round(noise_probe(1)[0], 4)
    noise_after = noise_probe()
    steal_after = read_steal_jiffies()
    loadavg_after = read_loadavg_1min()
    wall_sec = round(time.perf_counter() - wall_t0, 1)
    steal_delta = (steal_after - steal_before
                   if steal_before is not None and steal_after is not None
                   else None)

    import statistics
    import sys
    noise = noise_before + noise_after
    total = round(sum(times.values()), 3)
    full = {
        "metric": "headline query set wall-clock (noop-materialized, warm JVM)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "noise_floor": {"min": round(min(noise), 4),
                        "median": round(statistics.median(noise), 4),
                        "max": round(max(noise), 4)},
        "noise_by_key": noise_by_key,
        "best_rep_steal_frac": rep_steal,
        "steal_retry_extra_reps": rep_extra,
        "reps": reps,
        "sf": sf,
        "spark_version": spark.version,
        "cpus": int(cpus),
        "steal_jiffies_before": steal_before,
        "steal_jiffies_after": steal_after,
        "steal_jiffies_delta": steal_delta,
        "loadavg_1min_before": loadavg_before,
        "loadavg_1min_after": loadavg_after,
        "timed_wall_sec": wall_sec,
    }
    # The driver records only the LAST 2000 bytes of stdout, so the
    # full (~4 KB) artifact goes to stderr + a sidecar file, and the
    # FINAL stdout line is a compact variant guaranteed to fit —
    # every round through r10 had `parsed: null` because the full
    # line overran the tail window (VERDICT r10 item 3).
    print(json.dumps(full), file=sys.stderr)
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_OUT",
                             os.path.join(os.path.dirname(
                                 os.path.abspath(__file__)),
                                 "bench_full_last_run.json"))
    try:
        with open(sidecar, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass
    compact = {
        "metric": "headline wall-clock sec (min-of-reps; full detail in bench_full_last_run.json)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "noise_floor": full["noise_floor"]["median"],
        "reps": reps,
        "steal_jiffies_delta": steal_delta,
        "loadavg_1min": loadavg_after,
        "timed_wall_sec": wall_sec,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # degrade deterministically: keep the slowest keys only, so
        # the parsed artifact still names where the time went
        top = dict(sorted(times.items(), key=lambda kv: -kv[1])[:30])
        compact["queries"] = top
        compact["queries_truncated_to_slowest"] = len(top)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
