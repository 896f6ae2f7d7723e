"""Round-22 optimization pins.

Guard rail for the scaled decimal fast path (r21 verdict "What's wrong
#3" / "Next round #8"): `exact_sum_scaled`'s correctness rests on a
call-site contract that nothing previously enforced. The runtime
assertion (`relational._scaled_guard`, env-gated via UDC_SCALED_ASSERT)
checks EXACT PATH EQUIVALENCE per value — the decimal the old cast
path produces must equal the scaled path's floor(v*1e6+0.5) integer —
and the sweep below runs every catalog query that uses the scaled
formulation against testdata with the assertion armed, so a future
call site on a column where the paths diverge FAILS here instead of
silently changing sums.
"""

from __future__ import annotations

import inspect
import os

import pytest

SF = os.environ.get("UDC_TEST_SF_DIR", "/root/testdata/sf0.001")

_SCALED_MARKERS = ("exact_sum_scaled", "exact_avg_scaled",
                   "clean6=True", "_scaled_guard")


def _scaled_query_names():
    from universal_data_connector_spark.plans.catalog import QUERIES
    names = []
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(inspect.unwrap(fn))
        except (OSError, TypeError):  # pragma: no cover
            continue
        if any(m in src for m in _SCALED_MARKERS):
            names.append(name)
    return names


def test_scaled_sweep_finds_call_sites():
    """The sweep must actually cover the converted call sites — if the
    marker scan ever comes back (near-)empty the guard is vacuous."""
    names = _scaled_query_names()
    assert len(names) >= 15, names
    assert "agg_hash_sum_avg" in names
    assert "ts_moving_window_avg" in names


def test_scaled_contract_holds_at_every_call_site(spark):
    """Run every scaled-path catalog query with the runtime contract
    assertion armed: a violation raises AssertionError/SparkException
    from F.assert_true inside the aggregate input. Queries are built
    AFTER setting the env var (the guard reads it at plan-construction
    time)."""
    from universal_data_connector_spark.plans.catalog import QUERIES

    os.environ["UDC_SCALED_ASSERT"] = "1"
    try:
        for name in _scaled_query_names():
            df = QUERIES[name](spark, SF)
            df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
    finally:
        os.environ.pop("UDC_SCALED_ASSERT", None)


def test_scaled_guard_rejects_diverging_value(spark):
    """Negative control: a double on which the decimal-cast path and
    the scaled path genuinely disagree (2.4999999999999998e-06: the
    toString decimal rounds to 0.000002 but v*1e6 lands above 2.5, so
    floor(+0.5) gives 3) must raise under the armed guard — proves the
    sweep can actually fail, on exactly the class of value where the
    fast path would silently change a sum."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.operators import relational as orel

    os.environ["UDC_SCALED_ASSERT"] = "1"
    try:
        df = spark.range(3).select(
            F.lit(2.4999999999999998e-06).alias("v"))
        agg = df.agg(orel.exact_sum_scaled("v").alias("s"))
        with pytest.raises(Exception) as ei:
            agg.collect()
        assert "contract violation" in str(ei.value)
    finally:
        os.environ.pop("UDC_SCALED_ASSERT", None)


def _write_events(tmp_path, pdf, name):
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tmp_path / name
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), str(d / "events.parquet"))
    return str(d)


def test_cogroup_asof_null_uid_group_emits_null(spark, tmp_path):
    """r21 ADVICE: a NULL user_id group must emit rows with NULL
    user_id (the old pandas body's behavior), not crash np.full."""
    import pandas as pd

    from universal_data_connector_spark.plans.catalog import QUERIES

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00",
                         "2024-01-01 02:00:00"])
    pdf = pd.DataFrame({
        "user_id": pd.array([None, 1, 1], dtype="Int64"),
        "event_id": [10, 11, 12],
        "event_type": ["click", "purchase", "click"],
        "value": [1.0, 2.0, 3.0],
        "ts": ts})
    sf = _write_events(tmp_path, pdf, "nulluid")
    rows = sorted(QUERIES["cogroup_asof_merge"](spark, sf).collect(),
                  key=lambda r: r.click_id)
    assert [(r.click_id, r.user_id, r.purchase_value) for r in rows] == \
        [(10, None, None), (12, 1, 2.0)]


def test_cogroup_asof_null_ts_fails_loudly(spark, tmp_path):
    """r21 ADVICE: NULL merge keys must raise (as pd.merge_asof did),
    not yield arbitrary NaT-ordered matches."""
    import pandas as pd
    import pytest as _pytest

    from universal_data_connector_spark.plans.catalog import QUERIES

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00",
                         pd.NaT])
    pdf = pd.DataFrame({
        "user_id": pd.array([1, 1, 1], dtype="Int64"),
        "event_id": [10, 11, 12],
        "event_type": ["click", "purchase", "click"],
        "value": [1.0, 2.0, 3.0],
        "ts": ts})
    sf = _write_events(tmp_path, pdf, "nullts")
    with _pytest.raises(Exception) as ei:
        QUERIES["cogroup_asof_merge"](spark, sf).collect()
    assert "NULL ts" in str(ei.value)


def test_grouped_dispatch_partitioning_pinned(spark):
    """grouped_spread (r22): AQE's byte-based partition coalescing
    collapsed the small-bytes/many-groups exchanges feeding
    groupBy().applyInPandas / cogroup().applyInArrow to ONE task,
    serializing ~1,500 per-group Python dispatches on one core
    (measured 3.2 s -> 0.65 s for agg_grouped_mad_pandas, 2.9 -> 0.55
    for cogroup_asof_merge at 32 partitions). Pin the explicit keyed
    REPARTITION_BY_NUM (exempt from AQE coalescing) feeding the
    grouped node, and that no SECOND exchange appeared (the grouped
    operator must reuse the repartition's hash partitioning)."""
    from universal_data_connector_spark.plans.catalog import QUERIES

    p = QUERIES["agg_grouped_mad_pandas"](spark, SF)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in p, p
    p2 = QUERIES["cogroup_asof_merge"](spark, SF)._jdf \
        .queryExecution().executedPlan().toString()
    # exactly one keyed REPARTITION_BY_NUM per cogroup side, and no
    # exchange of any other kind
    assert p2.count("REPARTITION_BY_NUM") == 2, p2
    assert p2.count("Exchange ") == 2, p2


def test_grouped_spread_scale_posture(spark):
    """grouped_spread's partition count must never fall below cluster
    parallelism and must be an explicit keyed repartition; a non-scan
    (in-memory) input falls back to defaultParallelism instead of
    failing."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.operators import relational as orel

    n = spark.sparkContext.defaultParallelism
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    out = orel.grouped_spread(df, "k")
    assert "RepartitionByExpression" in out._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert out.rdd.getNumPartitions() == n


def test_cogroup_sides_of_different_sizes_share_one_count(spark, tmp_path):
    """grouped_spread sizes the sides of a cogroup together. Sized
    apart, a large scan (many maxPartitionBytes splits) and a small
    one got different partition counts, and Spark added a third
    ENSURE_REQUIREMENTS exchange re-shuffling the small side to the
    large side's count. Pin exactly two exchanges, both the explicit
    keyed REPARTITION_BY_NUM at one count, and the cogroup's result."""
    import re

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_data_connector_spark.operators import relational as orel

    rng = np.random.default_rng(5)
    paths = {}
    for name, n in (("big", 150_000), ("small", 2_000)):
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"k": rng.integers(0, 500, n),
                                 "v": rng.random(n)}), paths[name])

    def sizes(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        k = left["k"].iloc[0] if len(left) else right["k"].iloc[0]
        return pd.DataFrame({"k": [k], "nl": [len(left)],
                             "nr": [len(right)]})

    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "64k")
    try:
        big = spark.read.parquet(paths["big"])
        small = spark.read.parquet(paths["small"])
        a, b = orel.grouped_spread([big, small], "k")
        out = (a.groupBy("k").cogroup(b.groupBy("k"))
                .applyInPandas(sizes, "k long, nl long, nr long"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r.k: (r.nl, r.nr) for r in out.collect()}
    finally:
        spark.conf.set(conf, old)

    assert plan.count("Exchange ") == 2, plan
    ex = re.findall(r"Exchange hashpartitioning\([^)]*, (\d+)\), (\w+)",
                    plan)
    assert [m for _, m in ex] == ["REPARTITION_BY_NUM"] * 2, plan
    counts = {int(c) for c, _ in ex}
    assert len(counts) == 1, plan
    # the large side's splits set the count, not cluster parallelism
    assert counts.pop() > spark.sparkContext.defaultParallelism, plan
    bk = pd.read_parquet(paths["big"])["k"].value_counts()
    sk = pd.read_parquet(paths["small"])["k"].value_counts()
    want = {int(k): (int(bk.get(k, 0)), int(sk.get(k, 0)))
            for k in set(bk.index) | set(sk.index)}
    assert got == want


def test_scaled_guard_accepts_clean_and_matches_unguarded(spark):
    """Positive control: on a clean 2-dp column the armed guard changes
    nothing — bit-identical to the unguarded scaled sum and to
    exact_sum."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.operators import relational as orel

    # F.round goes through BigDecimal -> the values are by construction
    # the doubles nearest 2-dp decimals (a raw id*0.01 product is NOT:
    # 3*0.01 != double(0.03))
    df = spark.range(1000).select(
        F.round((F.col("id") - 500) * F.lit(0.01), 2).alias("v"))
    base = df.agg(orel.exact_sum_scaled("v").alias("s")).collect()[0]["s"]
    ref = df.agg(orel.exact_sum("v").alias("s")).collect()[0]["s"]
    os.environ["UDC_SCALED_ASSERT"] = "1"
    try:
        guarded = df.agg(orel.exact_sum_scaled("v").alias("s")) \
                    .collect()[0]["s"]
    finally:
        os.environ.pop("UDC_SCALED_ASSERT", None)
    assert guarded == base == ref
