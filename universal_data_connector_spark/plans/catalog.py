"""Declared query catalog — the engine's operator contract.

Every key is one operator from SURVEY.md §2B. Each entry pairs

* a PySpark callable ``(spark, sf_dir) -> DataFrame`` built on the
  package's operator/function library, and
* where ANSI-SQL-expressible, an equivalent DuckDB oracle SQL string
  (tables pre-registered as views: region nation customer supplier part
  orders lineitem events documents embeddings).

Determinism rules (so Spark and DuckDB hash-match bit-for-bit):

* double sums go through ``exact_sum`` (decimal-exact, order-free);
  the oracle mirrors with CAST(CAST(SUM(CAST(CAST(x AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE),
* ranking windows always include a unique key as the final tiebreak,
* timestamps are emitted as formatted strings (session TZ pinned UTC),
* count/length-ish integers are cast to bigint on both sides,
* float-sensitive outputs (cosine scores) are either omitted or rounded
  far from decision thresholds.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from universal_data_connector_spark import session as udc_session
from universal_data_connector_spark.functions import casts as fc
from universal_data_connector_spark.functions import text as ft
from universal_data_connector_spark.operators import dedup as od
from universal_data_connector_spark.operators import multimodal as om
from universal_data_connector_spark.operators import relational as orel
from universal_data_connector_spark.operators import similarity as osim
from universal_data_connector_spark.tables import (
    _read_parquet,
    load,
    watermarkable_ts,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _scratch_dir(prefix: str) -> str:
    """Process-scoped scratch dir for sink/stream catalog queries,
    removed at interpreter exit. A bare mkdtemp per call accumulated
    dozens of udc_* directories in /tmp across bench/test sessions —
    and atexit alone still leaks them when a run is SIGKILLed (driver
    watchdogs, canceled sweeps), multiple GB per killed bench. So each
    call also best-effort sweeps SAME-PREFIX siblings — but only ones
    whose CREATOR PROCESS is provably gone (ADVICE r19): the creator
    pid is embedded in the dir name, and a sibling whose pid still
    runs is never touched, however old. The previous mtime-only 12 h
    rule read the TOP-LEVEL dir mtime, which POSIX does not refresh
    for writes inside nested subdirectories — a consumer legitimately
    alive past 12 h (or a concurrent session sharing the prefix)
    could lose a live dir. Legacy pid-less dirs keep the 12 h mtime
    aging so pre-r20 corpses still get collected."""
    import atexit
    import os
    import re as _re
    import shutil
    import tempfile
    import time as _time

    out = tempfile.mkdtemp(prefix=f"{prefix}p{os.getpid()}_")
    atexit.register(shutil.rmtree, out, True)
    parent = os.path.dirname(out)
    cutoff = _time.time() - 12 * 3600
    try:
        for name in os.listdir(parent):
            if not name.startswith(prefix) or name == os.path.basename(out):
                continue
            stale = os.path.join(parent, name)
            try:
                if not os.path.isdir(stale):
                    continue
                m = _re.match(_re.escape(prefix) + r"p(\d+)_", name)
                if m:
                    try:
                        os.kill(int(m.group(1)), 0)
                        continue  # creator alive: never sweep
                    except ProcessLookupError:
                        pass  # creator dead: corpse, sweep now
                    except PermissionError:
                        continue  # alive under another user
                elif os.path.getmtime(stale) >= cutoff:
                    continue  # legacy dir, too young to judge
                shutil.rmtree(stale, ignore_errors=True)
            except OSError:
                pass
    except OSError:
        pass
    return out

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# Per-thread handle on the pins of the previous catalog build, released
# when this thread builds its NEXT query (by which point the prior one's
# action has completed — driver / bench / oracle-sweep all run
# build->act->build->act). Thread-local so a concurrent build on another
# thread (PipelineManager worker, parallel test) can never release pins
# a still-running job depends on.
_BUILD_TL = threading.local()


def query(name: str, oracle: str | None = None):
    """Register a catalog query; `oracle=None` => rows-only check
    (genuinely non-SQL-expressible, e.g. LSH signatures).

    Caller contract — BUILD then ACT, per thread (ADVICE r11): frames
    a query pins during its build (`relational.pin_frame`, e.g. the
    rfm per-customer aggregate) are released when the SAME thread
    builds its NEXT catalog query, on the assumption the previous
    query's action has run by then. Driver, bench, oracle sweep and
    the tests all follow build->act->build->act. A caller that builds
    two queries before acting on the first gets CORRECT results but
    silently loses the first query's materialization (its persisted
    frame is unpersisted before the action, so the plan recomputes) —
    build-build-act is a perf bug, not a correctness bug."""
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            udc_session.pin(spark)
            # Release the PREVIOUS query's materialized intermediates —
            # exactly the frames pinned during that build on this
            # thread, nothing else. Bounds cache growth over an N-query
            # session to one query's worth instead of the union of all N.
            prev = getattr(_BUILD_TL, "prev_pins", None)
            if prev:
                orel.release_frames(prev)
            with orel.pin_scope() as pins:
                try:
                    out = fn(spark, sf_dir)
                except BaseException:
                    # A failed build leaves nothing to act on: release
                    # its pins NOW instead of leaking corpus-sized
                    # DISK_ONLY entries for the rest of the session.
                    orel.release_frames(pins)
                    raise
            _BUILD_TL.prev_pins = pins
            return out
        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # introspection (e.g. the r22
        # scaled-contract sweep reads call-site source via getsource)
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped
    return deco


def _dsum(sql_expr: str) -> str:
    """Oracle-side mirror of operators.relational.exact_sum, with a
    STRING hop on BOTH conversions (r17, caught by the sf1
    differential on sample_hash_split/agg_weighted_avg):

    * inner (double -> decimal): the hop makes DuckDB convert via the
      shortest decimal repr — exactly Spark's Cast
      (``BigDecimal(Double.toString(d))``, HALF_UP) — where a direct
      cast rounds the exact binary expansion;
    * outer (decimal -> double): DuckDB's direct cast computes
      unscaled/10^scale in floating point and DOUBLE-ROUNDS (one ulp
      off once the unscaled value exceeds 2^53, e.g. a 3e11 revenue
      total at sf1), while Spark's Decimal.toDouble is correctly
      rounded; the string round-trip is correctly rounded in both.

    The CASE guard zeroes |x| < 5e-7 first: DuckDB mis-parses
    scientific-notation strings whose every significant digit falls
    below the decimal's scale ('7e-9' -> 0.000001 instead of
    0.000000 — it rounds at the first significant digit, not the
    scale position), and doubles below 1e-4 render in scientific
    notation. Values >= 5e-7 keep a significant digit at/above the
    scale position, where the parse is correct; values < 5e-7 round
    to zero in Spark's HALF_UP anyway, so zeroing them is exact.
    (No real oracle column goes below 2e-4; the guard + the
    `test_round17_decimal_parity` property test pin the convention
    for arbitrary doubles.)"""
    guarded = f"CASE WHEN ABS({sql_expr}) < 5e-7 THEN 0.0 " \
              f"ELSE {sql_expr} END"
    return (f"CAST(CAST(SUM(CAST(CAST({guarded} AS STRING)"
            " AS DECIMAL(27,6))) AS STRING) AS DOUBLE)")


# ---------------------------------------------------------------------------
# Scan / ingest  (reference: S1-S5 sources, SURVEY.md §2A)
# ---------------------------------------------------------------------------

@query(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
    """,
)
def scan_parquet(spark, sf_dir):
    """Projected + filtered parquet scan. Catalyst pushes both the
    filter and the 4-column projection into the scan (PushedFilters /
    ReadSchema) — at 100 TB this is the difference between reading 4
    columns of matching row groups and reading everything."""
    return (load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
            .filter(F.col("l_shipdate") < "1997-01-01"))


@query(
    "scan_glob_filter",
    oracle="SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem",
)
def scan_glob_filter(spark, sf_dir):
    """Glob-filtered directory scan (reference file-source pattern
    matching, FileSourceContext.java:85-90) via Spark's native
    pathGlobFilter — file pruning happens at listing time."""
    df = (spark.read.option("pathGlobFilter", "lineitem*.parquet")
          .parquet(sf_dir))
    return df.agg(F.count("*").cast("bigint").alias("n_rows"))


@query(
    "scan_csv_typed",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS quantity,
           CAST(l_extendedprice AS DOUBLE) AS extendedprice
    FROM lineitem
    """,
)
def scan_csv_typed(spark, sf_dir):
    """Typed CSV ingest (reference record-mode: header binding + typed
    conversion, ParquetSinkContext.java:251-314): round-trip a slice of
    lineitem through a real CSV file and read it back with an explicit
    schema — no inferSchema (a second full scan at 100 TB)."""
    out = _scratch_dir("udc_csv_scan_")
    (load(spark, sf_dir, "lineitem")
     .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
     .write.mode("overwrite").option("header", True).csv(out))
    df = spark.read.schema(
        "l_orderkey bigint, l_linenumber int, l_quantity double, l_extendedprice double"
    ).option("header", True).csv(out)
    return df.select("l_orderkey", "l_linenumber",
                     F.col("l_quantity").alias("quantity"),
                     F.col("l_extendedprice").alias("extendedprice"))


# ---------------------------------------------------------------------------
# Projection / rename  (intent of the reference's dead `columnMapping`,
# PipelineBuilder.java:102-104)
# ---------------------------------------------------------------------------

@query(
    "project_columns",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)
def project_columns(spark, sf_dir):
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "rename_columns",
    oracle="""
    SELECT n_nationkey AS nation_id, n_name AS nation_name,
           n_regionkey AS region_id FROM nation
    """,
)
def rename_columns(spark, sf_dir):
    return load(spark, sf_dir, "nation").withColumnsRenamed(
        {"n_nationkey": "nation_id", "n_name": "nation_name", "n_regionkey": "region_id"})


# ---------------------------------------------------------------------------
# Filters  (reference T1, PipelineBuilder.java:27-89)
# ---------------------------------------------------------------------------

@query(
    "filter_contains",
    oracle="SELECT doc_id, source FROM documents WHERE text LIKE '%window%'",
)
def filter_contains(spark, sf_dir):
    """Reference T1 semantics at row granularity: substring,
    case-sensitive (`PipelineBuilder.java:73,83`)."""
    return (load(spark, sf_dir, "documents")
            .filter(F.col("text").contains("window"))
            .select("doc_id", "source"))


@query(
    "filter_equality",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def filter_equality(spark, sf_dir):
    return (load(spark, sf_dir, "lineitem")
            .filter(F.col("l_returnflag") == "R")
            .select("l_orderkey", "l_linenumber", "l_extendedprice"))


@query(
    "filter_null_safe",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE (CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END)
          IS NOT DISTINCT FROM NULL
    """,
)
def filter_null_safe(spark, sf_dir):
    """Null-safe equality (<=>): NULL <=> NULL is true, unlike `=`."""
    o = load(spark, sf_dir, "orders")
    nullified = F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("string")) \
                 .otherwise(F.col("o_orderstatus"))
    return (o.filter(nullified.eqNullSafe(F.lit(None).cast("string")))
             .select("o_orderkey", "o_orderstatus"))


@query(
    "filter_any_row_per_file",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE source IN (SELECT source FROM documents WHERE text LIKE '%dup%')
    """,
)
def filter_any_row_per_file(spark, sf_dir):
    """Reference T1 *whole-file* fidelity: keep every row of a source
    group iff ANY row in the group matches (PipelineBuilder.java:69-80
    keeps the entire file-item). One window, no self-join."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    return (d.withColumn("__any", F.max(F.col("text").contains("dup").cast("int")).over(w))
             .filter(F.col("__any") == 1)
             .select("doc_id", "source"))


# ---------------------------------------------------------------------------
# Map / derive  (reference T2 + K2 lenient casts)
# ---------------------------------------------------------------------------

@query(
    "map_prefix_suffix",
    oracle="SELECT doc_id, '>> ' || text || ' <<' AS mapped FROM documents",
)
def map_prefix_suffix(spark, sf_dir):
    """Reference T2: prefix + item + suffix (PipelineBuilder.java:116)."""
    return (load(spark, sf_dir, "documents")
            .select("doc_id", F.concat(F.lit(">> "), F.col("text"), F.lit(" <<")).alias("mapped")))


@query(
    "cast_lenient_int",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) || '.7' AS qty_str,
           CAST(TRUNC(CAST(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) || '.7' AS DOUBLE)) AS INTEGER) AS qty_int
    FROM lineitem
    """,
)
def cast_lenient_int(spark, sf_dir):
    """Reference lenient INT cast: decimals truncate ("42.7" -> 42),
    ParquetSinkContext.java:402-408. The synthesized "<n>.7" fixture
    string goes through floor(), not %.0f: printf-dialects disagree on
    exact-.5 halves (Java HALF_UP vs C half-even) and on NULL (Spark
    format_string prints '', DuckDB printf propagates NULL) — round-14
    fuzz."""
    li = load(spark, sf_dir, "lineitem")
    qty_str = F.concat(F.floor("l_quantity").cast("bigint").cast("string"),
                       F.lit(".7"))
    return li.select("l_orderkey", "l_linenumber",
                     qty_str.alias("qty_str"),
                     fc.lenient_int(qty_str).alias("qty_int"))


@query(
    "cast_currency_double",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           '$' || printf('%.2f', l_extendedprice) AS price_str,
           COALESCE(
               TRY_CAST(trim('$' || printf('%.2f', l_extendedprice)) AS DOUBLE),
               TRY_CAST(regexp_replace(trim('$' || printf('%.2f', l_extendedprice)),
                                       '[^0-9.\\-]', '', 'g') AS DOUBLE))
               AS price_num
    FROM lineitem
    """,
)
def cast_currency_double(spark, sf_dir):
    """Reference currency-tolerant DOUBLE cast ("$75,000.00" -> 75000.0),
    ParquetSinkContext.java:411-415 — parse first, strip on failure
    (mirrored in the oracle), so scientific notation survives."""
    li = load(spark, sf_dir, "lineitem")
    # NULL-guard the fixture: Spark's format_string renders a NULL arg
    # as '' (giving a spurious '$' string) where DuckDB's printf
    # propagates NULL — round-14 NULL fuzz. %.2f itself is safe here:
    # 2-decimal doubles never sit on a third-decimal rounding boundary.
    price_str = F.when(
        F.col("l_extendedprice").isNotNull(),
        F.concat(F.lit("$"), F.format_string("%.2f", F.col("l_extendedprice"))))
    return li.select("l_orderkey", "l_linenumber",
                     price_str.alias("price_str"),
                     fc.lenient_currency_double(price_str).alias("price_num"))


@query(
    "defaults_on_null",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COALESCE(CASE WHEN l_discount < 0.03 THEN NULL ELSE l_discount END, 0.0)
               AS discount_defaulted,
           COALESCE(CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END, '')
               AS returnflag_defaulted
    FROM lineitem
    """,
)
def defaults_on_null(spark, sf_dir):
    """Reference per-type NULL defaults (ParquetSinkContext.java:428-443):
    double -> 0.0, string -> ''."""
    li = load(spark, sf_dir, "lineitem")
    disc = F.when(F.col("l_discount") < 0.03, F.lit(None).cast("double")) \
            .otherwise(F.col("l_discount"))
    flag = F.when(F.col("l_returnflag") == "N", F.lit(None).cast("string")) \
            .otherwise(F.col("l_returnflag"))
    return li.select("l_orderkey", "l_linenumber",
                     fc.with_default(disc, "double").alias("discount_defaulted"),
                     fc.with_default(flag, "string").alias("returnflag_defaulted"))


# ---------------------------------------------------------------------------
# Joins  (absent from the reference — SURVEY.md §2A; full surface here)
# ---------------------------------------------------------------------------

@query(
    "join_inner_hash",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dsum('o.o_totalprice')} AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_hash(spark, sf_dir):
    """Equi inner join + aggregation. Both sides shuffle on the join
    key unless AQE converts to broadcast at runtime — which it does
    here since customer is small; at 100 TB the same plan holds because
    dimension tables stay broadcast-able."""
    o, c = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey, "inner")
             .groupBy(F.col("c_mktsegment").alias("mktsegment"))
             .agg(F.count("*").alias("n_orders"),
                  orel.exact_sum_scaled("o_totalprice").alias("sum_price")))


@query(
    "join_broadcast",
    oracle=f"""
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark, sf_dir):
    """Explicit broadcast-hash join: the fact side never shuffles —
    the 100 TB-correct plan for fact x dimension."""
    li, p = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy(F.col("p_brand").alias("brand"))
              .agg(F.count("*").alias("n_items"),
                   orel.exact_sum_scaled(revenue).alias("revenue")))


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left(spark, sf_dir):
    o, c = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    return (c.join(o, o.o_custkey == c.c_custkey, "left")
             .groupBy("c_custkey")
             .agg(F.count("o_orderkey").alias("n_orders")))


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark, sf_dir):
    """Left-semi join (EXISTS): no duplication of the left side, right
    columns never materialize — cheaper than inner+distinct."""
    o, c = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    big = o.filter(F.col("o_totalprice") > 400000)
    return (c.join(big, c.c_custkey == big.o_custkey, "left_semi")
             .select("c_custkey", "c_name"))


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = load(spark, sf_dir, "customer")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_name"))


@query(
    "join_range_theta",
    oracle="""
    SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM lineitem l JOIN part p
      ON l.l_partkey = p.p_partkey
     AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
    GROUP BY p.p_brand
    """,
)
def join_range_theta(spark, sf_dir):
    """Equi + range-residual join: the equi key drives the (broadcast)
    hash join, the theta predicate is a post-probe filter — this is how
    a range condition stays O(n) instead of a nested-loop O(n*m)."""
    li, p = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    cond = ((li.l_partkey == p.p_partkey)
            & (li.l_quantity >= p.p_size - 2)
            & (li.l_quantity <= p.p_size + 2))
    return (li.join(F.broadcast(p), cond)
              .groupBy(F.col("p_brand").alias("brand"))
              .agg(F.count("*").alias("n_matches")))


@query(
    "join_asof",
    oracle=f"""
    SELECT click_id, last_view_id FROM (
      SELECT c.event_id AS click_id, v.event_id AS last_view_id,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY v.ts DESC NULLS LAST,
                                         v.event_id DESC NULLS LAST) AS rn
      FROM events c
      LEFT JOIN events v
        ON v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts
      WHERE c.event_type = 'click'
    ) WHERE rn = 1
    """,
)
def join_asof(spark, sf_dir):
    """As-of join (no native Spark operator — composed from a range
    join + grouped argmax; operators/relational.py:as_of_join): for each
    click, the latest preceding view by the same user. view_id is the
    final orderBy key on both sides: ties on (user_id, ts) would
    otherwise make the winner nondeterministic."""
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click") \
              .select(F.col("event_id").alias("click_id"), "user_id", "ts")
    views = e.filter(F.col("event_type") == "view") \
             .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts"))
    j = clicks.join(views, (clicks.user_id == views.v_user) & (views.v_ts <= clicks.ts), "left")
    w = Window.partitionBy("click_id").orderBy(F.col("v_ts").desc_nulls_last(),
                                              F.col("view_id").desc_nulls_last())
    return (j.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1")
             .select("click_id", F.col("view_id").alias("last_view_id")))


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 200000
    GROUP BY o.o_orderkey
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    """Co-located join via bucketing: both sides written bucketed on
    the join key, so the join (and the following per-key aggregation)
    runs with ZERO exchanges — the structural fix when a big join's
    shuffle would dominate at 100 TB and the key is stable enough to
    pre-bucket. tests/test_plans.py asserts the executed plan has no
    Exchange between the scans and the join. Bucketed table names are
    DETERMINISTIC per sf_dir (md5 suffix) with drop-before-create, so
    repeated sessions replace rather than accumulate udc_b_* entries in
    the metastore, and an atexit hook drops the tables and removes the
    data directory on interpreter exit (best-effort — a fresh session
    recreates them anyway)."""
    n_buckets = 8
    # serialized setup: the check-then-act below (DROP + rmtree +
    # saveAsTable on deterministic names) would otherwise let two
    # concurrent builds delete each other's in-flight table data
    with _BUCKET_SETUP_LOCK:
        cache = getattr(spark, "_udc_bucket_tables", None)
        if cache is None:
            cache = spark._udc_bucket_tables = {}
        if sf_dir not in cache:  # one bucketed copy per (session, sf_dir)
            _build_bucket_tables(spark, sf_dir, n_buckets, cache)
    t_orders, t_lines = cache[sf_dir]
    o = spark.table(t_orders).filter(F.col("o_totalprice") > 200000)
    li = spark.table(t_lines)
    # merge hint: keep the bucket-aligned sort-merge join even when the
    # filtered side is small enough to broadcast — the point is the
    # exchange-free co-location, which also feeds the groupBy on the
    # same key without a shuffle.
    return (o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
             .groupBy("o_orderkey")
             .agg(F.count("*").cast("bigint").alias("n_lines")))


_BUCKET_SETUP_LOCK = threading.Lock()


def _build_bucket_tables(spark, sf_dir, n_buckets, cache):
    """Create the bucketed external tables for one (session, sf_dir);
    caller holds _BUCKET_SETUP_LOCK."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_lines = f"udc_b_orders_{suffix}", f"udc_b_lineitem_{suffix}"
    # external tables with an explicit location: saveAsTable would
    # otherwise drop a spark-warehouse dir under the CALLER's cwd
    base = os.path.join(tempfile.gettempdir(), f"udc_bucketed_{suffix}")
    spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
    spark.sql(f"DROP TABLE IF EXISTS {t_lines}")
    shutil.rmtree(base, ignore_errors=True)
    (load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
     .write.bucketBy(n_buckets, "o_orderkey").sortBy("o_orderkey")
     .option("path", os.path.join(base, t_orders))
     .mode("overwrite").saveAsTable(t_orders))
    (load(spark, sf_dir, "lineitem").select("l_orderkey")
     .write.bucketBy(n_buckets, "l_orderkey").sortBy("l_orderkey")
     .option("path", os.path.join(base, t_lines))
     .mode("overwrite").saveAsTable(t_lines))
    cache[sf_dir] = (t_orders, t_lines)

    def _cleanup(tables=(t_orders, t_lines), path=base):
        try:
            for t in tables:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        except Exception:  # noqa: BLE001 - session may be stopped
            pass
        shutil.rmtree(path, ignore_errors=True)

    atexit.register(_cleanup)


@query(
    "join_interval_overlap",
    oracle="""
    SELECT c.event_id AS click_id,
           CAST(COUNT(v.event_id) AS BIGINT) AS n_overlapping_views
    FROM (SELECT event_id, user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
          FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT event_id, user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
               FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id AND v.s <= c.e AND c.s <= v.e
    GROUP BY c.event_id
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join: each click's 30-minute activity window
    against overlapping view windows of the same user. The equi
    component (user_id) keeps it a hash join with the overlap range as
    a post-join filter — never a nested loop; at scale, bucketing both
    sides on the key co-locates it."""
    e = load(spark, sf_dir, "events")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    clicks = (e.filter(F.col("event_type") == "click")
               .select(F.col("event_id").alias("click_id"), "user_id",
                       F.col("ts").alias("c_s"), (F.col("ts") + half_hour).alias("c_e")))
    views = (e.filter(F.col("event_type") == "view")
              .select(F.col("event_id").alias("view_id"),
                      F.col("user_id").alias("v_user"),
                      F.col("ts").alias("v_s"), (F.col("ts") + half_hour).alias("v_e")))
    j = clicks.join(views, (clicks.user_id == views.v_user)
                    & (views.v_s <= clicks.c_e) & (clicks.c_s <= views.v_e),
                    "left")
    return (j.groupBy("click_id")
             .agg(F.count("view_id").cast("bigint").alias("n_overlapping_views")))


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT 'grp' || CAST(l_suppkey % 3 AS VARCHAR) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum('l_extendedprice')} AS revenue
    FROM lineitem GROUP BY 1
    """,
)
def join_salted_skew(spark, sf_dir):
    """Deterministic salted join under forced key skew: 600k fact rows
    funneled onto THREE join keys (the pathology AQE's skew split can't
    always reach, e.g. feeding stateful ops). The skewed side gets a
    content-hash salt bucket, the 3-row dimension replicates across
    salt values (operators/relational.py:salted_join), fanning each hot
    key over `salt` tasks. Salting must be invisible in the result —
    the oracle is the plain join, and values hash-match exactly."""
    li = (load(spark, sf_dir, "lineitem")
          .select((F.col("l_suppkey") % 3).alias("k"), "l_extendedprice"))
    dim = spark.range(3).select(
        F.col("id").alias("k"),
        F.concat(F.lit("grp"), F.col("id").cast("string")).alias("label"))
    j = orel.salted_join(li, dim, on=["k"], salt=16)
    return (j.groupBy("label")
             .agg(F.count("*").cast("bigint").alias("n_rows"),
                  orel.exact_sum_scaled("l_extendedprice").alias("revenue")))


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_customers, s.n_suppliers
    FROM (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_customers
          FROM customer WHERE c_acctbal < 0 GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers
          FROM supplier WHERE s_acctbal >= 5000 GROUP BY 1) s
    ON c.nk = s.nk
    """,
)
def join_full_outer(spark, sf_dir):
    """Full outer join preserving unmatched rows on both sides
    (completes the join-type family). The filters make each side a
    genuinely partial nation set, so both null-padded directions are
    exercised. Aggregated inputs are tiny; Catalyst picks a broadcast
    or shuffled hash join as cardinality dictates."""
    c = (load(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
         .groupBy(F.col("c_nationkey").alias("nk"))
         .agg(F.count("*").cast("bigint").alias("n_customers")))
    s = (load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 5000)
         .groupBy(F.col("s_nationkey").alias("nk"))
         .agg(F.count("*").cast("bigint").alias("n_suppliers")))
    return (c.join(s, "nk", "full_outer")
             .select(F.col("nk").alias("nationkey"), "n_customers", "n_suppliers"))


# ---------------------------------------------------------------------------
# Aggregation  (absent from the reference)
# ---------------------------------------------------------------------------

@query(
    "agg_hash_sum_avg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum('l_quantity')} / COUNT(l_quantity) AS avg_qty,
           {_dsum('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_sum_avg(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary — the flagship aggregation.
    Catalyst plans partial (map-side) + final aggregation automatically;
    decimal-exact sums make the result partition-order-independent."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.groupBy("l_returnflag", "l_linestatus")
              .agg(orel.exact_sum_scaled("l_quantity").alias("sum_qty"),
                   orel.exact_sum_scaled("l_extendedprice").alias("sum_base_price"),
                   orel.exact_sum_scaled(disc_price).alias("sum_disc_price"),
                   orel.exact_avg_scaled("l_quantity").alias("avg_qty"),
                   orel.exact_avg_scaled("l_extendedprice").alias("avg_price"),
                   F.count("*").alias("count_order")))


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark, sf_dir):
    return (load(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.countDistinct("l_partkey").alias("n_parts")))


@query("agg_approx_count_distinct")  # HLL sketches differ per engine -> rows-only
def agg_approx_count_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++): the 100 TB substitute for
    exact distinct counts — one pass, bounded memory, no huge shuffle.
    Sketch internals are engine-specific, so no cross-engine oracle."""
    return (load(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_partkey").alias("approx_parts")))


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n, {_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- Spark's rollup emits NO grand-total row on empty input (0 rows,
    -- both the DataFrame API and SQL), where DuckDB follows the SQL
    -- standard and emits one count-0 row; the HAVING mirrors Spark's
    -- dialect and is a no-op on non-empty input, where every emitted
    -- group has count >= 1 (round-14 degenerate-cardinality sweep)
    HAVING COUNT(*) > 0
    """,
)
def agg_rollup(spark, sf_dir):
    return (load(spark, sf_dir, "lineitem")
            .rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), orel.exact_sum_scaled("l_quantity").alias("sum_qty")))


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n, {_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    -- same empty-input dialect mirror as agg_rollup
    HAVING COUNT(*) > 0
    """,
)
def agg_cube(spark, sf_dir):
    return (load(spark, sf_dir, "lineitem")
            .cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), orel.exact_sum_scaled("l_quantity").alias("sum_qty")))


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n, {_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark, sf_dir):
    # unique per-build view name (a fixed session-global name races
    # across concurrent catalog builds), dropped once analysis has
    # inlined the plan
    import uuid

    li = load(spark, sf_dir, "lineitem")
    view = f"udc_li_gs_{uuid.uuid4().hex[:10]}"
    li.createOrReplaceTempView(view)
    try:
        return spark.sql(f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(CAST(l_quantity AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE) AS sum_qty
            FROM {view}
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """)
    finally:
        spark.catalog.dropTempView(view)


@query(
    "agg_pivot",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark, sf_dir):
    """Pivot with an explicit value list — never let Spark discover
    pivot values at plan time (that's an extra distinct scan)."""
    piv = (load(spark, sf_dir, "events")
           .groupBy("user_id")
           .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
           .count())
    return piv.select("user_id", *[F.coalesce(F.col(c), F.lit(0)).alias(c)
                                   for c in ["click", "view", "purchase", "signup", "error"]])


# ---------------------------------------------------------------------------
# Window functions  (absent from the reference)
# ---------------------------------------------------------------------------

@query(
    "window_row_number_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3
    """,
)
def window_row_number_topk(spark, sf_dir):
    """Grouped top-K: one shuffle on the partition key; unique-key
    tiebreak keeps it deterministic (operators/relational.py)."""
    o = load(spark, sf_dir, "orders")
    ranked = orel.top_k_per_group(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3)
    return ranked.select("o_custkey", "o_orderkey", "o_totalprice",
                         F.col("rnk").cast("bigint").alias("rn"))


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(27,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    out = orel.running_sum(o, ["o_custkey"],
                           [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
                           F.col("o_totalprice"), "running_total",
                           clean6=True)  # 2dp money column: scaled fast path
    return out.select("o_custkey", "o_orderkey", "running_total")


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select("o_custkey", "o_orderkey",
                    F.lag("o_totalprice").over(w).alias("prev_price"),
                    F.lead("o_totalprice").over(w).alias("next_price"))


@query(
    "window_rank_family",
    oracle="""
    SELECT p_partkey, p_brand,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS dense_rnk,
           percent_rank()    OVER w AS pct_rank,
           cume_dist()       OVER w AS cume,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
)
def window_rank_family(spark, sf_dir):
    """The full ranking-function family over one window (rank,
    dense_rank, percent_rank, cume_dist, ntile). p_partkey is the
    unique final tiebreak — the catalog's determinism rule. All five
    functions share a single sort: one shuffle on p_brand, one
    in-partition sort, no matter how many ranking columns ride on it."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return p.select(
        "p_partkey", "p_brand",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("dense_rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"))


@query(
    "window_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER w2 AS last_key,
           nth_value(o_orderkey, 2) OVER w2 AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark, sf_dir):
    """first/last/nth positional window values. last_value and
    nth_value run over the full-partition frame (the default
    running frame makes last_value just the current row — the classic
    trap); the unique o_orderkey tiebreak keeps every position
    deterministic."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w2).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w2).alias("second_key"))


# ---------------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------------

@query(
    "sort_multi_key",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
    ORDER BY o_orderstatus, o_orderpriority DESC, o_orderkey LIMIT 1000
    """,
)
def sort_multi_key(spark, sf_dir):
    """Multi-key sort + limit. Spark plans TakeOrderedAndProject — a
    per-partition top-N then a driver merge, never a full global sort."""
    return (load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
            .orderBy(F.col("o_orderstatus").asc(), F.col("o_orderpriority").desc(),
                     F.col("o_orderkey").asc())
            .limit(1000))


@query(
    "limit_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
    """,
)
def limit_topk(spark, sf_dir):
    return (load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
                     F.col("l_linenumber").asc())
            .limit(100))


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@query(
    "set_union_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def set_union_all(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return a.unionByName(b)


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_except(spark, sf_dir):
    c = (load(spark, sf_dir, "customer")
         .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    o = (load(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select(F.col("o_custkey").alias("c_custkey")))
    return c.subtract(o)  # EXCEPT (distinct) semantics, same as the oracle


# ---------------------------------------------------------------------------
# Scalar function library  (SURVEY.md §2A utility table)
# ---------------------------------------------------------------------------

@query(
    "str_funcs",
    oracle="""
    SELECT c_custkey,
           lower(c_name) AS lower_name, upper(c_mktsegment) AS upper_seg,
           substr(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS BIGINT) AS name_len,
           trim('  ' || c_name || '  ') AS trimmed,
           replace(c_name, 'Customer', 'Cust') AS replaced,
           c_name || '/' || c_mktsegment AS joined
    FROM customer
    """,
)
def str_funcs(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lower_name"),
        F.upper("c_mktsegment").alias("upper_seg"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("replaced"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("joined"))


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(day(o_orderdate) AS BIGINT) AS order_day,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           strftime(o_orderdate, '%Y-%m') AS order_ym
    FROM orders
    """,
)
def date_funcs(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("order_year"),
        F.month(d).cast("bigint").alias("order_month"),
        F.dayofmonth(d).cast("bigint").alias("order_day"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(d + F.expr("INTERVAL 30 DAY"), "yyyy-MM-dd").alias("due_date"),
        F.date_format(d, "yyyy-MM").alias("order_ym"))


@query(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 30000.0) AS abs_diff,
           CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
           CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
           round(l_extendedprice, 1) AS round_p,
           CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS sign_diff,
           CAST(l_orderkey % 7 AS BIGINT) AS mod7,
           greatest(l_quantity, 25.0) AS gmax,
           least(l_quantity, 25.0) AS gmin
    FROM lineitem
    """,
)
def math_funcs(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.abs(p - 30000.0).alias("abs_diff"),
        F.floor(p).alias("floor_p"),
        F.ceil(p).alias("ceil_p"),
        F.round(p, 1).alias("round_p"),
        F.signum(p - 30000.0).cast("double").alias("sign_diff"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("mod7"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("gmax"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("gmin"))


@query(
    "csv_parse_rfc4180",
    oracle="""
    SELECT n_nationkey,
           CAST(split_part(line, ',', 1) AS INTEGER) AS pk,
           split_part(line, ',', 2) AS name,
           CAST(split_part(line, ',', 3) AS INTEGER) AS rk
    FROM (SELECT n_nationkey,
                 n_nationkey || ',' || n_name || ',' || n_regionkey AS line
          FROM nation)
    """,
)
def csv_parse_rfc4180(spark, sf_dir):
    """In-flight CSV parse with Spark's RFC-4180 parser (`from_csv`) —
    replaces the reference's naive split(",") which mis-parses quoted
    commas (PipelineBuilder.java:70; divergence documented SURVEY §7.4.2)."""
    n = load(spark, sf_dir, "nation")
    line = F.concat_ws(",", F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey"))
    parsed = F.from_csv(line, "pk INT, name STRING, rk INT")
    return (n.select("n_nationkey", parsed.alias("p"))
             .select("n_nationkey", F.col("p.pk").alias("pk"),
                     F.col("p.name").alias("name"), F.col("p.rk").alias("rk")))


@query(
    "base64_roundtrip",
    oracle="""
    SELECT doc_id,
           to_base64(encode(substr(text, 1, 40))) AS b64,
           decode(from_base64(to_base64(encode(substr(text, 1, 40))))) AS decoded
    FROM documents
    """,
)
def base64_roundtrip(spark, sf_dir):
    """Reference base64 envelope encode/decode
    (DirectorySourceContext.java:115, S3SinkAdapter.java:29-47) as
    column expressions. The reference uses java.util.Base64's STANDARD
    encoder (no line breaks), so the engine encodes via
    ``fc.base64_std`` — Spark's raw ``base64()`` MIME-chunks payloads
    over 57 bytes with CRLF (round-14 fuzz finding on multibyte
    text)."""
    d = load(spark, sf_dir, "documents")
    head = F.substring("text", 1, 40)
    b64 = fc.base64_std(head.cast("binary"))
    return d.select("doc_id", b64.alias("b64"),
                    F.unbase64(b64).cast("string").alias("decoded"))


@query(
    "json_funcs",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def json_funcs(spark, sf_dir):
    """Semi-structured extraction: parse the events.props JSON column
    with a declared schema (from_json — no schema inference pass, which
    would be a second full scan at 100 TB) and aggregate the extracted
    field. Integer sums stay exact."""
    e = load(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"]
    return (e.select("event_type", k.alias("k"))
             .filter(F.col("k").isNotNull())
             .groupBy("event_type")
             .agg(F.count("*").cast("bigint").alias("n"),
                  F.sum("k").cast("bigint").alias("sum_k"),
                  F.min("k").cast("bigint").alias("min_k"),
                  F.max("k").cast("bigint").alias("max_k")))


@query(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price,
           CASE WHEN stddev_samp(l_quantity) > 0
                 AND stddev_samp(l_extendedprice) > 0
                THEN round(covar_samp(l_quantity, l_extendedprice)
                           / (stddev_samp(l_quantity)
                              * stddev_samp(l_extendedprice)), 6)
                ELSE NULL END AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark, sf_dir):
    """Distribution statistics per group: sample stddev/variance,
    covariance, correlation. Both engines merge partial moments
    numerically (Chan/Welford-style), so outputs are rounded below the
    last-ulp disagreement while staying far above data resolution.
    One partial-aggregated shuffle regardless of how many moments ride
    on the same groupBy.

    Correlation is derived as covar_samp / (sd_x * sd_y) with an
    explicit zero-variance guard instead of the built-in corr():
    Spark's corr() itself raises DIVIDE_BY_ZERO under ANSI mode on a
    constant-valued group (found by the round-12 differential fuzzer;
    the driver testdata has no such group). The guard is mirrored
    token-for-token in the oracle so both engines emit NULL there."""
    li = load(spark, sf_dir, "lineitem")
    sdx = F.stddev_samp("l_quantity")
    sdy = F.stddev_samp("l_extendedprice")
    corr = F.when((sdx > 0) & (sdy > 0),
                  F.round(F.covar_samp("l_quantity", "l_extendedprice")
                          / (sdx * sdy), 6))
    return (li.groupBy("l_returnflag")
              .agg(F.round(sdx, 4).alias("sd_qty"),
                   F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
                   F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
                    .alias("cov_qty_price"),
                   corr.alias("corr_qty_price")))


# ---------------------------------------------------------------------------
# Streaming semantics, verified on their batch-equivalent plans.
# The same expressions run under readStream + withWatermark in
# streaming/windows.py (tested there); `F.window`/`session_window` are
# identical operators in both modes, so the oracle checks the semantics
# while the streaming tests check triggers/watermarks/state.
# ---------------------------------------------------------------------------

@query(
    "stream_tumbling_count",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS window_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '{TS_FMT_DUCK}') AS window_end,
           event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_count(spark, sf_dir):
    """Tumbling event-time window aggregate (reference has NO event time
    at all — withoutTimestamps(), PipelineBuilder.java:152; this is the
    Structured-Streaming-native replacement)."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n"), orel.exact_sum_scaled("value").alias("sum_value"))
             .select(F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
                     F.date_format("w.end", TS_FMT_SPARK).alias("window_end"),
                     "event_type", "n", "sum_value"))


@query(
    "stream_sliding_agg",
    oracle=f"""
    WITH slid AS (
        SELECT date_trunc('hour', ts) AS ws, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, value FROM events
    )
    SELECT strftime(ws, '{TS_FMT_DUCK}') AS window_start,
           strftime(ws + INTERVAL 2 HOUR, '{TS_FMT_DUCK}') AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n, {_dsum('value')} AS sum_value
    FROM slid GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark, sf_dir):
    """Sliding window (2h length, 1h slide): each event lands in two
    windows; Spark explodes window assignment before the aggregation."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
             .agg(F.count("*").alias("n"), orel.exact_sum_scaled("value").alias("sum_value"))
             .select(F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
                     F.date_format("w.end", TS_FMT_SPARK).alias("window_end"),
                     "n", "sum_value"))


@query(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_s
        FROM events
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts) + INTERVAL 10 MINUTE, '{TS_FMT_DUCK}') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark, sf_dir):
    """Session windows (10-minute gap): events of a user merge while
    gaps stay under the timeout; window end = last event + gap. The
    oracle rebuilds the same semantics with lag + cumulative sum."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
             .agg(F.count("*").alias("n_events"))
             .select("user_id",
                     F.date_format("w.start", TS_FMT_SPARK).alias("session_start"),
                     F.date_format("w.end", TS_FMT_SPARK).alias("session_end"),
                     "n_events"))


@query(
    "stream_dedup_first_per_key",
    oracle="""
    SELECT user_id, event_type, event_id FROM (
        SELECT user_id, event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1
    """,
)
def stream_dedup_first_per_key(spark, sf_dir):
    """Keyed dedup keeping the earliest event — the batch-equivalent of
    streaming `dropDuplicatesWithinWatermark` (streaming variant with a
    real watermark lives in streaming/windows.py). `dropDuplicates`
    alone keeps an *arbitrary* row; first-by-time is the deterministic
    contract."""
    e = load(spark, sf_dir, "events")
    first = orel.top_k_per_group(e, ["user_id", "event_type"],
                                 [F.col("ts").asc(), F.col("event_id").asc()], 1)
    return first.select("user_id", "event_type", "event_id")


# SURVEY.md §2B names this capability `stream_dedup_watermark`; register
# the same query under that key so the inventory check is 1:1.
QUERIES["stream_dedup_watermark"] = QUERIES["stream_dedup_first_per_key"]
ORACLES["stream_dedup_watermark"] = ORACLES["stream_dedup_first_per_key"]


# ---------------------------------------------------------------------------
# LLM-training-data operators  (north star; operators/dedup.py,
# operators/similarity.py, functions/text.py, operators/multimodal.py)
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via sha256(normalized text), keep-min-id. One
    shuffle on a uniform 256-bit key — no skew at any scale."""
    d = load(spark, sf_dir, "documents")
    return (d.withColumn("fingerprint", ft.text_fingerprint(F.col("text")))
             .groupBy("fingerprint")
             .agg(F.min("doc_id").cast("bigint").alias("doc_id")))


# Shared DuckDB prelude of every exact-5-gram pair oracle: distinct
# word 5-grams per doc -> per-doc sizes -> shared-gram counts per
# (id_1 < id_2) pair. ONE definition so the four dedup oracles
# (near_minhash, ngram_jaccard, cluster_cc, containment) can never
# drift apart — their set-consistency is a pinned contract.
_SHINGLE_PAIR_CTE = """grams AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(w[i:i+4], ' ')
                                     for i in range(1, greatest(len(w)-3, 1))])) AS g
        FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents)
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


@query(
    "dedup_near_minhash",
    # The output is NOT the LSH signature set — it's the candidate
    # pairs *verified by exact Jaccard >= 0.8*, so the exact-Jaccard
    # SQL is a valid oracle: a true 0.8-pair misses every one of the
    # 32 bands with probability (1 - 0.8^4)^32 ~= 5e-8, and the verify
    # stage computes inter/union from the same distinct-gram integer
    # counts the SQL does (identical IEEE doubles).
    oracle="WITH " + _SHINGLE_PAIR_CTE + """
    SELECT id_1, id_2,
           CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes s1 ON id_1 = s1.doc_id
    JOIN sizes s2 ON id_2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) >= 0.8
    """,
)
def dedup_near_minhash(spark, sf_dir):
    """MinHash (128 hashes, 32 bands) + LSH candidate generation +
    exact-Jaccard verification at 0.8 (operators/dedup.py). Because the
    verify stage is exact, the output pair set equals the exact-Jaccard
    oracle (band-miss prob ~5e-8 per true pair); set-equality with
    `dedup_ngram_jaccard` is also pinned in tests/test_dedup.py."""
    d = load(spark, sf_dir, "documents")
    return od.minhash_dedup_pairs(d, threshold=0.8).select(
        "id_1", "id_2", "jaccard")


@query(
    "dedup_ngram_jaccard",
    oracle="WITH " + _SHINGLE_PAIR_CTE + """
    SELECT id_1, id_2,
           CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes s1 ON id_1 = s1.doc_id
    JOIN sizes s2 ON id_2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-5-gram Jaccard near-dup pairs (>= 0.8) via an
    inverted shingle index. This is the verify-stage primitive of the
    MinHash pipeline, so it's also the SQL-checkable ground truth."""
    d = load(spark, sf_dir, "documents")
    return od.ngram_jaccard_pairs(d, threshold=0.8)


@query(
    "dedup_cluster_cc",
    oracle="WITH RECURSIVE " + _SHINGLE_PAIR_CTE + """, pairs AS (
        SELECT id_1, id_2 FROM shared
        JOIN sizes s1 ON id_1 = s1.doc_id
        JOIN sizes s2 ON id_2 = s2.doc_id
        WHERE CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) >= 0.8
    ), sym AS (
        SELECT id_1 AS u, id_2 AS v FROM pairs
        UNION SELECT id_2, id_1 FROM pairs
    ), reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.r
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(MIN(r) AS BIGINT) AS cluster_id,
           CAST(node AS BIGINT) = CAST(MIN(r) AS BIGINT) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_cc(spark, sf_dir):
    """Duplicate-cluster resolution: near-dup pairs (exact word-5-gram
    Jaccard >= 0.8, the SQL-checkable pair graph) -> distributed
    connected components (alternating large-star/small-star,
    operators/dedup.py:connected_components) -> one canonical doc per
    cluster (min id), singletons canonical by definition. The oracle
    computes the same components via a recursive transitive-closure
    CTE — tractable for DuckDB at sf0.01, while the Spark side is the
    O(log n)-round formulation that holds at 100 TB."""
    d = load(spark, sf_dir, "documents")
    pairs = od.ngram_jaccard_pairs(d, threshold=0.8).select("id_1", "id_2")
    # pairs end in a groupBy on (id_1, id_2) -> unique by construction
    return od.dedup_clusters(d, pairs, pairs_unique=True)


@query("dedup_simhash")  # signature internals engine-specific -> rows-only
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 over 64-bit signatures,
    pigeonhole-banded candidate join). Validated against planted
    near-dups in tests/test_dedup.py."""
    d = load(spark, sf_dir, "documents")
    return od.simhash_candidates(d, max_hamming=3)


def _embedding_cosine_banded_oracle_sql(dim: int = 64,
                                        n_planes: int = 1280,
                                        bands: int = 64, seed: int = 7,
                                        threshold: float = 0.95) -> str:
    """Banded candidate oracle for ``dedup_embedding_cosine``
    (VERDICT r18 item 5): replicate the engine's fixed-seed hyperplane
    banding (`lsh_plane_weights` — the sim_search_lsh precedent) in
    DuckDB, then exact-verify cosine on the candidates, so the oracle
    scales like the engine (sum of bucket^2 per band) instead of the
    O(n^2) brute force that watchdog-timed-out on the sf10 population
    (~4e10 dot products). Semantics are IDENTICAL to the engine's
    pipeline: candidate iff some 20-bit band code matches, pair iff
    the exact cosine clears the threshold — and identical to the old
    brute-force oracle wherever band recall is exact (pinned both
    ways: the planted-dup recall bound in tests/test_dedup.py, and the
    banded-vs-brute SQL equality differential in
    tests/test_round19_fixes.py). Sign decisions are safe across
    engines exactly as in `_lsh_oracle_sql`: the plane constants are
    shortest-round-trip float64 literals, so both engines dot the same
    doubles. The zero-norm guard mirrors the engine's NULL-on-zero
    (Spark drops the row; bare DuckDB would compare NaN)."""
    from universal_data_connector_spark.operators.similarity import (
        lsh_plane_weights,
    )

    W = lsh_plane_weights(dim, n_planes, seed)
    width = n_planes // bands

    def plane_lit(p: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in W[:, p]) + "]"

    band_exprs = ",\n               ".join(
        "(" + " + ".join(
            f"(CASE WHEN list_dot_product(e, {plane_lit(b * width + i)})"
            f" > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(width)) + ")"
        for b in range(bands))
    cos = ("list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e))"
           " * sqrt(list_dot_product(b.e, b.e)))")
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), sigs AS (
        SELECT vec_id,
               [{band_exprs}] AS bv
        FROM base
    ), memb AS (
        SELECT vec_id, i AS band_idx, bv[i + 1] AS band_val
        FROM sigs, range({bands}) t(i)
    ), cand AS (
        SELECT DISTINCT m1.vec_id AS id_1, m2.vec_id AS id_2
        FROM memb m1 JOIN memb m2
          ON m1.band_idx = m2.band_idx AND m1.band_val = m2.band_val
        WHERE m1.vec_id < m2.vec_id
    )
    SELECT id_1, id_2
    FROM cand
    JOIN base a ON a.vec_id = id_1
    JOIN base b ON b.vec_id = id_2
    WHERE list_dot_product(a.e, a.e) > 0 AND list_dot_product(b.e, b.e) > 0
      AND {cos} >= {threshold}
    """


@query(
    "dedup_embedding_cosine",
    oracle=_embedding_cosine_banded_oracle_sql(),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: cosine >= 0.95, candidates-then-verify
    (operators/similarity.py:lsh_near_dup_pairs) — hyperplane-LSH band
    equi-join generates candidates, one dot product over once-normalized
    vectors verifies each. No all-pairs join anywhere in the plan (the
    exact pairwise form lives only in tests/test_dedup.py as the
    oracle). Since r19 the DuckDB oracle replicates the SAME fixed-seed
    banding (see _embedding_cosine_banded_oracle_sql) so it scales to
    the sf10 population the brute-force form timed out on; banded ==
    brute-force SQL equality is pinned in tests/test_round19_fixes.py.
    Cosine values are excluded from the output so the check is
    robust to last-ulp float differences; 0.95 sits far above the
    testdata's max pairwise cosine (~0.51 — random vectors, no planted
    dups), so no pair rides a float boundary, and banding recall at the
    boundary (~1 - 3.3e-4 with 64x20-bit bands; ~1e-30 at planted-dup
    similarity) is proven on planted near-dup vectors in
    tests/test_dedup.py."""
    e = load(spark, sf_dir, "embeddings")
    return osim.lsh_near_dup_pairs(e, threshold=0.95).select("id_1", "id_2")


@query(
    "dedup_contamination_ngram",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> t <> '') AS w
        FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(w[i:i+12], ' ')
                                     for i in range(1, greatest(len(w)-11, 1))])) AS g
        FROM toks WHERE len(w) >= 13),
    bench AS (
        SELECT doc_id AS bench_id, g FROM grams
        WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < '08')
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM grams t JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def dedup_contamination_ngram(spark, sf_dir):
    """GPT-3-style decontamination (operators/dedup.py:
    contamination_overlap): per train document, distinct 13-gram
    collisions against a benchmark set — here a deterministic ~3%
    hash-sample of the corpus stands in for the eval set, so sampled
    docs flag against themselves and near-dups flag against their
    twins. Benchmark grams broadcast; the train side rides the scan
    with no shuffle before the final per-doc aggregation."""
    d = load(spark, sf_dir, "documents")
    bench = (d.filter(F.substring(F.sha2(F.col("doc_id").cast("string"), 256),
                                  1, 2) < "08")
              .select(F.col("doc_id").alias("bench_id"), "text"))
    return od.contamination_overlap(d, bench)


@query(
    "sim_search_cosine_topk",
    oracle="""
    SELECT query_id, neighbor_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
                            DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
)
def sim_search_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors (the exact
    baseline; operators/similarity.py also ships the IVF scale path,
    benchmarked in bench.py). Query side broadcast, corpus scanned
    once; rank is cast to bigint to match the oracle."""
    e = load(spark, sf_dir, "embeddings")
    out = osim.brute_force_topk(e.filter(F.col("vec_id") < 10), e, k=5)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))


def _ivf_oracle_sql(n_centroids: int = 16, n_probe: int = 4,
                    k: int = 5) -> str:
    """DuckDB oracle replicating the IVF index EXACTLY (VERDICT r7
    item 6, the sim_search_lsh precedent): the default centroids are
    deterministic corpus rows (first ``n_centroids`` vec_ids), so
    assignment (argmax cosine, centroid-id tiebreak), probe selection
    (top ``n_probe`` centroids per query) and the per-list exact top-k
    are all plain SQL — an approximate index made hash-checkable
    because its 'training' is a deterministic convention. The cosine
    denominators go through NULLIF so a zero-norm vector sorts last in
    both engines (Spark: NULL; bare DuckDB would give NaN, which
    DuckDB orders ABOVE every value)."""
    def cos(x, y):
        return (f"list_dot_product({x}, {y}) / NULLIF("
                f"sqrt(list_dot_product({x}, {x}))"
                f" * sqrt(list_dot_product({y}, {y})), 0)")

    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cents AS (
        SELECT vec_id AS centroid_id, e AS c
        FROM base ORDER BY vec_id LIMIT {n_centroids}
    ), assigned AS (
        SELECT vec_id, e, centroid_id FROM (
            SELECT b.vec_id, b.e, ct.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                       ORDER BY {cos('b.e', 'ct.c')} DESC,
                                ct.centroid_id) AS rn
            FROM base b CROSS JOIN cents ct
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, e AS qe, centroid_id FROM (
            SELECT b.vec_id, b.e, ct.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                       ORDER BY {cos('b.e', 'ct.c')} DESC,
                                ct.centroid_id) AS rn
            FROM base b CROSS JOIN cents ct
            WHERE b.vec_id < 10
        ) WHERE rn <= {n_probe}
    )
    SELECT query_id, neighbor_id, rank FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                   ORDER BY {cos('p.qe', 'a.e')} DESC, a.vec_id) AS rank
        FROM probes p JOIN assigned a USING (centroid_id)
        WHERE a.vec_id <> p.query_id
    ) WHERE rank <= {k}
    """


@query("sim_search_ivf", oracle=_ivf_oracle_sql())
def sim_search_ivf(spark, sf_dir):
    """IVF-partitioned ANN (16 lists, probe 4): the 100 TB similarity
    path — scan fraction ~ n_probe/n_centroids. Recall vs brute force
    is asserted in tests/test_similarity.py; the result set itself is
    exactly reproducible (deterministic first-n centroids embedded as
    a convention in the oracle SQL), so the driver hash-checks it."""
    e = load(spark, sf_dir, "embeddings")
    out = osim.ivf_topk(e.filter(F.col("vec_id") < 10), e, k=5,
                        n_centroids=16, n_probe=4)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))


def _lsh_oracle_sql(dim: int = 64, n_planes: int = 16, bands: int = 4,
                    seed: int = 7, threshold: float = 0.30) -> str:
    """DuckDB oracle that replicates hyperplane-LSH banding EXACTLY:
    the fixed-seed plane constants (`lsh_plane_weights`) are embedded
    as double literals, so the oracle derives the same sign-bit band
    codes, the same candidate set, and the same verified matches as
    the Spark operator — an approximate index made hash-checkable
    because its randomness is a deterministic, published constant.
    Sign decisions are safe across engines: min |dot| over the test
    embeddings is ~2e-5, ten orders above double reordering noise."""
    from universal_data_connector_spark.operators.similarity import (
        lsh_plane_weights,
    )

    W = lsh_plane_weights(dim, n_planes, seed)
    width = n_planes // bands

    def plane_lit(p: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in W[:, p]) + "]"

    band_cols = ",\n               ".join(
        "(" + " + ".join(
            f"(CASE WHEN list_dot_product(e, {plane_lit(b * width + i)})"
            f" > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(width)) + f") AS b{b}"
        for b in range(bands))
    on = " OR ".join(f"q.b{b} = c.b{b}" for b in range(bands))
    cos = ("list_dot_product(q.e, c.e) / (sqrt(list_dot_product(q.e, q.e))"
           " * sqrt(list_dot_product(c.e, c.e)))")
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), sigs AS (
        SELECT vec_id, e,
               {band_cols}
        FROM base
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({cos}, 6) AS cosine
    FROM sigs q JOIN sigs c ON ({on})
    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      -- mirror the engine's NULL-on-zero-norm: Spark's cosine returns
      -- NULL for a zero vector (row dropped by the threshold), DuckDB
      -- computes 0/0 = NaN which it orders ABOVE any value, so a
      -- zero vector would pass the >= filter only in the oracle
      AND list_dot_product(q.e, q.e) > 0 AND list_dot_product(c.e, c.e) > 0
      AND {cos} >= {threshold}
    """


@query("sim_search_lsh", oracle=_lsh_oracle_sql())
def sim_search_lsh(spark, sf_dir):
    """Hyperplane-LSH verified matches (operators/similarity.py:
    lsh_verified_matches): 16 fixed Gaussian hyperplanes -> sign
    signature -> 4 pigeonhole bands -> candidates -> exact
    double-precision cosine >= 0.30 on candidates only. The output is
    EXACTLY reproducible by the oracle because the plane constants are
    deterministic (fixed seed) and embedded in the SQL — converting
    the one formerly rows-only LSH row into a hash-checked one
    (VERDICT r6 item 7). Top-k ranking behavior and recall stay
    pinned on lsh_topk in tests/test_similarity.py."""
    e = load(spark, sf_dir, "embeddings")
    return osim.lsh_verified_matches(e.filter(F.col("vec_id") < 10), e,
                                     threshold=0.30)


# RETIRED round 12 (VERDICT r11 item 6 — the standing capacity policy's
# first deliberate exercise): ``sim_search_ivf_kmeans`` left the driver
# catalog to make room for ``events_window_funnel_conversion`` in the
# same commit. The key was PERMANENTLY rows-only (trained centroids
# cannot be embedded in import-time oracle SQL — decision recorded
# round 9), so retiring it raises the catalog's oracled fraction from
# 143/147 to 144/147. Its evidence moved to the in-repo suite:
# ``tests/test_similarity.py::test_ivf_kmeans_catalog_chain_on_testdata``
# reproduces the retired catalog chain verbatim (MLlib spherical
# k-means training on the real sf0.001 embeddings table -> probe-2 IVF
# top-5 -> schema/rowcount/determinism pins), alongside the standing
# planted-cluster recall pin. The operators themselves
# (``operators/similarity.py::kmeans_centroids`` / ``ivf_topk``) are
# unchanged and still serve ``sim_search_ivf``.


@query(
    "embedding_normalize",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         n AS (SELECT vec_id, e,
                      sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum')) AS nrm
               FROM v)
    SELECT vec_id, round(nrm, 6) AS l2_norm,
           array_to_string(
               CASE WHEN nrm > 0
                    THEN list_transform(e, x -> CAST(round(x / nrm * 127) AS INT))
                    ELSE list_transform(e, x -> 0) END, ',') AS int8_csv
    FROM n
    """,
)
def embedding_normalize(spark, sf_dir):
    """Embedding hygiene for training pipelines: L2 norm + symmetric
    int8 quantization (x/||x|| * 127, rounded), emitted as a CSV string
    so the oracle compare is exact. Pure higher-order array expressions
    — a shuffle-free projection that quantizes 100 TB of vectors at
    scan speed. Zero vectors quantize to zeros rather than dividing by
    zero."""
    # no spread: pure cheap projection — the repartition shuffle of raw
    # vectors costs more than the fan-out gains (measured at sf0.1)
    e = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = e.select("vec_id", v.alias("__v")).withColumn(
        "__n", F.sqrt(F.aggregate("__v", F.lit(0.0), lambda a, x: a + x * x)))
    quant = F.when(
        F.col("__n") > 0,
        F.transform("__v", lambda x: F.round(x / F.col("__n") * 127).cast("int"))
    ).otherwise(F.transform("__v", lambda x: F.lit(0)))
    return df.select(
        "vec_id", F.round("__n", 6).alias("l2_norm"),
        F.concat_ws(",", F.transform(quant, lambda q: q.cast("string"))).alias("int8_csv"))


@query(
    "text_tokenize_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN len(toks) = 0 THEN NULL ELSE
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS avg_token_len,
           CASE WHEN len(toks) = 0 THEN NULL ELSE
               CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS distinct_ratio
    FROM (SELECT doc_id, text,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents)
    """,
)
def text_tokenize_stats(spark, sf_dir):
    """Per-document token statistics (functions/text.py): all
    higher-order array expressions — a pure projection over 100 TB.
    No spread: the projection is cheap enough that the raw-text shuffle
    never pays for itself (measured at sf0.1). The two ratio columns
    are NULL for zero-token (empty / whitespace-only) documents —
    found by the round-12 differential fuzzer: the unguarded division
    crashed the whole query under ANSI mode on any corpus containing
    one empty document (the driver testdata has none, so twelve rounds
    of green never exercised it)."""
    d = load(spark, sf_dir, "documents")
    toks = ft.tokenize(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    tok_len_sum = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    nonzero = F.when(n_tokens > 0, n_tokens.cast("double"))  # NULL at 0
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars"),
        (tok_len_sum.cast("double") / nonzero).alias("avg_token_len"),
        (n_distinct.cast("double") / nonzero).alias("distinct_ratio"))


@query(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer count: regex over word / number /
    punctuation classes shared by Java regex and RE2. No spread:
    cheap projection, shuffle never pays (measured at sf0.1)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", ft.regex_token_count(F.col("text")).alias("n_bpe_tokens"))


_LID_SQL_LISTS = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in ft.STOPWORDS.items()
}

@query(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> list_contains({_LID_SQL_LISTS['en']}, t))) AS h_en,
               len(list_filter(toks, t -> list_contains({_LID_SQL_LISTS['de']}, t))) AS h_de,
               len(list_filter(toks, t -> list_contains({_LID_SQL_LISTS['fr']}, t))) AS h_fr,
               len(list_filter(toks, t -> list_contains({_LID_SQL_LISTS['es']}, t))) AS h_es
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 t -> t <> '') AS toks
              FROM documents)
    )
    SELECT doc_id, lang AS labeled_lang,
           -- coalesce: NULL text yields NULL hit counts, which must
           -- resolve to 'unknown' like the engine (a bare CASE would
           -- fall through every NULL comparison to the ELSE branch —
           -- round-12 NULL-injection fuzzer)
           CASE WHEN coalesce(greatest(h_en, h_de, h_fr, h_es), 0) = 0
                THEN 'unknown'
                WHEN h_en >= greatest(h_de, h_fr, h_es) THEN 'en'
                WHEN h_de >= greatest(h_fr, h_es) THEN 'de'
                WHEN h_fr >= h_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM scored
    """,
)
def text_language_id(spark, sf_dir):
    """Stopword-argmax language heuristic (functions/text.py). Ties
    resolve to the first language in (en, de, fr, es) order; all-zero
    resolves to 'unknown' — the oracle mirrors the fold order."""
    d = orel.spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", F.col("lang").alias("labeled_lang"),
                    ft.language_id(F.col("text")).alias("predicted_lang"))


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                  + least((CASE WHEN len(toks) > 0
                           THEN CAST(len(list_filter(toks, t -> list_contains(
                                ['the','a','and','of','to','in','is','on','for','with'], t)))
                                AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                           ELSE 0.0 END) * 5.0, 1.0)
                  + (1.0 - least((CASE WHEN length(text) > 0
                       THEN CAST(length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS DOUBLE)
                            / CAST(length(text) AS DOUBLE)
                       ELSE 0.0 END) * 10.0, 1.0)))
                 / 3.0, 6) AS quality
    FROM (SELECT doc_id, text,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents)
    """,
)
def text_quality_score(spark, sf_dir):
    """Composite quality heuristic (length / stopword / punctuation
    components, functions/text.py:quality_score), rounded to 6 dp for
    float robustness."""
    d = orel.spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", F.round(ft.quality_score(F.col("text")), 6).alias("quality"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Deterministic document fingerprint over normalized text.
    No spread: cheap projection, shuffle never pays (measured)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", ft.text_fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "text_rolling_hash",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                              '[^\\x20-\\x7e]', '', 'g') AS t
        FROM documents
    )
    SELECT doc_id,
           -- NULL text hashes to NULL (distinct from empty text -> 0),
           -- matching the engine's NULL propagation through the fold
           -- (round-12 NULL-injection fuzzer: DuckDB's reduce over the
           -- prepended seed returned 0 for NULL input instead)
           CASE WHEN t IS NULL THEN NULL
                WHEN length(t) = 0 THEN CAST(0 AS BIGINT)
                ELSE list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                                 [CAST(ascii(c) AS BIGINT)
                                  for c in list_filter(string_split(t, ''), c -> c <> '')]),
                    (a, x) -> (a * 31 + x) % 1000000007)
           END AS rolling_hash
    FROM norm
    """,
)
def text_rolling_hash(spark, sf_dir):
    """Polynomial rolling-hash document fingerprint (Rabin-Karp style,
    base 31 mod 1e9+7) over normalized printable-ASCII text — the
    incremental-update-friendly fingerprint family, complementing
    text_fingerprint's sha256. A sequential higher-order fold per
    document: shuffle-free, JVM-side, O(chars)."""
    d = orel.spread(load(spark, sf_dir, "documents"))
    t = F.regexp_replace(ft.normalize_text(F.col("text")), r"[^\x20-\x7e]", "")
    chars = F.filter(F.split(t, ""), lambda c: c != "")
    fold = F.aggregate(chars, F.lit(0).cast("bigint"),
                       lambda a, c: (a * 31 + F.ascii(c).cast("bigint")) % 1000000007)
    return d.select(
        "doc_id",
        F.when(F.length(t) == 0, F.lit(0).cast("bigint"))
         .otherwise(fold).alias("rolling_hash"))


@query(
    "text_pii_redact",
    oracle=f"""
    WITH msg AS (
        SELECT c_custkey,
               'Reach ' || c_name || ' <' || lower(replace(c_name, '#', '.')) ||
               '@corp.example.com> or 555-' ||
               printf('%03d-%04d', c_custkey % 1000, c_custkey % 10000) AS m
        FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(m, '{ft.PII_PATTERNS["EMAIL"]}', '[EMAIL]', 'g'),
                          '{ft.PII_PATTERNS["PHONE"]}', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(m, '{ft.PII_PATTERNS["EMAIL"]}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(m, '{ft.PII_PATTERNS["PHONE"]}')) AS BIGINT) AS n_phones
    FROM msg
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing for training corpora: tag-replace emails and
    phone-shaped digit runs, with per-kind audit counts
    (functions/text.py:redact_pii / pii_counts — patterns restricted to
    syntax with identical Java-regex/RE2 semantics). The corpus text is
    synthesized from customer columns so the testdata actually contains
    PII to find. A regexp_replace chain is a pure projection: scans
    100 TB with no shuffle and no Python."""
    c = orel.spread(load(spark, sf_dir, "customer"))
    msg = F.concat(
        F.lit("Reach "), F.col("c_name"), F.lit(" <"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@corp.example.com> or 555-"),
        F.format_string("%03d-%04d", F.col("c_custkey") % 1000,
                        F.col("c_custkey") % 10000))
    counts = ft.pii_counts(msg, ["EMAIL", "PHONE"])
    return c.select("c_custkey",
                    ft.redact_pii(msg, ["EMAIL", "PHONE"]).alias("redacted"),
                    counts["EMAIL"].alias("n_emails"),
                    counts["PHONE"].alias("n_phones"))


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_length,
           sha256(text) AS content_sha256,
           'application/octet-stream' AS media_type
    FROM documents
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Multimodal column plumbing: treat content as an opaque binary
    column with typed metadata (length / sha256 / magic-byte media
    type; operators/multimodal.py). Text bytes sniff to octet-stream;
    real image/audio magic bytes are unit-tested in
    tests/test_multimodal.py."""
    d = orel.spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("content"))
    meta = om.binary_metadata(d)
    return meta.select("doc_id", "byte_length", "content_sha256", "media_type")


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(i * 256 AS INT) AS frame_offset
    FROM (SELECT doc_id,
                 unnest(range(0, least(
                     greatest((octet_length(encode(text)) - 1) // 256 + 1, 0),
                     8))) AS i
          FROM documents
          WHERE text IS NOT NULL AND octet_length(encode(text)) > 0)
    UNION ALL
    -- explode_outer contract: NULL/empty assets keep one NULL-frame row
    SELECT doc_id, CAST(NULL AS INT), CAST(NULL AS INT)
    FROM documents
    WHERE text IS NULL OR octet_length(encode(text)) = 0
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing (operators/multimodal.py:sample_frames):
    one row per sampled frame offset, capped per asset; every offset
    addresses a real byte (exact-multiple lengths do not emit the
    one-past-end offset — r8 fix, mirrored in the oracle). The offset
    arithmetic stands in for a video decoder's keyframe index; the
    explode shape — bounded fan-out per row, no shuffle — is the part
    that must hold at 100 TB."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content"))
    return (om.sample_frames(d, every_n_bytes=256, max_frames=8)
              .select("doc_id", "frame_idx",
                      F.col("frame_offset").cast("int").alias("frame_offset")))


@query("multimodal_resize")  # binary resampling is engine-specific -> rows-only
def multimodal_resize(spark, sf_dir):
    """Resize/resample plumbing (operators/multimodal.py:
    resize_media_batch): binary in -> fixed-size binary out via
    mapInPandas, deterministic fake in place of the codec (not in this
    container). Emits the resized sha256 so the rows-only check still
    pins deterministic content."""
    d = orel.spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("content"))
    out = om.resize_media_batch(d, target_bytes=64, fake=True)
    return out.select("doc_id", "resized_length",
                      F.sha2("content_resized", 256).alias("resized_sha256"))


# ---------------------------------------------------------------------------
# Sinks, verified by re-reading their output (SURVEY.md §2B "Sinks"),
# and end-to-end streaming ingestion with real checkpoints.
# ---------------------------------------------------------------------------

@query(
    "sink_parquet_snappy",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_totalprice > 150000
    """,
)
def sink_parquet_snappy(spark, sf_dir):
    """Parquet sink roundtrip (reference K2,
    ParquetSinkContext.java:356-380: Snappy + dictionary encoding):
    write a filtered orders slice with Spark's native parquet writer,
    assert the files really are snappy-compressed, read them back."""
    import glob
    import os
    out = _scratch_dir("udc_sink_parquet_")
    (load(spark, sf_dir, "orders")
     .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
     .filter(F.col("o_totalprice") > 150000)
     .write.mode("overwrite").option("compression", "snappy").parquet(out))
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files and all(".snappy." in os.path.basename(p) for p in files), \
        f"expected snappy-compressed part files in {out}"
    return spark.read.parquet(out)


@query(
    "sink_csv_per_source",
    oracle="""
    SELECT n_name || '.txt' AS out_file,
           CAST(n_nationkey AS VARCHAR) || ',' || n_name AS content
    FROM nation
    """,
)
def sink_csv_per_source(spark, sf_dir):
    """File-mode sink roundtrip (reference K1,
    FileSinkContext.java:79-100): one output file per source file with
    the configured extension swapped in (.csv -> .txt,
    FileSinkContext.java:81-93), written from executors via
    foreachPartition — then read back with whole-file semantics. The
    25-row nation table stands in for 25 source files; at scale the
    write is embarrassingly parallel (no shuffle, one IO per row)."""
    from universal_data_connector_spark.sinks.files import _write_file_mode
    out = _scratch_dir("udc_sink_files_")
    file_mode = load(spark, sf_dir, "nation").select(
        F.concat(F.col("n_name"), F.lit(".csv")).alias("source_file"),
        F.concat_ws(",", F.col("n_nationkey").cast("string"),
                    F.col("n_name")).alias("content"))
    _write_file_mode(file_mode, out, extension=".txt")
    from universal_data_connector_spark.sources.files import (
        decoded_uri_path_col,
    )
    # _metadata.file_name is URI-encoded (a written "NATION 00.txt"
    # reads back as "NATION%2000.txt") — decode to the on-disk name
    back = (spark.read.format("text").option("wholetext", "true").load(out)
            .select(decoded_uri_path_col(F.col("_metadata.file_name"))
                    .alias("out_file"),
                    F.regexp_replace("value", r"\n$", "").alias("content")))
    return back


@query(
    "sink_jdbc_append",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
)
def sink_jdbc_append(spark, sf_dir):
    """JDBC sink + source roundtrip (reference K3/S3) against embedded
    Derby: append the customer table through Spark's batched JDBC
    writer (real columns per row — not the reference's one-string-per-
    row INSERT, JdbcSinkContext.java:30-34), then read it back over
    JDBC. Batched writes (`batchsize` rows per round-trip) and
    per-partition parallelism are the 100 TB posture; partitions are
    coalesced here only because embedded Derby serializes writers."""
    from universal_data_connector_spark.sinks.jdbc import jdbc_sink
    db = _scratch_dir("udc_derby_") + "/db"
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    src = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal")
    jdbc_sink(src.coalesce(4),
              {"jdbcUrl": url, "table": "customer_sink", "driver": driver,
               "batchSize": 500})
    return (spark.read.format("jdbc")
            .options(url=url, dbtable="customer_sink", driver=driver).load())


@query(
    "stream_file_ingest_exactly_once",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           {_dsum('value')} AS sum_value
    FROM events
    """,
)
def stream_file_ingest_exactly_once(spark, sf_dir):
    """Checkpointed file-source streaming ingest, run TWICE against the
    same checkpoint (reference S1 fakes exactly-once with a JVM-static
    filename set, FileSourceContext.java:20-21; checkpoints survive
    restarts). The second run sees no new files and must append
    nothing: any reprocessing doubles n_events and breaks the oracle
    hash (n_distinct pins uniqueness explicitly)."""
    import os
    base = _scratch_dir("udc_stream_eo_")
    indir, outdir, ckpt = (os.path.join(base, d)
                           for d in ("in", "out", "ckpt"))
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    events.coalesce(4).write.mode("overwrite").parquet(indir)
    schema = spark.read.parquet(indir).schema
    for _restart in range(2):
        q = (spark.readStream.schema(schema).parquet(indir)
             .writeStream.format("parquet")
             .option("path", outdir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    out = spark.read.parquet(outdir)
    return out.agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct"),
        orel.exact_sum_scaled("value").alias("sum_value"))


@query(
    "stream_late_data_watermark",
    oracle=f"""
    WITH batched AS (
        SELECT *, event_id // 2500 AS batch FROM events
    ), wm AS (
        SELECT batch,
               MAX(MAX(ts)) OVER (ORDER BY batch
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - INTERVAL 30 MINUTE AS watermark
        FROM batched GROUP BY batch
    ), kept AS (
        SELECT b.* FROM batched b JOIN wm USING (batch)
        WHERE wm.watermark IS NULL
           OR date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm.watermark
    )
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n, {_dsum('value')} AS sum_value
    FROM kept GROUP BY 1
    """,
)
def stream_late_data_watermark(spark, sf_dir):
    """Deterministic executable model of `withWatermark("ts", "30
    minutes")` + tumbling-window aggregation: replay events in arrival
    order (event_id) as fixed micro-batches of 2500; the watermark
    entering batch k is max(ts) over earlier batches minus the delay,
    and a row is DROPPED iff its window has already closed (window end
    <= watermark) — exactly Structured Streaming's late-data rule. The
    live-stream twin (real withWatermark, real triggers, observed
    drops) is tests/test_streaming.py::
    test_tumbling_window_and_late_data_drop; this entry hash-checks the
    drop semantics against the oracle."""
    e = load(spark, sf_dir, "events").withColumn(
        "batch", F.expr("event_id div 2500"))
    prev = (Window.orderBy("batch")
            .rowsBetween(Window.unboundedPreceding, -1))
    wm = (e.groupBy("batch").agg(F.max("ts").alias("__bmax"))
          .select("batch",
                  (F.max("__bmax").over(prev)
                   - F.expr("INTERVAL 30 MINUTES")).alias("__wm")))
    win_end = F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
    kept = (e.join(F.broadcast(wm), "batch")
             .filter(F.col("__wm").isNull() | (win_end > F.col("__wm"))))
    return (kept.groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count("*").alias("n"),
                     orel.exact_sum_scaled("value").alias("sum_value"))
                .select(F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
                        "n", "sum_value"))


@query(
    "stream_stateful_totals",
    oracle=f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           round({_dsum('value')}, 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark, sf_dir):
    """Custom stateful streaming operator, executed for real: per-key
    running (count, sum) via applyInPandasWithState
    (streaming/windows.py:stateful_running_totals) over a checkpointed
    AvailableNow read of the events table into a memory sink. One
    input file -> one micro-batch, so the emitted update per key IS
    the final running total and the batch SQL oracle applies. Totals
    are rounded to 4 decimals on both sides: the in-state accumulator
    is float-order-dependent, the oracle decimal-exact. Cross-batch
    state accumulation is separately pinned in
    tests/test_streaming.py."""
    import os
    import uuid
    from universal_data_connector_spark.streaming.windows import (
        stateful_running_totals,
    )
    ckpt = os.path.join(_scratch_dir("udc_stream_state_"), "ckpt")
    path = os.path.join(sf_dir, "events.parquet")
    # Stream with the RAW schema (ts may arrive as bigint nanos or as
    # TIMESTAMP_NTZ depending on the parquet layout), then normalise to
    # TimestampType exactly as tables.load does for the batch path —
    # withWatermark rejects anything else.
    raw_schema = _read_parquet(spark, path).schema  # memoized
    # the file stream source wants a directory: stream the sf dir with
    # a glob pinned to the events table
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = watermarkable_ts(stream, "ts")
    totals = stateful_running_totals(stream)
    sink = f"udc_state_totals_{uuid.uuid4().hex[:8]}"
    q = (totals.writeStream.format("memory").queryName(sink)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(sink)
            .select("user_id", "n_events",
                    F.round("total_value", 4).alias("total_value")))


@query(
    "agg_grouped_mad_pandas",
    oracle="""
    WITH med AS (SELECT user_id, median(value) AS m FROM events GROUP BY 1)
    SELECT e.user_id,
           CAST(COUNT(e.value) AS BIGINT) AS n,
           round(median(abs(e.value - med.m)), 6) AS mad
    FROM events e JOIN med USING (user_id)
    GROUP BY e.user_id
    """,
)
def agg_grouped_mad_pandas(spark, sf_dir):
    """Custom grouped operator through the Arrow extension point:
    per-user median absolute deviation via groupBy().applyInPandas —
    the escape hatch for per-group logic Spark aggregates can't
    express in one pass (MAD needs the group's median before the
    deviations). One shuffle on the group key, then numpy per Arrow
    batch; still hash-checked against a SQL oracle (median and
    midpoint interpolation are the same arithmetic in numpy and
    DuckDB). NULL measures arrive in the Arrow batch as NaN and are
    dropped — like every aggregate, the MAD skips NULLs and `n`
    counts non-null values (SQL COUNT(value)); an all-NULL group
    yields n=0, mad NULL. Unfiltered, one NaN poisons np.median for
    the whole group (round-12 wave-2 fuzzer find)."""
    import numpy as np
    import pandas as pd

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=float)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            m = None
        else:
            m = round(float(np.median(np.abs(v - np.median(v)))), 6)
        return pd.DataFrame({
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n": [len(v)],
            "mad": [m],
        })

    e = load(spark, sf_dir, "events").select("user_id", "value")
    # grouped_spread (r22): AQE's byte-based coalescing collapsed this
    # small-bytes/many-groups exchange to ONE task, serializing 1,500
    # per-group pandas dispatches (~1.7 ms each) onto one core —
    # measured 3.2 s -> 0.65 s at 32 partitions, identical results
    # (per-group function, partitioning-independent).
    return (orel.grouped_spread(e, "user_id").groupBy("user_id")
             .applyInPandas(mad, "user_id bigint, n bigint, mad double"))


@query(
    "stream_static_enrich_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_enrich_join(spark, sf_dir):
    """Stream-static enrichment: a real micro-batch stream of events
    joined to the static customer dimension (broadcast — the static
    side never re-shuffles per batch), aggregated per segment in
    complete mode. Decimal-exact sums make the result independent of
    batch/partition order, so the batch SQL oracle hash-matches the
    streaming output exactly."""
    import os
    import uuid
    ckpt = os.path.join(_scratch_dir("udc_stream_enrich_"), "ckpt")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = _read_parquet(spark, path).schema  # memoized
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(F.broadcast(cust),
                           stream.user_id == cust.c_custkey)
    agg = (enriched.groupBy(F.col("c_mktsegment").alias("segment"))
           .agg(F.count("*").cast("bigint").alias("n_events"),
                orel.exact_sum_scaled("value").alias("sum_value")))
    sink = f"udc_enrich_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Training-data pipeline extensions: vocabulary building, reproducible
# sampling, grouped distribution statistics.
# ---------------------------------------------------------------------------

@query(
    "text_vocab_topk",
    oracle="""
    SELECT token, n FROM (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rn
        FROM (SELECT unnest(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'), t -> t <> ''))
                  AS token
              FROM documents)
        GROUP BY token) WHERE rn <= 100
    """,
)
def text_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: explode tokens -> count -> top-100 (count
    desc, token asc tiebreak). explode + partial-aggregated count is
    the scalable vocab build — token keys are skewed (stopwords), which
    map-side combine absorbs before the shuffle. No pre-spread: the
    explode feeds a groupBy whose own exchange spreads the work — a
    repartition before it is a pure extra shuffle (measured)."""
    d = load(spark, sf_dir, "documents")
    counts = (d.select(F.explode(ft.tokenize(F.col("text"))).alias("token"))
               .groupBy("token").agg(F.count("*").cast("bigint").alias("n")))
    top = orel.top_k_per_group(counts, [], [F.col("n").desc(), F.col("token").asc()], 100)
    return top.select("token", "n")


@query(
    "sample_deterministic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 2) < '08'
    """,
)
def sample_deterministic(spark, sf_dir):
    """Reproducible ~3% sample by content hash (sha256 of the key),
    not RNG: the same rows are selected on every engine, every run,
    every partitioning — the property training-data pipelines need for
    resumable sharding. (`df.sample` is seed-stable only for a fixed
    partitioning; a hash predicate survives repartitioning and pushes
    down to the scan.)"""
    o = load(spark, sf_dir, "orders")
    bucket = F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 2)
    return (o.filter(bucket < "08")
             .select("o_orderkey", "o_custkey", "o_totalprice"))


@query(
    "sample_weighted_mix",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 'ff'
               WHEN source IN ('src5','src6','src7','src8','src9') THEN '80'
               WHEN source IN ('src10','src11','src12','src13','src14',
                               'src15','src16','src17','src18','src19')
                    THEN '20' END
    -- the tail branch enumerates the weights dim EXACTLY (no LIKE
    -- catch-all): a source absent from the dim is dropped by the
    -- engine's inner join, so the oracle must drop it too (CASE
    -- falls through to NULL, NULL comparison excludes) — round-14
    -- fuzz on out-of-dim sources
    """,
)
def sample_weighted_mix(spark, sf_dir):
    """Corpus mixing: per-SOURCE sampling rates from a weights dim
    (keep ~100% of the first five sources, ~50% of the next five,
    ~12.5% of the long tail) — the source-rebalancing step every
    pretraining mix needs. The weights ride as a broadcast dim table (config-as-
    data, no hardcoded CASE in the plan), the gate is the same
    reproducible content-hash predicate as sample_deterministic:
    identical rows selected on every engine, run, and partitioning."""
    d = load(spark, sf_dir, "documents")
    weights = udc_session.local_frame(
        spark,
        [(f"src{i}", "ff" if i < 5 else "80" if i < 10 else "20")
         for i in range(20)],
        "source string, __thr string")
    gate = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2)
    return (d.join(F.broadcast(weights), "source")
             .filter(gate < F.col("__thr"))
             .select("doc_id", "source"))


@query(
    "sample_stratified",
    oracle="""
    SELECT event_id, event_type FROM events
    WHERE substr(sha256(CAST(event_id AS VARCHAR)), 1, 2) <
          CASE event_type WHEN 'click' THEN '80'
                          WHEN 'view' THEN '08' ELSE '20' END
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-stratum rates from a
    content hash (clicks 50%, views ~3%, rest 12.5%) — the
    source-rebalancing op of a training-data pipeline. Hash-gated
    sampling is reproducible across runs, engines, and cluster sizes,
    unlike rand()-based sampling; a pure projection+filter, no
    shuffle."""
    e = load(spark, sf_dir, "events")
    bucket = F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 2)
    rate = (F.when(F.col("event_type") == "click", "80")
             .when(F.col("event_type") == "view", "08")
             .otherwise("20"))
    return e.filter(bucket < rate).select("event_id", "event_type")


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ), counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
       tot AS (SELECT COUNT(*) AS t FROM tok)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(SUM(ln(counts.n / tot.t)), 4) AS logprob
    FROM tok JOIN counts USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-trained unigram log-probability scorer — the cheap
    statistical quality signal (low logprob = unusual token mix).
    Two passes: token counts (map-side combined), then score-join —
    the count table is vocabulary-sized, so it broadcasts at any
    corpus scale. Log-sums are rounded below double addition-order
    divergence. No pre-spread: the tokenize explode feeds shuffling
    aggregations; a repartition before them is a pure extra shuffle
    (measured)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(ft.tokenize(F.col("text"))).alias("token"))
    # consumed twice (counts + scoring); exploded tokens are
    # corpus-sized -> recoverable persistence, not localCheckpoint
    tok = orel.materialize_reliable(tok)
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    total = tok.count()
    return (tok.join(F.broadcast(counts), "token")
               .groupBy("doc_id")
               .agg(F.count("*").cast("bigint").alias("n_tokens"),
                    F.round(F.sum(F.log(F.col("n") / F.lit(total))), 4)
                     .alias("logprob")))


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_exact(spark, sf_dir):
    """Grouped exact percentiles via the percentile AGGREGATE (linear
    interpolation, matching quantile_cont) — the catalog's entry for
    the aggregate form itself. The aggregate buffers each group's
    value multiset in one task: right for bounded group sizes only.
    When a group's values no longer fit an executor, pick by what you
    need: exact values -> ``operators.quantiles.
    exact_group_percentiles`` (distributed rank-selection,
    bit-identical result — what ``ts_outlier_iqr`` /
    ``events_rfm_segments`` use); a tolerance -> ``approx_percentile``
    (mergeable sketch, cheapest)."""
    e = load(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (e.groupBy("event_type")
             .agg(pct.alias("__p"))
             .select("event_type",
                     F.round(F.col("__p")[0], 6).alias("p50"),
                     F.round(F.col("__p")[1], 6).alias("p90"),
                     F.round(F.col("__p")[2], 6).alias("p99")))


@query(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def reshape_unpivot(spark, sf_dir):
    """Wide -> long reshape (inverse of agg_pivot): one output row per
    (row, measure). Spark's native unpivot is a zero-shuffle Expand —
    rows multiply map-side, nothing moves."""
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 1000)
          .select("l_orderkey", "l_linenumber",
                  F.col("l_quantity").alias("quantity"),
                  F.col("l_extendedprice").alias("extendedprice"),
                  F.col("l_discount").alias("discount")))
    return li.unpivot(["l_orderkey", "l_linenumber"],
                      ["quantity", "extendedprice", "discount"],
                      "metric", "val")


@query(
    "reshape_pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id, doc_id % 16 AS shard,
               len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '')) AS n_tokens
        FROM documents)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(c / 1024) AS BIGINT) AS pack_id,
           CAST(c % 1024 AS BIGINT) AS pack_offset
    FROM (SELECT doc_id, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
          FROM t)
    """,
)
def reshape_pack_sequences(spark, sf_dir):
    """Concat-and-split sequence packing (operators/packing.py): every
    document gets its (shard, pack_id, pack_offset) under a 1024-token
    budget — the assignment step of GPT-style pretraining packing,
    expressed as a sharded prefix sum: one shuffle on shard, one
    in-partition sort, parallelism = n_shards, reproducible across
    engines and partitionings."""
    from universal_data_connector_spark.operators.packing import pack_sequences
    d = load(spark, sf_dir, "documents")
    return pack_sequences(d, budget=1024, n_shards=16)


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(SUM(CAST(CAST(value AS STRING) AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY value
                      RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS near_sum
    FROM events
    """,
)
def window_range_frame(spark, sf_dir):
    """Value-range window frame (RANGE BETWEEN 10 PRECEDING): the frame
    is defined by the ORDER BY value's magnitude, not row position, so
    peers always aggregate together — deterministic without a unique
    tiebreak (unlike ROWS frames). Sum is decimal-exact so the result
    is independent of intra-frame order."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id", "user_id", "value",
        F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) "
               "OVER (PARTITION BY user_id ORDER BY value "
               "RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE)")
         .alias("near_sum"))


_Q_SQL = """(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
             + least((CASE WHEN len(toks) > 0
                      THEN CAST(len(list_filter(toks, t -> list_contains(
                           ['the','a','and','of','to','in','is','on','for','with'], t)))
                           AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                      ELSE 0.0 END) * 5.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END) * 10.0, 1.0))) / 3.0"""


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, text, CAST(len(toks) AS BIGINT) AS n_tokens,
               round({_Q_SQL}, 6) AS q
        FROM toked
    ), kept AS (
        SELECT * FROM scored WHERE q >= 0.4
    ), dedup AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
        FROM kept
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round({_dsum('q')} / COUNT(*), 6) AS avg_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM dedup WHERE rn = 1 GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark, sf_dir):
    """The flagship LLM-data composition: quality-filter -> exact-dedup
    (keep min doc_id per normalized-text fingerprint) -> per-language
    corpus stats. Every stage is the engine's own operator
    (quality_score, text_fingerprint, top_k_per_group, exact_sum) and
    the whole plan is two shuffles (fingerprint window + final groupBy)
    over a single scan — the shape a 100 TB cleaning job needs."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", "text",
        F.size(ft.tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.round(ft.quality_score(F.col("text")), 6).alias("q"))
    kept = scored.filter(F.col("q") >= 0.4)
    kept = kept.withColumn("__fp", ft.text_fingerprint(F.col("text")))
    first = orel.top_k_per_group(kept, ["__fp"], [F.col("doc_id").asc()], 1)
    return (first.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.round(orel.exact_sum_scaled("q") / F.count("*"), 6).alias("avg_quality"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens")))


@query(
    "pipeline_training_data",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
               round({_Q_SQL}, 6) AS q
        FROM toked
    ), kept AS (
        SELECT * FROM scored WHERE q >= 0.4
    ), grams AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[i:i+12], ' ')
                                     for i in range(1, greatest(len(toks)-11, 1))])) AS g
        FROM toked WHERE len(toks) >= 13
    ), contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM grams t JOIN grams b ON t.g = b.g
        WHERE substr(sha256(CAST(b.doc_id AS VARCHAR)), 1, 2) < '08'
    ), clean AS (
        SELECT * FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), dedup AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
        FROM clean
    ), surv AS (
        SELECT doc_id, n_tokens, doc_id % 16 AS shard FROM dedup WHERE rn = 1
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(FLOOR(c / 1024) AS BIGINT) AS pack_id,
           CAST(c % 1024 AS BIGINT) AS pack_offset
    FROM (SELECT doc_id, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
          FROM surv)
    """,
)
def pipeline_training_data(spark, sf_dir):
    """The full training-data preparation composition, every stage an
    engine operator: quality filter (quality_score >= 0.4) ->
    13-gram decontamination against a hash-sampled stand-in benchmark
    (contamination_overlap, benchmark grams broadcast) -> exact dedup
    (min doc_id per normalized-text fingerprint) -> concat-and-split
    sequence packing (pack_sequences, 1024-token budget, 16 shards).
    Output is the per-document pack assignment a downstream tokenizer
    job would consume. Plan shape: one scan, the contamination
    broadcast join, one fingerprint window, one packing window — no
    all-pairs work anywhere."""
    from universal_data_connector_spark.operators.packing import pack_sequences
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "text",
        F.size(ft.tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.round(ft.quality_score(F.col("text")), 6).alias("q"))
    kept = scored.filter(F.col("q") >= 0.4)
    bench = (d.filter(F.substring(F.sha2(F.col("doc_id").cast("string"), 256),
                                  1, 2) < "08")
              .select(F.col("doc_id").alias("bench_id"), "text"))
    contaminated = od.contamination_overlap(kept, bench).select("doc_id")
    clean = (kept.join(contaminated, "doc_id", "left_anti")
                 .withColumn("__fp", ft.text_fingerprint(F.col("text"))))
    surv = orel.top_k_per_group(clean, ["__fp"], [F.col("doc_id").asc()], 1)
    packed = pack_sequences(surv, budget=1024, n_shards=16,
                            token_count=F.col("n_tokens"))
    return packed.select("doc_id", "shard", "n_tokens", "pack_id", "pack_offset")


def _duckdb_byte_at(i: int) -> str:
    """DuckDB expression for byte `i` (0-based) of encode(text): 0.0
    when the blob is shorter, NULL when the text itself is NULL (a
    missing asset decodes to NULL features on the engine side —
    round-14 NULL fuzz) — parsed from hex() nibbles (DuckDB has no
    direct blob-byte-to-int accessor)."""
    hi, lo = 2 * i + 1, 2 * i + 2
    return (f"CASE WHEN n IS NULL THEN NULL WHEN n >= {i + 1} THEN CAST("
            f"(strpos('0123456789ABCDEF', substring(h,{hi},1))-1)*16"
            f" + (strpos('0123456789ABCDEF', substring(h,{lo},1))-1)"
            f" AS DOUBLE) ELSE 0.0 END")


@query(
    "multimodal_decode_features",
    # The fake decoder is deterministic byte math ([octet_length,
    # byte0..byte6] of the UTF-8 text bytes), so a full DuckDB oracle
    # exists: hex(encode(text)) nibble parsing. Scalar feature columns
    # (not array<float>) keep the driver comparator hashable.
    oracle="""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                      octet_length(encode(text)) AS n
               FROM documents)
    SELECT doc_id, CAST(n AS DOUBLE) AS f0,
           {bytes}
    FROM b
    """.format(bytes=",\n           ".join(
        f"{_duckdb_byte_at(i)} AS f{i + 1}" for i in range(7))),
)
def multimodal_decode_features(spark, sf_dir):
    """Multimodal decode plumbing through mapInPandas: binary content ->
    fixed-dim feature vector (deterministic byte-derived fake — the real
    image decoder slots into the same batch iterator; libraries absent
    in this container, SURVEY.md §2B multimodal). Schema, Arrow batch
    shape, and partitioning are the real, tested surface. Features are
    projected to scalar f0..f7 columns so the result is hashable by the
    driver comparator AND checkable against the byte-math SQL oracle."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content"))
    feats = om.decode_image_batch(d, feature_dim=8, fake=True)
    return feats.select(
        "doc_id",
        *[F.element_at("features", i + 1).alias(f"f{i}") for i in range(8)])


@query(
    "sql_full_surface",
    oracle="""
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(CAST(CAST(c.c_acctbal AS STRING) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY n.n_name
    """,
)
def sql_full_surface(spark, sf_dir):
    """The full-SQL entry point (reference has no expression language at
    all — TransformationConfig's condition/expression fields are dead,
    SURVEY.md §2A; Spark gives ANSI SQL for free): register tables as
    temp views, run the statement through spark.sql, same Catalyst plan
    as the DataFrame API. View names are UNIQUE per build and dropped
    after analysis: session-global names ('customer') raced across
    concurrent catalog builds on one SparkSession — a second build's
    createOrReplaceTempView landing before this build's spark.sql()
    resolution silently fed it the other sf_dir's data."""
    import uuid

    sfx = uuid.uuid4().hex[:10]
    cust, nat = f"customer_{sfx}", f"nation_{sfx}"
    load(spark, sf_dir, "customer").createOrReplaceTempView(cust)
    load(spark, sf_dir, "nation").createOrReplaceTempView(nat)
    try:
        return spark.sql(f"""
            SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(CAST(SUM(CAST(CAST(c.c_acctbal AS STRING) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS total_acctbal
            FROM {cust} c JOIN {nat} n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY n.n_name
        """)
    finally:
        # analysis has inlined the view plans; drop the names
        spark.catalog.dropTempView(cust)
        spark.catalog.dropTempView(nat)


# ---------------------------------------------------------------------------
# Round 6 additions: per-key corpus caps, Gopher-style repetition
# quality, and a real stream-stream interval join.
# ---------------------------------------------------------------------------

@query(
    "sample_capped_per_key",
    oracle="""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn
        FROM documents) WHERE rn <= 10
    """,
)
def sample_capped_per_key(spark, sf_dir):
    """Per-key document cap: keep at most 10 docs per source, chosen
    by md5(doc_id) order — the per-domain cap every pretraining mix
    applies so one giant crawl domain can't dominate the corpus.
    Hash-ordering (not rand()) makes the selection reproducible across
    engines, runs, and partitionings, and md5-over-decimal-string is
    bit-identical in Spark and DuckDB so the choice itself is
    oracle-checkable. One shuffle on the key; the per-group sort is
    top-k (rank + filter), never a global sort."""
    d = load(spark, sf_dir, "documents")
    capped = orel.top_k_per_group(
        d, ["source"],
        [F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()],
        10)
    return capped.select("doc_id", "source")


@query(
    "text_repetition_ratio",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN [array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 1, 1))]
                    ELSE [] END AS grams
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 t -> t <> '') AS w
              FROM documents)
    )
    SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
           round(CASE WHEN len(grams) > 0
                      THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                           / CAST(len(grams) AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_frac
    FROM g
    """,
)
def text_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition quality signal: per document, the
    fraction of word 3-grams that are repeats of an earlier 3-gram in
    the same document ((total - distinct) / total). High-dup_frac docs
    are boilerplate/spam and get dropped by quality filters before
    training. Pure JVM higher-order-array expressions (sequence +
    transform + array_distinct) — no Python. Docs with < 3 tokens
    carry no grams and score 0.0.

    Pre-spread (r21, guide §2.5): higher-order array functions run
    INTERPRETED (no whole-stage codegen), so the per-row gram build is
    the most expensive projection in the catalog — and fused into the
    scan it ran as ONE task on the single-row-group local file (the
    slowest key in the whole 147-key sweep, ~4.1 s serial at sf0.1).
    spread() fans it out when the scan is narrower than the cluster
    (no-op at 100 TB widths); per-row projection ⇒ results identical.
    Interleaved A/B min-of-4: 4.134 → 0.596 s (best clean rep
    4.134 → 0.596 at steal 15)."""
    toks = ft.tokenize(F.col("text"))
    idx = F.sequence(F.lit(1), F.size(toks) - 2)
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
    ).otherwise(F.array().cast("array<string>"))
    d = orel.spread(load(spark, sf_dir, "documents"), "doc_id") \
        .withColumn("__grams", grams)
    total = F.size("__grams")
    distinct = F.size(F.array_distinct("__grams"))
    dup = F.when(total > 0,
                 (total - distinct).cast("double") / total.cast("double")
                 ).otherwise(F.lit(0.0))
    return d.select("doc_id", total.cast("bigint").alias("n_grams"),
                    F.round(dup, 6).alias("dup_frac"))


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_interval_join(spark, sf_dir):
    """Stream-stream inner join with event-time interval bounds,
    executed for real: clicks joined to the same user's purchases
    within the following 30 minutes — the attribution join (Structured
    Streaming's marquee stateful op; the reference's Jet topology has
    no joins at all, SURVEY.md §2A). Both sides carry watermarks so
    the join state is bounded: Spark evicts a buffered click once the
    purchase-side watermark passes click_ts + 30 min, which is what
    makes this run forever on an unbounded stream. AvailableNow over
    the events table -> one micro-batch -> the emitted set equals the
    batch interval join, so the SQL oracle applies; multi-batch state
    eviction is pinned live in tests/test_streaming.py."""
    import os
    import uuid

    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = _read_parquet(spark, path).schema  # memoized

    def side(event_type: str, prefix: str) -> DataFrame:
        s = (spark.readStream.schema(raw_schema)
             .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
        s = watermarkable_ts(s, "ts")
        return (s.filter(F.col("event_type") == event_type)
                 .select(F.col("event_id").alias(f"{prefix}_id"),
                         F.col("user_id").alias(f"{prefix}_user"),
                         F.col("ts").alias(f"{prefix}_ts"),
                         F.col("value").alias(f"{prefix}_value"))
                 .withWatermark(f"{prefix}_ts", "1 hour"))

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner")

    ckpt = os.path.join(_scratch_dir("udc_ss_join_"), "ckpt")
    sink = f"udc_ss_join_{uuid.uuid4().hex[:8]}"
    q = (joined.writeStream.format("memory").queryName(sink)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(sink)
            .select(F.col("click_id"), F.col("purchase_id"),
                    F.col("click_user").alias("user_id"),
                    F.col("purchase_value").alias("purchase_value")))


@query(
    "ts_rollup_gapfill",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n, {_dsum('value')} AS sv
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT user_id, unnest(generate_series(min(h), max(h),
                                               INTERVAL 1 HOUR)) AS h
        FROM hourly GROUP BY user_id
    ), filled AS (
        SELECT s.user_id, s.h, COALESCE(hr.n, 0) AS n, hr.sv
        FROM spine s LEFT JOIN hourly hr
          ON s.user_id = hr.user_id AND s.h = hr.h
    )
    SELECT user_id, strftime(h, '{TS_FMT_DUCK}') AS hour, n,
           round(COALESCE(sv, 0.0), 6) AS sum_value,
           round(last_value(sv IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY h), 6) AS locf_value
    FROM filled
    """,
)
def ts_rollup_gapfill(spark, sf_dir):
    """Hypertable-style time-bucket rollup with gap fill: per-user
    hourly (count, sum), densified so every hour between a user's
    first and last event exists — empty buckets get 0 and the
    last-observation-carried-forward running value (the time_bucket_
    gapfill + locf pattern of time-series stores, re-expressed as
    DataFrame ops).

    Plan (r21): ONE scan, TWO exchanges, NO join. The old shape built
    a per-user min/max spine, exploded it, and LEFT-joined it back to
    the (persisted) rollup — a spine-sized shuffle join plus the
    persist, and the densified output (10x the rollup here) squeezed
    through whatever partition count AQE sized for the PRE-explode
    bytes. Instead, each rollup row now emits its own preceding gap
    hours from lag(h) over (user_id ORDER BY h): union-of-gaps ==
    spine-minus-rollup by construction, the explode happens AFTER the
    window shuffle (so the LOCF window below reuses the same user_id
    partitioning with no further exchange), and the rollup is consumed
    exactly once (the materialize_reliable persist is gone with the
    second consumer). Same row set, same columns, bit-identical
    values."""
    e = load(spark, sf_dir, "events")
    hourly = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
               .agg(F.count("*").cast("bigint").alias("n"),
                    orel.exact_sum_scaled("value").alias("sv")))
    wlag = Window.partitionBy("user_id").orderBy("h")
    one_h = F.expr("INTERVAL 1 HOUR")
    prev = F.col("__prev")
    gap_rows = F.when(
        prev.isNotNull() & (F.col("h") > prev + one_h),
        F.transform(F.sequence(prev + one_h, F.col("h") - one_h, one_h),
                    lambda g: F.struct(
                        g.alias("h"),
                        F.lit(0).cast("bigint").alias("n"),
                        F.lit(None).cast("double").alias("sv"))))
    rows = F.concat(
        F.coalesce(gap_rows, F.array()),
        F.array(F.struct(F.col("h").alias("h"), F.col("n").alias("n"),
                         F.col("sv").alias("sv"))))
    # Pin the window exchange's width: AQE sizes partitions from the
    # PRE-explode rollup bytes (tiny), then the gap explode fans out
    # 10x+ inside the same stage — at sf0.1 that coalesced the whole
    # densify+LOCF+format pass onto ONE task. An explicit repartition
    # on the window key keeps the conf-driven width (cluster-sized on
    # a real deployment, cores locally) through the fan-out.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    filled = (hourly.repartition(n_part, "user_id")
                    .withColumn("__prev", F.lag("h").over(wlag))
                    .select("user_id", F.explode(rows).alias("r"))
                    .select("user_id", "r.h", "r.n", "r.sv"))
    locf = Window.partitionBy("user_id").orderBy("h")
    return filled.select(
        "user_id", F.date_format("h", TS_FMT_SPARK).alias("hour"), "n",
        F.round(F.coalesce("sv", F.lit(0.0)), 6).alias("sum_value"),
        F.round(F.last("sv", ignorenulls=True).over(locf), 6)
         .alias("locf_value"))


@query(
    "agg_histogram_bins",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bin,
           CAST(FLOOR(l_extendedprice / 5000.0) * 5000.0 AS DOUBLE) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def agg_histogram_bins(spark, sf_dir):
    """Fixed-width numeric histogram (5000-wide price bins) — the
    data-profiling scan every ingest pipeline runs before choosing
    filters/partitioning. floor-bucket keys aggregate with map-side
    combine into a tiny key domain, so 100 TB reduces to a few dozen
    rows in one shuffle; the floor expression is engine-portable
    (identical IEEE division on both sides), unlike width_bucket
    variants with per-engine edge semantics."""
    li = load(spark, sf_dir, "lineitem")
    b = F.floor(F.col("l_extendedprice") / F.lit(5000.0))
    return (li.groupBy(b.cast("bigint").alias("bin"),
                       (b * 5000.0).cast("double").alias("bin_lo"))
              .agg(F.count("*").cast("bigint").alias("n")))


@query(
    "scan_jsonl_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def scan_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines format support, proven by round-trip: write the
    documents table as JSONL to scratch, read it back with an explicit
    schema (schema inference is a second full scan — never at 100 TB),
    and hash-match the original parquet. Line-delimited JSON splits by
    newline, so a 100 TB JSONL corpus parallelizes per-block exactly
    like text; the explicit-schema read prunes to the projected
    columns at parse time."""
    import os

    d = load(spark, sf_dir, "documents")
    out = os.path.join(_scratch_dir("udc_jsonl_"),
                       os.path.basename(sf_dir.rstrip("/")))
    d.write.mode("overwrite").json(out)
    return (spark.read.schema(d.schema).json(out)
                 .select("doc_id", "text", "lang", "source", "n_chars"))


@query(
    "stream_upsert_latest",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM (
        SELECT event_id, user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    """,
)
def stream_upsert_latest(spark, sf_dir):
    """Streaming upsert sink, executed for real: the events stream
    merges into a parquet target keeping the newest row per user
    (foreachbatch_upsert — the CDC keep-latest pattern; on a lakehouse
    the batch body becomes MERGE INTO). AvailableNow over the events
    table, then the converged target is read back; with every batch
    merged idempotently the final state equals the batch
    latest-per-key query, which is the oracle. Multi-batch
    convergence and restart idempotence are pinned live in
    tests/test_streaming.py."""
    import os
    import uuid

    from universal_data_connector_spark.streaming.windows import (
        foreachbatch_upsert,
    )

    scratch = _scratch_dir("udc_upsert_")
    target = os.path.join(scratch, f"t_{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(scratch, "ckpt_" + os.path.basename(target))
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = _read_parquet(spark, path).schema  # memoized
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = watermarkable_ts(stream, "ts")
    # tiebreak on event_id AFTER ts so equal timestamps resolve
    # deterministically (the oracle mirrors the same order)
    stream = stream.withColumn(
        "__ord", F.struct(F.col("ts"), F.col("event_id")))
    q = foreachbatch_upsert(stream, target, keys=["user_id"],
                            order_col="__ord", checkpoint=ckpt)
    q.awaitTermination()
    # read_state: an empty input stream merges nothing, and empty
    # state must read back as empty, not UNABLE_TO_INFER_SCHEMA
    from universal_data_connector_spark.streaming.windows import read_state
    return (read_state(spark, target,
                       "event_id bigint, user_id bigint, "
                       "event_type string, value double")
            .select("event_id", "user_id", "event_type", "value"))


@query(
    "reshape_chunk_tokens",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ), starts AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 16, 1), 48))
                   AS s
        FROM t
    )
    SELECT doc_id, CAST(s AS BIGINT) AS chunk_start,
           CAST(len(toks[s:s+63]) AS BIGINT) AS n_chunk_tokens,
           -- coalesce mirrors Spark's concat_ws, which returns '' for
           -- an empty array where DuckDB's array_to_string gives NULL
           -- (zero-token document; round-14 fuzz)
           COALESCE(array_to_string(toks[s:s+63], ' '), '') AS chunk_text
    FROM starts
    """,
)
def reshape_chunk_tokens(spark, sf_dir):
    """Overlapping token chunking (64-token windows, stride 48 — 16
    tokens of overlap): every embedding / pretraining pipeline splits
    documents into bounded context windows before the model sees them.
    Pure JVM expression tree — tokenize once, `sequence` of chunk
    starts, `slice` per start, one `posexplode`; no Python, no
    shuffle: chunking rides the scan at 100 TB and output size is
    len/stride per doc, never quadratic. Short docs yield exactly one
    (possibly partial) chunk, so no document is silently dropped."""
    toks = ft.tokenize(F.col("text"))
    d = (load(spark, sf_dir, "documents")
         .select("doc_id", toks.alias("__toks")))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("__toks") - 16, F.lit(1)), F.lit(48))
    exploded = d.select(
        "doc_id", "__toks", F.explode(starts).alias("chunk_start"))
    chunk = F.slice("__toks", F.col("chunk_start"), 64)
    return exploded.select(
        "doc_id", F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"))


@query(
    "events_funnel_steps",
    oracle="""
    WITH s1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) OVER
                   (PARTITION BY user_id) AS t1, event_type, ts
        FROM events
    ), s2 AS (
        SELECT user_id, t1,
               MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                   OVER (PARTITION BY user_id) AS t2, event_type, ts
        FROM s1
    ), s3 AS (
        SELECT user_id, t1, t2,
               MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                   OVER (PARTITION BY user_id) AS t3
        FROM s2
    ), per_user AS (
        SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
        FROM s3 GROUP BY user_id
    )
    SELECT CAST(COUNT(t1) AS BIGINT) AS n_view,
           CAST(COUNT(t2) AS BIGINT) AS n_view_click,
           CAST(COUNT(t3) AS BIGINT) AS n_view_click_purchase
    FROM per_user
    """,
)
def events_funnel_steps(spark, sf_dir):
    """Ordered funnel analysis (view -> click -> purchase, each step
    strictly after the previous step's FIRST occurrence): the
    conversion query behind every product-analytics dashboard. One
    scan, ONE shuffle: the three conditional step-times are window
    minimums over the same user partitioning (each references the
    previous step's time, so they stack as sequential projections, not
    joins), then the per-user rollup reuses that partitioning and a
    single-row global count ends the plan. The naive form — one
    filtered scan + join per step — reads the events table three
    times; this reads it once."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ty, ts = F.col("event_type"), F.col("ts")
    e = e.withColumn("t1", F.min(F.when(ty == "view", ts)).over(w))
    e = e.withColumn("t2", F.min(
        F.when((ty == "click") & (ts > F.col("t1")), ts)).over(w))
    e = e.withColumn("t3", F.min(
        F.when((ty == "purchase") & (ts > F.col("t2")), ts)).over(w))
    per_user = e.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"),
        F.max("t3").alias("t3"))
    return per_user.agg(
        F.count("t1").cast("bigint").alias("n_view"),
        F.count("t2").cast("bigint").alias("n_view_click"),
        F.count("t3").cast("bigint").alias("n_view_click_purchase"))


@query(
    "events_window_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, ts AS t0 FROM events
               WHERE event_type = 'view'),
    c AS (
        SELECT v.user_id, v.t0,
               (SELECT MIN(e.ts) FROM events e
                 WHERE e.user_id = v.user_id AND e.event_type = 'click'
                   AND e.ts > v.t0
                   AND e.ts <= v.t0 + INTERVAL 6 HOUR) AS tc
        FROM v
    ), p AS (
        SELECT c.user_id, c.t0, c.tc,
               (SELECT MIN(e.ts) FROM events e
                 WHERE e.user_id = c.user_id AND e.event_type = 'purchase'
                   AND e.ts > c.tc
                   AND e.ts <= c.t0 + INTERVAL 6 HOUR) AS tp
        FROM c
    ), d AS (
        SELECT user_id,
               MAX(1 + CASE WHEN tc IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN tp IS NULL THEN 0 ELSE 1 END)
                   AS funnel_depth
        FROM p GROUP BY user_id
    )
    SELECT CAST(funnel_depth AS BIGINT) AS funnel_depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY funnel_depth
    """,
)
def events_window_funnel_conversion(spark, sf_dir):
    """Sliding-window funnel (the ClickHouse ``windowFunnel`` shape,
    anchored per attempt): for every 'view' event the user may convert
    by a first 'click' strictly after it and a first 'purchase'
    strictly after that click, BOTH within 6 hours of the anchoring
    view; the user's funnel depth is the best depth over all their
    view anchors. Output: users per depth (1 = viewed only, 2 =
    view->click in-window, 3 = full conversion). Unlike
    ``events_funnel_steps`` (whose steps may be days apart), the
    window bound makes this the campaign-attribution variant.

    Spark-first plan — ONE shuffle, no self-joins: both step lookups
    are value-range window frames over ``unix_micros(ts)`` on the same
    user partitioning (``rangeBetween(1, 6h)`` gives the strict lower
    bound and the inclusive window cap for free), the purchase step
    filtering a frame-collected array with a higher-order lambda
    against the correlated click time (x > tc is NULL-safe: no click
    in window => empty filter => NULL purchase). The per-user rollup
    and both groupBys reuse the window's hash partitioning. At 100 TB
    the frame cost is bounded by events-per-user-per-6h (page-view
    cardinality, not corpus cardinality) and the naive alternative —
    three filtered scans self-joined per step with a BETWEEN, fanout
    views x clicks per user — never materializes. Added round 12 in
    the same commit that retires ``sim_search_ivf_kmeans`` (capacity
    policy, SURVEY §2B)."""
    win_us = 6 * 3600 * 1_000_000
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us"))
    ty = F.col("event_type")
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(1, win_us)
    e = e.withColumn("tc", F.min(F.when(ty == "click", F.col("us"))).over(w))
    e = e.withColumn(
        "purch", F.collect_list(F.when(ty == "purchase", F.col("us"))).over(w))
    views = e.filter(ty == "view").withColumn(
        "tp", F.array_min(F.filter("purch", lambda x: x > F.col("tc"))))
    depth = (
        F.lit(1)
        + F.when(F.col("tc").isNotNull(), 1).otherwise(0)
        + F.when(F.col("tp").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    per_user = views.groupBy("user_id").agg(F.max(depth).alias("funnel_depth"))
    return per_user.groupBy("funnel_depth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))


@query(
    "retention_cohorts",
    oracle=f"""
    WITH cohorted AS (
        SELECT user_id,
               date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
                   AS cohort_week,
               date_trunc('week', ts) AS active_week
        FROM events
    )
    SELECT strftime(cohort_week, '{TS_FMT_DUCK}') AS cohort_week,
           CAST((CAST(active_week AS DATE) - CAST(cohort_week AS DATE)) // 7
                AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM cohorted
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-activity week, counted
    per week-offset they return — the standard retention triangle.
    One scan; the cohort week is a window minimum over the user
    partitioning, then (cohort, offset) aggregation with a distinct
    count. Week truncation is Monday-start in both engines, and the
    offset is integer day arithmetic — engine-portable."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("week", F.min("ts").over(w))
    active = F.date_trunc("week", F.col("ts"))
    c = e.select(
        "user_id", cohort.alias("cohort_week"), active.alias("active_week"))
    offset = (F.datediff(F.col("active_week").cast("date"),
                         F.col("cohort_week").cast("date")) / 7)
    return (c.groupBy(
                F.date_format("cohort_week", TS_FMT_SPARK).alias("cohort_week"),
                offset.cast("bigint").alias("week_offset"))
             .agg(F.countDistinct("user_id").cast("bigint").alias("n_users")))


@query(
    "maintenance_compact_files",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def maintenance_compact_files(spark, sf_dir):
    """Small-files compaction, executed for real: fragment a lineitem
    projection into 64 tiny parquet files in scratch, compact the
    directory to size-targeted files (operators/maintenance.py), and
    return the compacted content — which must hash-match the original
    table exactly (compaction changes layout, never results; the
    file-count collapse itself is asserted in tests/test_plans.py).
    The reference's append-only parquet sink creates exactly this
    fragmentation and has no answer to it."""
    import os

    from universal_data_connector_spark.operators.maintenance import (
        compact_parquet_dir,
    )

    scratch = _scratch_dir("udc_compact_")
    frag = os.path.join(scratch, "frag")
    dest = os.path.join(scratch, "compacted")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    return compact_parquet_dir(spark, frag, dest)


# ---------------------------------------------------------------------------
# Data-quality gates: the validation pass every 100 TB ingest runs
# before data reaches training (null/range/order/uniqueness rules,
# per-column profiling). The reference validates nothing — malformed
# rows silently pass through its string envelopes.
# ---------------------------------------------------------------------------

@query(
    "dq_expectations",
    oracle="""
    SELECT 'l_quantity_in_range' AS rule,
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag_in_domain',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                          OR l_returnflag IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice_positive',
           CAST(SUM(CASE WHEN l_extendedprice <= 0 OR l_extendedprice IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_linenumber_unique',
           CAST((SELECT COUNT(*) FROM lineitem)
                - (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey,
                                                l_linenumber FROM lineitem))
                AS BIGINT)
    """,
)
def dq_expectations(spark, sf_dir):
    """Declarative data-quality expectations (Deequ-style): range,
    domain-membership, positivity, and composite-key uniqueness
    checks emitting (rule, n_violations). The three row-local rules
    evaluate as conditional sums in ONE aggregation pass over one
    scan (adding rules is free); uniqueness is the one rule that
    genuinely needs a distinct (count minus distinct-count on the key
    pair — map-side partial distinct keeps the shuffle to unique
    keys). At 100 TB this is the gate that runs before any training
    job reads the table."""
    li = load(spark, sf_dir, "lineitem")

    def viol(name: str, cond) -> DataFrame:
        return li.agg(
            F.lit(name).alias("rule"),
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
             .alias("n_violations"))

    q = F.col("l_quantity")
    row_rules = [
        ("l_quantity_in_range", (q < 1) | (q > 50)),
        ("l_returnflag_in_domain",
         ~F.col("l_returnflag").isin("A", "N", "R")
         | F.col("l_returnflag").isNull()),
        ("l_extendedprice_positive",
         (F.col("l_extendedprice") <= 0)
         | F.col("l_extendedprice").isNull()),
    ]
    checks = viol(*row_rules[0])
    for name, cond in row_rules[1:]:
        checks = checks.unionByName(viol(name, cond))
    uniq = li.agg(
        F.lit("orderkey_linenumber_unique").alias("rule"),
        (F.count("*")
         - F.countDistinct("l_orderkey", "l_linenumber")).cast("bigint")
         .alias("n_violations"))
    return checks.unionByName(uniq)


@query(
    "dq_column_profile",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           CAST(MIN(l_discount) AS DOUBLE),
           CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    """,
)
def dq_column_profile(spark, sf_dir):
    """Per-column profile (nulls, exact distinct cardinality, min/max)
    for the columns an ingest contract names — the statistics that
    drive partition and filter design. All three columns profile from
    ONE scan: the per-column aggregates compute in a single pass (one
    multi-distinct aggregation), then unpivot to the (col, stats) rows
    a catalog stores. Exact countDistinct (not approx) so the result
    is engine-portable; swap to approx_count_distinct when 2% error
    is acceptable and cardinalities reach billions."""
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    rows = [
        F.struct(F.lit(c).alias("col"),
                 F.col(f"{c}__nulls").alias("n_nulls"),
                 F.col(f"{c}__distinct").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_val"),
                 F.col(f"{c}__max").alias("max_val"))
        for c in cols
    ]
    return (wide.select(F.explode(F.array(*rows)).alias("p"))
                .select("p.col", "p.n_nulls", "p.n_distinct",
                        "p.min_val", "p.max_val"))


@query(
    "ts_subsequence_search",
    oracle=f"""
    WITH windows AS (
        SELECT user_id, ts,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
                   AS seq
        FROM events
    ), scored AS (
        SELECT user_id, ts,
               round(sqrt(list_sum(list_transform(
                   list_zip(seq, [CAST(i * 10 AS DOUBLE) for i in range(16)]),
                   p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
        FROM windows
        WHERE len(seq) = 16
          -- mirror Spark's collect_list NULL-skipping: a window whose
          -- 16 rows include a NULL value yields a 15-element list on
          -- the engine side and is dropped there; DuckDB's list()
          -- keeps NULLs, so the no-NULL condition must be explicit
          -- (round-12 NULL-injection fuzzer)
          AND len(list_filter(seq, x -> x IS NOT NULL)) = 16
    )
    SELECT user_id, strftime(ts, '{TS_FMT_DUCK}') AS window_end, dist
    FROM scored ORDER BY dist, user_id, ts LIMIT 20
    """,
)
def ts_subsequence_search(spark, sf_dir):
    """Time-series subsequence similarity search (the distributed
    streaming-similarity problem of EDBT'19 'Time Series Similarity
    Search for Streaming Data', recast on DataFrames): slide a
    16-point window over each user's value series, score Euclidean
    distance to a fixed query pattern, return the 20 best matches.
    One shuffle (the per-user window); the pattern rides the plan as a
    literal array, the distance is a JVM higher-order zip_with fold in
    the SAME element order on both engines (bit-identical doubles),
    and the global top-20 is TakeOrdered — never a full sort. At
    100 TB: windows stream per partition; only k rows leave each.
    NULL measurements: a window whose 16 rows include a NULL value is
    not scored (collect_list skips NULLs, so its sequence is short of
    16 and the length filter drops it); the oracle encodes the same
    rule explicitly."""
    pattern = [float(i * 10) for i in range(16)]
    e = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-15, 0))
    seq = F.collect_list("value").over(w)
    scored = (e.select("user_id", "ts", seq.alias("__seq"))
               .filter(F.size("__seq") == 16))
    q = F.array(*[F.lit(v) for v in pattern])
    sq = F.zip_with("__seq", q, lambda a, b: (a - b) * (a - b))
    dist = F.round(F.sqrt(F.aggregate(sq, F.lit(0.0),
                                      lambda acc, v: acc + v)), 6)
    return (scored.select("user_id",
                          F.date_format("ts", TS_FMT_SPARK)
                           .alias("window_end"),
                          dist.alias("dist"))
                  .orderBy("dist", "user_id", "window_end").limit(20))


@query(
    "join_star_schema",
    oracle="""
    SELECT n.n_name AS nation, l.l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(CAST(l.l_extendedprice AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1, 2
    """,
)
def join_star_schema(spark, sf_dir):
    """Four-way star join (fact -> orders -> customer -> nation) with
    a selective fact-side predicate — the canonical warehouse query
    shape. Declared as plain joins: Catalyst reorders, pushes the
    status filter into the orders scan, and broadcasts the dimensions
    that fit (nation always; customer at small SF) while the fact
    side streams — at 100 TB the only big shuffle is lineitem joining
    orders on the shared key. Decimal-exact revenue sum."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.col("l_returnflag").alias("returnflag"))
              .agg(F.count("*").cast("bigint").alias("n_lines"),
                   orel.exact_sum_scaled("l_extendedprice").alias("revenue")))


@query(
    "scan_partition_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def scan_partition_pruned(spark, sf_dir):
    """Hive-style partition pruning, executed for real: the lineitem
    projection is written to scratch partitioned by l_returnflag
    (directory-per-value layout — how every 100 TB table is stored),
    then read back filtered to one partition. The filter resolves at
    PLANNING time from directory names: non-matching partitions are
    never listed, opened, or read (PartitionFilters in the scan,
    asserted in test_plans.py) — at scale this is the difference
    between scanning 1/3 of the table and all of it."""
    import os

    scratch = _scratch_dir("udc_part_")
    part_dir = os.path.join(scratch, "lineitem_by_flag")
    # _scratch_dir is a fresh mkdtemp per call, so every build writes
    # the partitioned copy (no cross-call cache to guard for)
    (load(spark, sf_dir, "lineitem")
     .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
     .write.partitionBy("l_returnflag").mode("overwrite")
     .parquet(part_dir))
    # explicit schema on the read-back: an EMPTY partitioned dataset
    # has no partition directories and no footers to infer from
    # (UNABLE_TO_INFER_SCHEMA — round-14 degenerate-cardinality
    # sweep), and at 100 TB schema inference is a planning cost you
    # never pay anyway
    return (spark.read
            .schema("l_orderkey bigint, l_linenumber int, "
                    "l_quantity double, l_returnflag string")
            .parquet(part_dir)
            .filter(F.col("l_returnflag") == "R")
            .select("l_orderkey", "l_linenumber", "l_quantity"))


@query(
    "agg_regression_ols",
    oracle="""
    WITH pts AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
               CAST(round(value * 1e6) AS BIGINT) AS y6
        FROM events
    ), sums AS (
        SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y6) AS sy,
               SUM(x * y6) AS sxy, SUM(x * x) AS sxx
        FROM pts GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN (n * sxx - sx * sx) > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6, 9)
                END AS slope,
           CASE WHEN (n * sxx - sx * sx) > 0
                THEN round((CAST(sy AS DOUBLE) / 1e6
                            - CAST(n * sxy - sx * sy AS DOUBLE)
                              / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6
                              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
                END AS intercept,
           CAST(n AS BIGINT) AS n
    FROM sums
    """,
)
def agg_regression_ols(spark, sf_dir):
    """Grouped least-squares fit (value-over-time trend per user) as an
    ORDER-INDEPENDENT aggregation: the same exactness discipline as
    `exact_sum`, extended to second moments. The built-in regr_slope/
    regr_intercept accumulate doubles in shuffle order, so two engines
    (or two runs at scale) disagree in the last bits and the intercept
    — a cancellation of two huge terms — drifts at the 5th decimal.
    Here x (seconds, centered on 2024-01-01 so magnitudes stay small)
    and y (scaled to integer micro-units) are INTEGERS, the five
    sufficient statistics (n, Sx, Sy, Sxy, Sxx) are exact decimal
    sums — map-side combinable, one shuffle, any partitioning — and
    the closed-form slope/intercept are computed from those exact
    integers in identical IEEE steps on both engines. Reproducible at
    any scale, bit-for-bit."""
    e = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    pts = e.select(
        "user_id",
        (F.unix_timestamp("ts") - F.lit(1704067200)).cast(dec).alias("x"),
        F.round(F.col("value") * 1e6).cast(dec).alias("y6"))
    sums = pts.groupBy("user_id").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").alias("sx"), F.sum("y6").alias("sy"),
        F.sum(F.col("x") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # the fit is undefined when x has zero variance (a single point,
    # or every event at the same timestamp): den = n*Sxx - Sx^2 is 0
    # exactly there (Cauchy-Schwarz), and the unguarded division
    # raises DIVIDE_BY_ZERO under ANSI (round-12 wave-2 fuzzer find;
    # driver testdata has no such group). Guard mirrored in the oracle
    # so both engines emit NULL slope/intercept.
    slope = num / den / F.lit(1e6)
    intercept = ((F.col("sy").cast("double") / F.lit(1e6)
                  - slope * F.col("sx").cast("double"))
                 / F.col("n").cast("double"))
    defined = den > 0
    return sums.select(
        "user_id",
        F.when(defined, F.round(slope, 9)).alias("slope"),
        F.when(defined, F.round(intercept, 6)).alias("intercept"),
        F.col("n").cast("bigint").alias("n"))


@query(
    "cogroup_asof_merge",
    oracle="""
    SELECT c.event_id AS click_id,
           CAST(c.user_id AS BIGINT) AS user_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN LATERAL (
        SELECT value FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts <= c.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1
    ) p ON TRUE
    """,
)
def cogroup_asof_merge(spark, sf_dir):
    """The two-frame grouped Arrow extension point
    (``groupBy().cogroup().applyInPandas``), exercised with real
    semantics: per user, pandas ``merge_asof`` aligns each click with
    the latest preceding purchase value — the point-in-time feature
    join every feature store runs. One shuffle per side on the group
    key, then per-group sorted merges in Arrow batches. Same
    semantics as ``join_asof`` (JVM range-join + argmax) — two
    implementations of the operator, one per extension point, both
    oracle-checked. Ties on ts resolve by event_id (merge_asof takes
    the LAST row of equal keys; the sort makes that the max
    event_id, matching the oracle's ORDER BY).

    r21 (guide §4.1/§4.2: Arrow batches + vectorized native code):
    the per-group body is numpy lexsort + searchsorted over Arrow
    tables (``applyInArrow``) instead of 2×DataFrame.sort_values +
    pd.merge_asof under ``applyInPandas``. Measured at sf0.1 (1,500
    groups): the pandas body costs ~2.5 ms/group regardless of group
    size and the pandas serializer adds ~5 ms/group of DataFrame
    construction — a trivial-body cogroup floor of ~8 s that the Arrow
    serializer halves and the numpy body (0.115 ms/group, 22×) mostly
    removes. searchsorted side='right' − 1 over the
    (ts, event_id)-lexsorted purchase side picks the LAST row of equal
    keys — merge_asof's exact backward semantics; equivalence pinned
    over randomized groups incl. empty sides, NULL values, and heavy
    ts ties (2000-trial probe + the round-12 differential/null fuzz).
    NaN→null restored via from_pandas=True so missing purchases stay
    SQL NULL, as the pandas path produced."""
    import numpy as np
    import pyarrow as pa

    e = load(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
               .select("user_id", "event_id", "ts"))
    purchases = (e.filter(F.col("event_type") == "purchase")
                  .select("user_id", "event_id", "ts", "value"))

    def merge(left: pa.Table, right: pa.Table) -> pa.Table:
        if not left.num_rows:
            return pa.table({"click_id": pa.array([], pa.int64()),
                             "user_id": pa.array([], pa.int64()),
                             "purchase_value": pa.array([], pa.float64())})
        # merge_asof (the replaced pandas path) raised loudly on NULL
        # merge keys; NaT sorts to the end under np.lexsort and makes
        # searchsorted comparisons arbitrary, so keep the loud failure.
        # An absent-side group arrives as a ZERO-COLUMN empty table (and
        # a count()-style action can prune side columns entirely), so
        # only touch a column that is actually present.
        if left.column("ts").null_count or (
                "ts" in right.schema.names
                and right.column("ts").null_count):
            raise ValueError("cogroup_asof_merge: NULL ts in merge keys")
        lt = left.column("ts").to_numpy()
        le = left.column("event_id").to_numpy()
        le = le[np.lexsort((le, lt))]
        if right.num_rows:
            rt = right.column("ts").to_numpy()
            ro = np.lexsort((right.column("event_id").to_numpy(), rt))
            rts = rt[ro]
            rvs = right.column("value").to_numpy(zero_copy_only=False)[ro]
            idx = np.searchsorted(rts, np.sort(lt), side="right") - 1
            vals = np.where(idx >= 0, rvs[np.maximum(idx, 0)], np.nan)
        else:
            vals = np.full(len(le), np.nan)
        uid = left.column("user_id")[0].as_py()
        # NULL-group guard: the pandas path emitted rows with NULL
        # user_id for a NULL-key group; np.full(..., None, int64) would
        # raise instead, so emit an Arrow null column explicitly.
        uid_col = (pa.nulls(len(le), pa.int64()) if uid is None
                   else pa.array(np.full(len(le), uid, dtype=np.int64)))
        return pa.table({
            "click_id": pa.array(le),
            "user_id": uid_col,
            "purchase_value": pa.array(vals, from_pandas=True),
        })

    # grouped_spread (r22): same AQE small-bytes coalescing pathology
    # as agg_grouped_mad_pandas — both cogroup sides collapsed to one
    # post-shuffle task, serializing the per-group Arrow dispatch on a
    # single core. The sides are sized together, so both repartition
    # to the same count on the same key and the cogroup's
    # co-partitioning requirement is met without a third exchange;
    # per-group results are partitioning-independent.
    clicks, purchases = orel.grouped_spread([clicks, purchases], "user_id")
    return (clicks.groupBy("user_id")
            .cogroup(purchases.groupBy("user_id"))
            .applyInArrow(
                merge,
                "click_id bigint, user_id bigint, purchase_value double"))


# ---------------------------------------------------------------------------
# Round-7 additions: sessionization, referential DQ, time-windowed
# moving aggregates, path analysis, null-safe join, schema evolution.
# ---------------------------------------------------------------------------

@query(
    "events_sessionize_gap",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM gaps
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_idx
    """,
)
def events_sessionize_gap(spark, sf_dir):
    """Gap-based batch sessionization (30-minute inactivity closes a
    session) — the batch twin of `stream_session_window`, and the
    canonical lag -> flag -> running-sum pattern. All three window
    passes (lag, running session index, per-session rollup) share ONE
    user_id partitioning: a single shuffle of the events table no
    matter how long the session chain gets. Gap math is integer
    microseconds end-to-end (`unix_micros`), so there is no float
    boundary to disagree on across engines."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    e = e.withColumn(
        "__new", F.when(prev.isNull() | (us - prev > 1_800_000_000), 1)
                  .otherwise(0))
    e = e.withColumn(
        "session_idx",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
         .cast("bigint"))
    return (e.groupBy("user_id", "session_idx")
             .agg(F.date_format(F.min("ts"), TS_FMT_SPARK)
                   .alias("session_start"),
                  F.count("*").cast("bigint").alias("n_events"),
                  (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                   .alias("duration_us")))


@query(
    "dq_fk_integrity",
    oracle="""
    SELECT 'nation.n_regionkey -> region' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN p.__pk IS NULL THEN 1 END) AS BIGINT)
               AS n_orphans
    FROM nation c LEFT JOIN
         (SELECT DISTINCT r_regionkey AS __pk FROM region) p
         ON c.n_regionkey = p.__pk
    UNION ALL
    SELECT 'customer.c_nationkey -> nation', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN p.__pk IS NULL THEN 1 END) AS BIGINT)
    FROM customer c LEFT JOIN
         (SELECT DISTINCT n_nationkey AS __pk FROM nation) p
         ON c.c_nationkey = p.__pk
    UNION ALL
    SELECT 'orders.o_custkey -> customer', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN p.__pk IS NULL THEN 1 END) AS BIGINT)
    FROM orders c LEFT JOIN
         (SELECT DISTINCT c_custkey AS __pk FROM customer) p
         ON c.o_custkey = p.__pk
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN p.__pk IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem c LEFT JOIN
         (SELECT DISTINCT o_orderkey AS __pk FROM orders) p
         ON c.l_orderkey = p.__pk
    """,
)
def dq_fk_integrity(spark, sf_dir):
    """Cross-table referential-integrity gate (Deequ-style `isContained
    In` / foreign-key check, by concept): for each declared FK edge,
    one LEFT JOIN against the distinct parent keys counts child rows
    and orphans in a single pass — no second scan per metric, no
    row-level quarantine materialization unless asked. A NULL child
    key matches nothing and counts as an orphan. Per edge: distinct on
    the parent (partial-aggregated) + one shuffle join keyed on the
    FK; the four edges are independent jobs that parallelize, and each
    report row is a 1-row aggregate."""
    def edge(child, ckey, parent, pkey, name):
        p = parent.select(F.col(pkey).alias("__pk")).distinct()
        j = child.select(F.col(ckey).alias("__ck")).join(
            p, F.col("__ck") == F.col("__pk"), "left")
        return (j.agg(F.count("*").cast("bigint").alias("n_rows"),
                      F.count(F.when(F.col("__pk").isNull(), 1))
                       .cast("bigint").alias("n_orphans"))
                 .select(F.lit(name).alias("relationship"),
                         "n_rows", "n_orphans"))

    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (edge(nation, "n_regionkey", region, "r_regionkey",
                 "nation.n_regionkey -> region")
            .unionByName(edge(customer, "c_nationkey", nation, "n_nationkey",
                              "customer.c_nationkey -> nation"))
            .unionByName(edge(orders, "o_custkey", customer, "c_custkey",
                              "orders.o_custkey -> customer"))
            .unionByName(edge(lineitem, "l_orderkey", orders, "o_orderkey",
                              "lineitem.l_orderkey -> orders")))


@query(
    "ts_moving_window_avg",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(27,6))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(CAST(rev AS STRING) AS DOUBLE) AS revenue,
           CAST(CAST(SUM(rev) OVER w AS STRING) AS DOUBLE) AS sum_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days_7d,
           CAST(CAST(SUM(rev) OVER w AS STRING) AS DOUBLE)
               / COUNT(*) OVER w AS avg_7d
    FROM daily
    WINDOW w AS (ORDER BY d
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
)
def ts_moving_window_avg(spark, sf_dir):
    """Trailing 7-day moving average of daily revenue — the
    time-RANGE-framed window (frames defined by the time axis, not row
    counts, so missing days widen nothing). Two window passes but ONE
    data-sized shuffle: the daily rollup reduces the orders table to
    one row per day first, and the range frame slides over that tiny
    series. The windowed sum runs in DECIMAL (exact, order-free) and
    is cast to double only at the edge; the average divides the two
    exact operands in double — identical IEEE result in both engines.
    Spark's rangeBetween needs a numeric axis: days since epoch via
    datediff, a rank-preserving 1:1 mapping of the date axis."""
    o = load(spark, sf_dir, "orders")
    # scaled fast path (exact_sum_scaled formulation): daily revenue
    # accumulates as integer 1e-6 units in decimal(28,0) — the same
    # exact decimal the (27,6) cast summed to, minus the per-row
    # string-based cast — and every consumer divides by 1e6 exactly
    # once at the edge (exact division, correctly-rounded double).
    scaled = F.floor(orel._scaled_guard(F.col("o_totalprice"))
                     * F.lit(1000000.0) + F.lit(0.5)) \
              .cast("decimal(28,0)")
    unscale = F.lit(1000000).cast("decimal(7,0)")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("d"))
              .agg(F.sum(scaled).alias("rev6")))
    daily = daily.withColumn(
        "__day_no", F.datediff(F.col("d"), F.lit("1970-01-01")))
    w = (Window.orderBy("__day_no")
               .rangeBetween(-6, Window.currentRow))
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.col("rev6") / unscale).cast("double").alias("revenue"),
        (F.sum("rev6").over(w) / unscale).cast("double").alias("sum_7d"),
        F.count("*").over(w).cast("bigint").alias("n_days_7d"),
        ((F.sum("rev6").over(w) / unscale).cast("double")
         / F.count("*").over(w)).alias("avg_7d"))


@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1 NULLS FIRST, e2 NULLS FIRST, e3 NULLS FIRST
    LIMIT 20
    """,
)
def events_top_paths(spark, sf_dir):
    """Top event-type trigrams per user journey (path analysis): the
    "what do users do next" query. LEAD over the per-user time order
    forms each 3-step path without self-joins — the naive form joins
    events to itself twice on (user, seq+1), three shuffles of the
    full table; this is one shuffle for the window plus one partial-
    aggregated count. The top-20 is a TakeOrdered (no global sort),
    with the path itself as the deterministic tiebreak."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.filter(F.col("e3").isNotNull())
               .groupBy("e1", "e2", "e3")
               .agg(F.count("*").cast("bigint").alias("n"))
               # explicit NULLS FIRST: a NULL-typed event can appear in
               # e1/e2 (found by the round-12 NULL-injection fuzzer —
               # Spark ASC defaults to NULLS FIRST, DuckDB to NULLS
               # LAST, so the top-20 cut diverged at tied counts)
               .orderBy(F.col("n").desc(),
                        F.col("e1").asc_nulls_first(),
                        F.col("e2").asc_nulls_first(),
                        F.col("e3").asc_nulls_first())
               .limit(20))


@query(
    "join_null_safe_eq",
    oracle=f"""
    WITH dim AS (SELECT DISTINCT NULLIF(o_orderstatus, 'O') AS s
                 FROM orders),
         fact AS (SELECT NULLIF(o_orderstatus, 'O') AS s, o_totalprice
                  FROM orders)
    SELECT COALESCE(f.s, '<null>') AS status_key,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_dsum('f.o_totalprice')} AS total
    FROM fact f JOIN dim d ON f.s IS NOT DISTINCT FROM d.s
    GROUP BY 1
    """,
)
def join_null_safe_eq(spark, sf_dir):
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing — the semantics CDC
    merge keys and optional dimensions need (a plain equi-join
    silently drops every NULL-keyed row). The nullable key is derived
    with NULLIF so the dataset exercises the NULL bucket; the 3-row
    dim side broadcasts, and `eqNullSafe` stays a hash join (the
    null-safe comparison is still an equi-condition to Catalyst, not
    a theta join)."""
    o = load(spark, sf_dir, "orders")
    s = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    dim = o.select(s.alias("s")).distinct()
    fact = o.select(s.alias("fs"), "o_totalprice")
    return (fact.join(F.broadcast(dim), F.col("fs").eqNullSafe(F.col("s")))
                .groupBy(F.coalesce("fs", F.lit("<null>"))
                          .alias("status_key"))
                .agg(F.count("*").cast("bigint").alias("n"),
                     orel.exact_sum_scaled("o_totalprice").alias("total")))


@query(
    "scan_schema_evolution_merge",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(NULL AS DOUBLE) AS l_extendedprice
    FROM lineitem WHERE l_linenumber <= 3
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_linenumber > 3
    """,
)
def scan_schema_evolution_merge(spark, sf_dir):
    """Schema-evolution read (`mergeSchema`): a dataset whose later
    batches gained a column reads back as ONE frame with NULLs where
    the old files lack it — the lakehouse reality of append-only
    ingestion. Proven by round-trip: two scratch batches are written
    with the old and new schema, then read with mergeSchema=true
    (explicitly, because footer merging is a per-file planning cost —
    off by default for a reason; at 100 TB you pay it once per
    evolution boundary, or pin the schema by hand). Column order is
    normalized by an explicit select, as merged-footers order is not
    contractual."""
    import os

    li = load(spark, sf_dir, "lineitem")
    root = os.path.join(_scratch_dir("udc_evolve_"),
                        os.path.basename(sf_dir.rstrip("/")))
    (li.filter(F.col("l_linenumber") <= 3)
       .select("l_orderkey", "l_linenumber", "l_quantity")
       .write.mode("overwrite").parquet(os.path.join(root, "batch=1")))
    (li.filter(F.col("l_linenumber") > 3)
       .select("l_orderkey", "l_linenumber", "l_quantity",
               "l_extendedprice")
       .write.mode("overwrite").parquet(os.path.join(root, "batch=2")))
    return (spark.read.option("mergeSchema", "true")
                 .option("recursiveFileLookup", "true").parquet(root)
                 .select("l_orderkey", "l_linenumber", "l_quantity",
                         "l_extendedprice"))


@query(
    "agg_mode_per_group",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                     ORDER BY n DESC, o_orderpriority) AS rn
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_per_group(spark, sf_dir):
    """Statistical mode per group with a deterministic tiebreak (max
    count, then lexicographic min value) — built-in `mode()` leaves
    ties engine-defined, so the catalog form is count + row_number.
    Two stacked aggregations over the SAME grouping prefix: the pair
    count partial-aggregates map-side, and the per-status argmax is a
    window over the (tiny) count table — the events-sized shuffle
    happens once."""
    o = load(spark, sf_dir, "orders")
    counts = (o.groupBy("o_orderstatus", "o_orderpriority")
               .agg(F.count("*").cast("bigint").alias("n")))
    w = (Window.partitionBy("o_orderstatus")
               .orderBy(F.col("n").desc(), "o_orderpriority"))
    return (counts.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("o_orderstatus",
                          F.col("o_orderpriority").alias("mode_priority"),
                          F.col("n").alias("mode_count")))


@query(
    "sample_hash_split",
    oracle=f"""
    WITH h AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS hx, o_totalprice
               FROM orders)
    SELECT CASE WHEN substr(hx, 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(hx, 1, 1) IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_dsum('o_totalprice')} AS total
    FROM h GROUP BY 1
    """,
)
def sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by key hash (75/12.5/12.5):
    the split a training pipeline must be able to REPRODUCE months
    later — membership depends only on the key (md5 hex prefix range,
    engine-portable), never on row order, partitioning, or a seed
    table. Rides the scan: the split label is a projection, the
    per-split audit is one partial-aggregated pass. Row-level
    assignment is `sample_deterministic`'s territory; this is the
    split + audit-counts contract."""
    o = load(spark, sf_dir, "orders")
    first = F.substring(F.md5(F.col("o_orderkey").cast("string")
                              .cast("binary")), 1, 1)
    split = (F.when(first.between("0", "b"), "train")
              .when(first.isin("c", "d"), "val")
              .otherwise("test"))
    return (o.select(split.alias("split"), "o_totalprice")
             .groupBy("split")
             .agg(F.count("*").cast("bigint").alias("n"),
                  orel.exact_sum_scaled("o_totalprice").alias("total")))


@query(
    "window_gap_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), grp AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS g
        FROM days
    )
    SELECT user_id, strftime(MIN(d), '%Y-%m-%d') AS streak_start,
           strftime(MAX(d), '%Y-%m-%d') AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM grp GROUP BY user_id, g
    """,
)
def window_gap_islands(spark, sf_dir):
    """Gaps-and-islands: per-user streaks of consecutive active days
    (date minus dense row_number is constant within a run — the
    classic islands key). Everything shares one user_id partitioning:
    distinct day, the ranking window, and the streak rollup — a
    single shuffle end-to-end, no self-join over the gaps."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "g", F.date_sub(F.col("d"), F.row_number().over(w)))
    return (grp.groupBy("user_id", "g")
               .agg(F.date_format(F.min("d"), "yyyy-MM-dd")
                     .alias("streak_start"),
                    F.date_format(F.max("d"), "yyyy-MM-dd")
                     .alias("streak_end"),
                    F.count("*").cast("bigint").alias("streak_days"))
               .drop("g"))


@query(
    "text_boilerplate_ngrams",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                     for i in range(1, greatest(len(w)-1, 1))])) AS g
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents)
    )
    SELECT g AS gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 5
    ORDER BY n_docs DESC, gram LIMIT 30
    """,
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate detection: word 3-grams shared by many documents
    (the CCNet/Gopher-style \"repeated across the corpus\" signal that
    catches headers, footers, and license blurbs). Per-doc distinct
    grams ride the scan (the same pure-JVM shingle tree as the dedup
    family), the document-frequency count is one partial-aggregated
    shuffle on the gram key, and the top-30 is a TakeOrdered with the
    gram string as deterministic tiebreak."""
    d = load(spark, sf_dir, "documents")
    from universal_data_connector_spark.functions.text import (
        bind_once,
        tokenize,
        word_ngrams,
    )

    grams = bind_once(tokenize(F.col("text")),
                      lambda toks: word_ngrams(toks, 3))
    return (orel.spread(d, "doc_id")
             .select("doc_id", F.explode(grams).alias("gram"))
             .groupBy("gram")
             .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
             .filter(F.col("n_docs") >= 5)
             .orderBy(F.col("n_docs").desc(), "gram")
             .limit(30))


@query(
    "ts_anomaly_mad",
    oracle="""
    WITH med AS (SELECT user_id, median(value) AS m FROM events GROUP BY 1),
         dev AS (SELECT e.user_id, abs(e.value - med.m) AS d
                 FROM events e JOIN med USING (user_id)),
         mad AS (SELECT user_id, median(d) AS mad FROM dev GROUP BY 1)
    SELECT dev.user_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN dev.d > 3 * mad.mad THEN 1 END) AS BIGINT)
               AS n_outliers
    FROM dev JOIN mad USING (user_id)
    GROUP BY dev.user_id
    """,
)
def ts_anomaly_mad(spark, sf_dir):
    """Robust per-key anomaly counts: |value - median| > 3 * MAD — the
    outlier rule that survives the outliers it hunts (z-scores don't:
    one spike inflates the stddev that judges it). Exact interpolated
    medians (`F.percentile`, = quantile_cont) as whole-partition
    WINDOW aggregates over user_id, not grouped aggregates joined
    back: median, MAD, and the final count all key on the same
    user_id, so the wide table shuffles ONCE and the two medians ride
    that partitioning as window passes — the grouped form paid three
    Exchanges, two broadcast joins, and an eager materialization of
    the deviation frame for the identical numbers (same F.percentile
    expression, same groups, bit-identical medians; r21 A/B + plan
    diff). Per-user partitions are bounded at any scale, so the
    window buffers no more than the percentile aggregate did."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    dev = e.select(
        "user_id",
        F.abs(F.col("value")
              - F.percentile(F.col("value"), F.lit(0.5)).over(w)).alias("d"))
    return (dev.withColumn("mad", F.percentile(F.col("d"), F.lit(0.5)).over(w))
               .groupBy("user_id")
               .agg(F.count("*").cast("bigint").alias("n"),
                    F.count(F.when(F.col("d") > 3 * F.col("mad"), 1))
                     .cast("bigint").alias("n_outliers")))


@query(
    "join_asof_nearest",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id AS purchase_id, ts, value
               FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT c.click_id, c.user_id, p.purchase_id, p.value,
                  ROW_NUMBER() OVER (
                      PARTITION BY c.click_id
                      ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
                               p.ts, p.purchase_id) AS rn
           FROM c JOIN p ON c.user_id = p.user_id
            AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 3600000000
         )
    SELECT click_id, user_id, purchase_id, value FROM pairs WHERE rn = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-neighbor as-of join (either direction, 1-hour
    tolerance): each click pairs with its time-CLOSEST purchase by the
    same user — `join_asof` is strictly backward-looking; sensor
    alignment and attribution both need the nearest variant. The join
    itself stays an equi-join on user_id (the tolerance is a post-join
    filter, not a theta condition), then one window argmin per click
    with integer-microsecond distances — no float boundary, ties
    resolved by (ts, purchase_id)."""
    e = load(spark, sf_dir, "events")
    c = (e.filter(F.col("event_type") == "click")
          .select("user_id", F.col("event_id").alias("click_id"),
                  F.unix_micros("ts").alias("c_us")))
    p = (e.filter(F.col("event_type") == "purchase")
          .select("user_id", F.col("event_id").alias("purchase_id"),
                  F.col("ts").alias("p_ts"),
                  F.unix_micros("ts").alias("p_us"), "value"))
    dist = F.abs(F.col("c_us") - F.col("p_us"))
    w = (Window.partitionBy("click_id")
               .orderBy(dist, "p_ts", "purchase_id"))
    return (c.join(p, "user_id")
             .filter(dist <= 3_600_000_000)
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("click_id", "user_id", "purchase_id", "value"))


@query(
    "ts_resample_interp",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(CAST(SUM(CAST(CAST(value AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE)
                   / COUNT(*) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
       spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                     AS h FROM bounds),
       joined AS (SELECT s.h, hv.v FROM spine s LEFT JOIN hourly hv USING (h)),
       ctx AS (
         SELECT h, v,
                last_value(v IGNORE NULLS) OVER
                    (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS vp,
                last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                    OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS hp,
                first_value(v IGNORE NULLS) OVER
                    (ORDER BY h ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS vn,
                first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                    OVER (ORDER BY h ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS hn
         FROM joined)
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN vp IS NULL OR vn IS NULL THEN NULL
                      ELSE vp + (vn - vp)
                               * (epoch_us(h) - epoch_us(hp))
                               / (epoch_us(hn) - epoch_us(hp)) END,
                 6) AS v_interp,
           CASE WHEN v IS NOT NULL THEN 'observed'
                WHEN vp IS NULL OR vn IS NULL THEN 'edge'
                ELSE 'interpolated' END AS kind
    FROM ctx
    """,
)
def ts_resample_interp(spark, sf_dir):
    """Hourly resampling with LINEAR interpolation at missing points —
    the numeric upgrade of `ts_rollup_gapfill`'s LOCF: a gap hour gets
    the straight line between its observed neighbors, edges stay NULL
    rather than inventing data. The wide table reduces to one row per
    hour FIRST (decimal-exact hourly means), so the spine join and the
    four neighbor windows ride a series bounded by span-hours, not by
    events. Interpolation arithmetic is mirrored token-for-token
    (integer-microsecond hour distances, identical op order) and
    rounded at the edge."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    hourly = (e.groupBy(F.date_trunc("hour", "ts").alias("h"))
               .agg((orel.exact_sum_scaled("value")
                     / F.count("*")).alias("v")))
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx",
                             F.expr("INTERVAL 1 HOUR"))).alias("h"))
    joined = spine.join(hourly, "h", "left")
    wp = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("h").rowsBetween(0, Window.unboundedFollowing)
    known_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = (joined
           .withColumn("vp", F.last("v", ignorenulls=True).over(wp))
           .withColumn("hp", F.last(known_h, ignorenulls=True).over(wp))
           .withColumn("vn", F.first("v", ignorenulls=True).over(wn))
           .withColumn("hn", F.first(known_h, ignorenulls=True).over(wn)))
    interp = (F.col("vp")
              + (F.col("vn") - F.col("vp"))
              * (F.unix_micros("h") - F.unix_micros("hp"))
              / (F.unix_micros("hn") - F.unix_micros("hp")))
    return ctx.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.round(F.when(F.col("v").isNotNull(), F.col("v"))
                 .when(F.col("vp").isNull() | F.col("vn").isNull(),
                       F.lit(None))
                 .otherwise(interp), 6).alias("v_interp"),
        F.when(F.col("v").isNotNull(), "observed")
         .when(F.col("vp").isNull() | F.col("vn").isNull(), "edge")
         .otherwise("interpolated").alias("kind"))


@query(
    "agg_array_collect",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '>')
               AS journey,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    """,
)
def agg_array_collect(spark, sf_dir):
    """Deterministic grouped collect: each user's full event-type
    journey in time order. `collect_list` alone is partition-order-
    dependent — the catalog form collects (ts, event_id, type) structs
    and sorts IN the aggregate, so the sequence is reproducible under
    any shuffle schedule; it is emitted '>'-joined because array
    stringification is engine-specific while string comparison is
    portable. One shuffle; per-group arrays are bounded by the
    per-user event count (cap with `sample_capped_per_key` upstream
    when a key can be unbounded)."""
    e = load(spark, sf_dir, "events")
    journey = F.transform(
        F.array_sort(F.collect_list(
            F.struct("ts", "event_id", "event_type"))),
        lambda s: s["event_type"])
    return (e.groupBy("user_id")
             .agg(F.array_join(journey, ">").alias("journey"),
                  F.count("*").cast("bigint").alias("n")))


@query(
    "window_percent_of_total",
    oracle="""
    WITH per_nation AS (
        SELECT n_name, SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(27,6))) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, CAST(CAST(rev AS STRING) AS DOUBLE) AS revenue,
           CAST(CAST(rev AS STRING) AS DOUBLE)
               / CAST(CAST(SUM(rev) OVER () AS STRING) AS DOUBLE) AS share
    FROM per_nation
    """,
)
def window_percent_of_total(spark, sf_dir):
    """Ratio-to-report: each nation's share of global revenue. The
    empty-partition (global) window runs over the 25-row AGGREGATE,
    never the orders table — reduce first, then normalize; a global
    window directly over the wide table would serialize it through one
    task. Revenue sums stay decimal-exact through the window so the
    share division sees identical operands in both engines. Dimension
    joins broadcast."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    per_nation = (o.join(F.broadcast(c),
                         F.col("o_custkey") == F.col("c_custkey"))
                   .join(F.broadcast(n),
                         F.col("c_nationkey") == F.col("n_nationkey"))
                   .groupBy("n_name")
                   .agg(F.sum(F.floor(orel._scaled_guard(F.col("o_totalprice"))
                                      * F.lit(1000000.0) + F.lit(0.5))
                               .cast("decimal(28,0)")).alias("rev6")))
    # scaled fast path (exact_sum_scaled formulation): per-nation and
    # global revenue carry as exact 1e-6 integer units; one exact
    # division by 1e6 per emitted double — bit-identical to the old
    # (27,6) casts without the per-row string hop
    unscale = F.lit(1000000).cast("decimal(7,0)")
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        (F.col("rev6") / unscale).cast("double").alias("revenue"),
        ((F.col("rev6") / unscale).cast("double")
         / (F.sum("rev6").over(w) / unscale).cast("double")).alias("share"))


@query(
    "scan_csv_malformed_permissive",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN l_linenumber = 7 THEN 1 END) AS BIGINT)
               AS n_corrupt,
           {_dsum("CASE WHEN l_linenumber <> 7 THEN l_quantity END")}
               AS sum_good_qty
    FROM lineitem
    """,
)
def scan_csv_malformed_permissive(spark, sf_dir):
    """Malformed-record handling on CSV ingest: PERMISSIVE mode parses
    what it can, NULLs what it can't, and captures the raw line in the
    corrupt-record column — the audit-don't-abort posture (reference
    T1's error->drop is the whole-item analogue). Proven by
    round-trip: a scratch CSV is written with every l_linenumber=7
    row's quantity corrupted to a non-numeric token, read back with an
    explicit schema + columnNameOfCorruptRecord, and the good/corrupt
    split plus the good-row quantity sum must match the rule applied
    to the source table. Malformed rows are COUNTED, never silently
    dropped (DROPMALFORMED) or fatal (FAILFAST)."""
    import os

    li = load(spark, sf_dir, "lineitem")
    root = os.path.join(_scratch_dir("udc_malformed_"),
                        os.path.basename(sf_dir.rstrip("/")))
    (li.select("l_orderkey", "l_linenumber",
               F.when(F.col("l_linenumber") == 7, "corrupt!")
                .otherwise(F.col("l_quantity").cast("string"))
                .alias("l_quantity"))
       .write.mode("overwrite").csv(root))
    schema = ("l_orderkey bigint, l_linenumber int, l_quantity double, "
              "_corrupt string")
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(root))
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("_corrupt").cast("bigint").alias("n_corrupt"),
        orel.exact_sum_scaled(F.when(F.col("_corrupt").isNull(),
                                     F.col("l_quantity"))).alias("sum_good_qty"))


@query(
    "ts_ewma",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               list_transform(list(value ORDER BY ts, event_id),
                              x -> CAST(x AS DOUBLE)) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n,
           round(list_reduce(vals,
                             (acc, x) -> acc * CAST(0.8 AS DOUBLE)
                                         + x * CAST(0.2 AS DOUBLE)), 6)
               AS ewma_last
    FROM ordered
    """,
)
def ts_ewma(spark, sf_dir):
    """Exponentially-weighted moving average per key (alpha = 0.2),
    final state per user — the recursive fold window functions can't
    express. The fold runs as a higher-order `aggregate` over the
    time-sorted value array, seeded with the first element — a
    sequential in-row reduction, identical operation order in both
    engines, so the IEEE result matches exactly (rounded at the edge
    for belt-and-braces). One shuffle to group; per-key arrays are
    bounded by per-user event counts, the same boundedness contract as
    `agg_array_collect`. For unbounded streams the same recurrence
    runs incrementally in `stateful_running_totals`' extension
    point."""
    e = load(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(
            F.struct("ts", "event_id", "value"))),
        lambda s: s["value"].cast("double"))
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    ewma = F.aggregate(
        rest, F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2))
    return (e.groupBy("user_id")
             .agg(F.count("*").cast("bigint").alias("n"),
                  F.round(ewma, 6).alias("ewma_last"))
             .select("user_id", "n", "ewma_last"))


@query(
    "events_dau_wau",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau
                 FROM du GROUP BY d),
         contrib AS (SELECT user_id,
                            CAST(unnest(generate_series(
                                d, d + INTERVAL 6 DAY,
                                INTERVAL 1 DAY)) AS DATE) AS wd
                     FROM du),
         wau AS (SELECT wd AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                     AS wau
                 FROM contrib GROUP BY wd)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def events_dau_wau(spark, sf_dir):
    """Daily + rolling-7-day active users. COUNT(DISTINCT) can't ride
    a sliding window frame, and the naive day x activity range join
    degenerates to a nested loop — instead each (user, day) activity
    row is EXPLODED into the 7 window-end days it contributes to
    (bounded 7x fan-out of the tiny distinct-day table), turning WAU
    into a plain equi-grouped distinct count. Everything downstream of
    the first distinct runs on (users x days), not on events; the join
    back to DAU days also drops the phantom tail beyond the last
    observed day."""
    e = load(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    dau = du.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    contrib = du.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
         .alias("wd"))
    wau = (contrib.groupBy(F.col("wd").alias("d"))
                  .agg(F.countDistinct("user_id").cast("bigint")
                        .alias("wau")))
    return (dau.join(wau, "d")
               .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                       "dau", "wau"))


@query(
    "stream_agg_state_totals",
    oracle=f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           {_dsum('value')} AS total
    FROM events GROUP BY user_id
    """,
)
def stream_agg_state_totals(spark, sf_dir):
    """Streaming ADDITIVE aggregate state, executed for real: the
    events stream maintains per-user (count, exact sum) in a
    key-bucketed parquet state via `foreachbatch_agg_state` —
    incremental aggregation maintenance with exactly-once additive
    merges (per-bucket `_applied_<batch_id>` markers travel atomically
    with each bucket swap, so a replayed batch applies only to buckets
    that missed it). AvailableNow over the events table, then the
    converged state reads back equal to the batch GROUP BY — the
    oracle. Multi-batch accumulation and replay-skip are pinned live
    in tests/test_streaming.py."""
    import os
    import uuid

    from universal_data_connector_spark.streaming.windows import (
        foreachbatch_agg_state,
    )

    scratch = _scratch_dir("udc_aggstate_")
    target = os.path.join(scratch, f"t_{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(scratch, "ckpt_" + os.path.basename(target))
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = _read_parquet(spark, path).schema  # memoized
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = watermarkable_ts(stream, "ts")
    q = foreachbatch_agg_state(stream, target, keys=["user_id"],
                               value_col="value", checkpoint=ckpt)
    q.awaitTermination()
    # read_state: empty stream -> empty state, not a schema error
    from universal_data_connector_spark.streaming.windows import read_state
    return (read_state(spark, target,
                       "user_id bigint, n bigint, total double")
            .select("user_id", "n",
                    F.col("total").cast("double").alias("total")))


# ---------------------------------------------------------------------------
# Round 8: aggregation/window/time-series long tail
# ---------------------------------------------------------------------------

@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(CAST(l_extendedprice * l_quantity AS STRING) AS DECIMAL(38,6))) AS STRING)
                AS DOUBLE)
           / CAST(CAST(SUM(CAST(CAST(l_quantity AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE)
               AS w_avg_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted average price per return flag. Both the
    weighted numerator and the weight denominator accumulate as exact
    decimals (per-row double product is IEEE-identical across engines,
    the SUM is order-free), so the one double division at the edge
    sees identical operands. Single partial-aggregated shuffle on a
    3-value key."""
    li = load(spark, sf_dir, "lineitem")
    # scaled fast path (operators/relational.exact_sum_scaled): the
    # price*qty product is a true 4-dp value <= ~5.3e6 and qty is a
    # small integer, so both sums are bit-identical to the decimal
    # casts while skipping the per-row Double.toString hop
    num = orel.exact_sum_scaled(F.col("l_extendedprice") * F.col("l_quantity"))
    den = orel.exact_sum_scaled("l_quantity")
    return (li.groupBy("l_returnflag")
              .agg((num / den).alias("w_avg_price"),
                   F.count("*").cast("bigint").alias("n")))


@query(
    "agg_argmax_struct",
    oracle="""
    SELECT c_mktsegment, c_custkey AS top_custkey, c_acctbal AS top_acctbal
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        FROM customer
    ) WHERE rn = 1
    """,
)
def agg_argmax_struct(spark, sf_dir):
    """Argmax as a SINGLE-PASS aggregate, not a window: the per-segment
    top customer comes from max(struct(acctbal, -custkey)) — struct
    ordering gives highest balance with lowest-key tiebreak — which
    partial-aggregates map-side (one candidate per segment per
    partition crosses the shuffle) instead of sorting every row
    through a rank window. The oracle states the same winner with
    ROW_NUMBER; at 100 TB the agg form moves O(segments) rows where
    the window form moves O(rows)."""
    c = load(spark, sf_dir, "customer")
    best = F.max(F.struct(F.col("c_acctbal").alias("bal"),
                          (-F.col("c_custkey")).alias("negk")))
    return (c.groupBy("c_mktsegment").agg(best.alias("__b"))
             .select("c_mktsegment",
                     (-F.col("__b.negk")).cast("bigint").alias("top_custkey"),
                     F.col("__b.bal").alias("top_acctbal")))


@query(
    "agg_corr_exact",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(CAST(l_quantity AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(CAST(l_extendedprice AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(CAST(l_quantity * l_quantity AS STRING) AS DECIMAL(38,6))) AS STRING)
                    AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(CAST(l_extendedprice * l_extendedprice
                             AS STRING) AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CAST(CAST(l_quantity * l_extendedprice AS STRING) AS DECIMAL(38,6))) AS STRING)
                    AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy)), 6)
                ELSE NULL END AS corr_qty_price,
           CAST(n AS BIGINT) AS n
    FROM s
    """,
)
def agg_corr_exact(spark, sf_dir):
    """Pearson correlation per group, reproducibly: the five moment
    sums accumulate as exact decimals (order-free), and the closing
    formula runs in double with IDENTICAL parenthesization in both
    engines — unlike built-in corr(), whose streaming update order
    makes the last bits partition-count-dependent. One shuffle,
    map-side partials.

    Pre-spread (r21, guide §2.5 "one huge unsplittable file →
    repartition immediately after the read"): syy's decimal(38,6) cast
    is a per-row Double.toString→BigDecimal parse that fuses into the
    scan stage, and a single-row-group parquet file scans as ONE task —
    the whole moment pass serialized on one core regardless of cluster
    width. spread() is metadata-guarded: a no-op whenever the scan
    already splits to cluster parallelism (the 100 TB case), so only
    narrow local inputs pay the one cheap row shuffle. Interleaved A/B
    (noop sink, min-of-6): 1.358 → 0.750 s; the same probe measured
    spread a LOSS on agg_hash_sum_avg (all-native scaled sums, 0.461 →
    0.525) and agg_count_distinct (distinct expand already re-shuffles,
    0.573 → 1.222), so those keys deliberately stay unspread."""
    li = orel.spread(load(spark, sf_dir, "lineitem"), "l_orderkey")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")

    def dsum(e, t="decimal(38,6)"):
        return F.sum(e.cast(t)).cast("double")

    # Four of the five moment sums ride the scaled fast path
    # (operators/relational.exact_sum_scaled): qty is a small integer
    # (so qty and qty^2 are exact), price is 2-dp clean, and qty*price
    # is a true 2-dp value <= ~5.3e6 — all within the clean-6dp
    # contract, bit-identical to the decimal casts. price^2 (~1e10,
    # 4 dp) exceeds the scaled bound, so syy keeps the decimal cast.
    s = (li.groupBy("l_returnflag")
           .agg(F.count("*").cast("double").alias("n"),
                orel.exact_sum_scaled(x).alias("sx"),
                orel.exact_sum_scaled(y).alias("sy"),
                orel.exact_sum_scaled(x * x).alias("sxx"),
                dsum(y * y).alias("syy"),
                orel.exact_sum_scaled(x * y).alias("sxy")))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    varx, vary = n * sxx - sx * sx, n * syy - sy * sy
    # correlation is undefined on a zero-variance side (the round-12
    # differential fuzzer crashed the unguarded division under ANSI
    # on a constant-valued group); the > 0 guard also keeps float-noise
    # negatives out of sqrt, with the IDENTICAL guard in the oracle
    corr = F.when((varx > 0) & (vary > 0),
                  F.round((n * sxy - sx * sy)
                          / (F.sqrt(varx) * F.sqrt(vary)), 6))
    return s.select("l_returnflag",
                    corr.alias("corr_qty_price"),
                    n.cast("bigint").alias("n"))


@query(
    "window_ntile_quartiles",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(cume_dist() OVER w, 6) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def window_ntile_quartiles(spark, sf_dir):
    """Equal-count bucketing + cumulative distribution per segment —
    the remaining distribution-rank window family (rank/dense_rank/
    percent_rank live in window_rank_family). The (acctbal, custkey)
    composite gives a total order, so bucket edges are deterministic.
    One shuffle on the segment key; both functions run in the same
    window pass."""
    c = load(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc()))
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"))


@query(
    "ts_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ), daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def ts_cumulative_distinct(spark, sf_dir):
    """Running distinct-user count by day WITHOUT a running-distinct
    window: each user contributes once at their first-seen day, so
    cumulative-distinct = prefix sum of first-seen counts — two cheap
    shuffles (user grouping, then a window over the tiny daily
    aggregate) instead of per-day distinct state that grows with the
    user universe. The standard trick for 'users to date' curves on
    100 TB event logs."""
    e = load(spark, sf_dir, "events")
    first_seen = (e.groupBy("user_id")
                   .agg(F.min(F.col("ts").cast("date")).alias("d")))
    daily = (first_seen.groupBy("d")
             .agg(F.count("*").cast("bigint").alias("new_users")))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users")))


@query(
    "ts_outlier_iqr",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(q.q1, 6) AS q1, round(q.q3, 6) AS q3,
           CAST(COUNT(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                             OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                           THEN 1 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type, q.q1, q.q3
    """,
)
def ts_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier counts per key (1.5x IQR beyond exact
    Q1/Q3) — the quartile complement to ts_anomaly_mad's
    median-absolute-deviation fences. The per-key quartiles reduce to
    one tiny frame that BROADCASTS back onto the events scan for the
    fence counts. Scale posture (VERDICT r8 item 2): event_type has a
    HANDFUL of groups each holding a constant fraction of the table,
    so a ``percentile`` AGGREGATE would buffer billions of doubles in
    one task at 100x — the quartiles instead come from
    ``exact_group_percentiles`` (operators/quantiles.py): distributed
    rank-selection over a range partition (an EAGER side computation;
    its shuffle shape is pinned by the helper's own tests), landing
    in this plan as a literal broadcast frame — plan-asserted: local
    scan broadcast, no percentile aggregate. Fence arithmetic
    is double with identical parenthesization on unrounded quartiles
    in both engines; the emitted quartiles round at the edge."""
    from universal_data_connector_spark.operators.quantiles import (
        exact_group_percentiles,
    )

    e = load(spark, sf_dir, "events")
    q = exact_group_percentiles(e, ["event_type"], "value",
                                [0.25, 0.75], ["q1", "q3"],
                                persist_input=False)  # plain scan proj
    iqr = F.col("q3") - F.col("q1")
    out = ((F.col("value") < F.col("q1") - 1.5 * iqr)
           | (F.col("value") > F.col("q3") + 1.5 * iqr))
    # LEFT join (ADVICE r9): exact_group_percentiles omits groups
    # whose values are ALL null, where the aggregate form (and the
    # oracle's quantile_cont) emits the group with null quartiles. A
    # left join keeps such a group: null fences make the outlier
    # predicate null, so n_outliers counts 0 — exactly the oracle's
    # CASE-WHEN-on-null behavior. For groups present in q (all of
    # them, in current data) the plans are row-identical.
    return (e.join(F.broadcast(q), "event_type", "left")
             .groupBy("event_type", "q1", "q3")
             .agg(F.count(F.when(out, 1)).cast("bigint").alias("n_outliers"),
                  F.count("*").cast("bigint").alias("n"))
             .select("event_type", F.round("q1", 6).alias("q1"),
                     F.round("q3", 6).alias("q3"), "n_outliers", "n"))


@query(
    "events_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(27,6))) AS STRING) AS DOUBLE) AS m,
               strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT quantile_cont(CAST(f AS DOUBLE), 0.25) AS f25,
               quantile_cont(CAST(f AS DOUBLE), 0.50) AS f50,
               quantile_cont(CAST(f AS DOUBLE), 0.75) AS f75,
               quantile_cont(m, 0.25) AS m25,
               quantile_cont(m, 0.50) AS m50,
               quantile_cont(m, 0.75) AS m75
        FROM rfm
    )
    SELECT custkey, f, m, last_order,
           CAST(1 + CASE WHEN CAST(f AS DOUBLE) > f25 THEN 1 ELSE 0 END
                  + CASE WHEN CAST(f AS DOUBLE) > f50 THEN 1 ELSE 0 END
                  + CASE WHEN CAST(f AS DOUBLE) > f75 THEN 1 ELSE 0 END
                AS BIGINT) AS f_seg,
           CAST(1 + CASE WHEN m > m25 THEN 1 ELSE 0 END
                  + CASE WHEN m > m50 THEN 1 ELSE 0 END
                  + CASE WHEN m > m75 THEN 1 ELSE 0 END
                AS BIGINT) AS m_seg
    FROM rfm CROSS JOIN cuts
    """,
)
def events_rfm_segments(spark, sf_dir):
    """Frequency/monetary customer segmentation via QUANTILE CUTOFFS,
    not ntile: a global ntile window over millions of per-customer
    rows serializes the full sort through one task, while six exact
    quantile cutoffs reduce to ONE row that broadcasts back. Scale
    posture (VERDICT r8 item 2): the cutoffs are over a SINGLE global
    group of per-customer rows — a ``percentile`` AGGREGATE would
    buffer every customer's value in one task at 100x — so they come
    from ``exact_group_percentiles`` (operators/quantiles.py) over the
    unpivoted (metric, value) pairs: one distributed rank-selection
    pass for both metrics, bit-identical to the aggregate's
    interpolation, no unbounded buffer. Segment = 1 + number of
    quartile cutoffs strictly exceeded (ties share a segment, so the
    result is order-free). Monetary sums are decimal-exact; recency
    rides along as the last order date."""
    from universal_data_connector_spark.operators.quantiles import (
        exact_group_percentiles,
    )

    from pyspark import StorageLevel

    o = load(spark, sf_dir, "orders")
    # persist the per-customer aggregate ITSELF (VERDICT r9 item 4):
    # it feeds BOTH the quantile input and the final segment join, and
    # without the persist the orders groupBy executed twice — once
    # eagerly inside the rank-selection helper and once when the
    # returned plan ran. With it, the helper's first job materializes
    # the cache and the returned plan reads InMemoryTableScan — ONE
    # aggregation execution total (plan-asserted in
    # tests/test_round10_fixes.py). MEMORY_AND_DISK: the frame is
    # |customers| rows — far smaller than orders, spills if not.
    # The persist intentionally outlives this builder (the returned
    # plan needs it), and it does NOT accumulate across invocations:
    # CacheManager keys by analyzed-plan equality, so re-building this
    # query re-uses the ONE existing entry per sf_dir (verified: three
    # builds -> one cached RDD) — bounded, and cleared by the bench's
    # clearCache()/session teardown. pin_frame gives it the standard
    # deferred release too (r10 ADVICE): a long-lived session
    # (PipelineManager, a REPL) unpersists it when this thread builds
    # its next catalog query, instead of retaining one cached frame
    # per sf_dir for the session's lifetime.
    rfm = orel.pin_frame(
        o.groupBy(F.col("o_custkey").alias("custkey"))
         .agg(F.count("*").cast("bigint").alias("f"),
              orel.exact_sum_scaled(F.col("o_totalprice")).alias("m"),
              F.date_format(F.max("o_orderdate"), "yyyy-MM-dd")
               .alias("last_order"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    long = rfm.select(F.explode(F.array(
        F.struct(F.lit("f").alias("metric"),
                 F.col("f").cast("double").alias("value")),
        F.struct(F.lit("m").alias("metric"),
                 F.col("m").alias("value")))).alias("mv")) \
        .select("mv.metric", "mv.value")
    # persist_input=False: `long` is a cheap explode over the ALREADY
    # persisted rfm frame — the helper's own projection cache would
    # just duplicate it on disk
    qs = exact_group_percentiles(long, ["metric"], "value",
                                 [0.25, 0.5, 0.75], ["q25", "q50", "q75"],
                                 persist_input=False)
    cuts = qs.groupBy().agg(*[
        F.max(F.when(F.col("metric") == m, F.col(q)))
         .alias(f"{m}{q[1:]}")
        for m in ("f", "m") for q in ("q25", "q50", "q75")])

    def seg(val, pre):
        return (1 + F.when(val > F.col(f"{pre}25"), 1).otherwise(0)
                  + F.when(val > F.col(f"{pre}50"), 1).otherwise(0)
                  + F.when(val > F.col(f"{pre}75"), 1).otherwise(0)
                ).cast("bigint")

    return (rfm.crossJoin(F.broadcast(cuts))
               .select("custkey", "f", "m", "last_order",
                       seg(F.col("f").cast("double"), "f").alias("f_seg"),
                       seg(F.col("m"), "m").alias("m_seg")))


# ---------------------------------------------------------------------------
# Round 8: attribution / basket / text / dedup / reshape / join / DQ tail
# ---------------------------------------------------------------------------

@query(
    "events_attribution_first_last",
    oracle=f"""
    SELECT user_id,
           list(event_type ORDER BY ts, event_id)[1] AS first_touch,
           list(event_type ORDER BY ts, event_id)[-1] AS last_touch,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS first_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def events_attribution_first_last(spark, sf_dir):
    """First-touch / last-touch attribution per user as a single-pass
    aggregate: min/max over struct(ts, event_id, event_type) — the
    (ts, event_id) prefix totally orders a user's events, so the
    struct extremes ARE the first and last touches, partial-aggregated
    map-side with no rank window and no per-user array. One shuffle on
    user_id."""
    e = load(spark, sf_dir, "events")
    touch = F.struct("ts", "event_id", "event_type")
    return (e.groupBy("user_id")
             .agg(F.min(touch).alias("__f"), F.max(touch).alias("__l"),
                  F.count("*").cast("bigint").alias("n_events"))
             .select("user_id",
                     F.col("__f.event_type").alias("first_touch"),
                     F.col("__l.event_type").alias("last_touch"),
                     F.date_format(F.col("__f.ts"), TS_FMT_SPARK)
                      .alias("first_ts"),
                     "n_events"))


MARKET_BASKET_CAP = 64  # deterministic per-basket item cap


def _capped_basket(order_part: DataFrame,
                   cap: int = None) -> DataFrame:
    """Distinct (order, part) pairs, capped to the ``cap`` LOWEST part
    keys per order — a deterministic, order-free cut (no sampling
    seed, no shuffle-order dependence), so replays and the oracle pick
    the same survivors. One row_number window per basket; the window
    partition is a single basket, bounded by the basket itself."""
    cap = MARKET_BASKET_CAP if cap is None else cap
    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    return (order_part.distinct()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap).drop("__rn"))


@query(
    "market_basket_pairs",
    oracle=f"""
    WITH basket AS (
        SELECT l_orderkey, l_partkey FROM (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                     ORDER BY l_partkey)
                  <= {MARKET_BASKET_CAP}
    )
    SELECT a.l_partkey AS part_1, b.l_partkey AS part_2,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY support DESC, part_1 ASC, part_2 ASC
    LIMIT 20
    """,
)
def market_basket_pairs(spark, sf_dir):
    """Top co-occurring part pairs across order baskets (market-basket
    support counts): distinct (order, part) -> deterministic
    per-basket cap -> within-order self-join with part_1 < part_2 ->
    pair counts -> deterministic top-20. The per-order fanout is
    quadratic in BASKET size, not table size; the cap (the
    MARKET_BASKET_CAP lowest part keys per order — order-free and
    replayable) bounds it at C(cap, 2) pairs even for a degenerate
    10k-item basket, closing the heavy-tail hazard the r8 verdict
    flagged (one such basket = 5e7 pairs through a single key).
    TPC-H baskets (~7 lines/order) never reach the cap, and the
    oracle applies the identical cap, so results are unchanged where
    the cap doesn't bind. The (support, part_1, part_2) order is
    total, so the limit is reproducible."""
    li = load(spark, sf_dir, "lineitem")
    basket = _capped_basket(li.select("l_orderkey", "l_partkey"))
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
              .groupBy(F.col("a.l_partkey").alias("part_1"),
                       F.col("b.l_partkey").alias("part_2"))
              .agg(F.count("*").cast("bigint").alias("support")))
    return (pairs.orderBy(F.col("support").desc(), F.col("part_1").asc(),
                          F.col("part_2").asc())
                 .limit(20))


@query(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, g AS term
        FROM (SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text),
                                         '\\s+', ' ', 'g')), ' ')) AS g
              FROM documents)
        WHERE g <> ''
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents
    )
    SELECT doc_id, term, tf, df,
           round(CAST(tf AS DOUBLE)
                 * ln((nd + 1) / (CAST(df AS DOUBLE) + 1)), 6) AS tfidf
    FROM (
        SELECT t.doc_id, t.term, t.tf, d.df, n.nd,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id
                   ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rn
        FROM tf t JOIN dfq d USING (term) CROSS JOIN n
        WHERE t.doc_id < 100
    ) WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Top-3 keyword terms per document by TF-IDF: corpus-wide
    document frequencies (one shuffle on term), per-doc term counts
    riding the same exploded scan, rank by the integer pair
    (tf DESC, df ASC, term) — a total order on exact integers, so the
    ranking never depends on floating-point log parity; the tfidf
    VALUE (tf * ln((N+1)/(df+1)), smoothed) is emitted rounded for
    reporting. The doc_id < 100 cut bounds the OUTPUT only — tf and
    df are computed over the whole corpus, as a real keyword extractor
    must."""
    d = load(spark, sf_dir, "documents")
    terms = orel.spread(d, "doc_id").select(
        "doc_id", F.explode(ft.tokenize(F.col("text"))).alias("term"))
    tf = (terms.groupBy("doc_id", "term")
               .agg(F.count("*").cast("bigint").alias("tf")))
    dfq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    nd = d.agg(F.count("*").cast("double").alias("nd"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    # broadcast the OUTPUT-cut tf side, not dfq: the doc_id < 100 cut
    # bounds this side by contract at any scale, while dfq is the
    # corpus-wide term aggregate — the planner's static choice was to
    # broadcast dfq (materializing the whole df branch into a
    # broadcast; unboundedly wrong at 100 TB) and it flapped at the
    # AQE threshold run-to-run (0.49–0.74 s spread on same code, r21)
    scored = (F.broadcast(tf.filter(F.col("doc_id") < 100))
                .join(dfq, "term")
                .crossJoin(F.broadcast(nd))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= 3))
    tfidf = (F.col("tf").cast("double")
             * F.log((F.col("nd") + 1) / (F.col("df").cast("double") + 1)))
    return scored.select("doc_id", "term", "tf", "df",
                         F.round(tfidf, 6).alias("tfidf"))


@query(
    "dedup_containment_ngram",
    oracle="WITH " + _SHINGLE_PAIR_CTE + """
    SELECT id_1, id_2,
           CAST(shared AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE)
               AS containment
    FROM shared
    JOIN sizes s1 ON id_1 = s1.doc_id
    JOIN sizes s2 ON id_2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE) >= 0.9
    """,
)
def dedup_containment_ngram(spark, sf_dir):
    """Subset-duplicate pairs by 5-gram CONTAINMENT (shared /
    min(|A|,|B|) >= 0.9; operators/dedup.py:ngram_containment_pairs):
    catches a short document embedded in a longer one, where Jaccard
    ~ |A|/|B| stays under any dedup threshold. Same inverted-shingle
    join as dedup_ngram_jaccard; gram keys are xxhash64, count-equal
    to the oracle's string grams w.h.p. (~2^-64/pair)."""
    d = load(spark, sf_dir, "documents")
    return od.ngram_containment_pairs(d, threshold=0.9)


@query(
    "reshape_sliding_windows",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               [g for g in string_split(trim(regexp_replace(lower(text),
                                        '\\s+', ' ', 'g')), ' ')
                if g <> ''] AS w
        FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, win_idx,
           array_to_string(w[CAST(win_idx * 16 + 1 AS BIGINT)
                             : CAST(win_idx * 16 + 32 AS BIGINT)], ' ')
               AS window_text
    FROM (
        SELECT doc_id, w,
               unnest(range(0, CAST((len(w) - 32) // 16 + 1 AS BIGINT)))
                   AS win_idx
        FROM t WHERE len(w) >= 32
    )
    """,
)
def reshape_sliding_windows(spark, sf_dir):
    """Overlapping token windows (size 32, stride 16) per document —
    the sliding counterpart to reshape_chunk_tokens' disjoint chunks:
    the context-window shape attention-training and embedding-indexing
    pipelines feed on. Pure JVM expression tree (tokenize once via
    λ-binding, windows as transform(sequence)+posexplode), zero
    Python, no shuffle — window construction runs at scan speed on
    100 TB. Only FULL windows are emitted; documents shorter than one
    window contribute none (short docs are reshape_chunk_tokens'
    regime)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    W, S = 32, 16

    def build(toks):
        n_wins = F.floor((F.size(toks) - W) / S) + 1
        idx = F.when(F.size(toks) >= W,
                     F.sequence(F.lit(0), (n_wins - 1).cast("int"))
                     ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.struct(
            i.cast("bigint").alias("win_idx"),
            F.concat_ws(" ", F.slice(toks, i * S + 1, W))
             .alias("window_text")))

    wins = ft.bind_once(ft.tokenize(F.col("text")), build)
    return (d.select("doc_id", F.explode(wins).alias("__w"))
             .select("doc_id", F.col("__w.win_idx").alias("win_idx"),
                     F.col("__w.window_text").alias("window_text")))


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT click_id, last_view_id FROM (
      SELECT c.event_id AS click_id, v.event_id AS last_view_id,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY v.ts DESC NULLS LAST,
                                         v.event_id DESC NULLS LAST) AS rn
      FROM events c
      LEFT JOIN events v
        ON v.user_id = c.user_id AND v.event_type = 'view'
       AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
      WHERE c.event_type = 'click'
    ) WHERE rn = 1
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness TOLERANCE (pandas merge_asof's
    `tolerance`): each click matches the latest preceding view within
    one hour, else NULL — a stale quote/snapshot must not attribute.
    The tolerance is also the scale lever the unbounded as-of lacks:
    it caps the range-join fanout per key at one hour of events and
    makes the join prunable by time bucket."""
    e = load(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
               .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
    views = (e.filter(F.col("event_type") == "view")
              .select(F.col("event_id").alias("view_id"),
                      F.col("user_id").alias("v_user"),
                      F.col("ts").alias("v_ts")))
    j = clicks.join(
        views,
        (clicks.user_id == views.v_user) & (views.v_ts <= clicks.ts)
        & (views.v_ts >= clicks.ts - F.expr("INTERVAL 1 HOUR")), "left")
    w = Window.partitionBy("click_id").orderBy(
        F.col("v_ts").desc_nulls_last(), F.col("view_id").desc_nulls_last())
    return (j.withColumn("__rn", F.row_number().over(w))
             .filter("__rn = 1")
             .select("click_id", F.col("view_id").alias("last_view_id")))


@query(
    "dq_uniqueness_orders",
    oracle="""
    WITH per_key AS (
        SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY o_orderkey
    ), k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(CASE WHEN c > 1 THEN 1 END) AS BIGINT) AS n_dup_keys,
               CAST(MAX(c) AS BIGINT) AS max_multiplicity
        FROM per_key
    ), r AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null_custkey,
               CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS n_null_date
        FROM orders
    )
    SELECT n_rows, n_keys, n_dup_keys, max_multiplicity,
           n_null_custkey, n_null_date
    FROM r CROSS JOIN k
    """,
)
def dq_uniqueness_orders(spark, sf_dir):
    """Primary-key uniqueness + required-column null audit for orders
    (the Deequ-style uniqueness constraint dq_expectations doesn't
    cover): one grouped pass for key multiplicities reduced to a
    1-row summary, one conditional-aggregate pass for null counts,
    joined as two single-row frames. Both passes are map-side partial
    aggregations; nothing wide ever crosses the shuffle."""
    o = load(spark, sf_dir, "orders")
    per_key = o.groupBy("o_orderkey").agg(F.count("*").alias("c"))
    k = per_key.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.count(F.when(F.col("c") > 1, 1)).cast("bigint")
         .alias("n_dup_keys"),
        F.max("c").cast("bigint").alias("max_multiplicity"))
    r = o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).cast("bigint")
         .alias("n_null_custkey"),
        (F.count("*") - F.count("o_orderdate")).cast("bigint")
         .alias("n_null_date"))
    return r.crossJoin(k).select(
        "n_rows", "n_keys", "n_dup_keys", "max_multiplicity",
        "n_null_custkey", "n_null_date")
