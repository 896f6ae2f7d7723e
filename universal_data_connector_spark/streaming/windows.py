"""Event-time windowed aggregation and streaming dedup.

These operators are mode-agnostic: ``F.window`` / ``session_window`` /
``dropDuplicates`` build identical logical plans in batch and
streaming, so the catalog verifies their *semantics* against the DuckDB
oracle in batch (plans/catalog.py ``stream_*`` keys) while the tests
here run the *same* builders under ``readStream`` with real watermarks,
triggers, and state — late-data drops included.

Watermarks bound state at scale: without one, a windowed streaming agg
keeps every window open forever (unbounded state at 100 TB/day);
with one, state for windows older than (max event time - delay) is
evicted each micro-batch, and rows later than that are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from universal_data_connector_spark.session import local_frame


def tumbling_agg(df: DataFrame, ts_col: str = "ts", width: str = "1 hour",
                 watermark: str | None = None, group_cols: tuple[str, ...] = (),
                 aggs: dict | None = None) -> DataFrame:
    """Tumbling event-time window; each row lands in exactly one window."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n": F.count("*")}
    return (df.groupBy(F.window(ts_col, width).alias("w"), *group_cols)
              .agg(*[v.alias(k) for k, v in aggs.items()])
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      *group_cols, *aggs.keys()))


def sliding_agg(df: DataFrame, ts_col: str = "ts", width: str = "2 hours",
                slide: str = "1 hour", watermark: str | None = None,
                aggs: dict | None = None) -> DataFrame:
    """Sliding window: width/slide copies of each row, pre-aggregated
    map-side like any other grouped agg."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n": F.count("*")}
    return (df.groupBy(F.window(ts_col, width, slide).alias("w"))
              .agg(*[v.alias(k) for k, v in aggs.items()])
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"), *aggs.keys()))


def session_agg(df: DataFrame, ts_col: str = "ts", gap: str = "10 minutes",
                key_cols: tuple[str, ...] = ("user_id",),
                watermark: str | None = None) -> DataFrame:
    """Session windows (dynamic gap-merged); streaming requires a
    watermark so closed sessions can be finalized and evicted."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (df.groupBy(F.session_window(ts_col, gap).alias("w"), *key_cols)
              .agg(F.count("*").alias("n_events"))
              .select(*key_cols,
                      F.col("w.start").alias("session_start"),
                      F.col("w.end").alias("session_end"), "n_events"))


def stateful_running_totals(df: DataFrame, key_col: str = "user_id",
                            ts_col: str = "ts", value_col: str = "value",
                            watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) across
    micro-batches via ``applyInPandasWithState`` — the escape hatch for
    stateful logic that windowed aggregation can't express (reference
    has no stateful surface at all; this is the Spark-native extension
    point, SURVEY.md §2A "Grouped/streaming state").

    State per key is two scalars, updated from Arrow batches; the
    watermark bounds how late input may arrive. Emits one row per key
    per micro-batch that touched it (update mode): the latest row per
    key is the current running total.

    State-bound exception to the module's watermark framing: running
    totals are forever-state BY DEFINITION, so this operator uses
    ``NoTimeout`` — per-key state is two scalars but the KEY SET grows
    with distinct keys seen. On unbounded key cardinality (session
    ids, request ids) swap ``GroupStateTimeout.EventTimeTimeout`` +
    ``state.setTimeoutTimestamp`` into ``update`` to evict idle keys,
    accepting that an evicted key's total restarts; bounded key
    universes (users, devices) run as-is.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n],
                            "total_value": [total]})

    return (df.withWatermark(ts_col, watermark)
              .groupBy(key_col)
              .applyInPandasWithState(update, out_schema, state_schema,
                                      "update", GroupStateTimeout.NoTimeout))


def stream_dedup(df: DataFrame, keys: tuple[str, ...], ts_col: str = "ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Keyed streaming dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts
    key state once the watermark passes — the durable, bounded-memory
    version of the reference's JVM-static ``processedFiles`` sets
    (``FileSourceContext.java:20-21``)."""
    return (df.withWatermark(ts_col, watermark)
              .dropDuplicatesWithinWatermark(list(keys)))


_UPSERT_BUCKET_COL = "udc_kb"
_UPSERT_META_FILE = "_udc_buckets"       # leading "_" => hidden to Spark
_UPSERT_STAGED_DIR = "_udc_staged"
_UPSERT_OLD_PREFIX = "_udc_old_"


def _upsert_recover(path: str) -> None:
    """Crash recovery for the per-bucket swap: restore any bucket whose
    live dir went missing mid-swap, drop completed-swap leftovers and
    partial staging. Idempotent; runs on every merge() entry so a
    restarted stream always sees a complete target before re-merging."""
    import os
    import shutil

    if not os.path.isdir(path):
        return
    shutil.rmtree(os.path.join(path, _UPSERT_STAGED_DIR),
                  ignore_errors=True)
    for name in os.listdir(path):
        if not name.startswith(_UPSERT_OLD_PREFIX):
            continue
        bucket = name[len(_UPSERT_OLD_PREFIX):]
        live = os.path.join(path, f"{_UPSERT_BUCKET_COL}={bucket}")
        old = os.path.join(path, name)
        if os.path.isdir(live):
            # crash happened after the new bucket went live but before
            # cleanup — the old copy is superseded
            shutil.rmtree(old, ignore_errors=True)
        else:
            # crash happened between "live -> old" and "staged -> live":
            # the old copy is still the current state — put it back
            os.rename(old, live)


def _reject_remote_target(path: str) -> None:
    """The bucket swap is ``os.rename`` — POSIX only. A URI-scheme
    target (``s3a://``, ``gs://``, ``abfs://``, even ``file://``)
    would otherwise be ``os.makedirs``-ed as a literal local ``s3a:``
    directory and state silently maintained in the wrong place, so
    any scheme is rejected up front with the lakehouse pointer."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", str(path))
    if m:
        raise ValueError(
            f"upsert/agg_state state targets must be plain local "
            f"filesystem paths (got scheme {m.group(1)!r} in {path!r}): "
            "the per-bucket swap uses os.rename, which object stores "
            "do not support. For s3a://, gs://, or abfs:// targets use "
            "a lakehouse table format (Delta/Iceberg MERGE INTO) "
            "instead; for local files pass the path without a scheme.")


def _upsert_ensure_meta(path: str, num_buckets: int) -> int:
    """Create/validate the bucketed-layout marker; returns the bucket
    count persisted at target creation (fixed for the target's life —
    a changed bucket count would scatter existing keys). A pre-existing
    non-bucketed directory is rejected rather than silently merged."""
    import os

    _reject_remote_target(path)
    meta = os.path.join(path, _UPSERT_META_FILE)
    if os.path.isdir(path):
        if os.path.isfile(meta):
            with open(meta) as fh:
                return int(fh.read().strip())
        if os.listdir(path):
            raise ValueError(
                f"upsert target {path!r} exists but is not a bucketed "
                "upsert layout (missing _udc_buckets); rewrite it "
                "through this sink into a fresh directory first")
    os.makedirs(path, exist_ok=True)
    tmp = meta + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(num_buckets))
    os.rename(tmp, meta)
    return num_buckets


def _contains_map(dt) -> bool:
    """True if the data type has a MapType anywhere in it — the one
    family ``xxhash64`` cannot hash (HASH_MAP_TYPE analysis error)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _latest_rank(schema, keys: list[str], order_col: str):
    """Deterministic keep-latest ranking: newest ``order_col`` first,
    ties broken by ``xxhash64`` over ALL payload columns (sorted name
    order) — a total order on row CONTENT, so re-applying a batch after
    a crash picks byte-identical winners even when two rows carry the
    same ``order_col`` (the bare ``orderBy(order_col, *keys)`` form
    left tie winners to shuffle order: keys are constant within a key
    partition, VERDICT r7 item 1). A hash collision between two
    distinct tied rows (~2^-64) is the only residual nondeterminism.

    Columns containing a MapType anywhere (bare, in an array, in a
    struct) are unhashable to ``xxhash64`` — those hash their
    ``to_json`` rendering instead (ADVICE r8: a map-carrying upsert
    target must not fail at runtime). A replay reprocesses the same
    rows through the same plan, so the JSON rendering — and therefore
    the tie winner — is stable across replays."""
    from pyspark.sql import Window as W

    payload = sorted((f for f in schema.fields
                      if f.name not in (_UPSERT_BUCKET_COL, "__rn")),
                     key=lambda f: f.name)
    hashable = [F.to_json(F.col(f.name)) if _contains_map(f.dataType)
                else F.col(f.name) for f in payload]
    tiebreak = F.xxhash64(*hashable) if hashable else F.lit(0)
    return F.row_number().over(
        W.partitionBy(*keys).orderBy(F.col(order_col).desc(),
                                     tiebreak.desc()))


def read_state(spark, path: str, empty_schema: str) -> DataFrame:
    """Read a bucketed state target, treating NO-STATE-YET as empty.

    A target that no batch has merged into yet (empty stream, cold
    start, a monitoring job racing the first trigger) holds no parquet
    data files — a bare ``spark.read.parquet`` raises
    UNABLE_TO_INFER_SCHEMA (or PATH_NOT_FOUND if the dir was never
    created). Empty state is a legitimate state, so those two cases
    return an empty frame of ``empty_schema`` (the columns the caller
    consumes); anything else re-raises. Round-14 degenerate-cardinality
    sweep."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if ("UNABLE_TO_INFER_SCHEMA" in str(exc)
                or "PATH_NOT_FOUND" in str(exc)):
            return local_frame(spark, [], empty_schema)
        raise


def _read_touched(spark, path: str, buckets: list[int]) -> DataFrame:
    """Read ONLY the touched bucket directories of a bucketed state
    target: the ``udc_kb`` equality/isin predicate is a partition
    filter, so untouched bucket directories are never opened — the
    invariant that keeps per-batch cost O(touched), not O(target),
    pinned by the plan lint in tests/test_plans.py."""
    return (spark.read.parquet(path)
            .filter(F.col(_UPSERT_BUCKET_COL).isin(list(buckets))))


def upsert_merge(batch_df: DataFrame, batch_id: int, *, path: str,
                 keys: list[str], order_col: str,
                 num_buckets: int = 32) -> None:
    """One keep-latest merge of ``batch_df`` into the bucketed target
    — the audited body behind ``foreachbatch_upsert``, callable
    directly for batch mode (no scratch-stream round-trip; the merge
    is idempotent, so ``batch_id`` is unused and re-runs converge)."""
    import os
    import shutil

    spark = batch_df.sparkSession
    _upsert_recover(path)
    n_buckets = _upsert_ensure_meta(path, num_buckets)

    kb = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    # touched-bucket set: bounded by n_buckets (small by
    # construction), so the collect is driver-safe at any scale.
    # Derived from the RAW batch keys, not the keep-latest frame —
    # the rank filter keeps >=1 row per key, so the bucket sets are
    # identical, and the raw form is a partial-aggregated distinct
    # over one projection where the latest form re-ran the whole
    # rank window+shuffle a second time just to list buckets.
    touched = sorted(r[0] for r in
                     batch_df.select(kb.alias(_UPSERT_BUCKET_COL))
                             .distinct().collect())
    if not touched:
        return
    rank = _latest_rank(batch_df.schema, keys, order_col)
    latest = (batch_df.withColumn("__rn", rank)
                      .filter(F.col("__rn") == 1).drop("__rn")
                      .withColumn(_UPSERT_BUCKET_COL, kb))

    any_live = any(
        os.path.isdir(os.path.join(path, f"{_UPSERT_BUCKET_COL}={b}"))
        for b in touched)
    if any_live:
        # read the full touched set — nonexistent partitions prune to
        # nothing, and the union with `latest` needs every touched key
        current = _read_touched(spark, path, touched)
        merged = current.unionByName(latest)
        rank2 = _latest_rank(merged.schema, keys, order_col)
        merged = (merged.withColumn("__rn", rank2)
                        .filter(F.col("__rn") == 1).drop("__rn"))
    else:
        merged = latest

    staged = os.path.join(path, _UPSERT_STAGED_DIR)
    (merged.repartition(len(touched), F.col(_UPSERT_BUCKET_COL))
           .write.mode("overwrite")
           .partitionBy(_UPSERT_BUCKET_COL).parquet(staged))
    for b in touched:
        live = os.path.join(path, f"{_UPSERT_BUCKET_COL}={b}")
        new = os.path.join(staged, f"{_UPSERT_BUCKET_COL}={b}")
        if not os.path.isdir(new):
            continue
        old = os.path.join(path, f"{_UPSERT_OLD_PREFIX}{b}")
        if os.path.isdir(live):
            os.rename(live, old)
        os.rename(new, live)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)


def foreachbatch_upsert(stream: DataFrame, path: str, keys: list[str],
                        order_col: str, checkpoint: str,
                        trigger_available_now: bool = True,
                        num_buckets: int = 32):
    """Streaming upsert (merge-on-key) into a key-bucketed parquet
    target via ``foreachBatch`` — the keep-latest-row-per-key sink
    every CDC / state-snapshot pipeline needs.

    Scale posture: the target is laid out as ``num_buckets`` hash
    partitions (``udc_kb=pmod(xxhash64(keys), N)`` directories). Each
    micro-batch is reduced to its newest row per key, the set of
    TOUCHED buckets is derived from the batch's keys, and only those
    partitions are read, merged, and rewritten — per-batch cost is
    O(touched data), not O(target). Untouched bucket directories are
    never opened (partition pruning on the ``udc_kb`` filter) and
    never rewritten (pinned by test).

    Crash safety: each touched bucket is staged under the hidden
    ``_udc_staged`` dir, then swapped live with two renames through a
    hidden ``_udc_old_<n>`` side dir. ``_upsert_recover`` runs on
    every batch entry and repairs any interrupted swap (old copy
    restored if the live dir vanished; superseded copy dropped
    otherwise), so previously merged keys survive a crash at ANY
    point and the checkpointed batch replays into a complete target.
    The merge is idempotent (re-applying a batch picks the same
    winners), so the target converges to exactly-once semantics.

    Restrictions: the swap uses ``os.rename`` — the target must be a
    local/POSIX filesystem path (NFS included); URI-scheme targets
    are rejected up front (``_reject_remote_target``). On an object
    store, use a lakehouse table format (Delta/Iceberg ``MERGE INTO``)
    instead; this sink is the dependency-free plain-parquet
    equivalent with identical semantics. ``num_buckets`` is fixed at
    target creation (persisted in ``_udc_buckets``); a pre-existing
    non-bucketed directory is rejected rather than silently merged.
    """
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_merge(batch_df, batch_id, path=path, keys=keys,
                     order_col=order_col, num_buckets=num_buckets)

    writer = (stream.writeStream.foreachBatch(merge)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_APPLIED_PREFIX = "_applied_"


def _bucket_applied_id(bucket_dir: str) -> int:
    """Highest batch id recorded in a live bucket dir (-1 if none)."""
    import os

    if not os.path.isdir(bucket_dir):
        return -1
    ids = [int(n[len(_APPLIED_PREFIX):]) for n in os.listdir(bucket_dir)
           if n.startswith(_APPLIED_PREFIX)]
    return max(ids, default=-1)


_BATCH_INTENT = "_udc_batch_intent"


def _intent_load(intent: str) -> dict | None:
    """Parse the intent file. JSON form is current; a bare integer is
    the pre-fingerprint legacy format (run id only). Returns None for
    an empty (torn-claim) file."""
    import json

    with open(intent) as fh:
        content = fh.read().strip()
    if not content:
        return None
    if content.lstrip().startswith("{"):
        return json.loads(content)
    return {"run_id": int(content), "fingerprint": None, "touched": None}


def _intent_write(intent: str, run_id: int, fingerprint: str | None,
                  touched: list[int] | None) -> None:
    """Atomically (re)write the intent payload (tmp + rename)."""
    import json
    import os

    tmp = intent + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps({"run_id": run_id, "fingerprint": fingerprint,
                             "touched": touched}))
    os.rename(tmp, intent)


def _intent_record_touched(path: str, run_id: int,
                           touched: list[int]) -> None:
    """Record the bucket set a batch merge is ABOUT to swap into the
    run's intent file (no-op when no intent exists — the streaming
    path numbers batches from its checkpoint and carries no intent).
    Written before the first swap, so a later ``begin_batch_run`` can
    tell a COMPLETED merge (every recorded bucket's marker reached the
    run id) from a crashed-partway one — the distinction that makes a
    changed-input resume safe to reclaim fresh (see
    ``begin_batch_run``)."""
    import os

    intent = os.path.join(path, _BATCH_INTENT)
    if not os.path.isfile(intent):
        return
    stored = _intent_load(intent)
    if stored is None or stored["run_id"] != run_id:
        return
    # UNION with what the intent already carries (ADVICE r14): a
    # replay after a partial apply plans only the still-pending subset,
    # and overwriting would erase the committed buckets whose markers
    # prove the partial apply — a later changed-input resume would
    # then misread the run as provably-never-committed.
    prior = stored.get("touched") or []
    _intent_write(intent, run_id, stored.get("fingerprint"),
                  sorted(set(prior) | set(touched)))


def begin_batch_run(path: str, num_buckets: int = 32,
                    fingerprint: str | None = None) -> int:
    """Claim a run id for one BATCH agg-state merge.

    Batch runs have no streaming checkpoint to number their batches, so
    a fresh-checkpoint wrapper would replay every run as batch 0 and
    the applied-marker gate would silently DROP increments for any
    previously-touched bucket (each run's data is NEW — it must add).
    Instead the run id is 1 + the highest ``_applied_`` marker across
    the target's live buckets — monotonic across runs, so every batch
    run applies exactly once.

    Crash safety: the claimed id is persisted in ``_udc_batch_intent``
    (atomic write) BEFORE the merge and cleared by ``end_batch_run``
    after it. A rerun after a mid-swap crash finds the intent and
    RESUMES the same id — buckets already swapped (marker == id) skip,
    unswapped buckets apply — converging exactly like a checkpointed
    stream replaying its batch. The rerun must present the same input
    batch, the same contract a stream replay has.

    Input-identity guard (ADVICE r8): a resume is only valid for the
    SAME input batch, but the engine's bookkeeping runs AFTER the
    merge — a crash between manifest_record and end_batch_run leaves
    the intent behind while the manifest now filters the recorded
    files, so the next run's input DIFFERS and a blind resume would
    skip every bucket the completed merge marked, silently dropping
    the new files' increments. Callers that can fingerprint their
    input (the engine hashes the source's canonical file list) pass
    it here; it is persisted in the intent and compared on resume:

    * fingerprints match (or either side has none) -> resume, as a
      stream replay would;
    * fingerprints differ and the prior run provably left the target
      consistent — its merge COMPLETED (every bucket in the recorded
      ``touched`` set carries a marker at or past the run id) or it
      NEVER SWAPPED (``touched`` still null: the merge records its
      planned set atomically before the first swap) -> the intent is
      cleared and a FRESH id claimed so the new input applies;
    * fingerprints differ and the recorded set is only partially
      applied -> raise: resuming would replay the OLD id onto
      DIFFERENT input and a fresh id would double-apply whatever the
      crashed run already swapped — no automatic choice is safe, the
      operator must reconcile (rerun the old input to completion
      first).

    Single-writer contract: the intent is claimed with O_CREAT|O_EXCL,
    so of two runs that start CONCURRENTLY one wins and the other
    fails loudly — without the exclusive claim both would compute the
    same id and the loser's increments would be silently skipped on
    every bucket the winner touched. A pre-existing intent at entry is
    treated as a crashed prior run and resumed (liveness cannot be
    probed from a marker file); do not start a new batch while a prior
    one may still be running. Do not mix a live checkpointed stream
    and ad-hoc batch runs on one target either: a batch run advances
    markers past the stream's next batch id, which the markers would
    then skip (the standard dual-writer hazard; one writer per
    target)."""
    import os

    _reject_remote_target(path)
    # Recover BEFORE reading any marker state: a crash between a
    # bucket's two swap renames (live -> old done, staged -> live not)
    # leaves the live dir missing, which would make both next_id() and
    # the zero-swaps reclaim proof below blind to that bucket's
    # markers — next_id could then hand out an id at or below an
    # already-applied one and the merge would silently skip the
    # bucket's increments (round-10 review finding). After recovery
    # every marker is back in a live dir and "zero markers at the run
    # id = zero swaps" is actually provable.
    _upsert_recover(path)
    _upsert_ensure_meta(path, num_buckets)
    intent = os.path.join(path, _BATCH_INTENT)

    def next_id() -> int:
        return 1 + max(
            (_bucket_applied_id(os.path.join(path, name))
             for name in os.listdir(path)
             if name.startswith(f"{_UPSERT_BUCKET_COL}=")), default=-1)

    if os.path.isfile(intent):
        stored = _intent_load(intent)
        if stored is None:
            # torn claim: a prior run crashed between creating the
            # intent and writing the id — its merge never ran, so the
            # markers are unchanged and recomputing yields the id it
            # would have used
            run_id = next_id()
            _intent_write(intent, run_id, fingerprint, None)
            return run_id
        stored_fp = stored.get("fingerprint")
        if (fingerprint is None or stored_fp is None
                or stored_fp == fingerprint):
            return int(stored["run_id"])
        # fingerprints present and DIFFERENT: the input changed since
        # the intent was claimed. Safe to reclaim fresh in exactly
        # three provable states: the prior merge COMPLETED (all
        # recorded buckets reached the run id), it NEVER SWAPPED
        # (touched is still None — _intent_record_touched persists the
        # planned set atomically before the first swap, so no record =
        # no swaps), or it recorded the set but NO bucket carries the
        # run's marker (the crash landed between recording and the
        # first swap — each swap stamps its marker atomically with the
        # bucket rename, so zero markers = zero swaps = state
        # untouched; ADVICE r9). The remaining state — SOME but not
        # all recorded buckets applied — is a genuine partial apply of
        # the old input; fail loudly.
        touched = stored.get("touched")
        run_id = int(stored["run_id"])
        applied = [] if touched is None else [
            _bucket_applied_id(os.path.join(
                path, f"{_UPSERT_BUCKET_COL}={b}")) >= run_id
            for b in touched]
        if touched is None or all(applied) or not any(applied):
            os.remove(intent)
        else:
            raise ValueError(
                f"batch intent {intent!r} (run {run_id}) was claimed "
                "for a DIFFERENT input batch than the one presented "
                "now, and that run partially applied its merge "
                f"({sum(applied)} of {len(applied)} recorded buckets "
                "swapped): resuming would misapply, reclaiming would "
                "double-apply. Rerun the original input to completion "
                "first (or remove the intent after manual "
                "reconciliation).")
    run_id = next_id()
    try:
        fd = os.open(intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ValueError(
            f"another batch run holds {intent!r}: concurrent batch "
            "agg_state runs on one target are unsupported (if a prior "
            "run crashed, rerun after it has fully stopped — it will "
            "resume its claimed id)") from None
    import json
    with os.fdopen(fd, "w") as fh:
        fh.write(json.dumps({"run_id": run_id, "fingerprint": fingerprint,
                             "touched": None}))
    return run_id


def end_batch_run(path: str) -> None:
    """Clear the batch-run intent marker after a successful merge."""
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(path, _BATCH_INTENT))


def agg_state_merge(batch_df: DataFrame, batch_id: int, *, path: str,
                    keys: list[str], value_col: str,
                    num_buckets: int = 32) -> None:
    """One additive (count, sum) merge of ``batch_df`` into the
    bucketed state target — the audited body behind
    ``foreachbatch_agg_state``, callable directly for batch mode with
    a ``begin_batch_run`` id (no scratch-stream round-trip)."""
    import os
    import shutil

    _DEC = "decimal(27,6)"
    spark = batch_df.sparkSession
    _upsert_recover(path)
    n_buckets = _upsert_ensure_meta(path, num_buckets)

    kb = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    part = (batch_df
            .groupBy(*keys)
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.col(value_col).cast(_DEC)).cast(_DEC)
                  .alias("total"))
            .withColumn(_UPSERT_BUCKET_COL, kb))
    # bounded by n_buckets -> driver-safe at any scale. Derived from
    # the RAW batch keys: the aggregate emits one row per key group,
    # so its bucket set equals the raw keys' bucket set — and the raw
    # form is a partial-aggregated distinct over one projection where
    # the aggregate form re-ran the group-by shuffle a second time
    # just to list buckets (same reasoning as upsert_merge).
    touched = sorted(r[0] for r in
                     batch_df.select(kb.alias(_UPSERT_BUCKET_COL))
                             .distinct().collect())
    pending = [b for b in touched
               if _bucket_applied_id(os.path.join(
                   path, f"{_UPSERT_BUCKET_COL}={b}")) < batch_id]
    # record BEFORE the early return and the first swap: an empty
    # pending set recorded = "this run's merge is complete", so a
    # later changed-input resume can reclaim fresh instead of raising
    _intent_record_touched(path, batch_id, pending)
    if not pending:
        return
    part = part.filter(F.col(_UPSERT_BUCKET_COL).isin(pending))

    live = [b for b in pending
            if os.path.isdir(os.path.join(
                path, f"{_UPSERT_BUCKET_COL}={b}"))]
    if live:
        state = (_read_touched(spark, path, pending)
                 .select(*keys, F.col("n"),
                         F.col("total").cast(_DEC).alias("total"),
                         F.col(_UPSERT_BUCKET_COL)))
        merged = (state.unionByName(part)
                  .groupBy(*keys, _UPSERT_BUCKET_COL)
                  .agg(F.sum("n").cast("bigint").alias("n"),
                       F.sum("total").cast(_DEC).alias("total")))
    else:
        merged = part

    staged = os.path.join(path, _UPSERT_STAGED_DIR)
    (merged.repartition(len(pending), F.col(_UPSERT_BUCKET_COL))
           .write.mode("overwrite")
           .partitionBy(_UPSERT_BUCKET_COL).parquet(staged))
    for b in pending:
        new = os.path.join(staged, f"{_UPSERT_BUCKET_COL}={b}")
        if not os.path.isdir(new):
            os.makedirs(new, exist_ok=True)  # empty-state bucket
        # the marker travels with the directory rename
        open(os.path.join(new, f"{_APPLIED_PREFIX}{batch_id}"),
             "w").close()
        live_dir = os.path.join(path, f"{_UPSERT_BUCKET_COL}={b}")
        old = os.path.join(path, f"{_UPSERT_OLD_PREFIX}{b}")
        if os.path.isdir(live_dir):
            os.rename(live_dir, old)
        os.rename(new, live_dir)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)


def foreachbatch_agg_state(stream: DataFrame, path: str, keys: list[str],
                           value_col: str, checkpoint: str,
                           trigger_available_now: bool = True,
                           num_buckets: int = 32):
    """Streaming ADDITIVE aggregate state (per-key count + exact sum)
    maintained in the same key-bucketed parquet layout as
    ``foreachbatch_upsert`` — incremental aggregation maintenance
    without a lakehouse dependency.

    Keep-latest merges are naturally idempotent; additive merges are
    NOT (replaying a batch would double-count), so each bucket swap
    carries an ``_applied_<batch_id>`` marker file INSIDE the bucket
    directory — it travels atomically with the rename. On entry, a
    bucket whose live marker is >= the incoming batch id is skipped:
    after a crash anywhere in the swap loop, the checkpoint replays
    the batch and exactly the unswapped buckets apply it. foreachBatch
    at-least-once delivery + per-bucket applied markers = exactly-once
    additive state.

    Scale posture matches the upsert sink: the batch partial-aggregates
    per key BEFORE touching state, only touched buckets are read
    (partition pruning) and rewritten, and sums accumulate in
    DECIMAL(27,6) so merge order can never change the result.
    Local-filesystem targets only (os.rename swaps; URI-scheme
    targets rejected up front) — on an object store use a lakehouse
    MERGE instead."""
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        agg_state_merge(batch_df, batch_id, path=path, keys=keys,
                        value_col=value_col, num_buckets=num_buckets)

    writer = (stream.writeStream.foreachBatch(merge)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
