"""Cross-run exact deduplication against a persistent seen-key store.

``operators/dedup.py::exact_dedup`` dedups WITHIN one frame; an
incremental ingestion pipeline (the daily corpus drop of a training-
data pipeline) also needs dedup against HISTORY: a document whose
content already shipped in any previous run must not ship again. This
module maintains that history as a key-bucketed store of content
hashes and exposes the operation as a filter + post-sink commit pair,
wired into the YAML surface as the ``dedup_state`` transformation.

Store layout (same hash-bucket scheme as the state sinks)::

    <stateDir>/_udc_seen_meta            bucket count, fixed for life
    <stateDir>/udc_kb=<K>/seen-*.parquet append-only key files

The store is APPEND-ONLY, which is what makes its crash contract
simple: the anti-join is idempotent under duplicate seen rows, so a
replayed commit that re-appends the same keys changes nothing about
which rows ship — there is no swap, no pointer, and nothing to CAS.
Appends are atomic per file (write-to-staging + ``os.rename`` on
POSIX).

Crash ordering (enforced by the engine, ``finalize_batch_sink``): the
commit runs strictly AFTER the sink succeeds and strictly BEFORE
``manifest_record``. Both orders matter:

* sink first — a failed sink leaves the store untouched, so the rerun
  ships the same survivors (no data loss);
* commit before manifest — if the commit lands and the manifest crash-
  misses, the rerun re-reads the same files and filters the survivors
  as seen, which is CORRECT (they already reached the sink); the
  reverse order would let a manifest-recorded/commit-crashed run leak
  keys that future batches then fail to dedup against (duplicates
  downstream, the one outcome the operator exists to prevent).

Scale posture: the key is ``sha2(to_json(struct(cols)), 256)``
(NULL-faithful, order-faithful; 2^-128 collision odds at corpus
scale), bucketed by ``pmod(xxhash64(key), N)``. A batch reads ONLY its
touched buckets' files (explicit paths — pruning by construction),
anti-joins on the hash, and appends one file per touched bucket.
Per-batch cost is O(touched state + batch), never O(store). Replayed
commits may append duplicate keys; ``compact_seen_store`` rewrites a
bucket to distinct keys as offline maintenance.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

_KB = "udc_kb"
_SEEN_META = "_udc_seen_meta"
_NEAR_META = "_udc_near_meta"
_EMB_DIM_META = "_udc_emb_dim"
_SEEN_STAGED_PREFIX = "_udc_seen_staged_"
_KEY = "udc_seen_key"


def _sweep_crash_leftovers(root: str) -> None:
    """Remove staging leftovers from crashed commits (unreferenced by
    construction — live files arrive by rename) and repair a
    ``compact_seen_store`` crash between its two renames: if the live
    bucket dir vanished the parked old copy IS the store — put it
    back; otherwise the swap completed and the old copy is superseded
    (same repair as the state sinks' ``_upsert_recover``)."""
    for name in os.listdir(root):
        if name.startswith(_SEEN_STAGED_PREFIX):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        elif name.startswith("_udc_old_"):
            b = name[len("_udc_old_"):]
            live = os.path.join(root, f"{_KB}={b}")
            old = os.path.join(root, name)
            if os.path.isdir(live):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, live)


def _ensure_seen_meta(state_dir: str, num_buckets: int,
                      in_maintenance: bool = False) -> int:
    """Create/validate the store marker; the bucket count persisted at
    creation wins for the store's life (same rule as the state sinks).
    Also sweeps crash leftovers at the store root AND under the near
    store's ``bands``/``sigs`` sub-roots (their commits stage under
    their own root, ``_append_buckets``) — under a WRITER MARK (r17):
    the r16 bare lease-exists check was check-then-act (a compactor
    acquiring the lease right after it put a parked ``_udc_old_``
    bucket dir back mid-swap, ADVICE r16). The mark-then-check claim
    order makes the exclusion airtight: if the sweep holds its mark
    and saw no lease, a concurrent compactor's lease-then-marks check
    sees the mark and refuses; if a lease is live the sweep is
    refused and SKIPPED (the compactor sweeps its predecessor's
    leftovers itself). The compactor passes ``in_maintenance=True``
    (it holds the lease and MUST sweep before swapping)."""
    from universal_data_connector_spark.store_lease import (
        StoreLeaseHeld,
        posix_writer_mark,
    )
    from universal_data_connector_spark.streaming.windows import (
        _reject_remote_target,
    )

    _reject_remote_target(state_dir)

    def _sweep_all() -> None:
        _sweep_crash_leftovers(state_dir)
        for sub in ("bands", "sigs", "vecs"):
            sub_root = os.path.join(state_dir, sub)
            if os.path.isdir(sub_root):
                _sweep_crash_leftovers(sub_root)

    def _parked() -> list[str]:
        roots = [state_dir] + [os.path.join(state_dir, s)
                               for s in ("bands", "sigs", "vecs")]
        return [os.path.join(r, n) for r in roots if os.path.isdir(r)
                for n in os.listdir(r) if n.startswith("_udc_old_")]

    if os.path.isdir(state_dir):
        if in_maintenance:
            _sweep_all()
        else:
            try:
                with posix_writer_mark(state_dir):
                    _sweep_all()
            except StoreLeaseHeld:
                # foreign maintenance in flight: it sweeps crash
                # leftovers itself — but reading PAST a parked bucket
                # dir would silently treat that bucket as empty and
                # pass already-seen keys as new (r17 review). Refuse
                # loudly instead; the maintenance holder repairs the
                # park first thing under its lease, so the retry
                # reads a consistent store.
                parked = _parked()
                if parked:
                    raise StoreLeaseHeld(
                        f"store {state_dir!r} is under maintenance "
                        f"with parked bucket dir(s) {parked[:3]} not "
                        "yet repaired; reading now would silently "
                        "miss those buckets — retry after the "
                        "maintenance holder's sweep")
    meta = os.path.join(state_dir, _SEEN_META)
    if os.path.isfile(meta):
        with open(meta) as fh:
            return int(fh.read().strip())
    if os.path.isdir(state_dir) and any(
            not n.startswith("_") for n in os.listdir(state_dir)):
        raise ValueError(
            f"dedup_state store {state_dir!r} exists but is not a seen "
            "store (missing _udc_seen_meta)")
    os.makedirs(state_dir, exist_ok=True)
    tmp = meta + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(num_buckets))
    os.rename(tmp, meta)
    return num_buckets


def _batch_keyed(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """Key + bucket + deterministic within-batch dedup, shared by the
    POSIX and object-store seen stores."""
    key = F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)
    keyed = df.withColumn(_KEY, key)
    # deterministic within-batch winner: lowest content hash over ALL
    # columns; MapType-carrying columns hash their to_json rendering
    # (xxhash64 cannot hash maps — the windows._latest_rank rule)
    from universal_data_connector_spark.streaming.windows import (
        _contains_map,
    )
    tiebreak = F.xxhash64(*[
        F.to_json(F.col(f.name)) if _contains_map(f.dataType)
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)])
    rn = F.row_number().over(
        Window.partitionBy(_KEY).orderBy(tiebreak.asc()))
    return (keyed.withColumn("__rn", rn)
                 .filter(F.col("__rn") == 1).drop("__rn")
                 .withColumn(_KB, F.pmod(F.xxhash64(F.col(_KEY)),
                                         F.lit(n)).cast("int")))


def _pin(keyed: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    from universal_data_connector_spark.operators.relational import (
        pin_frame,
    )
    return pin_frame(keyed.persist(StorageLevel.DISK_ONLY))


def seen_filter(df: DataFrame, state_dir: str, cols: list[str],
                num_buckets: int = 32, persist: bool = True):
    """(survivors, commit) for one batch against the seen store.

    ``survivors`` is ``df`` minus rows whose key is already in the
    store, also deduplicated WITHIN the batch (deterministic winner:
    lowest content hash over all columns, so replays pick the same
    rows). ``commit()`` appends the survivors' keys to the store —
    call it only after the survivors have durably reached their sink.

    The keyed survivor frame is persisted (DISK_ONLY) and pinned so
    the sink's consumption and the commit's key extraction share ONE
    materialization — without it the commit would re-run the source
    scan and anti-join a second time. Pass ``persist=False`` to opt
    out (e.g. a caller that commits nothing)."""
    n = _ensure_seen_meta(state_dir, num_buckets)
    keyed = _batch_keyed(df, cols, n)

    # touched-bucket set: bounded by num_buckets -> driver-safe
    touched = sorted(r[0] for r in keyed.select(_KB).distinct().collect())
    live = [b for b in touched
            if os.path.isdir(os.path.join(state_dir, f"{_KB}={b}"))]
    if live:
        spark = df.sparkSession
        seen = spark.read.parquet(
            *[os.path.join(state_dir, f"{_KB}={b}") for b in live]
        ).select(_KEY).distinct()
        keyed = keyed.join(seen, on=_KEY, how="left_anti")
    if persist:
        keyed = _pin(keyed)

    def commit() -> None:
        # the whole append (staged write + renames) runs under a
        # store-carried writer mark: maintenance holding the store
        # lease refuses this commit BEFORE anything is staged, and a
        # compaction attempt from ANY config/process refuses while
        # this mark lives (store_lease module docstring)
        from universal_data_connector_spark.store_lease import (
            posix_writer_mark,
        )
        with posix_writer_mark(state_dir):
            nonce = uuid.uuid4().hex[:8]
            staged = os.path.join(state_dir,
                                  f"{_SEEN_STAGED_PREFIX}{nonce}")
            new_keys = keyed.select(_KEY, _KB)
            (new_keys.repartition(max(len(touched), 1), F.col(_KB))
                     .write.mode("overwrite").partitionBy(_KB)
                     .parquet(staged))
            moved = 0
            for b in touched:
                part_dir = os.path.join(staged, f"{_KB}={b}")
                if not os.path.isdir(part_dir):
                    continue
                live_dir = os.path.join(state_dir, f"{_KB}={b}")
                os.makedirs(live_dir, exist_ok=True)
                for i, name in enumerate(sorted(
                        f for f in os.listdir(part_dir)
                        if f.endswith(".parquet"))):
                    os.rename(os.path.join(part_dir, name),
                              os.path.join(live_dir,
                                           f"seen-{nonce}-{i}.parquet"))
                    moved += 1
            shutil.rmtree(staged, ignore_errors=True)
        log.info("dedup_state: appended %d file(s) across %d touched "
                 "bucket(s) in %s", moved, len(touched), state_dir)

    return keyed.drop(_KEY, _KB), commit


def _seen_objects(target, under: str) -> list[str]:
    """The seen-store objects under one bucket sub-prefix: only
    ``seen-*.parquet`` basenames count, so a foreign parquet object
    sharing the prefix (a misconfigured state-sink generation, say)
    is never read as keys — and, in ``compact_seen_store_s3``, never
    deleted."""
    return [k for k in target.list_keys(under=under)
            if k.endswith(".parquet")
            and os.path.basename(k).startswith("seen-")]


def seen_filter_s3(df: DataFrame, target, cols: list[str],
                   persist: bool = True):
    """Object-store twin of ``seen_filter`` on an
    ``object_state.S3StateTarget`` (which owns the bucket count; one
    store per prefix). The append-only design needs NO pointer and no
    CAS here: S3 PUTs are atomic (an object exists fully or not at
    all), torn reads are impossible, and a crash mid-commit leaves
    some buckets' keys appended — harmless, because the commit runs
    only after the sink succeeded, so re-filtering those keys as seen
    on the rerun is correct. Per-bucket listings are prefix-scoped
    (O(touched), never O(store)); the key objects are GET executor-
    side inside the anti-join plan (``object_state.read_objects``) —
    no byte of history crosses the driver, no driver-local scratch
    (VERDICT r14 item 1)."""
    from universal_data_connector_spark.streaming.object_state import (
        read_objects,
    )

    n = target.num_buckets
    keyed = _batch_keyed(df, cols, n)
    touched = sorted(r[0] for r in keyed.select(_KB).distinct().collect())
    keyed_objects = [(k, b) for b in touched
                     for k in _seen_objects(target, f"kb={b}")]
    if keyed_objects:
        # eager checkpoint AFTER the distinct (parity with the old
        # transport and with _s3_read_sub): one GET per history object
        # total, even when the survivors frame is consumed by several
        # actions or a persist=False caller re-evaluates the plan
        seen = (read_objects(df.sparkSession, target, keyed_objects,
                             f"{_KEY} string")
                .distinct().localCheckpoint(eager=True))
        keyed = keyed.join(seen, on=_KEY, how="left_anti")
    if persist:
        keyed = _pin(keyed)

    def commit() -> None:
        uploaded = _s3_append_sub(keyed.select(_KEY, _KB), target,
                                  touched)
        log.info("dedup_state[s3]: appended %d object(s) across %d "
                 "touched bucket(s) under %s/%s", uploaded,
                 len(touched), target.bucket, target.prefix)

    return keyed.drop(_KEY, _KB), commit


# ---------------------------------------------------------------------------
# cross-run NEAR dedup: MinHash-LSH against history
# ---------------------------------------------------------------------------

def _near_params(num_hashes: int, bands: int, shingle_n: int) -> dict:
    return {"num_hashes": int(num_hashes), "bands": int(bands),
            "shingle_n": int(shingle_n)}


def _ensure_near_meta_posix(store_dir: str, params: dict) -> None:
    """Persist the signature-defining parameters at store creation and
    refuse mismatched reopens: signatures and band folds computed
    under one ``(num_hashes, bands, shingle_n)`` are NOT comparable
    with another's — a mismatched run would silently mis-score every
    similarity (wrong-length zip, disjoint band folds) instead of
    failing. Adopted on first touch for stores that predate the guard
    (the current run's parameters become the store's)."""
    import json

    path = os.path.join(store_dir, _NEAR_META)
    if os.path.isfile(path):
        with open(path) as fh:
            have = json.load(fh)
        if have != params:
            raise ValueError(
                f"dedup_state near store {store_dir!r} was created "
                f"with {have}; this run passed {params} — stored "
                "signatures/band folds are not comparable across "
                "these parameters. Rerun with the store's parameters "
                "or start a new store.")
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(params, fh)
    os.rename(tmp, path)


def _sig_band_df(df: DataFrame, text_col: str, id_col: str,
                 num_hashes: int, bands: int,
                 shingle_n: int) -> DataFrame:
    """(id, __sig, __bands) in ONE map over the scan: the pure-JVM
    shingle expression feeds a mapInPandas that runs the in-batch LSH
    pipeline's own kernel (``dedup._minhash_batch`` + ``_band_fold``),
    so the cross-run store and ``dedup.shingle_band_df`` band
    identically by construction."""
    import pandas as pd
    from pyspark.sql import types as T

    from universal_data_connector_spark.operators.dedup import (
        _band_fold,
        _coeff_arrays,
        _minhash_batch,
        shingle_hashes_df,
    )

    A, B = _coeff_arrays(num_hashes)
    grams = shingle_hashes_df(df, text_col, id_col, shingle_n)
    out_schema = T.StructType([
        T.StructField(id_col, grams.schema[id_col].dataType),
        T.StructField("__sig", T.ArrayType(T.LongType())),
        T.StructField("__bands", T.ArrayType(T.LongType())),
    ])

    def emit(batches):
        for pdf in batches:
            sig = _minhash_batch(pdf["__g"], A, B)
            yield pd.DataFrame({id_col: pdf[id_col], "__sig": list(sig),
                                "__bands": list(_band_fold(sig, bands))})

    return grams.mapInPandas(emit, out_schema)


def _read_buckets(spark, root: str, buckets: list[int]):
    """Frame over the existing bucket dirs among ``buckets`` under
    ``root`` (explicit paths — pruning by construction), or None."""
    paths = [os.path.join(root, f"{_KB}={b}") for b in buckets
             if os.path.isdir(os.path.join(root, f"{_KB}={b}"))]
    return spark.read.parquet(*paths) if paths else None


def _append_buckets(frame: DataFrame, root: str,
                    touched: list[int]) -> int:
    """Append ``frame`` (carrying ``udc_kb``) to the append-only store
    under ``root``: staged Spark write, then atomic renames of each
    part file into its live bucket dir. Returns files appended."""
    nonce = uuid.uuid4().hex[:8]
    staged = os.path.join(root, f"{_SEEN_STAGED_PREFIX}{nonce}")
    (frame.repartition(max(len(touched), 1), F.col(_KB))
          .write.mode("overwrite").partitionBy(_KB).parquet(staged))
    moved = 0
    for b in touched:
        part_dir = os.path.join(staged, f"{_KB}={b}")
        if not os.path.isdir(part_dir):
            continue
        live_dir = os.path.join(root, f"{_KB}={b}")
        os.makedirs(live_dir, exist_ok=True)
        for i, name in enumerate(sorted(
                f for f in os.listdir(part_dir)
                if f.endswith(".parquet"))):
            os.rename(os.path.join(part_dir, name),
                      os.path.join(live_dir,
                                   f"seen-{nonce}-{i}.parquet"))
            moved += 1
    shutil.rmtree(staged, ignore_errors=True)
    return moved


def seen_near_filter(df: DataFrame, store_dir: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     threshold: float = 0.8, num_hashes: int = 128,
                     bands: int = 32, shingle_n: int = 5,
                     num_buckets: int = 32, persist: bool = True):
    """(survivors, commit) — MinHash NEAR dedup against ALL previous
    runs: a document whose estimated Jaccard similarity to any
    historically shipped document reaches ``threshold`` is dropped.
    The cross-run extension of ``dedup.minhash_dedup_pairs``; the
    exact twin is ``seen_filter``.

    Store layout, two append-only bucketed sub-stores under one root
    (same crash contract as the exact store — appends are atomic
    renames, duplicates are harmless, a post-sink commit that crash-
    misses re-ships nothing and loses nothing)::

        <store>/_udc_seen_meta                  bucket count
        <store>/bands/udc_kb=<K>/seen-*.parquet (band_idx, band_hash,
                                                 doc_key)
        <store>/sigs/udc_kb=<K>/seen-*.parquet  (doc_key, sig)

    Batch flow — every store read is confined to touched buckets:

    1. one map over the scan computes each new doc's signature + band
       hashes (``_sig_band_df``, no shuffle);
    2. new band rows equi-join the band store's touched buckets on
       (band_idx, band_hash) -> candidate (new id, stored doc_key)
       pairs — LSH guarantees a near-dup shares >= 1 band with
       probability 1-(1-s^r)^bands (~0.9997 at s=0.8 with 128/32);
    3. candidates' signatures fetch from the sig store's touched
       buckets; similarity = fraction of agreeing signature positions
       (the standard MinHash estimator, sd ~= sqrt(s(1-s)/128) ~ 0.035
       at the threshold) — flagged ids drop;
    4. ``commit()`` (post-sink, the engine's finalize step 0 ordering)
       appends the survivors' band rows and signatures.

    Contract note: this filters against HISTORY only — two near-dup
    documents arriving in the SAME batch both survive (and both enter
    the store). Run the in-batch pipeline (``minhash_dedup_pairs`` +
    ``dedup_keep_min``) first when intra-batch near-dups matter; the
    composition is the canonical daily-ingest flow.

    Signatures are stored ONCE per doc (the band rows carry only the
    8-byte fold + key), so store cost is O(docs * num_hashes * 8B +
    docs * bands * ~40B) — at 1B shipped docs and 128 hashes, ~1 TB of
    signature parquet spread over the bucket dirs, read strictly
    per-touched-bucket."""
    n = _ensure_seen_meta(store_dir, num_buckets)
    _ensure_near_meta_posix(
        store_dir, _near_params(num_hashes, bands, shingle_n))
    bands_root = os.path.join(store_dir, "bands")
    sigs_root = os.path.join(store_dir, "sigs")

    def read_sub(spark, sub, buckets):
        root = bands_root if sub == "bands" else sigs_root
        return _read_buckets(spark, root, buckets)

    def append_sub(frame, sub, touched):
        from universal_data_connector_spark.store_lease import (
            posix_writer_mark,
        )
        root = bands_root if sub == "bands" else sigs_root
        # one writer mark per sub-store append: the lease domain is
        # the STORE root, each rename window is individually fenced
        with posix_writer_mark(store_dir):
            return _append_buckets(frame, root, touched)

    return _near_filter_core(
        df, n, read_sub, append_sub, label=store_dir,
        text_col=text_col, id_col=id_col, threshold=threshold,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        persist=persist)


def _near_filter_core(df: DataFrame, n: int, read_sub, append_sub, *,
                      label: str, text_col: str, id_col: str,
                      threshold: float, num_hashes: int, bands: int,
                      shingle_n: int, persist: bool):
    """The store-agnostic near-dedup flow shared by the POSIX and
    object-store variants. ``read_sub(spark, sub, buckets)`` returns a
    frame over the existing touched buckets of sub-store ``sub``
    (``"bands"`` or ``"sigs"``) or None; ``append_sub(frame, sub,
    touched)`` appends a ``udc_kb``-carrying frame to that sub-store
    and returns the number of files/objects written."""
    spark = df.sparkSession
    r = num_hashes // bands
    if r * bands != num_hashes:
        raise ValueError(f"bands ({bands}) must divide num_hashes "
                         f"({num_hashes})")
    _reject_null_ids(df, id_col, "near")

    sb = _sig_band_df(df, text_col, id_col, num_hashes, bands, shingle_n)
    doc_key = F.sha2(F.col(text_col).cast("string"), 256)
    keyed = (df.select(id_col, text_col)
               .withColumn("__dk", doc_key)
               .join(sb, on=id_col))
    if persist:
        keyed = _pin(keyed)

    new_bands = (keyed.select(
        id_col, "__dk",
        F.posexplode("__bands").alias("__bidx", "__bh"))
        .withColumn(_KB, F.pmod(F.xxhash64("__bidx", "__bh"),
                                F.lit(n)).cast("int")))
    touched_band = sorted(
        row[0] for row in new_bands.select(_KB).distinct().collect())

    flagged = None
    stored_bands = read_sub(spark, "bands", touched_band)
    if stored_bands is not None:
        # no self-exclusion on doc_key: the store never contains the
        # CURRENT batch (commit runs post-sink), and a replay after a
        # committed-then-crashed run SHOULD match its own stored copy
        # (those rows already shipped)
        cands = (new_bands.join(
            stored_bands.withColumnsRenamed(
                {"band_idx": "__bidx", "band_hash": "__bh"}),
            on=["__bidx", "__bh"])
            .select(id_col, "doc_key").distinct())
        kb2 = F.pmod(F.xxhash64("doc_key"), F.lit(n)).cast("int")
        cand_buckets = sorted(
            row[0] for row in cands.select(kb2.alias(_KB))
                                   .distinct().collect())
        stored_sigs = read_sub(spark, "sigs", cand_buckets)
        if stored_sigs is not None:
            est = (F.aggregate(
                F.zip_with("__sig", "sig",
                           lambda a, b: (a == b).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x) / F.lit(num_hashes))
            flagged = (cands
                       .join(keyed.select(id_col, "__sig"), on=id_col)
                       .join(stored_sigs, on="doc_key")
                       .filter(est >= F.lit(threshold))
                       .select(id_col).distinct())
        # an exact byte-duplicate of a stored doc always flags via the
        # sig path (sim 1.0); no separate doc_key check needed

    survivors_keys = (keyed.join(flagged, on=id_col, how="left_anti")
                      if flagged is not None else keyed)
    if persist and flagged is not None:
        survivors_keys = _pin(survivors_keys)
    survivors = df.join(survivors_keys.select(id_col), on=id_col,
                        how="left_semi")

    def commit() -> None:
        # bands append BEFORE sigs, and the convergence argument is
        # rerun-shaped rather than order-shaped: a crash between the
        # two appends leaves band rows whose sigs are missing, so the
        # next filter finds the candidates but cannot score them — but
        # that crash also means finalize died BEFORE manifest_record,
        # so the pipeline rerun re-ships those docs (at-least-once,
        # the same contract as every finalize step) and this commit
        # re-runs to completion, appending the sigs (duplicate band
        # rows are harmless as everywhere in the append-only stores).
        band_rows = (survivors_keys.select(
            F.col("__dk").alias("doc_key"),
            F.posexplode("__bands").alias("band_idx", "band_hash"))
            .withColumn(_KB, F.pmod(F.xxhash64("band_idx", "band_hash"),
                                    F.lit(n)).cast("int")))
        tb = sorted(row[0] for row in
                    band_rows.select(_KB).distinct().collect())
        moved = append_sub(band_rows, "bands", tb)
        sig_rows = (survivors_keys.select(
            F.col("__dk").alias("doc_key"),
            F.col("__sig").alias("sig"))
            .withColumn(_KB, F.pmod(F.xxhash64("doc_key"),
                                    F.lit(n)).cast("int")))
        ts = sorted(row[0] for row in
                    sig_rows.select(_KB).distinct().collect())
        moved += append_sub(sig_rows, "sigs", ts)
        log.info("dedup_near_state: appended %d file(s) in %s",
                 moved, label)

    return survivors, commit


def _ensure_near_meta_s3(target, params: dict) -> None:
    """Object-store twin of ``_ensure_near_meta_posix``: the parameter
    record is created with a conditional PUT (If-None-Match:*), so two
    racing first-writers resolve to one winner whose parameters bind
    the store for life; mismatched reopens fail loudly."""
    from universal_data_connector_spark.streaming.object_state import (
        CasConflict,
    )

    key = target._key(_NEAR_META)
    have, _ = target._get_json(key)
    if have is None:
        try:
            target._put_cas(key, params, None)
            return
        except CasConflict:
            have, _ = target._get_json(key)
    if have != params:
        raise ValueError(
            f"dedup_state near store s3://{target.bucket}/"
            f"{target.prefix} was created with {have}; this run "
            f"passed {params} — stored signatures/band folds are not "
            "comparable across these parameters. Rerun with the "
            "store's parameters or start a new store.")


def _s3_append_sub(frame: DataFrame, target, touched: list[int],
                   sub: str | None = None) -> int:
    """Append a ``udc_kb``-carrying frame to the object store under
    ``[<sub>/]kb=<K>/seen-<nonce>-<i>.parquet``: one atomic PUT per
    rolled object, issued from the upload tasks themselves
    (``object_state.write_objects`` — no pointer, no CAS, the
    append-only argument in ``seen_filter_s3``; no driver staging).
    Returns objects uploaded."""
    from universal_data_connector_spark.streaming.object_state import (
        key_format,
        write_objects,
    )

    # Deliberately NO store_lease writer mark here (r16): the object-
    # store seen append is provably safe against BOTH maintenance ops
    # by construction — compact_seen_store_s3 deletes only objects in
    # its OWN listing (a racing append lands under a fresh nonce the
    # listing didn't see; pinned by test_s3_state's racing-append
    # test), and vacuum_target excludes the seen namespaces outright.
    # Serializing it would cost availability for nothing: at 100 TB a
    # compaction pass is long, and the POSIX-style refusal would stall
    # every ingest commit for its whole duration. The POSIX twin DOES
    # mark (its rename swap is the lossy race); the S3 state-sink
    # merges DO mark (vacuum would eat their fresh generations).
    parts = ([sub] if sub else []) + ["kb={b}", "seen-{nonce}-{i}.parquet"]
    objects = write_objects(frame, target, touched,
                            key_format(target, *parts))
    return sum(len(ks) for ks in objects.values())


#: stored column contract per seen sub-store — the writers below are
#: the only producers, so these literals ARE the file schemas (reads
#: select by name, so compaction's column-order drift is immaterial).
_SUB_SCHEMAS = {
    "bands": "doc_key string, band_idx int, band_hash bigint",
    "sigs": "doc_key string, sig array<bigint>",
    "vecs": "doc_key string, vec array<double>",
    "": f"{_KEY} string",
}


def _s3_read_sub(target, spark, sub: str, buckets: list[int]):
    """Frame over the existing objects of sub-store ``sub``'s touched
    buckets, or None — GETs run executor-side inside the plan
    (``object_state.read_objects``), so history never crosses the
    driver. Eagerly localCheckpoint-ed: the near/embedding flows
    consume the stored frame in several actions (candidate-bucket
    collect, the flagging join, the survivor pin), and one distributed
    materialization keeps the per-object GET count at one, matching
    the op-count table in BENCH_NOTES_r14 §6."""
    from universal_data_connector_spark.streaming.object_state import (
        read_objects,
    )

    keyed_objects = [(k, b) for b in buckets
                     for k in _seen_objects(target, f"{sub}/kb={b}")]
    if not keyed_objects:
        return None
    return (read_objects(spark, target, keyed_objects,
                         _SUB_SCHEMAS[sub])
            .localCheckpoint(eager=True))


def seen_near_filter_s3(df: DataFrame, target,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.8, num_hashes: int = 128,
                        bands: int = 32, shingle_n: int = 5,
                        persist: bool = True):
    """Object-store twin of ``seen_near_filter`` on an
    ``object_state.S3StateTarget`` (which owns the bucket count). The
    band and signature sub-stores live under ``bands/kb=<K>/`` and
    ``sigs/kb=<K>/`` and inherit the exact store's append-only crash
    contract verbatim (``seen_filter_s3``): atomic PUTs, duplicate
    appends harmless, a commit that crash-misses re-ships and
    converges on the rerun. Touched-bucket object listings are
    prefix-scoped (O(touched), never O(store)); bucket data moves
    executor-side in both directions (``object_state.read_objects`` /
    ``write_objects``) — nothing shuttles through the driver."""
    n = target.num_buckets
    _ensure_near_meta_s3(
        target, _near_params(num_hashes, bands, shingle_n))

    def read_sub(spark, sub, buckets):
        return _s3_read_sub(target, spark, sub, buckets)

    def append_sub(frame, sub, touched):
        return _s3_append_sub(frame, target, touched, sub=sub)

    return _near_filter_core(
        df, n, read_sub, append_sub,
        label=f"s3://{target.bucket}/{target.prefix}",
        text_col=text_col, id_col=id_col, threshold=threshold,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        persist=persist)


def _reject_null_ids(df: DataFrame, id_col: str, mode: str) -> None:
    """Fail loudly on NULL row ids (ADVICE r14): the near/embedding
    flows re-associate signatures and survivors with their rows by
    equi-joining on ``id_col``, and a NULL key matches nothing — the
    row would silently vanish from the survivors with no dedup
    decision at all, the one failure mode worse than a duplicate.
    One short-circuiting probe job (column-pruned, stops at the first
    NULL) per batch buys the guarantee."""
    if df.filter(F.col(id_col).isNull()).limit(1).count():
        raise ValueError(
            f"dedup_state {mode} batch contains NULL {id_col!r} row "
            "ids: the store joins signatures back to rows by this id, "
            "so NULL-id rows would be dropped without any dedup "
            "decision. Assign unique non-null ids upstream (e.g. "
            "uuid() or monotonically_increasing_id).")


def _embedding_params(n_planes: int, bands: int, seed: int) -> dict:
    if n_planes % bands:
        raise ValueError(f"bands ({bands}) must divide n_planes "
                         f"({n_planes})")
    if not 1 <= n_planes // bands <= 63:
        raise ValueError(
            f"bits per band must be in [1, 63], got {n_planes // bands}")
    return {"kind": "embedding", "n_planes": int(n_planes),
            "bands": int(bands), "seed": int(seed)}


def _batch_dim(df: DataFrame, vec_col: str):
    """Embedding width of the batch (None when the batch is empty or
    holds no non-null vector); one aggregate-only job. Aggregating
    min/max of ``size()`` over NON-NULL vectors — instead of peeking
    at the first row (ADVICE r14) — means a leading NULL can never pin
    a bogus width into the store meta, and a mixed-width batch fails
    HERE instead of passing a first-row-only guard and silently
    zeroing recall for the other width."""
    row = (df.filter(F.col(vec_col).isNotNull())
             .agg(F.min(F.size(F.col(vec_col))).alias("lo"),
                  F.max(F.size(F.col(vec_col))).alias("hi"))
             .first())
    if row is None or row["lo"] is None:
        return None
    if int(row["lo"]) != int(row["hi"]):
        raise ValueError(
            f"dedup_state embedding batch mixes vector widths "
            f"{int(row['lo'])} and {int(row['hi'])} in {vec_col!r}: "
            "hyperplane codes are dim-specific, so a mixed batch "
            "cannot be scored against one store")
    return int(row["lo"])


def _check_dim(stored, dim: int, label: str) -> None:
    if stored is not None and int(stored) != dim:
        raise ValueError(
            f"dedup_state embedding store {label} holds {stored}-wide "
            f"vectors; this batch is {dim}-wide. Hyperplane codes are "
            "dim-specific, so a mismatched run would silently MISS "
            "every near-duplicate instead of failing — embeddings from "
            "a different space need a new store.")


def _ensure_dim_posix(store_dir: str, dim: int) -> None:
    """Pin the embedding width at first non-empty batch (O_CREAT|
    O_EXCL, same one-winner rule as the bucket-count meta) and refuse
    mismatched reopens."""
    path = os.path.join(store_dir, _EMB_DIM_META)
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        with os.fdopen(fd, "w") as fh:
            fh.write(str(dim))
        return
    except FileExistsError:
        pass
    with open(path) as fh:
        _check_dim(fh.read().strip(), dim, store_dir)


def _ensure_dim_s3(target, dim: int) -> None:
    from universal_data_connector_spark.streaming.object_state import (
        CasConflict,
    )

    key = target._key(_EMB_DIM_META)
    have, _ = target._get_json(key)
    if have is None:
        try:
            target._put_cas(key, dim, None)
            return
        except CasConflict:
            have, _ = target._get_json(key)
    _check_dim(have, dim, f"s3://{target.bucket}/{target.prefix}")


def _embedding_filter_core(df: DataFrame, n: int, read_sub, append_sub,
                           *, label: str, vec_col: str, id_col: str,
                           threshold: float, n_planes: int, bands: int,
                           seed: int, persist: bool):
    """The store-agnostic embedding near-dedup flow, the vector twin
    of ``_near_filter_core``: banded hyperplane-LSH codes find
    candidates against the ``bands`` sub-store, the EXACT cosine
    against the ``vecs`` sub-store decides (so band recall affects
    only which near-dups are caught, never a false drop), and the
    commit appends the survivors' codes and vectors. Band codes come
    from ``similarity.hyperplane_bands`` — bit-for-bit the codes the
    in-batch LSH pipeline uses, the same parity rule as the MinHash
    store's ``_sig_band_df``. Zero-norm vectors have NULL cosine and
    therefore always ship (consistent with ``dedup_embedding_cosine``).
    Band rows are stored under the (doc_key, band_idx, band_hash)
    schema of the MinHash store so compaction stays uniform. NULL
    vectors extend the zero-norm posture: no codes are computed for
    them (they can never be candidates, so they always ship) and they
    are not appended to the ``vecs`` store."""
    from universal_data_connector_spark.functions.vectors import (
        cosine_similarity,
    )
    from universal_data_connector_spark.operators.similarity import (
        hyperplane_bands,
    )

    spark = df.sparkSession
    _reject_null_ids(df, id_col, "embedding")
    keyed = (df.select(id_col, vec_col)
               .withColumn("__dk", F.sha2(F.to_json(
                   F.col(vec_col).cast("array<double>")), 256)))
    if persist:
        keyed = _pin(keyed)
    codes = hyperplane_bands(keyed.filter(F.col(vec_col).isNotNull()),
                             id_col, vec_col,
                             n_planes=n_planes, bands=bands, seed=seed)
    if persist:
        codes = _pin(codes)   # one Arrow matmul feeds filter AND commit

    new_bands = codes.withColumn(
        _KB, F.pmod(F.xxhash64("band_idx", "band_val"),
                    F.lit(n)).cast("int"))
    touched_band = sorted(
        row[0] for row in new_bands.select(_KB).distinct().collect())

    flagged = None
    stored_bands = read_sub(spark, "bands", touched_band)
    if stored_bands is not None:
        # no self-exclusion on doc_key — same rerun-shaped argument as
        # _near_filter_core (the store never holds the CURRENT batch)
        cands = (new_bands.join(
            stored_bands.withColumnRenamed("band_hash", "band_val"),
            on=["band_idx", "band_val"])
            .select(id_col, "doc_key").distinct())
        kb2 = F.pmod(F.xxhash64("doc_key"), F.lit(n)).cast("int")
        cand_buckets = sorted(
            row[0] for row in cands.select(kb2.alias(_KB))
                                   .distinct().collect())
        stored_vecs = read_sub(spark, "vecs", cand_buckets)
        if stored_vecs is not None:
            flagged = (cands
                       .join(keyed.select(id_col, vec_col), on=id_col)
                       .join(stored_vecs, on="doc_key")
                       .filter(cosine_similarity(
                           F.col(vec_col), F.col("vec"))
                           >= F.lit(float(threshold)))
                       .select(id_col).distinct())

    survivors_keys = (keyed.join(flagged, on=id_col, how="left_anti")
                      if flagged is not None else keyed)
    if persist and flagged is not None:
        survivors_keys = _pin(survivors_keys)
    survivors = df.join(survivors_keys.select(id_col), on=id_col,
                        how="left_semi")

    def commit() -> None:
        # bands before vecs: identical rerun-shaped convergence
        # argument as _near_filter_core.commit — band rows whose
        # vectors are missing cannot flag, and the pipeline rerun
        # re-ships and completes the append.
        band_rows = (codes.join(survivors_keys.select(id_col, "__dk"),
                                on=id_col)
                     .select(F.col("__dk").alias("doc_key"), "band_idx",
                             F.col("band_val").alias("band_hash"))
                     .withColumn(_KB, F.pmod(
                         F.xxhash64("band_idx", "band_hash"),
                         F.lit(n)).cast("int")))
        tb = sorted(row[0] for row in
                    band_rows.select(_KB).distinct().collect())
        moved = append_sub(band_rows, "bands", tb)
        vec_rows = (survivors_keys
                    .filter(F.col(vec_col).isNotNull())
                    .select(
            F.col("__dk").alias("doc_key"),
            F.col(vec_col).cast("array<double>").alias("vec"))
            .withColumn(_KB, F.pmod(F.xxhash64("doc_key"),
                                    F.lit(n)).cast("int")))
        tv = sorted(row[0] for row in
                    vec_rows.select(_KB).distinct().collect())
        moved += append_sub(vec_rows, "vecs", tv)
        log.info("dedup_embedding_state: appended %d file(s) in %s",
                 moved, label)

    return survivors, commit


def seen_embedding_filter(df: DataFrame, store_dir: str,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          threshold: float = 0.95, n_planes: int = 4096,
                          bands: int = 128, seed: int = 7,
                          num_buckets: int = 32, persist: bool = True):
    """Embedding near-dedup against HISTORY: drop a vector whose exact
    cosine against any previously COMMITTED vector clears ``threshold``
    — the third member of the cross-run store family (exact text /
    MinHash text / embedding), completing incremental-corpus dedup for
    pipelines whose duplicate signal lives in an embedding column.
    Candidates come from banded hyperplane LSH (a missed band match
    can miss a near-dup but never false-drops, since the exact cosine
    decides). Band WIDTH (``n_planes // bands``) is the scale knob:
    vectors with cosine c agree per plane with p = 1 - acos(c)/pi, so
    a pair becomes a candidate at rate ~ bands * p^width — and the
    candidate JOIN (which ships both vectors per pair) is the whole
    cost at scale. Measured on the sf10 scale corpus (clustered 64-dim
    embeddings, same-cluster cosine ~0.4, 100k stored x 120k batch):
    width 8 (128/16) made 6% of the cross product candidates (197 s);
    width 16 (512/32) ~2% of the same-cluster mass (still 10^7 pairs);
    width 32 with 128 bands (the 4096/128 default) drops the
    cluster-mass collision rate to ~10^-5 while keeping recall at
    threshold 0.95 of 1-(1-0.899^32)^128 ~ 98.7% (99.99% at 0.97).
    The wider signature costs one larger Arrow matmul per batch
    (chunked inside ``hyperplane_bands``) and 128 band rows per stored
    vector — both linear, no join involved. Store layout and
    crash contract are the MinHash store's verbatim, with a ``vecs``
    sub-store in place of ``sigs``; parameters AND the embedding width
    are pinned at creation (mismatched reopens fail loudly — both
    would otherwise silently zero the recall). Filters against history
    only; run ``lsh_near_dup_pairs``/``embedding_cosine`` in-batch
    first when intra-batch near-dups matter."""
    n = _ensure_seen_meta(store_dir, num_buckets)
    _ensure_near_meta_posix(
        store_dir, _embedding_params(n_planes, bands, seed))
    dim = _batch_dim(df, vec_col)
    if dim is not None:
        _ensure_dim_posix(store_dir, dim)
    bands_root = os.path.join(store_dir, "bands")
    vecs_root = os.path.join(store_dir, "vecs")

    def read_sub(spark, sub, buckets):
        root = bands_root if sub == "bands" else vecs_root
        return _read_buckets(spark, root, buckets)

    def append_sub(frame, sub, touched):
        from universal_data_connector_spark.store_lease import (
            posix_writer_mark,
        )
        root = bands_root if sub == "bands" else vecs_root
        with posix_writer_mark(store_dir):
            return _append_buckets(frame, root, touched)

    return _embedding_filter_core(
        df, n, read_sub, append_sub, label=store_dir,
        vec_col=vec_col, id_col=id_col, threshold=threshold,
        n_planes=n_planes, bands=bands, seed=seed, persist=persist)


def seen_embedding_filter_s3(df: DataFrame, target,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.95,
                             n_planes: int = 4096, bands: int = 128,
                             seed: int = 7, persist: bool = True):
    """Object-store twin of ``seen_embedding_filter`` (sub-stores
    ``bands/kb=<K>/`` and ``vecs/kb=<K>/``), inheriting the
    append-only, executor-side transport and crash contract of
    ``seen_near_filter_s3``."""
    n = target.num_buckets
    _ensure_near_meta_s3(
        target, _embedding_params(n_planes, bands, seed))
    dim = _batch_dim(df, vec_col)
    if dim is not None:
        _ensure_dim_s3(target, dim)

    def read_sub(spark, sub, buckets):
        return _s3_read_sub(target, spark, sub, buckets)

    def append_sub(frame, sub, touched):
        return _s3_append_sub(frame, target, touched, sub=sub)

    return _embedding_filter_core(
        df, n, read_sub, append_sub,
        label=f"s3://{target.bucket}/{target.prefix}",
        vec_col=vec_col, id_col=id_col, threshold=threshold,
        n_planes=n_planes, bands=bands, seed=seed, persist=persist)


def _compact_root(spark, root: str, distinct_cols: list[str],
                  n: int) -> None:
    """Rewrite every existing bucket dir under ``root`` to its distinct
    rows in one file each, via the staged-rename swap (old dir parked
    as ``_udc_old_<b>`` beside the live dir; ``_sweep_crash_leftovers``
    repairs a crash between the two renames on the next open).

    Job shape: ONE distributed read+distinct+partitioned-write over
    all buckets (partition discovery supplies the bucket column, and
    the bucket is functionally determined by the row content, so the
    global distinct equals per-bucket distinct) — not a Spark job per
    bucket, which matters now that ``compactEveryBatches`` can put
    compaction on the streaming ingest path. The swaps stay per-bucket
    and atomic; a crash between swaps leaves the remaining buckets
    multi-file (harmless, caught by the next compaction)."""
    buckets = [b for b in range(n)
               if os.path.isdir(os.path.join(root, f"{_KB}={b}"))]
    if not buckets:
        return
    nonce = uuid.uuid4().hex[:8]
    staged = os.path.join(root, f"{_SEEN_STAGED_PREFIX}{nonce}")
    # explicit bucket dirs under a basePath, not a bare-root read
    # (ADVICE r15): a root holding both exact-store udc_kb= dirs AND
    # near/embedding sub-roots (bands/sigs/vecs — reachable because
    # seen_filter and seen_near_filter accept the same stateDir) makes
    # whole-root partition discovery fail with 'Conflicting directory
    # structures'; listing the bucket dirs keeps the udc_kb partition
    # column while ignoring foreign sub-trees.
    bucket_dirs = [os.path.join(root, f"{_KB}={b}") for b in buckets]
    (spark.read.option("basePath", root).parquet(*bucket_dirs)
     .select(*distinct_cols, _KB).distinct()
     .repartition(len(buckets), F.col(_KB))
     .write.mode("overwrite").partitionBy(_KB).parquet(staged))
    for b in buckets:
        staged_dir = os.path.join(staged, f"{_KB}={b}")
        live_dir = os.path.join(root, f"{_KB}={b}")
        if not os.path.isdir(staged_dir):
            continue
        old = os.path.join(root, f"_udc_old_{b}")
        os.rename(live_dir, old)
        os.rename(staged_dir, live_dir)
        shutil.rmtree(old, ignore_errors=True)
        # drop the writer metadata so only key files remain
        for name in os.listdir(live_dir):
            if not name.endswith(".parquet"):
                os.remove(os.path.join(live_dir, name))
    shutil.rmtree(staged, ignore_errors=True)


def compact_seen_store(spark, state_dir: str) -> None:
    """Offline maintenance for EITHER store kind: rewrite each bucket
    to distinct rows in one file. Every run appends one file per
    touched bucket (and replayed commits append duplicates) — harmless
    for correctness, but without compaction the per-touched-bucket
    read cost grows linearly with RUN COUNT, which is what breaks at
    thousands of incremental runs; compaction restores it to
    O(distinct state). The exact store compacts its root buckets to
    distinct keys; a near store compacts ``bands/`` to distinct
    ``(band_idx, band_hash, doc_key)`` and ``sigs/`` to one signature
    row per ``doc_key`` (duplicates are byte-identical by construction
    — ``doc_key`` is the content hash the signature derives from, and
    the parameters are pinned by ``_udc_near_meta``). Uses the state
    sinks' staged-rename swap per bucket.

    Exclusion is carried BY THE STORE (``store_lease``, r16): this
    acquires the store's exclusive maintenance lease and refuses while
    any writer commit is in flight — across configs, managers and
    processes, which one manager's config-name ``maintenance_window``
    cannot see. Raises ``StoreLeaseHeld`` on conflict."""
    from universal_data_connector_spark.store_lease import (
        posix_maintenance_lease,
    )

    with posix_maintenance_lease(state_dir, op="compact"):
        # meta check AND crash-leftover sweep run INSIDE the lease:
        # the sweep's _udc_old_ repair must never race another
        # compactor's swap, and no writer may slip between sweep and
        # swap
        n = _ensure_seen_meta(state_dir, 32, in_maintenance=True)
        _compact_root(spark, state_dir, [_KEY], n)
        bands_root = os.path.join(state_dir, "bands")
        if os.path.isdir(bands_root):
            _compact_root(spark, bands_root,
                          ["band_idx", "band_hash", "doc_key"], n)
        sigs_root = os.path.join(state_dir, "sigs")
        if os.path.isdir(sigs_root):
            _compact_root(spark, sigs_root, ["doc_key", "sig"], n)
        vecs_root = os.path.join(state_dir, "vecs")
        if os.path.isdir(vecs_root):
            _compact_root(spark, vecs_root, ["doc_key", "vec"], n)


def compact_seen_store_s3(spark, target) -> int:
    """Offline maintenance for the object-store seen stores (exact
    root plus, when present, the near store's ``bands``/``sigs``
    sub-prefixes): rewrite each bucket's listed objects to ONE
    distinct-rows object, then delete exactly the listed objects.

    Unlike the POSIX path there is no swap — safety comes from the
    append-only read semantics instead: a crash after the compact
    upload leaves duplicates (harmless, the reads are
    distinct/anti-join idempotent), a crash mid-delete likewise, and
    a commit racing the compactor is never lost because only objects
    present in the compactor's OWN listing are deleted (a concurrent
    append lands under a fresh nonce the listing didn't see). Even
    two concurrent compactors merely leave both compact objects
    behind — duplicates again, cleaned by the next run. Returns the
    number of superseded objects deleted; do still treat this as
    single-maintenance-job tooling, like the POSIX twin.

    Transport: both directions run executor-side (``read_objects`` /
    ``write_objects``) — at a 100 TB corpus the accumulated history is
    exactly the thing that must not funnel through one machine, and
    compaction touches ALL of it. Job shape: ONE distributed
    read+distinct+write per sub-store covering every eligible bucket
    (the bucket column rides along and is functionally determined by
    the row content, so ``distinct`` over rows+bucket equals per-bucket
    distinct), instead of a pair of Spark jobs per bucket — this
    matters now that ``compactEveryBatches`` puts compaction inside
    the streaming loop. Deletes stay per-bucket and listing-scoped.

    Exclusion is carried BY THE STORE (``store_lease``, r16): the
    exclusive maintenance lease (CAS-created ``_udc_lease`` object)
    refuses while any writer commit holds a mark — across configs,
    managers and processes. Raises ``StoreLeaseHeld`` on conflict."""
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
    )
    from universal_data_connector_spark.streaming.object_state import (
        key_format,
        read_objects,
        write_objects,
    )

    deleted = 0
    with s3_maintenance_lease(target, op="compact"):
        for sub in ("", "bands", "sigs", "vecs"):
            listed = {}
            for b in range(target.num_buckets):
                under = f"{sub}/kb={b}" if sub else f"kb={b}"
                ks = _seen_objects(target, under)
                if len(ks) >= 2:
                    listed[b] = ks
            if not listed:
                continue
            keyed_objects = [(k, b)
                             for b, ks in listed.items() for k in ks]
            distinct = (read_objects(spark, target, keyed_objects,
                                     f"{_SUB_SCHEMAS[sub]}, {_KB} int")
                        .distinct())
            parts = ([sub] if sub else []) + [
                "kb={b}", "seen-compact-{nonce}-{i}.parquet"]
            # one task per touched bucket -> one rewrite object per
            # bucket (plus rollovers past the buffer cap)
            write_objects(distinct, target, sorted(listed),
                          key_format(target, *parts))
            for ks in listed.values():
                target.delete_keys(ks)
                deleted += len(ks)
    log.info("dedup_state[s3]: compacted %d superseded object(s) "
             "under %s/%s", deleted, target.bucket, target.prefix)
    return deleted
