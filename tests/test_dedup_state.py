"""Cross-run exact dedup against the persistent seen-key store
(``operators/dedup_state.py`` + the ``dedup_state`` YAML
transformation), including the crash-ordering contract the engine
enforces in ``finalize_batch_sink``: seen keys commit strictly after
the sink and strictly before archive/manifest."""

from __future__ import annotations

import os

import pytest

from universal_data_connector_spark.operators.dedup_state import (
    compact_seen_store,
    seen_filter,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


def test_smoke_seen_filter_commit_then_recover(spark, tmp_path):
    """Default-tier smoke: a committed batch filters its repeats, a
    batch whose sink failed (commit never called) leaves the store
    untouched, and its rerun ships the same survivors and commits."""
    store = str(tmp_path / "seen")
    b1, c1 = seen_filter(_docs(spark, [(1, "aa"), (2, "bb")]),
                         store, ["text"], num_buckets=2)
    assert _ids(b1) == [1, 2]
    c1()
    b2, _crashed = seen_filter(_docs(spark, [(3, "aa"), (4, "cc")]),
                               store, ["text"], num_buckets=2)
    assert _ids(b2) == [4]
    b2r, c2r = seen_filter(_docs(spark, [(3, "aa"), (4, "cc")]),
                           store, ["text"], num_buckets=2)
    assert _ids(b2r) == [4]
    c2r()
    b3, _ = seen_filter(_docs(spark, [(5, "cc")]), store, ["text"],
                        num_buckets=2)
    assert _ids(b3) == []


def test_seen_filter_across_batches(spark, tmp_path):
    store = str(tmp_path / "seen")
    b1, c1 = seen_filter(_docs(spark, [(1, "aa"), (2, "bb")]),
                         store, ["text"], num_buckets=4)
    assert _ids(b1) == [1, 2]
    c1()
    # batch 2: one repeat (different doc_id, same text), one new
    b2, c2 = seen_filter(_docs(spark, [(3, "aa"), (4, "cc")]),
                         store, ["text"], num_buckets=4)
    assert _ids(b2) == [4]
    c2()
    # batch 3: everything seen
    b3, _ = seen_filter(_docs(spark, [(5, "aa"), (6, "bb"), (7, "cc")]),
                        store, ["text"], num_buckets=4)
    assert _ids(b3) == []


def test_uncommitted_batch_leaves_store_untouched(spark, tmp_path):
    """A failed sink never commits: the rerun must ship the same
    survivors (no data loss from a half-run)."""
    store = str(tmp_path / "seen")
    b1, c1 = seen_filter(_docs(spark, [(1, "aa")]), store, ["text"],
                         num_buckets=4)
    assert _ids(b1) == [1]
    # crash before commit — c1 never called
    b1r, c1r = seen_filter(_docs(spark, [(1, "aa")]), store, ["text"],
                           num_buckets=4)
    assert _ids(b1r) == [1]
    c1r()
    b2, _ = seen_filter(_docs(spark, [(2, "aa")]), store, ["text"],
                        num_buckets=4)
    assert _ids(b2) == []


def test_within_batch_duplicates_resolve_deterministically(
        spark, tmp_path):
    store = str(tmp_path / "seen")
    batch = _docs(spark, [(9, "xx"), (3, "xx"), (6, "xx"), (1, "yy")])
    first, _ = seen_filter(batch, store, ["text"], num_buckets=4)
    winner = {r.text: r.doc_id for r in first.collect()}
    for _ in range(3):
        again, _ = seen_filter(batch, store, ["text"], num_buckets=4)
        assert {r.text: r.doc_id for r in again.collect()} == winner


def test_replayed_commit_is_harmless_and_compactable(spark, tmp_path):
    """Duplicate seen rows from a replayed commit change nothing about
    filtering; compact_seen_store collapses them to distinct keys."""
    store = str(tmp_path / "seen")
    b1, c1 = seen_filter(_docs(spark, [(1, "aa"), (2, "bb")]),
                         store, ["text"], num_buckets=4)
    _ids(b1)
    c1()
    c1()  # replay after a crash between commit and bookkeeping
    b2, _ = seen_filter(_docs(spark, [(3, "aa"), (4, "new")]),
                        store, ["text"], num_buckets=4)
    assert _ids(b2) == [4]
    compact_seen_store(spark, store)
    # one file per live bucket, distinct keys, filtering unchanged
    for name in os.listdir(store):
        if name.startswith("udc_kb="):
            parts = [f for f in os.listdir(os.path.join(store, name))
                     if f.endswith(".parquet")]
            assert len(parts) == 1
    b3, _ = seen_filter(_docs(spark, [(5, "aa"), (6, "bb"), (7, "zz")]),
                        store, ["text"], num_buckets=4)
    assert _ids(b3) == [7]


def test_compact_crash_between_renames_recovers(spark, tmp_path):
    """compact's two-rename swap interrupted between live->old and
    staged->live: the next seen_filter restores the old copy — keys
    must never vanish (vanished keys = downstream duplicates)."""
    store = str(tmp_path / "seen")
    b1, c1 = seen_filter(_docs(spark, [(1, "aa")]), store, ["text"],
                         num_buckets=4)
    _ids(b1)
    c1()
    live = next(os.path.join(store, n) for n in os.listdir(store)
                if n.startswith("udc_kb="))
    bucket = os.path.basename(live).split("=")[1]
    os.rename(live, os.path.join(store, f"_udc_old_{bucket}"))
    # recovery runs on the next store open
    b2, _ = seen_filter(_docs(spark, [(2, "aa")]), store, ["text"],
                        num_buckets=4)
    assert _ids(b2) == []


def test_dedup_state_yaml_pipeline_two_runs(spark, tmp_path):
    """Engine e2e: content-level dedup across two batch runs WITHOUT a
    manifest — the second run re-reads the first file, and its content
    is dropped because the seen store (committed post-sink by
    finalize_batch_sink step 0) already has the key."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "dedup-ingest",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": str(tmp_path / "seen"),
                            "keys": "content", "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text("hello corpus")
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt"]

    # run 2: a.txt unchanged (re-read, seen -> dropped), b.txt is a
    # byte-duplicate of a.txt under a new name (dropped — THE case a
    # file manifest cannot catch), c.txt is new content (ships)
    (inp / "b.txt").write_text("hello corpus")
    (inp / "c.txt").write_text("fresh content")
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt", "c.txt"]
    # (trailing newline = the file sink's reference-faithful text write)
    assert (out / "c.txt").read_text() == "fresh content\n"


def test_dedup_state_commit_precedes_manifest(spark, tmp_path,
                                              monkeypatch):
    """Crash between the seen-store commit (finalize step 0) and
    manifest_record (step 2): the rerun re-reads the same file, the
    survivors filter as seen, and the store holds exactly one copy of
    the keys — the ordering that prevents future duplicates."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run
    from universal_data_connector_spark.sources import files as files_mod

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "dedup-ingest-manifest",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt",
                                  "manifestDir": str(tmp_path / "m")}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": str(tmp_path / "seen"),
                            "keys": "content", "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text("only once")

    def crashing_record(*a, **kw):
        raise RuntimeError("injected crash after dedup commit")

    monkeypatch.setattr(files_mod, "manifest_record", crashing_record)
    with pytest.raises(RuntimeError, match="after dedup commit"):
        run(spark, cfg)
    monkeypatch.undo()
    # sink succeeded before the crash; the rerun re-reads a.txt
    # (manifest never recorded) but ships nothing new
    assert sorted(os.listdir(out)) == ["a.txt"]
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt"]
    # and a later duplicate under a new name still dedups
    (inp / "dup.txt").write_text("only once")
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt"]


def test_dedup_state_streaming_tags_frame_and_validates(spark,
                                                        tmp_path):
    """A streaming frame is TAGGED (the filter runs per micro-batch in
    start_streaming_sink), with config typos still failing at build."""
    from universal_data_connector_spark.engine import (
        _dedup_state_transform,
    )

    stream = (spark.readStream.schema("doc_id bigint, text string")
              .json(str(tmp_path)))
    out = _dedup_state_transform(
        stream, {"stateDir": str(tmp_path / "s"), "keys": "text"})
    assert out._udc_stream_dedup_state["keys"] == "text"
    with pytest.raises(ValueError, match="not in"):
        _dedup_state_transform(
            stream, {"stateDir": str(tmp_path / "s"), "keys": "nope"})
    with pytest.raises(ValueError, match="stateDir.*bucketName"):
        _dedup_state_transform(stream, {"keys": "text"})


def test_dedup_state_streaming_must_be_last(spark, tmp_path):
    from universal_data_connector_spark.config import (
        TransformationConfig,
    )
    from universal_data_connector_spark.engine import (
        apply_transformations,
    )

    stream = (spark.readStream.schema("doc_id bigint, text string")
              .json(str(tmp_path)))
    with pytest.raises(ValueError, match="LAST transformation"):
        apply_transformations(stream, [
            TransformationConfig("dedup_state",
                                 {"stateDir": str(tmp_path / "s"),
                                  "keys": "text"}),
            TransformationConfig("project", {"columns": ["doc_id"]}),
        ])


def test_dedup_state_streaming_e2e_content_dedup(spark, tmp_path):
    """Streaming engine e2e: per-micro-batch seen filter + batch sink
    + commit inside foreachBatch. A byte-duplicate under a NEW
    filename is dropped mid-stream AND across a query restart — the
    content-level guarantee the checkpointed file source alone cannot
    give."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "stream-dedup",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": str(tmp_path / "seen"),
                            "keys": "content", "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text("stream once")
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.txt"]
        (inp / "b.txt").write_text("stream once")        # content dup
        (inp / "c.txt").write_text("fresh stream content")
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.txt", "c.txt"]
    finally:
        q.stop()
    # restart: same config -> same checkpoint (derived from stateDir);
    # the store survives the query, so content dedup does too
    (inp / "d.txt").write_text("fresh stream content")   # dup of c
    (inp / "e.txt").write_text("post restart novel")
    q2 = run(spark, cfg, streaming=True)
    try:
        q2.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.txt", "c.txt", "e.txt"]
    finally:
        q2.stop()


def test_dedup_state_missing_key_column_raises(spark, tmp_path):
    from universal_data_connector_spark.engine import (
        _dedup_state_transform,
    )

    with pytest.raises(ValueError, match="not in"):
        _dedup_state_transform(
            _docs(spark, [(1, "x")]),
            {"stateDir": str(tmp_path / "s"), "keys": "nope"})


# ---------------------------------------------------------------------------
# cross-run NEAR dedup (MinHash against history)
# ---------------------------------------------------------------------------

_BASE = ("the quick brown fox jumps over the lazy dog while the "
         "stream processes tokens and windows merge shuffle state "
         "into compact aggregate partitions every single hour")


def _near_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_seen_near_filter_across_batches(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    store = str(tmp_path / "near")
    distinct = ("completely different content about database engines "
                "and the catalyst optimizer planning broadcast joins "
                "for dimension tables at scale with adaptive execution")
    b1, c1 = seen_near_filter(
        _near_docs(spark, [(1, _BASE), (2, distinct)]), store,
        num_buckets=4)
    assert _ids(b1) == [1, 2]
    c1()

    # batch 2: a one-word-appended near-dup of doc 1, an exact dup of
    # doc 2, and a fresh doc
    fresh = ("entirely novel words describing sensor calibration and "
             "oceanographic measurement campaigns across seasonal "
             "temperature gradients in the northern fjord systems")
    b2, c2 = seen_near_filter(
        _near_docs(spark, [(3, _BASE + " appended"),
                           (4, distinct),
                           (5, fresh)]), store, num_buckets=4)
    assert _ids(b2) == [5]
    c2()

    # batch 3: near-dup of the batch-2 survivor is now caught too
    b3, _ = seen_near_filter(
        _near_docs(spark, [(6, fresh + " suffix")]), store,
        num_buckets=4)
    assert _ids(b3) == []


def test_seen_near_filter_threshold_respected(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    store = str(tmp_path / "near")
    b1, c1 = seen_near_filter(_near_docs(spark, [(1, _BASE)]), store,
                              num_buckets=4)
    _ids(b1)
    c1()
    # a mostly-different doc sharing a few words: must NOT flag at 0.8
    loose = ("the quick brown fox appears briefly but everything else "
             "here concerns spacecraft telemetry downlink budgets and "
             "antenna gain patterns across deep space network passes")
    b2, _ = seen_near_filter(_near_docs(spark, [(7, loose)]), store,
                             num_buckets=4)
    assert _ids(b2) == [7]


def test_seen_near_filter_uncommitted_rerun_ships(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    store = str(tmp_path / "near")
    b1, c1 = seen_near_filter(_near_docs(spark, [(1, _BASE)]), store,
                              num_buckets=4)
    assert _ids(b1) == [1]
    # crash before commit: rerun ships the same doc (no loss), then
    # a replayed commit after a crash between commit and bookkeeping
    # is harmless (append-only idempotence)
    b1r, c1r = seen_near_filter(_near_docs(spark, [(1, _BASE)]), store,
                                num_buckets=4)
    assert _ids(b1r) == [1]
    c1r()
    c1r()
    b2, _ = seen_near_filter(
        _near_docs(spark, [(2, _BASE + " tail")]), store, num_buckets=4)
    assert _ids(b2) == []


def test_seen_near_filter_deterministic(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    s1, s2 = str(tmp_path / "n1"), str(tmp_path / "n2")
    batch = _near_docs(spark, [(i, f"{_BASE} variant {i}")
                               for i in range(6)])
    out1, c1 = seen_near_filter(batch, s1, num_buckets=4)
    r1 = _ids(out1)
    c1()
    out2, c2 = seen_near_filter(batch, s2, num_buckets=4)
    assert _ids(out2) == r1
    c2()
    # identical second batches against both stores agree too
    nxt = _near_docs(spark, [(10, _BASE + " variant 3 extra")])
    a, _ = seen_near_filter(nxt, s1, num_buckets=4)
    b, _ = seen_near_filter(nxt, s2, num_buckets=4)
    assert _ids(a) == _ids(b)


def test_dedup_state_near_yaml_two_runs(spark, tmp_path):
    """Engine e2e, mode 'near': a one-sentence-tweaked rewrite of an
    already-shipped document is dropped on the second run."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "near-dedup-ingest",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"mode": "near",
                            "stateDir": str(tmp_path / "near"),
                            "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text(_BASE)
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt"]

    (inp / "b.txt").write_text(_BASE + " with a tiny appended tail")
    (inp / "c.txt").write_text(
        "unrelated prose describing harbor logistics and container "
        "crane scheduling windows under variable tide conditions and "
        "berth allocation constraints for feeder vessel rotations")
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt", "c.txt"]


def test_dedup_state_near_requires_some_store(spark, tmp_path):
    from universal_data_connector_spark.engine import (
        _dedup_state_transform,
    )

    with pytest.raises(ValueError, match="stateDir.*bucketName"):
        _dedup_state_transform(
            _docs(spark, [(1, "x")]).withColumnsRenamed(
                {"doc_id": "source_file", "text": "content"}),
            {"mode": "near"})


def test_sig_band_df_bands_match_lsh_pipeline(spark):
    """The cross-run store's band folds must equal the in-batch LSH
    pipeline's (shingle_band_df) for the same documents — the property
    that lets a corpus deduped in-batch and a corpus deduped
    incrementally agree on what is near."""
    from universal_data_connector_spark.operators.dedup import (
        shingle_band_df,
    )
    from universal_data_connector_spark.operators.dedup_state import (
        _sig_band_df,
    )

    docs = _near_docs(spark, [(i, f"{_BASE} variant {i % 3}")
                              for i in range(8)] + [(99, "")])
    a = {r.doc_id: list(r["__bands"])
         for r in _sig_band_df(docs, "text", "doc_id",
                               128, 32, 5).collect()}
    b = {r.doc_id: list(r["__bands"])
         for r in shingle_band_df(docs, "text", "doc_id",
                                  num_hashes=128, bands=32,
                                  shingle_n=5).collect()}
    assert a == b


@pytest.mark.parametrize("seed", [0, 1])
def test_seen_filter_crash_fuzz_against_model(spark, tmp_path, seed):
    """Random batches with random commit outcomes (committed, crashed
    before commit, committed twice) differentially checked against a
    Python set model: shipped output across the whole history must
    contain every distinct text exactly once."""
    import random

    rng = random.Random(seed)
    store = str(tmp_path / "seen")
    vocab = [f"text-{i}" for i in range(12)]
    model_seen: set[str] = set()
    shipped: list[str] = []
    next_id = 0

    for _ in range(8):
        texts = [vocab[rng.randrange(len(vocab))]
                 for _ in range(rng.randint(0, 6))]
        rows = []
        for t in texts:
            rows.append((next_id, t))
            next_id += 1
        batch = (_docs(spark, rows) if rows
                 else _docs(spark, []).limit(0))
        survivors, commit = seen_filter(batch, store, ["text"],
                                        num_buckets=4)
        got = sorted(r.text for r in survivors.collect())
        expect = sorted(set(texts) - model_seen)
        assert got == expect
        outcome = rng.random()
        if outcome < 0.25:
            continue            # sink failed: no commit, no model update
        commit()                # sink succeeded
        if outcome > 0.85:
            commit()            # replayed commit after a crash
        shipped += got
        model_seen |= set(got)

    assert sorted(shipped) == sorted(set(shipped))
    assert set(shipped) == model_seen


# ---------------------------------------------------------------------------
# round-14 continuation: near-store parameter guard + compaction
# ---------------------------------------------------------------------------

def test_near_store_param_mismatch_raises(spark, tmp_path):
    """A reopen under different signature-defining parameters must
    fail loudly: stored sigs/band folds from (128, 32, 5) are silently
    WRONG to compare against a 64-hash run's (wrong-length zip,
    disjoint band folds) — the guard turns a wrong-answer hazard into
    a ValueError."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    store = str(tmp_path / "near")
    b1, c1 = seen_near_filter(_near_docs(spark, [(1, _BASE)]), store,
                              num_buckets=4)
    _ids(b1)
    c1()
    with pytest.raises(ValueError, match="not comparable"):
        seen_near_filter(_near_docs(spark, [(2, _BASE)]), store,
                         num_hashes=64, bands=16, num_buckets=4)
    # the store's own parameters still open fine
    b2, _ = seen_near_filter(_near_docs(spark, [(2, _BASE)]), store,
                             num_buckets=4)
    assert _ids(b2) == []


def test_compact_near_store_preserves_filtering(spark, tmp_path):
    """Compacting a near store (bands + sigs sub-stores, with
    replayed-commit duplicates present) must not change any filtering
    decision, and must collapse each bucket to one file — the
    property that keeps per-touched-bucket read cost O(distinct
    state) instead of O(run count)."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    store = str(tmp_path / "near")
    twin = str(tmp_path / "near_twin")
    fresh = ("unrelated prose on tidal harmonics and barometric "
             "pressure logging across coastal observation stations "
             "maintained by volunteer measurement networks")
    batches = [
        _near_docs(spark, [(1, _BASE), (2, fresh)]),
        _near_docs(spark, [(3, fresh + " epilogue"),
                           (4, _BASE.replace("fox", "wolf"))]),
    ]
    for batch in batches:
        for s in (store, twin):
            out, commit = seen_near_filter(batch, s, num_buckets=4)
            out.collect()
            commit()
            commit()  # replayed commit: duplicate appends
    compact_seen_store(spark, store)

    for sub in ("bands", "sigs"):
        root = os.path.join(store, sub)
        assert os.path.isdir(root)
        for name in os.listdir(root):
            if name.startswith("udc_kb="):
                files = [f for f in
                         os.listdir(os.path.join(root, name))
                         if f.endswith(".parquet")]
                assert len(files) == 1, (sub, name, files)

    probe = _near_docs(spark, [(10, _BASE + " coda"),
                               (11, fresh),
                               (12, "entirely novel archival text on "
                                    "glacier mass balance surveys and "
                                    "firn density core sampling")])
    got, _ = seen_near_filter(probe, store, num_buckets=4)
    want, _ = seen_near_filter(probe, twin, num_buckets=4)
    assert _ids(got) == _ids(want) == [12]


def test_compact_near_crash_between_renames_recovers(spark, tmp_path):
    """compact's two-rename swap interrupted under a SUB-root (bands/):
    the next store open repairs it — band rows must never vanish
    (vanished bands = missed near-dup candidates downstream)."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    store = str(tmp_path / "near")
    b1, c1 = seen_near_filter(_near_docs(spark, [(1, _BASE)]), store,
                              num_buckets=4)
    _ids(b1)
    c1()
    bands_root = os.path.join(store, "bands")
    live = next(os.path.join(bands_root, n)
                for n in os.listdir(bands_root)
                if n.startswith("udc_kb="))
    bucket = os.path.basename(live).split("=")[1]
    os.rename(live, os.path.join(bands_root, f"_udc_old_{bucket}"))
    b2, _ = seen_near_filter(
        _near_docs(spark, [(2, _BASE + " extra")]), store,
        num_buckets=4)
    assert _ids(b2) == []
    assert os.path.isdir(live)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_seen_near_filter_crash_fuzz_against_model(spark, tmp_path,
                                                   seed, monkeypatch):
    """Model-based crash fuzz for the NEAR store (the exact store's
    twin, test_seen_filter_crash_fuzz_against_model): random batches
    drawn from disjoint-vocabulary base texts (cross-base shingle
    Jaccard exactly 0, copy similarity exactly 1 — no threshold
    borderline, so a Python set IS the oracle), random commit outcomes
    (committed / sink-failed / committed twice / CRASHED BETWEEN the
    band and sig appends), and occasional mid-history compaction.
    Invariant: a doc ships iff no committed run has shipped its base
    text before; a between-appends crash counts as not-committed (band
    rows without sigs cannot flag — the rerun-shaped convergence
    argument in _near_filter_core.commit)."""
    import random

    from universal_data_connector_spark.operators import (
        dedup_state as ds,
    )

    rng = random.Random(seed)
    store = str(tmp_path / "near")
    bases = [" ".join(f"b{i}tok{j}" for j in range(16))
             for i in range(6)]
    committed: set[int] = set()
    next_id = 0
    real_append = ds._append_buckets

    def crash_on_sigs(frame, root, touched):
        if root.endswith("sigs"):
            raise RuntimeError("fuzz crash between appends")
        return real_append(frame, root, touched)

    for _ in range(8):
        picks = [rng.randrange(len(bases))
                 for _ in range(rng.randint(0, 5))]
        rows = [(next_id + k, bases[p]) for k, p in enumerate(picks)]
        batch = (_near_docs(spark, rows) if rows
                 else _near_docs(spark, []).limit(0))
        survivors, commit = ds.seen_near_filter(batch, store,
                                                num_buckets=4)
        got = _ids(survivors)
        expect = sorted(i for (i, _), p in zip(rows, picks)
                        if p not in committed)
        assert got == expect
        surviving_bases = {p for (i, _), p in zip(rows, picks)
                           if i in got}
        next_id += len(picks)

        outcome = rng.random()
        if outcome < 0.20:
            continue                      # sink failed: no commit
        if outcome < 0.35:
            if not got:
                continue                  # nothing to append anyway
            monkeypatch.setattr(ds, "_append_buckets", crash_on_sigs)
            with pytest.raises(RuntimeError, match="between appends"):
                commit()
            monkeypatch.setattr(ds, "_append_buckets", real_append)
            continue                      # bands-only: cannot flag
        commit()
        if outcome > 0.85:
            commit()                      # replayed commit
        committed |= surviving_bases
        if outcome > 0.92:
            ds.compact_seen_store(spark, store)


# ---------------------------------------------------------------------------
# embedding store (cross-run vector near-dedup)
# ---------------------------------------------------------------------------

def _vec_docs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def _vids(df):
    return sorted(r.vec_id for r in df.collect())


def _onehot(i, dim=8, scale=1.0):
    v = [0.0] * dim
    v[i] = scale
    return v


def test_seen_embedding_filter_across_batches(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    store = str(tmp_path / "emb")
    b1, c1 = seen_embedding_filter(
        _vec_docs(spark, [(1, _onehot(0)), (2, _onehot(1))]),
        store, num_buckets=4)
    assert _vids(b1) == [1, 2]
    c1()
    # scaled copy of e0 (cosine exactly 1), a perturbed e1
    # (cosine ~0.957 > 0.95), an orthogonal fresh vector
    near_e1 = _onehot(1)
    near_e1[2] = 0.3
    b2, c2 = seen_embedding_filter(
        _vec_docs(spark, [(3, _onehot(0, scale=2.0)), (4, near_e1),
                          (5, _onehot(2))]),
        store, num_buckets=4)
    assert _vids(b2) == [5]
    c2()
    # a 45-degree rotation of e2 (cosine ~0.707 < 0.95) still ships
    diag = _onehot(2)
    diag[3] = 1.0
    b3, _ = seen_embedding_filter(_vec_docs(spark, [(6, diag)]),
                                  store, num_buckets=4)
    assert _vids(b3) == [6]


def test_seen_embedding_uncommitted_run_leaves_store_unchanged(
        spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    store = str(tmp_path / "emb")
    b1, _ = seen_embedding_filter(
        _vec_docs(spark, [(1, _onehot(0))]), store, num_buckets=4)
    assert _vids(b1) == [1]          # sink failed: commit never ran
    b2, _ = seen_embedding_filter(
        _vec_docs(spark, [(2, _onehot(0))]), store, num_buckets=4)
    assert _vids(b2) == [2]


def test_seen_embedding_dim_mismatch_raises(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    store = str(tmp_path / "emb")
    b1, c1 = seen_embedding_filter(
        _vec_docs(spark, [(1, _onehot(0, dim=8))]), store,
        num_buckets=4)
    _vids(b1)
    c1()
    with pytest.raises(ValueError, match="8-wide"):
        seen_embedding_filter(
            _vec_docs(spark, [(2, _onehot(0, dim=4))]), store,
            num_buckets=4)
    # an EMPTY batch carries no width and must open fine
    empty, c = seen_embedding_filter(
        _vec_docs(spark, []).limit(0), store, num_buckets=4)
    assert _vids(empty) == []
    c()


def test_seen_embedding_param_and_kind_mismatch_raise(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
        seen_near_filter,
    )

    store = str(tmp_path / "emb")
    b1, c1 = seen_embedding_filter(
        _vec_docs(spark, [(1, _onehot(0))]), store, num_buckets=4)
    _vids(b1)
    c1()
    with pytest.raises(ValueError, match="not comparable"):
        seen_embedding_filter(_vec_docs(spark, [(2, _onehot(1))]),
                              store, n_planes=64, bands=8,
                              num_buckets=4)
    # a MinHash text store is not an embedding store and vice versa
    with pytest.raises(ValueError, match="not comparable"):
        seen_near_filter(_near_docs(spark, [(3, _BASE)]), store,
                         num_buckets=4)


def test_seen_embedding_zero_vector_always_ships(spark, tmp_path):
    """Zero-norm vectors have undefined cosine (NULL) and must never
    be dropped — the dedup_embedding_cosine convention."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    store = str(tmp_path / "emb")
    zero = [0.0] * 8
    b1, c1 = seen_embedding_filter(
        _vec_docs(spark, [(1, zero)]), store, num_buckets=4)
    assert _vids(b1) == [1]
    c1()
    b2, _ = seen_embedding_filter(
        _vec_docs(spark, [(2, zero)]), store, num_buckets=4)
    assert _vids(b2) == [2]


@pytest.mark.parametrize("seed", [0, 1])
def test_seen_embedding_crash_fuzz_against_model(spark, tmp_path,
                                                 seed, monkeypatch):
    """Embedding twin of the near-store crash fuzz: batches drawn from
    orthogonal one-hot vectors at random positive scales (cross-base
    cosine exactly 0, same-base cosine exactly 1 — a set over base
    indices is an exact oracle), with random commit outcomes including
    a crash between the band and vec appends, and mid-history
    compaction."""
    import random

    from universal_data_connector_spark.operators import (
        dedup_state as ds,
    )

    rng = random.Random(seed)
    store = str(tmp_path / "emb")
    committed: set[int] = set()
    next_id = 0
    real_append = ds._append_buckets

    def crash_on_vecs(frame, root, touched):
        if root.endswith("vecs"):
            raise RuntimeError("fuzz crash between appends")
        return real_append(frame, root, touched)

    for _ in range(7):
        picks = [rng.randrange(6) for _ in range(rng.randint(0, 4))]
        rows = [(next_id + k, _onehot(p, scale=float(rng.randint(1, 4))))
                for k, p in enumerate(picks)]
        batch = (_vec_docs(spark, rows) if rows
                 else _vec_docs(spark, []).limit(0))
        survivors, commit = ds.seen_embedding_filter(batch, store,
                                                     num_buckets=4)
        got = _vids(survivors)
        expect = sorted(i for (i, _), p in zip(rows, picks)
                        if p not in committed)
        assert got == expect
        surviving_bases = {p for (i, _), p in zip(rows, picks)
                           if i in got}
        next_id += len(picks)

        outcome = rng.random()
        if outcome < 0.20:
            continue
        if outcome < 0.35:
            if not got:
                continue
            monkeypatch.setattr(ds, "_append_buckets", crash_on_vecs)
            with pytest.raises(RuntimeError, match="between appends"):
                commit()
            monkeypatch.setattr(ds, "_append_buckets", real_append)
            continue
        commit()
        if outcome > 0.85:
            commit()
        committed |= surviving_bases
        if outcome > 0.92:
            ds.compact_seen_store(spark, store)


def test_dedup_state_embedding_yaml_two_runs(spark, tmp_path):
    """Engine e2e, mode embedding: JSON-array files parsed to a vector
    column by the sql transformation; a scaled rewrite of an already-
    shipped embedding is dropped on the second run."""
    import os

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    store = tmp_path / "emb"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "emb-ingest",
        "source": {"type": "file",
                   "properties": {"path": str(inp),
                                  "pattern": "*.json"}},
        "transformations": [
            {"type": "sql",
             "properties": {"query":
                 "SELECT source_file, file_type, content, "
                 "from_json(content, 'array<double>') AS embedding "
                 "FROM _input"}},
            {"type": "dedup_state",
             "properties": {"mode": "embedding",
                            "stateDir": str(store),
                            "idColumn": "source_file"}},
            {"type": "project",
             "properties": {"columns":
                            ["source_file", "file_type", "content"]}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".json"}},
    }]}).pipelines[0]

    (inp / "a.json").write_text("[1.0, 0.0, 0.0, 0.0]")
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.json"]
    (inp / "a.json").unlink()
    (inp / "b.json").write_text("[3.0, 0.0, 0.0, 0.0]")   # scaled copy
    (inp / "c.json").write_text("[0.0, 1.0, 0.0, 0.0]")
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.json", "c.json"]


def test_cli_compact_stores(spark, tmp_path):
    """``--compact-stores`` compacts every dedup_state store the
    config references (each bucket back to one file) without running
    the pipelines, and leaves answers unchanged."""
    import json as _json

    import yaml

    from universal_data_connector_spark import session as session_mod
    from universal_data_connector_spark.cli import main
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )

    store = tmp_path / "seen"
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    pipeline = {
        "name": "compactable",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": str(store),
                            "keys": "content", "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }
    (inp / "a.txt").write_text("compact me")
    run(spark, parse_config({"pipelines": [pipeline]}).pipelines[0])
    # a replayed commit leaves a duplicate append to compact away
    # (key columns must match the pipeline's — the seen key is
    # sha2(to_json(struct(cols))), so the column NAME is part of it)
    def _content(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, content string")

    b, c = seen_filter(_content([(1, "other text")]), str(store),
                       ["content"], num_buckets=4)
    _ids(b)
    c()
    c()

    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump({"pipelines": [pipeline]}))
    # the CLI builds its own session via get_spark; reuse the test one
    orig = session_mod.get_spark
    session_mod.get_spark = lambda *a, **kw: spark
    try:
        import universal_data_connector_spark.cli as cli_mod
        cli_mod_get = cli_mod.get_spark
        cli_mod.get_spark = lambda *a, **kw: spark
        try:
            rc = main(["--config", str(cfg_path), "--compact-stores"])
        finally:
            cli_mod.get_spark = cli_mod_get
    finally:
        session_mod.get_spark = orig
    assert rc == 0
    for name in os.listdir(store):
        if name.startswith("udc_kb="):
            parts = [f for f in os.listdir(store / name)
                     if f.endswith(".parquet")]
            assert len(parts) == 1
    probe, _ = seen_filter(
        _content([(2, "compact me"), (3, "other text"), (4, "fresh")]),
        str(store), ["content"], num_buckets=4)
    assert _ids(probe) == [4]


def test_seen_filter_concurrent_writers_are_at_least_once(
        spark, tmp_path):
    """Two pipelines sharing one store, interleaved (both filter
    before either commits): both ship their copy — cross-PIPELINE
    dedup is at-least-once by design (append-only, no locks), and the
    store converges so a third run dedups against both."""
    store = str(tmp_path / "seen")
    a, ca = seen_filter(_docs(spark, [(1, "shared")]), store, ["text"],
                        num_buckets=4)
    b, cb = seen_filter(_docs(spark, [(2, "shared")]), store, ["text"],
                        num_buckets=4)
    assert _ids(a) == [1]
    assert _ids(b) == [2]          # filtered before A committed
    ca()
    cb()                           # concurrent appends: both land
    c, _ = seen_filter(_docs(spark, [(3, "shared"), (4, "new")]),
                       store, ["text"], num_buckets=4)
    assert _ids(c) == [4]


def test_dedup_state_streaming_near_mode(spark, tmp_path):
    """Mode dispatch under foreachBatch: a near-duplicate REWRITE of
    already-streamed content is dropped in a later micro-batch."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "stream-near",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"mode": "near",
                            "stateDir": str(tmp_path / "near"),
                            "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text(_BASE)
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.txt"]
        (inp / "b.txt").write_text(_BASE + " tweaked")   # near-dup
        (inp / "c.txt").write_text(
            "wholly different material on watermark semantics and "
            "stateful stream processing guarantees in micro-batches")
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.txt", "c.txt"]
    finally:
        q.stop()


@pytest.mark.parametrize("seed", [3, 4])
def test_dedup_state_streaming_restart_fuzz(spark, tmp_path, seed):
    """Kill-and-restart fuzz for the streaming contract: the query is
    STOPPED and re-run between every file drop, with each drop a
    random mix of duplicate and fresh content. Model: every distinct
    content ships exactly once across the whole history — restarts
    replay offsets, the seen store absorbs the replays."""
    import random

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    rng = random.Random(seed)
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "restart-fuzz",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": str(tmp_path / "seen"),
                            "keys": "content", "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    vocab = [f"fuzz content variant {i}" for i in range(8)]
    shipped_first: dict[str, str] = {}   # content -> first filename
    next_id = 0
    for _ in range(6):
        drops = {}
        for _ in range(rng.randint(0, 3)):
            text = vocab[rng.randrange(len(vocab))]
            name = f"f{next_id}.txt"
            next_id += 1
            (inp / name).write_text(text)
            drops[name] = text
        q = run(spark, cfg, streaming=True)   # fresh query every round
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        for name, text in drops.items():
            shipped_first.setdefault(text, name)
        # every distinct content seen so far exists in the output
        # EXACTLY once (the winning filename within a batch is the
        # engine's deterministic pick — assert on contents, not names)
        got = sorted((out / n).read_text().rstrip("\n")
                     for n in os.listdir(out))
        assert got == sorted(shipped_first)


def test_dedup_state_streaming_embedding_mode(spark, tmp_path):
    """Completes the streaming mode matrix: a scaled rewrite of an
    already-streamed embedding is dropped in a later micro-batch."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "stream-emb",
        "source": {"type": "file",
                   "properties": {"path": str(inp),
                                  "pattern": "*.json"}},
        "transformations": [
            {"type": "sql",
             "properties": {"query":
                 "SELECT source_file, file_type, content, "
                 "from_json(content, 'array<double>') AS embedding "
                 "FROM _input"}},
            {"type": "dedup_state",
             "properties": {"mode": "embedding",
                            "stateDir": str(tmp_path / "emb"),
                            "idColumn": "source_file"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out),
                                "extension": ".json"}},
    }]}).pipelines[0]

    (inp / "a.json").write_text("[1.0, 0.0, 0.0, 0.0]")
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.json"]
        (inp / "b.json").write_text("[2.0, 0.0, 0.0, 0.0]")  # scaled
        (inp / "c.json").write_text("[0.0, 0.0, 1.0, 0.0]")
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.json", "c.json"]
    finally:
        q.stop()
