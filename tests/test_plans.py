"""Physical-plan assertions: the 100 TB posture, checked in CI.

Correctness tests prove the operators compute the right answer at small
scale; these prove the *plans* are the ones that survive a 1000-executor
cluster: filters and projections reach the parquet scan, small sides
broadcast instead of shuffling, aggregates combine map-side, per-doc
operators stay shuffle-free, and nothing silently degrades to a
cartesian product. A regression here is invisible at sf0.001 and fatal
at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from universal_data_connector_spark.operators import dedup as od
from universal_data_connector_spark.plans.catalog import QUERIES
from universal_data_connector_spark.tables import load


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    """Filter and projection must reach the parquet scan: at 100 TB this
    is the difference between reading 4 columns of matching row groups
    and reading the whole table."""
    p = plan_str(QUERIES["scan_parquet"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    # 4 projected columns + the filter column — and nothing else
    assert read_schema.count(":") <= 6, f"scan reads too many columns: {read_schema}"
    assert "l_comment" not in read_schema


def test_small_dim_join_broadcasts(spark):
    """nation/region-sized dimensions must broadcast, not shuffle."""
    p = plan_str(QUERIES["join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


@pytest.mark.parametrize("name", ["join_inner_hash", "join_left", "join_semi",
                                  "join_anti"])
def test_equi_joins_never_cartesian(spark, name):
    """Equi-joins must plan as hash/sort-merge joins; a cartesian
    product here means the join condition was lost."""
    p = plan_str(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_agg_combines_map_side(spark):
    """groupBy aggregates must run partial (map-side) then final —
    shuffling raw rows instead of partial states is a 100x regression
    on high-cardinality scans."""
    p = plan_str(QUERIES["agg_hash_sum_avg"](spark, SF_DIR))
    assert "partial_sum" in p or "partial_" in p
    assert p.count("HashAggregate") >= 2


def test_agg_whole_stage_codegen(spark):
    """The scan -> partial-agg pipeline must fuse into whole-stage
    codegen (JVM-side, no per-row interpretation). AQE only finalizes
    the physical plan on execution, so materialize first and assert on
    the executed plan's codegen spans (`*(n)` prefixes)."""
    df = QUERIES["agg_hash_sum_avg"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "*(" in p, f"no WholeStageCodegen span in:\n{p}"


def test_minhash_signatures_shuffle_free(spark):
    """The MinHash signature + band stage (``shingle_band_df``, the one
    signature map, shared with the near-dup store) is a pure map
    (Arrow-batched mapInPandas over the scan): any aggregation before
    signatures means the plan re-shuffles the full corpus text."""
    docs = load(spark, SF_DIR, "documents")
    sig = od.shingle_band_df(docs, num_hashes=16, bands=4, shingle_n=3)
    p = plan_str(sig)
    # spread() repartitions by id for local parallelism; RoundRobin/hash
    # on the skinny (id, text) projection is acceptable — a shuffle of
    # aggregated state (HashAggregate+Exchange) is not.
    assert "HashAggregate" not in p
    assert "MapInPandas" in p


def test_cosine_topk_broadcasts_queries(spark):
    """Brute-force cosine top-k must broadcast the (small) query side
    under the corpus cross join — shuffling the corpus per query batch
    would never survive scale."""
    p = plan_str(QUERIES["sim_search_cosine_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_single_shuffle(spark):
    """Sharded prefix-sum packing = one Exchange (hash on shard) + an
    in-partition sort. A rangepartitioning Exchange would mean a global
    sort crept in — the thing the shard formulation exists to avoid."""
    p = plan_str(QUERIES["reshape_pack_sequences"](spark, SF_DIR))
    assert p.count("+- Exchange") == 1, p   # one shuffle in the plan tree
    assert "rangepartitioning" not in p.lower()


def test_training_pipeline_no_all_pairs(spark):
    """The full prep composition must stay candidates/broadcast-shaped:
    gram join broadcast, no nested-loop or cartesian anywhere, no
    global rangepartitioning sort."""
    p = plan_str(QUERIES["pipeline_training_data"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "rangepartitioning" not in p.lower()
    assert "BroadcastHashJoin" in p


def test_weighted_mix_broadcasts_weights(spark):
    """The weights dim must broadcast under the corpus join."""
    p = plan_str(QUERIES["sample_weighted_mix"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast: a SortMergeJoin here
    means the 100 TB train side shuffles on gram key for an eval-set
    sized right side."""
    p = plan_str(QUERIES["dedup_contamination_ngram"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_embedding_dedup_no_all_pairs_join(spark):
    """dedup_embedding_cosine must be candidates-then-verify: the band
    self-join and the verify joins are all equi-joins. A
    BroadcastNestedLoopJoin or CartesianProduct anywhere means the
    all-pairs O(n^2) form leaked back into the catalog."""
    p = plan_str(QUERIES["dedup_embedding_cosine"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_window_topk_single_shuffle(spark):
    """Grouped top-k = one shuffle on the partition keys, then a local
    sort — a global sort (Exchange rangepartitioning over all rows)
    would be a scale bug."""
    df = QUERIES["window_row_number_topk"](spark, SF_DIR)
    p = plan_str(df)
    assert "rangepartitioning" not in p.lower().replace(" ", "")


def test_exact_dedup_partial_agg(spark):
    """Exact dedup is groupBy(fingerprint) -> min(id): must show
    map-side partial aggregation so only unique hashes shuffle."""
    p = plan_str(QUERIES["dedup_exact"](spark, SF_DIR))
    assert "partial_min" in p or "partial_" in p


def test_filter_contains_pushed_to_scan(spark):
    """String-contains filters push into the parquet scan
    (StringContains pushdown)."""
    p = plan_str(QUERIES["filter_contains"](spark, SF_DIR))
    assert "StringContains" in p or "PushedFilters: [IsNotNull(text)" in p


def test_set_ops_no_cartesian_and_streaming_side(spark):
    """Set operations plan as aggregates/joins, never products."""
    for name in ("set_union_all", "set_intersect", "set_except"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name


def test_lineitem_orders_join_prunes_columns(spark):
    """A join consuming 2 columns per side must not read full rows."""
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus")
    j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").agg(
        F.sum("l_extendedprice").alias("s"))
    p = plan_str(j)
    schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert schemas and all(l.count(":") <= 3 for l in schemas), schemas


def test_pii_redact_is_pure_projection(spark):
    """PII redaction must be projection-only compute: no keyed shuffle,
    no Python. (A round-robin spread of the raw rows is allowed — it
    raises local scan parallelism and is a no-op on wide inputs.)"""
    p = plan_str(QUERIES["text_pii_redact"](spark, SF_DIR))
    assert "hashpartitioning" not in p
    assert "HashAggregate" not in p
    assert "Python" not in p  # JVM-side regexps, no UDF in the hot path


def test_embedding_normalize_is_pure_projection(spark):
    """Norm + quantization are higher-order array expressions over the
    scan — no keyed shuffle, no aggregation, no Python."""
    p = plan_str(QUERIES["embedding_normalize"](spark, SF_DIR))
    assert "hashpartitioning" not in p
    assert "HashAggregate" not in p
    assert "Python" not in p


def test_frame_sample_no_shuffle(spark):
    """Frame sampling is a bounded explode over the scan."""
    p = plan_str(QUERIES["multimodal_frame_sample"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "Generate explode" in p or "Generate" in p


def test_rank_family_single_sort(spark):
    """Five ranking functions over one window must share a single
    shuffle + sort, not one per function."""
    p = plan_str(QUERIES["window_rank_family"](spark, SF_DIR))
    assert p.count("+- Exchange") == 1  # one shuffle in the plan tree
    assert p.count("+- Sort") == 1      # one shared sort
    assert p.count("+- Window") == 1    # all five functions in one Window node
    assert "rangepartitioning" not in p


def test_full_outer_join_not_nested_loop(spark):
    """Aggregated full outer join must stay an equi hash/merge join."""
    p = plan_str(QUERIES["join_full_outer"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_json_extract_prunes_columns(spark):
    """JSON extraction reads only props + event_type."""
    p = plan_str(QUERIES["json_funcs"](spark, SF_DIR))
    schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert schemas and all(l.count(":") <= 3 for l in schemas), schemas


def test_connected_components_no_cartesian(spark):
    """One large-star round must plan as aggregates + generate — a
    cartesian product would mean the neighbor join lost its keys."""
    from universal_data_connector_spark.operators.dedup import connected_components
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_1 bigint, id_2 bigint")
    p = plan_str(connected_components(edges, max_iterations=1))
    assert "CartesianProduct" not in p


def test_bucketed_join_zero_exchange(spark):
    """Bucketed co-located join: no Exchange anywhere — not for the
    join, not for the following same-key aggregation."""
    df = QUERIES["join_bucketed_colocated"](spark, SF_DIR)
    p = plan_str(df)
    assert "SortMergeJoin" in p
    assert "+- Exchange" not in p and "Exchange hashpartitioning" not in p, p


def test_interval_overlap_is_hash_join(spark):
    """The equi key must carry the join; the overlap range is a
    post-join condition, never a nested loop over both sides."""
    p = plan_str(QUERIES["join_interval_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_capped_per_key_partial_topk_before_exchange(spark):
    """The per-key cap must do map-side partial top-k: a
    WindowGroupLimit BEFORE the exchange caps each task's output at K
    per key, so the shuffle carries at most K x keys x tasks rows —
    not the whole corpus."""
    p = plan_str(QUERIES["sample_capped_per_key"](spark, SF_DIR))
    partial = p.find("Partial")
    exchange = p.find("Exchange")
    assert "WindowGroupLimit" in p
    assert partial != -1 and exchange != -1
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema  # 2-column pruned scan


@pytest.mark.parametrize("name", ["text_repetition_ratio",
                                  "reshape_chunk_tokens"])
def test_text_array_ops_pure_projection(spark, name):
    """Repetition scoring and token chunking are pure projections: no
    aggregation/join exchange (ENSURE_REQUIREMENTS) may appear. The
    r21 width-guarded spread() on text_repetition_ratio adds ONE
    deliberate REPARTITION_BY_NUM exchange on narrow local scans
    (guide §2.5 — the interpreted gram build otherwise serialized on
    the single-row-group file's one task); that repartition is the
    allowed exception, and is a no-op on wide 100 TB inputs."""
    p = plan_str(QUERIES[name](spark, SF_DIR))
    assert "ENSURE_REQUIREMENTS" not in p   # no agg/join shuffle
    if name == "reshape_chunk_tokens":
        assert "Exchange" not in p          # fully shuffle-free
    assert "BatchEvalPython" not in p  # no row-at-a-time Python


def test_histogram_bins_map_side_combine(spark):
    """Floor-bucket histogram: partial aggregation before the exchange
    collapses 100 TB into a tiny key domain map-side."""
    p = plan_str(QUERIES["agg_histogram_bins"](spark, SF_DIR))
    assert "partial_count" in p or "Partial" in p


def test_gapfill_no_cartesian_and_single_scan(spark):
    """Gap-fill: the lag-window gap-explode shape — no spine join at
    all (no join operator of any kind), the raw events table scanned
    exactly once, gaps generated in-row by sequence()+explode."""
    p = plan_str(QUERIES["ts_rollup_gapfill"](spark, SF_DIR))
    for join_op in ("CartesianProduct", "BroadcastNestedLoopJoin",
                    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_op not in p
    # formatted explain lists each scan twice (tree node + detail
    # section) — one physical scan therefore shows as exactly 2 hits
    assert p.count("Scan parquet") <= 2
    assert "Explode" in p or "Generate" in p
    assert "Window" in p


def test_funnel_single_data_shuffle(spark):
    """The ordered funnel must do ONE data-sized shuffle: the windows
    and the per-user rollup share the user partitioning; the only
    other exchange is the final single-row global count."""
    import re

    p = plan_str(QUERIES["events_funnel_steps"](spark, SF_DIR))
    exchanges = set(re.findall(r"^\((\d+)\) Exchange", p, re.M))
    assert len(exchanges) <= 2, f"funnel has {len(exchanges)} exchanges"


def test_compaction_collapses_file_count(spark, tmp_path):
    """Compaction must actually reduce the file count to the byte
    target (here: everything fits one file) while preserving rows."""
    import os

    from universal_data_connector_spark.operators.maintenance import (
        compact_parquet_dir,
    )

    frag = str(tmp_path / "frag")
    dest = str(tmp_path / "out")
    load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice") \
        .repartition(32).write.parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    out = compact_parquet_dir(spark, frag, dest)
    n_after = len([f for f in os.listdir(dest) if f.endswith(".parquet")])
    assert n_before == 32 and n_after == 1
    assert out.count() == load(spark, SF_DIR, "orders").count()


# Keys whose build EXECUTES work (streams, sink writes, scratch
# round-trips, compaction): excluded from the lazy plan lint — their
# plans are asserted by their own tests above / their oracle runs.
_EAGER_KEYS = {
    "scan_csv_typed", "scan_jsonl_roundtrip",
    "sink_parquet_snappy", "sink_csv_per_source", "sink_jdbc_append",
    "stream_file_ingest_exactly_once", "stream_stateful_totals",
    "stream_static_enrich_join", "stream_stream_interval_join",
    "stream_upsert_latest", "stream_agg_state_totals",
    "maintenance_compact_files",
    "join_bucketed_colocated",  # writes bucketed tables at build
    "scan_schema_evolution_merge",  # writes evolution batches at build
    "scan_csv_malformed_permissive",  # writes the corrupted CSV at build
}

# BroadcastNestedLoopJoin is legitimate ONLY where a bounded side is
# broadcast under a non-equi condition by construction (query batches,
# centroid tables, range bounds — never a corpus side).
_BNLJ_ALLOWED = {
    # query batch broadcast under the corpus scan (brute-force top-k)
    "sim_search_cosine_topk",
    # centroid table (n_centroids rows) broadcast under a deliberate
    # cross join for query->probe assignment
    "sim_search_ivf",
    # ONE-row aggregate (quantile cutoffs / corpus size / key summary)
    # broadcast-cross-joined onto the other side — bounded by
    # construction
    "events_rfm_segments", "text_tfidf_topk", "dq_uniqueness_orders",
}


def test_catalog_wide_plan_lint(spark):
    """Every lazily-built catalog query must be free of the two
    unconditional scale-killers: CartesianProduct (a lost join
    condition) and BatchEvalPython (row-at-a-time Python in the plan;
    Arrow-batched ArrowEvalPython/FlatMapGroupsInPandas are fine).
    One sweep over the whole catalog so a future operator can't
    regress silently."""
    bad = []
    for name, fn in QUERIES.items():
        if name in _EAGER_KEYS:
            continue
        p = plan_str(fn(spark, SF_DIR))
        if "CartesianProduct" in p:
            bad.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in p:
            bad.append(f"{name}: BatchEvalPython (row-at-a-time Python)")
        if "BroadcastNestedLoopJoin" in p and name not in _BNLJ_ALLOWED:
            bad.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not bad, "\n".join(bad)


def test_partition_pruning_resolves_at_planning(spark):
    """The partitioned scan must show a PartitionFilters entry on the
    returnflag filter and must NOT carry it as a post-scan Filter —
    pruned partitions are never read."""
    p = plan_str(QUERIES["scan_partition_pruned"](spark, SF_DIR))
    pf = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in pf and "R" in pf


def test_star_schema_broadcasts_dims(spark):
    """The star join must broadcast at least one dimension and push the
    order-status predicate into its scan; the fact side must never
    cartesian."""
    p = plan_str(QUERIES["join_star_schema"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert any("PushedFilters" in l and "o_orderstatus" in l
               for l in p.splitlines())


def test_driver_materialization_discipline():
    """Source lint (VERDICT r6 item 8): driver-side materialization
    (`.collect()` / `.toLocalIterator()` / `.toPandas()`) is allowed
    ONLY at the known bounded call sites. A new site = a new driver
    bottleneck at 100 TB; add it here only with a boundedness argument
    in a comment at the call site."""
    import pathlib

    import universal_data_connector_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    # file -> exact allowed count of materializing calls, each bounded:
    #   streaming/windows.py  touched-bucket set, <= num_buckets rows
    #   operators/dedup.py    CC convergence signature, 1 row/iteration
    #   operators/similarity.py  ANN query set, small by contract
    #   sinks/files.py        boto3-free S3 fallback, partition-streamed
    allowed = {
        # two touched-bucket sets (upsert + additive agg state), each
        # <= num_buckets rows
        "streaming/windows.py": 2,
        # CC convergence signature + the size-guarded local
        # union-find's edge collect (bounded by the edge count the
        # signature action just measured, <= UDC_CC_LOCAL_MAX_EDGES)
        "operators/dedup.py": 2,
        "operators/similarity.py": 1,
        "sinks/files.py": 1,
        # manifest_record's anti-join survivors: bounded by the number
        # of files consumed THIS run (the unbounded all-history side
        # stays on executors)
        "sources/files.py": 1,
        # rank-selection metadata: per-(slice, group) counts guarded
        # by max_meta_rows, the picked interpolation endpoints
        # (<= 2 * |ps| * |groups| rows), and the small-input fast
        # path's per-group percentile rows (limit(max_meta_rows + 1))
        "operators/quantiles.py": 3,
        # object-store state backend: the two touched-bucket sets
        # (upsert + agg_state merge), bounded by num_buckets — the
        # same contract as the POSIX twins in windows.py — plus
        # write_objects' uploaded-key manifest (one row per PUT
        # object, bounded by touched buckets x rolled parts; metadata
        # the pointer CAS needs on the driver anyway)
        "streaming/object_state.py": 3,
        # cross-run dedup: touched-bucket sets (POSIX + S3 exact
        # stores; the near and embedding filters' band/candidate
        # buckets and their commits' band/sig/vec buckets), each
        # bounded by num_buckets
        "operators/dedup_state.py": 10,
    }
    bad = []
    for py in root.rglob("*.py"):
        rel = str(py.relative_to(root))
        n = 0
        for line in py.read_text().splitlines():
            code = line.split("#", 1)[0]
            n += sum(code.count(tok) for tok in
                     (".collect()", ".toLocalIterator()", ".toPandas()"))
        if n > allowed.get(rel, 0):
            bad.append(f"{rel}: {n} materializing calls "
                       f"(allowed {allowed.get(rel, 0)})")
    assert not bad, "\n".join(bad)


def test_upsert_sink_never_reads_full_target():
    """Source lint for VERDICT r6 item 2's regression: the upsert
    merge must read the parquet target ONLY through the touched-bucket
    partition filter (per-batch cost O(touched), not O(target)). The
    behavioral half — untouched bucket files survive byte-identical —
    is test_foreachbatch_upsert_rewrites_only_touched_buckets."""
    import inspect

    from universal_data_connector_spark.streaming import windows

    # the ONLY way to read the target is the partition-pruned helper
    helper = inspect.getsource(windows._read_touched)
    assert "read.parquet" in helper
    assert "_UPSERT_BUCKET_COL).isin(" in helper, (
        "_read_touched lost its bucket partition filter — that "
        "reintroduces the O(target) per-batch rewrite")
    for body in (windows.upsert_merge, windows.agg_state_merge):
        src = inspect.getsource(body)
        assert "read.parquet" not in src, (
            f"{body.__name__} must read the target only through "
            "_read_touched (partition-pruned)")
        assert "_read_touched(" in src
    # and nothing else in the module reads parquet directly: full
    # reads are confined to the two helpers whose CONTRACT is a full
    # read — _read_touched (pruned by its isin filter) and read_state
    # (the consumer-facing read-back of the whole target, never on the
    # per-batch merge path)
    mod_src = inspect.getsource(windows)
    allowed = (inspect.getsource(windows._read_touched)
               + inspect.getsource(windows.read_state))
    assert mod_src.count("read.parquet") == allowed.count(
        "read.parquet"), (
        "a raw target read appeared outside _read_touched/read_state "
        "in streaming/windows.py")


def test_sessionize_single_user_shuffle(spark):
    """Gap sessionization must shuffle the events table ONCE: lag,
    running session index, and the per-session rollup all share the
    user_id partitioning."""
    p = plan_str(QUERIES["events_sessionize_gap"](spark, SF_DIR))
    shuffles = [l for l in p.splitlines()
                if l.startswith("Arguments: hashpartitioning")]
    assert len(shuffles) == 1, "expected 1 exchange, got:\n" + "\n".join(shuffles)
    assert "user_id" in shuffles[0]


def test_top_paths_takeordered_no_global_sort(spark):
    """The path top-20 must be a TakeOrdered (bounded per-partition
    heaps), never a global Sort of all trigram counts."""
    p = plan_str(QUERIES["events_top_paths"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Sort [n" not in p


def test_moving_window_avg_reduces_before_window(spark):
    """The 7-day frame must slide over the DAILY aggregate: exactly one
    scan of orders, and the range-frame window sits above a
    HashAggregate, not above the raw scan."""
    p = plan_str(QUERIES["ts_moving_window_avg"](spark, SF_DIR))
    assert p.count("Location: InMemoryFileIndex") == 1  # one scan of orders
    assert "RangeFrame" in p  # the 7-day frame is a range frame
    # tree order: the Window node sits above the HashAggregate
    tree = p.split("\n\n")[0].splitlines()
    win_i = next(i for i, l in enumerate(tree) if "Window" in l)
    assert any("HashAggregate" in l for l in tree[win_i:]), \
        "window must consume the daily aggregate, not the raw scan"


def test_percent_of_total_window_rides_aggregate(spark):
    """The global (empty-partition) window must consume the 25-row
    nation aggregate — the plan has a HashAggregate BELOW the Window,
    and the dims broadcast."""
    p = plan_str(QUERIES["window_percent_of_total"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    tree = p.split("\n\n")[0].splitlines()
    win_i = next(i for i, l in enumerate(tree) if "Window" in l)
    assert any("HashAggregate" in l for l in tree[win_i:]), \
        "no aggregate below the global window"


def test_argmax_and_attribution_are_aggregates_not_windows(spark):
    """The struct-extreme argmax pattern must stay a partial-aggregated
    groupBy — no rank window anywhere in the plan (the whole point:
    O(groups) across the shuffle, not O(rows) through a sort)."""
    for key in ("agg_argmax_struct", "events_attribution_first_last"):
        p = plan_str(QUERIES[key](spark, SF_DIR))
        assert "Window" not in p, f"{key} regressed to a window:\n{p}"
        assert "HashAggregate" in p or "SortAggregate" in p


def test_outlier_iqr_broadcasts_stats_back(spark):
    """The quartiles come from eager distributed rank-selection
    (operators/quantiles.py) and land in the fence-count plan as a
    LITERAL frame — so the final plan must show a broadcast join
    against a local scan, no percentile aggregate (the unbounded
    per-group buffer, VERDICT r8 item 2), and no wide-side merge
    join."""
    p = plan_str(QUERIES["ts_outlier_iqr"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "LocalTableScan" in p, "quartiles are not a literal frame"
    assert "ExistingRDD" not in p, "quartiles are a Python-scan frame"
    assert "percentile" not in p.lower(), \
        "unbounded percentile aggregate is back in the plan"


def test_rfm_cutoffs_are_one_row_broadcast(spark):
    """Quantile-cutoff segmentation must broadcast the 1-row literal
    cutoff frame (eager rank-selection output) — no percentile
    aggregate (one buffer holding every customer's value) and no
    window over the per-customer rows anywhere in the plan."""
    p = plan_str(QUERIES["events_rfm_segments"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "LocalTableScan" in p, "cutoffs are not a literal frame"
    assert "ExistingRDD" not in p, "cutoffs are a Python-scan frame"
    assert "percentile" not in p.lower(), \
        "unbounded percentile aggregate is back in the plan"
    assert "Window" not in p


def test_sliding_windows_shuffle_free(spark):
    """Sliding token windows are a pure projection + generate: no
    Exchange anywhere — window construction rides the scan."""
    p = plan_str(QUERIES["reshape_sliding_windows"](spark, SF_DIR))
    assert "Exchange" not in p, p


def test_cumulative_distinct_windows_only_the_daily_aggregate(spark):
    """The prefix-sum window must run over the tiny daily aggregate
    (post-aggregation), never the wide events table: exactly one
    window, fed by an aggregate, and only grouping shuffles."""
    p = plan_str(QUERIES["ts_cumulative_distinct"](spark, SF_DIR))
    assert p.count("Window") >= 1
    # the window's child chain contains the daily aggregate
    assert "HashAggregate" in p or "SortAggregate" in p
