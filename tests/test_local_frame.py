"""``session.local_frame``: driver-side rows as a JVM local relation.

Three pins. (1) Type fidelity: the Arrow route must read back exactly
what the list form of ``createDataFrame`` reads back, including naive
datetimes under a non-UTC process time zone (the quantile fast path
feeds collected group keys back through it into a pick join, so a
shifted instant would silently drop rows). (2) Plan shape: the small
driver-built frames in front of the Kafka-loopback, boto3 S3 and S3
state fetches are ``LocalTableScan`` with no Python scan stage and no
round-robin exchange, and the fetch runs on min(n, defaultParallelism)
tasks. (3) The list form does not come back anywhere in the package.
"""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import io
import os
import pathlib
import time
import uuid

import pytest

from universal_data_connector_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / \
    "universal_data_connector_spark"

_SCHEMA = ("d decimal(10,2), day date, b binary, ts timestamp, "
           "ntz timestamp_ntz, a array<timestamp>, m map<string,int>, "
           "mt map<string,timestamp>, "
           "s struct<x: timestamp, y: decimal(5,1), z: array<date>, "
           "w: binary>")

_ROWS = [
    (decimal.Decimal("1.23"), dt.date(2024, 3, 10), b"\x00ab",
     dt.datetime(2024, 1, 1, 12, 0, 0, 123),
     dt.datetime(2024, 1, 1, 12, 0),
     # a DST gap (02:30 does not exist on 2024-03-10 in New York), a
     # summer instant and a NULL element
     [dt.datetime(2024, 3, 10, 2, 30), dt.datetime(2024, 7, 1, 9), None],
     {"k": 1, "n": None},
     {"k": dt.datetime(2024, 11, 3, 1, 30)},  # DST fold
     (dt.datetime(2024, 7, 1, 12), decimal.Decimal("-2.5"),
      [dt.date(2020, 2, 29), None], bytearray(b"\xff"))),
    (decimal.Decimal("-99999999.99"), dt.date(1969, 12, 31), b"",
     dt.datetime(1970, 1, 1), dt.datetime(1970, 1, 1), [], {}, {},
     (None, None, None, None)),
    (None, None, None, None, None, None, None, {"z": None}, None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def new_york_tz():
    """Process TZ America/New_York for the test (UTC-5/-4): the list
    route reads naive datetimes as process-local wall time."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_local_frame_matches_list_route_types_and_instants(
        spark, new_york_tz):
    got = local_frame(spark, _ROWS, _SCHEMA)
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # the instants themselves, not just the round trip: epoch micros
    # as Spark computes them agree for every timestamp column
    epochs = ("unix_micros(ts) AS ts", "unix_micros(s.x) AS sx",
              "transform(a, t -> unix_micros(t)) AS a")
    assert (got.selectExpr(*epochs).collect()
            == want.selectExpr(*epochs).collect())
    assert got.selectExpr("unix_micros(ts)").first()[0] == \
        int(time.mktime(_ROWS[0][3].timetuple())) * 10**6 + 123


def test_local_frame_empty_rows_keep_schema(spark, new_york_tz):
    got = local_frame(spark, [], _SCHEMA)
    want = spark.createDataFrame([], _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == [] == want.collect()
    assert "LocalTableScan" in _plan(got)


def test_local_frame_is_a_local_scan_split_by_parallelism(spark):
    dp = spark.sparkContext.defaultParallelism
    for n in (1, 3, 1000):
        df = local_frame(spark, [(i,) for i in range(n)], "x long")
        p = _plan(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p
        assert df.rdd.getNumPartitions() == min(n, dp)


# ---------------------------------------------------------------------------
# plan pins: the fetches in front of which local_frame sits
# ---------------------------------------------------------------------------

def _fetch_stages(spark, df) -> tuple[int, list[int]]:
    """Run ``df`` into the noop sink under a fresh job group; return
    the number of jobs and the task count of each stage, in stage
    order (the last one is the stage that ran the fetch)."""
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = sorted({s for j in jobs for s in st.getJobInfo(j).stageIds})
    return len(jobs), [st.getStageInfo(s).numTasks for s in stages
                       if st.getStageInfo(s).numCompletedTasks]


def _assert_local_fetch(spark, df, n, round_robin=0):
    p = _plan(df)
    assert "LocalTableScan" in p, p
    assert "ExistingRDD" not in p, p
    assert p.count("RoundRobinPartitioning") == round_robin, p
    jobs, tasks = _fetch_stages(spark, df)
    want = min(n, spark.sparkContext.defaultParallelism)
    if round_robin:
        assert tasks[-1] == want, tasks
    else:
        assert (jobs, tasks) == (1, [want])


@pytest.mark.parametrize("n", [3, 1000])
def test_kafka_loopback_source_is_one_local_fetch_stage(
        spark, tmp_path, n):
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sources.kafka import kafka_source

    d = str(tmp_path)
    KL.ensure_topic(d, "t", n)
    KL.append_records(d, "t", [(f"k{i}".encode(), b"v") for i in range(20)],
                      n)
    df = kafka_source(spark, {"bootstrapServers": f"loopback://{d}",
                              "topic": "t"}, streaming=False)
    _assert_local_fetch(spark, df, n)
    assert df.count() == 20


BUCKET = "udc-local-frame"
CREDS = {"accessKey": "test-access", "secretKey": "test-secret"}


@pytest.fixture(scope="module")
def s3():
    moto_server = pytest.importorskip("moto.server")
    boto3 = pytest.importorskip("boto3")
    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    port = server._server.socket.getsockname()[1]
    endpoint = f"http://127.0.0.1:{port}"
    client = boto3.client(
        "s3", endpoint_url=endpoint, region_name="us-east-1",
        aws_access_key_id=CREDS["accessKey"],
        aws_secret_access_key=CREDS["secretKey"])
    client.create_bucket(Bucket=BUCKET)
    yield endpoint, client, {}
    server.stop()


def _put_docs(s3, n) -> str:
    """A prefix holding ``n`` one-byte objects, written once per
    server and shared by the read-only source tests."""
    _endpoint, client, prefixes = s3
    if n not in prefixes:
        prefix = f"in-{n}-{uuid.uuid4().hex[:8]}/"
        for i in range(n):
            client.put_object(Bucket=BUCKET,
                              Key=f"{prefix}doc-{i:04d}.txt", Body=b"x")
        prefixes[n] = prefix
    return prefixes[n]


@pytest.mark.parametrize("n", [3, 1000])
def test_boto3_s3_source_is_one_local_fetch_stage(spark, s3, n):
    from universal_data_connector_spark.sources.files import (
        _s3_source_boto3,
    )

    endpoint = s3[0]
    props = {"bucketName": BUCKET, "prefix": _put_docs(s3, n),
             "endpoint": endpoint, **CREDS}
    df = _s3_source_boto3(spark, props)
    _assert_local_fetch(spark, df, n)
    assert df.count() == n


@pytest.mark.parametrize("n", [3, 1000])
def test_boto3_s3_source_manifest_keeps_one_spread(spark, s3, tmp_path, n):
    """With ``manifestDir`` an anti-join sits between the key list and
    the fetch and sets its own output partitioning, so exactly one
    round-robin spread stays in front of the fetch; the key list is
    still a local scan."""
    from universal_data_connector_spark.sources.files import (
        _s3_source_boto3,
        manifest_record,
    )

    endpoint = s3[0]
    prefix = _put_docs(s3, n)
    manifest = str(tmp_path / "manifest")
    manifest_record([f"s3a://{BUCKET}/{prefix}doc-0000.txt"], manifest)
    props = {"bucketName": BUCKET, "prefix": prefix, "endpoint": endpoint,
             "manifestDir": manifest, **CREDS}
    df = _s3_source_boto3(spark, props)
    _assert_local_fetch(spark, df, n, round_robin=1)
    assert df.count() == n - 1


@pytest.mark.parametrize("n", [3, 1000])
def test_object_state_read_objects_is_one_local_fetch_stage(spark, s3, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
        read_objects,
    )

    client = s3[1]
    target = S3StateTarget(BUCKET, f"state-{uuid.uuid4().hex[:8]}",
                           client=client, num_buckets=4)
    buf = io.BytesIO()
    pq.write_table(pa.table({"k": pa.array([7], pa.int64())}), buf)
    key = f"{target.prefix}/obj.parquet"
    client.put_object(Bucket=BUCKET, Key=key, Body=buf.getvalue())
    # n references to one object: n listed objects, n GETs
    df = read_objects(spark, target, [(key, i % 4) for i in range(n)],
                      "k bigint, udc_kb int")
    _assert_local_fetch(spark, df, n)
    assert df.count() == n


# ---------------------------------------------------------------------------
# the list form stays out of the package
# ---------------------------------------------------------------------------

def test_create_dataframe_only_inside_local_frame():
    """Every driver-side frame goes through ``session.local_frame``: a
    ``createDataFrame(...)`` call anywhere else in the package is the
    list form coming back (a Python scan stage per action)."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owners = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owners.setdefault(id(node), fn.name)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                where = (path.relative_to(PKG).as_posix(),
                         owners.get(id(node)))
                if where != ("session.py", "local_frame"):
                    stray.append(f"{where[0]}:{node.lineno} in {where[1]}")
    assert not stray, stray
