"""SparkSession construction and per-query session pinning.

The reference boots a single-member Hazelcast cluster
(``config/HazelcastConfig.java:13-44``); our equivalent is a SparkSession
tuned for the target: AQE on (runtime re-planning, skew-join handling),
shuffle partitions sized to cores locally (on a real cluster this is
overridden by ``spark.sql.adaptive.coalescePartitions``), UTC session
time zone so results are byte-comparable with engines that use naive
timestamps (DuckDB, Parquet NTZ).
"""

from __future__ import annotations

import contextlib as _contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "universal_data_connector_spark",
              cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-appropriate conf."""
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(spark: SparkSession) -> SparkSession:
    """Pin runtime conf on a session we did not build (e.g. the driver's).

    Idempotent and cheap; every catalog query calls this so that results
    are deterministic regardless of who constructed the session:

    * UTC session time zone — Spark renders TIMESTAMP in the session TZ,
      while the test parquet stores naive (UTC-like) timestamps; pinning
      UTC makes ``date_format``/``cast(ts as date)`` agree with DuckDB.
    * AQE on — runtime shuffle-partition coalescing and skew-join splits;
      this is the 100 TB posture (plans re-optimize on real stats).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # events.ts has shipped as parquet TIMESTAMP(NANOS) and as naive
    # TIMESTAMP(MICROS) across testdata generations. nanosAsLong makes
    # the nanos layout readable (as bigint, restored in tables.load);
    # disabling NTZ inference makes the naive-micros layout arrive as
    # TimestampType directly (value-preserving under UTC), which the
    # streaming watermark API requires. tables.watermarkable_ts guards
    # both layouts for sessions that skipped pin().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Size shuffle/state partitions to the local machine: AQE coalesces
    # batch shuffles at runtime, but streaming state stores take the
    # static setting (AQE is disabled for stateful workloads), and a
    # vanilla session's 200 empty state partitions are pure task
    # overhead here. On a real cluster this path isn't used — the
    # cluster session carries its own sizing.
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
    return spark


@_contextlib.contextmanager
def temp_view(df, base: str):
    """Register ``df`` under a UNIQUE temp-view name and drop it after
    the with-block — the shared form of the per-build-unique-view fix
    (a fixed session-global name races across concurrent builds on one
    SparkSession: another build's createOrReplaceTempView landing
    before this build's spark.sql() resolution silently swaps the
    data). Dropping after spark.sql() is safe: analysis inlines the
    view's plan."""
    import uuid

    name = f"{base}_{uuid.uuid4().hex[:10]}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)


def local_frame(spark: SparkSession, rows, schema):
    """A driver-side row list as a JVM local relation.

    ``rows`` are tuples (or Rows/dicts) in ``schema`` order; ``schema``
    is a DDL string or StructType. The rows go to the JVM as one Arrow
    table and plan as ``LocalTableScan``, split into
    min(len(rows), defaultParallelism) partitions. The list form of
    ``createDataFrame`` plans as ``Scan ExistingRDD`` instead: a Python
    worker stage that re-pickles the rows on every action scanning
    them — fixed per-job cost that outweighs the rows themselves.

    Values are converted with ``schema.toInternal``, exactly as the
    list form converts them, so both routes yield the same instants: a
    naive ``datetime`` for a TIMESTAMP column is process-local wall
    time (``time.mktime``), not session-zone wall time as a naive Arrow
    timestamp would be. Two divergences: a Decimal with more fractional
    digits than its column's scale raises here, where the list form
    rounds it half-up; and with pyarrow < 17 a NULL map whose keys or
    values are timestamps or nested types reads back as an empty map
    (PySpark rebuilds such maps without their null mask, SPARK-48302)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    columns = list(zip(*internal)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
