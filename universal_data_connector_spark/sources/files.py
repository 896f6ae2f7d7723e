"""File-shaped sources: local/HDFS file, recursive directory, S3.

Re-expresses the reference's three polling file sources —
``factory/source/FileSourceContext.java`` (whole-file text/CSV items),
``factory/source/DirectorySourceContext.java`` (any file as base64
bytes), ``factory/source/S3SourceContext.java`` (bucket listing +
whole-object items) — as declarative Spark reads. The reference's
glob→regex compiler (three identical copies, ``FileSourceContext.java:
29-52``) is Spark's native ``pathGlobFilter``; its extension+content
type sniffing (``FileSourceContext.java:58-67``,
``DirectorySourceContext.java:64-74``) becomes a column expression.

Scale: file listing is driver-side but parallelized by Spark
(``spark.sql.sources.parallelPartitionDiscovery.threshold``); content
rides in executors. One row per file means file-mode DataFrames are as
wide as the file count — fine for passthrough pipelines, and
record-mode (``records.py``) takes over for anything relational.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_data_connector_spark.session import local_frame


def sniff_file_type(path: Column, first_line: Column | None = None) -> Column:
    """CSV/TEXT for text-ish files (``FileSourceContext.java:58-67``:
    ``.csv`` extension AND a comma in line 1 -> CSV), extension map for
    binary files (``DirectorySourceContext.java:64-74``)."""
    lower = F.lower(path)
    is_csv = lower.endswith(".csv")
    if first_line is not None:
        is_csv = is_csv & first_line.contains(",")
    return (F.when(is_csv, "CSV")
             .when(lower.endswith(".parquet"), "PARQUET")
             .when(lower.endswith(".crc"), "CRC")
             .when(lower.endswith(".txt") | lower.endswith(".text")
                   | lower.endswith(".log") | lower.endswith(".json")
                   | lower.endswith(".csv"), "TEXT")
             .otherwise("BINARY"))


def _text_file_frame(spark: SparkSession, path: str, pattern: str | None,
                     streaming: bool, *, recursive: bool = False,
                     archive_dir: str | None = None) -> DataFrame:
    """Whole-file text read -> (source_file, file_type, content)."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("text").option("wholetext", "true")
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if streaming:
        # The durable version of the reference's processed-files dedup +
        # move-to-processed (FileSourceContext.java:113-125): Spark's
        # file-stream log guarantees exactly-once per file; archive
        # physically moves consumed inputs.
        reader = reader.option("maxFilesPerTrigger", "1000")
        if archive_dir:
            reader = (reader.option("cleanSource", "archive")
                            .option("sourceArchiveDir", archive_dir))
    df = reader.load(path)
    first_line = F.substring_index(F.col("value"), "\n", 1)
    src = decoded_uri_path_col(F.col("_metadata.file_path"))
    return df.select(
        src.alias("source_file"),
        sniff_file_type(src, first_line).alias("file_type"),
        F.col("value").alias("content"),
    )


# Collapse ONLY the empty-authority form (3+ slashes): Spark emits
# file:///p from inputFiles() but file:/p from _metadata.file_path for
# the same local file. Authority URIs (s3a://bucket/...) keep their
# two slashes — s3a:/bucket would be a different (wrong) path.
_URI_SLASH_RE = r"^([A-Za-z][A-Za-z0-9+.-]*):///+"


def canonical_file_uri(uri: str) -> str:
    """One canonical spelling per file (see ``_URI_SLASH_RE``)."""
    import re

    return re.sub(_URI_SLASH_RE, lambda m: m.group(1) + ":/", uri)


def _canonical_uri_col(c: Column) -> Column:
    return F.regexp_replace(c, _URI_SLASH_RE, "$1:/")


def decoded_uri_path_col(c: Column) -> Column:
    """Decode Spark's URI-encoded ``_metadata.file_path``/``file_name``
    back to the literal on-disk name: a file named ``my data.csv``
    surfaces as ``my%20data.csv`` in the metadata columns, so every
    downstream consumer (extension-swap sinks, manifest dedup keys,
    per-source grouping) would otherwise carry the encoded spelling —
    and the file sink would WRITE the wrong filename (round-12 wave-2b
    fuzzer find on a source name with a space). ``url_decode`` is
    x-www-form-urlencoded (it maps a raw ``+`` to a space, but ``+``
    is a literal plus in a URI path), so raw pluses are protected as
    ``%2B`` first; encoded sequences like a literal percent's ``%25``
    then decode correctly. ``binaryFile``'s ``path`` column is NOT
    encoded (measured) — only the text-source metadata needs this.

    Degradation contract (ADVICE r12): ``try_url_decode`` with a
    fallback to the raw column, so a malformed percent sequence — or a
    future Spark that stops URI-encoding the metadata columns and
    hands us a path whose stray ``%`` no longer parses — surfaces the
    raw spelling instead of raising mid-pipeline. The encoding
    assumption itself is pinned by a round-trip test against THIS
    Spark version (tests/test_round13_fixes.py): a file named with a
    space must appear as ``%20`` in the raw metadata and as a space
    after this decode; a Spark upgrade that changes the spelling fails
    that test loudly rather than silently mangling names here."""
    protected = F.replace(c, F.lit("+"), F.lit("%2B"))
    return F.coalesce(F.try_url_decode(protected), c)


def manifest_filter(df: DataFrame, spark: SparkSession, manifest_dir: str,
                    path_col: str = "source_file") -> DataFrame:
    """Drop rows whose file already appears in the processed-log dir.

    The batch twin of the streaming file-source checkpoint for sources
    that cannot be archived (a read-only S3 prefix, a shared drop
    directory): consumed file URIs are appended to ``manifest_dir``
    after each successful run (``manifest_record``), and the next run
    anti-joins the log — distributed, so a manifest with millions of
    entries never lands in driver memory. URIs are canonicalized on
    both sides, so the two spellings Spark uses for the same file
    compare equal. A missing/empty manifest dir means nothing has been
    consumed yet — but ONLY that: a permissions failure, corrupt log,
    or transient FS error propagates instead of silently disabling
    dedup and double-writing every already-consumed file."""
    from pyspark.errors import AnalysisException

    try:
        seen = (spark.read.format("text")
                .option("pathGlobFilter", "*.log")  # never torn .tmp files
                .load(manifest_dir))
    except AnalysisException as exc:
        # only the path-missing case means "no manifest yet"
        if ("PATH_NOT_FOUND" in str(exc)
                or "Path does not exist" in str(exc)):
            return df
        raise
    seen = seen.select(_canonical_uri_col(F.col("value")).alias("__seen_uri"))
    return (df.join(seen,
                    _canonical_uri_col(F.col(path_col)) == F.col("__seen_uri"),
                    "left_anti"))


def manifest_record(files: list[str], manifest_dir: str,
                    spark: SparkSession | None = None) -> int:
    """Append newly consumed file URIs to the processed log; returns
    how many new entries were written.

    Append-only: each run writes ONE new log file (tmp + atomic rename,
    so a crashed writer never leaves a torn file for readers). Already
    recorded URIs are skipped to bound manifest growth at one line per
    distinct consumed file. Local-filesystem manifest dirs only (same
    stance as archiveDir's move) — the SOURCE may be remote; the log
    lives wherever the pipeline driver runs.

    Dedup against the existing log is DISTRIBUTED when ``spark`` is
    passed (the engine always passes it): this run's file list — small,
    one entry per file consumed THIS run — anti-joins the full log on
    executors, so driver memory stays O(this run) however many entries
    the manifest has accumulated. Without a session it falls back to a
    driver-side read of every log file — O(all files ever consumed)
    driver memory, acceptable only for small manifests."""
    import os
    import uuid

    os.makedirs(manifest_dir, exist_ok=True)
    this_run = sorted({canonical_file_uri(f) for f in files})
    if spark is not None:
        new_df = local_frame(spark, [(u,) for u in this_run], "uri string")
        # the dir exists (just ensured); an empty/logless dir is an
        # empty frame for the fixed-schema text format, not an error
        seen_df = (spark.read.format("text")
                   .option("pathGlobFilter", "*.log")
                   .load(manifest_dir)
                   .select(_canonical_uri_col(F.col("value"))
                           .alias("uri")))
        new_df = new_df.join(seen_df, "uri", "left_anti")
        # bounded by len(this_run): this run's survivors only
        new = sorted(r.uri for r in new_df.collect())
    else:
        seen: set[str] = set()
        for name in os.listdir(manifest_dir):
            p = os.path.join(manifest_dir, name)
            if name.endswith(".log") and os.path.isfile(p):
                with open(p) as fh:
                    seen.update(line.strip() for line in fh)
        new = sorted(set(this_run) - seen)
    if not new:
        return 0
    final = os.path.join(manifest_dir, f"processed-{uuid.uuid4().hex}.log")
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(new) + "\n")
    os.rename(tmp, final)
    return len(new)


def file_source(spark: SparkSession, props: dict, streaming: bool = False) -> DataFrame:
    """Reference S1: poll a directory for text/CSV files, one item per
    whole file (``factory/SourceFactory.java:69-81``). Batch re-runs
    can skip already-consumed files without moving them: set
    ``manifestDir`` and the source anti-joins the processed log
    (``manifest_filter``); the engine appends to the log after the
    sink succeeds."""
    df = _text_file_frame(spark, props["path"], props.get("pattern"),
                          streaming, archive_dir=props.get("archiveDir"))
    if not streaming and props.get("manifestDir"):
        df = manifest_filter(df, spark, props["manifestDir"])
    return df


def directory_source(spark: SparkSession, props: dict, streaming: bool = False) -> DataFrame:
    """Reference S2: recursive walk, any file as bytes
    (``factory/SourceFactory.java:136-152``). Spark's binaryFile source
    natively gives path/length/modificationTime/content — no base64
    in-band encoding needed (it was only ever a transport hack)."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("binaryFile")
    if props.get("pattern"):
        reader = reader.option("pathGlobFilter", props["pattern"])
    if str(props.get("recursive", True)).lower() != "false":
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(props["path"])
    # preserveStructure (DirectorySourceContext.java:110-121): keep the
    # path relative to the configured root, else just the basename.
    # locate() treats the base as a literal (a configured path may
    # contain regex metacharacters like '(', '[', '+') and finds the
    # FIRST occurrence — the scheme-qualified prefix Spark prepends
    # (file:/...) contains the root exactly once before any repeat, so
    # a root string that reappears deeper in the tree (/a/b holding
    # /a/b/x/a/b/y.bin) still yields the full relative path. BOTH
    # sides are URI-canonicalized first: a scheme-qualified configured
    # path ("file:///root/data") otherwise never matches Spark's
    # "file:/root/data/..." spelling and every file silently fell
    # back to basename (structure lost, same-named files collapsed).
    base = canonical_file_uri(props["path"].rstrip("/") + "/")
    cpath = _canonical_uri_col(F.col("path"))
    pos = F.locate(base, cpath)
    rel = F.when(pos > 0,
                 cpath.substr(pos + len(base), F.length(cpath))) \
           .otherwise(F.element_at(F.split(F.col("path"), "/"), -1))
    name = (rel if str(props.get("preserveStructure", "false")).lower() == "true"
            else F.element_at(F.split(F.col("path"), "/"), -1))
    return df.select(
        name.alias("source_file"),
        sniff_file_type(F.col("path")).alias("file_type"),
        F.col("content"),
        F.col("length").alias("byte_length"),
        F.col("modificationTime").alias("modification_time"),
    )


def s3_source(spark: SparkSession, props: dict, streaming: bool = False) -> DataFrame:
    """Reference S5: S3 object listing + whole-object read
    (``factory/SourceFactory.java:116-134``). Spark + Hadoop S3A does
    listing/pagination natively; credentials go to Hadoop conf (never
    in-band — SURVEY.md §7.4.8 deliberately diverges from YAML secrets).

    When the S3A filesystem is NOT on the classpath (pyspark ships
    without hadoop-aws) and boto3 is importable, BATCH reads fall back
    to a boto3-backed path with identical output shape: driver-side
    paginated ``ListObjectsV2`` + basename glob (the reference's own
    listing loop, ``S3SourceContext.java:98-156``), object bodies
    fetched EXECUTOR-side via ``mapInPandas`` (Arrow-batched, one
    client per partition — the read twin of the sink's
    ``_s3_put_objects_boto3``). The listing is driver-side metadata
    bounded by the object count under the prefix — the same class of
    driver state as Spark's own file index. Streaming requires S3A
    (the file-stream checkpoint needs a Hadoop filesystem).

    ``manifestDir`` (batch only) works like the file source's: the
    processed-object log is anti-joined away, making the reference's
    per-JVM ``processedFiles`` set (``S3SourceContext.java:29-30``)
    DURABLE — a rerun skips objects a previous successful run already
    consumed, without deleting anything from the bucket (the
    reference's S3 source never deletes either)."""
    bucket, prefix = props["bucketName"], props.get("prefix", "")
    if not _s3a_on_classpath(spark):
        if streaming:
            raise ValueError(
                "s3 source in streaming mode requires the Hadoop S3A "
                "filesystem on the classpath (hadoop-aws); batch mode "
                "can fall back to boto3")
        try:
            import boto3  # noqa: F401 - optional
        except ImportError:
            raise ValueError(
                "s3 source: neither Hadoop S3A (hadoop-aws jar) nor "
                "boto3 is available in this environment") from None
        return _s3_source_boto3(spark, props)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if props.get("accessKey"):
        hconf.set("fs.s3a.access.key", props["accessKey"])
    if props.get("secretKey"):
        hconf.set("fs.s3a.secret.key", props["secretKey"])
    if props.get("endpoint"):
        hconf.set("fs.s3a.endpoint", props["endpoint"])
    path = f"s3a://{bucket}/{prefix}"
    # recursive: the reference lists EVERY key under the prefix
    # (ListObjectsV2 has no directory notion); without this the S3A
    # branch would silently skip "nested" objects the boto3 fallback
    # (and the reference) read. Residual divergence, documented: S3A
    # treats the prefix as a directory path, so a prefix matching a
    # SIBLING prefix by raw string ("data" vs "data-archive/...") lists
    # fewer objects here than raw ListObjectsV2 prefix matching —
    # reference-faithful behavior needs the boto3 path.
    df = _text_file_frame(spark, path, props.get("pattern"), streaming,
                          recursive=True)
    if not streaming and props.get("manifestDir"):
        df = manifest_filter(df, spark, props["manifestDir"])
    return df


def _s3a_on_classpath(spark: SparkSession) -> bool:
    """True if the JVM can load the S3A filesystem class."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:
        return False


def _s3_client_kwargs(props: dict) -> dict:
    kwargs = {}
    if props.get("accessKey"):
        kwargs["aws_access_key_id"] = props["accessKey"]
    if props.get("secretKey"):
        kwargs["aws_secret_access_key"] = props["secretKey"]
    if props.get("endpoint"):
        kwargs["endpoint_url"] = props["endpoint"]
    return kwargs


def _s3_source_boto3(spark: SparkSession, props: dict) -> DataFrame:
    """boto3-backed batch twin of the S3A whole-object read: same
    (source_file, file_type, content) shape, same ``s3a://`` URI
    spelling (so archiveDir/manifestDir bookkeeping and the sink's
    basename keying behave identically on either path).

    The listing is RAW ``ListObjectsV2`` prefix matching — exactly the
    reference's loop (``S3SourceContext.java:98-156``), so
    ``prefix=data`` also matches a ``data-archive/...`` sibling, by
    string. The S3A branch treats the prefix as a directory path and
    would not; use a trailing ``/`` in the prefix to get directory
    semantics on both paths.

    The listed keys become a local relation (``session.local_frame``):
    min(keys, defaultParallelism) partitions, so the ``mapInPandas``
    GETs run in the scan's own stage with no exchange in front. Only a
    ``manifestDir`` anti-join between the key list and the fetch
    re-spreads the surviving keys, since the join sets its own output
    partitioning.

    Credential posture (ADVICE r9, documented divergence): when the
    YAML supplies ``accessKey``/``secretKey`` they ride to executors
    inside the ``mapInPandas`` task closure — in-band, unlike the S3A
    branch which keeps them in Hadoop conf. Prefer OMITTING them in
    props: boto3 then resolves ambient credentials (instance profile /
    env / shared config) independently on each executor and nothing
    secret enters the closure. Explicit keys are for the
    moto-loopback tests and endpoint-override dev setups.

    Object bodies are decoded as UTF-8; a malformed body is decoded
    with replacement characters — the same result as the reference's
    ``new String(bytes, UTF_8)`` — but loudly, with a per-object
    executor-log warning instead of a silent mangle (ADVICE r9)."""
    import fnmatch
    import os.path

    bucket = props["bucketName"]
    prefix = (props.get("prefix") or "").lstrip("/")
    pattern = props.get("pattern")
    client_kwargs = _s3_client_kwargs(props)

    import boto3
    client = boto3.client("s3", **client_kwargs)
    keys = []
    for page in client.get_paginator("list_objects_v2").paginate(
            Bucket=bucket, Prefix=prefix):
        for obj in page.get("Contents", []):
            key = obj["Key"]
            if key.endswith("/"):
                continue  # zero-byte "directory" markers
            if pattern and not fnmatch.fnmatch(
                    os.path.basename(key), pattern):
                continue
            keys.append(key)
    keys.sort()

    kdf = local_frame(
        spark, [(f"s3a://{bucket}/{k}",) for k in keys], "source_file string")
    if props.get("manifestDir"):
        # anti-join the KEY frame, before any fetch: already-consumed
        # objects must not be re-downloaded on every run just to be
        # dropped afterwards (unbounded transfer growth on a long-
        # lived drop prefix)
        kdf = manifest_filter(kdf, spark, props["manifestDir"])
        if keys:
            # the join's output partitioning is not the local scan's:
            # spread the surviving keys over the fetch tasks again
            kdf = kdf.repartition(
                min(len(keys), spark.sparkContext.defaultParallelism))

    uri_prefix = f"s3a://{bucket}/"

    def fetch(batches):
        import logging

        import boto3
        import pandas as pd
        cl = boto3.client("s3", **client_kwargs)

        def decode(uri: str, body: bytes) -> str:
            try:
                return body.decode("utf-8")
            except UnicodeDecodeError as exc:
                # replacement matches the reference's
                # `new String(bytes, UTF_8)` result, but surface it:
                # a binary object landing on a text prefix is a
                # pipeline smell, not a normal row (ADVICE r9)
                logging.getLogger(__name__).warning(
                    "s3 object %s is not valid UTF-8 (%s); decoding "
                    "with replacement characters", uri, exc)
                return body.decode("utf-8", "replace")

        for pdf in batches:
            rows = [(uri,
                     decode(uri, cl.get_object(
                         Bucket=bucket,
                         Key=uri[len(uri_prefix):])["Body"].read()))
                    for uri in pdf["source_file"]]
            yield pd.DataFrame(rows, columns=["source_file", "content"])

    df = kdf.mapInPandas(fetch, "source_file string, content string")
    first_line = F.substring_index(F.col("content"), "\n", 1)
    df = df.select(
        "source_file",
        sniff_file_type(F.col("source_file"), first_line)
            .alias("file_type"),
        "content")
    # a mapInPandas plan has no inputFiles(); hand the engine's
    # consumed-file bookkeeping the listing this plan was built from
    # (one listing, one truth — the keys are literals in the plan, so
    # nothing can land between "what was read" and "what is recorded")
    df._udc_input_files = [f"s3a://{bucket}/{k}" for k in keys]
    return df
