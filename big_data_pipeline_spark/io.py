"""IO layer: table readers/writers and the latest-snapshot reader.

Covers the reference's source/sink inventory (SURVEY.md §2.1, S5-S13):
JSON scan, Parquet scan/sink, bucket truncate (= overwrite mode), and
the latest-file-per-key selection (``transform.py:11-24``,
``stock_predictor.py:21-28``) re-expressed as a window over Spark's
``_metadata`` hidden file columns — no driver-side object listing.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp columns whose physical parquet encoding has varied across
# corpus generations: TIMESTAMP(NANOS) (surfaces as int64 with
# spark.sql.legacy.parquet.nanosAsLong, session.py), or TIMESTAMP(MICROS)
# isAdjustedToUTC=false (surfaces as timestamp_ntz). Both are normalized
# to a session-TZ (UTC) µs timestamp — the same wall-clock value DuckDB
# produces, so oracle comparisons stay exact (FIXTURES.md).
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _normalize_ts(df: DataFrame, name: str) -> DataFrame:
    """Normalize ``name``'s ``_TS_COLS`` on a batch or streaming frame."""
    for col in _TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dt = dict(df.dtypes)[col]
        if dt == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dt == "timestamp_ntz":
            # ntz→timestamp reinterprets the wall-clock in the SESSION
            # timezone; oracle-exactness requires it to be UTC, which
            # session.py pins (spark.sql.session.timeZone=UTC). A caller
            # overriding the TZ via extra_conf would silently shift ts.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test-corpus table: ``{sf_dir}/{name}.parquet``."""
    return _normalize_ts(
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")), name
    )


def read_table_stream(spark: SparkSession, path: str, name: str) -> DataFrame:
    """File-stream source over ``name``'s parquet files at ``path``, a
    directory or a glob (FileStreamSource derives its base path from the
    non-glob prefix, so a single file must be globbed).

    Streaming scans need an explicit schema; one batch probe of the
    footers supplies it, so ``ts`` keeps whichever physical encoding the
    files carry and ``_normalize_ts`` maps it exactly as ``read_table``
    does. Raises ``AnalysisException`` ``UNABLE_TO_INFER_SCHEMA`` when
    ``path`` holds no parquet file yet.
    """
    schema = spark.read.parquet(path).schema
    return _normalize_ts(spark.readStream.schema(schema).parquet(path), name)


def read_json_records(
    spark: SparkSession,
    path: str,
    multiline: bool = True,
    keep_corrupt: bool = False,
) -> DataFrame:
    """JSON scan (S5). The reference stores whole JSON arrays per object
    (``stock_ingestor.py:37-43``) — ``multiLine=True`` reads those; flip it
    off for JSONL, the layout this engine writes at scale.

    ``keep_corrupt=True`` surfaces malformed records in a
    ``_corrupt_record`` column (PERMISSIVE mode) instead of silently
    nulling them — at 100 TB a quarantine column beats a failed job or
    silent data loss; route it to a dead-letter sink downstream.
    """
    reader = spark.read.option("multiLine", "true" if multiline else "false")
    if keep_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.json(path)


# Key under which Spark's parquet writer stores the row schema as JSON.
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """A data type's JSON with every field and element nullable, as a
    file-source read exposes it (Spark's ``asNullable``)."""
    if not isinstance(dt, dict):
        return dt  # an atomic type's name
    if dt["type"] == "struct":
        return {**dt, "fields": [
            {**f, "nullable": True, "type": _as_nullable(f["type"])} for f in dt["fields"]]}
    if dt["type"] == "array":
        return {**dt, "containsNull": True, "elementType": _as_nullable(dt["elementType"])}
    if dt["type"] == "map":
        return {**dt, "valueContainsNull": True, "keyType": _as_nullable(dt["keyType"]),
                "valueType": _as_nullable(dt["valueType"])}
    return dt


def _first_data_file(fs, path):
    """Depth-first first file under ``path`` that Spark reads as data:
    no component starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``,
    ``_temporary/``)."""
    for st in fs.listStatus(path):
        if st.getPath().getName().startswith(("_", ".")):
            continue
        if not st.isDirectory():
            return st.getPath()
        found = _first_data_file(fs, st.getPath())
        if found is not None:
            return found
    return None


def parquet_footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """Data schema of a Spark-written parquet layer, read from the footer
    of its first data file: no inference job. Partition columns are not
    in it, as they are not in the files.

    Goes through the session's Hadoop ``FileSystem`` and parquet-hadoop,
    so an ``s3a://`` lake works as a local one. Every file of one Spark
    write carries the same schema under ``_SPARK_ROW_METADATA``. A
    missing or empty layer raises what Spark's reader raises for it:
    ``AnalysisException`` ``PATH_NOT_FOUND`` or ``UNABLE_TO_INFER_SCHEMA``.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    data_file = _first_data_file(fs, root) if fs.exists(root) else None
    if data_file is None:
        return spark.read.parquet(path).schema  # raises; no files, no job
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(data_file, conf))
    try:
        meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
        row_schema = meta.get(_SPARK_ROW_METADATA)
    finally:
        reader.close()
    if row_schema is None:
        raise ValueError(f"{data_file.toString()} has no Spark schema in its footer")
    return T.StructType.fromJson(_as_nullable(json.loads(row_schema)))


def read_symbol_partitioned(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """Scan a ``symbol=<s>/``-partitioned lake layer in format ``fmt``
    with ``symbol`` kept a string: partition type inference reads
    ``symbol=0700`` as 700, so the layer is read with a schema that
    types ``symbol`` (that read infers nothing). The session-wide
    ``partitionColumnTypeInference`` switch would retype every read.
    Parquet data columns come from a file footer; JSON files carry no
    schema, so theirs are inferred (one job)."""
    if fmt == "parquet":
        data = parquet_footer_schema(spark, path)
    else:
        # The format's own method, not format().load: the inference job keeps
        # the "<fmt> at" name perfbench counts as io.schema_inference_jobs.
        data = getattr(spark.read, fmt)(path).schema
    schema = T.StructType([f for f in data if f.name != "symbol"]).add("symbol", "string")
    return getattr(spark.read.schema(schema), fmt)(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Parquet sink (S7/S9/S10). Partitioned directories replace the
    reference's ``{symbol}_processed_{ts}.parquet`` filename convention —
    partition pruning then comes free on read. ``compression`` picks the
    codec (snappy default; zstd trades ~10% CPU for ~30% smaller files —
    usually right at 100 TB where scans are IO-bound)."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        writer = writer.partitionBy(*cols)
    writer.parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema=None, header: bool = True
) -> DataFrame:
    """CSV scan. Explicit schema preferred (inference scans twice)."""
    reader = spark.read.option("header", "true" if header else "false")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — interchange with Hive-era warehouses."""
    df.write.mode(mode).orc(path)


def read_merged_schema(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet scan across files with EVOLVED schemas: mergeSchema
    unions all columns (absent ones read as null). The lake's answer to
    a pipeline adding columns over time without rewriting history."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def compact(
    spark: SparkSession, path: str, target_files: int, partition_by: str | list[str] | None = None
) -> None:
    """Small-file compaction: rewrite a directory into ``target_files``
    files (per partition if partitioned). Streaming/incremental appends
    accumulate small files whose per-file open cost eventually dominates
    scans; periodic compaction restores scan efficiency. Rewrites
    through a staging read so the operation is a single atomic
    overwrite."""
    df = spark.read.parquet(path).repartition(target_files).cache()
    df.count()  # materialize before overwriting the source
    write_parquet(df, path, partition_by=partition_by)
    df.unpersist()


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: str | list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leave the rest of the table untouched.

    The incremental-load upsert the reference fakes with
    truncate-and-reload (S12): a daily run writes just the partitions it
    recomputed. Retry-safe (rewriting the same partitions is
    idempotent) and at 100 TB the write cost scales with the delta, not
    the table.
    """
    cols = [partition_by] if isinstance(partition_by, str) else partition_by
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    n_buckets: int = 16,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled storage for co-located joins.

    Two tables bucketed on the same key with the same bucket count join
    with NO exchange on either side (verified in tests via plan
    inspection) — at 100 TB this converts every repeated fact-fact join
    on the bucket key from a full shuffle into a local zip of bucket
    files. ``sort_cols`` additionally pre-sorts within buckets, enabling
    shuffle-free *and* sort-free sort-merge joins.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else bucket_cols
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else sort_cols
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_audit_publish(
    df: DataFrame,
    path: str,
    checks: list,
    partition_by: str | list[str] | None = None,
) -> DataFrame:
    """Write-Audit-Publish: bad data never becomes visible.

    The three-step pattern warehouse pipelines use instead of writing
    straight to the serving path:

    1. WRITE the batch to a staging directory next to the target;
    2. AUDIT the staged files with the declarative expectation suite
       (`quality/expectations.run_expectations` — one aggregation pass
       over what was actually written, catching writer bugs too);
    3. PUBLISH by atomic directory rename iff every check passed —
       readers see the old data or the new data, never a half-write.

    Raises ``ValueError`` with the violation report if the audit fails;
    the staging directory is removed either way. Returns the audit
    report frame. At 100 TB the same pattern applies with a metastore
    partition-location swap or a table-format commit as step 3 — the
    invariant (validate staged, publish atomically) is unchanged; a
    directory rename is one metadata op on HDFS/local (on S3, prefer a
    manifest/table-format commit, since "rename" is a copy).
    """
    import shutil
    import uuid

    from big_data_pipeline_spark.quality.expectations import run_expectations

    spark = df.sparkSession
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    write_parquet(df, staging, partition_by=partition_by)
    try:
        staged = spark.read.parquet(staging)
        report = run_expectations(staged, checks)
        rows = report.collect()
        if any(not r.passed for r in rows):
            failed = [(r.check, r.violations) for r in rows if not r.passed]
            raise ValueError(f"audit failed, not publishing: {failed}")
        old = f"{path}__retired_{uuid.uuid4().hex[:8]}"
        target = Path(path)
        if target.exists():
            target.rename(old)
        Path(staging).rename(path)
        if Path(old).exists():
            shutil.rmtree(old)
    finally:
        if Path(staging).exists():
            shutil.rmtree(staging)
    return spark.createDataFrame(rows, report.schema)


def with_file_metadata(df: DataFrame) -> DataFrame:
    """Expose source file path + modification time as columns.

    Spark-native replacement for the reference's ``list_objects_v2``
    metadata scan (S6, ``transform.py:13``).
    """
    return df.withColumns(
        {
            "_file_path": F.col("_metadata.file_path"),
            "_file_mtime": F.col("_metadata.file_modification_time"),
        }
    )


def latest_snapshot(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keep only rows from the newest file per key (A7, greatest-n-per-group).

    Re-expresses ``transform.py:11-24`` (``get_latest_files``): instead of
    a driver-side loop over object listings, rank files by modification
    time within each key partition and keep rank 1. Runs as a single
    window over the scan; scales to any number of files.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.desc("_file_mtime"), F.desc("_file_path"))
    return (
        with_file_metadata(df)
        .withColumn("_file_rank", F.dense_rank().over(w))
        .filter(F.col("_file_rank") == 1)
        .drop("_file_rank", "_file_path", "_file_mtime")
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: str | list[str],
    partition_by: str | list[str] | None = None,
) -> None:
    """Row-level MERGE (SCD-1 upsert) into a parquet table without a
    table format: new keys insert, existing keys take the update's row.

    Implementation is anti-join + union + rewrite: keep every target
    row whose key is NOT in the updates (left_anti on the key — semi
    shuffle of keys only), union the updates, write back. With
    ``partition_by`` the rewrite uses dynamic partition overwrite, so
    only partitions TOUCHED BY THE UPDATES are rewritten — the honest
    parquet-level equivalent of Delta/Iceberg MERGE INTO, with write
    cost scaling in the delta's partitions, not the table. Without a
    partitioning the whole table rewrites (documented cost of
    format-less merge).

    The union is checkpointed before the overwrite because the plan
    READS the same files the write replaces — lazy evaluation would
    otherwise delete its own input mid-scan.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    target = spark.read.parquet(target_path)
    if partition_by is not None:
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        # touched partitions = those the updates land in PLUS those the
        # updated keys currently live in — a key whose partition value
        # changes must have its OLD partition rewritten too, or the
        # stale copy survives the dynamic overwrite as a duplicate
        old_parts = (
            target.join(updates.select(*keys).distinct(), keys, "left_semi")
            .select(*parts)
            .distinct()
        )
        touched = updates.select(*parts).distinct().unionByName(old_parts).distinct()
        touched = touched.localCheckpoint()
        target = target.join(F.broadcast(touched), parts, "left_semi")
    merged = (
        target.join(updates.select(*keys), keys, "left_anti")
        .unionByName(updates)
        .localCheckpoint()
    )
    if partition_by is not None:
        overwrite_partitions(merged, target_path, partition_by)
    else:
        merged.write.mode("overwrite").parquet(target_path)


def _interleave_bits(idxs: list[Column], bits: int) -> Column:
    key = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for i in idxs:
            key = F.shiftleft(key, 1) + F.shiftright(i, b).bitwiseAND(1)
    return key


def _zorder_check(cols: list[str], bits: int) -> None:
    if len(cols) * bits > 63:
        raise ValueError(
            f"z-order key needs {len(cols) * bits} bits but a signed long "
            "holds 63 — lower `bits` (e.g. bits=15 supports 4 columns) so "
            "the interleaved key cannot overflow into the sign bit and "
            "tear the curve"
        )


def with_zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 15,
    out_col: str = "_zkey",
    tiebreak_cols: list[str] | None = None,
    shards: int = 64,
) -> DataFrame:
    """Append a Z-order (Morton) key over numeric columns: each value is
    ranked into a ``bits``-wide bucket index, then the bit planes are
    interleaved. Rows close in the key are close in EVERY dimension, so
    sorting by it gives parquet row-groups tight min/max ranges on all
    participating columns at once — multi-column data skipping from one
    sort, where a lexicographic sort only prunes the leading column.

    Ranks come from the sharded prefix sum (operators/prefix.py), NOT a
    global-order window — a global percent_rank funnels the whole table
    through one task, which is exactly the bottleneck a layout rewrite
    of a 100 TB table cannot afford. Cost: one bounded quantile probe +
    one shuffle per key column, all ``shards``-way parallel.

    ``tiebreak_cols`` (default: none needed when each col is unique)
    deterministically orders equal values; equal values only ever land
    in the same or adjacent rank buckets either way.
    """
    _zorder_check(cols, bits)
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    # Guard the empty frame: n=0 would divide by zero in the bucket
    # index (an ANSI error under Spark 4). The count itself is the one
    # unavoidable extra action — rank→bucket needs the global row count.
    n = df.count()
    if n == 0:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    out = df
    for c in cols:
        out = sharded_running_sum(
            out,
            [],
            c,
            F.lit(1),
            f"__rn_{c}",
            shards=shards,
            tiebreak_cols=tiebreak_cols,
        )
    idxs = [
        F.least(
            F.floor((F.col(f"__rn_{c}") - 1) * (1 << bits) / F.lit(n)).cast(
                "long"
            ),
            F.lit((1 << bits) - 1),
        )
        for c in cols
    ]
    return out.withColumn(out_col, _interleave_bits(idxs, bits)).drop(
        *[f"__rn_{c}" for c in cols]
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 15,
    tiebreak_cols: list[str] | None = None,
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols``.

    ``repartitionByRange`` on the key splits the curve into contiguous
    segments (one per output file) and sorts within each — every file
    covers a compact hyper-rectangle of the column space.
    """
    keyed = with_zorder_key(df, cols, bits, "_zkey", tiebreak_cols)
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def build_file_stats_index(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Manifest-style file-skipping index: per-file row count + min/max
    for ``cols`` (the Delta/Iceberg add-file stats pattern, engine-side).

    Built with one column-pruned scan grouped by ``_metadata.file_path``
    — map-side combinable, output is |files| rows (metadata-sized). At
    100 TB the index is computed once per ingest/compaction and stored
    next to the data; queries consult it instead of listing+footer-
    probing every file. Pairs with ``zorder_write``: clustering is what
    makes per-file ranges tight enough to skip.
    """
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("file"), *cols)
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    )


def read_with_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    index: DataFrame | None = None,
):
    """Range read that opens ONLY files whose [min, max] envelope
    intersects [lo, hi], per the stats index (built on the fly if not
    supplied — callers at scale pass the persisted index).

    Returns ``(df, n_files_read, n_files_total)`` so callers/tests can
    assert skipping actually happened. The surviving-file list is a
    driver-side collect of METADATA (|files| strings — same budget
    class as Spark's own file listing), never row data. The residual
    predicate is still applied (and pushed to the parquet scan) because
    envelopes overapproximate.
    """
    idx = index if index is not None else build_file_stats_index(spark, path, [col])
    files = [r["file"] for r in idx.select("file").collect()]
    keep = [
        r["file"]
        for r in idx.filter(
            ~((F.col(f"max_{col}") < lo) | (F.col(f"min_{col}") > hi))
        )
        .select("file")
        .collect()
    ]
    if not keep:
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty, 0, len(files)
    df = (
        spark.read.parquet(*keep)
        .filter((F.col(col) >= lo) & (F.col(col) <= hi))
    )
    return df, len(keep), len(files)


def write_versioned(df: DataFrame, path: str) -> int:
    """Append-only versioned snapshots with an atomic latest pointer —
    time-travel-lite (the table-format commit pattern without a
    metastore): each write lands in ``path/v=N`` (N monotonically
    increasing), then ``path/_LATEST`` is atomically replaced to point
    at it. Readers pinned to a version see immutable data forever;
    readers of "latest" flip from N-1 to N in one metadata op and never
    observe a half-written snapshot (the pointer moves only after the
    snapshot write completes). Returns the new version number.

    Retention is the caller's policy: old ``v=K`` directories stay
    readable until explicitly vacuumed with ``vacuum_versions``. At
    100 TB this is exactly the Delta/Iceberg commit discipline —
    snapshot dirs are the data files, ``_LATEST`` is the (single-writer)
    commit log; swap in a real table format for multi-writer commits.
    """
    import os
    import tempfile

    import re

    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    # next version clears BOTH the committed pointer and any orphaned
    # uncommitted snapshot dir a dead writer left behind
    on_disk = [
        int(m.group(1))
        for p in root.iterdir()
        if (m := re.fullmatch(r"v=(\d+)", p.name))
    ]
    version = max([latest_version(path), *on_disk], default=0) + 1
    df.write.mode("errorifexists").parquet(str(root / f"v={version}"))
    fd, tmp = tempfile.mkstemp(dir=path, prefix="_LATEST_")
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, str(root / "_LATEST"))
    # commit log: lets vacuum distinguish once-committed snapshots from
    # orphans a dead writer abandoned below the pointer. Appended AFTER
    # the pointer move; if the append itself dies, _LATEST remains
    # authoritative (vacuum unions it in).
    with (root / "_COMMITS").open("a") as f:
        f.write(f"{version}\n")
    return version


def latest_version(path: str) -> int:
    """Current committed version per the pointer; 0 if none committed.
    Uncommitted ``v=K`` dirs (a writer died before moving the pointer)
    are invisible, exactly like an uncommitted table-format snapshot."""
    marker = Path(path) / "_LATEST"
    if not marker.exists():
        return 0
    return int(marker.read_text().strip())


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot (``version=N``) or the committed latest."""
    v = latest_version(path) if version is None else version
    if v <= 0:
        raise ValueError(f"no committed version at {path}")
    return spark.read.parquet(str(Path(path) / f"v={v}"))


def vacuum_versions(path: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` committed snapshots (never the
    current one), plus any dead orphan below the pointer — a ``v=K``
    dir that never appears in the ``_COMMITS`` log (its writer died
    before moving ``_LATEST``) and that a later commit has passed
    (``K < current``). Orphans ABOVE the pointer are left alone: a
    writer may be mid-write there right now, and the next committed
    write passes them anyway, at which point they become vacuumable.
    ``keep`` must be >= 1 (the current snapshot is never dropped);
    pre-log layouts with no ``_COMMITS`` treat every dir <= current as
    committed. Returns the removed version numbers.
    """
    import re
    import shutil

    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    root = Path(path)
    cur = latest_version(path)
    commits_log = root / "_COMMITS"
    committed: set[int] | None = None
    if commits_log.exists():
        committed = {
            int(line) for line in commits_log.read_text().split() if line
        } | ({cur} if cur else set())
    on_disk = sorted(
        int(m.group(1))
        for p in root.iterdir()
        if (m := re.fullmatch(r"v=(\d+)", p.name)) and int(m.group(1)) <= cur
    )
    if committed is None:
        snapshots, orphans = on_disk, []
    else:
        snapshots = [v for v in on_disk if v in committed]
        orphans = [v for v in on_disk if v not in committed]
    drop = sorted(
        {v for v in snapshots[:-keep] if v != cur} | set(orphans)
    )
    for v in drop:
        shutil.rmtree(str(root / f"v={v}"))
    return drop


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose every corpus table present in ``sf_dir`` as a temp view so
    ad-hoc ``spark.sql`` works against the lake by name — the EP3
    programmatic surface for users who think in SQL. Returns the
    registered names. Views are lazy scans; all pushdown/pruning
    applies as if the DataFrame API had been used."""
    registered = []
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            spark.read.parquet(str(p)).createOrReplaceTempView(t)
            registered.append(t)
    return registered


def cascade_delete(
    spark: SparkSession,
    paths: list[str],
    key_col: str,
    keys_df: DataFrame,
) -> list[tuple[str, int]]:
    """Right-to-be-forgotten propagation: remove every row whose
    ``key_col`` appears in ``keys_df`` from each parquet layer in
    ``paths``, atomically per layer. Returns ``(path, n_deleted)``.

    Mechanics per layer: broadcast anti-join against the (small) key
    set — the 100 TB shape: the delete set is always tiny relative to
    the table, so no shuffle of the table side — then a swap-in of the
    rewritten layer. The swap is TWO renames (path → __retired_*, then
    staging → path), not one atomic op: a crash between them leaves the
    layer missing at its expected path with the pre-delete data parked
    in the __retired_* dir, and a concurrent reader can hit
    FileNotFound inside that window (single-writer, no-concurrent-
    reader discipline — same as write_versioned). The next call
    self-heals before touching the layer: a missing path with a
    leftover __retired_* sibling is rolled BACK (retired → path, the
    conservative choice — the delete then simply reapplies, it is
    idempotent), and stale __gdpr_* staging dirs are removed. Layers
    that lack ``key_col`` are skipped with a count of -1 (caller
    decides if that's an error). On a partitioned layout, pair with
    ``overwrite_partitions`` to rewrite only the partitions containing
    hits; a table format (Delta/Iceberg) would turn the rewrite into an
    actually-atomic commit of delete files — the anti-join semantics
    are identical.
    """
    import shutil
    import uuid

    keys = keys_df.select(F.col(key_col)).distinct()
    out: list[tuple[str, int]] = []
    for path in paths:
        _recover_cascade_state(path)
        df = spark.read.parquet(path)
        if key_col not in df.columns:
            out.append((path, -1))
            continue
        before = df.count()
        kept = df.join(F.broadcast(keys), key_col, "left_anti")
        staging = f"{path}__gdpr_{uuid.uuid4().hex[:8]}"
        kept.write.parquet(staging)
        n_kept = spark.read.parquet(staging).count()
        old = f"{path}__retired_{uuid.uuid4().hex[:8]}"
        Path(path).rename(old)
        Path(staging).rename(path)
        shutil.rmtree(old)
        out.append((path, before - n_kept))
    return out


def _recover_cascade_state(path: str) -> None:
    """Heal a layer a crashed ``cascade_delete`` left mid-swap: roll a
    missing path back to its ``__retired_*`` snapshot (pre-delete data;
    the idempotent delete reapplies on the rerun) and drop stale
    ``__gdpr_*`` staging dirs from dead writers."""
    import shutil

    p = Path(path)
    parent, name = p.parent, p.name
    if not parent.exists():
        return
    retired = sorted(parent.glob(f"{name}__retired_*"))
    if not p.exists() and retired:
        retired[0].rename(p)
        retired = retired[1:]
    # anything left over is garbage from a completed or rolled-back run
    for d in retired:
        shutil.rmtree(str(d))
    for d in parent.glob(f"{name}__gdpr_*"):
        shutil.rmtree(str(d))
