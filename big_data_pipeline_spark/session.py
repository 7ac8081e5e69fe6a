"""SparkSession factory with scale-oriented defaults.

Mirrors the connection-configuration role of the reference's
``minio_utils.get_minio_client`` (reference ``scripts/minio_utils.py:5-18``):
one place that knows how to reach storage and how the engine should be
tuned. Local tests run on ``local[N]``; on a real cluster the same
builder config applies unchanged (master comes from spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Centralized tuning (SURVEY.md §7.1): AQE on so skew/shuffle sizing
# adapts at runtime; shuffle partitions sized for local runs via env,
# large clusters override with --conf.
_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (applyInPandas/mapInPandas/toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python workers skip re-reading unchanged zip archives per task
    # (worker_daemon.py): ~0.2 s per Python task wave on CPython 3.11.
    "spark.python.daemon.module": "big_data_pipeline_spark.worker_daemon",
    # Parquet: vectorized reader + pushdown are on by default; keep
    # explicit so a misconfigured cluster can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Broadcast threshold: dims like region/nation/supplier must never
    # shuffle-join. 64 MB is safe given 100 TB fact tables alongside.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Timestamps in test parquet are ns; Spark stores µs — truncate, don't error.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Spark 4 refuses TIMESTAMP(NANOS) parquet outright; read the raw
    # int64 instead and let io.read_table truncate to µs (matching how
    # DuckDB/pyarrow downcast ns — see FIXTURES.md events.ts note).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Managed-table location for bucketed tables (io.write_bucketed);
    # keep out of the repo working directory.
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
    ),
}


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
) -> dict[str, str]:
    """S3-compatible object-store config (MinIO et al.).

    Spark-side equivalent of the reference's boto3 client setup
    (``scripts/minio_utils.py:5-18``: endpoint override + s3v4 signing +
    env-var credentials). Credentials default to the standard
    ``AWS_ACCESS_KEY_ID``/``AWS_SECRET_ACCESS_KEY`` env vars.
    """
    conf: dict[str, str] = {}
    endpoint = endpoint or os.environ.get("S3_ENDPOINT")
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if path_style:
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    # Magic committer: direct task-attempt writes, no slow rename-based
    # commit on object stores (matters enormously at 100 TB).
    conf["spark.hadoop.fs.s3a.committer.name"] = "magic"
    return conf


def get_spark(
    app_name: str = "big-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    manager supplied one; on a real cluster leave it unset.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
