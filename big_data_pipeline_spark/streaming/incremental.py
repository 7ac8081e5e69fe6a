"""Incremental ingest→transform: the streaming version of the batch
pipeline's first two stages.

The reference achieves "freshness" by clearing every bucket and
reprocessing the full 30-day window daily (SURVEY.md §2.9, S12). The
Spark-native semantics is a checkpointed file stream: each run picks up
ONLY raw files that arrived since the last run — same results,
incremental cost. ``trigger(availableNow=True)`` gives batch-style
runs (drain everything new, then stop) that a daily scheduler can
invoke exactly like the reference's DAG, with the checkpoint replacing
the truncate.

It streams the raw layer ``pipeline.ingest`` writes (JSONL under
``raw/symbol=<s>/``, suffixed columns such as ``Close_AAPL``) through
the batch ``transform``'s ``normalize_schema``. ``foreachBatch`` bridges
to the batch IO layer so the processed lake keeps the identical layout
(symbol-partitioned parquet) whether it was written by the batch or the
incremental path.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_symbol_partitioned
from big_data_pipeline_spark.schema import normalize_schema


def incremental_transform(
    spark: SparkSession,
    raw_dir: str,
    processed_dir: str,
    checkpoint_dir: str,
) -> int:
    """Drain new raw JSONL files into the processed parquet layer.

    Returns the number of micro-batches executed (0 = nothing new).

    End-to-end idempotence: the checkpoint makes the SOURCE exactly-once
    (each raw file is consumed in exactly one batch id), and the sink
    writes each batch under its own ``ingest_batch=<id>`` partition with
    DYNAMIC overwrite — a crashed-then-retried batch rewrites exactly
    its own partitions instead of appending duplicates (foreachBatch
    alone is at-least-once; a blind append would double rows on
    retry). Readers see ``ingest_batch`` as an ordinary partition
    column and can ignore it.

    The stream's schema comes from a batch read of all of ``raw_dir`` on
    every drain, so a symbol first arriving between drains is picked up.
    """
    try:
        schema = read_symbol_partitioned(spark, raw_dir, "json").schema
    except AnalysisException as e:
        if e.getCondition() in ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"):
            return 0
        raise
    normalized = normalize_schema(spark.readStream.schema(schema).json(raw_dir))

    n_batches = 0

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        (
            batch_df.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch", "symbol")
            .parquet(processed_dir)
        )

    q = (
        normalized.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches
