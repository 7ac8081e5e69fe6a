"""Dedup clustering workload: connected components over Jaccard pairs.

The Spark side runs the one connected-components operator
(dedup/clusters.py: driver solve at or below its edge budget, the
large-star/small-star loop above it); the DuckDB oracle computes the
same components with a recursive CTE — two different algorithms that
must agree cell-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.dedup.clusters import connected_components
from big_data_pipeline_spark.workloads.text import (
    _JACCARD_THRESHOLD,
    _TOKS_SQL,
    shingle_jaccard_pairs,
)


def dedup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = shingle_jaccard_pairs(spark, sf_dir).select("doc_id1", "doc_id2")
    return connected_components(pairs, "doc_id1", "doc_id2").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


_CLUSTERS_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_id1, doc_id2
  FROM inter
  JOIN sizes s1 ON s1.doc_id = doc_id1
  JOIN sizes s2 ON s2.doc_id = doc_id2
  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common)
        >= {_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
  UNION
  SELECT doc_id2 AS a, doc_id1 AS b FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY id
"""


QUERIES = {
    "dedup_cluster_assignments": dedup_cluster_assignments,
    # same operator as above; the name stays because benchmark/sweep
    # artifacts and the registry priority list key on it
    "dedup_cluster_star": dedup_cluster_assignments,
}
ORACLE = {
    "dedup_cluster_assignments": _CLUSTERS_SQL,
    "dedup_cluster_star": _CLUSTERS_SQL,
}
