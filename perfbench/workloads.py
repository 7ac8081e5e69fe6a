"""The benchmark's workloads: generated inputs, operations, output checks.

An *operation* is one registry query (``fn(spark, corpus_dir)`` built, then
its result collected) or one full daily run of the stock pipeline under the
retry scheduler. Each operation's output is checked after its timed window
closes: registry results against the query's DuckDB oracle twin, pipeline
predictions against the exact-rational twin. An exception, a mismatch or a
scheduler retry makes the operation a failure.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import gen
from tools.check_oracle import _canon_rows, _type_mismatches

# Input scale of the registry workloads: 100,000 events from 1,500 users.
# The drains' state work grows with it (a warm pass takes about 7.5 s at
# sf0.01 and 10 s at sf0.1 on 4 cores), so at sf0.01 fixed per-query
# start-up and commit costs would hide a state-store change.
CORPUS_SF = 0.1

REGISTRY = {
    # availableNow drains during build: state store, commit, sinks. An odd
    # query count keeps the pooled median on one query's samples.
    "stream_drains": (
        "stream_stateful_user_stats", "stream_click_purchase_attribution",
        "stream_dedup_exact",
    ),
}
STOCK_SYMBOLS = 4
STOCK_BARS = 500

BUILD_GROUP = "perfbench.build"
EXEC_GROUP = "perfbench.exec"
PIPELINE_STAGES = ("ingest", "transform", "combine", "predict")


@dataclass
class OpResult:
    name: str
    build_s: float
    exec_s: float
    error: str | None = None
    layers: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


class RegistryWorkload:
    """Registry queries over a generated corpus, one permutation per seed."""

    # The first pass is 2-3x slower than a warm one; at sf0.1 the second is
    # within 10% of later ones, which each query's median over its timed
    # runs absorbs.
    warmup_passes = 1

    def __init__(self, name: str, work: str, seed: int) -> None:
        import __spark_entry__

        self.name = name
        self.corpus = os.path.join(work, "corpus")
        self.rows = gen.generate(self.corpus, CORPUS_SF, seed)
        registry, oracle = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        self.fns = {q: registry[q] for q in REGISTRY[name]}
        self.order = list(REGISTRY[name])
        random.Random(seed).shuffle(self.order)
        self.expected = self._oracle({q: oracle[q] for q in self.order})

    def _oracle(self, sql: dict[str, str]) -> dict:
        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for q, text in sql.items():
                rel = con.sql(text)
                cols, types = list(rel.columns), list(rel.types)
                out[q] = (cols, types, _canon_rows(cols, rel.fetchall()))
            return out
        finally:
            con.close()

    def inputs(self) -> dict:
        return {"sf": CORPUS_SF, "rows": self.rows, "order": self.order}

    def run_op(self, spark, q: str) -> tuple[OpResult, object]:
        sc = spark.sparkContext
        build_s = exec_s = 0.0
        sc.setJobGroup(BUILD_GROUP, q)
        t0 = time.perf_counter()
        try:
            df = self.fns[q](spark, self.corpus)
            t1 = time.perf_counter()
            build_s = t1 - t0
            sc.setJobGroup(EXEC_GROUP, q)
            rows = df.collect()
            exec_s = time.perf_counter() - t1
        except Exception as e:  # noqa: BLE001 - a failing op is a result
            elapsed = time.perf_counter() - t0
            return OpResult(q, build_s, elapsed - build_s, f"raised {e!r:.300}"), None
        return OpResult(q, build_s, exec_s), (df, rows)

    def check(self, q: str, output) -> str | None:
        """The local oracle gate's rules: same columns, type classes and
        order-insensitive, exact cell values."""
        df, rows = output
        cols, types, (canon_cols, canon) = self.expected[q]
        got_cols, got = _canon_rows(df.columns, rows)
        if got_cols != canon_cols:
            return f"columns {got_cols} != oracle {canon_cols}"
        bad = _type_mismatches(df.columns, df.dtypes, cols, types)
        if bad:
            return f"column types differ from the oracle: {bad}"
        if len(got) != len(canon):
            return f"{len(got)} rows != oracle {len(canon)}"
        if got != canon:
            return f"values differ in {sum(a != b for a, b in zip(got, canon))} rows"
        return None

    def exec_groups(self) -> dict[str, str | None]:
        return {EXEC_GROUP: None}

    def op_layers(self, op: OpResult, output) -> dict:
        return {"workloads.build_s": op.build_s, "exec.exec_s": op.exec_s}


class StockWorkload:
    """The daily pipeline run, repeated over one lake it overwrites."""

    name = "stock_pipeline"
    order = ["pipeline"]
    # Pipeline runs keep speeding up for several runs after the first
    # (measured over 20 runs: 12-14 s, 3.2-4.3 s, 2.7-3.7 s, 2.3-3.5 s, then
    # flat from the fifth or sixth); timing earlier runs would make the
    # median depend on how many runs fit in the window.
    warmup_passes = 5

    def __init__(self, work: str, seed: int) -> None:
        from big_data_pipeline_spark.pipeline import PipelineConfig
        from big_data_pipeline_spark.workloads.pipeline_flagship import (
            _exact_rational_prediction,
        )

        symbols = tuple(f"S{i:03d}" for i in range(STOCK_SYMBOLS))
        self.cfg = PipelineConfig(
            base_dir=os.path.join(work, "lake"), symbols=symbols,
            periods=STOCK_BARS, seed=seed)
        self.expected = sorted(
            _exact_rational_prediction(s, STOCK_BARS, seed) for s in symbols)

    def inputs(self) -> dict:
        return {"symbols": STOCK_SYMBOLS, "bars": STOCK_BARS, "seed": self.cfg.seed}

    def run_op(self, spark, q: str) -> tuple[OpResult, object]:
        from big_data_pipeline_spark import pipeline
        from big_data_pipeline_spark.scheduler import RetryPolicy, run_pipeline_with_retries

        sc = spark.sparkContext
        originals = {s: getattr(pipeline, s) for s in PIPELINE_STAGES}

        def grouped(stage):
            def run(*args, **kwargs):
                sc.setJobGroup(f"perfbench.{stage}", stage)
                return originals[stage](*args, **kwargs)
            return run

        for s in PIPELINE_STAGES:
            setattr(pipeline, s, grouped(s))
        t0 = time.perf_counter()
        try:
            report = run_pipeline_with_retries(
                spark, self.cfg, RetryPolicy(retries=1, retry_delay_sec=0.0))
        except Exception as e:  # noqa: BLE001 - a failing op is a result
            return OpResult(q, 0.0, time.perf_counter() - t0, f"raised {e!r:.300}"), None
        finally:
            for s, fn in originals.items():
                setattr(pipeline, s, fn)
        elapsed = time.perf_counter() - t0
        failed = [r for r in report.runs if not r.succeeded]
        retried = [r.name for r in report.runs if r.attempts > 1]
        if failed:
            error = f"stage {failed[0].name} failed: {failed[0].error}"
        elif retried:
            error = f"scheduler retried {retried}"
        else:
            error = None
        return OpResult(q, 0.0, elapsed, error), report

    def check(self, q: str, report) -> str | None:
        got = sorted(
            (r["symbol"], r["predicted_close"], r["last_date"], r["mse"])
            for r in pq.read_table(self.cfg.layer("predictions")).to_pylist())
        if got != self.expected:
            diff = [g for g, e in zip(got, self.expected) if g != e][:1]
            return f"predictions differ from the exact twin: {diff or got[:1]}"
        return None

    def exec_groups(self) -> dict[str, str | None]:
        """Job group of each stage, and the metric counting its jobs."""
        return {f"perfbench.{s}": f"pipeline.{s}_jobs" if s in ("ingest", "transform")
                else None for s in PIPELINE_STAGES}

    def op_layers(self, op: OpResult, report) -> dict:
        out = {"workloads.build_s": 0.0, "exec.exec_s": op.exec_s}
        if report is not None:
            for r in report.runs:
                out[f"pipeline.{r.name}_s"] = r.elapsed_sec
            out["scheduler.attempts"] = sum(r.attempts for r in report.runs)
        nbytes = nfiles = 0
        for layer in ("raw", "processed", "combined", "predictions"):
            for dirpath, _, files in os.walk(self.cfg.layer(layer)):
                for f in files:
                    if not f.startswith((".", "_")):
                        nfiles += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, f))
        out["io.bytes_written"] = nbytes
        out["io.files_written"] = nfiles
        return out


def make(name: str, work: str, seed: int):
    if name == StockWorkload.name:
        return StockWorkload(work, seed)
    return RegistryWorkload(name, work, seed)


NAMES = (StockWorkload.name, *REGISTRY)
