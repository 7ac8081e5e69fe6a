"""Per-layer metrics, read from outside the program after each operation.

Sources, all stock Spark instrumentation:
- ``statusTracker`` job groups, which the benchmark sets around each phase
  (``build``/``exec`` of a registry query, the four stages of a pipeline run);
- the localhost UI REST API: ``/jobs/<id>``, ``/stages/<id>`` and
  ``/sql/<id>?details=true``;
- a ``StreamingQueryListener`` the benchmark registers.

Nothing here runs inside an operation's timed window.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

# Physical plan nodes that hand rows to a Python worker.
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval")
# A reader's schema-inference job is named after its call site; a writer's
# job carries the same name but runs inside a SQL execution.
_INFERENCE_JOB = re.compile(r"^(parquet|json) at ")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_number(text: str) -> int:
    """Parse a SQL UI metric value: ``"1,234"``, ``"10.0 MiB"`` or the
    ``"total (min, med, max ...)\\n10.0 MiB (...)"`` form (first figure)."""
    lines = text.strip().splitlines()
    head = lines[-1] if lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([0-9.,]+)\s*([KMGT]?i?B)?", head)
    if not m:
        return 0
    return round(float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1))


class _DrainListener(StreamingQueryListener):
    """Collects streaming progress; callbacks arrive on a Py4J thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout_s: float = 5.0) -> tuple[int, list[dict]]:
        """Wait until every started query's events arrived, then hand over
        and reset what was collected since the last call."""
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out = (self.started, self.progress)
            self.started, self.terminated, self.progress = 0, 0, []
        return out


class Tracer:
    """Reads one operation's layer metrics after its timed window closed."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.listener = _DrainListener()
        spark.streams.addListener(self.listener)
        self._sql_seen = 0
        self._job_seen = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call. Job ids only grow and one op
        runs at a time, so this also catches streaming micro-batch jobs,
        which run under the query's own job group."""
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._job_seen]
        self._job_seen = max([self._job_seen] + [j["jobId"] for j in jobs])
        return jobs

    def _new_sql_executions(self) -> list[dict]:
        rows = self._get(f"/sql?details=false&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(rows)
        return rows

    def collect(self, exec_groups: dict[str, str | None]) -> dict:
        """Layer metrics of every job run since the previous call.

        Jobs under the ``exec_groups`` keys are the served plan; all others
        ran while the DataFrame was built (collects, checkpoints, streaming
        drains). A group mapped to a metric name gets its jobs counted there.
        """
        jobs = self._new_jobs()
        executions = self._new_sql_executions()
        sql_jobs = {i for ex in executions
                    for i in ex.get("successJobIds", []) + ex.get("failedJobIds", [])}
        groups = [j.get("jobGroup") for j in jobs]
        out = {
            "workloads.build_jobs": sum(1 for g in groups if g not in exec_groups),
            "exec.jobs": sum(1 for g in groups if g in exec_groups),
            "io.schema_inference_jobs": sum(
                1 for j in jobs
                if _INFERENCE_JOB.match(j.get("name", "")) and j["jobId"] not in sql_jobs),
        }
        for g, metric in exec_groups.items():
            if metric:
                out[metric] = groups.count(g)
        # Stage counters cover the served plan only; build-phase work shows
        # in workloads.build_* and, for streaming drains, in streaming.*.
        exec_jobs = {j["jobId"] for j in jobs if j.get("jobGroup") in exec_groups}
        stage_ids = sorted({s for j in jobs if j["jobId"] in exec_jobs for s in j["stageIds"]})
        acc = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
             "shuffle_read", "shuffle_write", "spill"), 0)
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}?details=false"):
                if att.get("status") == "SKIPPED" or not att.get("numTasks"):
                    continue
                acc["stages"] += 1
                acc["tasks"] += att.get("numCompleteTasks", 0) + att.get("numFailedTasks", 0)
                acc["failed_tasks"] += att.get("numFailedTasks", 0)
                acc["run_ms"] += att.get("executorRunTime", 0)
                acc["cpu_ns"] += att.get("executorCpuTime", 0)
                acc["gc_ms"] += att.get("jvmGcTime", 0)
                acc["shuffle_read"] += att.get("shuffleReadBytes", 0)
                acc["shuffle_write"] += att.get("shuffleWriteBytes", 0)
                acc["spill"] += att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
        out.update({
            "exec.stages": acc["stages"],
            "exec.tasks": acc["tasks"],
            "exec.failed_tasks": acc["failed_tasks"],
            "exec.executor_run_s": acc["run_ms"] / 1e3,
            "exec.executor_cpu_s": acc["cpu_ns"] / 1e9,
            "exec.gc_s": acc["gc_ms"] / 1e3,
            "exec.shuffle_read_bytes": acc["shuffle_read"],
            "exec.shuffle_write_bytes": acc["shuffle_write"],
            "exec.spill_bytes": acc["spill"],
        })
        out.update(self._plan_metrics(executions, exec_jobs, {j["jobId"] for j in jobs}))
        out.update(self._stream_metrics())
        return out

    def _plan_metrics(self, executions: list[dict], exec_jobs: set[int],
                      op_jobs: set[int]) -> dict:
        """Scan and exchange-reuse counters of the served plan, and Python
        crossings of every executed plan of the op (build-phase collects and
        checkpoints cross into Python too)."""
        acc = dict.fromkeys(
            ("exec.scan_rows", "exec.scan_bytes", "exec.scan_nodes",
             "exec.reused_exchanges", "udf.python_nodes", "udf.bytes_to_python",
             "udf.bytes_from_python", "udf.rows_from_python"), 0)
        for ex in executions:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & op_jobs:
                continue
            served = bool(ran & exec_jobs)
            detail = self._get(f"/sql/{ex['id']}?details=true&planDescription=false")
            for node in detail.get("nodes", []):
                name = node.get("nodeName", "")
                metrics = {m["name"]: _metric_number(m["value"]) for m in node.get("metrics", [])}
                if served and name.startswith("Scan "):
                    acc["exec.scan_nodes"] += 1
                    acc["exec.scan_rows"] += metrics.get("number of output rows", 0)
                    acc["exec.scan_bytes"] += metrics.get("size of files read", 0)
                elif served and name.startswith("ReusedExchange"):
                    acc["exec.reused_exchanges"] += 1
                elif _PYTHON_NODE.search(name):
                    acc["udf.python_nodes"] += 1
                    acc["udf.bytes_to_python"] += metrics.get("data sent to Python workers", 0)
                    acc["udf.bytes_from_python"] += metrics.get("data returned from Python workers", 0)
                    acc["udf.rows_from_python"] += metrics.get("number of output rows", 0)
        return acc

    def _stream_metrics(self) -> dict:
        drains, progress = self.listener.drain()
        last_state: dict[str, list[dict]] = {}
        out = {
            "streaming.drains": drains,
            "streaming.batches": len(progress),
            "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        }
        dur = [p.get("durationMs", {}) for p in progress]
        out["streaming.trigger_s"] = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
        out["streaming.add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1e3
        out["streaming.commit_s"] = sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1e3
        state_commit_ms = state_rows = 0
        for p in progress:
            ops = p.get("stateOperators", [])
            state_commit_ms += sum(o.get("commitTimeMs", 0) for o in ops)
            # Rows written to state. numRowsTotal would read 0: the drains
            # turn RocksDB's row tracking off.
            state_rows += sum(o.get("numRowsUpdated", 0) for o in ops)
            last_state[p.get("id", "")] = ops
        out["streaming.state_commit_s"] = state_commit_ms / 1e3
        out["streaming.state_rows"] = state_rows
        out["streaming.state_mem_bytes"] = sum(
            o.get("memoryUsedBytes", 0) for ops in last_state.values() for o in ops)
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0
