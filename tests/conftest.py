"""Shared fixtures: one small local SparkSession for the whole run."""

from __future__ import annotations

import json
import sys
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql.streaming import StreamingQueryListener

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from big_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4", "spark.ui.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress; callbacks arrive on a Py4J
    thread, a query's progress events before its termination event."""

    def __init__(self):
        self._lock = threading.Lock()
        self.terminated = 0
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def take(self, timeout_s=30.0):
        """Wait for one drain to terminate; hand over its progress."""
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            with self._lock:
                if self.terminated:
                    break
            time.sleep(0.02)
        with self._lock:
            out = self.progress
            self.terminated, self.progress = 0, []
        return out


@pytest.fixture()
def progress_listener(spark):
    """A ``_ProgressListener`` registered on the session for one test."""
    listener = _ProgressListener()
    spark.streams.addListener(listener)
    yield listener
    spark.streams.removeListener(listener)
