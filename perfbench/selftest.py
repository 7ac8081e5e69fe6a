"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Run from the root of a source checkout. Checks that
- every workload, traced and untraced, prints each metric BENCHMARK.json
  names, with its unit, and passes its output checks (inputs shrunk to
  3 symbols x 60 bars and sf0.01);
- an operation forced to raise counts as failed (``failed`` > 0,
  ``correct`` false);
- the benchmark exits non-zero, printing no result, in a directory that
  holds only BENCHMARK.json and the benchmark's own files.
Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

# Child-process prologue: shrink the inputs before run.main().
_PROLOGUE = f"""
import sys
sys.path.insert(0, {HERE!r})
import workloads
workloads.STOCK_SYMBOLS, workloads.STOCK_BARS = 3, 60
workloads.CORPUS_SF = 0.01
"""
# Make every call of one stream query raise.
_FORCE_RAISE = """
import os
sys.path.insert(0, os.getcwd())
import __spark_entry__
_queries = __spark_entry__.queries
def _boom(spark, sf_dir):
    raise RuntimeError("forced by the self-test")
__spark_entry__.queries = lambda: {**_queries(), "stream_dedup_exact": _boom}
"""


def _run(root: str, workload: str, trace: int, patch: str = "") -> tuple[int, list[str]]:
    args = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    code = _PROLOGUE + patch + f"import run\nraise SystemExit(run.main({args!r}))\n"
    proc = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                          text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def check(ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'}  {what}", flush=True)
        if not ok:
            failures.append(what)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = _run(root, wl, trace)
            result = json.loads(out[-1]) if code == 0 and out else {}
            metrics = result.get("metrics", {})
            missing = [m["name"] for m in spec[key]
                       if metrics.get(m["name"], {}).get("unit") != m["unit"]]
            check(code == 0 and not missing,
                  f"{wl} --trace {trace}: every {key} metric with its unit"
                  + (f" (exit {code}, missing {missing})" if code or missing else ""))
            check(result.get("correct") is True and result.get("failed") == 0,
                  f"{wl} --trace {trace}: outputs correct")

    code, out = _run(root, "stream_drains", 0, _FORCE_RAISE)
    result = json.loads(out[-1]) if code == 0 and out else {}
    check(result.get("failed", 0) > 0 and result.get("correct") is False,
          f"a raising operation counts as failed ({result.get('failed')} of "
          f"{result.get('attempted')})")

    os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, ".bench_work"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                               "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        check(proc.returncode != 0 and not proc.stdout.strip(),
              f"a directory without the program exits non-zero (exit {proc.returncode})")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
