"""Run tools/check_oracle.py over a query subset and write a sweep
artifact (SWEEP_*.json) in the round-5 format: per-query status/rows/
seconds plus failure count. Used for the per-round changed-operator
spot-sweeps at sf0.1 and the gen_sf stress corpus.

Usage: python tools/spot_sweep.py OUT.json "artifact description" \
           SF_DIR query [query ...]
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from tools.assemble_sweep import parse  # noqa: E402


def sweep_artifact(
    desc: str, sf_dir: str, queries: list[str], log: str
) -> dict:
    """The artifact for one check_oracle run's output ``log``."""
    results = parse(log)
    # registry_size is read from the live registry, never typed by
    # hand: BENCH/SWEEP/README counts drifted in past rounds precisely
    # because artifacts carried constants (VERDICT r6 item 7).
    return {
        "artifact": desc,
        "sf_dir": sf_dir,
        "registry_size": len(entrymod.queries()),
        "n_queries": len(queries),
        "n_failures": sum(r["status"] == "FAIL" for r in results.values()),
        "missing": [q for q in queries if q not in results],
        "results": results,
    }


def main() -> int:
    out_path, desc, sf_dir, *queries = sys.argv[1:]
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools/check_oracle.py"), sf_dir, *queries],
        capture_output=True,
        text=True,
    )
    artifact = sweep_artifact(desc, sf_dir, queries, proc.stdout + proc.stderr)
    Path(out_path).write_text(json.dumps(artifact, indent=1))
    n_fail, missing = artifact["n_failures"], artifact["missing"]
    print(f"{out_path}: {len(artifact['results'])} checked, {n_fail} failures, "
          f"{len(missing)} missing")
    return 1 if (n_fail or missing) else 0


if __name__ == "__main__":
    raise SystemExit(main())
