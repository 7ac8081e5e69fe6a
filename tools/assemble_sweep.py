"""Assemble SWEEP_FULL_r{N}.json from three check_oracle logs.

Counts are derived, never typed: registry_size comes from the live
registry, per-SF n_ok/n_weak/n_fail from parsing the logs, and the
script REFUSES to write an artifact whose per-SF totals don't cover
the whole registry (VERDICT r6 items 2 + 7: no more footnoted
partial sweeps, no more hand-drifted counts).

Usage: python tools/assemble_sweep.py OUT.json DESC \
           sf0.001=LOG sf0.01=LOG sf0.1=LOG [--results-from sf0.1]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402

# Timed rows end in '(N.Ns)' optionally followed by a ' | ...' diff
# suffix (value-mismatch FAILs); anchoring to end-of-line keeps a
# quoted '(N.Ns)' inside an error message from being read as timing
# (ADVICE r8 item 2).
_LINE = re.compile(
    r"(ok|FAIL|weak)\s+(\S+?):.*?(?:rows=(\d+))?\s*"
    r"\(([0-9.]+)s\)(?:\s*\|.*)?$"
)
# check_oracle's three error paths (spark error / duckdb error /
# complex-column refusal) print FAIL lines with NO '(N.Ns)' timing
# suffix; without this pattern those counted as "unchecked" rather
# than failures (ADVICE r7 item 1 — fail-safe held, diagnostics lied).
# Matched FIRST so a duration quoted inside the error text can never
# fall through to the timed pattern (ADVICE r8 item 2).
_LINE_NOTIME = re.compile(
    r"(FAIL)\s+(\S+?): (spark error|duckdb error|complex output)"
)


def parse(text: str) -> dict[str, dict]:
    """Per-query {status, rows, sec[, err]} from check_oracle output."""
    results: dict[str, dict] = {}
    for line in text.replace("\r", "\n").splitlines():
        line = line.strip()
        m = _LINE_NOTIME.search(line)
        if m:
            status, name, kind = m.groups()
            results[name] = {
                "status": status,
                "rows": None,
                "sec": None,
                "err": kind,
            }
            continue
        m = _LINE.search(line)
        if m:
            status, name, rows, sec = m.groups()
            results[name] = {
                "status": status,
                "rows": int(rows) if rows else None,
                "sec": float(sec),
            }
    return results


def main() -> int:
    out_path, desc, *specs = sys.argv[1:]
    results_from = None
    if "--results-from" in specs:
        i = specs.index("--results-from")
        results_from = specs[i + 1]
        specs = specs[:i] + specs[i + 2 :]

    registry = list(entrymod.queries())
    oracle = set(entrymod.oracle_sql())
    artifact: dict = {
        "artifact": desc,
        "registry_size": len(registry),
        "weak_queries_by_design": sorted(
            k for k in registry if k not in oracle
        ),
    }
    problems: list[str] = []
    for spec in specs:
        sf, log = spec.split("=", 1)
        res = parse(Path(log).read_text())
        missing = [q for q in registry if q not in res]
        counts = {"n_ok": 0, "n_weak": 0, "n_fail": 0}
        for r in res.values():
            counts[
                {"ok": "n_ok", "weak": "n_weak", "FAIL": "n_fail"}[r["status"]]
            ] += 1
        artifact[sf] = counts
        if missing:
            problems.append(f"{sf}: {len(missing)} unchecked: {missing[:5]}")
        if counts["n_fail"]:
            problems.append(f"{sf}: {counts['n_fail']} FAILURES")
        if results_from == sf:
            artifact[f"results_{sf}"] = res
    if problems:
        print("REFUSING to write artifact:\n  " + "\n  ".join(problems))
        return 1
    Path(out_path).write_text(json.dumps(artifact, indent=1))
    print(f"{out_path}: registry={len(registry)}, "
          + ", ".join(f"{s}={artifact[s]}" for s in artifact if s.startswith("sf")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
