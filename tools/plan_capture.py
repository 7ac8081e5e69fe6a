"""Capture .explain("formatted") for named queries into plans/ROUND/.

Usage: python tools/plan_capture.py ROUND TAG q1,q2,...
       e.g. python tools/plan_capture.py r10 before q1_pricing_summary
Writes plans/ROUND/<query>_<TAG>.txt — the evidence for the plan claims
in OPTIMIZATION_<ROUND>.md.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from big_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = [s.strip() for s in sys.argv[3].split(",") if s.strip()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan_capture", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{tag}.txt ({len(buf.getvalue())} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
