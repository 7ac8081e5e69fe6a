"""tools/assemble_sweep.py parse(), the one check_oracle log parser
(tools/spot_sweep.py builds on it too): every check_oracle line format
must round-trip, ESPECIALLY the three no-timing FAIL formats (spark
error / duckdb error / complex-column refusal) that ADVICE r7 found
being counted as coverage gaps instead of failures."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.assemble_sweep import parse  # noqa: E402
from tools.spot_sweep import sweep_artifact  # noqa: E402

_LOG = """\
ok    q1_pricing_summary: rows=4 (1.2s)
weak  approx_heavy_tokens: rows-only check, rows=20 (0.8s)
FAIL  sparkq: spark error: Py4JJavaError boom
FAIL  duckq: duckdb error: Parser Error: syntax
FAIL  arrq: complex output column(s) the driver cannot sort/hash: ['v:array<int>']
FAIL  valq: rows=10 (2.0s) | values differ in 1/10 rows
"""


def test_parse_counts_no_timing_fail_lines_as_failures():
    r = parse(_LOG)
    assert r["q1_pricing_summary"] == {"status": "ok", "rows": 4, "sec": 1.2}
    assert r["approx_heavy_tokens"]["status"] == "weak"
    for name, kind in (
        ("sparkq", "spark error"),
        ("duckq", "duckdb error"),
        ("arrq", "complex output"),
    ):
        assert r[name]["status"] == "FAIL"
        assert r[name]["sec"] is None
        assert r[name]["err"] == kind
    assert r["valq"] == {"status": "FAIL", "rows": 10, "sec": 2.0}


def test_parse_error_line_with_quoted_duration_stays_untimed():
    """ADVICE r8 item 2: a '(N.Ns)' substring INSIDE an error message
    (e.g. a quoted Py4J timeout) must not be parsed as a timed row —
    the err kind must survive and sec must stay None."""
    r = parse(
        "FAIL  timeoutq: spark error: job aborted after (30.0s) limit\n"
        "FAIL  duckt: duckdb error: hint was 'retry in (1.5s)'\n"
    )
    for name, kind in (("timeoutq", "spark error"), ("duckt", "duckdb error")):
        assert r[name]["status"] == "FAIL"
        assert r[name]["sec"] is None
        assert r[name]["err"] == kind


def test_parse_diff_suffix_with_embedded_duration():
    """A value-mismatch FAIL whose diff text quotes a duration must
    still take its timing from the real '(N.Ns)' before the '|'."""
    r = parse(
        "FAIL  valq2: rows=3 (2.5s) | values differ | spark=('x (9.9s)',)\n"
    )
    assert r["valq2"] == {"status": "FAIL", "rows": 3, "sec": 2.5}


def test_parse_handles_carriage_return_wrapped_lines():
    # Spark progress bars interleave \r into captured logs
    r = parse("[Stage 1:>]\rok    q_cr: rows=7 (0.3s)\r\n")
    assert r["q_cr"] == {"status": "ok", "rows": 7, "sec": 0.3}


def test_spot_sweep_counts_no_timing_fail_lines_as_failures():
    """The spot-sweep artifact counts the three untimed FAIL formats as
    failures, not as missing queries."""
    queries = ["q1_pricing_summary", "sparkq", "duckq", "arrq", "valq", "absent"]
    art = sweep_artifact("spot", "sf", queries, _LOG)
    assert art["n_failures"] == 4
    assert art["missing"] == ["absent"]
    for name in ("sparkq", "duckq", "arrq"):
        assert art["results"][name]["status"] == "FAIL"
