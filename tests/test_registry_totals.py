"""SURVEY.md coverage table must match the live registry — the
tenth/eleventh pass totals drifted from the code by hand-counting; these
pin the LAST totals line and the whole generated per-module block."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_survey_totals_match_registry():
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    n_q = len(entry.queries())
    n_o = len(entry.oracle_sql())
    text = (REPO / "SURVEY.md").read_text()
    matches = re.findall(
        r"(\d+) registry queries \((\d+) oracle-backed \+ (\d+)\s*\n?\s*rows-only",
        text,
    )
    assert matches, "no totals line found in SURVEY.md"
    total, oracle, rows_only = map(int, matches[-1])
    assert total == n_q, f"SURVEY says {total} queries, registry has {n_q}"
    assert oracle == n_o, f"SURVEY says {oracle} oracle, registry has {n_o}"
    assert rows_only == n_q - n_o


def test_survey_coverage_block_matches_generator():
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import coverage_table as ct

    text = (REPO / "SURVEY.md").read_text()
    start, end = text.find(ct.BEGIN), text.find(ct.END)
    assert 0 <= start < end, "no generated coverage block in SURVEY.md"
    committed = text[start : end + len(ct.END)]
    assert committed == ct.build_table(), (
        "SURVEY.md coverage table is stale: run python tools/coverage_table.py"
    )
