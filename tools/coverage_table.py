"""Generate SURVEY.md §8's registry coverage table from the live registry.

VERDICT r4 #7: the 56 append-only "Round-4 additions (nth pass)" sections made
§8 unauditable.  This tool derives, for every registry query, the facts a
judge needs — implementation site, oracle-backed vs rows-only, every driver
CORRECTNESS round it appeared green in, and its status in the committed local
sweep artifact — and rewrites the block between the GENERATED-COVERAGE
markers in SURVEY.md.  Narrative per-query rationale lives in git history and
PLANS.md; this table is the always-current index.

Usage: python tools/coverage_table.py [--check]
  --check: exit 1 if SURVEY.md is stale instead of rewriting it.
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BEGIN = "<!-- BEGIN GENERATED COVERAGE (tools/coverage_table.py) -->"
END = "<!-- END GENERATED COVERAGE -->"


def driver_rounds() -> dict[str, list[str]]:
    out: dict[str, list[str]] = defaultdict(list)
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = p.stem.split("_")[-1]
        d = json.loads(p.read_text())
        for name, rec in d.items():
            if isinstance(rec, dict) and rec.get("err") is None and (
                rec.get("hash_match")
                or (rec.get("rows_match") and "hash_match" not in rec)
            ):
                out[name].append(rnd)
    return out


def sweep_status() -> tuple[str | None, dict[str, str]]:
    sweeps = sorted(REPO.glob("SWEEP_r*.json"))
    if not sweeps:
        return None, {}
    p = sweeps[-1]
    d = json.loads(p.read_text())
    d.pop("_meta", None)
    st = {}
    for name, rec in d.items():
        if rec.get("rows_only"):
            st[name] = "rows-only OK" if rec.get("err") is None else "ERR"
        elif (
            rec.get("rows_match")
            and rec.get("schema_match")
            and rec.get("hash_match")
        ):
            st[name] = "OK"
        else:
            st[name] = "FAIL"
    return p.stem, st


def build_table() -> str:
    from diive_spark import queries as q

    rounds = driver_rounds()
    sweep_name, sweep = sweep_status()
    n_total = len(q.QUERIES)
    n_oracle = len(q.ORACLE_SQL)
    by_module: dict[str, list[str]] = defaultdict(list)
    for name, fn in q.QUERIES.items():
        by_module[fn.__module__.split(".")[-1]].append(name)

    lines = [
        BEGIN,
        "",
        "### Registry coverage table (generated — do not edit by hand)",
        "",
        f"Totals: **{n_total} registry queries ({n_oracle} "
        f"oracle-backed + {n_total - n_oracle}",
        "rows-only kernels)** (pinned by `tests/test_registry_totals.py`;",
        "regenerate with `python tools/coverage_table.py`).",
        "",
        "Columns: *driver* = every round the query was green in a driver",
        "`CORRECTNESS_r*.json` (the hard signal); *sweep* = status in the",
        f"latest committed local sweep artifact"
        f" ({sweep_name or 'none yet'}, type-exact",
        "DuckDB compare at sf0.01).  Per-query design rationale: PLANS.md +",
        "the implementing module's docstrings.",
        "",
    ]
    for mod in sorted(by_module):
        names = by_module[mod]
        n_or = sum(1 for n in names if n in q.ORACLE_SQL)
        lines.append(
            f"#### `{mod}` — {len(names)} queries"
            f" ({n_or} oracle-backed, {len(names) - n_or} rows-only)"
        )
        lines.append("")
        lines.append("| query | impl | oracle | driver | sweep |")
        lines.append("|---|---|---|---|---|")
        for name in sorted(names):
            fn = q.QUERIES[name]
            code = getattr(fn, "__code__", None)
            if code is not None:
                rel = Path(code.co_filename).resolve()
                try:
                    rel = rel.relative_to(REPO)
                except ValueError:
                    pass
                impl = f"`{rel}:{code.co_firstlineno}`"
            else:
                impl = f"`{fn.__module__}`"
            orc = "sql" if name in q.ORACLE_SQL else "rows-only"
            drv = ",".join(rounds.get(name, [])) or "—"
            sw = sweep.get(name, "—")
            lines.append(f"| {name} | {impl} | {orc} | {drv} | {sw} |")
        lines.append("")
    lines.append(END)
    return "\n".join(lines)


def main() -> int:
    check = "--check" in sys.argv
    table = build_table()
    survey = (REPO / "SURVEY.md").read_text()
    if BEGIN in survey:
        pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.S)
        new = pat.sub(lambda _: table, survey)
    else:
        new = survey.rstrip() + "\n\n" + table + "\n"
    if check:
        if new != survey:
            print("SURVEY.md coverage table is STALE — run "
                  "python tools/coverage_table.py")
            return 1
        print("SURVEY.md coverage table is current")
        return 0
    (REPO / "SURVEY.md").write_text(new)
    print(f"wrote coverage table ({len(table.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
