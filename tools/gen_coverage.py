"""Regenerate COVERAGE.md from the live query registry.

The judge and the driver map survey ids to query names through this table,
so it must never drift from `all_specs()` (VERDICT r02 "what's wrong #2").
Run: ``python tools/gen_coverage.py`` (writes COVERAGE.md in its checkout);
``tests/test_engine.py::test_coverage_md_matches_registry`` fails if the
checked-in file differs from the generated one.
"""

from __future__ import annotations

import os
import sys

# the checkout this script lives in, so a second checkout renders its own registry
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cloudtrail_streamer_spark.registry import all_specs

HEADER = """# COVERAGE — SURVEY.md §2.B operator inventory → implementation

Generated from the live registry (`cloudtrail_streamer_spark.registry`)
by `tools/gen_coverage.py` — DO NOT edit by hand; regenerate instead.
Tier H = DuckDB value-hash oracle; Tier R = rows-only driver check with
engine-local behavior tests (tests/test_streaming.py, tests/test_engine.py).
`*-ext` survey ids widen the §2.B core inventory.
"""


def render() -> str:
    specs = all_specs()
    lines = [HEADER]
    lines.append(f"{len(specs)} queries registered: "
                 f"{sum(1 for s in specs.values() if s.tier == 'H')} H-tier, "
                 f"{sum(1 for s in specs.values() if s.tier == 'R')} R-tier.\n")
    lines.append("| survey id | query name | tier | module |")
    lines.append("|---|---|---|---|")
    rows = sorted(specs.values(), key=lambda s: (s.survey_id, s.name))
    for s in rows:
        mod = s.fn.__module__.removeprefix("cloudtrail_streamer_spark.")
        lines.append(f"| {s.survey_id} | `{s.name}` | {s.tier} | {mod} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    out = os.path.join(ROOT, "COVERAGE.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")
