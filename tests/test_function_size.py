"""Size guard for the flattened modules (ROADMAP direction 5): no
function in the two exporters, the REST catalog, the commit rules,
partition statistics, views or maintenance may grow past 200 code
lines, counted as `tools/count_lines.py` counts them (no blank lines,
comments or docstrings). A function that outgrows it is
split by what it does, as `export_delta_log` and the catalog's commit
and routing were.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from count_lines import function_lines  # noqa: E402

LIMIT = 200
MODULES = (
    "iceberg_meta",
    "delta_log",
    "rest_catalog",
    "maintenance",
    "iceberg_commit",
    "iceberg_pstats",
    "iceberg_view",
)


def test_no_function_exceeds_the_limit():
    over = {}
    for mod in MODULES:
        path = os.path.join(
            REPO, "hybrid_data_lakehouse_lab_spark", "operators", f"{mod}.py"
        )
        with open(path, encoding="utf-8") as fh:
            sizes = function_lines(fh.read())
        assert sizes, f"no functions found in {path}"
        over.update(
            {f"{mod}.{name}": n for name, n in sizes.items() if n > LIMIT}
        )
    assert not over, f"functions over {LIMIT} code lines: {over}"
