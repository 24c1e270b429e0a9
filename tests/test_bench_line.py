"""bench.py's contract, checked without Spark: every ``HEADLINE`` name is
a registered query with an oracle (or on the rows-only allowlist), and
the one JSON line it prints stays short enough for a tail capture of
2,000 characters."""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from bench import HEADLINE, result_line  # noqa: E402

from flink_application_spark.plans.registry import all_oracles, all_queries  # noqa: E402

# Headline queries with no SQL oracle: the driver checks their row count only.
ROWS_ONLY_HEADLINE: set[str] = set()

# Widest realistic timing: seconds with 3 decimals past 1,000 s.
_WIDE = 1234.567


def _line(names: list[str]) -> str:
    return result_line({n: _WIDE for n in names}, 0.1)


def test_headline_names_are_registered_with_oracles():
    queries, oracles = all_queries(), all_oracles()
    assert len(set(HEADLINE)) == len(HEADLINE)
    assert not set(HEADLINE) - set(queries)
    assert {n for n in HEADLINE if n not in oracles} == ROWS_ONLY_HEADLINE


def test_line_fits_tail_capture_at_current_headline_size():
    line = _line(HEADLINE)
    assert "\n" not in line and len(line) <= 1900, len(line)
    doc = json.loads(line)
    assert set(doc) == {"metric", "value", "unit", "queries", "sf"}
    assert list(doc["queries"]) == HEADLINE
    assert doc["value"] == round(_WIDE * len(HEADLINE), 3)


def test_headline_growth_headroom():
    """Five more queries still fit: adding to HEADLINE trips this before
    the printed line outgrows the capture."""
    extra = [f"doc_future_headline_addition_{i}" for i in range(5)]
    assert len(_line(HEADLINE + extra)) <= 1900
