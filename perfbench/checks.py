"""Correctness checks applied to every call's output, outside timed regions.

- Headline jobs: the text output must equal, line for line, the ranking
  the generator computed from its own tallies.
- Registry queries: the collected result must match the query's DuckDB
  oracle on the same inputs (``oracle_compare.compare``).
"""

from __future__ import annotations

from mapreduce_stockheadlines_spark.oracle_compare import compare


def check_lines(name: str, lines: list[str], want: list[str]) -> list[str]:
    bad = sum(a != b for a, b in zip(lines, want)) + abs(len(lines) - len(want))
    return [f"{name}: {bad} of {len(want)} rows differ"] if bad else []


def check_frame(name: str, pdf, kinds, odf, okinds) -> list[str]:
    problems = compare(pdf, odf, kinds, okinds)
    return [f"{name}: " + "; ".join(problems)] if problems else []


def error_rate(attempted: int, failed: int) -> float:
    """(calls that raised + outputs failing their check) / calls attempted."""
    return failed / attempted if attempted else 1.0
