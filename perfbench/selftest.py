"""Self-test of the benchmark's correctness checks, without Spark.

    python3 perfbench/selftest.py

For each kind of check, a correct output must pass and the same output
with one corrupted row must fail, giving ``error_rate`` > 0:

- headline jobs: the generator's own rankings, with one count changed;
- registry queries: a DuckDB oracle result compared with itself, with one
  value changed.

Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import gen  # noqa: E402
from checks import check_frame, check_lines, error_rate  # noqa: E402
from mapreduce_stockheadlines_spark.oracle_compare import arrow_type_kinds  # noqa: E402
from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES  # noqa: E402
from workloads import TABLES  # noqa: E402


def _case(label: str, good: list[str], bad: list[str]) -> bool:
    """One output per call: ``good`` must give no problem, ``bad`` some."""
    rate_good = error_rate(1, int(bool(good)))
    rate_bad = error_rate(1, int(bool(bad)))
    ok = rate_good == 0 and rate_bad > 0
    print(f"{'ok  ' if ok else 'FAIL'} {label}: error_rate correct={rate_good} "
          f"corrupted={rate_bad} ({bad[0] if bad else 'no problem found'})")
    return ok


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    os.makedirs(work, exist_ok=True)
    results = []

    want = gen.make_headlines(work, seed=7, rows=2000)
    for key in ("stock_lines", "word_lines"):
        lines = list(want[key])
        i = len(lines) // 2
        head, count = lines[i].rsplit(maxsplit=1) if key == "stock_lines" \
            else lines[i].rsplit("\t", 1)
        sep = " " if key == "stock_lines" else "\t"
        corrupted = lines[:i] + [f"{head}{sep}{int(count) + 1}"] + lines[i + 1:]
        results.append(_case(
            key,
            check_lines(key, lines, want[key]),
            check_lines(key, corrupted, want[key]),
        ))

    gen.make_tables(work, seed=7, sf=0.001, base_docs=10)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/{t}.parquet')")
    for q in ("q14_stock_count_analogue", "q21_time_windows"):
        tbl = con.sql(ALL_QUERIES[q].oracle).arrow()
        kinds = arrow_type_kinds(tbl.schema)
        odf = tbl.to_pandas()
        pdf = odf.copy()
        col = pdf.columns[-1]
        v = pdf.at[0, col]
        pdf.at[0, col] = v + 1 if not isinstance(v, str) else v + "x"
        results.append(_case(
            q,
            check_frame(q, odf.copy(), kinds, odf, kinds),
            check_frame(q, pdf, kinds, odf, kinds),
        ))
    return 0 if all(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
