"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion via the noop sink (all columns
computed, no output cost) — ``count()`` would let Catalyst prune the plan
and overstate throughput.

Drift control (round 9 — VERDICT r8 #4: round-8's untouched queries
read +17% purely from machine drift, so absolute cross-round deltas
need an in-run baseline): the artifact also carries

- ``control``: a fixed tiny workload (q01 + q13 + x31 — queries that
  have not changed since round 7) timed FIRST and LAST in the same
  process, so a cross-round comparison can normalize by the control
  and see whether the machine — not the workload — moved, and whether
  it moved WITHIN the run;
- ``oracle_secs``: DuckDB wall-times for three fixed oracles over the
  same parquet in the same process — a Spark-independent machine-speed
  probe; publish spark/duckdb ratios and the machine cancels out.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES
from mapreduce_stockheadlines_spark.session import get_spark

HEADLINE_QUERIES = [
    "q01_filter_project",
    "q02_group_agg",
    "q03_topk_rank",
    "q09_window_partitioned",
    "q13_tokenize_count",
    # round 10: the StockCount analogue — the reference's own headline
    # workload and the BASELINE.md row — timed first-class (VERDICT r9
    # #7) instead of derived from q15
    "q14_stock_count_analogue",
    "q15_word_count_analogue",
    "q19_large_join",
    "q21_time_windows",
    "q22_dedup",
    "q23_asof_join",
    "q24_range_join",
    "x01_dedup_exact",
    "x03_minhash_signatures",
    "x06_embedding_neardup",
    "x07_ann_topk",
    "x08_text_stats",
    "x09_repetition_stats",
    "x12_pii_redact",
    "x13_multimodal_pipeline",
    "x14_session_window",
    "x17_lsh_bucketed_neardup",
    "x18_ivf_topk",
    # round 5 additions (suite grew by 6: r4→r5 headline totals compare
    # on the shared 22, see README bench notes)
    "x24_url_curation",
    "x25_line_dedup",
    "x26_classifier_score",
    "x27_quantize_embeddings",
    "x28_lm_perplexity",
    "x29_token_divergence",
    "x30_remove_dup_windows",
    # round 6 additions
    "x31_pagerank",
    "x32_sampling",
    "x33_train_classifier",
]


# Fat multi-stage x-queries (VERDICT r9 "What's wrong" #1): one extra
# attribution pass each — the builders accept a _stage_secs sink and
# record the wall time of their EAGER sections (collects,
# localCheckpoints, unrolled trainer rounds); the lazy assembly's cost
# lands in the "execute" entry. Cross-round deltas on these queries
# attribute to a named stage instead of requiring commit archaeology.
# Round 11 (VERDICT r10 #2): every query above ~3 s at sf0.1 is staged —
# the purely-LAZY ones (x08/x13/x24) attribute via component sub-plan
# probes (plans/extensions._probe), whose walls overlap (shared scan)
# rather than partition "execute".
STAGED_QUERIES = [
    "x08_text_stats",
    "x13_multimodal_pipeline",
    "x18_ivf_topk",
    "x24_url_curation",
    "x27_quantize_embeddings",
    "x28_lm_perplexity",
    "x31_pagerank",
    "x32_sampling",
]


# Fixed in-run drift controls: code untouched since round 7, spanning
# the scan-bound (q01), tokenize/explode (q13) and iterative-many-
# short-stages (x31) regimes the suite is sensitive to.
CONTROL_QUERIES = ["q01_filter_project", "q13_tokenize_count", "x31_pagerank"]
# DuckDB-side machine probe: moderate-cost oracles over the same files.
ORACLE_CONTROL = ["q01_filter_project", "q02_group_agg", "q13_tokenize_count"]

# Reference walls for the same three probes, measured on the round-9
# box (BENCH_r09.json's oracle_secs — the fastest machine the suite has
# run on). queries_norm expresses every query wall in "r9-box seconds":
# wall / geomean(oracle_now / oracle_ref). Round-10's adjudication
# found the box itself moved 3.6-9.6× between rounds, which made raw
# suite totals nearly uninterpretable (VERDICT r10 #5) — the normalized
# figures let a cross-round reader separate code from machine without
# cross-referencing the controls by hand. DuckDB is single-process and
# Spark local[32] is not, so the correction is approximate — read
# queries_norm for round-over-round DELTAS, the raw queries for truth.
ORACLE_REF_SECS = {
    "q01_filter_project": 0.065,
    "q02_group_agg": 0.092,
    "q13_tokenize_count": 0.082,
}


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _free_session_state(spark) -> None:
    """Unpersist every RDD block left behind by the previous query's
    localCheckpoints (round 13 — VERDICT r12 #5): checkpoint blocks are
    otherwise only freed when GC happens to collect the Python/JVM
    references, so a long bench run accumulates dead blocks and later
    queries pay their memory pressure (measured r12: x27 execute 3.7 s
    timed vs 9.2 s in the attribution pass at the end of the run).
    Runs BETWEEN queries, never inside a timed region — each timed run
    still computes everything from the parquet inputs; this only stops
    query N's garbage from taxing query N+1. Methodology (timed region,
    query set, best-of-3) unchanged. The unpersist blocks until the
    blocks are gone, so the next query never starts beside a pending
    removal."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist(True)


def _run_noop(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    ALL_QUERIES[name].builder(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.time() - t0, 3)


def _time_controls(spark, sf_dir: str) -> dict[str, float]:
    return {name: _run_noop(spark, name, sf_dir) for name in CONTROL_QUERIES}


def _time_oracles(sf_dir: str) -> dict[str, float]:
    """Best-of-2 DuckDB wall time per control oracle (first run pays IO
    cache, matching the Spark side's warmed measurements)."""
    import duckdb

    from mapreduce_stockheadlines_spark.plans.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    for name in ORACLE_CONTROL:
        sql = ALL_QUERIES[name].oracle
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            con.sql(sql).fetchall()
            best = min(best, time.time() - t0)
        # UNROUNDED (round-12 advice fix): the ratio computation divides
        # these ~0.07-0.09 s walls by 3-decimal references, so rounding
        # here injected 1-2% quantization per probe — and a wall
        # rounding to 0.0 silently vanished from the geomean. Rounding
        # happens at the artifact boundary only.
        out[name] = best
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # drift control, first bracket: one warm-up pass (JVM/JIT/IO-cache
    # spin-up must not pollute the control), then one timed pass each
    _time_controls(spark, sf_dir)
    control_first = _time_controls(spark, sf_dir)

    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE_QUERIES:
        spec = ALL_QUERIES[name]
        df = spec.builder(spark, sf_dir)
        # Warm-up run: JIT, IO cache, and the plans/catalog probe caches
        # (events ts-encoding, scan split count) all settle here, so the
        # timed builds below are probe-free and plan-identical.
        df.write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(3):  # best-of-3: damp GC/JIT noise in the measurement
            t0 = time.time()
            spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        dt = round(best, 3)
        timings[name] = dt
        total += dt
        _free_session_state(spark)

    # per-stage attribution pass for the fat x-queries (single run —
    # these are attribution hints for cross-round adjudication, not
    # headline numbers; the headline timing above stays best-of-3)
    stage_secs: dict[str, dict[str, float]] = {}
    for name in STAGED_QUERIES:
        stages: dict[str, float] = {}
        df = ALL_QUERIES[name].builder(spark, sf_dir, _stage_secs=stages)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        stages["execute"] = round(time.time() - t0, 3)
        stage_secs[name] = stages
        _free_session_state(spark)

    # drift control, last bracket + the Spark-independent DuckDB probe
    control_last = _time_controls(spark, sf_dir)
    oracle_secs = _time_oracles(sf_dir)

    # machine-drift normalization (VERDICT r10 #5): geometric mean of
    # the probe slowdowns vs the pinned r9-box reference. The reference
    # walls were measured at sf0.1, so the correction only holds at the
    # driver's scale — at any other SF the fields are null.
    sf = sf_from_dir(sf_dir)
    usable = [
        q
        for q in ORACLE_CONTROL
        if oracle_secs.get(q, 0.0) > 0
    ]
    # round-12 advice fix: a probe that cannot contribute (missing or
    # zero wall) must NULL the normalization with a note, not silently
    # shrink the geomean basis and skew every *_norm figure.
    machine_ratio_note = None
    if len(usable) < len(ORACLE_CONTROL):
        machine_ratio = None
        machine_ratio_note = (
            "probe(s) excluded, normalization withheld: "
            + ",".join(sorted(set(ORACLE_CONTROL) - set(usable)))
        )
    elif abs(sf - 0.1) >= 1e-9:
        machine_ratio = None
    else:
        ratios = [oracle_secs[q] / ORACLE_REF_SECS[q] for q in usable]
        machine_ratio = round(
            math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 4
        )
    queries_norm = (
        {q: round(t / machine_ratio, 3) for q, t in timings.items()}
        if machine_ratio
        else None
    )

    artifact = {
        "metric": "headline_suite_elapsed",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "control": {"first": control_first, "last": control_last},
        "oracle_secs": {k: round(v, 4) for k, v in oracle_secs.items()},
        "machine_ratio": machine_ratio,
        "machine_ratio_note": machine_ratio_note,
        "value_norm": (
            round(total / machine_ratio, 3) if machine_ratio else None
        ),
        "queries_norm": queries_norm,
        "stage_secs": stage_secs,
    }
    line = json.dumps(artifact)
    # the canonical artifact also lands in a FILE (round-12 fix —
    # VERDICT r11: the driver's stdout-tail capture truncated
    # BENCH_r11.json mid-queries, losing the headline and the
    # normalization fields this harness exists to provide)
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )
    with open(out_path, "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
