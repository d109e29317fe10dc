"""Workload definitions: which generated inputs a workload reads and which
public entry points of the engine one pass calls, in order.

A pass is a closed loop from one client: each call is submitted after the
previous one has returned its complete result.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: str  # generator: "headlines" or "tables"
    size: dict  # generator arguments
    calls: tuple[str, ...]  # job names (headlines) or registry query names
    why: str
    warm_passes: int = 1  # measured; fixed, so every run reports the same passes
    warmup: int = 1  # unmeasured warm passes run first, while the JIT settles


# Registry queries, in pass order: the iterative classifier trainer (many
# short driver-issued jobs), then the heaviest text-curation query (n-gram
# census through Python workers).
QUERIES = ("x33_train_classifier", "x28_lm_perplexity")

# Sizes, call lists and pass counts are set by the run budget: on a 4-core
# box whose speed drifts by up to 2x, a run pays 2 x 3.5-9 s of JVM start,
# a cold pass and its warm passes, and the whole 4 + 22 x workloads runs
# must fit in under an hour even when the box is slow. Registry passes
# spread most, so they are few and long and their median is taken.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "headline_jobs", "headlines", {"rows": 100_000},
            ("stock_count", "word_count"),
            "the paper's two jobs over a seeded CSV: the only workload that "
            "reads CSV, tokenizes and writes real text output",
            warm_passes=4, warmup=3,
        ),
        Workload(
            "registry_queries", "tables", {"sf": 0.01, "base_docs": 40},
            QUERIES,
            "registry queries: an iterative trainer (many short jobs) and "
            "an n-gram census (Python workers) over a 5x edited corpus",
            warm_passes=3, warmup=0,
        ),
    )
}

# Which end-to-end metric each layer's figures should move, and on which
# workload: written down before measuring, printed beside the per-layer
# figures of a traced run.
SHOULD_MOVE = {
    "session.": "setup_s on every workload",
    "sources.": "wall_s, first_pass_s on headline_jobs",
    "functions.": "wall_s, cpu_s on headline_jobs",
    "operators.": "wall_s on headline_jobs",
    "jobs.": "wall_s on headline_jobs",
    "plans.x33": "wall_s on registry_queries (build-heavy: eager trainer rounds)",
    "plans.x": "wall_s, cpu_s on registry_queries (x28's n-gram census)",
    "spark.": "cpu_s, wall_s: shuffle, spill and GC on headline_jobs and the "
              "x28; jobs, tasks and task_wait on x33",
    "proc.peak_rss": "memory on every workload (not bounded end to end: JVM "
                     "heap growth spreads it ~20% run to run)",
    "proc.": "cpu_s: JVM on every workload, Python workers on x28 and "
             "stock_count, driver Python on x33",
    "trace.": "nothing: the cost of tracing itself",
}


def should_move(metric: str) -> str:
    return next((v for k, v in SHOULD_MOVE.items() if metric.startswith(k)), "")


# Tables the "tables" generator writes.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")
