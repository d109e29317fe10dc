"""Spark driver process of one benchmark run.

Started fresh by ``run.py`` for every run. It creates the session through
``session.get_spark``, runs one cold pass, the workload's unmeasured
warm-up passes and then its measured warm passes, and writes its record to
the JSON file named in its config. Correctness checks, cache freeing,
garbage collection and status-store reads happen between passes, never
inside a timed one. With ``setup_only`` in the config it stops once the
session is ready and records only the set-up time.

With tracing on, measured passes alternate between traced and untraced, so
the tracing overhead is measured inside the same process. A traced pass
records one span per public call (name, start, end, parent, run id), sets
a Spark job group per span, and the per-layer figures are read from the
status store and /proc after the pass.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

import pyarrow.feather as feather

from mapreduce_stockheadlines_spark.functions.text import (
    explode_tokens,
    load_stopwords_file,
    remove_stopwords,
)
from mapreduce_stockheadlines_spark.jobs.stock_count import stock_count
from mapreduce_stockheadlines_spark.jobs.word_count import word_count
from mapreduce_stockheadlines_spark.operators.rank import count_rank_format
from mapreduce_stockheadlines_spark.oracle_compare import (
    arrow_type_kinds,
    spark_type_kinds,
)
from mapreduce_stockheadlines_spark.plans import registry
from mapreduce_stockheadlines_spark.session import get_spark
from mapreduce_stockheadlines_spark.sources.readers import (
    headlines_from_naive,
    read_csv_naive,
)
from mapreduce_stockheadlines_spark.sources.sinks import write_text_single

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class Tracer:
    """In-memory spans. Each span records the status store's last job id
    at its start and end, so Spark jobs can be attributed to it afterwards."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.store = probes.StatusStore(spark)
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no = 0

    @contextmanager
    def span(self, name: str):
        span = {
            "run": self.run_id, "id": len(self.spans), "pass": self.pass_no,
            "parent": self._stack[-1] if self._stack else None, "name": name,
            "job0": self.store.last_job_id(),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        self.sc.setJobGroup(f"{self.run_id}-{span['id']}", name, False)
        span["start"] = time.perf_counter()
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            span["job1"] = self.store.last_job_id()
            self._stack.pop()
            if not self._stack:
                self.sc._jsc.clearJobGroup()


class _NoTrace:
    def span(self, name: str):
        return nullcontext()


class Runner:
    def __init__(self, spark, workload, cfg):
        self.spark = spark
        self.wl = workload
        self.data = cfg["data_dir"]
        self.out = cfg["out_dir"]
        self.queries = registry.queries()
        self.oracles = {}
        self.expected = None
        if workload.inputs == "headlines":
            with open(os.path.join(self.data, "expected.json")) as f:
                self.expected = json.load(f)
        else:
            for q in workload.calls:
                tbl = feather.read_table(os.path.join(cfg["oracle_dir"], f"{q}.arrow"))
                self.oracles[q] = (tbl.to_pandas(), arrow_type_kinds(tbl.schema))

    # -- one call ---------------------------------------------------------
    def call(self, name: str, tr) -> object:
        if self.wl.inputs == "headlines":
            csv = os.path.join(self.data, "headlines.csv")
            dest = os.path.join(self.out, name)
            with tr.span(f"jobs.{name}"):
                if name == "stock_count":
                    df = stock_count(self.spark, csv)
                else:
                    df = word_count(
                        self.spark, csv, os.path.join(self.data, "stopwords.txt")
                    )
                with tr.span("sources.write_text_single"):
                    write_text_single(df, dest)
            return dest
        with tr.span(f"plans.{name}.build"):
            df = self.queries[name](self.spark, self.data)
        with tr.span(f"plans.{name}.execute"):
            pdf = df.toPandas()
        return pdf, spark_type_kinds(df.schema)

    def check(self, name: str, result) -> tuple[int, list[str]]:
        """(rows returned, problems) — outside any timed region."""
        if self.wl.inputs == "headlines":
            lines = []
            for part in sorted(glob.glob(os.path.join(result, "part-*"))):
                with open(part) as f:
                    lines.extend(f.read().splitlines())
            want = self.expected[
                "stock_lines" if name == "stock_count" else "word_lines"
            ]
            return len(lines), checks.check_lines(name, lines, want)
        pdf, kinds = result
        return len(pdf), checks.check_frame(name, pdf, kinds, *self.oracles[name])

    # -- one pass ---------------------------------------------------------
    def run_pass(self, tr) -> dict:
        results, errors, calls = {}, [], {}
        root = os.getpid()
        cpu0 = probes.cpu_split(root)
        t0 = time.perf_counter()
        for name in self.wl.calls:
            t = time.perf_counter()
            try:
                results[name] = self.call(name, tr)
            except Exception as e:  # a failed call counts against error_rate
                errors.append(f"{name}: raised {type(e).__name__}: {str(e)[:300]}")
            calls[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        cpu1 = probes.cpu_split(root)
        rows = 0
        for name, res in results.items():
            n, problems = self.check(name, res)
            rows += n
            errors.extend(problems)
        self.free()
        return {
            "wall": wall,
            "calls": calls,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "attempted": len(self.wl.calls),
            "failed": len(errors),
            "errors": errors,
            "rows_out": rows,
        }

    def free(self) -> None:
        """Drop cached tables and checkpoint blocks, blocking until freed,
        then collect garbage in both runtimes so the next pass does not
        pay for this one's."""
        self.spark.catalog.clearCache()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(True)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    # -- headline layer probes (traced runs only) --------------------------
    def headline_probes(self) -> dict[str, float]:
        """Time the read, tokenize+stop-word and rank layers of the word
        job one at a time, each over its input layer's output held in
        memory, run to the noop sink."""
        csv = os.path.join(self.data, "headlines.csv")
        stop = os.path.join(self.data, "stopwords.txt")

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        read = read_csv_naive(self.spark, csv)
        t_read = timed(read)
        fields = read.cache()
        fields.count()
        kept = remove_stopwords(
            explode_tokens(headlines_from_naive(fields), "headline"),
            load_stopwords_file(self.spark, stop),
        )
        t_tok = timed(kept)
        tokens = kept.cache()
        tokens.count()
        t_rank = timed(count_rank_format(tokens, "token", fmt="%d: %s\t%d", limit=100))
        self.free()
        return {
            "sources.read_csv_naive_s": t_read,
            "functions.tokenize_stopwords_s": t_tok,
            "operators.count_rank_format_s": t_rank,
        }


def layer_metrics(tr: Tracer, passes: list[dict], probe_runs: list[dict]) -> dict:
    """Per-layer figures of the traced passes, each the median over passes."""
    jobs = {j["jobId"]: j for j in tr.store.jobs()}
    stages = tr.store.stages()

    def window_jobs(j0, j1):
        return [jobs[i] for i in range(j0 + 1, j1 + 1) if i in jobs]

    per_pass = []
    for p in passes:
        spans = [s for s in tr.spans if s["pass"] == p["pass"]]
        m: dict[str, float] = {}
        for s in spans:
            name = s["name"]
            m[name + "_s"] = m.get(name + "_s", 0.0) + s["end"] - s["start"]
            if name.startswith("plans."):
                q = name.rsplit(".", 1)[0]  # plans.<query>
                n_jobs = len(window_jobs(s["job0"], s["job1"]))
                m[q + ".jobs"] = m.get(q + ".jobs", 0) + n_jobs
        tops = [s for s in spans if s["parent"] is None]
        pass_jobs = window_jobs(
            min(s["job0"] for s in tops), max(s["job1"] for s in tops)
        )
        st = probes.stage_totals(
            [stages[i] for j in pass_jobs for i in j["stageIds"] if i in stages]
        )
        for k in probes.SPARK_METRICS:
            if k not in ("input_records", "input_mb", "output_mb"):
                m["spark." + k] = st[k]
        m["spark.jobs"] = len(pass_jobs)
        m["spark.rows_in_per_row_out"] = st["input_records"] / max(p["rows_out"], 1)
        m["sources.input_mb"] = st["input_mb"]
        m["sources.output_mb"] = st["output_mb"]
        for role in ("driver", "jvm", "python_worker"):
            m[f"proc.{role}_cpu_s"] = p["cpu"][role]
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    out = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    for k in (probe_runs[0] if probe_runs else {}):
        out[k] = statistics.median(pr[k] for pr in probe_runs)
    return out


def write_spans(spans: list[dict], path: str) -> None:
    """One JSON line per span, with its self time: the span's duration
    minus the part its (sequential) child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    with open(path, "w") as f:
        for s in spans:
            dur = s["end"] - s["start"]
            f.write(json.dumps({**s, "self": dur - child.get(s["id"], 0.0)}) + "\n")


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    wl = WORKLOADS[cfg["workload"]]
    traced = bool(cfg["trace"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap, so that heap resizing does not vary run to run
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
    }
    if traced:
        # keep the whole job/stage history of the run for attribution
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    t0 = time.time()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    get_spark_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    setup_s = time.time() - cfg["t_spawn"]
    if cfg.get("setup_only"):
        with open(cfg["result"], "w") as f:
            json.dump({"setup_s": setup_s, "get_spark_s": get_spark_s}, f)
        spark.stop()
        return

    runner = Runner(spark, wl, cfg)
    tracer = Tracer(spark, cfg["run_id"]) if traced else None
    off = _NoTrace()
    rec = {"setup_s": setup_s, "get_spark_s": get_spark_s, "passes": []}

    # The measured window starts with the cold pass and ends --seconds
    # later, after the workload's fixed number of warm-up and measured
    # passes. The JIT keeps improving for several passes, and how fast it
    # settles depends on how busy the box is, so warm-up passes run first
    # and are not measured; a window shorter than the cold pass keeps the
    # pass count fixed.
    deadline = time.perf_counter() + cfg["seconds"]
    first = runner.run_pass(off)
    rec["first_pass_s"] = first["wall"]
    rec["first"] = first
    probe_runs: list[dict] = []
    # After the warm-up (at least one pass when traced), a traced run
    # alternates traced and untraced passes, traced first, so that any JIT
    # warm-up left biases trace.overhead_s up rather than down.
    n_warmup = max(wl.warmup, 1) if traced else wl.warmup
    need = n_warmup + (2 if traced else wl.warm_passes)
    n = 0
    while True:
        warmup = n < n_warmup
        use_trace = traced and not warmup and (n - n_warmup) % 2 == 0
        if use_trace:
            tracer.pass_no = n
        p = runner.run_pass(tracer if use_trace else off)
        p["pass"], p["traced"], p["warmup"] = n, use_trace, warmup
        rec["passes"].append(p)
        if use_trace and wl.inputs == "headlines":
            probe_runs.append(runner.headline_probes())
        n += 1
        # never start a pass that would overrun the measured window
        if n < need or deadline - time.perf_counter() > p["wall"]:
            continue
        break
    rec["peak_rss_mb"] = probes.peak_rss_mb(os.getpid())
    if traced:
        traced_passes = [p for p in rec["passes"] if p["traced"]]
        rec["layers"] = layer_metrics(tracer, traced_passes, probe_runs)
        rec["layers"]["session.get_spark_s"] = get_spark_s
        rec["layers"]["proc.peak_rss_mb"] = rec["peak_rss_mb"]
        rec["layers"]["trace.overhead_s"] = statistics.median(
            p["wall"] for p in traced_passes
        ) - statistics.median(
            p["wall"] for p in rec["passes"]
            if not (p["traced"] or p["warmup"])
        )
        write_spans(tracer.spans, os.path.join(cfg["out_dir"], "spans.jsonl"))
    with open(cfg["result"], "w") as f:
        json.dump(rec, f)
    spark.stop()


if __name__ == "__main__":
    main()
