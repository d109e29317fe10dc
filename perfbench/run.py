"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree that holds ``BENCHMARK.json`` and the
``mapreduce_stockheadlines_spark`` package. The run

1. generates the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench_work/``) and, for registry queries, their DuckDB oracle
   answers on those inputs;
2. starts fresh Spark driver processes (``perfbench/worker.py``) on
   ``local[nproc]``: one that only sets up, then one that sets up, runs
   one cold pass, the workload's unmeasured warm-up passes, then its
   measured warm passes (more if ``--seconds`` since the cold pass began
   allow), checking every call's output between passes;
3. prints every metric by name with its unit, the correctness verdict and
   the run record (nproc, load average, code hash, seed), and as its last
   line one JSON object: ``correct``, ``attempted``, ``failed`` and
   ``metrics`` (the end-to-end metrics of BENCHMARK.json with
   ``--trace 0``, its per-layer metrics with ``--trace 1``).

It exits non-zero, printing no result, when the engine is missing or the
run fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_stockheadlines_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 170  # the whole run, generation included
SETUP_SAMPLES = 2  # fresh processes whose set-up time is measured


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _code_hash() -> str:
    h = hashlib.sha1()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


def prepare_inputs(wl, seed: int) -> tuple[str, str]:
    """Generate the inputs (and oracle answers) once per seed and size."""
    import gen
    from workloads import TABLES

    key = hashlib.sha1(json.dumps(wl.size, sort_keys=True).encode()).hexdigest()[:8]
    data = os.path.join(WORK, "data", f"{wl.inputs}-{key}-{seed}")
    if not os.path.exists(os.path.join(data, "DONE")):
        os.makedirs(data, exist_ok=True)
        if wl.inputs == "headlines":
            expected = gen.make_headlines(data, seed, **wl.size)
            with open(os.path.join(data, "expected.json"), "w") as f:
                json.dump(expected, f)
        else:
            gen.make_tables(data, seed, **wl.size)
        open(os.path.join(data, "DONE"), "w").close()
    oracle = os.path.join(data, "oracle")
    if wl.inputs != "headlines":
        os.makedirs(oracle, exist_ok=True)
        missing = [q for q in wl.calls
                   if not os.path.exists(os.path.join(oracle, f"{q}.arrow"))]
        if missing:
            import duckdb
            import pyarrow.feather as feather

            from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data}/{t}.parquet')")
            for q in missing:
                tmp = os.path.join(oracle, f"{q}.tmp")
                feather.write_feather(con.sql(ALL_QUERIES[q].oracle).arrow(), tmp)
                os.replace(tmp, os.path.join(oracle, f"{q}.arrow"))
            con.close()
    return data, oracle


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``: the worker, its JVM
    and the Python workers the JVM forks, whatever their process group."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if fields[0] != "Z" and int(fields[3]) == sid:
                out.append(int(name))
    return out


def _stop_session(proc: subprocess.Popen) -> None:
    """Terminate whatever is left of the worker's session and wait until
    every member has exited."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for pid in _session_pids(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + grace
        while time.time() < end:
            proc.poll()
            if not _session_pids(proc.pid):
                return
            time.sleep(0.05)
    proc.wait()


def run_worker(wl, args, data: str, oracle: str, t_start: float,
               setup_only: int = 0) -> dict:
    """Run one fresh worker process; ``setup_only`` > 0 numbers a bare
    set-up sample, which stops once the session is ready."""
    run_id = f"{wl.name}-{args.seed}-{args.trace}-{os.getpid()}"
    if setup_only:
        run_id += f"-setup{setup_only}"
    out = os.path.join(WORK, "runs", run_id)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cfg = {
        "workload": wl.name, "seconds": args.seconds, "trace": args.trace,
        "data_dir": data, "oracle_dir": oracle, "out_dir": out,
        "run_id": run_id, "result": os.path.join(out, "result.json"),
        "setup_only": bool(setup_only),
    }
    env = dict(os.environ)
    env.update({
        # Python workers import the engine too: export it on PYTHONPATH
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(out, "spark-local"),
        "TMPDIR": tmp,
        # keep JVM temp files inside the checkout (hsperfdata goes to /tmp)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    cfg_path = os.path.join(out, "config.json")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(out, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc)
    if code != 0:
        with open(os.path.join(out, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        _fail("worker timed out" if code is None else f"worker exited with {code}", 3)
    with open(cfg["result"]) as f:
        return json.load(f)


def _tail(walls: list[float]) -> str:
    """Highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return f"n/a (needs 11 samples, have {n})"
    k = n - 10
    return f"p{100 * k / n:.0f} = {sorted(walls)[k - 1]:.4f} s"


def main(argv: list[str] | None = None) -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"engine package {PACKAGE}/ not found under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    from checks import error_rate
    from workloads import WORKLOADS, should_move

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    data, oracle = prepare_inputs(wl, args.seed)
    # set-up is a fresh JVM start and spreads on its own, so it is sampled
    # more than once: bare set-ups first, then the measured run's own, and
    # setup_s is their median (a traced run reports no setup_s and takes
    # only its own)
    setups = [run_worker(wl, args, data, oracle, t_start, setup_only=i)["setup_s"]
              for i in range(1, 1 if args.trace else SETUP_SAMPLES)]
    rec = run_worker(wl, args, data, oracle, t_start)
    setups.append(rec["setup_s"])

    passes = rec["passes"]
    warm = [p for p in passes if not (p["traced"] or p["warmup"])]
    walls = [p["wall"] for p in warm]
    attempted = rec["first"]["attempted"] + sum(p["attempted"] for p in passes)
    failed = rec["first"]["failed"] + sum(p["failed"] for p in passes)
    values = {
        "setup_s": statistics.median(setups),
        "first_pass_s": rec["first_pass_s"],
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(p["cpu"]["total"] for p in warm),
    }
    group = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        values = rec["layers"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[group]
    }

    load = os.getloadavg()
    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} "
          f"nproc={os.cpu_count()} loadavg={load[0]:.2f},{load[1]:.2f},{load[2]:.2f} "
          f"code={_code_hash()} calls={','.join(wl.calls)}")
    for name, m in metrics.items():
        moves = f"  [moves {should_move(name)}]" if args.trace else ""
        print(f"{wl.name} {name} = {m['value']:.6g} {m['unit']}{moves}")
    print(f"{wl.name} wall_s tail: {_tail(walls)}; warm samples = {len(walls)}")
    print(f"{wl.name} error_rate = {error_rate(attempted, failed):.6g} ratio "
          f"({failed} failed of {attempted} calls); "
          f"correct = {str(failed == 0).lower()}")
    for p in [rec["first"]] + passes:
        for e in p["errors"]:
            print(f"  error: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
