"""The engine's benchmark: one workload, one process, one closed loop.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It

1. builds the workload's input directory once per checkout under
   ``.perfbench/data`` (a separate process; its time is printed, never
   part of ``setup_s``) and computes the DuckDB oracle results;
2. starts a fresh Spark session on ``local[nproc]``, stages inputs, runs
   the untimed verification pass, which checks every output and starts
   the JIT, then the workload's warm-up passes — all of it is
   ``setup_s``;
3. runs ``round(seconds / nominal pass time)`` (at least one) timed
   passes, so every run does the same amount of work;
4. prints a report, then one JSON line: end-to-end metrics with
   ``--trace 0``; per-layer metrics from Spark's event log and the
   benchmark's spans with ``--trace 1``.

Outputs (spans, run record, history of job counts) go to
``.perfbench/out``, never into the tracked tree.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def spec_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json, the single
    list of the metrics a run must print."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, **kw):
        self.__dict__.update(kw)
        self.fingerprints: dict[str, str] = {}
        self.failures: list[str] = []
        self.defects: list[str] = []  # known program defects, reported but not failures
        self.output_files: dict[int, int] = {}


def tree_digest(root: str) -> str:
    """sha1 of every Python source in the checkout, so that a traced run
    is compared only with untraced runs of the same code."""
    h = hashlib.sha1()
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def untraced_walls(path: str, tree: str) -> list[float]:
    """Pass walls of the untraced runs of this code recorded in the checkout."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = [json.loads(line) for line in f]
    return [r["wall_s"] for r in recs if r["tree"] == tree]


def ensure_data(root: str, work: str, sf: float) -> tuple[str, float | None]:
    """The cached input directory for ``sf``; built on first use."""
    out = os.path.join(work, "data", f"sf{sf:g}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        cmd = [sys.executable, os.path.join(HERE, "gen_data.py"), "--sf", str(sf), "--out", out]
        subprocess.run(cmd, cwd=root, check=True, stdout=sys.stderr, timeout=850)
    with open(os.path.join(out, "meta.json")) as f:
        return out, json.load(f)["gen_s"]


def tail(ops: list[dict]) -> tuple[str, float]:
    """The highest nearest-rank percentile of the operation latencies
    with at least ten samples above it, and its value. With fewer than
    twenty samples that percentile would not lie above the median, so the
    tail is then the slowest operation's median latency over the passes."""
    xs = sorted(r["wall_s"] for r in ops)
    n = len(xs)
    if n < 20:
        by_name: dict[str, list[float]] = {}
        for r in ops:
            by_name.setdefault(r["name"], []).append(r["wall_s"])
        name, value = max(((k, statistics.median(v)) for k, v in by_name.items()), key=lambda kv: kv[1])
        return f"the median of {name}, the slowest operation,", value
    rank = n - 10  # 1-based rank: exactly ten samples lie above it
    return f"p{100.0 * rank / n:.1f}", xs[rank - 1]


def cpu_now(jvm: int | None) -> float:
    """CPU seconds so far of this Python driver plus the JVM's process tree."""
    from probes import tree_cpu_s

    t = os.times()
    return t.user + t.system + (tree_cpu_s(jvm) if jvm is not None else 0.0)


def run_passes(run, workload, n_passes: int) -> tuple[list[dict], list[list[dict]]]:
    """The timed passes. Returns pass windows and per-pass op records."""
    windows, passes = [], []
    for k in range(1, n_passes + 1):
        span = run.tracer.open("pass", k=k)
        c0 = cpu_now(run.jvm)
        start, t0 = time.time(), time.perf_counter()
        recs = workload.run_pass(run, k)
        wall = time.perf_counter() - t0
        cpu = cpu_now(run.jvm) - c0
        run.tracer.close(span)
        workload.check_pass(run, k)
        windows.append({"k": k, "start": start, "end": start + wall, "wall_s": wall, "cpu_s": cpu})
        passes.append(recs)
    return windows, passes


def history(path: str, workload: str, ops: dict[str, list[int]]) -> tuple[list[str], list[str]]:
    """Append this run's per-operation job counts to the checkout's
    history; return which operations repeated exactly across all
    recorded runs and which varied."""
    with open(path, "a") as f:
        f.write(json.dumps({"workload": workload, "jobs": ops}) + "\n")
    seen: dict[str, set[int]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["workload"] != workload:
                continue
            for name, counts in rec["jobs"].items():
                seen.setdefault(name, set()).update(counts)
    exact = sorted(n for n, v in seen.items() if len(v) == 1)
    varying = sorted(f"{n}{sorted(v)}" for n, v in seen.items() if len(v) > 1)
    return exact, varying


def layer_metrics(run, workload, windows, passes, events, cores) -> dict[str, float]:
    """Per-layer metrics of each timed pass, medianed over passes."""
    from probes import window_counters

    names = spec_units("per_layer")
    per_pass = []
    for w, recs in zip(windows, passes):
        m = dict.fromkeys(names, 0.0)
        m.update(window_counters(events, w["start"], w["end"], cores))
        queries = [r for r in recs if r["kind"] == "query"]
        tasks = [r for r in recs if r["kind"] == "task"]
        for key in ("build_s", "exec_s", "build_jobs", "exec_jobs"):
            m[f"queries.{key}"] = sum(r[key] for r in queries)
        m["caching.released"] = sum(r.get("released", 0) for r in queries)
        for r in tasks:
            m[f"plans.task_s.{r['name']}"] = r["wall_s"]
            m[f"plans.task_jobs.{r['name']}"] = r["jobs"]
        if tasks:
            m["plans.overhead_s"] = sum(r["job_wall_s"] - r["wall_s"] for r in tasks)
        epochs = [e for r in tasks for e in r["epochs"]]
        ingest = [r for r in tasks if r["epochs"]]
        if epochs:
            m["stream.epochs"] = len(epochs)
            m["stream.epoch_s"] = sum(e["duration_s"] for e in epochs)
            m["stream.epoch_p50_s"] = statistics.median(e["duration_s"] for e in epochs)
            m["stream.rows_in"] = sum(e["rows_in"] for e in epochs)
            m["stream.rows_accepted"] = run.accepted[w["k"]]
            m["stream.accept_ratio"] = m["stream.rows_accepted"] / max(1, m["stream.rows_in"])
            m["stream.docs_per_s"] = m["stream.rows_in"] / sum(r["wall_s"] for r in ingest)
        m["io.output_files"] = run.output_files.get(w["k"], 0)
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["session.start_s"] = run.session_start_s
    return out


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    needed = ("classification_pyspark_spark/queries.py", "tools/gen_scale_data.py", "tools/check_oracle.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not at the root of an engine checkout (missing {missing})", file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tools")]

    from probes import (
        JobCounter,
        Tracer,
        jvm_pid,
        make_stream_listener,
        peak_rss_mb,
        read_event_log,
        session_record,
        start_session,
        stop_spark,
    )

    workload = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    # keep every temporary file inside the checkout: Python's (and so the
    # workers'), and the JVMs' perf-data files, which ignore java.io.tmpdir
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sf_dir, gen_s = ensure_data(root, work, workload.sf)
    print(f"data: {sf_dir} built in {gen_s:.1f} s (not part of setup_s)", file=sys.stderr)

    untraced_log = os.path.join(out_dir, f"untraced-{args.workload}.jsonl")
    tree = tree_digest(root)
    if args.trace and not untraced_walls(untraced_log, tree):
        # the tracing overhead needs an untraced reference run of this code
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=root, check=True, stdout=sys.stderr, timeout=170)

    run_dir = os.path.join(work, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    oracle = workload.oracle_results(sf_dir)
    cores = os.cpu_count() or 1
    n_passes = max(1, round(args.seconds / workload.nominal_pass_s))
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))

    # import the package (and the oracle comparator) before the set-up clock starts
    import check_oracle  # noqa: F401
    from classification_pyspark_spark import production  # noqa: F401 — registers the catalog processors

    t_setup = time.perf_counter()
    spark, start_s = start_session(cores, run_dir, event_dir)
    try:
        run = Run(
            spark=spark, root=root, seed=args.seed, sf_dir=sf_dir, run_dir=run_dir, oracle=oracle,
            tracer=tracer, jobs=JobCounter(spark),
            listener=make_stream_listener(spark) if workload.kind == "pipeline" else None,
            landing=os.path.join(run_dir, "landing"), session_start_s=start_s, accepted={},
            jvm=jvm_pid(),
        )
        if args.trace:
            wrap_ingest(tracer)
        meta = session_record(spark)
        span = tracer.open("setup")
        workload.stage(run)
        t_verify = time.perf_counter()
        try:
            verify_recs, failures = workload.verify(run)
        except Exception:  # noqa: BLE001 — a crashing pass is a failed run, reported below
            traceback.print_exc()
            verify_recs, failures = [], ["verification pass raised"]
        verify_s = time.perf_counter() - t_verify
        run.failures += failures
        # the verification pass starts the JIT cold; untimed passes bring
        # pass times near their plateau before the timed passes
        warm_s = []
        for k in range(0 if failures else workload.warm_passes):
            t_warm = time.perf_counter()
            workload.run_pass(run, -k)
            warm_s.append(round(time.perf_counter() - t_warm, 2))
            workload.check_pass(run, -k)
        tracer.close(span)
        setup_s = time.perf_counter() - t_setup
        try:
            windows, passes = run_passes(run, workload, n_passes) if not failures else ([], [])
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            windows, passes = [], []
            run.failures.append("a timed pass raised")
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    ops = [r for recs in passes for r in recs]
    # each failure names one wrong output or failed operation
    failed = len(run.failures)
    attempted = max(len(verify_recs) + len(ops), failed, 1)
    correct = failed == 0
    print(f"workload {args.workload}: seed {args.seed}, local[{cores}], verification pass "
          f"{verify_s:.2f} s, warm-up passes {warm_s} s, timed passes "
          f"{[round(w['wall_s'], 2) for w in windows]} s")
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    for d in run.defects:
        print(f"NONDETERMINISTIC (known defect) {d}")
    print(f"session: {json.dumps(meta)}, seed {args.seed}")
    print(f"plan fingerprints: {json.dumps(run.fingerprints)}")

    # every pass: jobs per operation, and which counts repeat across runs
    table = {"verify": verify_recs, **{f"p{i + 1}": recs for i, recs in enumerate(passes)}}
    for tag, recs in table.items():
        cells = ", ".join(f"{r['name']}={r['jobs']}" for r in recs if r["kind"] != "epoch")
        print(f"spark.jobs per operation [{tag}]: {cells}")
    job_ops: dict[str, list[int]] = {}
    for recs in passes:
        for r in recs:
            if r["kind"] != "epoch":
                job_ops.setdefault(r["name"], []).append(r["jobs"])
    exact, varying = history(os.path.join(out_dir, "jobs-history.jsonl"), args.workload, job_ops)
    print(f"job counts exact across recorded runs: {exact}")
    print(f"job counts varying across recorded runs: {varying}")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "run_id": run_id,
        "session": meta, "data_gen_s": gen_s, "plan_fingerprints": run.fingerprints,
        "verify": verify_recs, "passes": passes, "windows": windows, "failures": run.failures,
        "defects": run.defects,
    }
    if not windows:
        with open(os.path.join(out_dir, f"record-{run_id}.json"), "w") as f:
            json.dump(record, f, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
        return 1

    if args.trace:
        events = read_event_log(event_dir)
        metrics = layer_metrics(run, workload, windows, passes, events, cores)
        walls = untraced_walls(untraced_log, tree)
        metrics["trace.overhead_s"] = statistics.median(w["wall_s"] for w in windows) - statistics.median(walls)
        tracer.dump(os.path.join(out_dir, f"spans-{run_id}.json"))
        units = spec_units("per_layer")
    else:
        walls = [w["wall_s"] for w in windows]
        lat = [r["wall_s"] for r in ops]
        pct, tail_v = tail(ops)
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median(w["cpu_s"] for w in windows),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "peak_rss_mb": rss,
        }
        print(f"op_tail_s is {pct} of {len(lat)} operation samples; op_p50_s over the same samples")
        print(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted} operations)")
        with open(untraced_log, "a") as f:
            f.write(json.dumps({"seed": args.seed, "tree": tree, "wall_s": metrics["wall_s"]}) + "\n")
        units = spec_units("end_to_end")
    record["metrics"] = metrics
    with open(os.path.join(out_dir, f"record-{run_id}.json"), "w") as f:
        json.dump(record, f, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def wrap_ingest(tracer) -> None:
    """Span every ``streaming.corpus.ingest_documents*`` call. The
    production processors import these names at call time, so wrapping
    the module attributes reaches them without touching the package."""
    import functools

    from classification_pyspark_spark.streaming import corpus

    for name in [n for n in dir(corpus) if n.startswith("ingest_documents")]:
        fn = getattr(corpus, name)

        @functools.wraps(fn)
        def spanned(*a, _fn=fn, _name=name, **kw):
            span = tracer.open(f"streaming.{_name}")
            try:
                return _fn(*a, **kw)
            finally:
                tracer.close(span)

        setattr(corpus, name, spanned)


if __name__ == "__main__":
    sys.exit(main())
