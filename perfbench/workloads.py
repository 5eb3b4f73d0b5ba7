"""The benchmark's workloads: what one pass runs and how it is checked.

A pass is a closed loop with one client: operations run one at a time,
each after the previous one finished. Every workload has

- ``stage(run)``      — input staging, part of set-up;
- ``verify(run)``     — the first, untimed pass: runs every operation and
                        checks its output against an independent
                        reference (it is also the first warm-up pass);
- ``run_pass(run, k)`` — one pass (a warm-up pass for ``k <= 0``, else
                        timed), returning its operation records;
- ``check_pass(run, k)`` — the untimed check of that pass's outputs.

Operation records are plain dicts: ``name``, ``kind`` (query / task /
epoch), ``wall_s``, ``jobs``, ``ok`` plus per-layer fields.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import time

LANDING_FILES = 8


def _oracle_con(sf_dir: str):
    import duckdb

    from classification_pyspark_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _frame_key(cols, rows):
    from check_oracle import frame_key  # tools/check_oracle.py, the oracle gate's comparator

    return frame_key(cols, rows)


def _hash_rows(cols, rows) -> str:
    sc, keyed = _frame_key(list(cols), rows)
    return hashlib.sha1(repr((sc, keyed)).encode()).hexdigest()[:16]


def _hash_parquet_dir(path: str) -> tuple[str, int]:
    """Order-insensitive hash and row count of a parquet sink."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = table.column_names
    rows = list(zip(*(table.column(c).to_pylist() for c in cols))) if cols else []
    return _hash_rows(cols, rows), table.num_rows


class QueryWorkload:
    """Registry queries at one scale: ``QUERIES[name](spark, sf_dir)``
    followed by a terminal ``noop`` write, in a seed-derived order."""

    kind = "query"

    def __init__(self, name: str, sf: float, queries: list[str], nominal_pass_s: float, warm_passes: int):
        self.name = name
        self.sf = sf
        self.queries = queries
        self.nominal_pass_s = nominal_pass_s
        self.warm_passes = warm_passes

    def order(self, seed: int) -> list[str]:
        names = list(self.queries)
        random.Random(seed).shuffle(names)
        return names

    def oracle_results(self, sf_dir: str) -> dict:
        """DuckDB oracle results, computed before the session starts so
        they never count toward set-up."""
        from classification_pyspark_spark.queries import ORACLES

        con = _oracle_con(sf_dir)
        out = {}
        for q in self.queries:
            res = con.execute(ORACLES[q])
            out[q] = ([d[0] for d in res.description], res.fetchall())
        con.close()
        return out

    def stage(self, run) -> None:
        pass

    def _op(self, run, tag: str, q: str, terminal):
        from classification_pyspark_spark.operators.caching import release_tracked
        from classification_pyspark_spark.queries import QUERIES

        span = run.tracer.open(f"query:{q}", pass_tag=tag)
        g = f"{tag}.{q}"
        start = time.time()
        b = run.tracer.open("build")
        run.jobs.group(g + ":build")
        t0 = time.perf_counter()
        df = QUERIES[q](run.spark, run.sf_dir)
        t1 = time.perf_counter()
        run.tracer.close(b)
        e = run.tracer.open("execute")
        run.jobs.group(g + ":exec")
        result = terminal(df)
        t2 = time.perf_counter()
        run.tracer.close(e)
        rec = {
            "name": q,
            "kind": "query",
            "start": start,
            "wall_s": t2 - t0,
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "build_jobs": run.jobs.count(g + ":build"),
            "exec_jobs": run.jobs.count(g + ":exec"),
            "ok": True,
        }
        rec["jobs"] = rec["build_jobs"] + rec["exec_jobs"]
        # untimed: drop the operator caches this query left behind
        rec["released"] = release_tracked()
        run.spark.catalog.clearCache()
        run.tracer.close(span, jobs=rec["jobs"], released=rec["released"])
        return df, result, rec

    def verify(self, run) -> tuple[list[dict], list[str]]:
        from probes import plan_fingerprint

        oracle = run.oracle
        recs, failures = [], []
        for q in self.order(run.seed):
            df, rows, rec = self._op(run, "verify", q, lambda d: [tuple(r) for r in d.collect()])
            got = _frame_key(df.columns, rows)
            want = _frame_key(*oracle[q])
            if got != want:
                rec["ok"] = False
                failures.append(f"{q}: {len(rows)} rows differ from the DuckDB oracle ({len(oracle[q][1])} rows)")
            run.fingerprints[q] = plan_fingerprint(df, run.root)
            rec["hash"] = _hash_rows(df.columns, rows)
            recs.append(rec)
        return recs, failures

    def run_pass(self, run, k: int) -> list[dict]:
        noop = lambda d: d.write.format("noop").mode("overwrite").save()  # noqa: E731
        return [self._op(run, f"p{k}", q, noop)[2] for q in self.order(run.seed + k)]

    def check_pass(self, run, k: int) -> None:
        pass  # the noop sink has no output; the verification pass checked every result


class PipelineWorkload:
    """The production catalog through ``plans.runner.execute_job``: the
    data-cleaning -> feature-engineering -> training chain, then
    streaming ingest of a landing zone staged file by file."""

    kind = "pipeline"
    name = "pipeline"

    def __init__(self, sf: float, nominal_pass_s: float, warm_passes: int):
        self.sf = sf
        self.nominal_pass_s = nominal_pass_s
        self.warm_passes = warm_passes

    def catalog(self, run, out: str) -> list[tuple[str, str, dict]]:
        sf, land = run.sf_dir, run.landing
        return [
            ("data-cleaning", "clean-tables", {"sf_dir": sf, "out": f"{out}/clean"}),
            ("feature-engineering", "build-mart", {"inp": f"{out}/clean", "out": f"{out}/mart"}),
            (
                "training",
                "fit-classifier",
                {"inp": f"{out}/mart", "model_out": f"{out}/model", "holdout_out": f"{out}/holdout"},
            ),
            (
                "corpus-ingest",
                "ingest-documents",
                {
                    "landing": land,
                    "sink": f"{out}/corpus",
                    "index": f"{out}/corpus_index",
                    "checkpoint": f"{out}/ingest_ckpt",
                    "max_files_per_trigger": LANDING_FILES // 2,
                },
            ),
        ]

    # sinks compared by order-insensitive hash across passes
    SINKS = ("clean/customer", "clean/orders", "clean/lineitem", "mart", "corpus")
    # Known defect, reported on every run rather than counted as a wrong
    # output: fit-classifier's holdout comes from
    # ``operators.sampling.stratified_split``, which documents itself as
    # deterministic under a fixed seed but draws ``F.rand(seed)`` over
    # the mart's row order, and the mart write does not fix that order.
    # The holdout is still checked: a subset of the mart near the 30%
    # test ratio.
    NONDETERMINISTIC = ("holdout",)

    def oracle_results(self, sf_dir: str) -> dict:
        """Row counts the cleaning job must produce (distinct keys)."""
        con = _oracle_con(sf_dir)
        want = {
            "clean/customer": "SELECT count(DISTINCT c_custkey) FROM customer",
            "clean/orders": "SELECT count(DISTINCT o_orderkey) FROM orders",
            "clean/lineitem": "SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)",
        }
        out = {k: con.execute(sql).fetchone()[0] for k, sql in want.items()}
        con.close()
        return out

    def stage(self, run) -> None:
        """Land the corpus as LANDING_FILES parquet files, one at a time
        with strictly increasing mtimes, in a seed-derived split and
        arrival order, so the file source sees one fixed sequence."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(run.sf_dir, "documents.parquet"))
        idx = list(range(docs.num_rows))
        rng = random.Random(run.seed)
        rng.shuffle(idx)
        land = run.landing
        shutil.rmtree(land, ignore_errors=True)
        os.makedirs(land)
        base = int(time.time()) - 10 * LANDING_FILES
        for i in range(LANDING_FILES):
            part = docs.take(sorted(idx[i::LANDING_FILES]))
            path = os.path.join(land, f"part-{i:02d}.parquet")
            pq.write_table(part, path)
            os.utime(path, (base + i, base + i))
        texts = docs.column("text").to_pylist()
        run.digest_reference = {hashlib.md5(t.encode()).hexdigest() for t in texts}

    def _pass(self, run, tag: str) -> tuple[list[dict], str]:
        from classification_pyspark_spark.plans.planner import create_job_plan
        from classification_pyspark_spark.plans.runner import execute_job

        out = os.path.join(run.run_dir, tag)
        shutil.rmtree(out, ignore_errors=True)
        recs = []
        for job, task, params in self.catalog(run, out):
            plan = create_job_plan(
                {"name": job, "stages": [{"name": job, "tasks": [{"name": task, "params": params}]}]}
            )
            tracker = _RecordingTracker()
            g = f"{tag}.{task}"
            span = run.tracer.open(f"execute_job:{job}", pass_tag=tag)
            run.jobs.group(g)
            start = time.time()
            t0 = time.perf_counter()
            status = execute_job(run.spark, plan, tracker=tracker)
            wall = time.perf_counter() - t0
            runs, epochs = run.listener.drain()
            task_rec = tracker.tasks[0]
            run.tracer.add(f"task:{task}", task_rec.started_at, task_rec.ended_at)
            for ep in epochs:
                end = _iso_s(ep["timestamp"]) + ep["duration_s"]
                run.tracer.add("epoch", end - ep["duration_s"], end, rows_in=ep["rows_in"])
            ok = all(s.success for s in status.values())
            rec = {
                "name": task,
                "kind": "task",
                "start": start,
                "wall_s": task_rec.wall_s,
                "job_wall_s": wall,
                "jobs": run.jobs.count(g, *runs),
                "ok": ok,
                "message": "; ".join(s.message for s in status.values()),
                "epochs": epochs,
            }
            run.tracer.close(span, jobs=rec["jobs"], ok=ok)
            recs.append(rec)
            recs.extend(
                {"name": f"epoch{e['batch']}", "kind": "epoch", "wall_s": e["duration_s"], "jobs": 0, "ok": ok}
                for e in epochs
            )
        return recs, out

    def verify(self, run) -> tuple[list[dict], list[str]]:
        recs, out = self._pass(run, "verify")
        failures = [f"{r['name']}: {r['message']}" for r in recs if r["kind"] == "task" and not r["ok"]]
        run.sink_hashes = {}
        for sink in self.SINKS:
            path = os.path.join(out, sink)
            if not os.path.isdir(path):
                failures.append(f"{sink}: no output")
                continue
            h, n = _hash_parquet_dir(path)
            run.sink_hashes[sink] = h
            want = run.oracle.get(sink)
            if want is not None and n != want:
                failures.append(f"{sink}: {n} rows, expected {want} distinct keys")
        failures += self._check_corpus(run, os.path.join(out, "corpus"))
        failures += self._check_holdout(run, out)
        return recs, failures

    def _check_holdout(self, run, out: str) -> list[str]:
        import pyarrow.dataset as ds

        def keys(sink):
            t = ds.dataset(os.path.join(out, sink), format="parquet").to_table(columns=["c_custkey"])
            return t.column("c_custkey").to_pylist()

        mart, holdout = set(keys("mart")), keys("holdout")
        run.sink_hashes["holdout"] = _hash_parquet_dir(os.path.join(out, "holdout"))[0]
        ratio = len(holdout) / max(1, len(mart))
        fails = []
        if not set(holdout) <= mart or len(set(holdout)) != len(holdout):
            fails.append("holdout: rows that are not distinct mart customers")
        if not 0.2 <= ratio <= 0.4:
            fails.append(f"holdout: {ratio:.3f} of the mart, expected about 0.3")
        return fails

    def _check_corpus(self, run, sink: str) -> list[str]:
        """Exact ingest keeps one document per distinct text: compare the
        sink's digests with the batch digest-dedup of the landing zone."""
        import pyarrow.dataset as ds

        if not os.path.isdir(sink):
            return []
        texts = ds.dataset(sink, format="parquet", partitioning="hive").to_table(columns=["text"])
        digests = [hashlib.md5(t.encode()).hexdigest() for t in texts.column("text").to_pylist()]
        fails = []
        if len(digests) != len(set(digests)):
            fails.append(f"corpus: {len(digests) - len(set(digests))} duplicate texts accepted")
        if set(digests) != run.digest_reference:
            fails.append(
                f"corpus: {len(set(digests))} distinct texts, batch digest dedup gives "
                f"{len(run.digest_reference)}"
            )
        return fails

    def run_pass(self, run, k: int) -> list[dict]:
        recs, _ = self._pass(run, f"p{k}")
        run.failures += [f"pass {k}: {r['name']}: {r['message']}" for r in recs if r["kind"] == "task" and not r["ok"]]
        return recs

    def check_pass(self, run, k: int) -> None:
        out = os.path.join(run.run_dir, f"p{k}")
        for sink in self.SINKS:
            path = os.path.join(out, sink)
            h, n = _hash_parquet_dir(path) if os.path.isdir(path) else (None, 0)
            if h != run.sink_hashes.get(sink):
                run.failures.append(f"pass {k}: {sink} hash {h} differs from the verification pass")
            if sink == "corpus":
                run.accepted[k] = n
        for sink in self.NONDETERMINISTIC:
            h = _hash_parquet_dir(os.path.join(out, sink))[0]
            if h != run.sink_hashes[sink]:
                run.defects.append(f"pass {k}: {sink} differs from the verification pass ({h})")
        run.output_files[k] = sum(
            1
            for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
        )
        shutil.rmtree(out)


def _iso_s(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _RecordingTracker:
    """A ``plans.tracking`` tracker that keeps the task records in memory."""

    def __init__(self):
        self.tasks = []

    def start_job(self, name):
        pass

    def log_task(self, record):
        self.tasks.append(record)

    def end_job(self, name, n_tasks, n_failed, wall_s):
        pass


# Pass sizes and warm-up counts are set by the run budget: every run is
# a fresh JVM whose first (verification) pass runs cold, and pass times
# keep falling for several passes after it (JIT). Measured on 4 vCPUs:
# curation's two timed passes after two warm-ups read about 8% above
# those after three. Pipeline passes are longer, so it spends its budget
# on timed passes instead of warm-up ones: three after the verification
# pass, of which the reported figures are medians (they read about 10%
# apart, falling). More passes would not fit the run budget.
# The number of timed passes is round(--seconds / nominal_pass_s), where
# nominal_pass_s is what a pass counts against --seconds, not its
# measured time: two curation and three pipeline passes at --seconds 8.
WORKLOADS = {
    "curation": QueryWorkload(
        "curation",
        0.001,
        ["corpus_curation", "lm_perplexity_filter", "minhash_dup_pairs", "substring_dedup_rewrite"],
        nominal_pass_s=4.0,
        warm_passes=2,
    ),
    "pipeline": PipelineWorkload(0.001, nominal_pass_s=2.7, warm_passes=0),
}
