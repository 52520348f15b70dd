"""Engine benchmark: closed-loop passes over one workload, measured outside-in.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch_stream --seed 1 --seconds 12 --trace 0

One process runs one workload with one client thread on ``local[nproc]``:

1. generate the input lake (``datagen.py``, sf0.01 fixture shape) under
   ``perfbench/_work``, once per checkout;
2. set up once, cold: engine import, session (JVM launch), registry import,
   catalog load;
3. run one cold warm-up pass, then ``--seconds / PASS_S`` steady passes over
   the workload's ids in an order shuffled by ``--seed``; a job is
   ``registry.get_query(id).fn(spark, lake)`` followed by ``.collect()``;
4. outside the timed region, check every job's output: oracle ids against
   their DuckDB ``oracle_sql`` hash, streaming ids against their batch
   analog;
5. print one JSON line: the end-to-end metrics (``--trace 0``), or the
   per-layer metrics from the Spark status store and streaming progress
   (``--trace 1``, which also writes the spans).

Exits non-zero without a result when the engine is not importable.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
ENGINE = "streamline_hybrid_engine_spark"
PARITY = os.path.join(ROOT, "tools", "parity.py")

sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402
from workloads import PASS_S, STREAM_CHECKS, WORKLOADS  # noqa: E402

#: Steady passes per run, at least.
MIN_PASSES = 1
#: A job tail is the value with this many samples above it.
TAIL_BEYOND = 10
#: JVM heap of the Spark driver process; the session default (24g) is sized for the
#: large-scale bench, not for a 4-core host shared with other work.
DRIVER_MEM = "2g"
MB = float(1 << 20)

END_TO_END = (
    ("setup_s", "s"),
    ("warmup_cpu_s", "s"),
    ("cpu_s", "s"),
    ("job_cpu_p50_s", "s"),
    ("job_cpu_tail_s", "s"),
)
#: Wall-clock times of the steady and cold passes: reported with the
#: per-layer metrics, because on a host shared with other tenants they follow
#: the host's CPU steal from run to run far more than the CPU times do.
WALL = (
    ("run.setup_wall_s", "s"),
    ("run.warmup_s", "s"),
    ("run.pass_s", "s"),
    ("run.job_p50_s", "s"),
    ("run.job_tail_s", "s"),
)

#: Engine modules whose registered ids the workloads run (``fn.__module__``).
MODULES = (
    "operators.aggregates",
    "operators.sort_limit",
    "operators.joins",
    "operators.tpch_suite",
    "operators.subqueries",
    "operators.windows",
    "operators.time_windows",
    "llm.text",
    "llm.dedup",
    "llm.similarity",
    "streaming.jobs",
)
MODULE_FIELDS = (
    ("build_s", "s"),
    ("exec_s", "s"),
    ("spark_jobs", "count"),
    ("tasks", "count"),
    ("jvm_cpu_s", "s"),
    ("worker_gap_s", "s"),
    ("gc_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
)
#: streaming progress field -> durationMs key
PHASES = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
}
PER_LAYER = (
    tuple((f"{m}.{f}", u) for m in MODULES for f, u in MODULE_FIELDS)
    + (
        ("streaming.jobs.batches", "count"),
        ("streaming.jobs.input_rows", "count"),
    )
    + tuple((f"streaming.jobs.{k}", "ms") for k in PHASES)
    + (
        ("streaming.jobs.state_rows", "count"),
        ("streaming.jobs.state_mem_mb", "MB"),
        ("streaming.jobs.output_mb", "MB"),
        ("streaming.jobs.rows_per_s", "1/s"),
        ("streaming.jobs.microbatch_p50_ms", "ms"),
        ("session.start_s", "s"),
        ("registry.load_s", "s"),
        ("catalog.load_s", "s"),
        ("host.busy_cpu_s", "s"),
        ("host.steal_share", "ratio"),
        ("host.load1", "count"),
    )
    + WALL
    + (
        ("run.job_tail_pct", "%"),
        ("run.job_cpu_tail_pct", "%"),
        ("run.peak_rss_mb", "MB"),
        ("run.fail_ratio", "ratio"),
        ("trace.overhead_s", "s"),
        ("trace.overhead_share", "ratio"),
    )
)


@dataclass
class Job:
    qid: str
    module: str
    start: float  # epoch seconds
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    fingerprint: str = ""
    spark_jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    progress: list = field(default_factory=list)
    check_s: float = 0.0  # result fingerprinting, excluded from pass wall
    cpu_s: float = 0.0  # CPU of the whole process tree during the job

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    index: int
    traced: bool
    start: float
    wall_s: float = 0.0
    jobs: list = field(default_factory=list)


def configure_env(run_dir: str) -> dict[str, str]:
    """Pin the engine's settings and keep every file the run writes inside
    ``run_dir``, streaming checkpoints included: a run may write only inside
    its checkout, so they are not on the engine's default ``/dev/shm``.
    Returns what was set."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "ckpt", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SHE_CKPT_DIR": os.path.join(run_dir, "ckpt"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def setup_engine(lake: str):
    """(spark, queries, catalog module, phase times) of the engine's cold
    set-up in this process: nothing of pyspark or the engine is imported
    before it, so the session time includes the pyspark import and the JVM
    launch, as every real process pays them. ``cpu_s`` is the CPU of the
    whole process tree over the set-up, JVM included."""
    cpu0 = probes.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    session = importlib.import_module(f"{ENGINE}.session")
    spark = session.get_session("perfbench")
    t1 = time.perf_counter()
    queries = importlib.import_module(f"{ENGINE}.registry").all_queries()
    t2 = time.perf_counter()
    catalog = importlib.import_module(f"{ENGINE}.catalog")
    catalog.load_tables(spark, lake)
    t3 = time.perf_counter()
    times = {
        "session.start_s": t1 - t0,
        "registry.load_s": t2 - t1,
        "catalog.load_s": t3 - t2,
        "total_s": t3 - t0,
        "cpu_s": probes.tree_cpu_s(os.getpid()) - cpu0,
    }
    return spark, queries, catalog, times


def stop_engine(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_lake() -> str:
    """The input lake, written once per checkout and per version of the
    generator (in a child process, so this process imports nothing of the
    engine's stack before its timed set-up)."""
    src = os.path.join(HERE, "datagen.py")
    with open(src, "rb") as f:
        lake = os.path.join(WORK, "lake-" + hashlib.sha256(f.read()).hexdigest()[:12])
    if not os.path.isdir(lake):
        part = f"{lake}.part-{os.getpid()}"
        subprocess.run([sys.executable, src, part], check=True)
        os.rename(part, lake)
    return lake


def fingerprint(columns: list[str], rows: list) -> str:
    h = hashlib.sha256("|".join(columns).encode())
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def per_id(passes: list[Pass], attr: str = "latency_s") -> dict[str, list[float]]:
    """Each id's job latencies (or another ``Job`` attribute) over
    ``passes``, failed jobs left out."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for j in p.jobs:
            if not j.error:
                out.setdefault(j.qid, []).append(getattr(j, attr))
    return out


def median_pass(by_id: dict[str, list[float]]) -> float:
    """A pass made of each id's median job: one slow repeat of an id (a
    burst of host load, a late JIT compile) cannot move it."""
    return sum(statistics.median(v) for v in by_id.values())


def tail(by_id: dict[str, list[float]]) -> tuple[float, float]:
    """(value, percentile) of the highest latency percentile that still has
    ``TAIL_BEYOND`` samples above it. Below ``2 * TAIL_BEYOND + 1`` samples
    that percentile would not even reach the median; the tail is then the
    median latency of the slowest id (``by_id`` holds each id's samples),
    which one slow repeat cannot move, and the percentile is the share of
    samples at or below it."""
    s = sorted(x for v in by_id.values() for x in v)
    if len(s) <= 2 * TAIL_BEYOND:
        value = max(statistics.median(v) for v in by_id.values())
        return value, 100.0 * sum(x <= value for x in s) / len(s)
    k = len(s) - TAIL_BEYOND - 1
    return s[k], 100.0 * (k + 1) / len(s)


def unstable_counts(counts: dict[str, list[int]], previous: dict[str, int]) -> dict[str, list[int]]:
    """Ids whose Spark job counts differ between passes (``counts``) or from
    an earlier run (``previous``), each with every count seen, earlier run
    first."""
    out = {}
    for q, c in counts.items():
        seen = ([previous[q]] if q in previous else []) + c
        if len(set(seen)) > 1:
            out[q] = seen
    return out


def engine_digest() -> str:
    """Short hash of the engine's sources: job counts are compared only
    between runs of the same code."""
    h = hashlib.sha256()
    top = os.path.join(ROOT, ENGINE)
    for d, _, files in sorted(os.walk(top)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, top).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        self.workload = workload
        self.ids = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.lake = ""
        self.spark = None
        self.queries: dict = {}
        self.catalog = None
        self.store = None
        self.listener = None
        self.progress: list[dict] = []
        self.results: dict[str, dict[str, tuple[list[str], list]]] = {}
        self.settings: dict[str, str] = {}

    # ----------------------------------------------------------------- jobs

    def run_job(self, qid: str, traced: bool) -> Job:
        q = self.queries[qid]
        job = Job(qid, q.fn.__module__[len(ENGINE) + 1 :], time.time())
        mark = len(self.progress)
        rows = None
        cpu0 = probes.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            df = q.fn(self.spark, self.lake)
            t1 = time.perf_counter()
            rows = df.collect()
            job.build_s, job.exec_s = t1 - t0, time.perf_counter() - t1
        except Exception as e:  # counted in fail_ratio, never fatal
            job.build_s = time.perf_counter() - t0
            job.error = f"{type(e).__name__}: " + (str(e).splitlines() or [""])[0][:300]
        job.cpu_s = probes.tree_cpu_s(os.getpid()) - cpu0
        if traced:
            job.spark_jobs, job.stages = self.store.drain()
            job.progress = self.progress[mark:]
        if rows is not None:
            t = time.perf_counter()
            cols = list(df.columns)
            job.fingerprint = fingerprint(cols, rows)
            self.results.setdefault(qid, {}).setdefault(job.fingerprint, (cols, rows))
            job.check_s = time.perf_counter() - t
        return job

    def run_pass(self, index: int, traced: bool) -> Pass:
        # the cold pass keeps the declared order, so one-off costs (JIT,
        # codegen, worker start) land on the same jobs in every run
        order = list(self.ids)
        if index:
            random.Random(f"{self.seed}:{index}").shuffle(order)
        p = Pass(index, traced, time.time())
        t0 = time.perf_counter()
        if traced:
            self.store.drain()  # drop what an untraced pass left behind
            self.spark.streams.addListener(self.listener)
        for qid in order:
            p.jobs.append(self.run_job(qid, traced))
        if traced:
            self.spark.streams.removeListener(self.listener)
        p.wall_s = time.perf_counter() - t0 - sum(j.check_s for j in p.jobs)
        return p

    # ---------------------------------------------------------------- check

    def check(self) -> dict[tuple[str, str], str]:
        """(id, result fingerprint) -> failure reason, for every wrong result."""
        spec = importlib.util.spec_from_file_location("parity", PARITY)
        parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(parity)
        import pandas as pd

        con = parity.duck_con(self.lake)
        bad: dict[tuple[str, str], str] = {}
        for qid, by_fp in self.results.items():
            q = self.queries[qid]
            try:
                if q.oracle:
                    odf = con.execute(q.oracle).fetchdf()
                    want = (sorted(odf.columns), len(odf), parity.value_hash(odf))
                    for fp, (cols, rows) in by_fp.items():
                        sdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
                        if (sorted(cols), len(sdf), parity.value_hash(sdf)) != want:
                            bad[(qid, fp)] = "differs from oracle_sql"
                else:
                    ok = STREAM_CHECKS[qid](self.spark, self.lake, self.catalog.load_table)
                    for fp, (_, rows) in by_fp.items():
                        if not ok(rows):
                            bad[(qid, fp)] = "differs from batch analog"
            except Exception as e:
                for fp in by_fp:
                    bad[(qid, fp)] = f"check raised {type(e).__name__}: {str(e)[:200]}"
        con.close()
        return bad

    # ------------------------------------------------------------- teardown

    def teardown(self) -> list[int]:
        """Stop the session and the JVM; wait for every child to end."""
        if self.spark is None:
            return []
        tree = probes.descendants(os.getpid())[1:]
        spark, self.spark = self.spark, None
        stop_engine(spark)
        return probes.stop_tree(tree)

    # ------------------------------------------------------------------ run

    def run(self) -> dict:
        run_start = time.time()
        phases: dict[str, float] = {}
        mark = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        self.lake = make_lake()
        phase("datagen_s")
        start = time.time()
        self.spark, self.queries, self.catalog, setup = setup_engine(self.lake)
        setup["start"] = start
        if self.trace:
            self.store = probes.StatusStore(self.spark)
            self.listener = probes.make_progress_listener(self.progress)
        phase("setup_s")
        cpu0 = probes.tree_cpu_s(os.getpid())
        warm = self.run_pass(0, self.trace)
        warmup_cpu_s = probes.tree_cpu_s(os.getpid()) - cpu0
        phase("warmup_s")
        cpu0, host0 = probes.tree_cpu_s(os.getpid()), probes.host_cpu()
        # traced runs interleave n + 1 untraced and n traced passes
        # (U T U T ... U), so the tracing overhead compares neighbours
        n = max(MIN_PASSES, round(self.seconds / PASS_S[self.workload]))
        n = 2 * n + 1 if self.trace else n
        steady = [self.run_pass(i, self.trace and i % 2 == 0) for i in range(1, n + 1)]
        tree_cpu_per_pass = (probes.tree_cpu_s(os.getpid()) - cpu0) / len(steady)
        host = probes.host_delta(host0, probes.host_cpu())
        peak_rss = probes.tree_peak_rss_mb(os.getpid())
        phase("steady_s")
        bad = self.check()
        phase("check_s")
        passes = [warm] + steady
        failures = [
            {"pass": p.index, "id": j.qid, "reason": j.error or bad[(j.qid, j.fingerprint)]}
            for p in passes
            for j in p.jobs
            if j.error or (j.qid, j.fingerprint) in bad
        ]
        attempted = sum(len(p.jobs) for p in passes)
        counts = self.count_check(passes) if self.trace else None
        if counts:
            failures += [
                {"pass": "all", "id": q, "reason": f"spark job count not repeatable: {c}"}
                for q, c in counts["unstable"].items()
            ]
        for f in failures:
            print(f"FAILED pass {f['pass']} {f['id']}: {f['reason']}", file=sys.stderr)
        killed = self.teardown()
        phase("teardown_s")
        run_end = time.time()

        timed = [p for p in steady if not p.traced]
        lat, cpu = per_id(timed), per_id(timed, "cpu_s")
        tail_s, tail_pct = tail(lat)
        cpu_tail_s, cpu_tail_pct = tail(cpu)
        e2e = {
            "setup_s": setup["cpu_s"],
            "warmup_cpu_s": warmup_cpu_s,
            "cpu_s": median_pass(cpu),
            "job_cpu_p50_s": statistics.median(x for v in cpu.values() for x in v),
            "job_cpu_tail_s": cpu_tail_s,
        }
        wall = {
            "run.setup_wall_s": setup["total_s"],
            "run.warmup_s": warm.wall_s,
            "run.pass_s": median_pass(lat),
            "run.job_p50_s": statistics.median(x for v in lat.values() for x in v),
            "run.job_tail_s": tail_s,
            "run.job_tail_pct": tail_pct,
            "run.job_cpu_tail_pct": cpu_tail_pct,
        }
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "host": host,
            "settings": self.settings,
            "ids": list(self.ids),
            "setup": setup,
            "end_to_end": e2e,
            "wall": wall,
            "tree_cpu_per_pass_s": tree_cpu_per_pass,
            "peak_rss_mb": peak_rss,
            "job_samples": sum(len(v) for v in lat.values()),
            "steady_passes": len(steady),
            "phases": phases,
            "failures": failures,
            "killed_pids": killed,
            "passes": [
                {
                    "index": p.index,
                    "traced": p.traced,
                    "wall_s": p.wall_s,
                    "jobs": [
                        {"id": j.qid, "build_s": j.build_s, "exec_s": j.exec_s, "cpu_s": j.cpu_s,
                         "error": j.error}
                        | ({"spark_jobs": len(j.spark_jobs)} if p.traced else {})
                        for j in p.jobs
                    ],
                }
                for p in passes
            ],
        }
        if self.trace:
            metrics = self.layer_metrics(steady, setup, host, failures, attempted, wall)
            metrics["run.peak_rss_mb"] = peak_rss
            report["spark_jobs_per_id"] = counts
            self.write_trace(passes, setup, run_start, run_end, metrics)
            units = dict(PER_LAYER)
        else:
            metrics, units = e2e, dict(END_TO_END)
        report["metrics"] = metrics
        self.write(f"report-{self.workload}-seed{self.seed}-trace{int(self.trace)}.json", report)
        print("phases: " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()), file=sys.stderr)
        return {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    # -------------------------------------------------------------- tracing

    def layer_metrics(self, steady, setup, host, failures, attempted, wall) -> dict:
        traced = [p for p in steady if p.traced]
        untraced = [p for p in steady if not p.traced]
        m = {name: 0.0 for name, _ in PER_LAYER}
        triggers: list[float] = []
        drain_s = 0.0
        for p in traced:
            for j in p.jobs:
                pre = j.module + "."
                m[pre + "build_s"] += j.build_s
                m[pre + "exec_s"] += j.exec_s
                m[pre + "spark_jobs"] += len(j.spark_jobs)
                for s in j.stages:
                    cpu = s["executorCpuTime"] / 1e9
                    m[pre + "tasks"] += s["numTasks"]
                    m[pre + "jvm_cpu_s"] += cpu
                    m[pre + "worker_gap_s"] += s["executorRunTime"] / 1e3 - cpu
                    m[pre + "gc_s"] += s["jvmGcTime"] / 1e3
                    m[pre + "shuffle_mb"] += s["shuffleWriteBytes"] / MB
                    m[pre + "spill_mb"] += s["diskBytesSpilled"] / MB
                    if j.module == "streaming.jobs":
                        m["streaming.jobs.output_mb"] += s["outputBytes"] / MB
                if j.progress:
                    drain_s += j.latency_s
                last: dict[str, dict] = {}
                for pr in j.progress:
                    last[pr["runId"]] = pr
                    dur = pr.get("durationMs", {})
                    m["streaming.jobs.batches"] += 1
                    m["streaming.jobs.input_rows"] += pr.get("numInputRows", 0)
                    for k, key in PHASES.items():
                        m[f"streaming.jobs.{k}"] += dur.get(key, 0)
                    triggers.append(dur.get("triggerExecution", 0))
                for pr in last.values():
                    for op in pr.get("stateOperators", []):
                        m["streaming.jobs.state_rows"] += op.get("numRowsTotal", 0)
                        m["streaming.jobs.state_mem_mb"] += op.get("memoryUsedBytes", 0) / MB
        for name in m:
            m[name] /= len(traced)
        m["streaming.jobs.rows_per_s"] = (
            m["streaming.jobs.input_rows"] * len(traced) / drain_s if drain_s else 0.0
        )
        m["streaming.jobs.microbatch_p50_ms"] = statistics.median(triggers) if triggers else 0.0
        for k in ("session.start_s", "registry.load_s", "catalog.load_s"):
            m[k] = setup[k]
        for k, v in host.items():
            m[f"host.{k}"] = v
        m["run.fail_ratio"] = len(failures) / attempted
        m.update(wall)
        # each traced pass against the untraced pass after it; the first
        # steady pass, where the JIT is still settling, is left out
        t_med = median_pass(per_id(traced))
        u_med = median_pass(per_id(untraced[1:]))
        m["trace.overhead_s"] = t_med - u_med
        m["trace.overhead_share"] = (t_med - u_med) / u_med
        return m

    def count_check(self, passes: list[Pass]) -> dict:
        """Spark jobs per id in every traced pass. The counts must repeat
        exactly across passes and across runs of the workload on the same
        engine sources (the first run's counts are kept as the reference);
        the ids whose counts do not are returned as ``unstable``."""
        counts: dict[str, list[int]] = {}
        for p in passes:
            if p.traced:
                for j in p.jobs:
                    counts.setdefault(j.qid, []).append(len(j.spark_jobs))
        path = os.path.join(WORK, "counts", f"{self.workload}-{engine_digest()}.json")
        previous = {}
        if os.path.exists(path):
            with open(path) as f:
                previous = json.load(f)
        unstable = unstable_counts(counts, previous)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({q: c[0] for q, c in counts.items()} | previous, f, indent=1, sort_keys=True)
        line = " ".join(f"{q}={','.join(map(str, c))}" for q, c in sorted(counts.items()))
        print(f"spark jobs per id: {line}", file=sys.stderr)
        return {"counts": counts, "previous_run": previous, "unstable": unstable}

    def write_trace(self, passes, setup, run_start, run_end, metrics) -> None:
        """Spans run -> setup/pass -> job -> build/exec -> stage/micro-batch."""
        spans: list[dict] = []

        def span(parent, layer, name, start, end, **attrs) -> int:
            spans.append(
                {"id": len(spans), "parent": parent, "layer": layer, "name": name,
                 "start": start, "end": end, **attrs}
            )
            return len(spans) - 1

        run = span(None, "run", self.workload, run_start, run_end, seed=self.seed)
        t = setup["start"]
        sid = span(run, "setup", "setup", t, t + setup["total_s"])
        for k in ("session.start_s", "registry.load_s", "catalog.load_s"):
            span(sid, k.rsplit(".", 1)[0], k, t, t + setup[k])
            t += setup[k]
        for p in passes:
            pid = span(run, "pass", f"pass{p.index}", p.start,
                       p.start + p.wall_s + sum(j.check_s for j in p.jobs), traced=p.traced)
            for j in p.jobs:
                jid = span(pid, j.module, j.qid, j.start, j.start + j.latency_s, error=j.error)
                mid = j.start + j.build_s
                b = span(jid, j.module + ".build", j.qid, j.start, mid)
                e = span(jid, j.module + ".exec", j.qid, mid, mid + j.exec_s)
                batches = []
                for pr in j.progress:
                    st = _epoch(pr["timestamp"])
                    dur = pr.get("durationMs", {})
                    end = st + dur.get("triggerExecution", 0) / 1e3
                    batches.append((st, end, span(
                        b if st < mid else e, "streaming.microbatch", f"batch{pr['batchId']}",
                        st, end, run_id=pr["runId"], input_rows=pr.get("numInputRows", 0),
                        duration_ms=dur)))
                for s in j.stages:
                    st = s["submissionTime"] / 1e3
                    parent = next((i for a, z, i in batches if a <= st < z), b if st < mid else e)
                    span(parent, "spark.stage", s["name"][:80], st, s["completionTime"] / 1e3,
                         stage_id=s["stageId"], tasks=s["numTasks"],
                         cpu_s=s["executorCpuTime"] / 1e9)
        self.write(
            f"trace-{self.workload}-seed{self.seed}.json",
            {"self_time_s": self_times(spans), "per_layer": metrics, "spans": spans},
        )

    def write(self, name: str, obj) -> None:
        with open(os.path.join(WORK, name), "w") as f:
            json.dump(obj, f, indent=1, default=str)


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "registry.py")) or not os.path.isfile(PARITY):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        bench.settings = configure_env(run_dir)
        print(
            f"host: nproc={bench.settings['SPARK_GRAFT_CPUS']} "
            f"load1={os.getloadavg()[0]:.2f}; settings: {json.dumps(bench.settings)}",
            file=sys.stderr,
        )
        result = bench.run()
    finally:
        bench.teardown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
