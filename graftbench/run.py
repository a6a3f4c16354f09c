"""Benchmark entry point.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Drives the engine only through its public surface (``session.get_spark``,
``plans.QUERIES[key](spark, corpus_dir)`` and a noop-sink materialize,
the path ``bench.py`` times) over a seeded corpus, and prints as its last
stdout line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` reports its per-layer metrics, read from
Spark's status stores around each call, and writes the spans to
``graftbench/traces/``. README.md in this directory has the details.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from corpus import write_variant  # noqa: E402
from oracle import Oracle, mismatch, self_check  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ENGINE = "automated_property_data_ingestion_document_pipeline_spark"
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, "traces")
KEEP_CORPORA = 8
CPUS = min(4, len(os.sched_getaffinity(0)))  # local[N]: at most nproc
MIN_TIMED_PASSES = 3
# noop passes after the cold pass before timing starts; a fixed count
# keeps set-up time comparable between runs (see README.md)
WARM_PASSES = 1

# per-layer metric -> (key counter summed over a pass, unit)
PASS_LAYERS = {
    "plans.build_s": ("build_s", "s"),
    "plans.build_jobs": ("build_jobs", "count"),
    "exec.wall_s": ("exec_s", "s"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.task_run_s": ("task_run_s", "s"),
    "exec.task_cpu_s": ("task_cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "operators.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "operators.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "operators.spill_mb": ("spill_mb", "MB"),
    "catalog.input_mb": ("input_mb", "MB"),
    "catalog.input_rows": ("input_rows", "count"),
    "sources.py_udf_s": ("py_udf_s", "s"),
    "sources.py_boot_s": ("py_boot_s", "s"),
    "sources.py_init_s": ("py_init_s", "s"),
    "sources.py_rows": ("py_rows", "count"),
    "streaming.batches": ("stream_batches", "count"),
    "streaming.batch_s": ("stream_batch_s", "s"),
    "streaming.input_rows": ("stream_rows", "count"),
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _host_loop_s() -> float:
    """Seconds a fixed pure-Python loop takes: a host-speed probe for the
    detail line, run after the session has stopped."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t0


def _commit() -> str:
    """HEAD of the enclosing git checkout, or 'none' outside one."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.SubprocessError):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _remove_run_dir(run_dir: str) -> None:
    """Delete a run's directory and the engine's scratch entries for the
    run's corpus: those named ``<prefix>_<basename>`` or
    ``<prefix>_<basename>_<8 hex>`` (``bucketing.corpus_table_tag``)."""
    corpus = os.path.basename(_corpus_dir(run_dir))
    owned = re.compile(rf".+_{re.escape(corpus)}(_[0-9a-f]{{8}})?")
    scratch = os.path.join(ROOT, ".scratch")
    if os.path.isdir(scratch):
        for name in os.listdir(scratch):
            if owned.fullmatch(name):
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def _corpus_dir(run_dir: str) -> str:
    """The run's corpus copy, named uniquely so that the engine's scratch
    entries derived from it are new in every run."""
    return os.path.join(run_dir, "corpus" + run_dir.rsplit("-", 1)[-1])


def _remove_stale_runs() -> None:
    """Remove run directories of runs that no longer exist."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            _remove_run_dir(os.path.join(WORK, name))


def cached_corpus(seed: int) -> str:
    """The seed's corpus variant, written on first use. Keeps the
    KEEP_CORPORA most recently used corpora."""
    path = os.path.join(CACHE, f"corpus-{seed}")
    if not os.path.isdir(path):
        os.makedirs(CACHE, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"tmp-{seed}-", dir=CACHE)
        write_variant(tmp, seed)
        os.rename(tmp, path)
    os.utime(path)
    corpora = sorted(
        (os.path.join(CACHE, n) for n in os.listdir(CACHE) if n.startswith("corpus-")),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in corpora[KEEP_CORPORA:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


class Tracer:
    """In-memory spans (name, start, end, parent, attributes); a no-op
    when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {"attrs": {}}
            return
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - _T0,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - _T0
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """The spans, each with ``self_s``: its duration minus the part
        of it its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            covered, until = 0.0, sp["start"]
            for k in sorted(kids.get(sp["id"], ()), key=lambda s: s["start"]):
                lo, hi = max(k["start"], until), min(k["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    until = hi
            sp["self_s"] = sp["end"] - sp["start"] - covered
        return self.spans


class Counters:
    """Status-store marks and a streaming listener, for traced passes."""

    def __init__(self, spark):
        from counters import StatusReader, StreamCounter

        self.reader = StatusReader(spark)
        self.listener = StreamCounter()
        spark.streams.addListener(self.listener)

    def marks(self) -> tuple:
        return self.reader.mark(), self.listener.snapshot()

    def key_layers(self, rec: dict) -> dict:
        """Counter deltas of one traced key execution."""
        r = self.reader
        (lo, s0), (mid, _), (hi, s2) = rec["before"], rec["built"], rec["after"]
        out = {"build_s": rec["build_s"], "exec_s": rec["exec_s"]}
        out["build_jobs"] = r.jobs_between(lo, mid)
        out["jobs"] = r.jobs_between(lo, hi)
        out.update(r.stage_counters(lo, hi))
        out.update(r.python_counters(lo, hi))
        out["stream_batches"] = s2[0] - s0[0]
        out["stream_batch_s"] = s2[1] - s0[1]
        out["stream_rows"] = s2[2] - s0[2]
        return out


class Run:
    """One benchmark run: the session, its private directories and the
    passes over one workload's keys."""

    def __init__(self, workload: str, corpus: str, run_dir: str, trace: bool):
        self.workload = workload
        self.keys = WORKLOADS[workload]
        self.corpus = corpus
        self.run_dir = run_dir
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failures: list[str] = []
        # the benchmark's own work inside the set-up window
        self.excluded_s = 0.0

    def start_session(self):
        """A session on local[CPUS] whose warehouse, local and temp
        directories all live in this run's directory."""
        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "local")
        for d in (self.warehouse, tmp, local):
            os.makedirs(d)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_DRIVER_MEMORY="2g",
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            # every JVM spark-submit starts: temp files in the run
            # directory, no hsperfdata directory in /tmp
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        )
        tempfile.tempdir = None  # re-read TMPDIR
        from automated_property_data_ingestion_document_pipeline_spark.session import get_spark

        spark = get_spark(
            app_name=f"graftbench-{self.workload}",
            master=f"local[{CPUS}]",
            extra_conf={
                "spark.sql.warehouse.dir": self.warehouse,
                "spark.local.dir": local,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def key_once(self, spark, queries, key: str, oracle, counters) -> dict:
        """Build and run one key. With ``oracle`` the result is collected
        and compared, else the noop sink materializes it. With
        ``counters`` the status-store marks around build and exec are
        kept for reading after the pass."""
        self.attempted += 1
        rec: dict = {"key": key}
        try:
            with self.tracer.span("key", key=key) as ksp:
                rec["span"] = ksp
                if counters:
                    rec["before"] = counters.marks()
                t0 = time.perf_counter()
                with self.tracer.span("build"):
                    df = queries[key](spark, self.corpus)
                rec["build_s"] = time.perf_counter() - t0
                if counters:
                    rec["built"] = counters.marks()
                t1 = time.perf_counter()
                with self.tracer.span("exec"):
                    if oracle is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        got = df.toPandas()
                rec["exec_s"] = time.perf_counter() - t1
                if counters:
                    rec["after"] = counters.marks()
            if oracle is not None:
                t2 = time.perf_counter()
                with self.tracer.span("oracle", key=key):
                    why = mismatch(got, oracle.expected(self.oracle_sql[key]))
                self.excluded_s += time.perf_counter() - t2
                if why:
                    self.failures.append(f"{key}: oracle mismatch ({why})")
        except Exception as exc:  # noqa: BLE001 - a failing key is counted, the run goes on
            self.failures.append(f"{key}: {type(exc).__name__}: {str(exc)[:300]}")
            rec.pop("after", None)
        return rec

    def one_pass(self, spark, queries, kind: str, oracle=None, counters=None) -> dict:
        from counters import process_tree_cpu_s

        cpu0 = process_tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("pass", kind=kind, traced=counters is not None):
            recs = [self.key_once(spark, queries, k, oracle, counters) for k in self.keys]
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "cpu_s": process_tree_cpu_s() - cpu0, "keys": recs}

    def measure(self, seconds: float, excluded_s: float) -> tuple[dict, dict]:
        """Set up, warm up and time the passes. Returns (metrics, detail)."""
        spark = None
        try:
            with self.tracer.span("setup"):
                with self.tracer.span("session.start"):
                    t0 = time.perf_counter()
                    spark = self.start_session()
                    from automated_property_data_ingestion_document_pipeline_spark.plans import (
                        ORACLES,
                        QUERIES,
                    )

                    session_start_s = time.perf_counter() - t0
                self.oracle_sql = ORACLES
                counters = Counters(spark) if self.tracer.enabled else None
                cold, base_build_s = self._cold_pass(spark, QUERIES, counters)
                warm = [self.one_pass(spark, QUERIES, "warm")["wall_s"] for _ in range(WARM_PASSES)]
            setup_s = _process_age_s() - excluded_s - self.excluded_s
            setup = {}
            if counters:
                setup = {
                    "session.start_s": (session_start_s, "s"),
                    "setup.base_build_s": (base_build_s, "s"),
                    "setup.warehouse_mb": (_dir_mb(self.warehouse), "MB"),
                    "setup.tables_built": (_tables_in(self.warehouse), "count"),
                }
            untraced, traced = [], []
            t0 = time.perf_counter()
            while (
                len(untraced) < MIN_TIMED_PASSES
                or (counters and len(traced) < MIN_TIMED_PASSES)
                or time.perf_counter() - t0 < seconds
            ):
                # traced and untraced passes alternate in a traced run
                trace_this = counters is not None and len(untraced) > len(traced)
                p = self.one_pass(spark, QUERIES, "timed", counters=counters if trace_this else None)
                (traced if trace_this else untraced).append(p)
            gc.collect()
            from counters import heap_retained_mb

            heap_mb = heap_retained_mb(spark)
            detail = {
                "cold_pass_s": cold["wall_s"],
                "warm_passes_s": warm,
                "timed_passes_s": [p["wall_s"] for p in untraced],
            }
            pass_s = statistics.median(detail["timed_passes_s"])
            if counters is None:
                ok = (self.attempted - len(self.failures)) / self.attempted
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "pass_s": (pass_s, "s"),
                    "cpu_s": (statistics.median(p["cpu_s"] for p in untraced), "s"),
                    "heap_retained_mb": (heap_mb, "MB"),
                    "ok_ratio": (ok, "ratio"),
                }
                return metrics, detail
            detail["traced_passes_s"] = [p["wall_s"] for p in traced]
            metrics = dict(setup)
            metrics.update(self._layers(counters, traced))
            metrics["trace.overhead_s"] = (
                statistics.median(detail["traced_passes_s"]) - pass_s,
                "s",
            )
            return metrics, detail
        finally:
            if spark is not None:
                _stop(spark)

    def _cold_pass(self, spark, queries, counters) -> tuple[dict, float]:
        """The first pass: collects every key and compares it with its
        DuckDB oracle. Returns the pass and, when traced, the seconds the
        warehouse table writes inside it took."""
        t0 = time.perf_counter()
        oracle = Oracle(self.corpus)
        self.excluded_s += time.perf_counter() - t0
        try:
            lo = counters.reader.mark() if counters else None
            cold = self.one_pass(spark, queries, "cold", oracle=oracle)
            writes_s = counters.reader.table_writes_s(lo, counters.reader.mark()) if counters else 0.0
        finally:
            oracle.close()
        return cold, writes_s

    def _layers(self, counters: Counters, traced: list[dict]) -> dict:
        """Per-layer metrics: the median over traced passes of each
        pass's sums (largest skew) of its keys' counters."""
        per_pass = []
        for p in traced:
            keys = []
            for rec in p["keys"]:
                if "after" in rec:  # a failed key is already counted
                    k = counters.key_layers(rec)
                    rec["span"]["attrs"].update(k)
                    keys.append(k)
            row = {m: sum(k[f] for k in keys) for m, (f, _u) in PASS_LAYERS.items()}
            row["exec.task_skew"] = max((k["task_skew"] for k in keys), default=1.0)
            row["exec.busy_ratio"] = row["exec.task_run_s"] / (
                (row["plans.build_s"] + row["exec.wall_s"]) * CPUS
            )
            per_pass.append(row)
        units = {m: u for m, (_f, u) in PASS_LAYERS.items()}
        units.update({"exec.task_skew": "ratio", "exec.busy_ratio": "ratio"})
        return {m: (statistics.median(r[m] for r in per_pass), u) for m, u in units.items()}


def _stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait until every process the run started has ended."""
    from counters import process_tree, wait_gone

    started = [p for p in process_tree() if p != os.getpid()]
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    wait_gone(started, timeout_s=20)


def _tables_in(warehouse: str) -> int:
    """Committed tables (directories holding _SUCCESS) in a warehouse."""
    return sum(os.path.exists(os.path.join(warehouse, d, "_SUCCESS")) for d in os.listdir(warehouse))


def check_metric_names(metrics: dict, trace: bool) -> None:
    """The metrics printed must be exactly those BENCHMARK.json names,
    with the same units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in metrics.items()}
    if got != want:
        raise RuntimeError(f"printed metrics {got} differ from BENCHMARK.json {want}")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if importlib.util.find_spec(ENGINE) is None:
        raise SystemExit(f"engine package {ENGINE} not found beside graftbench/")
    self_check()
    load_start = os.getloadavg()[0]
    _remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run = Run(args.workload, _corpus_dir(run_dir), run_dir, bool(args.trace))
    try:
        with run.tracer.span("run", workload=args.workload, seed=args.seed):
            t0 = time.perf_counter()
            with run.tracer.span("corpus"):
                shutil.copytree(cached_corpus(args.seed), run.corpus)
            metrics, detail = run.measure(args.seconds, time.perf_counter() - t0)
    finally:
        _remove_run_dir(run_dir)

    out = {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()}
    check_metric_names(out, bool(args.trace))
    detail.update(
        workload=args.workload,
        seed=args.seed,
        cpus=CPUS,
        commit=_commit(),
        loadavg_1m_start=load_start,
        loadavg_1m_end=os.getloadavg()[0],
        host_loop_s=_host_loop_s(),
        failures=run.failures,
    )
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"detail": detail, "spans": run.tracer.with_self_times()}, f, indent=1)
    print("detail " + json.dumps(detail), flush=True)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
