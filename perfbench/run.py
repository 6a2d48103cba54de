"""End-to-end benchmark of libgrape_lite_spark.

    python3 perfbench/run.py --workload sf01-analytics --seed 1 --seconds 1 --trace 0

One closed-loop client (this process) drives the library's public API at
``local[<cpus>]``, one call after another. It generates the workload's
inputs from ``--seed`` under ``.perfbench/`` in the repository root, sets
the graph up several times, applies a mutation batch, runs the workload's
app suite on the mutated graph for at least ``--seconds``, checks every
output against the NumPy/pandas references in ``reference.py`` and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the run record (host context, raw samples, phase walls).

``--trace 1`` enables the Spark event log, tags each call into a layer
as one span and rolls the log up with ``eventlog.py``. See METRICS.md for
what each metric means and which layer metric should move which
end-to-end metric.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import numpy as np

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path[:0] = [str(HERE), str(ROOT)]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402

#: suite order: the requery apps (wcc, pagerank) run last, after the other
#: apps have warmed the JVM's shared Spark code paths
APPS = ("lcc", "cdlp", "bfs", "sssp", "wcc", "pagerank")
ITERATIVE = ("pagerank", "wcc", "cdlp", "bfs", "sssp")
FRONTIER = ("wcc", "bfs", "sssp")
PR_ROUNDS = 10
CDLP_ROUNDS = 10
SETUPS = 3
#: mutation ops of each kind (del, upd, add) per edge of the base graph
DELTA_SHARE = 0.0024
#: |1 - (summed span wall / measured wall)| allowed in a traced run
SPAN_TOLERANCE = 0.05
SPANS = (
    "functions.build_graph", "plans.prepare_graph",
    *(f"operators.{a}" for a in APPS),
    "mutation.mutate", "mutation.prepare_graph",
)
END_TO_END = {
    "setup_s": "s", "analytics_s": "s", "pagerank_edges_per_s": "edges/s",
    "mutate_s": "s", "requery_s": "s", "pinned_mb": "MB",
}


@dataclass(frozen=True)
class Workload:
    source: str  # "events" (sf0.1-shaped events table) or "transcripts"
    size: int  # users for "events", conversations for "transcripts"
    apps: tuple[str, ...]


WORKLOADS = {
    "sf01-analytics": Workload("events", 100, APPS),
    "synth-volume": Workload("transcripts", 10_000, ("lcc", "wcc", "pagerank")),
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_context(seed: int) -> dict:
    from importlib.metadata import version

    return {
        "nproc": cpus(),
        "python": platform.python_version(),
        **{pkg: version(pkg) for pkg in ("pyspark", "pyarrow", "duckdb", "numpy", "pandas")},
        "seed": seed,
    }


def load_per_cpu() -> list[float]:
    return [round(x / cpus(), 3) for x in os.getloadavg()]


def windowed_driver(spark):
    """An ``IterationDriver`` that also keeps each superstep's wall-clock
    window, so a traced run can attribute jobs to supersteps."""
    from libgrape_lite_spark.plans.superstep import IterationDriver

    class WindowedDriver(IterationDriver):
        def __init__(self):
            super().__init__(spark)
            self.windows: list[tuple[float, float]] = []

        def log(self, superstep, active, t_sec, **extra):
            now = time.time()
            self.windows.append((now - t_sec, now))
            super().log(superstep, active, t_sec, **extra)

    return WindowedDriver()


class Bench:
    def __init__(self, spark, workload: Workload, seed: int, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.spans: list[eventlog.Span] = []
        self.drivers: dict[str, list] = {a: [] for a in ITERATIVE}
        self.timed_s = 0.0  # every stopwatch region an end-to-end metric reads
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.phases: dict[str, float] = {}  # wall of each run phase, for the record
        self._mark = T_START
        self.nf = cpus()  # fragments; tune_shuffle_partitions sets it per graph
        self.n_vertices = 0
        self.prepare_pinned_mb = 0.0
        self.pinned_end_mb = 0.0

    # -- bookkeeping ------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{name}#{len(self.spans)}"
        if self.trace:
            self.sc.setLocalProperty(eventlog.SPAN_PROPERTY, sid)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(eventlog.Span(sid, name, t0, time.time()))
            if self.trace:
                self.sc.setLocalProperty(eventlog.SPAN_PROPERTY, None)

    def stopwatch(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.timed_s += dt
        self.samples.setdefault(key, []).append(dt)
        return out

    def phase(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")

    def pinned_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / eventlog.MB

    # -- inputs -----------------------------------------------------------
    def input_path(self) -> str:
        """The workload's input for this seed, generated on first use."""
        if self.wl.source == "events":
            path = WORK / "data" / f"events_u{self.wl.size}_s{self.seed}" / "events.parquet"
            make = lambda: inputs.events_table(self.seed, self.wl.size)  # noqa: E731
        else:
            path = WORK / "data" / f"transcripts_c{self.wl.size}_s{self.seed}.parquet"
            make = lambda: inputs.transcripts_table(self.seed, self.wl.size)  # noqa: E731
        if not path.exists():
            path.parent.mkdir(parents=True, exist_ok=True)
            inputs.write_parquet(make(), path)
        return str(path.parent if self.wl.source == "events" else path)

    # -- phases -----------------------------------------------------------
    def setup_once(self, path: str):
        from libgrape_lite_spark.functions.edges import build_graph_from_transcripts
        from libgrape_lite_spark.plans.kernels import prepare_graph
        from libgrape_lite_spark.sources.events import events_to_transcripts
        from libgrape_lite_spark.session import tune_shuffle_partitions
        from libgrape_lite_spark.sources.iceberg import read_table

        with self.span("functions.build_graph"):
            if self.wl.source == "events":
                t = events_to_transcripts(self.spark, path)
            else:
                t = read_table(self.spark, path)
            v, e = build_graph_from_transcripts(t)
            v = v.localCheckpoint(eager=True)
            e = e.localCheckpoint(eager=True)
            self.nf = tune_shuffle_partitions(self.spark, 2 * e.count(), max_partitions=cpus())
        before = self.pinned_mb() if self.trace else 0.0
        with self.span("plans.prepare_graph"):
            prepare_graph(v, e, num_fragments=self.nf, kernel=True)
        self.prepare_pinned_mb = self.pinned_mb() - before if self.trace else 0.0
        return v, e

    def release_graph(self, v, e) -> None:
        from libgrape_lite_spark.plans.kernels import invalidate_prepared, release_pinned
        from libgrape_lite_spark.transients import release_transients

        invalidate_prepared(e)
        release_pinned(e)
        release_pinned(v)
        release_transients()

    def run_app(self, app: str, v, e, source: int):
        """One public-API call; returns the result collected to pandas
        (the collect is outside every stopwatch)."""
        from libgrape_lite_spark import operators as ops
        from libgrape_lite_spark.transients import release_transients

        kw = {}
        if app in ITERATIVE:
            kw["driver"] = drv = windowed_driver(self.spark)
            self.drivers[app].append(drv)
        if app == "pagerank":
            kw["max_rounds"] = PR_ROUNDS
        if app == "cdlp":
            kw["max_rounds"] = CDLP_ROUNDS
        if app in ("bfs", "sssp"):
            kw["source"] = source

        def call():
            with self.span(f"operators.{app}"):
                df = getattr(ops, app)(v, e, **kw)
                df.count()
            return df

        out = self.stopwatch(app, call).toPandas()
        release_transients()
        return out.set_index("id").iloc[:, 0].sort_index()

    def run(self, seconds: float) -> dict[str, float]:
        self.phase("spark_start")
        path = self.input_path()
        self.phase("input")
        graph = None
        for _ in range(SETUPS):
            if graph:
                self.release_graph(*graph)
            graph = self.stopwatch("setup", lambda: self.setup_once(path))
        v, e = graph
        self.attempted += SETUPS
        self.phase("setups")
        pinned = self.pinned_mb()
        ids = v.select("id").toPandas()["id"].to_numpy()
        self.n_vertices = len(ids)
        edges = reference.sort_edges(e.select("src", "dst", "weight").toPandas())
        src_oid = "conv_0:0" if self.wl.source == "events" else "conv_000000:0"
        source = v.where(f"oid = '{src_oid}'").collect()[0]["id"]

        delta = inputs.edge_delta(edges, ids, self.seed, max(1, round(DELTA_SHARE * len(edges))))
        v, e = self.stopwatch("mutate", lambda: self.mutate(v, e, delta))
        self.attempted += 1
        merged = reference.sort_edges(e.select("src", "dst", "weight").toPandas())
        edges = reference.apply_mutation(edges, delta)
        self.check("mutation", merged.equals(edges))
        self.phase("mutation")

        # the suite runs on the mutated handle: its wcc + pagerank are the requery
        passes, results = [], {}
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            results = {app: self.run_app(app, v, e, source) for app in self.wl.apps}
            passes.append(time.perf_counter() - t0)
            self.attempted += len(self.wl.apps)
        self.pinned_end_mb = self.pinned_mb()
        self.check_apps(results, ids, edges, source)
        self.phase("analytics")
        pr = self.samples["pagerank"]
        requery = [p + w for p, w in zip(pr, self.samples["wcc"])]
        return {
            "setup_s": statistics.median(self.samples["setup"]),
            "analytics_s": statistics.median(passes),
            "pagerank_edges_per_s": 2 * len(edges) * PR_ROUNDS / statistics.median(pr),
            "mutate_s": self.samples["mutate"][0],
            "requery_s": statistics.median(requery),
            "pinned_mb": pinned,
        }

    def mutate(self, v, e, delta_pd):
        from libgrape_lite_spark.mutation import mutate
        from libgrape_lite_spark.plans.kernels import prepare_graph

        delta = self.spark.createDataFrame(delta_pd, "op string, src long, dst long, weight double")
        with self.span("mutation.mutate"):
            v2, e2 = mutate(v, e, delta)
        with self.span("mutation.prepare_graph"):
            prepare_graph(v2, e2, num_fragments=self.nf, kernel=True)
        return v2, e2

    def check_apps(self, results: dict, ids, edges, source: int) -> None:
        s, d, w = (edges[c].to_numpy() for c in ("src", "dst", "weight"))
        refs = {
            "pagerank": lambda: reference.pagerank(ids, s, d, PR_ROUNDS),
            "wcc": lambda: reference.wcc(ids, s, d),
            "cdlp": lambda: reference.cdlp(ids, s, d, CDLP_ROUNDS),
            "bfs": lambda: reference.bfs(ids, s, d, source),
            "sssp": lambda: reference.sssp(ids, s, d, w, source),
            "lcc": lambda: reference.lcc(ids, s, d),
        }
        for app, got in results.items():
            want = refs[app]()
            ok = len(got) == len(want) and (got.index.to_numpy() == want.index.to_numpy()).all()
            if ok and app in ("pagerank", "lcc", "sssp"):
                ok = bool(np.isclose(got.to_numpy(float), want.to_numpy(float), rtol=0, atol=1e-9).all())
            elif ok:
                ok = bool((got.to_numpy() == want.to_numpy()).all())
            self.check(app, ok)


def layer_metrics(bench: Bench, log_path: str, untraced_analytics: float, traced_analytics: float):
    log = eventlog.read_event_log(log_path)
    cores = cpus()
    spans = eventlog.rollup(log, bench.spans, cores)
    out: dict[str, float] = {}
    for name in SPANS:
        vals = spans.get(name) or {k: 0.0 for k in eventlog.SPAN_METRICS}
        for k in eventlog.SPAN_METRICS:
            out[f"{name}.{k}"] = vals[k]
    windows = []
    for app in ITERATIVE:
        drvs = bench.drivers[app]
        steps = sum(len(d.metrics) for d in drvs)
        out[f"operators.{app}.supersteps"] = steps / len(drvs) if drvs else 0.0
        if app in FRONTIER:
            active = sum(m.active for d in drvs for m in d.metrics)
            out[f"operators.{app}.active_share"] = (
                active / (bench.n_vertices * steps) if steps else 0.0
            )
        windows += [w for d in drvs for w in d.windows]
    rows = eventlog.windows_rollup(log, windows)
    ms = sorted(r[0] for r in rows)
    n = len(ms)
    out["plans.superstep.samples"] = float(n)
    out["plans.superstep.ms_p50"] = statistics.median(ms) if ms else 0.0
    # the highest percentile with at least 10 samples beyond it, never below the median
    out["plans.superstep.ms_tail"] = ms[max(n - 11, n // 2)] if ms else 0.0
    out["plans.superstep.fixed_ms"] = (
        statistics.median(w - r / cores for w, r, _ in rows) if rows else 0.0
    )
    out["plans.superstep.jobs_per_step"] = sum(r[2] for r in rows) / n if n else 0.0
    wall = sum(r[0] for r in rows)
    out["plans.superstep.busy_share"] = sum(r[1] for r in rows) / (wall * cores) if wall else 0.0
    out["plans.prepare_graph.pinned_mb"] = bench.prepare_pinned_mb
    out["storage.pinned_end_mb"] = bench.pinned_end_mb
    out["trace.overhead_share"] = traced_analytics / untraced_analytics - 1.0
    out["trace.span_coverage"] = sum(s.end - s.start for s in bench.spans) / bench.timed_s
    return out


def untraced_analytics(args) -> float:
    """analytics_s of the same workload untraced: the median recorded by
    earlier untraced runs in this checkout, else one fresh untraced run in
    a child process (its own JVM, like every untraced run)."""
    history = WORK / "runs" / f"{args.workload}.jsonl"
    if history.exists():
        values = [json.loads(line)["analytics_s"] for line in history.read_text().splitlines()]
        if values:
            return statistics.median(values)
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170, cwd=ROOT)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run failed:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["analytics_s"]["value"]


def record_untraced(workload: str, analytics_s: float) -> None:
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    with open(runs / f"{workload}.jsonl", "a", encoding="utf-8") as fh:
        fh.write(json.dumps({"analytics_s": analytics_s}) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "libgrape_lite_spark").is_dir():
        print(f"perfbench: no libgrape_lite_spark package under {ROOT}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout; Spark's Python
    # workers import the library through PYTHONPATH, from any cwd
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    wl = WORKLOADS[args.workload]
    record = {"workload": args.workload, "host": host_context(args.seed),
              "load_per_cpu_start": load_per_cpu()}
    baseline = untraced_analytics(args) if args.trace else None

    conf = {
        "spark.local.dir": str(tmp),
        # -XX:-UsePerfData: no jvmstat file under the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = None
    if args.trace:
        log_dir = WORK / "eventlog" / f"{args.workload}_{args.seed}_{os.getpid()}"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": str(log_dir),
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    from pyspark import SparkContext

    from libgrape_lite_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus()}]",
                      shuffle_partitions=cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    record["host"]["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    bench = Bench(spark, wl, args.seed, bool(args.trace))
    metrics = None
    try:
        metrics = bench.run(args.seconds)
    except Exception:  # one failed op fails the run; report it, then stop cleanly
        bench.attempted += 1
        bench.failed += 1
        bench.errors.append(traceback.format_exc())
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    record["load_per_cpu_end"] = load_per_cpu()
    record["samples_s"] = bench.samples
    record["phases_s"] = bench.phases
    record["superstep_ms"] = {a: [[round(m.t_ms, 1) for m in d.metrics] for d in drvs]
                              for a, drvs in bench.drivers.items() if drvs}
    record["errors"] = bench.errors
    if metrics is not None and not args.trace and bench.failed == 0:
        record_untraced(args.workload, metrics["analytics_s"])
    if metrics is not None and args.trace:
        (log_path,) = glob.glob(str(log_dir / "*"))
        metrics = layer_metrics(bench, log_path, baseline, metrics["analytics_s"])
        coverage = metrics["trace.span_coverage"]
        bench.check(f"span coverage {coverage:.4f}", abs(1.0 - coverage) <= SPAN_TOLERANCE)
        record["untraced_analytics_s"] = baseline
    for err in bench.errors:
        print(err, file=sys.stderr)
    print(json.dumps({"record": record}))
    if metrics is None:  # the run did not finish: no result line
        return 1
    units = END_TO_END if not args.trace else {}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or _layer_unit(k)}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    return {"s": "s", "executor_run_s": "s", "gc_s": "s", "ms_p50": "ms", "ms_tail": "ms",
            "fixed_ms": "ms", "busy_share": "ratio", "task_skew": "ratio",
            "active_share": "ratio", "overhead_share": "ratio", "span_coverage": "ratio",
            "jobs_per_step": "count", "samples": "count", "supersteps": "count",
            "jobs": "count", "stages": "count"}.get(suffix, "MB")


if __name__ == "__main__":
    sys.exit(main())
