"""Benchmark of the etl_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload etl_tick --seed 1 --seconds 12 --trace 0

Workloads: ``etl_tick``, ``adhoc_mix`` and ``curation_iterative`` (see
``workloads.py``). The run starts Spark on ``local[<cpus>]`` against a
fresh warehouse directory and times a fixed number of whole rounds of
ops: ``--seconds`` over the workload's nominal round length
(``ROUND_S``), rounded, and at least one. It checks every op's output
and prints:

- one ``metric`` line per end-to-end metric (``--trace 0``) or
  per-layer metric (``--trace 1``), with unit and sample count;
- one ``provenance`` line of JSON (host, load, CPU steal, versions,
  seed, scale factor, source revision);
- as its last line, one JSON object with the keys ``correct``,
  ``attempted``, ``failed`` and ``metrics``.

A traced run (``--trace 1``) records spans around each layer's calls
and reads Spark's status store by job group; it writes the spans to
``.perfbench_out/`` at exit. All files a run writes stay inside the
directory it runs from.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("etl_tick", "adhoc_mix", "curation_iterative")
# nominal seconds of op time in one timed round, on 4 cores; a run times
# round(--seconds / ROUND_S), at least one, whatever its actual speed
ROUND_S = {"etl_tick": 20.0, "adhoc_mix": 21.0, "curation_iterative": 17.0}
SCALE_FACTOR = "0.1"
SF_DIR = os.path.join(HERE, "data", "sf0.1")
# a safety stop: no op starts after this many seconds since process start
HARD_DEADLINE_S = 140.0


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# -- host probes -------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of the summed RSS of the given processes, sampled every
    50 ms while running."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak = 0.0
        self.peaks = [0.0] * len(pids)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = [_rss_mb(p) for p in self.pids]
        self.peak = max(self.peak, sum(rss))
        self.peaks = [max(a, b) for a, b in zip(self.peaks, rss)]

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.05)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _source_revision(root: str) -> str:
    """The git commit when run in a git checkout, else a digest of the
    engine's source files."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "etl_spark")):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "tree-sha256:" + h.hexdigest()[:16]


# -- statistics ----------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 21 samples that percentile would not
    lie above the median, and the maximum (percentile 100) is
    reported instead."""
    s = sorted(values)
    n = len(s)
    if n < 21:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# -- set-up ----------------------------------------------------------------


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


# -- per-layer metrics -------------------------------------------------

# Each per-layer metric, its unit, and the end-to-end metric and
# workload it should move. Every metric is a mean per timed op, except
# the share, the traced throughput and the peak RSS.
PER_LAYER = {
    "orchestrator.self_s": ("s/op", "latency_p50_s on etl_tick"),
    "orchestrator.jobs": ("jobs/op", "latency_p50_s on etl_tick"),
    "orchestrator.log_files": ("files/op", "latency_p50_s on etl_tick"),
    "sources.ingest_s": ("s/op", "rows_per_s and ops_per_s on etl_tick"),
    "sources.ingest_jobs": ("jobs/op", "rows_per_s and ops_per_s on etl_tick"),
    "sql_runner.transform_s": ("s/op", "latency_p50_s on etl_tick"),
    "sql_runner.transform_jobs": ("jobs/op", "latency_p50_s on etl_tick"),
    "alerting.check_s": ("s/op", "latency_tail_s on etl_tick"),
    "alerting.check_jobs": ("jobs/op", "latency_tail_s on etl_tick"),
    "alerting.export_bytes": ("bytes/op", "latency_tail_s on etl_tick"),
    "registry.build_s": ("s/op", "latency_p50_s and ops_per_s on curation_iterative; flat on adhoc_mix"),
    "registry.build_jobs": ("jobs/op", "latency_p50_s and ops_per_s on curation_iterative; flat on adhoc_mix"),
    "registry.build_jobs_share": ("share", "ops_per_s on curation_iterative; flat on adhoc_mix"),
    "catalyst.analysis_s": ("s/op", "latency_p50_s on adhoc_mix"),
    "catalyst.optimization_s": ("s/op", "latency_p50_s on adhoc_mix"),
    "catalyst.planning_s": ("s/op", "latency_p50_s on adhoc_mix"),
    "spark.jobs": ("jobs/op", "ops_per_s on adhoc_mix and curation_iterative"),
    "spark.stages": ("stages/op", "ops_per_s on adhoc_mix and curation_iterative"),
    "spark.tasks": ("tasks/op", "ops_per_s on adhoc_mix and curation_iterative"),
    "spark.collect_s": ("s/op", "ops_per_s on adhoc_mix and curation_iterative"),
    "driver.gap_s": ("s/op", "ops_per_s on adhoc_mix and curation_iterative"),
    "spark.executor_run_s": ("s/op", "latency_tail_s on curation_iterative and adhoc_mix"),
    "spark.executor_cpu_s": ("s/op", "latency_tail_s on curation_iterative and adhoc_mix"),
    "spark.shuffle_read_bytes": ("bytes/op", "latency_tail_s on curation_iterative and adhoc_mix"),
    "spark.shuffle_write_bytes": ("bytes/op", "latency_tail_s on curation_iterative and adhoc_mix"),
    "spark.spill_bytes": ("bytes/op", "latency_tail_s on curation_iterative and adhoc_mix"),
    "trace.ops_per_s": ("1/s", "none: the untraced ops_per_s minus this is the tracing overhead"),
    "driver.rss_peak_mb": ("MB", "none: peak RSS of the driver JVM plus the Python client"),
}

# span name -> metric prefix of its self time and job count
_SPAN_LAYERS = {
    "orchestrator": ("orchestrator.self_s", "orchestrator.jobs"),
    "sources": ("sources.ingest_s", "sources.ingest_jobs"),
    "sql_runner": ("sql_runner.transform_s", "sql_runner.transform_jobs"),
    "alerting": ("alerting.check_s", "alerting.check_jobs"),
    "registry": ("registry.build_s", "registry.build_jobs"),
    "spark.collect": ("spark.collect_s", None),
}


def layer_metrics(tracer, timed_ids: set[int], ops_per_s: float):
    from tracing import Tracer

    recs = [r for r in tracer.ops if r.op_id in timed_ids]
    n = max(1, len(recs))
    tot = {k: 0.0 for k in PER_LAYER}
    for rec in recs:
        b = Tracer.breakdown(rec)
        span_name = {sp.group: sp.name for sp in rec.spans}
        for name, secs in b["self_s"].items():
            if name in _SPAN_LAYERS:
                tot[_SPAN_LAYERS[name][0]] += secs
        for job in rec.jobs:
            jobs_metric = _SPAN_LAYERS.get(span_name.get(job.group), (None, None))[1]
            if jobs_metric:
                tot[jobs_metric] += 1
            tot["spark.jobs"] += 1
            tot["spark.stages"] += job.stages
            tot["spark.tasks"] += job.tasks
            tot["spark.executor_run_s"] += job.executor_run_s
            tot["spark.executor_cpu_s"] += job.executor_cpu_s
            tot["spark.shuffle_read_bytes"] += job.shuffle_read_bytes
            tot["spark.shuffle_write_bytes"] += job.shuffle_write_bytes
            tot["spark.spill_bytes"] += job.spill_bytes
        tot["driver.gap_s"] += b["driver_gap_s"]
        for k, v in rec.counts.items():
            tot[k] += v
    out = {k: v / n for k, v in tot.items()}
    out["registry.build_jobs_share"] = tot["registry.build_jobs"] / max(1.0, tot["spark.jobs"])
    out["trace.ops_per_s"] = ops_per_s
    return out, len(recs)


# -- main ------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_spark", "__init__.py")):
        return _fail(f"no etl_spark package in {root}; run from the repository root")
    for t in ("lineitem", "orders", "documents"):
        if not os.path.isfile(os.path.join(SF_DIR, f"{t}.parquet")):
            return _fail(f"missing input table {t} under {SF_DIR}")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return _fail("pyspark is not importable")

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
    )
    sys.path.insert(0, root)
    extra_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }

    load_before = _loadavg()
    cpu_before = _cpu_times()
    ctx = None
    try:
        import workloads

        ctx = workloads.setup(run_dir, SF_DIR, os.path.join(run_dir, "warehouse"), extra_conf)
        marks = {"setup": time.time()}
        from tracing import Tracer

        tracer = Tracer(ctx.spark, enabled=bool(args.trace))
        if args.workload == "etl_tick":
            wl = workloads.EtlTick(ctx, args.seed, tracer)
        else:
            wl = workloads.QueryMix(ctx, args.workload, tracer)
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        sampler = RssSampler([os.getpid(), jvm_pid])
        first_timed_op: list[int] = []

        def on_window_start():
            marks["warmup"] = time.time()
            first_timed_op.append(len(tracer.ops))
            sampler.start()

        rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
        res = wl.run(rounds, PROCESS_START + HARD_DEADLINE_S, on_window_start)
        sampler.stop()
        marks["window"] = time.time()
        timed_ids = {r.op_id for r in tracer.ops[first_timed_op[0]:]} if first_timed_op else set()
        versions = {
            "spark": ctx.spark.version,
            "java": ctx.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        if args.trace:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if ctx is not None:
            _shutdown(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    marks["teardown"] = time.time()

    cpu_after = _cpu_times()
    delta = [a - b for a, b in zip(cpu_after, cpu_before)]
    steal_share = delta[7] / max(1, sum(delta[:8])) if len(delta) > 7 else 0.0

    lat = [op.wall_s for op in res.ops if op.wall_s > 0]
    checked = res.warmup_ops + res.ops
    if args.trace:
        # a traced op whose jobs are not charged to its spans fails:
        # the per-layer figures it feeds would be wrong
        problems = {rec.op_id: Tracer.problems(rec) for rec in tracer.ops}
        for op in checked:
            if problems.get(op.op_id):
                op.ok = False
                op.detail = "; ".join([op.detail, *problems[op.op_id]]).strip("; ")
    failed = sum(1 for op in checked if not op.ok)
    window = res.elapsed
    n = len(lat)
    tail_v, tail_p = tail(lat) if lat else (0.0, 0.0)
    ops_per_s = n / window if window else 0.0
    rows = sum(op.rows_loaded for op in res.ops)

    e2e = {
        "setup_s": (marks["setup"] - PROCESS_START, "s", 1),
        "latency_p50_s": (statistics.median(lat) if lat else 0.0, "s", n),
        "latency_tail_s": (tail_v, "s", n),
        "ops_per_s": (ops_per_s, "1/s", n),
    }
    # reported alongside, without a bound: the failure share is in the
    # result's own counts, landing rows per second is a fixed multiple
    # of ticks per second, and peak RSS follows the JVM's heap sizing
    # more than the work done
    also = {
        "failed_ops_frac": (failed / max(1, len(checked)), "share", len(checked)),
        "rss_peak_mb": (sampler.peak, "MB", 1),
    }
    if args.workload == "etl_tick":
        also["rows_per_s"] = (rows / window if window else 0.0, "rows/s", n)
    extra = {
        "latency_tail_percentile": tail_p,
        "rounds": rounds,
        "window_s": window,
        # wall seconds of each phase of the run, from process start
        "phase_s": {
            k: round(t - prev, 3)
            for (k, t), prev in zip(marks.items(), [PROCESS_START, *marks.values()])
        },
        "op_wall_s": [round(op.wall_s, 4) for op in res.ops],
        "rss_peak_mb_python_jvm": sampler.peaks,
    }
    if args.trace:
        layers, n_traced = layer_metrics(tracer, timed_ids, ops_per_s)
        layers["driver.rss_peak_mb"] = sampler.peak
        metrics = {k: (v, PER_LAYER[k][0], n_traced) for k, v in layers.items()}
    else:
        metrics = e2e
    for name, (value, unit, count) in {**metrics, **also}.items():
        moves = f"; moves {PER_LAYER[name][1]}" if name in PER_LAYER else ""
        print(f"metric {name} = {value:.6g} {unit} (n={count}{moves})")
    for op in checked:
        if not op.ok:
            print(f"failed op: {op.detail}")
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "scale_factor": SCALE_FACTOR,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "cpu_steal_share": steal_share,
        "versions": versions,
        "source_revision": _source_revision(root),
        **extra,
    }
    print("provenance " + json.dumps(provenance))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(checked),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
