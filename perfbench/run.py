#!/usr/bin/env python3
"""Telemetry-pipeline benchmark: the reference's parse → resample →
unify-forecast → unify-GPS product, and its streaming twin, on
``local[4]``.

    python3 perfbench/run.py --workload wide_day --seed 1 --seconds 10 --trace 0

Run from the repository root. One process runs one workload: it
generates (or reuses) the seeded corpus, launches the JVM and starts the
SparkSession ``SETUPS`` times, runs one cold pass in the last session
and then warm passes for ``--seconds``, checks every
pass's outputs, and prints every metric as ``name value unit`` followed
by one JSON line. ``--trace 1`` adds a traced phase that attributes
Spark's jobs and task metrics to each layer through job groups and the
event log, and prints the per-layer metrics instead. See
``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import eventlog  # noqa: E402
import passes  # noqa: E402

CPUS = "4"
# the driver heap's ceiling (-Xmx); G1 sizes the heap below it as usual
DRIVER_MEM = "2g"
SETUPS = 3  # setup_s is the median of this many JVM launches
MIN_WARM = 2  # warm passes per run, at least


@dataclass(frozen=True)
class Workload:
    kind: str  # "batch" or "stream"
    spec: corpus.Spec


# README.md says why each workload exists. wide_day is a ~7 min slice of a
# race day on the 187-column catalog; stream_replay is ~25 min of the
# first 3 modules on the 100 ms grid, one file per micro-batch.
WORKLOADS = {
    "wide_day": Workload(
        "batch",
        corpus.Spec(lines=40_000, modules=24, dt_us=10_000, period_s=1.0, files=4,
                    gaps=2, gap_s=(70, 120), base_epoch=1_646_136_000),
    ),
    "stream_replay": Workload(
        "stream",
        corpus.Spec(lines=8_000, modules=3, dt_us=144_000, period_s=0.1, files=8,
                    gaps=3, gap_s=(90, 240), base_epoch=1_580_000_000),
    ),
}

E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "batch_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
LAYER_FIELDS = {
    "wall_s": "s", "build_s": "s", "eager_jobs": "count", "jobs": "count",
    "tasks": "count", "task_cpu_s": "s", "gc_s": "s", "wait_s": "s",
    "outside_jobs_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "peak_exec_mem_mb": "MB", "rows_out": "count", "out_mb": "MB",
}
STREAM_UNITS = {
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.commit_ms": "ms", "stream.state_rows": "count",
    "stream.state_commit_ms": "ms", "stream.jobs": "count",
    "stream.task_cpu_s": "s",
}
MB = 1024 * 1024


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{f}": u for layer in passes.BATCH_LAYERS for f, u in LAYER_FIELDS.items()
    }
    units.update({
        "parse.lines_in": "count", "parse.survival": "ratio",
        "resample.grid_rows": "count",
    })
    units.update(STREAM_UNITS)
    units.update({"total.jobs": "count", "trace_overhead_s": "s", "error_rate": "ratio"})
    return units


def steal_seconds() -> float:
    """Host-wide stolen CPU time so far (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class Session:
    """The SparkSession under test, and the JVM behind it."""

    def __init__(self, app: str):
        self.app = app
        self.spark = None

    def start(self, extra_conf: dict | None = None):
        from solarboat_data_pipeline_spark import get_spark

        self.spark = get_spark(app_name=self.app, extra_conf=extra_conf)
        return self.spark

    def restart(self, extra_conf: dict):
        """New SparkSession in the same JVM (JIT and codegen caches stay)."""
        self.spark.stop()
        return self.start(extra_conf)

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class Runner:
    """Runs and checks passes of one workload; keeps every pass record."""

    def __init__(self, wl: Workload, c, out: str):
        self.wl, self.c, self.out = wl, c, out
        self.records: list[dict] = []
        self.seen: dict = {}

    def run(self, spark, phase: str, tag: str, traced: bool) -> dict:
        spans = passes.Spans(spark.sparkContext, tag, traced)
        rec = {"phase": phase, "tag": tag, "ok": False}
        steal0 = steal_seconds()
        t0 = time.perf_counter()
        try:
            if self.wl.kind == "batch":
                paths = passes.batch_pass(spark, self.c, self.out, spans)
                rec["wall_s"] = time.perf_counter() - t0
                final = paths["unify_gps"]
                rows = passes.check_batch(self.c, paths)
            else:
                paths, progress, run_id = passes.stream_pass(spark, self.c, self.out, spans)
                rec["wall_s"] = time.perf_counter() - t0
                rec["progress"], rec["run_id"] = progress, run_id
                final = paths["stream"]
                rows = passes.check_stream(self.c, paths)
            passes.check_digest(final, self.seen, os.path.join(self.c.dir, "digest"))
            rec["rows_bytes"] = rows
            rec["ok"] = True
        except Exception as exc:  # a failed pass is counted, the run goes on
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["error"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        rec["spans"] = spans.spans
        rec["steal_s"] = steal_seconds() - steal0
        self.records.append(rec)
        print(
            f"# pass {tag} {phase} wall {rec['wall_s']:.3f} s ok {rec['ok']} "
            f"steal {rec['steal_s']:.2f} s",
            file=sys.stderr, flush=True,
        )
        return rec

    def warm_loop(self, spark, seconds: float) -> list[dict]:
        """Untraced passes for ``seconds``: at least ``MIN_WARM``, and then
        another only while one more pass as long as the last still ends
        before the deadline."""
        recs, deadline = [], time.perf_counter() + seconds
        while len(recs) < MIN_WARM or time.perf_counter() + recs[-1]["wall_s"] <= deadline:
            recs.append(self.run(spark, "warm", f"w{len(recs)}", traced=False))
        return recs


def walls(recs: list[dict]) -> list[float]:
    ok = [r["wall_s"] for r in recs if r["ok"]]
    return ok or [r["wall_s"] for r in recs]


def trigger_ms(recs: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] for r in recs for p in r.get("progress", [])]


def layer_metrics(runner: Runner, traced: list[dict], log_dir: str) -> dict[str, float]:
    """Per-layer metrics, each the median over the traced passes whose
    outputs passed their checks."""
    groups: dict = {}
    for app_log in os.listdir(log_dir):  # one log per traced session
        groups.update(eventlog.group_stats(os.path.join(log_dir, app_log)))
    per_pass: list[dict[str, float]] = []
    for rec in (r for r in traced if r["ok"]):
        m: dict[str, float] = {}
        run_group = rec.get("run_id")
        layers = passes.BATCH_LAYERS if runner.wl.kind == "batch" else ("stream",)
        total_jobs = 0
        for layer in layers:
            spans = [s for s in rec["spans"] if s[0] == layer]
            keys = [f"{rec['tag']}:{layer}:{s[1]}" for s in spans]
            if layer == "stream":
                keys.append(run_group)
            st = [groups[k] for k in keys if k in groups]
            jobs = sum(g.jobs for g in st)
            total_jobs += jobs
            cpu = sum(g.task_cpu_s for g in st)
            if layer == "stream":
                m["stream.jobs"], m["stream.task_cpu_s"] = jobs, cpu
                continue
            lo, hi = min(s[2] for s in spans), max(s[3] for s in spans)
            ivs = [(max(a, lo), min(b, hi)) for g in st for a, b in g.intervals]
            call = f"{rec['tag']}:{layer}:call"
            rows, nbytes = rec["rows_bytes"][layer]
            m.update({
                f"{layer}.wall_s": hi - lo,
                f"{layer}.build_s": sum(s[3] - s[2] for s in spans if s[1] == "call"),
                f"{layer}.eager_jobs": groups[call].jobs if call in groups else 0,
                f"{layer}.jobs": jobs,
                f"{layer}.tasks": sum(g.tasks for g in st),
                f"{layer}.task_cpu_s": cpu,
                f"{layer}.gc_s": sum(g.gc_s for g in st),
                f"{layer}.wait_s": sum(g.task_run_s - g.task_cpu_s for g in st),
                f"{layer}.outside_jobs_s": (hi - lo) - eventlog.union_seconds(
                    [iv for iv in ivs if iv[1] > iv[0]]
                ),
                f"{layer}.shuffle_mb": sum(g.shuffle_write_bytes for g in st) / MB,
                f"{layer}.spill_mb": sum(g.spill_bytes for g in st) / MB,
                f"{layer}.peak_exec_mem_mb": max(
                    [g.peak_exec_mem_bytes for g in st], default=0
                ) / MB,
                f"{layer}.rows_out": rows,
                f"{layer}.out_mb": nbytes / MB,
            })
        if runner.wl.kind == "batch":
            m["parse.lines_in"] = runner.c.meta["lines"]
            m["parse.survival"] = m["parse.rows_out"] / runner.c.meta["lines"]
            m["resample.grid_rows"] = m["resample.rows_out"]
        else:
            prog = rec["progress"]
            d = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
            ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
            m.update({
                "stream.batches": len(prog),
                "stream.add_batch_ms": d("addBatch"),
                "stream.query_planning_ms": d("queryPlanning"),
                "stream.latest_offset_ms": d("latestOffset"),
                "stream.commit_ms": d("commitOffsets"),
                "stream.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
                "stream.state_commit_ms": statistics.median(
                    [o["commitTimeMs"] for o in ops] or [0]
                ),
            })
        m["total.jobs"] = total_jobs
        per_pass.append(m)
    if not per_pass:
        return {}
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    try:
        import solarboat_data_pipeline_spark  # noqa: F401
        from solarboat_data_pipeline_spark.catalog import CanCatalog
    except ImportError as exc:
        print(f"perfbench: the pipeline package is not importable: {exc}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tmp = os.path.join(WORK, "tmp", run_id)
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"),
        SPARK_GRAFT_DERBY=os.path.join(tmp, "derby"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )

    t = time.perf_counter()
    cdir, meta = corpus.ensure(os.path.join(WORK, "corpora"), args.workload, wl.spec, args.seed)
    print(f"# corpus {cdir} ready in {time.perf_counter() - t:.2f} s", file=sys.stderr)
    c = SimpleNamespace(
        dir=cdir, meta=meta, probe=corpus.load_probe(cdir), period_s=wl.spec.period_s,
        candump=os.path.join(cdir, "candump"), forecast=os.path.join(cdir, "forecast.csv"),
        gpx=os.path.join(cdir, "track.gpx"), catalog=None,
    )
    runner = Runner(wl, c, os.path.join(tmp, "out"))
    session = Session(f"perfbench-{args.workload}")
    metrics: dict[str, float] = {}
    try:
        setups = []
        for i in range(SETUPS):  # the passes run in the last JVM
            if i:
                session.close()
            t = time.perf_counter()
            spark = session.start()
            c.catalog = CanCatalog.load(os.path.join(cdir, "can_ids.json"))
            setups.append(time.perf_counter() - t)
        print(f"# setups {' '.join(f'{x:.2f}' for x in setups)} s", file=sys.stderr)

        cold = runner.run(spark, "cold", "c0", traced=False)
        if not args.trace:
            warm = runner.warm_loop(spark, args.seconds)
            pass_ms = [1000 * w for w in walls(warm)]
            # a stream pass that failed before its first batch has no progress
            batch_ms = statistics.median(
                (trigger_ms(warm) if wl.kind == "stream" else []) or pass_ms
            )
            metrics = {
                "setup_s": statistics.median(setups),
                "cold_s": cold["wall_s"],
                "warm_s": min(walls(warm)),
                "batch_p50_ms": batch_ms,
                "peak_rss_mb": session.peak_rss_mb(),
            }
        else:
            # untraced and traced passes alternate, each in a fresh
            # SparkSession of the warm JVM (the event log is a session
            # setting), so neither the restart nor the JIT's continued
            # warming biases trace_overhead_s
            log_dir = os.path.join(tmp, "eventlog")
            os.makedirs(log_dir)
            log_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
            warm, traced = [], []
            deadline = time.perf_counter() + args.seconds
            while not traced or time.perf_counter() < deadline:
                spark = session.restart({})
                warm.append(runner.run(spark, "warm", f"w{len(warm)}", traced=False))
                spark = session.restart(log_conf)
                traced.append(runner.run(spark, "traced", f"t{len(traced)}", traced=True))
            spark.stop()  # flushes the last event log
            metrics = {name: 0.0 for name in per_layer_units()}
            metrics.update(layer_metrics(runner, traced, log_dir))
            metrics["trace_overhead_s"] = (
                statistics.median(walls(traced)) - statistics.median(walls(warm))
            )
    finally:
        session.close()

    attempted = len(runner.records)
    failed = sum(not r["ok"] for r in runner.records)
    units = per_layer_units() if args.trace else E2E_UNITS
    if args.trace:
        metrics["error_rate"] = failed / attempted
    steal = sum(r["steal_s"] for r in runner.records)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "corpus": meta, "metrics": metrics, "steal_s": steal,
            "passes": [{k: v for k, v in r.items() if k != "progress"} for r in runner.records],
        }, fh, indent=1, default=str)
    shutil.rmtree(tmp, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted} passes, {failed} failed, error_rate {failed / attempted:g}, "
          f"host steal {steal:.2f} s")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
