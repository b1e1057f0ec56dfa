#!/usr/bin/env python3
"""The repo benchmark.  Run from the root of a checkout:

    python3 perfbench/run.py --workload job_parquet_sql --seed 1 --seconds 10 --trace 0

One closed-loop client (this process) drives a ``local[k]`` session with
k = nproc - 1.  Set-up builds the workload's inputs from ``--seed`` and
warms the JIT; then units of work run back to back for ``--seconds``
(at least a workload-specific minimum count); outputs are checked against
the repo's oracles outside the timed region.  The last line of stdout is
one JSON object: ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced re-run (see README.md).
``--write-spec`` regenerates BENCHMARK.json from the definitions below.
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
from pathlib import Path

# the checkout root, so that `perfbench` imports as a package
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.workloads import MIX_QUERIES  # noqa: E402

RUN_SECONDS = 15
# one core is left to the JIT compiler, the GC and this process: with every
# core running tasks, unit walls spread by a quarter from run to run on a
# 4-core host, against a few percent with one core free
CORES = max(1, (os.cpu_count() or 1) - 1)
DRIVER_MEM = "3g"

# the workloads.  warehouse_reads and operator_mix run as probes inside
# their traced runs: four fresh-JVM workloads at about a minute a run do not
# fit a budget of 4 + 22 runs per workload in 3,420 s on a 4-core host.
WORKLOAD_WHY = {
    "job_parquet_sql": (
        "real job path: parquet scan, salted 2-exchange parse_sql, assemble, IceLite append, "
        "2 commits, metrics; 1,012 docs incl. 50k-span skew doc, ~69k spans, ~2.1 MB. "
        "Traced: +warehouse_reads"),
    "extract_arrow_clustered": (
        "bench.py headline (its 32-core BENCH_r06 numbers don't compare): arrow then sql "
        "extract of that corpus cached by doc_id; sql takes 0 exchanges. "
        "Traced: +operator_mix on sf0.01"),
}

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "docs_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "spans_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
]

PER_LAYER = [
    ("peak_rss_mb", "MB", "lower"),
    ("session.build_s", "s", "lower"),
    ("fixtures.generate_s", "s", "lower"),
    ("pipeline.build_s", "s", "lower"),
    ("pipeline.plan_s", "s", "lower"),
    ("pipeline.scan_s", "s", "lower"),
    ("pipeline.explode_s", "s", "lower"),
    ("pipeline.parse_s", "s", "lower"),
    ("pipeline.assemble_s", "s", "lower"),
    ("pipeline.exchanges", "count", "lower"),
    ("pipeline.parse_tasks", "count", "higher"),
    ("pipeline.shuffle_write_bytes", "bytes", "lower"),
    ("pipeline.shuffle_read_bytes", "bytes", "lower"),
    ("pipeline.shuffle_blocks", "count", "lower"),
    ("pipeline.spill_bytes", "bytes", "lower"),
    ("pipeline.gc_s", "s", "lower"),
    ("pipeline.task_skew", "ratio", "lower"),
    ("pipeline.arrow_bytes_to_python", "bytes", "lower"),
    ("pipeline.arrow_bytes_from_python", "bytes", "lower"),
    ("pipeline.ocr_fallback_rate", "ratio", "lower"),
    ("icelite.append_s", "s", "lower"),
    ("icelite.write_self_s", "s", "lower"),
    ("icelite.write_own_s", "s", "lower"),
    ("icelite.read_snapshot_s", "s", "lower"),
    ("icelite.update_metrics_s", "s", "lower"),
    ("icelite.files_written", "count", "lower"),
    ("icelite.bytes_written", "bytes", "lower"),
    ("icelite.bytes_per_input_byte", "ratio", "lower"),
    ("icelite.read_build_s", "s", "lower"),
    ("icelite.lookup_files_read", "count", "lower"),
    ("icelite.lookup_rows_examined", "count", "lower"),
    ("icelite.scan_s", "s", "lower"),
    ("icelite.time_travel_s", "s", "lower"),
    ("job.metrics_s", "s", "lower"),
    ("job.metrics_share", "ratio", "lower"),
    ("job.spark_jobs", "count", "lower"),
    ("job.commits", "count", "lower"),
    ("job.resume_noop_s", "s", "lower"),
    ("job.scaling_eff_1to4", "ratio", "higher"),
    *[(f"operators.{q}.{part}_s", "s", "lower") for q in MIX_QUERIES for part in ("build", "exec")],
    ("operators.shuffle_bytes", "bytes", "lower"),
    ("operators.spill_bytes", "bytes", "lower"),
    ("operators.gc_s", "s", "lower"),
    ("lookup_ms.p50", "ms", "lower"),
    ("lookup_ms.p75", "ms", "lower"),
    ("failed_frac", "ratio", "lower"),
    ("wall_samples", "count", "higher"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unexplained_share", "ratio", "lower"),
]


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOAD_WHY.items()],
        "end_to_end": END_TO_END,
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


@dataclass
class Ctx:
    seed: int
    cores: int
    work: Path
    tracer: object
    warm: bool = True

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(ctx: Ctx, cores: int, event_dir: Path | None = None):
    from document_processor_spark.session import build_spark
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        event_dir.mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir.as_uri(),
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    # pretouch: the heap is fixed at DRIVER_MEM and faulted in at JVM start,
    # so the units do not speed up as the heap grows during the run
    spark = build_spark(app="perfbench", cores=cores, pretouch=True, extra_conf=conf)
    return spark, time.perf_counter() - t0


def run_units(ctx: Ctx, w, seconds: float, min_units: int | None = None,
              first: int = 0, alternate: bool = False) -> tuple[float, dict[int, float]]:
    """Set-up, then `measure_units`.  Returns the set-up time without
    oracle work, and the unit wall times."""
    t0 = time.perf_counter()
    w.setup()
    setup_s = time.perf_counter() - t0 - w.oracle_s
    return setup_s, measure_units(ctx, w, seconds, min_units, first, alternate)


def spans_on(i: int) -> bool:
    """Whether unit i of a traced run records spans.  The order off, on,
    on, off, ... cancels a steady speed-up of the units (the JIT still
    warming) out of the traced-versus-untraced difference."""
    return i % 4 in (1, 2)


def measure_units(ctx: Ctx, w, seconds: float, min_units: int | None = None,
                  first: int = 0, alternate: bool = False) -> dict[int, float]:
    """Units numbered from `first`, back to back for `seconds` and at least
    `min_units` times, each checked after its timed region; then the
    workload's final checks.  With `alternate`, spans are on for the
    units `spans_on` picks, so traced and untraced units share one warm
    state."""
    walls: dict[int, float] = {}
    deadline = time.perf_counter() + seconds
    i = first
    while i - first < (min_units or w.min_units) or time.perf_counter() < deadline:
        if alternate:
            ctx.tracer.enabled = spans_on(i)
        ctx.tracer.unit = i
        w0, t = time.time(), time.perf_counter()
        try:
            w.unit(i)
        except Exception:  # a failed unit counts as failed, the run goes on
            ctx.log(traceback.format_exc())
            w.record(False, f"unit {i} raised")
            i += 1
            continue
        finally:
            ctx.tracer.unit = None
        walls[i] = time.perf_counter() - t
        w.unit_windows[i] = (w0, time.time())
        w.after_unit(i)
        i += 1
    if alternate:
        ctx.tracer.enabled = True
    t = time.perf_counter()
    w.check()
    w.report["check_s"] = time.perf_counter() - t
    if walls:
        w.report_rates(statistics.median(walls.values()))
    return walls


def install_spans(tracer) -> None:
    """Spans around the public calls into each layer of the program."""
    from document_processor_spark import job, pipeline
    from document_processor_spark.io.icelite import IceLite
    for fn in ("extract_with_metrics", "explode_spans", "assemble"):
        tracer.wrap(pipeline, fn, f"pipeline.{fn}")
    for engine in ("sql", "arrow"):
        tracer.wrap(pipeline.ENGINES, engine, f"pipeline.parse_{engine}")
    for fn in ("append", "read_snapshot", "update_metrics", "read"):
        tracer.wrap(IceLite, fn, f"icelite.{fn}")
    tracer.wrap(job, "_partition_metrics", "job.partition_metrics")


def stop_jvm() -> None:
    """Stop the session and the driver JVM, then wait until every process
    this benchmark started has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants
    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None and gw.proc.poll() is None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def result(checked: list, metrics: dict) -> dict:
    attempted = sum(w.attempted for w in checked)
    failed = sum(w.failed for w in checked)
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def measure(args, work: Path) -> dict:
    from perfbench.trace import EventLog, RssSampler, Tracer, find_event_log
    from perfbench.workloads import WORKLOADS, JobParquetSql
    cls = WORKLOADS[args.workload]
    trace = bool(args.trace)
    ctx = Ctx(seed=args.seed, cores=CORES, work=work, tracer=Tracer(False))
    rss = RssSampler()
    rss.start()
    event_dir = work / "events" if trace else None
    spark, session_s = start_session(ctx, CORES, event_dir)
    w = cls(ctx, spark)
    if trace:
        install_spans(ctx.tracer)
    try:
        # traced runs mix units with and without spans (4 at least)
        setup_s, walls = run_units(ctx, w, args.seconds, 4 if trace else None,
                                   alternate=trace)
        plain = [t for i, t in walls.items() if not (trace and spans_on(i))]
        report = {"setup_s": session_s + setup_s, "wall_s": statistics.median(plain),
                  "session_s": session_s, "oracle_s": w.oracle_s,
                  "unit_walls": [round(t, 3) for t in walls.values()], **w.report}
        if trace:
            layer = w.trace_extras()
            checked = [w]
            for k, sub in enumerate(w.companions(), start=1):
                run_units(ctx, sub, 0.0, first=1000 * k)
                layer.update(sub.trace_extras())
                checked.append(sub)
    finally:
        ctx.tracer.restore()
    report["peak_rss_mb"] = rss.stop()
    report["failed_frac"] = w.failed / max(w.attempted, 1)
    ctx.log("report " + json.dumps(report))
    if not trace:
        stop_jvm()
        return result([w], {m["name"]: {"value": report.get(m["name"], 0.0), "unit": m["unit"]}
                            for m in END_TO_END})

    spark.stop()
    ctx.tracer.dump(work.parent / f"spans-{args.workload}-{args.seed}.json")
    ev = EventLog(find_event_log(event_dir))
    for probe in checked:
        layer.update(probe.log_metrics(ev))
    if cls is JobParquetSql:
        # the same job at local[1], without warm-ups: the JIT is warm by now.
        # T1 / (k * Tk) at the benchmark's k (CORES), under the issue's name
        ctx.tracer = Tracer(False)
        ctx.warm = False
        spark, _ = start_session(ctx, 1)
        w1 = cls(ctx, spark)
        _, walls1 = run_units(ctx, w1, 0.0, min_units=1)
        spark.stop()
        layer["job.scaling_eff_1to4"] = (statistics.median(walls1.values())
                                         / (CORES * report["wall_s"]))
        checked.append(w1)
    stop_jvm()
    traced = statistics.median(t for i, t in walls.items() if spans_on(i))
    layer.update({
        "peak_rss_mb": report["peak_rss_mb"],
        "session.build_s": session_s,
        "fixtures.generate_s": w.generate_s,
        "failed_frac": sum(p.failed for p in checked) / max(sum(p.attempted for p in checked), 1),
        "wall_samples": len(plain),
        "trace.wall_s": traced,
        "trace.overhead_s": traced - report["wall_s"],
    })
    return result(checked, {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                            for n, u, _ in PER_LAYER})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=tuple(WORKLOAD_WHY))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true",
                    help="rewrite BENCHMARK.json from this file's definitions")
    args = ap.parse_args(argv)
    root = Path.cwd()
    if args.write_spec:
        (root / "BENCHMARK.json").write_text(json.dumps(spec(), indent=2) + "\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not (root / "document_processor_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout of the program "
              "(document_processor_spark/ not found)", file=sys.stderr)
        return 2

    work = root / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Python workers import the engine from the checkout; shuffle, spill,
    # scratch and temp files stay inside it; the driver heap fits the host
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    sys.path.insert(0, str(root))
    try:
        out = measure(args, work)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
