"""The benchmark workloads.

Each workload is driven by one closed-loop client (this process) against a
``local[k]`` session.  ``setup`` builds the seeded inputs and warms the JIT,
``unit`` is one timed unit of work, ``after_unit`` and ``check`` compare
outputs with the repo's oracles outside the timed region.  Traced runs add
``trace_extras`` (per-layer numbers that need the live session) and
``log_metrics`` (counts from the Spark event log, read after it stopped).
"""

from __future__ import annotations

import math
import random
import shutil
import statistics
import tempfile
import time
from pathlib import Path

from . import inputs
from .trace import EventLog, Tracer

N_PARTS = 8           # doc_id buckets of the extraction job
COMMITS = 2           # snapshots per job run
WARMUP_UNITS = 3      # untimed units of work before the measured ones
CORPUS_SF = 0.1       # 1,000 generated docs, 11 edge-case docs and the skew doc
MIX_QUERIES = ("dedup_minhash_lsh", "dedup_prefix_jaccard", "ann_rerank_exact",
               "ann_ivf_pq_topk", "cur_corpus_build", "ta_quality",
               "rel_pricing_summary", "stream_join_attribution")
# the repo's sf0.01 test tables (TESTDATA.md) that the mix queries read,
# copied byte for byte, so that the benchmark reads only its own files
MIX_TABLES = Path(__file__).resolve().parent / "data" / "sf0.01"
MIX_TABLE_NAMES = ("documents", "embeddings", "lineitem", "events")


def spans_of(rows) -> dict[str, list[tuple]]:
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]] for r in rows}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def span_s(s: dict) -> float:
    return s["end"] - s["start"]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Workload:
    name = ""
    min_units = 3

    def __init__(self, ctx, spark):
        self.ctx = ctx
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.oracle_s = 0.0                 # check work done inside setup()
        self.generate_s = 0.0
        self.unit_windows: dict[int, tuple[float, float]] = {}
        self.report: dict[str, float] = {}  # end-to-end extras for stderr
        self.dir = Path(tempfile.mkdtemp(prefix=f"{self.name}-", dir=ctx.work))

    @property
    def tracer(self) -> Tracer:
        return self.ctx.tracer

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.ctx.log(f"check failed: {what}")

    def label(self, text: str) -> None:
        self.spark.sparkContext.setJobDescription(f"perfbench {self.name}: {text}")

    def warm_up(self, run) -> None:
        """Call `run(k)` for k < WARMUP_UNITS, unless the JVM is already
        warm: the cold first run costs several steady ones, and the JIT
        keeps speeding up the next few.  The wall time goes to the stderr
        report."""
        if self.ctx.warm:
            t0 = time.perf_counter()
            for k in range(WARMUP_UNITS):
                run(k)
            self.report["warmup_s"] = time.perf_counter() - t0

    def setup(self) -> None:
        raise NotImplementedError

    def unit(self, i: int) -> None:
        raise NotImplementedError

    def after_unit(self, i: int) -> None:
        """Checks on unit i, outside its timed region."""

    def check(self) -> None:
        """Checks after the measured units."""

    def report_rates(self, wall: float) -> None:
        """End-to-end extras derived from the median unit wall time."""

    def trace_extras(self) -> dict[str, float]:
        return {}

    def log_metrics(self, ev: EventLog) -> dict[str, float]:
        return {}

    def companions(self) -> list["Workload"]:
        """Workloads a traced run also measures, on the same session."""
        return []

    def traced_units(self, top: str) -> list[int]:
        return sorted({s["unit"] for s in self.tracer.closed(top) if s["unit"] is not None})

    def unit_self_times(self, unit: int) -> dict[str, float]:
        sub = Tracer(True)
        sub.spans = self.tracer.closed(unit=unit)
        return sub.self_times()


def count_exchanges(plan) -> int:
    """Exchange nodes in a physical plan (AQE's current plan when
    adaptive); a cached relation's own plan is not a child, so it is not
    counted."""
    n, todo = 0, [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        n += node.nodeName().endswith("Exchange")
        children = node.children()
        todo.extend(children.apply(k) for k in range(children.length()))
    return n


def sum_counts(windows: list[dict]) -> dict:
    """Event-log counts of several windows: sums, except the slowest-stage
    figures, which take their maximum."""
    out = {k: sum(w[k] for w in windows) for k in windows[0]}
    out["task_skew"] = max(w["task_skew"] for w in windows)
    out["slow_stage_tasks"] = max(w["slow_stage_tasks"] for w in windows)
    return out


def pipeline_counts(c: dict) -> dict[str, float]:
    return {"pipeline.shuffle_write_bytes": c["sh_write"],
            "pipeline.shuffle_read_bytes": c["sh_read"],
            "pipeline.shuffle_blocks": c["sh_blocks"],
            "pipeline.spill_bytes": c["spill"],
            "pipeline.gc_s": c["gc"],
            "pipeline.arrow_bytes_to_python": c["py_to"],
            "pipeline.arrow_bytes_from_python": c["py_from"],
            "pipeline.task_skew": c["task_skew"],
            "pipeline.parse_tasks": c["slow_stage_tasks"]}


# --------------------------------------------------------------------------
# extraction corpus workloads
# --------------------------------------------------------------------------

class ExtractWorkload(Workload):
    """The two workloads whose unit extracts the whole seeded corpus."""

    def make_corpus(self) -> None:
        """The corpus on disk and its oracle output."""
        from document_processor_spark import fixtures
        t0 = time.perf_counter()
        self.docs = fixtures.generate_corpus(CORPUS_SF, seed=self.ctx.seed, include_skew=True)
        self.corpus_dir = inputs.write_corpus(self.docs, self.dir / "corpus", self.ctx.seed)
        self.generate_s = time.perf_counter() - t0
        self.corpus_bytes = inputs.dir_bytes(self.corpus_dir)
        t0 = time.perf_counter()
        from document_processor_spark import oracle
        self.golden, self.gm = oracle.extract_corpus(self.docs)
        self.oracle_s += time.perf_counter() - t0

    def metrics_match(self, got: dict) -> bool:
        return all(got.get(k) == getattr(self.gm, k)
                   for k in ("docs_out", "spans_out", "fallback_pages", "pages_in"))

    def report_rates(self, wall: float) -> None:
        self.report["docs_per_s"] = self.gm.docs_out / wall
        self.report["spans_per_s"] = self.gm.spans_out / wall

    def assembled(self, parsed):
        from document_processor_spark import pipeline
        return pipeline.assemble(parsed)

    def prefix_times(self, base, engine: str) -> dict[str, float]:
        """Self times of the extract's layers from cumulative noop-sink
        prefixes: scan -> +explode -> +parse -> +assemble.  The window of
        the full prefix is kept for the event-log counts."""
        from document_processor_spark import pipeline
        exploded = pipeline.explode_spans(base)
        parsed = pipeline.ENGINES[engine](exploded)
        prefixes = [("scan", base), ("explode", exploded), ("parse", parsed),
                    ("assemble", self.assembled(parsed))]
        out, prev = {}, 0.0
        for name, df in prefixes:
            self.label(f"prefix +{name}")
            w0, t0 = time.time(), time.perf_counter()
            noop(df)
            cum = time.perf_counter() - t0
            out[name] = cum - prev
            prev = cum
        self.extract_windows.append((w0, time.time()))
        out["cumulative"] = prev
        return out

    def plan_counts(self, df) -> dict[str, float]:
        t0 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t0
        return {"pipeline.plan_s": plan_s, "pipeline.exchanges": count_exchanges(plan)}

    def build_s(self, units: list[int]) -> float:
        """Driver time inside the pipeline's DataFrame builders, per unit."""
        return statistics.median(
            sum(v for k, v in self.unit_self_times(u).items() if k.startswith("pipeline."))
            for u in units)


class JobParquetSql(ExtractWorkload):
    """`run_extraction_job(engine="sql")` from an unclustered parquet corpus
    into a fresh warehouse per unit: scan, salted two-exchange extract,
    IceLite append and the per-commit metrics collects."""

    name = "job_parquet_sql"
    engine = "sql"
    min_units = 4

    def setup(self) -> None:
        self.make_corpus()
        self.units: dict[int, dict] = {}
        self.extract_windows: list[tuple[float, float]] = []
        self.warm_up(lambda k: shutil.rmtree(self.run_job(f"warm{k}")[0]))

    def run_job(self, tag: str):
        from document_processor_spark import job
        wh = self.dir / f"wh-{tag}"
        docs = self.spark.read.parquet(str(self.corpus_dir))
        summary = job.run_extraction_job(
            self.spark, docs, str(wh), run_id=f"bench-{tag}", n_parts=N_PARTS,
            engine=self.engine, partitions_per_commit=N_PARTS // COMMITS)
        return wh, summary

    def unit(self, i: int) -> None:
        self.label(f"unit {i}")
        with self.tracer.span("job.run"):
            wh, summary = self.run_job(str(i))
        self.units[i] = {"wh": wh, "summary": summary}

    def after_unit(self, i: int) -> None:
        """Checks the unit's committed lineage against the oracle metrics;
        keeps only the newest warehouse (for the full span check)."""
        u = self.units[i]
        totals: dict[str, int] = {}
        for c in u["summary"].commits:
            for m in c["partitions"].values():
                for k in ("docs_out", "spans_out", "fallback_pages", "pages_in"):
                    totals[k] = totals.get(k, 0) + m.get(k, 0)
        self.record(len(u["summary"].commits) == COMMITS and self.metrics_match(totals),
                    f"unit {i} lineage {totals}")
        files = list((u["wh"] / "spans" / "data").rglob("*.parquet"))
        u.update(files=len(files), bytes=sum(f.stat().st_size for f in files),
                 fallback_rate=totals["fallback_pages"] / totals["pages_in"])
        if i - 1 in self.units and self.units[i - 1]["wh"].exists():
            shutil.rmtree(self.units[i - 1]["wh"])

    def check(self) -> None:
        from document_processor_spark import job
        last = self.units[max(self.units)]
        got = spans_of(job.read_spans(self.spark, str(last["wh"])).collect())
        self.record(got == self.golden, "committed spans differ from the oracle")

    def trace_extras(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from document_processor_spark import pipeline
        from document_processor_spark.io.icelite import PART_COL, with_part
        tr = self.tracer
        units = self.traced_units("job.run")

        def per_unit(name):
            return statistics.median(sum(span_s(s) for s in tr.closed(name, unit=u))
                                     for u in units)

        wall = per_unit("job.run")
        out = {"icelite.append_s": per_unit("icelite.append"),
               "icelite.read_snapshot_s": per_unit("icelite.read_snapshot"),
               "icelite.update_metrics_s": per_unit("icelite.update_metrics"),
               "job.metrics_s": per_unit("job.partition_metrics"),
               "pipeline.build_s": self.build_s(units),
               "job.commits": statistics.median(len(self.units[u]["summary"].commits)
                                                for u in units)}
        out["job.metrics_share"] = out["job.metrics_s"] / wall
        last = self.units[units[-1]]
        out["icelite.files_written"] = last["files"]
        out["icelite.bytes_written"] = last["bytes"]
        out["icelite.bytes_per_input_byte"] = last["bytes"] / self.corpus_bytes
        out["pipeline.ocr_fallback_rate"] = last["fallback_rate"]

        # the extract prefixes of each batch the job commits
        docs = with_part(self.spark.read.parquet(str(self.corpus_dir)), N_PARTS)
        step = N_PARTS // COMMITS
        batches = [docs.filter(F.col(PART_COL).isin(list(range(b * step, (b + 1) * step))))
                   for b in range(COMMITS)]
        prefix: dict[str, float] = {"write_own": 0.0}
        for batch in batches:
            for k, v in self.prefix_times(batch, self.engine).items():
                prefix[k] = prefix.get(k, 0.0) + v
            prefix["write_own"] += self.write_own_s(batch)
        for k in ("scan", "explode", "parse", "assemble"):
            out[f"pipeline.{k}_s"] = prefix[k]
        out["icelite.write_self_s"] = out["icelite.append_s"] - prefix["cumulative"]
        out["icelite.write_own_s"] = prefix["write_own"]
        # what the layer times leave unexplained of the unit's wall.  Each
        # is measured on its own: extract prefixes + the write of an
        # already extracted batch + snapshot read + metrics + manifest
        # update + driver build time.  An extract prefix that is off from
        # the extract inside the job shows here.
        layers = (prefix["cumulative"] + prefix["write_own"]
                  + out["icelite.read_snapshot_s"] + out["job.metrics_s"]
                  + out["icelite.update_metrics_s"] + out["pipeline.build_s"])
        out["trace.unexplained_share"] = (wall - layers) / wall
        out.update(self.plan_counts(self.assembled(
            pipeline.ENGINES[self.engine](pipeline.explode_spans(batches[0])))))
        return out

    def assembled(self, parsed):
        from document_processor_spark import pipeline
        from document_processor_spark.io.icelite import with_part
        return with_part(pipeline.assemble(parsed), N_PARTS)

    def write_own_s(self, batch) -> float:
        """The cost of IceLite.append's data write alone: the batch is
        extracted and cached first, then written as append writes it
        (sorted within tasks by bucket and doc_id, partitioned by bucket)
        and, for the base, to the noop sink."""
        from document_processor_spark import pipeline
        from document_processor_spark.io.icelite import PART_COL
        df = self.assembled(pipeline.ENGINES[self.engine](pipeline.explode_spans(batch)))
        df = df.persist()
        df.count()
        self.label("write alone")
        t0 = time.perf_counter()
        noop(df)
        base = time.perf_counter() - t0
        out = self.dir / "write-alone"
        t0 = time.perf_counter()
        (df.sortWithinPartitions(PART_COL, "doc_id").write.mode("overwrite")
           .partitionBy(PART_COL).parquet(str(out)))
        write = time.perf_counter() - t0
        df.unpersist()
        shutil.rmtree(out)
        return write - base

    def log_metrics(self, ev: EventLog) -> dict[str, float]:
        """Counts of the extract prefixes (one full corpus extract, batch by
        batch) and Spark jobs per unit."""
        out = pipeline_counts(sum_counts([ev.window(*w) for w in self.extract_windows]))
        out["job.spark_jobs"] = statistics.median(
            ev.window(*self.unit_windows[u])["jobs"] for u in self.traced_units("job.run"))
        return out

    def companions(self) -> list[Workload]:
        """The read side over the last committed warehouse, run after the
        traced units on the same session."""
        return [WarehouseReads(self.ctx, self.spark, job=self)]


class ExtractArrowClustered(ExtractWorkload):
    """`extract_with_metrics` to the noop sink over a cached corpus
    repartitioned on doc_id, once per engine, as bench.py's headline does.
    `arrow` crosses the Python-worker/Arrow boundary (and always salts by
    page); `sql` on this layout takes the zero-exchange branch.  No scan,
    write or commit."""

    name = "extract_arrow_clustered"
    engines = ("arrow", "sql")
    min_units = 5

    def setup(self) -> None:
        self.make_corpus()
        self.extract_windows: list[tuple[float, float]] = []
        self.cached = (self.spark.read.parquet(str(self.corpus_dir))
                       .repartition(2 * self.ctx.cores, "doc_id").persist())
        self.cached.count()
        self.obs = {}
        self.warm_up(lambda k: [self.extract(e) for e in self.engines])

    def extract(self, engine: str):
        from document_processor_spark import pipeline
        result, _in_obs, out_obs = pipeline.extract_with_metrics(self.cached, engine=engine)
        noop(result)
        return out_obs

    def unit(self, i: int) -> None:
        self.label(f"unit {i}")
        with self.tracer.span("extract.run"):
            self.obs[i] = [self.extract(e) for e in self.engines]

    def after_unit(self, i: int) -> None:
        for engine, obs in zip(self.engines, self.obs.pop(i)):
            self.last_obs = obs.get
            self.record(self.metrics_match(self.last_obs), f"unit {i} {engine} {self.last_obs}")

    def report_rates(self, wall: float) -> None:
        super().report_rates(wall / len(self.engines))

    def check(self) -> None:
        from document_processor_spark import pipeline
        for engine in self.engines:
            result, _, _ = pipeline.extract_with_metrics(self.cached, engine=engine)
            got = spans_of(result.collect())
            self.record(got == self.golden, f"{engine} spans differ from the oracle")

    def trace_extras(self) -> dict[str, float]:
        from document_processor_spark import pipeline
        units = self.traced_units("extract.run")
        out = {"pipeline.build_s": self.build_s(units),
               "pipeline.ocr_fallback_rate": (self.last_obs["fallback_pages"]
                                              / self.last_obs["pages_in"])}
        layers = out["pipeline.build_s"]
        for engine in self.engines:
            pre = self.prefix_times(self.cached, engine)
            for k in ("scan", "explode", "parse", "assemble"):
                out[f"pipeline.{k}_s"] = out.get(f"pipeline.{k}_s", 0.0) + pre[k]
            layers += pre["cumulative"]
            result, _, _ = pipeline.extract_with_metrics(self.cached, engine=engine)
            for k, v in self.plan_counts(result).items():
                out[k] = out.get(k, 0) + v
        wall = statistics.median(span_s(s) for s in self.tracer.closed("extract.run"))
        out["trace.unexplained_share"] = (wall - layers) / wall
        return out

    def log_metrics(self, ev: EventLog) -> dict[str, float]:
        units = self.traced_units("extract.run")
        return pipeline_counts(sum_counts([ev.window(*self.unit_windows[u]) for u in units]))

    def companions(self) -> list[Workload]:
        """The operator mix, run after the traced units on the same
        session: one warm-up pass (checked) and one measured pass."""
        return [OperatorMix(self.ctx, self.spark)]


# --------------------------------------------------------------------------
# warehouse_reads
# --------------------------------------------------------------------------

class WarehouseReads(Workload):
    """Read-only IceLite operations over the last warehouse a traced
    `job_parquet_sql` run committed, on its session: point lookups by doc_id
    (hits and misses), a full read_spans aggregate, one time-travel read and
    one resume no-op job run.  2 passes of 20 lookups, so the 75th
    percentile has 10 samples beyond it."""

    name = "warehouse_reads"
    min_units = 2
    LOOKUP_HITS = 17
    LOOKUP_MISSES = 3
    AS_OF = 1

    def __init__(self, ctx, spark, job: JobParquetSql):
        super().__init__(ctx, spark)
        self.corpus_dir, self.golden, self.gm = job.corpus_dir, job.golden, job.gm
        self.wh = job.units[max(job.units)]["wh"]

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.part_of = self.bucket_map()
        self.oracle_s += time.perf_counter() - t0
        self.rng = random.Random(f"{self.ctx.seed}:reads")
        self.lookup_ms: list[float] = []
        self.lookups: list[tuple] = []

    def bucket_map(self) -> dict[str, int]:
        """doc_id -> job bucket, by Spark's own xxhash64, so the time-travel
        check knows which documents each snapshot holds."""
        from pyspark.sql import functions as F
        df = self.spark.createDataFrame([(d,) for d in self.golden], "doc_id string")
        rows = df.select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(N_PARTS))
                         .alias("p")).collect()
        return {r["doc_id"]: r["p"] for r in rows}

    def ops(self) -> list[tuple[str, object]]:
        hits = [("lookup", d) for d in self.rng.sample(sorted(self.golden), self.LOOKUP_HITS)]
        misses = [("lookup", f"doc-missing-{self.rng.randrange(10**6):06d}")
                  for _ in range(self.LOOKUP_MISSES)]
        seq = hits + misses + [("scan", None), ("time_travel", self.AS_OF), ("resume", None)]
        self.rng.shuffle(seq)
        return seq

    def unit(self, i: int) -> None:
        from pyspark.sql import functions as F

        from document_processor_spark import job
        from document_processor_spark.io.icelite import IceLite
        self.label(f"unit {i}")
        self.results = []
        with self.tracer.span("reads.run"):
            table = IceLite(self.wh, job.SPANS_TABLE)
            for op, arg in self.ops():
                t0 = time.perf_counter()
                with self.tracer.span(f"reads.{op}"):
                    if op == "lookup":
                        df = table.read(self.spark).filter(F.col("doc_id") == arg)
                        got = df.collect()
                        self.lookup_ms.append((time.perf_counter() - t0) * 1e3)
                        self.lookups.append((arg, got, df))
                    elif op in ("scan", "time_travel"):
                        df = (job.read_spans(self.spark, str(self.wh)) if op == "scan"
                              else table.read(self.spark, as_of=arg)
                              .filter(F.size("spans") > 0))
                        got = df.agg(F.count(F.lit(1)).alias("docs"),
                                     F.sum(F.size("spans")).alias("spans")).collect()[0]
                    else:
                        got = job.run_extraction_job(
                            self.spark, self.spark.read.parquet(str(self.corpus_dir)),
                            str(self.wh), run_id=f"bench-resume-{i}", n_parts=N_PARTS,
                            engine="sql", partitions_per_commit=N_PARTS // COMMITS)
                self.results.append((op, arg, got))

    def after_unit(self, i: int) -> None:
        for op, arg, got in self.results:
            if op == "lookup":
                want = self.golden.get(arg)
                ok = spans_of(got) == ({arg: want} if want is not None else {})
            elif op == "scan":
                ok = (got["docs"], got["spans"]) == (self.gm.docs_out, self.gm.spans_out)
            elif op == "time_travel":
                keep = range(arg * N_PARTS // COMMITS)
                docs = [d for d in self.golden if self.part_of[d] in keep]
                ok = (got["docs"], got["spans"]) == (
                    len(docs), sum(len(self.golden[d]) for d in docs))
            else:
                ok = not got.commits and len(got.skipped_partitions) == N_PARTS
            self.record(ok, f"unit {i} {op}({arg})")

    def check(self) -> None:
        self.report["lookups"] = len(self.lookup_ms)
        self.report["lookup_ms.p50"] = statistics.median(self.lookup_ms)
        self.report["lookup_ms.p75"] = percentile(self.lookup_ms, 0.75)

    def trace_extras(self) -> dict[str, float]:
        tr = self.tracer
        lookup_ids = {s["id"] for s in tr.closed("reads.lookup")}
        out = {"icelite.read_build_s": statistics.median(
            span_s(s) for s in tr.closed("icelite.read") if s["parent"] in lookup_ids)}
        for op, name in (("scan", "icelite.scan_s"), ("time_travel", "icelite.time_travel_s"),
                         ("resume", "job.resume_noop_s")):
            out[name] = statistics.median(span_s(s) for s in tr.closed(f"reads.{op}"))
        files, examined, returned = [], 0, 0
        for _arg, got, df in self.lookups:
            n_files, n_rows = scan_metrics(df)
            files.append(n_files)
            examined += n_rows
            returned += len(got)
        out["icelite.lookup_files_read"] = statistics.median(files)
        out["icelite.lookup_rows_examined"] = examined / max(returned, 1)
        out["lookup_ms.p50"] = self.report["lookup_ms.p50"]
        out["lookup_ms.p75"] = self.report["lookup_ms.p75"]
        return out


def scan_metrics(df) -> tuple[int, int]:
    """(files read, rows output) summed over the scans of an executed plan,
    from the scans' SQL metrics."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    got = {"numFiles": 0, "numOutputRows": 0}
    for k in range(leaves.length()):
        metrics = leaves.apply(k).metrics()
        for key in got:
            opt = metrics.get(key)
            if opt.isDefined():
                got[key] += opt.get().value()
    return got["numFiles"], got["numOutputRows"]


# --------------------------------------------------------------------------
# operator_mix
# --------------------------------------------------------------------------

class OperatorMix(Workload):
    """Eight operator queries over the sf0.01 test tables, each sent to the
    noop sink, in a seed-permuted order, on the session of a traced
    `extract_arrow_clustered` run.  Bypasses the extraction pipeline."""

    name = "operator_mix"
    min_units = 1

    def setup(self) -> None:
        import __spark_entry__ as entry
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.order = list(MIX_QUERIES)
        random.Random(f"{self.ctx.seed}:mix").shuffle(self.order)
        # the warm-up pass collects every result for the oracle check
        self.results = {}
        for q in self.order:
            df = self.queries[q](self.spark, str(MIX_TABLES))
            self.results[q] = (df, df.collect())

    def unit(self, i: int) -> None:
        self.label(f"unit {i}")
        with self.tracer.span("mix.run"):
            for q in self.order:
                with self.tracer.span(f"operators.{q}.build"):
                    df = self.queries[q](self.spark, str(MIX_TABLES))
                with self.tracer.span(f"operators.{q}.exec"):
                    noop(df)

    def check(self) -> None:
        """DuckDB oracle_sql() over the same tables, compared with the
        normalization of tools/check_correctness.py."""
        import duckdb

        from tools.check_correctness import normalize, row_key, typed_cols
        con = duckdb.connect()
        for t in MIX_TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{MIX_TABLES / t}.parquet'")
        for q in self.order:
            df, rows = self.results[q]
            rel = con.sql(self.oracles[q])
            cols = sorted(df.columns)
            stypes, dtypes = typed_cols(df, rel)
            idx = {c: k for k, c in enumerate(rel.columns)}
            want = sorted(tuple(normalize(r[idx[c]]) for c in cols) for r in rel.fetchall())
            got = sorted(row_key(r, cols) for r in rows)
            self.record(cols == sorted(rel.columns) and stypes == dtypes and got == want,
                        f"{q} differs from its DuckDB oracle")
        con.close()

    def trace_extras(self) -> dict[str, float]:
        return {f"operators.{q}.{part}_s": statistics.median(
                    span_s(s) for s in self.tracer.closed(f"operators.{q}.{part}"))
                for q in self.order for part in ("build", "exec")}

    def log_metrics(self, ev: EventLog) -> dict[str, float]:
        units = self.traced_units("mix.run")
        c = sum_counts([ev.window(*self.unit_windows[u]) for u in units])
        return {"operators.shuffle_bytes": c["sh_write"] / len(units),
                "operators.spill_bytes": c["spill"] / len(units),
                "operators.gc_s": c["gc"] / len(units)}


WORKLOADS = {w.name: w for w in (JobParquetSql, ExtractArrowClustered)}
