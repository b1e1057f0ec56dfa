"""The batch extraction job: scan → extract → snapshot commit, resumable.

Target lifecycle (SURVEY.md §3.5)::

    spark-submit --py-files engine.zip jobs/extract.py \
        --warehouse /path/wh --run-id R [--fixture-sf 0.1 | --input dir]

Each commit batch processes a set of doc_id-bucket partitions and writes one
IceLite snapshot carrying per-partition lineage + metrics (docs in/out,
spans out, OCR fallback pages/docs — BASELINE.json:6).  On restart the job
consults committed snapshots and skips finished partitions (checkpoint
resume, FIXTURES.md §5); re-runs are idempotent because a partition is only
ever committed once and readers see only committed manifests.
"""

from __future__ import annotations

import time
from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import pipeline
from .io.icelite import PART_COL, IceLite, with_part

SPANS_TABLE = "spans"


@dataclass
class JobSummary:
    run_id: str
    commits: list[dict] = field(default_factory=list)
    skipped_partitions: list[int] = field(default_factory=list)

    @property
    def partitions_done(self) -> int:
        return sum(len(c["partitions"]) for c in self.commits)


# Output-side lineage, summed per partition by the write pass itself (one
# `sum(CASE WHEN part = p ...)` per metric and partition: observed metrics
# reject FILTER clauses).  The observed node sits in the write's result
# stage, whose accumulator updates Spark applies once per partition, so the
# sums stay exact under task retries.
_OUT_METRICS = {
    "docs_out": "CASE WHEN size(spans) > 0 THEN 1 ELSE 0 END",
    "spans_out": "size(spans)",
    "fallback_pages": "fallback_pages",
    "pages_in": "pages_in",
    "fallback_docs": "CASE WHEN fallback_pages > 0 THEN 1 ELSE 0 END",
}


def spans_rows(assembled: DataFrame, n_parts: int) -> DataFrame:
    """The spans-table row for `pipeline.assemble` output, shared by the
    batch job and the stream.  Docs whose extraction yields zero spans stay
    as quarantine rows (empty spans array, skip_reason set — the
    reference's counted-and-skipped semantics, app/api.py:86-98) and are
    filtered out by read_spans."""
    skip_reason = (F.when(F.size("spans") > 0, F.lit(None).cast("string"))
                    .otherwise(F.lit("no_extractable_content")))
    return with_part(assembled, n_parts).select(
        "doc_id", "spans", "fallback_pages", "pages_in",
        skip_reason.alias("skip_reason"), PART_COL)


def _observe_output(result: DataFrame, batch: list[int]) -> tuple[DataFrame, Observation]:
    obs = Observation()
    sums = [F.expr(f"sum(CASE WHEN {PART_COL} = {p} THEN {e} ELSE 0 END)").alias(f"{k}_{p}")
            for p in batch for k, e in _OUT_METRICS.items()]
    return result.observe(obs, *sums), obs


def _input_counts(docs: DataFrame, parts: list[int]) -> dict[int, dict]:
    """Input-side lineage for every partition this run commits, in one
    narrow aggregate (column pruning keeps the scan to doc_id + spans)."""
    rows = (docs.filter(F.col(PART_COL).isin(parts)).groupBy(PART_COL).agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.when(F.size("spans") <= 0, 1).otherwise(0)).alias("empty_docs"),
    ).collect())
    return {r[PART_COL]: {"docs_in": r["docs_in"], "empty_docs": r["empty_docs"]}
            for r in rows}


def _in_background(spark: SparkSession, fn, *args) -> Future:
    """`fn(*args)` on a thread that inherits the caller's Spark job
    properties (job group, description, scheduler pool); its result or
    error comes back through the Future."""
    fut: Future = Future()

    def run():
        try:
            fut.set_result(fn(*args))
        except Exception as e:  # re-raised by fut.result() in the caller
            fut.set_exception(e)

    InheritableThread(run, session=spark).start()
    return fut


def _partition_metrics(batch: list[int], inputs: dict[int, dict],
                       observed: dict) -> dict[int, dict]:
    """Per-partition lineage row fields (FIXTURES.md §5) for every partition
    of one commit: input counts from `_input_counts`, output sums from the
    commit's write-pass Observation (`observed`; its sums are null for a
    partition that wrote no rows).  The extraction runs exactly once and
    no commit reads its own snapshot back."""
    m: dict[int, dict] = {}
    for p in batch:
        d = {"docs_in": 0, "empty_docs": 0, **inputs.get(p, {})}
        for k in _OUT_METRICS:
            d[k] = observed[f"{k}_{p}"] or 0
        d["skipped_docs"] = d["docs_in"] - d["docs_out"]
        # S29 reason codes (reference: 400-empty vs unprocessable,
        # app/api.py:86-98,137-139): every quarantined doc is attributed
        d["reason_empty_payload"] = d["empty_docs"]
        d["reason_no_content"] = d["skipped_docs"] - d["reason_empty_payload"]
        m[p] = d
    return m


def run_extraction_job(spark: SparkSession, docs: DataFrame, warehouse: str,
                       run_id: str, n_parts: int = 32, engine: str = "sql",
                       partitions_per_commit: int | None = None,
                       max_commits: int | None = None,
                       collect_metrics: bool = True,
                       cluster_by: tuple[str, ...] = ("doc_id",),
                       first_page: int = 1,
                       last_page: int | None = None,
                       ocr_pipeline: str = "hybrid") -> JobSummary:
    """Extract `docs` into the warehouse spans table, resumably.

    partitions_per_commit: batch size of the checkpoint granularity
    (None = all remaining partitions in one snapshot).
    max_commits: stop after N commits (used by resume tests to simulate a
    mid-job kill between snapshots).
    cluster_by: write-side clustering (sort within write tasks) so row
    groups carry tight doc_id min/max stats — point reads prune row
    groups instead of scanning buckets (IceLite.append cluster_by).
    first_page/last_page: 1-based inclusive page range (the reference's
    request parameters, app/api.py:69-70) applied before the span explode.
    ocr_pipeline: converter-chain choice fast/full/hybrid (the reference's
    OcrPipeline request param, api.py:69 — see pipeline.assemble)."""
    pipeline.check_engine(engine)
    table = IceLite(warehouse, SPANS_TABLE)
    # resume safety: committed partition ids are only meaningful under the
    # SAME bucketing — resuming with a different n_parts would skip wrong
    # buckets (silently dropping or duplicating documents)
    for s in table.snapshots():
        if "n_parts" in s and s["n_parts"] != n_parts:
            raise ValueError(
                f"warehouse {warehouse} was written with n_parts="
                f"{s['n_parts']} (snapshot {s['snapshot_id']}); "
                f"cannot resume with n_parts={n_parts}")
    docs = with_part(docs, n_parts)
    done = table.committed_partitions()
    todo = [p for p in range(n_parts) if p not in done]
    summary = JobSummary(run_id=run_id, skipped_partitions=sorted(done))

    if not todo:
        return summary
    step = partitions_per_commit or len(todo)
    batches = [todo[i:i + step] for i in range(0, len(todo), step)]
    if max_commits is not None:
        batches = batches[:max_commits]
    if collect_metrics:
        # the run's one input-lineage aggregate runs beside the first
        # commit's extract and write, on the cores their skewed stages leave
        # idle; a commit's metrics_s is the lineage time on its own path
        # (the wait for this aggregate included)
        inputs = _in_background(spark, _input_counts, docs,
                                [p for b in batches for p in b])

    for batch in batches:
        input_batch = docs.filter(F.col(PART_COL).isin(batch))
        parsed = pipeline.ENGINES[engine](
            pipeline.explode_spans(input_batch, first_page, last_page))
        # doc-level lineage (fallback_pages, pages_in) is stored in the
        # table.  Per-partition output metrics are observed on the write
        # pass itself, so the extraction runs exactly once per batch and
        # nothing is read back.
        result = spans_rows(
            pipeline.assemble(parsed, ocr_pipeline=ocr_pipeline), n_parts)
        if collect_metrics:
            result, obs = _observe_output(result, batch)
        t0 = time.perf_counter()
        manifest = table.append(result, run_id, partitions=batch,
                                extra={"engine": engine, "n_parts": n_parts},
                                cluster_by=list(cluster_by or ()))
        timings = {"write_s": time.perf_counter() - t0, "metrics_s": 0.0}
        if collect_metrics:
            t0 = time.perf_counter()
            metrics = _partition_metrics(batch, inputs.result(), obs.get)
            table.update_metrics(manifest["snapshot_id"], metrics)
            manifest["partitions"] = {str(p): metrics[p] for p in sorted(batch)}
            timings["metrics_s"] = time.perf_counter() - t0
        table.update_manifest(manifest["snapshot_id"], {"timings": timings})
        manifest["timings"] = timings
        summary.commits.append(manifest)
    return summary


def read_spans(spark: SparkSession, warehouse: str,
               include_skipped: bool = False) -> DataFrame:
    df = IceLite(warehouse, SPANS_TABLE).read(spark)
    if not include_skipped:
        df = df.filter(F.size("spans") > 0)
    return df
