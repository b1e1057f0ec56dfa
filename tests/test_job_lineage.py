"""Per-partition lineage of the extraction job: every committed partition
carries complete lineage computed from the job's own passes (input
aggregate + write-pass Observation), checked bucket by bucket against the
oracle, without reading any snapshot back."""

import pytest

from document_processor_spark import fixtures, job, oracle
from document_processor_spark.io.icelite import PART_COL, IceLite, with_part
from document_processor_spark.job import SPANS_TABLE, run_extraction_job

N_PARTS = 8
LINEAGE_KEYS = ("docs_in", "docs_out", "spans_out", "fallback_pages", "pages_in",
                "fallback_docs", "reason_empty_payload", "reason_no_content")


@pytest.fixture()
def input_df(spark, corpus):
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            for d in corpus]
    return spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)


def _oracle_lineage(docs: list[dict]) -> dict:
    _, m = oracle.extract_corpus(docs)
    empty = sum(1 for d in docs if not d["spans"])
    return {"docs_in": m.docs_in, "docs_out": m.docs_out, "spans_out": m.spans_out,
            "fallback_pages": m.fallback_pages, "pages_in": m.pages_in,
            "fallback_docs": m.fallback_docs, "reason_empty_payload": empty,
            "reason_no_content": m.skipped_docs - empty}


def test_per_bucket_lineage_matches_oracle(spark, corpus, input_df, tmp_path):
    s = run_extraction_job(spark, input_df, str(tmp_path), "r1", n_parts=N_PARTS,
                           partitions_per_commit=2)
    assert len(s.commits) == N_PARTS // 2
    bucket = {r["doc_id"]: r[PART_COL]
              for r in with_part(input_df, N_PARTS).select("doc_id", PART_COL).collect()}
    lineage = IceLite(str(tmp_path), SPANS_TABLE).lineage()
    assert sorted(r["partition"] for r in lineage) == list(range(N_PARTS))
    for row in lineage:
        want = _oracle_lineage([d for d in corpus if bucket[d["doc_id"]] == row["partition"]])
        assert {k: row[k] for k in LINEAGE_KEYS} == want, row["partition"]


def test_lineage_of_commits_that_write_no_files(spark, tmp_path):
    """Empty-payload docs produce no output row, so these commits write no
    data files; their lineage still carries the input side."""
    df = spark.createDataFrame([(f"empty-{i}", []) for i in range(6)],
                               schema=fixtures.INPUT_DDL)
    s = run_extraction_job(spark, df, str(tmp_path), "r1", n_parts=2,
                           partitions_per_commit=1)
    assert len(s.commits) == 2
    lineage = IceLite(str(tmp_path), SPANS_TABLE).lineage()
    assert sorted(r["partition"] for r in lineage) == [0, 1]
    assert sum(r["docs_in"] for r in lineage) == 6
    assert sum(r["reason_empty_payload"] for r in lineage) == 6
    assert sum(r["docs_out"] + r["spans_out"] for r in lineage) == 0


def test_job_never_reads_its_snapshots_back(spark, input_df, golden, monkeypatch, tmp_path):
    _, om = golden

    def refuse(*_a, **_k):
        raise AssertionError("the job read a committed snapshot back")

    monkeypatch.setattr(IceLite, "read_snapshot", refuse)
    s = run_extraction_job(spark, input_df, str(tmp_path), "r1", n_parts=N_PARTS,
                           partitions_per_commit=N_PARTS // 2)
    assert len(s.commits) == 2
    lineage = IceLite(str(tmp_path), SPANS_TABLE).lineage()
    assert sorted(r["partition"] for r in lineage) == list(range(N_PARTS))
    assert all(set(LINEAGE_KEYS) <= set(r) for r in lineage)
    assert sum(r["docs_in"] for r in lineage) == om.docs_in
    assert sum(r["spans_out"] for r in lineage) == om.spans_out


def test_input_aggregate_error_fails_the_job(spark, input_df, monkeypatch, tmp_path):
    """The input-lineage aggregate runs on a background thread; its error
    must fail the job instead of committing lineage without input counts."""
    def boom(*_a):
        raise RuntimeError("input aggregate failed")

    monkeypatch.setattr(job, "_input_counts", boom)
    with pytest.raises(RuntimeError, match="input aggregate failed"):
        run_extraction_job(spark, input_df, str(tmp_path), "r1", n_parts=N_PARTS)


@pytest.mark.parametrize("collect_metrics", [True, False])
def test_manifest_records_commit_timings(spark, input_df, tmp_path, collect_metrics):
    s = run_extraction_job(spark, input_df, str(tmp_path), "r1", n_parts=N_PARTS,
                           partitions_per_commit=N_PARTS // 2,
                           collect_metrics=collect_metrics)
    snaps = IceLite(str(tmp_path), SPANS_TABLE).snapshots()
    assert len(snaps) == len(s.commits) == 2
    for snap, commit in zip(snaps, s.commits):
        t = snap["timings"]
        assert t == commit["timings"]
        assert t["write_s"] > 0 and t["metrics_s"] >= 0


def test_unknown_engine_rejected_before_any_work(spark, input_df, monkeypatch, tmp_path):
    """A bad engine name fails at entry with the valid names, before the
    run's background input aggregate starts or any snapshot is written."""
    def started(*_a):
        raise AssertionError("the input aggregate started for a bad engine")

    monkeypatch.setattr(job, "_input_counts", started)
    with pytest.raises(ValueError, match=r"\['arrow', 'sql'\]"):
        run_extraction_job(spark, input_df, str(tmp_path), "r1", n_parts=N_PARTS,
                           engine="pandas")
    assert IceLite(str(tmp_path), SPANS_TABLE).snapshots() == []


def test_unknown_engine_rejected_at_every_entry(spark, input_df, tmp_path):
    import importlib.util
    from pathlib import Path

    from document_processor_spark import pipeline
    from document_processor_spark.streaming.extract_stream import start_extract_stream

    assert set(pipeline.ENGINES) == {"sql", "arrow"}
    for entry in (lambda: pipeline.extract_documents(input_df, engine="pandas"),
                  lambda: pipeline.extract_with_metrics(input_df, engine="pandas"),
                  lambda: start_extract_stream(spark, str(tmp_path / "in"),
                                               str(tmp_path / "wh"),
                                               str(tmp_path / "ckpt"),
                                               engine="pandas")):
        with pytest.raises(ValueError, match="unknown engine 'pandas'"):
            entry()
    assert not (tmp_path / "wh").exists()
    # the CLI offers exactly the engine names; argparse exits with usage
    path = Path(__file__).resolve().parent.parent / "jobs" / "extract.py"
    spec = importlib.util.spec_from_file_location("extract_cli", path)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    with pytest.raises(SystemExit) as e:
        cli.main(["--fixture-sf", "0.001", "--warehouse", str(tmp_path / "wh"),
                  "--run-id", "r1", "--engine", "pandas"])
    assert e.value.code == 2
