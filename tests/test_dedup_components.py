"""Connected-components cluster resolution: semantics pinned on a
hand-built pair graph (independent of the DuckDB oracle) by driving the
propagation loop's building blocks through a monkeypatched pair source."""

from __future__ import annotations

import pytest

from document_processor_spark.operators import dedup
from document_processor_spark.session import pin

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("algo", ["propagate", "star"])
def test_components_on_known_graph(spark, monkeypatch, tmp_path, algo):
    # documents: a..g; pairs: chain a-b-c, pair e-f; d and g singletons
    docs = spark.createDataFrame(
        [(x,) for x in "abcdefg"], "doc_id string")
    (docs.write.mode("overwrite")
     .parquet(str(tmp_path / "documents.parquet")))

    pair_rows = [("a", "b"), ("b", "c"), ("e", "f")]

    def fake_pairs(spark_, sf_dir_):
        return spark.createDataFrame(pair_rows, "d1 string, d2 string")

    monkeypatch.setattr(dedup, "q_dedup_minhash_lsh", fake_pairs)
    metrics: dict = {}
    out = dedup.q_dedup_components(spark, str(tmp_path),
                                   algo=algo, metrics=metrics)
    got = sorted((r["doc_id"], r["cluster_id"], r["n_members"])
                 for r in out.collect())
    assert got == [
        ("a", "a", 3), ("b", "a", 3), ("c", "a", 3),
        ("d", "d", 1),
        ("e", "e", 2), ("f", "e", 2),
        ("g", "g", 1),
    ]
    assert metrics["algo"] == algo
    assert metrics["converged"] is True
    assert metrics["n_rounds"] == len(metrics["changed_per_round"])
    assert metrics["changed_per_round"][-1] == 0


def test_star_converges_on_adversarial_chain(spark):
    """A 256-node chain has diameter 255 — min-label propagation would
    need 255 rounds (far past CC_MAX_ITERS), but the alternating
    large-star/small-star contraction halves component height each
    round, so it converges in O(log n) rounds."""
    n = 256
    nodes = [f"n{i:03d}" for i in range(n)]
    chain = spark.createDataFrame(list(zip(nodes, nodes[1:])),
                                  "d1 string, d2 string")
    metrics: dict = {}
    labels = dedup.connected_components(chain, algo="star", metrics=metrics)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {x: "n000" for x in nodes}
    assert metrics["converged"] is True
    # log2(256) = 8; allow slack for the alternating schedule
    assert metrics["n_rounds"] <= 16


def test_propagate_reports_nonconvergence_honestly(spark):
    """The no-silent-truncation rule: when the round cap is hit before
    the labels settle, metrics must say so instead of pretending."""
    n = 12
    nodes = [f"n{i:02d}" for i in range(n)]
    chain = spark.createDataFrame(list(zip(nodes, nodes[1:])),
                                  "d1 string, d2 string")
    metrics: dict = {}
    dedup.connected_components(chain, max_iters=3, algo="propagate",
                               metrics=metrics).collect()
    assert metrics["converged"] is False
    assert metrics["n_rounds"] == 3
    assert metrics["changed_per_round"][-1] > 0


def test_components_converges_on_long_chain(spark, monkeypatch, tmp_path):
    # a 12-node chain exercises multi-round propagation (diameter 11)
    n = 12
    nodes = [f"n{i:02d}" for i in range(n)]
    docs = spark.createDataFrame([(x,) for x in nodes], "doc_id string")
    (docs.write.mode("overwrite")
     .parquet(str(tmp_path / "documents.parquet")))
    chain = list(zip(nodes, nodes[1:]))

    def fake_pairs(spark_, sf_dir_):
        return spark.createDataFrame(chain, "d1 string, d2 string")

    monkeypatch.setattr(dedup, "q_dedup_minhash_lsh", fake_pairs)
    out = dedup.q_dedup_components(spark, str(tmp_path))
    got = {r["doc_id"]: (r["cluster_id"], r["n_members"])
           for r in out.collect()}
    assert got == {x: ("n00", n) for x in nodes}


def test_pin_reliable_checkpoint_mode(spark, tmp_path):
    """spark.document_processor.pin=checkpoint turns EVERY pin (lazy and
    eager, operator intermediates and job staging) into a RELIABLE
    checkpoint (fault-tolerant at cluster scale), with the same results as
    the default localCheckpoint pins."""
    from document_processor_spark.curation_job import (
        CURATED_TABLE,
        run_curation_job,
    )
    from document_processor_spark.io.icelite import IceLite
    from document_processor_spark.operators.pipeline_ops import (
        q_extract_jsonl_roundtrip,
    )

    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    df = spark.range(100).withColumnRenamed("id", "v")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def files() -> int:
        return sum(1 for p in ckpt.rglob("*") if p.is_file())

    def run(mode: str) -> dict:
        out: dict = {}
        n = files()
        lazy = pin(df)
        out["lazy"] = sorted(r["v"] for r in lazy.collect())
        out["lazy_wrote"] = files() > n
        n = files()
        eager = pin(df, eager=True)
        out["eager_wrote"] = files() > n  # before any action on the result
        out["eager"] = sorted(r["v"] for r in eager.collect())
        n = files()
        out["jsonl"] = sorted(
            tuple(r) for r in q_extract_jsonl_roundtrip(spark, SF_DIR).collect())
        out["jsonl_wrote"] = files() > n
        n = files()
        wh = str(tmp_path / f"wh_{mode}")
        out["funnel"] = run_curation_job(spark, docs, wh, "c1", n_parts=4).funnel
        out["lineage"] = {r.pop("partition"): (r.pop("snapshot_id"), r)
                          for r in IceLite(wh, CURATED_TABLE).lineage()}
        out["curation_wrote"] = files() > n
        return out

    base = run("local")
    assert base["lazy"] == base["eager"] == list(range(100))
    assert base["jsonl"] and base["funnel"]["docs_out"] > 0
    # the default pins are local: nothing reaches the checkpoint dir
    assert files() == 0
    spark.conf.set("spark.document_processor.pin", "checkpoint")
    try:
        got = run("checkpoint")
    finally:
        spark.conf.unset("spark.document_processor.pin")
    for k in ("lazy_wrote", "eager_wrote", "jsonl_wrote", "curation_wrote"):
        assert got.pop(k) is True, k
        assert base.pop(k) is False, k
    # same rows, and the Observation-carried funnel and per-partition
    # lineage are unchanged by the reliable pins
    assert got == base
