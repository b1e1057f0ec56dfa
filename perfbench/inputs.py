"""Seeded benchmark inputs, written with pyarrow so that the program under
test receives only files on disk: the extraction corpus from
``fixtures.generate_corpus`` (the 50k-span skew document included), as an
unclustered parquet dataset."""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
CORPUS_SCHEMA = pa.schema([("doc_id", pa.string()),
                           ("spans", pa.list_(SPAN_TYPE))])


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def write_corpus(docs: list[dict], out: Path, seed: int, n_files: int = 4) -> Path:
    """Write `docs` in a seeded random order to `n_files` parquet files.
    Neither the file split nor the row order follows doc_id, so a scan of
    the directory is unclustered and the extract takes the salted path."""
    order = list(range(len(docs)))
    random.Random(f"{seed}:files").shuffle(order)
    out.mkdir(parents=True, exist_ok=True)
    for k in range(n_files):
        rows = [docs[i] for i in order[k::n_files]]
        table = pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA)
        pq.write_table(table, out / f"part-{k:05d}.parquet")
    return out
