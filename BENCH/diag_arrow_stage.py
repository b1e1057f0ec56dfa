#!/usr/bin/env python
"""Dissect the arrow-engine wall time: shuffle floor, no-op Python stage
(plumbing floor), pyarrow-native kernel against the Catalyst parse.

Usage: SPARK_GRAFT_CPUS=32 python BENCH/diag_arrow_stage.py [rep]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import pyarrow as pa
    from pyspark.sql import functions as F

    from document_processor_spark import fixtures, pipeline
    from document_processor_spark.session import build_spark

    spark = build_spark(app="diag-arrow", cores=cpus,
                        shuffle_partitions=max(cpus * 8, 64), pretouch=True)

    base = fixtures.corpus_df(spark, 0.1, n_partitions=max(cpus, 16))
    corpus = (base.crossJoin(spark.range(rep).select(F.col("id").alias("rep")))
              .select(F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "spans")
              .repartition(max(cpus * 2, 16), "doc_id")
              .persist())
    n = corpus.count()
    rows = pipeline.explode_spans(corpus)
    n_rows = rows.count()
    print(f"docs={n} span_rows={n_rows} cpus={cpus} "
          f"arrow_parts={pipeline._arrow_partitions(rows)} "
          f"sql_parts={pipeline._parse_partitions(rows)}", flush=True)

    def timed(label, df, reps=3):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 2))
        print(f"{label:46s} {min(walls):7.2f}s  runs={walls}", flush=True)

    def noop_kernel(batches):
        out_schema = pa.schema([
            pa.field("doc_id", pa.string()), pa.field("page", pa.int32()),
            pa.field("block", pa.int32()), pa.field("kind", pa.string()),
            pa.field("text", pa.string()), pa.field("media_ref", pa.string()),
            pa.field("scan_only", pa.bool_()),
        ])
        for b in batches:
            k = b.num_rows
            null_s = pa.nulls(k, pa.string())
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), b.column(2),
                 null_s, null_s, null_s, pa.nulls(k, pa.bool_())],
                schema=out_schema)

    parts = pipeline._arrow_partitions(rows)
    shuffled = rows.repartition(parts, "doc_id", "page")

    timed("catalyst parse_sql (ref)", pipeline.parse_sql(rows))
    timed("shuffle only (agg count)",
          shuffled.groupBy().agg(F.count(F.lit(1))))
    timed("shuffle + noop mapInArrow",
          shuffled.mapInArrow(noop_kernel, pipeline.PARSED_DDL))
    timed("arrow parse (pyarrow kernel)", pipeline.parse_arrow(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
