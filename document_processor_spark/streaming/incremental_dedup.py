"""Streaming incremental dedup: classify each arriving micro-batch of
documents against the fingerprints of everything kept so far, then fold
the new documents' fingerprints back into the store.

State lives in a TABLE, not in the state store: a 10^12-document corpus
means ~10^12 content hashes plus 8x as many LSH band rows — far beyond
what per-key streaming state (applyInPandasWithState / RocksDB) can hold
or checkpoint.  The scalable shape is the one batch ingest uses
(operators/dedup.classify_against_store): the store is an append-only
parquet/Iceberg table keyed by uniformly-distributed hashes, each
micro-batch is one equi-join probe against it, and the store grows by one
deterministic partition per micro-batch.  foreachBatch gives the batch
operators unchanged; replay after a crash overwrites the SAME
``batch=<id>`` partition (deterministic path), so the
store-append/checkpoint-commit pair is effectively exactly-once — the
same guard discipline as extract_stream's snapshot commits.

Within a micro-batch, exact duplicates are resolved locally first (the
min-doc_id keeper is classified against the store; its copies are
exact_dup) — two identical documents arriving in one trigger must not
both enter the store.  Near-dup resolution WITHIN the batch is left to
the batch operator (dedup_minhash_lsh over the kept corpus): the stream
guards the corpus boundary, not intra-batch similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import band_sig_rows, classify_against_store, fingerprints
from ..session import pin

HASH_DDL = "content_hash string"
SIG_DDL = "band int, mh string"
DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _read_store(spark: SparkSession, path: str, ddl: str,
                before_batch: int) -> DataFrame:
    """Read one store table (partition dirs ``batch=<id>``) restricted to
    partitions written by EARLIER micro-batches; empty frame with the
    right schema when the store has no partitions yet.

    The ``batch < before_batch`` partition-pruned filter is what makes
    replay safe: a crash after the store append but before the source
    checkpoint commit replays the same batch_id, and without the filter
    the replayed batch would find its own fingerprints in the store and
    reclassify every 'new' document as exact_dup.  It also excludes
    partitions orphaned by a failed later batch.

    Only the legitimate store-not-created-yet case (no ``batch=*``
    partition dir on disk) maps to the empty frame; any OTHER read
    failure — corrupt footer, permissions, transient FS error — must
    raise, because silently treating the store as empty would classify
    the whole batch 'new' and pollute both corpus and store with
    duplicates."""
    import glob
    import os
    if not glob.glob(os.path.join(path, "batch=*")):
        return spark.createDataFrame([], ddl)
    df = spark.read.schema(ddl + ", batch int").parquet(path)
    return (df.filter(F.col("batch") < before_batch)
            .select(*[f.split(" ")[0] for f in ddl.split(", ")]))


def make_dedup_processor(store_dir: str, out_dir: str):
    """The foreachBatch body.  Writes per micro-batch:

    * ``{out_dir}/batch={id}/`` — (doc_id, exact_dup, n_shared_bands,
      status) for every document in the batch;
    * ``{store_dir}/hashes/batch={id}/`` and ``{store_dir}/sigs/batch={id}/``
      — fingerprints of the documents classified `new` (only the kept
      corpus deduplicates future arrivals).

    All three paths are deterministic in batch_id, and every write is
    mode("overwrite") of exactly that partition — a replayed micro-batch
    rewrites identical content instead of double-appending."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp = pin(fingerprints(batch_df))
        sig = band_sig_rows(fp)

        # intra-batch exact resolution: only the min-doc_id keeper of each
        # content hash probes the store; its copies are exact_dup outright
        w = Window.partitionBy("content_hash")
        fp_k = fp.withColumn("keeper", F.min("doc_id").over(w))
        keepers = (fp_k.filter(F.col("doc_id") == F.col("keeper"))
                   .select("doc_id", "content_hash", "shingles"))
        copies = (fp_k.filter(F.col("doc_id") != F.col("keeper"))
                  .select("doc_id",
                          F.lit(True).alias("exact_dup"),
                          F.lit(0).cast("bigint").alias("n_shared_bands"),
                          F.lit("exact_dup").alias("status")))

        hist_hash = _read_store(spark, f"{store_dir}/hashes", HASH_DDL,
                                before_batch=batch_id)
        hist_sig = _read_store(spark, f"{store_dir}/sigs", SIG_DDL,
                               before_batch=batch_id)
        keeper_ids = keepers.select("doc_id")
        cls = classify_against_store(
            keepers, sig.join(keeper_ids, "doc_id", "leftsemi"),
            hist_hash, hist_sig)
        result = pin(cls.unionByName(copies), eager=True)
        result.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

        new_ids = result.filter(F.col("status") == "new").select("doc_id")
        (fp.join(new_ids, "doc_id", "leftsemi").select("content_hash")
         .write.mode("overwrite").parquet(f"{store_dir}/hashes/batch={batch_id}"))
        (sig.join(new_ids, "doc_id", "leftsemi").select("band", "mh")
         .write.mode("overwrite").parquet(f"{store_dir}/sigs/batch={batch_id}"))
    return process_batch


def start_incremental_dedup_stream(spark: SparkSession, input_dir: str,
                                   store_dir: str, out_dir: str,
                                   checkpoint_dir: str,
                                   available_now: bool = False,
                                   max_files_per_trigger: int | None = None):
    """Stream documents-table parquet files landing in `input_dir` through
    the incremental dedup; returns the StreamingQuery."""
    reader = (spark.readStream.schema(DOCS_DDL)
              .option("maxFilesPerTrigger", max_files_per_trigger or 16)
              .parquet(input_dir))
    writer = (reader.writeStream
              .foreachBatch(make_dedup_processor(store_dir, out_dir))
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
