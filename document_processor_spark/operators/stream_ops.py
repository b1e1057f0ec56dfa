"""Structured Streaming operators exposed as ORACLE-GATED driver queries.

Round-2 left the streaming surface (windowed aggregation, bounded-state
dedup, foreachBatch extraction) proven by pytest only — the driver's
rows-only check.  These queries upgrade it to the same hash-compare gate
as every batch operator: each runs a REAL streaming query (file source →
`Trigger.AvailableNow` → memory/IceLite sink) inside the query function,
then returns the materialized result as a batch DataFrame whose content a
DuckDB ANSI oracle restates exactly.

Determinism notes shared by these queries:
* the session timezone is pinned to UTC inside each query — `F.window`
  aligns to epoch hours and the oracle's naive `date_trunc` matches only
  when the parquet-naive → internal conversion is identity (the repo's
  own session builder already pins UTC; the driver's session may not);
* sums that cross micro-batch/partition boundaries are DECIMAL(18,4)
  (associative), mirroring relational.q_tumbling_hourly's discipline;
* no timestamp column is emitted — buckets are `timestampdiff` integers
  relative to the corpus min, the same engine-neutral convention as the
  batch rel_* queries.

At 100 TB these shapes are the live-ingest front-end of the engine: the
windowed aggregation's state is partitioned by (window, event_type) — a
4N-executor cluster splits shuffle and state 4N ways; the dedup state is
bounded by the watermark horizon, not the stream length; the extraction
stream commits one idempotent IceLite snapshot per micro-batch, so a
crash replay never double-ingests a file (reference parity: the
request/response service of app/api.py:41-98 ingests documents exactly
once per request — the stream is the same contract per file).
"""

from __future__ import annotations

import atexit
import os
import hashlib
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.icelite import IceLite
from ._scan import scratch_dir as _scratch_dir
from ..job import SPANS_TABLE
from ..streaming.extract_stream import start_extract_stream
from ..streaming.windowed import EVENTS_DDL
from .pipeline_ops import SQL_PIPE_EXTRACT, derived_corpus

MICROS_PER_HOUR = 3_600_000_000.0


class _utc_session:
    """Pin the session timezone to UTC for the duration of a stream run,
    restoring the caller's setting on exit (the driver session is shared;
    a permanent mutation would leak into unrelated queries).  Every
    RETURNED plan below is timezone-free (instant arithmetic only), so
    restoring before the driver collects is safe."""

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.session.timeZone")
        self._spark.conf.set("spark.sql.session.timeZone", "UTC")
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.session.timeZone", self._prev)
        return False


class _pinned_state_partitions:
    """Temporarily pin spark.sql.shuffle.partitions to the core count for
    a streaming run: every stateful-stream partition materializes its own
    state store per micro-batch, so a 256-partition default pays 8x the
    store setup for identical results (state is hash-partitioned either
    way — the setting is perf-only).  On a real cluster the state
    partition count is sized once to the executor count and kept stable
    across restarts (it is baked into the checkpoint)."""

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(self._spark.sparkContext.defaultParallelism))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
        return False


def _sink_name(spark: SparkSession, name: str) -> str:
    """FIXED per-query memory-sink name, dropped before each run: a fresh
    uuid per invocation leaks one materialized result table per run into
    the shared long-lived session (the r1 cache-leak class session.pin() was
    built to kill) — a fixed name bounds growth to one retained table per
    query.  dropTempView is a no-op bool when absent."""
    spark.catalog.dropTempView(name)
    return name


_STAGE_ROOTS: dict[str, Path] = {}


def _stage_root(spark: SparkSession) -> Path:
    """One shared staging root per Spark application, removed at process
    exit.  Growth is bounded: each stream_* query stages at most one
    input directory per (sf_dir, key), so a long-lived driver session
    retains O(#stream queries) small directories, not O(#runs) — the
    same leak-bounding discipline as _sink_name."""
    app = spark.sparkContext.applicationId
    root = _STAGE_ROOTS.get(app)
    if root is None or not root.exists():
        root = _scratch_dir("stream_stage_")
        _STAGE_ROOTS[app] = root
        atexit.register(shutil.rmtree, str(root), ignore_errors=True)
    return root


def _staged(spark: SparkSession, sf_dir: str, key: str, build) -> Path:
    """Session-scoped INPUT staging cache shared by the stream_* family.

    Every stream query must lay its source out as files-in-a-directory
    (the file source accepts nothing else), and several need multi-file
    splits with pinned mtimes to force a specific micro-batch order.
    Those layouts are deterministic pure functions of sf_dir, so paying
    the Spark write jobs once per session and reusing the directory on
    every later run (bench sweeps run each query twice for the min-of-2
    estimator; the full suite runs the 9-query family back to back) cuts
    the harness fixed cost without touching semantics — checkpoints and
    sinks stay strictly per-run, because replaying a FINISHED AvailableNow
    checkpoint would drain nothing into the fresh memory sink.

    `build(tmp_dir)` materializes the layout into a temp dir; the rename
    to the final name is atomic and `_STAGED_OK` (underscore-prefixed, so
    Spark's file index ignores it) marks completeness — a run killed
    mid-build can never leave a half-staged directory behind."""
    tag = hashlib.md5(str(Path(sf_dir).resolve()).encode()).hexdigest()[:8]
    d = _stage_root(spark) / f"{key}_{tag}"
    if not (d / "_STAGED_OK").exists():
        tmp = d.parent / (d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        (tmp / "_STAGED_OK").touch()
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def _link_or_copy(src: Path, dst: Path) -> None:
    try:
        dst.hardlink_to(src)
    except OSError:
        shutil.copy(src, dst)


def q_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation as a STREAMING query with a
    batch oracle: events stream in from the parquet file source, a
    2-hour watermark bounds lateness, `F.window("1 hour")` buckets by
    event time, and the complete-mode memory sink holds the final
    aggregate once `Trigger.AvailableNow` drains the source.  The
    returned frame re-keys each window as hours-since-corpus-min (pure
    instant arithmetic — timezone-free), so the oracle is the plain
    GROUP BY date_trunc('hour', ts) any batch engine runs.  The single
    events.parquet FILE is staged (hard-link, else copy) into the shared
    session staging cache first — the streaming file source only accepts
    directories; the per-run checkpoint is implicit (complete-mode memory
    sink, AvailableNow) and the result lives in the memory sink."""
    name = _sink_name(spark, "stream_tb_sink")
    inp = _staged(spark, sf_dir, "events1", lambda d: _link_or_copy(
        Path(sf_dir) / "events.parquet", d / "events.parquet"))
    with _utc_session(spark), _pinned_state_partitions(spark):
        src = spark.readStream.schema(EVENTS_DDL).parquet(str(inp))
        agg = (src.withWatermark("ts", "2 hours")
               .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                    .alias("sv")))
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
        # corpus-min UTC hour in epoch micros, computed EAGERLY while
        # the session is still pinned to UTC (same LTZ schema the
        # stream used, so naive parquet values land as the same
        # instants); the one-row collect keeps the RETURNED plan
        # timezone-free
        t0h_us = (spark.read.schema(EVENTS_DDL)
                  .parquet(f"{sf_dir}/events.parquet")
                  .agg((F.floor(F.unix_micros(F.min("ts"))
                                / MICROS_PER_HOUR)
                        * F.lit(3_600_000_000)).cast("long").alias("us"))
                  .collect()[0]["us"])
    bucket = F.floor((F.unix_micros(F.col("w.start")) - F.lit(t0h_us))
                     / MICROS_PER_HOUR)
    return (spark.table(name)
            .select(bucket.cast("bigint").alias("hour_bucket"),
                    "event_type", "n_events",
                    F.col("sv").cast("double").alias("sum_value")))


SQL_STREAM_TUMBLING_HOURLY = """
WITH t0 AS (SELECT date_trunc('hour', min(ts)) AS t0h FROM events)
SELECT CAST(floor(date_diff('microsecond', t0.t0h, date_trunc('hour', ts))
                  / 3600000000.0) AS BIGINT) AS hour_bucket,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events, t0
GROUP BY 1, 2
"""


MICROS_PER_30M = 1_800_000_000


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` aggregation as a REAL stream — dynamic
    merging windows (state rows coalesce as events bridge gaps), the one
    windowing shape tumbling/sliding can't express and the stateful
    applyInPandasWithState sessionizer re-implements by hand.

    Append mode only emits a session once the watermark passes its end,
    and a bounded drain's final watermark stops at max(ts), which would
    withhold every tail session.  The harness forces a full flush
    deterministically: the events file is micro-batch 1, and micro-batch
    2 is a crafted one-row SENTINEL parquet 10 days past the corpus max
    (mtime-ordered so the file source replays them in that order) —
    after it, the watermark clears every real session while the
    sentinel's own session stays unemitted in state.  The oracle is the
    batch gap-sessionization restated with session_window semantics
    (a gap of exactly the 30-minute threshold starts a NEW session —
    the window [last, last+gap) is half-open) and end = last + gap.
    Session state is partitioned on user_id and bounded by the gap."""
    import os

    name = _sink_name(spark, "stream_sw_sink")
    ev_file = Path(sf_dir) / "events.parquet"
    with _utc_session(spark), _pinned_state_partitions(spark):
        bounds = (spark.read.schema(EVENTS_DDL).parquet(str(ev_file))
                  .agg(F.unix_micros(F.min("ts")).alias("t0"),
                       F.unix_micros(F.max("ts")).alias("t1"))
                  .collect()[0])
        t0_us, t1_us = bounds["t0"], bounds["t1"]

        def _build(d: Path) -> None:
            real = d / "events.parquet"
            _link_or_copy(ev_file, real)
            sent = spark.range(1).select(
                F.lit(10**12).cast("bigint").alias("event_id"),
                F.timestamp_micros(
                    F.lit(t1_us + 10 * 86_400 * 1_000_000)).alias("ts"),
                F.lit(-1).cast("bigint").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"))
            sdir = d / "_sent_stage"
            sent.coalesce(1).write.parquet(str(sdir))
            part = next(sdir.glob("part-*.parquet"))
            shutil.copy(part, d / "zz-sentinel.parquet")
            shutil.rmtree(sdir, ignore_errors=True)
            os.utime(d / "zz-sentinel.parquet",
                     (os.stat(real).st_mtime + 3600,) * 2)

        inp = _staged(spark, sf_dir, "events_sentinel", _build)
        base = _scratch_dir("stream_sw_")
        try:
            src = (spark.readStream.schema(EVENTS_DDL)
                   .option("maxFilesPerTrigger", 1).parquet(str(inp)))
            agg = (src.withWatermark("ts", "0 seconds")
                   .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                            "user_id")
                   .agg(F.count(F.lit(1)).alias("n_events")))
            q = (agg.writeStream.outputMode("append").format("memory")
                 .queryName(name)
                 .option("checkpointLocation", str(base / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return (spark.table(name)
            .select("user_id", "n_events",
                    (F.unix_micros(F.col("w.start")) - F.lit(t0_us))
                    .alias("start_us"),
                    (F.unix_micros(F.col("w.end")) - F.lit(t0_us))
                    .alias("end_us")))


SQL_STREAM_SESSION_WINDOW = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events),
flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN gap IS NULL OR gap >= {MICROS_PER_30M}
              THEN 1 ELSE 0 END AS new_sess
  FROM g),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS seq
  FROM flags),
per AS (
  SELECT user_id, seq, count(*) AS n_events, min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY 1, 2),
m AS (SELECT min(ts) AS t0 FROM events)
SELECT user_id, n_events,
       date_diff('microsecond', m.t0, s) AS start_us,
       date_diff('microsecond', m.t0, e) + {MICROS_PER_30M} AS end_us
FROM per, m
"""


def q_stream_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation — the overlap case tumbling
    can't exercise: `F.window(ts, "1 hour", "30 minutes")` assigns every
    event to exactly TWO epoch-aligned windows, so window state overlaps
    and the engine must keep duration/slide windows per key without
    double-counting.  Same harness discipline as the tumbling twin
    (watermark, AvailableNow drain, complete-mode memory sink, staged
    file source, fixed sink name, try/finally cleanup); the returned
    frame re-keys each window start as 30-minute steps since the
    corpus-min 30-minute boundary (pure instant arithmetic).  Oracle:
    each event contributes to window starts floor30(ts) and
    floor30(ts) - 30m — the membership predicate is identically TRUE for
    those two and only those two, so the batch restatement is a 2-row
    offset cross join."""
    name = _sink_name(spark, "stream_sl_sink")
    inp = _staged(spark, sf_dir, "events1", lambda d: _link_or_copy(
        Path(sf_dir) / "events.parquet", d / "events.parquet"))
    with _utc_session(spark), _pinned_state_partitions(spark):
        src = spark.readStream.schema(EVENTS_DDL).parquet(str(inp))
        agg = (src.withWatermark("ts", "2 hours")
               .groupBy(F.window("ts", "1 hour", "30 minutes")
                        .alias("w"), "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                    .alias("sv")))
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
        t0s_us = (spark.read.schema(EVENTS_DDL)
                  .parquet(f"{sf_dir}/events.parquet")
                  .agg((F.floor(F.unix_micros(F.min("ts"))
                                / MICROS_PER_30M)
                        * F.lit(MICROS_PER_30M)).cast("long").alias("us"))
                  .collect()[0]["us"])
    bucket = F.floor((F.unix_micros(F.col("w.start")) - F.lit(t0s_us))
                     / MICROS_PER_30M)
    return (spark.table(name)
            .select(bucket.cast("bigint").alias("slot_bucket"),
                    "event_type", "n_events",
                    F.col("sv").cast("double").alias("sum_value")))


SQL_STREAM_SLIDING_HOURLY = f"""
WITH t0 AS (
  SELECT CAST(floor(epoch_us(min(ts)) / {MICROS_PER_30M}) AS BIGINT)
           * {MICROS_PER_30M} AS t0s FROM events
),
e AS (
  SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v,
         CAST(floor(epoch_us(ts) / {MICROS_PER_30M}) AS BIGINT)
           * {MICROS_PER_30M} AS f30
  FROM events
),
x AS (
  SELECT event_type, v, f30 - o.off * {MICROS_PER_30M} AS ws
  FROM e, (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) AS o(off)
)
SELECT CAST((ws - t0.t0s) / {MICROS_PER_30M} AS BIGINT) AS slot_bucket,
       event_type,
       count(*) AS n_events,
       CAST(sum(v) AS DOUBLE) AS sum_value
FROM x, t0
GROUP BY 1, 2
"""


def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup proven across MICRO-BATCHES: the
    events file is staged twice in a temp source dir with
    maxFilesPerTrigger=1, so the second micro-batch replays every row of
    the first.  ``dropDuplicatesWithinWatermark(event_id)`` must emit
    each event exactly once — replayed rows inside the 2-hour watermark
    horizon hit live state (dup-dropped), older ones are dropped as late
    (beyond-watermark rows never pass a stateful operator) — and state
    stays O(keys within the horizon), the only shape that survives an
    unbounded feed.  Oracle: the events table itself (event_id is
    unique), no timestamp column emitted."""
    df, q = _run_dedup_replay(spark, sf_dir)
    return df


def _run_dedup_replay(spark: SparkSession, sf_dir: str):
    """Body of q_stream_dedup_replay; returns (result df, finished query)
    so tests can inspect recentProgress — the hash gate proves the OUTPUT
    equals the events table, only the progress log proves the stream
    really ingested every row twice across ≥2 micro-batches."""
    from ..streaming.windowed import dedup_stream

    def _build(d: Path) -> None:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev.coalesce(1).write.mode("overwrite").parquet(str(d))
        part = next(d.glob("part-*.parquet"))
        shutil.copy(part, d / f"replay-{part.name}")

    inp = _staged(spark, sf_dir, "events_twice", _build)
    base = _scratch_dir("stream_dedup_")
    try:
        name = _sink_name(spark, "stream_dd_sink")
        with _utc_session(spark), _pinned_state_partitions(spark):
            src = (spark.readStream.schema(EVENTS_DDL)
                   .option("maxFilesPerTrigger", 1).parquet(str(inp)))
            deduped = dedup_stream(src).select(
                "event_id", "user_id", "event_type", "value", "props")
            q = (deduped.writeStream.outputMode("append").format("memory")
                 .queryName(name)
                 .option("checkpointLocation", str(base / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name), q


SQL_STREAM_DEDUP_REPLAY = """
SELECT event_id, user_id, event_type, value, props FROM events
"""


def q_stream_extract_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full extraction pipeline run as a STREAM — the derived
    interleaved corpus lands as 4 parquet files, Structured Streaming
    ingests them 2 files per micro-batch through the identical batch
    dataflow (foreachBatch → parse → fallback → assemble), and each batch
    commits one idempotent IceLite snapshot.  Reading the table back and
    exploding spans must be byte-identical to the BATCH oracle
    (SQL_PIPE_EXTRACT — the same ANSI restatement pipe_extract_catalyst
    is gated on): incremental ingestion changes commit granularity and
    lineage, never content."""
    df, table = _run_extract_snapshot(spark, sf_dir)
    return df


def _run_extract_snapshot(spark: SparkSession, sf_dir: str):
    """Body of q_stream_extract_snapshot; returns (result df, IceLite
    table) so tests can assert the ingest really committed one snapshot
    per micro-batch — granularity the content hash cannot see."""
    inp = _staged(spark, sf_dir, "corpus4",
                  lambda d: (derived_corpus(spark, sf_dir).repartition(4)
                             .write.mode("overwrite").parquet(str(d))))
    base = _scratch_dir("stream_extract_")
    try:
        with _utc_session(spark):
            q = start_extract_stream(
                spark, str(inp), str(base / "wh"), str(base / "ckpt"),
                run_id="drv", engine="sql",
                n_parts=spark.sparkContext.defaultParallelism,
                available_now=True, max_files_per_trigger=2)
            q.awaitTermination()
    except BaseException:
        # failure path: nothing useful in the warehouse either — drop ALL
        shutil.rmtree(base, ignore_errors=True)
        raise
    # success: the returned frame READS the warehouse — keep it; drop the
    # finished checkpoint (the staged corpus lives in the shared cache)
    shutil.rmtree(base / "ckpt", ignore_errors=True)
    table = IceLite(str(base / "wh"), SPANS_TABLE)
    df = (table.read_spans(spark)
          .select("doc_id", F.explode("spans").alias("s"))
          .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))
    return df, table


def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals through a custom stateful operator
    (applyInPandasWithState GroupState; the transformWithStateInPandas
    twin is written and environment-gated — see
    streaming/transform_state.py): events are staged as TWO deterministic
    files — b0 = even event_id, b1 = odd — ingested one file per
    micro-batch, so every user's state row provably carries across
    micro-batches; the operator emits the updated (count, quantized-value
    sum, emission ordinal) row per user per batch.  The oracle restates
    both emissions in ANSI SQL: emission 1 aggregates the even half,
    emission 2 the whole table — integer-quantized sums make every
    addition associative, so the hash compare is exact."""
    df, q = _run_running_totals(spark, sf_dir)
    return df


def _run_running_totals(spark: SparkSession, sf_dir: str):
    """Body of q_stream_running_totals; returns (result df, finished
    query) so tests can assert the two-micro-batch shape from
    recentProgress."""
    import os

    from ..streaming.transform_state import running_totals

    def _build(d: Path) -> None:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        for i, batch in enumerate((ev.filter(F.col("event_id") % 2 == 0),
                                   ev.filter(F.col("event_id") % 2 == 1))):
            stage = d / f"_stage{i}"
            batch.coalesce(1).write.parquet(str(stage))
            part = next(stage.glob("part-*.parquet"))
            dst = d / f"b{i}.parquet"
            shutil.copy(part, dst)
            shutil.rmtree(stage, ignore_errors=True)
            # file source orders micro-batches by mod time: pin b0 first
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    inp = _staged(spark, sf_dir, "events_evenodd", _build)
    base = _scratch_dir("stream_tws_")
    try:
        name = _sink_name(spark, "stream_tws_sink")
        with _utc_session(spark), _pinned_state_partitions(spark):
            src = (spark.readStream.schema(EVENTS_DDL)
                   .option("maxFilesPerTrigger", 1)
                   .option("latestFirst", "false").parquet(str(inp)))
            out = running_totals(src)
            q = (out.writeStream.outputMode("append").format("memory")
                 .queryName(name)
                 .option("checkpointLocation", str(base / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name), q


SQL_STREAM_RUNNING_TOTALS = """
WITH q AS (
  SELECT user_id, event_id,
         CAST(floor(value * 10000) AS BIGINT) AS vq
  FROM events),
b0 AS (
  SELECT user_id, count(*) AS c0, sum(vq) AS s0
  FROM q WHERE event_id % 2 = 0 GROUP BY user_id),
ball AS (
  SELECT user_id, count(*) AS ca, sum(vq) AS sa FROM q GROUP BY user_id),
b1u AS (SELECT DISTINCT user_id FROM q WHERE event_id % 2 = 1)
SELECT user_id, CAST(1 AS BIGINT) AS emit_seq,
       CAST(c0 AS BIGINT) AS n_events_cum, CAST(s0 AS BIGINT) AS sum_q_cum
FROM b0
UNION ALL
SELECT b.user_id,
       CAST(CASE WHEN b0.user_id IS NULL THEN 1 ELSE 2 END AS BIGINT)
         AS emit_seq,
       CAST(b.ca AS BIGINT) AS n_events_cum,
       CAST(b.sa AS BIGINT) AS sum_q_cum
FROM ball b JOIN b1u USING (user_id)
LEFT JOIN b0 ON b0.user_id = b.user_id
"""


def q_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join as an oracle-gated driver
    query — the live twin of the batch as-of family: clicks and
    purchases arrive as two independent file-source streams (each staged
    as 2 parquet files, maxFilesPerTrigger=1, so matches genuinely cross
    micro-batch boundaries through the join state store) and every
    (click, purchase) pair by the same user with the purchase in
    [click_ts, click_ts + 1h] is emitted exactly once.  State bounding
    is the load-bearing property at 10^12 events: the 2-hour watermark
    on BOTH sides plus the 1-hour range condition let the engine evict
    any click/purchase too old to ever match — state is O(watermark
    horizon x arrival rate) per key range, never O(stream).  Inner-join
    matches emit in the micro-batch that completes them (no append-mode
    withholding), so an AvailableNow drain materializes the full answer
    and the oracle is the plain batch range join.  Emitted columns are
    ids + an integer microsecond gap — timezone-free."""
    from ..streaming.join import start_attribution_stream

    def _build_side(event_type: str):
        def build(d: Path) -> None:
            ev = (spark.read.schema(EVENTS_DDL)
                  .parquet(f"{sf_dir}/events.parquet"))
            (ev.filter(F.col("event_type") == event_type)
             .coalesce(2).write.mode("overwrite").parquet(str(d)))
        return build

    name = _sink_name(spark, "stream_ja_sink")
    inp_c = str(_staged(spark, sf_dir, "clicks2", _build_side("click")))
    inp_p = str(_staged(spark, sf_dir, "purchases2",
                        _build_side("purchase")))
    base = _scratch_dir("stream_ja_")
    try:
        with _utc_session(spark), _pinned_state_partitions(spark):
            q = start_attribution_stream(
                spark, inp_c, inp_p, str(base / "ckpt"), name,
                watermark="2 hours", max_gap="1 hour",
                max_files_per_trigger=1, available_now=True)
            q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name).select("purchase_id", "user_id", "click_id",
                                    "gap_us")


SQL_STREAM_JOIN_ATTRIBUTION = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
       date_diff('microsecond', c.ts, p.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment: the events stream inner-joins
    the static customer table on user_id per micro-batch, then rolls up
    per market segment — the live-ingest analog of the batch broadcast
    dimension join, and the one streaming join flavor the surface was
    missing (stream-stream is stream_join_attribution).

    Scale shape: a stream-static join keeps NO join state — the static
    side is (re)broadcast per micro-batch and each batch joins
    stateless, so state is owned entirely by the downstream aggregate,
    whose keys are bounded by |segments|, not the stream.  Two staged
    copies of the events file with maxFilesPerTrigger=1 force the join
    to actually run across ≥2 micro-batches; the doubled counts prove
    every batch hit the dimension (the oracle doubles accordingly).
    Sums cross batch boundaries in DECIMAL(18,4) (associative), cast
    back to double only in the returned plan."""
    df, _q = _run_static_enrich(spark, sf_dir)
    return df


def _run_static_enrich(spark: SparkSession, sf_dir: str):
    """Body of q_stream_static_enrich; returns (result df, finished query)
    so tests can assert from recentProgress that the stateless join ran
    across >= 2 micro-batches (the hash gate only proves the doubled
    totals)."""
    def _build(d: Path) -> None:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev.coalesce(1).write.mode("overwrite").parquet(str(d))
        part = next(d.glob("part-*.parquet"))
        shutil.copy(part, d / f"replay-{part.name}")

    name = _sink_name(spark, "stream_se_sink")
    inp = _staged(spark, sf_dir, "events_twice", _build)
    base = _scratch_dir("stream_se_")
    try:
        dim = (spark.read.parquet(f"{sf_dir}/customer.parquet")
               .select("c_custkey", "c_mktsegment"))
        with _utc_session(spark), _pinned_state_partitions(spark):
            src = (spark.readStream.schema(EVENTS_DDL)
                   .option("maxFilesPerTrigger", 1).parquet(str(inp)))
            joined = src.join(F.broadcast(dim),
                              src.user_id == dim.c_custkey)
            agg = (joined.groupBy("c_mktsegment")
                   .agg(F.count(F.lit(1)).alias("n_events"),
                        F.sum(F.col("value").cast("decimal(18,4)"))
                        .alias("sv")))
            q = (agg.writeStream.outputMode("complete").format("memory")
                 .queryName(name)
                 .option("checkpointLocation", str(base / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return (spark.table(name)
            .select("c_mktsegment", "n_events",
                    F.col("sv").cast("double").alias("sum_value")), q)


SQL_STREAM_STATIC_ENRICH = """
SELECT c_mktsegment,
       2 * count(*) AS n_events,
       CAST(2 * sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# -- watermark late-data semantics, audited exactly ---------------------------------

LATE_MOD = 37           # event_id % LATE_MOD == 0 -> arrives one batch late
LATE_DELAY_MS = 7_200_000  # the 2-hour watermark delay, in ms (Spark tracks ms)


def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark's LATE-DATA DROP rule, pinned by an exact oracle: the
    corpus streams in two micro-batches (on-time rows, then the
    deterministic late subset), so batch 2 runs under the watermark
    batch 1 established — max(on-time event time) minus the 2-hour delay
    — and every late row whose 1-hour window already closed is DROPPED
    from the aggregate, exactly as a live pipeline sheds stragglers.

    The oracle restates Spark's actual rule, not a paraphrase — both
    halves verified against the live query's numRowsDroppedByWatermark:
    (1) the data filter uses the watermark of the PREVIOUS trigger, so a
    late file arriving in the batch right after the on-time max would be
    admitted in full — a one-row "tick" micro-batch (ts = on-time max,
    advancing nothing) sits between them so the late batch really runs
    under the established watermark; (2) the watermark is tracked in
    MILLISECONDS (floor(max_us/1000) - delay_ms) and a row is dropped iff
    its window END (micros) <= watermark*1000 — that window's state was
    already finalized.  A trailing sentinel micro-batch 10 days out
    flushes every surviving window through the append-mode sink (the
    sentinel's own window stays in state, unemitted).  State is
    partitioned on the window key and bounded by the watermark horizon —
    the shape scales to any executor count."""
    import os

    name = _sink_name(spark, "stream_ld_sink")
    with _utc_session(spark), _pinned_state_partitions(spark):
        ev = spark.read.schema(EVENTS_DDL).parquet(
            f"{sf_dir}/events.parquet")
        t1_us = ev.agg(F.unix_micros(F.max("ts")).alias("t1")) \
                  .collect()[0]["t1"]

        def _build(d: Path) -> None:
            onmax_us = (ev.filter(F.col("event_id") % LATE_MOD != 0)
                        .agg(F.unix_micros(F.max("ts")).alias("t"))
                        .collect()[0]["t"])
            tick = spark.range(1).select(
                F.lit(10**11).cast("bigint").alias("event_id"),
                F.timestamp_micros(F.lit(onmax_us)).alias("ts"),
                F.lit(-1).cast("bigint").alias("user_id"),
                F.lit("tick").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"))
            for fname, frame, bump in (
                    ("aa-ontime.parquet",
                     ev.filter(F.col("event_id") % LATE_MOD != 0), 0),
                    ("bb-tick.parquet", tick, 900),
                    ("cc-late.parquet",
                     ev.filter(F.col("event_id") % LATE_MOD == 0), 1800),
                    ("zz-sentinel.parquet",
                     spark.range(1).select(
                         F.lit(10**12).cast("bigint").alias("event_id"),
                         F.timestamp_micros(
                             F.lit(t1_us + 10 * 86_400 * 1_000_000))
                          .alias("ts"),
                         F.lit(-1).cast("bigint").alias("user_id"),
                         F.lit("sentinel").alias("event_type"),
                         F.lit(0.0).alias("value"),
                         F.lit("").alias("props")), 3600)):
                sdir = d / f"_stage_{fname}"
                frame.coalesce(1).write.parquet(str(sdir))
                part = next(sdir.glob("part-*.parquet"))
                shutil.copy(part, d / fname)
                shutil.rmtree(sdir, ignore_errors=True)
                os.utime(d / fname,
                         (os.stat(d / "aa-ontime.parquet").st_mtime
                          + bump,) * 2)

        inp = _staged(spark, sf_dir, "events_late", _build)
        base = _scratch_dir("stream_ld_")
        try:
            src = (spark.readStream.schema(EVENTS_DDL)
                   .option("maxFilesPerTrigger", 1).parquet(str(inp)))
            agg = (src.withWatermark("ts", "2 hours")
                   .groupBy(F.window("ts", "1 hour").alias("w"))
                   .agg(F.count(F.lit(1)).alias("n_events")))
            q = (agg.writeStream.outputMode("append").format("memory")
                 .queryName(name)
                 .option("checkpointLocation", str(base / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            t0h_us = (spark.read.schema(EVENTS_DDL)
                      .parquet(f"{sf_dir}/events.parquet")
                      .agg((F.floor(F.unix_micros(F.min("ts"))
                                    / MICROS_PER_HOUR)
                            * F.lit(3_600_000_000)).cast("long").alias("us"))
                      .collect()[0]["us"])
        finally:
            shutil.rmtree(base, ignore_errors=True)
    bucket = F.floor((F.unix_micros(F.col("w.start")) - F.lit(t0h_us))
                     / MICROS_PER_HOUR)
    return (spark.table(name)
            .filter(F.col("w.start")
                    < F.timestamp_micros(F.lit(t1_us + 86_400 * 1_000_000)))
            .select(bucket.cast("bigint").alias("hour_bucket"), "n_events"))


SQL_STREAM_LATE_DATA = f"""
WITH wm AS (
  SELECT (floor(date_diff('microsecond', TIMESTAMP '1970-01-01', max(ts))
                / 1000.0) - {LATE_DELAY_MS}) * 1000 AS wm_us
  FROM events WHERE event_id % {LATE_MOD} <> 0
),
kept AS (
  SELECT ts FROM events WHERE event_id % {LATE_MOD} <> 0
  UNION ALL
  SELECT max(ts) AS ts FROM events WHERE event_id % {LATE_MOD} <> 0
  UNION ALL
  SELECT e.ts FROM events e, wm
  WHERE e.event_id % {LATE_MOD} = 0
    AND date_diff('microsecond', TIMESTAMP '1970-01-01',
                  date_trunc('hour', e.ts)) + 3600000000 > wm.wm_us
),
t0 AS (SELECT date_trunc('hour', min(ts)) AS t0h FROM events)
SELECT CAST(floor(date_diff('microsecond', t0.t0h, date_trunc('hour', ts))
                  / 3600000000.0) AS BIGINT) AS hour_bucket,
       count(*) AS n_events
FROM kept, t0
GROUP BY 1
"""


QUERIES = {
    "stream_late_data": (q_stream_late_data, SQL_STREAM_LATE_DATA),
    "stream_static_enrich": (q_stream_static_enrich,
                             SQL_STREAM_STATIC_ENRICH),
    "stream_tumbling_hourly": (q_stream_tumbling_hourly,
                               SQL_STREAM_TUMBLING_HOURLY),
    "stream_dedup_replay": (q_stream_dedup_replay, SQL_STREAM_DEDUP_REPLAY),
    "stream_extract_snapshot": (q_stream_extract_snapshot, SQL_PIPE_EXTRACT),
    "stream_running_totals": (q_stream_running_totals,
                              SQL_STREAM_RUNNING_TOTALS),
    "stream_sliding_hourly": (q_stream_sliding_hourly,
                              SQL_STREAM_SLIDING_HOURLY),
    "stream_session_window": (q_stream_session_window,
                              SQL_STREAM_SESSION_WINDOW),
    "stream_join_attribution": (q_stream_join_attribution,
                                SQL_STREAM_JOIN_ATTRIBUTION),
}
