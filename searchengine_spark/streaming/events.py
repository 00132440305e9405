"""Event-stream analytics over the driver-provided ``events`` table —
the second stream fixture (S9) exercised on driver data.

The reference consumes a NATS core subject
(``internal/subscriber/subscriber.go:38-57``) exactly like its Kafka
path: a JSON message stream applied in arrival order. Spark has no
first-party NATS connector, so the production wiring is either

- :func:`nats_source` — a DataSource-V2 NATS connector on the
  classpath (``format("nats")``), or
- a NATS→Kafka bridge feeding :func:`..streaming.ingest.kafka_source`.

Both land on the same typed-message frame; the FILE stream used here
carries identical rows and is what the tests/driver can actually run.

:func:`events_hourly_rollup` runs a real Structured Streaming query
(``readStream`` → watermark → windowed aggregation → ``availableNow``
trigger) over ``events.parquet`` staged as a file-stream directory:
the windows §2.7 + streaming-semantics §2.10 surface on the driver's
own data, with a plain-SQL oracle (hour-truncated groupBy) that the
result matches exactly.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import semantics as S
from ..staging import commit_staged, staged_from

# events.parquet ships timestamps as TIMESTAMP_NTZ (parquet isAdjustedToUTC
# = false, Spark 4 reads them as NTZ); session TZ is UTC so the LTZ cast
# preserves stored micros
EVENT_SCHEMA = (
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


@contextmanager
def session_confs(spark: SparkSession, confs: dict) -> Iterator[None]:
    """Set the session confs ``confs`` (None values skipped) for the body
    and restore them after, also when it raises. Session confs are global,
    so this assumes one thread runs one query at a time in the session."""
    prev = {k: spark.conf.get(k) for k, v in confs.items() if v is not None}
    try:
        for k in prev:
            spark.conf.set(k, str(confs[k]))
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def nats_source(spark: SparkSession, url: str, subject: str) -> DataFrame:
    """Production NATS stream source (S9). Requires a DataSource-V2
    NATS connector on the classpath; raises with the bridge guidance
    otherwise (this sandbox ships no connector jars — the staged file
    stream below carries identical messages)."""
    try:
        return (
            spark.readStream.format("nats")
            .option("nats.url", url)
            .option("nats.subject", subject)
            .load()
        )
    except Exception as e:  # noqa: BLE001 — classpath-dependent
        raise RuntimeError(
            "no NATS DSv2 connector on the classpath; deploy one or run a "
            "NATS->Kafka bridge into streaming.ingest.kafka_source"
        ) from e


def stage_events_dir(sf_dir: str, root: str = "/root/repo/data/stream_events") -> str:
    """Copy the driver's events.parquet into a file-stream directory
    (idempotent; restaged whenever the source file's size/mtime change
    — see :mod:`..staging`). A real deployment points readStream at the
    landing dir its NATS/Kafka sink writes to; the copy stands in for
    that."""
    name = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(root, name)
    src = os.path.join(sf_dir, "events.parquet")
    if not staged_from(d, src):
        marker = os.path.join(d, "part-00000.parquet")
        shutil.copyfile(src, marker + ".tmp")
        os.rename(marker + ".tmp", marker)
        commit_staged(d)
    return d


def stage_sessionize_dir(
    sf_dir: str, gap_minutes: int, root: str = "/root/repo/data/stream_sessions"
) -> str:
    """Staged file-stream dir for the sessionization stream: the
    driver's events.parquet plus ONE sentinel row (user_id=-1) dated
    past every possible session end (max ts + gap + 1h). On a bounded
    replay the watermark can never pass a real user's final session end
    (last event + gap > global max ts by construction), so an
    append-mode session aggregation would hold every final session
    forever; the sentinel is the standard punctuation/flush event that
    advances the watermark past all real sessions. Idempotent;
    restaged whenever the source file changes (:mod:`..staging`)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    name = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(root, f"{name}-gap{gap_minutes}")
    src = os.path.join(sf_dir, "events.parquet")
    marker = os.path.join(d, "part-00000.parquet")
    sentinel = os.path.join(d, "part-00001.parquet")
    if not staged_from(d, src, extra={"gap_minutes": gap_minutes}):
        shutil.copyfile(src, marker + ".tmp")
        os.rename(marker + ".tmp", marker)
        tab = pq.read_table(src, columns=["ts"])
        max_us = pc.max(tab.column("ts")).cast(pa.int64()).as_py()
        flush_us = max_us + (gap_minutes + 60) * 60 * 1_000_000
        row = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array([flush_us], pa.timestamp("us")),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array([""], pa.string()),
            }
        )
        pq.write_table(row, sentinel + ".tmp")
        os.rename(sentinel + ".tmp", sentinel)
        # the file source orders micro-batches by mtime; a tie could run
        # the sentinel batch first under maxFilesPerTrigger and late-drop
        # every real event (same hazard as assemble.stage_turn_stream_dir)
        m = os.stat(marker)
        os.utime(sentinel, (m.st_atime + 2, m.st_mtime + 2))
        commit_staged(d)
    return d


def events_sessionize_stream(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int | None = None,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Gap sessionization computed BY A STREAMING QUERY: Spark's native
    ``session_window`` (merging event-time windows) with a watermark,
    APPEND output — the production mode, where a session row is emitted
    exactly once, when the watermark passes its close (state for merged
    windows is then evicted; ``availableNow``'s trailing no-data batch
    performs the final eviction). Result-identical to the batch
    :func:`..ops.sessions.sessionize` (same oracle SQL): w.start = the
    session's first event, w.end = last event + gap, so the batch op's
    ``session_end_us`` is ``w.end - gap``. Session numbering (1..n per
    user) is post-query result shaping on the emitted rows.

    ``state_partitions`` bounds the session-window state-store
    partition count (binds from the session conf at query start; each
    partition costs a store instance + delta commit per micro-batch —
    same rationale as :func:`..streaming.assemble.run_assembly`)."""
    if gap_minutes is None:
        from ..ops.sessions import SESSION_GAP_MINUTES

        gap_minutes = SESSION_GAP_MINUTES
    from pyspark.sql import Window

    gap_us = gap_minutes * 60 * 1_000_000
    d = stage_sessionize_dir(sf_dir, gap_minutes)
    name = "events_sessions_" + uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    with session_confs(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # materialize off the memory sink, then drop the temp view: the
    # sink accumulates emitted rows in driver memory for as long as the
    # view pins it, so repeated calls in one session would otherwise
    # leak both rows and catalog entries
    res = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    res = res.where(F.col("user_id") >= 0)
    w = Window.partitionBy("user_id").orderBy("session_start_us")
    return (
        res.select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            (F.unix_micros(F.col("w.end")) - F.lit(gap_us)).alias("session_end_us"),
            "n_events",
            "value_cents",
        )
        .withColumn("session_id", F.row_number().over(w).cast("long"))
        .select(
            "user_id", "session_id", "n_events",
            "session_start_us", "session_end_us", "value_cents",
        )
        .orderBy("user_id", "session_id")
    )


def events_hourly_rollup(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = 8
) -> DataFrame:
    """Per-(hour, event_type) rollup computed BY A STREAMING QUERY:
    ``readStream`` over the staged events dir, 1-hour event-time
    windows with a 1-hour watermark (the late-data bound a production
    append-mode sink would use), ``availableNow`` trigger draining the
    backlog exactly once into a memory sink.

    Complete output mode so every window is emitted for the bounded
    fixture — append mode would hold back windows newer than
    max(ts) - watermark, which is correct for an unbounded stream but
    unverifiable against a batch oracle.

    ``state_partitions`` bounds the windowed-agg state-store partition
    count (each partition costs a store instance + delta commit per
    micro-batch; the group count here is hours × event_types, far
    below the session's batch shuffle width — same rationale as
    :func:`events_sessionize_stream`)."""
    d = stage_events_dir(sf_dir)
    name = "events_rollup_" + uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(d)
        # watermarks require TIMESTAMP (LTZ); session TZ is UTC so the
        # cast preserves the stored NTZ micros
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), S.SCORE_DECIMALS).alias("sum_value"),
        )
    )
    with session_confs(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # materialize + drop the sink view (same driver-memory-leak
    # rationale as events_sessionize_stream)
    res = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return (
        res.select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_us", "event_type")
    )
