"""Stateful conversation assembly over a transcript TURN stream —
the custom stateful operator surface (``applyInPandasWithState``) the
built-in aggregates can't express.

A conversation's turns arrive interleaved with other conversations'
turns across micro-batches. The operator buffers each conversation's
turns in keyed state and emits ONE summary row when the conversation
*closes* (no new turn before the event-time watermark passes
``last_turn_ts + gap``): turn count plus the ORDER-SENSITIVE role
sequence (one initial per turn, in ``turn_idx`` order) — an ordered
concatenation, not a commutative aggregate, which is exactly what
needs explicit keyed state + event-time timeout rather than a
groupBy().agg().

Exactly-once shape: state lives in the checkpointed state store; a
conversation is emitted exactly once, on timeout; a crash replays the
micro-batch against the same state version. On a bounded replay the
watermark cannot pass the final conversations' close, so the staged
stream carries one far-future sentinel turn (conv_id="\\x00sentinel",
filtered from output) — same punctuation-row technique as
:func:`..streaming.events.stage_sessionize_dir`.

Scale: state is partitioned by conv_id across executors (state-store
shuffle); per-conversation state is bounded by that conversation's own
turn count; Arrow-batched pandas transfer, no per-row Python.

Cost model (measured at sf0.1 = 200k turns / 28k conversations,
local[32]): the floor is the PER-GROUP protocol of
``applyInPandasWithState`` — pyspark's serializer does an
arrow→pandas conversion, a JSON state-properties parse, and a pickle
round trip PER GROUP (~4.5 ms/group here), paid once in the data batch
(state update) and once in the timeout batch (emission). Levers that
were measured and REJECTED: bounding the state partition count to 8
(25 s vs 12 s — the Python work needs the parallelism), RocksDB state
store (~11 s vs ~9 s — the store was never the bottleneck), and an
all-JVM ``session_window + collect_list`` twin (~14-18 s — merging
list buffers through the state store costs more than the Python
protocol). Levers that WORK and are applied here: first-char
extraction pushed into JVM codegen (``substring`` before the state
op), state compacted to (array<int>, string, long) so the per-group
pickle is one string instead of an array of strings, and
``spark.sql.execution.arrow.maxRecordsPerBatch`` raised to 1M so the
serializer bin-packs many groups per Arrow batch (12 s → ~9 s).
Spark 4's ``transformWithStateInPandas`` (ValueState + event-time
timers — the natural successor API) was spiked round 5 but is blocked
in this environment: its Python state-server protocol imports
``google.protobuf``, which this sandbox does not ship
(STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE at query start). On a
deployment with protobuf it is the first thing to re-measure.

The lever that finally breaks the per-group floor (round 5):
**shard-packed state**. Group by ``xxhash64(conv_id) % shards``
instead of per conversation and hold each shard's live conversations
as ONE packed state value (parallel arrays, SHARD_STATE_SCHEMA), so a
batch pays the Python protocol per SHARD (1024 here) instead of per
conversation (28k), with eviction driven directly by
``state.getCurrentWatermarkMs()`` and the shard timer re-registered at
the min close among survivors. Per-conversation semantics are
unchanged (row-identical output, pinned by
test_conv_assembly_sharded_matches_per_conv) and emission remains
exactly-once — a conversation leaves the packed map the moment it is
emitted. Measured at sf0.1: 8.5-9.2 s per-conv → **3.0-3.5 s** at
shards=1024 (7.1 s at 256, 5.4 s at 4096 — too few shards starves 32
cores, too many re-pays the protocol).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..staging import commit_staged, staged_from
from .events import session_confs

SENTINEL_CONV = "\x00sentinel"

# default conversation-close gap; bench.py pre-stages the matching dir
ASSEMBLY_GAP_MINUTES = 60

TURN_SCHEMA = (
    "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, "
    "ts TIMESTAMP_NTZ"
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("role_seq", StringType()),
    ]
)

# NULL/empty-role placeholder inside the packed initials string: keeps
# the one-char-per-turn positional alignment with turn_idxs (a bare ""
# would shift every later char against its turn and break the argsort
# reorder) and is stripped AFTER ordering — so the emitted signature
# omits such turns, matching the batch twin's array_join-skips-nulls
# and the DuckDB string_agg oracle. \x00 cannot be a real initial (the
# tokenizer/corpus never produce it; the sentinel conv is filtered).
_NULL_ROLE_CH = "\x00"

STATE_SCHEMA = StructType(
    [
        StructField("turn_idxs", ArrayType(IntegerType())),
        # one char per turn, same order as turn_idxs: a single string
        # pickles/unpickles per group far cheaper than array<string>
        StructField("initials", StringType()),
        StructField("last_ts_us", LongType()),
    ]
)


def _assemble_fn(gap_us: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            idxs, initials, _ = state.get
            order = np.argsort(np.asarray(idxs, dtype=np.int64), kind="stable")
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [len(idxs)],
                    "role_seq": [
                        "".join(initials[i] for i in order).replace(_NULL_ROLE_CH, "")
                    ],
                }
            )
            return
        idxs: list[Any] = []
        initials = ""
        last_us = 0
        if state.exists:
            prev_idxs, prev_initials, prev_last = state.get
            idxs, initials, last_us = list(prev_idxs), prev_initials, prev_last
        for pdf in pdfs:
            idxs.extend(pdf["turn_idx"].to_numpy().tolist())
            # `ri` is the role's first char, pre-extracted in JVM
            # codegen (NULL role → "" there, so the joined signature
            # omits it — matching the batch twin's array_join-skips-
            # nulls and the DuckDB string_agg oracle)
            initials += "".join(pdf["ri"].to_numpy().tolist())
            # ts arrives tz-aware datetime64[ns]; int64 view is NANOS
            batch_max = int(pdf["ts"].astype("int64").max()) // 1000
            last_us = max(last_us, batch_max)
        close_ms = (last_us + gap_us) // 1000
        if close_ms < state.getCurrentWatermarkMs():
            # split-watermark admission (Spark ≥ 3.4): late filtering
            # uses the PREVIOUS batch's watermark, timer validation the
            # CURRENT (eviction) one — with out-of-time-order input
            # files a just-admitted conversation can already be closed
            # per the eviction watermark, and registering its timer
            # would throw "timeout cannot be earlier than watermark".
            # Emit it now: exactly what its timer would have done.
            order = np.argsort(np.asarray(idxs, dtype=np.int64), kind="stable")
            if state.exists:
                state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [len(idxs)],
                    "role_seq": [
                        "".join(initials[i] for i in order).replace(_NULL_ROLE_CH, "")
                    ],
                }
            )
            return
        state.update((idxs, initials, last_us))
        # close the conversation when the watermark passes last turn + gap;
        # nothing is emitted on update (yield nothing — cheaper than an
        # empty frame per group per batch). close_ms ≥ watermark holds for
        # in-time-order input (rows late-filtered against the same
        # watermark) and the out-of-order case is handled above.
        # (Do NOT clamp to wm+1 "to be safe" — on a bounded replay the
        # watermark may never advance again and a wm+1 timeout would
        # strand the conversation in state forever.)
        state.setTimeoutTimestamp(close_ms)

    return fn


# sharded state: one group per hash(conv_id)%shards, holding a MAP of
# that shard's live conversations as parallel arrays — one Python
# protocol round trip per SHARD per batch instead of per conversation
SHARD_STATE_SCHEMA = StructType(
    [
        StructField("conv_ids", ArrayType(StringType())),
        StructField("turn_idxs", ArrayType(ArrayType(IntegerType()))),
        StructField("initials", ArrayType(StringType())),
        StructField("last_ts_us", ArrayType(LongType())),
    ]
)


def _assemble_sharded_fn(gap_us: int):
    """Shard-packed twin of :func:`_assemble_fn` (same per-conversation
    semantics, emissions keyed off the event-time watermark directly):
    a conversation is emitted exactly once, in whichever shard
    invocation (data or timer) first observes ``watermark ≥ close``;
    the shard re-registers its timer at the min close among survivors,
    which is strictly > watermark after eviction, so the timer is
    always legal and no conversation can strand in state."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        wm_ms = state.getCurrentWatermarkMs()
        conv_ids: list[str] = []
        idxs: list[list[int]] = []
        initials: list[str] = []
        last_us: list[int] = []
        if state.exists:
            pc, pi, pn, pl = state.get
            conv_ids = list(pc)
            idxs = [list(x) for x in pi]
            initials = list(pn)
            last_us = list(pl)
        index = {c: i for i, c in enumerate(conv_ids)}
        if not state.hasTimedOut:
            for pdf in pdfs:
                # one vectorized pandas pass per shard-batch; per-conv
                # work is plain list appends on the shard's map
                tidx = pdf["turn_idx"].to_numpy()
                ri = pdf["ri"].to_numpy()
                ts_us = pdf["ts"].astype("int64").to_numpy() // 1000  # ns→µs
                for conv, sub in pdf.groupby("conv_id", sort=False).indices.items():
                    i = index.get(conv)
                    if i is None:
                        i = len(conv_ids)
                        index[conv] = i
                        conv_ids.append(conv)
                        idxs.append([])
                        initials.append("")
                        last_us.append(0)
                    idxs[i].extend(tidx[sub].tolist())
                    initials[i] += "".join(ri[sub].tolist())
                    last_us[i] = max(last_us[i], int(ts_us[sub].max()))
        out_c: list[str] = []
        out_n: list[int] = []
        out_sig: list[str] = []
        keep: list[int] = []
        for i, c in enumerate(conv_ids):
            # ms-floored STRICT comparison = exactly when Spark would
            # fire this conversation's event-time timer (timeout_ms <
            # wm_ms) — so the sharded layout emits in the same batch the
            # per-conversation layout would, and a boundary turn at
            # ts == close merges identically in both
            if (last_us[i] + gap_us) // 1000 < wm_ms:  # closed: emit once
                order = np.argsort(np.asarray(idxs[i], dtype=np.int64), kind="stable")
                out_c.append(c)
                out_n.append(len(idxs[i]))
                out_sig.append(
                    "".join(initials[i][j] for j in order).replace(_NULL_ROLE_CH, "")
                )
            else:
                keep.append(i)
        if keep:
            state.update(
                (
                    [conv_ids[i] for i in keep],
                    [idxs[i] for i in keep],
                    [initials[i] for i in keep],
                    [last_us[i] for i in keep],
                )
            )
            # min close among survivors is ≥ wm in ms (strict eviction
            # above), and Spark rejects only timestamps strictly EARLIER
            # than the watermark — so this is always legal; it fires as
            # soon as the watermark passes the earliest surviving close
            state.setTimeoutTimestamp(
                (min(last_us[i] for i in keep) + gap_us) // 1000
            )
        elif state.exists:
            state.remove()
        if out_c:
            yield pd.DataFrame(
                {"conv_id": out_c, "n_turns": out_n, "role_seq": out_sig}
            )

    return fn


def stage_turn_stream_dir(
    transcripts_path: str, gap_minutes: int, root: str = "/root/repo/data/stream_turns"
) -> str:
    """Transcripts parquet + one sentinel turn staged as a file-stream
    dir (idempotent; restaged whenever the source file's size/mtime
    change — see :mod:`..staging`); the sentinel advances the final
    watermark past every real conversation's close."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    name = os.path.splitext(os.path.basename(transcripts_path))[0]
    parent = os.path.basename(os.path.dirname(transcripts_path))
    d = os.path.join(root, f"{parent}-{name}-gap{gap_minutes}")
    marker = os.path.join(d, "part-00000.parquet")
    sentinel = os.path.join(d, "part-00001.parquet")
    if not staged_from(d, transcripts_path, extra={"gap_minutes": gap_minutes}):
        shutil.copyfile(transcripts_path, marker + ".tmp")
        os.rename(marker + ".tmp", marker)
        tab = pq.read_table(transcripts_path, columns=["ts"])
        max_us = pc.max(tab.column("ts")).cast(pa.int64()).as_py()
        flush_us = max_us + (gap_minutes + 60) * 60 * 1_000_000
        row = pa.table(
            {
                "conv_id": pa.array([SENTINEL_CONV], pa.string()),
                "turn_idx": pa.array([0], pa.int32()),
                "role": pa.array(["system"], pa.string()),
                "text": pa.array([""], pa.string()),
                "tool": pa.array([""], pa.string()),
                "ts": pa.array([flush_us], pa.timestamp("us")),
            }
        )
        pq.write_table(row, sentinel + ".tmp")
        os.rename(sentinel + ".tmp", sentinel)
        # the file source orders micro-batches by mtime; back-to-back
        # writes can tie at ms granularity and let the sentinel batch
        # run before the data under maxFilesPerTrigger, late-dropping
        # every real turn. Pin the sentinel strictly after the marker.
        m = os.stat(marker)
        os.utime(sentinel, (m.st_atime + 2, m.st_mtime + 2))
        commit_staged(d)
    return d


def assemble_conversations_stream(
    spark: SparkSession,
    transcripts_path: str,
    gap_minutes: int = ASSEMBLY_GAP_MINUTES,
    shards: int | str = "auto",
) -> DataFrame:
    """Run the stateful assembly over the staged turn stream and return
    the emitted conversation summaries (sentinel filtered), ordered.
    Default ``shards="auto"`` = 32× the session's shuffle-partition
    count (the measured-fast shard-packed state layout — module
    docstring); ``None`` selects per-conversation grouping."""
    d = stage_turn_stream_dir(transcripts_path, gap_minutes)
    if shards == "auto":
        shards = 32 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    return run_assembly(spark, d, gap_minutes=gap_minutes, shards=shards)


def run_assembly(
    spark: SparkSession,
    stream_dir: str,
    *,
    gap_minutes: int = 60,
    max_files_per_trigger: int | None = None,
    state_partitions: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """The assembly query over an already-staged turn-stream dir.
    ``max_files_per_trigger`` splits the bounded replay into multiple
    micro-batches (tests use it to exercise cross-batch state merge).

    ``shards``: group the stateful operator by ``xxhash64(conv_id) %
    shards`` instead of per conversation, packing each shard's live
    conversations into ONE state value (:data:`SHARD_STATE_SCHEMA`).
    This amortizes the per-group Python protocol (the measured floor,
    see module docstring) across ~n_convs/shards conversations per
    round trip. Sizing: want shards ≫ total cores for wave balance and
    n_live_convs/shards small enough that a shard's packed state fits
    comfortably in an Arrow batch — 32× the state partition count is a
    good default at any scale (at 10^12 turns raise state partitions
    with the cluster and shards follows). Per-conversation grouping
    (``shards=None``) remains the default and the most natural
    expression; sharding is the measured-fast path for drains whose
    group count, not data volume, is the bottleneck.

    ``state_partitions`` overrides the stateful operator's state-store
    partition count (a per-query deploy-time choice, immutable per
    checkpoint). Default ``None`` keeps the session's shuffle
    partitions: measured at sf0.1/local[32], bounding it to 8 REGRESSED
    the drain 12 s → 25 s because the per-group Python protocol (the
    real floor — see module docstring) needs the parallelism. Only
    bound it when micro-batches are small enough that per-partition
    store fixed costs dominate (e.g. low-rate production trickle)."""
    gap_us = gap_minutes * 60 * 1_000_000
    name = "conv_assemble_" + uuid.uuid4().hex[:8]
    reader = spark.readStream.schema(TURN_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "0 seconds")
        # prune BEFORE the stateful operator: Catalyst can't push column
        # pruning through a Python state fn, and `text` (the dominant
        # bytes per turn) would otherwise ride the state-store shuffle +
        # Arrow transfer only to be dropped inside _assemble_fn. The
        # role's first char is likewise extracted here, in JVM codegen,
        # so the per-group pandas work is a plain join. NULL/empty role
        # → the one-char placeholder _NULL_ROLE_CH (NOT "" — zero chars
        # would shift the packed initials string against turn_idxs);
        # stripped after ordering, so the signature omits such turns
        # exactly like the batch twin's array_join-skips-nulls
        .select(
            "conv_id",
            "turn_idx",
            F.coalesce(
                F.nullif(F.substring("role", 1, 1), F.lit("")),
                F.lit(_NULL_ROLE_CH),
            ).alias("ri"),
            "ts",
        )
    )
    if shards is not None:
        stream = (
            stream.withColumn(
                "shard", F.pmod(F.xxhash64("conv_id"), F.lit(shards)).cast("int")
            )
            .groupBy("shard")
            .applyInPandasWithState(
                _assemble_sharded_fn(gap_us),
                OUTPUT_SCHEMA,
                SHARD_STATE_SCHEMA,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            )
        )
    else:
        stream = stream.groupBy("conv_id").applyInPandasWithState(
            _assemble_fn(gap_us),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    # both confs bind at query START, so they are set just around it:
    # - shuffle partitions → state partition count (checkpoint-pinned)
    # - arrow batch size: the WithState serializer bin-packs groups
    #   into shared Arrow batches up to this row count; the default
    #   10k re-pays batch overhead every ~1.4k conversations (measured
    #   12 s → ~9 s at sf0.1 when raised)
    arrow_batch = {"spark.sql.execution.arrow.maxRecordsPerBatch": 1_048_576}
    with session_confs(spark, {"spark.sql.shuffle.partitions": state_partitions, **arrow_batch}):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # materialize off the memory sink, then drop the temp view: the
    # sink holds emitted rows in driver memory for as long as the view
    # pins it, so repeated calls in one session would otherwise leak
    # both rows and catalog entries
    res = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return res.where(F.col("conv_id") != SENTINEL_CONV).orderBy("conv_id")
