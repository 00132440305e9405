"""Structured-Streaming ingest: CDC upsert/delete stream → LSM index.

Reference behavior being rebuilt (SURVEY §2.1 S9-S11, §2.10):

- NATS / Kafka subscribers consume JSON messages
  ``{doc_id, doc, delete}`` (reference ``pkg/model/model.go:3-7``) and
  apply them to the live index as upsert (= delete + re-add, reference
  ``internal/index/index.go:112-133``) or delete, in arrival order,
  last-write-wins (``internal/subscriber/subscriber.go:78-95``).
- Bleve absorbs those writes into in-memory scorch segments that are
  merged down to disk later — an LSM tree over posting lists.

Spark-native equivalent (merge-on-read, Iceberg-style):

- the stream is ``spark.readStream`` (file source in tests — the same
  deterministic JSON lines a Kafka topic would carry; swap
  ``.format("kafka")`` in prod) with a **checkpoint dir**, so each
  micro-batch is processed exactly once and ingest is resumable;
- ``foreachBatch`` appends an immutable **delta**: the batch's upsert
  rows (doc payload), a tombstone set (every touched doc_id — upsert
  tombstones the previous version), and a mini posting index of the
  new rows built with the SAME segment encoder as the base build;
- ``current_docs()`` is a merge-on-read view (base ∖ tombstones ∪
  latest upserts) — no per-batch rewrite of the corpus, which is what
  makes this viable at 10^12 turns (prod: Iceberg ``MERGE INTO`` with
  positional deletes);
- ``search()`` evaluates BM25 over base + delta postings with
  tombstoned docs excluded. Corpus statistics follow **Lucene/Bleve
  live semantics**: N and df still count tombstoned-but-unmerged docs
  (Lucene's ``maxDoc``/``docFreq`` do the same until segments merge),
  so scores drift slightly between compactions and snap to exact on
  ``compact()``. Like Bleve's in-memory segments with their deleted-doc
  bitmaps, the live index is held as pinned Arrow segments: the base
  snapshot's term dictionary, postings and doc values, each small
  delta's doc_ids, postings and tombstones, and one sorted array of
  the doc_ints of dead versions, updated at each publish. A query
  whose posting volume is bounded (known from the term dictionary and
  ``meta.json``, no job) is scored on them in driver numpy with the
  dead versions masked before ranking — no Spark job; heavier queries
  and larger deltas keep the ``mapInPandas`` + join plan;
- ``compact()`` folds the deltas into a new ``docs/base`` and base
  snapshot and clears them — the analogue of a scorch segment merge,
  after which results are rank-identical to the direct path (tested).
  A small store is merged on the driver from its pinned segments, as
  Bleve merges its segments in-process: the base and delta postings
  are decoded, the dead versions dropped and the live ones renumbered
  and re-encoded, with no document analysed again and no Spark job; a
  larger one keeps the distributed fold and the batch build job
  (two-phase merge of the north rule).

Every artifact this module wrote itself is re-read with its declared
schema (``DELTA_SCHEMAS``; the corpus with the schema of the frame last
written), so no read starts a parquet footer-inference job. A small
micro-batch is applied with one Spark job that collects it; the driver
writes the delta. One CDC cycle on the offline benchmark (4 vCPUs,
500-message batches over a ~10k-doc corpus) runs 1 Spark job:
``apply_batch`` 1, live search 0 and ``compact()`` 0 (2 while
``compact()`` collected every stored version to analyse it again: 1
job).

Versions are ordered by arrival, the reference's last-write-wins
order: each delta's doc_ints start at the high watermark of every
delta published before it, so its ``doc_int_start`` in ``meta.json``
(not its epoch id, which a source may re-deliver or number out of
order) places it after them.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import weakref
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

from .. import semantics as S
from ..functions.text import doc_id_arrow, doc_id_col, tokens_no_stop
from ..index.build import (
    ARTIFACT_PARQUET,
    DEFAULT_BUCKETS,
    SEGMENT_SCHEMA,
    _encode_postings,
    _make_segment_encoder,
    bucket_col,
    build_index,
    partition_offsets,
    read_artifact,
    stage_index_driver,
    term_ranks,
    with_doc_int,
    write_artifact,
)
from ..index.catalog import IndexCatalog, Snapshot
from ..index.codec import SEG_SPAN, blob_buffers, decode_postings_batch
from ..index.engine import (
    _SCORED,
    SERVING_DRIVER_MAX,
    IndexHandle,
    _driver_postings,
    _idf,
    _in_sorted,
    _make_scorer,
    _result_df,
    _rows_of,
    _score_rows,
    term_meta,
)

# message count up to which apply_batch collects a micro-batch and builds
# its delta on the driver (one Spark job); a larger batch drops that
# probe and runs the distributed build, numbering docs with the batch
# build's two-phase committed-parquet scan, so its per-doc state never
# crosses the driver or funnels through one task. It also bounds the
# stored versions (base docs + pending delta upserts) compact() merges
# on the driver; a larger store keeps the distributed fold and build
LARGE_BATCH_DOCS = 65536

# source helpers tag the DataFrames they return so ingest_stream can
# bind the index root to a *specific* source (kafka topic / socket
# endpoint), not just "stream" — a kafka→socket swap must trip the
# checkpoint-compat guard in _claim_source
_SOURCE_TAGS: "weakref.WeakKeyDictionary[DataFrame, str]" = weakref.WeakKeyDictionary()

DOC_FIELDS = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"

# what apply_batch writes into each delta part: a read that declares its
# schema starts no parquet footer-inference job (deltas written with an
# INT doc_int read back widened to BIGINT)
DELTA_SCHEMAS = {
    "upserts": "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, "
    "ts TIMESTAMP_NTZ",
    "docmap": "doc_int BIGINT, doc_id STRING, conv_id STRING, turn_idx INT, role STRING, "
    "tool STRING, ts TIMESTAMP_NTZ, dl INT",
    "postings": SEGMENT_SCHEMA,
    "tombstones": "doc_id STRING",
}


@dataclass(frozen=True)
class _Delta:
    """One published delta as live search holds it: its parsed
    ``meta.json`` and, for a delta of at most ``LARGE_BATCH_DOCS`` docs,
    its pinned parts — the docmap's ``doc_id`` column in doc_int order,
    the (term, n, postings) rows and the tombstoned doc_ids. The upserts,
    which carry the text, are never pinned."""

    meta: dict
    doc_id: pa.Array | None = None
    postings: pa.Table | None = None
    tombstones: pa.Array | None = None

    @property
    def arrival(self) -> tuple[int, int]:
        """Sort key of arrival order: a delete-only delta (no doc_ints)
        shares its start with the next delta and comes before it."""
        return self.meta["doc_int_start"], self.meta["doc_int_end"]


@dataclass(frozen=True)
class _LiveState:
    """Everything one live search reads, read once: the base snapshot's
    handle, the pending deltas by id, and the sorted doc_ints of every
    dead version — None when a delta or the base doc values are too
    large to pin. Never mutated: a publish or a compaction installs a
    new one under the write lock, so a search never reads a delta file
    that a compaction may delete."""

    base: IndexHandle
    deltas: dict[int, _Delta]
    dead: np.ndarray | None

    @classmethod
    def fold(cls, base: IndexHandle, deltas: dict[int, _Delta]) -> "_LiveState":
        """The state of ``base`` with ``deltas`` published in arrival order."""
        dead = np.zeros(0, dtype=np.int64) if base.doc_values() is not None else None
        live = cls(base, {}, dead)
        for did, delta in sorted(deltas.items(), key=lambda d: d[1].arrival):
            live = live.add(did, delta)
        return live

    def segments(self) -> list[tuple[int, pa.Array]]:
        """(doc_int start, doc_id column in doc_int order) of the base and
        of each delta holding docs, in arrival order, which is ascending
        doc_int order."""
        deltas = sorted(self.deltas.values(), key=lambda d: d.arrival)
        return [(0, self.base.doc_values().column("doc_id"))] + [
            (d.meta["doc_int_start"], d.doc_id) for d in deltas if d.meta["n_docs"]
        ]

    def add(self, did: int, delta: _Delta) -> "_LiveState":
        """This state with ``delta`` published as delta ``did``, the
        newest by arrival. Its tombstones kill every older version of
        their doc_ids: in each older segment, the rows whose doc_id is
        tombstoned. A re-delivered id replaces its old delta, whose
        kills are undone by folding the other deltas again."""
        if did in self.deltas:
            rest = {d: x for d, x in self.deltas.items() if d != did}
            return _LiveState.fold(self.base, rest).add(did, delta)
        dead = None
        if self.dead is not None and delta.doc_id is not None:
            kills = [
                start + np.flatnonzero(
                    pc.is_in(ids, value_set=delta.tombstones).to_numpy(zero_copy_only=False)
                )
                for start, ids in self.segments()
            ]
            dead = np.union1d(self.dead, np.concatenate(kills))
        return _LiveState(self.base, {**self.deltas, did: delta}, dead)

    def names(self, doc_ints: np.ndarray) -> list[str]:
        """The doc_ids of live versions ``doc_ints``, from the pinned
        doc_id columns (each segment is numbered densely from its start)."""
        segs = self.segments()
        starts = np.array([start for start, _ in segs])
        at = np.searchsorted(starts, doc_ints, side="right") - 1
        out = np.empty(len(doc_ints), dtype=object)
        for i in np.unique(at):
            m = at == i
            out[m] = segs[i][1].take(doc_ints[m] - starts[i]).to_pylist()
        return out.tolist()


def _arrow_schema(schema: str | StructType) -> pa.Schema:
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return to_arrow_schema(schema)


def _union(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def message_schema() -> str:
    """Stream message DDL — mirrors reference ``pkg/model/model.go:3-7``
    plus ``seq`` (the stream position; a Kafka offset in prod) which
    pins last-write-wins order *within* a micro-batch."""
    return f"seq LONG, doc_id STRING, delete BOOLEAN, doc STRUCT<{DOC_FIELDS}>"


def parse_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka-shaped frames → typed messages: a binary ``value`` column
    of JSON bytes becomes the ``message_schema()`` columns. This is the
    transform between ``spark.readStream.format("kafka")`` and
    :meth:`StreamingIndex.apply_batch`; the file source used in tests
    skips it only because the JSON reader applies the schema directly.
    Kafka partition offsets should be projected into ``seq`` upstream
    when the producer does not set it (reference delivery semantics:
    at-least-once, arrival order — ``internal/subscriber/subscriber.go``).
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), message_schema()).alias("m")
    )
    return parsed.select("m.seq", "m.doc_id", "m.delete", "m.doc")


def kafka_source(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """Production stream source (S10): requires the spark-sql-kafka
    package on the classpath (not present in this sandbox — the file
    source in :meth:`StreamingIndex.ingest_files` is the tested
    stand-in carrying identical messages)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
    )
    out = parse_messages(raw.withColumn("value", F.col("value")))
    _SOURCE_TAGS[out] = f"kafka:{brokers}/{topic}"
    return out


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Live TCP push source: newline-delimited JSON messages over a
    socket → the same typed ``message_schema()`` frame as
    :func:`kafka_source`. This is the NATS core-subject shape
    (reference ``internal/subscriber/subscriber.go:38-76``: text
    messages pushed over a connection, applied in arrival order) and —
    unlike the Kafka/NATS connectors — runs against an embedded TCP
    server with zero extra jars, so the live-broker path IS
    integration-tested in-sandbox (tests/test_streaming.py). Spark's
    socket source is single-receiver/no-replay by design; production
    deployments keep Kafka (S10) or a NATS bridge for redelivery."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    out = parse_messages(raw, value_col="value")
    _SOURCE_TAGS[out] = f"socket:{host}:{port}"
    return out


class StreamingIndex:
    """One streamed logical index: base snapshot + ordered delta log.

    Layout under ``root/``::

        index/            IndexCatalog (base snapshots, atomic CURRENT)
        docs/base/        materialized corpus at last compaction
        deltas/delta-<n>/ upserts.parquet, docmap.parquet,
                          postings.parquet, meta.json  (immutable)
        checkpoint/       Structured Streaming checkpoint (exactly-once)
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.catalog = IndexCatalog(os.path.join(root, "index"))
        self.docs_base = os.path.join(root, "docs", "base")
        self.delta_root = os.path.join(root, "deltas")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.delta_root, exist_ok=True)
        # serializes delta publication vs compaction: a continuous
        # (drain=False) query's apply_batch and compact() race on the
        # base snapshot + delta log; the lock makes each micro-batch
        # land entirely before or entirely after a base swap
        self._write_lock = threading.RLock()
        # what live search reads (:class:`_LiveState`), replaced whole
        # under the write lock; None until first needed (:meth:`_live_state`)
        self._live: _LiveState | None = None
        # each published delta's frames by delta id (:meth:`_delta_frame`)
        # — dropped when an epoch republishes or compact() folds
        self._delta_pins: dict[int, dict[str, DataFrame]] = {}
        # schema of the frame last written to docs/base (None until this
        # object writes or first reads it — see :meth:`_docs_frame`)
        self._docs_schema = None

    # ------------------------------------------------------------------
    # bootstrap / delta log
    # ------------------------------------------------------------------

    def bootstrap(self, transcripts: DataFrame) -> None:
        """Initial load: materialize the corpus + build the base index."""
        transcripts.write.mode("overwrite").parquet(self.docs_base)
        self._docs_schema = transcripts.schema
        build_index(self.spark, self._docs_frame(), self.catalog)
        self._live = None

    def delta_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.delta_root):
            if name.startswith("delta-"):
                out.append(int(name[6:]))
        return sorted(out)

    def _delta_frame(self, did: int, part: str) -> DataFrame:
        """One artifact (``upserts`` / ``docmap`` / ``postings`` /
        ``tombstones``) of published delta ``did``, read once and pinned:
        a published delta is immutable until its epoch republishes
        (:meth:`apply_batch` drops the pin) or :meth:`compact` folds it.
        The delta's pin dict is fetched BEFORE the read, so a read racing
        a republish can only land in the dict that republish drops."""
        pins = self._delta_pins.setdefault(did, {})
        df = pins.get(part)
        if df is None:
            df = self.spark.read.schema(DELTA_SCHEMAS[part]).parquet(
                os.path.join(self.delta_root, f"delta-{did}", part)
            )
            pins[part] = df
        return df

    def _docs_frame(self) -> DataFrame:
        """The materialized corpus under ``docs/base``, read with the
        schema of the frame this object last wrote there (no footer
        inference job); only the first read of an existing root infers."""
        if self._docs_schema is None:
            df = self.spark.read.parquet(self.docs_base)
            self._docs_schema = df.schema
            return df
        return self.spark.read.schema(self._docs_schema).parquet(self.docs_base)

    def _delta_meta(self, did: int) -> dict:
        with open(os.path.join(self.delta_root, f"delta-{did}", "meta.json")) as f:
            return json.load(f)

    def _next_doc_int(self) -> int:
        """High watermark for delta doc_int assignment."""
        base = self.catalog.current()
        hi = base.stats["n_docs"]
        for did in self.delta_ids():
            hi = max(hi, self._delta_meta(did)["doc_int_end"])
        return hi

    # ------------------------------------------------------------------
    # ingest
    # ------------------------------------------------------------------

    def _claim_source(self, tag: str) -> None:
        """One index = ONE logical input stream (the reference runs one
        subscriber per index). The checkpoint's offset log is bound to
        its source; resuming it with a different source type fails deep
        inside Spark (or, worse, a fresh checkpoint would restart epoch
        ids at 0 and overwrite published deltas) — so the first attach
        claims the root with a marker and later mismatches raise a
        clear contract error instead."""
        marker = os.path.join(self.root, "SOURCE")
        if os.path.exists(marker):
            with open(marker) as f:
                prev = f.read().strip()
            if prev != tag:
                raise ValueError(
                    f"StreamingIndex at {self.root} is bound to source "
                    f"'{prev}'; attaching '{tag}' would resume an "
                    "incompatible Structured Streaming checkpoint. One "
                    "index = one logical input stream — use a separate "
                    "StreamingIndex root per source."
                )
        else:
            # atomic publish: a crash mid-write must not leave a
            # partial marker that locks the root out of ingestion
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                f.write(tag)
            os.replace(tmp, marker)

    @staticmethod
    def _derive_source_tag(messages: DataFrame) -> str:
        """Distinct tag per source type/endpoint, so swapping e.g. a
        kafka topic for a socket feed trips :meth:`_claim_source` (the
        two sources' checkpoints are not interchangeable). Helpers in
        this module tag the frames they return; otherwise the analyzed
        plan is sniffed for the source class as a fallback."""
        tag = _SOURCE_TAGS.get(messages)
        if tag:
            return tag
        try:
            plan = messages._jdf.queryExecution().analyzed().toString().lower()
        except Exception:
            return "stream"
        import re

        m = re.search(r"filesource\[([^\]]+)\]", plan)
        if m:
            return f"files:{os.path.abspath(m.group(1))}"
        for key in ("kafka", "socket", "rate"):
            if key in plan:
                return key
        return "stream"

    def ingest_stream(
        self, messages: DataFrame, *, drain: bool = True, source_tag: str | None = None
    ):
        """Attach the delta-publishing sink to a typed message stream —
        the one production entry point (S9-S11):

            six.ingest_stream(kafka_source(spark, brokers, topic))
            six.ingest_stream(socket_source(spark, host, port), drain=False)
            six.ingest_stream(parse_messages(raw_binary_frames))

        ``messages`` must be a *streaming* DataFrame in the
        ``message_schema()`` shape. With ``drain=True`` the query runs
        ``availableNow`` (process everything available exactly once
        against the checkpoint, then stop — replayable sources only:
        files/Kafka); ``drain=False`` starts a continuous micro-batch
        query and returns it running (live push sources like sockets).
        Either way each micro-batch lands as one immutable delta via
        :meth:`apply_batch`, and a crash resumes from the checkpoint
        without reapplying published epochs. An index is bound to ONE
        source for its lifetime — the tag is derived per source
        type/endpoint (kafka topic, socket host:port, file dir) unless
        ``source_tag`` overrides it; see :meth:`_claim_source`."""
        self._claim_source(source_tag or self._derive_source_tag(messages))
        writer = (
            messages.writeStream
            .foreachBatch(lambda df, eid: self.apply_batch(df, eid))
            .option("checkpointLocation", self.checkpoint)
        )
        if drain:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = writer.start()
        return q

    def ingest_files(self, source_dir: str, max_files_per_trigger: int | None = None):
        """Drain all available stream input exactly once and return.

        ``availableNow`` processes everything present, in micro-batches,
        against the checkpoint — calling again with no new files is a
        no-op; a crash mid-stream resumes without reapplying batches.
        """
        reader = (
            self.spark.readStream.schema(message_schema())
            .option("maxFilesPerTrigger", max_files_per_trigger or 1)
            .json(source_dir)
        )
        return self.ingest_stream(reader, source_tag=f"files:{os.path.abspath(source_dir)}")

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """One micro-batch → one immutable delta dir (idempotent by name:
        a re-delivered epoch overwrites the same delta).

        The delta holds the batch's last write per doc_id: its
        ``tombstones`` (every touched doc_id — an upsert tombstones the
        previous version, consumed later by :meth:`current_docs` and
        :meth:`search`), its ``upserts``, their
        ``docmap`` numbered densely in doc_id order from the
        :meth:`_next_doc_int` watermark, and a mini posting index built
        with the base build's segment encoder; ``meta.json`` carries
        only counts. Every part is written as
        :data:`..index.build.ARTIFACT_PARQUET` (zstd, v2 pages).

        Two placements, split on the message count by
        ``LARGE_BATCH_DOCS``. One Spark job collects at most
        ``LARGE_BATCH_DOCS + 1`` messages as Arrow, tokens and buckets
        computed in the JVM; when they all fit, the driver applies
        last-write-wins, numbers, encodes and writes the four parts
        (:meth:`_apply_driver`) — one job per small batch. A larger batch
        drops that probe and runs the distributed build
        (:meth:`_apply_distributed`): its per-doc state never crosses
        the driver, and doc_int comes from the batch build's two-phase
        committed-parquet scan.
        """
        with self._write_lock:
            t0 = time.perf_counter()
            base = self.catalog.current()
            nb = base.manifest["n_buckets"]
            tokens = tokens_no_stop(F.col("doc.text"))
            probe = batch.select(
                "seq", "doc_id", F.coalesce(F.col("delete"), F.lit(False)).alias("delete"),
                "doc.conv_id", "doc.turn_idx", "doc.role", "doc.text", "doc.tool",
                # the corpus parquet is TIMESTAMP_NTZ; session TZ is UTC so
                # this cast is value-preserving for the stream's ISO strings
                F.col("doc.ts").cast("timestamp_ntz").alias("ts"),
                doc_id_col("doc.conv_id", "doc.turn_idx").alias("key"),
                tokens.alias("tokens"),
                F.transform(tokens, lambda t: bucket_col(t, nb)).alias("buckets"),
            ).limit(LARGE_BATCH_DOCS + 1).toArrow()
            if probe.num_rows > LARGE_BATCH_DOCS:
                self._apply_distributed(batch, base, epoch_id, t0)
            else:
                self._apply_driver(probe, base, epoch_id, t0)

    def _apply_driver(self, msgs: pa.Table, base: Snapshot, epoch_id: int, t0: float) -> None:
        """Driver placement of :meth:`apply_batch` over the collected
        messages, in pyarrow and numpy; writes no part of an empty batch."""
        if msgs.num_rows == 0:
            return  # empty trigger (e.g. socket batch 0): publish no delta
        # last-write-wins inside the batch (arrival order = seq): the
        # first row of each doc_id run once sorted by seq descending
        msgs = msgs.take(pc.sort_indices(msgs, [("doc_id", "ascending"), ("seq", "descending")]))
        ids = msgs["doc_id"].to_numpy(zero_copy_only=False)
        first = np.ones(len(ids), dtype=bool)
        first[1:] = ids[1:] != ids[:-1]
        last = msgs.filter(pa.array(first))
        up = last.filter(pc.invert(last["delete"]))
        up = up.take(pc.sort_indices(up["key"], null_placement="at_start"))

        start = self._next_doc_int()
        doc_int = np.arange(start, start + up.num_rows, dtype=np.int64)
        tokens = up["tokens"].combine_chunks()
        dl = pc.list_value_length(tokens)
        parts = {
            "tombstones": last,
            "upserts": up,
            "docmap": up.set_column(up.schema.get_field_index("doc_id"), "doc_id", up["key"])
            .append_column("doc_int", pa.array(doc_int)).append_column("dl", dl),
            "postings": _encode_postings(
                tokens, up["buckets"].combine_chunks(), doc_int, dl, base.stats["avgdl"]
            ),
        }
        tmp = self._fresh_tmp(epoch_id)
        for name, tbl in parts.items():
            schema = _arrow_schema(DELTA_SCHEMAS[name])
            parts[name] = tbl.select(schema.names).cast(schema)
            write_artifact(parts[name], os.path.join(tmp, name))
        self._publish(tmp, epoch_id, t0, start, n_docs=up.num_rows,
                      sum_dl=pc.sum(dl).as_py() or 0, n_tombstones=last.num_rows, parts=parts)

    def _apply_distributed(
        self, batch: DataFrame, base: Snapshot, epoch_id: int, t0: float
    ) -> None:
        """Distributed placement of :meth:`apply_batch`, for batches above
        ``LARGE_BATCH_DOCS`` messages: no per-doc state on the driver."""
        tmp = self._fresh_tmp(epoch_id)

        # last-write-wins inside the batch (arrival order = seq)
        w = Window.partitionBy("doc_id").orderBy(F.desc("seq"))
        last = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .cache()
        )
        upserts = (
            last.where(~F.coalesce(F.col("delete"), F.lit(False)))
            .select(
                "doc.conv_id", "doc.turn_idx", "doc.role", "doc.text", "doc.tool",
                F.col("doc.ts").cast("timestamp_ntz").alias("ts"),
            )
        )
        tomb_obs = Observation(f"tombstones_{epoch_id}")
        last.select("doc_id").observe(tomb_obs, F.count(F.lit(1)).alias("n")) \
            .write.options(**ARTIFACT_PARQUET).mode("overwrite").parquet(os.path.join(tmp, "tombstones"))
        n_tombstones = int(tomb_obs.get["n"])
        up_obs = Observation(f"upserts_{epoch_id}")
        upserts.observe(up_obs, F.count(F.lit(1)).alias("n")) \
            .write.options(**ARTIFACT_PARQUET).mode("overwrite").parquet(os.path.join(tmp, "upserts"))
        n_up = int(up_obs.get["n"])

        # --- mini index over the new rows (same layout as the base) ----
        up = self.spark.read.schema(DELTA_SCHEMAS["upserts"]).parquet(os.path.join(tmp, "upserts"))
        start = self._next_doc_int()
        analyzed = up.select(
            doc_id_col().alias("doc_id"), "conv_id", "turn_idx", "role", "tool", "ts",
            tokens_no_stop("text").alias("tokens"),
        ).withColumn("dl", F.size("tokens"))
        # two-phase scalable zipWithIndex (same as the batch build):
        # range-partition by doc_id, stamp (_pid, _rank), commit, then
        # doc_int = start + offset[_pid] + _rank from the committed
        # files' parquet footers — no global window
        p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        raw_dir = os.path.join(tmp, "docmap_raw")
        ranked = (
            analyzed.repartitionByRange(p, "doc_id")
            .sortWithinPartitions("doc_id")
            .withColumn("_pid", F.spark_partition_id())
            .withColumn(
                "_rank",
                F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
            )
        )
        ranked.write.mode("overwrite").parquet(raw_dir)
        offsets = partition_offsets(raw_dir, expected_rows=n_up)
        raw = self.spark.read.schema(ranked.schema).parquet(raw_dir)
        tok = with_doc_int(raw, offsets).withColumn("doc_int", F.col("doc_int") + F.lit(start))
        # N and Σdl are observed during the docmap write — no re-read
        dm_obs = Observation(f"docmap_{epoch_id}")
        tok.select("doc_int", "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "dl") \
            .observe(dm_obs, F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl")) \
            .write.options(**ARTIFACT_PARQUET).mode("overwrite").parquet(os.path.join(tmp, "docmap"))

        nb = base.manifest["n_buckets"]
        encoder = _make_segment_encoder(base.stats["avgdl"])  # skip-bound metadata only
        tf = (
            tok.select("doc_int", "dl", F.explode("tokens").alias("term"))
            .groupBy("doc_int", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("bucket", bucket_col(F.col("term"), nb))
            .withColumn("seg", (F.col("doc_int") / F.lit(SEG_SPAN)).cast("long"))
        )
        tf.groupBy("bucket", "seg").applyInPandas(encoder, SEGMENT_SCHEMA) \
            .write.options(**ARTIFACT_PARQUET).mode("overwrite").parquet(os.path.join(tmp, "postings"))

        shutil.rmtree(raw_dir, ignore_errors=True)
        last.unpersist()
        self._publish(tmp, epoch_id, t0, start, n_docs=int(dm_obs.get["n"]),
                      sum_dl=int(dm_obs.get["sdl"]), n_tombstones=n_tombstones)

    def _fresh_tmp(self, epoch_id: int) -> str:
        tmp = os.path.join(self.delta_root, f".tmp-{epoch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        return tmp

    def _publish(self, tmp: str, epoch_id: int, t0: float, start: int, *,
                 n_docs: int, sum_dl: int, n_tombstones: int,
                 parts: dict[str, pa.Table] | None = None) -> None:
        """Write ``meta.json`` into the staged delta, swap it in as
        ``delta-<epoch>`` with one atomic rename, then install the live
        state with it. ``parts`` are the delta's tables as written, when
        the driver holds them; otherwise they are read back."""
        meta = {
            "epoch": int(epoch_id),
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "doc_int_start": start,
            "doc_int_end": start + n_docs,
            "n_tombstones": n_tombstones,
            "seconds": round(time.perf_counter() - t0, 3),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        ddir = os.path.join(self.delta_root, f"delta-{epoch_id}")
        shutil.rmtree(ddir, ignore_errors=True)
        os.replace(tmp, ddir)  # atomic publish of the delta
        # a re-delivered epoch overwrote delta-<n>: its old pin is stale
        self._delta_pins.pop(int(epoch_id), None)
        live = self._live
        self._live = self._load_live() if live is None else live.add(
            int(epoch_id), self._pin_delta(int(epoch_id), meta, parts)
        )

    def _pin_delta(self, did: int, meta: dict, parts: dict[str, pa.Table] | None = None) -> _Delta:
        """Delta ``did`` as live search holds it (:class:`_Delta`): its
        parts pinned from ``parts`` or read back with
        :func:`..index.build.read_artifact` (no job), unless it holds
        more than ``LARGE_BATCH_DOCS`` docs."""
        if meta["n_docs"] > LARGE_BATCH_DOCS:
            return _Delta(meta)
        if parts is None:
            ddir = os.path.join(self.delta_root, f"delta-{did}")
            parts = {
                "docmap": read_artifact(os.path.join(ddir, "docmap"), ["doc_int", "doc_id"]),
                "postings": read_artifact(os.path.join(ddir, "postings"), ["term", "n", "postings"]),
                "tombstones": read_artifact(os.path.join(ddir, "tombstones"), ["doc_id"]),
            }
        return _Delta(
            meta,
            parts["docmap"].sort_by("doc_int")["doc_id"].combine_chunks(),
            parts["postings"].select(["term", "n", "postings"]).combine_chunks(),
            parts["tombstones"]["doc_id"].combine_chunks(),
        )

    def _load_live(self) -> _LiveState:
        """The live state of the store on disk: CURRENT's snapshot and
        every published delta. The caller holds the write lock."""
        return _LiveState.fold(
            IndexHandle(self.spark, self.catalog.current()),
            {did: self._pin_delta(did, self._delta_meta(did)) for did in self.delta_ids()},
        )

    def _live_state(self) -> _LiveState:
        """The installed live state, loaded from disk on first use."""
        live = self._live
        if live is None:
            with self._write_lock:
                if self._live is None:
                    self._live = self._load_live()
                live = self._live
        return live

    # ------------------------------------------------------------------
    # merge-on-read views
    # ------------------------------------------------------------------

    def _tombstone_frame(self, starts: dict[int, int]) -> DataFrame | None:
        """(doc_id, _tomb_v) — the ``doc_int_start`` of the LATEST delta
        by arrival that tombstoned each doc_id, read from the per-delta
        ``tombstones/`` parquet (never the driver), for the deltas
        ``starts`` (delta id → ``doc_int_start``). Deltas number their
        docs from ascending starts, so "dead" checks reduce to comparing
        a row's version (its delta's start, or its doc_int) against its
        doc's ``_tomb_v``."""
        if not starts:
            return None
        allt = _union([
            self._delta_frame(did, "tombstones").withColumn("_td", F.lit(start).cast("long"))
            for did, start in starts.items()
        ])
        return allt.groupBy("doc_id").agg(F.max("_td").alias("_tomb_v"))

    def _versions(self, starts: dict[int, int]) -> DataFrame:
        """Every stored version of every doc: the ``docs/base`` rows with
        version ``_v`` = -1 and each pending delta's upserts with its
        ``doc_int_start``."""
        return _union(
            [self._docs_frame().withColumn("_v", F.lit(-1).cast("long"))]
            + [self._delta_frame(did, "upserts").withColumn("_v", F.lit(start).cast("long"))
               for did, start in starts.items()]
        )

    def current_docs(self) -> DataFrame:
        """Live corpus view: base ∖ tombstones ∪ latest upsert per doc
        (merge-on-read; prod = Iceberg MERGE with positional deletes).
        Tombstones are applied with a left join against the delta
        tombstone parquet — scale-safe for arbitrarily large CDC
        batches (no driver lists, no ``isin`` literal trees)."""
        starts = {did: self._delta_meta(did)["doc_int_start"] for did in self.delta_ids()}
        allv = self._versions(starts)
        tomb = self._tombstone_frame(starts)
        if tomb is None:
            return allv.drop("_v")
        keep = allv.withColumn("doc_id", doc_id_col())
        # a row of version v is dead iff a delta arriving after it
        # tombstones its doc_id ⇔ v < _tomb_v (AQE broadcasts when small)
        return (
            keep.join(tomb, "doc_id", "left")
            .where(F.col("_tomb_v").isNull() | (F.col("_v") >= F.col("_tomb_v")))
            .drop("_v", "_tomb_v", "doc_id")
        )

    # ------------------------------------------------------------------
    # live search (base + deltas, Lucene-style live stats)
    # ------------------------------------------------------------------

    def search(self, terms: list[str], k: int = S.TOP_K) -> DataFrame:
        """Top-k (doc_id, score) over base + unmerged deltas.

        N/df/avgdl include tombstoned-but-unmerged docs (Lucene ``maxDoc``
        semantics — see module docstring); tombstoned docs are excluded
        from the *results*. Block-max pruning is disabled on the live
        path (delta skip bounds were built with the stale base avgdl);
        ``compact()`` restores the pruned, exact base path.

        Reads the installed :class:`_LiveState` once, and has two
        placements of one scorer, chosen with no Spark job:

        - **driver** (:meth:`_search_pinned`) when the state is pinned
          (base doc values and every pending delta) and the query's
          posting volume is bounded: base df from the pinned term
          dictionary plus each delta's ``n_docs`` per term (a term's df
          in a delta is at most its doc count) fits
          ``SERVING_DRIVER_MAX``. It scores the pinned segments and masks
          the dead versions before ranking: no Spark job, the first
          search after a compaction included (the new base's term
          dictionary, postings and doc values are read on the driver);
        - **distributed** (:meth:`_search_distributed`) otherwise: a
          ``mapInPandas`` scorer, per-doc aggregation, and joins against
          the delta docmaps and tombstones.

        The driver placement's result is a local frame: collecting it
        runs no job.
        """
        terms = list(dict.fromkeys(terms))
        live = self._live_state()
        ix, metas = live.base, [d.meta for d in live.deltas.values()]

        # merged live stats
        n_docs = ix.stats["n_docs"] + sum(m["n_docs"] for m in metas)
        sum_dl = ix.stats["sum_dl"] + sum(m["sum_dl"] for m in metas)
        avgdl = float(sum_dl) / float(max(n_docs, 1))

        base_meta = term_meta(ix, terms)
        bound = sum(df for df, _ in base_meta.values()) + len(terms) * sum(
            m["n_docs"] for m in metas
        )
        if live.dead is not None and bound <= SERVING_DRIVER_MAX:
            return self._search_pinned(live, terms, base_meta, n_docs, avgdl, k)
        return self._search_distributed(live, terms, n_docs, avgdl, k)

    def _search_pinned(
        self,
        live: _LiveState,
        terms: list[str],
        base_meta: dict[str, tuple[int, int]],
        n_docs: int,
        avgdl: float,
        k: int,
    ) -> DataFrame:
        """Driver placement of :meth:`search` over the pinned segments:
        the query terms' base postings (:func:`..index.engine._driver_postings`:
        the handle's pinned postings, or one bounded collect on an index
        too large to pin them) and each delta's pinned rows. Live df is
        the base df plus Σ ``n`` over the delta rows (maxDoc semantics),
        and the rows are scored with ``_score_rows``, the float64
        expression of the serving engine. Dead versions are masked
        before ranking, the survivors named from the pinned doc_id
        columns and cut to top-k by (score desc, doc_id asc)."""
        rows = _driver_postings(live.base, base_meta) if base_meta else []
        dfs = {t: df for t, (df, _) in base_meta.items()}
        for delta in live.deltas.values():
            for r in _rows_of(delta.postings, terms):
                rows.append(r)
                dfs[r["term"]] = dfs.get(r["term"], 0) + r["n"]
        if not rows:
            return _result_df(self.spark, [])
        idfs = {t: _idf(n_docs, df) for t, df in dfs.items()}
        uniq, sums, _ = _score_rows(rows, [idfs], avgdl)[0]
        alive = ~_in_sorted(uniq, live.dead)
        uniq, sums = uniq[alive], sums[alive]
        if len(sums) > k:
            keep = sums >= np.partition(sums, len(sums) - k)[len(sums) - k]  # ties at the cut stay
            uniq, sums = uniq[keep], sums[keep]
        top = sorted(zip(live.names(uniq), sums.tolist()), key=lambda x: (-x[1], x[0]))[:k]
        return _result_df(self.spark, [(d, S.round_score(sc)) for d, sc in top])

    def _search_distributed(
        self,
        live: _LiveState,
        terms: list[str],
        n_docs: int,
        avgdl: float,
        k: int,
    ) -> DataFrame:
        """Distributed placement of :meth:`search`, for a state that is
        not pinned or a query whose posting volume is above the driver
        gate."""
        spark, ix = self.spark, live.base
        starts = {did: d.meta["doc_int_start"] for did, d in live.deltas.items()}
        postings = _union([ix.postings()] + [self._delta_frame(did, "postings") for did in starts])
        docmap = _union(
            [ix.docmap().select("doc_int", "doc_id")]
            + [self._delta_frame(did, "docmap").select("doc_int", "doc_id") for did in starts]
        )

        hit = postings.where(F.col("term").isin(terms))
        dfs = {
            r["term"]: int(r["df"])
            for r in hit.groupBy("term").agg(F.sum("n").alias("df")).collect()
        }
        live_terms = [t for t in terms if t in dfs]
        if not live_terms:
            return _result_df(spark, [])
        idfs = {t: _idf(n_docs, dfs[t]) for t in live_terms}

        scored = (
            hit.where(F.col("term").isin(live_terms))
            .select("term", "postings")
            .mapInPandas(_make_scorer([idfs], avgdl), _SCORED)
            .groupBy("doc_int")
            .agg(F.sum("contrib").alias("score_raw"))
        )
        # exclude dead versions: doc_int belongs to base or to the delta
        # that minted it; dead iff a delta arriving later tombstoned the
        # id ⇔ doc_int < _tomb_v, the latest tombstoning delta's
        # doc_int_start (delta doc_int ranges are disjoint and ascend in
        # arrival order). The tombstone set stays distributed: a left
        # join against the delta tombstone parquet.
        hydrated = scored.join(docmap, "doc_int")
        tomb = self._tombstone_frame(starts)
        if tomb is not None:
            hydrated = (
                hydrated.join(tomb, "doc_id", "left")
                .where(F.col("_tomb_v").isNull() | (F.col("doc_int") >= F.col("_tomb_v")))
                .drop("_tomb_v")
            )
        return (
            hydrated.orderBy(F.desc("score_raw"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.round("score_raw", S.SCORE_DECIMALS).alias("score"))
        )

    # ------------------------------------------------------------------
    # compaction (scorch-style segment merge)
    # ------------------------------------------------------------------

    def compact(self) -> None:
        """Fold deltas into a new base: materialize the live corpus
        (``current_docs()``) as ``docs/base``, rebuild the index snapshot
        (atomic publish), drop the delta log. After this, ``search()``
        is rank-identical to the direct path.

        Two placements, chosen with no Spark job on a bound of the live
        corpus: the base ``n_docs`` from the manifest plus each pending
        delta's ``n_docs`` from ``meta.json`` (every live doc is one of
        those rows):

        - **driver** (:meth:`_compact_driver`) when the bound fits
          ``LARGE_BATCH_DOCS``, which pins every segment of the live
          state: a merge of the pinned segments that drops the dead
          versions, renumbers and re-encodes the live ones and writes
          ``docs/base`` and the snapshot
          (:func:`..index.build.stage_index_driver`) — no Spark job;
        - **distributed** (:meth:`_compact_distributed`) otherwise: the
          ``current_docs()`` write and the batch build job
          (:func:`..index.build.build_index`).

        Either way the new ``docs/base`` is swapped in before the new
        snapshot is published, and the deltas are dropped last: a crash
        in between leaves the old CURRENT with its deltas (live search
        unchanged) over a ``docs/base`` that already holds their effect,
        which ``current_docs()`` and a rerun fold to the same corpus.

        Safe to call while a continuous (``drain=False``) query is
        attached: the write lock serializes the whole fold against
        :meth:`apply_batch`, so a concurrent micro-batch lands entirely
        before the fold (and is compacted into the new base) or
        entirely after it (and becomes the first delta on the new
        base, numbered from the new high watermark)."""
        with self._write_lock:
            metas = {did: self._delta_meta(did) for did in self.delta_ids()}
            if not metas:
                return
            bound = self.catalog.current().stats["n_docs"] + sum(
                m["n_docs"] for m in metas.values()
            )
            if bound <= LARGE_BATCH_DOCS:
                self._compact_driver(self._live_state())
            else:
                self._compact_distributed()
            # searches from here on read the new base; one still holding
            # the old state reads only pins and the old snapshot's files
            self._live = _LiveState.fold(IndexHandle(self.spark, self.catalog.current()), {})
            for did in metas:
                shutil.rmtree(
                    os.path.join(self.delta_root, f"delta-{did}"), ignore_errors=True
                )
            self._delta_pins = {}

    def _compact_driver(self, live: _LiveState) -> None:
        """Driver placement of :meth:`compact`: a merge of the installed
        live state's segments, as scorch merges its segments, with no
        Spark job and no document analysed again. The gate pins the
        base doc values and every delta, so ``live.dead`` holds every
        dead version.

        - **postings**: the base ``bucket=<b>/`` dirs and each delta's
          ``postings`` are read with :func:`..index.build.read_artifact`
          and their blobs decoded as one column
          (:func:`..index.codec.decode_postings_batch`);
        - **docmap**: the versions not in ``live.dead`` — rows of the
          pinned base doc values and of the delta docmaps — are
          renumbered 0..n-1 in doc_id byte order, the order of a build;
        - the live versions' (term, doc, tf, dl) are re-encoded under the
          new avgdl with their doc_ints mapped, each term as its
          :func:`..index.build.term_ranks` rank
          (:func:`..index.build.stage_index_driver`);
        - **docs/base**: the rows of ``docs/base`` and the delta upserts
          whose version is live, each matched to its version by doc_id
          (:func:`..functions.text.doc_id_arrow`), in new doc_int order.

        Nothing is swapped or published until every file is written."""
        base = live.base
        assert live.dead is not None and base.snapshot.manifest["n_buckets"] == DEFAULT_BUCKETS
        deltas = sorted(live.deltas.items(), key=lambda d: d[1].arrival)
        ddirs = [os.path.join(self.delta_root, f"delta-{did}") for did, _ in deltas]
        dv = base.doc_values()
        cols = dv.column_names

        # every version's doc values; the live ones renumbered by doc_id
        versions = pa.concat_tables(
            [dv] + [read_artifact(os.path.join(d, "docmap"), cols).select(cols).cast(dv.schema)
                    for d in ddirs]
        )
        old = versions["doc_int"].to_numpy()
        versions = versions.filter(pa.array(~_in_sorted(old, live.dead)))
        versions = versions.take(pc.sort_indices(versions["doc_id"], null_placement="at_start"))
        n = versions.num_rows
        remap = np.full(int(old.max()) + 1, -1, dtype=np.int64)
        remap[versions["doc_int"].to_numpy()] = np.arange(n)
        docmap = versions.set_column(0, "doc_int", pa.array(np.arange(n)))

        # every (term, doc) of a live version, doc_int remapped
        root, parts = base.snapshot.postings_dir, []
        for b in sorted(os.listdir(root)):
            if b.startswith("bucket="):
                t = read_artifact(os.path.join(root, b), ["term", "postings"])
                parts.append(t.append_column(
                    "bucket", pa.array(np.full(t.num_rows, int(b[len("bucket="):]), np.int32))))
        rows = pa.concat_tables(parts + [
            read_artifact(os.path.join(d, "postings"), ["term", "postings", "bucket"])
            .select(["term", "postings", "bucket"]) for d in ddirs
        ]).combine_chunks()
        doc, tf, dl, row = decode_postings_batch(*blob_buffers(rows["postings"]))
        per_row = np.diff(row)
        doc = remap[doc]
        keep = doc >= 0
        term, vocab = term_ranks(rows["term"].combine_chunks())
        occ = {
            "term": np.repeat(term, per_row)[keep],
            "bucket": np.repeat(rows["bucket"].to_numpy(), per_row)[keep],
            "doc_int": doc[keep],
            "dl": dl[keep],
            "tf": tf[keep],
        }

        # the text row of each live version, in new doc_int order
        docs_schema = self._docs_schema or self._docs_frame().schema
        names, arrow = docs_schema.names, _arrow_schema(docs_schema)
        texts = [read_artifact(self.docs_base, names)] + [
            read_artifact(os.path.join(d, "upserts"), names)
            for d, (_, delta) in zip(ddirs, deltas) if delta.meta["n_docs"]
        ]
        new = []
        for (start, ids), text in zip(live.segments(), texts):
            at = pc.index_in(doc_id_arrow(text["conv_id"], text["turn_idx"]), value_set=ids)
            at = pc.fill_null(at, -1).to_numpy()
            new.append(np.where(at >= 0, remap[start + at], -1))
        new = np.concatenate(new)
        kept = np.flatnonzero(new >= 0)
        assert np.array_equal(np.sort(new[kept]), np.arange(n)), "one text row per live version"
        docs = pa.concat_tables([t.select(names).cast(arrow) for t in texts])
        docs = docs.take(pa.array(kept[np.argsort(new[kept])]))

        snap_id = self.catalog.next_id()
        manifest = stage_index_driver(docmap, occ, vocab, docs_schema, self.catalog, snap_id)
        tmp_docs = self.docs_base + ".compact"
        shutil.rmtree(tmp_docs, ignore_errors=True)
        write_artifact(docs, tmp_docs)
        self._swap_docs(tmp_docs, docs_schema)
        self.catalog.publish(snap_id, manifest)

    def _compact_distributed(self) -> None:
        """Distributed placement of :meth:`compact`, for a store above
        ``LARGE_BATCH_DOCS`` stored versions: no per-doc state on the
        driver."""
        tmp_docs = self.docs_base + ".compact"
        live = self.current_docs()
        live.write.mode("overwrite").parquet(tmp_docs)
        self._swap_docs(tmp_docs, live.schema)
        build_index(self.spark, self._docs_frame(), self.catalog)

    def _swap_docs(self, tmp_docs: str, schema: StructType) -> None:
        """Swap the corpus staged at ``tmp_docs`` in as ``docs/base``."""
        old = self.docs_base + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(self.docs_base, old)
        os.replace(tmp_docs, self.docs_base)
        shutil.rmtree(old, ignore_errors=True)
        self._docs_schema = schema
