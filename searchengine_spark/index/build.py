"""Distributed inverted-index build (the flagship job of BASELINE.json
north_rule; reference analogue: full rebuild, ``internal/index/index.go:283-382``).

Pipeline (all stages declarative DataFrame ops; the only Python on the
hot path is the Arrow ``applyInPandas`` segment encoder):

1. **docmap** — range-repartition by ``doc_id``, sort within
   partitions, tokenize (JVM regexp, above the exchange so the range
   sampler never runs it), stamp ``(_pid, _rank)`` JVM-side from
   ``monotonically_increasing_id()``'s per-partition counter, commit,
   then ``doc_int = offset[_pid] + _rank`` with offsets read from the
   committed files' parquet footers (the scalable zipWithIndex pattern —
   no global window; the offsets ride in the plan as a literal map, so
   numbering adds no job; and immune to ``repartitionByRange``'s
   sampled-boundary nondeterminism because the ranged output is
   materialized exactly once).
2. **stats** — N, Σdl, avgdl collected by ``Observation`` during the
   docmap write (no extra pass) → stats.json.
3. **tf** — explode tokens → ``groupBy(doc_int, dl, term).count()``;
   materialized to staging parquet clustered by ``pmod(xxhash64(term), B)``
   (this is the checkpointed intermediate that makes the build resumable).
4. **postings, per bucket** — ``groupBy(bucket, seg)`` where
   ``seg = doc_int >> 16`` (codec.SEG_SPAN): heavy-hitter terms split
   into many doc-aligned segment rows, which bounds per-reducer skew the
   same way key-salting does but keeps docID order — phase 2 of the
   north rule's two-phase merge is then a *metadata* concat (segments
   are disjoint, ordered runs) instead of a re-sort. Each (bucket, seg)
   group is delta-gap+varint encoded in ONE vectorized numpy pass and
   per-term blobs are byte-slices of the group stream, with block-max
   skip metadata per term.
5. **terms** — per-term df/cf from postings segment metadata (reads the
   tiny segment table, not the tf table).

Each stage commits a ledger entry (status, rows, seconds, throughput,
skew ratio, bytes written); re-running `build_index` with the same
staging snapshot skips completed stages — kill/rerun resumes, never
duplicates work.

A corpus small enough to collect (a compacted stream store, see
``streaming/ingest.py``) is built on the driver instead by
:func:`stage_index_driver`: the same numbering, segment encoder and
artifacts, written with :func:`write_artifact`, with no Spark job.

At rest, every serving artifact (``postings``, ``docmap``, ``terms``,
and each CDC delta's parts in ``streaming/ingest.py``) is zstd Parquet
with v2 data pages (:data:`ARTIFACT_PARQUET`): ints take
DELTA_BINARY_PACKED and strings DELTA_BYTE_ARRAY, so the dense sorted
``doc_int`` and the ``ts``/``doc_id`` columns shrink to a fraction of
their PLAIN size. Readers need no change — each parquet footer names
its own codec and encodings, so snapshots written before (snappy, v1
pages) read as they always did.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import semantics as S
from .catalog import IndexCatalog, Snapshot
from .codec import BLOCK, SEG_SPAN, block_metadata

DEFAULT_BUCKETS = 16

# the one writer setting of every serving artifact: zstd compression, and
# Parquet v2 data pages for the delta encodings (DELTA_BINARY_PACKED
# ints, DELTA_BYTE_ARRAY strings). A per-writer option, not a session
# conf, so a session the caller builds writes the same bytes
ARTIFACT_PARQUET = {"compression": "zstd", "parquet.writer.version": "v2"}


def write_artifact(table: pa.Table, path: str) -> None:
    """Write an Arrow table as a one-file parquet dir at ``path`` with the
    settings of :data:`ARTIFACT_PARQUET` — zstd (parquet-mr's default
    level 3) and v2 data pages — and each column in the encoding Spark's
    v2 writer gives it: DELTA_BYTE_ARRAY for the sorted or unique
    strings and blobs (``doc_id``, ``term``, ``postings``),
    DELTA_BINARY_PACKED for the ascending ints and timestamps
    (``doc_int``, ``ts``, ``first_doc``, ``last_doc``,
    ``block_last_doc``), a dictionary for the rest. The footer carries
    no Arrow schema blob, as a Spark-written footer does not. A
    driver-written part thus reads like a Spark-written one and is no
    larger."""
    delta = {"doc_id": "DELTA_BYTE_ARRAY", "term": "DELTA_BYTE_ARRAY",
             "postings": "DELTA_BYTE_ARRAY", "doc_int": "DELTA_BINARY_PACKED",
             "ts": "DELTA_BINARY_PACKED", "first_doc": "DELTA_BINARY_PACKED",
             "last_doc": "DELTA_BINARY_PACKED", "block_last_doc": "DELTA_BINARY_PACKED"}
    # encodings name leaf columns: a list's values are <name>.list.element
    leaf = {f.name: f"{f.name}.list.element" if pa.types.is_list(f.type) else f.name
            for f in table.schema}
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table,
        os.path.join(path, "part-00000.zstd.parquet"),
        compression="zstd",
        compression_level=3,
        data_page_version="2.0",
        use_dictionary=[leaf[c] for c in leaf if c not in delta],
        column_encoding={leaf[c]: delta[c] for c in leaf if c in delta} or None,
        store_schema=False,
    )


def read_artifact(path: str, columns: list[str], max_rows: int | None = None) -> pa.Table | None:
    """The parquet part files directly under ``path`` (one unpartitioned
    artifact dir, Spark- or driver-written) read into one Arrow table on
    the driver, file by file with pyarrow's file reader: no Spark job,
    and no dataset discovery, whose module the driver need not load.
    With ``max_rows``, None when the footers count more rows than that,
    before any data is read."""
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if max_rows is not None and sum(pq.read_metadata(f).num_rows for f in files) > max_rows:
        return None
    return pa.concat_tables([pq.ParquetFile(f).read(columns=columns) for f in files])


SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("seg", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("postings", T.BinaryType()),
        T.StructField("block_last_doc", T.ArrayType(T.LongType())),
        T.StructField("block_max_tfnorm", T.ArrayType(T.DoubleType())),
        T.StructField("seg_max_tfnorm", T.DoubleType()),
        T.StructField("sum_tf", T.LongType()),
    ]
)


# --------------------------------------------------------------------------
# ledger (per-stage checkpoint + lineage + metrics)
# --------------------------------------------------------------------------

class Ledger:
    """Append-only JSONL of stage commits inside the staging dir.

    Commits may arrive from concurrent driver threads (the docmap stage
    overlaps tf/postings), so appends are serialized with a lock."""

    _lock = __import__("threading").Lock()

    def __init__(self, stage_dir: str):
        self.path = os.path.join(stage_dir, "ledger.jsonl")

    def entries(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    if line.strip():
                        e = json.loads(line)
                        out[e["stage"]] = e
        return out

    def done(self, stage: str) -> bool:
        e = self.entries().get(stage)
        return bool(e and e.get("status") == "done")

    def commit(self, stage: str, **metrics) -> None:
        e = {"stage": stage, "status": "done", "ts": time.time(), **metrics}
        with Ledger._lock, open(self.path, "a") as f:
            f.write(json.dumps(e) + "\n")


# --------------------------------------------------------------------------
# stage 1: deterministic dense doc numbering (scalable zipWithIndex)
# --------------------------------------------------------------------------

def _ranked_within_partitions(
    transcripts: DataFrame, num_partitions: int | None = None, *, synonyms: bool = False
) -> DataFrame:
    """Range-partition by doc_id, sort within partitions, tokenize, and
    stamp each row with ``(_pid, _rank)`` — its partition and 0-based
    rank inside it.

    The rank counter is ``monotonically_increasing_id()``: its low 33
    bits are a dense 0-based per-partition record number, computed
    JVM-side inside the same whole-stage-codegen span as the sort
    output — no window exchange, no Python round-trip of the corpus.
    ``repartitionByRange`` samples its boundaries, so this DataFrame is
    only *computed once and written*; the dense global ``doc_int`` is
    derived afterwards from the **committed** parquet (exact
    per-partition counts → offsets), never from a second, possibly
    re-planned job.

    The tokenizer regexp runs *above* the exchange, so the boundary
    sampling pass evaluates only the cheap base projection and the
    expensive analysis happens exactly once, in the partition-parallel
    stage that also sorts and writes.
    """
    from ..functions.text import doc_id_col, expand_synonyms_col, tokens_no_stop

    p = num_partitions or int(transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = transcripts.select(
        doc_id_col().alias("doc_id"), "conv_id", "turn_idx", "role", "tool", "ts", "text"
    )
    toks = tokens_no_stop("text")
    if synonyms:  # index-time synonym installation (S7, reference reindex)
        toks = expand_synonyms_col(toks)
    return (
        base.repartitionByRange(p, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("tokens", toks)
        .withColumn("dl", F.size("tokens"))
        .drop("text")
        .withColumn("_pid", F.spark_partition_id())
        # low 33 bits of monotonically_increasing_id = dense 0-based
        # record number within the partition (Spark contract)
        .withColumn(
            "_rank", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        )
    )


def partition_offsets(raw_dir: str, expected_rows: int | None = None) -> dict[int, int]:
    """Exact cumulative offsets for the committed raw data, from parquet
    footer metadata (driver-side, no Spark job): row counts of every
    ``part-<pid>-*`` file are SUMMED per write-task pid, so a task that
    rolls multiple files (maxRecordsPerFile / size rollover) still
    yields the partition's true count. At cluster scale this is a
    listing + footer read per file — O(files), not O(rows).

    ``expected_rows`` (the Observation count recorded during the write)
    guards against a commit-protocol mismatch: any discrepancy would
    silently corrupt doc_int assignment, so it is a hard error."""
    import re

    counts: dict[int, int] = {}
    for name in os.listdir(raw_dir):
        m = re.match(r"part-(\d+)-", name)
        if m:
            pid = int(m.group(1))
            nrows = pq.ParquetFile(os.path.join(raw_dir, name)).metadata.num_rows
            counts[pid] = counts.get(pid, 0) + nrows
    total = sum(counts.values())
    if expected_rows is not None and total != expected_rows:
        raise RuntimeError(
            f"partition_offsets: footer row total {total} != observed "
            f"write count {expected_rows} in {raw_dir} — raw commit is "
            "inconsistent; refusing to assign doc_int offsets"
        )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets


def with_doc_int(raw: DataFrame, offsets: dict[int, int]) -> DataFrame:
    """doc_int = offset[_pid] + _rank — dense 0-based rank of doc_id in
    global string order (== the stable (conv_id, turn_idx) order).

    The offsets (one per write task) ride in the plan as a literal map,
    so the lookup adds no job — a broadcast join against a local frame
    of them would cost one per use."""
    off = F.create_map(*[
        c for pid, o in sorted(offsets.items())
        for c in (F.lit(int(pid)), F.lit(int(o)).cast("long"))
    ])
    return raw.withColumn(
        "doc_int", (off[F.col("_pid")] + F.col("_rank")).cast("long")
    ).drop("_pid", "_rank")


# --------------------------------------------------------------------------
# stage 5: segment encoder (Arrow-grouped, numpy-vectorized)
# --------------------------------------------------------------------------

def _make_segment_encoder(avgdl: float):
    """Encoder for one ``(bucket, seg)`` group holding ALL of that
    bucket's terms for one doc-aligned segment. One LEB128 stream is
    encoded for the whole group and per-term blobs are byte-slices of
    it (see :func:`..codec.encode_varints_with_offsets`) — identical
    bytes to per-term :func:`..codec.encode_postings`, but the pandas /
    numpy fixed costs amortize over thousands of terms per group
    instead of one DataFrame per posting list."""
    from .codec import encode_varints_with_offsets

    k1, b = S.K1, S.B

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        terms, tcodes = np.unique(pdf["term"].to_numpy(), return_inverse=True)
        docs = pdf["doc_int"].to_numpy(dtype=np.int64)
        dls = pdf["dl"].to_numpy(dtype=np.int64)
        if "tf" in pdf.columns:  # pre-aggregated (tf-checkpoint path)
            tfs = pdf["tf"].to_numpy(dtype=np.int64)
            order = np.lexsort((docs, tcodes))
            tcodes, docs, tfs, dls = tcodes[order], docs[order], tfs[order], dls[order]
        else:
            # fused single-pass path: rows are RAW token occurrences —
            # collapse duplicate (term, doc) runs into tf here, after
            # the (bucket, seg) shuffle, instead of paying a dedicated
            # (doc, term) aggregation exchange + tf materialization
            order = np.lexsort((docs, tcodes))
            tcodes, docs, dls = tcodes[order], docs[order], dls[order]
            first = np.empty(len(docs), dtype=bool)
            first[0] = True
            np.logical_or(np.diff(tcodes) != 0, np.diff(docs) != 0, out=first[1:])
            idx = np.flatnonzero(first)
            tfs = np.diff(np.append(idx, len(docs)))
            tcodes, docs, dls = tcodes[idx], docs[idx], dls[idx]

        n = len(docs)
        starts = np.concatenate([[0], np.flatnonzero(np.diff(tcodes)) + 1])
        ends = np.concatenate([starts[1:], [n]])

        gaps = np.empty(n, dtype=np.int64)
        gaps[0] = docs[0]
        np.subtract(docs[1:], docs[:-1], out=gaps[1:])
        gaps[starts] = docs[starts]  # first doc of each term is absolute
        if len(gaps) > len(starts):
            inner = np.ones(n, dtype=bool)
            inner[starts] = False
            if inner.any() and gaps[inner].min() <= 0:
                raise ValueError("doc_ints must be strictly ascending per term")

        tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        inter = np.empty(3 * n, dtype=np.uint64)
        inter[0::3] = gaps.astype(np.uint64)
        inter[1::3] = tfs.astype(np.uint64)
        inter[2::3] = dls.astype(np.uint64)
        buf, offs = encode_varints_with_offsets(inter)
        raw = buf.tobytes()

        blasts, bmaxs = [], []
        for s, e in zip(starts, ends):
            bl, bm = block_metadata(docs[s:e], tfn[s:e], BLOCK)
            blasts.append(bl.tolist())
            bmaxs.append(bm.tolist())

        return pd.DataFrame(
            {
                "bucket": np.full(len(terms), int(pdf["bucket"].iloc[0]), dtype=np.int32),
                "term": terms,
                "seg": np.full(len(terms), int(pdf["seg"].iloc[0]), dtype=np.int64),
                "n": ends - starts,
                "first_doc": docs[starts],
                "last_doc": docs[ends - 1],
                "postings": [raw[offs[3 * s] : offs[3 * e]] for s, e in zip(starts, ends)],
                "block_last_doc": blasts,
                "block_max_tfnorm": bmaxs,
                "seg_max_tfnorm": np.maximum.reduceat(tfn, starts),
                "sum_tf": np.add.reduceat(tfs, starts),
            }
        )

    return encode_group


def bucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _encode_postings(
    tokens: pa.ListArray, buckets: pa.ListArray, doc_int: np.ndarray, dl: pa.Array, avgdl: float
) -> pa.Table:
    """Segment rows of a driver-placed build: the docs' token occurrences
    (``tokens`` and their ``buckets``, one list per doc, as
    :func:`bucket_col` hashes them) grouped by (bucket, seg), each group
    through :func:`_make_segment_encoder` — the fused path's input, so
    the rows equal the distributed placement's. The encoder sees each
    term as its rank in the sorted vocabulary, an int that orders as the
    term does, so no Python string is made per occurrence; the rows get
    their term strings back in one Arrow ``take``."""
    words = pc.dictionary_encode(pc.list_flatten(tokens))
    by_term = pc.sort_indices(words.dictionary)
    rank = np.empty(len(by_term), dtype=np.int64)
    rank[by_term.to_numpy()] = np.arange(len(by_term))
    owner = pc.list_parent_indices(tokens).to_numpy()
    occ = {
        "term": rank[words.indices.to_numpy()],
        "bucket": pc.list_flatten(buckets).to_numpy(),
        "doc_int": doc_int[owner],
        "dl": dl.fill_null(0).to_numpy()[owner],
    }
    occ["seg"] = occ["doc_int"] // SEG_SPAN
    schema = to_arrow_schema(SEGMENT_SCHEMA)
    if not len(owner):
        return schema.empty_table()
    order = np.lexsort((occ["seg"], occ["bucket"]))
    cut = np.flatnonzero(np.diff(occ["bucket"][order]) | np.diff(occ["seg"][order])) + 1
    encoder = _make_segment_encoder(avgdl)
    segs = pd.concat(
        [encoder(pd.DataFrame({c: v[idx] for c, v in occ.items()})) for idx in np.split(order, cut)],
        ignore_index=True,
    )
    term = words.dictionary.take(by_term.take(pa.array(segs.pop("term").to_numpy())))
    return pa.Table.from_pandas(segs, preserve_index=False).add_column(1, "term", term).cast(schema)


def _dir_bytes(path: str) -> int:
    """Total bytes under a staging dir — the stage's materialized output
    size, recorded in the ledger (north_star: per-stage bytes metric)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --------------------------------------------------------------------------
# per-task lineage (north_star: "lineage and metrics … recorded per task")
# --------------------------------------------------------------------------

TASK_ROWS_CAP = 512  # per-task rows kept per stage; aggregates always kept


def _set_stage_group(spark, build: str, stage: str) -> None:
    """Tag all jobs of a build stage with a job group so the event-log
    parser can attribute their tasks: ``seng:<build>:<stage>``, where
    ``build`` names this one build call, so builds earlier in the same
    application are never counted as its own. Thread-local (PySpark
    pinned threads), so the overlapped docmap stage tags independently."""
    spark.sparkContext.setJobGroup(f"seng:{build}:{stage}", f"searchengine build stage {stage}")


def _collect_task_metrics(spark, build: str) -> dict[str, dict]:
    """Parse this application's Spark event log into per-stage task
    rows + aggregates for the jobs :func:`_set_stage_group` tagged with
    ``build``: duration, executor run time, records read, shuffle
    read/write bytes, output bytes, skew ratio. Returns {} when
    event logging is off (the build still records per-stage metrics).

    O(events) driver work on a local JSON file — the same parse a
    history server does; at cluster scale this reads the log from the
    shared event-log dir after the job."""
    sc = spark.sparkContext
    conf = sc.getConf()
    if conf.get("spark.eventLog.enabled", "false") != "true":
        return {}
    d = conf.get("spark.eventLog.dir", "")
    if d.startswith("file:"):
        d = d[len("file:"):]
    if not d:
        return {}
    # the event logger flushes on every JobEnd: once the listener bus has
    # drained, the build's last JobEnd — and every event before it — is
    # on disk. Waiting starts no job; a timeout parses what is there
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Py4JJavaError:  # TimeoutException: per-task rows are best effort
        pass

    import glob

    app = sc.applicationId
    # single-file layout: <dir>/<appId>[.inprogress]; rolling v2 layout
    # (Spark 4 default): <dir>/eventlog_v2_<appId>/events_<n>_<appId>
    paths = sorted(
        p
        for p in glob.glob(os.path.join(d, app + "*"))
        + glob.glob(os.path.join(d, f"eventlog_v2_{app}", "events_*"))
        if os.path.isfile(p)
    )
    def _events():
        for path in paths:
            try:
                with open(path) as f:
                    for line in f:
                        try:
                            yield json.loads(line)
                        except ValueError:
                            continue  # partially-written tail line
            except OSError:
                continue

    # two passes: JobStart→stage mapping first (rolling files don't
    # guarantee a TaskEnd lands in the same file as its JobStart)
    prefix = f"seng:{build}:"
    stage2group: dict[int, str] = {}
    for e in _events():
        if e.get("Event") == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if g.startswith(prefix):
                for si in e.get("Stage Infos", []):
                    stage2group[int(si["Stage ID"])] = g[len(prefix):]
    groups: dict[str, list[dict]] = {}
    for e in _events():
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        g = stage2group.get(int(e.get("Stage ID", -1)))
        if g is None:
            continue
        ti = e.get("Task Info") or {}
        tm = e.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        groups.setdefault(g, []).append(
            {
                "task_id": ti.get("Task ID"),
                "stage_id": int(e.get("Stage ID", -1)),
                "duration_ms": int(ti.get("Finish Time", 0)) - int(ti.get("Launch Time", 0)),
                "run_ms": tm.get("Executor Run Time", 0),
                "records_read": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                "shuffle_read_bytes": int(sr.get("Remote Bytes Read", 0))
                + int(sr.get("Local Bytes Read", 0)),
                "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "bytes_written": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                "failed": bool(ti.get("Failed", False)),
            }
        )
    out: dict[str, dict] = {}
    for g, tasks in groups.items():
        durs = sorted(t["duration_ms"] for t in tasks)
        mean = sum(durs) / len(durs)
        out[g] = {
            "n_tasks": len(tasks),
            "task_ms_p50": durs[len(durs) // 2],
            "task_ms_max": durs[-1],
            "task_skew": round(durs[-1] / max(mean, 1e-9), 2),
            "records_read": sum(t["records_read"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "bytes_written": sum(t["bytes_written"] for t in tasks),
            "n_failed": sum(1 for t in tasks if t["failed"]),
            "tasks": tasks[:TASK_ROWS_CAP],
        }
    return out


# --------------------------------------------------------------------------
# the build job
# --------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: IndexCatalog,
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_jobs: int = 1,
    snap_id: int | None = None,
    synonyms: bool = False,
) -> Snapshot:
    """Build a new index snapshot; resumable via the staging ledger.

    ``bucket_jobs`` > 1 splits the postings stage into that many
    independently-committed jobs (coarser-grained resume, e.g. 4 →
    every quarter of the term space checkpoints separately); 1 = single
    job writing all bucket partitions (fastest wall-clock).

    ``synonyms=True`` installs the synonym groups into the build-side
    analyzer (index-time expansion, reference ReindexBleve semantics):
    group members share postings, so df/idf reflect the group union.
    """
    t_start = time.perf_counter()
    snap_id = snap_id if snap_id is not None else catalog.next_id()
    stage_dir = catalog.staging_dir(snap_id)
    ledger = Ledger(stage_dir)
    build = f"{snap_id}-{uuid.uuid4().hex[:8]}"  # this call's job-group tag

    raw_dir = os.path.join(stage_dir, "docmap_raw")
    docmap_dir = os.path.join(stage_dir, "docmap")
    tf_dir = os.path.join(stage_dir, "tf_stage")
    terms_dir = os.path.join(stage_dir, "terms")
    postings_dir = os.path.join(stage_dir, "postings")
    offsets_path = os.path.join(stage_dir, "offsets.json")

    # Every staged table is re-read with the schema of the frame that
    # wrote it: a parquet read that declares its schema starts no
    # footer-inference job. The frames are built lazily (no job) so a
    # resumed build has their schemas too.

    # ---- stage: docmap_raw (tokenize + partition-rank, computed ONCE) ------
    ranked = _ranked_within_partitions(transcripts, synonyms=synonyms).select(
        "_pid", "_rank", "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "dl", "tokens"
    )
    observed: dict | None = None
    if not ledger.done("docmap_raw"):
        from pyspark.sql import Observation

        _set_stage_group(spark, build, "docmap_raw")
        t0 = time.perf_counter()
        obs = Observation("docmap_raw_stats")
        ranked.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
        ).write.mode("overwrite").parquet(raw_dir)
        observed = obs.get  # collected during the write — no extra pass
        dt = time.perf_counter() - t0
        ledger.commit("docmap_raw", seconds=round(dt, 3), bytes_written=_dir_bytes(raw_dir))

    raw = spark.read.schema(ranked.schema).parquet(raw_dir)

    # ---- stage: offsets + stats (exact, from the committed data) -----------
    if not ledger.done("stats"):
        t0 = time.perf_counter()
        if observed is None:  # resume path: recompute from committed parquet
            row = raw.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")).collect()[0]
            observed = {"n": row["n"], "sdl": row["sdl"]}
        # parquet footers, no Spark job; cross-checked vs the write Observation
        offsets = partition_offsets(raw_dir, expected_rows=int(observed["n"]))
        stats = {
            "n_docs": int(observed["n"]),
            "sum_dl": int(observed["sdl"]),
            "avgdl": float(observed["sdl"]) / float(observed["n"]),
        }
        with open(offsets_path, "w") as f:
            json.dump({str(k): v for k, v in offsets.items()}, f)
        with open(os.path.join(stage_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        ledger.commit("stats", seconds=round(time.perf_counter() - t0, 3), **stats)
    with open(os.path.join(stage_dir, "stats.json")) as f:
        stats = json.load(f)
    with open(offsets_path) as f:
        offsets = {int(k): int(v) for k, v in json.load(f).items()}

    numbered = with_doc_int(raw, offsets)
    docmap = numbered.select(
        "doc_int", "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "dl"
    )

    # ---- stage: docmap (final, token-free doc metadata table) --------------
    # Runs in a DRIVER THREAD concurrently with tf/postings: docmap is a
    # leaf output (nothing downstream reads it until publish), so its
    # tasks fill scheduler gaps — straggler tails and stage barriers —
    # that would otherwise idle cores between the big jobs. On a real
    # cluster this is standard multi-job submission from one driver.
    import threading

    overlap = os.environ.get("SENG_OVERLAP_DOCMAP", "1") != "0"
    docmap_err: list[BaseException] = []
    docmap_thread: threading.Thread | None = None
    if not ledger.done("docmap"):
        def _docmap_stage() -> None:
            try:
                _set_stage_group(spark, build, "docmap")
                t0 = time.perf_counter()
                docmap.write.options(**ARTIFACT_PARQUET).mode("overwrite").parquet(docmap_dir)
                dt = time.perf_counter() - t0
                ledger.commit("docmap", rows=stats["n_docs"], seconds=round(dt, 3),
                              turns_per_sec=round(stats["n_docs"] / dt, 1),
                              bytes_written=_dir_bytes(docmap_dir))
            except BaseException as e:  # noqa: BLE001 — re-raised on join
                docmap_err.append(e)

        if overlap:
            docmap_thread = threading.Thread(target=_docmap_stage, name="docmap-stage")
            docmap_thread.start()
        else:
            _docmap_stage()
            if docmap_err:
                raise docmap_err[0]

    # ---- stage: tf (optional intermediate checkpoint) ----------------------
    # bucket_jobs == 1 (the fastest wall-clock mode) FUSES tf into the
    # postings stage: raw token occurrences flow straight into the
    # (bucket, seg) shuffle and the Arrow encoder collapses duplicates —
    # skipping an entire (doc, term) aggregation exchange plus the tf
    # table materialize+rescan (~1/3 of the build at local[8]).
    # bucket_jobs > 1 keeps the tf checkpoint: its per-group resume
    # depends on rescanning a committed tf table with bucket pruning.
    # (SENG_TF_CHECKPOINT=1 forces the checkpointed path at any
    # bucket_jobs — e.g. for very long builds that want the extra
    # resume point between the two big stages.)
    tf_checkpoint = bucket_jobs > 1 or os.environ.get("SENG_TF_CHECKPOINT") == "1"
    if tf_checkpoint:
        tf = (
            numbered.select("doc_int", "dl", F.explode("tokens").alias("term"))
            .groupBy("doc_int", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
            .withColumn("seg", (F.col("doc_int") / F.lit(SEG_SPAN)).cast("long"))
        )
        if not ledger.done("tf"):
            from pyspark.sql import Observation

            _set_stage_group(spark, build, "tf")
            t0 = time.perf_counter()
            obs = Observation("tf_rows")
            # plain (non-dynamic-partition) write: one file per task, ~16×
            # fewer files than partitionBy; clustering by bucket inside each
            # task keeps parquet row-group min/max tight so bucket_jobs>1
            # resume still prunes bucket scans
            tf.observe(obs, F.count(F.lit(1)).alias("rows")).sortWithinPartitions(
                "bucket"
            ).write.mode("overwrite").parquet(tf_dir)
            n_rows = int(obs.get["rows"])
            dt = time.perf_counter() - t0
            ledger.commit("tf", rows=n_rows, seconds=round(dt, 3),
                          postings_per_sec=round(n_rows / dt, 1),
                          bytes_written=_dir_bytes(tf_dir))
        tf_staged = spark.read.schema(tf.schema).parquet(tf_dir)
    else:
        tf_staged = (
            numbered.select("doc_int", "dl", F.explode("tokens").alias("term"))
            .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
            .withColumn("seg", (F.col("doc_int") / F.lit(SEG_SPAN)).cast("long"))
        )

    # ---- stage: postings (per bucket group, doc-aligned segments) ----------
    encoder = _make_segment_encoder(stats["avgdl"])
    groups = [
        list(range(g, n_buckets, bucket_jobs)) for g in range(bucket_jobs)
    ]
    for gi, buckets in enumerate(groups):
        stage_name = f"postings-{gi}"
        if ledger.done(stage_name):
            continue
        from pyspark.sql import Observation

        _set_stage_group(spark, build, stage_name)
        t0 = time.perf_counter()
        part = tf_staged if bucket_jobs == 1 else tf_staged.where(F.col("bucket").isin(buckets))
        obs = Observation(f"postings_{gi}")
        segs = part.groupBy("bucket", "seg").applyInPandas(encoder, SEGMENT_SCHEMA).observe(
            obs, F.count(F.lit(1)).alias("segments"), F.sum("n").alias("postings")
        )
        writer = segs.write.options(**ARTIFACT_PARQUET).mode("overwrite")
        if bucket_jobs > 1:
            # dynamic partition overwrite replaces ONLY this group's
            # bucket dirs — idempotent, so a group that crashed after
            # its write but before its ledger commit re-runs cleanly on
            # resume instead of appending duplicates
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.partitionBy("bucket").parquet(postings_dir)
        dt = time.perf_counter() - t0
        got = obs.get
        seg_rows, post_n = got["segments"], got["postings"]
        ledger.commit(stage_name, segments=int(seg_rows), postings=int(post_n or 0),
                      seconds=round(dt, 3),
                      postings_per_sec=round((post_n or 0) / dt, 1),
                      bytes_written=_dir_bytes(postings_dir))

    # ---- stage: term stats (from postings segment metadata — the segment
    # rows are ≪ the tf table, so this reads ~(term, n, sum_tf) columns of
    # an already-small parquet instead of re-shuffling every posting) ------
    terms = (
        spark.read.schema(SEGMENT_SCHEMA).parquet(postings_dir)
        .groupBy("term")
        # bucket rides along so a query's term lookup returns df AND
        # the postings partition to scan in ONE point-read (engine.py)
        .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"),
             F.first("bucket").alias("bucket"))
    )
    if not ledger.done("terms"):
        from pyspark.sql import Observation

        _set_stage_group(spark, build, "terms")
        t0 = time.perf_counter()
        obs = Observation("terms_rows")
        terms.observe(
            obs, F.count(F.lit(1)).alias("rows"), F.max("df").alias("max_df")
        ).write.options(**ARTIFACT_PARQUET).mode("overwrite").parquet(terms_dir)
        got = obs.get
        n_terms, max_df = int(got["rows"]), int(got["max_df"] or 0)
        # skew diagnostics for the north rule's heavy-hitter handling
        mean_df = stats["sum_dl"] / max(n_terms, 1)
        ledger.commit("terms", rows=n_terms, seconds=round(time.perf_counter() - t0, 3),
                      max_df=max_df, skew_ratio=round(max_df / max(mean_df, 1e-9), 2),
                      bytes_written=_dir_bytes(terms_dir))

    # ---- join the overlapped docmap stage before publishing ----------------
    if docmap_thread is not None:
        docmap_thread.join()
        if docmap_err:
            raise docmap_err[0]
    # later jobs on this thread are not the build's
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # ---- publish -----------------------------------------------------------
    # build_seconds is pinned BEFORE the lineage parse: per-task metrics
    # were recorded DURING the build (event log); turning them into
    # manifest rows is post-processing, the same work a history server
    # does after a job — it must not count against build throughput
    elapsed = time.perf_counter() - t_start
    manifest = _manifest(
        stage_dir, stats, synonyms=synonyms, n_buckets=n_buckets,
        task_metrics=_collect_task_metrics(spark, build), elapsed=elapsed,
        docmap=docmap.schema, terms=terms.schema,
    )
    # drop staging intermediates (tokens + tf — the large artifacts) from
    # the published snapshot; keep ledger + final tables
    shutil.rmtree(tf_dir, ignore_errors=True)
    shutil.rmtree(raw_dir, ignore_errors=True)
    return catalog.publish(snap_id, manifest)


def _manifest(
    stage_dir: str, stats: dict, *, synonyms: bool, n_buckets: int, task_metrics: dict,
    elapsed: float, docmap: T.StructType, terms: T.StructType,
) -> dict:
    """The manifest a build publishes, on either placement."""
    return {
        "stats": stats,
        "synonyms": synonyms,
        "n_buckets": n_buckets,
        "task_metrics": task_metrics,
        "seg_span": SEG_SPAN,
        "block": BLOCK,
        "k1": S.K1,
        "b": S.B,
        "build_seconds": round(elapsed, 3),
        "turns_per_sec": round(stats["n_docs"] / elapsed, 1),
        "ledger": Ledger(stage_dir).entries(),
        # the artifacts' schemas, so a serving handle reads them with no
        # footer-inference job (engine.IndexHandle._artifact)
        "schemas": {
            "postings": SEGMENT_SCHEMA.jsonValue(),
            "docmap": docmap.jsonValue(),
            "terms": terms.jsonValue(),
        },
    }


def stage_index_driver(
    docs: pa.Table,
    docs_schema: T.StructType,
    catalog: IndexCatalog,
    snap_id: int,
) -> dict:
    """Driver placement of :func:`build_index` for a corpus small enough
    to collect: stage snapshot ``snap_id`` from ``docs`` and return the
    manifest to publish with ``catalog.publish`` (the caller publishes,
    so it can swap its own state in first).

    ``docs`` is an Arrow table of the corpus columns of ``docs_schema``
    plus, per doc, ``doc_id`` (:func:`..functions.text.doc_id_col`),
    ``tokens`` (the analyzer's output) and ``buckets`` (their
    :func:`bucket_col` over ``DEFAULT_BUCKETS``, the bucket count
    :func:`build_index` defaults to), all computed in the JVM.
    The driver numbers the docs 0..n-1 in doc_id byte order (the order
    the range-partitioned build gives), takes N and Σdl from the arrays,
    encodes the postings with :func:`_encode_postings` under the new
    avgdl, and writes each artifact with :func:`write_artifact` into a
    fresh staging dir: ``docmap``, ``postings`` (one ``bucket=<b>/`` dir
    per bucket, as the partitioned write lays them out) and ``terms``
    (df = Σn, cf = Σsum_tf, bucket). Rows, schemas and manifest keys
    equal :func:`build_index`'s for the same corpus (no synonyms); the
    ledger times the three writes and ``task_metrics`` is empty, since
    no Spark task runs."""
    t_start = time.perf_counter()
    stage_dir = catalog.staging_dir(snap_id)
    shutil.rmtree(stage_dir)  # a failed attempt at this id left files
    os.makedirs(stage_dir)
    ledger = Ledger(stage_dir)

    docmap_schema = T.StructType(
        [T.StructField("doc_int", T.LongType()), T.StructField("doc_id", T.StringType())]
        + [T.StructField(c, docs_schema[c].dataType)
           for c in ("conv_id", "turn_idx", "role", "tool", "ts")]
        + [T.StructField("dl", T.IntegerType())]
    )
    meta_cols = docmap_schema.names[1:-1]  # doc_id .. ts, as collected
    order = pc.sort_indices(docs["doc_id"], null_placement="at_start")
    docs = docs.select(meta_cols + ["tokens", "buckets"]).take(order)
    n = docs.num_rows
    doc_int = np.arange(n, dtype=np.int64)
    tokens = docs["tokens"].combine_chunks()
    dl = pc.list_value_length(tokens)
    sum_dl = pc.sum(dl).as_py() or 0
    stats = {"n_docs": n, "sum_dl": sum_dl, "avgdl": float(sum_dl) / float(n)}

    t0 = time.perf_counter()
    docmap_dir = os.path.join(stage_dir, "docmap")
    docmap = (docs.select(meta_cols)
              .add_column(0, "doc_int", pa.array(doc_int)).append_column("dl", dl))
    write_artifact(docmap.cast(to_arrow_schema(docmap_schema)), docmap_dir)
    dt = time.perf_counter() - t0
    ledger.commit("docmap", rows=n, seconds=round(dt, 3),
                  turns_per_sec=round(n / max(dt, 1e-9), 1),
                  bytes_written=_dir_bytes(docmap_dir))

    t0 = time.perf_counter()
    postings_dir = os.path.join(stage_dir, "postings")
    segs = _encode_postings(tokens, docs["buckets"].combine_chunks(), doc_int, dl, stats["avgdl"])
    for b in pc.unique(segs["bucket"]).to_pylist():
        write_artifact(segs.filter(pc.equal(segs["bucket"], b)).drop_columns("bucket"),
                       os.path.join(postings_dir, f"bucket={b}"))
    dt = time.perf_counter() - t0
    n_post = pc.sum(segs["n"]).as_py() or 0
    ledger.commit("postings-0", segments=segs.num_rows, postings=n_post, seconds=round(dt, 3),
                  postings_per_sec=round(n_post / max(dt, 1e-9), 1),
                  bytes_written=_dir_bytes(postings_dir))

    t0 = time.perf_counter()
    terms_dir = os.path.join(stage_dir, "terms")
    terms_schema = T.StructType([
        T.StructField("term", T.StringType()), T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()), T.StructField("bucket", T.IntegerType()),
    ])
    words = pc.dictionary_encode(segs["term"]).combine_chunks()
    code, n_terms = words.indices.to_numpy(), len(words.dictionary)
    bucket = np.zeros(n_terms, dtype=np.int32)
    bucket[code] = segs["bucket"].to_numpy()  # a term hashes to one bucket
    terms = pa.table({
        "term": words.dictionary,
        "df": np.bincount(code, segs["n"].to_numpy(), n_terms).astype(np.int64),
        "cf": np.bincount(code, segs["sum_tf"].to_numpy(), n_terms).astype(np.int64),
        "bucket": bucket,
    }).sort_by("term")
    write_artifact(terms.cast(to_arrow_schema(terms_schema)), terms_dir)
    max_df = pc.max(terms["df"]).as_py() or 0
    mean_df = sum_dl / max(terms.num_rows, 1)
    ledger.commit("terms", rows=terms.num_rows, seconds=round(time.perf_counter() - t0, 3),
                  max_df=max_df, skew_ratio=round(max_df / max(mean_df, 1e-9), 2),
                  bytes_written=_dir_bytes(terms_dir))

    return _manifest(
        stage_dir, stats, synonyms=False, n_buckets=DEFAULT_BUCKETS, task_metrics={},
        elapsed=time.perf_counter() - t_start, docmap=docmap_schema, terms=terms_schema,
    )
