"""Spans around the program's public functions, and Spark counts per span.

The tracer lives entirely in the benchmark: :func:`install` replaces
each target function with a recording wrapper under every name a
caller resolves (``index.engine.search_index`` and the
``api.search_index`` binding alike), and methods on their class.
Spans stay in memory; :func:`layer_metrics` turns them into per-layer
numbers after the run, and :func:`read_event_log` attributes each
Spark job from the session's event log to the innermost span open when
the job was submitted (one client thread, so spans nest strictly).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import pydoc
import sys
import time
import types
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

# (dotted path, span name, per-call item count or None). The span name's
# first part is the layer; codec decode also counts decoded postings.
TARGETS: list[tuple[str, str, object]] = [
    ("searchengine_spark.index.engine.open_index", "engine.open_index", None),
    ("searchengine_spark.index.engine.expand_query", "engine.expand_query", None),
    ("searchengine_spark.index.engine.term_meta", "engine.term_meta", None),
    ("searchengine_spark.index.engine.search_index", "engine.search_index", None),
    ("searchengine_spark.index.engine.IndexHandle.filter_doc_ints", "filters.filter_doc_ints", None),
    ("searchengine_spark.index.codec.decode_postings", "codec.decode", lambda out: len(out[0])),
    ("searchengine_spark.filters.compile_filters", "filters.compile", None),
    ("searchengine_spark.api.advanced_search", "api.advanced_search", None),
    ("searchengine_spark.index.build.build_index", "build.build_index", None),
    ("searchengine_spark.index.catalog.IndexCatalog.publish", "catalog.publish", None),
    ("searchengine_spark.index.catalog.IndexCatalog.current", "catalog.current", None),
    ("searchengine_spark.streaming.ingest.StreamingIndex.apply_batch", "ingest.apply_batch", None),
    ("searchengine_spark.streaming.ingest.StreamingIndex.search", "ingest.search", None),
    ("searchengine_spark.streaming.ingest.StreamingIndex.compact", "ingest.compact", None),
    ("searchengine_spark.streaming.ingest.StreamingIndex.current_docs", "ingest.current_docs", None),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str
    t0: float  # perf_counter seconds
    w0: float  # wall clock ms, comparable with Spark event times
    t1: float = 0.0
    w1: float = 0.0
    items: int = 0
    spark: Counter = field(default_factory=Counter)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """In-memory span recorder for one client thread. Inactive between
    traced operations, when every wrapper is a plain pass-through."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.rid = ""
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._stack: list[Span] = []

    def open(self, name: str) -> Span:
        b0 = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, self.rid, 0.0, time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(s)
        s.t0 = time.perf_counter()
        self.bookkeeping_s += s.t0 - b0
        return s

    def close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        s.w1 = time.time() * 1000.0
        self._stack.pop()
        self.bookkeeping_s += time.perf_counter() - s.t1

    @contextmanager
    def span(self, name: str):
        """A span opened by the benchmark itself (request roots, and
        calls such as ``spark.sql`` that have no program function)."""
        if not self.active:
            yield None
            return
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def traced(self, rid: str, on: bool = True):
        """Record spans for one operation with request id ``rid``."""
        self.active, self.rid = on, rid
        try:
            yield
        finally:
            self.active = False


class _Traced:
    """Recording wrapper. Pickles as a reference to the original
    function, so closures shipped to Python workers never carry the
    tracer: workers import the unwrapped program."""

    def __init__(self, tracer: Tracer, fn, name: str, path: str, count) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._name, self._path, self._count = tracer, name, path, count

    def __call__(self, *args, **kwargs):
        t = self._tracer
        if not t.active:
            return self.__wrapped__(*args, **kwargs)
        s = t.open(self._name)
        try:
            out = self.__wrapped__(*args, **kwargs)
            if self._count is not None:
                s.items = self._count(out)
            return out
        finally:
            t.close(s)

    def __get__(self, obj, cls=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (pydoc.locate, (self._path,))


def install(tracer: Tracer, targets=TARGETS) -> None:
    """Wrap every target under every name callers resolve: on its class,
    or on its module and in every loaded program module that imported
    it by name (modules imported later bind the wrapper themselves)."""
    for path, name, count in targets:
        owner_path, attr = path.rsplit(".", 1)
        owner = pydoc.locate(owner_path)
        fn = owner.__dict__[attr]
        wrapper = _Traced(tracer, fn, name, path, count)
        if isinstance(owner, type):
            setattr(owner, attr, wrapper)
            continue
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("searchengine_spark") and mod is not None:
                for k, v in list(vars(mod).items()):
                    if v is fn:
                        setattr(mod, k, wrapper)


# --------------------------------------------------------------------------
# Spark counts from the event log
# --------------------------------------------------------------------------

# physical operators whose stages run Python workers over Arrow batches
_PYTHON_OPS = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_ms",
    "executor_run_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "python_udf_ms",
)


def _events(evdir: str):
    for path in sorted(glob.glob(os.path.join(evdir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # partially written tail line


def read_event_log(evdir: str) -> dict[int, dict]:
    """Per Spark job: submission time (ms) and its run's counts."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_stages: set[int] = set()
    for e in _events(evdir):
        if e.get("Event") != "SparkListenerJobStart":
            continue
        jid = int(e["Job ID"])
        jobs[jid] = {"submitted": float(e["Submission Time"]), "counts": Counter(jobs=1)}
        for si in e.get("Stage Infos", []):
            sid = int(si["Stage ID"])
            stage_job.setdefault(sid, jid)
            scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in si.get("RDD Info", []))
            if any(op in scopes for op in _PYTHON_OPS):
                python_stages.add(sid)
    for e in _events(evdir):
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = int(e["Stage Info"]["Stage ID"])
            if sid in stage_job:
                jobs[stage_job[sid]]["counts"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = int(e.get("Stage ID", -1))
            if sid not in stage_job:
                continue
            c = jobs[stage_job[sid]]["counts"]
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            run_ms = float(tm.get("Executor Run Time", 0))
            c["tasks"] += 1
            c["executor_run_ms"] += run_ms
            c["executor_cpu_ms"] += float(tm.get("Executor CPU Time", 0)) / 1e6
            c["shuffle_read_bytes"] += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
            c["shuffle_write_bytes"] += int((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            if sid in python_stages:
                c["python_udf_ms"] += run_ms
    return jobs


def counts_per_op(jobs: dict[int, dict], windows: list[tuple[float, float]]) -> Counter:
    """Spark counts of the jobs submitted inside the operations'
    ``(start, end)`` wall-clock windows (ms), per operation."""
    total: Counter = Counter()
    for j in jobs.values():
        if any(w0 <= j["submitted"] <= w1 for w0, w1 in windows):
            total.update(j["counts"])
    return Counter({k: v / max(len(windows), 1) for k, v in total.items()})


def attribute_jobs(spans: list[Span], jobs: dict[int, dict]) -> int:
    """Add each job's counts to the innermost span open at its
    submission; returns how many jobs fell inside some span."""
    marks = []
    for s in spans:
        marks.append((s.w0, 0, s.sid))
        marks.append((s.w1, 2, s.sid))
    for jid, j in jobs.items():
        marks.append((j["submitted"], 1, jid))
    stack: list[int] = []
    hit = 0
    for _t, kind, ref in sorted(marks):
        if kind == 0:
            stack.append(ref)
        elif kind == 2:
            stack.remove(ref)
        elif stack:
            spans[stack[-1]].spark.update(jobs[ref]["counts"])
            hit += 1
    return hit


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------

# span -> per-layer metric of its self time (span time minus child spans)
SELF_MS = {
    "engine.expand_query": "engine.expand_query_ms",
    "engine.term_meta": "engine.term_meta_ms",
    "engine.search_index": "engine.search_index_ms",
    "codec.decode": "codec.decode_ms",
    "filters.compile": "filters.compile_ms",
    "filters.filter_doc_ints": "filters.filter_doc_ints_ms",
    "api.advanced_search": "api.advanced_search_ms",
    "sql.search": "sql.search_ms",
    # operation roots: what is left is collecting the lazily built result
    "serve.request": "client.request_ms",
    "ingest.step": "client.request_ms",
    "build.build_index": "build.build_index_ms",
    "catalog.publish": "catalog.publish_ms",
    "catalog.current": "catalog.current_ms",
    "ingest.apply_batch": "ingest.apply_batch_ms",
    "ingest.search": "ingest.search_ms",
    "ingest.compact": "ingest.compact_ms",
    "ingest.current_docs": "ingest.current_docs_ms",
}
# batch-operation spans of the offline workload (request id OPS_RID),
# named after the module that owns the operation -> per-layer metric:
# the span's total seconds in the run's one pass
OP_MODULES = (
    "query.bm25",
    "ops.dedup",
    "ops.textstats",
    "ops.sampling",
    "ops.transcripts",
    "ops.sessions",
    "ops.ann",
    "ops.multimodal",
    "streaming.events",
    "streaming.assemble",
    "docstore",
)
OP_SECONDS = {"index.engine": "engine.search_many_s", **{m: f"{m}.query_s" for m in OP_MODULES}}
BUILD_STAGES = ("docmap_raw", "docmap", "postings", "terms")
SETUP_RID = "setup"
OPS_RID = "ops"

# every per-layer metric with its unit; each workload reports all of
# them, 0 where it does not exercise the layer
PER_LAYER_UNITS: dict[str, str] = {
    **{m: "ms" for m in SELF_MS.values()},
    **{m: "s" for m in OP_SECONDS.values()},
    "engine.spark_jobs_per_query": "count",
    "codec.decode_calls": "count",
    "codec.postings_decoded": "count",
    "filters.cache_hit_ratio": "ratio",
    **{f"build.{st}_s": "s" for st in BUILD_STAGES},
    "build.shuffle_write_bytes": "bytes",
    **{f"spark.{k}": ("bytes" if k.endswith("bytes") else "ms" if k.endswith("ms") else "count") for k in SPARK_KEYS},
    "trace.overhead_ms": "ms",
    "trace.bookkeeping_ms": "ms",
}


# layer (program module) -> its per-layer metrics, and the end-to-end
# metrics (gated, or reported latencies) and workloads a change in that
# layer should move
LAYERS: dict[str, dict] = {
    "index.engine": {
        "metrics": [
            "engine.expand_query_ms",
            "engine.term_meta_ms",
            "engine.search_index_ms",
            "engine.spark_jobs_per_query",
            "engine.search_many_s",
        ],
        "moves": [("query_p50_ms", "serve"), ("spark_jobs_per_op", "serve"), ("spark_tasks_per_op", "serve")],
    },
    # the batch pass runs in traced offline runs only: no gated metric
    **{m: {"metrics": [OP_SECONDS[m]], "moves": []} for m in OP_MODULES},
    "index.codec": {
        "metrics": ["codec.decode_ms", "codec.decode_calls", "codec.postings_decoded"],
        "moves": [
            ("query_p50_ms", "serve"),
            ("index_bytes_per_input_byte", "serve"),
            ("index_bytes_per_input_byte", "offline"),
        ],
    },
    "filters": {
        "metrics": ["filters.compile_ms", "filters.filter_doc_ints_ms", "filters.cache_hit_ratio"],
        "moves": [("query_p50_ms", "serve"), ("spark_jobs_per_op", "serve")],
    },
    "api": {
        "metrics": ["api.advanced_search_ms", "client.request_ms"],
        "moves": [("query_p50_ms", "serve"), ("spark_jobs_per_op", "serve")],
    },
    "sql": {"metrics": ["sql.search_ms"], "moves": [("query_p50_ms", "serve")]},
    "index.build": {
        "metrics": ["build.build_index_ms", "build.shuffle_write_bytes"]
        + [f"build.{st}_s" for st in BUILD_STAGES],
        "moves": [("setup_s", "serve"), ("setup_s", "offline"), ("spark_tasks_per_op", "offline")],
    },
    "index.catalog": {
        "metrics": ["catalog.publish_ms", "catalog.current_ms"],
        "moves": [("freshness_p50_s", "offline"), ("setup_s", "offline")],
    },
    "streaming.ingest": {
        "metrics": ["ingest.apply_batch_ms", "ingest.search_ms", "ingest.compact_ms", "ingest.current_docs_ms"],
        "moves": [("freshness_p50_s", "offline"), ("spark_jobs_per_op", "offline"), ("spark_tasks_per_op", "offline")],
    },
    "spark": {
        "metrics": [f"spark.{k}" for k in SPARK_KEYS],
        "moves": [
            *(
                (m, w)
                for m in ("spark_jobs_per_op", "spark_tasks_per_op", "setup_s", "driver_live_mb")
                for w in ("serve", "offline")
            ),
            ("query_p50_ms", "serve"),
            ("freshness_p50_s", "offline"),
        ],
    },
    # the benchmark's own cost, not the program's
    "trace": {"metrics": ["trace.overhead_ms", "trace.bookkeeping_ms"], "moves": []},
}


def self_ms(spans: list[Span]) -> list[float]:
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.ms
    return [s.ms - child[s.sid] for s in spans]


def layer_metrics(spans: list[Span], n_ops: int, manifests: list[dict]) -> dict[str, float]:
    """Per-layer numbers for the traced operations (spans outside set-up
    and the batch pass): self times, counts and Spark counts per
    operation, the batch pass's seconds per module, and build-stage
    medians over every snapshot the run built (``manifests``)."""
    import statistics

    ops = max(n_ops, 1)
    out = {m: 0.0 for m in PER_LAYER_UNITS}
    own = self_ms(spans)
    filter_calls = filter_hits = 0
    for s, ms in zip(spans, own):
        if s.rid == OPS_RID and s.name in OP_SECONDS:
            out[OP_SECONDS[s.name]] += s.ms / 1000.0
        if s.rid in (SETUP_RID, OPS_RID):
            continue
        if s.name in SELF_MS:
            out[SELF_MS[s.name]] += ms / ops
        for k in SPARK_KEYS:
            out[f"spark.{k}"] += s.spark[k] / ops
        if s.name.startswith("engine."):
            out["engine.spark_jobs_per_query"] += s.spark["jobs"] / ops
        if s.name == "codec.decode":
            out["codec.decode_calls"] += 1 / ops
            out["codec.postings_decoded"] += s.items / ops
        if s.name == "filters.filter_doc_ints":
            filter_calls += 1
            filter_hits += s.spark["jobs"] == 0
    if filter_calls:
        out["filters.cache_hit_ratio"] = filter_hits / filter_calls
    if manifests:
        for st in BUILD_STAGES:
            out[f"build.{st}_s"] = statistics.median(
                sum(
                    float(e.get("seconds", 0.0))
                    for name, e in m["ledger"].items()
                    if name.split("-")[0] == st  # postings-<i> per bucket group
                )
                for m in manifests
            )
        out["build.shuffle_write_bytes"] = statistics.median(
            sum(g.get("shuffle_write_bytes", 0) for g in m.get("task_metrics", {}).values())
            for m in manifests
        )
    return out
