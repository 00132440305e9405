"""Query engine over the materialized postings index.

Mirrors the reference's query path (``internal/search/search.go:114-165``:
term split → fuzzy/synonym expansion → boolean MUST filters → score →
top-k). A single query is a one-query batch: :func:`search_index` and
:func:`search_many` both run one core, :func:`_search`:

1. look up each distinct term's (df, bucket) in the pinned term
   dictionary (a point read of the ``terms`` table when the vocabulary
   is too large to pin) and scan only the postings **buckets** the terms
   hash to, with ``term IN (...)`` pushed to parquet row groups;
2. place the scoring by Σ df, known before any job runs. At most
   ``SERVING_DRIVER_MAX`` postings are scored in driver numpy
   (:func:`_driver_top_k`), read from the handle's pinned postings or,
   on an index too large to pin, collected in one JVM action
   (:func:`_driver_postings`); above it one
   ``mapInPandas`` scorer (:func:`_make_scorer`) decodes each
   (term, segment) row once, fans its contributions out to every query
   holding the term, and the sums are cut to top-k per query. Both
   placements decode through :func:`_decode_tfnorm`;
3. on large corpora the distributed placement first runs one
   **block-max θ pass** (:func:`_prune`): segments are doc-aligned
   across terms (``seg = doc_int >> 16``), so
   ``ub(q, seg) = Σ_t idf_t · seg_max_tfnorm(t, seg)`` bounds query q's
   score of every doc in that segment. θ_q, the k-th exact score inside
   q's richest segments, drops every segment and, inside the scorer,
   every 128-posting block that cannot beat it — exact, since a dropped
   doc provably scores below θ_q;
4. hydrate every query's doc_ids in one lookup: the pinned doc values'
   ``doc_id`` column, or a docmap point read on corpora too large to pin.

Serving state lives on the :class:`IndexHandle`: it resolves each
artifact DataFrame (postings / terms / docmap) once and pins the term
dictionary, the docmap and, on an index whose whole posting volume fits
``SERVING_DRIVER_MAX``, the postings driver-side — the analogue of
Bleve's in-memory segments. The docmap is one Arrow table in doc_int
order (Bleve's DocValues): doc names, MUST filter sets (the
:data:`..filters.ARROW` rendering of the FilterRequest) and explicit
sort keys all read it. The postings are one Arrow table of (term,
postings) rows that the driver placement slices. So a warm query on the
driver placement of a pinned handle runs no Spark job, filtered or not;
the first one pins the postings (a driver-side pyarrow read of the
snapshot's parquet files, no job; one ``toArrow`` job on an Iceberg
snapshot), and an index too large to pin them runs one (the Σdf-bounded
postings collect). Measured on the sf0.01 serve benchmark (4 vCPUs):
pinning the frames took ``search_index`` from 2 jobs to 1 (re-reading
an artifact cost a parquet schema-inference job each time), evaluating
filters on the pinned doc values took a first-seen filter set from 1
job to 0, and pinning the postings took a warm request from 1 job to
0. Resolving an artifact starts no job either: the build records each
artifact's schema in the manifest. A published snapshot never changes;
a new snapshot gets a new handle (:func:`open_index`).

The result is rank-identical to :func:`..query.bm25.search_direct`
(tested in tests/test_index_engine.py): same float64 expression shape,
same score-desc/doc_id-asc tie-break.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import semantics as S
from ..filters import ARROW, compile_filters
from ..metrics import timed
from .build import read_artifact
from .catalog import IndexCatalog, Snapshot
from .codec import BLOCK, SEG_SPAN, decode_postings


# hold the term dictionary driver-side below this vocabulary size — the
# analogue of Bleve keeping its FST term dictionary in memory. Above it
# (web-scale vocabularies) term lookups stay distributed point-reads.
# Budgeted honestly for CPython dict overhead (~150-250 B/entry
# measured, tests/test_index_engine.py::test_driver_cache_budgets):
# 1 M entries ≈ 150-250 MB driver heap.
TERM_CACHE_MAX = 1_000_000
# gate for pinning the docmap as driver-side doc values: one Arrow
# table in doc_int order (no per-entry CPython objects). Measured on the
# transcripts corpus: 68-69 B/row (doc_id, conv_id, role and tool
# strings + offsets, turn_idx, ts, dl, doc_int) → 5 M docs ≈ 345 MB
# driver heap (budget-tested alongside the term cache).
DOC_VALUES_MAX = 5_000_000


class _DocNames:
    """Dense doc_int → doc_id lookup over one Arrow string column —
    doc_int is the array index (dense 0..N-1 numbering from the
    build). No per-entry CPython objects are held; ``nbytes`` is the
    real pinned footprint."""

    def __init__(self, arr):
        self._arr = arr  # pyarrow ChunkedArray of doc_id, doc_int order

    def __getitem__(self, doc_int: int) -> str:
        return self._arr[doc_int].as_py()

    def __len__(self) -> int:
        return len(self._arr)

    @property
    def nbytes(self) -> int:
        return int(self._arr.nbytes)


# driver placement: when the queries' TOTAL posting count (Σ df over
# the distinct terms, known driver-side from the term dictionary before
# any job runs) is at most this, the matching segment blobs are scored
# in driver numpy — no mapInPandas job (no Python workers, no shuffle).
# This is the Lucene/Bleve serving shape (one node scores a query);
# heavier work keeps the distributed block-max path, so no unbounded
# driver transfer can occur: Σ df bounds the decoded entries (~6 B/entry
# on the wire). The same cap gates pinning the postings on the handle:
# an index whose WHOLE posting volume (Σ df over its term dictionary)
# fits is pinned as one Arrow table. Measured at 3.6 B/posting on the
# perfbench serve corpus (0.45 MB for 131,848 postings; 5.4 B on a
# 2,000-doc index, whose term strings weigh more), so the worst case is
# ~7-11 MB of driver heap (budget-tested alongside the term cache).
SERVING_DRIVER_MAX = 2_000_000


@dataclass
class IndexHandle:
    """Serving context of ONE published snapshot.

    Pins, each resolved on first use and kept for the handle's
    lifetime: the artifact DataFrames (``postings`` / ``terms`` /
    ``docmap`` — the parquet file listing and schema, or the
    Iceberg read at the pinned ``snapshot-id``), the term dictionary,
    the docmap's doc values (:meth:`doc_values`) and, on an index small
    enough, the postings (:meth:`pinned_postings`).
    Pinning is safe because a published snapshot is write-once; a
    republish is a NEW snapshot, which needs a new handle
    (:func:`open_index`) — a handle held across it keeps answering from
    its own snapshot until ``IndexCatalog.expire`` deletes that
    snapshot's files. Everything pinned goes away with the handle."""

    spark: SparkSession
    snapshot: Snapshot
    _frames: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    @property
    def stats(self) -> dict:
        return self.snapshot.stats

    def _artifact(self, name: str, parquet_dir: str) -> DataFrame:
        """Parquet dirs (sandbox) or pinned Iceberg tables (prod): the
        snapshot's ``iceberg_snapshots`` pin makes the read VERSION AS
        OF publish time, so concurrent republish never tears a query.
        Resolved once per handle. A parquet dir is read with the schema
        the build recorded in the manifest, which starts no job;
        manifests published before that record existed fall back to
        footer inference (one job)."""
        df = self._frames.get(name)
        if df is not None:
            return df
        t = (self.snapshot.tables or {}).get(name)
        if t is None:
            schema = self.snapshot.manifest.get("schemas", {}).get(name)
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(StructType.fromJson(schema))
            df = reader.parquet(parquet_dir)
        else:
            reader = self.spark.read.format("iceberg")
            if t.get("snapshot_id") is not None:
                reader = reader.option("snapshot-id", t["snapshot_id"])
            df = reader.load(t["table"])
        self._frames[name] = df
        return df

    def postings(self) -> DataFrame:
        return self._artifact("postings", self.snapshot.postings_dir)

    def terms(self) -> DataFrame:
        return self._artifact("terms", self.snapshot.terms_dir)

    def docmap(self) -> DataFrame:
        return self._artifact("docmap", self.snapshot.docmap_dir)

    def doc_values(self) -> "pa.Table | None":
        """The docmap pinned driver-side as one Arrow table in doc_int
        order (row i is doc_int i: the numbering is dense by
        construction), or None when the corpus is too large to pin
        (DOC_VALUES_MAX; callers fall back to docmap reads). Doc names,
        MUST filter sets and explicit sort keys all read it — the
        serving analogue of Bleve's DocValues. A parquet-dir snapshot's
        ``docmap`` files are read on the driver with no Spark job
        (:func:`..build.read_artifact`); an Iceberg snapshot's pinned
        table is one ``toArrow``. Timestamps are held as UTC wall time in
        microseconds, the form the filters' bounds and ``toArrow`` take."""
        cached = getattr(self, "_doc_values", False)
        if cached is not False:
            return cached
        if self.stats["n_docs"] > DOC_VALUES_MAX:
            self._doc_values = None
        else:
            if "docmap" in (self.snapshot.tables or {}):
                tbl = self.docmap().toArrow()
            else:
                tbl = read_artifact(self.snapshot.docmap_dir, self.docmap().columns)
            tbl = tbl.sort_by("doc_int").combine_chunks()
            for i, f in enumerate(tbl.schema):
                if pa.types.is_timestamp(f.type) and f.type != pa.timestamp("us"):
                    tbl = tbl.set_column(i, f.name, tbl.column(i).cast(pa.timestamp("us")))
            self._doc_values = tbl
        return self._doc_values

    def doc_names(self) -> "_DocNames | None":
        """doc_int → doc_id over the pinned doc values' ``doc_id``
        column, or None when the corpus is too large to pin (callers
        fall back to a docmap point-read). Saves the hydration job."""
        dv = self.doc_values()
        return None if dv is None else _DocNames(dv.column("doc_id"))

    def filter_doc_ints(self, filters: dict | None) -> "np.ndarray | None":
        """The sorted doc_int array satisfying the FilterRequest
        ``filters`` (every doc for an empty request), evaluated as a
        ``pyarrow.compute`` Expression on the pinned doc values — no
        Spark job. None when the corpus is too large to pin (callers
        fall back to a rank-ordered docmap probe)."""
        dv = self.doc_values()
        if dv is None:
            return None
        expr = compile_filters(filters, **ARROW)
        return (dv if expr is None else dv.filter(expr)).column("doc_int").to_numpy()

    def pinned_postings(self) -> "pa.Table | None":
        """The snapshot's postings pinned driver-side as one Arrow table of
        (term, postings) rows — the serving analogue of Bleve's in-memory
        postings — or None when the index is too large to pin: its whole
        posting volume, Σ df over the pinned term dictionary (no job),
        exceeds SERVING_DRIVER_MAX, or the vocabulary itself is too large
        to pin (TERM_CACHE_MAX). Pinned lazily by the first
        driver-placement postings read (:func:`_driver_postings`), with
        no Spark job: a parquet-dir snapshot's ``bucket=<b>/`` dirs are
        read file by file into Arrow on the driver
        (:func:`..build.read_artifact`, which needs no dataset
        discovery); an Iceberg snapshot's pinned table is one
        ``toArrow``."""
        cached = getattr(self, "_pinned_postings", False)
        if cached is not False:
            return cached
        td = self.term_dict()
        if td is None or sum(df for df, _ in td.values()) > SERVING_DRIVER_MAX:
            self._pinned_postings = None
        elif "postings" in (self.snapshot.tables or {}):
            self._pinned_postings = (
                self.postings().select("term", "postings").toArrow().combine_chunks()
            )
        else:
            root = self.snapshot.postings_dir
            self._pinned_postings = pa.concat_tables([
                read_artifact(os.path.join(root, b), ["term", "postings"])
                for b in sorted(os.listdir(root)) if b.startswith("bucket=")
            ]).combine_chunks()
        return self._pinned_postings

    def term_dict(self) -> dict[str, tuple[int, int]] | None:
        """Driver-cached term → (df, bucket), or None if the vocabulary
        is too large to pin (callers fall back to point-reads). A
        parquet-dir snapshot is pinned with no Spark job: the row count
        comes from the ``terms`` files' footers, checked against
        TERM_CACHE_MAX before a driver-side pyarrow read of the three
        columns (:func:`..build.read_artifact`), as
        :meth:`pinned_postings` reads its postings; an Iceberg snapshot's
        pinned table is one bounded collect."""
        cached = getattr(self, "_term_dict", False)
        if cached is not False:
            return cached
        cols = ["term", "df", "bucket"]
        if "terms" in (self.snapshot.tables or {}):
            rows = self.terms().select(*cols).limit(TERM_CACHE_MAX + 1).toArrow()
        else:
            rows = read_artifact(self.snapshot.terms_dir, cols, max_rows=TERM_CACHE_MAX)
        if rows is None or rows.num_rows > TERM_CACHE_MAX:
            self._term_dict = None
        else:
            self._term_dict = dict(zip(
                rows["term"].to_pylist(),
                zip(rows["df"].to_pylist(), rows["bucket"].to_pylist()),
            ))
        return self._term_dict


def open_index(spark: SparkSession, catalog: IndexCatalog) -> IndexHandle:
    """A fresh handle on the catalog's CURRENT snapshot; nothing is
    pinned until first use."""
    snap = catalog.current()
    if snap is None:
        raise FileNotFoundError(f"no published snapshot under {catalog.root}")
    return IndexHandle(spark, snap)


# --------------------------------------------------------------------------
# term lookup / expansion
# --------------------------------------------------------------------------

def term_meta(ix: IndexHandle, terms: list[str]) -> dict[str, tuple[int, int]]:
    """term → (df, bucket): a driver-dict lookup when the vocabulary is
    pinned (TERM_CACHE_MAX), else one point-read of the terms table."""
    if not terms:
        return {}
    td = ix.term_dict()
    if td is not None:
        return {t: td[t] for t in terms if t in td}
    rows = (
        ix.terms().where(F.col("term").isin(terms)).select("term", "df", "bucket").collect()
    )
    return {r["term"]: (int(r["df"]), int(r["bucket"])) for r in rows}


def expand_fuzzy(ix: IndexHandle, term: str) -> list[str]:
    """Fuzziness=1 expansion against the term dictionary (reference
    ``internal/search/search.go:122``; FST automaton → here a scan of
    the pinned driver dictionary, or a pruned distributed scan: length
    ±1 window pushed to parquet, then exact Levenshtein ≤ 1)."""
    td = ix.term_dict()
    if td is not None:
        from ..oracle import levenshtein_leq1

        lo, hi = len(term) - 1, len(term) + 1
        return sorted(v for v in td if lo <= len(v) <= hi and levenshtein_leq1(term, v))
    cand = (
        ix.terms()
        .where(F.length("term").between(len(term) - 1, len(term) + 1))
        .where(F.levenshtein(F.col("term"), F.lit(term)) <= 1)
        .select("term")
        .collect()
    )
    return sorted(r["term"] for r in cand)


def expand_query(
    ix: IndexHandle, query: str, *, fuzzy: bool = False, synonyms: bool = False
) -> list[str]:
    """Whitespace split (reference search.go:116) → analyzer-normalize →
    synonym-group then fuzzy expansion → distinct, order-preserving.
    The split+normalize core is shared with the SQL surface
    (oracle.query_terms — one home, no drift)."""
    from ..oracle import query_terms

    base = query_terms(query)
    syn = S.synonym_map()
    out: list[str] = []
    for t in base:
        group = list(syn[t]) if synonyms and t in syn else [t]
        for g in group:
            out.extend(expand_fuzzy(ix, g) if fuzzy else [g])
    return list(dict.fromkeys(out))


# --------------------------------------------------------------------------
# scoring
# --------------------------------------------------------------------------

def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# absolute slack on the block bound: survivors of float rounding in the
# cross-term complement (ub − idf·segmax vs the exact Σ_{u≠t}) must not
# be dropped; only widens what is kept, never prunes more
_THETA_EPS = 1e-9

# scorer output: one row per (query, doc, term) contribution. The query
# is its integer ordinal in the batch, not the caller's qid string, so
# a single query's rows and aggregation shuffle stay narrow.
_SCORED = "q INT, doc_int LONG, contrib DOUBLE"


def _decode_tfnorm(blob: bytes, avgdl: float) -> tuple["object", "object"]:
    """Decode one postings blob → (doc_ints, tfnorm) float64 arrays.
    THE single home of the BM25 tf-normalization expression on the
    decode side — every scorer (executor mapInPandas and driver numpy)
    must call this so the association order stays bit-identical to
    ``bm25_score_expr`` and the plans can never desynchronize."""
    k1, b = S.K1, S.B
    docs, tfs, dls = decode_postings(blob)
    tfd = tfs.astype(np.float64)
    dld = dls.astype(np.float64)
    # identical association to bm25_score_expr → bit-equal f64
    tfn = tfd * (k1 + 1.0) / (tfd + k1 * ((1.0 - b) + b * dld / avgdl))
    return docs, tfn


def _make_scorer(
    qidfs: list[dict[str, float]], avgdl: float, thetas: dict[int, float] | None = None
):
    """mapInPandas stage: decode each (term, seg) row ONCE and fan its
    contributions out to every query holding the term → ``_SCORED``
    rows. ``qidfs[q]`` is query q's term → idf.

    Block-max WAND skip, exact for ANY number of query terms: segments
    are doc-aligned across terms (codec.SEG_SPAN), so for block b of
    term t in segment s

        bound(q, t, b) = idf_t·block_max_tfnorm(b) + (ub(q, s) − idf_t·seg_max_tfnorm(t, s))

    upper-bounds query q's TOTAL score of every doc in the block. The
    segment bound ``ub(q, s) = Σ_u idf_u·seg_max_tfnorm(u, s)`` arrives
    in the row's ``qubs`` list (attached by :func:`_prune`); the
    complement is 0.0 for a one-term query, which therefore skips even
    without ``qubs``. A block whose bound is below θ_q − ε is dropped
    for q: the doc's other contributions still flow, but its total is
    provably below θ_q, so its partial aggregate can never reach q's
    top-k boundary, ties at θ included."""
    term_q: dict[str, list[tuple[int, float]]] = {}
    for q, idfs in enumerate(qidfs):
        for t, idf in idfs.items():
            term_q.setdefault(t, []).append((q, idf))
    thetas = thetas or {}

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            qs, ds, cs = [], [], []
            skip = bool(thetas) and "seg_max_tfnorm" in pdf.columns
            absent = [None] * len(pdf)
            meta = [pdf[c] if c in pdf.columns else absent
                    for c in ("block_max_tfnorm", "seg_max_tfnorm", "qubs")]
            for term, blob, bmax, seg_max, qubs in zip(pdf["term"], pdf["postings"], *meta):
                docs, tfn = _decode_tfnorm(bytes(blob), avgdl)
                ubs = {} if qubs is None else {int(e["q"]): float(e["ub"]) for e in qubs}
                for q, idf in term_q[term]:
                    d, c = docs, idf * tfn
                    theta = thetas.get(q, 0.0)
                    one_term = len(qidfs[q]) == 1
                    if skip and theta > 0.0 and (one_term or q in ubs):
                        other = 0.0 if one_term else ubs[q] - idf * float(seg_max)
                        bound = np.asarray(bmax, dtype=np.float64) * idf + other
                        keep = bound >= theta - _THETA_EPS
                        if not keep.all():
                            mask = np.repeat(keep, BLOCK)[: len(docs)]
                            d, c = docs[mask], c[mask]
                    qs.append(np.full(len(d), q, dtype=np.int32))
                    ds.append(d)
                    cs.append(c)
            if ds:
                yield pd.DataFrame(
                    {
                        "q": np.concatenate(qs),
                        "doc_int": np.concatenate(ds),
                        "contrib": np.concatenate(cs),
                    }
                )

    return score_batches


def _score_rows(rows: list, qidfs: list[dict[str, float]], avgdl: float) -> list[tuple]:
    """Driver twin of :func:`_make_scorer` for a Σ-df-bounded row set:
    decode each collected (term, postings) row once, then aggregate per
    doc for every query → one (doc_ints, scores, matched_term_counts)
    triple per query, unordered. The engine's driver placement, the SQL
    table function, the API sort path and live search all score here."""
    decoded: dict[str, list] = {}
    for r in rows:
        decoded.setdefault(r["term"], []).append(_decode_tfnorm(bytes(r["postings"]), avgdl))
    out = []
    for idfs in qidfs:
        parts = [(d, idf * tfn) for t, idf in idfs.items() for d, tfn in decoded.get(t, ())]
        if not parts:
            out.append((np.zeros(0, dtype=np.int64), np.zeros(0), np.zeros(0, dtype=np.int64)))
            continue
        uniq, inv, counts = np.unique(
            np.concatenate([d for d, _ in parts]), return_inverse=True, return_counts=True
        )
        sums = np.bincount(inv, weights=np.concatenate([c for _, c in parts]), minlength=len(uniq))
        out.append((uniq, sums, counts))
    return out


def _in_sorted(uniq: np.ndarray, allowed: np.ndarray) -> np.ndarray:
    """Mask of the ``uniq`` doc_ints present in the sorted ``allowed``."""
    if not len(allowed):
        return np.zeros(len(uniq), dtype=bool)
    return allowed[np.minimum(np.searchsorted(allowed, uniq), len(allowed) - 1)] == uniq


def _driver_top_k(
    ix: IndexHandle,
    rows: list,
    qidfs: list[dict[str, float]],
    k: int,
    mode: str = "or",
    doc_predicate: Column | None = None,
    allowed: np.ndarray | None = None,
) -> list[list[tuple[int, float]]]:
    """Driver placement: each query's exact top-k (doc_int, raw score),
    in rank order, from collected rows.

    A doc's postings for EVERY query term live in its one doc-aligned
    segment, so the rows carry complete per-doc scores and mode="and"
    reduces to counting matched terms. A MUST filter masks the
    candidates with ``allowed``, its doc_int set in the pinned doc
    values (:meth:`IndexHandle.filter_doc_ints`); on corpora too large
    to pin (``allowed`` None), the candidates are probed against
    docmap with ``doc_predicate`` in rank order (:func:`_probe_docmap`)."""
    out = []
    for idfs, (uniq, sums, counts) in zip(qidfs, _score_rows(rows, qidfs, ix.stats["avgdl"])):
        if mode == "and":
            uniq, sums = uniq[counts == len(idfs)], sums[counts == len(idfs)]
        if allowed is not None:
            m = _in_sorted(uniq, allowed)
            uniq, sums = uniq[m], sums[m]
        order = np.lexsort((uniq, -sums))  # exact final rank order
        if doc_predicate is not None and allowed is None and len(uniq):
            out.append(_probe_docmap(ix, uniq[order], sums[order], k, doc_predicate))
        else:
            out.append([(int(uniq[i]), float(sums[i])) for i in order[:k]])
    return out


def _probe_docmap(
    ix: IndexHandle, docs, scores, k: int, doc_predicate: Column
) -> list[tuple[int, float]]:
    """Top-k of rank-ordered candidates under a MUST predicate, for
    corpora too large to pin doc values: the first k candidates that
    satisfy it ARE the top-k (everything unprobed ranks below everything
    probed); the probe widens ×8 on the rare under-selective predicate."""
    probe = min(len(docs), max(50 * k, 500))
    while True:
        cand = ix.spark.createDataFrame(
            pd.DataFrame({"doc_int": docs[:probe], "score_raw": scores[:probe]}),
            schema="doc_int LONG, score_raw DOUBLE",
        )
        top = (
            cand.join(ix.docmap().where(doc_predicate).select("doc_int"), "doc_int", "left_semi")
            .orderBy(F.desc("score_raw"), F.asc("doc_int"))
            .limit(k)
            .collect()
        )
        if len(top) >= k or probe >= len(docs):
            return [(int(r["doc_int"]), float(r["score_raw"])) for r in top]
        probe = min(len(docs), probe * 8)


def _aggregate(
    ix: IndexHandle,
    scan: DataFrame,
    qidfs: list[dict[str, float]],
    thetas: dict[int, float] | None = None,
    doc_predicate: Column | None = None,
) -> DataFrame:
    """Distributed placement: score ``scan`` with :func:`_make_scorer`
    and sum per (q, doc_int) → ``score_raw`` and the matched-term count
    ``_nt``. The MUST semi-join runs AFTER the aggregation: it drops
    whole docs, never single contributions, so it joins the few
    aggregated rows instead of every contribution row."""
    agg = (
        scan.mapInPandas(_make_scorer(qidfs, ix.stats["avgdl"], thetas), _SCORED)
        .groupBy("q", "doc_int")
        .agg(F.sum("contrib").alias("score_raw"), F.count(F.lit(1)).alias("_nt"))
    )
    if doc_predicate is not None:
        agg = agg.join(ix.docmap().where(doc_predicate).select("doc_int"), "doc_int", "left_semi")
    return agg


def _top_k(agg: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Each query's top-k rows of ``agg``, cut by (score desc, doc_int
    asc) — doc_int order is doc_id order, so the tie-break at the k
    boundary is exact before hydration. One query takes
    ``orderBy().limit()`` (TakeOrderedAndProject: per-partition heaps,
    no global sort); a batch takes a window partitioned by query."""
    if n_queries == 1:
        return agg.orderBy(F.desc("score_raw"), F.asc("doc_int")).limit(k)
    w = Window.partitionBy("q").orderBy(F.desc("score_raw"), F.asc("doc_int"))
    return agg.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)


def _collect_top_k(agg: DataFrame, n_queries: int, k: int) -> list[list[tuple[int, float]]]:
    """:func:`_top_k`, collected into per-query rank-ordered
    (doc_int, raw score) lists."""
    out: list[list[tuple[int, float]]] = [[] for _ in range(n_queries)]
    for r in _top_k(agg, n_queries, k).select("q", "doc_int", "score_raw").collect():
        out[r["q"]].append((int(r["doc_int"]), float(r["score_raw"])))
    return [sorted(top, key=lambda x: (-x[1], x[0])) for top in out]


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """Typed empty frame whose collect runs no Spark job: the optimizer
    folds the always-false filter into an empty local relation (a bare
    ``createDataFrame([])`` is an RDD scan — one job per collect)."""
    return spark.createDataFrame([], schema).where(F.lit(False))


def _result_df(
    spark: SparkSession, rows: list[tuple], schema: str = "doc_id STRING, score DOUBLE"
) -> DataFrame:
    """Result rows → DataFrame via Arrow from pandas — ~8× cheaper per
    query than the row-tuple createDataFrame path (the serving result
    is rebuilt on every call, so this fixed cost is on the latency
    floor). Like the empty result, it collects with no job."""
    if not rows:
        return _empty(spark, schema)
    cols = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema=schema)


def _hydrate(ix: IndexHandle, tops: list[list[tuple[int, float]]]) -> list[list[tuple[str, float]]]:
    """Per-query (doc_int, raw score) lists → (doc_id, rounded score)
    lists ordered (score desc, doc_id asc). One lookup serves every
    query: the pinned doc-name column, or one ≤ #queries·k docmap
    point-read on corpora too large to pin."""
    ids = sorted({d for top in tops for d, _ in top})
    names = ix.doc_names() if ids else {}
    if names is None:
        names = {
            int(r["doc_int"]): r["doc_id"]
            for r in ix.docmap()
            .where(F.col("doc_int").isin(ids))
            .select("doc_int", "doc_id")
            .collect()
        }
    named = [sorted(((names[d], s) for d, s in top), key=lambda x: (-x[1], x[0])) for top in tops]
    return [[(n, S.round_score(s)) for n, s in top] for top in named]


# --------------------------------------------------------------------------
# the query core
# --------------------------------------------------------------------------

def _term_postings(ix: IndexHandle, meta: dict[str, tuple[int, int]]) -> DataFrame:
    """Postings rows of the terms in ``meta`` (term → (df, bucket)): the
    bucket predicate prunes whole directory partitions, the term
    predicate is pushed to parquet row groups."""
    return (
        ix.postings()
        .where(F.col("bucket").isin(sorted({b for _, b in meta.values()})))
        .where(F.col("term").isin(list(meta)))
    )


def _driver_postings(ix: IndexHandle, meta: dict[str, tuple[int, int]]) -> list:
    """The (term, postings) rows of the terms in ``meta`` for a driver
    placement: a slice of the handle's pinned postings (no Spark job),
    or, when the index is too large to pin, one JVM-only collect of
    :func:`_term_postings`. Either way Σ df over ``meta`` bounds the
    rows' posting volume."""
    pinned = ix.pinned_postings()
    if pinned is None:
        return _term_postings(ix, meta).select("term", "postings").collect()
    return _rows_of(pinned, list(meta))


def _rows_of(table: pa.Table, terms: list[str]) -> list[dict]:
    """The rows of ``table`` whose ``term`` is in ``terms``, as dicts. A
    boolean mask, not a ``pc.field`` Expression: filtering by an
    Expression loads ``pyarrow.dataset`` and Acero into the driver
    (+4 MB resident)."""
    words = pa.array(terms, table.schema.field("term").type)
    return table.filter(pc.is_in(table["term"], value_set=words)).to_pylist()


def _search(
    ix: IndexHandle,
    queries: list[list[str]],
    k: int,
    *,
    mode: str = "or",
    filters: dict | None = None,
    driver: bool | None = None,
) -> list[list[tuple[int, float]]]:
    """THE query core: each query's exact top-k (doc_int, raw score),
    in rank order. Σ df over the distinct terms (from the term
    dictionary, no job) picks the placement: at most SERVING_DRIVER_MAX
    reads every blob with :func:`_driver_postings` (the pinned postings,
    or ONE bounded JVM collect), each decoded once and scored per query
    in driver numpy; above it (or ``driver=False``)
    the distributed placement scores on the cluster. The MUST filter
    block ``filters`` is compiled once to a Catalyst predicate for the
    Spark placements and resolved once to its doc_int set on the pinned
    doc values for the driver ones."""
    meta = term_meta(ix, sorted({t for ts in queries for t in ts}))
    n_docs = ix.stats["n_docs"]
    qidfs = [
        {t: _idf(n_docs, meta[t][0]) for t in ts if t in meta}
        # a term absent from the corpus can never satisfy a conjunction
        if mode == "or" or all(t in meta for t in ts) else {}
        for ts in queries
    ]
    terms = sorted({t for idfs in qidfs for t in idfs})
    if not terms:
        return [[] for _ in queries]
    pred = compile_filters(filters)
    allowed = ix.filter_doc_ints(filters) if pred is not None else None
    used = {t: meta[t] for t in terms}
    total_df = sum(df for df, _ in used.values())
    if driver is None:
        driver = total_df <= SERVING_DRIVER_MAX
    if driver:
        return _driver_top_k(ix, _driver_postings(ix, used), qidfs, k, mode, pred, allowed)
    full = _term_postings(ix, used)
    return _search_distributed(ix, full, qidfs, k, mode, pred, allowed, total_df)


def _search_distributed(
    ix: IndexHandle,
    full: DataFrame,
    qidfs: list[dict[str, float]],
    k: int,
    mode: str,
    doc_predicate: Column | None,
    allowed: np.ndarray | None,
    total_df: int,
) -> list[list[tuple[int, float]]]:
    """Distributed placement of :func:`_search`: the θ pass on large
    corpora (OR mode only — the OR-score θ bound is not sound for a
    conjunctive top-k), then one scorer pass, per-(query, doc) sums and
    the per-query top-k."""
    scan, thetas = full.select("term", "postings"), {}
    if mode == "and" and len(qidfs[0]) > 1:
        # conjunctive segment pruning (exact): a doc matching ALL terms
        # lives in a segment where EVERY term has postings — intersect
        # the per-term segment sets from metadata columns alone
        every = (
            full.groupBy("seg")
            .agg(F.count_distinct("term").alias("_nt"))
            .where(F.col("_nt") == len(qidfs[0]))
            .select("seg")
        )
        scan = full.join(F.broadcast(every), "seg", "left_semi").select("term", "postings")
    elif (
        mode == "or"
        and ix.stats["n_docs"] >= PRUNE_MIN_DOCS
        and (len(qidfs) == 1 or total_df >= PRUNE_MIN_POSTINGS)
    ):
        scan, thetas, _ = _prune(ix, full, qidfs, k, doc_predicate, allowed)
    agg = _aggregate(ix, scan, qidfs, thetas, doc_predicate)
    if mode == "and":  # a one-query mode: one scorer row per (term, doc)
        agg = agg.where(F.col("_nt") == len(qidfs[0]))
    return _collect_top_k(agg, len(qidfs), k)


@timed("search_index")
def search_index(
    ix: IndexHandle,
    terms: list[str],
    *,
    k: int = S.TOP_K,
    filters: dict | None = None,
    mode: str = "or",
) -> DataFrame:
    """Top-k (doc_id, score) over the postings index — rank-identical to
    the direct path; a one-query :func:`_search`. ``filters`` is the
    FilterRequest of the MUST block (reference search.go:133-139,
    :mod:`..filters`): it restricts candidate docs, while df/idf stay
    corpus-global. ``mode="and"`` keeps only docs matching every term
    (posting-list intersection, J4; block-max pruning is off there).

    Job budget on a warm handle (artifact frames, term dictionary and
    doc values pinned), when Σ df fits SERVING_DRIVER_MAX: NO job once
    the handle has pinned its postings (the first such query pins them,
    in one job), and ONE on an index too large to pin them (the
    bucket+term-pruned postings collect). Either way the rows are
    scored in driver numpy, with or without ``filters``, whose doc set
    is evaluated on the pinned doc values. Above the cap: one
    score+top-k job (TakeOrderedAndProject over the postings scan, the
    MUST block a docmap semi-join), plus the θ pass's metadata and
    candidate jobs when block-max pruning engages (large corpora). Only
    corpora too large to pin add a terms point-read, a docmap probe per
    filtered query and a docmap point-read for the names."""
    (top,) = _hydrate(ix, _search(ix, [terms], k, mode=mode, filters=filters))
    return _result_df(ix.spark, top)


@timed("search_many")
def search_many(
    ix: IndexHandle,
    queries: dict[str, list[str]],
    *,
    k: int = S.TOP_K,
    driver: bool | None = None,
) -> DataFrame:
    """Batched top-k for MANY queries → (qid, doc_id, score), ordered
    (qid, score desc, doc_id), each query's rows equal to
    :func:`search_index` on its terms.

    The offline-evaluation path: one postings read over the union of
    all query terms, each (term, segment) row decoded once and fanned
    out to every query holding the term, so per-job scheduling cost
    amortizes over the whole batch (serving N queries one-by-one pays
    it N times). A warm Σ-df-bounded batch has the job budget of one
    query (:func:`search_index`): none on a handle that has pinned its
    postings, else one. ``driver=False`` forces the distributed
    placement, whose per-query top-k is a window partitioned by query;
    on large corpora (PRUNE_MIN_DOCS) with a real decode volume (Σ df ≥
    PRUNE_MIN_POSTINGS) it runs the θ pass first (:func:`_prune`)."""
    qids = sorted(queries)
    tops = _hydrate(ix, _search(ix, [queries[q] for q in qids], k, driver=driver))
    rows = [(qid, d, s) for qid, top in zip(qids, tops) for d, s in top]
    return _result_df(ix.spark, rows, "qid STRING, doc_id STRING, score DOUBLE")


# --------------------------------------------------------------------------
# block-max θ pass
# --------------------------------------------------------------------------

# pruning pays only when there are enough doc-aligned segments for the
# metadata pass to skip some; below this the extra driver round-trips
# cost more than scanning every segment
PRUNE_MIN_DOCS = 4 * (1 << 16)
# a batch additionally needs a real decode volume: below this Σ df
# (known driver-side from the term dictionary, no job) the direct
# one-pass decode is cheaper than the θ round. Measured on a 4 M-doc
# index: the θ pass costs ~2.5 s of fixed metadata/θ jobs and skips
# ~10 % of a multi-term batch's decode (≥50 % for single-term queries,
# where the WAND bound is tight) — at ~1 M decoded postings/s/core that
# breaks even around 10⁷ postings. A lone query reaches the distributed
# placement only above SERVING_DRIVER_MAX and is not gated by this.
PRUNE_MIN_POSTINGS = 4 * SERVING_DRIVER_MAX
# θ candidate pool: each query picks its richest segments until they
# cover OVERFETCH·k postings
OVERFETCH = 4
# MUST-filtered θ establishment: extra ×4 pick-set expansion rounds
# before giving up (θ=0) when the picked segments hold <k ALLOWED docs.
# 3 rounds × overfetch 4 × k 10 reaches a 2560-doc candidate pool —
# enough for ~0.5 % selectivity filters — while every round stays a
# bounded metadata read + a ≤2560-doc scoring pass
_PRUNE_FILTER_ROUNDS = 3
# per-seg (q, ub) block-skip metadata is broadcast onto the scan only
# below this (#queries × max-possible-segs) bound — ~32 B/entry → ≤128 MB
_QUBS_BROADCAST_MAX = 4_000_000
_QUBS = "seg LONG, qubs ARRAY<STRUCT<q: INT, ub: DOUBLE>>"
# the per-(term, seg) metadata is collected and ranked in driver pandas
# when #terms × max-possible-segs fits this bound (~80 B/row → ≤80 MB):
# one narrow JVM collect replaces the metadata shuffle + per-query
# window + persist of the distributed metadata placement, which stays
# the only one that prunes past this bound
_META_COLLECT_MAX = 1_000_000

# the last distributed θ pass's persisted segment-metadata frame;
# released when the next one starts
_BATCH_META_CACHE = None


def clear_batch_meta_cache() -> None:
    """Release the persisted batch segment-metadata frame (owned here;
    external callers must use this rather than touching the global)."""
    global _BATCH_META_CACHE
    if _BATCH_META_CACHE is not None:
        try:
            _BATCH_META_CACHE.unpersist()
        except Exception:
            pass
        _BATCH_META_CACHE = None


class _DriverSegMeta:
    """Segment metadata in driver pandas, off ONE narrow collect of
    (term, seg, n, seg_max_tfnorm): no metadata shuffle, window or
    persist. ``tq`` maps each term to its (query ordinal, idf) pairs."""

    def __init__(self, spark: SparkSession, full: DataFrame, tq: pd.DataFrame):
        rows = full.select("term", "seg", "n", "seg_max_tfnorm").toPandas()
        # Σ n over ALL queried terms of the segment, before the fan-out
        # to queries: exactly what the θ candidates read if it is picked
        rows["seg_tot"] = rows.groupby("seg")["n"].transform("sum")
        rows = rows.merge(tq, on="term")
        rows["part"] = rows["idf"] * rows["seg_max_tfnorm"]
        self.spark, self.rows = spark, rows[["term", "q", "seg"]]
        self.meta = (
            rows.groupby(["q", "seg"], as_index=False)
            .agg(ub=("part", "sum"), cnt=("n", "sum"), seg_tot=("seg_tot", "first"))
            .sort_values(["q", "ub", "seg"], ascending=[True, False, True])
        )

    def ranked(self, target: int) -> pd.DataFrame:
        """Each query's ≤ ``target`` highest-ub segments, in rank order."""
        return self.meta.groupby("q").head(target)

    def survivors(self, thetas: dict[int, float]) -> tuple[DataFrame, DataFrame]:
        """(term, seg) rows to decode, and the per-seg ``qubs`` lists."""
        m = self.meta
        keep = m[m["ub"] >= m["q"].map(thetas).fillna(0.0) - _THETA_EPS]
        surv = self.rows.merge(keep[["q", "seg"]])[["term", "seg"]].drop_duplicates()
        qubs = [
            (int(s), [(int(q), float(u)) for q, u in zip(g["q"], g["ub"])])
            for s, g in m[m["seg"].isin(surv["seg"])].groupby("seg")
        ]
        return (
            F.broadcast(self.spark.createDataFrame(surv, "term STRING, seg LONG")),
            self.spark.createDataFrame(qubs, _QUBS),
        )


class _SparkSegMeta:
    """:class:`_DriverSegMeta` as a distributed aggregate, persisted for
    the search (ranking, survivors and ``qubs`` all read it). The
    per-query ranking window is partitioned by query: each task sorts
    one query's segment METADATA (~24 B/row), never postings."""

    def __init__(self, spark: SparkSession, full: DataFrame, tq: pd.DataFrame):
        global _BATCH_META_CACHE
        self.tq = spark.createDataFrame(tq, "term STRING, q INT, idf DOUBLE")
        meta = (
            full.select("term", "seg", "n", "seg_max_tfnorm")
            .withColumn("seg_tot", F.sum("n").over(Window.partitionBy("seg")))
            .join(F.broadcast(self.tq), "term")
            .groupBy("q", "seg")
            .agg(
                F.sum(F.col("idf") * F.col("seg_max_tfnorm")).alias("ub"),
                F.sum("n").alias("cnt"),
                F.first("seg_tot").alias("seg_tot"),
            )
        )
        clear_batch_meta_cache()
        self.meta = _BATCH_META_CACHE = meta.persist()

    def ranked(self, target: int) -> pd.DataFrame:
        w = Window.partitionBy("q").orderBy(F.desc("ub"), F.asc("seg"))
        top = self.meta.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= target)
        return top.select("q", "seg", "cnt", "seg_tot", "_rn").toPandas().sort_values(["q", "_rn"])

    def survivors(self, thetas: dict[int, float]) -> tuple[DataFrame, DataFrame]:
        theta = F.create_map(*[F.lit(v) for q, t in thetas.items() for v in (q, t - _THETA_EPS)])
        keep = self.meta.where(F.col("ub") >= F.coalesce(theta[F.col("q")], F.lit(0.0)))
        qt = F.broadcast(self.tq.select("q", "term"))
        surv = keep.join(qt, "q").select("term", "seg").distinct()
        return surv, self.meta.groupBy("seg").agg(F.collect_list(F.struct("q", "ub")).alias("qubs"))


def _prune(
    ix: IndexHandle,
    full: DataFrame,
    qidfs: list[dict[str, float]],
    k: int,
    doc_predicate: Column | None = None,
    allowed: np.ndarray | None = None,
) -> tuple[DataFrame, dict[int, float], dict]:
    """The block-max θ pass of the distributed placement →
    ``(scan, thetas, picked)``: the (term, seg) rows left to decode,
    carrying the block metadata and per-seg ``qubs`` the scorer skips
    blocks by; θ per query ordinal; and the pick accounting
    ``{"segs", "n"}``, n being the exact posting volume the θ candidates
    read (Σ n over every queried row in the picked segments).

    Exactness:

    1. ``ub(q, seg) = Σ_{t ∈ q} idf_t · seg_max_tfnorm(t, seg)`` bounds
       every doc's full score for q inside seg, allowed by a MUST
       predicate or not (doc-aligned segments hold all of a doc's
       postings);
    2. θ_q is the k-th best exact score among q's candidates — allowed
       docs only — in the picked segments. Each query picks its
       highest-ub segments until they cover OVERFETCH·k postings;
       another query's picks only tighten θ. A query whose pick holds
       <k candidates (a selective filter thins them, and a θ from
       unfiltered docs could exceed the k-th allowed score) widens it
       ×4 for up to _PRUNE_FILTER_ROUNDS rounds; once every one of its
       segments is picked it has <k matches and keeps θ = 0;
    3. a (term, seg) row is decoded iff SOME query holding the term has
       ``ub(q, seg) ≥ θ_q − ε``: a dropped row covers only docs provably
       below θ for every query that reaches them through it.

    Placements, chosen from sizes known before the jobs they pick: the
    metadata in driver pandas when #terms × max_segs fits
    _META_COLLECT_MAX, else distributed (:class:`_SparkSegMeta`); the θ
    candidates scored in driver numpy when the picked volume fits
    SERVING_DRIVER_MAX, else by the distributed scorer. A MUST filter
    comes in both renderings: ``doc_predicate`` for the distributed
    candidates, ``allowed`` (its doc_int set on the pinned doc values,
    None when they are not pinned) for the driver ones. ``qubs`` rides a
    broadcast join (postings never shuffle) when #queries × max_segs
    fits _QUBS_BROADCAST_MAX; without it one-term queries still skip."""
    nq = len(qidfs)
    tq = pd.DataFrame(
        [(t, q, idf) for q, idfs in enumerate(qidfs) for t, idf in idfs.items()],
        columns=["term", "q", "idf"],
    ).astype({"q": "int32"})
    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    small = tq["term"].nunique() * max_segs <= _META_COLLECT_MAX
    meta = (_DriverSegMeta if small else _SparkSegMeta)(ix.spark, full, tq)
    thetas: dict[int, float] = {}
    picked: set[int] = set()
    picked_n, target, pending = 0, OVERFETCH * k, set(range(nq))
    for _ in range(_PRUNE_FILTER_ROUNDS + 1):
        ranked = {int(q): g for q, g in meta.ranked(target).groupby("q")}
        pending &= set(ranked)  # a query with no postings needs no θ
        for q in sorted(pending):  # deterministic pick order
            acc = 0
            for s, cnt, tot in zip(ranked[q]["seg"], ranked[q]["cnt"], ranked[q]["seg_tot"]):
                if acc >= target:
                    break
                if s not in picked:
                    picked.add(int(s))
                    picked_n += int(tot)
                acc += int(cnt)
        if not pending:
            break
        in_picked = F.expr(f"seg IN ({','.join(map(str, sorted(picked)))})")
        head = full.where(in_picked).select("term", "postings")
        sub = [idfs if q in pending else {} for q, idfs in enumerate(qidfs)]
        if picked_n <= SERVING_DRIVER_MAX:
            tops = _driver_top_k(ix, head.collect(), sub, k, "or", doc_predicate, allowed)
        else:
            tops = _collect_top_k(_aggregate(ix, head, sub, None, doc_predicate), nq, k)
        thetas.update({q: top[-1][1] for q, top in enumerate(tops) if len(top) == k})
        # every segment of a query in view and still <k candidates: it
        # has <k matches, and no further round can add one
        pending = {
            q
            for q in pending
            if q not in thetas
            and not (len(ranked[q]) < target and picked.issuperset(ranked[q]["seg"]))
        }
        if not pending:
            break
        target *= 4
    accounting = {"segs": sorted(picked), "n": picked_n}
    if not thetas:
        return full.select("term", "postings"), {}, accounting
    surv, qubs = meta.survivors(thetas)
    scan = full.join(surv, ["term", "seg"], "left_semi")
    cols = ["term", "postings", "block_max_tfnorm", "seg_max_tfnorm"]
    if nq * max_segs <= _QUBS_BROADCAST_MAX:
        scan, cols = scan.join(F.broadcast(qubs), "seg", "left"), cols + ["qubs"]
    return scan.select(*cols), thetas, accounting
