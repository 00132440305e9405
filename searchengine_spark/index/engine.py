"""Query engine over the materialized postings index.

Mirrors the reference's query path (``internal/search/search.go:114-165``:
term split → fuzzy/synonym expansion → boolean MUST filters → score →
top-k) but as a distributed plan over the compressed postings table:

1. driver: expand + dedup query terms, look up per-term (df, bucket)
   in the pinned term dictionary (a parquet-pushdown point read of the
   ``terms`` table when the vocabulary is too large to pin), compute
   idf per term;
2. scan only the postings **buckets** the query terms hash to
   (directory partition pruning) with ``term IN (...)`` pushed to
   parquet row groups;
3. **block-max pruning** (WAND-style, north_rule): segments are
   doc-aligned across terms (``seg = doc_int >> 16``), so
   ``ub(seg) = Σ_t idf_t · seg_max_tfnorm(t, seg)`` bounds the total
   BM25 score of every doc in that segment. A metadata-only pass (no
   postings bytes read — column pruning) scores the richest segments
   first, establishes θ = k-th best exact score, and prunes every
   segment with ``ub ≤ θ``. Exactness is preserved: a pruned segment
   cannot contain a doc beating θ.
4. decode+score survivors in an Arrow ``mapInPandas`` (vectorized
   numpy; per-128-entry block bounds skip cold blocks within a
   segment), aggregate per doc, global top-k via
   ``orderBy().limit(k)`` (TakeOrderedAndProject);
5. hydrate doc_id (and any payload) from the pinned doc-name column,
   or ``docmap`` with an ``isin``-pushdown point lookup on corpora too
   large to pin.

Serving state lives on the :class:`IndexHandle`: it resolves each
artifact DataFrame (postings / terms / docmap) once and pins the term
dictionary, doc names and filter sets driver-side, so a warm query on
the driver fast path runs one Spark job (the Σdf-bounded postings
collect). Re-reading the artifact on every access cost a parquet
schema-inference job each time: on the sf0.01 serve benchmark
(4 vCPUs) pinning took ``search_index`` from 2 jobs to 1 and a
filter-set miss from 2 to 1. Resolving an artifact starts no job
either: the build records each artifact's schema in the manifest. A
published snapshot never changes; a new snapshot gets a new handle
(:func:`open_index`).

The result is rank-identical to :func:`..query.bm25.search_direct`
(tested in tests/test_index_engine.py): same float64 expression shape,
same score-desc/doc_id-asc tie-break.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import semantics as S
from .catalog import IndexCatalog, Snapshot
from .codec import BLOCK, SEG_SPAN, decode_postings


# hold the term dictionary driver-side below this vocabulary size — the
# analogue of Bleve keeping its FST term dictionary in memory. Above it
# (web-scale vocabularies) term lookups stay distributed point-reads.
# Budgeted honestly for CPython dict overhead (~150-250 B/entry
# measured, tests/test_index_engine.py::test_driver_cache_budgets):
# 1 M entries ≈ 150-250 MB driver heap.
TERM_CACHE_MAX = 1_000_000
# gate for the doc_int → doc_id table. The pinned form is ONE Arrow
# string column indexed by the dense doc_int (no per-entry CPython
# objects): ~(avg doc_id bytes + 8) per entry ≈ 25-30 B → 5 M entries
# ≈ 150 MB driver heap (budget-tested alongside the term cache).
DOC_NAME_CACHE_MAX = 5_000_000


class _DocNames:
    """Dense doc_int → doc_id lookup over one Arrow string column —
    doc_int is the array index (dense 0..N-1 numbering from the
    build). No per-entry CPython objects are held; ``nbytes`` is the
    real pinned footprint."""

    def __init__(self, arr):
        self._arr = arr  # pyarrow (Chunked)Array of doc_id, doc_int order

    def __getitem__(self, doc_int: int) -> str:
        return self._arr[doc_int].as_py()

    def __len__(self) -> int:
        return len(self._arr)

    @property
    def nbytes(self) -> int:
        return int(self._arr.nbytes)

# serving fast path: when the query terms' TOTAL posting count (Σ df,
# known driver-side from the term dictionary before any job runs) is
# at most this, the matching segment blobs are collected and scored in
# driver numpy — one JVM-only collect instead of a mapInPandas job
# (no Python workers, no shuffle). This is the Lucene/Bleve serving
# shape (one node scores a query); heavy queries above the cap keep
# the distributed block-max path, so no unbounded driver transfer can
# occur: Σ df bounds the decoded entries (~6 B/entry on the wire).
import os as _os

SERVING_DRIVER_MAX = int(_os.environ.get("SENG_SERVING_DRIVER_MAX", "2000000"))
# cached filter sets pinned per snapshot (Lucene filter-cache analogue)
_FILTER_CACHE_ENTRIES = 8


@dataclass
class IndexHandle:
    """Serving context of ONE published snapshot.

    Pins, each resolved on first use and kept for the handle's
    lifetime: the artifact DataFrames (``postings`` / ``terms`` /
    ``docmap`` — the parquet file listing and schema, or the
    Iceberg read at the pinned ``snapshot-id``), the term dictionary,
    the doc-name column and up to ``_FILTER_CACHE_ENTRIES`` filter sets.
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

    def doc_names(self) -> "_DocNames | None":
        """Driver-cached doc_int → doc_id (indexable by doc_int), or
        None when the corpus is too large to pin (callers fall back to
        a docmap point-read). The serving analogue of keeping the docID
        lookup table hot — saves the hydration job. Pinned as a single
        Arrow string column (doc_int = array index; the numbering is
        dense by construction), so the footprint is the string bytes +
        offsets, not CPython dict entries; the transfer itself is
        Arrow-native (``toArrow``), never row objects."""
        cached = getattr(self, "_doc_names", False)
        if cached is not False:
            return cached
        if self.stats["n_docs"] > DOC_NAME_CACHE_MAX:
            self._doc_names = None
        else:
            tbl = (
                self.docmap()
                .select("doc_int", "doc_id")
                .toArrow()
                .sort_by("doc_int")
            )
            self._doc_names = _DocNames(tbl.column("doc_id").combine_chunks())
        return self._doc_names

    def filter_doc_ints(self, doc_predicate: Column) -> "object | None":
        """Lucene-style cached filter set: the sorted doc_int array
        satisfying ``doc_predicate``, evaluated against docmap ONCE per
        (snapshot, predicate) and pinned driver-side — repeated
        filtered queries then add no Spark job. None when the
        corpus is too large to pin a filter set (callers fall back to
        the distributed semi-join). Bounded: ≤ _FILTER_CACHE_ENTRIES
        arrays of ≤ n_docs int64 each, evicted FIFO."""
        if self.stats["n_docs"] > DOC_NAME_CACHE_MAX:
            return None
        import numpy as np

        key = str(doc_predicate._jc)
        cache: dict = getattr(self, "_filter_cache", None) or {}
        arr = cache.get(key)
        if arr is None:
            pdf = self.docmap().where(doc_predicate).select("doc_int").toPandas()
            arr = np.sort(pdf["doc_int"].to_numpy(dtype=np.int64))
            while len(cache) >= _FILTER_CACHE_ENTRIES:
                cache.pop(next(iter(cache)))
            cache[key] = arr
            self._filter_cache = cache
        return arr

    def term_dict(self) -> dict[str, tuple[int, int]] | None:
        """Driver-cached term → (df, bucket), or None if the vocabulary
        is too large to pin (callers fall back to point-reads)."""
        cached = getattr(self, "_term_dict", False)
        if cached is not False:
            return cached
        rows = self.terms().select("term", "df", "bucket").limit(TERM_CACHE_MAX + 1).collect()
        if len(rows) > TERM_CACHE_MAX:
            self._term_dict = None
        else:
            self._term_dict = {r["term"]: (int(r["df"]), int(r["bucket"])) for r in rows}
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


def _decode_tfnorm(blob: bytes, avgdl: float) -> tuple["object", "object"]:
    """Decode one postings blob → (doc_ints, tfnorm) float64 arrays.
    THE single home of the BM25 tf-normalization expression on the
    decode side — every scorer (executor mapInPandas and driver numpy)
    must call this so the association order stays bit-identical to
    ``bm25_score_expr`` and the plans can never desynchronize."""
    import numpy as np

    k1, b = S.K1, S.B
    docs, tfs, dls = decode_postings(blob)
    tfd = tfs.astype(np.float64)
    dld = dls.astype(np.float64)
    # identical association to bm25_score_expr → bit-equal f64
    tfn = tfd * (k1 + 1.0) / (tfd + k1 * ((1.0 - b) + b * dld / avgdl))
    return docs, tfn


def _make_scorer(idfs: dict[str, float], avgdl: float, theta: float = 0.0):
    """mapInPandas stage: decode segments → per-entry contributions.

    Emits (doc_int, contrib). Block-max WAND skip (north_star), exact
    for ANY number of query terms: segments are doc-aligned across
    terms (codec.SEG_SPAN), so for block b of term t in segment s

        bound(t, b) = idf_t·block_max_tfnorm(b) + Σ_{u≠t} idf_u·seg_max_tfnorm(u, s)

    upper-bounds the TOTAL BM25 score of every doc in that block. The
    cross-term complement arrives as the ``seg_ub`` column (segment
    ub = Σ_t idf_t·seg_max, attached by ``_prune_segments``), so
    other = seg_ub − idf_t·seg_max_t — exactly 0.0 for single-term
    queries. Dropping a block with bound < θ − ε is exact even though
    the doc's OTHER term contributions still flow: its total score is
    provably < θ, so its (partial) aggregate can never reach the top-k
    boundary, ties at θ included.
    """
    k1, b = S.K1, S.B

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            outs_d, outs_s = [], []
            prune = theta > 0.0 and "seg_ub" in pdf.columns
            seg_ubs = pdf["seg_ub"] if prune else pdf["term"]
            seg_maxes = pdf["seg_max_tfnorm"] if prune else pdf["term"]
            for term, blob, bmax, seg_ub, seg_max in zip(
                pdf["term"], pdf["postings"], pdf["block_max_tfnorm"], seg_ubs, seg_maxes
            ):
                idf = idfs[term]
                docs, tfn = _decode_tfnorm(bytes(blob), avgdl)
                contrib = idf * tfn
                if prune:
                    other = float(seg_ub) - idf * float(seg_max)
                    bm = np.asarray(bmax, dtype=np.float64) * idf + other
                    keep_block = bm >= theta - _THETA_EPS
                    if not keep_block.all():
                        mask = np.repeat(keep_block, BLOCK)[: len(docs)]
                        docs, contrib = docs[mask], contrib[mask]
                outs_d.append(docs)
                outs_s.append(contrib)
            if outs_d:
                yield pd.DataFrame(
                    {
                        "doc_int": np.concatenate(outs_d),
                        "contrib": np.concatenate(outs_s),
                    }
                )

    return score_batches


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """Typed empty frame whose collect runs no Spark job: the optimizer
    folds the always-false filter into an empty local relation (a bare
    ``createDataFrame([])`` is an RDD scan — one job per collect)."""
    return spark.createDataFrame([], schema).where(F.lit(False))


def _result_df(spark: SparkSession, pairs: list[tuple[str, float]]) -> DataFrame:
    """(doc_id, score) rows → result DataFrame via Arrow from pandas —
    ~8× cheaper per query than the row-tuple createDataFrame path (the
    serving result is rebuilt on every call, so this fixed cost is on
    the latency floor). Like the empty result, it collects with no job."""
    if not pairs:
        return _empty(spark, "doc_id STRING, score DOUBLE")
    import numpy as np

    pdf = pd.DataFrame(
        {
            "doc_id": np.array([p[0] for p in pairs], dtype=object),
            "score": np.array([p[1] for p in pairs], dtype=np.float64),
        }
    )
    return spark.createDataFrame(pdf, schema="doc_id STRING, score DOUBLE")


def _score_rows_driver(
    rows: list, idfs: dict[str, float], avgdl: float
) -> tuple["object", "object", "object"]:
    """Decode + score collected segment rows in driver numpy — the same
    float64 expression shape as :func:`_make_scorer`, aggregated per
    doc. Returns (doc_ints, scores, matched_term_counts) as arrays.
    Caller guarantees the row set is Σ-df bounded (SERVING_DRIVER_MAX /
    the pruned pick set)."""
    import numpy as np

    k1, b = S.K1, S.B
    ds, cs = [], []
    for r in rows:
        idf = idfs[r["term"]]
        docs, tfn = _decode_tfnorm(bytes(r["postings"]), avgdl)
        ds.append(docs)
        cs.append(idf * tfn)
    if not ds:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0), np.zeros(0, dtype=np.int64)
    docs = np.concatenate(ds)
    contribs = np.concatenate(cs)
    uniq, inv, counts = np.unique(docs, return_inverse=True, return_counts=True)
    sums = np.bincount(inv, weights=contribs, minlength=len(uniq))
    return uniq, sums, counts


# pruning pays only when there are enough doc-aligned segments for the
# metadata pass to skip some; below this the extra driver round-trips
# cost more than scanning every segment
PRUNE_MIN_DOCS = 4 * (1 << 16)
# batch-path pruning additionally requires a real decode volume: below
# this Σ df (known driver-side from the term dictionary, no job) the
# direct one-pass decode is cheaper than the θ-establishment round.
# Measured on a 4 M-doc index: the prune pass costs ~2.5 s of fixed
# metadata/θ jobs and skips ~10 % of a multi-term batch's decode
# (≥50 % for single-term qids, where the WAND bound is tight) — at
# ~1 M decoded postings/s/core that breaks even around 10⁷ postings
PRUNE_MIN_POSTINGS = 4 * SERVING_DRIVER_MAX
# MUST-filtered θ establishment: extra ×4 pick-set expansion rounds
# before giving up (θ=0) when the picked segments hold <k ALLOWED docs.
# 3 rounds × overfetch 4 × k 10 reaches a 2560-doc candidate pool —
# enough for ~0.5 % selectivity filters — while every round stays a
# bounded metadata collect + a ≤2560-doc scoring job
_PRUNE_FILTER_ROUNDS = 3
# per-seg (qid, ub) block-skip metadata is broadcast onto the scan only
# below this (#qids × max-possible-segs) bound — ~32 B/entry → ≤128 MB
_QUBS_BROADCAST_MAX = 4_000_000
# the batch prune's per-(term, seg) metadata is collected and the whole
# pick/ub/survivor computation runs in driver numpy when
# #terms × max-possible-segs fits this bound (~80 B/row → ≤80 MB): one
# narrow JVM collect replaces the metadata shuffle + per-qid window +
# persist of the distributed pass (which remains the fallback for
# huge-corpus × many-term batches)
_META_COLLECT_MAX = 1_000_000

# last batch search's persisted segment-metadata frame (see
# _prune_segments_many); released when the next batch search starts
_BATCH_META_CACHE = None

# diagnostic: the last θ-pass pick set and its EXACT postings volume
# (Σ n over every queried (term, seg) row landing in the picked segs —
# the quantity the SERVING_DRIVER_MAX collect gate bounds); tests
# assert it against an independent recount
_LAST_PICKED: dict | None = None


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


from ..metrics import timed


@timed("search_index")
def search_index(
    ix: IndexHandle,
    terms: list[str],
    *,
    k: int = S.TOP_K,
    doc_predicate: Column | None = None,
    prune: bool = True,
    overfetch: int = 4,
    mode: str = "or",
) -> DataFrame:
    """Top-k (doc_id, score) over the postings index — rank-identical to
    the direct path. ``doc_predicate`` filters candidate docs via docmap
    (MUST block, reference search.go:133-139); df/idf stay corpus-global.
    ``mode="and"`` keeps only docs matching every term (posting-list
    intersection, J4; pruning is disabled there — the OR-score θ bound
    is not sound for conjunctive top-k).

    Serving-path job budget on a warm handle (artifact frames, term
    dictionary and doc names pinned): ONE job when Σ df fits
    SERVING_DRIVER_MAX — the bucket+term-pruned postings collect scored
    in driver numpy — plus one docmap job the first time a MUST
    predicate is seen (its filter set is pinned for repeats). Above the
    cap: one score+top-k job (TakeOrderedAndProject over the postings
    scan), plus the θ-establishment metadata jobs when block-max
    pruning engages (large corpora). Only corpora too large to pin add
    a terms and a docmap point-read."""
    spark = ix.spark
    terms = list(dict.fromkeys(terms))
    meta = term_meta(ix, terms)
    if mode == "and" and len(meta) < len(terms):
        # a term absent from the corpus can never satisfy the conjunction
        return _result_df(spark, [])
    terms = [t for t in terms if t in meta]  # OR: unseen terms match nothing
    if not terms:
        return _result_df(spark, [])
    st = ix.stats
    idfs = {t: _idf(st["n_docs"], meta[t][0]) for t in terms}

    segs = (
        ix.postings()
        .where(F.col("bucket").isin(sorted({meta[t][1] for t in terms})))
        .where(F.col("term").isin(terms))
    )

    # serving fast path: Σ df (exact, from the term dictionary — zero
    # jobs) bounds the decode work, so light queries collect their few
    # segment blobs and score in driver numpy: one JVM-only collect,
    # no Python workers, no shuffle. Heavy queries (Σ df above the
    # cap) fall through to the distributed block-max plan — the
    # driver transfer is provably bounded either way.
    if sum(meta[t][0] for t in terms) <= SERVING_DRIVER_MAX:
        return _search_driver(ix, segs, terms, idfs, k, mode, doc_predicate)

    # ONE allowed-docs frame serves both the θ-establishment inside
    # _prune_segments and the post-aggregation MUST semi-join below —
    # the pruning proof requires both sides to use the same predicate
    allowed = (
        ix.docmap().where(doc_predicate).select("doc_int")
        if doc_predicate is not None
        else None
    )
    theta = 0.0
    if prune and mode == "or" and st["n_docs"] >= PRUNE_MIN_DOCS:
        # MUST-filtered queries prune too: θ is established among
        # ALLOWED docs only (a θ from the unfiltered corpus could
        # exceed the k-th allowed score → unsound), and every bound
        # still upper-bounds every doc, allowed or not
        segs, theta = _prune_segments(ix, segs, idfs, k, overfetch, allowed=allowed)
    if mode == "and" and len(terms) > 1:
        # conjunctive segment pruning (exact): segments are doc-aligned
        # across terms, so a doc matching ALL terms can only live in a
        # segment where EVERY term has postings — intersect the per-term
        # segment sets from metadata columns alone (the OR θ-bound is
        # not sound for AND; this intersection is, and it is usually
        # far stronger for selective conjunctions)
        full = (
            segs.groupBy("seg")
            .agg(F.count_distinct("term").alias("_nt"))
            .where(F.col("_nt") == len(terms))
            .select("seg")
        )
        segs = segs.join(F.broadcast(full), "seg", "left_semi")

    score_cols = ["term", "postings", "block_max_tfnorm"]
    if theta > 0.0 and "seg_ub" in segs.columns:
        score_cols += ["seg_max_tfnorm", "seg_ub"]
    scored = segs.select(*score_cols).mapInPandas(
        _make_scorer(idfs, st["avgdl"], theta), "doc_int LONG, contrib DOUBLE"
    )

    agg = scored.groupBy("doc_int").agg(
        F.sum("contrib").alias("score_raw"), F.count(F.lit(1)).alias("_nt")
    )
    if allowed is not None:
        # MUST filter commutes with per-doc aggregation (it drops whole
        # docs, never individual term contributions) — joining AFTER the
        # groupBy semi-joins the few aggregated rows instead of every
        # (term, doc) contribution row
        agg = agg.join(allowed, "doc_int", "left_semi")
    if mode == "and":
        # one scorer row per (term, doc) → row count == matched terms
        agg = agg.where(F.col("_nt") == len(terms))
    top_rows = (
        # doc_int order == doc_id order (monotone numbering) → the
        # tie-break at the k boundary is exact before hydration
        agg.orderBy(F.desc("score_raw"), F.asc("doc_int"))
        .limit(k)
        .collect()
    )
    return _hydrate_pairs(ix, [(int(r["doc_int"]), float(r["score_raw"])) for r in top_rows])


def _hydrate_pairs(ix: IndexHandle, sel: list[tuple[int, float]]) -> DataFrame:
    """≤k (doc_int, raw score) → ordered (doc_id, score) result frame.
    doc_id comes from the pinned doc-name cache when available, else
    one docmap point-read over the ≤k ids (isin pushdown)."""
    if not sel:
        return _result_df(ix.spark, [])
    id2name = ix.doc_names()
    if id2name is None:  # corpus too large to pin: docmap point-read
        ids = [d for d, _ in sel]
        id2name = {
            int(r["doc_int"]): r["doc_id"]
            for r in ix.docmap()
            .where(F.col("doc_int").isin(ids))
            .select("doc_int", "doc_id")
            .collect()
        }
    out = sorted(((id2name[d], s) for d, s in sel), key=lambda x: (-x[1], x[0]))
    return _result_df(ix.spark, [(d, S.round_score(s)) for d, s in out])


def _search_driver(
    ix: IndexHandle,
    segs: DataFrame,
    terms: list[str],
    idfs: dict[str, float],
    k: int,
    mode: str,
    doc_predicate: Column | None,
) -> DataFrame:
    """Driver-resident scoring for Σ-df-bounded queries (the serving
    fast path of :func:`search_index` — see SERVING_DRIVER_MAX).

    A doc's postings for EVERY query term live in its one doc-aligned
    segment (``seg = doc_int >> 16``), so the collected rows carry
    complete per-doc scores: aggregation here is exact, and mode="and"
    reduces to counting matched terms per doc. A MUST predicate still
    evaluates distributed (docmap semi-join over the candidate frame —
    the predicate may touch any metadata column at corpus scale)."""
    spark = ix.spark
    import numpy as np

    rows = segs.select("term", "postings").collect()  # JVM-only, Σ-df bounded
    uniq, sums, counts = _score_rows_driver(rows, idfs, ix.stats["avgdl"])
    if mode == "and" and len(terms) > 1:
        m = counts == len(terms)
        uniq, sums = uniq[m], sums[m]
    if len(uniq) == 0:
        return _result_df(spark, [])
    if doc_predicate is not None:
        allowed = ix.filter_doc_ints(doc_predicate)
        if allowed is not None:
            # cached filter set (first use pays one docmap job; repeats
            # are zero-job): membership via sorted searchsorted
            idx = np.searchsorted(allowed, uniq)
            idx[idx >= len(allowed)] = max(len(allowed) - 1, 0)
            m = len(allowed) > 0
            m = (allowed[idx] == uniq) if m else np.zeros(len(uniq), dtype=bool)
            uniq, sums = uniq[m], sums[m]
            if len(uniq) == 0:
                return _result_df(spark, [])
        else:
            # corpus too large for a pinned filter set: probe candidates
            # in rank order against docmap — the first k that satisfy
            # the MUST predicate ARE the global top-k (everything
            # unprobed ranks below everything probed); escalate
            # geometrically on the rare under-selective predicate.
            order = np.lexsort((uniq, -sums))
            probe = min(len(order), max(50 * k, 500))
            while True:
                sub = order[:probe]
                cand = spark.createDataFrame(
                    pd.DataFrame({"doc_int": uniq[sub], "score_raw": sums[sub]}),
                    schema="doc_int LONG, score_raw DOUBLE",
                )
                top_rows = (
                    cand.join(
                        ix.docmap().where(doc_predicate).select("doc_int"),
                        "doc_int",
                        "left_semi",
                    )
                    .orderBy(F.desc("score_raw"), F.asc("doc_int"))
                    .limit(k)
                    .collect()
                )
                if len(top_rows) >= k or probe >= len(order):
                    break
                probe = min(len(order), probe * 8)
            return _hydrate_pairs(
                ix, [(int(r["doc_int"]), float(r["score_raw"])) for r in top_rows]
            )
    order = np.lexsort((uniq, -sums))[:k]  # exact final rank order
    return _hydrate_pairs(ix, [(int(uniq[i]), float(sums[i])) for i in order])


@timed("search_many")
def search_many(
    ix: IndexHandle,
    queries: dict[str, list[str]],
    *,
    k: int = S.TOP_K,
    prune: bool = True,
    overfetch: int = 4,
    driver: bool | None = None,
) -> DataFrame:
    """Batched top-k for MANY queries in ONE distributed pass →
    (qid, doc_id, score), ordered (qid, score desc, doc_id).

    The offline-evaluation path: one postings scan over the union of
    all query terms, segments decoded once and fanned out to every
    query containing the term, per-query top-k via a window — per-job
    scheduling cost amortizes over the whole batch (serving N queries
    one-by-one pays it N times).

    Like the serving path, a batch whose UNION posting volume (Σ df
    over the distinct terms, known driver-side before any job) fits
    SERVING_DRIVER_MAX collects the segment blobs in ONE JVM action
    and scores every query in driver numpy — the whole batch costs one
    bounded collect instead of a shuffle + window. ``driver=False``
    forces the distributed plan (e.g. to keep a huge result set on the
    cluster); ``driver=True`` forces the collect.

    On large corpora (PRUNE_MIN_DOCS) with a real decode volume
    (Σ df ≥ PRUNE_MIN_POSTINGS — both known driver-side from the term
    dictionary, no job) the distributed scan is pruned per query
    before any postings byte is decoded, at two granularities:

    - SEGMENT level: a metadata pass establishes a per-qid θ (k-th
      exact candidate score inside each query's richest segments —
      computed in driver numpy when the pick set is Σ-n bounded), and
      a ``(term, seg)`` row is decoded only if SOME query containing
      the term has ``ub(qid, seg) ≥ θ_qid``;
    - BLOCK level: inside the scorer, each 128-posting block is skipped
      PER QID when ``idf_t·block_max + (ub(qid,seg) − idf_t·seg_max)``
      falls below θ_qid — the same cross-term-complement WAND bound as
      the serving scorer, exact for any term count because doc-aligned
      segments carry a doc's complete per-query score. Measured on a
      4 M-doc index: the segment bound is loose for common terms (seg
      maxima ≈ the global max) but the block bound skips ~99 % of a
      heavy term's blocks.

    See :func:`_prune_segments_many`."""
    from pyspark.sql import Window

    spark = ix.spark
    qterms = {q: list(dict.fromkeys(ts)) for q, ts in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    meta = term_meta(ix, all_terms)
    st = ix.stats
    term_q: dict[str, list[tuple[str, float]]] = {}
    for qid, ts in qterms.items():
        for t in ts:
            if t in meta:
                term_q.setdefault(t, []).append((qid, _idf(st["n_docs"], meta[t][0])))
    if not term_q:
        return _empty(spark, "qid STRING, doc_id STRING, score DOUBLE")

    full = (
        ix.postings()
        .where(F.col("bucket").isin(sorted({meta[t][1] for t in term_q})))
        .where(F.col("term").isin(list(term_q)))
    )
    total_df = sum(meta[t][0] for t in term_q)
    if driver is None:
        driver = total_df <= SERVING_DRIVER_MAX
    if driver:
        return _search_many_driver(ix, full, term_q, k)
    # NOTE a whole-query hybrid split (light qids answered by a driver
    # collect, heavy qids distributed) was measured on the 4 M-doc
    # corpus and REJECTED: the heavy remainder pays the same fixed
    # plan costs and the light qids ride the shared distributed scan
    # nearly free, so the split only serialized work the cluster was
    # doing in parallel (4.4 s both ways). The win that survives is
    # folding the prune pass's METADATA machinery driver-side — see
    # _prune_segments_many_driver.
    thetas: dict[str, float] | None = None
    if (
        prune
        and st["n_docs"] >= PRUNE_MIN_DOCS
        and total_df >= PRUNE_MIN_POSTINGS
    ):
        segs, thetas = _prune_segments_many(ix, full, term_q, k, overfetch)
    else:
        segs = full.select("term", "postings")
    scored = segs.mapInPandas(
        _make_batch_scorer(term_q, st["avgdl"], thetas),
        "qid STRING, doc_int LONG, contrib DOUBLE",
    )
    agg = scored.groupBy("qid", "doc_int").agg(F.sum("contrib").alias("score_raw"))
    w = Window.partitionBy("qid").orderBy(F.desc("score_raw"), F.asc("doc_int"))
    top = agg.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    return (
        top.join(ix.docmap().select("doc_int", "doc_id"), "doc_int")
        .select("qid", "doc_id", F.round("score_raw", S.SCORE_DECIMALS).alias("score"), "score_raw")
        .orderBy("qid", F.desc("score_raw"), F.asc("doc_id"))
        .drop("score_raw")
    )


def _make_batch_scorer(
    term_q: dict[str, list[tuple[str, float]]],
    avgdl: float,
    thetas: dict[str, float] | None = None,
):
    """mapInPandas stage for the batch path: decode each (term, seg)
    row ONCE and fan its contributions out to every query containing
    the term — (qid, doc_int, contrib) rows.

    When the pruning pass supplied per-qid θ values AND the input rows
    carry block metadata, each 128-posting block is skipped PER QID via
    the same cross-term-complement WAND bound as the serving scorer
    (:func:`_make_scorer`):

        bound(qid, t, b) = idf_t·block_max(b) + (ub(qid,seg) − idf_t·seg_max(t,seg))

    where ``ub(qid,seg)`` arrives as the row's ``qubs`` list (attached
    by a broadcast join of per-seg metadata). For single-term qids the
    complement is identically 0.0, so those skip even when ``qubs`` is
    absent (the attach is size-gated). Dropping a block for a qid is
    exact: every doc in it provably scores below θ_qid in TOTAL, so its
    partial contribution can never reach that query's top-k boundary."""
    k1, b = S.K1, S.B
    qid_nterms: dict[str, int] = {}
    for lst in term_q.values():
        for qid, _ in lst:
            qid_nterms[qid] = qid_nterms.get(qid, 0) + 1

    def score_batches(batches):
        import numpy as np

        for pdf in batches:
            qids, dints, contribs = [], [], []
            blocks_on = thetas is not None and "block_max_tfnorm" in pdf.columns
            bm_col = pdf["block_max_tfnorm"] if blocks_on else pdf["term"]
            sm_col = pdf["seg_max_tfnorm"] if blocks_on else pdf["term"]
            qu_col = pdf["qubs"] if blocks_on and "qubs" in pdf.columns else pdf["term"]
            for term, blob, bmax, seg_max, qubs in zip(
                pdf["term"], pdf["postings"], bm_col, sm_col, qu_col
            ):
                docs, tfs, dls = decode_postings(bytes(blob))
                tfd = tfs.astype(np.float64)
                dld = dls.astype(np.float64)
                tfn = tfd * (k1 + 1.0) / (tfd + k1 * ((1.0 - b) + b * dld / avgdl))
                if blocks_on:
                    bm = np.asarray(bmax, dtype=np.float64)
                    ubd = (
                        {e["qid"]: float(e["ub"]) for e in qubs}
                        if qubs is not None and not isinstance(qubs, str)
                        else None
                    )
                for qid, idf in term_q[term]:
                    d, c = docs, idf * tfn
                    theta = thetas.get(qid, 0.0) if thetas else 0.0
                    if blocks_on and theta > 0.0:
                        if qid_nterms[qid] == 1:
                            other = 0.0
                        elif ubd is not None and qid in ubd:
                            other = ubd[qid] - idf * float(seg_max)
                        else:
                            other = None  # complement unknown → no skip
                        if other is not None:
                            keep = bm * idf + other >= theta - _THETA_EPS
                            if not keep.all():
                                mask = np.repeat(keep, BLOCK)[: len(docs)]
                                d, c = docs[mask], c[mask]
                    qids.append(np.full(len(d), qid, dtype=object))
                    dints.append(d)
                    contribs.append(c)
            if dints:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(qids),
                        "doc_int": np.concatenate(dints),
                        "contrib": np.concatenate(contribs),
                    }
                )

    return score_batches


def _establish_batch_thetas(
    ix: IndexHandle,
    full: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
    picked_segs: set[int],
    picked_n: int,
) -> dict[str, float]:
    """Per-qid θ = k-th best exact candidate score inside the picked
    segments. The pick set's posting count is known from metadata, so
    when it fits SERVING_DRIVER_MAX this is ONE bounded JVM collect
    scored in driver numpy; only an oversized pick set pays a
    distributed candidate job. Shared by both metadata paths of
    :func:`_prune_segments_many`."""
    from pyspark.sql import Window

    spark = ix.spark
    pick_df = spark.createDataFrame(
        pd.DataFrame({"seg": sorted(picked_segs)}), schema="seg LONG"
    )
    head = full.join(F.broadcast(pick_df), "seg", "left_semi")
    if picked_n <= SERVING_DRIVER_MAX:
        rows = head.select("term", "postings").collect()  # Σ-n bounded pick set
        return _batch_thetas_driver(rows, term_q, ix.stats["avgdl"], k)
    cand = (
        head.select("term", "postings")
        .mapInPandas(
            _make_batch_scorer(term_q, ix.stats["avgdl"]),
            "qid STRING, doc_int LONG, contrib DOUBLE",
        )
        .groupBy("qid", "doc_int")
        .agg(F.sum("contrib").alias("sc"))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("sc"))
    kth = (
        cand.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") == k)
        .select("qid", "sc")
        .collect()  # ≤ #qids rows; a qid with < k candidates gets θ=0
    )
    return {r["qid"]: float(r["sc"]) for r in kth}


def _prune_segments_many_driver(
    ix: IndexHandle,
    full: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
    overfetch: int,
) -> tuple[DataFrame, dict[str, float]]:
    """Driver-numpy metadata path of :func:`_prune_segments_many` —
    identical semantics (same ub definition, greedy pick, θ, survivor
    rule, qubs attach), but the per-(term, seg) metadata is ONE narrow
    JVM collect (≤ #terms × max_segs rows, gated by _META_COLLECT_MAX)
    and the pick/ub/survivor computation is plain dict/loop work over
    it: no metadata shuffle, no per-qid window, no persist — the fixed
    prune cost a near-break-even batch pays drops ~2.5×."""
    spark = ix.spark
    mrows = full.select("term", "seg", "n", "seg_max_tfnorm").collect()
    # per-seg posting totals (over ALL queried terms — the exact number
    # the θ pass collects if the segment is picked) and per-(qid, seg)
    # ub sums / per-qid coverage counts
    seg_tot: dict[int, int] = {}
    ubs: dict[tuple[str, int], float] = {}
    cnts: dict[tuple[str, int], int] = {}
    for r in mrows:
        s, n, smax = int(r["seg"]), int(r["n"]), float(r["seg_max_tfnorm"])
        seg_tot[s] = seg_tot.get(s, 0) + n
        for qid, idf in term_q[r["term"]]:
            key = (qid, s)
            ubs[key] = ubs.get(key, 0.0) + idf * smax
            cnts[key] = cnts.get(key, 0) + n
    per_qid: dict[str, list[tuple[float, int]]] = {}
    for (qid, s), ub in ubs.items():
        per_qid.setdefault(qid, []).append((ub, s))
    picked_segs: set[int] = set()
    picked_n = 0
    for qid in sorted(per_qid):  # deterministic pick order
        lst = sorted(per_qid[qid], key=lambda x: (-x[0], x[1]))
        acc = 0
        for ub, s in lst[: overfetch * k]:
            if acc >= overfetch * k:
                break
            if s not in picked_segs:
                picked_segs.add(s)
                picked_n += seg_tot[s]
            acc += cnts[(qid, s)]
    global _LAST_PICKED, _BATCH_META_CACHE
    clear_batch_meta_cache()  # release any previous batch's cache
    _LAST_PICKED = {"segs": sorted(picked_segs), "n": picked_n}
    scan_cols = ["term", "seg", "postings", "block_max_tfnorm", "seg_max_tfnorm"]
    if not picked_segs:
        return full.select("term", "postings"), {}
    thetas = _establish_batch_thetas(ix, full, term_q, k, picked_segs, picked_n)
    if not thetas:
        return full.select("term", "postings"), {}
    # survivor rule (identical to the distributed path): a (term, seg)
    # row is decoded iff SOME qid containing the term has
    # ub(qid, seg) ≥ θ_qid − ε; a θ-less qid (<k candidates) keeps all
    # its rows (θ treated as 0)
    surv_pairs = [
        (r["term"], int(r["seg"]))
        for r in mrows
        if any(
            ubs[(qid, int(r["seg"]))] >= thetas.get(qid, 0.0) - _THETA_EPS
            for qid, _ in term_q[r["term"]]
        )
    ]
    if not surv_pairs:
        return full.select("term", "postings"), {}
    surv_df = spark.createDataFrame(
        pd.DataFrame({"term": [t for t, _ in surv_pairs], "seg": [s for _, s in surv_pairs]}),
        schema="term STRING, seg LONG",
    )
    scan = full.join(F.broadcast(surv_df), ["term", "seg"], "left_semi")
    n_qids = len(per_qid)
    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    if n_qids * max_segs <= _QUBS_BROADCAST_MAX:
        surv_segs = {s for _, s in surv_pairs}
        qub_rows = [
            (s, [(qid, ubs[(qid, s)]) for qid in sorted(per_qid) if (qid, s) in ubs])
            for s in sorted(surv_segs)
        ]
        seg_ubs = spark.createDataFrame(
            qub_rows, "seg LONG, qubs ARRAY<STRUCT<qid: STRING, ub: DOUBLE>>"
        )
        scan = scan.join(F.broadcast(seg_ubs), "seg", "left")
        return scan.select(*scan_cols, "qubs"), thetas
    return scan.select(*scan_cols), thetas


def _prune_segments_many(
    ix: IndexHandle,
    full: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
    overfetch: int,
) -> tuple[DataFrame, dict[str, float]]:
    """Per-query pruning for the batch path (:func:`search_many`).
    Returns ``(scan, thetas)``: the (term, seg) rows to decode — with
    block metadata attached so the scorer can skip per-qid — and the
    per-qid θ values.

    All metadata-only until the θ pass; exactness argument:

    1. ``ub(qid, seg) = Σ_{t ∈ qid ∩ seg} idf_t · seg_max_tfnorm``
       upper-bounds every doc's FULL score for ``qid`` inside ``seg``
       (doc-aligned segments: a doc's postings for all of a query's
       terms live in its one segment);
    2. θ_qid = k-th best exact candidate score inside the query's
       greedily-picked richest segments. The pick set's total posting
       count is known from metadata BEFORE any decode, so when it fits
       SERVING_DRIVER_MAX the θ pass is ONE bounded JVM collect scored
       in driver numpy (the common case: ≤ overfetch·k docs of
       coverage per qid); only an oversized pick set pays a
       distributed candidate job. Contributions from OTHER queries'
       picked segments only tighten θ;
    3. a ``(term, seg)`` row is decoded in the main pass iff SOME qid
       containing ``term`` has ``ub(qid, seg) ≥ θ_qid`` (ties kept).
       A dropped row covers only docs provably below θ for every query
       that could reach them through it — exact. (Measured: this seg
       bound is loose for common terms — the real skip happens at
       block granularity inside the scorer, which is why ``scan``
       carries ``block_max_tfnorm``/``seg_max_tfnorm``/``qubs``.);
    4. ``qubs`` (per-seg list of (qid, ub)) rides a BROADCAST join onto
       the scan — postings blobs never shuffle. The attach is gated by
       a driver-computed size bound (#qids × max possible segs); when
       skipped, single-term qids still block-skip (complement ≡ 0).

    The per-qid metadata window is ``partitionBy(qid)`` — parallel
    across the batch; each task sorts one query's segment METADATA
    (~24 B/row), never postings.

    When ``#terms × max_segs`` fits ``_META_COLLECT_MAX`` the whole
    metadata computation instead runs in driver numpy off one narrow
    collect (:func:`_prune_segments_many_driver`) — measured 1.6 s →
    ~0.6 s of fixed prune cost on a 4 M-doc 24-term batch, which is
    what lets ``PRUNE_MIN_POSTINGS`` sit at 2× the driver collect cap
    instead of 4×."""
    from pyspark.sql import Window

    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    if len(term_q) * max_segs <= _META_COLLECT_MAX:
        return _prune_segments_many_driver(ix, full, term_q, k, overfetch)

    spark = ix.spark
    qt_pairs = [(q, t) for t, lst in term_q.items() for q, _ in lst]
    tq = spark.createDataFrame(
        [(t, [(q, float(i)) for q, i in lst]) for t, lst in term_q.items()],
        "term STRING, qs ARRAY<STRUCT<qid: STRING, idf: DOUBLE>>",
    )
    # seg_tot = Σ n over ALL queried (term, seg) rows of the segment —
    # computed BEFORE the per-qid explode so shared terms aren't double
    # counted. This is the exact number of postings the θ pass collects
    # if the segment is picked (`head` below filters on seg only), which
    # is what the SERVING_DRIVER_MAX gate must bound; a per-qid cnt
    # would undercount segments rich for several queries' terms.
    w_seg = Window.partitionBy("seg")
    meta_q = (
        full.select("term", "seg", "n", "seg_max_tfnorm")
        .join(F.broadcast(tq), "term")
        .withColumn("seg_tot", F.sum("n").over(w_seg))
        .select("seg", "n", "seg_tot", "seg_max_tfnorm", F.explode("qs").alias("q"))
        .select(
            F.col("q.qid").alias("qid"),
            "seg",
            "n",
            "seg_tot",
            (F.col("q.idf") * F.col("seg_max_tfnorm")).alias("part"),
        )
        .groupBy("qid", "seg")
        .agg(
            F.sum("part").alias("ub"),
            F.sum("n").alias("cnt"),
            F.first("seg_tot").alias("seg_tot"),
        )
    )
    # meta_q feeds three plans (top-meta collect, survivor semi-join,
    # seg_ubs broadcast) — cache it so the metadata scan + shuffle run
    # once per batch; the previous batch's cache is released here (the
    # stale handle would only recompute, never mis-answer).
    global _BATCH_META_CACHE
    clear_batch_meta_cache()
    meta_q = meta_q.persist()
    _BATCH_META_CACHE = meta_q
    w = Window.partitionBy("qid").orderBy(F.desc("ub"), F.asc("seg"))
    top_meta = (
        meta_q.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= overfetch * k)
        .select("qid", "seg", "cnt", "seg_tot")
        .collect()  # ≤ #qids · overfetch·k metadata rows
    )
    by_qid: dict[str, list] = {}
    for r in top_meta:
        by_qid.setdefault(r["qid"], []).append(r)
    picked_segs: set[int] = set()
    picked_n = 0
    for rows in by_qid.values():  # rows arrive in (ub desc, seg) order per qid
        acc = 0
        for r in rows:
            if acc >= overfetch * k:
                break
            if int(r["seg"]) not in picked_segs:
                picked_segs.add(int(r["seg"]))
                picked_n += int(r["seg_tot"])
            acc += int(r["cnt"])
    scan_cols = ["term", "seg", "postings", "block_max_tfnorm", "seg_max_tfnorm"]
    global _LAST_PICKED
    _LAST_PICKED = {"segs": sorted(picked_segs), "n": picked_n}
    if not picked_segs:
        return full.select("term", "postings"), {}

    thetas = _establish_batch_thetas(ix, full, term_q, k, picked_segs, picked_n)
    if not thetas:
        return full.select("term", "postings"), {}
    theta_map = F.create_map(
        *[F.lit(v) for q, t in thetas.items() for v in (q, t - _THETA_EPS)]
    )
    survivors = meta_q.where(
        F.col("ub") >= F.coalesce(theta_map[F.col("qid")], F.lit(0.0))
    )
    qt = spark.createDataFrame(qt_pairs, "qid STRING, term STRING")
    surv_ts = (
        survivors.join(F.broadcast(qt), "qid").select("term", "seg").distinct()
    )
    scan = full.join(surv_ts, ["term", "seg"], "left_semi")
    # block-skip complement metadata: per-seg (qid, ub) list. Size bound
    # is driver-computable with no job: every queried term spans at most
    # ceil(n_docs/SEG_SPAN) segments.
    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    n_qids = len({q for lst in term_q.values() for q, _ in lst})
    if n_qids * max_segs <= _QUBS_BROADCAST_MAX:
        seg_ubs = meta_q.groupBy("seg").agg(
            F.collect_list(F.struct("qid", "ub")).alias("qubs")
        )
        scan = scan.join(F.broadcast(seg_ubs), "seg", "left")
        return scan.select(*scan_cols, "qubs"), thetas
    return scan.select(*scan_cols), thetas


def _decode_rows_per_term(rows: list, avgdl: float) -> dict[str, list]:
    """Decode collected (term, postings) rows once into per-term
    (docs, tfnorm) arrays — the same float64 expression shape as
    :func:`_make_batch_scorer`."""
    import numpy as np

    per_term: dict[str, list] = {}
    for r in rows:
        docs, tfn = _decode_tfnorm(bytes(r["postings"]), avgdl)
        per_term.setdefault(r["term"], []).append((docs, tfn))
    return per_term


def _qid_doc_scores(
    per_term: dict[str, list], terms: list[tuple[float, str]]
) -> tuple["object", "object"]:
    """One query's exact per-doc scores over decoded arrays →
    (doc_ints, scores), unordered."""
    import numpy as np

    ds, cs = [], []
    for idf, t in terms:
        for docs, tfn in per_term.get(t, []):
            ds.append(docs)
            cs.append(idf * tfn)
    if not ds:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0)
    docs = np.concatenate(ds)
    contribs = np.concatenate(cs)
    uniq, inv = np.unique(docs, return_inverse=True)
    sums = np.bincount(inv, weights=contribs, minlength=len(uniq))
    return uniq, sums


def _by_qid(term_q: dict[str, list[tuple[str, float]]]) -> dict[str, list]:
    out: dict[str, list[tuple[float, str]]] = {}
    for t, lst in term_q.items():
        for qid, idf in lst:
            out.setdefault(qid, []).append((idf, t))
    return out


def _batch_thetas_driver(
    rows: list, term_q: dict[str, list[tuple[str, float]]], avgdl: float, k: int
) -> dict[str, float]:
    """Per-qid k-th best exact score over collected pick-set rows, in
    driver numpy — each row decoded once, contributions fanned out to
    the queries containing its term (the driver twin of
    :func:`_make_batch_scorer`)."""
    import numpy as np

    per_term = _decode_rows_per_term(rows, avgdl)
    thetas: dict[str, float] = {}
    for qid, terms in _by_qid(term_q).items():
        uniq, sums = _qid_doc_scores(per_term, terms)
        if len(uniq) >= k:
            thetas[qid] = float(np.sort(sums)[-k])
    return thetas


def _search_many_driver(
    ix: IndexHandle,
    segs: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
) -> DataFrame:
    """Driver-resident batch scoring for Σ-df-bounded batches — the
    :func:`search_many` twin of :func:`_search_driver`: ONE bounded JVM
    collect of the union term blobs, each decoded once, every query
    scored from the shared arrays. Rank semantics are identical to the
    distributed plan: top-k cut by (score desc, doc_int asc), display
    order (qid, score desc, doc_id asc)."""
    import numpy as np

    spark = ix.spark
    rows = segs.select("term", "postings").collect()  # JVM-only, Σ-df bounded
    per_term = _decode_rows_per_term(rows, ix.stats["avgdl"])
    names = ix.doc_names()
    sel: dict[str, list[tuple[int, float]]] = {}
    need_ids: set[int] = set()
    for qid, terms in _by_qid(term_q).items():
        uniq, sums = _qid_doc_scores(per_term, terms)
        if len(uniq) == 0:
            continue
        order = np.lexsort((uniq, -sums))[:k]  # exact final rank cut
        pairs = [(int(uniq[i]), float(sums[i])) for i in order]
        sel[qid] = pairs
        if names is None:
            need_ids.update(d for d, _ in pairs)
    if not sel:
        return _empty(spark, "qid STRING, doc_id STRING, score DOUBLE")
    if names is None:  # corpus too large to pin: one ≤ #qids·k point-read
        names = {
            int(r["doc_int"]): r["doc_id"]
            for r in ix.docmap()
            .where(F.col("doc_int").isin(sorted(need_ids)))
            .select("doc_int", "doc_id")
            .collect()
        }
    out_q, out_d, out_s = [], [], []
    for qid in sorted(sel):
        hydrated = sorted(
            ((names[d], s) for d, s in sel[qid]), key=lambda x: (-x[1], x[0])
        )
        for d, s in hydrated:
            out_q.append(qid)
            out_d.append(d)
            out_s.append(S.round_score(s))
    pdf = pd.DataFrame(
        {
            "qid": np.array(out_q, dtype=object),
            "doc_id": np.array(out_d, dtype=object),
            "score": np.array(out_s, dtype=np.float64),
        }
    )
    return spark.createDataFrame(pdf, schema="qid STRING, doc_id STRING, score DOUBLE")


def _prune_segments(
    ix: IndexHandle,
    segs: DataFrame,
    idfs: dict[str, float],
    k: int,
    overfetch: int,
    allowed: DataFrame | None = None,
) -> tuple[DataFrame, float]:
    """Block-max segment pruning, fully distributed metadata pass.

    1. aggregate per-segment ``ub = Σ_t idf_t · seg_max_tfnorm`` and doc
       count from the metadata columns only (postings bytes never read);
    2. greedy prefix via TakeOrderedAndProject: every segment holds ≥ 1
       doc, so the richest ``overfetch·k`` segments are always enough
       to cover ≥ overfetch·k docs — ``orderBy(ub desc).limit(O·k)``
       is a distributed top-M (per-partition heaps, no global sort, no
       single-partition window), and the driver runs the greedy prefix
       over those ≤ O·k metadata rows only;
    3. θ = k-th exact score inside the picked segments. Unfiltered, the
       picked blobs (Σ n bounded by ~O·k + one segment span per term)
       are collected and scored in driver numpy — the θ-establishment
       job folds into a cheap JVM collect. With a MUST filter the
       candidate job stays distributed (θ must be established among
       ``allowed`` docs; the predicate evaluates against docmap), and
       the pick set EXPANDS GEOMETRICALLY (×4 per round, up to
       ``_PRUNE_FILTER_ROUNDS`` extra rounds) when the picked segments
       hold fewer than k allowed docs — a selective filter thins the
       candidates, so a pick set sized by unfiltered ub alone would
       silently disable pruning (θ=0) exactly where the filter makes an
       unpruned scan most wasteful. Each round re-reads metadata
       columns and re-scores a ≤4×-larger bounded head only; if every
       candidate segment is in view and still <k allowed docs score,
       the corpus genuinely has <k allowed matches and θ=0 is correct.
       The bound side needs no filtering either way: ub ≥ any doc's
       score;
    4. survivors (``ub ≥ θ`` ∪ picked) stay a DataFrame, applied via a
       broadcast semi-join — the driver never materializes the survivor
       list either."""
    idf_map = F.create_map(*[F.lit(v) for t, f in idfs.items() for v in (t, float(f))])
    seg_meta = (
        segs.select(
            "seg", "n", (idf_map[F.col("term")] * F.col("seg_max_tfnorm")).alias("part")
        )
        .groupBy("seg")
        .agg(F.sum("part").alias("ub"), F.sum("n").alias("cnt"))
    )

    def pick(limit: int) -> tuple[list[int], bool]:
        """Greedy ub-desc prefix covering ≥ ``limit`` docs; second value
        is True when the WHOLE candidate segment set is in the prefix
        (no further expansion round can add anything)."""
        top = seg_meta.orderBy(F.desc("ub"), F.asc("seg")).limit(limit).collect()
        p, acc = [], 0
        for r in top:
            if acc >= limit:
                return p, False
            p.append(int(r["seg"]))
            acc += int(r["cnt"])
        return p, len(top) < limit

    picked, exhausted = pick(overfetch * k)
    if not picked:
        return segs, 0.0
    if allowed is None:
        head = segs.where(F.col("seg").isin(picked))
        rows = head.select("term", "postings").collect()  # Σ-n bounded pick set
        uniq, sums, _cnt = _score_rows_driver(rows, idfs, ix.stats["avgdl"])
        if len(uniq) < k:
            return segs, 0.0  # not enough candidates to establish a safe θ
        import numpy as np

        theta = float(np.sort(sums)[-k])
    else:
        theta = None
        for round_i in range(_PRUNE_FILTER_ROUNDS + 1):
            if round_i:  # expansion round: ×4 doc target, superset pick
                picked, exhausted = pick(overfetch * k * (4**round_i))
            head = segs.where(F.col("seg").isin(picked))
            cand = (
                head.select("term", "postings", "block_max_tfnorm")
                .mapInPandas(
                    _make_scorer(idfs, ix.stats["avgdl"], 0.0),
                    "doc_int LONG, contrib DOUBLE",
                )
                .groupBy("doc_int")
                .agg(F.sum("contrib").alias("sc"))
            )
            cand = cand.join(allowed, "doc_int", "left_semi")
            exact = cand.orderBy(F.desc("sc")).limit(k).collect()
            if len(exact) >= k:
                theta = float(exact[-1]["sc"])
                break
            if exhausted:
                # every candidate segment scored: the corpus has <k
                # allowed matches, an unpruned scan can't find more
                return segs, 0.0
        if theta is None:
            return segs, 0.0  # selective beyond the expansion budget
    # keep ties: a pruned doc scoring exactly θ could win the doc_id tie-break.
    # Inner join (same broadcast the old semi-join used) so every surviving
    # row carries its segment's ub — the scorer derives the cross-term
    # block-max complement from it (multi-term WAND, zero extra jobs)
    survivors = seg_meta.where(
        (F.col("ub") >= theta) | F.col("seg").isin(picked)
    ).select("seg", F.col("ub").alias("seg_ub"))
    return segs.join(F.broadcast(survivors), "seg"), theta
