"""SQL serving surface: ``SELECT * FROM search('query' [, k [, mode]])``.

The reference exposes search over HTTP (`internal/server/handler.go:179`
``Server.Search`` / `handler.go:247` ``Server.SimpleSearch``, routed in
`internal/server/router.go`); this module is the Spark-native analogue —
the engine usable from PURE SQL (SURVEY §4.2 item 5, the last line of
the survey's build plan). No Catalyst extension is required: a Python
UDTF (`spark.udtf.register`) gives the table-function call syntax.

Execution model
---------------
A table-function call evaluates on ONE executor's Python worker, so it
must not assume driver-resident state. The UDTF therefore serves
straight from the published snapshot on shared storage (the same
parquet artifacts every executor already reads):

- snapshot resolution via the catalog's CURRENT pointer file — plain
  file IO, so config hot-swap/rollback (S12/S8) is visible to the NEXT
  SQL call with no re-registration;
- term dictionary + postings + docmap are read with pyarrow *dataset*
  filters (``term IN``, ``bucket IN``, ``seg IN``, ``doc_int IN``) —
  the same predicate-pushdown point-reads the serving engine issues
  through Spark, here pushed to parquet row groups directly;
- scoring reuses the engine's numpy scorer (`_score_rows` →
  `_decode_tfnorm`) so the BM25 expression shape — and the HALF_UP
  rounding (`semantics.round_score`) — is byte-for-byte the single
  home shared by every path;
- memory is bounded: a metadata-only pass (term, seg, n — no blobs)
  sizes the work, and when Σ postings exceeds the serving budget the
  blobs are read and scored in seg-aligned chunks. Segments are
  doc-aligned across terms (seg = doc_int >> 16), so per-chunk scores
  are exact and final per doc; the running top-k across chunks is
  rank-identical to the one-shot path (pinned by
  tests/test_sql_surface.py::test_chunked_matches_one_shot).

Scope: OR / AND modes over the standard analyzer. Query-time synonym
and fuzzy expansion stay on the DataFrame API (`api.advanced_search`)
— they need the live term dictionary for edit-distance windows.
"""

from __future__ import annotations

import os

from . import semantics as S

_RESULT_SCHEMA = "rank INT, doc_id STRING, score DOUBLE"


# --------------------------------------------------------------------------
# snapshot-reading core (pure pyarrow + numpy — runs on the Python worker)
# --------------------------------------------------------------------------

def _current_snapshot_dirs(catalog_root: str) -> tuple[str, str, str, dict]:
    """(postings_dir, docmap_dir, terms_dir, stats) of the snapshot the
    CURRENT pointer names. IndexCatalog is pure file IO (no Spark), so
    the worker reuses the one home of the catalog layout directly."""
    from .index.catalog import IndexCatalog

    snap = IndexCatalog(catalog_root).current()
    if snap is None:
        raise FileNotFoundError(f"no published snapshot under {catalog_root}")
    return snap.postings_dir, snap.docmap_dir, snap.terms_dir, snap.stats


def _analyze(query: str) -> list[str]:
    """Distinct, order-preserving analyzed query terms — the SAME
    split+normalize core the DataFrame API uses (oracle.query_terms,
    one home, no drift); engine.expand_query adds synonym/fuzzy stages
    on top of it."""
    from .oracle import query_terms

    return list(dict.fromkeys(query_terms(query)))


def _seg_chunks(meta_tbl, budget: int) -> list[list[int]]:
    """Greedy seg-aligned chunks with Σ postings ≤ budget each (a chunk
    never splits a seg — per-doc score completeness needs every query
    term's postings for that doc's one seg together)."""
    per_seg: dict[int, int] = {}
    for seg, n in zip(meta_tbl["seg"].to_pylist(), meta_tbl["n"].to_pylist()):
        per_seg[seg] = per_seg.get(seg, 0) + int(n)
    chunks: list[list[int]] = []
    cur: list[int] = []
    acc = 0
    for seg in sorted(per_seg):
        if cur and acc + per_seg[seg] > budget:
            chunks.append(cur)
            cur, acc = [], 0
        cur.append(seg)
        acc += per_seg[seg]
    if cur:
        chunks.append(cur)
    return chunks


def search_snapshot_rows(
    catalog_root: str,
    query: str,
    k: int = S.TOP_K,
    mode: str = "or",
    chunk_budget: int | None = None,
) -> list[tuple[int, str, float]]:
    """Top-k (rank, doc_id, score) from the published snapshot — the
    UDTF body, importable for direct testing. Rank-identical to
    ``engine.search_index`` on the same snapshot (both select by
    (-raw_score, doc order) and round via semantics.round_score)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from .index.engine import SERVING_DRIVER_MAX, _score_rows

    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    k = int(k)
    if k <= 0:
        return []
    terms = _analyze(query)
    if not terms:
        return []
    postings_dir, docmap_dir, terms_dir, stats = _current_snapshot_dirs(catalog_root)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    budget = chunk_budget if chunk_budget is not None else SERVING_DRIVER_MAX

    tmeta = ds.dataset(terms_dir, format="parquet").to_table(
        columns=["term", "df", "bucket"], filter=pc.field("term").isin(terms)
    )
    meta = {
        t: (int(df), int(b))
        for t, df, b in zip(
            tmeta["term"].to_pylist(), tmeta["df"].to_pylist(), tmeta["bucket"].to_pylist()
        )
    }
    if mode == "and" and len(meta) < len(terms):
        return []  # an absent term can never satisfy the conjunction
    terms = [t for t in terms if t in meta]
    if not terms:
        return []
    idfs = {t: S.idf(n_docs, meta[t][0]) for t in terms}
    buckets = sorted({meta[t][1] for t in terms})

    # postings are hive-partitioned by bucket (build.py partitionBy):
    # the bucket predicate prunes whole directories before any file IO
    post = ds.dataset(postings_dir, format="parquet", partitioning="hive")
    base_filter = pc.field("bucket").isin(buckets) & pc.field("term").isin(terms)

    # Σ df from the term dictionary already bounds total postings, so
    # the common light query (the same gate the engine's serving fast
    # path uses) skips the metadata pass entirely and goes one-shot;
    # only a heavy query pays the (term, seg, n — no blobs) sizing
    # read that drives seg-aligned chunking
    if sum(meta[t][0] for t in terms) <= budget:
        chunks = [[]]  # single one-shot read, no seg predicate
    else:
        seg_meta = post.to_table(columns=["term", "seg", "n"], filter=base_filter)
        chunks = _seg_chunks(seg_meta, budget)

    cand_docs: list = []
    cand_scores: list = []
    for segs in chunks:
        filt = base_filter
        if len(chunks) > 1:  # one-shot read needs no seg predicate
            filt = filt & pc.field("seg").isin(segs)
        rows = post.to_table(columns=["term", "postings"], filter=filt).to_pylist()
        uniq, sums, counts = _score_rows(rows, [idfs], avgdl)[0]
        if mode == "and" and len(terms) > 1:
            m = counts == len(terms)
            uniq, sums = uniq[m], sums[m]
        if len(uniq) == 0:
            continue
        order = np.lexsort((uniq, -sums))[:k]  # chunk-local exact top-k
        cand_docs.append(uniq[order])
        cand_scores.append(sums[order])
    if not cand_docs:
        return []
    docs = np.concatenate(cand_docs)
    scores = np.concatenate(cand_scores)
    order = np.lexsort((docs, -scores))[:k]
    sel = {int(docs[i]): float(scores[i]) for i in order}

    dm = ds.dataset(docmap_dir, format="parquet").to_table(
        columns=["doc_int", "doc_id"],
        filter=pc.field("doc_int").isin(list(sel)),
    )
    named = sorted(
        (
            (doc_id, sel[int(doc_int)])
            for doc_int, doc_id in zip(dm["doc_int"].to_pylist(), dm["doc_id"].to_pylist())
        ),
        key=lambda x: (-x[1], x[0]),
    )
    return [
        (rank, doc_id, S.round_score(raw)) for rank, (doc_id, raw) in enumerate(named, 1)
    ]


# --------------------------------------------------------------------------
# UDTF registration (driver-side)
# --------------------------------------------------------------------------

def register_search_sql(spark, catalog_root: str, *, name: str = "search") -> None:
    """Register ``name('query'[, k[, mode]])`` as a SQL table function
    serving the catalog's CURRENT snapshot. The root is baked into the
    UDTF class at registration; the snapshot pointer is re-read per
    call, so publish/rollback is picked up live."""
    from pyspark.sql.functions import udtf

    root = os.path.abspath(catalog_root)

    class _SearchTF:
        def eval(self, query: str, k: int = S.TOP_K, mode: str = "or"):
            if query is None:
                return
            # SQL NULLs degrade to the defaults rather than crashing
            # the Python worker with int(None)/'None'
            k = S.TOP_K if k is None else int(k)
            mode = "or" if mode is None else str(mode)
            yield from search_snapshot_rows(root, query, k, mode)

    spark.udtf.register(name, udtf(_SearchTF, returnType=_RESULT_SCHEMA))
