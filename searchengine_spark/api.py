"""Reference API facade — the search surface a user of
`aWatLove/searchengine` would call, composed from the engine layers.

Maps the reference's handler/search entry points onto the Spark engine
(SURVEY §3.1):

- ``advanced_search`` ≈ ``SearchClient.AdvancedSearch``
  (``internal/search/search.go:114-165``): whitespace term split →
  analyzer normalize → Fuzziness=1 expansion against the term
  dictionary → synonym-group expansion (when installed) → disjunctive
  match, AND-ed with the compiled FilterRequest (MUST+MUST,
  search.go:133-139), ranked per ``rank.py`` (score desc, or explicit
  validated sort, R2-R4);
- ``simple_search`` ≈ ``SearchClient.SimpleSearch``
  (``search.go:28-48``): match query ∧ per-field equality terms
  (ConjunctionQuery) — no fuzzy;
- document CRUD + streaming ingest live on
  :class:`..streaming.StreamingIndex`; config lifecycle on
  :class:`..configs.ConfigStore`.

Results are shaped like the reference's hits ``[{id, score, fields}]``
(R7): (doc_id, score, <metadata columns>) — pass ``docs`` to hydrate
the full stored text (handler Fields=["*"], ``search.go:141-142``).
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import semantics as S
from .configs import IndexConfig, default_transcripts_index_config
from .filters import compile_filters
from .functions.text import doc_id_col
from .index.engine import IndexHandle, _in_sorted, _result_df, expand_query, search_index
from .validate import ValidationError, validate_sort_field


def _hydrate(
    ix: IndexHandle, hits: DataFrame, docs: DataFrame | None, order: list | None = None
) -> DataFrame:
    """Attach stored fields to (doc_id, score) hits — the broadcast side
    is the ≤k hit set, never the corpus. Rank order (R2/R4) is the API
    contract, so the score / sort key is carried through the join and
    the output is re-sorted: the corpus-side join otherwise emits hits
    in arbitrary partition order."""
    if docs is not None:
        payload = docs.select(
            doc_id_col().alias("doc_id"), "conv_id", "turn_idx", "role", "tool", "ts", "text"
        )
    else:
        payload = ix.docmap().select("doc_id", "conv_id", "turn_idx", "role", "tool", "ts")
    out = payload.join(F.broadcast(hits), "doc_id").select(
        hits["*"], *[c for c in payload.columns if c != "doc_id" and c not in hits.columns]
    )
    if order is None:
        order = (
            [F.desc("score"), F.asc("doc_id")] if "score" in hits.columns else [F.asc("doc_id")]
        )
    return out.orderBy(*order)


def _sort_pinned(
    ix: IndexHandle,
    matched,
    filter_request: dict | None,
    sort_field: str,
    sort_desc: bool,
    from_: int,
    k: int,
) -> DataFrame:
    """Explicit-sort page ``[from_, from_ + k)`` of the sorted doc_int
    array ``matched``, resolved on the pinned doc values with no Spark
    job: filter set, key order (Spark's null order: desc puts NULLs
    last, asc first; doc_int asc on ties, which is doc_id order), and a
    local (doc_id, key) frame with the key's Spark type."""
    if filter_request:
        matched = matched[_in_sorted(matched, ix.filter_doc_ints(filter_request))]
    sel = ix.doc_values().take(matched)  # row i of the doc values is doc_int i
    order = pc.sort_indices(
        sel,
        sort_keys=[(sort_field, "descending" if sort_desc else "ascending"), ("doc_int", "ascending")],
        null_placement="at_end" if sort_desc else "at_start",
    )
    page = sel.take(order[from_ : from_ + k])
    dtype = ix.docmap().schema[sort_field].dataType.simpleString()
    return _result_df(
        ix.spark,
        list(zip(page.column("doc_id").to_pylist(), page.column(sort_field).to_pylist())),
        f"doc_id STRING, {sort_field} {dtype}",
    )


from .metrics import timed


@timed("AdvancedSearch")
def advanced_search(
    ix: IndexHandle,
    query: str,
    *,
    filter_request: dict | None = None,
    sort_field: str | None = None,
    sort_desc: bool = True,
    fuzzy: bool = True,
    synonyms: bool = False,
    k: int = S.TOP_K,
    from_: int = 0,
    docs: DataFrame | None = None,
    index_cfg: IndexConfig | None = None,
) -> DataFrame:
    """GET /api/v1/search equivalent (handler.go:179-216). ``from_`` is
    the reference's ``SearchRequest.From`` pagination offset (R6): the
    engine fetches the top ``from_ + k`` and drops the first ``from_``
    — rank order is deterministic (score desc, doc_id asc), so pages
    are stable across calls."""
    cfg = index_cfg or default_transcripts_index_config()
    if sort_field is not None and not validate_sort_field(cfg, sort_field):
        raise ValidationError(f"field '{sort_field}' is not sortable")  # handler.go:198-204
    terms = expand_query(ix, query, fuzzy=fuzzy, synonyms=synonyms)

    if sort_field is None:
        hits = search_index(ix, terms, k=k + from_, filters=filter_request)
        if from_:
            hits = hits.offset(from_)
        return _hydrate(ix, hits, docs) if docs is not None else hits

    # explicit sort overrides ranking entirely (R4, rank.go:100-110):
    # candidates = any-term matches ∧ filters, ordered by the field
    # (desc NULLS LAST / asc NULLS FIRST, doc_id asc on ties). The match
    # set is built with bucket + term parquet pushdown and, like the
    # scoring path, collected and decoded driver-side when Σ df is
    # bounded. With the doc values pinned that collect is the ONE job:
    # the filter set and the sort key are read from the pinned table
    # (:func:`_sort_pinned`). Corpora too large to pin semi-join the
    # match set to docmap and TakeOrdered on the key; heavy terms keep
    # the distributed decode.
    from .index.engine import (
        _SCORED,
        SERVING_DRIVER_MAX,
        _empty,
        _make_scorer,
        _score_rows,
        _term_postings,
        term_meta,
    )

    tmeta = term_meta(ix, terms)
    ones = [{t: 1.0 for t in tmeta}]  # the match set needs no idf
    cand = _term_postings(ix, tmeta).select("term", "postings")
    key = F.col(sort_field).desc() if sort_desc else F.col(sort_field).asc()
    bounded = sum(df for df, _ in tmeta.values()) <= SERVING_DRIVER_MAX
    if bounded:
        rows = cand.collect() if tmeta else []  # Σ-df bounded
        uniq = _score_rows(rows, ones, ix.stats["avgdl"])[0][0]
    if bounded and ix.doc_values() is not None:
        hits = _sort_pinned(ix, uniq, filter_request, sort_field, sort_desc, from_, k)
    else:
        if not tmeta:
            matched = _empty(ix.spark, "doc_int LONG")
        elif bounded:
            import pandas as pd

            matched = ix.spark.createDataFrame(
                pd.DataFrame({"doc_int": uniq}), schema="doc_int LONG"
            )
        else:
            matched = (
                cand.mapInPandas(_make_scorer(ones, ix.stats["avgdl"]), _SCORED)
                .select("doc_int")
                .distinct()
            )
        dm = ix.docmap()
        pred = compile_filters(filter_request)
        if pred is not None:
            dm = dm.where(pred)
        hits = (
            dm.join(matched, "doc_int")
            .orderBy(key, F.asc("doc_id"))
            .limit(k + from_)
            .select("doc_id", sort_field)
        )
        if from_:
            hits = hits.offset(from_)
    if docs is not None:
        # keep the sort key through hydration so rank order (R4) survives
        return _hydrate(ix, hits, docs, order=[key, F.asc("doc_id")])
    return hits


@timed("SimpleSearch")
def simple_search(
    ix: IndexHandle,
    query: str,
    filters: dict[str, str] | None = None,
    *,
    k: int = S.TOP_K,
    docs: DataFrame | None = None,
) -> DataFrame:
    """SimpleSearch equivalent (search.go:28-48): analyzed match query
    ∧ per-field equality terms; no fuzziness."""
    terms = expand_query(ix, query, fuzzy=False, synonyms=False)
    req = None
    if filters:
        req = {"one-select": [{"name": f, "value": v} for f, v in sorted(filters.items())]}
    hits = search_index(ix, terms, k=k, filters=req)
    return _hydrate(ix, hits, docs) if docs is not None else hits
