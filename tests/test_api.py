"""Reference API facade: AdvancedSearch / SimpleSearch equivalents
(SURVEY §3.1) — query expansion + filters + rank composed end-to-end."""

from __future__ import annotations

import pytest

from searchengine_spark import api
from searchengine_spark.validate import ValidationError


@pytest.fixture(scope="module")
def ix(spark, transcripts, tmp_path_factory):
    from searchengine_spark.index.build import build_index
    from searchengine_spark.index.catalog import IndexCatalog
    from searchengine_spark.index.engine import open_index

    cat = IndexCatalog(str(tmp_path_factory.mktemp("api") / "ix"))
    build_index(spark, transcripts, cat, n_buckets=8)
    return open_index(spark, cat)


def test_advanced_matches_oracle(ix, oracle_index):
    got = [(r["doc_id"], r["score"]) for r in api.advanced_search(ix, "spark query").collect()]
    expected = oracle_index.search("spark query", fuzzy=True)
    assert [d for d, _ in got] == [d for d, _ in expected]


def test_advanced_with_filters(ix, oracle_index):
    req = {"one-select": [{"name": "role", "value": "assistant"}]}
    got = api.advanced_search(ix, "spark", filter_request=req, fuzzy=False).collect()
    expected = oracle_index.search("spark", predicate=lambda d: d["role"] == "assistant")
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]


def test_advanced_explicit_sort(ix, oracle_index):
    got = api.advanced_search(ix, "spark", sort_field="ts", fuzzy=False).collect()
    expected = oracle_index.search("spark", sort_field="ts", sort_desc=True)
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]


def test_advanced_rejects_unsortable_field(ix):
    with pytest.raises(ValidationError):
        api.advanced_search(ix, "spark", sort_field="text")


def test_simple_search_conjunction(ix, oracle_index):
    got = api.simple_search(ix, "spark", {"role": "assistant", "tool": "search"}).collect()
    expected = oracle_index.search(
        "spark", predicate=lambda d: d["role"] == "assistant" and d["tool"] == "search"
    )
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]


def test_hydrated_fields(ix, transcripts):
    got = api.advanced_search(ix, "spark", fuzzy=False, docs=transcripts).collect()
    assert got and set(got[0].asDict()) >= {"doc_id", "score", "role", "text", "ts"}


def test_hydrated_results_keep_rank_order(ix, transcripts, oracle_index):
    """R2/R4 contract through hydration: the docs= join must not
    scramble rank order (it joins against the corpus, whose partition
    order is arbitrary)."""
    plain = [r["doc_id"] for r in api.advanced_search(ix, "spark query").collect()]
    hydrated = [r["doc_id"] for r in api.advanced_search(ix, "spark query", docs=transcripts).collect()]
    assert hydrated == plain

    # explicit-sort path: hydrated order follows the sort key too
    s_plain = [r["doc_id"] for r in api.advanced_search(ix, "spark", sort_field="ts", fuzzy=False).collect()]
    s_hyd = api.advanced_search(ix, "spark", sort_field="ts", fuzzy=False, docs=transcripts).collect()
    assert [r["doc_id"] for r in s_hyd] == s_plain
    assert "ts" in s_hyd[0].asDict()  # sort key carried through


def test_pagination_from(ix):
    """R6: from_/k paginates the deterministic rank order — page 2 is
    exactly rows 10-19 of a k=20 fetch."""
    full = [tuple(r) for r in api.advanced_search(ix, "query plan shuffle", fuzzy=False, k=20).collect()]
    page2 = [tuple(r) for r in api.advanced_search(ix, "query plan shuffle", fuzzy=False, k=10, from_=10).collect()]
    assert page2 == full[10:20] and len(page2) == 10


@pytest.fixture(scope="module")
def ix_ltz(spark, transcripts, tmp_path_factory):
    """The transcripts index with ``ts`` stored as TIMESTAMP (with local
    time zone) rather than TIMESTAMP_NTZ."""
    from pyspark.sql import functions as F

    from searchengine_spark.index.build import build_index
    from searchengine_spark.index.catalog import IndexCatalog
    from searchengine_spark.index.engine import open_index

    cat = IndexCatalog(str(tmp_path_factory.mktemp("api_ltz") / "ix"))
    build_index(spark, transcripts.withColumn("ts", F.col("ts").cast("timestamp")), cat, n_buckets=8)
    return open_index(spark, cat)


FILTERS = {"none": None, "assistant": {"category": "assistant"}}
SORT_CASES = [
    (field, desc, from_, flt)
    for field in ("ts", "turn_idx")
    for desc in (True, False)
    for from_ in (0, 10)
    for flt in FILTERS
]


@pytest.mark.parametrize("which", ["ntz", "ltz"])
def test_sort_driver_equals_spark(request, spark, monkeypatch, which):
    """The explicit sort resolved on the pinned doc values (one job)
    equals the Spark sort plan — forced by SERVING_DRIVER_MAX = 0, and
    separately by a pin cap of 0 — row for row, key type included:
    both key types, both directions, page 1 and 2, with and without a
    MUST filter. turn_idx has heavy ties at the k boundary, which the
    doc_id tie-break must cut the same way."""
    import searchengine_spark.index.engine as E

    ix = request.getfixturevalue("ix" if which == "ntz" else "ix_ltz")

    def run(handle):
        out = {}
        for field, desc, from_, flt in SORT_CASES:
            df = api.advanced_search(
                handle, "spark query data", sort_field=field, sort_desc=desc,
                from_=from_, filter_request=FILTERS[flt], fuzzy=False,
            )
            schema = [(f.name, f.dataType) for f in df.schema]
            out[field, desc, from_, flt] = (schema, [tuple(r) for r in df.collect()])
        return out

    assert ix.doc_values() is not None
    pinned = run(ix)
    with monkeypatch.context() as m:
        m.setattr(E, "SERVING_DRIVER_MAX", 0)
        assert run(ix) == pinned
    with monkeypatch.context() as m:
        m.setattr(E, "DOC_VALUES_MAX", 0)
        cold = E.IndexHandle(spark, ix.snapshot)
        assert run(cold) == pinned and cold.doc_values() is None

    dm = ix.docmap().schema
    for (field, *_), (schema, rows) in pinned.items():
        assert schema == [("doc_id", dm["doc_id"].dataType), (field, dm[field].dataType)]
        assert len(rows) == 10  # non-vacuous: every page is full
    # a turn_idx tie straddles the page boundary
    assert any(
        pinned["turn_idx", d, 0, flt][1][-1][1] == pinned["turn_idx", d, 10, flt][1][0][1]
        for d in (True, False)
        for flt in FILTERS
    )
