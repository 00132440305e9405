"""Config store (hot swap/revert), filter compilation, validation, ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.configs import (
    BoostConfig,
    ConfigStore,
    FieldConfig,
    FilterConfig,
    IndexConfig,
    RankConfig,
    default_transcripts_index_config,
)
from searchengine_spark.filters import ARROW, FilterError, compile_filters
from searchengine_spark.rank import apply_ranking
from searchengine_spark.validate import ValidationError, validate_document, validate_sort_field


# ---------------------------------------------------------------- configs ---

def test_config_store_roundtrip_and_revert(tmp_path):
    store = ConfigStore(str(tmp_path))
    cfg1 = default_transcripts_index_config()
    store.save("index", cfg1)
    assert store.load("index") == cfg1
    cfg2 = IndexConfig("v2", fields=[FieldConfig("text", "string", searchable=True)])
    store.update("index", cfg2)
    assert store.needs_rebuild
    assert store.load("index") == cfg2
    assert store.revert("index") == cfg1


def test_filter_config_json_shape(tmp_path):
    store = ConfigStore(str(tmp_path))
    fc = [FilterConfig(category="assistant")]
    store.save("filter", fc)
    assert store.load("filter") == fc


def test_field_type_guard():
    with pytest.raises(ValueError):
        FieldConfig("x", "decimal")


# --------------------------------------------------------------- validate ---

CFG = default_transcripts_index_config()
GOOD = {"conv_id": "c1", "turn_idx": 3.0, "role": "user",
        "text": "hi", "tool": "", "ts": "2025-01-01T00:00:00Z"}


def test_validate_document_ok():
    validate_document(CFG, GOOD)


def test_validate_missing_field():
    bad = {k: v for k, v in GOOD.items() if k != "tool"}
    with pytest.raises(ValidationError, match="tool"):
        validate_document(CFG, bad)


def test_validate_wrong_type():
    with pytest.raises(ValidationError, match="turn_idx"):
        validate_document(CFG, {**GOOD, "turn_idx": "three"})
    with pytest.raises(ValidationError, match="turn_idx"):
        validate_document(CFG, {**GOOD, "turn_idx": True})  # bool is not number


def test_validate_sort_field():
    assert validate_sort_field(CFG, "ts")
    assert not validate_sort_field(CFG, "role")  # filterable but not sortable
    assert not validate_sort_field(CFG, "nope")


# ---------------------------------------------------------------- filters ---

def test_empty_requests_compile_to_none():
    assert compile_filters(None) is None
    assert compile_filters({}) is None
    assert compile_filters({"range": [], "multi-select": []}) is None


def test_filter_semantics_on_spark(spark, transcripts):
    req = {
        "category": "Assistant",
        "range": [
            {"name": "ts", "type": "timestamp",
             "from_value": "2025-01-01T00:30:00Z", "to_value": "2025-01-01T02:00:00Z"},
            {"name": "turn_idx", "type": "number", "from_value": "0", "to_value": "3"},
        ],
        "multi-select": [{"name": "tool", "value": ["Bash", "search"]}],
    }
    pred = compile_filters(req)
    got = transcripts.where(pred)
    want = transcripts.where(
        (F.col("role") == "assistant")
        & (
            F.col("ts").between("2025-01-01 00:30:00", "2025-01-01 02:00:00")
            | F.col("turn_idx").between(0, 3)
        )
        & F.col("tool").isin(["bash", "search"])
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_filter_bool_and_one_select(spark):
    df = spark.createDataFrame(
        [("a", True, "X"), ("b", False, "y")], "doc_id STRING, flag BOOLEAN, cat STRING"
    )
    pred = compile_filters({"bool-select": [{"name": "flag", "value": True}]})
    assert [r["doc_id"] for r in df.where(pred).collect()] == ["a"]
    pred = compile_filters({"one-select": [{"name": "cat", "value": "x"}]})
    assert [r["doc_id"] for r in df.where(pred).collect()] == ["a"]  # case-insensitive


def test_filter_errors():
    for rendering in ({}, ARROW):  # the Catalyst and the pyarrow.compute rendering
        with pytest.raises(FilterError):
            compile_filters({"range": [{"name": "x", "type": "geo", "from_value": "0", "to_value": "1"}]}, **rendering)
        with pytest.raises(FilterError):
            compile_filters({"range": [{"name": "x", "type": "number", "from_value": "abc", "to_value": "1"}]}, **rendering)
        with pytest.raises(FilterError):
            compile_filters({"range": [{"name": "ts", "type": "timestamp", "from_value": "not-a-date", "to_value": "2025-01-01T00:00:00Z"}]}, **rendering)


@pytest.fixture(scope="module", params=["timestamp_ntz", "timestamp"])
def pinned_ix(request, spark, transcripts, tmp_path_factory):
    """The transcripts index, its ``ts`` column stored as either Spark
    timestamp type."""
    from searchengine_spark.index.build import build_index
    from searchengine_spark.index.catalog import IndexCatalog
    from searchengine_spark.index.engine import open_index

    docs = transcripts.withColumn("ts", F.col("ts").cast(request.param))
    cat = IndexCatalog(str(tmp_path_factory.mktemp("filters") / request.param))
    build_index(spark, docs, cat, n_buckets=4)
    return open_index(spark, cat)


def _ts_range(lo: str, hi: str) -> dict:
    return {"name": "ts", "type": "timestamp", "from_value": lo, "to_value": hi}


PARITY_REQUESTS = {
    "category": {"category": "Assistant"},
    "one-select-lowercase-col": {"one-select": [{"name": "role", "value": "ToOl"}]},
    "one-select-lower-col": {"one-select": [{"name": "conv_id", "value": "C0000003"}]},
    "multi-select-lowercase-col": {"multi-select": [{"name": "role", "value": ["User", "SYSTEM"]}]},
    "multi-select-lower-col": {
        "multi-select": [
            {"name": "conv_id", "value": [f"C{i:07d}" for i in range(0, 40, 2)]},
            {"name": "tool", "value": ["Bash", "SEARCH"]},
        ],
    },
    "number-range": {"range": [{"name": "turn_idx", "type": "number", "from_value": "2", "to_value": "5.5"}]},
    # c0000000's turns 1 and 4 sit exactly on the edges
    "timestamp-range": {"range": [_ts_range("2025-01-01T00:00:13Z", "2025-01-01T00:00:52Z")]},
    "two-ranges-or": {
        "category": "user",
        "range": [
            _ts_range("2025-01-01T01:00:00+01:00", "2025-01-01T00:05:00Z"),
            {"name": "turn_idx", "type": "number", "from_value": "30", "to_value": "39"},
        ],
    },
    "nothing": {"category": "assistant", "one-select": [{"name": "role", "value": "user"}]},
}


@pytest.mark.parametrize("name", sorted(PARITY_REQUESTS))
def test_arrow_filter_parity(pinned_ix, spark_jobs, name):
    """The pyarrow.compute rendering of a FilterRequest, evaluated on
    the pinned doc values with no Spark job, selects exactly the doc_int
    set the Catalyst rendering selects from docmap."""
    req = PARITY_REQUESTS[name]
    pinned_ix.doc_values()
    got = []
    assert spark_jobs(lambda: got.append(pinned_ix.filter_doc_ints(req))) == []
    dm = pinned_ix.docmap()
    want = [r["doc_int"] for r in dm.where(compile_filters(req)).orderBy("doc_int").collect()]
    assert got[0].tolist() == want
    if name == "nothing":
        assert want == []
    else:
        assert 0 < len(want) < pinned_ix.stats["n_docs"]
    if name == "timestamp-range":
        edges = dm.where((F.col("conv_id") == "c0000000") & F.col("turn_idx").isin(1, 4))
        assert {r["doc_int"] for r in edges.collect()} <= set(want)


# ------------------------------------------------------------------- rank ---

def _scored(spark):
    return spark.createDataFrame(
        [("a", 2.0, 10.0), ("b", 2.0, 30.0), ("c", 5.0, 20.0)],
        "doc_id STRING, score_raw DOUBLE, pop DOUBLE",
    )


def test_default_order_observed(spark):
    # observed semantics (Q3): score desc, doc_id asc tie-break; boosts ignored
    cfg = RankConfig(boosts=[BoostConfig("pop", 2.0, "value")])
    out = apply_ranking(_scored(spark), rank_cfg=cfg, apply_boosts=False)
    assert [r["doc_id"] for r in out.collect()] == ["c", "a", "b"]


def test_boosts_intended(spark):
    cfg = RankConfig(boosts=[BoostConfig("pop", 2.0, "value")])
    out = apply_ranking(_scored(spark), rank_cfg=cfg, apply_boosts=True)
    assert [r["doc_id"] for r in out.collect()] == ["c", "b", "a"]  # tie broken by pop


def test_explicit_sort_overrides(spark):
    cfg = default_transcripts_index_config()
    df = _scored(spark).withColumnRenamed("pop", "turn_idx")
    out = apply_ranking(df, sort_field="turn_idx", sort_desc=False, index_cfg=cfg)
    assert [r["doc_id"] for r in out.collect()] == ["a", "c", "b"]
    with pytest.raises(ValidationError):
        apply_ranking(df, sort_field="role", index_cfg=cfg)
