"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import io
import itertools
import json
import os
import pickle
import re
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, stats, trace  # noqa: E402
from perfbench.harness import result_line  # noqa: E402
from perfbench.offline import Offline  # noqa: E402
from perfbench.serve import Serve  # noqa: E402

TEST_SF = 0.001  # 2 000 turns keeps input generation fast


def _corpus_bytes(seed: int) -> bytes:
    return _table_bytes(inputs.make_corpus(seed, TEST_SF))


def _inputs_bytes(seed: int) -> bytes:
    """Every input a run derives from its seed, serialized."""
    base = inputs.doc_ids(inputs.make_corpus(seed, TEST_SF))
    parts = {
        "serve": list(itertools.islice(inputs.serve_stream(seed), 200)),
        "warmup": list(itertools.islice(inputs.serve_stream(seed, stream=1), 20)),
        "batches": [inputs.ingest_batch(seed, i, base) for i in range(2)],
        "live": [inputs.live_query(seed, i) for i in range(3)],
        "queries": [inputs.query_batch(seed, i) for i in range(2)],
    }
    tables = [_table_bytes(make(seed)) for make in _TABLES]
    return b"".join([_corpus_bytes(seed), *tables, json.dumps(parts, default=str, sort_keys=True).encode()])


_TABLES = (inputs.make_documents, inputs.make_embeddings, inputs.make_events)


def _table_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, table.schema) as w:
        w.write_table(table)
    return buf.getvalue()


def test_same_seed_gives_identical_inputs():
    assert _inputs_bytes(7) == _inputs_bytes(7)


def test_different_seed_gives_different_inputs():
    assert _corpus_bytes(7) != _corpus_bytes(8)
    for make in _TABLES:
        assert _table_bytes(make(7)) != _table_bytes(make(8))
    assert inputs.query_batch(7, 0) != inputs.query_batch(8, 0)
    a, b = (list(itertools.islice(inputs.serve_stream(s), 50)) for s in (7, 8))
    assert a != b


def test_corpus_has_the_transcripts_shape():
    table = inputs.make_corpus(3, TEST_SF)
    assert table.schema == inputs.corpus.SCHEMA
    ids = inputs.doc_ids(table)
    assert len(ids) == len(set(ids)) == inputs.corpus.n_turns_for_sf(TEST_SF)


def test_batch_tables_have_the_test_tables_shape():
    docs, emb, ev = (make(3) for make in _TABLES)
    assert docs.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert docs.num_rows == inputs.N_DOCUMENTS and set(docs["lang"].to_pylist()) <= set(inputs.LANGS)
    assert emb.column_names == ["vec_id", "embedding", "label"]
    assert len(emb["embedding"][0]) == inputs.EMB_DIM
    assert ev.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert ev["ts"].to_pylist() == sorted(ev["ts"].to_pylist())  # event_id order is time order
    q = inputs.query_batch(3, 0)
    assert len(q) == inputs.BATCH_QUERIES and all(1 <= len(t) <= 4 for t in q.values())


def test_documents_carry_near_duplicates():
    texts = inputs.make_documents(4)["text"].to_pylist()
    words = [set(t.split()) for t in texts]
    near = sum(
        any(len(w & words[j]) >= len(w) - 1 and len(w) > 3 for j in range(i)) for i, w in enumerate(words)
    )
    assert near >= inputs.N_DOCUMENTS * inputs.NEAR_DUP_SHARE / 2


def test_serve_stream_follows_the_mix():
    block = sum(inputs.SERVE_MIX.values())
    reqs = list(itertools.islice(inputs.serve_stream(5), 10 * block))
    counts = {c: sum(r["cls"] == c for r in reqs) for c in inputs.SERVE_MIX}
    assert counts == {c: 10 * m for c, m in inputs.SERVE_MIX.items()}
    filters = {json.dumps(r["filter"], sort_keys=True) for r in reqs if r["filter"]}
    assert len(filters) > 8  # more distinct filters than the engine's filter cache holds
    assert all(r["query"].strip() for r in reqs)


def test_filter_pool_is_distinct():
    pool = inputs.filter_pool(1)
    assert len({json.dumps(f, sort_keys=True) for f in pool}) == inputs.FILTER_POOL_SIZE


def test_ingest_batch_mix_and_markers():
    base = inputs.doc_ids(inputs.make_corpus(2, TEST_SF))
    b = inputs.ingest_batch(2, 0, base)
    rows = b["rows"]
    assert len(rows) == inputs.INGEST_BATCH_MESSAGES
    assert len({r[1] for r in rows}) == len(rows)  # one message per doc id
    deletes = [r for r in rows if r[2]]
    new = [r for r in rows if r[1] not in set(base)]
    assert len(deletes) == len(rows) // 20 and len(new) == len(rows) // 10
    marked = sorted(r[1] for r in rows if r[3] is not None and b["marker"] in r[3][3].split())
    assert marked == b["marked"] and len(marked) == inputs.INGEST_MARKED_DOCS


@pytest.mark.parametrize(
    "n, reported",
    [
        (5, []),
        (19, []),
        (40, ["p75"]),
        (99, ["p75"]),
        (100, ["p75", "p90"]),
        (200, ["p75", "p90", "p95"]),
        (1000, ["p75", "p90", "p95", "p99"]),
    ],
)
def test_summary_reports_only_percentiles_with_ten_samples_beyond(n, reported):
    xs = [float(i) for i in range(n)]
    s = stats.summary(xs)
    assert s["n"] == n and s["p50"] == pytest.approx((n - 1) / 2)
    tails = sorted(k for k in s if k.startswith("p") and k != "p50")
    assert tails == sorted(reported)
    for k in tails:
        assert sum(x > s[k] for x in xs) >= stats.MIN_BEYOND


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_emitted_metric_with_its_unit():
    bj = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == trace.PER_LAYER_UNITS
    assert {w["name"] for w in bj["workloads"]} == set(run.WORKLOADS)


def test_benchmark_json_meets_its_format():
    bj = _benchmark_json()
    assert set(bj) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in bj[k]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    for m in bj["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert unit.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in bj["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in bj["end_to_end"])
    for m in bj["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    for w in bj["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert all(os.path.isdir(os.path.join(ROOT, p)) for p in bj["paths"])


def test_result_line_names_every_metric_with_its_unit():
    for units in (run.E2E_UNITS, trace.PER_LAYER_UNITS):
        line = json.loads(result_line(True, 3, 0, {k: 1.5 for k in units}, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}


def test_workload_metrics_carry_their_units():
    serve = Serve.workload_metrics(None, {"query_ms": {"n": 300, "p50": 9.0, "p75": 10.0, "p95": 12.0}})
    assert serve["query_tail_ms"] == {"percentile": "p95", "value": 12.0, "unit": "ms"}
    assert serve["query_p50_ms"]["unit"] == "ms"
    detail = {
        "freshness_ms": {"n": 1, "p50": 5000.0},
        "live_search_ms": {"n": 1, "p50": 2500.0},
        "compact_turns_per_s": 3000.0,
        "cycle_s": {"n": 1, "p50": 12.0},
    }
    offline = Offline.__new__(Offline)
    offline.pass_s = {"search_many": 2.0, "docs_quality": 0.5}
    m = offline.workload_metrics(detail)
    assert {k: v["unit"] for k, v in m.items()} == {
        "freshness_p50_s": "s",
        "live_search_p50_ms": "ms",
        "compact_turns_per_s": "turns/s",
        "cycle_p50_s": "s",
        "batch_queries_per_s": "1/s",
        "ops_pass_s": "s",
    }
    assert m["freshness_p50_s"]["value"] == 5.0 and m["ops_pass_s"]["value"] == 2.5
    assert m["batch_queries_per_s"]["value"] == inputs.BATCH_QUERIES / 2.0


def test_every_per_layer_metric_belongs_to_a_layer():
    mapped = {m for layer in trace.LAYERS.values() for m in layer["metrics"]}
    assert mapped == set(trace.PER_LAYER_UNITS)
    reported = {"query_p50_ms", "freshness_p50_s", "spark_tasks_per_op"}  # ungated, in the perfbench record
    for layer in trace.LAYERS.values():
        for e2e, workload in layer["moves"]:
            assert (e2e in run.E2E_UNITS or e2e in reported) and workload in run.WORKLOADS


# -- tracer -----------------------------------------------------------------


def _spans() -> list[trace.Span]:
    """root [0, 100] > a [10, 40] > b [20, 30]; root > c [50, 90]"""

    def mk(sid, name, parent, t0, t1):
        return trace.Span(sid, name, parent, "r", t0 / 1000, t0, t1 / 1000, t1)

    return [mk(0, "root", None, 0, 100), mk(1, "a", 0, 10, 40), mk(2, "b", 1, 20, 30), mk(3, "c", 0, 50, 90)]


def test_self_time_is_span_time_minus_children():
    assert trace.self_ms(_spans()) == pytest.approx([30.0, 20.0, 10.0, 40.0])


def test_jobs_go_to_the_innermost_open_span():
    spans = _spans()
    jobs = {
        1: {"submitted": 25.0, "counts": trace.Counter(jobs=1, tasks=4)},  # in b
        2: {"submitted": 45.0, "counts": trace.Counter(jobs=1, tasks=2)},  # root only
        3: {"submitted": 60.0, "counts": trace.Counter(jobs=1, tasks=8)},  # in c
        4: {"submitted": 150.0, "counts": trace.Counter(jobs=1)},  # outside every span
    }
    assert trace.attribute_jobs(spans, jobs) == 3
    assert [s.spark["tasks"] for s in spans] == [2, 0, 4, 8]


def test_wrapper_records_spans_and_pickles_as_the_original():
    from searchengine_spark.index import codec

    tracer = trace.Tracer()
    wrapped = trace._Traced(tracer, codec.encode_varints, "codec.encode", "searchengine_spark.index.codec.encode_varints", None)
    assert pickle.loads(pickle.dumps(wrapped)) is codec.encode_varints
    import numpy as np

    vals = np.array([1, 300, 5], dtype=np.uint64)
    assert bytes(wrapped(vals)) == bytes(codec.encode_varints(vals))
    assert tracer.spans == []  # inactive: a plain pass-through
    with tracer.traced("q1"):
        wrapped(vals)
    assert [(s.name, s.rid) for s in tracer.spans] == [("codec.encode", "q1")]


def test_layer_metrics_are_per_operation_and_skip_setup():
    spans = _spans()
    spans[0].name, spans[1].name = "serve.request", "engine.search_index"
    spans[2].name, spans[3].name = "codec.decode", "filters.filter_doc_ints"
    spans[2].items = 1000
    setup = trace.Span(4, "engine.search_index", None, trace.SETUP_RID, 0.0, 0.0, 5.0, 5.0)
    m = trace.layer_metrics(spans + [setup], n_ops=2, manifests=[])
    assert m["engine.search_index_ms"] == pytest.approx(10.0)  # 20 ms self over 2 ops
    assert m["codec.postings_decoded"] == 500 and m["codec.decode_calls"] == 0.5
    assert m["filters.cache_hit_ratio"] == 1.0  # the one lookup ran no Spark job
    assert set(m) == set(trace.PER_LAYER_UNITS)


def test_counts_per_op_take_only_jobs_inside_the_windows():
    jobs = {
        1: {"submitted": 15.0, "counts": trace.Counter(jobs=1, tasks=4)},
        2: {"submitted": 25.0, "counts": trace.Counter(jobs=1, tasks=8)},  # between the operations
        3: {"submitted": 30.0, "counts": trace.Counter(jobs=1, tasks=2)},
    }
    per_op = trace.counts_per_op(jobs, [(10.0, 20.0), (30.0, 40.0)])
    assert per_op["jobs"] == 1.0 and per_op["tasks"] == 3.0


def test_batch_pass_seconds_are_per_module_and_not_per_operation():
    op = trace.Span(0, "ops.dedup", None, trace.OPS_RID, 0.0, 0.0, 2.5, 2500.0)
    child = trace.Span(1, "catalog.current", 0, trace.OPS_RID, 0.5, 500.0, 1.0, 1000.0)
    m = trace.layer_metrics([op, child], n_ops=4, manifests=[])
    assert m["ops.dedup.query_s"] == pytest.approx(2.5)
    assert m["catalog.current_ms"] == 0.0  # the pass is not a traced operation


def test_every_batch_operation_has_a_span_metric_and_an_oracle_name():
    from perfbench import ops

    names = [(name, layer) for name, layer, _op in ops._ops(None)]
    assert {layer for _n, layer in names} == set(trace.OP_SECONDS)
    assert len({n for n, _l in names}) == len(names)


def test_same_rows_ignores_order_and_allows_one_rounding_unit():
    from perfbench.ops import FLOAT_TOL, _same_rows

    rows = [(1, "a", 0.1234), (2, "b", 0.5)]
    assert _same_rows(["id", "k", "x"], rows, ["x", "id", "k"], [(0.5, 2, "b"), (0.1235, 1, "a")])
    assert FLOAT_TOL < 0.0002
    assert not _same_rows(["id", "k", "x"], rows, ["id", "k", "x"], [(1, "a", 0.1237), (2, "b", 0.5)])
    assert not _same_rows(["id", "k", "x"], rows, ["id", "k", "x"], [(1, "a", 0.1234)])
    assert not _same_rows(["id", "k", "x"], rows, ["id", "k", "y"], rows)
    assert not _same_rows(["id", "k", "x"], rows, ["id", "k", "x"], [(1, "z", 0.1234), (2, "b", 0.5)])


def test_same_ranking_allows_only_reordering_among_equal_scores():
    from perfbench.serve import _same_ranking

    expected = [("a", 5.0), ("c", 4.0), ("b", 4.0), ("d", 3.0), ("e", 3.0)]
    assert _same_ranking([("a", 5.0), ("b", 4.0), ("c", 4.0)], expected, 0, 3)
    assert _same_ranking([("a", 5.0), ("c", 4.0), ("b", 4.0), ("e", 3.0)], expected, 0, 4)
    assert _same_ranking([("b", 4.0), ("c", 4.0)], expected, 1, 2)
    assert not _same_ranking([("a", 5.0), ("b", 4.0), ("d", 3.0)], expected, 0, 3)
    assert not _same_ranking([("a", 5.0), ("x", 4.0), ("b", 4.0)], expected, 0, 3)
    assert not _same_ranking([("a", 5.0), ("b", 4.0), ("b", 4.0)], expected, 0, 3)
    assert not _same_ranking([("a", 5.0)], expected, 0, 3)
