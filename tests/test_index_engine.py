"""Index build + index-backed search: rank-identity vs the direct path
and vs the pure-Python oracle; resumability (north_rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.filters import compile_filters
from searchengine_spark.index import build as B
from searchengine_spark.index.build import build_index
from searchengine_spark.index.catalog import IndexCatalog
from searchengine_spark.index.engine import (
    expand_fuzzy,
    expand_query,
    open_index,
    search_index,
)
from searchengine_spark.query.bm25 import search_direct


@pytest.fixture(scope="session")
def catalog(spark, transcripts, tmp_path_factory):
    cat = IndexCatalog(str(tmp_path_factory.mktemp("index") / "transcripts"))
    build_index(spark, transcripts, cat, n_buckets=8)
    return cat


@pytest.fixture(scope="session")
def ix(spark, catalog):
    return open_index(spark, catalog)


@pytest.fixture(scope="session")
def ix64(spark, transcripts, tmp_path_factory):
    """The transcripts index built with SEG_SPAN = 64: ~16 doc-aligned
    segments, so the block-max θ pass has segments to drop."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(B, "SEG_SPAN", 64)
        cat = IndexCatalog(str(tmp_path_factory.mktemp("seg64") / "t"))
        build_index(spark, transcripts, cat, n_buckets=8)
    return open_index(spark, cat)


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _unpruned(monkeypatch, fn):
    """``fn()`` with the θ pass gated off (no corpus reaches the gate)."""
    import searchengine_spark.index.engine as E

    with monkeypatch.context() as m:
        m.setattr(E, "PRUNE_MIN_DOCS", 1 << 62)
        return fn()


def _qidfs(ix, queries):
    """Each query's term → idf, as the engine computes them."""
    from searchengine_spark.index.engine import _idf, term_meta

    meta = term_meta(ix, sorted({t for ts in queries for t in ts}))
    return [{t: _idf(ix.stats["n_docs"], meta[t][0]) for t in ts if t in meta} for ts in queries]


# MUST filter blocks as FilterRequests (role is the category field)
ASSISTANT = {"category": "assistant"}
ASSISTANT_SEARCH = {"category": "assistant", "one-select": [{"name": "tool", "value": "search"}]}

QUERIES = [
    ["spark"],
    ["query", "plan", "shuffle"],
    ["data", "model", "run"],  # heavy hitters
    ["кепка", "шапка", "бейсболка", "панама"],
    ["zzznotaterm"],
    ["spark", "zzznotaterm"],
]


@pytest.mark.parametrize("terms", QUERIES, ids=["-".join(q) for q in QUERIES])
def test_rank_identical_to_direct(ix, transcripts, terms):
    assert _pairs(search_index(ix, terms)) == _pairs(search_direct(transcripts, terms))


def test_pruned_equals_unpruned(ix, monkeypatch):
    import searchengine_spark.index.engine as E

    terms = ["query", "plan", "shuffle"]
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    assert _pairs(search_index(ix, terms)) == _pairs(
        _unpruned(monkeypatch, lambda: search_index(ix, terms))
    )


def test_driver_path_equals_distributed(ix, transcripts, monkeypatch):
    """The Σ-df-gated serving fast path (driver numpy scoring) must be
    rank- and score-identical to the distributed plan for every mode:
    or / and / MUST-filtered / pagination-k. Forcing the cap to 0
    re-runs each query through the distributed path for comparison."""
    import searchengine_spark.index.engine as E

    cases = [
        (["spark"], {}),
        (["query", "plan", "shuffle"], {}),
        (["data", "model", "run"], {"k": 25}),
        (["data", "model"], {"mode": "and"}),
        (["spark", "query"], {"filters": ASSISTANT_SEARCH}),
        (["кепка", "шапка", "бейсболка", "панама"], {}),
    ]
    results_fast = [_pairs(search_index(ix, t, **kw)) for t, kw in cases]
    assert E.SERVING_DRIVER_MAX > 0  # fast path actually ran above
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    results_dist = [_pairs(search_index(ix, t, **kw)) for t, kw in cases]
    assert results_fast == results_dist
    assert any(results_fast)  # non-vacuous: at least one non-empty result


def test_rank_identical_to_oracle(ix, oracle_index):
    got = _pairs(search_index(ix, ["spark", "query", "plan"]))
    want = oracle_index.search("spark query plan")
    assert got == want


def test_filtered_search(ix, transcripts):
    got = _pairs(search_index(ix, ["spark", "query"], filters=ASSISTANT_SEARCH))
    want = _pairs(
        search_direct(transcripts, ["spark", "query"], doc_predicate=compile_filters(ASSISTANT_SEARCH))
    )
    assert got == want


def test_fuzzy_expansion(ix, oracle_index):
    # planted typo 'serach' (corpus.py): expansions must match the oracle's
    # vocabulary-wide levenshtein<=1 set
    got = set(expand_fuzzy(ix, "serach"))
    want = {v for v in oracle_index.vocab if __import__("searchengine_spark.oracle", fromlist=["x"]).levenshtein_leq1("serach", v)}
    assert got == want and "serach" in got


def test_expand_query_synonyms(ix):
    terms = expand_query(ix, "кепка", synonyms=True)
    assert terms == ["кепка", "шапка", "бейсболка", "панама"]


def test_index_stats_match_corpus(ix, oracle_index):
    assert ix.stats["n_docs"] == oracle_index.n_docs
    assert ix.stats["avgdl"] == pytest.approx(oracle_index.avgdl, abs=1e-12)


def test_docmap_stable_ordering(ix):
    """Per-row invariant: doc_int rank order == (conv_id, turn_idx) order."""
    rows = ix.docmap().orderBy("doc_int").limit(500).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)
    assert [r["doc_int"] for r in rows] == list(range(500))


def test_build_resumable(spark, transcripts, tmp_path, monkeypatch):
    """Kill the build mid-flight; rerun must reuse committed stages and
    produce a queryable snapshot (north_rule resumability)."""
    cat = IndexCatalog(str(tmp_path / "resume"))
    real_commit = B.Ledger.commit

    def exploding_commit(self, stage, **m):
        if stage == "terms":
            raise RuntimeError("injected failure after terms stage work")
        return real_commit(self, stage, **m)

    monkeypatch.setattr(B.Ledger, "commit", exploding_commit)
    with pytest.raises(RuntimeError):
        build_index(spark, transcripts, cat, n_buckets=4)
    monkeypatch.setattr(B.Ledger, "commit", real_commit)

    sid = cat.next_id()
    ledger_before = B.Ledger(cat.staging_dir(sid)).entries()
    # early stages committed (tf is fused into postings at bucket_jobs=1)
    assert ledger_before["docmap_raw"]["status"] == "done"
    assert ledger_before["postings-0"]["status"] == "done"

    snap = build_index(spark, transcripts, cat, n_buckets=4, snap_id=sid)
    # resumed build must NOT have redone committed stages (same commit ts)
    assert snap.manifest["ledger"]["docmap_raw"]["ts"] == ledger_before["docmap_raw"]["ts"]
    assert snap.manifest["ledger"]["postings-0"]["ts"] == ledger_before["postings-0"]["ts"]
    ixr = open_index(spark, cat)
    got = _pairs(search_index(ixr, ["spark"]))
    want = _pairs(search_direct(transcripts, ["spark"]))
    assert got == want


def test_and_mode_matches_direct(spark, transcripts, ix):
    terms = ["query", "plan", "shuffle"]
    assert _pairs(search_index(ix, terms, mode="and")) == _pairs(
        search_direct(transcripts, terms, mode="and")
    )


def test_and_mode_unseen_term_empty(spark, ix):
    # a term absent from the corpus can never satisfy the conjunction
    assert search_index(ix, ["spark", "zzznotaterm"], mode="and").count() == 0


def test_search_many_matches_singles(spark, ix, ix64, monkeypatch):
    """Each query of a batch equals that query alone, on the driver
    placement, the distributed placement, and the SEG_SPAN = 64 index
    with the θ pass forced on."""
    import searchengine_spark.index.engine as E
    from searchengine_spark.index.engine import search_many

    batch = {"qa": ["spark"], "qb": ["query", "plan", "shuffle"], "qc": ["data", "model", "run"]}

    def check(index):
        by_q = {}
        for r in search_many(index, batch).collect():
            by_q.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
        for qid, terms in batch.items():
            assert by_q.get(qid, []) == _pairs(search_index(index, terms)), qid
        assert by_q  # non-vacuous

    check(ix)
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    check(ix)
    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "PRUNE_MIN_POSTINGS", 0)
    check(ix64)


def test_pinned_postings_parity(spark, catalog, monkeypatch):
    """A handle serving from its pinned postings answers exactly like a
    handle that cannot pin them (TERM_CACHE_MAX = 0: no pinned term
    dictionary, so no Σdf to gate the pin on) and like the distributed
    placement (SERVING_DRIVER_MAX = 0, ``driver=False``): doc ids,
    rounded scores and order, for single, multi-term, OR and AND,
    filtered, filtered-to-nothing, batched, fuzzy, synonym, sorted and
    page-2 requests."""
    import searchengine_spark.index.engine as E
    from searchengine_spark.api import advanced_search
    from searchengine_spark.index.engine import search_many

    cases = [
        (["spark"], {}),
        (["query", "plan", "shuffle"], {}),
        (["data", "model", "run"], {"k": 25}),
        (["spark", "query"], {"mode": "and"}),
        (["data", "model"], {"mode": "and"}),
        (["spark", "query"], {"filters": ASSISTANT_SEARCH}),
        (["data"], {"filters": ASSISTANT_SEARCH}),  # matches nothing
        (["кепка", "шапка", "бейсболка", "панама"], {}),
    ]
    requests = [
        ("spark query", {}),
        ("serach qurey plna", {}),  # fuzzy
        ("кепка", {"synonyms": True}),
        ("spark query", {"filter_request": ASSISTANT, "from_": 10}),
        ("data model", {"sort_field": "ts"}),
        ("data model", {"sort_field": "ts", "sort_desc": False, "from_": 10}),
        ("data model", {"sort_field": "turn_idx", "sort_desc": False, "filter_request": ASSISTANT}),
    ]
    batch = {"qa": ["spark"], "qb": ["query", "plan", "shuffle"], "qc": ["data", "model", "run"]}

    def answers(ix, driver=None):
        return (
            [_pairs(search_index(ix, t, **kw)) for t, kw in cases],
            [tuple(r) for r in search_many(ix, batch, driver=driver).collect()],
            [[tuple(r) for r in advanced_search(ix, q, **kw).collect()] for q, kw in requests],
        )

    ix = open_index(spark, catalog)
    pinned = answers(ix)
    pp = ix.pinned_postings()
    assert pp is not None
    # the driver-side read pins exactly the rows the Spark reader sees
    rows = ix.postings().select("term", "postings").collect()
    assert sorted((r["term"], r["postings"]) for r in pp.to_pylist()) == sorted(
        (r["term"], bytes(r["postings"])) for r in rows
    )
    singles, many, served = pinned
    assert all(singles[i] for i in (0, 1, 3, 5, 7)) and singles[6] == []  # non-vacuous
    assert many and all(served)
    with monkeypatch.context() as m:
        m.setattr(E, "TERM_CACHE_MAX", 0)
        cold = E.IndexHandle(spark, ix.snapshot)
        assert answers(cold) == pinned
        assert cold.pinned_postings() is None
    with monkeypatch.context() as m:
        m.setattr(E, "SERVING_DRIVER_MAX", 0)
        assert answers(ix, driver=False) == pinned


def test_pinned_postings_read_per_file(spark, catalog, monkeypatch, spark_jobs):
    """A parquet-dir snapshot pins its postings file by file from the
    ``bucket=<b>/`` dirs, with no Spark job and without
    ``pq.read_table``, which loads ``pyarrow.dataset`` into the driver;
    the pinned rows equal the Spark read's (term, postings) rows."""
    import pyarrow.parquet as pq

    from searchengine_spark.index.engine import IndexHandle

    def no_dataset(*a, **kw):
        raise AssertionError("pq.read_table loads pyarrow.dataset")

    monkeypatch.setattr(pq, "read_table", no_dataset)
    ix = IndexHandle(spark, catalog.current())
    got = []
    assert spark_jobs(lambda: got.append(ix.pinned_postings())) == []
    assert got[0] is not None and got[0].column_names == ["term", "postings"]
    rows = ix.postings().select("term", "postings").collect()
    assert sorted((r["term"], r["postings"]) for r in got[0].to_pylist()) == sorted(
        (r["term"], bytes(r["postings"])) for r in rows
    )


def test_filtered_prune_expansion(spark, tmp_path_factory, monkeypatch):
    """Under a highly selective MUST filter (0.6 % of docs) the θ pick
    set expands geometrically until θ is established among ALLOWED docs
    — pruning stays engaged (θ>0, strictly fewer segments survive, the
    scorer decodes strictly fewer entries) instead of silently
    disabling exactly where the filter makes an unpruned scan most
    wasteful; results stay parity-identical to the unpruned plan.

    Corpus layout forces every interesting regime: decoy docs (tf=8,
    filtered OUT) fill the richest segments so the FIRST pick rounds
    hold zero allowed docs (a uniform-ub pick would yield θ=0 and no
    pruning); allowed docs (tf=4, one per segment) sit in mid-ub
    segments only the expansion rounds reach; a long tf=1 background
    tail scores below the allowed θ so its segments prune away. All
    docs share one length, so score order is exactly tf order. A
    score-UNCORRELATED filter provably cannot block-skip with sound
    bounds: the k-th allowed score sits at global rank ~k/selectivity,
    far below any 128-entry block max — so this is also the regression
    guard that expansion fires precisely when the filter correlates
    with score."""
    import datetime

    import searchengine_spark.index.engine as E

    rows = []
    ts = datetime.datetime(2025, 3, 1)
    for i in range(2000):
        if i < 128:  # decoy segments 0-1: richest ub, none allowed
            tf, role = 8, "user"
        elif i >= 128 and (i - 128) % 64 == 0 and i <= 128 + 64 * 11:
            tf, role = 4, "assistant"  # 12 allowed docs, segs 2..13
        else:
            tf, role = 1, "user"  # background tail: prunes under θ
        rows.append((f"c{i:07d}", 0, role, "needle " * tf + "pad " * (10 - tf), "", ts))
    corpus = spark.createDataFrame(
        rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"
    )
    monkeypatch.setattr(B, "SEG_SPAN", 64)
    cat = IndexCatalog(str(tmp_path_factory.mktemp("prune_filt") / "t"))
    build_index(spark, corpus, cat, n_buckets=8)
    ixp = open_index(spark, cat)
    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "PRUNE_MIN_POSTINGS", 0)
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)  # force the distributed plan

    pred = compile_filters(ASSISTANT)  # 12/2000 = 0.6 % selectivity
    terms = ["needle"]
    k = 5
    got = _pairs(search_index(ixp, terms, filters=ASSISTANT, k=k))
    want = _pairs(_unpruned(monkeypatch, lambda: search_index(ixp, terms, filters=ASSISTANT, k=k)))
    assert got == want
    assert len(got) == k  # non-vacuous: the filter leaves ≥k matches

    # engagement: round 0/1 pick only decoy segments (0 allowed docs),
    # so θ>0 here proves the expansion rounds ran; the background
    # segments' ub = idf·tfnorm(tf=1) < θ = 5th allowed score (tf=4)
    # must then be dropped AND their entries never decoded
    qidfs = _qidfs(ixp, [terms])
    full = ixp.postings().where(F.col("term").isin(terms))
    pruned, thetas, _ = E._prune(ixp, full, qidfs, k, doc_predicate=pred)
    assert thetas[0] > 0.0
    n_full, n_pruned = full.count(), pruned.count()
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    avgdl = ixp.stats["avgdl"]
    skipped = pruned.mapInPandas(E._make_scorer(qidfs, avgdl, thetas), E._SCORED).count()
    unskipped = (
        full.select("term", "postings").mapInPandas(E._make_scorer(qidfs, avgdl), E._SCORED).count()
    )
    assert 0 < skipped < unskipped, (skipped, unskipped)
    # the driver θ placement expands to the same θ as the distributed
    # candidate job above, masking with the pinned filter set or, when
    # none is pinned, probing docmap
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 2_000_000)
    for allowed in (ixp.filter_doc_ints(ASSISTANT), None):
        assert E._prune(ixp, full, qidfs, k, doc_predicate=pred, allowed=allowed)[1] == thetas


def test_search_many_pruned_parity(spark, ix64, monkeypatch):
    """Batch θ pass (per-query θ, (term, seg) survivors + per-query
    block skip) with zero engagement gates: pruned results must equal
    unpruned on BOTH metadata placements (driver pandas, distributed)
    and BOTH θ placements (driver numpy, distributed scorer), the
    pruned scan must decode strictly fewer (term, seg) rows, and the
    pick accounting must equal an independent recount."""
    import searchengine_spark.index.engine as E
    from searchengine_spark.index.engine import search_many

    batch = {
        "qa": ["spark"],
        "qb": ["query", "plan", "shuffle"],
        "qc": ["data", "model", "run"],
        "qd": ["zzznotaterm"],
        "qe": ["spark", "model"],
    }
    def rows(df):
        return [(r["qid"], r["doc_id"], r["score"]) for r in df.collect()]

    unpruned = _unpruned(monkeypatch, lambda: rows(search_many(ix64, batch, driver=False)))
    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "PRUNE_MIN_POSTINGS", 0)
    # driver placement (Σ df fits the bound → auto-selected)
    assert rows(search_many(ix64, batch)) == unpruned

    queries = [batch[q] for q in sorted(batch)]
    qidfs = _qidfs(ix64, queries)
    full = ix64.postings().where(F.col("term").isin(sorted({t for ts in queries for t in ts})))
    n_full = full.count()

    def engaged():
        """The pass drops (term, seg) rows, carries the block-skip
        metadata, and its accounting equals the EXACT volume the θ
        candidates read: Σ n over ALL queried (term, seg) rows in the
        picked segments — queries sharing a rich segment may not
        inflate it, and a per-query count must not undercount it
        (driver-OOM guard regression)."""
        with monkeypatch.context() as m:
            m.setattr(E, "OVERFETCH", 1)
            pruned, thetas, picked = E._prune(ix64, full, qidfs, 10)
        assert 0 < pruned.count() < n_full
        assert thetas and all(v > 0.0 for v in thetas.values())
        for col in ("block_max_tfnorm", "seg_max_tfnorm", "qubs"):
            assert col in pruned.columns, col
        assert picked["segs"]
        exact = full.where(F.col("seg").isin(picked["segs"])).agg(F.sum("n")).collect()[0][0]
        assert picked["n"] == exact, (picked["n"], exact)

    # driver metadata placement: driver-numpy θ, then distributed θ
    # (the pick set forced past the driver cap)
    assert rows(search_many(ix64, batch, driver=False)) == unpruned
    engaged()
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    assert rows(search_many(ix64, batch, driver=False)) == unpruned
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 2_000_000)

    # distributed metadata placement: same results, engagement and
    # exact picked-volume accounting
    monkeypatch.setattr(E, "_META_COLLECT_MAX", 0)
    assert rows(search_many(ix64, batch, driver=False)) == unpruned
    engaged()
    monkeypatch.setattr(E, "_META_COLLECT_MAX", 1_000_000)

    # corpus "too large" to pin doc names → ≤ #queries·k point-read hydration
    monkeypatch.setattr(E, "DOC_VALUES_MAX", 0)
    ix_cold = E.IndexHandle(spark, ix64.snapshot)
    assert ix_cold.doc_names() is None
    assert rows(search_many(ix_cold, batch)) == unpruned


def test_driver_cache_budgets(ix):
    """The pinned serving caches must hold their documented per-entry
    budgets (VERDICT r3: the old '~40 B/doc' dict sizing ignored
    CPython overhead). The doc values are one Arrow table — measured
    bytes come from the buffers themselves: 68-69 B/row on the
    transcripts corpus (its 2,000-doc and 20,000-doc samples alike), so
    a corpus at the DOC_VALUES_MAX cap of 5 M docs pins ~345 MB of
    driver heap. The pinned postings are one Arrow table too, bounded
    per posting. term_dict stays a dict (hash lookups) with a
    tracemalloc-measured ceiling."""
    import tracemalloc

    dv = ix.doc_values()
    assert dv is not None and dv.num_rows == ix.stats["n_docs"]
    assert dv.column("doc_int").to_pylist() == list(range(dv.num_rows))  # row i is doc_int i
    assert dv.nbytes / dv.num_rows <= 96, dv.nbytes / dv.num_rows
    names = ix.doc_names()
    assert names is not None and len(names) == ix.stats["n_docs"]
    per_entry = names.nbytes / len(names)
    # doc_ids like 'conv0000abcd:0042' (~17 B) + 8 B offset/validity
    assert per_entry <= 64, per_entry
    # spot-check correctness of the dense indexing
    row = ix.docmap().where(F.col("doc_int") == 7).select("doc_id").collect()[0]
    assert names[7] == row["doc_id"]
    # the pinned postings: (term, varint blob) rows, in bytes per posting.
    # Measured 5.4 B on this 2,000-doc corpus (71,836 B for 13,279
    # postings; the per-row term strings weigh more on a small index)
    # and 3.6 B on the 20,000-turn perfbench serve corpus (473,413 B for
    # 131,848), so an index at the SERVING_DRIVER_MAX cap of 2 M postings
    # pins ~7-11 MB, and ≤ 24 MB at this bound
    pp = ix.pinned_postings()
    n_postings = sum(df for df, _ in ix.term_dict().values())
    assert pp is not None and pp.column_names == ["term", "postings"]
    assert pp.nbytes / n_postings <= 12, pp.nbytes / n_postings

    from searchengine_spark.index.engine import IndexHandle

    ix2 = IndexHandle(ix.spark, ix.snapshot)  # fresh handle, cold caches
    tracemalloc.start()
    base, _ = tracemalloc.get_traced_memory()
    td = ix2.term_dict()
    now, _ = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert td is not None and len(td) > 100
    measured = (now - base) / len(td)
    # TERM_CACHE_MAX budgets ~150-250 B/entry for the dict + key + value
    assert measured <= 300, measured


def test_warm_serving_job_budget(spark, catalog, spark_jobs, monkeypatch):
    """A warm handle serves from its pinned artifact frames, doc values
    and postings. On an index whose whole posting volume fits
    SERVING_DRIVER_MAX the first driver-placement read pins the postings
    with a driver-side read of the parquet files (no job), and no
    request runs a Spark job — single, multi-term, filtered (first
    seen, repeated, or matching nothing), fuzzy, synonym, sorted, page-2
    and batched alike. A handle that
    cannot pin its postings runs ONE job per request (the Σdf-bounded
    postings collect), and a MUST filter adds none: its doc set is
    evaluated on the pinned doc values."""
    import pyspark.sql

    import searchengine_spark.index.engine as E
    from searchengine_spark.api import advanced_search
    from searchengine_spark.index.engine import search_many

    same = {"category": "assistant", "one-select": [{"name": "tool", "value": "search"}]}
    user_bash = {"category": "user", "one-select": [{"name": "tool", "value": "bash"}]}
    batch = {"qa": ["spark"], "qb": ["query", "plan", "shuffle"], "qc": ["data", "model"]}

    def warm():
        ix = open_index(spark, catalog)  # fresh handle: nothing resolved yet
        ix.term_dict()
        ix.doc_names()
        return ix

    def budget(ix):
        def run(terms, filters=None):
            return len(spark_jobs(lambda: search_index(ix, terms, filters=filters).collect()))

        def served(query="spark query", **kw):
            return len(spark_jobs(lambda: advanced_search(ix, query, **kw).collect()))

        return {
            "multi": run(["query", "plan", "shuffle"]),
            "heavy": run(["data", "model"]),
            "new filter": run(["spark", "query"], ASSISTANT_SEARCH),
            "same filter": run(["spark", "query"], same),
            "filtered to nothing": run(["data"], same),
            "served filter": served(filter_request=user_bash),
            "fuzzy": served("serach qurey"),
            "synonym": served("кепка", synonyms=True),
            "page 2": served(from_=10),
            "sorted": served(sort_field="ts"),
            "sorted page 2": served(sort_field="ts", filter_request=ASSISTANT, from_=10),
            "search_many": len(spark_jobs(lambda: search_many(ix, batch).collect())),
        }

    ix = warm()
    assert spark_jobs(lambda: search_index(ix, ["spark"]).collect()) == []  # pins, no job
    assert ix.pinned_postings() is not None
    got = budget(ix)
    assert got == dict.fromkeys(got, 0)
    assert ix.postings() is ix.postings() and ix.docmap() is ix.docmap()

    # an index whose posting volume exceeds the cap never pins: every
    # request stays the one postings collect
    n_postings = sum(df for df, _ in ix.term_dict().values())
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", n_postings - 1)
    ix = warm()

    def no_pin(*_args, **_kwargs):
        raise AssertionError("an over-cap index must not pin its postings")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toArrow", no_pin)
    monkeypatch.setattr(E, "read_artifact", no_pin)
    assert len(spark_jobs(lambda: search_index(ix, ["spark"]).collect())) == 1
    assert ix.pinned_postings() is None
    got = budget(ix)
    assert got == dict.fromkeys(got, 1)


def test_artifact_schemas_from_manifest(spark, catalog, spark_jobs):
    """The build records each artifact's schema in the manifest, so a
    fresh handle resolves postings/terms/docmap with no Spark job and
    the frames match what footer inference reads. A manifest without
    the record (published before it existed) falls back to inference."""
    from dataclasses import replace

    from searchengine_spark.index.engine import IndexHandle

    snap = catalog.current()
    assert set(snap.manifest["schemas"]) == {"postings", "terms", "docmap"}
    ix = IndexHandle(spark, snap)
    assert spark_jobs(lambda: (ix.postings(), ix.terms(), ix.docmap())) == []
    old = IndexHandle(spark, replace(snap, manifest={k: v for k, v in snap.manifest.items()
                                                     if k != "schemas"}))
    for name in ("postings", "terms", "docmap"):
        declared, inferred = getattr(ix, name)(), []
        assert len(spark_jobs(lambda: inferred.append(getattr(old, name)()))) == 1
        assert sorted(declared.dtypes) == sorted(inferred[0].dtypes)
        assert sorted(declared.collect()) == sorted(inferred[0].collect())


def test_handle_pinned_across_republish(spark, transcripts, tmp_path):
    """Snapshot swap safety: a handle held across a republish keeps
    answering from ITS snapshot (pinned frames point at write-once
    files), while ``open_index`` returns the new snapshot."""
    cat = IndexCatalog(str(tmp_path / "swap"))
    build_index(spark, transcripts, cat, n_buckets=4)
    old = open_index(spark, cat)
    terms = ["spark", "query"]
    want_old = _pairs(search_direct(transcripts, terms))
    want_old_f = _pairs(search_direct(transcripts, terms, doc_predicate=compile_filters(ASSISTANT)))
    assert _pairs(search_index(old, terms)) == want_old
    pinned = old.pinned_postings()  # pinned before the swap
    assert pinned is not None

    small = transcripts.orderBy("conv_id", "turn_idx").limit(200)
    build_index(spark, small, cat, n_buckets=4)
    assert _pairs(search_index(old, terms)) == want_old
    # a first filtered query after the swap still reads the old docmap
    assert _pairs(search_index(old, terms, filters=ASSISTANT)) == want_old_f
    # ... and the old handle keeps serving from its own pinned postings
    assert old.pinned_postings() is pinned
    assert _pairs(search_index(old, ["data", "model"])) == _pairs(
        search_direct(transcripts, ["data", "model"])
    )

    new = open_index(spark, cat)
    assert new.snapshot.snap_id == cat.current_id()
    assert new.snapshot.snap_id != old.snapshot.snap_id
    want_new = _pairs(search_direct(small, terms))
    assert want_new != want_old
    assert _pairs(search_index(new, terms)) == want_new


def test_build_resumable_bucket_jobs(spark, transcripts, tmp_path, monkeypatch):
    """Crash between a postings group's write and its ledger commit,
    then resume: the re-run must overwrite (not duplicate) that group's
    buckets and finish the remaining groups."""
    cat = IndexCatalog(str(tmp_path / "resume_bj"))
    real_commit = B.Ledger.commit

    def exploding_commit(self, stage, **m):
        if stage == "postings-2":
            raise RuntimeError("injected failure after group write")
        return real_commit(self, stage, **m)

    monkeypatch.setattr(B.Ledger, "commit", exploding_commit)
    with pytest.raises(RuntimeError):
        build_index(spark, transcripts, cat, n_buckets=8, bucket_jobs=4)
    monkeypatch.setattr(B.Ledger, "commit", real_commit)

    sid = cat.next_id()
    led = B.Ledger(cat.staging_dir(sid)).entries()
    assert led["postings-0"]["status"] == "done"
    assert led["postings-1"]["status"] == "done"
    assert "postings-2" not in led

    snap = build_index(spark, transcripts, cat, n_buckets=8, bucket_jobs=4, snap_id=sid)
    assert snap.manifest["ledger"]["postings-0"]["ts"] == led["postings-0"]["ts"]
    ixr = open_index(spark, cat)
    # total postings == token count (no duplicated groups)
    from pyspark.sql import functions as F

    total = ixr.postings().agg(F.sum("n")).collect()[0][0]
    from searchengine_spark.query.bm25 import tokenized

    expected = (
        tokenized(transcripts)
        .select(F.explode("tokens").alias("t"), "doc_id")
        .select("doc_id", "t")
        .distinct()
        .count()
    )
    assert total == expected
    assert _pairs(search_index(ixr, ["spark"])) == _pairs(search_direct(transcripts, ["spark"]))


def test_large_corpus_fallback_paths(spark, transcripts, ix, monkeypatch):
    """Above the driver-cache gates (web-scale vocab/corpus) lookups go
    through distributed point-reads — results must be identical."""
    import searchengine_spark.index.engine as E

    monkeypatch.setattr(E, "TERM_CACHE_MAX", 0)
    monkeypatch.setattr(E, "DOC_VALUES_MAX", 0)
    ix2 = E.IndexHandle(spark, ix.snapshot)  # fresh handle, no caches
    terms = ["query", "plan", "shuffle"]
    assert _pairs(E.search_index(ix2, terms)) == _pairs(search_direct(transcripts, terms))
    assert E.expand_fuzzy(ix2, "serach")  # distributed fuzzy scan path


def test_index_time_synonyms_df_shift(spark, transcripts, ix, tmp_path_factory):
    """synonyms=True installs the group into the build analyzer: every
    group member's df becomes the group-union df, and a single-member
    query matches all docs containing any member (S7 reference
    ReindexBleve semantics)."""
    import searchengine_spark.semantics as S
    from searchengine_spark.functions.text import tokens_no_stop
    from searchengine_spark.index.engine import term_meta

    cat = IndexCatalog(str(tmp_path_factory.mktemp("index_syn") / "t"))
    snap = build_index(spark, transcripts, cat, n_buckets=8, synonyms=True)
    assert snap.manifest["synonyms"] is True
    ixs = open_index(spark, cat)
    group = list(S.SYNONYM_GROUPS[0])

    dfs = {t: m[0] for t, m in term_meta(ixs, group).items()}
    assert set(dfs) == set(group)
    n_union = transcripts.where(
        F.arrays_overlap(tokens_no_stop("text"), F.lit(group))
    ).count()
    assert n_union > 0 and all(d == n_union for d in dfs.values())
    # the plain index keeps per-member dfs strictly below the union
    plain_dfs = {t: m[0] for t, m in term_meta(ix, group).items()}
    assert any(plain_dfs[t] < n_union for t in plain_dfs)

    # single-member query on the synonym index hits the same doc set as
    # query-time group expansion on the plain index (scores shift with
    # df/dl, membership must not)
    syn_hits = {r["doc_id"] for r in search_index(ixs, [group[0]], k=n_union).collect()}
    plain_hits = {r["doc_id"] for r in search_index(ix, group, k=n_union).collect()}
    assert syn_hits == plain_hits


def test_fused_and_checkpointed_builds_identical(spark, transcripts, tmp_path_factory, monkeypatch):
    """bucket_jobs=1 fuses tf into the postings encoder; the postings
    table must be byte-identical to the tf-checkpointed path."""
    import os

    from pyspark.sql import functions as F

    cat_fast = IndexCatalog(str(tmp_path_factory.mktemp("fused") / "t"))
    build_index(spark, transcripts, cat_fast, n_buckets=8)

    monkeypatch.setenv("SENG_TF_CHECKPOINT", "1")
    cat_ckpt = IndexCatalog(str(tmp_path_factory.mktemp("ckpt") / "t"))
    build_index(spark, transcripts, cat_ckpt, n_buckets=8)
    monkeypatch.delenv("SENG_TF_CHECKPOINT")

    a = spark.read.parquet(cat_fast.current().postings_dir)
    b = spark.read.parquet(cat_ckpt.current().postings_dir)
    cols = ["term", "seg", "n", "first_doc", "last_doc", "sum_tf",
            F.md5(F.col("postings")).alias("ph")]
    rows_a = sorted(tuple(r) for r in a.select(*cols).collect())
    rows_b = sorted(tuple(r) for r in b.select(*cols).collect())
    assert rows_a == rows_b and len(rows_a) > 100


def test_block_max_pruning_engages_and_is_exact(spark, transcripts, ix64, monkeypatch):
    """Multi-segment layout (tiny SEG_SPAN) and a zero engagement gate
    so the θ pass actually runs: the pruned distributed plan must stay
    rank-identical to the unpruned plan and to the direct path, and
    must establish a positive θ."""
    import searchengine_spark.index.engine as E

    n_segs = ix64.postings().select("seg").distinct().count()
    assert n_segs > 4

    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)  # keep the distributed path under test
    for terms in (["spark"], ["query", "plan", "shuffle"], ["data", "model", "run"]):
        pruned = _pairs(search_index(ix64, terms))
        unpruned = _pairs(_unpruned(monkeypatch, lambda: search_index(ix64, terms)))
        direct = _pairs(search_direct(transcripts, terms))
        assert pruned == unpruned == direct

    # MUST-filtered queries prune too (θ established among allowed docs)
    pred = compile_filters(ASSISTANT)
    for terms in (["query", "plan", "shuffle"], ["data", "model", "run"]):
        pruned = _pairs(search_index(ix64, terms, filters=ASSISTANT))
        unpruned = _pairs(
            _unpruned(monkeypatch, lambda: search_index(ix64, terms, filters=ASSISTANT))
        )
        direct = _pairs(search_direct(transcripts, terms, doc_predicate=pred))
        assert pruned == unpruned == direct

    # the θ pass must actually produce a positive theta (i.e. it
    # engaged) for a query with more matches than OVERFETCH·k
    segs = ix64.postings().where(F.col("term").isin(["data", "model", "run"]))
    idfs = {t: E._idf(ix64.stats["n_docs"], 100) for t in ["data", "model", "run"]}
    monkeypatch.setattr(E, "OVERFETCH", 1)
    kept, thetas, _ = E._prune(ix64, segs, [idfs], 10)
    assert thetas[0] > 0.0
    assert kept.count() <= segs.count()


def test_serving_plan_shape(ix):
    """Plan-shape regression gate for one query on the distributed
    placement: the postings scan must push the term predicate into
    parquet (row-group pruning) and read only the scoring columns; the
    top-k must be TakeOrderedAndProject (per-partition heaps), not a
    global sort or a window partitioned by query."""
    import searchengine_spark.index.engine as E

    segs = E._term_postings(ix, E.term_meta(ix, ["spark"])).select("term", "postings")
    top = E._top_k(E._aggregate(ix, segs, _qidfs(ix, [["spark"]])), 1, 10)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "Window" not in plan
    scan = segs._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in scan and "term" in scan.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan schema must not include posting metadata
    # the scorer does not need (first_doc/last_doc/sum_tf stay unread)
    assert "sum_tf" not in scan.split("ReadSchema", 1)[1][:400]


def test_multiterm_block_skip_exact(monkeypatch):
    """Multi-term block-max WAND (north_star): with the cross-term
    segment complement (ub(q, seg) − idf_t·seg_max_t) a cold block of ONE
    term is skipped even though other terms keep scoring its docs, and
    every doc whose total can reach θ keeps its full score.

    Pure scorer-level test (no Spark): BLOCK shrunk to 2 so a handful
    of postings spans multiple blocks."""
    import numpy as np
    import pandas as pd

    import searchengine_spark.index.engine as E
    from searchengine_spark import semantics as S
    from searchengine_spark.index.codec import encode_postings

    monkeypatch.setattr(E, "BLOCK", 2)
    k1, b, avgdl = S.K1, S.B, 10.0

    def tfn(tf, dl=10):
        tf = np.float64(tf)
        return float(tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))

    # term a: docs 0-3, hot block (tf=5,5) then cold block (tf=1,1)
    # term b: docs 0-1, one block (tf=1,1)
    blob_a = encode_postings(np.array([0, 1, 2, 3]), np.array([5, 5, 1, 1]), np.full(4, 10))
    blob_b = encode_postings(np.array([0, 1]), np.array([1, 1]), np.full(2, 10))
    bmax_a = [max(tfn(5), tfn(5)), max(tfn(1), tfn(1))]
    bmax_b = [tfn(1)]
    segmax_a, segmax_b = max(bmax_a), max(bmax_b)
    idfs = {"a": 1.0, "b": 1.0}
    seg_ub = idfs["a"] * segmax_a + idfs["b"] * segmax_b

    pdf = pd.DataFrame(
        {
            "term": ["a", "b"],
            "postings": [blob_a, blob_b],
            "block_max_tfnorm": [bmax_a, bmax_b],
            "seg_max_tfnorm": [segmax_a, segmax_b],
            "qubs": [[{"q": 0, "ub": seg_ub}]] * 2,
        }
    )

    def agg(theta):
        out = list(E._make_scorer([idfs], avgdl, {0: theta})(iter([pdf])))
        rows = pd.concat(out)
        return rows.groupby("doc_int")["contrib"].sum().to_dict(), len(rows)

    full, n_full = agg(0.0)
    assert n_full == 6  # 4 a-entries + 2 b-entries, nothing skipped
    # bounds: a-cold block = tfn(1) + segmax_b = 2.0; every other block 2.77+
    theta = 2.5
    pruned, n_pruned = agg(theta)
    assert n_pruned == 4  # a's cold block (docs 2,3) skipped, b intact
    # docs that can reach θ keep bit-identical full scores
    for d in (0, 1):
        assert pruned[d] == full[d] and full[d] >= theta
    # skipped docs' true totals are provably below θ
    for d in (2, 3):
        assert full[d] < theta and d not in pruned


def test_wand_parity_fuzz(spark, tmp_path_factory, monkeypatch):
    """Randomized exactness audit of the full pruning stack (segment
    θ-prune + multi-term block-max + filtered θ): random skewed corpora
    under a forced multi-segment layout must stay rank-identical to the
    direct path for random 1-3-term queries, with and without a MUST
    filter. Seeded → deterministic."""
    import random

    import searchengine_spark.index.engine as E

    monkeypatch.setattr(B, "SEG_SPAN", 32)
    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)  # keep the distributed path under test
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → heavy collisions
    for seed in (7, 23):
        rng = random.Random(seed)
        rows = []
        for d in range(120):
            n = rng.randint(1, 30)
            text = " ".join(rng.choices(vocab, weights=range(1, 13), k=n))
            rows.append((f"c{d:04d}", 0, rng.choice(["user", "assistant"]),
                         text, "", "2025-01-01T00:00:00"))
        docs = spark.createDataFrame(
            rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts STRING"
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        cat = IndexCatalog(str(tmp_path_factory.mktemp("fuzz") / f"s{seed}"))
        build_index(spark, docs, cat, n_buckets=4)
        ixf = open_index(spark, cat)
        pred = compile_filters(ASSISTANT)
        for _ in range(4):
            terms = rng.sample(vocab, rng.randint(1, 3))
            assert _pairs(search_index(ixf, terms)) == _pairs(
                search_direct(docs, terms)
            ), (seed, terms)
            assert _pairs(
                search_index(ixf, terms, filters=ASSISTANT)
            ) == _pairs(search_direct(docs, terms, doc_predicate=pred)), (seed, terms, "filtered")


def test_with_doc_int_one_job(spark, tmp_path, spark_jobs):
    """``doc_int = offsets[_pid] + _rank`` over a committed
    multi-partition frame is one Spark job: the offsets ride in the plan
    as a literal map, not a broadcast join against a local frame."""
    ranked = (
        spark.range(0, 1000, numPartitions=4)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_rank", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)))
    )
    raw_dir = str(tmp_path / "raw")
    ranked.write.parquet(raw_dir)
    raw = spark.read.schema(ranked.schema).parquet(raw_dir)
    offsets = B.partition_offsets(raw_dir, expected_rows=1000)
    assert len(offsets) == 4
    # past 2^31, so the sum must be long arithmetic
    offsets = {pid: o + (1 << 40) for pid, o in offsets.items()}
    got: list = []
    numbered = B.with_doc_int(raw, offsets)
    assert len(spark_jobs(lambda: got.extend(numbered.collect()))) == 1
    assert dict(numbered.dtypes)["doc_int"] == "bigint"
    want = {r["id"]: offsets[r["_pid"]] + r["_rank"] for r in raw.collect()}
    assert {r["id"]: r["doc_int"] for r in got} == want
    assert sorted(want.values()) == [(1 << 40) + i for i in range(1000)]


def test_ledger_bytes_match_snapshot(catalog):
    """The ledger records the on-disk size of all three serving
    artifacts: for a ``bucket_jobs=1`` build, docmap + postings-0 +
    terms bytes equal the published snapshot's three directories."""
    snap = catalog.current()
    led = snap.manifest["ledger"]
    assert "postings-1" not in led
    for stage, path in (("docmap", snap.docmap_dir), ("postings-0", snap.postings_dir),
                        ("terms", snap.terms_dir)):
        assert led[stage]["bytes_written"] == B._dir_bytes(path) > 0, stage


def _parquet_files(path):
    import glob
    import os

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert files, path
    return files


def _chunks(path):
    """(file, column path, compression, encodings) of every column
    chunk of every parquet file under ``path``, from the footers."""
    import pyarrow.parquet as pq

    out = []
    for f in _parquet_files(path):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                out.append((f, col.path_in_schema, col.compression, set(col.encodings)))
    return out


def test_artifacts_zstd_v2_and_old_snapshots_read(spark, transcripts, tmp_path):
    """Every serving artifact — a snapshot's postings/docmap/terms and a
    CDC delta's four parts — is written as zstd column chunks, and the
    docmap's dense ``doc_int`` takes the v2 DELTA_BINARY_PACKED
    encoding. A snapshot whose docmap and postings are snappy Parquet v1
    (as written before) reads with no fallback code: the same results
    for a multi-term and a filtered query, base alone and under a delta."""
    import json
    import os

    import pyarrow.parquet as pq

    from searchengine_spark.streaming import StreamingIndex
    from searchengine_spark.streaming.ingest import message_schema

    root = str(tmp_path / "store")
    s = StreamingIndex(spark, root)
    s.bootstrap(transcripts)
    msgs = [{"seq": i, "doc_id": f"zfmt:{i:04d}", "delete": False,
             "doc": {"conv_id": "zfmt", "turn_idx": i, "role": "assistant",
                     "text": f"spark query format body {i}", "tool": "search",
                     "ts": "2025-02-01T00:00:00"}} for i in range(5)]
    (tmp_path / "batch.json").write_text("".join(json.dumps(m) + "\n" for m in msgs))
    s.apply_batch(spark.read.schema(message_schema()).json(str(tmp_path / "batch.json")), 0)

    snap = s.catalog.current()
    parts = [snap.postings_dir, snap.docmap_dir, snap.terms_dir] + [
        os.path.join(s.delta_root, "delta-0", p)
        for p in ("tombstones", "upserts", "docmap", "postings")
    ]
    for path in parts:
        assert {c[2] for c in _chunks(path)} == {"ZSTD"}, path
    for path in (snap.docmap_dir, os.path.join(s.delta_root, "delta-0", "docmap")):
        doc_int = [c[3] for c in _chunks(path) if c[1] == "doc_int"]
        assert doc_int and all("DELTA_BINARY_PACKED" in e for e in doc_int), path
    # the delta's parts are driver-written: each column takes the encoding
    # Spark's v2 writer gives it, and no footer carries an Arrow schema blob
    want = {
        "doc_id": "DELTA_BYTE_ARRAY", "term": "DELTA_BYTE_ARRAY",
        "postings": "DELTA_BYTE_ARRAY", "ts": "DELTA_BINARY_PACKED",
        "first_doc": "DELTA_BINARY_PACKED", "last_doc": "DELTA_BINARY_PACKED",
        "block_last_doc.list.element": "DELTA_BINARY_PACKED", "role": "RLE_DICTIONARY",
        "n": "RLE_DICTIONARY", "block_max_tfnorm.list.element": "RLE_DICTIONARY",
    }
    seen = set()
    for p in ("tombstones", "upserts", "docmap", "postings"):
        for f, col, _, enc in _chunks(os.path.join(s.delta_root, "delta-0", p)):
            assert b"ARROW:schema" not in (pq.ParquetFile(f).metadata.metadata or {}), f
            if col in want:
                assert want[col] in enc, (p, col, enc)
                seen.add(col)
    assert seen == set(want)

    multi, filtered = ["spark", "query", "plan"], dict(ASSISTANT_SEARCH)

    def answers():
        ix = open_index(spark, s.catalog)
        live = StreamingIndex(spark, root)  # a fresh object: nothing pinned
        return (_pairs(search_index(ix, multi)),
                _pairs(search_index(ix, multi, filters=filtered)),
                _pairs(live.search(multi)))

    want = answers()
    assert want[0] == _pairs(search_direct(transcripts, multi))
    assert want[1] == _pairs(
        search_direct(transcripts, multi, doc_predicate=compile_filters(filtered))
    )
    assert want[1] and any(d.startswith("zfmt:") for d, _ in want[2])

    # rewrite the base docmap and postings in place as snappy v1 pages,
    # keeping every file name (the stale .crc checksums go with them)
    for path in (snap.docmap_dir, snap.postings_dir):
        for f in _parquet_files(path):
            table = pq.ParquetFile(f).read()
            pq.write_table(table, f, compression="snappy", data_page_version="1.0")
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        assert {c[2] for c in _chunks(path)} == {"SNAPPY"}, path
    assert answers() == want
