"""Index build + index-backed search: rank-identity vs the direct path
and vs the pure-Python oracle; resumability (north_rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


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


def test_pruned_equals_unpruned(ix):
    terms = ["query", "plan", "shuffle"]
    assert _pairs(search_index(ix, terms, prune=True)) == _pairs(
        search_index(ix, terms, prune=False)
    )


def test_driver_path_equals_distributed(ix, transcripts, monkeypatch):
    """The Σ-df-gated serving fast path (driver numpy scoring) must be
    rank- and score-identical to the distributed plan for every mode:
    or / and / MUST-filtered / pagination-k. Forcing the cap to 0
    re-runs each query through the distributed path for comparison."""
    import searchengine_spark.index.engine as E

    pred = (F.col("role") == "assistant") & (F.col("tool") == "search")
    cases = [
        (["spark"], {}),
        (["query", "plan", "shuffle"], {}),
        (["data", "model", "run"], {"k": 25}),
        (["data", "model"], {"mode": "and"}),
        (["spark", "query"], {"doc_predicate": pred}),
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
    pred = (F.col("role") == "assistant") & (F.col("tool") == "search")
    got = _pairs(search_index(ix, ["spark", "query"], doc_predicate=pred))
    want = _pairs(search_direct(transcripts, ["spark", "query"], doc_predicate=pred))
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


def test_search_many_matches_singles(spark, ix):
    from searchengine_spark.index.engine import search_many

    batch = {"qa": ["spark"], "qb": ["query", "plan", "shuffle"], "qc": ["data", "model", "run"]}
    got = search_many(ix, batch).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, terms in batch.items():
        assert by_q.get(qid, []) == _pairs(search_index(ix, terms)), qid


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
    from searchengine_spark.index.engine import _idf, _prune_segments, term_meta

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

    pred = F.col("role") == "assistant"  # 12/2000 = 0.6 % selectivity
    terms = ["needle"]
    k = 5
    got = _pairs(search_index(ixp, terms, doc_predicate=pred, k=k))
    want = _pairs(search_index(ixp, terms, doc_predicate=pred, k=k, prune=False))
    assert got == want
    assert len(got) == k  # non-vacuous: the filter leaves ≥k matches

    # engagement: round 0/1 pick only decoy segments (0 allowed docs),
    # so θ>0 here proves the expansion rounds ran; the background
    # segments' ub = idf·tfnorm(tf=1) < θ = 5th allowed score (tf=4)
    # must then be dropped AND their entries never decoded
    meta = term_meta(ixp, terms)
    idfs = {t: _idf(ixp.stats["n_docs"], meta[t][0]) for t in terms if t in meta}
    full = ixp.postings().where(F.col("term").isin(list(idfs)))
    allowed = ixp.docmap().where(pred).select("doc_int")
    pruned, theta = _prune_segments(ixp, full, idfs, k=k, overfetch=4, allowed=allowed)
    assert theta > 0.0
    n_full, n_pruned = full.count(), pruned.count()
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    out_schema = "doc_int LONG, contrib DOUBLE"
    skipped = (
        pruned.select("term", "postings", "block_max_tfnorm", "seg_max_tfnorm", "seg_ub")
        .mapInPandas(E._make_scorer(idfs, ixp.stats["avgdl"], theta), out_schema)
        .count()
    )
    unskipped = (
        full.select("term", "postings", "block_max_tfnorm")
        .mapInPandas(E._make_scorer(idfs, ixp.stats["avgdl"], 0.0), out_schema)
        .count()
    )
    assert 0 < skipped < unskipped, (skipped, unskipped)


def test_search_many_pruned_parity(spark, transcripts, tmp_path_factory, monkeypatch):
    """Batch-path pruning (per-qid θ, seg survivors + per-qid block
    skip): forced multi-segment layout + zero engagement gates —
    pruned results must equal unpruned on BOTH θ paths (driver-numpy
    and distributed candidate job), AND the pruned scan must decode
    strictly fewer (term, seg) rows."""
    import searchengine_spark.index.engine as E
    from searchengine_spark.index.engine import (
        _idf,
        _prune_segments_many,
        open_index,
        search_many,
        term_meta,
    )

    monkeypatch.setattr(B, "SEG_SPAN", 64)
    cat = IndexCatalog(str(tmp_path_factory.mktemp("prune_many") / "t"))
    build_index(spark, transcripts, cat, n_buckets=8)
    ixp = open_index(spark, cat)
    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "PRUNE_MIN_POSTINGS", 0)

    batch = {
        "qa": ["spark"],
        "qb": ["query", "plan", "shuffle"],
        "qc": ["data", "model", "run"],
        "qd": ["zzznotaterm"],
        "qe": ["spark", "model"],
    }
    def rows(df):
        return [(r["qid"], r["doc_id"], r["score"]) for r in df.collect()]

    unpruned = rows(search_many(ixp, batch, prune=False, driver=False))
    # driver fast path (Σ df fits the bound → auto-selected)
    assert rows(search_many(ixp, batch)) == unpruned
    # distributed plan, pruned, driver-numpy θ (pick set fits the bound)
    assert rows(search_many(ixp, batch, prune=True, driver=False)) == unpruned

    # the prune actually drops (term, seg) rows for this batch, and the
    # scan carries the block-skip metadata for the scorer
    meta = term_meta(ixp, sorted({t for ts in batch.values() for t in ts}))
    st = ixp.stats
    term_q = {}
    for qid, ts in batch.items():
        for t in ts:
            if t in meta:
                term_q.setdefault(t, []).append((qid, _idf(st["n_docs"], meta[t][0])))
    full = ixp.postings().where(F.col("term").isin(list(term_q)))
    pruned, thetas = _prune_segments_many(ixp, full, term_q, k=10, overfetch=1)
    n_full, n_pruned = full.count(), pruned.count()
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    assert thetas and all(v > 0.0 for v in thetas.values())
    for col in ("block_max_tfnorm", "seg_max_tfnorm", "qubs"):
        assert col in pruned.columns, col

    # the SERVING_DRIVER_MAX gate's accounting must equal the EXACT
    # volume the θ pass would collect: Σ n over ALL queried (term, seg)
    # rows in the picked segments — multiple queries sharing a rich
    # segment may not inflate the count past what `head` pulls, and a
    # per-qid cnt must not undercount it (driver-OOM guard regression)
    picked = E._LAST_PICKED
    assert picked is not None and picked["segs"]
    exact = (
        full.where(F.col("seg").isin(picked["segs"]))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert picked["n"] == exact, (picked["n"], exact)

    # distributed-θ fallback: force the pick set past the driver cap
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    assert rows(search_many(ixp, batch, prune=True, driver=False)) == unpruned
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 2_000_000)

    # everything above ran the driver-METADATA fast path (small corpus
    # fits _META_COLLECT_MAX); force the distributed metadata pass and
    # require the same results, engagement, and the same exact
    # picked-volume accounting
    monkeypatch.setattr(E, "_META_COLLECT_MAX", 0)
    assert rows(search_many(ixp, batch, prune=True, driver=False)) == unpruned
    pruned_d, thetas_d = _prune_segments_many(ixp, full, term_q, k=10, overfetch=1)
    assert 0 < pruned_d.count() < n_full
    assert thetas_d and all(v > 0.0 for v in thetas_d.values())
    picked_d = E._LAST_PICKED
    assert picked_d is not None and picked_d["segs"]
    exact_d = (
        full.where(F.col("seg").isin(picked_d["segs"]))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert picked_d["n"] == exact_d, (picked_d["n"], exact_d)
    monkeypatch.setattr(E, "_META_COLLECT_MAX", 1_000_000)

    # corpus "too large" to pin doc names → ≤ #qids·k point-read hydration
    monkeypatch.setattr(E, "DOC_NAME_CACHE_MAX", 0)
    ix_cold = open_index(spark, cat)
    assert ix_cold.doc_names() is None
    assert rows(search_many(ix_cold, batch)) == unpruned


def test_driver_cache_budgets(ix):
    """The pinned serving caches must hold their documented per-entry
    budgets (VERDICT r3: the old '~40 B/doc' dict sizing ignored
    CPython overhead). doc_names is now one Arrow string column —
    measured bytes come from the buffers themselves; term_dict stays a
    dict (hash lookups) with a tracemalloc-measured ceiling."""
    import tracemalloc

    names = ix.doc_names()
    assert names is not None and len(names) == ix.stats["n_docs"]
    per_entry = names.nbytes / len(names)
    # doc_ids like 'conv0000abcd:0042' (~17 B) + 8 B offset/validity
    assert per_entry <= 64, per_entry
    # spot-check correctness of the dense indexing
    row = ix.docmap().where(F.col("doc_int") == 7).select("doc_id").collect()[0]
    assert names[7] == row["doc_id"]

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


def test_warm_serving_job_budget(spark, catalog, spark_jobs):
    """A warm handle serves from its pinned artifact frames: the
    driver fast path is ONE Spark job (the Σdf-bounded postings
    collect), a repeated MUST predicate reuses its pinned filter set,
    and only a new predicate adds its one docmap job."""
    ix = open_index(spark, catalog)  # fresh handle: nothing resolved yet
    ix.term_dict()
    ix.doc_names()
    search_index(ix, ["spark"]).collect()  # resolves the postings frame

    def run(terms, pred=None):
        return len(spark_jobs(lambda: search_index(ix, terms, doc_predicate=pred).collect()))

    assert run(["query", "plan", "shuffle"]) == 1
    assert run(["data", "model"]) == 1
    pred = (F.col("role") == "assistant") & (F.col("tool") == "search")
    assert run(["spark", "query"], pred) == 2  # new predicate: filter set + collect
    same = (F.col("role") == "assistant") & (F.col("tool") == "search")
    assert run(["spark", "query"], same) == 1
    assert run(["data"], same) == 1  # filtered to nothing: the empty result adds no job
    assert ix.postings() is ix.postings() and ix.docmap() is ix.docmap()


def test_handle_pinned_across_republish(spark, transcripts, tmp_path):
    """Snapshot swap safety: a handle held across a republish keeps
    answering from ITS snapshot (pinned frames point at write-once
    files), while ``open_index`` returns the new snapshot."""
    cat = IndexCatalog(str(tmp_path / "swap"))
    build_index(spark, transcripts, cat, n_buckets=4)
    old = open_index(spark, cat)
    terms = ["spark", "query"]
    pred = F.col("role") == "assistant"
    want_old = _pairs(search_direct(transcripts, terms))
    want_old_f = _pairs(search_direct(transcripts, terms, doc_predicate=pred))
    assert _pairs(search_index(old, terms)) == want_old

    small = transcripts.orderBy("conv_id", "turn_idx").limit(200)
    build_index(spark, small, cat, n_buckets=4)
    assert _pairs(search_index(old, terms)) == want_old
    # a first filtered query after the swap still reads the old docmap
    assert _pairs(search_index(old, terms, doc_predicate=pred)) == want_old_f

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
    monkeypatch.setattr(E, "DOC_NAME_CACHE_MAX", 0)
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


def test_block_max_pruning_engages_and_is_exact(spark, transcripts, tmp_path_factory, monkeypatch):
    """Force multi-segment layout (tiny SEG_SPAN) and a zero engagement
    gate so _prune_segments actually runs: the distributed greedy
    prefix + theta semi-join must stay rank-identical to the unpruned
    path and to the direct path, and must actually drop segments."""
    import searchengine_spark.index.engine as E

    monkeypatch.setattr(B, "SEG_SPAN", 64)  # ~1000 docs -> ~16 segments
    cat = IndexCatalog(str(tmp_path_factory.mktemp("prune") / "t"))
    build_index(spark, transcripts, cat, n_buckets=8)
    ixp = open_index(spark, cat)
    n_segs = ixp.postings().select("seg").distinct().count()
    assert n_segs > 4

    monkeypatch.setattr(E, "PRUNE_MIN_DOCS", 0)
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)  # keep the distributed path under test
    for terms in (["spark"], ["query", "plan", "shuffle"], ["data", "model", "run"]):
        pruned = _pairs(search_index(ixp, terms, prune=True))
        unpruned = _pairs(search_index(ixp, terms, prune=False))
        direct = _pairs(search_direct(transcripts, terms))
        assert pruned == unpruned == direct

    # MUST-filtered queries prune too (θ established among allowed docs)
    pred = F.col("role") == "assistant"
    for terms in (["query", "plan", "shuffle"], ["data", "model", "run"]):
        pruned = _pairs(search_index(ixp, terms, doc_predicate=pred, prune=True))
        unpruned = _pairs(search_index(ixp, terms, doc_predicate=pred, prune=False))
        direct = _pairs(search_direct(transcripts, terms, doc_predicate=pred))
        assert pruned == unpruned == direct

    # the prune path must actually produce a positive theta (i.e. it
    # engaged) for a query with more matches than overfetch*k
    segs = ixp.postings().where(F.col("term").isin(["data", "model", "run"]))
    from searchengine_spark.index.engine import _idf, _prune_segments

    st = ixp.stats
    idfs = {t: _idf(st["n_docs"], 100) for t in ["data", "model", "run"]}
    kept, theta = _prune_segments(ixp, segs, idfs, k=10, overfetch=1)
    assert theta > 0.0
    assert kept.select("seg").distinct().count() <= n_segs


def test_serving_plan_shape(ix):
    """Plan-shape regression gate for the serving path: the postings
    scan must push the term predicate into parquet (row-group pruning)
    and read only the scoring columns; the top-k must be
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    from searchengine_spark.index.engine import _idf, _make_scorer, term_meta
    from pyspark.sql import functions as F

    meta = term_meta(ix, ["spark"])
    st = ix.stats
    segs = (
        ix.postings()
        .where(F.col("bucket").isin([meta["spark"][1]]))
        .where(F.col("term").isin(["spark"]))
        .select("term", "postings", "block_max_tfnorm")
    )
    scored = segs.mapInPandas(
        _make_scorer({"spark": _idf(st["n_docs"], meta["spark"][0])}, st["avgdl"], 0.0),
        "doc_int LONG, contrib DOUBLE",
    )
    top = (
        scored.groupBy("doc_int").agg(F.sum("contrib").alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_int")).limit(10)
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    scan = segs._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in scan and "term" in scan.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan schema must not include posting metadata
    # the scorer does not need (first_doc/last_doc/sum_tf stay unread)
    assert "sum_tf" not in scan.split("ReadSchema", 1)[1][:400]


def test_multiterm_block_skip_exact(monkeypatch):
    """Multi-term block-max WAND (north_star): with the cross-term
    segment complement (seg_ub − idf_t·seg_max_t) a cold block of ONE
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
            "seg_ub": [seg_ub, seg_ub],
        }
    )

    def agg(theta):
        out = list(E._make_scorer(idfs, avgdl, theta)(iter([pdf])))
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
        pred = F.col("role") == "assistant"
        for _ in range(4):
            terms = rng.sample(vocab, rng.randint(1, 3))
            assert _pairs(search_index(ixf, terms, prune=True)) == _pairs(
                search_direct(docs, terms)
            ), (seed, terms)
            assert _pairs(
                search_index(ixf, terms, doc_predicate=pred, prune=True)
            ) == _pairs(search_direct(docs, terms, doc_predicate=pred)), (seed, terms, "filtered")
