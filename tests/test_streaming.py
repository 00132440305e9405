"""Streaming ingest (SURVEY §2.1 S9-S11): checkpointed exactly-once
upsert/delete stream → delta log → live search → compaction.

Mirrors the reference's subscriber semantics
(``internal/subscriber/subscriber.go:78-95``): upsert = delete + re-add,
last-write-wins, arrival order; plus our documented Lucene-style live
statistics between compactions.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from searchengine_spark.query.bm25 import search_direct
from searchengine_spark.streaming import StreamingIndex

ROOT = "/tmp/seng_stream_test"
SRC = os.path.join(ROOT, "incoming")


def _msg(seq, conv_id, turn_idx, text, role="user", tool="", ts="2025-02-01T00:00:00",
         delete=False):
    return {
        "seq": seq,
        "doc_id": f"{conv_id}:{turn_idx:04d}",
        "delete": delete,
        "doc": {
            "conv_id": conv_id, "turn_idx": turn_idx, "role": role,
            "text": text, "tool": tool, "ts": ts,
        },
    }


def _write_batch(name: str, msgs: list[dict]) -> None:
    os.makedirs(SRC, exist_ok=True)
    tmp = os.path.join(SRC, f".{name}.tmp")
    with open(tmp, "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")
    os.replace(tmp, os.path.join(SRC, name))


@pytest.fixture(scope="module")
def sidx(spark, transcripts):
    shutil.rmtree(ROOT, ignore_errors=True)
    s = StreamingIndex(spark, os.path.join(ROOT, "store"))
    s.bootstrap(transcripts)
    yield s
    shutil.rmtree(ROOT, ignore_errors=True)


def test_bootstrap_matches_corpus(sidx, transcripts):
    assert sidx.current_docs().count() == transcripts.count()
    assert sidx.catalog.current() is not None


def test_ingest_upsert_delete(sidx, spark, transcripts):
    n0 = transcripts.count()
    # victim: an existing doc to update, another to delete
    first = transcripts.orderBy("conv_id", "turn_idx").limit(2).collect()
    upd, dele = first[0], first[1]
    _write_batch("b1.json", [
        _msg(1, "zstream", 0, "freshly streamed spark document zebrafresh"),
        _msg(2, "zstream", 1, "another streamed turn zebrafresh zebrafresh"),
        _msg(3, upd["conv_id"], upd["turn_idx"], "updated text zebrafresh only"),
        _msg(4, dele["conv_id"], dele["turn_idx"], "", delete=True),
        # last-write-wins within the batch: seq 6 beats seq 5
        _msg(5, "zstream", 2, "loser version"),
        _msg(6, "zstream", 2, "winner version zebrafresh"),
    ])
    sidx.ingest_files(SRC)

    cur = sidx.current_docs().cache()
    # +3 new docs, 1 update (net 0), 1 delete (net -1)
    assert cur.count() == n0 + 3 - 1
    upd_row = cur.where(
        (F.col("conv_id") == upd["conv_id"]) & (F.col("turn_idx") == upd["turn_idx"])
    ).collect()
    assert len(upd_row) == 1 and "zebrafresh" in upd_row[0]["text"]
    assert cur.where(
        (F.col("conv_id") == dele["conv_id"]) & (F.col("turn_idx") == dele["turn_idx"])
    ).count() == 0
    win = cur.where((F.col("conv_id") == "zstream") & (F.col("turn_idx") == 2)).collect()
    assert len(win) == 1 and win[0]["text"].startswith("winner")
    cur.unpersist()


def test_checkpoint_makes_ingest_idempotent(sidx):
    deltas_before = sidx.delta_ids()
    sidx.ingest_files(SRC)  # no new files → no new deltas
    assert sidx.delta_ids() == deltas_before


def test_live_search_sees_stream(sidx):
    hits = sidx.search(["zebrafresh"]).collect()
    ids = [r["doc_id"] for r in hits]
    assert "zstream:0000" in ids and "zstream:0001" in ids and "zstream:0002" in ids
    # doc with tf=2 ranks above tf=1 (same dl ballpark): top hit is turn 1
    assert hits[0]["doc_id"] == "zstream:0001"


def test_live_search_excludes_tombstones(sidx, transcripts):
    dele = transcripts.orderBy("conv_id", "turn_idx").limit(2).collect()[1]
    dead_id = f"{dele['conv_id']}:{dele['turn_idx']:04d}"
    # search a heavy term from the deleted doc's text — the dead doc must
    # never surface even if it would match
    from searchengine_spark.oracle import tokenize

    terms = list(dict.fromkeys(tokenize(dele["text"])))[:3]
    if terms:
        ids = [r["doc_id"] for r in sidx.search(terms, k=1000).collect()]
        assert dead_id not in ids


def test_live_stats_semantics(sidx):
    """Single-term live score follows the documented maxDoc-style stats:
    N and df include tombstoned-but-unmerged docs."""
    import math

    from searchengine_spark import semantics as S

    base = sidx.catalog.current()
    n_docs = base.stats["n_docs"]
    sum_dl = base.stats["sum_dl"]
    for did in sidx.delta_ids():
        m = sidx._delta_meta(did)
        n_docs += m["n_docs"]
        sum_dl += m["sum_dl"]
    avgdl = sum_dl / n_docs
    # 'zebrafresh' exists only in the 4 delta docs (one superseded by the
    # update? no — it's in upd's new text too) → df = 4
    df = 4
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    # top hit zstream:0001: tf=2, dl=5 ("another streamed turn zebrafresh zebrafresh")
    tf, dl = 2.0, 5.0
    expected = idf * S.tf_norm(tf, dl, avgdl)
    got = sidx.search(["zebrafresh"]).collect()[0]["score"]
    assert abs(got - round(expected, S.SCORE_DECIMALS)) <= 10 ** -S.SCORE_DECIMALS


def test_compact_restores_exactness(sidx, spark):
    sidx.compact()
    assert sidx.delta_ids() == []
    cur = sidx.current_docs()
    live = sidx.search(["zebrafresh"]).collect()
    direct = search_direct(cur, ["zebrafresh"]).collect()
    assert [(r["doc_id"], r["score"]) for r in live] == [
        (r["doc_id"], r["score"]) for r in direct
    ]
    # post-compaction the indexed path agrees too (rank-identical gate)
    from searchengine_spark.index.engine import open_index, search_index

    ix = open_index(spark, sidx.catalog)
    idx_hits = search_index(ix, ["zebrafresh"]).collect()
    assert [(r["doc_id"], r["score"]) for r in idx_hits] == [
        (r["doc_id"], r["score"]) for r in direct
    ]


def test_post_compact_multiterm_rank_identity(sidx, spark):
    cur = sidx.current_docs()
    from searchengine_spark.index.engine import open_index, search_index

    ix = open_index(spark, sidx.catalog)
    for terms in (["spark", "query", "plan"], ["data", "model"]):
        direct = search_direct(cur, terms).collect()
        viaidx = search_index(ix, terms).collect()
        assert [(r["doc_id"], r["score"]) for r in viaidx] == [
            (r["doc_id"], r["score"]) for r in direct
        ]


def test_second_stream_after_compact(sidx):
    _write_batch("b2.json", [
        _msg(10, "zstream", 3, "postcompact arrival zebrafresh"),
    ])
    sidx.ingest_files(SRC)
    ids = [r["doc_id"] for r in sidx.search(["zebrafresh"]).collect()]
    assert "zstream:0003" in ids


def _batch(spark, tmp_path, msgs: list[dict]):
    """Messages → the typed micro-batch frame ``apply_batch`` receives."""
    from searchengine_spark.streaming.ingest import message_schema

    path = tmp_path / f"batch-{msgs[0]['seq']}.json"
    path.write_text("".join(json.dumps(m) + "\n" for m in msgs))
    return spark.read.schema(message_schema()).json(str(path))


def _live_pairs(s, terms, k=10):
    return [(r["doc_id"], r["score"]) for r in s.search(terms, k=k).collect()]


def test_live_search_follows_compaction(spark, transcripts, tmp_path):
    """search → compact() → search: the second search must run on the
    NEW base snapshot (not the pinned pre-compaction handle or delta
    frames) and be rank-identical to the direct path over the live
    corpus."""
    s = StreamingIndex(spark, str(tmp_path / "store"))
    s.bootstrap(transcripts.limit(200))
    s.apply_batch(_batch(spark, tmp_path, [
        _msg(1, "zpin", 0, "pinned spark zebrapin"),
        _msg(2, "zpin", 1, "zebrapin zebrapin query"),
    ]), 0)
    terms = ["zebrapin", "spark", "query"]
    before = _live_pairs(s, terms)
    assert {"zpin:0000", "zpin:0001"} <= {d for d, _ in before}
    snap_before = s.catalog.current_id()

    s.compact()
    assert s.catalog.current_id() != snap_before and s.delta_ids() == []
    after = _live_pairs(s, terms)
    direct = search_direct(s.current_docs(), terms).collect()
    assert after == [(r["doc_id"], r["score"]) for r in direct]


def test_reapplied_epoch_replaces_delta_pin(spark, transcripts, tmp_path):
    """A re-delivered epoch overwrites ``delta-<n>``: the next search and
    ``current_docs()`` must see the new content, never the frames pinned
    for the overwritten delta. A base doc the first delivery deleted and
    the second does not touch is live again, and live search over it
    equals the direct path."""
    from searchengine_spark.oracle import tokenize

    s = StreamingIndex(spark, str(tmp_path / "store"))
    s.bootstrap(transcripts.limit(200))
    victim = next(r for r in s._docs_frame().orderBy("conv_id", "turn_idx").collect()
                  if tokenize(r["text"]))
    vid = f"{victim['conv_id']}:{victim['turn_idx']:04d}"
    terms = list(dict.fromkeys(tokenize(victim["text"])))[:3]
    s.apply_batch(_batch(spark, tmp_path, [
        _msg(1, "zre", 0, "first zebraone"),
        _msg(2, victim["conv_id"], victim["turn_idx"], "", delete=True),
    ]), 0)
    assert [d for d, _ in _live_pairs(s, ["zebraone"])] == ["zre:0000"]
    assert _live_pairs(s, ["zebratwo"]) == []
    assert s.current_docs().where(F.col("conv_id") == "zre").count() == 1
    assert vid not in {d for d, _ in _live_pairs(s, terms, k=1000)}

    s.apply_batch(_batch(spark, tmp_path, [_msg(5, "zre", 1, "second zebratwo")]), 0)
    assert s.delta_ids() == [0]
    assert _live_pairs(s, ["zebraone"]) == []
    assert [d for d, _ in _live_pairs(s, ["zebratwo"])] == ["zre:0001"]
    live = s.current_docs().where(F.col("conv_id") == "zre").collect()
    assert [(r["turn_idx"], r["text"]) for r in live] == [(1, "second zebratwo")]
    assert vid in {d for d, _ in _live_pairs(s, terms, k=1000)}
    direct = search_direct(s.current_docs(), terms).collect()
    assert _live_pairs(s, terms) == [(r["doc_id"], r["score"]) for r in direct]


TIE = "zebratie tie spark query"


@pytest.fixture(scope="module")
def placed(spark, transcripts, tmp_path_factory):
    """A store with two pending deltas over a base of 200 corpus docs
    plus twelve ``zb:*`` docs sharing one text (``TIE``): a corpus doc
    upserted and another deleted; ``zpl:0000`` added in delta 0 and
    re-upserted in delta 1, ``zb:0000`` re-upserted in delta 1 (both
    leave a dead version tied with live ones); ``aaa:0000`` added in
    delta 1 with the ``TIE`` text — the highest doc_int but the lowest
    doc_id of the tie group, which outnumbers k, so the top-k cut falls
    inside it."""
    tmp = tmp_path_factory.mktemp("placed")
    corpus = transcripts.orderBy("conv_id", "turn_idx").limit(200)
    first = corpus.first()
    tied = spark.createDataFrame(
        [("zb", i, "user", TIE, "", first["ts"]) for i in range(12)], corpus.schema
    )
    s = StreamingIndex(spark, str(tmp / "store"))
    s.bootstrap(corpus.unionByName(tied))
    upd, dele = corpus.limit(2).collect()
    s.apply_batch(_batch(spark, tmp, [
        _msg(1, upd["conv_id"], upd["turn_idx"], TIE),
        _msg(2, dele["conv_id"], dele["turn_idx"], "", delete=True),
        _msg(3, "zpl", 0, TIE),
        _msg(4, "zpl", 1, TIE),
        _msg(5, "zpl", 2, "zebratie zebratie other spark words"),
    ]), 0)
    s.apply_batch(_batch(spark, tmp, [
        _msg(6, "zpl", 0, TIE),
        _msg(7, "zpl", 3, TIE),
        _msg(8, "aaa", 0, TIE),
        _msg(9, "zb", 0, TIE),
        _msg(10, "zpl", 4, "tie query"),
    ]), 1)
    return s, dele


def test_live_placements_identical(placed, monkeypatch):
    """The driver and the distributed placement of the live search
    return identical (doc_id, score) lists, ties at the k cut, dead
    versions and a deleted base doc included."""
    from searchengine_spark.oracle import tokenize
    from searchengine_spark.streaming import ingest as ing

    s, dele = placed
    assert len(s.delta_ids()) == 2
    dead_terms = list(dict.fromkeys(tokenize(dele["text"])))[:2]
    queries = [["zebratie", "tie"], ["spark", "query", "zebratie"], ["tie"],
               dead_terms + ["zebratie"]]

    def answers():
        return {(tuple(q), k): _live_pairs(s, q, k) for q in queries for k in (1, 3)}

    def unreachable(*a, **kw):
        raise AssertionError("wrong placement")

    with monkeypatch.context() as m:
        m.setattr(StreamingIndex, "_search_distributed", unreachable)
        driver = answers()
    with monkeypatch.context() as m:
        m.setattr(ing, "SERVING_DRIVER_MAX", 0)
        m.setattr(StreamingIndex, "_search_pinned", unreachable)
        distributed = answers()
    assert driver == distributed
    dead_id = f"{dele['conv_id']}:{dele['turn_idx']:04d}"
    for pairs in driver.values():
        assert dead_id not in [d for d, _ in pairs]
        assert len({d for d, _ in pairs}) == len(pairs)  # one live version per doc
    # the TIE docs share one score: k cuts inside the tie by doc_id
    assert [d for d, _ in driver[(("zebratie", "tie"), 1)]] == ["aaa:0000"]
    top3 = driver[(("zebratie", "tie"), 3)]
    assert len({sc for _, sc in top3}) == 1 and [d for d, _ in top3] == sorted(d for d, _ in top3)


def test_live_search_job_budget(placed, spark_jobs):
    """With pending deltas the live search's driver placement scores the
    pinned base and delta segments: it runs no Spark job, and neither
    does collecting the result."""
    s, _ = placed
    result = []
    assert spark_jobs(lambda: result.append(s.search(["zebratie", "spark"], k=3))) == []
    assert spark_jobs(lambda: result[0].collect()) == []
    assert result[0].count() == 3


def test_delta_frames_start_no_job(placed, spark_jobs):
    """A delta's four frames, and a fresh snapshot's three artifact
    frames, are read with declared schemas: opening them starts no job."""
    from searchengine_spark.index.engine import IndexHandle
    from searchengine_spark.streaming.ingest import DELTA_SCHEMAS

    s, _ = placed
    did = s.delta_ids()[0]
    s._delta_pins.pop(did, None)
    frames = {}
    opened = spark_jobs(lambda: frames.update({p: s._delta_frame(did, p) for p in DELTA_SCHEMAS}))
    assert opened == []
    assert dict(frames["docmap"].dtypes)["doc_int"] == "bigint"
    ix = IndexHandle(s.spark, s.catalog.current())
    assert spark_jobs(lambda: (ix.postings(), ix.terms(), ix.docmap())) == []


def test_apply_batch_job_budget(spark, transcripts, tmp_path, spark_jobs):
    """A small micro-batch lands in one Spark job: the probe that collects
    its messages with their tokens and buckets; the driver numbers,
    encodes and writes all four delta parts."""
    s = StreamingIndex(spark, str(tmp_path / "store"))
    s.bootstrap(transcripts.limit(50))
    batch = _batch(spark, tmp_path, [_msg(i, "zjb", i, f"budget body tok{i}") for i in range(5)])
    assert len(spark_jobs(lambda: s.apply_batch(batch, 0))) == 1


def _placement(monkeypatch, placement: str) -> None:
    """Route ``apply_batch`` to one placement: the other one raises."""
    from searchengine_spark.streaming import ingest as ing

    def unreachable(*a, **kw):
        raise AssertionError("wrong placement")

    if placement == "driver":
        monkeypatch.setattr(StreamingIndex, "_apply_distributed", unreachable)
    else:
        monkeypatch.setattr(ing, "LARGE_BATCH_DOCS", 2)
        monkeypatch.setattr(StreamingIndex, "_apply_driver", unreachable)


def test_apply_batch_placements_identical(spark, transcripts, tmp_path, monkeypatch):
    """The driver and the distributed placement of ``apply_batch`` publish
    the same delta: every row of all four parts (postings blobs
    included), ``meta.json`` apart from ``seconds``, live search and
    ``current_docs()``. The batch holds new docs, a re-upsert and a
    delete of base docs, an in-batch upsert-then-delete, a doc whose
    later ``seq`` arrives first, two docs sharing one ``seq``, and
    upserts whose text analyzes to no token (dl 0)."""
    from searchengine_spark.streaming.ingest import DELTA_SCHEMAS, message_schema

    base = transcripts.orderBy("conv_id", "turn_idx").limit(60)
    upd, dele = base.limit(2).collect()
    msgs = [
        _msg(1, "zpi", 0, "placement spark query zebraplace"),
        _msg(2, "zpi", 1, "zebraplace zebraplace tokens again and again"),
        _msg(3, upd["conv_id"], upd["turn_idx"], "rewritten base zebraplace"),
        _msg(4, dele["conv_id"], dele["turn_idx"], "", delete=True),
        _msg(5, "zpi", 2, "ephemeral zebraplace"),
        _msg(6, "zpi", 2, "", delete=True),
        _msg(9, "zpi", 3, "newest zebraplace wins"),
        _msg(8, "zpi", 3, "stale text never visible"),
        _msg(10, "zpi", 4, "shared seq one zebraplace"),
        _msg(10, "zpi", 5, "shared seq two"),
        _msg(11, "zpi", 6, ""),
        _msg(12, "zpi", 7, "the and of"),
    ]
    batch = _batch(spark, tmp_path, msgs)
    stores = {}
    for placement in ("driver", "spark"):
        s = StreamingIndex(spark, str(tmp_path / placement))
        s.bootstrap(base)
        with monkeypatch.context() as m:
            _placement(m, placement)
            s.apply_batch(batch, 0)
        stores[placement] = s
    drv, dist = stores["driver"], stores["spark"]

    for part, ddl in DELTA_SCHEMAS.items():
        rows = [
            sorted(spark.read.schema(ddl).parquet(os.path.join(st.delta_root, "delta-0", part))
                   .collect(), key=str)
            for st in (drv, dist)
        ]
        assert rows[0] == rows[1], part
        assert rows[0], part
    dm = {r["doc_id"]: r["dl"] for r in drv._delta_frame(0, "docmap").collect()}
    assert dm["zpi:0006"] == dm["zpi:0007"] == 0 and "zpi:0002" not in dm

    metas = [st._delta_meta(0) for st in (drv, dist)]
    for m in metas:
        m.pop("seconds")
    assert metas[0] == metas[1]
    assert (metas[0]["n_docs"], metas[0]["n_tombstones"]) == (8, 10)

    for terms in (["zebraplace"], ["spark", "query", "zebraplace"], ["newest", "stale"]):
        assert _live_pairs(drv, terms, k=20) == _live_pairs(dist, terms, k=20)
    live = [sorted(st.current_docs().collect(), key=str) for st in (drv, dist)]
    assert live[0] == live[1]
    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in live[0]}
    assert texts[("zpi", 3)] == "newest zebraplace wins" and ("zpi", 2) not in texts

    # an empty batch publishes no delta and leaves no staging dir
    drv.apply_batch(spark.createDataFrame([], message_schema()), 1)
    assert drv.delta_ids() == [0]
    assert sorted(os.listdir(drv.delta_root)) == ["delta-0"]
    # a delete-only batch publishes tombstones and empty doc parts
    drv.apply_batch(_batch(spark, tmp_path, [_msg(20, "zpi", 0, "", delete=True)]), 2)
    meta = drv._delta_meta(2)
    assert (meta["n_docs"], meta["sum_dl"], meta["n_tombstones"]) == (0, 0, 1)
    assert meta["doc_int_start"] == meta["doc_int_end"] == metas[0]["doc_int_end"]
    terms = ["zebraplace", "placement"]
    assert _live_pairs(drv, terms) == [(d, sc) for d, sc in _live_pairs(dist, terms)
                                       if d != "zpi:0000"]


@pytest.mark.parametrize("large", [False, True])
def test_apply_batch_meta_stats(spark, transcripts, tmp_path, monkeypatch, large):
    """``meta.json``'s n_docs / sum_dl equal the published docmap's row
    count and Σdl, on the driver placement and, above
    ``LARGE_BATCH_DOCS`` messages, on the distributed one."""
    from searchengine_spark.streaming import ingest as ing

    if large:
        monkeypatch.setattr(ing, "LARGE_BATCH_DOCS", 4)
    s = StreamingIndex(spark, str(tmp_path / "store"))
    base = transcripts.orderBy("conv_id", "turn_idx").limit(50)
    s.bootstrap(base)
    victim = base.first()
    msgs = [_msg(i, "zst", i, " ".join(["stat body"] + [f"w{j}" for j in range(i)]))
            for i in range(10)]
    msgs += [_msg(10, victim["conv_id"], victim["turn_idx"], "", delete=True),
             _msg(11, "zst", 20, "ephemeral"), _msg(12, "zst", 20, "", delete=True)]
    s.apply_batch(_batch(spark, tmp_path, msgs), 0)
    meta = s._delta_meta(0)
    dm = spark.read.parquet(os.path.join(s.delta_root, "delta-0", "docmap"))
    row = dm.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")).collect()[0]
    want = (10, sum(2 + i for i in range(10)))  # "stat body w0 .. w<i-1>": dl = 2 + i
    assert (meta["n_docs"], meta["sum_dl"]) == (row["n"], row["sdl"]) == want
    assert meta["doc_int_end"] - meta["doc_int_start"] == 10
    assert dict(dm.dtypes)["doc_int"] == "bigint"


def _compaction_store(spark, transcripts, tmp_path, name: str) -> StreamingIndex:
    """A store of 60 corpus docs with two pending deltas: a base doc
    re-upserted in both, another deleted, ``zcp:0000`` added in delta 0
    and re-upserted in delta 1, and ``zcp:0001`` upserted with a text
    that analyzes to no token (dl 0)."""
    base = transcripts.orderBy("conv_id", "turn_idx").limit(60)
    upd, dele = base.limit(2).collect()
    s = StreamingIndex(spark, str(tmp_path / name))
    s.bootstrap(base)
    s.apply_batch(_batch(spark, tmp_path, [
        _msg(1, upd["conv_id"], upd["turn_idx"], "rewritten zebracomp spark"),
        _msg(2, dele["conv_id"], dele["turn_idx"], "", delete=True),
        _msg(3, "zcp", 0, "first zebracomp query text"),
        _msg(4, "zcp", 1, "the and of"),
        _msg(5, "zcp", 2, "zebracomp zebracomp spark plan"),
    ]), 0)
    s.apply_batch(_batch(spark, tmp_path, [
        _msg(6, "zcp", 0, "second zebracomp text"),
        _msg(7, upd["conv_id"], upd["turn_idx"], "rewritten again zebracomp"),
        _msg(8, "zcp", 3, "query plan zebracomp"),
    ]), 1)
    return s


def _compact_on(monkeypatch, s: StreamingIndex, placement: str) -> None:
    """``s.compact()`` routed to one placement: the other one raises."""
    from searchengine_spark.streaming import ingest as ing

    def unreachable(*a, **kw):
        raise AssertionError("wrong placement")

    with monkeypatch.context() as m:
        if placement == "driver":
            m.setattr(StreamingIndex, "_compact_distributed", unreachable)
        else:
            m.setattr(ing, "LARGE_BATCH_DOCS", 0)
            m.setattr(StreamingIndex, "_compact_driver", unreachable)
        s.compact()


def test_compact_placements_identical(spark, transcripts, tmp_path, monkeypatch):
    """The driver and the distributed placement of ``compact()`` publish
    the same snapshot over the same ``docs/base``: every row of docmap,
    postings (blobs and block metadata included) and terms, the manifest
    keys and the build settings and stats in them, the corpus rows and
    schema; live search afterwards equals the direct path on both."""
    from pyspark.sql.types import StructType

    stores = {}
    for placement in ("driver", "spark"):
        s = _compaction_store(spark, transcripts, tmp_path, placement)
        _compact_on(monkeypatch, s, placement)
        assert s.delta_ids() == []
        stores[placement] = s
    drv, dist = stores["driver"], stores["spark"]
    snaps = [st.catalog.current() for st in (drv, dist)]

    for part in ("docmap", "postings", "terms"):
        rows = [
            sorted(spark.read.schema(StructType.fromJson(sn.manifest["schemas"][part]))
                   .parquet(os.path.join(sn.path, part)).collect(), key=str)
            for sn in snaps
        ]
        assert rows[0] == rows[1], part
        assert rows[0], part
    dm = {r["doc_id"]: r["dl"] for r in spark.read.parquet(snaps[0].docmap_dir).collect()}
    assert dm["zcp:0001"] == 0 and dm["zcp:0000"] == 3

    m_drv, m_dist = (sn.manifest for sn in snaps)
    assert set(m_drv) == set(m_dist)
    for key in ("stats", "schemas", "n_buckets", "seg_span", "block", "k1", "b", "synonyms"):
        assert m_drv[key] == m_dist[key], key
    assert {"docmap", "postings-0", "terms"} <= set(m_drv["ledger"])
    assert all("seconds" in e for e in m_drv["ledger"].values())
    assert m_drv["task_metrics"] == {}

    assert drv._docs_frame().schema == dist._docs_frame().schema
    docs = [sorted(st._docs_frame().collect(), key=str) for st in (drv, dist)]
    assert docs[0] == docs[1]
    assert len(docs[0]) == 60 - 1 + 4  # one base doc deleted, zcp:0000-0003 added

    for terms in (["zebracomp"], ["spark", "query", "zebracomp"], ["plan", "text"]):
        direct = [(r["doc_id"], r["score"])
                  for r in search_direct(drv.current_docs(), terms, k=20).collect()]
        assert direct
        assert _live_pairs(drv, terms, k=20) == _live_pairs(dist, terms, k=20) == direct


def test_compact_job_budget(spark, transcripts, tmp_path, spark_jobs):
    """A small store compacts with one Spark job, the collect of every
    stored version; the first live search on the new base then runs
    none: its term dictionary, postings and doc values are read from the
    snapshot's files on the driver."""
    s = _compaction_store(spark, transcripts, tmp_path, "store")
    assert len(spark_jobs(s.compact)) == 1
    result = []
    assert spark_jobs(lambda: result.append(s.search(["zebracomp", "spark"]).collect())) == []
    assert {"zcp:0000", "zcp:0002"} <= {d for d, _ in _live_pairs(s, ["zebracomp"])}


def test_term_dict_over_cap_reads_footers_only(spark, transcripts, tmp_path, monkeypatch,
                                               spark_jobs):
    """A vocabulary above ``TERM_CACHE_MAX`` is not pinned: the row count
    from the ``terms`` footers decides before any data is read, with no
    Spark job, and live search falls back to the term point-read. Only
    reads of ``terms`` files are refused: live search still pins the
    doc values from the ``docmap`` files with the same reader."""
    import pyarrow.parquet as pq

    import searchengine_spark.index.engine as E
    from searchengine_spark.index.engine import IndexHandle

    s = _compaction_store(spark, transcripts, tmp_path, "store")
    s.compact()
    under = IndexHandle(spark, s.catalog.current()).term_dict()
    assert under is not None and "zebracomp" in under

    def no_read(*a, **kw):
        raise AssertionError("an over-cap vocabulary must not be read")

    monkeypatch.setattr(E, "TERM_CACHE_MAX", len(under) - 1)

    class TermsUnread(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            self.source = str(source)
            super().__init__(source, *a, **kw)

        def read(self, *a, **kw):
            if f"{os.sep}terms{os.sep}" in self.source:
                no_read()
            return super().read(*a, **kw)

    monkeypatch.setattr(pq, "read_table", no_read)
    monkeypatch.setattr(pq, "ParquetFile", TermsUnread)
    ix = IndexHandle(spark, s.catalog.current())
    got = []
    assert spark_jobs(lambda: got.append(ix.term_dict())) == []
    assert got == [None]
    assert {"zcp:0000", "zcp:0002"} <= {d for d, _ in _live_pairs(s, ["zebracomp"])}


@pytest.mark.parametrize("at_bound", [True, False])
def test_compact_gate_bound(spark, transcripts, tmp_path, monkeypatch, at_bound):
    """``compact()`` takes the driver placement iff the base ``n_docs``
    plus the pending deltas' ``n_docs`` is at most ``LARGE_BATCH_DOCS``.
    The bound counts stored versions, not live docs: here 60 + 4 + 3 =
    67 versions hold 63 live docs, so a threshold of 66 already takes the
    distributed placement."""
    from searchengine_spark.streaming import ingest as ing

    s = _compaction_store(spark, transcripts, tmp_path, "store")
    bound = s.catalog.current().stats["n_docs"] + sum(
        s._delta_meta(did)["n_docs"] for did in s.delta_ids()
    )
    assert bound == 60 + 4 + 3
    ran = []
    for name in ("_compact_driver", "_compact_distributed"):
        def spy(self, *a, _orig=getattr(StreamingIndex, name), _name=name):
            ran.append(_name)
            return _orig(self, *a)
        monkeypatch.setattr(StreamingIndex, name, spy)
    monkeypatch.setattr(ing, "LARGE_BATCH_DOCS", bound if at_bound else bound - 1)
    s.compact()
    assert ran == ["_compact_driver" if at_bound else "_compact_distributed"]
    assert s.catalog.current().stats["n_docs"] == 63


def test_compact_driver_failure_leaves_store(spark, transcripts, tmp_path, monkeypatch):
    """A write that raises in the middle of the driver placement's build
    leaves CURRENT, ``docs/base`` and the deltas as they were; a rerun
    then publishes cleanly: one file per artifact dir and one ledger
    entry per stage, nothing left from the failed attempt."""
    from searchengine_spark.index import build as B

    s = _compaction_store(spark, transcripts, tmp_path, "store")
    cur, deltas = s.catalog.current_id(), s.delta_ids()
    docs_files = sorted(os.listdir(s.docs_base))
    docs_rows = sorted(s._docs_frame().collect(), key=str)
    write = B.write_artifact

    def failing(table, path):
        if "postings" in path:
            raise OSError("disk full")
        write(table, path)

    with monkeypatch.context() as m:
        m.setattr(B, "write_artifact", failing)
        with pytest.raises(OSError, match="disk full"):
            s.compact()
    assert s.catalog.current_id() == cur and s.delta_ids() == deltas
    assert sorted(os.listdir(s.docs_base)) == docs_files
    assert sorted(s._docs_frame().collect(), key=str) == docs_rows
    assert _live_pairs(s, ["zebracomp"])

    s.compact()
    snap = s.catalog.current()
    assert snap.snap_id != cur and s.delta_ids() == []
    assert not [n for n in os.listdir(s.catalog.root) if n.startswith("stage-")]
    with open(os.path.join(snap.path, "ledger.jsonl")) as f:
        assert sorted(json.loads(line)["stage"] for line in f) == ["docmap", "postings-0", "terms"]
    for root, dirs, files in os.walk(snap.path):
        if root != snap.path and not dirs:
            assert [f for f in files if f.endswith(".parquet")] == ["part-00000.zstd.parquet"]
    assert sorted(os.listdir(os.path.dirname(s.docs_base))) == ["base"]
    direct = [(r["doc_id"], r["score"])
              for r in search_direct(s.current_docs(), ["zebracomp"]).collect()]
    assert _live_pairs(s, ["zebracomp"]) == direct


def test_out_of_order_epochs_follow_arrival(spark, transcripts, tmp_path, monkeypatch):
    """Versions are ordered by arrival, the reference's last-write-wins
    order, not by epoch id: epoch 5 applied before epoch 2 is the older
    one. Epoch 5 edits base docs x and y and deletes z; epoch 2 edits x
    again, deletes y and re-adds z. Live search returns one version per
    doc_id, epoch 2's, on both placements; ``current_docs()`` and the
    compacted corpus of either ``compact()`` placement hold epoch 2's
    text with its delete applied."""
    from searchengine_spark.streaming import ingest as ing

    base = transcripts.orderBy("conv_id", "turn_idx").limit(60)
    x, y, z = base.limit(3).collect()
    five = [
        _msg(1, x["conv_id"], x["turn_idx"], "epoch five zebraorder"),
        _msg(2, y["conv_id"], y["turn_idx"], "epoch five zebraorder kept"),
        _msg(3, z["conv_id"], z["turn_idx"], "", delete=True),
    ]
    two = [
        _msg(4, x["conv_id"], x["turn_idx"], "epoch two zebraorder"),
        _msg(5, y["conv_id"], y["turn_idx"], "", delete=True),
        _msg(6, z["conv_id"], z["turn_idx"], "epoch two zebraorder back"),
    ]
    want = {(x["conv_id"], x["turn_idx"]): "epoch two zebraorder",
            (z["conv_id"], z["turn_idx"]): "epoch two zebraorder back"}
    ids = sorted(f"{c}:{t:04d}" for c, t in want)

    def unreachable(*a, **kw):
        raise AssertionError("wrong placement")

    stores = {}
    for placement in ("driver", "spark"):
        s = StreamingIndex(spark, str(tmp_path / placement))
        s.bootstrap(base)
        s.apply_batch(_batch(spark, tmp_path, five), 5)
        s.apply_batch(_batch(spark, tmp_path, two), 2)
        stores[placement] = s
        for terms in (["zebraorder"], ["epoch", "zebraorder"]):
            with monkeypatch.context() as m:
                m.setattr(StreamingIndex, "_search_distributed", unreachable)
                pinned = _live_pairs(s, terms, k=1000)
            with monkeypatch.context() as m:
                m.setattr(ing, "SERVING_DRIVER_MAX", 0)
                m.setattr(StreamingIndex, "_search_pinned", unreachable)
                distributed = _live_pairs(s, terms, k=1000)
            assert pinned == distributed
            assert sorted(d for d, _ in pinned) == ids
        cur = s.current_docs().collect()
        assert len(cur) == 60 - 1
        texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in cur}
        assert {key: texts.get(key) for key in want} == want
        assert (y["conv_id"], y["turn_idx"]) not in texts
        _compact_on(monkeypatch, s, placement)
        docs = {(r["conv_id"], r["turn_idx"]): r["text"] for r in s._docs_frame().collect()}
        assert docs == texts
    drv, dist = stores["driver"], stores["spark"]
    direct = [(r["doc_id"], r["score"])
              for r in search_direct(drv.current_docs(), ["zebraorder"], k=1000).collect()]
    assert sorted(d for d, _ in direct) == ids
    assert _live_pairs(drv, ["zebraorder"], k=1000) == _live_pairs(dist, ["zebraorder"], k=1000) \
        == direct


def test_doc_values_read_without_job(spark, transcripts, tmp_path, spark_jobs):
    """A parquet-dir snapshot pins its doc values with a driver-side read
    of the ``docmap`` files and no Spark job, and the table equals the
    Spark read's after the same sort and timestamp cast: schema and
    values, ``ts`` included. Checked on a ``build_index`` snapshot and on
    a driver-compacted one, with a ``ts``-range MUST filter that
    resolves to the same doc_ints as on the Spark plan."""
    import pyarrow as pa

    from searchengine_spark.filters import compile_filters
    from searchengine_spark.index.engine import IndexHandle

    s = _compaction_store(spark, transcripts, tmp_path, "store")
    snaps = [s.catalog.current()]
    s.compact()
    snaps.append(s.catalog.current())
    assert snaps[1].manifest["task_metrics"] == {}  # the driver placement built it
    for snap in snaps:
        ix = IndexHandle(spark, snap)
        got = []
        assert spark_jobs(lambda: got.append(ix.doc_values())) == []
        dv = got[0]
        want = ix.docmap().toArrow().sort_by("doc_int").combine_chunks()
        for i, f in enumerate(want.schema):
            if pa.types.is_timestamp(f.type):
                want = want.set_column(i, f.name, want.column(i).cast(pa.timestamp("us")))
        assert dv.schema == want.schema
        assert dv.equals(want)
        assert dv.column("doc_int").to_pylist() == list(range(snap.stats["n_docs"]))

        ts = sorted(dv.column("ts").to_pylist())
        lo, hi = ts[len(ts) // 4], ts[3 * len(ts) // 4]
        fmt = "%Y-%m-%dT%H:%M:%SZ"
        req = {"range": [{"name": "ts", "type": "timestamp",
                          "from_value": lo.strftime(fmt), "to_value": hi.strftime(fmt)}]}
        allowed = ix.filter_doc_ints(req)
        spark_side = sorted(r["doc_int"] for r in
                            ix.docmap().where(compile_filters(req)).select("doc_int").collect())
        assert allowed.tolist() == spark_side
        assert 0 < len(spark_side) < snap.stats["n_docs"]


def test_live_search_races_redelivery_and_compaction(spark, transcripts, tmp_path):
    """Searches on other threads while the main thread re-delivers an
    epoch through ``apply_batch`` and then compacts: every search returns
    the answer of one consistent state (before the re-delivery, after
    it, after the compaction), and none raises — in particular none
    reads a delta dir that ``compact()`` deleted. More reader threads
    than cores, with a short switch interval, so the swaps interleave
    with searches."""
    import sys
    import threading
    import time

    s = StreamingIndex(spark, str(tmp_path / "store"))
    s.bootstrap(transcripts.orderBy("conv_id", "turn_idx").limit(200))
    s.apply_batch(_batch(spark, tmp_path, [
        _msg(1, "zrace", 0, "race zebrarace spark"),
        _msg(2, "zrace", 1, "zebrarace zebrarace"),
    ]), 0)
    again = _batch(spark, tmp_path, [
        _msg(3, "zrace", 0, "race again zebrarace"),
        _msg(4, "zrace", 2, "zebrarace query spark"),
    ])
    terms = ["zebrarace", "spark"]
    answers = [tuple(_live_pairs(s, terms))]
    results: list[tuple] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                results.append(tuple(_live_pairs(s, terms)))
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range((os.cpu_count() or 1) + 2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    for t in threads:
        t.start()
    try:
        s.apply_batch(again, 0)  # re-delivered epoch 0
        answers.append(tuple(_live_pairs(s, terms)))
        s.compact()
        answers.append(tuple(_live_pairs(s, terms)))
        seen = len(results)
        deadline = time.monotonic() + 60
        while len(results) < seen + 6 and not errors and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert answers[0] != answers[1]
    assert "zrace:0001" in {d for d, _ in answers[0]}
    assert {d for d, _ in answers[1]} >= {"zrace:0000", "zrace:0002"}
    assert "zrace:0001" not in {d for d, _ in answers[1] + answers[2]}
    assert set(results) <= set(answers)
    assert results[-1] == answers[2]
    direct = search_direct(s.current_docs(), terms).collect()
    assert list(answers[2]) == [(r["doc_id"], r["score"]) for r in direct]


def test_parse_messages_kafka_shape(spark):
    """The Kafka value-bytes → typed message transform (S9/S10) on a
    static frame (the streaming plan uses the identical expression)."""
    from searchengine_spark.streaming.ingest import parse_messages

    m = _msg(7, "kx", 0, "kafka carried text")
    raw = spark.createDataFrame([(json.dumps(m).encode("utf-8"),)], "value BINARY")
    row = parse_messages(raw).collect()[0]
    assert row["seq"] == 7 and row["doc_id"] == "kx:0000" and not row["delete"]
    assert row["doc"]["text"] == "kafka carried text" and row["doc"]["turn_idx"] == 0


def test_events_hourly_rollup_stream_equals_batch(spark):
    """The availableNow streaming window agg over the staged events
    fixture equals the batch hour-truncate groupBy (S9 on driver data)."""
    from pyspark.sql import functions as F

    from searchengine_spark import semantics as S
    from searchengine_spark.streaming.events import events_hourly_rollup

    sf_dir = "/root/testdata/sf0.01"
    got = [tuple(r) for r in events_hourly_rollup(spark, sf_dir).collect()]
    batch = [
        tuple(r)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), S.SCORE_DECIMALS).alias("sum_value"),
        )
        .orderBy("window_start_us", "event_type")
        .collect()
    ]
    assert len(got) > 10 and got == batch


def test_nats_source_raises_without_connector(spark):
    import pytest as _pytest

    from searchengine_spark.streaming.events import nats_source

    with _pytest.raises(RuntimeError, match="NATS"):
        nats_source(spark, "nats://localhost:4222", "documents")


def test_socket_source_live_push(spark):
    """The live-broker edge, integration-tested in-sandbox: an embedded
    TCP server pushes newline-delimited JSON messages (the NATS
    core-subject shape — reference ``internal/subscriber/
    subscriber.go:38-76``) into a running Structured Streaming query
    via ``socket_source``; the typed rows land in arrival order."""
    import socket
    import threading
    import time

    from searchengine_spark.streaming.ingest import socket_source

    msgs = [
        _msg(1, "sock", 0, "pushed over the wire"),
        _msg(2, "sock", 1, "second live message"),
        _msg(3, "sock", 0, "", delete=True),
    ]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("".join(json.dumps(m) + "\n" for m in msgs)).encode())
            stop.wait(timeout=30)  # keep the connection open until the query drains

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = (
        socket_source(spark, "127.0.0.1", port)
        .writeStream.format("memory")
        .queryName("socket_live")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table("socket_live").count() < len(msgs):
            time.sleep(0.5)
        rows = spark.table("socket_live").orderBy("seq").collect()
    finally:
        stop.set()
        q.stop()
        srv.close()
    assert [r["seq"] for r in rows] == [1, 2, 3]
    assert rows[0]["doc_id"] == "sock:0000" and not rows[0]["delete"]
    assert rows[0]["doc"]["text"] == "pushed over the wire"
    assert rows[2]["delete"] and rows[2]["doc_id"] == "sock:0000"


def test_kafka_shaped_stream_end_to_end(spark, transcripts):
    """S10 production wiring, executed (not just parsed): frames with
    Kafka's exact column shape (binary key/value + topic/partition/
    offset/timestamp metadata) flow through ``parse_messages`` →
    ``ingest_stream`` → ``apply_batch``, with checkpoint/resume across
    drains. Only the ``.format("kafka")`` load itself is swapped for a
    text-file stand-in carrying identical binary payloads (no broker in
    the sandbox — ``kafka_source`` wires the real load)."""
    import time

    from searchengine_spark.streaming.ingest import parse_messages

    root = "/tmp/seng_kafka_shaped"
    kdir = os.path.join(root, "topic")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(kdir)

    def write_topic_file(name, msgs):
        tmp = os.path.join(kdir, f".{name}.tmp")
        with open(tmp, "w") as f:
            for m in msgs:
                f.write(json.dumps(m) + "\n")
        os.replace(tmp, os.path.join(kdir, name))

    def kafka_shaped():
        raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(kdir)
        return raw.select(
            F.lit(None).cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            F.lit("transcripts-cdc").alias("topic"),
            F.lit(0).alias("partition"),
            F.lit(0).cast("long").alias("offset"),
            F.current_timestamp().alias("timestamp"),
        )

    ks = StreamingIndex(spark, os.path.join(root, "store"))
    ks.bootstrap(transcripts)
    n0 = transcripts.count()
    try:
        write_topic_file("part-0.json", [
            _msg(1, "zkafka", 0, "kafka shaped zebrakafka document"),
            _msg(2, "zkafka", 1, "second zebrakafka turn"),
        ])
        q = ks.ingest_stream(parse_messages(kafka_shaped()))
        assert not q.isActive  # availableNow drained and stopped
        d1 = ks.delta_ids()
        assert len(d1) == 1 and ks.current_docs().count() == n0 + 2
        assert sorted(r["doc_id"] for r in ks.search(["zebrakafka"]).collect()) == [
            "zkafka:0000", "zkafka:0001"
        ]

        # resume from checkpoint: a new topic file lands; the drained
        # file must NOT be reprocessed (exactly one new delta)
        write_topic_file("part-1.json", [
            _msg(3, "zkafka", 1, "", delete=True),
            _msg(4, "zkafka", 2, "third zebrakafka message"),
        ])
        ks.ingest_stream(parse_messages(kafka_shaped()))
        d2 = ks.delta_ids()
        assert len(d2) == len(d1) + 1
        assert ks.current_docs().count() == n0 + 2  # +1 new, -1 deleted
        assert sorted(r["doc_id"] for r in ks.search(["zebrakafka"]).collect()) == [
            "zkafka:0000", "zkafka:0002"
        ]

        # idempotent re-drain: no new input → no new deltas
        ks.ingest_stream(parse_messages(kafka_shaped()))
        assert ks.delta_ids() == d2
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_one_stream_per_index_contract(spark, transcripts):
    """Attaching a second source *endpoint or type* to an index that
    already ingested from another must raise the contract error (not
    fail deep inside Spark's checkpoint offset log, nor silently
    overwrite deltas) — while re-attaching the SAME endpoint, even via
    a differently-constructed DataFrame, stays accepted."""
    root = "/tmp/seng_source_claim"
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "in")
    other_dir = os.path.join(root, "in2")
    os.makedirs(src)
    os.makedirs(other_dir)
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(json.dumps(_msg(1, "claim", 0, "first source")) + "\n")
    s = StreamingIndex(spark, os.path.join(root, "store"))
    s.bootstrap(transcripts.limit(50))
    try:
        s.ingest_files(src)
        from searchengine_spark.streaming.ingest import message_schema

        # same endpoint, raw reader: tag derives to files:<same dir> — OK
        same = spark.readStream.schema(message_schema()).json(src)
        s.ingest_stream(same)  # no-op drain, accepted
        # different file endpoint → rejected
        other = spark.readStream.schema(message_schema()).json(other_dir)
        with pytest.raises(ValueError, match="bound to source 'files:"):
            s.ingest_stream(other)
        # different source TYPE (e.g. a kafka topic) → rejected
        with pytest.raises(ValueError, match="bound to source 'files:"):
            s.ingest_stream(same, source_tag="kafka:b-1/topic")
        s.ingest_files(src)  # same source stays fine (no-op drain)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_large_batch_ingest(spark, transcripts):
    """A large CDC batch (100k+ messages in ONE micro-batch, more than
    ``LARGE_BATCH_DOCS``) drops the driver placement's probe and lands
    without any driver-side per-doc state: tombstones go to parquet
    (meta.json carries counts only) and doc_int assignment uses the
    two-phase committed-parquet scan — no single-partition window, no
    ``isin`` literal trees, no collected doc_id lists."""
    from searchengine_spark.streaming.ingest import LARGE_BATCH_DOCS

    n_msgs = LARGE_BATCH_DOCS + 40000  # > threshold → two-phase path
    root = "/tmp/seng_large_batch"
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "in")
    os.makedirs(src)
    lines = []
    for i in range(n_msgs):
        lines.append(json.dumps(_msg(i, f"bulk{i % 50000:05d}", i // 50000,
                                     f"bulk document body tok{i % 997} zebrabulk")))
    # 10 deletes of docs upserted EARLIER in the same batch (LWW within batch)
    for j in range(10):
        lines.append(json.dumps(_msg(n_msgs + j, f"bulk{j:05d}", 0, "", delete=True)))
    with open(os.path.join(src, "big.json"), "w") as f:
        f.write("\n".join(lines) + "\n")

    s = StreamingIndex(spark, os.path.join(root, "store"))
    s.bootstrap(transcripts.limit(50))
    try:
        s.ingest_files(src)
        deltas = s.delta_ids()
        assert len(deltas) == 1
        did = deltas[0]
        ddir = os.path.join(s.delta_root, f"delta-{did}")
        meta = s._delta_meta(did)
        # counts only in meta — per-doc tombstones live in parquet
        assert "tombstones" not in meta
        n_unique = n_msgs  # one message per (conv_id, turn_idx) before deletes
        assert meta["n_tombstones"] == n_unique  # every touched id (incl. re-deleted)
        assert meta["n_docs"] == n_unique - 10
        tomb = spark.read.parquet(os.path.join(ddir, "tombstones"))
        assert tomb.count() == n_unique
        # doc_int assignment: dense, unique, starting at the watermark
        dm = spark.read.parquet(os.path.join(ddir, "docmap"))
        row = dm.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_int").alias("nd"),
            F.min("doc_int").alias("lo"),
            F.max("doc_int").alias("hi"),
        ).collect()[0]
        assert row["n"] == row["nd"] == meta["n_docs"]
        assert row["lo"] == meta["doc_int_start"]
        assert row["hi"] == meta["doc_int_end"] - 1
        # merge-on-read sees the batch: +n upserts −10 deletes
        assert s.current_docs().count() == 50 + n_unique - 10
        # live search reaches the new docs and excludes the deleted ones
        ids = [r["doc_id"] for r in s.search(["zebrabulk"], k=20).collect()]
        assert len(ids) == 20 and all(i.startswith("bulk") for i in ids)
        dead = [r["doc_id"] for r in s.search(["zebrabulk"], k=200000).collect()
                if r["doc_id"] in {f"bulk{j:05d}:0000" for j in range(10)}]
        assert dead == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("at_boundary", [True, False])
def test_large_batch_boundary_delete_heavy(spark, transcripts, monkeypatch,
                                           at_boundary):
    """The ``LARGE_BATCH_DOCS`` switch (driver placement vs distributed
    two-phase committed-parquet scan) exactly AT the boundary, with a
    delete-heavy batch (round-4 verdict item 7). The boundary operand
    is the batch's MESSAGE count: deletes of base docs and in-batch
    upsert-then-delete pairs count toward it although they publish no
    doc. Both placements must agree on the full observable contract:
    meta counts, dense unique doc_ints assigned in doc_id order from
    the watermark, and merge-on-read visibility. Threshold is
    monkeypatched small so the test pins the boundary itself, not a
    65k-row ingest (the real-size distributed path is covered by
    test_large_batch_ingest)."""
    from searchengine_spark.streaming import ingest as ing

    thr = 512
    monkeypatch.setattr(ing, "LARGE_BATCH_DOCS", thr)
    ran = []
    for name in ("_apply_driver", "_apply_distributed"):
        def spy(self, *a, _orig=getattr(StreamingIndex, name), _name=name):
            ran.append(_name)
            return _orig(self, *a)
        monkeypatch.setattr(StreamingIndex, name, spy)
    # 40 base deletes + 30 upsert-then-delete pairs = 100 messages that
    # publish no doc; thr messages → driver placement, thr+1 → distributed
    n_up = thr - 100 if at_boundary else thr - 99

    root = f"/tmp/seng_boundary_{int(at_boundary)}"
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "in")
    os.makedirs(src)
    base = transcripts.limit(50)
    base_ids = [(r["conv_id"], r["turn_idx"])
                for r in base.select("conv_id", "turn_idx").collect()[:40]]

    seq = 0
    lines = []
    for i in range(n_up):  # surviving upserts
        lines.append(json.dumps(_msg(seq, f"bnd{i:05d}", 0,
                                     f"boundary body tok{i % 97} zebraboundary")))
        seq += 1
    for cid, tix in base_ids:  # delete-heavy: 40 base deletes
        lines.append(json.dumps(_msg(seq, cid, tix, "", delete=True)))
        seq += 1
    for j in range(30):  # upsert-then-delete inside the batch (LWW → dead)
        lines.append(json.dumps(_msg(seq, f"bdead{j:04d}", 0, "ephemeral zebraboundary")))
        lines.append(json.dumps(_msg(seq + 1, f"bdead{j:04d}", 0, "", delete=True)))
        seq += 2
    assert len(lines) == (thr if at_boundary else thr + 1)
    with open(os.path.join(src, "batch.json"), "w") as f:
        f.write("\n".join(lines) + "\n")

    s = StreamingIndex(spark, os.path.join(root, "store"))
    s.bootstrap(base)
    try:
        watermark = s._next_doc_int()
        s.ingest_files(src)
        (did,) = s.delta_ids()
        assert ran == ["_apply_driver" if at_boundary else "_apply_distributed"]
        meta = s._delta_meta(did)
        assert meta["n_docs"] == n_up          # post-LWW survivors only
        assert meta["n_tombstones"] == n_up + 40 + 30
        dm = spark.read.parquet(
            os.path.join(s.delta_root, f"delta-{did}", "docmap"))
        rows = dm.select("doc_int", "doc_id").collect()
        assert len(rows) == n_up
        by_docid = sorted(rows, key=lambda r: r["doc_id"])
        # dense, unique, watermark-based, and doc_id-ordered on BOTH paths
        assert [r["doc_int"] for r in by_docid] == list(
            range(watermark, watermark + n_up))
        # merge-on-read: base − 40 deletes + survivors; dead pairs invisible
        assert s.current_docs().count() == 50 - 40 + n_up
        hits = {r["doc_id"] for r in s.search(["zebraboundary"], k=n_up + 50).collect()}
        assert not any(i.startswith("bdead") for i in hits)
        assert len(hits) == n_up
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_during_live_socket_stream(spark, transcripts):
    """Round-4 concurrency contract: ``compact()`` while a continuous
    (``drain=False``) socket query is live must serialize against
    ``apply_batch`` — every message ends up exactly once in the final
    view, whether its micro-batch landed before the fold (compacted
    into the base) or after it (first delta on the new base)."""
    import socket
    import threading
    import time

    from searchengine_spark.streaming.ingest import socket_source

    root = "/tmp/seng_compact_race"
    shutil.rmtree(root, ignore_errors=True)
    s = StreamingIndex(spark, os.path.join(root, "store"))
    s.bootstrap(transcripts.limit(50))

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()
    sent = []

    def serve():
        conn, _ = srv.accept()
        with conn:
            seq = 0
            while not stop.is_set() and seq < 40:
                m = _msg(seq, "race", seq, f"racing message zebrarace tok{seq}")
                conn.sendall((json.dumps(m) + "\n").encode())
                sent.append(m["doc_id"])
                seq += 1
                time.sleep(0.05)
            stop.wait(timeout=60)

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = s.ingest_stream(socket_source(spark, "127.0.0.1", port), drain=False)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not s.delta_ids():
            time.sleep(0.3)
        assert s.delta_ids(), "no delta landed before compaction"
        # fold the base while batches keep arriving
        s.compact()
        n_base = s.catalog.current().stats["n_docs"]
        assert n_base > 50  # compacted-in stream docs
        # let the tail of the stream land, then stop
        deadline = time.time() + 60
        while time.time() < deadline and len(sent) < 40:
            time.sleep(0.3)
        # wait until every sent message has been published to the store
        deadline = time.time() + 90
        while time.time() < deadline:
            n = s.current_docs().where(F.col("conv_id") == "race").count()
            if n >= len(sent):
                break
            time.sleep(1.0)
    finally:
        stop.set()
        q.stop()
        q.awaitTermination(30)
        srv.close()
    try:
        # exactly-once across the fold: every sent doc present exactly once
        cur = s.current_docs().where(F.col("conv_id") == "race")
        got = sorted(f"{r['conv_id']}:{r['turn_idx']:04d}" for r in cur.collect())
        assert got == sorted(set(sent))
        ids = [r["doc_id"] for r in s.search(["zebrarace"], k=100).collect()]
        assert set(ids) == set(sent)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sessionize_stream_matches_batch(spark):
    """The Structured Streaming session_window query and the batch
    window-chain sessionize are result-identical on the same events
    (the sentinel punctuation row must flush every real session and
    never leak into the output)."""
    from searchengine_spark.ops.sessions import sessionize
    from searchengine_spark.streaming.events import events_sessionize_stream

    sf_dir = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in sessionize(spark.read.parquet(f"{sf_dir}/events.parquet")).collect()]
    stream = [tuple(r) for r in events_sessionize_stream(spark, sf_dir).collect()]
    assert len(batch) == len(stream) > 0
    assert batch == stream
    assert all(r[0] >= 0 for r in stream)  # sentinel user filtered


@pytest.mark.parametrize("drain", ["rollup", "sessionize", "assembly"])
def test_drain_restores_session_confs(spark, tmp_path, monkeypatch, drain):
    """A stream drain sets the state partition count (and, for the
    conversation assembly, the Arrow batch size) only around its query:
    the prior session values come back when ``start()`` raises."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from searchengine_spark.streaming import assemble, events

    keys = ("spark.sql.shuffle.partitions", "spark.sql.execution.arrow.maxRecordsPerBatch")
    before = [spark.conf.get(k) for k in keys]
    at_start = []

    def failing_start(self, *args, **kwargs):
        at_start.append([spark.conf.get(k) for k in keys])
        raise RuntimeError("injected start failure")

    empty = str(tmp_path / "stream")
    os.makedirs(empty)
    monkeypatch.setattr(events, "stage_events_dir", lambda sf_dir: empty)
    monkeypatch.setattr(events, "stage_sessionize_dir", lambda sf_dir, gap: empty)
    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    run = {
        "rollup": lambda: events.events_hourly_rollup(spark, empty, state_partitions=3),
        "sessionize": lambda: events.events_sessionize_stream(spark, empty, state_partitions=3),
        "assembly": lambda: assemble.run_assembly(spark, empty, state_partitions=3),
    }[drain]
    with pytest.raises(RuntimeError, match="injected start failure"):
        run()
    batch = "1048576" if drain == "assembly" else before[1]
    assert at_start == [["3", batch]] and before != at_start[0]
    assert [spark.conf.get(k) for k in keys] == before


@pytest.mark.parametrize("shards", [None, 8])
def test_conv_assembly_merges_state_across_batches(spark, tmp_path, shards):
    """A conversation whose turns arrive in DIFFERENT micro-batches must
    assemble from keyed state: two staged files split the turns, a third
    carries the sentinel; maxFilesPerTrigger=1 forces three batches.
    Runs both state layouts — per-conversation and shard-packed
    (``shards=8`` > n_convs, so some shards hold one conv, most none,
    and the cross-batch merge goes through the packed map)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.streaming.assemble import SENTINEL_CONV, run_assembly

    base_us = 1_700_000_000_000_000

    def turns_table(rows):
        return pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
                "role": pa.array([r[2] for r in rows], pa.string()),
                "text": pa.array(["x"] * len(rows), pa.string()),
                "tool": pa.array([""] * len(rows), pa.string()),
                "ts": pa.array([base_us + r[1] * 13_000_000 for r in rows], pa.timestamp("us")),
            }
        )

    d = str(tmp_path / "turns")
    import os

    os.makedirs(d)
    # batch 1: first halves; batch 2: second halves (out of order within conv)
    pq.write_table(turns_table([("cA", 0, "user"), ("cB", 0, "user"), ("cA", 1, "assistant")]),
                   f"{d}/part-00000.parquet")
    pq.write_table(turns_table([("cB", 2, "tool"), ("cA", 2, "system"), ("cB", 1, "assistant")]),
                   f"{d}/part-00001.parquet")
    sent = turns_table([(SENTINEL_CONV, 999999, "system")])
    pq.write_table(sent, f"{d}/part-00002.parquet")
    # the file source orders micro-batches by modification time; three
    # writes can tie at ms granularity, letting the sentinel batch run
    # FIRST (its watermark then late-drops every real turn → empty
    # output). Pin strictly increasing mtimes so batch order is the
    # staged order.
    for i in range(3):
        os.utime(f"{d}/part-0000{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    out = {r["conv_id"]: r for r in run_assembly(
        spark, d, gap_minutes=60, max_files_per_trigger=1, shards=shards
    ).collect()}
    assert set(out) == {"cA", "cB"}
    assert out["cA"]["n_turns"] == 3 and out["cA"]["role_seq"] == "uas"
    assert out["cB"]["n_turns"] == 3 and out["cB"]["role_seq"] == "uat"


@pytest.mark.parametrize("shards", [None, 8])
def test_conv_assembly_null_and_empty_roles(spark, tmp_path, shards):
    """NULL and empty-string roles must contribute NOTHING to the role
    signature (batch-twin array_join-skips-nulls semantics) while still
    counting as turns — and must not shift later initials against their
    turn_idx (the packed-initials string uses a stripped placeholder,
    not a zero-width ''). Regression test: a bare '' per null role
    desynchronized the argsort reorder and could IndexError at
    emission."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.streaming.assemble import SENTINEL_CONV, run_assembly

    base_us = 1_700_000_000_000_000
    rows = [  # (conv, turn_idx, role) — arrival order ≠ turn order
        ("cN", 2, None), ("cN", 0, "user"), ("cN", 3, "assistant"),
        ("cN", 1, ""), ("cE", 0, None), ("cE", 1, ""),
    ]
    tab = pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows] + [SENTINEL_CONV], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows] + [999999], pa.int32()),
            "role": pa.array([r[2] for r in rows] + ["system"], pa.string()),
            "text": pa.array(["x"] * (len(rows) + 1), pa.string()),
            "tool": pa.array([""] * (len(rows) + 1), pa.string()),
            "ts": pa.array(
                [base_us + r[1] * 13_000_000 for r in rows]
                + [base_us + 999999 * 13_000_000],
                pa.timestamp("us"),
            ),
        }
    )
    d = str(tmp_path / "turns")
    os.makedirs(d)
    pq.write_table(tab, f"{d}/part-00000.parquet")
    out = {r["conv_id"]: r for r in run_assembly(spark, d, shards=shards).collect()}
    assert set(out) == {"cN", "cE"}
    # cN: turns 0..3 = user, "", None, assistant → signature "ua"
    assert out["cN"]["n_turns"] == 4 and out["cN"]["role_seq"] == "ua"
    # all-null/empty conversation: counted turns, empty signature
    assert out["cE"]["n_turns"] == 2 and out["cE"]["role_seq"] == ""


def test_conv_assembly_sharded_matches_per_conv(spark):
    """The shard-packed state layout must be row-identical to the
    per-conversation layout on the real corpus — single-batch and
    multi-batch (cross-batch packed-map merge) replays both."""
    from searchengine_spark.streaming.assemble import (
        ASSEMBLY_GAP_MINUTES, run_assembly, stage_turn_stream_dir,
    )
    from searchengine_spark.corpus import ensure_transcripts

    d = stage_turn_stream_dir(ensure_transcripts(0.001), ASSEMBLY_GAP_MINUTES)
    base = [tuple(r) for r in run_assembly(spark, d).collect()]
    assert len(base) > 0
    sharded = [tuple(r) for r in run_assembly(spark, d, shards=64).collect()]
    assert sharded == base
    multi = [tuple(r) for r in run_assembly(
        spark, d, shards=64, max_files_per_trigger=1
    ).collect()]
    assert multi == base


def test_sessionize_exact_gap_boundary_agrees(spark):
    """An event at EXACTLY prev + gap extends the session in both the
    batch op (strict > gap rule) and native session_window (merges
    touching intervals) — pinned so neither can drift."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from searchengine_spark.ops.sessions import sessionize

    base = datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "x", 1.0),
        (2, base + timedelta(minutes=30), 7, "x", 1.0),          # exact gap: same session
        (3, base + timedelta(minutes=60, seconds=1), 7, "x", 1.0),  # 30m1s: new session
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, value DOUBLE"
    )
    batch = sessionize(df).collect()
    assert [r["n_events"] for r in batch] == [2, 1]
    native = (
        df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["n"] for r in native) == [1, 2]
