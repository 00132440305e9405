"""The batch operations of the ``offline`` workload: one per program
module that ``serve`` and the CDC cycle do not exercise.

A pass runs, in a closed loop, a seeded batch of OR queries through
``engine.search_many`` (distributed plan), direct BM25
(``query.bm25``), MinHash near-duplicate pairs, quality signals, mix
sampling, conversation stats, sessionization, batch cosine top-k,
multimodal features, the Structured Streaming hourly rollup and
conversation assembly, and a typed ``DocStore`` round trip. Every
operation except ``search_many`` is the contract query of the same name
in ``entry_queries``, run on the run's own seeded tables; the set-up
pre-stages what the contract's timing pre-stages (the index, the
tokenized corpus, the file-stream directories).

:func:`check` compares each contract-query result with its
``entry_queries.oracle_sql()`` twin run in DuckDB over the same parquet
files (row count, columns and values, as ``scripts/verify_contract.py``
compares them, with floats allowed one unit in their last rounded
digit: the two engines round doubles summed in different orders), and
a seeded sample of ``search_many`` queries with the BM25 oracle up to
order among equal scores.
"""

from __future__ import annotations

import functools
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

from searchengine_spark import entry_queries as EQ
from searchengine_spark import semantics as S
from searchengine_spark.index import engine
from searchengine_spark.streaming import assemble, events

from . import inputs
from .serve import TIE_MARGIN, _same_ranking

TABLES = ("documents", "embeddings", "events")
# search_many queries checked per run against the oracle
N_CHECKED_QUERIES = 3
# floats may differ by one unit in the last digit both engines round to
FLOAT_TOL = 1.5 * 10.0**-S.SCORE_DECIMALS


class Tables:
    """One set-up's batch inputs beside a built index of the transcripts
    corpus: the seeded documents, embeddings and events tables, the
    conversation-assembly corpus, the tokenized transcripts, the staged
    file-stream directories and the open index handle."""

    def __init__(self, spark, seed: int, root: str, transcripts_path: str, catalog) -> None:
        self.dir = root
        os.makedirs(root, exist_ok=True)
        for t, make in zip(TABLES, (inputs.make_documents, inputs.make_embeddings, inputs.make_events)):
            pq.write_table(make(seed), f"{root}/{t}.parquet")
        self.transcripts_path = transcripts_path
        self.transcripts = spark.read.parquet(transcripts_path)
        self.documents, self.embeddings, self.events = (spark.read.parquet(f"{root}/{t}.parquet") for t in TABLES)
        self.ix = engine.open_index(spark, catalog)
        self.ix.term_dict()
        # the direct path's tokenized corpus, as entry_queries.direct_ctx
        # caches it per session
        from searchengine_spark.query.bm25 import corpus_stats, tokenized

        self.tok = tokenized(self.transcripts).persist()
        self.stats = corpus_stats(self.tok)
        events.stage_events_dir(root)
        # assembly replays a smaller corpus: its per-micro-batch state
        # commits would otherwise dominate the pass
        self.turns_path = f"{root}/turns.parquet"
        pq.write_table(inputs.make_corpus(seed, inputs.ASSEMBLY_SF), self.turns_path)
        assemble.stage_turn_stream_dir(self.turns_path, assemble.ASSEMBLY_GAP_MINUTES)


def _docstore_roundtrip(spark, d: Tables, root: str):
    """``entry_queries.q_doc_typed_roundtrip`` with its store under
    ``root``: the lookup turns written as typed documents, fetched back
    decoded."""
    from pyspark.sql import functions as F

    from searchengine_spark.configs import FieldConfig, IndexConfig
    from searchengine_spark.docstore import DocStore
    from searchengine_spark.functions.text import doc_id_col

    cfg = IndexConfig(
        indexName="typed_docs",
        fields=[
            FieldConfig("text", "string"),
            FieldConfig("turn_number", "number", sortable=True),
            FieldConfig("has_tool", "bool", filterable=True),
            FieldConfig("ts", "timestamp", sortable=True),
        ],
    )
    store = DocStore(spark, cfg, root)
    src = (
        d.transcripts.select(doc_id_col().alias("doc_id"), "text", "turn_idx", "tool", "ts")
        .where(F.col("doc_id").isin(EQ.LOOKUP_IDS))
        .collect()
    )
    store.put_all(
        {
            r["doc_id"]: {
                "text": r["text"],
                "turn_number": float(r["turn_idx"]),
                "has_tool": bool(r["tool"]),
                "ts": r["ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            }
            for r in src
        }
    )
    return store.fetch_df(EQ.LOOKUP_IDS)


def _ops(spark):
    """(contract query name, owning module, op). The module names the
    operation's span (``trace.OP_SECONDS``); each op takes the set-up's
    Tables and returns a DataFrame."""
    from searchengine_spark.ops import ann, dedup, multimodal, sampling, sessions, textstats, transcripts
    from searchengine_spark.query.bm25 import search_direct

    return [
        ("search_many", "index.engine", None),
        ("bm25_multi", "query.bm25", lambda d: search_direct(d.transcripts, EQ.Q_MULTI, tok=d.tok, stats=d.stats)),
        ("docs_minhash_lsh", "ops.dedup", lambda d: dedup.minhash_lsh_pairs(d.documents).orderBy("doc_a", "doc_b")),
        ("docs_quality", "ops.textstats", lambda d: textstats.quality(d.documents)),
        ("docs_mix_sample", "ops.sampling", lambda d: sampling.mix_sample(d.documents)),
        ("conv_turn_stats", "ops.transcripts", lambda d: transcripts.conv_stats(d.transcripts)),
        ("events_sessionize", "ops.sessions", lambda d: sessions.sessionize(d.events)),
        ("ann_cosine_batch", "ops.ann", lambda d: ann.cosine_topk_batch(d.embeddings, EQ.ANN_BATCH_QIDS)),
        (
            "multimodal_features",
            "ops.multimodal",
            lambda d: multimodal.extract_features(multimodal.with_binary_payload(d.documents)),
        ),
        ("stream_events_rollup", "streaming.events", lambda d: events.events_hourly_rollup(spark, d.dir)),
        (
            "conv_assemble_stream",
            "streaming.assemble",
            lambda d: assemble.assemble_conversations_stream(spark, d.turns_path),
        ),
        ("doc_typed_roundtrip", "docstore", lambda d: _docstore_roundtrip(spark, d, f"{d.dir}/docstore")),
    ]


def redirect_staging(run) -> None:
    """Point the program's file-stream staging, whose default roots are
    fixed directories of the repository, at the run root."""
    for mod, name, sub in (
        (events, "stage_events_dir", "stream_events"),
        (assemble, "stage_turn_stream_dir", "stream_turns"),
    ):
        fn = getattr(mod, name)
        fn = getattr(fn, "func", fn)  # already redirected by an earlier call
        setattr(mod, name, functools.partial(fn, root=run.path(sub)))


def _oracle_sql(transcripts_path: str) -> dict[str, str]:
    """``entry_queries.oracle_sql()`` over this run's transcripts file.
    Its transcripts path comes from ``ensure_transcripts``, which would
    write the corpus into the repository, and its IVF oracle reads a
    fixed test table this workload does not use; both are swapped out
    for the call."""
    saved = EQ.ensure_transcripts, EQ._sql_ann_ivf_topk
    EQ.ensure_transcripts, EQ._sql_ann_ivf_topk = (lambda sf: transcripts_path), (lambda: "")
    try:
        return EQ.oracle_sql()
    finally:
        EQ.ensure_transcripts, EQ._sql_ann_ivf_topk = saved


def run_pass(spark, d: Tables, queries: dict[str, list[str]], tracer):
    """One pass of every operation on ``d``, each ``.collect()``ed in a
    span named after its module. Returns the seconds per operation, the
    (columns, rows) per operation and the names of failed operations."""
    secs: dict[str, float] = {}
    results: dict[str, tuple[list[str], list[tuple]]] = {}
    failed: list[str] = []
    for name, layer, op in _ops(spark):
        t0 = time.perf_counter()
        try:
            with tracer.span(layer):
                df = engine.search_many(d.ix, queries, driver=False) if op is None else op(d)
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 -- a failed operation is counted, not fatal
            print(f"offline {name} failed: {e!r}")
            failed.append(name)
            continue
        secs[name] = time.perf_counter() - t0
        results[name] = (df.columns, rows)
    return secs, results, failed


def check(d: Tables, results: dict, queries: dict[str, list[str]], seed: int) -> list[str]:
    """Names of the operations whose results differ from their oracles."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d.dir}/{t}.parquet')")
        oracles = _oracle_sql(d.transcripts_path)
        oracles["conv_assemble_stream"] = EQ._role_seq_sql(d.turns_path)
        wrong = []
        for name, (cols, rows) in results.items():
            if name == "search_many":
                ok = _search_many_ok(con, d, rows, queries, seed)
            else:
                res = con.execute(oracles[name])
                ok = _same_rows(cols, rows, [c[0] for c in res.description], res.fetchall())
            if not ok:
                print(f"offline check failed: {name}")
                wrong.append(name)
        return wrong
    finally:
        con.close()


def bm25_oracle(con, corpus_path: str, terms: list[str], k: int) -> list[tuple]:
    """Top ``k`` (doc_id, score) of the contract's BM25 oracle SQL over
    a parquet corpus."""
    sql = EQ._bm25_sql(corpus_path, "SELECT unnest([" + EQ._terms_sql(terms) + "]) AS term", limit=k)
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _search_many_ok(con, d: Tables, rows: list[tuple], queries: dict[str, list[str]], seed: int) -> bool:
    by_qid: dict[str, list[tuple]] = {}
    for qid, doc_id, score in rows:
        by_qid.setdefault(qid, []).append((doc_id, score))
    rng = np.random.default_rng([seed, 10])
    qids = sorted(queries)
    k = inputs.TOP_K + TIE_MARGIN
    return all(
        _same_ranking(by_qid.get(qid, []), bm25_oracle(con, d.transcripts_path, queries[qid], k), 0)
        for qid in rng.choice(qids, size=min(N_CHECKED_QUERIES, len(qids)), replace=False)
    )


def _same_rows(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> bool:
    """Same columns and the same rows in any order; floats may differ by
    ``FLOAT_TOL``."""
    if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
        return False
    pick = [ocols.index(c) for c in cols]
    orows = [tuple(r[i] for i in pick) for r in orows]

    def key(r):
        exact = tuple(_norm(v) for v in r if not isinstance(v, float))
        return exact, tuple(round(v, 2) for v in r if isinstance(v, float))

    for a, b in zip(sorted(rows, key=key), sorted(orows, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not (math.isclose(x, y, abs_tol=FLOAT_TOL) or x == y):
                    return False
            elif _norm(x) != _norm(y):
                return False
    return True


def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)
