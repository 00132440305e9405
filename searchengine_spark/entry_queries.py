"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 gets a `queries()` entry
(Spark DataFrame plan) and, where SQL-expressible, a matching
`oracle_sql()` ANSI-SQL string the driver runs in DuckDB at sf=0.01.
Column names/aliases match exactly; floats are rounded to
semantics.SCORE_DECIMALS in BOTH engines; ordering uses unrounded
values with deterministic tie-breaks.

The transcripts table (BASELINE.json input_hint shape) is synthesized
deterministically per scale factor (corpus.py) — the oracle SQL reads
the same parquet via read_parquet('<abs path>').
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import semantics as S
from .corpus import ensure_transcripts, sf_from_dir
from .functions.text import doc_id_col
from .ops import ann as OA
from .ops import dedup as OD
from .ops import multimodal as OM
from .ops import textstats as OT
from .query.bm25 import corpus_stats, search_direct, term_frequencies, tokenized
from .staging import commit_staged, staged_from

ORACLE_SF = 0.01  # the driver's correctness tier (TESTDATA.md)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(ensure_transcripts(sf_from_dir(sf_dir)))


# session-scoped direct-path cache: the tokenized corpus (persisted) and
# its (N, avgdl). The direct BM25 family otherwise re-runs the tokenize
# scan 2-3× per query; a serving session tokenizes once. Results are
# identical — the cache only short-circuits recomputation.
_DIRECT_CACHE: dict[tuple[str, str], tuple[DataFrame, tuple[int, float]]] = {}


def _session_key(spark: SparkSession) -> str:
    """Session-unique cache key: applicationId + startTime. ``id(spark)``
    can be reused by CPython after a stopped session is GC'd, which
    would hand back persisted frames bound to a dead JVM context."""
    sc = spark.sparkContext
    return f"{sc.applicationId}:{sc.startTime}"


def direct_ctx(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, tuple[int, float]]:
    path = ensure_transcripts(sf_from_dir(sf_dir))
    key = (_session_key(spark), path)
    if key not in _DIRECT_CACHE:
        tok = tokenized(spark.read.parquet(path)).persist()
        _DIRECT_CACHE[key] = (tok, corpus_stats(tok))
    return _DIRECT_CACHE[key]


def clear_direct_cache() -> None:
    # entries keyed to an already-stopped session raise on unpersist
    # (dead JVM context) — swallow so one dead entry can't strand the rest
    for tok, _ in _DIRECT_CACHE.values():
        try:
            tok.unpersist()
        except Exception:
            pass
    _DIRECT_CACHE.clear()
    for sh in _SHINGLE_CACHE.values():
        try:
            sh.unpersist()
        except Exception:
            pass
    _SHINGLE_CACHE.clear()
    for sig in _SIMHASH_SIG_CACHE.values():
        try:
            sig.unpersist()
        except Exception:
            pass
    _SIMHASH_SIG_CACHE.clear()
    # localCheckpointed frames hold executor block storage until the
    # session stops — release it eagerly so clearing caches mid-session
    # (e.g. switching corpora) doesn't strand storage
    for cache in (_EMB_PAIR_CACHE, _MINHASH_PAIR_CACHE):
        for df in cache.values():
            _unpersist_checkpointed(df)
        cache.clear()
    # batch-search segment-metadata cache is owned by the engine module
    from .index.engine import clear_batch_meta_cache

    clear_batch_meta_cache()


def _unpersist_checkpointed(df: DataFrame) -> None:
    """Best-effort eager release of a localCheckpointed frame's blocks.
    The persisted RDD is the LogicalRDD backing the checkpoint; when the
    frame IS the checkpoint root the analyzed plan exposes it directly.
    Otherwise (an operator sits on top) dropping the last reference lets
    Spark's ContextCleaner reclaim the blocks on the next driver GC —
    so every path here is safe to fail quietly."""
    try:
        # blocking: the clear path is rare and callers (corpus switch)
        # want the executor storage actually back before rebuilding
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
        return
    except Exception:
        pass
    try:
        df.rdd.unpersist()
    except Exception:
        pass


def _stop_sql() -> str:
    return ", ".join(f"'{w}'" for w in S.STOPWORDS)


def _terms_sql(terms: list[str]) -> str:
    return ", ".join(f"'{t}'" for t in terms)


def _syn_sql_expand(toks_expr: str) -> str:
    """Wrap a DuckDB token-array expression with index-time synonym
    expansion: each group token becomes the full group (group order)."""
    expr = toks_expr
    for group in S.SYNONYM_GROUPS:
        lits = ", ".join(f"'{g}'" for g in group)
        expr = (
            f"flatten(list_transform({expr}, "
            f"x -> CASE WHEN x IN ({lits}) THEN [{lits}] ELSE [x] END))"
        )
    return expr


def _tok_cte(path: str, synonyms: bool = False) -> str:
    """Shared CTE prefix: tokenized docs + lengths + corpus stats.
    ``synonyms=True`` mirrors the index-time synonym installation."""
    toks = (
        f"list_filter(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+'),\n"
        f"                     x -> x NOT IN ({_stop_sql()}))"
    )
    if synonyms:
        toks = _syn_sql_expand(toks)
    return f"""
WITH t AS (
  SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
         role, tool, ts,
         {toks} AS toks
  FROM read_parquet('{path}')
),
dl AS (SELECT doc_id, role, tool, ts, len(toks) AS dl FROM t),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t)
"""


def _bm25_sql(
    path: str, terms_expr: str, where: str = "", having: str = "", synonyms: bool = False,
    limit: int = S.TOP_K, offset: int = 0,
) -> str:
    """terms_expr: SQL producing qt(term) rows (the distinct query terms)."""
    return f"""{_tok_cte(path, synonyms)},
qt AS ({terms_expr}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2
),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (st.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * {S.K1 + 1.0} / (tf.tf + {S.K1} * ({1.0 - S.B} + {S.B} * dl.dl / st.avgdl)) ) AS score_raw
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), st
  {where}
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, round(score_raw, {S.SCORE_DECIMALS}) AS score
FROM sc ORDER BY score_raw DESC, doc_id ASC LIMIT {limit} OFFSET {offset}
"""


def _bm25_spark(spark, sf_dir, terms, doc_predicate=None) -> DataFrame:
    tok, stats = direct_ctx(spark, sf_dir)
    return search_direct(
        load_transcripts(spark, sf_dir), terms, doc_predicate=doc_predicate,
        tok=tok, stats=stats,
    )


# --------------------------------------------------------------------------
# transcripts: BM25 search family (SURVEY §2.4/§2.5 J1-J5, R1-R5)
# --------------------------------------------------------------------------

Q_SINGLE = ["spark"]
Q_MULTI = ["query", "plan", "shuffle"]
Q_HEAVY = ["data", "model", "run"]
Q_FILTERED = ["spark", "query"]
Q_SYNONYM = list(S.SYNONYM_GROUPS[0])  # query 'кепка' expands to group
FUZZY_SOURCE = "serach"  # planted typo; expands via levenshtein<=1


def q_bm25_single(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, Q_SINGLE)


def q_bm25_multi(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, Q_MULTI)


def q_bm25_heavy(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, Q_HEAVY)


def q_bm25_filtered(spark, sf_dir):
    pred = (F.col("role") == "assistant") & (F.col("tool") == "search")
    return _bm25_spark(spark, sf_dir, Q_FILTERED, doc_predicate=pred)


def q_bm25_synonym(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, Q_SYNONYM)


def q_bm25_and(spark, sf_dir):
    """Conjunctive search (reference SimpleSearch, search.go:28-48):
    doc must contain every query term — posting intersection J4."""
    tok, stats = direct_ctx(spark, sf_dir)
    return search_direct(
        load_transcripts(spark, sf_dir), Q_MULTI, mode="and", tok=tok, stats=stats
    )


def q_bm25_indexed_and(spark, sf_dir):
    from .index.engine import search_index

    return search_index(ensure_index(spark, sf_dir), Q_MULTI, mode="and")


def q_search_sorted_recent(spark, sf_dir):
    """Explicit user sort (R4, rank.go:100-110): matching docs ordered
    by the sortable ts field, ranking fully overridden."""
    tok, _ = direct_ctx(spark, sf_dir)
    # "doc contains any query term" as a scan-local arrays_overlap
    # predicate: tok is one row per doc, so no explode and no distinct
    # shuffle — the only exchange left is the top-k sort
    match = tok.where(
        F.arrays_overlap("tokens", F.array(*[F.lit(t) for t in Q_FILTERED]))
    ).select("doc_id", "ts")
    return (
        match.orderBy(F.desc("ts"), F.asc("doc_id"))
        .limit(25)
        .select("doc_id", F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"))
    )


def q_search_boosted(spark, sf_dir):
    """Boost-typed secondary sort (R3 *intended* semantics, quirk Q3):
    score desc, then logarithmic boost log(turn_idx+1)*2 desc, doc_id."""
    t = load_transcripts(spark, sf_dir)
    tok, stats = direct_ctx(spark, sf_dir)
    topk = search_direct(t, Q_MULTI, k=50, tok=tok, stats=stats)
    meta = t.select(doc_id_col().alias("doc_id"), "turn_idx")
    boost = F.log(F.col("turn_idx").cast("double") + F.lit(1.0)) * F.lit(2.0)
    return (
        topk.join(meta, "doc_id")
        .withColumn("boost_raw", boost)
        .orderBy(F.desc("score"), F.desc("boost_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "score", F.round("boost_raw", S.SCORE_DECIMALS).alias("boost"))
    )


LOOKUP_IDS = ["c0000000:0000", "c0000001:0000", "c0000002:0001"]


def q_doc_lookup(spark, sf_dir):
    """Point lookup by docID (S5, index.go:139-141): stored fields."""
    t = load_transcripts(spark, sf_dir)
    return (
        t.select(doc_id_col().alias("doc_id"), "role", "tool", "text", _ts_us())
        .where(F.col("doc_id").isin(LOOKUP_IDS))
        .orderBy("doc_id")
    )


def q_doc_typed_roundtrip(spark, sf_dir):
    """Typed stored-field round-trip (reference getDocId decode,
    handler.go:104-138): transcript rows become config-typed documents
    (number/bool/timestamp/string) in a DocStore, and the fetch decodes
    them back — NumericField→DOUBLE, BooleanField→BOOLEAN,
    DateTimeField→RFC3339 — through OUR typed storage, not the source
    parquet."""
    from .configs import FieldConfig, IndexConfig
    from .docstore import DocStore

    cfg = IndexConfig(
        indexName="typed_docs",
        fields=[
            FieldConfig("text", "string"),
            FieldConfig("turn_number", "number", sortable=True),
            FieldConfig("has_tool", "bool", filterable=True),
            FieldConfig("ts", "timestamp", sortable=True),
        ],
    )
    sf = sf_from_dir(sf_dir)
    root = f"/root/repo/data/docstore/sf{sf:g}"
    # manifest-gated on the source transcripts (staging.py): a
    # regenerated corpus invalidates the stored docs instead of
    # silently serving stale rows
    fresh = staged_from(root, ensure_transcripts(sf))
    store = DocStore(spark, cfg, root)
    if not fresh:
        src = (
            load_transcripts(spark, sf_dir)
            .select(doc_id_col().alias("doc_id"), "text", "turn_idx", "tool", "ts")
            .where(F.col("doc_id").isin(LOOKUP_IDS))
            .collect()
        )
        docs = {
            r["doc_id"]: {
                "text": r["text"],
                "turn_number": float(r["turn_idx"]),
                "has_tool": bool(r["tool"]),
                "ts": r["ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            }
            for r in src
        }
        store.put_all(docs)
        commit_staged(root)
    return store.fetch_df(LOOKUP_IDS)


def q_bm25_fuzzy(spark, sf_dir):
    """Fuzziness=1 (reference search.go:122): expand against the corpus
    term dictionary with levenshtein<=1, then score each expansion."""
    tok, stats = direct_ctx(spark, sf_dir)
    # length-window + per-doc dedup happen INSIDE the array (scan-local)
    # and the levenshtein predicate runs BEFORE the global distinct, so
    # the dedup shuffle carries only the handful of lev<=1 matches
    # instead of every length-windowed token occurrence
    lo, hi = len(FUZZY_SOURCE) - 1, len(FUZZY_SOURCE) + 1
    vocab = (
        tok.select(
            F.explode(
                F.array_distinct(
                    F.filter("tokens", lambda t: F.length(t).between(lo, hi))
                )
            ).alias("term")
        )
        .where(F.levenshtein(F.col("term"), F.lit(FUZZY_SOURCE)) <= 1)
        .distinct()
    )
    terms = sorted(r["term"] for r in vocab.collect())
    return search_direct(
        load_transcripts(spark, sf_dir), terms, tok=tok, stats=stats
    )


# --------------------------------------------------------------------------
# transcripts: index statistics (SURVEY §2.6 G1-G4)
# --------------------------------------------------------------------------

def q_term_df_top(spark, sf_dir):
    tok, _ = direct_ctx(spark, sf_dir)
    # df = docs containing the term: dedupe per-doc INSIDE the array
    # (array_distinct, scan-local) so the shuffle carries one row per
    # (doc, term) and the agg is a plain count — no count_distinct's
    # expand+dedup pass over repeated tokens. Exact because tokenized()
    # keeps one row per doc_id (its docstring states the invariant)
    return (
        tok.select(F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


def q_doclen_by_role(spark, sf_dir):
    tok, _ = direct_ctx(spark, sf_dir)
    return (
        tok.groupBy("role")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
        .orderBy("role")
    )


def _ts_us():
    # parquet ts loads as TIMESTAMP_NTZ in Spark 4; session TZ is UTC so the
    # LTZ cast preserves the stored micros (== DuckDB epoch_us on naive ts)
    return F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us")


def q_scan_stable_order(spark, sf_dir):
    """Per-row invariant: stable (conv_id, turn_idx) ordering == doc_id order."""
    t = load_transcripts(spark, sf_dir)
    return (
        t.select(doc_id_col().alias("doc_id"), "role", "tool", _ts_us())
        .orderBy("doc_id")
        .limit(1000)
    )


def q_filter_range_multiselect(spark, sf_dir):
    """F2/F3/F5: ts range OR-block AND multi-select (filter.go:62-104)."""
    t = load_transcripts(spark, sf_dir)
    return (
        t.where(
            F.col("ts").between(F.lit("2025-01-01 00:30:00"), F.lit("2025-01-01 02:00:00"))
            & F.col("tool").isin(["bash", "search"])
            & (F.col("role") == "assistant")
        )
        .select(doc_id_col().alias("doc_id"), "tool", _ts_us())
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# documents: training-data-pipeline operators
# --------------------------------------------------------------------------

def q_docs_exact_dedup(spark, sf_dir):
    """Exact dedup: content-hash groups, keep min doc_id (hash-groupBy)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") >= 1)
        # deterministic order: don't rely on the driver's row-sort
        .orderBy("keep_id")
    )


def q_docs_token_stats(spark, sf_dir):
    """Token counting + quality signals per doc (length/stopword ratio)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(S.TOKEN_PATTERN_JAVA), F.lit(0))
    stop = F.lit(list(S.STOPWORDS))
    d2 = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).alias("n_stop"),
    )
    return d2.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(
            F.when(F.col("n_tokens") > 0, F.col("n_stop") / F.col("n_tokens")).otherwise(F.lit(0.0)),
            S.SCORE_DECIMALS,
        ).alias("stop_ratio"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 embedding (baseline ANN)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    qv = F.broadcast(e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qemb")))
    dot = F.aggregate(
        F.zip_with("emb", "qemb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    return (
        e.crossJoin(qv)
        .where(F.col("vec_id") != 0)
        .select("vec_id", (dot / (nrm(F.col("emb")) * nrm(F.col("qemb")))).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_raw", S.SCORE_DECIMALS).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# transcripts: index-backed BM25 (SURVEY §2.1 S1/S7/S8 + §2.4/§2.5 over the
# materialized postings snapshot; must be rank-identical to the direct path)
# --------------------------------------------------------------------------

def ensure_index(spark, sf_dir: str):
    """Build (once) and open the postings index for a scale factor."""
    from .index.build import build_index
    from .index.catalog import IndexCatalog
    from .index.engine import open_index

    sf = sf_from_dir(sf_dir)
    root = f"/root/repo/data/index/sf{sf:g}"
    # manifest-gated on the source transcripts (staging.py): a
    # regenerated corpus rebuilds the snapshot instead of serving stale
    # postings behind a valid-looking CURRENT pointer
    fresh = staged_from(root, ensure_transcripts(sf))
    cat = IndexCatalog(root)
    if not fresh:
        build_index(spark, load_transcripts(spark, sf_dir), cat)
        commit_staged(root)
    elif cat.current() is None:  # manifest intact but snapshot missing
        build_index(spark, load_transcripts(spark, sf_dir), cat)
    return open_index(spark, cat)


def ensure_syn_index(spark, sf_dir):
    """A second, synonym-installed snapshot (S7 index-time semantics):
    built with build_index(synonyms=True) under its own catalog root."""
    from .index.build import build_index
    from .index.catalog import IndexCatalog
    from .index.engine import open_index

    sf = sf_from_dir(sf_dir)
    root = f"/root/repo/data/index_syn/sf{sf:g}"
    fresh = staged_from(root, ensure_transcripts(sf))
    cat = IndexCatalog(root)
    if not fresh:
        build_index(spark, load_transcripts(spark, sf_dir), cat, synonyms=True)
        commit_staged(root)
    elif cat.current() is None:  # manifest intact but snapshot missing
        build_index(spark, load_transcripts(spark, sf_dir), cat, synonyms=True)
    return open_index(spark, cat)


def q_bm25_synonym_indexed(spark, sf_dir):
    """S7 full fidelity: the synonym group is installed at INDEX time
    (reference ReindexBleve), so a plain single-term query for one
    group member matches every doc containing any member — with the
    df/idf shift that index-time expansion implies. No query-time
    expansion involved."""
    from .index.engine import search_index

    return search_index(ensure_syn_index(spark, sf_dir), [S.SYNONYM_GROUPS[0][0]])


def q_emb_dedup_clusters(spark, sf_dir):
    """Cluster formation composes across modalities: connected
    components over the EMBEDDING near-dup graph (exact blocked-GEMM
    pairs → min-label propagation)."""
    pairs = emb_pair_ctx(spark, sf_dir, threshold=0.45).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return OD.neardup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id")
    )


def q_stream_events_rollup(spark, sf_dir):
    """S9 on driver data: a real Structured Streaming query (file
    stream standing in for the reference's NATS subject — see
    streaming/events.py for the production wiring) computing 1-hour
    event-time windows over /root/testdata/*/events.parquet."""
    from .streaming.events import events_hourly_rollup

    return events_hourly_rollup(spark, sf_dir)


def q_bm25_page2(spark, sf_dir):
    """R6 pagination (reference SearchRequest.From): page 2 of the
    multi-term query — ranks 11-20 under the deterministic
    (score desc, doc_id asc) order, via the API facade's from_/k."""
    from .api import advanced_search

    return advanced_search(
        ensure_index(spark, sf_dir), " ".join(Q_MULTI), fuzzy=False, k=10, from_=10
    )


def q_ops_metrics(spark, sf_dir):
    """G5 query-path metrics (reference internal/metrics/metrics.go:
    http_requests_total / http_request_duration_seconds analogues):
    after a fixed batch of serving calls, the registry's deterministic
    view — counter values and histogram observation counts. Durations
    are recorded too (full Prometheus-style buckets, unit-tested) but
    are wall-clock and so not oracle-comparable."""
    from .index.engine import search_index
    from .metrics import REGISTRY

    ix = ensure_index(spark, sf_dir)
    REGISTRY.reset()
    for terms in (Q_SINGLE, Q_MULTI, Q_HEAVY):
        search_index(ix, terms).collect()
    rows = REGISTRY.count_rows()
    return spark.createDataFrame(rows, "metric STRING, handler STRING, n LONG").orderBy(
        "metric", "handler"
    )


BATCH_QUERIES = {"qa": Q_SINGLE, "qb": Q_MULTI, "qc": Q_HEAVY}


def q_search_many_batch(spark, sf_dir):
    """Batched multi-query evaluation: every query's top-k in ONE
    distributed pass over the union of query terms (offline-eval path)."""
    from .index.engine import search_many

    return search_many(ensure_index(spark, sf_dir), BATCH_QUERIES)


def q_bm25_indexed_single(spark, sf_dir):
    from .index.engine import search_index

    return search_index(ensure_index(spark, sf_dir), Q_SINGLE)


def q_bm25_indexed_multi(spark, sf_dir):
    from .index.engine import search_index

    return search_index(ensure_index(spark, sf_dir), Q_MULTI)


def q_sql_search(spark, sf_dir):
    """SURVEY §4.2 item 5 — the engine from PURE SQL: the search table
    function (Python UDTF over the committed snapshot, sql.py) must be
    value-identical to the DataFrame serving path on the same query,
    so it shares bm25_indexed_single's oracle."""
    from .sql import register_search_sql

    ix = ensure_index(spark, sf_dir)  # publish the snapshot first
    register_search_sql(spark, os.path.dirname(ix.snapshot.path))
    return spark.sql(f"SELECT doc_id, score FROM search('{' '.join(Q_SINGLE)}')")


# --------------------------------------------------------------------------
# transcripts: streaming ingest (SURVEY §2.1 S9-S11) — deterministic
# upsert/delete stream applied via checkpointed Structured Streaming,
# then compacted; the search result is exact over the final corpus, so
# the oracle recomputes BM25 on the compacted docs parquet.
# --------------------------------------------------------------------------

STREAM_ROOT = "/root/repo/data/stream_demo"
Q_STREAM = ["zebrastream", "spark"]


def _stream_messages() -> list[dict]:
    def msg(seq, conv_id, turn_idx, text, delete=False):
        return {
            "seq": seq,
            "doc_id": f"{conv_id}:{turn_idx:04d}",
            "delete": delete,
            "doc": {
                "conv_id": conv_id, "turn_idx": turn_idx, "role": "assistant",
                "text": text, "tool": "search", "ts": "2025-03-01T00:00:00",
            },
        }

    return [
        msg(1, "zdemo", 0, "zebrastream arrival spark index build"),
        msg(2, "zdemo", 1, "zebrastream zebrastream query plan"),
        msg(3, "c0000000", 0, "rewritten opening turn zebrastream"),
        msg(4, "c0000000", 1, "", delete=True),
        msg(5, "zdemo", 2, "first version"),
        msg(6, "zdemo", 2, "second version wins zebrastream spark"),
    ]


def stream_demo_root(sf: float) -> str:
    return os.path.join(STREAM_ROOT, f"sf{sf:g}")


def ensure_stream_demo(spark, sf_dir: str):
    """Bootstrap + ingest + compact the demo stream once per sf
    (manifest-gated on the source transcripts — staging.py)."""
    import json as _json

    sf = sf_from_dir(sf_dir)
    root = stream_demo_root(sf)
    from .streaming import StreamingIndex

    if not staged_from(root, ensure_transcripts(sf)):
        s = StreamingIndex(spark, root)
        s.bootstrap(load_transcripts(spark, sf_dir))
        src = os.path.join(root, "incoming")
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, "b1.json"), "w") as f:
            for m in _stream_messages():
                f.write(_json.dumps(m) + "\n")
        s.ingest_files(src)
        s.compact()
        commit_staged(root)
    return StreamingIndex(spark, root)


def q_stream_upsert_search(spark, sf_dir):
    from .index.engine import open_index, search_index

    s = ensure_stream_demo(spark, sf_dir)
    return search_index(open_index(spark, s.catalog), Q_STREAM)


# --------------------------------------------------------------------------
# documents: dedup family (exact / MinHash+LSH / n-gram Jaccard / SimHash)
# --------------------------------------------------------------------------

def _documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# session-scoped shingle cache shared by the dedup family (minhash +
# n-gram Jaccard both start from the same (doc_id, shingles) frame;
# computing + persisting it once per corpus halves their Arrow work)
_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def shingle_ctx(spark, sf_dir) -> DataFrame:
    path = f"{sf_dir}/documents.parquet"
    key = (_session_key(spark), path)
    if key not in _SHINGLE_CACHE:
        _SHINGLE_CACHE[key] = OD.doc_shingles(spark.read.parquet(path)).persist()
    return _SHINGLE_CACHE[key]


# session-scoped SimHash signature cache: q_docs_simhash and
# q_docs_simhash_neardup both need the tokenize + 48-bit-majority pass;
# persisting (doc_id, simhash) once per corpus means the second caller
# starts directly at the band/bucket join
_SIMHASH_SIG_CACHE: dict[tuple[str, str], DataFrame] = {}


def simhash_ctx(spark, sf_dir) -> DataFrame:
    path = f"{sf_dir}/documents.parquet"
    key = (_session_key(spark), path)
    if key not in _SIMHASH_SIG_CACHE:
        _SIMHASH_SIG_CACHE[key] = OD.simhash_signatures(
            spark.read.parquet(path)
        ).persist()
    return _SIMHASH_SIG_CACHE[key]


# session-scoped embedding near-dup pair cache: q_emb_neardup_pairs and
# q_emb_dedup_clusters both need the blocked-GEMM pair graph; sharing the
# materialized frame means the GEMM job runs once per corpus per session
_EMB_PAIR_CACHE: dict[tuple[str, str, float], DataFrame] = {}


def emb_pair_ctx(spark, sf_dir, threshold: float = 0.45) -> DataFrame:
    key = (_session_key(spark), f"{sf_dir}/embeddings.parquet", threshold)
    if key not in _EMB_PAIR_CACHE:
        _EMB_PAIR_CACHE[key] = (
            OA.cosine_neardup_pairs(_embeddings(spark, sf_dir), threshold=threshold)
            .localCheckpoint(eager=True)
        )
    return _EMB_PAIR_CACHE[key]


# session-scoped MinHash pair-graph cache: minhash_lsh, dedup_clusters
# and deduped all start from the same (already localCheckpointed) pair
# frame; sharing it runs the band join + jaccard verify once per corpus
_MINHASH_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}


def minhash_pair_ctx(spark, sf_dir) -> DataFrame:
    key = (_session_key(spark), f"{sf_dir}/documents.parquet")
    if key not in _MINHASH_PAIR_CACHE:
        _MINHASH_PAIR_CACHE[key] = OD.minhash_lsh_pairs(
            _documents(spark, sf_dir), shingles=shingle_ctx(spark, sf_dir)
        )
    return _MINHASH_PAIR_CACHE[key]


def q_docs_minhash_lsh(spark, sf_dir):
    return minhash_pair_ctx(spark, sf_dir).orderBy("doc_a", "doc_b")


def q_docs_ngram_jaccard(spark, sf_dir):
    return OD.ngram_jaccard_pairs(
        _documents(spark, sf_dir), shingles=shingle_ctx(spark, sf_dir)
    )


def q_docs_topk_keywords(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (tfidf = tf·ln(N/df), ties
    broken by term) — doc labeling for pipeline curation."""
    return OT.topk_keywords(_documents(spark, sf_dir))


# benchmark stand-in slice for the contamination query: md5 bucket < 15%
CONTAM_BENCH_PCT = 15


def q_docs_contamination(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing ≥50 % of an eval
    item's 3-gram shingles (containment, not Jaccard). The benchmark
    stand-in is a deterministic md5-bucket slice of the corpus
    (engine-portable, like hash_sample), so both engines see the same
    eval set; its shingles come from the shared shingle cache via a
    semi-join (no recompute)."""
    from .ops.sampling import hash_bucket

    sh = shingle_ctx(spark, sf_dir)
    bench_ids = (
        _documents(spark, sf_dir)
        .where(hash_bucket(F.col("doc_id"), "bench") < CONTAM_BENCH_PCT)
        .select("doc_id")
    )
    bsh = sh.join(bench_ids, "doc_id", "left_semi")
    return OD.contamination_pairs(
        _documents(spark, sf_dir), bench_ids, shingles=sh, bench_shingles=bsh
    )


def q_docs_dedup_clusters(spark, sf_dir):
    """Duplicate-group formation (the step after pair generation in a
    dedup pipeline): connected components over the MinHash near-dup
    graph via iterative min-label propagation; cluster_id = the doc the
    pipeline keeps. Oracle: recursive-CTE transitive closure."""
    return OD.neardup_clusters(minhash_pair_ctx(spark, sf_dir))


def q_docs_deduped(spark, sf_dir):
    """Dedup APPLY: the corpus with non-representative near-dup cluster
    members dropped (keep = min-doc_id representative)."""
    docs = _documents(spark, sf_dir)
    return (
        OD.dedup_apply(docs, OD.neardup_clusters(minhash_pair_ctx(spark, sf_dir)))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_docs_hash_sample(spark, sf_dir):
    """Deterministic per-language hash sampling (reproducible dataset
    versioning: md5 bucket < per-lang rate; engine-portable buckets)."""
    from .ops.sampling import hash_sample

    return hash_sample(_documents(spark, sf_dir))


def q_docs_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing plan: global token offsets + chunk
    spans for fixed 512-token pretraining sequences."""
    from .ops.sampling import pack_sequences

    return pack_sequences(_documents(spark, sf_dir))


def q_docs_mix_sample(spark, sf_dir):
    """Target-composition sampling: every source stratum downsampled to
    the smallest source's size via integer-threshold md5 buckets —
    deterministic curriculum mixing (equal target weights)."""
    from .ops.sampling import mix_sample

    return mix_sample(_documents(spark, sf_dir))


def q_conv_turn_stats(spark, sf_dir):
    """Per-conversation shape rollup over the transcripts input
    (n_turns / roles / tool turns / tokens / first+last ts) — the
    conversation-level statistics a transcript pipeline filters and
    samples on."""
    from .ops.transcripts import conv_stats

    return conv_stats(load_transcripts(spark, sf_dir))


def q_index_stats(spark, sf_dir):
    """Index-honesty invariant: the BUILT artifacts' global statistics
    (docmap row count, summed doc lengths, term-dictionary vocabulary)
    must equal a from-scratch recomputation over the raw corpus with
    the pinned analysis semantics — the oracle recomputes them in
    DuckDB from the transcripts parquet, so any drift between the
    index and the corpus (lost docs, mis-tokenized turns, vocabulary
    truncation) fails the value hash."""
    ix = ensure_index(spark, sf_dir)
    docm = ix.docmap().agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    terms = ix.terms().agg(F.count_distinct("term").alias("n_terms"))
    return docm.crossJoin(terms)


def q_docs_repetition(spark, sf_dir):
    """Within-doc duplicate-3-gram repetition ratio (the Gopher-style
    boilerplate/template-spam quality filter); counts are integers, the
    ratio derives from them."""
    return OT.repetition(_documents(spark, sf_dir))


def q_docs_length_profile(spark, sf_dir):
    """Per-source token-length distribution profile (dataset-card
    statistics): exact p50/p90/p99 as k-th order statistics
    (rank = ceil(p*n) over a per-source window — integer-exact in any
    engine, unlike interpolated percentiles) plus total tokens.
    Scale: windows partition by source (no global sort); the rank scan
    is one shuffle shared by all three quantiles."""
    d = _documents(spark, sf_dir)
    toks = F.size(OD.tokens_col(F.col("text")))
    t = d.select("doc_id", "source", toks.cast("long").alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    r = t.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )

    def pick(p):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"), F.col("n_tokens"))
        )

    return (
        r.groupBy("source")
        .agg(
            pick(0.50).alias("p50_tokens"),
            pick(0.90).alias("p90_tokens"),
            pick(0.99).alias("p99_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


def q_conv_role_sequence(spark, sf_dir):
    """Per-conversation ORDER-SENSITIVE role signature (one initial per
    turn, in turn_idx order) — an ordered concatenation, computed batch
    via array_sort(collect_list(struct)) so the whole aggregate stays
    JVM-side. The stateful streaming twin (conv_assemble_stream) must
    reproduce this exactly."""
    t = load_transcripts(spark, sf_dir)
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("turn_idx"), F.substring("role", 1, 1).alias("ri"))
                )
            ),
            lambda s: s["ri"],
        ),
        "",
    )
    return (
        t.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"), seq.alias("role_seq"))
        .orderBy("conv_id")
    )


def q_conv_assemble_stream(spark, sf_dir):
    """The same conversation signatures computed by a STATEFUL streaming
    query: applyInPandasWithState buffers each conversation's turns in
    keyed state and emits once, when the event-time watermark passes
    the conversation's close (last turn + gap) — the custom stateful
    operator surface built-in aggregates can't express."""
    from .streaming.assemble import assemble_conversations_stream

    return assemble_conversations_stream(
        spark, ensure_transcripts(sf_from_dir(sf_dir))
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) over the events
    table: one user_id-partitioned window chain → per-session rollup."""
    from .ops.sessions import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_sessionize_stream(spark, sf_dir):
    """The SAME sessionization computed by a real Structured Streaming
    query: native merging ``session_window`` + watermark, APPEND mode
    (each session emitted exactly once when the watermark passes its
    close, state evicted), flushed on a bounded replay by a sentinel
    punctuation event. Shares the batch op's oracle verbatim."""
    from .streaming.events import events_sessionize_stream

    return events_sessionize_stream(spark, sf_dir)


def q_docs_simhash(spark, sf_dir):
    return simhash_ctx(spark, sf_dir).orderBy("doc_id")


def q_docs_simhash_neardup(spark, sf_dir):
    return OD.simhash_neardup_pairs(
        _documents(spark, sf_dir), sigs=simhash_ctx(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# documents: text analysis (lang-id / quality / fingerprint) + multimodal
# --------------------------------------------------------------------------

def q_docs_langid(spark, sf_dir):
    return OT.langid(_documents(spark, sf_dir))


def q_docs_quality(spark, sf_dir):
    return OT.quality(_documents(spark, sf_dir))


def q_docs_fingerprint(spark, sf_dir):
    return OT.fingerprints(_documents(spark, sf_dir))


def q_docs_composition(spark, sf_dir):
    """Dataset-card composition report per (source, lang): doc/token
    counts, exact-dup rate, mean quality — every ratio derived from
    integer sums so aggregation order can't flip the value hash."""
    return OT.composition(_documents(spark, sf_dir))


def q_multimodal_features(spark, sf_dir):
    return OM.extract_features(OM.with_binary_payload(_documents(spark, sf_dir)))


def q_multimodal_resize(spark, sf_dir):
    t = OM.resize_thumbnails(OM.with_binary_payload(_documents(spark, sf_dir)))
    return t.select("doc_id", F.hex("thumb").alias("thumb_hex"), "w", "h").orderBy("doc_id")


def q_multimodal_frames(spark, sf_dir):
    f = OM.sample_frames(OM.with_binary_payload(_documents(spark, sf_dir)))
    return f.select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex")).orderBy(
        "doc_id", "frame_idx"
    )


# --------------------------------------------------------------------------
# embeddings: ANN (LSH-bucketed) + embedding near-dup pairs
# --------------------------------------------------------------------------

def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_ann_filtered_topk(spark, sf_dir):
    """Metadata-filtered vector search (the vector-DB 'filtered ANN'
    op): top-k cosine neighbors of vec 0 restricted to its own label
    class. The label predicate lands BEFORE scoring, so the corpus scan
    prunes to the class — on a label-partitioned store this is
    directory pruning, not a post-filter."""
    e = _embeddings(spark, sf_dir)
    lbl = F.broadcast(
        e.where(F.col("vec_id") == 0).select(F.col("label").alias("qlabel"))
    )
    fe = (
        e.crossJoin(lbl)
        .where(F.col("label") == F.col("qlabel"))
        .select("vec_id", "embedding")
    )
    return OA.cosine_topk(fe, 0)


def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH ANN over the MATERIALIZED store: the probe reads only
    the query's ``bucket=…`` partition directory (built once per sf by
    :func:`..ops.ann.ensure_ann_store`)."""
    return OA.lsh_topk_store(spark, OA.ensure_ann_store(spark, sf_dir), query_vec_id=0)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN over the MATERIALIZED store: probes chosen driver-side
    from the trained centroids (deterministic sample k-means shared
    with the oracle generator), partition-pruned scan of the probed
    ``list_id=…`` directories only."""
    return OA.ivf_topk_store(spark, OA.ensure_ann_store(spark, sf_dir), query_vec_id=0)


ANN_BATCH_QIDS = [0, 3, 7, 11]


def q_ann_cosine_batch(spark, sf_dir):
    """Batch ANN serving: exact cosine top-k for four stored query
    vectors in ONE corpus pass (broadcast query set → scored cross
    join → per-qid window top-k) — the amortized multi-query shape."""
    return OA.cosine_topk_batch(_embeddings(spark, sf_dir), ANN_BATCH_QIDS)


def q_emb_neardup_pairs(spark, sf_dir):
    # re-assert the output order: localCheckpoint preserves partition
    # contents but drops the logical sort from the plan
    return emb_pair_ctx(spark, sf_dir, threshold=0.45).orderBy("vec_a", "vec_b")


# --------------------------------------------------------------------------
# oracle SQL generators for the ops family
# --------------------------------------------------------------------------

_DOCS_TOKS = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS t FROM documents
)"""

_SHINGLES = """
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(t)-2),
                       i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS ss
  FROM toks
)"""


def _sql_minhash_lsh(threshold: float = 0.8, k: int = OD.MINHASH_K, band: int = OD.MINHASH_BAND) -> str:
    # Kirsch-Mitzenmacher minhash, in lockstep with ops/dedup.py:
    # one md5 per shingle, h_i = h1 + i*h2 from the digest's two
    # 48-bit halves ('0x'||hex)::UBIGINT == Spark conv(hex,16,10)
    h1 = "CAST(('0x' || substr(md5(s), 1, 12))::UBIGINT AS BIGINT)"
    h2 = "CAST(('0x' || substr(md5(s), 13, 12))::UBIGINT AS BIGINT)"
    mins = ", ".join(
        f"list_min(list_transform(ss, s -> {h1} + {i} * {h2}))" for i in range(k)
    )
    bands = ", ".join(
        "'" + str(b) + "|' || CAST(sig[" + str(b * band + 1) + "] AS VARCHAR)"
        + " || '|' || CAST(sig[" + str(b * band + 2) + "] AS VARCHAR)"
        for b in range(k // band)
    )
    return f"""{_DOCS_TOKS},
{_SHINGLES},
sig AS (SELECT doc_id, ss, list_value({mins}) AS sig FROM sh WHERE len(ss) > 0),
bands AS (SELECT doc_id, ss, unnest(list_value({bands})) AS band_key FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
j AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) AS inter,
         CAST(len(sa.ss) + len(sb.ss) AS DOUBLE) AS tot
  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a JOIN sig sb ON sb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, round(inter / (tot - inter), {S.SCORE_DECIMALS}) AS jaccard
FROM j WHERE inter / (tot - inter) >= {threshold} ORDER BY doc_a, doc_b
"""


def _sql_neardup_clusters() -> str:
    """Connected components of the minhash pair graph as a recursive
    transitive closure (fine at oracle scale; the Spark side uses
    bounded-round label propagation instead)."""
    return f"""
WITH RECURSIVE pairs AS ({_sql_minhash_lsh()}),
sym AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
reach(a, b) AS (
  SELECT doc_a, doc_b FROM sym
  UNION
  SELECT r.a, s.doc_b FROM reach r JOIN sym s ON r.b = s.doc_a
),
nodes AS (SELECT DISTINCT doc_a AS doc_id FROM sym)
SELECT n.doc_id, least(n.doc_id, min(r.b)) AS cluster_id
FROM nodes n JOIN reach r ON r.a = n.doc_id
GROUP BY n.doc_id ORDER BY doc_id
"""


def _sql_ngram_jaccard(threshold: float = 0.8, max_df: int = 50) -> str:
    return f"""{_DOCS_TOKS},
{_SHINGLES},
ex0 AS (SELECT doc_id, len(ss) AS n, unnest(ss) AS s FROM sh WHERE len(ss) > 0),
rare AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {max_df}),
ex AS (SELECT ex0.* FROM ex0 JOIN rare USING (s)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS DOUBLE) AS inter,
         CAST(any_value(a.n) + any_value(b.n) AS DOUBLE) AS tot
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(inter / (tot - inter), {S.SCORE_DECIMALS}) AS jaccard
FROM pairs WHERE inter / (tot - inter) >= {threshold} ORDER BY doc_a, doc_b
"""


def _sql_contamination(threshold: float = 0.5, bench_pct: int = 5) -> str:
    return f"""{_DOCS_TOKS},
{_SHINGLES},
bench AS (
  SELECT doc_id FROM documents
  WHERE ('0x' || substr(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT % 100 < {bench_pct}
),
ex AS (SELECT doc_id, unnest(ss) AS s FROM sh WHERE len(ss) > 0),
bex AS (
  SELECT sh.doc_id AS bench_id, len(ss) AS nb, unnest(ss) AS s
  FROM sh JOIN bench ON sh.doc_id = bench.doc_id WHERE len(ss) > 0
),
agg AS (
  SELECT ex.doc_id, bex.bench_id,
         CAST(count(*) AS DOUBLE) AS inter, CAST(any_value(nb) AS DOUBLE) AS nb
  FROM ex JOIN bex ON ex.s = bex.s AND ex.doc_id <> bex.bench_id
  GROUP BY 1, 2
)
SELECT doc_id, bench_id, round(inter / nb, {S.SCORE_DECIMALS}) AS overlap
FROM agg WHERE inter / nb >= {threshold} ORDER BY doc_id, bench_id
"""


def _sql_composition() -> str:
    return f"""{_DOCS_TOKS},
d AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq,
         len(list_filter(t, x -> x IN ({_stop_sql()}))) AS n_stop
  FROM toks
),
qual AS (
  SELECT doc_id, n_tokens,
         round(least(n_tokens / 20.0, 1.0)
               * (n_uniq / CAST(greatest(n_tokens, 1) AS DOUBLE))
               * (1.0 - abs(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE) - 0.4)),
               {S.SCORE_DECIMALS}) AS quality_score
  FROM d
),
base AS (SELECT doc_id, source, lang, md5(text) AS h FROM documents),
agg AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
         count(DISTINCT h) AS n_uniq_texts,
         CAST(sum(CAST(round(quality_score * 10000) AS BIGINT)) AS BIGINT) AS qsum
  FROM base JOIN qual q USING (doc_id) GROUP BY 1, 2
)
SELECT source, lang, n_docs, total_tokens,
       round(CAST(total_tokens AS DOUBLE) / n_docs, {S.SCORE_DECIMALS}) AS mean_tokens,
       round(1.0 - CAST(n_uniq_texts AS DOUBLE) / n_docs, {S.SCORE_DECIMALS}) AS dup_rate,
       round(CAST(qsum AS DOUBLE) / (10000.0 * n_docs), {S.SCORE_DECIMALS}) AS mean_quality
FROM agg ORDER BY source, lang
"""


def _sql_simhash_core(bits: int = OD.SIMHASH_BITS) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h & (1::BIGINT << {b})) <> 0 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END" for b in range(bits)
    )
    return f"""{_DOCS_TOKS},
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(term), 1, 12))::UBIGINT AS BIGINT) AS h FROM ex),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums)"""


def _sql_simhash() -> str:
    return _sql_simhash_core() + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id\n"


def _sql_simhash_neardup(max_hamming: int = 3, bits: int = OD.SIMHASH_BITS) -> str:
    n_chunks = max_hamming + 1
    w = bits // n_chunks
    chunks = ", ".join(
        f"'{c}:' || CAST((simhash >> {c * w}) & {(1 << w) - 1} AS VARCHAR)" for c in range(n_chunks)
    )
    return f"""{_sql_simhash_core(bits)},
chunks AS (SELECT doc_id, simhash, unnest(list_value({chunks})) AS chunk_key FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS ha, b.simhash AS hb
  FROM chunks a JOIN chunks b ON a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming} ORDER BY doc_a, doc_b
"""


def _sql_langid() -> str:
    langs = sorted(list(OT.LANG_STOPWORDS) + ["ru", "zh"])
    score_exprs = {
        "ru": "CAST(length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS DOUBLE)"
        " / CAST(greatest(length(text), 1) AS DOUBLE)",
        "zh": "CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)"
        " / CAST(greatest(length(text), 1) AS DOUBLE)",
    }
    for lg, words in OT.LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs[lg] = (
            f"CAST(len(list_filter(t, x -> x IN ({lst}))) AS DOUBLE)"
            " / CAST(greatest(len(t), 1) AS DOUBLE)"
        )
    cols = ", ".join(f"{score_exprs[lg]} AS s_{lg}" for lg in langs)
    mx = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = f"CASE WHEN {mx} < {OT.MIN_LANG_RATIO} THEN 'und' " + " ".join(
        f"WHEN s_{lg} = {mx} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""{_DOCS_TOKS},
sc AS (SELECT doc_id, text, {cols} FROM toks JOIN documents USING (doc_id))
SELECT doc_id, {case} AS pred_lang, round({mx}, {S.SCORE_DECIMALS}) AS lang_score
FROM sc ORDER BY doc_id
"""


def _sql_quality() -> str:
    return f"""{_DOCS_TOKS},
d AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq,
         len(list_filter(t, x -> x IN ({_stop_sql()}))) AS n_stop,
         coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS sum_len
  FROM toks
)
SELECT doc_id, n_tokens,
       round(n_uniq / CAST(greatest(n_tokens, 1) AS DOUBLE), {S.SCORE_DECIMALS}) AS uniq_ratio,
       round(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE), {S.SCORE_DECIMALS}) AS stop_ratio,
       round(sum_len / CAST(greatest(n_tokens, 1) AS DOUBLE), {S.SCORE_DECIMALS}) AS mean_tok_len,
       round(least(n_tokens / 20.0, 1.0)
             * (n_uniq / CAST(greatest(n_tokens, 1) AS DOUBLE))
             * (1.0 - abs(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE) - 0.4)),
             {S.SCORE_DECIMALS}) AS quality_score
FROM d ORDER BY doc_id
"""


def _sql_fingerprint(k: int = OT.FINGERPRINT_K) -> str:
    return f"""{_DOCS_TOKS},
{_SHINGLES}
SELECT doc_id,
       array_to_string(list_sort(list_transform(ss, s -> substr(md5(s), 1, 16)))[1:{k}], '|') AS fingerprint
FROM sh ORDER BY doc_id
"""


def _sql_multimodal() -> str:
    return """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       substr(md5(text), 1, 8) AS digest8,
       octet_length(encode(text)) % 64 + 1 AS thumb_w,
       (octet_length(encode(text)) // 64) % 64 + 1 AS thumb_h
FROM documents ORDER BY doc_id
"""


def _sql_bucket_expr(bits: int = OA.LSH_BITS) -> str:
    return " + ".join(f"CASE WHEN emb[{d + 1}] > 0 THEN {1 << d} ELSE 0 END" for d in range(bits))


def _sql_ann_lsh_topk(qid: int = 0, k: int = 10) -> str:
    cos = (
        "list_dot_product(emb, qemb)"
        " / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb)))"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
b AS (SELECT vec_id, emb, ({_sql_bucket_expr()}) AS bucket FROM e),
q AS (SELECT emb AS qemb, bucket AS qbucket FROM b WHERE vec_id = {qid})
SELECT vec_id, round({cos}, {S.SCORE_DECIMALS}) AS cos_sim
FROM b, q WHERE bucket = qbucket AND vec_id <> {qid}
ORDER BY {cos} DESC, vec_id ASC LIMIT {k}
"""


def _sql_ann_ivf_topk(qid: int = 0, k: int = 10) -> str:
    """IVF oracle: the generator runs the SAME deterministic trainer
    (:func:`..ops.ann.train_ivf_centroids`) on the same sample (first
    IVF_SAMPLE vectors by vec_id, float64), computes assignments and
    probe lists in numpy, and embeds the per-vector (vec_id, list_id)
    assignment as a VALUES table — the SQL then does the identical
    probe filter + exact cosine rerank DuckDB-side."""
    import numpy as np
    import pyarrow.parquet as pq

    path = f"/root/testdata/sf{ORACLE_SF:g}/embeddings.parquet"
    tbl = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(tbl["vec_id"].to_pylist(), dtype=np.int64)
    embs = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, embs = ids[order], embs[order]
    cents = OA.train_ivf_centroids(embs[: OA.IVF_SAMPLE])
    xn = embs / np.linalg.norm(embs, axis=1, keepdims=True)
    assign = np.argmax(xn @ cents.T, axis=1)
    probes = OA._probe_lists(cents, embs[ids == qid][0], OA.IVF_PROBES)
    values = ", ".join(f"({int(i)}, {int(l)})" for i, l in zip(ids, assign))
    cos = (
        "list_dot_product(e.emb, q.qemb)"
        " / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qemb, q.qemb)))"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
a(vec_id, list_id) AS (VALUES {values}),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = {qid})
SELECT e.vec_id, round({cos}, {S.SCORE_DECIMALS}) AS cos_sim
FROM e JOIN a ON e.vec_id = a.vec_id, q
WHERE a.list_id IN ({", ".join(str(p) for p in probes)}) AND e.vec_id <> {qid}
ORDER BY {cos} DESC, e.vec_id ASC LIMIT {k}
"""


def _sql_emb_neardup(threshold: float = 0.45) -> str:
    cos = (
        "list_dot_product(a.emb, b.emb)"
        " / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round({cos}, {S.SCORE_DECIMALS}) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {cos} >= {threshold}
ORDER BY vec_a, vec_b
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_single": q_bm25_single,
        "bm25_multi": q_bm25_multi,
        "bm25_heavy": q_bm25_heavy,
        "bm25_filtered": q_bm25_filtered,
        "bm25_synonym": q_bm25_synonym,
        "bm25_synonym_indexed": q_bm25_synonym_indexed,
        "bm25_fuzzy": q_bm25_fuzzy,
        "bm25_and": q_bm25_and,
        "bm25_indexed_and": q_bm25_indexed_and,
        "search_sorted_recent": q_search_sorted_recent,
        "search_boosted": q_search_boosted,
        "doc_lookup": q_doc_lookup,
        "doc_typed_roundtrip": q_doc_typed_roundtrip,
        "term_df_top": q_term_df_top,
        "doclen_by_role": q_doclen_by_role,
        "scan_stable_order": q_scan_stable_order,
        "filter_range_multiselect": q_filter_range_multiselect,
        "docs_exact_dedup": q_docs_exact_dedup,
        "docs_token_stats": q_docs_token_stats,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_filtered_topk": q_ann_filtered_topk,
        "bm25_indexed_single": q_bm25_indexed_single,
        "bm25_indexed_multi": q_bm25_indexed_multi,
        "stream_upsert_search": q_stream_upsert_search,
        "search_many_batch": q_search_many_batch,
        "docs_minhash_lsh": q_docs_minhash_lsh,
        "docs_contamination": q_docs_contamination,
        "docs_topk_keywords": q_docs_topk_keywords,
        "docs_composition": q_docs_composition,
        "docs_dedup_clusters": q_docs_dedup_clusters,
        "docs_deduped": q_docs_deduped,
        "docs_hash_sample": q_docs_hash_sample,
        "docs_pack_sequences": q_docs_pack_sequences,
        "docs_ngram_jaccard": q_docs_ngram_jaccard,
        "docs_simhash": q_docs_simhash,
        "docs_simhash_neardup": q_docs_simhash_neardup,
        "docs_langid": q_docs_langid,
        "docs_quality": q_docs_quality,
        "docs_fingerprint": q_docs_fingerprint,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_cosine_batch": q_ann_cosine_batch,
        "emb_neardup_pairs": q_emb_neardup_pairs,
        "emb_dedup_clusters": q_emb_dedup_clusters,
        "bm25_page2": q_bm25_page2,
        "stream_events_rollup": q_stream_events_rollup,
        "ops_metrics": q_ops_metrics,
        "docs_mix_sample": q_docs_mix_sample,
        "conv_turn_stats": q_conv_turn_stats,
        "events_sessionize": q_events_sessionize,
        "events_sessionize_stream": q_events_sessionize_stream,
        "conv_role_sequence": q_conv_role_sequence,
        "conv_assemble_stream": q_conv_assemble_stream,
        "docs_length_profile": q_docs_length_profile,
        "docs_repetition": q_docs_repetition,
        "index_stats": q_index_stats,
        "sql_search": q_sql_search,
    }


# shared by events_sessionize (batch window chain) and
# events_sessionize_stream (Structured Streaming session_window):
# both must reproduce this exact per-session rollup
_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
),
f AS (
  SELECT user_id, event_id, ts_us, value,
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
g AS (
  SELECT user_id, ts_us, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
              AS BIGINT) AS session_id
  FROM f
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def _role_seq_sql(path: str) -> str:
    return f"""
SELECT conv_id, COUNT(*) AS n_turns,
       string_agg(substr(role, 1, 1), '' ORDER BY turn_idx) AS role_seq
FROM read_parquet('{path}') GROUP BY conv_id ORDER BY conv_id
"""


def oracle_sql() -> dict[str, str]:
    path = ensure_transcripts(ORACLE_SF)
    lit = lambda ts: "SELECT unnest([" + _terms_sql(ts) + "]) AS term"  # noqa: E731
    return {
        "bm25_single": _bm25_sql(path, lit(Q_SINGLE)),
        "bm25_multi": _bm25_sql(path, lit(Q_MULTI)),
        "bm25_heavy": _bm25_sql(path, lit(Q_HEAVY)),
        "bm25_filtered": _bm25_sql(
            path, lit(Q_FILTERED), where="WHERE dl.role = 'assistant' AND dl.tool = 'search'"
        ),
        "bm25_synonym": _bm25_sql(path, lit(Q_SYNONYM)),
        # index-time expansion: single-member query over the synonym-
        # expanded tokenization (df/idf include the whole group)
        "bm25_synonym_indexed": _bm25_sql(
            path, lit([S.SYNONYM_GROUPS[0][0]]), synonyms=True
        ),
        "bm25_fuzzy": _bm25_sql(
            path,
            f"SELECT DISTINCT term FROM tok WHERE levenshtein(term, '{FUZZY_SOURCE}') <= 1",
        ),
        "bm25_and": _bm25_sql(
            path, lit(Q_MULTI), having=f"HAVING count(*) = {len(Q_MULTI)}"
        ),
        "bm25_indexed_and": _bm25_sql(
            path, lit(Q_MULTI), having=f"HAVING count(*) = {len(Q_MULTI)}"
        ),
        "search_sorted_recent": f"""{_tok_cte(path)},
m AS (
  SELECT DISTINCT doc_id, ts FROM tok JOIN dl USING (doc_id)
  WHERE term IN ({_terms_sql(Q_FILTERED)})
)
SELECT doc_id, epoch_us(ts) AS ts_us FROM m
ORDER BY ts DESC, doc_id ASC LIMIT 25
""",
        "search_boosted": f"""{_tok_cte(path)},
qt AS (SELECT unnest([{_terms_sql(Q_MULTI)}]) AS term),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2
),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (st.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * {S.K1 + 1.0} / (tf.tf + {S.K1} * ({1.0 - S.B} + {S.B} * dl.dl / st.avgdl)) ) AS score_raw
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), st
  GROUP BY tf.doc_id
),
top50 AS (
  SELECT doc_id, round(score_raw, {S.SCORE_DECIMALS}) AS score
  FROM sc ORDER BY score_raw DESC, doc_id ASC LIMIT 50
),
boosted AS (
  SELECT t.doc_id, t.score,
         ln(CAST(r.turn_idx AS DOUBLE) + 1.0) * 2.0 AS boost_raw
  FROM top50 t
  JOIN (SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
               turn_idx
        FROM read_parquet('{path}')) r USING (doc_id)
)
SELECT doc_id, score, round(boost_raw, {S.SCORE_DECIMALS}) AS boost
FROM boosted ORDER BY score DESC, boost_raw DESC, doc_id ASC LIMIT 10
""",
        "doc_lookup": f"""
SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
       role, tool, text, epoch_us(ts) AS ts_us
FROM read_parquet('{path}')
WHERE conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0')
      IN ({", ".join(repr(i) for i in LOOKUP_IDS)})
ORDER BY doc_id
""",
        # the DocStore's decoded fetch == typed re-derivation from source
        "doc_typed_roundtrip": f"""
SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
       text, CAST(turn_idx AS DOUBLE) AS turn_number,
       (tool <> '') AS has_tool,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts
FROM read_parquet('{path}')
WHERE conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0')
      IN ({", ".join(repr(i) for i in LOOKUP_IDS)})
ORDER BY doc_id
""",
        "term_df_top": f"""{_tok_cte(path)}
SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
ORDER BY df DESC, term ASC LIMIT 50
""",
        "doclen_by_role": f"""{_tok_cte(path)}
SELECT role, count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
FROM dl GROUP BY role ORDER BY role
""",
        "scan_stable_order": f"""
SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
       role, tool, epoch_us(ts) AS ts_us
FROM read_parquet('{path}') ORDER BY doc_id LIMIT 1000
""",
        "filter_range_multiselect": f"""
SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
       tool, epoch_us(ts) AS ts_us
FROM read_parquet('{path}')
WHERE ts BETWEEN TIMESTAMP '2025-01-01 00:30:00' AND TIMESTAMP '2025-01-01 02:00:00'
  AND tool IN ('bash', 'search') AND role = 'assistant'
ORDER BY doc_id
""",
        "docs_exact_dedup": """
SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY text ORDER BY keep_id
""",
        "docs_token_stats": f"""
WITH d AS (
  SELECT doc_id, lang,
         regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+') AS toks
  FROM documents
)
SELECT doc_id, lang, len(toks) AS n_tokens,
       round(CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> x IN ({_stop_sql()}))) AS DOUBLE) / len(toks)
             ELSE 0.0 END, {S.SCORE_DECIMALS}) AS stop_ratio
FROM d
""",
        "ann_cosine_topk": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(emb, qemb)
             / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))),
             {S.SCORE_DECIMALS}) AS cos_sim
FROM e, q WHERE vec_id <> 0
ORDER BY list_dot_product(emb, qemb)
         / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) DESC,
         vec_id ASC
LIMIT 10
""",
        "ann_filtered_topk": f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ql AS (SELECT label AS qlabel FROM embeddings WHERE vec_id = 0),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(emb, qemb)
             / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))),
             {S.SCORE_DECIMALS}) AS cos_sim
FROM e, q, ql WHERE e.label = ql.qlabel AND vec_id <> 0
ORDER BY list_dot_product(emb, qemb)
         / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) DESC,
         vec_id ASC
LIMIT 10
""",
        "ann_cosine_batch": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS qid, emb AS qemb FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in ANN_BATCH_QIDS)})),
scored AS (
  SELECT q.qid, e.vec_id,
         list_dot_product(emb, qemb)
           / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb)))
           AS cos_raw
  FROM e, q WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cos_raw,
         row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, vec_id, round(cos_raw, {S.SCORE_DECIMALS}) AS cos_sim,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY qid, rank
""",
        "bm25_indexed_single": _bm25_sql(path, lit(Q_SINGLE)),
        "bm25_indexed_multi": _bm25_sql(path, lit(Q_MULTI)),
        # the SQL table function serves the same snapshot + query as
        # bm25_indexed_single → identical oracle
        "sql_search": _bm25_sql(path, lit(Q_SINGLE)),
        "search_many_batch": "WITH "
        + ", ".join(
            f"{qid} AS ({_bm25_sql(path, lit(ts))})" for qid, ts in BATCH_QUERIES.items()
        )
        + "\n"
        + "SELECT * FROM (\n"
        + "\nUNION ALL\n".join(
            f"SELECT '{qid}' AS qid, doc_id, score FROM {qid}" for qid in BATCH_QUERIES
        )
        + "\n) ORDER BY qid, score DESC, doc_id",
        # the stream demo compacts to a plain parquet corpus; BM25 over it
        # must equal the streamed+compacted index's answer exactly
        "stream_upsert_search": _bm25_sql(
            os.path.join(stream_demo_root(ORACLE_SF), "docs", "base", "*.parquet"),
            lit(Q_STREAM),
        ),
        "docs_minhash_lsh": _sql_minhash_lsh(),
        "docs_dedup_clusters": _sql_neardup_clusters(),
        "docs_deduped": f"""
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM ({_sql_neardup_clusters()}) c WHERE doc_id <> cluster_id
)
ORDER BY doc_id
""",
        "docs_hash_sample": """
SELECT doc_id, lang, bucket FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT % 100 AS bucket
  FROM documents
)
WHERE bucket < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50 WHEN 'es' THEN 50 WHEN 'de' THEN 50 WHEN 'fr' THEN 50 ELSE 25 END
ORDER BY doc_id
""",
        "docs_pack_sequences": """
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS n_tokens
  FROM documents
),
o AS (
  -- DuckDB windowed SUM widens to HUGEINT; CAST back to BIGINT so the
  -- value hash matches Spark's LONG (same dtype class as doclen_by_role)
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, tok_offset,
       CAST(tok_offset // 512 AS BIGINT) AS first_chunk,
       CAST((tok_offset + greatest(n_tokens, 1) - 1) // 512 AS BIGINT) AS last_chunk
FROM o ORDER BY doc_id
""",
        "docs_ngram_jaccard": _sql_ngram_jaccard(),
        "docs_contamination": _sql_contamination(bench_pct=CONTAM_BENCH_PCT),
        "docs_topk_keywords": f"""{_DOCS_TOKS},
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(idf.df AS DOUBLE)) AS raw
  FROM tf JOIN idf USING (term) CROSS JOIN n
),
r AS (
  SELECT doc_id, term, raw,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rank, term, round(raw, {S.SCORE_DECIMALS}) AS tfidf
FROM r WHERE rnk <= 5 ORDER BY doc_id, rank
""",
        "docs_simhash": _sql_simhash(),
        "docs_simhash_neardup": _sql_simhash_neardup(),
        "docs_langid": _sql_langid(),
        "docs_quality": _sql_quality(),
        "docs_composition": _sql_composition(),
        "docs_fingerprint": _sql_fingerprint(),
        "multimodal_features": _sql_multimodal(),
        # this DuckDB build cannot slice BLOBs — but slicing the hex
        # string is byte-slicing at 2 chars/byte, bit-exact
        "multimodal_resize": """
WITH d AS (SELECT doc_id, substr(hex(encode(text)), 1, 512) AS thumb_hex FROM documents)
SELECT doc_id, thumb_hex,
       (length(thumb_hex) // 2) % 16 + 1 AS w,
       ((length(thumb_hex) // 2) // 16) % 16 + 1 AS h
FROM d ORDER BY doc_id
""",
        "multimodal_frames": """
WITH d AS (SELECT doc_id, hex(encode(text)) AS bh,
                  greatest(octet_length(encode(text)) // 4, 1) AS step
           FROM documents),
f AS (SELECT doc_id, bh, step, unnest([0, 1, 2, 3]) AS frame_idx FROM d)
SELECT doc_id, frame_idx,
       substr(bh, frame_idx * step * 2 + 1, step * 2) AS frame_hex
FROM f ORDER BY doc_id, frame_idx
""",
        "ann_lsh_topk": _sql_ann_lsh_topk(),
        "ann_ivf_topk": _sql_ann_ivf_topk(),
        "emb_neardup_pairs": _sql_emb_neardup(),
        "emb_dedup_clusters": f"""
WITH RECURSIVE pairs AS ({_sql_emb_neardup()}),
sym AS (
  SELECT vec_a, vec_b FROM pairs
  UNION
  SELECT vec_b AS vec_a, vec_a AS vec_b FROM pairs
),
reach(a, b) AS (
  SELECT vec_a, vec_b FROM sym
  UNION
  SELECT r.a, s.vec_b FROM reach r JOIN sym s ON r.b = s.vec_a
),
nodes AS (SELECT DISTINCT vec_a AS vec_id FROM sym)
SELECT n.vec_id, least(n.vec_id, min(r.b)) AS cluster_id
FROM nodes n JOIN reach r ON r.a = n.vec_id
GROUP BY n.vec_id ORDER BY vec_id
""",
        "bm25_page2": _bm25_sql(path, lit(Q_MULTI), limit=10, offset=10),
        # the streaming 1h-window rollup == the batch hour-truncated agg
        "stream_events_rollup": f"""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       count(*) AS n_events, round(sum(value), {S.SCORE_DECIMALS}) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        # the registry's deterministic view after exactly 3 ok calls of
        # the search_index surface (see q_ops_metrics)
        "ops_metrics": """
SELECT * FROM (VALUES
  ('search_duration_seconds_count', 'search_index', CAST(3 AS BIGINT)),
  ('search_requests_total', 'search_index', CAST(3 AS BIGINT))
) AS t(metric, handler, n) ORDER BY metric, handler
""",
        # per-source counts → integer keep thresholds (mod*min DIV cnt)
        # → md5 bucket filter; pure integer math, same as the Spark op
        "docs_mix_sample": """
WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
r AS (SELECT source, (10000 * (SELECT MIN(cnt) FROM c)) // cnt AS thr FROM c),
b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('mix42' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT % 10000 AS bucket
  FROM documents
)
SELECT b.doc_id, b.source, b.bucket
FROM b JOIN r USING (source) WHERE b.bucket < r.thr ORDER BY doc_id
""",
        "conv_turn_stats": f"""
WITH t AS (
  SELECT conv_id, role, tool,
         len(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+')) AS n_toks,
         epoch_us(ts) AS ts_us
  FROM read_parquet('{path}')
)
SELECT conv_id,
       COUNT(*) AS n_turns,
       COUNT(DISTINCT role) AS n_roles,
       CAST(SUM(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       MIN(ts_us) AS first_ts_us,
       MAX(ts_us) AS last_ts_us
FROM t GROUP BY conv_id ORDER BY conv_id
""",
        # 30-min-gap sessionization; integer micros + integer cents so
        # the value hash is aggregation-order-proof. The batch op and
        # the Structured Streaming session_window query share ONE
        # oracle — they must be result-identical.
        "events_sessionize": _SESSIONIZE_SQL,
        "events_sessionize_stream": _SESSIONIZE_SQL,
        # batch ordered-aggregate and stateful-streaming twin share one
        # oracle: the order-sensitive per-conversation role signature
        "conv_role_sequence": _role_seq_sql(path),
        "conv_assemble_stream": _role_seq_sql(path),
        # exact k-th order statistics (rank = ceil(p*n)) — integer-exact,
        # engine-portable (no interpolated-percentile float risk)
        "docs_length_profile": """
WITH t AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS n_tokens
  FROM documents
),
r AS (
  SELECT source, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
)
SELECT source,
       MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN n_tokens END) AS p50_tokens,
       MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN n_tokens END) AS p90_tokens,
       MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_tokens END) AS p99_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM r GROUP BY source ORDER BY source
""",
        # duplicate-3-gram repetition filter; ratio derived from the two
        # integer counts (aggregation-order-proof)
        "docs_repetition": f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE [] END AS t3
  FROM t
)
SELECT doc_id, len(t3) AS n_3grams, len(list_distinct(t3)) AS n_distinct,
       round(CASE WHEN len(t3) > 0
                  THEN 1.0 - len(list_distinct(t3))::DOUBLE / len(t3)
                  ELSE 0.0 END, {S.SCORE_DECIMALS}) AS rep_ratio
FROM g ORDER BY doc_id
""",
        # index honesty: built-artifact global stats == raw-corpus
        # recomputation under the pinned analysis semantics
        "index_stats": f"""{_tok_cte(path)}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM dl) AS n_docs,
       (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sum_dl,
       (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tok) AS n_terms
""",
    }
