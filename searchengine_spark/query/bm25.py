"""BM25 scoring as pure column arithmetic (SURVEY.md §2.5 R1).

The reference's scoring happens inside Bleve's collector; here it is a
declarative DataFrame plan Catalyst can optimize end-to-end:

    transcripts → tokenize (JVM regexp) → explode → tf per (doc, term)
      [filtered to the broadcast query-term list BEFORE the groupBy —
       predicate lands next to the scan, so only query-term tokens
       survive the first shuffle]
    → join doc lengths → BM25 column arithmetic → groupBy(doc) sum
    → orderBy(score desc, doc_id asc).limit(k)   [TakeOrderedAndProject:
       per-partition top-k heap + single tiny merge, no global sort]

This "direct" path (no materialized index) is the M1 slice and stays the
correctness baseline; the index-backed path (query/engine.py) must
produce identical results over the compressed postings table.

Scale notes (100 TB): the `isin(query terms)` filter prunes ~all tokens
map-side; df-per-term and N/avgdl are tiny aggregates (broadcast); the
only large shuffle is groupBy(doc_id, term) over matching tokens, which
AQE coalesces. Heavy-hitter query terms are exactly the salting
candidates handled in the index build (index/build.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import semantics as S
from ..functions.text import doc_id_col, tokens_no_stop


def tokenized(transcripts: DataFrame) -> DataFrame:
    """(doc_id, tokens, dl) + passthrough metadata columns.

    Invariant: a row-wise projection, so exactly one output row per
    input turn, i.e. per doc_id (a turn with no token left keeps its row
    with ``dl`` 0). ``entry_queries.q_term_df_top`` counts document
    frequency as a plain row count over ``array_distinct(tokens)`` and
    relies on it (tests/test_tokenize.py)."""
    return transcripts.select(
        doc_id_col().alias("doc_id"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        tokens_no_stop("text").alias("tokens"),
    ).withColumn("dl", F.size("tokens"))


def corpus_stats(tok: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — exact: avgdl = int-sum(dl)/N so every engine (Spark,
    DuckDB, Python oracle) computes bit-identical float64 avgdl."""
    row = tok.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    ).collect()[0]
    return int(row["n"]), float(row["sdl"]) / float(row["n"])


def term_frequencies(tok: DataFrame, terms: list[str] | None = None) -> DataFrame:
    """(doc_id, dl, term, tf); optionally pre-filtered to `terms` so the
    explode+groupBy only shuffles matching tokens."""
    t = tok.select("doc_id", "dl", F.explode("tokens").alias("term"))
    if terms is not None:
        t = t.where(F.col("term").isin(terms))
    return t.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))


def bm25_score_expr(
    tf: Column, df: Column, dl: Column, n_docs: int, avgdl: float
) -> Column:
    """idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) — float64 throughout."""
    tfd = tf.cast("double")
    dld = dl.cast("double")
    dfd = df.cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
    norm = tfd * F.lit(S.K1 + 1.0) / (tfd + F.lit(S.K1) * (F.lit(1.0 - S.B) + F.lit(S.B) * dld / F.lit(avgdl)))
    return idf * norm


def search_direct(
    transcripts: DataFrame,
    terms: list[str],
    *,
    k: int = S.TOP_K,
    doc_predicate: Column | None = None,
    mode: str = "or",
    tok: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for DISTINCT query `terms` straight off the
    transcripts table. `doc_predicate` is the MUST filter block applied
    to document metadata (reference `internal/search/search.go:133-139`
    — filters constrain candidates, never affect scores). ``mode`` picks
    the boolean combiner: "or" = Bleve should-disjunction (search.go:
    120-124), "and" = SimpleSearch's conjunction (search.go:28-48) —
    the doc must contain every query term (posting intersection J4).

    ``tok``/``stats`` let a caller supply a cached (persisted)
    tokenized corpus + (N, avgdl): repeated direct queries then skip
    the three tokenize scans per call (tokenize is ~half the direct
    query's cost); results are identical by construction."""
    terms = list(dict.fromkeys(terms))
    tok_full = tok if tok is not None else tokenized(transcripts)
    work = tok_full.where(doc_predicate) if doc_predicate is not None else tok_full
    n_docs, avgdl = stats if stats is not None else corpus_stats(tok_full)
    tf = term_frequencies(work, terms)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # df must come from the unfiltered corpus for filter-independent idf
    if doc_predicate is not None:
        df_t = (
            term_frequencies(tok_full, terms)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .withColumn("s", bm25_score_expr(F.col("tf"), F.col("df"), F.col("dl"), n_docs, avgdl))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score_raw"), F.count(F.lit(1)).alias("_nt"))
    )
    if mode == "and":
        # tf has one row per (doc, term) → row count == matched terms
        scored = scored.where(F.col("_nt") == len(terms))
    return (
        scored.orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("score_raw", S.SCORE_DECIMALS).alias("score"))
    )
