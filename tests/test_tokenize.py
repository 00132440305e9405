"""Spark tokenizer ≡ Python oracle tokenizer (semantics A1-A3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from searchengine_spark import oracle
from searchengine_spark.functions.text import doc_id_col, tokens_no_stop

CASES = [
    "Hello, World! The quick brown-fox",
    "ПОИСК по Индексу: кепка/шапка",
    "a the and of to is",  # stopwords only
    "x1 2x  under_score 3.14 v2.0",
    "",
    "   ",
    "serach qurey modle",
]


def test_parity_on_cases(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(CASES)], "i int, text string")
    got = {r["i"]: r["toks"] for r in df.select("i", tokens_no_stop("text").alias("toks")).collect()}
    for i, s in enumerate(CASES):
        assert got[i] == oracle.tokenize(s), (i, s, got[i])


def test_parity_on_corpus_sample(spark, transcripts):
    rows = (
        transcripts.limit(300)
        .select("text", tokens_no_stop("text").alias("toks"))
        .collect()
    )
    for r in rows:
        assert r["toks"] == oracle.tokenize(r["text"])


def test_doc_id_order_matches_tuple_order(spark, transcripts):
    rows = (
        transcripts.select(doc_id_col().alias("doc_id"), "conv_id", "turn_idx")
        .orderBy("doc_id")
        .limit(5000)
        .collect()
    )
    tuples = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert tuples == sorted(tuples)


def test_underscore_and_digits(spark):
    # Java \p{L}\p{N} must match Python [^\W_] exactly: underscore splits
    assert oracle.tokenize("a_b") == ["b"]  # 'a' is a stopword
    assert oracle.tokenize("café Ünïcode") == ["café", "ünïcode"]


def test_tokenized_one_row_per_doc(spark, transcripts):
    """``tokenized()`` keeps exactly one row per input turn, hence per
    doc_id, also for turns with no token left (stopwords only, empty)."""
    from searchengine_spark.query.bm25 import tokenized

    sample = transcripts.orderBy("conv_id", "turn_idx").limit(40)
    odd = spark.createDataFrame(
        [("zodd", i, "user", text, "", r["ts"]) for i, (text, r) in enumerate(
            zip(["a the and", "", "spark spark spark"], sample.limit(3).collect()))],
        sample.select("conv_id", "turn_idx", "role", "text", "tool", "ts").schema,
    )
    docs = sample.select("conv_id", "turn_idx", "role", "text", "tool", "ts").unionByName(odd)
    rows = tokenized(docs).select("doc_id", "dl").collect()
    assert len(rows) == docs.count() == 43
    assert len({r["doc_id"] for r in rows}) == len(rows)
    assert sorted(r["dl"] for r in rows if r["doc_id"].startswith("zodd:")) == [0, 0, 3]
