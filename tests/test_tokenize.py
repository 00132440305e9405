"""Spark tokenizer ≡ Python oracle tokenizer (semantics A1-A3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from searchengine_spark import oracle
from searchengine_spark.functions.text import doc_id_arrow, doc_id_col, tokens_no_stop

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


def test_doc_id_arrow_equals_spark(spark):
    """The Arrow twin of ``doc_id_col`` gives Spark's value on every
    row: padded turns, a turn of more than 4 digits (which Spark's
    ``lpad`` cuts to 4 characters), a negative turn, and a null on
    either side."""
    rows = [("c", t) for t in (0, 7, 9999, 10000, 123456, -3)] + [(None, 1), ("n", None)]
    df = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT")
    want = [r["doc_id"] for r in df.select(doc_id_col().alias("doc_id")).collect()]
    tbl = df.toArrow()
    got = doc_id_arrow(tbl["conv_id"], tbl["turn_idx"]).to_pylist()
    assert got == want
    assert want[:6] == ["c:0000", "c:0007", "c:9999", "c:1000", "c:1234", "c:00-3"]
    assert want[6:] == [None, None]


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
