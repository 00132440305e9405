"""Text analysis column expressions — all JVM-side (whole-stage codegen).

The reference's analyzer chain is Bleve `standard` = unicode word
segmentation + lowercase + English stop filter (it never installs a
custom analyzer: `internal/index/index.go:35,45`).  We reproduce it with
built-in Spark SQL functions — `regexp_extract_all` + `filter` — so the
hot tokenize path never leaves the JVM (BASELINE.json input_hint: "no
per-row Python").  The pinned contract lives in
:mod:`searchengine_spark.semantics`; parity with the Python oracle
tokenizer is property-tested in tests/test_tokenize.py.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import semantics as S


def tokenize_col(text: Column | str) -> Column:
    """lowercase → maximal unicode letter/digit runs (keeps stopwords)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(col), F.lit(S.TOKEN_PATTERN_JAVA), F.lit(0))


def tokens_no_stop(text: Column | str) -> Column:
    """Full analyzer chain: tokenize + stopword removal (A1-A3).

    `filter` with `array_contains` on a literal array stays inside
    whole-stage codegen; order and duplicates are preserved (tf needs
    multiplicity — `array_except` would dedup and is wrong here).
    """
    stop = F.lit(list(S.STOPWORDS))
    return F.filter(tokenize_col(text), lambda t: ~F.array_contains(stop, t))


def expand_synonyms_col(tokens: Column) -> Column:
    """Index-time synonym installation (S7): every token belonging to a
    synonym group is replaced by the FULL group in group order —
    mirroring the reference's reindex-with-synonym-source semantics
    (`internal/index/index.go:190-224`), where the synonym source is
    baked into the analyzer at rebuild so group members share postings
    (df/idf shift accordingly). dl counts the expanded tokens.

    Gated behind ``arrays_overlap`` with the (tiny, literal) synonym
    vocabulary so the common no-synonym row keeps its original array
    untouched — the per-token transform only runs on matching rows."""
    all_syn = sorted({t for g in S.SYNONYM_GROUPS for t in g})

    def _expand(t: Column) -> Column:
        expr = F.array(t)
        for group in S.SYNONYM_GROUPS:
            expr = F.when(t.isin(list(group)), F.array(*[F.lit(g) for g in group])).otherwise(expr)
        return expr

    return F.when(
        F.arrays_overlap(tokens, F.lit(all_syn)),
        F.flatten(F.transform(tokens, _expand)),
    ).otherwise(tokens)


def doc_id_col(conv_id: Column | str = "conv_id", turn_idx: Column | str = "turn_idx") -> Column:
    """doc_id = conv_id:%04d(turn_idx) — string order == (conv_id, turn_idx)
    order, the stable-ordering invariant of BASELINE.json input_hint."""
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    t = F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx
    return F.concat(c, F.lit(":"), F.lpad(t.cast("string"), 4, "0"))


def doc_id_arrow(conv_id: pa.Array | pa.ChunkedArray, turn_idx: pa.Array | pa.ChunkedArray):
    """:func:`doc_id_col` over Arrow columns, value for value, null for a
    null ``conv_id`` or ``turn_idx``. Spark's ``lpad`` cuts a longer
    string to 4 characters (``10000`` → ``1000``) and ``utf8_lpad``
    does not, so the padded string is sliced after padding."""
    turn = pc.utf8_slice_codeunits(pc.utf8_lpad(pc.cast(turn_idx, pa.string()), 4, "0"), 0, 4)
    return pc.binary_join_element_wise(conv_id, turn, ":")
