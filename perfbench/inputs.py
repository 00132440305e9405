"""Seeded workload inputs: the transcripts corpus, the serve request
stream, the ingest micro-batches, and the documents, embeddings, events
and query batches of the offline workload's batch operations.

Everything here is pure numpy/pyarrow, with no Spark and no clock, so
the same seed always yields byte-identical inputs (pinned by
``perfbench/tests/test_perfbench.py``). The program under test only
ever sees what these functions return.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from searchengine_spark import corpus
from searchengine_spark import semantics as S

# 20 k turns: big enough that every serving and ingest stage runs its
# real plan, small enough that two set-ups and a measured window fit
# in one run on a 4-core box
SF = 0.01
# the offline workload's corpus: 10 k turns, so a pass of twelve batch
# operations and a CDC cycle fit in one run
OFFLINE_SF = 0.005
# the offline pass's conversation assembly replays a 2 000-turn corpus
ASSEMBLY_SF = 0.001
TOP_K = S.TOP_K

_STOP = set(S.STOPWORDS)
# query vocabulary in corpus frequency order (the corpus draws terms Zipf
# over VOCAB ranks), stopwords removed because the analyzer drops them
QUERY_VOCAB = [w for w in corpus.VOCAB if w not in _STOP and w not in corpus._TYPOS]
HEAVY_TERMS = QUERY_VOCAB[:12]
SYNONYM_TERMS = [t for g in S.SYNONYM_GROUPS for t in g]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["bash", "search", "browser"]

# one block of 20 serve requests holds each class in its share of the
# mix; blocks are shuffled per seed, so every run sees the same mix
SERVE_MIX = {
    "single": 5,
    "multi": 4,
    "heavy": 2,
    "fuzzy": 2,
    "synonym": 1,
    "filtered": 3,
    "sort": 1,
    "page2": 1,
    "sql": 1,
}
# 3x the engine's 8-entry filter-set cache, so filtered requests both
# hit and miss it
FILTER_POOL_SIZE = 24

INGEST_BATCH_MESSAGES = 500
INGEST_MARKED_DOCS = 3

# the batch operations' tables, sized like the sf0.01 test tables
N_DOCUMENTS = 500
N_VECTORS = 500
EMB_DIM = 64
N_LABELS = 10
N_EVENTS = 10_000
N_USERS = 150
LANGS = {"en": 0.44, "zh": 0.15, "es": 0.15, "de": 0.14, "fr": 0.12}
N_SOURCES = 20
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
# share of documents that copy an earlier one with one token replaced,
# so near-duplicate detection has pairs to find
NEAR_DUP_SHARE = 0.08
BATCH_QUERIES = 50


def _zipf_words(rng: np.random.Generator, vocab: list[str], n: int, a: float) -> list[str]:
    ranks = rng.zipf(a, size=4 * n + 16)
    ranks = ranks[ranks <= len(vocab)][:n]
    while len(ranks) < n:  # the truncated tail is rare; top up
        extra = rng.zipf(a, size=n)
        ranks = np.concatenate([ranks, extra[extra <= len(vocab)]])[:n]
    return [vocab[r - 1] for r in ranks]


def _text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(_zipf_words(rng, corpus.VOCAB, n_tokens, 1.15))


def make_corpus(seed: int, sf: float = SF) -> pa.Table:
    """A transcripts table with ``corpus.SCHEMA`` and the statistics of
    ``corpus.generate`` (Zipf conversation lengths and terms, planted
    typos and synonym tokens), drawn from ``seed``."""
    rng = np.random.default_rng([seed, 0])
    n = corpus.n_turns_for_sf(sf)
    lens: list[int] = []
    total = 0
    while total < n:
        lens.append(int(min(40, rng.zipf(1.6))))
        total += lens[-1]
    lens[-1] -= total - n
    conv_num = np.repeat(np.arange(len(lens)), lens)
    turn_idx = np.concatenate([np.arange(ln) for ln in lens]).astype(np.int32)
    role = np.where(turn_idx % 2 == 0, "user", "assistant")
    draw = rng.random(n)
    role = np.where((turn_idx == 0) & (draw < 0.2), "system", role)
    role = np.where((role == "assistant") & (draw < 0.12), "tool", role)
    tool = np.where(
        (role == "tool") | ((role == "assistant") & (rng.random(n) < 0.25)),
        rng.choice(TOOLS, size=n),
        "",
    )
    n_tok = np.clip(np.round(np.exp(rng.normal(2.6, 0.6, size=n))), 4, 60).astype(int)
    words = _zipf_words(rng, corpus.VOCAB, int(n_tok.sum()), 1.15)
    offs = np.concatenate([[0], np.cumsum(n_tok)])
    texts = [" ".join(words[offs[i] : offs[i + 1]]) for i in range(n)]
    ts = corpus.BASE_EPOCH_US + conv_num * 97_000_000 + turn_idx.astype(np.int64) * 13_000_000
    return pa.Table.from_arrays(
        [
            pa.array(np.char.add("c", np.char.zfill(conv_num.astype(str), 7))),
            pa.array(turn_idx, type=pa.int32()),
            pa.array(role),
            pa.array(texts),
            pa.array(tool),
            pa.array(ts, type=pa.timestamp("us")),
        ],
        schema=corpus.SCHEMA,
    )


def doc_ids(table: pa.Table) -> list[str]:
    return [f"{c}:{t:04d}" for c, t in zip(table["conv_id"].to_pylist(), table["turn_idx"].to_pylist())]


def filter_pool(seed: int) -> list[dict]:
    """24 distinct FilterRequests: the first 12 are every role x tool
    one-select pair, the last 12 role categories AND-ed with a seeded
    timestamp range."""
    rng = np.random.default_rng([seed, 1])
    pool: list[dict] = [
        {"category": r, "one-select": [{"name": "tool", "value": t}]} for r in ROLES for t in TOOLS
    ]
    # an sf0.01 corpus spans ~280 k s (conversations start 97 s apart)
    base_s = corpus.BASE_EPOCH_US // 1_000_000
    fmt = "%Y-%m-%dT%H:%M:%SZ"
    while len(pool) < FILTER_POOL_SIZE:
        lo = base_s + int(rng.integers(0, 250_000))
        hi = lo + int(rng.integers(20_000, 80_000))
        rng_f = {
            "name": "ts",
            "type": "timestamp",
            "from_value": np.datetime64(lo, "s").astype(object).strftime(fmt),
            "to_value": np.datetime64(hi, "s").astype(object).strftime(fmt),
        }
        pool.append({"category": ROLES[len(pool) % 3], "range": [rng_f]})
    return pool


def _typo(rng: np.random.Generator, word: str) -> str:
    """One edit away from ``word`` (drop or replace one letter)."""
    i = int(rng.integers(0, len(word)))
    if rng.random() < 0.5 and len(word) > 3:
        return word[:i] + word[i + 1 :]
    return word[:i] + ("x" if word[i] != "x" else "q") + word[i + 1 :]


def serve_stream(seed: int, stream: int = 0):
    """The seeded serve request stream (endless). Each request is a dict
    with ``cls``, ``query`` and the AdvancedSearch options; ``stream``
    picks an independent stream for the same seed (warm-up uses 1)."""
    rng = np.random.default_rng([seed, 2, stream])
    pool = filter_pool(seed)
    half = len(pool) // 2
    block = [c for c, m in SERVE_MIX.items() for _ in range(m)]
    n_filtered = 0
    while True:
        for cls in rng.permutation(block):
            cls = str(cls)
            terms = _zipf_words(rng, QUERY_VOCAB, int(rng.integers(1, 4)), 1.1)
            req: dict = {"cls": cls, "filter": None, "sort_field": None, "from_": 0, "synonyms": False}
            if cls == "single":
                terms = terms[:1]
            elif cls == "multi":
                terms = _zipf_words(rng, QUERY_VOCAB, int(rng.integers(2, 5)), 1.1)
            elif cls == "heavy":
                terms = [str(t) for t in rng.choice(HEAVY_TERMS, size=3, replace=False)]
            elif cls == "fuzzy":
                terms = [_typo(rng, terms[0])]
            elif cls == "synonym":
                terms = [str(rng.choice(SYNONYM_TERMS))]
                req["synonyms"] = True
            elif cls == "filtered":
                # alternate the two filter kinds, whose costs differ, so
                # every run gets the same kind mix
                kind = n_filtered % 2
                req["filter"] = pool[kind * half + int(rng.integers(0, half))]
                n_filtered += 1
            elif cls == "sort":
                req["sort_field"] = "ts"
            elif cls == "page2":
                req["from_"] = TOP_K
            req["query"] = " ".join(terms)
            yield req


def ingest_batch(seed: int, index: int, base_ids: list[str]) -> dict:
    """Micro-batch ``index`` of the seeded CDC stream: 85 % edits of
    existing turns, 10 % new turns, 5 % deletes, as messages in
    ``streaming.ingest.message_schema()`` order. A marker token unique to
    the batch is planted in a few of its upserts; ``marked`` lists
    their doc ids, which a search for ``marker`` must return exactly."""
    from datetime import datetime, timedelta

    rng = np.random.default_rng([seed, 3, index])
    n = INGEST_BATCH_MESSAGES
    n_new, n_del = n // 10, n // 20
    picks = rng.choice(len(base_ids), size=n - n_new, replace=False)
    base_ts = datetime(2025, 6, 1) + timedelta(hours=index)
    kinds = ["edit"] * (n - n_new - n_del) + ["delete"] * n_del
    msgs: list[tuple] = []
    for kind, p in zip(kinds, picks):
        conv, turn = base_ids[p].split(":")
        msgs.append((conv, int(turn), kind == "delete"))
    for j in range(n_new):
        msgs.append((f"n{seed % 100000:05d}b{index:04d}", j, False))
    order = rng.permutation(len(msgs))
    msgs = [msgs[i] for i in order]
    upserts = [i for i, m in enumerate(msgs) if not m[2]]
    marked_at = set(int(i) for i in rng.choice(upserts, size=INGEST_MARKED_DOCS, replace=False))
    marker = f"zmark{seed}x{index}"
    rows: list[tuple] = []
    marked: list[str] = []
    for j, (conv, turn, delete) in enumerate(msgs):
        doc_id = f"{conv}:{turn:04d}"
        doc = None
        if not delete:
            text = _text(rng, int(rng.integers(5, 30)))
            if j in marked_at:
                text += " " + marker
                marked.append(doc_id)
            role = ROLES[int(rng.integers(0, 2))]
            doc = (conv, turn, role, text, "", base_ts + timedelta(seconds=j))
        rows.append((index * n + j, doc_id, delete, doc))
    return {"rows": rows, "marker": marker, "marked": sorted(marked)}


def live_query(seed: int, index: int) -> list[str]:
    """Seeded 1-3 term OR query for the live-search checks."""
    rng = np.random.default_rng([seed, 4, index])
    return list(dict.fromkeys(_zipf_words(rng, QUERY_VOCAB, int(rng.integers(1, 4)), 1.1)))


def make_documents(seed: int) -> pa.Table:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) with
    the test tables' schema; ``NEAR_DUP_SHARE`` of the documents are
    near-copies of an earlier one."""
    rng = np.random.default_rng([seed, 6])
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = QUERY_VOCAB[int(rng.integers(0, len(QUERY_VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 80))))
    langs = rng.choice(list(LANGS), size=N_DOCUMENTS, p=list(LANGS.values()))
    sources = [f"src{i % N_SOURCES}" for i in rng.permutation(N_DOCUMENTS)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_embeddings(seed: int) -> pa.Table:
    """An ``embeddings`` table (vec_id, embedding float[EMB_DIM], label):
    noisy points around one centre per label."""
    rng = np.random.default_rng([seed, 7])
    labels = rng.integers(0, N_LABELS, size=N_VECTORS)
    centres = rng.normal(size=(N_LABELS, EMB_DIM))
    emb = (0.6 * centres[labels] + rng.normal(size=(N_VECTORS, EMB_DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_events(seed: int) -> pa.Table:
    """An ``events`` table (event_id, ts, user_id, event_type, value,
    props) over 30 days, in event_id = time order."""
    rng = np.random.default_rng([seed, 8])
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=N_EVENTS)) + 1_704_067_200_000_000  # 2024-01-01
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=N_EVENTS), pa.string()),
            "value": pa.array(rng.integers(1, 49_002, size=N_EVENTS) / 100.0, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)], pa.string()),
        }
    )


def query_batch(seed: int, index: int) -> dict[str, list[str]]:
    """Batch ``index`` of ``BATCH_QUERIES`` seeded 1-4 term OR queries,
    keyed by qid, terms drawn Zipf over the query vocabulary."""
    rng = np.random.default_rng([seed, 9, index])
    return {
        f"q{index:03d}-{j:03d}": list(dict.fromkeys(_zipf_words(rng, QUERY_VOCAB, int(rng.integers(1, 5)), 1.1)))
        for j in range(BATCH_QUERIES)
    }
