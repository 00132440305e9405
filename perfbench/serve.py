"""``serve``: the user-facing read path.

One client sends seeded AdvancedSearch requests in a closed loop (the
next request leaves when the previous result is collected) against a
warm snapshot opened once with ``open_index``. The mix (inputs.SERVE_MIX)
covers single, multi-term, heavy, fuzzy, synonym, filtered, sorted,
page-2 and SQL ``search(...)`` requests.

Checks, after the timed window: every request must succeed, and for a
seeded request of each of ``N_CHECKED_CLASSES`` seeded classes the
served result must equal ``query.bm25.search_direct`` over the same
corpus (doc ids, scores and rank order; for sorted requests, doc ids and
sort keys).
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from searchengine_spark import api, sql
from searchengine_spark.index import build, catalog, engine

from . import inputs
from .harness import snapshot_bytes
from .stats import summary

# direct-path rows fetched past the served page, so a tie cut by k can be
# matched against every document that shares the cut score
TIE_MARGIN = 10
# request classes checked per run (seeded; ten seeds cover the mix)
N_CHECKED_CLASSES = 2


class Serve:
    name = "serve"
    sf = inputs.SF

    def __init__(self, run, seed: int, tracer) -> None:
        self.run, self.seed, self.tracer = run, seed, tracer
        self.spark = run.spark
        # (request, result rows or None if it failed, traced, seconds)
        self.requests: list[tuple[dict, list | None, bool, float]] = []
        self.elapsed = 0.0
        self.checked = 0
        self.windows: list[tuple[float, float]] = []  # untraced requests' (start, end) wall ms

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        """Corpus, index build, open and pin; the set-up also pays the
        JVM's and Python workers' warm-up."""
        t0 = time.perf_counter()
        table = inputs.make_corpus(self.seed)
        path = self.run.path("corpus.parquet")
        pq.write_table(table, path)
        cat = catalog.IndexCatalog(self.run.path("index"))
        build.build_index(self.spark, self.spark.read.parquet(path), cat)
        ix = engine.open_index(self.spark, cat)
        ix.term_dict()
        ix.doc_names()
        sql.register_search_sql(self.spark, cat.root)
        self.ix, self.table, self.corpus_path, self.catalog = ix, table, path, cat
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """One request of each class, from a stream the window never
        uses, then a fresh handle on the same snapshot, so the window
        runs warm plans against cold serving caches."""
        warm, seen = inputs.serve_stream(self.seed, stream=1), set()
        while len(seen) < len(inputs.SERVE_MIX):
            req = next(warm)
            if req["cls"] not in seen:
                seen.add(req["cls"])
                self._execute(req)
        self.ix = engine.open_index(self.spark, self.catalog)
        self.ix.term_dict()
        self.ix.doc_names()

    # -- timed window -------------------------------------------------------
    def _execute(self, req: dict) -> list:
        if req["cls"] == "sql":
            with self.tracer.span("sql.search"):
                return self.spark.sql(f"SELECT * FROM search('{req['query']}')").collect()
        return api.advanced_search(
            self.ix,
            req["query"],
            filter_request=req["filter"],
            sort_field=req["sort_field"],
            from_=req["from_"],
            synonyms=req["synonyms"],
        ).collect()

    def measure(self, seconds: float, trace: bool) -> None:
        """Closed loop for ``seconds``, then on to the end of the current
        block of the mix, so every run sees whole blocks. A traced run
        measures at least two blocks and traces every second request of
        each class, so traced and untraced latencies share the window
        and every class is traced."""
        stream = inputs.serve_stream(self.seed)
        block = sum(inputs.SERVE_MIX.values())
        seen: dict[str, int] = {}  # requests of each class so far
        t_start = time.perf_counter()
        min_requests = 2 * block if trace else 0
        while (
            time.perf_counter() - t_start < seconds
            or len(self.requests) % block
            or len(self.requests) < min_requests
        ):
            req = next(stream)
            seen[req["cls"]] = seen.get(req["cls"], 0) + 1
            traced = trace and seen[req["cls"]] % 2 == 0
            rows = None
            w0, t0 = time.time() * 1000.0, time.perf_counter()
            with self.tracer.traced(str(len(self.requests)), on=traced), self.tracer.span("serve.request"):
                try:
                    rows = self._execute(req)
                except Exception as e:  # noqa: BLE001 -- a failed request is counted, not fatal
                    print(f"serve request failed: {req}: {e!r}")
            self.requests.append((req, rows, traced, time.perf_counter() - t0))
            if not traced:
                self.windows.append((w0, time.time() * 1000.0))
        self.elapsed = time.perf_counter() - t_start

    # -- checks -------------------------------------------------------------
    def _expected(self, req: dict, t, tok, stats) -> list[tuple]:
        from pyspark.sql import functions as F

        from searchengine_spark.filters import compile_filters
        from searchengine_spark.oracle import query_terms
        from searchengine_spark.query.bm25 import search_direct

        k = inputs.TOP_K
        if req["cls"] == "sql":
            terms = list(dict.fromkeys(query_terms(req["query"])))
        else:
            terms = engine.expand_query(self.ix, req["query"], fuzzy=True, synonyms=req["synonyms"])
        if not terms:
            return []
        pred = compile_filters(req["filter"])
        if req["sort_field"]:
            match = tok.where(F.arrays_overlap("tokens", F.array(*[F.lit(x) for x in terms])))
            if pred is not None:
                match = match.where(pred)
            rows = match.orderBy(F.desc("ts"), F.asc("doc_id")).limit(k).select("doc_id", "ts").collect()
            return [tuple(r) for r in rows]
        rows = search_direct(
            t, terms, k=k + req["from_"] + TIE_MARGIN, doc_predicate=pred, tok=tok, stats=stats
        ).collect()
        return [tuple(r) for r in rows]

    def check(self) -> int:
        """Requests that failed or disagree with the direct path."""
        from searchengine_spark.query.bm25 import corpus_stats, tokenized

        wrong = sum(rows is None for _req, rows, _tr, _s in self.requests)
        t = self.spark.read.parquet(self.corpus_path)
        tok = tokenized(t).cache()
        stats = corpus_stats(tok)
        rng = np.random.default_rng([self.seed, 5])
        by_cls: dict[str, list[int]] = {}
        for i, (req, rows, _tr, _s) in enumerate(self.requests):
            if rows is not None:
                by_cls.setdefault(req["cls"], []).append(i)
        classes = sorted(by_cls)
        for cls in rng.choice(classes, size=min(N_CHECKED_CLASSES, len(classes)), replace=False):
            req, rows, _tr, _s = self.requests[int(rng.choice(by_cls[cls]))]
            got = [(r["doc_id"], r[-1]) for r in rows]  # (doc_id, score or sort key)
            if not _same_ranking(got, self._expected(req, t, tok, stats), req["from_"]):
                print(f"serve check failed: {req}")
                wrong += 1
            self.checked += 1
        tok.unpersist()
        return wrong

    # -- results ------------------------------------------------------------
    def e2e(self) -> dict[str, float]:
        text_bytes = pc.sum(pc.binary_length(self.table["text"])).as_py()
        return {
            "throughput_per_s": len(self.requests) / self.elapsed,
            "index_bytes_per_input_byte": snapshot_bytes(self.catalog.current()) / text_bytes,
        }

    @property
    def attempted(self) -> int:
        return len(self.requests)

    def manifests(self) -> list[dict]:
        """Manifest of the set-up build."""
        return [self.ix.snapshot.manifest]

    def workload_metrics(self, detail: dict) -> dict:
        q = detail["query_ms"]
        tails = [k for k in q if k.startswith("p") and k != "p50"]
        tail = max(tails, key=lambda k: int(k[1:]), default=None)
        return {
            "query_p50_ms": {"value": q["p50"], "unit": "ms"},
            # the highest percentile with >= 10 samples beyond it
            "query_tail_ms": {"percentile": tail, "value": q.get(tail), "unit": "ms"},
        }

    def op_latencies(self, traced: bool) -> list[float]:
        return [secs for _req, _rows, tr, secs in self.requests if tr == traced]

    def detail(self) -> dict:
        per_class: dict[str, list[float]] = {}
        for req, _rows, _tr, secs in self.requests:
            per_class.setdefault(req["cls"], []).append(secs * 1000.0)
        return {
            "query_ms": summary([r[3] * 1000.0 for r in self.requests]),
            "query_ms_by_class": {c: summary(v) for c, v in sorted(per_class.items())},
            "requests": len(self.requests),
            "checked_requests": self.checked,
        }


def _same_ranking(got: list[tuple], expected: list[tuple], offset: int, k: int = inputs.TOP_K) -> bool:
    """``got`` is the page of ``k`` results after ``offset`` in
    ``expected``, up to rank order among equal scores: the same score at
    every rank, and each document one of the expected documents with its
    score. The serving and direct paths sum a document's term
    contributions in different orders, so documents whose scores are
    mathematically equal can land in either order."""
    page = expected[offset : offset + k]
    if [s for _d, s in got] != [s for _d, s in page]:
        return False
    by_score: dict = {}
    for d, s in expected:
        by_score.setdefault(s, set()).add(d)
    return len({d for d, _s in got}) == len(got) and all(d in by_score[s] for d, s in got)
