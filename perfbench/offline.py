"""``offline``: CDC writes beside live reads on one streamed index, and
the batch jobs that read its tables.

The set-up bootstraps a ``StreamingIndex`` from the seeded corpus. After
an untimed warm-up micro-batch, the timed window runs whole CDC cycles:
one micro-batch (85 % edits, 10 % new turns, 5 % deletes) through
``apply_batch``, a live ``search`` for the batch's marker token, then
``compact()``. Freshness is the time from the ``apply_batch`` call until
that search has returned the batch's planted documents; the first
cycle's search also reads the warm-up's delta.

A traced run first prepares the batch tables
(:class:`perfbench.ops.Tables`) and runs one pass of the batch
operations (:mod:`perfbench.ops`), each operation's first run in the
session, plan compilation included, as for a batch job started in a
fresh application. The pass takes 20-30 s on a 4-core host, more than
the benchmark's run-time budget leaves for every run, so untraced runs
skip it and its layers are measured by the per-layer metrics only.

Checks: every marker search must return exactly its planted documents;
after the last compaction, live search must equal the contract's BM25
oracle over the compacted corpus up to order among equal scores; in a
traced run, every batch operation must match its oracle
(:func:`perfbench.ops.check`).
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from searchengine_spark.streaming import ingest

from . import inputs, ops
from . import trace as trace_mod
from .harness import snapshot_bytes
from .serve import TIE_MARGIN, _same_ranking
from .stats import summary

# batch index of the warm-up's micro-batch, outside any window's range
WARM_BATCH = 999_999


class Offline:
    name = "offline"
    sf = inputs.OFFLINE_SF

    def __init__(self, run, seed: int, tracer) -> None:
        self.run, self.seed, self.tracer = run, seed, tracer
        self.spark = run.spark
        self.fresh: list[tuple[float, bool, int]] = []  # (seconds, traced, cycle)
        self.live_ms: list[float] = []
        self.compact_s: list[float] = []
        self.cycle_s: list[float] = []
        self.windows: list[tuple[float, float]] = []  # untraced cycles' (start, end) wall ms
        self.pass_s: dict[str, float] = {}
        self.messages = 0
        self.attempted = self.failed = 0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        """Corpus and ``StreamingIndex.bootstrap``; the set-up also pays
        the JVM's and Python workers' warm-up."""
        t0 = time.perf_counter()
        table = inputs.make_corpus(self.seed, self.sf)
        path = self.run.path("corpus.parquet")
        pq.write_table(table, path)
        self.si = ingest.StreamingIndex(self.spark, self.run.path("stream"))
        self.si.bootstrap(self.spark.read.parquet(path))
        self.base_ids = inputs.doc_ids(table)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """One micro-batch and its marker search, so the window runs
        warm plans; its delta stays outstanding until the window's
        compaction. (Compacting here too would steady nothing measured
        and cost ~8 s a run.)"""
        batch = inputs.ingest_batch(self.seed, WARM_BATCH, self.base_ids)
        self.si.apply_batch(self.spark.createDataFrame(batch["rows"], ingest.message_schema()), WARM_BATCH)
        self.si.search([batch["marker"]], k=100).collect()

    # -- timed window -------------------------------------------------------
    def _step(self, index: int) -> bool:
        """Micro-batch ``index`` (= its cycle) and its marker search."""
        batch = inputs.ingest_batch(self.seed, index, self.base_ids)
        df = self.spark.createDataFrame(batch["rows"], ingest.message_schema())
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("ingest.step"):
                self.si.apply_batch(df, index)
                t1 = time.perf_counter()
                rows = self.si.search([batch["marker"]], k=100).collect()
        except Exception as e:  # noqa: BLE001 -- a failed batch is counted, not fatal
            print(f"offline batch {index} failed: {e!r}")
            self.failed += 1
            return False
        t2 = time.perf_counter()
        self.messages += len(batch["rows"])
        self.fresh.append((t2 - t0, self.tracer.active, index))
        self.live_ms.append((t2 - t1) * 1000.0)
        if sorted(r["doc_id"] for r in rows) != batch["marked"]:
            print(f"offline batch {index}: marker search disagrees")
            self.failed += 1
        return True

    def _compact(self, cycle: int) -> bool:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("ingest.compaction"):
                self.si.compact()
        except Exception as e:  # noqa: BLE001
            print(f"offline compaction {cycle} failed: {e!r}")
            self.failed += 1
            return False
        self.compact_s.append(time.perf_counter() - t0)
        return True

    def measure(self, seconds: float, trace: bool) -> None:
        """Whole CDC cycles until ``seconds`` have passed: at least one,
        or, in a traced run, a traced pass of the batch operations and
        three cycles, of which the second is traced."""
        if trace:
            ops.redirect_staging(self.run)
            # a copy of the corpus the current snapshot indexes, which the
            # window's compactions will replace
            corpus = self.run.path("tables-corpus.parquet")
            pq.write_table(pq.read_table(self.si.docs_base), corpus)
            self.tables = ops.Tables(self.spark, self.seed, self.run.path("tables"), corpus, self.si.catalog)
            self.queries = inputs.query_batch(self.seed, 0)
            with self.tracer.traced(trace_mod.OPS_RID):
                self.pass_s, self.results, failed = ops.run_pass(self.spark, self.tables, self.queries, self.tracer)
            self.attempted += len(self.pass_s) + len(failed)
            self.failed += len(failed)
        t_start = time.perf_counter()
        cycle = 0
        while cycle < (3 if trace else 1) or time.perf_counter() - t_start < seconds:
            traced = trace and cycle == 1
            with self.tracer.traced(f"cycle-{cycle}", on=traced):
                w0, t0 = time.time() * 1000.0, time.perf_counter()
                if self._step(cycle) & self._compact(cycle):
                    self.cycle_s.append(time.perf_counter() - t0)
                    if not traced:
                        self.windows.append((w0, time.time() * 1000.0))
            cycle += 1
        self.cycles = cycle

    # -- checks -------------------------------------------------------------
    def check(self) -> int:
        """Failed operations, batch results that differ from their
        oracles, and live search after the last compaction against the
        BM25 oracle over the compacted corpus."""
        import duckdb

        wrong = self.failed
        if self.pass_s:
            wrong += len(ops.check(self.tables, self.results, self.queries, self.seed))
        terms = inputs.live_query(self.seed, 0)
        got = [(r["doc_id"], r["score"]) for r in self.si.search(terms).collect()]
        with duckdb.connect() as con:
            # docs_base == current_docs() after compact
            corpus = os.path.join(self.si.docs_base, "*.parquet")
            expected = ops.bm25_oracle(con, corpus, terms, inputs.TOP_K + TIE_MARGIN)
        if not _same_ranking(got, expected, 0):
            print(f"offline check failed: live search for {terms}")
            wrong += 1
        return wrong

    # -- results ------------------------------------------------------------
    def e2e(self) -> dict[str, float]:
        text = pq.read_table(self.si.docs_base, columns=["text"])["text"]
        text_bytes = pc.sum(pc.binary_length(text)).as_py()
        return {
            "throughput_per_s": self.messages / sum(self.cycle_s),
            "index_bytes_per_input_byte": snapshot_bytes(self.si.catalog.current()) / text_bytes,
        }

    def manifests(self) -> list[dict]:
        """Manifests of the compaction builds (the bootstraps are set-up)."""
        cat = self.si.catalog
        return [cat.load(i).manifest for i in cat.history()[1:]]

    def workload_metrics(self, detail: dict) -> dict:
        sm = self.pass_s.get("search_many")
        # the batch pass runs in traced runs only
        return {
            "freshness_p50_s": {"value": detail["freshness_ms"]["p50"] / 1000.0, "unit": "s"},
            "live_search_p50_ms": {"value": detail["live_search_ms"]["p50"], "unit": "ms"},
            "compact_turns_per_s": {"value": detail["compact_turns_per_s"], "unit": "turns/s"},
            "cycle_p50_s": {"value": detail["cycle_s"]["p50"], "unit": "s"},
            "batch_queries_per_s": {"value": inputs.BATCH_QUERIES / sm if sm else None, "unit": "1/s"},
            "ops_pass_s": {"value": sum(self.pass_s.values()) or None, "unit": "s"},
        }

    def op_latencies(self, traced: bool) -> list[float]:
        """Freshness of the traced or untraced micro-batches after the
        first, whose search also reads the warm-up's delta."""
        return [s for s, tr, cycle in self.fresh if tr == traced and cycle > 0]

    def detail(self) -> dict:
        n_live = self.si.catalog.current().stats["n_docs"]
        return {
            "ops_ms": {name: s * 1000.0 for name, s in self.pass_s.items()},
            "freshness_ms": summary([f[0] * 1000.0 for f in self.fresh]),
            "live_search_ms": summary(self.live_ms),
            "compact_s": summary(self.compact_s),
            "cycle_s": summary(self.cycle_s),
            "compact_turns_per_s": n_live / statistics.median(self.compact_s) if self.compact_s else None,
            "cycles": self.cycles,
            "messages": self.messages,
        }
