"""Query-path metrics registry (G5, reference metrics.go analogues)
and per-task build lineage from the Spark event log."""

from __future__ import annotations

import pytest

from searchengine_spark.metrics import DEF_BUCKETS, MetricsRegistry, timed


def test_registry_counters_and_histogram():
    reg = MetricsRegistry()
    reg.inc("search_requests_total", handler="h", status="ok")
    reg.observe("search_duration_seconds", 0.3, handler="h")
    reg.observe("search_duration_seconds", 7.0, handler="h")
    snap = reg.snapshot()
    hist = snap["histograms"][("search_duration_seconds", (("handler", "h"),))]
    assert hist["count"] == 2 and abs(hist["sum"] - 7.3) < 1e-9
    le, cum = hist["le"], hist["cumulative"]
    assert le[: len(DEF_BUCKETS)] == list(DEF_BUCKETS) and le[-1] == float("inf")
    # 0.3 lands in le=0.5; 7.0 in le=10; cumulative counts are monotone
    assert cum[le.index(0.5)] == 1 and cum[le.index(10.0)] == 2 and cum[-1] == 2
    assert reg.count_rows() == [
        ("search_duration_seconds_count", "h", 2),
        ("search_requests_total", "h", 1),
    ]


def test_resource_and_explicit_gauges():
    """Gauges mirror the reference's CPU/mem exports
    (metrics.go:45-55): process gauges are sampled at scrape time;
    set_gauge values are last-write-wins; count_rows (the
    deterministic oracle surface) is unaffected by gauges."""
    reg = MetricsRegistry()
    reg.set_gauge("index_live_deltas", 3, index="main")
    reg.set_gauge("index_live_deltas", 5, index="main")
    snap = reg.snapshot()
    g = snap["gauges"]
    assert g[("index_live_deltas", (("index", "main"),))] == 5.0
    assert g[("process_cpu_seconds_total", ())] > 0.0
    assert g[("process_max_resident_memory_bytes", ())] > 1 << 20
    rss = g.get(("process_resident_memory_bytes", ()))
    assert rss is None or rss > 1 << 20
    # scrape-time sampling: CPU advances between snapshots
    acc = 0
    for _ in range(200000):
        acc += 1
    assert (
        reg.snapshot()["gauges"][("process_cpu_seconds_total", ())]
        >= g[("process_cpu_seconds_total", ())]
    )
    assert reg.count_rows() == []  # gauges never leak into the oracle view


def test_timed_decorator_ok_and_error_paths():
    reg_rows = {}
    from searchengine_spark import metrics as M

    M.REGISTRY.reset()

    @timed("MyHandler")
    def ok():
        return 42

    @timed("MyHandler")
    def boom():
        raise ValueError("x")

    assert ok() == 42
    with pytest.raises(ValueError):
        boom()
    reg_rows = dict(((m, h), n) for m, h, n in M.REGISTRY.count_rows())
    assert reg_rows[("search_requests_total", "MyHandler")] == 2  # ok + error
    assert reg_rows[("search_errors_total", "MyHandler")] == 1
    assert reg_rows[("search_duration_seconds_count", "MyHandler")] == 1  # ok only


def test_build_manifest_has_per_task_lineage(spark, transcripts, tmp_path_factory):
    """north_star: 'lineage and metrics … recorded per task' — the
    published manifest carries event-log-derived per-task rows for
    every big build stage, incl. the thread-overlapped docmap."""
    from searchengine_spark.index.build import build_index
    from searchengine_spark.index.catalog import IndexCatalog

    cat = IndexCatalog(str(tmp_path_factory.mktemp("index_tasks") / "t"))
    snap = build_index(spark, transcripts, cat, n_buckets=8)
    tm = snap.manifest.get("task_metrics", {})
    if not tm:
        pytest.skip("event log disabled in this session")
    for stage in ("docmap_raw", "docmap", "tf", "postings-0", "terms"):
        assert stage in tm, f"missing per-task rows for stage {stage}"
        agg = tm[stage]
        assert agg["n_tasks"] >= 1 and len(agg["tasks"]) >= 1
        row = agg["tasks"][0]
        for field in ("task_id", "stage_id", "duration_ms", "records_read",
                      "shuffle_read_bytes", "shuffle_write_bytes", "bytes_written"):
            assert field in row
        assert agg["task_skew"] >= 1.0
    # the write stages actually wrote bytes
    assert tm["docmap_raw"]["bytes_written"] > 0
    assert tm["postings-0"]["bytes_written"] > 0


def test_build_lineage_parse_starts_no_flush_job(spark, transcripts, tmp_path):
    """The lineage parse waits for the listener bus to drain (the event
    logger flushes on every JobEnd) instead of running a tagged flush
    job, and still finds every stage's tasks — the last one's too."""
    from searchengine_spark.index.build import build_index
    from searchengine_spark.index.catalog import IndexCatalog

    snap = build_index(spark, transcripts, IndexCatalog(str(tmp_path / "t")))
    assert spark.sparkContext.statusTracker().getJobIdsForGroup("seng:_flush") == []
    tm = snap.manifest["task_metrics"]
    if not tm:
        pytest.skip("event log disabled in this session")
    for stage in ("docmap_raw", "docmap", "postings-0", "terms"):
        assert tm[stage]["n_tasks"] > 0, stage
