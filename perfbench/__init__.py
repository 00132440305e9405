"""The repository benchmark (contract in ``BENCHMARK.json``).

Run one workload::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads, each one process, one client thread, closed loop, on
``local[nproc]``:

- ``serve`` (:mod:`perfbench.serve`): seeded AdvancedSearch and SQL
  ``search(...)`` requests against a warm snapshot;
- ``offline`` (:mod:`perfbench.offline`): one pass of batch jobs, one
  per program module the read path leaves out (:mod:`perfbench.ops`),
  then CDC micro-batches, live search and compaction on a
  ``StreamingIndex``.

End-to-end metrics (``--trace 0``) are measured with no tracer
installed. A traced run (``--trace 1``) wraps the program's public
functions (:mod:`perfbench.trace`), traces every second operation, and
reports per-layer self times and Spark counts per operation; the layer
-> end-to-end metric -> workload map is ``trace.LAYERS``.

Tests of the benchmark's own code: ``python -m pytest perfbench/tests``.
"""
