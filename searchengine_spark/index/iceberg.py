"""Iceberg catalog backend: the production home of the index snapshots.

The north rule targets "Iceberg tables of multi-turn transcripts"; the
parquet :class:`.catalog.IndexCatalog` is the sandbox fallback (this
container ships no iceberg-spark-runtime jar and has no network to
fetch one — ``iceberg_available`` probes the classpath). When the jar
IS present, :class:`IcebergIndexCatalog` provides the same contract
(``current / load / history / next_id / staging_dir / publish /
rollback / expire``) over a real Iceberg catalog, so ``build_index``,
``open_index``, ``search_index`` and ``StreamingIndex`` run unchanged
against either backend (tests/test_iceberg.py runs the shared suite
under both, skipping the live half without jars).

Layout per logical index (reference `indexName`):

- ``<catalog>.<ns>.<index>_postings`` — bucket-partitioned Iceberg
  table (partition pruning replaces the parquet dir pruning);
- ``<catalog>.<ns>.<index>_docmap`` / ``..._terms`` — plain tables;
- ``<catalog>.<ns>.<index>_manifests`` — append-only log of
  ``(seq, snap_id, manifest)`` rows. CURRENT is the max-``seq`` row;
  each manifest embeds the **Iceberg snapshot id of every artifact
  table at publish time**, and readers open the artifacts
  ``VERSION AS OF`` those ids. Appends are single atomic Iceberg
  commits, so the manifest row plays the role the parquet backend's
  ``os.replace(CURRENT)`` plays: the three artifact replaces need not
  be mutually atomic — a torn publish is invisible until its manifest
  row lands, and rollback is just appending a row that re-points at an
  older (still time-travelable) pin set. Write-once semantics are
  therefore preserved without retaining N physical table copies.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .catalog import Snapshot

ARTIFACTS = ("postings", "docmap", "terms")

MANIFESTS_DDL = "seq BIGINT, snap_id BIGINT, manifest STRING, published_at TIMESTAMP"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def current_row(rows: list[dict]) -> dict | None:
    """CURRENT = the manifest row with the highest ``seq`` (pure so the
    pointer semantics are unit-testable without a live catalog)."""
    return max(rows, key=lambda r: r["seq"]) if rows else None


def next_ids(rows: list[dict]) -> tuple[int, int]:
    """(next snap_id, next seq) from the manifest log."""
    if not rows:
        return 1, 1
    return max(r["snap_id"] for r in rows) + 1, max(r["seq"] for r in rows) + 1


def expirable_pins(rows: list[dict], victims: set[int]) -> dict[str, list[int]]:
    """Per artifact, the Iceberg snapshot ids pinned ONLY by victim
    manifest rows — the exact set safe to expire. Any id a retained row
    (including a rollback re-pointer) still names survives, no matter
    how deep it sits in table history."""
    pins: dict[str, set[int]] = {}
    kept: dict[str, set[int]] = {}
    for r in rows:
        m = json.loads(r["manifest"]).get("iceberg_snapshots", {})
        dst = pins if r["snap_id"] in victims else kept
        for a, sid in m.items():
            dst.setdefault(a, set()).add(int(sid))
    return {
        a: sorted(ids - kept.get(a, set()))
        for a, ids in pins.items()
        if ids - kept.get(a, set())
    }


class IcebergIndexCatalog:
    """Drop-in :class:`.catalog.IndexCatalog` replacement over Iceberg.

    ``catalog``/``namespace`` name a Spark-session-configured Iceberg
    catalog (e.g. ``spark.sql.catalog.ice = org.apache.iceberg.spark
    .SparkCatalog`` + a warehouse); ``scratch`` is a local staging area
    for in-flight builds (``build_index`` writes parquet stages there,
    ``publish`` promotes them into the Iceberg tables and drops them).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_name: str,
        *,
        catalog: str = "ice",
        namespace: str = "searchengine",
        scratch: str | None = None,
    ):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg Spark runtime not on the classpath; add the "
                "iceberg-spark-runtime jar and configure "
                f"spark.sql.catalog.{catalog}, or use the parquet IndexCatalog"
            )
        self.spark = spark
        self.index = index_name
        self.cat = catalog
        self.ns = namespace
        self.root = scratch or os.path.join("/tmp", "seng-iceberg-stage", index_name)
        os.makedirs(self.root, exist_ok=True)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ident('manifests')} "
            f"({MANIFESTS_DDL}) USING iceberg"
        )

    def ident(self, artifact: str) -> str:
        return f"{self.cat}.{self.ns}.{self.index}_{artifact}"

    # -- manifest log ------------------------------------------------------
    def _rows(self) -> list[dict]:
        return [
            {"seq": int(r["seq"]), "snap_id": int(r["snap_id"]), "manifest": r["manifest"]}
            for r in self.spark.table(self.ident("manifests"))
            .select("seq", "snap_id", "manifest")
            .collect()
        ]

    def _append_row(self, seq: int, snap_id: int, manifest: dict) -> None:
        self.spark.createDataFrame(
            [(seq, snap_id, json.dumps(manifest, sort_keys=True))],
            "seq BIGINT, snap_id BIGINT, manifest STRING",
        ).withColumn("published_at", F.current_timestamp()).writeTo(
            self.ident("manifests")
        ).append()

    def _snapshot(self, snap_id: int, manifest: dict) -> Snapshot:
        pins = manifest.get("iceberg_snapshots", {})
        tables = {
            a: {"table": self.ident(a), "snapshot_id": pins.get(a)} for a in ARTIFACTS
        }
        return Snapshot(snap_id, os.path.join(self.root, f"snap-{snap_id}"), manifest, tables)

    # -- pointer -----------------------------------------------------------
    def current_id(self) -> int | None:
        row = current_row(self._rows())
        return row["snap_id"] if row else None

    def current(self) -> Snapshot | None:
        row = current_row(self._rows())
        if row is None:
            return None
        return self._snapshot(row["snap_id"], json.loads(row["manifest"]))

    def load(self, snap_id: int) -> Snapshot:
        for r in self._rows():
            if r["snap_id"] == snap_id:
                return self._snapshot(snap_id, json.loads(r["manifest"]))
        raise FileNotFoundError(f"snapshot {snap_id} not in {self.ident('manifests')}")

    def history(self) -> list[int]:
        return sorted({r["snap_id"] for r in self._rows()})

    # -- staging / publish -------------------------------------------------
    def next_id(self) -> int:
        return next_ids(self._rows())[0]

    def staging_dir(self, snap_id: int) -> str:
        path = os.path.join(self.root, f"stage-{snap_id}")
        os.makedirs(path, exist_ok=True)
        return path

    def _artifact_snapshot_id(self, artifact: str) -> int:
        """Snapshot id the table's ``main`` branch points at RIGHT NOW
        — read from the ``refs`` metadata table, not inferred from
        ``ORDER BY committed_at`` (millisecond-granular; a rapid second
        commit could win the tiebreak and pin the wrong version)."""
        row = (
            self.spark.sql(
                f"SELECT snapshot_id FROM {self.ident(artifact)}.refs "
                "WHERE name = 'main' AND type = 'BRANCH'"
            ).collect()
        )
        return int(row[0]["snapshot_id"])

    def publish(self, snap_id: int, manifest: dict) -> Snapshot:
        """Promote stage-<id> parquet into the artifact tables (atomic
        ``createOrReplace`` each), then land ONE manifests append that
        pins every table's resulting Iceberg snapshot id — the commit
        point readers switch on. Each staged artifact is read with the
        schema the build recorded in the manifest, which starts no
        footer-inference job."""
        stage = os.path.join(self.root, f"stage-{snap_id}")
        manifest = dict(manifest)
        manifest.setdefault("snap_id", snap_id)
        manifest.setdefault("published_at", time.time())
        pins: dict[str, int] = {}
        for a in ARTIFACTS:
            schema = StructType.fromJson(manifest["schemas"][a])
            df: DataFrame = self.spark.read.schema(schema).parquet(os.path.join(stage, a))
            writer = df.writeTo(self.ident(a)).using("iceberg")
            if a == "postings":
                writer = writer.partitionedBy(F.col("bucket"))
            writer.createOrReplace()
            pins[a] = self._artifact_snapshot_id(a)
        manifest["iceberg_snapshots"] = pins
        _, seq = next_ids(self._rows())
        self._append_row(seq, snap_id, manifest)
        shutil.rmtree(stage, ignore_errors=True)
        return self._snapshot(snap_id, manifest)

    def rollback(self, snap_id: int) -> Snapshot:
        """Re-point CURRENT by appending a manifest row for an older
        snapshot — its artifact pins stay readable via time travel."""
        snap = self.load(snap_id)  # raises if unknown
        _, seq = next_ids(self._rows())
        self._append_row(seq, snap_id, snap.manifest)
        return snap

    def expire(self, keep_last: int = 3) -> list[int]:
        """Expire old snapshot pins: drop manifest rows beyond the
        newest ``keep_last`` snap_ids (never CURRENT), then reclaim
        their data by expiring EXACTLY the Iceberg table snapshots the
        victim rows pinned — minus any still pinned by a retained row.
        (``retain_last`` counts table-history depth, which after a
        rollback is unrelated to which versions the retained manifest
        rows actually name — it could expire the CURRENT pin.)"""
        rows = self._rows()
        cur = self.current_id()
        victims = [s for s in self.history()[:-keep_last] if s != cur]
        if not victims:
            return victims
        expirable = expirable_pins(rows, set(victims))
        # reclaim table snapshots FIRST, drop manifest rows LAST: a
        # crash in between leaves the victim rows in place, so a later
        # expire() recomputes the same expirable set and retries —
        # deleting rows first would orphan their pins forever (the
        # recompute could no longer see what was left to reclaim)
        for a in ARTIFACTS:
            dead = expirable.get(a, [])
            if dead:
                arr = ", ".join(f"{d}L" for d in dead)
                self.spark.sql(
                    f"CALL {self.cat}.system.expire_snapshots("
                    f"table => '{self.ns}.{self.index}_{a}', "
                    f"snapshot_ids => ARRAY({arr}))"
                )
        ids = ", ".join(str(v) for v in victims)
        self.spark.sql(
            f"DELETE FROM {self.ident('manifests')} WHERE snap_id IN ({ids})"
        )
        return victims
