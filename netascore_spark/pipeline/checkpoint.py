"""Per-stage versioned snapshot checkpointing with lineage metrics.

Re-realizes the reference's resume mechanism — ``on_existing ∈ {skip,
delete, abort}`` artifact gating (toolbox/dbhelper.py:270-289) and the
``--skip`` stage flags (generate_index.py:20-21) — as snapshot-on-parquet
with Iceberg-style semantics (this container has no Iceberg runtime, so the
layout below is the bundled backend; it maps 1:1 onto an Iceberg table when
a catalog is configured):

- every materialization writes a NEW immutable version directory
  ``<base>/<name>/v<NNN>/`` (never in-place overwrite: readers of an older
  snapshot are never disturbed — snapshot isolation);
- a manifest ``<base>/_lineage/<name>.versions.json`` lists all snapshots
  (version, commit epoch, rows, schema, upstream lineage) and the current
  pointer — the Iceberg metadata-file analog;
- :meth:`read` accepts ``version=`` or ``as_of=`` (epoch seconds) — time
  travel;
- :meth:`expire_snapshots` prunes old version dirs (Iceberg
  ``expireSnapshots``).

Each manifest entry also records per-partition row counts (skew evidence —
the north rule's "per-partition lineage + row-count metrics") and wall-clock
duration.  The counts are per written file, read from the parquet footers
of the version dir just written (one file per non-empty write task; an
empty frame writes one 0-row file), so a commit is the write job and
nothing else.  ``on_existing=skip`` (default) makes re-runs read the
current snapshot instead of recomputing — resume-from-checkpoint
mid-pipeline; ``delete`` appends a new version (old ones stay
time-travelable).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class Checkpointer:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        on_existing: str = "skip",  # skip | delete | abort
        catalog: str | None = "auto",
    ):
        """``catalog``: Iceberg catalog selection is CONFIG-ONLY — "auto"
        (default) uses the first ``spark.sql.catalog.<name>`` whose class is
        an Iceberg catalog (none -> the parquet+manifest emulation);
        an explicit name pins that catalog; ``None``/"" forces parquet.
        Users with a real Iceberg catalog get Iceberg tables without any
        code change; this sandbox (no Iceberg runtime) exercises the
        selection logic and the emulation."""
        self.spark = spark
        self.base_dir = base_dir
        self.on_existing = on_existing
        if catalog == "auto":
            catalog = self._detect_catalog()
        self.catalog = catalog or None
        os.makedirs(os.path.join(base_dir, "_lineage"), exist_ok=True)

    @property
    def backend(self) -> str:
        return "iceberg" if self.catalog else "parquet"

    def _detect_catalog(self) -> str | None:
        """First ``spark.sql.catalog.<name>`` (sorted) whose configured class
        names Iceberg, else None — pure config inspection, no Iceberg
        classes touched.  Other catalogs (Delta's ``spark_catalog``, JDBC)
        cannot hold these snapshots."""
        try:
            rows = self.spark.sql("SET").collect()
        except Exception:  # pragma: no cover - defensive
            return None
        names = []
        for r in rows:
            name = r["key"].removeprefix("spark.sql.catalog.")
            if name != r["key"] and "." not in name and "iceberg" in r["value"].lower():
                names.append(name)
        return min(names, default=None)

    def _iceberg_table(self, name: str) -> str:
        return f"{self.catalog}.netascore.{name}"

    # -- paths -------------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _version_dir(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"v{version:03d}")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.base_dir, "_lineage", f"{name}.versions.json")

    # -- manifest ----------------------------------------------------------

    def _manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _write_manifest(self, name: str, manifest: dict) -> None:
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, self._manifest_path(name))  # atomic pointer swap

    def snapshots(self, name: str) -> list[dict]:
        """All committed snapshots, oldest first (Iceberg .snapshots)."""
        m = self._manifest(name)
        return list(m["snapshots"]) if m else []

    # -- existence / resolve ----------------------------------------------

    def exists(self, name: str) -> bool:
        if self.backend == "iceberg":
            try:
                return self.spark.catalog.tableExists(self._iceberg_table(name))
            except Exception:
                return False
        m = self._manifest(name)
        if m is None:
            return False
        cur = self._version_dir(name, m["current"])
        return os.path.exists(os.path.join(cur, "_SUCCESS"))

    def _resolve(self, name: str, version: int | None, as_of: float | None) -> str:
        m = self._manifest(name)
        if m is None:
            raise RuntimeError(
                f"checkpoint '{name}' not found under {self.base_dir}; "
                "cannot skip a stage whose snapshot was never materialized"
            )
        if version is None and as_of is not None:
            eligible = [s for s in m["snapshots"] if s["committed_at_epoch"] <= as_of]
            if not eligible:
                raise RuntimeError(
                    f"no snapshot of '{name}' committed at or before {as_of}"
                )
            version = eligible[-1]["version"]
        if version is None:
            version = m["current"]
        if not any(s["version"] == version for s in m["snapshots"]):
            raise RuntimeError(f"snapshot v{version} of '{name}' does not exist")
        return self._version_dir(name, version)

    # -- write / read ------------------------------------------------------

    def materialize(
        self,
        df: DataFrame,
        name: str,
        upstream: list[str] | None = None,
    ) -> DataFrame:
        """Commit a snapshot for ``name`` and return a reader.

        ``on_existing=skip``: reuse the current snapshot.  ``delete``:
        commit a NEW version (old versions stay readable via time travel).
        ``abort``: refuse if any version exists."""
        if self.exists(name):
            if self.on_existing == "skip":
                return self.read(name)
            if self.on_existing == "abort":
                raise RuntimeError(
                    f"output '{name}' exists and on_existing=abort "
                    "(dbhelper.py:270-289 semantics)"
                )
            # delete: fall through and commit the next version

        if self.backend == "iceberg":
            try:
                return self._materialize_iceberg(df, name)
            except Exception as exc:
                import warnings

                warnings.warn(
                    f"iceberg catalog '{self.catalog}' unusable ({exc}); "
                    "falling back to the parquet snapshot emulation"
                )
                self.catalog = None

        m = self._manifest(name) or {"current": 0, "snapshots": []}
        version = max((s["version"] for s in m["snapshots"]), default=0) + 1

        t0 = time.time()
        path = self._version_dir(name, version)
        df.write.mode("overwrite").parquet(path)
        # the schema is the frame's own, so the reader needs no inference job
        out = self.spark.read.schema(df.schema).parquet(path)

        part_counts = [
            pq.read_metadata(f).num_rows
            for f in sorted(glob.glob(os.path.join(path, "*.parquet")))
        ]
        rows = sum(part_counts)
        meta = {
            "name": name,
            "version": version,
            "rows": rows,
            "partitions": len(part_counts),
            "partition_rows": part_counts,
            "max_partition_skew": (
                max(part_counts) * len(part_counts) / rows if rows else None
            ),
            "schema": out.schema.simpleString(),
            "upstream": upstream or [],
            "duration_sec": round(time.time() - t0, 3),
            "written_at_epoch": int(t0),
            "committed_at_epoch": time.time(),
        }
        m["snapshots"].append(meta)
        m["current"] = version
        self._write_manifest(name, m)
        return out

    def _materialize_iceberg(self, df: DataFrame, name: str) -> DataFrame:
        """Real Iceberg commit: createOrReplace = a new snapshot; Iceberg's
        own metadata supplies the versioning/time-travel the parquet
        emulation reimplements."""
        tbl = self._iceberg_table(name)
        df.writeTo(tbl).using("iceberg").createOrReplace()
        return self.spark.table(tbl)

    def read(
        self, name: str, version: int | None = None, as_of: float | None = None
    ) -> DataFrame:
        """Reader for a snapshot: current (default), a specific ``version``,
        or the latest committed at-or-before ``as_of`` epoch seconds."""
        if self.backend == "iceberg":
            tbl = self._iceberg_table(name)
            if version is not None:
                return self.spark.sql(f"SELECT * FROM {tbl} VERSION AS OF {version}")
            if as_of is not None:
                return self.spark.sql(
                    f"SELECT * FROM {tbl} FOR SYSTEM_TIME AS OF "
                    f"to_timestamp({as_of})"
                )
            return self.spark.table(tbl)
        return self.spark.read.parquet(self._resolve(name, version, as_of))

    def expire_snapshots(self, name: str, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` versions; returns dropped
        version numbers (Iceberg expireSnapshots semantics — the current
        pointer is never dropped)."""
        m = self._manifest(name)
        if m is None:
            return []
        snaps = sorted(m["snapshots"], key=lambda s: s["version"])
        keep = {s["version"] for s in snaps[-max(keep_last, 1):]} | {m["current"]}
        dropped = []
        for s in snaps:
            v = s["version"]
            if v not in keep:
                shutil.rmtree(self._version_dir(name, v), ignore_errors=True)
                dropped.append(v)
        m["snapshots"] = [s for s in snaps if s["version"] not in set(dropped)]
        self._write_manifest(name, m)
        return dropped

    def lineage(self, name: str) -> dict:
        """The manifest entry of the current snapshot."""
        m = self._manifest(name)
        if m is None:
            raise RuntimeError(f"checkpoint '{name}' has no snapshot under {self.base_dir}")
        return next(s for s in m["snapshots"] if s["version"] == m["current"])
