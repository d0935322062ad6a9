"""O4/O5/O6 — tier storage with snapshot manifests, retention, resume.

BASELINE.json mandates Iceberg tables with snapshot checkpoints.  No
iceberg-spark-runtime jar is available (SURVEY.md §1.1), so
`ParquetManifestStore` emulates the Iceberg surface the engine needs over
plain parquet snapshot dirs + a JSON manifest — snapshot ids,
`VERSION AS OF`-style reads, append / overwrite-range / delete-below
commits, crash-safe manifest swap via temp+rename.  A commit mirrors
Iceberg's delete+append semantics: readers fold the snapshot chain
(appends union in; overwrite/delete ops mask earlier rows) —
O(#snapshots) plan nodes, fine for per-stage checkpoints.

Engine code never touches paths directly — everything goes through the
store.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fischer_spark.schemas import TIER_RETENTION_S


def _atomic_write_json(path: str, obj: Any) -> None:
    """Crash-safe manifest swap (SURVEY.md §7 hard-part 4)."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


@dataclass
class ParquetManifestStore:
    spark: SparkSession
    root: str

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "manifest.json")

    def _manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"snapshots": [], "current": None}

    # -- commits ----------------------------------------------------------

    def _commit(
        self,
        table: str,
        df: DataFrame | None,
        op: str,
        day_col: str | None = None,
        **meta,
    ) -> str:
        snap_id = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
        entry = {"snapshot_id": snap_id, "op": op, **meta}
        if df is not None:
            path = os.path.join(self.root, table, "snapshots", snap_id)
            if day_col is not None:
                # the sandbox analogue of Iceberg hidden partitioning on
                # days(ts): the derived day is a directory key, never a
                # data column (read() strips it), and time-ranged reads
                # prune whole directories before any row is touched
                (
                    df.withColumn("_day", F.to_date(F.col(day_col)))
                    .write.mode("errorifexists")
                    .partitionBy("_day")
                    .parquet(path)
                )
                entry["day_col"] = day_col
            else:
                df.write.mode("errorifexists").parquet(path)
            entry["path"] = path
        m = self._manifest(table)
        entry["parent"] = m["current"]
        m["snapshots"].append(entry)
        m["current"] = snap_id
        _atomic_write_json(self._manifest_path(table), m)
        return snap_id

    def append(self, table: str, df: DataFrame, day_col: str | None = None) -> str:
        """``day_col`` opts the commit into day-partitioned layout —
        right for tier tables read by time range at scale (a year-long
        1m table answers a 2-day query by listing 2 directories)."""
        return self._commit(table, df, "append", day_col=day_col)

    def overwrite_range(
        self,
        table: str,
        df: DataFrame,
        col: str,
        lo: str,
        hi: str,
        day_col: str | None = None,
    ) -> str:
        """Idempotent bucket-range rewrite: rows of `table` with
        col in [lo, hi) are replaced by `df` (the exactly-once unit for
        resume and late-data reprocessing, SURVEY.md §4.2)."""
        return self._commit(
            table, df, "overwrite_range", day_col=day_col, col=col, lo=lo, hi=hi
        )

    def delete_below(self, table: str, col: str, cutoff: str) -> str:
        """Retention: logically drop rows with col < cutoff."""
        return self._commit(table, None, "delete_below", col=col, cutoff=cutoff)

    # -- reads ------------------------------------------------------------

    def read(
        self,
        table: str,
        snapshot_id: str | None = None,
        t_from: str | None = None,
        t_to: str | None = None,
    ) -> DataFrame:
        """Fold the snapshot chain up to `snapshot_id` (default current) —
        the manifest replay of Iceberg's `VERSION AS OF`.

        ``t_from``/``t_to`` (timestamp strings) enable PARTITION PRUNING
        on day-partitioned snapshots: a conservative whole-day bound —
        boundary-day rows outside the exact window survive, callers
        apply their exact row filters as before (the same contract as
        Iceberg partition pruning vs residual predicates).  Unpartitioned
        snapshots in the chain are unaffected."""
        m = self._manifest(table)
        target = snapshot_id or m["current"]
        if target is None:
            raise ValueError(f"table {table!r} has no snapshots")
        chain: list[dict] = []
        for e in m["snapshots"]:
            chain.append(e)
            if e["snapshot_id"] == target:
                break
        else:
            raise ValueError(f"snapshot {target!r} not found in {table!r}")
        def _load(e: dict) -> DataFrame:
            part = self.spark.read.parquet(e["path"])
            if "_day" in part.columns:
                if t_from is not None:
                    part = part.filter(F.col("_day") >= F.to_date(F.lit(t_from)))
                if t_to is not None:
                    # inclusive day bound: t_to may be exclusive mid-day
                    part = part.filter(F.col("_day") <= F.to_date(F.lit(t_to)))
                part = part.drop("_day")
            return part

        df: DataFrame | None = None
        for e in chain:
            if e["op"] == "append":
                part = _load(e)
                df = part if df is None else df.unionByName(part)
            elif e["op"] == "overwrite_range":
                part = _load(e)
                if df is not None:
                    c = F.col(e["col"])
                    df = df.filter(~((c >= F.lit(e["lo"])) & (c < F.lit(e["hi"]))))
                    df = df.unionByName(part)
                else:
                    df = part
            elif e["op"] == "delete_below":
                if df is not None:
                    df = df.filter(F.col(e["col"]) >= F.lit(e["cutoff"]))
            else:  # pragma: no cover
                raise ValueError(f"unknown snapshot op {e['op']!r}")
        assert df is not None
        return df

    def current_snapshot(self, table: str) -> str | None:
        return self._manifest(table)["current"]

    # -- table metadata ----------------------------------------------------

    def set_meta(self, table: str, **kv) -> None:
        """Table-level key/value metadata in the manifest (the analogue of
        Iceberg table properties). Used to persist build parameters a read
        path must agree with — e.g. the histogram tiers' (lo, hi, n_bins),
        which reinterpret stored bin indices if they drift (ADVICE r2)."""
        m = self._manifest(table)
        m.setdefault("meta", {}).update(kv)
        _atomic_write_json(self._manifest_path(table), m)

    def meta(self, table: str) -> dict:
        return self._manifest(table).get("meta", {})

    def snapshots(self, table: str) -> list[dict]:
        return self._manifest(table)["snapshots"]

    # -- retention (O5) ----------------------------------------------------

    def expire_retention(self, table: str, tier: str, now_ts: str, ts_col: str = "bucket_ts") -> str | None:
        """Apply the tier's retention horizon (TIER_RETENTION_S): raw 7d,
        1m 30d, 1h 1y, 1d forever."""
        horizon = TIER_RETENTION_S.get(tier)
        if horizon is None:
            return None
        import datetime as _dt

        now = _dt.datetime.fromisoformat(now_ts)
        cutoff = (now - _dt.timedelta(seconds=horizon)).isoformat(sep=" ")
        return self.delete_below(table, ts_col, cutoff)

    # -- compaction --------------------------------------------------------

    def maybe_compact(self, table: str, max_snapshots: int = 16) -> str | None:
        """Compaction policy hook: fold the chain when it exceeds
        ``max_snapshots`` commits.  The folded read plan is O(#snapshots)
        union/filter nodes — fine for per-stage checkpoints, but a
        long-lived tier table receiving incremental refreshes needs this
        called on a policy, not manually (VERDICT r1).  Returns the new
        snapshot id when compaction ran, else None."""
        if len(self._manifest(table)["snapshots"]) <= max_snapshots:
            return None
        return self.compact(table)

    def compact(self, table: str) -> str:
        """Rewrite the folded view as a single fresh append chain (the
        manifest analogue of Iceberg rewrite_data_files + expire_snapshots).
        The partition spec survives: if any commit in the chain was
        day-partitioned, the compacted snapshot is too.

        The fold covers the chain up to the snapshot that was current when
        compaction started; snapshots committed while it ran are kept, in
        order, after the compacted one."""
        m = self._manifest(table)
        base = m["current"]
        day_col = next(
            (e.get("day_col") for e in reversed(m["snapshots"]) if e.get("day_col")),
            None,
        )
        df = self.read(table, snapshot_id=base).cache()
        df.count()
        snap = f"compact-{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.root, table, "snapshots", snap)
        entry = {"snapshot_id": snap, "op": "append", "path": path, "parent": None}
        if day_col is not None:
            (
                df.withColumn("_day", F.to_date(F.col(day_col)))
                .write.mode("errorifexists")
                .partitionBy("_day")
                .parquet(path)
            )
            entry["day_col"] = day_col
        else:
            df.write.mode("errorifexists").parquet(path)
        m = self._manifest(table)
        ids = [e["snapshot_id"] for e in m["snapshots"]]
        later = m["snapshots"][ids.index(base) + 1 :]
        if later:
            later[0]["parent"] = snap
        m = {
            "snapshots": [entry, *later],
            "current": m["current"] if later else snap,
            # table properties survive compaction (Iceberg semantics)
            "meta": m.get("meta", {}),
        }
        _atomic_write_json(self._manifest_path(table), m)
        df.unpersist()
        return snap
