"""Lake catalog seam: Iceberg on a real cluster, LocalSnapshotCatalog here.

The reference has no commit/recovery story at all — a killed Condor job
recomputes everything; its only aid is a double-save hack
(``File_Struct.py:587-593``). Our engine requires atomic, snapshot-based
table commits so a killed run resumes from the last committed snapshot
(north_rule). On a cluster with the ``iceberg-spark-runtime`` jar this is
``spark.sql.catalog.*`` configuration and ``writeTo(...).append()``;
this sandbox has no Iceberg jar and no network (SURVEY §7.0), so
``LocalSnapshotCatalog`` supplies the same semantics over plain parquet:

- each table is a directory of immutable parquet data files plus
  ``metadata/snap-<n>.json`` manifests listing the files visible in that
  snapshot (≈ Iceberg manifest list);
- a commit writes the new data files, writes the next snapshot JSON, and
  atomically renames it onto ``metadata/current.json`` (os.replace) —
  readers see the old or the new snapshot, never a partial write;
- ``overwrite_partitions`` gives Iceberg's dynamic-partition-overwrite:
  the new snapshot drops prior files belonging to the replaced partition
  keys (this is what resume re-commits use);
- ``overwrite`` is a copy-on-write row delete that keeps every kept
  row's partition (this is what retention expiry uses);
- ``expire_snapshots`` prunes history like Iceberg's
  ``expire_snapshots`` procedure.

Engine code only touches the 4-method surface, so swapping in the real
Iceberg catalog is a constructor change, not a rewrite.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # POSIX cross-process advisory lock (this sandbox / any Linux box)
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None


class CommitConflictError(RuntimeError):
    """Another committer changed the target partition since the base
    snapshot was read (Iceberg's snapshot-validation failure for
    concurrent overwrites of the same partition)."""


@dataclass
class LocalSnapshotCatalog:
    warehouse: str

    # ---------------------------------------------------------- helpers
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _meta(self, table: str) -> str:
        return os.path.join(self._tdir(table), "metadata")

    @contextlib.contextmanager
    def _commit_mutex(self, table: str):
        """Cross-PROCESS commit serialization per table: flock on a lock
        file in the table's metadata dir, held across the read-current →
        write-snapshot → swap-pointer critical section. The in-process
        analog is rollup_job's commit_lock; this closes the gap for two
        concurrent *jobs* committing disjoint partitions of one table
        (both land; no lost update). A real deployment gets this from the
        Iceberg catalog's atomic compare-and-swap instead — same
        contract, different primitive. O(manifest) hold time only: data
        files are written OUTSIDE this mutex (write_data_files)."""
        meta = self._meta(table)
        os.makedirs(meta, exist_ok=True)
        with open(os.path.join(meta, "commit.lock"), "a+") as lf:
            if fcntl is not None:
                fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                if fcntl is not None:
                    fcntl.flock(lf, fcntl.LOCK_UN)

    def _current(self, table: str) -> dict | None:
        path = os.path.join(self._meta(table), "current.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _snap_by_id(self, table: str, snapshot_id: int) -> dict:
        with open(
            os.path.join(self._meta(table), f"snap-{snapshot_id:08d}.json")
        ) as f:
            return json.load(f)

    def _commit(self, table: str, files: list[dict], operation: str, parent: dict | None) -> dict:
        meta = self._meta(table)
        os.makedirs(meta, exist_ok=True)
        snap_id = (parent["snapshot_id"] + 1) if parent else 1
        snap = {
            "snapshot_id": snap_id,
            "operation": operation,
            "committed_at_ms": int(time.time() * 1000),
            "files": files,
        }
        snap_path = os.path.join(meta, f"snap-{snap_id:08d}.json")
        tmp = snap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, snap_path)
        cur_tmp = os.path.join(meta, "current.json.tmp")
        with open(cur_tmp, "w") as f:
            json.dump(snap, f)
        os.replace(cur_tmp, os.path.join(meta, "current.json"))  # atomic commit point
        return snap

    def _write_data(
        self,
        table: str,
        df: DataFrame,
        partition_values: dict | None,
        split_by: list[str] = (),
    ) -> list[dict] | dict[tuple, list[dict]]:
        sub = os.path.join(self._tdir(table), "data", uuid.uuid4().hex)
        df.write.mode("overwrite").partitionBy(*split_by).parquet(sub)
        out: dict[tuple, list[dict]] = {}
        for root, _dirs, names in os.walk(sub):
            rel = os.path.relpath(root, sub)
            key = tuple(
                int(v) if v.lstrip("-").isdigit() else v
                for v in (d.split("=", 1)[1] for d in rel.split(os.sep) if "=" in d)
            )
            for n in sorted(names):
                if n.endswith(".parquet"):
                    out.setdefault(key, []).append(
                        {"path": os.path.join(root, n), "partition": partition_values or {}}
                    )
        return out if split_by else out.get((), [])

    # ---------------------------------------------------------- surface
    def append(self, table: str, df: DataFrame, partition_values: dict | None = None) -> int:
        """Append df as new data files; snapshot = parent files + new."""
        new_files = self._write_data(table, df, partition_values)  # lock-free
        return self.append_files(table, new_files)

    def overwrite_partitions(
        self, table: str, df: DataFrame, partition_values: dict
    ) -> int:
        """Dynamic partition overwrite: replace all files whose partition
        metadata matches ``partition_values`` (subset match)."""
        new_files = self._write_data(table, df, partition_values)
        return self.commit_overwrite_partitions(table, new_files, partition_values)

    def write_data_files(
        self,
        table: str,
        df: DataFrame,
        partition_values: dict | None,
        split_by: list[str] = (),
    ) -> list[dict] | dict[tuple, list[dict]]:
        """Phase 1 of a two-phase dynamic-partition overwrite: run ONE
        Spark write job and return the (not-yet-visible) data-file
        manifest entries, each with partition ``partition_values``. Safe
        to run concurrently from many workers — files land under a uuid
        subdir and are invisible until ``commit_overwrite_partitions``
        swaps the snapshot pointer. This is exactly Iceberg's model:
        tasks write data files without coordination; only the metadata
        commit serializes.

        ``split_by`` columns split the same job's output
        ``partitionBy(*split_by)``: the entries come back as
        ``{split values (ints where numeric): entries}``, one key per
        directory, and each slice can be committed on its own — to its
        own partition or even its own table. Split columns are
        directory-encoded (dropped from the data files) and do not enter
        the entries' partition, which the caller sets per slice. A
        manifest lists absolute paths, so a slice committed to another
        table stays where it was written."""
        return self._write_data(table, df, partition_values, split_by)

    def append_files(self, table: str, new_files: list[dict]) -> int:
        """Metadata-only append of pre-written data files (the append
        analog of ``commit_overwrite_partitions``). Used by writers that
        produce their parquet files driver-side without a Spark job —
        e.g. lineage rows, a handful of tuples per commit, written via
        pyarrow — so the serialized commit section stays O(manifest)."""
        with self._commit_mutex(table):
            cur = self._current(table)
            files = (cur["files"] if cur else []) + new_files
            return self._commit(table, files, "append", cur)["snapshot_id"]

    def commit_overwrite_partitions(
        self,
        table: str,
        new_files: list[dict],
        partition_values: dict,
        base_snapshot_id: int | None = None,
    ) -> int:
        """Phase 2: metadata-only snapshot swap under the cross-process
        commit mutex. O(manifest) — no Spark job.

        ``base_snapshot_id`` opts into Iceberg's serializable overwrite
        validation: if another commit changed the files of the TARGET
        partition since that snapshot, raise :class:`CommitConflictError`
        instead of silently clobbering the concurrent writer. Commits to
        disjoint partitions never conflict — both land."""

        def _part_files(snap: dict | None) -> list[str]:
            if snap is None:
                return []
            return sorted(
                f["path"]
                for f in snap["files"]
                if all(f["partition"].get(k) == v for k, v in partition_values.items())
            )

        with self._commit_mutex(table):
            cur = self._current(table)
            if (
                base_snapshot_id is not None
                and cur is not None
                and cur["snapshot_id"] != base_snapshot_id
            ):
                try:
                    base = self._snap_by_id(table, base_snapshot_id)
                except FileNotFoundError as e:
                    raise CommitConflictError(
                        f"{table}: base snapshot {base_snapshot_id} expired "
                        f"— cannot validate overwrite of {partition_values}"
                    ) from e
                if _part_files(cur) != _part_files(base):
                    raise CommitConflictError(
                        f"{table}: partition {partition_values} changed between "
                        f"snapshot {base_snapshot_id} and {cur['snapshot_id']} "
                        f"— concurrent overwrite rejected (retry from current)"
                    )
            keep = [
                f
                for f in (cur["files"] if cur else [])
                if any(f["partition"].get(k) != v for k, v in partition_values.items())
            ]
            return self._commit(table, keep + new_files, "overwrite", cur)["snapshot_id"]

    def overwrite(self, spark: SparkSession, table: str, keep: Column) -> int:
        """Copy-on-write delete: rewrite the current snapshot to the rows
        matching ``keep`` in ONE Spark write job, commit them as one
        snapshot, and return the number of rows removed (no write and no
        commit when that is 0). Every kept row stays in the partition of
        the data file it came from (Iceberg's row-level DELETE keeps a
        file's partition the same way), so a later
        ``commit_overwrite_partitions`` of that partition still replaces
        it instead of leaving its rows beside the new ones. The commit
        validates its base: if another commit landed since the snapshot
        was read, it raises :class:`CommitConflictError` and commits
        nothing, instead of silently dropping that commit's files."""
        cur = self._current(table)
        if cur is None or not cur["files"]:
            raise FileNotFoundError(f"table {table} has no committed snapshot/data")
        # tag each row with the index of its file's partition dict; the
        # tag becomes the partitionBy directory of the write, which maps
        # back to the partition dict below. Spark reports a row's file as
        # a URI, so the key is the file's last two path components: the
        # catalog names them from uuids, k=v dirs and part-file names,
        # which URI encoding leaves unchanged.
        file_paths = [f["path"] for f in cur["files"]]
        index: dict[str, int] = {}  # partition dict (as JSON) -> tag
        file_tag: dict[str, int] = {}
        for f in cur["files"]:
            key = "/".join(f["path"].split("/")[-2:])
            i = index.setdefault(json.dumps(f["partition"], sort_keys=True), len(index))
            if not re.fullmatch(r"[A-Za-z0-9_.=-]+/[A-Za-z0-9_.=-]+", key) or (
                file_tag.setdefault(key, i) != i
            ):
                raise ValueError(f"{table}: cannot tag data file {f['path']}")
        tag = "catalog_partition"
        tags = F.create_map(*[F.lit(x) for kv in file_tag.items() for x in kv])
        file_key = F.substring_index(F.col("_metadata.file_path"), "/", -2)
        df = spark.read.parquet(*file_paths).withColumn(tag, tags[file_key])
        kept = df.filter(keep)
        n, n_kept = df.agg(F.count(F.lit(1)), F.count_if(keep)).first()
        removed = n - n_kept
        if not removed:
            return 0
        written = self._write_data(table, kept, None, [tag])
        parts = [json.loads(k) for k in index]
        files = [
            {"path": f["path"], "partition": parts[i]}
            for (i,), fs in written.items()
            for f in fs
        ]
        if not files:  # nothing kept: one empty file keeps the table readable
            files = self._write_data(table, kept.drop(tag).limit(0), None)
        with self._commit_mutex(table):
            now = self._current(table)
            if now["snapshot_id"] != cur["snapshot_id"]:
                # the rewrite holds snapshot N's rows only: committing it
                # over a newer snapshot would drop that commit's files
                raise CommitConflictError(
                    f"{table}: snapshot {now['snapshot_id']} committed while the "
                    f"rewrite of snapshot {cur['snapshot_id']} ran — retry from current"
                )
            self._commit(table, files, "overwrite", now)
        return removed

    def delete_files_where(self, table: str, predicate) -> int:
        """Metadata-only delete: drop whole data files whose partition
        metadata matches ``predicate(partition_dict) -> bool`` (Iceberg's
        partition-level delete — no data rewrite)."""
        with self._commit_mutex(table):
            cur = self._current(table)
            if cur is None:
                return 0
            files = [f for f in cur["files"] if not predicate(f["partition"])]
            if len(files) == len(cur["files"]):
                return 0  # nothing matched — skip the no-op snapshot
            self._commit(table, files, "delete", cur)
            return len(cur["files"]) - len(files)

    def read(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is None:
            snap = self._current(table)
        else:
            snap = self._snap_by_id(table, snapshot_id)
        if snap is None or not snap["files"]:
            raise FileNotFoundError(f"table {table} has no committed snapshot/data")
        return spark.read.parquet(*[f["path"] for f in snap["files"]])

    def snapshots(self, table: str) -> list[dict]:
        meta = self._meta(table)
        if not os.path.isdir(meta):
            return []
        out = []
        for n in sorted(os.listdir(meta)):
            if n.startswith("snap-"):
                with open(os.path.join(meta, n)) as f:
                    out.append(json.load(f))
        return out

    def expire_snapshots(self, table: str, keep_last: int = 3) -> int:
        """Drop old snapshot manifests and any data files referenced only
        by them (time travel shrinks; current is never touched)."""
        with self._commit_mutex(table):
            snaps = self.snapshots(table)
            if len(snaps) <= keep_last:
                return 0
            live, dead = snaps[-keep_last:], snaps[:-keep_last]
            live_files = {f["path"] for s in live for f in s["files"]}
            removed = 0
            for s in dead:
                for f in s["files"]:
                    if f["path"] not in live_files and os.path.exists(f["path"]):
                        os.remove(f["path"])
                        removed += 1
                os.remove(
                    os.path.join(self._meta(table), f"snap-{s['snapshot_id']:08d}.json")
                )
            return removed


def get_catalog(warehouse: str):
    """Catalog factory: the local snapshot catalog. An Iceberg-backed
    catalog with the same 4-method surface slots in here."""
    return LocalSnapshotCatalog(warehouse)
