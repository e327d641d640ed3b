"""Snapshot-manifest table store: Iceberg-shaped state management on plain
parquet.

The target design is Iceberg tables (``frontier``, ``url_seen``, ``fetched``,
``robots``, ``metrics``) with snapshot-pinned reads and atomic commits; this
container has no Iceberg runtime jar, so the store reproduces the properties
the engine needs with the same mechanics Iceberg uses:

- every Spark write lands in a fresh immutable directory (a "data file set");
- a **snapshot manifest** (JSON) lists, per table, the exact directory set
  that constitutes the table at that snapshot — append = parent dirs + new,
  replace = new only;
- a commit writes the manifest then atomically flips the ``CURRENT`` pointer
  (``os.replace``), so a crash mid-round leaves orphan dirs that no manifest
  references — reads at CURRENT are unaffected and resume is bit-identical;
- a commit may record a small ``sidecar`` dict (the engine's bloom shard
  layout) in its own manifest; it is not carried to the next one, so a
  commit that did not maintain the sidecar reads as "no marker". A store
  that registers schemas carries only those tables forward, so a table no
  round writes any more is freed by ``expire_snapshots``.

Swapping this for real Iceberg is localized to this module: append →
``writeTo(t).append()``, replace → ``overwritePartitions``, snapshot pin →
``VERSION AS OF``.

Reference analog: the reference checkpoints stage outputs as JSON files
(reference scrapers/utils.py:296-308) and has no resume story at all — a
crashed crawl loses the in-memory ``visited`` set and frontier deque.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

# where an older store kept per-commit marker files; no manifest field
# names them any more, and expire_snapshots deletes the dir
_LEGACY_MARKER_DIR = "blobs"


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str,
                 schemas: dict[str, str] | None = None) -> None:
        self.spark = spark
        self.root = root
        self.schemas = schemas or {}
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        self._staged: dict[str, dict] = {}
        self._stage_lock = threading.Lock()  # stage_write is called from
        # concurrent sink-writer threads (scheduler runs independent sinks
        # as parallel Spark jobs)

    # ---------------------------------------------------------------- paths
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, "tables", table)

    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _snap_path(self, snap_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"snap-{snap_id:06d}.json")

    # ------------------------------------------------------------ snapshots
    def current_snapshot_id(self) -> int | None:
        p = self._current_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def snapshot(self, snap_id: int | None = None) -> dict | None:
        if snap_id is None:
            snap_id = self.current_snapshot_id()
        if snap_id is None:
            return None
        path = self._snap_path(snap_id)
        if not os.path.exists(path):
            # expired (expire_snapshots) — parent chains cut at the
            # retention horizon read as "no such snapshot", not a crash
            return None
        with open(path) as f:
            return json.load(f)

    # --------------------------------------------------------------- writes
    def _file_stats(self, path: str) -> list[dict]:
        """Per-file lineage stats (name, bytes, rows) for a staged write
        dir — the Iceberg manifest-entry analog. Row counts come from the
        parquet FOOTER (no data read)."""
        import pyarrow.parquet as pq
        out = []
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(path, name)
            out.append({"file": name, "bytes": os.path.getsize(fp),
                        "rows": pq.ParquetFile(fp).metadata.num_rows})
        return out

    def _stage_dir(self, table: str, mode: str, write) -> None:
        """write(path) into a fresh dir and stage it for the next commit.
        mode: 'append' (dirs add to parent's) or 'replace' (dirs supersede).
        A failed write is removed: it was never staged, so abort() cannot
        see it."""
        assert mode in ("append", "replace")
        dirname = f"w-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self._table_dir(table), dirname)
        try:
            write(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        stats = self._file_stats(path)
        with self._stage_lock:  # callers write from concurrent threads
            st = self._staged.setdefault(
                table, {"mode": mode, "dirs": [], "files": {}})
            if mode == "replace":
                st["mode"] = "replace"
            st["dirs"].append(dirname)
            st["files"][dirname] = stats

    def stage_write(self, table: str, df: DataFrame, mode: str) -> None:
        """Write df into a fresh dir and stage it for the next commit."""
        self._stage_dir(table, mode,
                        lambda path: df.write.mode("overwrite").parquet(path))

    def stage_write_arrow(self, table: str, pdf, mode: str) -> None:
        """Driver-side write for SMALL tables (host_state, metrics): one
        pyarrow file, no Spark job. Read path is identical (parquet)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        ddl = self.schemas.get(table)
        if ddl is not None:
            # cast to the registered schema so the file footer matches
            # what `read` declares — pandas infers e.g. list<int32> for
            # an all-empty array<string> column, which would then fail
            # the typed parquet read
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType
            target = to_arrow_schema(StructType.fromDDL(ddl))
            tbl = tbl.select(target.names).cast(target)

        def write(path):
            os.makedirs(path, exist_ok=True)
            pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
        self._stage_dir(table, mode, write)

    @staticmethod
    def _rows_of(st: dict) -> int:
        return sum(f["rows"] for stats in st["files"].values() for f in stats)

    def staged_row_count(self, table: str) -> int:
        """Row count of this round's staged dirs — straight from the
        lineage stats captured at stage time (no file reads, no Spark job)."""
        st = self._staged.get(table)
        return self._rows_of(st) if st else 0

    def row_count(self, table: str, snap_id: int | None = None) -> int | None:
        """Rows of `table` at a snapshot (default: CURRENT), from the
        manifest's footer-derived counts — no Spark job. None when the
        count is unknown (no snapshot, or a manifest written before the
        counts were recorded)."""
        snap = self.snapshot(snap_id)
        if snap is None or "rows" not in snap:
            return None
        rows = snap["rows"]
        if table in rows:
            return rows[table]
        # a table no commit ever touched is empty; one with dirs but no
        # count was inherited from a manifest without counts
        return None if snap["tables"].get(table) else 0

    def read_staged(self, table: str) -> DataFrame:
        """This round's STAGED dirs for `table` — lets a producer reuse
        its own freshly staged write within the round (files, not a
        recompute of the source plan). Raises if nothing is staged."""
        with self._stage_lock:
            st = self._staged.get(table)
            dirs = list(st["dirs"]) if st else []
        if not dirs:
            raise KeyError(f"table {table!r} has no staged dirs")
        reader = self.spark.read
        schema = self.schemas.get(table)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(
            *[os.path.join(self._table_dir(table), d) for d in dirs])

    def commit(self, round_no: int, metrics: dict | None = None,
               sidecar: dict | None = None) -> int:
        """Write the next manifest and flip CURRENT to it. `sidecar` is
        recorded in this manifest only (see the module docstring)."""
        parent_id = self.current_snapshot_id()
        parent = self.snapshot(parent_id) if parent_id is not None else None
        snap_id = (parent_id or 0) + 1
        # a store that registers schemas carries only its registered
        # tables forward: a table no code writes any more (an older
        # engine's) then leaves the manifest, and expire_snapshots frees
        # its dirs. A schema-less store carries every parent table.
        tables: dict[str, list[str]] = {
            t: dirs for t, dirs in (parent or {}).get("tables", {}).items()
            if not self.schemas or t in self.schemas}
        # rows per table (from the staged files' footers): replace = staged,
        # append = parent + staged, untouched = parent. A parent without
        # counts (an older manifest) leaves its appended tables uncounted.
        rows = {t: n for t, n in (parent or {}).get("rows", {}).items()
                if t in tables}
        for table, st in self._staged.items():
            prev = tables.get(table, []) if st["mode"] == "append" else []
            tables[table] = list(prev) + st["dirs"]
            if not prev:
                rows[table] = self._rows_of(st)
            elif table in rows:
                rows[table] += self._rows_of(st)
        manifest = {
            "snapshot_id": snap_id,
            "parent_id": parent_id,
            "round": round_no,
            "tables": tables,
            "rows": rows,
            "sidecar": sidecar,
            # Iceberg manifest-entry analog: THIS commit's added files per
            # table/dir with byte and footer row counts — per-partition
            # lineage is walkable through the parent chain
            "added_files": {t: st.get("files", {})
                            for t, st in self._staged.items()},
            "metrics": metrics or {},
            "committed_at": time.time(),  # informational only, never read back
        }
        # durable before the swap: a crash after it must find the manifest
        # CURRENT names; the root's sync makes the swap itself durable
        with open(self._snap_path(snap_id), "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        _fsync_dir(os.path.join(self.root, "snapshots"))
        tmp = self._current_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(snap_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._current_path())  # the atomic commit point
        _fsync_dir(self.root)
        self._staged = {}
        return snap_id

    def abort(self) -> None:
        """Drop everything staged since the last commit and delete its
        dirs from disk: a failed round attempt then leaves nothing for
        the next commit to pick up. Callers must first wait for their
        in-flight stage_write calls."""
        with self._stage_lock:
            staged, self._staged = self._staged, {}
        for table, st in staged.items():
            for d in st["dirs"]:
                shutil.rmtree(os.path.join(self._table_dir(table), d),
                              ignore_errors=True)

    def compact(self, table: str) -> int:
        """Iceberg `rewrite_data_files` analog: an append-heavy table (e.g.
        url_seen gains one dir per round) is rewritten into a single fresh
        dir and staged as REPLACE. Old snapshots keep reading the old dirs
        (they stay on disk, referenced by their manifests); time travel is
        unaffected. Returns the number of dirs compacted, 0 if nothing to
        do. Caller commits."""
        snap = self.snapshot()
        dirs = (snap or {}).get("tables", {}).get(table, [])
        if len(dirs) <= 1:
            return 0
        self.stage_write(table, self.read(table), "replace")
        return len(dirs)

    def history(self) -> list[dict]:
        """Snapshot lineage (Iceberg `history()` analog): one entry per
        RETAINED snapshot, newest last — drives time-travel reads via
        ``read(table, snap_id=...)`` and resume-from-checkpoint. The walk
        stops at the retention horizon after `expire_snapshots`."""
        out = []
        snap_id = self.current_snapshot_id()
        while snap_id is not None:
            s = self.snapshot(snap_id)
            if s is None:       # expired parent: chain cut, not a crash
                break
            out.append({"snapshot_id": s["snapshot_id"],
                        "parent_id": s["parent_id"], "round": s["round"],
                        "committed_at": s.get("committed_at")})
            snap_id = s["parent_id"]
        return list(reversed(out))

    def expire_snapshots(self, keep_last: int = 5) -> dict:
        """Iceberg `expire_snapshots` + `remove_orphan_files` analog — the
        maintenance a CONTINUOUS crawler needs: an always-on frontier
        commits one snapshot per round, so manifests and superseded data
        dirs (every `compact` leaves the old dirs referenced only by old
        manifests) grow without bound unless expired.

        Retains the most recent `keep_last` manifests (CURRENT always
        included), deletes older manifest files, then deletes every table
        dir referenced by NO retained manifest, and an older store's
        marker-file dir, which no manifest field names any more. Dirs
        staged for the NEXT commit are protected (they are in no manifest
        yet — deleting them would corrupt the upcoming commit). Reads and
        resume at retained snapshots are bit-identical before/after
        (pytest-proven); `history()` parent chains cut cleanly at the
        horizon. Returns removal counts."""
        import glob
        cur = self.current_snapshot_id()
        if cur is None:
            return {"snapshots": 0, "dirs": 0}
        all_ids = sorted(
            int(os.path.basename(p)[5:-5]) for p in glob.glob(
                os.path.join(self.root, "snapshots", "snap-*.json")))
        keep = set(all_ids[-keep_last:]) | {cur}
        ref_dirs: set[tuple[str, str]] = set()
        for i in sorted(keep):
            try:
                s = self.snapshot(i)
            except Exception as e:
                s = None
                err = e
            else:
                err = None
            if not s:
                # A RETAINED manifest that cannot be read must abort the
                # vacuum: silently skipping it would treat its dirs as
                # unreferenced and delete live data on a transient
                # read failure. (ADVICE r5)
                raise RuntimeError(
                    f"expire_snapshots: retained manifest snap-{i} "
                    "unreadable; aborting vacuum (no files removed)"
                ) from err
            for t, dirs in s.get("tables", {}).items():
                ref_dirs.update((t, d) for d in dirs)
        with self._stage_lock:
            for t, st in self._staged.items():
                ref_dirs.update((t, d) for d in st["dirs"])
        removed = {"snapshots": 0, "dirs": 0}
        for i in all_ids:
            if i not in keep:
                os.remove(self._snap_path(i))
                removed["snapshots"] += 1
        tables_root = os.path.join(self.root, "tables")
        if os.path.isdir(tables_root):
            for t in sorted(os.listdir(tables_root)):
                tdir = os.path.join(tables_root, t)
                for d in sorted(os.listdir(tdir)):
                    if (t, d) not in ref_dirs:
                        path = os.path.join(tdir, d)
                        shutil.rmtree(path, ignore_errors=True)
                        # count only confirmed removals (rmtree with
                        # ignore_errors can fail silently)
                        if not os.path.exists(path):
                            removed["dirs"] += 1
        shutil.rmtree(os.path.join(self.root, _LEGACY_MARKER_DIR),
                      ignore_errors=True)
        return removed

    # ---------------------------------------------------------------- reads
    def read(self, table: str, snap_id: int | None = None) -> DataFrame:
        """Table state as of a snapshot (default: CURRENT). Unknown/empty
        tables return an empty DataFrame with the registered schema: a
        read of zero paths, which has no partitions (createDataFrame([])
        would run a Python task per default-parallelism partition)."""
        snap = self.snapshot(snap_id)
        dirs = (snap or {}).get("tables", {}).get(table, [])
        schema = self.schemas.get(table)
        if not dirs and schema is None:
            raise KeyError(f"table {table!r} empty and no schema registered")
        paths = [os.path.join(self._table_dir(table), d) for d in dirs]
        reader = self.spark.read
        if schema is not None:
            # registered schema (the same one every write produced):
            # skips the per-read footer schema-inference pass — the
            # engine reads several tables per round, and each inference
            # is a synchronous driver-side file listing + footer decode
            reader = reader.schema(schema)
        return reader.parquet(*paths)


def merge_upsert(store: SnapshotStore, table: str, updates,
                 key_cols: list[str]) -> None:
    """SURVEY S9: keyed upsert (Iceberg `MERGE INTO ... WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT` analog; the reference batches ChromaDB upserts,
    vectorstore/store.py:69-125). Stages current-rows-minus-matched plus all
    updates as a REPLACE; the swap to real Iceberg is a single MERGE
    statement at this call site."""
    current = store.read(table)
    survivors = current.join(updates.select(*key_cols).distinct(),
                             key_cols, "left_anti")
    store.stage_write(table, survivors.unionByName(updates), "replace")
