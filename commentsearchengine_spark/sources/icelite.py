"""icelite — Iceberg-semantics snapshot catalog over Parquet (SURVEY §1.3).

No Iceberg runtime jar exists in this offline environment (verified:
nothing in pyspark/jars, no network), so this module implements the
required subset of the public Apache Iceberg *table-spec semantics* from
scratch:

- **Snapshot isolation + atomic commit**: writers stage Parquet data
  files under ``data/``, then atomically ``os.rename`` a new JSON
  manifest (``metadata/snap-{n}.json``), fsync the directory, and only
  then flip ``metadata/current`` (the ordering matters: a power loss
  must never leave a durable pointer to a non-durable manifest).
  Readers resolve ``current`` (or an explicit snapshot id — time
  travel) and read exactly that file list.  A crash between data write
  and rename leaves the previous snapshot intact; orphaned data files
  are unreachable and reclaimed by the explicit maintenance pair
  ``expire_snapshots`` + ``sweep_orphans`` (the Iceberg
  expire_snapshots / remove_orphan_files analogue).  Data-file
  durability itself is the filesystem's: Spark's committer does not
  fsync parquet files, same as a real deployment delegating to
  HDFS/object-store sync semantics.
- **Multi-table checkpoint**: one snapshot pins the file lists of ALL
  engine tables plus the wave counter, config hash, and metrics —
  that is the crawl checkpoint (BASELINE.json:6,14 "resumable from
  Iceberg snapshot checkpoints ... per-partition lineage + metrics").
- **Manifest stats**: per-file row counts size the next wave's bloom
  (plans/wave.py ``_next_bloom``) and let scans skip empty tables
  without touching Parquet footers.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def _fsync_dir(path: str) -> None:
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass  # not all filesystems support directory fsync


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    wave: int
    # table -> list of file entries.  An entry is a dict
    # {"path": rel_path, "rows": n, "stats": {col: [min, max]}} (rows/stats
    # from the parquet footer at write time — the Iceberg-manifest analogue
    # backing file pruning and row counts without touching data files).
    tables: dict[str, list[dict]]
    row_counts: dict[str, int]
    state: dict[str, Any]
    metrics: dict[str, Any]
    created_at: float


def uri_to_rel(uri: str, root: str) -> str:
    """Normalize a Spark ``input_file_name()`` value to a catalog-root-
    relative path (the manifest-entry format).

    input_file_name returns a URL-ENCODED ``file:`` URI, so a catalog
    root containing a space or non-ASCII character encodes differently
    from the raw manifest path — naive suffix matching then fails
    silently and misclassifies every touched file as untouched (rows
    re-admitted next wave).  Decode the URI first, then relativize.

    Both sides go through ``os.path.realpath``: on a symlinked catalog
    root (e.g. /tmp -> /private/tmp) the JVM reports RESOLVED paths, so
    relativizing against the unresolved root would put every touched
    file in the caller's unmatched set and abort the wave — loud, but
    dependent on the host's filesystem layout rather than on the data.
    """
    from urllib.parse import unquote, urlparse

    if "://" in uri or uri.startswith("file:"):
        path = unquote(urlparse(uri).path)
    else:
        path = uri
    return os.path.relpath(
        os.path.realpath(path), os.path.realpath(os.path.abspath(root)))


def _file_stats(full_path: str) -> tuple[int, dict[str, list]]:
    """Row count + per-column [min, max] from the parquet footer.
    Only JSON-friendly primitive columns are kept."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    # a column's file-level [min,max] is sound only if EVERY row group
    # contributed stats for it; a statless group (e.g. all-NaN doubles)
    # could hold values outside the recorded range, and pruning on an
    # incomplete range would silently drop matching rows
    coverage: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            # INTEGER columns only.  Strings/binary: parquet stats may be
            # truncated BOUNDS.  Floats: Spark SQL orders NaN GREATER
            # than every number, so a predicate like `x > v` keeps NaN
            # rows — which parquet min/max never covers — and pruning on
            # float stats would silently drop files holding qualifying
            # NaN rows (caught by tests/test_icelite_pruning.py).
            if not isinstance(lo, int) or isinstance(lo, bool):
                continue
            coverage[name] = coverage.get(name, 0) + 1
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    return md.num_rows, {
        c: [mins[c], maxs[c]]
        for c in mins
        if coverage[c] == md.num_row_groups
    }


_OPS = {
    "==": lambda lo, hi, v: lo <= v <= hi,
    "<=": lambda lo, hi, v: lo <= v,   # some row may satisfy col <= v
    ">=": lambda lo, hi, v: hi >= v,
    "<": lambda lo, hi, v: lo < v,
    ">": lambda lo, hi, v: hi > v,
}


def entries_overlapping_segs(entries: list[dict], segs: set[int],
                             shift: int, col: str = "url_hash") -> list[dict]:
    """Manifest entries whose ``col`` [min, max] stats could contain a
    value from any of the given hash SEGMENTS (seg = value >> shift,
    arithmetic/signed, so seg s covers [s << shift, ((s+1) << shift) - 1]).

    This is the set-membership analogue of ``_may_match``: the caller
    collected the distinct segments its probe keys hash into (a bounded
    driver-side set — at most 2^(64-shift) values) and prunes a
    hash-CLUSTERED table to just the files those keys could live in.
    Conservative like all manifest pruning: entries without stats for
    ``col`` are always kept; an empty seg set keeps nothing (no keys =>
    no file can match)."""
    if not segs:
        return []
    ranges = sorted(
        ((s << shift), (((s + 1) << shift) - 1)) for s in segs)
    los = [r[0] for r in ranges]
    import bisect

    out = []
    for e in entries:
        st = (e.get("stats") or {}).get(col)
        if st is None:
            out.append(e)
            continue
        lo, hi = st
        # ranges are disjoint and ascending, so the rightmost range
        # starting at or before `hi` is the only overlap candidate
        i = bisect.bisect_right(los, hi) - 1
        if i >= 0 and ranges[i][1] >= lo:
            out.append(e)
    return out


def _may_match(entry: dict, where: list[tuple]) -> bool:
    """Conservative file-level predicate check: False only when the
    file's [min,max] PROVES no row can match (absent stats => keep)."""
    stats = entry.get("stats") or {}
    for col, op, value in where:
        rng = stats.get(col)
        if rng is None:
            continue
        lo, hi = rng
        if not _OPS[op](lo, hi, value):
            return False
    return True


@dataclass
class Catalog:
    """A directory-rooted multi-table snapshot catalog."""

    root: str
    _staged: dict[str, list[dict]] = field(default_factory=dict)
    # stage_write is called concurrently from driver threads (wave writes
    # of independent tables overlap — plans/wave.py); guard the staging map
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    # parsed-manifest cache: manifests are IMMUTABLE once renamed into
    # place, and one wave issues ~10 load_snapshot calls (scans,
    # table_files, the commit's parent read) — re-parsing a 10^4-entry
    # JSON each time is pure driver overhead.  Every caller of
    # load_snapshot gets the cached object itself, so the cache is
    # correct only while callers treat a returned Snapshot (its tables,
    # state and metrics) as read-only.
    _snap_cache: dict[int, Snapshot] = field(
        default_factory=dict, repr=False)

    # ----------------------------------------------------------- layout
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _snap_path(self, snapshot_id: int) -> str:
        return os.path.join(self._meta_dir, f"snap-{snapshot_id:06d}.json")

    def init(self) -> "Catalog":
        os.makedirs(self._meta_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)
        return self

    # ------------------------------------------------------------ reads
    def current_snapshot_id(self) -> int | None:
        ptr = os.path.join(self._meta_dir, "current")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(f.read().strip())

    def load_snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return None
        with self._lock:
            snap = self._snap_cache.get(sid)
        if snap is not None:
            return snap
        with open(self._snap_path(sid)) as f:
            d = json.load(f)
        snap = Snapshot(**d)
        with self._lock:
            if len(self._snap_cache) >= 8:  # bound driver memory
                self._snap_cache.pop(next(iter(self._snap_cache)))
            self._snap_cache[sid] = snap
        return snap

    def snapshots(self) -> list[int]:
        if not os.path.isdir(self._meta_dir):
            return []
        out = []
        for name in os.listdir(self._meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    def scan(self, spark: SparkSession, table: str,
             snapshot_id: int | None = None,
             schema_ddl: str | None = None,
             where: list[tuple] | None = None) -> DataFrame:
        """Read a table exactly as of a snapshot (time travel when
        ``snapshot_id`` is given).  Empty tables need ``schema_ddl``
        to produce a typed empty DataFrame.

        ``where`` = [(col, op, value), ...] with op in ==/<=/>=/</> does
        MANIFEST-LEVEL file pruning on the footer min/max recorded at
        write time — the icelite stand-in for Iceberg scan planning
        (SURVEY.md §4): files that provably contain no matching row are
        never handed to Spark.  Only INTEGER columns carry stats (see
        _file_stats for why floats/strings are excluded), so predicates
        on other columns simply never prune.  The predicate is advisory
        (pruning only); callers still apply the exact filter."""
        snap = self.load_snapshot(snapshot_id)
        entries = [] if snap is None else snap.tables.get(table, [])
        if where:
            entries = [e for e in entries if _may_match(e, where)]
        if not entries:
            if schema_ddl is None:
                # not an assert: pruning can empty a NON-empty table
                # data-dependently (a where that excludes every file),
                # and asserts vanish under python -O
                raise ValueError(
                    f"empty scan of table {table!r} needs schema_ddl")
            return spark.createDataFrame([], schema_ddl)
        paths = [os.path.join(self.root, e["path"]) for e in entries]
        reader = spark.read
        if schema_ddl is not None:
            reader = reader.schema(schema_ddl)
        return reader.parquet(*paths)

    def scan_entries(self, spark: SparkSession, entries: list[dict],
                     schema_ddl: str) -> DataFrame:
        """Read exactly the given manifest entries (e.g. the subset of a
        table's files a predicate could not exclude — the caller's own
        scan planning over ``table_files``)."""
        if not entries:
            return spark.createDataFrame([], schema_ddl)
        paths = [os.path.join(self.root, e["path"]) for e in entries]
        return spark.read.schema(schema_ddl).parquet(*paths)

    def table_files(self, table: str, snapshot_id: int | None = None,
                    where: list[tuple] | None = None) -> list[dict]:
        """Manifest entries (post-pruning) — for tests and row counts."""
        snap = self.load_snapshot(snapshot_id)
        entries = [] if snap is None else snap.tables.get(table, [])
        if where:
            entries = [e for e in entries if _may_match(e, where)]
        return list(entries)

    # ----------------------------------------------------------- writes
    def stage_entries(self, table: str, entries: list[dict]) -> None:
        """Seed the NEXT snapshot's file list for ``table`` with existing
        manifest entries (carry-forward without rewriting data files —
        the icelite analogue of Iceberg keeping untouched data files
        across a row-level delete commit).  Later ``stage_write(...,
        mode='stage-append')`` calls add new files on top."""
        with self._lock:
            self._staged[table] = list(entries)

    def stage_write(self, df: DataFrame, table: str, mode: str = "overwrite",
                    partition_cols: list[str] | None = None) -> list[dict]:
        """Write ``df`` as new Parquet files for ``table`` into the staging
        area of the NEXT snapshot.  ``mode='append'`` keeps the current
        snapshot's files; ``'overwrite'`` replaces them;
        ``'stage-append'`` adds to whatever is already staged for this
        table (use after ``stage_entries`` or a prior stage_write of the
        same table).  Returns the NEW manifest entries just written —
        callers can hand them to ``scan_entries`` to re-read exactly
        this write's output (column-pruned) without caching the input
        DataFrame."""
        if mode not in ("append", "overwrite", "stage-append"):
            # an unknown mode falling through to overwrite semantics
            # would silently drop the table's entire file set at the
            # next commit — fail loud instead
            raise ValueError(f"unknown stage_write mode {mode!r}")
        rel_dir = os.path.join("data", table, uuid.uuid4().hex[:12])
        out_dir = os.path.join(self.root, rel_dir)
        writer = df.write.mode("error")
        if partition_cols:
            # value-exact file clustering (e.g. one frontier tier per
            # directory): callers duplicate the clustering key into a
            # throwaway column, since partitionBy lifts its columns out
            # of the data files into directory names
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(out_dir)
        entries = []
        for cur, _dirs, names in sorted(os.walk(out_dir)):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    full = os.path.join(cur, name)
                    rel = os.path.relpath(full, self.root)
                    rows, stats = _file_stats(full)
                    entries.append(
                        {"path": rel, "rows": rows, "stats": stats})
        prev: list[dict] = []
        if mode == "append":
            snap = self.load_snapshot()
            if snap is not None:
                prev = list(snap.tables.get(table, []))
        with self._lock:
            if mode == "stage-append":
                prev = self._staged.get(table, [])
            self._staged[table] = prev + entries
        return entries

    def discard_staged(self) -> None:
        """Drop every staged-but-uncommitted entry.  Call on an abort
        path before reusing the Catalog object: only commit() otherwise
        clears staging, so a failed multi-table operation would leave
        its partial file lists to be silently pinned by the NEXT commit
        (with a stale wave counter).  The staged data files themselves
        become orphans, reclaimed by sweep_orphans."""
        with self._lock:
            self._staged = {}

    def commit(self, wave: int, state: dict[str, Any] | None = None,
               metrics: dict[str, Any] | None = None) -> int:
        """Atomically publish one snapshot pinning every staged table plus
        every unstaged table carried over unchanged from the parent.

        The engine's writers never outlive their write group
        (plans/wave.py's stage_all joins them before the commit), but
        commit still takes OWNERSHIP of the staging map at entry (under
        the lock): a stage_write from a caller that does race it stages
        for the NEXT commit instead of being dropped or corrupting the
        iteration.  On failure the taken entries are restored for any
        table not re-staged since (best effort — the catalog is
        normally abandoned on a failed commit)."""
        with self._lock:
            staged = self._staged
            self._staged = {}
        try:
            parent = self.load_snapshot()
            parent_id = None if parent is None else parent.snapshot_id
            sid = 1 if parent_id is None else parent_id + 1
            tables = {} if parent is None else dict(parent.tables)
            tables.update(staged)
            row_counts = {
                t: sum(e.get("rows") or 0 for e in ents)
                for t, ents in tables.items()
            }
            snap = Snapshot(
                snapshot_id=sid, parent_id=parent_id, wave=wave,
                tables=tables, row_counts=row_counts, state=state or {},
                metrics=metrics or {}, created_at=time.time())
            tmp = self._snap_path(sid) + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(snap.__dict__, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, self._snap_path(sid))  # atomic publish
            # make the manifest's dirent durable BEFORE the pointer can
            # reference it: POSIX does not order the durability of two
            # renames, and a power loss with current→sid durable but
            # snap-sid.json not would brick every subsequent resume
            _fsync_dir(self._meta_dir)
            ptr_tmp = os.path.join(
                self._meta_dir, f"current.tmp-{uuid.uuid4().hex[:8]}")
            with open(ptr_tmp, "w") as f:
                f.write(str(sid))
                f.flush()
                os.fsync(f.fileno())
            os.rename(ptr_tmp, os.path.join(self._meta_dir, "current"))
            _fsync_dir(self._meta_dir)
        except BaseException:
            with self._lock:
                for t, entries in staged.items():
                    self._staged.setdefault(t, entries)
            raise
        return sid

    # ------------------------------------------------------ maintenance
    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Remove old snapshot manifests, keeping the ``keep_last`` most
        recent (the current snapshot is always kept) — the Iceberg
        ``expire_snapshots`` analogue.  Time travel to expired ids stops
        working; data files they referenced become orphans once no
        remaining snapshot lists them (reclaim with sweep_orphans).
        Crash-safe: each removal is a single unlink and readers only
        follow ``current``."""
        ids = self.snapshots()
        cur = self.current_snapshot_id()
        keep = set(ids[-max(1, keep_last):])
        if cur is not None:
            keep.add(cur)
        removed = [i for i in ids if i not in keep]
        for i in removed:
            os.remove(self._snap_path(i))
            with self._lock:
                self._snap_cache.pop(i, None)
        if removed:
            _fsync_dir(self._meta_dir)
        return {"removed": removed, "kept": sorted(keep)}

    def sweep_orphans(self, grace_seconds: float = 300.0) -> dict:
        """Delete data files referenced by NO remaining snapshot and no
        staged entry — the Iceberg ``remove_orphan_files`` analogue for
        crash leftovers, overwritten tables, and compaction's old file
        sets (without this, every compact_table run leaks a full table
        copy).  ``grace_seconds`` skips recently-modified files so an
        in-flight stage_write that has written parquet but not yet
        registered its entries is never swept (same rationale as
        Iceberg's ``older_than``); pass 0 only when no writer can be
        active.  Also removes Spark's sidecars of dead files (``_SUCCESS``
        markers, and the dot-prefixed ``.<file>.crc`` checksums of data
        files no snapshot references) and the directories they leave
        empty."""
        live: set[str] = set()
        for sid in self.snapshots():
            snap = self.load_snapshot(sid)
            for ents in snap.tables.values():
                for e in ents:
                    live.add(os.path.normpath(e["path"]))
        with self._lock:
            for ents in self._staged.values():
                for e in ents:
                    live.add(os.path.normpath(e["path"]))
        cutoff = time.time() - grace_seconds
        removed_files = 0
        removed_bytes = 0
        for cur_dir, _dirs, names in os.walk(self._data_dir, topdown=False):
            for name in names:
                full = os.path.join(cur_dir, name)
                rel = os.path.normpath(os.path.relpath(full, self.root))
                if rel in live:
                    continue
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                if st.st_mtime > cutoff:
                    continue
                if name.startswith(".") and name.endswith(".crc"):
                    # the local writer's checksum sidecar of `name[1:-4]`:
                    # dead exactly when the file it covers is
                    removable = os.path.normpath(os.path.join(
                        os.path.dirname(rel), name[1:-4])) not in live
                else:
                    removable = (name.endswith(".parquet")
                                 or name.startswith("_"))
                if removable:
                    os.remove(full)
                    removed_files += 1
                    removed_bytes += st.st_size
            try:  # drop dirs emptied by the sweep (best effort)
                if cur_dir != self._data_dir and not os.listdir(cur_dir):
                    os.rmdir(cur_dir)
            except OSError:
                pass
        return {"removed_files": removed_files,
                "removed_bytes": removed_bytes, "live_files": len(live)}
