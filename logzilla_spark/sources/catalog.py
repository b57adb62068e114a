"""Snapshot-committed table catalog (Iceberg-semantics over parquet).

The reference auto-creates two ClickHouse MergeTree tables and appends
micro-batches to them (reference: storage/clickhouse.go:46-81 DDL,
:157-184 batch insert). The graft mandates Iceberg tables; this
environment has no Iceberg runtime jar, so this module provides a
minimal transactional table format with the Iceberg properties the
pipeline depends on, over plain parquet:

- **atomic commits**: a writer stages parquet files into a private
  directory, then publishes a JSON snapshot manifest via atomic
  ``os.rename``; readers only ever see fully-committed snapshots
  (crash mid-write leaves the table at the previous snapshot);
- **snapshot ids + time travel**: monotonically increasing snapshot
  ids; ``read(..., snapshot_id=k)`` reads table state as of k;
- **incremental reads**: ``read_incremental(after_snapshot_id)``
  returns only rows appended after a snapshot — the checkpoint-resume
  primitive (SURVEY.md §2.5 G7);
- **append / overwrite** operations with per-snapshot summaries.

On a real cluster, swap ``LocalCatalog`` for a Spark Iceberg catalog;
``iceberg_ddl()`` emits the equivalent CREATE TABLE statements
(partitioned by months(warc_ts), matching the reference's
``PARTITION BY toYYYYMM(timestamp)``, storage/clickhouse.go:59,78).
Every engine call site goes through this interface only.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One lock for all tables: commits are metadata-only JSON writes
# (microseconds), so finer granularity buys nothing.
_COMMIT_LOCK = threading.RLock()

# Tables confirmed fully-partitioned for a given partition column. The
# manifest scan behind has_unpartitioned_files is O(data files); the
# verdict can flip back through ANY operation that introduces files
# outside the partition layout — drop()+recreate, rollback to a
# pre-migration snapshot, a plain append/overwrite — so every such
# operation invalidates here. overwrite_partitions does NOT (its stray
# check guarantees staged files live under partition_by= dirs), which
# is what keeps the steady streaming upsert path O(1). Keyed
# (warehouse, table, partition_by).
_FULLY_PARTITIONED: set[tuple[str, str, str]] = set()


def _invalidate_partitioned_cache(
    warehouse: str, name: str, keep_partition_by: str | None = None
) -> None:
    for k in [k for k in _FULLY_PARTITIONED
              if k[0] == warehouse and k[1] == name and k[2] != keep_partition_by]:
        _FULLY_PARTITIONED.discard(k)

# Partition-scoped operations match raw 'col=value' directory tokens,
# but Spark HIVE-ESCAPES certain characters in partition dir names
# (ExternalCatalogUtils.charToEscape: control chars, '"#%\'*/:=?\\{[]^'
# and DEL — verified on this Spark: ':' -> '%3A' while ' ' stays
# literal) and writes NULL/empty as __HIVE_DEFAULT_PARTITION__. An
# escaped value would be spuriously rejected as stray on write and
# silently invisible on read, so values containing an escaped char (or
# NULL/empty) are rejected LOUDLY; everything Spark writes literally
# (spaces, '+', unicode letters, ...) passes.
_HIVE_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {"\x7f"}


_STATS_PRIMITIVES = (str, int, float, bool)

# bloom sidecars are immutable once published (uuid-named, written via
# rename), so a process-wide parse cache never goes stale
_BLOOM_SIDECAR_CACHE: dict[str, dict] = {}


def _stat_key(v):
    """Normalize a stats/query value for manifest comparison: datetimes
    become UTC epoch micros (JSON-portable ints; naive values are
    treated as UTC — the session TZ is pinned UTC, session.py), other
    primitives pass through. Returns None for unportable types."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, bool):  # before int: bool is an int subclass
        return int(v)
    if isinstance(v, _STATS_PRIMITIVES):
        return v
    return None


def _collect_file_stats(
    files: list[str], columns: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``columns``, read from the parquet
    footers of freshly-staged LOCAL files (one footer read per file,
    driver-side, at write time only — the Iceberg manifest-stats
    analog; readers then prune file lists from committed metadata with
    zero footer IO). A file gets an entry for a column only when EVERY
    row group carries stats for it and the values are JSON-portable
    primitives — missing entries mean "never prune this file", so a
    writer that can't produce stats degrades to correct-but-unpruned.

    Parquet writers may truncate long binary min/max, but truncation
    keeps bounds VALID (min is a prefix <= true min, max is bumped
    above the true max), so range-intersection pruning stays sound.
    """
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is baked in
        return {}
    out: dict[str, dict[str, list]] = {}
    for path in files:
        try:
            meta = pq.ParquetFile(path).metadata
        except Exception:
            continue
        col_idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        } if meta.num_row_groups else {}
        fstats: dict[str, list] = {}
        for col in columns:
            i = col_idx.get(col)
            if i is None or meta.num_row_groups == 0:
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(i).statistics
                mn = _stat_key(st.min) if st is not None and st.has_min_max else None
                mx = _stat_key(st.max) if st is not None and st.has_min_max else None
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                fstats[col] = [lo, hi]
        if fstats:
            out[path] = fstats
    return out


def _collect_file_blooms(
    files: list[str], columns: list[str]
) -> dict[str, dict[str, dict]]:
    """Per-file bloom filters over the DISTINCT values of ``columns``
    (functions/bloom.py — the Iceberg Puffin-sidecar analog), built at
    write time from one column-pruned read per freshly-staged LOCAL
    file. Complements `_collect_file_stats`: min/max prunes ranges on
    clustered columns; a bloom prunes EQUALITY lookups on columns the
    file is not sorted by, where every [min, max] spans the domain.
    NULLs are excluded (a point query never matches NULL); a column a
    file lacks, an unportable value, or a distinct set past the bloom
    cap simply yields no bloom — unknown means unprunable, the same
    degrade-to-correct contract as missing stats."""
    try:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is baked in
        return {}
    from logzilla_spark.functions.bloom import build_bloom

    out: dict[str, dict[str, dict]] = {}
    for path in files:
        try:
            schema_cols = set(pq.read_schema(path).names)
            want = [c for c in columns if c in schema_cols]
            if not want:
                continue
            tbl = pq.read_table(path, columns=want)
        except Exception:
            continue
        fblooms: dict[str, dict] = {}
        for col in want:
            try:
                canon = [
                    _stat_key(v)
                    for v in pc.unique(tbl[col]).to_pylist()
                    if v is not None
                ]
            except Exception:  # e.g. unique() on nested types
                continue
            if any(c is None for c in canon):
                continue
            bloom = build_bloom(canon)
            if bloom is not None:
                fblooms[col] = bloom
        if fblooms:
            out[path] = fblooms
    return out


def _check_partition_values(partition_by: str, values: list[str]) -> None:
    bad = [
        v for v in values
        if not isinstance(v, str) or not v or set(v) & _HIVE_ESCAPED_CHARS
    ]
    if bad:
        raise ValueError(
            f"partition values {bad!r} for {partition_by!r} contain "
            "characters Spark hive-escapes in partition directory names "
            "(or are empty/NULL -> __HIVE_DEFAULT_PARTITION__), which "
            "this catalog's raw token matching does not decode — "
            "rejected instead of silently mismatching"
        )


class SnapshotError(RuntimeError):
    pass


class CommitConflictError(RuntimeError):
    """A row-level rewrite (delete_where / merge_upsert) found the
    table head advanced between its read and its commit — committing
    would silently drop the concurrent writer's files (the rewrite's
    kept-file list was computed against the superseded snapshot).
    Iceberg's optimistic-concurrency validation failure; retry the
    operation against the new head."""


def _local_path(uri: str) -> str:
    """``_metadata.file_path`` URI -> the absolute local path recorded
    in manifests (strip the file: scheme, decode percent-escapes that
    Spark applies to special characters in partition dir names)."""
    from urllib.parse import unquote, urlparse

    # Spark emits 'file:/tmp/x' (no authority slashes); urlparse
    # handles both that and bare paths (scheme empty -> path verbatim)
    return unquote(urlparse(uri).path)


def _explicit_schema(schema_json: str | None):
    """Manifest schema JSON -> the StructType reads apply explicitly
    (Iceberg-style evolution: files from before an added column fill it
    with NULL, so every field must read as nullable regardless of the
    writer's flags). None for legacy manifests (inference path)."""
    if schema_json is None:
        return None
    from pyspark.sql.types import StructField, StructType

    st = StructType.fromJson(json.loads(schema_json))
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in st]
    )


def _partition_dir_columns(files: list[str]) -> list[str]:
    """Partition columns encoded in the data-file paths (``col=value``
    directory segments), in directory order — so a rewrite can re-stage
    with the same physical layout."""
    for f in files:
        cols = [seg.split("=", 1)[0] for seg in f.split(os.sep)[:-1] if "=" in seg]
        if cols:
            return cols
    return []


def _col(name: str):
    """A top-level column by its literal name (dots are not nesting)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _shared_partition_dirs(groups: list[dict]) -> dict[str, str] | None:
    """The ``k=v`` directories every file of ``groups`` sits under below
    its group's base, as {k: v} ({} when there are none). None when the
    files differ in them, when a directory name is one Spark would
    decode (a ``%`` escape, the NULL/empty ``__HIVE_DEFAULT_PARTITION__``)
    or is not a plain ``dir/.../k=v/.../file`` path under the base: for
    those only Spark's own partition discovery gives the right values."""
    shared = None
    for g in groups:
        for f in g["files"]:
            rel = os.path.relpath(os.path.dirname(f), g["base"])
            if rel == os.pardir or rel.startswith(os.pardir + os.sep):
                return None
            kv: list[tuple[str, str]] = []
            for seg in ([] if rel == os.curdir else rel.split(os.sep)):
                if "=" in seg:
                    kv.append(tuple(seg.split("=", 1)))
                elif kv:
                    return None  # a plain directory below a k=v one
            for k, v in kv:
                if not k or not v or "%" in k + v or v == "__HIVE_DEFAULT_PARTITION__":
                    return None
            if len({k for k, _ in kv}) != len(kv):
                return None
            if shared is None:
                shared = kv
            elif kv != shared:
                return None
    return dict(shared or [])


def _parquet_scans(spark: SparkSession, reader, files: list[str]) -> DataFrame:
    """``reader.parquet`` over ``files`` as unioned scans of at most
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` files
    each: Spark lists the files of a larger scan with a distributed
    job, on every read of it. Union by position: every scan shares
    ``reader``'s schema."""
    per = max(1, int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    )))
    out = None
    for i in range(0, len(files), per):
        df = reader.parquet(*files[i:i + per])
        out = df if out is None else out.union(df)
    return out


class LocalCatalog:
    def __init__(self, warehouse: str):
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _tbl(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self._tbl(name), "snapshots")

    def _data_dir(self, name: str) -> str:
        return os.path.join(self._tbl(name), "data")

    def _blooms_dir(self, name: str) -> str:
        return os.path.join(self._tbl(name), "blooms")

    def _write_bloom_sidecar(self, name: str, blooms: dict) -> str:
        """Persist per-file blooms as one immutable sidecar per commit
        (the Puffin-file analog): the manifest stays small — it records
        only the sidecar path — and point pruning loads ONE small file
        per commit group instead of bloating every snapshot JSON."""
        d = self._blooms_dir(name)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"blooms-{uuid.uuid4().hex}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(blooms, f)
        os.rename(tmp, path)
        return path

    def _load_bloom_sidecar(self, path: str) -> dict:
        cached = _BLOOM_SIDECAR_CACHE.get(path)
        if cached is None:
            try:
                with open(path) as f:
                    cached = json.load(f)
            except OSError:
                cached = {}  # missing sidecar -> no blooms -> no pruning
            _BLOOM_SIDECAR_CACHE[path] = cached
        return cached

    # -- snapshot bookkeeping -------------------------------------------
    def snapshot_ids(self, name: str) -> list[int]:
        d = self._snap_dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[5:-5]) for f in os.listdir(d) if f.startswith("snap-") and f.endswith(".json")
        )

    def last_snapshot_id(self, name: str) -> int | None:
        ids = self.snapshot_ids(name)
        return ids[-1] if ids else None

    def _load_snapshot(self, name: str, snapshot_id: int) -> dict:
        path = os.path.join(self._snap_dir(name), f"snap-{snapshot_id:08d}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            raise SnapshotError(
                f"table {name!r} has no snapshot {snapshot_id} "
                "(never committed, or expired by expire_snapshots)"
            ) from None

    def _commit(
        self,
        name: str,
        groups: list[dict],
        operation: str,
        summary,
        schema_json: str | None = None,
    ) -> int:
        """Publish a snapshot. ``groups`` = [{"base": dir, "files": [...]}]:
        each group is read with its own basePath, so a snapshot can mix
        normal appends with externally-staged partitioned directories
        (the single-pass routing fan-out).

        Commits are serialized under a process-wide lock (snapshot-id
        allocation and publish are read-modify-write). ``summary`` may
        be a zero-arg callable, resolved INSIDE the critical section:
        a summary that derives from current table state (the streaming
        layer's cumulative committed map) sees the true predecessor
        snapshot, never a state read before a concurrent writer's
        commit landed. Concurrent writers across PROCESSES are out of
        scope for a local-FS catalog (single writer per table per
        host), as for any non-transactional file catalog."""
        with _COMMIT_LOCK:
            if callable(summary):
                summary = summary()
            snap_dir = self._snap_dir(name)
            os.makedirs(snap_dir, exist_ok=True)
            new_id = (self.last_snapshot_id(name) or 0) + 1
            # Carry the streaming exactly-once map ("committed":
            # query_id -> max batch_id) through commits that don't
            # write their own — maintenance (drop_partitions, compact)
            # and DML (delete/merge) change ROWS, not which epochs were
            # processed, so a replayed epoch must still be refused
            # after them. Without the carry, expire_snapshots deleting
            # the last map-bearing manifest would silently re-open the
            # table to epoch replays (double-counting). Rollback is
            # deliberately excluded: rewinding state rewinds
            # bookkeeping with it (the walk continues into history).
            if operation != "rollback" and "committed" not in (summary or {}):
                prev_id = new_id - 1
                if prev_id >= 1:
                    try:
                        prev_sum = (
                            self._load_snapshot(name, prev_id).get("summary")
                            or {}
                        )
                    except SnapshotError:
                        prev_sum = {}
                    if "committed" in prev_sum:
                        summary = {
                            **(summary or {}),
                            "committed": prev_sum["committed"],
                        }
            manifest = {
                "snapshot_id": new_id,
                "operation": operation,
                "groups": groups,
                "summary": summary,
            }
            # Iceberg-style schema tracking: the writer's schema becomes
            # the table's CURRENT schema (reads apply it to every data
            # file — older files fill added columns with NULL, extra
            # columns in them are ignored). Operations without a
            # DataFrame (rollback, an external append given no schema)
            # carry the predecessor's schema forward via _schema_json_at.
            if schema_json is not None:
                manifest["schema"] = schema_json
            tmp = os.path.join(snap_dir, f".tmp-{uuid.uuid4().hex}.json")
            final = os.path.join(snap_dir, f"snap-{new_id:08d}.json")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.rename(tmp, final)  # atomic publish
            return new_id

    def _schema_json_at(self, name: str, snapshot_id: int | None) -> str | None:
        """The schema recorded at ``snapshot_id`` (None for legacy
        manifests / no snapshot) — the table's current schema when
        called with the head id."""
        if snapshot_id is None:
            return None
        return self._load_snapshot(name, snapshot_id).get("schema")

    def _groups(self, name: str, snapshot_id: int) -> list[dict]:
        m = self._load_snapshot(name, snapshot_id)
        if "groups" in m:
            return m["groups"]
        # legacy manifests: flat file list rooted at the table data dir
        return [{"base": self._data_dir(name), "files": m["files"]}]

    def _stage_write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None,
        cluster_by: list[str] | None = None,
        cluster_mode: str = "linear",
    ) -> list[str]:
        if cluster_by and cluster_mode == "zorder":
            # Morton-curve clustering (functions/zorder.py): each file
            # covers a small hyper-rectangle of the cluster-key space,
            # so the manifest min/max collected below is tight on
            # EVERY cluster column — range predicates on any of them
            # prune files, where linear mode only serves the first.
            from logzilla_spark.functions.zorder import zorder_column

            z = zorder_column(df, cluster_by)
            df = (
                df.withColumn("__z", z)
                .repartitionByRange("__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            # Real data clustering, not just the DDL property: range-
            # repartition so each task (-> each data file) owns a
            # DISJOINT slice of the cluster-key space, then sort inside
            # it. Parquet footers then carry tight, non-overlapping
            # min/max stats on the cluster keys, so a reader's pushed
            # range predicate skips whole files/row groups instead of
            # scanning everything — the local analog of Iceberg's
            # write.sort-order (iceberg_ddl) and the reference's
            # MergeTree ORDER BY (storage/clickhouse.go:58,77). The
            # range exchange samples the keys, so skew cannot pin one
            # file with the whole table.
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
                *cluster_by
            )
        commit_dir = os.path.join(self._data_dir(name), uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(commit_dir)
        files = []
        for root, _dirs, fnames in os.walk(commit_dir):
            for fn in fnames:
                if fn.endswith(".parquet"):
                    files.append(os.path.join(root, fn))
        return sorted(files)

    # -- operations -----------------------------------------------------
    def append(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        summary: dict | None = None,
        cluster_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        cluster_mode: str = "linear",
    ) -> int:
        """Stage parquet then atomically publish a new snapshot.
        ``bloom_cols``: build per-file bloom filters on these columns
        (point-lookup file skipping on columns the layout is not
        clustered by — see _collect_file_blooms). ``cluster_mode``:
        "linear" (lexicographic range+sort) or "zorder" (Morton curve
        — multi-column pruning, functions/zorder.py)."""
        new_files = self._stage_write(
            df, name, partition_by, cluster_by, cluster_mode
        )
        new_group = {"base": self._data_dir(name), "files": new_files}
        if cluster_by:
            stats = _collect_file_stats(new_files, cluster_by)
            if stats:
                new_group["stats"] = stats
        if bloom_cols:
            blooms = _collect_file_blooms(new_files, bloom_cols)
            if blooms:
                new_group["blooms"] = {
                    "path": self._write_bloom_sidecar(name, blooms),
                    "cols": bloom_cols,
                }
        # prev-groups read + commit under ONE lock hold: two concurrent
        # appenders both reading prev=N would each publish groups
        # missing the other's files (lost append). Staging (the Spark
        # job) stays outside — only the metadata RMW serializes.
        with _COMMIT_LOCK:
            prev = self.last_snapshot_id(name)
            prev_groups = self._groups(name, prev) if prev else []
            groups = prev_groups + [new_group]
            sid = self._commit(
                name, groups, "append", summary or {},
                schema_json=df.schema.json(),
            )
            # invalidate AFTER publish, still inside the lock: a
            # confirm serialized behind this commit then re-scans the
            # NEW head; invalidating before publish (or outside the
            # lock) lets a confirm racing the commit re-cache a
            # verdict for the superseded snapshot.
            _invalidate_partitioned_cache(self.warehouse, name)
            return sid

    def append_external(
        self,
        name: str,
        files: list[str],
        base_path: str,
        summary: dict | None = None,
        schema_json: str | None = None,
    ) -> int:
        """Append already-written parquet files (e.g. one category's
        directory out of a single ``partitionBy`` staging write) without
        rewriting them — the Iceberg add_files / metadata-only append.
        ``base_path`` is the staging root, so partition-dir columns
        (``category=<c>``) are recovered at read time. ``schema_json``
        is the writer's schema (``df.schema.json()``, partition columns
        included), recorded as ``append`` records it; without it the
        predecessor's schema carries forward."""
        with _COMMIT_LOCK:  # prev-groups read + commit: one RMW (see append)
            prev = self.last_snapshot_id(name)
            prev_groups = self._groups(name, prev) if prev else []
            groups = prev_groups + [{"base": base_path, "files": sorted(files)}]
            sid = self._commit(
                name, groups, "append", summary or {},
                schema_json=schema_json or self._schema_json_at(name, prev),
            )
            _invalidate_partitioned_cache(self.warehouse, name)  # after publish (see append)
            return sid

    def overwrite_from_files(
        self,
        name: str,
        files: list[str],
        base_path: str,
        summary: dict | None = None,
        schema_json: str | None = None,
    ) -> int:
        """Replace the table's content with already-written parquet
        files (same arguments as :meth:`append_external`) without
        rewriting them. Unlike ``append_external`` the table takes the
        files over: each moves (a rename) to the same path below a new
        directory of the table's data dir, so once a later snapshot
        supersedes them ``expire_snapshots`` deletes them, and a crash
        before the commit leaves orphans ``remove_orphan_files``
        reclaims."""
        root = os.path.join(self._data_dir(name), uuid.uuid4().hex)
        moved = []
        for f in sorted(files):
            dst = os.path.join(root, os.path.relpath(f, base_path))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(f, dst)
            moved.append(dst)
        with _COMMIT_LOCK:
            sid = self._commit(
                name, [{"base": root, "files": moved}],
                "overwrite", summary or {}, schema_json=schema_json,
            )
            _invalidate_partitioned_cache(self.warehouse, name)  # after publish (see append)
            return sid

    def overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        summary: dict | None = None,
        cluster_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        cluster_mode: str = "linear",
    ) -> int:
        new_files = self._stage_write(
            df, name, partition_by, cluster_by, cluster_mode
        )
        groups = [{"base": self._data_dir(name), "files": new_files}]
        if cluster_by:
            stats = _collect_file_stats(new_files, cluster_by)
            if stats:
                groups[0]["stats"] = stats
        if bloom_cols:
            blooms = _collect_file_blooms(new_files, bloom_cols)
            if blooms:
                groups[0]["blooms"] = {
                    "path": self._write_bloom_sidecar(name, blooms),
                    "cols": bloom_cols,
                }
        with _COMMIT_LOCK:
            sid = self._commit(
                name, groups, "overwrite", summary or {},
                schema_json=df.schema.json(),
            )
            _invalidate_partitioned_cache(self.warehouse, name)  # after publish (see append)
            return sid

    def overwrite_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_by: str,
        partition_values: list[str],
        summary: dict | None = None,
    ) -> int:
        """MERGE-shaped partition-scoped overwrite (Iceberg's dynamic
        partition overwrite / ``MERGE INTO`` analog): replace ONLY the
        named partition directories; every data file outside them
        carries over into the new snapshot untouched — a metadata-only
        operation for the unchanged partitions. This is what keeps a
        streaming upsert O(changed partitions) instead of O(table):
        rewriting the whole table per micro-batch re-writes all of
        history to touch a handful of windows.

        ``df`` must contain exactly the merged content of the touched
        partitions (partition column included) — enforced: a staged
        file landing OUTSIDE the named partitions would otherwise be
        committed alongside the same partition's carried-over old
        files, silently double-counting its rows at read."""
        _check_partition_values(partition_by, partition_values)
        new_files = self._stage_write(df, name, [partition_by])
        tokens = {f"{partition_by}={v}" for v in partition_values}
        stray = {
            part
            for f in new_files
            for part in f.split(os.sep)
            if part.startswith(f"{partition_by}=") and part not in tokens
        }
        if stray:
            raise ValueError(
                f"overwrite_partitions({name}): df contains partitions "
                f"{sorted(stray)} not listed in partition_values "
                f"{sorted(tokens)} — committing them would double-count "
                "against the carried-over files of the same partitions"
            )

        def untouched(path: str) -> bool:
            return not any(t in path.split(os.sep) for t in tokens)

        with _COMMIT_LOCK:  # prev-groups read + commit: one RMW (see append)
            prev = self.last_snapshot_id(name)
            prev_groups = self._groups(name, prev) if prev else []
            kept = []
            for g in prev_groups:
                keep_files = [f for f in g["files"] if untouched(f)]
                if not keep_files:
                    continue
                kg = {"base": g["base"], "files": keep_files}
                # carry manifest stats for the files that carry over —
                # dropping them would only disable pruning, but a
                # metadata-only operation shouldn't lose metadata
                keep_stats = {
                    f: s for f, s in g.get("stats", {}).items() if f in set(keep_files)
                }
                if keep_stats:
                    kg["stats"] = keep_stats
                kept.append(kg)
            groups = kept + [{"base": self._data_dir(name), "files": new_files}]
            sid = self._commit(
                name, groups, "overwrite_partitions", summary or {},
                schema_json=df.schema.json(),
            )
            # after publish (see append). Staged files are guaranteed
            # under partition_by= dirs (the stray check), so the
            # verdict for THIS column survives; any other column's
            # cached verdict may no longer hold.
            _invalidate_partitioned_cache(
                self.warehouse, name, keep_partition_by=partition_by
            )
            return sid

    def read_partitions(
        self,
        spark: SparkSession,
        name: str,
        partition_by: str,
        partition_values: list[str],
    ) -> DataFrame | None:
        """Read only the named partition directories of the latest
        snapshot (file-list pruning in the catalog layer — no data
        outside the touched partitions is listed, opened, or scanned).
        Returns None when no committed file belongs to them."""
        _check_partition_values(partition_by, partition_values)
        sid = self.last_snapshot_id(name)
        if sid is None:
            return None
        tokens = {f"{partition_by}={v}" for v in partition_values}
        groups = [
            {
                "base": g["base"],
                "files": [
                    f for f in g["files"] if any(t in f.split(os.sep) for t in tokens)
                ],
            }
            for g in self._groups(name, sid)
        ]
        groups = [g for g in groups if g["files"]]
        if not groups:
            return None
        return self._read_groups(spark, groups, self._schema_json_at(name, sid))

    def stats_pruned_files(
        self,
        name: str,
        column: str,
        points: list | None = None,
        ranges: list[tuple] | None = None,
    ) -> tuple[list[dict], int]:
        """File-level pruning from COMMITTED manifest stats (the
        Iceberg manifest min/max analog): keep a data file iff any of
        ``points`` falls inside its [min, max] for ``column`` or any
        query ``(lo, hi)`` range overlaps it (``hi=None`` = unbounded
        above), or the file carries no stats for it (unknown ->
        unprunable -> kept: pruning may only ever remove files PROVEN
        irrelevant — so is any type mismatch between query and stats).
        Datetime query values compare as UTC epoch micros, matching
        how timestamp stats are recorded. Returns (pruned groups,
        total committed file count) — metadata only, zero footer or
        data IO.

        Sound for clustered writes because ``cluster_by`` staging
        range-repartitions + sorts, so each file's [min, max] is tight
        and the set of files containing value v is exactly the set
        whose range covers v.

        When the commit recorded bloom filters for ``column``
        (bloom_cols= at write time), ``points`` additionally prune
        through them: a file is dropped when NO query point can be in
        its bloom AND no range keeps it — exact-lookup skipping on
        columns the layout is NOT clustered by, where min/max spans
        the domain and prunes nothing (the Iceberg Puffin shape).
        Blooms only ever prove absence, so pruning stays sound; a
        false positive costs one wasted file read."""
        sid = self.last_snapshot_id(name)
        if sid is None:
            raise SnapshotError(f"table {name!r} has no snapshots")
        if not points and not ranges:
            raise ValueError(
                "stats_pruned_files: need at least one point or range "
                "(an unconstrained read is just read())"
            )
        pts = [_stat_key(p) for p in (points or [])]
        rgs = [
            (_stat_key(lo) if lo is not None else None,
             _stat_key(hi) if hi is not None else None)
            for lo, hi in (ranges or [])
        ]
        if any(p is None for p in pts):
            # a query value we can't compare to manifest stats means we
            # can't PROVE any file irrelevant -> no pruning at all
            pts, rgs = [], [(None, None)]

        def range_keeps(rng) -> bool:
            try:
                for lo, hi in rgs:
                    if (lo is None or lo <= rng[1]) and (hi is None or hi >= rng[0]):
                        return True
            except TypeError:
                return True  # incomparable types -> never prune
            return False

        def points_in_range(rng) -> list:
            try:
                return [p for p in pts if rng[0] <= p <= rng[1]]
            except TypeError:
                return pts  # incomparable -> can't narrow

        from logzilla_spark.functions.bloom import bloom_may_contain

        groups, total = [], 0
        for g in self._groups(name, sid):
            total += len(g["files"])
            stats = g.get("stats", {})
            bmeta = g.get("blooms")
            sidecar = (
                self._load_bloom_sidecar(bmeta["path"])
                if pts and bmeta and column in bmeta.get("cols", [])
                else {}
            )
            kept = []
            for f in g["files"]:
                rng = stats.get(f, {}).get(column)
                if rng is None:
                    # no min/max: ranges can't prune; points fall
                    # through to the bloom (if any)
                    keep_by_range = bool(rgs)
                    candidates = pts
                else:
                    keep_by_range = range_keeps(rng)
                    candidates = points_in_range(rng)
                if not keep_by_range:
                    bloom = sidecar.get(f, {}).get(column)
                    if bloom is not None:
                        candidates = [
                            p for p in candidates if bloom_may_contain(bloom, p)
                        ]
                    if not candidates:
                        continue
                kept.append(f)
            if kept:
                groups.append({"base": g["base"], "files": kept})
        return groups, total

    def read_stats_pruned(
        self,
        spark: SparkSession,
        name: str,
        column: str,
        points: list | None = None,
        ranges: list[tuple] | None = None,
    ) -> DataFrame | None:
        """Read the latest snapshot restricted to files whose manifest
        [min, max] on ``column`` can contain one of ``points`` or
        overlap one of ``ranges`` (see stats_pruned_files). None when
        every committed file is proven irrelevant."""
        groups, _total = self.stats_pruned_files(name, column, points, ranges)
        if not groups:
            return None
        return self._read_groups(
            spark, groups, self._schema_json_at(name, self.last_snapshot_id(name))
        )

    def read_layout_split(
        self, spark: SparkSession, name: str, partition_by: str
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """Latest snapshot split by layout: (files under a
        ``partition_by=`` directory, files outside one). Each side reads
        with its own schema — the legacy side has no recovered partition
        column — so callers can reconcile them instead of tripping over
        a mixed-schema union. Either side is None when empty."""
        sid = self.last_snapshot_id(name)
        if sid is None:
            return None, None
        pref = partition_by + "="

        def in_layout(f: str) -> bool:
            return any(part.startswith(pref) for part in f.split(os.sep))

        part_groups, legacy_groups = [], []
        for g in self._groups(name, sid):
            p = [f for f in g["files"] if in_layout(f)]
            l = [f for f in g["files"] if not in_layout(f)]
            if p:
                part_groups.append({"base": g["base"], "files": p})
            if l:
                legacy_groups.append({"base": g["base"], "files": l})
        return (
            self._read_groups(spark, part_groups) if part_groups else None,
            self._read_groups(spark, legacy_groups) if legacy_groups else None,
        )

    def has_unpartitioned_files(self, name: str, partition_by: str) -> bool:
        """True when the latest snapshot holds any data file NOT under a
        ``partition_by=<v>`` directory — i.e. the table predates the
        partitioned layout and a partition-scoped overwrite would
        silently carry its files forever (and clash on schema). Callers
        use this to trigger a one-time full-rewrite migration."""
        sid = self.last_snapshot_id(name)
        if sid is None:
            return False
        pref = partition_by + "="
        return any(
            not any(part.startswith(pref) for part in f.split(os.sep))
            for g in self._groups(name, sid)
            for f in g["files"]
        )

    def confirmed_fully_partitioned(self, name: str, partition_by: str) -> bool:
        """has_unpartitioned_files == False, cached per process once it
        holds for an EXISTING table (a nonexistent table is not cached:
        a legacy writer could still create it unpartitioned). drop()
        invalidates, so a dropped-and-recreated legacy table is
        re-checked instead of silently skipping its migration.

        Scan + cache run under _COMMIT_LOCK: unlocked, a confirm that
        scanned snapshot N could be overtaken by a writer committing
        unpartitioned files at N+1 (which invalidates an empty cache)
        and then cache its stale fully-partitioned verdict — after
        which streaming upserts would skip the legacy migration and
        double-count the unpartitioned files. Serialized, the verdict
        always describes the head snapshot at cache time and every
        later commit's invalidation runs after it."""
        key = (self.warehouse, name, partition_by)
        with _COMMIT_LOCK:
            if key in _FULLY_PARTITIONED:
                return True
            if self.has_unpartitioned_files(name, partition_by):
                return False
            if self.exists(name):
                _FULLY_PARTITIONED.add(key)
            return True

    def exists(self, name: str) -> bool:
        return self.last_snapshot_id(name) is not None

    # -- maintenance ----------------------------------------------------
    def partition_file_counts(self, name: str, partition_by: str) -> dict[str, int]:
        """{partition value: committed data-file count} at the head
        snapshot — the fragmentation map a maintenance loop consults.
        Files outside any ``partition_by=`` directory land under ''."""
        sid = self.last_snapshot_id(name)
        if sid is None:
            return {}
        pref = partition_by + "="
        counts: dict[str, int] = {}
        for g in self._groups(name, sid):
            for f in g["files"]:
                val = next(
                    (p[len(pref):] for p in f.split(os.sep) if p.startswith(pref)),
                    "",
                )
                counts[val] = counts.get(val, 0) + 1
        return counts

    def drop_partitions(
        self,
        name: str,
        partition_by: str,
        partition_values: list[str],
        summary: dict | None = None,
    ) -> int:
        """METADATA-ONLY partition drop (Iceberg ``DROP PARTITION`` /
        ``DELETE WHERE`` on a partition boundary): publish a snapshot
        whose file list simply omits every data file under the named
        ``partition_by=<v>`` directories. No data is read, rewritten,
        or deleted — at 100 TB this is the difference between an O(1)
        manifest commit and a table-sized copy-on-write pass, which is
        why log stores enforce retention on partition boundaries.
        Dropped files stay on disk for time travel until
        expire_snapshots (history) + remove_orphan_files reclaim them.

        Fail-closed on legacy layouts: a table holding files OUTSIDE
        any ``partition_by=`` directory raises — those files can hold
        rows belonging to the dropped range, and a "successful"
        retention sweep that silently retains them is worse than a
        loud one."""
        _check_partition_values(partition_by, partition_values)
        tokens = {f"{partition_by}={v}" for v in partition_values}

        def doomed(path: str) -> bool:
            return any(t in path.split(os.sep) for t in tokens)

        with _COMMIT_LOCK:  # prev-groups read + commit: one RMW (see append)
            prev = self.last_snapshot_id(name)
            if prev is None:
                raise SnapshotError(f"table {name!r} has no committed snapshot")
            if self.has_unpartitioned_files(name, partition_by):
                raise ValueError(
                    f"drop_partitions({name}): table has data files outside "
                    f"any {partition_by}= directory — a partition drop "
                    "cannot bound what they contain; migrate (full rewrite "
                    "partitioned by the retention column) first"
                )
            kept = []
            for g in self._groups(name, prev):
                keep_files = [f for f in g["files"] if not doomed(f)]
                if not keep_files:
                    continue
                kg = {"base": g["base"], "files": keep_files}
                keep_stats = {
                    f: s for f, s in g.get("stats", {}).items() if f in set(keep_files)
                }
                if keep_stats:
                    kg["stats"] = keep_stats
                if g.get("blooms"):
                    # sidecar entries for dropped files are simply unused
                    kg["blooms"] = g["blooms"]
                kept.append(kg)
            # no cache invalidation needed: a drop only REMOVES files,
            # so any cached fully-partitioned verdict (for any column)
            # still holds on the new head.
            return self._commit(
                name,
                kept,
                "drop_partitions",
                summary or {"dropped_partitions": sorted(partition_values)},
                schema_json=self._schema_json_at(name, prev),
            )

    def expire_partitions_before(
        self,
        name: str,
        partition_by: str,
        cutoff: str,
        summary: dict | None = None,
    ) -> tuple[int | None, list[str]]:
        """Retention sweep (TTL): drop every committed partition whose
        value sorts strictly before ``cutoff`` — correct for the
        zero-padded date/month tokens the sinks write (lexicographic ==
        chronological; that invariant is the caller's, documented, not
        checked). Returns ``(snapshot_id or None, dropped values)``;
        no-op (None, []) when nothing is old enough. A partition value
        appended between the scan and the drop commit waits for the
        next sweep — retention is periodic by nature."""
        counts = self.partition_file_counts(name, partition_by)
        doomed = sorted(v for v in counts if v and v < cutoff)
        if not doomed:
            if "" in counts:
                raise ValueError(
                    f"expire_partitions_before({name}): unpartitioned data "
                    f"files present — retention by {partition_by} cannot "
                    "bound their contents"
                )
            return None, []
        sid = self.drop_partitions(
            name,
            partition_by,
            doomed,
            summary
            or {"retention_cutoff": cutoff, "dropped_partitions": doomed},
        )
        return sid, doomed

    def fragmented_partitions(
        self, name: str, partition_by: str, min_files: int = 8
    ) -> list[str]:
        """Partition values holding >= ``min_files`` data files —
        the compaction-worthy set (streaming upserts add at least one
        file per touched partition per epoch, so sink fragmentation
        grows with epoch count until compacted)."""
        return sorted(
            v
            for v, n in self.partition_file_counts(name, partition_by).items()
            if v and n >= min_files
        )

    def _committed_bytes(
        self, name: str, partition_by: str | None, partition_values: list[str] | None
    ) -> int:
        sid = self.last_snapshot_id(name)
        if sid is None:
            return 0
        tokens = (
            {f"{partition_by}={v}" for v in partition_values}
            if partition_by and partition_values
            else None
        )
        total = 0
        for g in self._groups(name, sid):
            for f in g["files"]:
                if tokens and not any(t in f.split(os.sep) for t in tokens):
                    continue
                try:
                    total += os.path.getsize(f)
                except OSError:
                    pass
        return total

    def compact(
        self,
        spark: SparkSession,
        name: str,
        partition_by: str | None = None,
        partition_values: list[str] | None = None,
        cluster_by: list[str] | None = None,
        summary: dict | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Rewrite many small data files into few (Iceberg's
        rewrite_data_files analog): read the head snapshot (or only the
        named partitions), re-stage with natural AQE file sizing —
        optionally re-clustered via ``cluster_by`` — and publish
        atomically. Content is unchanged; history is preserved
        (rollback to the pre-compaction snapshot still works — old
        data files are never deleted by this operation).

        Concurrency: the COMMIT is atomic, but read-rewrite-commit is
        not one critical section — callers compacting a table that a
        live writer upserts must serialize with that writer's lock
        (streaming.maintenance.compact_table does). With
        ``partition_values`` the rewrite touches only those partitions;
        all other files carry over metadata-only."""
        summary = {"compacted": True, **(summary or {})}
        # no shuffle between read and write means AQE never resizes the
        # output — target the file count explicitly from committed
        # bytes (the rewrite_data_files target-file-size knob)
        n_out = max(
            1,
            -(-self._committed_bytes(name, partition_by, partition_values)
              // int(target_file_bytes)),
        )
        if partition_by and partition_values:
            df = self.read_partitions(spark, name, partition_by, partition_values)
            if df is None:
                raise SnapshotError(
                    f"compact({name}): no files in partitions {partition_values}"
                )
            # partition inference may read the column back as int;
            # overwrite_partitions stages by string tokens. Hash-
            # repartition on the partition column so each value's rows
            # land in few tasks (files/partition ~ 1 at the target
            # size) instead of every task writing into every dir.
            df = df.withColumn(
                partition_by, F.col(partition_by).cast("string")
            ).repartition(max(n_out, len(partition_values)), partition_by)
            return self.overwrite_partitions(
                df, name, partition_by, partition_values, summary=summary
            )
        df = self.read(spark, name)
        if not cluster_by:  # cluster_by already range-repartitions
            df = df.repartition(n_out)
        return self.overwrite(
            df,
            name,
            partition_by=[partition_by] if partition_by else None,
            cluster_by=cluster_by,
            summary=summary,
        )

    # -- row-level DML (copy-on-write) -----------------------------------
    def _scan_files_with_path(
        self, spark: SparkSession, groups: list[dict], schema_json: str | None,
        columns: list[str] | None = None,
    ) -> DataFrame | None:
        """Scan ``groups`` with the hidden ``_metadata.file_path``
        surfaced as ``__file``. The metadata column only resolves on
        the scan relation itself, so it is selected per-group BEFORE
        the union (selecting it on the unioned frame fails)."""
        schema = _explicit_schema(schema_json)
        out = None
        for g in groups:
            if not g["files"]:
                continue
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            d = reader.option("basePath", g["base"]).parquet(*g["files"])
            sel = [F.col(c) for c in columns] if columns is not None else [F.col("*")]
            d = d.select(*sel, F.col("_metadata.file_path").alias("__file"))
            out = d if out is None else out.unionByName(d)
        return out

    def _stat_columns(self, groups: list[dict]) -> list[str]:
        """Columns any committed file carries manifest stats for — a
        rewrite collects stats for its replacement files on the same
        columns so file pruning survives row-level DML."""
        return sorted({
            c for g in groups for s in g.get("stats", {}).values() for c in s
        })

    def _commit_rewrite(
        self,
        name: str,
        head_sid: int,
        groups: list[dict],
        dirty: set[str],
        staged: DataFrame,
        operation: str,
        summary: dict,
        schema_json: str | None,
    ) -> int:
        """Stage the rewritten content of the ``dirty`` files and
        publish: every file NOT in ``dirty`` carries over metadata-only
        (stats included); the commit validates the head is still
        ``head_sid`` (optimistic concurrency — a concurrent commit's
        files would otherwise be silently dropped) and raises
        CommitConflictError to ask for a retry."""
        dirty_files = sorted(dirty)
        part_cols = _partition_dir_columns(dirty_files)
        if part_cols:
            # normalize dir tokens via string staging (compact
            # precedent); committed schema below stays the table's, so
            # reads cast dir values back to the declared types
            staged = staged.select(
                *[F.col(c).cast("string") if c in set(part_cols) else F.col(c)
                  for c in staged.columns]
            )
        new_files = self._stage_write(staged, name, part_cols or None)
        new_group: dict = {"base": self._data_dir(name), "files": new_files}
        stat_cols = self._stat_columns(groups)
        if stat_cols and new_files:
            stats = _collect_file_stats(new_files, stat_cols)
            if stats:
                new_group["stats"] = stats
        with _COMMIT_LOCK:
            if self.last_snapshot_id(name) != head_sid:
                raise CommitConflictError(
                    f"{operation}({name}): head advanced past snapshot "
                    f"{head_sid} during the rewrite — retry against the "
                    "new head"
                )
            kept = []
            for g in groups:
                keep_files = [f for f in g["files"] if f not in dirty]
                if not keep_files:
                    continue
                kg: dict = {"base": g["base"], "files": keep_files}
                keep_stats = {
                    f: s for f, s in g.get("stats", {}).items()
                    if f in set(keep_files)
                }
                if keep_stats:
                    kg["stats"] = keep_stats
                kept.append(kg)
            if new_files:
                kept.append(new_group)
            sid = self._commit(
                name, kept, operation, summary, schema_json=schema_json
            )
            _invalidate_partitioned_cache(self.warehouse, name)  # after publish
            return sid

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        condition: str,
        prune_column: str | None = None,
        prune_points: list | None = None,
        prune_ranges: list[tuple] | None = None,
        summary: dict | None = None,
    ) -> int:
        """Row-level ``DELETE FROM name WHERE condition`` with Iceberg
        copy-on-write semantics: rewrite ONLY the data files that
        actually contain matching rows; every other file carries into
        the new snapshot metadata-only. SQL DELETE semantics — rows
        where ``condition`` is NULL are RETAINED (only condition IS
        TRUE deletes). History is preserved (time travel to the
        pre-delete snapshot still sees the rows; rollback undoes).

        Candidate narrowing is two-stage: (1) when the caller supplies
        ``prune_column`` + points/ranges bounding the condition, the
        committed manifest stats prune the candidate file list with
        ZERO data IO (clustered tables: a tight-range delete touches
        only the overlapping files); (2) one distributed pass over the
        candidates finds the files with >= 1 matching row (the collect
        is the distinct FILE LIST — metadata-scale, never rows). A
        no-match delete publishes nothing and returns the head id.

        At 100 TB this is the takedown/GDPR path: the cost is
        O(matching files rewritten), not O(table)."""
        head_sid = self.last_snapshot_id(name)
        if head_sid is None:
            raise SnapshotError(f"table {name!r} has no committed snapshot")
        groups = self._groups(name, head_sid)
        schema_json = self._schema_json_at(name, head_sid)
        if prune_column and (prune_points or prune_ranges):
            cand_groups, _total = self.stats_pruned_files(
                name, prune_column, prune_points, prune_ranges
            )
        else:
            cand_groups = groups
        cand = self._scan_files_with_path(spark, cand_groups, schema_json)
        dirty: set[str] = set()
        if cand is not None:
            dirty = {
                _local_path(r["__file"])
                for r in cand.where(condition).select("__file").distinct().collect()
            }
        if not dirty:
            return head_sid
        dirty_groups = [
            {"base": g["base"], "files": [f for f in g["files"] if f in dirty]}
            for g in groups
            if any(f in dirty for f in g["files"])
        ]
        retained = self._read_groups(spark, dirty_groups, schema_json).where(
            ~F.coalesce(F.expr(condition), F.lit(False))
        )
        return self._commit_rewrite(
            name, head_sid, groups, dirty, retained, "delete",
            {"condition": condition, "rewritten_files": len(dirty),
             **(summary or {})},
            schema_json,
        )

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        name: str,
        keys: list[str],
        order_col: str | None = None,
        summary: dict | None = None,
    ) -> int:
        """``MERGE INTO name USING source ON keys WHEN MATCHED THEN
        UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — Iceberg
        copy-on-write: only files containing a matched key are
        rewritten; everything else carries metadata-only. Default is
        source-wins (the MERGE above); with ``order_col`` the NEWEST
        row per key wins (recrawl keep-newest — a source row older than
        the committed row leaves it in place; ties go to the source).
        ``keys`` and ``order_col`` must be non-NULL in both sides —
        NULL never equals NULL under MERGE's ON, so NULL-keyed rows
        would silently always insert; require the caller to clean them.

        Dirty-file detection is stats-first: the source's [min, max] on
        ``keys[0]`` prunes the candidate list from committed manifest
        stats (clustered tables: a recrawl batch of recent ids touches
        only the tail files), then one distributed semi-join on the
        keys finds the files actually holding matches (collect =
        distinct file list, metadata-scale). The staged rewrite is the
        retained rows of dirty files plus the whole source — brand-new
        keys insert through the same append."""
        head_sid = self.last_snapshot_id(name)
        if head_sid is None:
            raise SnapshotError(f"table {name!r} has no committed snapshot")
        groups = self._groups(name, head_sid)
        schema_json = self._schema_json_at(name, head_sid)
        source = source.persist()  # consumed by detection AND the rewrite
        try:
            bounds = source.agg(
                F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
            ).first()
            if bounds["lo"] is not None and keys[0] in self._stat_columns(groups):
                cand_groups, _ = self.stats_pruned_files(
                    name, keys[0], ranges=[(bounds["lo"], bounds["hi"])]
                )
            else:
                cand_groups = groups
            src_keys = source.select(*keys).distinct()
            cand = self._scan_files_with_path(
                spark, cand_groups, schema_json, columns=keys
            )
            dirty: set[str] = set()
            if cand is not None:
                dirty = {
                    _local_path(r["__file"])
                    for r in cand.join(src_keys, on=keys, how="left_semi")
                    .select("__file").distinct().collect()
                }
            dirty_groups = [
                {"base": g["base"], "files": [f for f in g["files"] if f in dirty]}
                for g in groups
                if any(f in dirty for f in g["files"])
            ]
            cols = [
                f.name for f in (_explicit_schema(schema_json) or source.schema)
            ]
            target_rows = (
                self._read_groups(spark, dirty_groups, schema_json).select(*cols)
                if dirty_groups else None
            )
            src = source.select(*cols)
            if order_col is None:
                staged = src if target_rows is None else (
                    target_rows.join(src_keys, on=keys, how="left_anti")
                    .unionByName(src)
                )
            else:
                # keep-newest: fold both sides through ONE max_by agg —
                # (order_col, is_source) orders ties toward the source;
                # unmatched rows are singleton groups and pass through
                both = src.withColumn("__src", F.lit(1))
                if target_rows is not None:
                    both = target_rows.withColumn("__src", F.lit(0)).unionByName(both)
                staged = (
                    both.groupBy(*keys)
                    .agg(F.max_by(
                        F.struct(*[c for c in cols if c not in set(keys)]),
                        F.struct(F.col(order_col), F.col("__src")),
                    ).alias("__r"))
                    .select(*keys, "__r.*")
                    .select(*cols)
                )
            return self._commit_rewrite(
                name, head_sid, groups, dirty, staged, "merge",
                {"keys": keys, "rewritten_files": len(dirty),
                 **(summary or {})},
                schema_json,
            )
        finally:
            source.unpersist()

    # -- maintenance: expiration + orphan cleanup -------------------------
    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 1,
        keep_ids: list[int] | None = None,
    ) -> dict:
        """Iceberg expire_snapshots: drop snapshot manifests older than
        the newest ``keep_last`` (the head is always kept; ``keep_ids``
        pins extra snapshots, e.g. a rollback target), then delete data
        files referenced ONLY by expired snapshots. This is what bounds
        disk under copy-on-write churn — compaction/DELETE/MERGE never
        delete the files they replace, so history grows until expired.

        Crash-safe ordering: manifests are removed BEFORE their
        now-dead files — a crash in between leaves orphaned files
        (reclaimed by remove_orphan_files), never a kept manifest
        pointing at deleted data. Files outside the table's own data
        dir (append_external) are never deleted — the catalog does not
        own them; they are returned in ``external_skipped`` for the
        caller. Time travel to an expired id raises SnapshotError."""
        with _COMMIT_LOCK:
            ids = self.snapshot_ids(name)
            if not ids:
                raise SnapshotError(f"table {name!r} has no committed snapshot")
            keep = set(ids[-max(keep_last, 1):]) | (set(keep_ids or []) & set(ids))
            expired = [i for i in ids if i not in keep]
            if not expired:
                return {"expired": [], "deleted_files": 0, "external_skipped": []}
            live = {
                f for i in keep for g in self._groups(name, i) for f in g["files"]
            }
            live_sidecars = {
                g["blooms"]["path"]
                for i in keep
                for g in self._groups(name, i)
                if g.get("blooms")
            }
            data_root = self._data_dir(name) + os.sep
            dead, external, dead_sidecars = set(), set(), set()
            for i in expired:
                for g in self._groups(name, i):
                    b = g.get("blooms")
                    if b and b["path"] not in live_sidecars:
                        dead_sidecars.add(b["path"])
                    for f in g["files"]:
                        if f in live:
                            continue
                        (dead if f.startswith(data_root) else external).add(f)
            for i in expired:
                os.remove(
                    os.path.join(self._snap_dir(name), f"snap-{i:08d}.json")
                )
            deleted = 0
            for f in sorted(dead):
                try:
                    os.remove(f)
                    deleted += 1
                except OSError:
                    pass
            # bloom sidecars referenced only by expired snapshots go
            # with them (same manifests-first crash ordering: a crash
            # above leaves orphaned sidecars, never a kept manifest
            # pointing at a deleted one)
            for p in sorted(dead_sidecars):
                _BLOOM_SIDECAR_CACHE.pop(p, None)
                try:
                    os.remove(p)
                except OSError:
                    pass
            self._prune_empty_staging_dirs(name)
            return {
                "expired": expired,
                "deleted_files": deleted,
                "external_skipped": sorted(external),
            }

    def remove_orphan_files(
        self, name: str, older_than_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data files under the table's data dir referenced by
        NO snapshot (crash leftovers: _stage_write ran, the commit
        never published) — Iceberg's remove_orphan_files. The age guard
        protects a concurrent writer's in-flight staging (freshly
        staged files are not yet referenced either); deletions happen
        under the commit lock so a commit cannot publish a file this
        scan is deciding about."""
        import time

        with _COMMIT_LOCK:
            referenced: set[str] = set()
            sidecars: set[str] = set()
            for i in self.snapshot_ids(name):
                for g in self._groups(name, i):
                    referenced.update(g["files"])
                    if g.get("blooms"):
                        sidecars.add(g["blooms"]["path"])
            cutoff = time.time() - older_than_seconds
            removed = []
            roots = [self._data_dir(name)]
            if os.path.isdir(self._blooms_dir(name)):
                # crash-staged bloom sidecars (written before a commit
                # that never published) age out under the same guard
                roots.append(self._blooms_dir(name))
            for r in roots:
                for root, _dirs, fnames in os.walk(r):
                    for fn in fnames:
                        p = os.path.join(root, fn)
                        if p in referenced or p in sidecars:
                            continue
                        try:
                            if os.path.getmtime(p) <= cutoff:
                                os.remove(p)
                                removed.append(p)
                                _BLOOM_SIDECAR_CACHE.pop(p, None)
                        except OSError:
                            pass
            self._prune_empty_staging_dirs(name)
            return sorted(removed)

    def _prune_empty_staging_dirs(self, name: str) -> None:
        data = self._data_dir(name)
        if not os.path.isdir(data):
            return
        for root, dirs, files in os.walk(data, topdown=False):
            if root != data and not dirs and not files:
                try:
                    os.rmdir(root)
                except OSError:
                    pass

    def snapshot_summary(self, name: str, snapshot_id: int) -> dict:
        return self._load_snapshot(name, snapshot_id).get("summary", {})

    def tables(self) -> list[str]:
        """Names of tables with at least one committed snapshot."""
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(
            n
            for n in os.listdir(self.warehouse)
            if os.path.isdir(self._snap_dir(n))
            and self.last_snapshot_id(n) is not None
        )

    def table_status(self, name: str) -> dict:
        """Metadata-only table summary (no Spark job): head snapshot,
        snapshot count, head operation, live file count/bytes, and the
        exactly-once committed-map keys. Bytes come from one stat per
        LIVE file — driver-side manifest-walk cost, O(files); a real
        Iceberg deployment reads file sizes straight out of manifests,
        which is where these would live at 100 TB."""
        sid = self.last_snapshot_id(name)
        if sid is None:
            raise SnapshotError(f"table {name!r} has no committed snapshot")
        manifest = self._load_snapshot(name, sid)
        files = [f for g in self._groups(name, sid) for f in g["files"]]
        total = 0
        for f in files:
            try:
                total += os.path.getsize(f)
            except OSError:
                pass
        summary = manifest.get("summary") or {}
        return {
            "table": name,
            "head_snapshot_id": sid,
            "snapshots": len(self.snapshot_ids(name)),
            "operation": manifest.get("operation"),
            "files": len(files),
            "bytes": total,
            "committed_queries": sorted(summary.get("committed", {})),
        }

    def rollback(self, name: str, to_snapshot_id: int) -> int:
        """Publish a new snapshot whose state equals ``to_snapshot_id``
        (Iceberg rollback analog). Used by checkpoint-resume to drop
        commits from a run that died before its checkpoint was written."""
        with _COMMIT_LOCK:
            sid = self._commit(
                name,
                self._groups(name, to_snapshot_id),
                "rollback",
                {"rolled_back_to": to_snapshot_id},
                schema_json=self._schema_json_at(name, to_snapshot_id),
            )
            _invalidate_partitioned_cache(self.warehouse, name)  # after publish (see append)
            return sid

    # -- reads ----------------------------------------------------------
    def _read_groups(
        self,
        spark: SparkSession,
        groups: list[dict],
        schema_json: str | None = None,
    ) -> DataFrame:
        """One frame over ``groups``' files.

        When the snapshot recorded a schema, reads apply it EXPLICITLY
        (Iceberg-style schema evolution): files from before an added
        column fill it with NULL, files carrying a since-dropped column
        ignore it, no footer sampling/inference runs at plan time (no
        Spark job) — the manifest is the source of truth — and the
        columns come in the schema's order.

        With a schema, and every file under the same ``k=v`` partition
        directories below its group's base (or under none), all groups
        are ONE ``spark.read.schema(...).parquet(*files)`` scan and the
        directory values are literal columns (never NULL, so their
        fields read as non-nullable). A scan given a schema takes at
        most ``spark.sql.sources.parallelPartitionDiscovery.threshold``
        files; more are cut into unioned scans of that many (see
        ``_parquet_scans``), so no read launches a job. Otherwise — a snapshot
        that mixes partition values, a value Spark escapes or writes for
        NULL, a directory key the schema lacks, or a legacy manifest
        with no schema (the inference path) — each group is its own scan
        with its own basePath (partition-dir columns recovered relative
        to that base), and the scans are unioned; a column the schema
        lacks comes after the schema's columns.
        """
        from pyspark.sql.types import StructType

        schema = _explicit_schema(schema_json)
        groups = [g for g in groups if g["files"]]
        if not groups:
            raise SnapshotError("snapshot has no data files")
        parts = _shared_partition_dirs(groups) if schema is not None else None
        if parts is not None and set(parts) <= set(schema.names):
            data = StructType([f for f in schema if f.name not in parts])
            df = _parquet_scans(
                spark, spark.read.schema(data),
                [f for g in groups for f in g["files"]],
            )
            return df.select(*[
                F.lit(parts[f.name]).cast(f.dataType).alias(f.name, metadata=f.metadata)
                if f.name in parts else _col(f.name)
                for f in schema
            ])
        out = None
        for g in groups:
            reader = spark.read.option("basePath", g["base"])
            if schema is None:
                df = reader.parquet(*g["files"])
            else:
                df = _parquet_scans(spark, reader.schema(schema), g["files"])
            out = df if out is None else out.unionByName(df)
        if schema is not None:
            out = out.select(*[
                _col(c) for c in
                schema.names + [c for c in out.columns if c not in schema.names]
            ])
        return out

    def read(self, spark: SparkSession, name: str, snapshot_id: int | None = None) -> DataFrame:
        sid = snapshot_id if snapshot_id is not None else self.last_snapshot_id(name)
        if sid is None:
            raise SnapshotError(f"table {name!r} has no committed snapshot")
        return self._read_groups(
            spark, self._groups(name, sid), self._schema_json_at(name, sid)
        )

    def read_incremental(
        self, spark: SparkSession, name: str, after_snapshot_id: int | None
    ) -> DataFrame | None:
        """Rows committed after ``after_snapshot_id`` (None = everything).

        The checkpoint-resume primitive: a resumed run reads only
        not-yet-processed appends (Iceberg incremental scan analog).
        Returns None when there is nothing new.
        """
        head = self.last_snapshot_id(name)
        new_groups = self.incremental_groups(name, after_snapshot_id, head)
        if not new_groups:
            return None
        return self._read_groups(
            spark, new_groups, self._schema_json_at(name, head)
        )

    def incremental_groups(
        self, name: str, after_snapshot_id: int | None, head: int | None = None
    ) -> list[dict]:
        """Snapshot ``head``'s file groups (None = the table's head)
        minus every file ``after_snapshot_id`` held (None = everything):
        what ``read_incremental`` scans, as metadata. Empty when there is
        nothing new."""
        head = head if head is not None else self.last_snapshot_id(name)
        if head is None or head == after_snapshot_id:
            return []
        seen: set[str] = set()
        if after_snapshot_id:
            for g in self._groups(name, after_snapshot_id):
                seen.update(g["files"])
        new_groups = [
            {"base": g["base"], "files": [f for f in g["files"] if f not in seen]}
            for g in self._groups(name, head)
        ]
        return new_groups if any(g["files"] for g in new_groups) else []

    def changes_between(
        self,
        spark: SparkSession,
        name: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots (Delta CDF /
        Iceberg changelog analog, computed from the copy-on-write file
        diff): every column of the TO schema plus ``_change_type`` in
        ('insert', 'delete'); an update surfaces as its delete+insert
        pair, exactly like a CDF with no pre/post-image tracking.

        Copy-on-write makes this delta-scale, never table-scale: only
        files ADDED or REMOVED between the snapshots are read, and
        rows a rewrite merely copied through (the retained rows of a
        delete_where / merge_upsert / compaction rewrite) cancel in
        the multiset difference — a pure compaction yields an EMPTY
        feed. Both sides read under the TO snapshot's schema, so the
        feed is well-typed across schema evolution (added columns
        NULL-backfill in pre-evolution files).

        The two exceptAll passes shuffle the changed-file rows once
        each; at 100 TB that is proportional to the churn between the
        snapshots, which is the best any row-level CDC can do without
        writers logging change files at commit time."""
        to_sid = (
            to_snapshot_id
            if to_snapshot_id is not None
            else self.last_snapshot_id(name)
        )
        if to_sid is None:
            raise SnapshotError(f"table {name!r} has no committed snapshot")
        schema = self._schema_json_at(name, to_sid)

        def _side(own: int, other: int) -> DataFrame | None:
            other_files = {
                f for g in self._groups(name, other) for f in g["files"]
            }
            groups = [
                {
                    "base": g["base"],
                    "files": [f for f in g["files"] if f not in other_files],
                }
                for g in self._groups(name, own)
            ]
            groups = [g for g in groups if g["files"]]
            return self._read_groups(spark, groups, schema) if groups else None

        added = _side(to_sid, from_snapshot_id)
        removed = _side(from_snapshot_id, to_sid)
        base = self.read(spark, name, snapshot_id=to_sid).limit(0)
        cols = base.columns
        if added is not None:
            added = added.select(*cols)
        if removed is not None:
            removed = removed.select(*cols)
        if added is None and removed is None:
            return base.withColumn("_change_type", F.lit("insert")).limit(0)
        if added is None:
            added = base.limit(0)
        if removed is None:
            removed = base.limit(0)
        # exceptAll rejects MAP columns (maps are unordered, so Spark
        # refuses to hash them in set ops). Canonicalize top-level map
        # columns to key-sorted entry arrays around the diff — equal
        # maps become byte-equal arrays regardless of entry order —
        # and restore the map type afterward. Maps nested inside
        # structs/arrays stay unsupported, as in Spark itself.
        from pyspark.sql.types import MapType

        map_cols = [
            f.name for f in base.schema.fields if isinstance(f.dataType, MapType)
        ]

        def _to_entries(df: DataFrame) -> DataFrame:
            for c in map_cols:
                df = df.withColumn(c, F.array_sort(F.map_entries(F.col(c))))
            return df

        def _to_maps(df: DataFrame) -> DataFrame:
            for c in map_cols:
                df = df.withColumn(c, F.map_from_entries(F.col(c)))
            return df.select(*cols, "_change_type")

        added, removed = _to_entries(added), _to_entries(removed)
        inserts = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        return _to_maps(inserts.unionByName(deletes))

    def inserts_between(
        self,
        spark: SparkSession,
        name: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Insert side of the change feed, with an append-only fast path.

        ``from_snapshot_id=0`` means "before the first snapshot" (the
        whole TO state is new). When no file present at FROM was
        removed by TO — pure appends, the standing shape of a streamed
        records table — every row of the added files IS an insert, so
        the result is a plain scan of the new files: no exceptAll, no
        shuffle, delta-sized I/O (this is the tail -f hot loop). Any
        file churn (compaction, DML rewrite, partition drop) falls
        back to the full multiset diff of ``changes_between``, which
        is what keeps a tail exactly-once across maintenance: a pure
        compaction's feed is EMPTY, never a re-delivery."""
        to_sid = (
            to_snapshot_id
            if to_snapshot_id is not None
            else self.last_snapshot_id(name)
        )
        if to_sid is None:
            raise SnapshotError(f"table {name!r} has no committed snapshot")
        from_files = (
            set()
            if from_snapshot_id == 0
            else {
                f
                for g in self._groups(name, from_snapshot_id)
                for f in g["files"]
            }
        )
        to_groups = self._groups(name, to_sid)
        to_files = {f for g in to_groups for f in g["files"]}
        if not from_files <= to_files:
            return (
                self.changes_between(spark, name, from_snapshot_id, to_sid)
                .filter(F.col("_change_type") == "insert")
                .drop("_change_type")
            )
        new_groups = [
            {
                "base": g["base"],
                "files": [f for f in g["files"] if f not in from_files],
            }
            for g in to_groups
        ]
        new_groups = [g for g in new_groups if g["files"]]
        schema = self._schema_json_at(name, to_sid)
        if not new_groups:
            return self.read(spark, name, snapshot_id=to_sid).limit(0)
        return self._read_groups(spark, new_groups, schema)

    def drop(self, name: str) -> None:
        with _COMMIT_LOCK:
            shutil.rmtree(self._tbl(name), ignore_errors=True)
            _invalidate_partitioned_cache(self.warehouse, name)


def iceberg_ddl(catalog: str = "local", db: str = "logzilla") -> dict[str, str]:
    """Equivalent real-Iceberg DDL for a cluster deployment.

    Partition/sort choices mirror the reference MergeTree layout
    (storage/clickhouse.go:57-59,76-78): month partitioning on event
    time, clustering by (source, timestamp).
    """
    fq = f"{catalog}.{db}"
    records_cols = (
        "id string, source string, timestamp timestamp, level string, "
        "message string, metadata map<string,string>, category string, "
        "lang string, parse_ok boolean, url string, warc_ts timestamp"
    )
    ddl = {
        "pages": (
            f"CREATE TABLE IF NOT EXISTS {fq}.pages (url string, warc_ts timestamp, "
            f"html binary, text string, lang string) USING iceberg "
            f"PARTITIONED BY (months(warc_ts))"
        ),
        "metrics": (
            f"CREATE TABLE IF NOT EXISTS {fq}.metrics (run_id string, stage string, "
            f"partition_id int, rows_in bigint, rows_out bigint, "
            f"input_snapshot_id bigint, committed_at timestamp) USING iceberg"
        ),
    }
    for cat in ("json", "access", "unparsed"):
        ddl[f"sink_{cat}"] = (
            f"CREATE TABLE IF NOT EXISTS {fq}.sink_{cat} ({records_cols}) USING iceberg "
            f"PARTITIONED BY (months(warc_ts)) "
            f"TBLPROPERTIES ('write.sort-order'='source ASC, timestamp ASC')"
        )
    return ddl
