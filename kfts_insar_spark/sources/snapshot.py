"""SnapshotTable — Iceberg-equivalent commit semantics over plain Parquet.

This sandbox has no Iceberg runtime jars (SURVEY.md §7.4), so the engine
implements the same contract behind a thin layer that swaps 1:1 for
``df.writeTo(tbl).append() / overwritePartitions()`` on a real cluster:

- monotonically increasing snapshot ids, each with a JSON manifest listing
  the exact data files valid at that snapshot (+ per-file partition values,
  row counts, byte sizes — the lineage demanded by the north_rule);
- atomic commit: data files land first, the manifest is written to a temp
  path, then ``os.replace`` swaps the CURRENT pointer — readers see the old
  or the new snapshot, never a torn one (the role h5py ``mpio`` collective
  writes play in the reference, /root/reference/kf/readinput.py:550-553);
- time travel: ``read(spark, snapshot_id=…)``;
- append / overwrite-partitions operations; retention drops = partition
  overwrites with an empty DataFrame (file list shrinks, old files stay for
  time travel until a vacuum).

Crash-safety argument: every mutation writes only NEW files under
``data/<sid>/`` and never touches committed files; an interrupted job leaves
orphan data files but CURRENT still points at the last good manifest, so
re-running resumes idempotently from the checkpoint watermark.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between operation planning and commit."""


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        # parsed-manifest cache: a committed manifests/<sid>.json is
        # IMMUTABLE (os.link claims the name exclusively; expiry deletes,
        # never rewrites), so caching by sid is safe. Without it every
        # property()/read() re-parses the full file-entry list — O(table
        # files) driver time per metadata question, paid dozens of times
        # per pipeline run and growing with table size. Bounded: tables
        # are long-lived objects, manifests can be large.
        self._manifest_cache: dict[int, dict] = {}
        self._cache_lock = threading.Lock()

    # ------------------------------------------------------------- metadata
    @property
    def _current_path(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, snapshot_id: int | None = None) -> dict | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        m = self._manifest_cache.get(sid)
        if m is None:
            with open(os.path.join(self.path, "manifests", f"{sid}.json")) as f:
                m = json.load(f)
            with self._cache_lock:
                if len(self._manifest_cache) >= 8:  # keep the working set small
                    self._manifest_cache.pop(
                        next(iter(self._manifest_cache)), None
                    )
                self._manifest_cache[sid] = m
        return m

    def snapshots(self) -> list[dict]:
        out = []
        mdir = os.path.join(self.path, "manifests")
        for name in sorted(os.listdir(mdir), key=lambda s: int(s.split(".")[0])):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
        return out

    def property(self, key: str, default=None):
        m = self.manifest()
        return (m or {}).get("properties", {}).get(key, default)

    # ------------------------------------------------------------- writes
    def _write_files(
        self,
        df: DataFrame,
        sid: int,
        partition_by: list[str] | None,
        coalesce: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> tuple[list[dict], str]:
        """Write df under data/<sid>/ and return its file entries (partition
        values, row counts and sizes: per-file lineage) with the file schema
        as JSON, both for :meth:`_commit`. ``coalesce`` is the optimize-write
        knob: without it a 32-partition plan writing a small tier emits 32
        tiny files per partition value, and every downstream stage pays
        listing+footer costs (measured as the pipeline's main overhead at
        bench scale)."""
        # record the FILE schema (df minus directory-partition columns) for
        # the manifest: readers then pass it to the parquet scan explicitly
        # and skip per-read footer schema inference (one less driver-side
        # file open per metadata question; the pipeline re-reads its tiers
        # many times per run)
        pset = set(partition_by or [])
        from pyspark.sql.types import StructType

        schema = StructType([f for f in df.schema.fields if f.name not in pset]).json()
        out_dir = os.path.join(self.path, "data", str(sid), uuid.uuid4().hex[:8])
        if coalesce:
            # repartition, not coalesce: coalesce would merge the upstream
            # (post-shuffle) stage down to `coalesce` tasks, serializing the
            # aggregation that produces the tier; a round-robin exchange of
            # the tiny aggregate keeps the producer parallel.
            # Hash on the partition columns when present: round-robin makes
            # every task write every partition value (tasks × days files);
            # clustering by partition value writes ONE file per value —
            # 4× fewer files to commit, list, and footer-read downstream.
            # (This knob is for small incremental tiers; a bulk load that
            # needs many files per partition value passes coalesce=None.)
            if partition_by:
                df = df.repartition(coalesce, *partition_by)
            else:
                df = df.repartition(coalesce)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out_dir)

        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        found: list[tuple[str, dict]] = []
        for root, _dirs, files in os.walk(out_dir):
            # never pick up committer scratch (a stalled/retried task can
            # leave attempt files under _temporary — counting them would
            # double rows in the manifest)
            _dirs[:] = [d for d in _dirs if not d.startswith("_")]
            for f in files:
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                parts = {}
                rel = os.path.relpath(root, out_dir)
                if rel != ".":
                    for seg in rel.split(os.sep):
                        k, _, v = seg.partition("=")
                        parts[k] = v
                found.append((os.path.join(root, f), parts))

        def entry(item):
            full, parts = item
            md = pq.ParquetFile(full).metadata
            e = {
                "path": full,
                "partition": parts,
                "bytes": os.path.getsize(full),
                # row count from the parquet footer: downstream stages
                # consume counts/partitions from metadata instead of
                # re-running the producing plan
                "rows": md.num_rows,
            }
            if stats_cols:
                # per-file column min/max from the footer statistics
                # (Iceberg manifest column stats): zero extra jobs; lets
                # callers derive watermarks/prune from committed metadata
                names = list(md.schema.names)
                stats: dict = {}
                for col in stats_cols:
                    if col not in names:
                        continue
                    i = names.index(col)
                    mn = mx = None
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(i).statistics
                        if st is None or not st.has_min_max:
                            mn = mx = None
                            break
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                    if mn is not None:
                        stats[col] = [mn, mx]
                if stats:
                    e["stats"] = stats
            return e

        # footer reads are independent filesystem ops — serial driver-side
        # reading was the measured bulk of the per-commit fixed cost
        with ThreadPoolExecutor(min(32, max(1, len(found)))) as ex:
            return list(ex.map(entry, found)), schema

    def _commit(
        self,
        sid: int,
        files: list[dict],
        operation: str,
        properties: dict | None,
        parent: int | None,
        schema: str | None,
    ) -> int:
        # Table properties persist across commits (Iceberg semantics): a
        # commit that sets none — e.g. a retention drop_partitions — must
        # not erase watermark_es, or the next pipeline run re-ingests from
        # scratch and double-counts retained partitions.
        parent_m = self.manifest(parent) if parent is not None else None
        inherited = (parent_m or {}).get("properties", {})
        # schema: from the files this commit wrote, else inherited (a
        # metadata-only commit like drop_partitions passes None and keeps
        # the parent's)
        schema = schema or (parent_m or {}).get("schema")
        if parent_m and parent_m.get("schema") not in (None, schema):
            parent_paths = {e["path"] for e in parent_m["files"]}
            if any(e["path"] in parent_paths for e in files):
                self._check_inherited_schema(parent_m["schema"], schema)
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "files": files,
            "properties": {**inherited, **(properties or {})},
        }
        if schema is not None:
            manifest["schema"] = schema
        mpath = os.path.join(self.path, "manifests", f"{sid}.json")
        tmp = mpath + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # optimistic concurrency (Iceberg commit semantics). Two guards:
        # os.link claims the snapshot id EXCLUSIVELY (fails if a racing
        # writer already wrote this manifest name — never clobbers a
        # committed manifest), and the parent check catches a writer that
        # advanced CURRENT past our planning snapshot. Data files written
        # for a failed attempt are orphans (vacuum cleans them); the
        # caller retries against the current snapshot.
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"{self.path}: snapshot id {sid} already committed by a "
                "concurrent writer; re-plan against the current snapshot"
            ) from None
        finally:
            os.remove(tmp)
        if self.current_snapshot_id() != parent:
            os.remove(mpath)  # ours — exclusively claimed above
            raise ConcurrentCommitError(
                f"{self.path}: snapshot advanced past parent={parent} "
                "during commit; re-plan against the current snapshot"
            )
        # atomic CURRENT swap — the commit point
        tmp = self._current_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._current_path)
        return sid

    def _check_inherited_schema(self, old_json: str, new_json: str) -> None:
        """:meth:`read` applies the newest manifest schema to every file, so
        a commit that keeps earlier files must not drop or retype a column
        they carry — those files would read NULL or mistyped values without
        any error. Added columns (NULL-backfilled on old files) and
        nullability changes (file scans read every column as nullable) are
        allowed."""
        from pyspark.sql.types import StructType

        new = {f.name: f for f in StructType.fromJson(json.loads(new_json)).fields}
        for f in StructType.fromJson(json.loads(old_json)).fields:
            if f.name not in new:
                raise ValueError(
                    f"{self.path}: commit drops column {f.name!r} that files "
                    "kept from earlier snapshots carry"
                )
            old_t = f.dataType.simpleString()
            new_t = new[f.name].dataType.simpleString()
            if old_t != new_t:
                raise ValueError(
                    f"{self.path}: commit retypes column {f.name!r} from "
                    f"{old_t} to {new_t}; files kept from earlier snapshots "
                    f"hold {old_t}"
                )

    def _next_sid(self) -> tuple[int, int | None]:
        parent = self.current_snapshot_id()
        return (0 if parent is None else parent + 1), parent

    # metadata of the files written by the most recent append/overwrite on
    # this instance (row counts from footers, partition values) — lets the
    # pipeline chain stages without re-executing producer plans
    last_commit_files: list[dict] = []

    def last_commit_rows(self) -> int:
        return sum(e.get("rows", 0) for e in self.last_commit_files)

    def last_commit_partitions(self, key: str) -> list[str]:
        return sorted({e["partition"][key] for e in self.last_commit_files if key in e["partition"]})

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
        coalesce: int | None = None,
        stats_cols: list[str] | None = None,
        properties_fn=None,
        skip_if_empty: bool = False,
    ) -> int | None:
        """Append ``df`` as a new snapshot.

        ``stats_cols`` records per-file column min/max (footer statistics)
        in the manifest. ``properties_fn(entries) -> dict`` computes commit
        properties FROM the written files' metadata — e.g. a watermark from
        a max-ingest stat: the property then describes exactly the data
        this commit published, with no second scan of the source and no
        read-then-write race. ``skip_if_empty`` returns None (no commit,
        no snapshot) when the increment produced zero rows."""
        sid, parent = self._next_sid()
        new, schema = self._write_files(df, sid, partition_by, coalesce, stats_cols)
        if skip_if_empty and sum(e["rows"] for e in new) == 0:
            return None
        self.last_commit_files = new
        props = dict(properties or {})
        if properties_fn is not None:
            props.update(properties_fn(new))
        prev = (self.manifest(parent) or {}).get("files", []) if parent is not None else []
        return self._commit(sid, prev + new, "append", props, parent, schema)

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_by: list[str],
        properties: dict | None = None,
        coalesce: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Replace exactly the partitions present in ``df`` (Iceberg dynamic
        partition overwrite)."""
        sid, parent = self._next_sid()
        new, schema = self._write_files(df, sid, partition_by, coalesce, stats_cols)
        self.last_commit_files = new
        touched = {tuple(sorted(e["partition"].items())) for e in new}
        prev = (self.manifest(parent) or {}).get("files", []) if parent is not None else []
        kept = [
            e
            for e in prev
            if tuple(sorted(e["partition"].items())) not in touched
        ]
        return self._commit(sid, kept + new, "overwrite", properties, parent, schema)

    def overwrite_all(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
        coalesce: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        sid, parent = self._next_sid()
        new, schema = self._write_files(df, sid, partition_by, coalesce, stats_cols)
        self.last_commit_files = new
        return self._commit(sid, new, "overwrite_all", properties, parent, schema)

    def stage_all(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        coalesce: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Two-phase overwrite_all, phase 1: write the data files (the
        expensive part — the Spark job + footer stats) WITHOUT committing.
        Returns a staging handle for :meth:`commit_staged`.

        Lets a caller overlap this table's write with other work while
        keeping a strict commit ORDER across tables: a crash before
        commit_staged leaves only unreferenced files (reclaimed by
        :meth:`remove_orphans`) and the table at its previous snapshot —
        never a torn or early commit."""
        sid, parent = self._next_sid()
        files, schema = self._write_files(df, sid, partition_by, coalesce, stats_cols)
        return {"sid": sid, "parent": parent, "files": files, "schema": schema}

    def commit_staged(self, staged: dict, properties: dict | None = None) -> int:
        """Two-phase overwrite_all, phase 2: atomically publish files
        staged by :meth:`stage_all`."""
        self.last_commit_files = staged["files"]
        return self._commit(
            staged["sid"], staged["files"], "overwrite_all", properties,
            staged["parent"], staged["schema"],
        )

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_cols: list[str],
        partition_by: list[str],
        properties: dict | None = None,
        coalesce: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """MERGE INTO with copy-on-write at partition granularity (the
        Iceberg ``MERGE … WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT`` shape): rows of ``df`` replace current rows with the same
        ``key_cols`` inside the partitions ``df`` touches; unmatched
        current rows in those partitions are carried over; partitions df
        does not touch are untouched metadata-only.

        This is the late-data-correction path a retention store needs —
        a restated bucket lands as an upsert, never an append (appends
        would double-count) and never a full-table rewrite (only the
        affected partitions are rewritten; at 100 TB that is the
        difference between a partition-sized job and a table-sized one).

        ``df`` is persisted internally: it is read twice (once to list
        affected partitions — a metadata-scale action, once in the merge)
        and both reads must see identical data for the merge to be exact.
        """
        df = df.persist()
        try:
            parts = [
                tuple(str(r[c]) for c in partition_by)
                for r in df.select(*partition_by).distinct().collect()
            ]
            partset = set(parts)
            in_parts = lambda p: tuple(  # noqa: E731
                p.get(c, "") for c in partition_by
            ) in partset
            cur = self.read(spark, where=in_parts)
            cols = df.columns
            if cur is not None:
                # a narrower/wider correction frame would silently corrupt
                # carried-over rows (stored columns absent from df get
                # dropped in rewritten partitions) — refuse loudly instead
                missing = set(cur.columns) - set(cols)
                extra = set(cols) - set(cur.columns)
                if missing or extra:
                    raise ValueError(
                        "upsert frame schema mismatch vs stored table: "
                        f"missing={sorted(missing)} extra={sorted(extra)} — "
                        "supply the table's full column set"
                    )
                keep = cur.select(*cols).join(
                    df.select(*key_cols).distinct(), key_cols, "left_anti"
                ).select(*cols)  # join() fronts the key cols — restore order
                merged = keep.unionByName(df)
            else:
                merged = df
            return self.overwrite_partitions(
                merged,
                partition_by,
                properties=properties,
                coalesce=coalesce,
                stats_cols=stats_cols,
            )
        finally:
            df.unpersist()

    def drop_partitions(
        self, predicate, properties: dict | None = None
    ) -> int:
        """Retention: drop files whose partition values satisfy ``predicate``
        (dict -> bool). Metadata-only — no data files are read or written."""
        sid, parent = self._next_sid()
        prev = (self.manifest(parent) or {}).get("files", []) if parent is not None else []
        kept = [e for e in prev if not predicate(e["partition"])]
        return self._commit(sid, kept, "delete", properties, parent, None)

    # ------------------------------------------------------------ maintenance
    def vacuum(self, keep_last: int = 1) -> dict:
        """Delete data files referenced ONLY by snapshots older than the
        last ``keep_last`` (Iceberg expire_snapshots + remove_orphan_files).
        Time travel remains valid for the kept snapshots."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"removed_files": 0, "removed_snapshots": 0}
        keep = snaps[-keep_last:]
        drop = snaps[:-keep_last]
        live = {e["path"] for s in keep for e in s["files"]}
        removed = 0
        for s in drop:
            for e in s["files"]:
                if e["path"] not in live and os.path.exists(e["path"]):
                    os.remove(e["path"])
                    removed += 1
            os.remove(os.path.join(self.path, "manifests", f"{s['snapshot_id']}.json"))
            # drop the cached parse too: serving an expired snapshot from
            # cache would defer the FileNotFoundError into a confusing
            # executor-side failure over deleted data files
            self._manifest_cache.pop(s["snapshot_id"], None)
        return {"removed_files": removed, "removed_snapshots": len(drop)}

    def remove_orphans(self, older_than_seconds: float = 86400.0) -> dict:
        """Delete files under ``data/`` referenced by NO retained snapshot
        manifest (Iceberg ``remove_orphan_files``): the debris of commits
        that failed between the data write and the manifest swap — a
        crashed job, or a :class:`ConcurrentCommitError` loser whose files
        landed but were never listed anywhere. :meth:`vacuum` cannot reach
        these (it walks manifests; orphans are in none).

        ``older_than_seconds`` is the in-flight-writer guard: a file
        younger than the grace window is never touched, because a
        concurrent writer holds exactly this state between its
        ``_write_files`` and its commit (Iceberg's default grace is 3
        days; ours 1 — tune to the longest plausible write job). Empty
        ``data/<sid>/`` scratch dirs left behind are pruned too."""
        import time

        live = {e["path"] for s in self.snapshots() for e in s["files"]}
        cutoff = time.time() - older_than_seconds
        removed = 0
        removed_bytes = 0
        droot = os.path.join(self.path, "data")
        for root, _dirs, files in os.walk(droot, topdown=False):
            for f in files:
                full = os.path.join(root, f)
                if full in live:
                    continue
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue
                    sz = os.path.getsize(full)
                    os.remove(full)
                except FileNotFoundError:
                    continue
                removed += 1
                removed_bytes += sz
            if root != droot:
                try:
                    os.rmdir(root)  # only succeeds when empty
                except OSError:
                    pass
        return {"removed_files": removed, "removed_bytes": removed_bytes}

    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        where=None,
    ) -> dict:
        """Bin-pack small data files (Iceberg ``rewrite_data_files``): in
        every partition holding ≥ ``min_files`` files under ``target_bytes``,
        rewrite those files into ~target-sized ones and commit a ``replace``
        snapshot. Logical content is unchanged; prior snapshots still see
        the old files until :meth:`vacuum`. ``where`` restricts compaction
        to matching partitions (e.g. only closed days).

        This is the maintenance half of streaming/incremental ingest at
        scale: each micro-batch append leaves per-partition small files,
        and scan cost grows with file count (footer reads + task setup),
        not bytes. One job rewrites all affected partitions (partition
        values recovered from the file path, same trick as :meth:`read`).
        """
        m = self.manifest()
        if m is None:
            return {"partitions": 0, "files_before": 0, "files_after": 0}
        by_part: dict[tuple, list[dict]] = {}
        for e in m["files"]:
            if where is not None and not where(e["partition"]):
                continue
            if e.get("bytes", target_bytes) >= target_bytes:
                continue
            by_part.setdefault(tuple(sorted(e["partition"].items())), []).append(e)
        victims = [
            e for group in by_part.values() if len(group) >= min_files for e in group
        ]
        if not victims:
            return {"partitions": 0, "files_before": 0, "files_after": 0}
        n_parts = sum(1 for g in by_part.values() if len(g) >= min_files)

        from pyspark.sql import functions as F

        keys = sorted({k for e in victims for k in e["partition"]})
        df = spark.read.parquet(*[e["path"] for e in victims])
        for k in keys:
            df = df.withColumn(
                k, F.regexp_extract(F.input_file_name(), f"{k}=([^/]+)", 1)
            )
        # hash-cluster on the partition keys: each partition's rows land in
        # one task → one output file per partition dir (the bin-pack)
        if keys:
            df = df.repartition(max(1, min(n_parts, 64)), *keys)
        sid, parent = self._next_sid()
        new, schema = self._write_files(df, sid, keys or None)
        self.last_commit_files = new
        dead = {e["path"] for e in victims}
        kept = [e for e in m["files"] if e["path"] not in dead]
        self._commit(sid, kept + new, "replace", None, parent, schema)
        return {
            "partitions": n_parts,
            "files_before": len(victims),
            "files_after": len(new),
        }

    # ------------------------------------------------------------- reads
    def read_incremental(
        self,
        spark: SparkSession,
        after_snapshot_id: int | None,
        until_snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """Read only the rows ADDED after ``after_snapshot_id`` (exclusive)
        up to ``until_snapshot_id`` (inclusive; default current) — the
        Iceberg incremental-scan analog. File-level: an append's new files
        are exactly its new rows; an overwritten partition's files count as
        added in the overwriting snapshot (same semantics as Iceberg's
        append-only incremental read extended to replaced partitions).
        ``after_snapshot_id=None`` reads everything up to ``until``.
        Downstream consumers (a feature-extraction job, a replication
        stream) process each commit's delta without rescanning the table.
        """
        until = (
            until_snapshot_id
            if until_snapshot_id is not None
            else self.current_snapshot_id()
        )
        if until is None:
            return None
        new = self.manifest(until)["files"]
        if after_snapshot_id is not None:
            old = {e["path"] for e in self.manifest(after_snapshot_id)["files"]}
            new = [e for e in new if e["path"] not in old]
        if not new:
            return None
        from pyspark.sql import functions as F

        keys = sorted({k for e in new for k in e["partition"]})
        df = spark.read.parquet(*[e["path"] for e in new])
        for k in keys:
            df = df.withColumn(
                k, F.regexp_extract(F.input_file_name(), f"{k}=([^/]+)", 1)
            )
        return df

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        where=None,
        stats_where=None,
        merge_schema: bool = False,
    ) -> DataFrame | None:
        """Read a snapshot as ONE parquet scan. ``where`` (a callable on
        the per-file partition dict) prunes FILES from the manifest before
        the scan — metadata-only partition pruning, the Iceberg equivalent.
        ``stats_where`` (a callable on the per-file column-stats dict,
        ``{col: [min, max]}``) additionally prunes on the footer statistics
        recorded at write time (Iceberg manifest min/max pruning); files
        written without stats are conservatively kept.

        ``merge_schema=True`` is the schema-evolution read (Iceberg
        add-column semantics): commits may add columns over time, and the
        scan resolves the union schema with NULL backfill for files
        written before a column existed. Off by default — schema merging
        reads every footer up front, which the steady-state tier reads
        (stable schema) should not pay.

        Partition columns live in directory names; they are recovered from
        the file path with ``input_file_name()`` inside the single scan —
        a union of per-partition reads (the previous form) costs O(#days)
        plan nodes and thousands of no-op tasks at bench scale."""
        m = self.manifest(snapshot_id)
        if m is None:
            return None
        entries = m["files"]
        if where is not None:
            entries = [e for e in entries if where(e["partition"])]
        if stats_where is not None:
            entries = [
                e
                for e in entries
                if "stats" not in e or stats_where(e["stats"])
            ]
        if not entries:
            return None
        from pyspark.sql import functions as F

        keys = sorted({k for e in entries for k in e["partition"]})
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        elif m.get("schema"):
            # write-time schema from the manifest: the scan skips driver-side
            # footer schema inference. Files from pre-widening commits (if
            # any) read exactly as they would under mergeSchema: absent
            # columns backfill NULL. A commit that would drop or retype a
            # column older files carry is refused (_check_inherited_schema).
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
        df = reader.parquet(*[e["path"] for e in entries])
        for k in keys:
            df = df.withColumn(
                k, F.regexp_extract(F.input_file_name(), f"{k}=([^/]+)", 1)
            )
        return df
