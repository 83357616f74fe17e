"""Generic file-scoped MERGE INTO for vanilla-parquet tables, with a
manifest-committed EXACTLY-ONCE read path.

``storage.Backend.upsert_points_agg`` solves merge for the points_agg
table specifically; this module is the table-agnostic form — the
engine-level ``MERGE INTO target USING source ON keys`` a CDC apply or
backfill job needs (the reference's closest surface is its
append/overwrite pair; MERGE is a beyond-reference completion).

Semantics (the Delta/Iceberg MERGE subset vanilla parquet can honor):

- WHEN MATCHED THEN UPDATE  — target row replaced by the source row
- WHEN MATCHED THEN DELETE  — target row dropped
- WHEN NOT MATCHED THEN INSERT — source row appended

Execution shape (Delta-style file-level pruning, no path arithmetic):

1. the source batch is pinned once (localCheckpoint, bounded by the
   batch) and validated: unique keys (a CDC batch with two versions of
   one key must be pre-collapsed — Delta raises here too) and a schema
   covering the target's columns (target schema is authoritative, so
   kept rows never lose target-only columns);
2. conflict scope is the set of FILES that contain a matched key,
   found with one partition-pruned semi-join and reported by
   ``input_file_name()`` — Spark tells us the real URIs, so Hive
   partition-value escaping and partition type inference can never
   mis-target a delete;
3. the rebuilt rows (kept + replaced [+ fresh inserts]) are APPENDED
   FIRST, then a single-file ``_MANIFEST`` swap COMMITS the merge
   (``os.replace`` — atomic on POSIX, the minimal form of a
   ``_delta_log`` entry), and only after the commit are the old
   conflict files deleted.

Crash-consistency contract (the exactly-once guarantee):

- crash BEFORE the manifest swap → the manifest still lists the old
  files; ``read_committed`` sees the pre-merge table exactly-once (the
  new files are invisible orphans); ``vacuum_uncommitted`` reclaims
  them and a re-run of the same merge is a clean retry.
- crash AFTER the swap → ``read_committed`` sees the post-merge table
  exactly-once; the undeleted conflict files are orphans
  ``vacuum_uncommitted`` reclaims.
- a PLAIN ``spark.read.parquet`` (no manifest resolution) can see the
  append-before-delete double state inside the crash window — use
  ``read_committed`` when exactly-once matters, exactly as Delta
  readers must resolve through the log rather than listing files.

Reader isolation under a live merge: ``read_committed`` pins the
committed file list at plan time. With the default eager conflict
delete, a reader planned before the commit can still lose a file
mid-job (the vanilla-parquet caveat storage.upsert_points_agg
documents); pass ``defer_conflict_delete=True`` to leave superseded
files on disk — invisible to committed readers — and reclaim them
later with ``vacuum_uncommitted`` during a quiesced window (Delta's
``VACUUM`` contract, retention collapsed to "explicit call").

Keys must be PARTITION-STABLE (a key's partition columns never change
between versions — true for any layout where the partition derives
from the key, e.g. p_date from bucket_ts).  A partition-hopping key
degrades to Hive-upsert behavior: the new version is appended as an
insert and the stale copy lingers in the old partition.

Manifest machinery is local-filesystem (the container's storage, like
storage.py's snapshot pointers); a remote object-store deployment
should use a real transactional format (Delta/Iceberg MERGE) — the
touched volume here is identical, so migration is a connector swap.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _local_root(path: str) -> str:
    """Resolve ``path`` to a plain local filesystem path; raise for
    remote schemes (manifest commits need an atomic rename — use
    Delta/Iceberg on object stores)."""
    u = urlparse(path)
    if u.scheme in ("", "file"):
        return unquote(u.path) if u.scheme == "file" else path
    raise NotImplementedError(
        f"manifest-committed merge requires a local path, got {path!r}; "
        "use a transactional table format (Delta/Iceberg) on remote stores"
    )


def _rel_file(root: str, uri_or_path: str) -> str:
    """Normalize a file URI / path to a root-relative POSIX path."""
    p = _local_root(uri_or_path)
    return os.path.relpath(p, _local_root(root))


def _list_data_files(root: str) -> set[str]:
    """All .parquet data files under ``root``, root-relative. Roots
    served by a registered FileIO list through the seam (one
    recursive listing)."""
    from ..sources.fileio import LocalFileIO, io_for

    io = io_for(root)
    if type(io) is not LocalFileIO:
        return {
            r for r in io.walk_files(root) if r.endswith(".parquet")
        }
    root = _local_root(root)
    out: set[str] = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(dirpath, f), root))
    return out


def read_manifest(target_path: str) -> dict | None:
    """The committed manifest, or None for a pre-manifest table."""
    try:
        with open(os.path.join(_local_root(target_path), MANIFEST)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_manifest(target_path: str, files: set[str], version: int) -> None:
    """THE commit point: write-temp + ``os.replace`` (atomic) so a
    reader never sees a torn manifest — old list or new list, never
    neither."""
    root = _local_root(target_path)
    ptr = os.path.join(root, MANIFEST)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "files": sorted(files)}, f)
    os.replace(tmp, ptr)


def read_committed(
    spark: SparkSession, target_path: str, schema=None
) -> DataFrame:
    """Snapshot read through the manifest: exactly the files the last
    COMMITTED merge listed, so in-flight appends and crash-window
    duplicates are invisible (the exactly-once read path). Falls back
    to a plain directory read for pre-manifest tables."""
    m = read_manifest(target_path)
    if m is None:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(target_path)
    root = _local_root(target_path)
    files = [os.path.join(root, f) for f in m["files"]]
    if not files:
        if schema is None:
            raise ValueError(
                f"{target_path}: committed table is empty; pass schema"
            )
        from ..storage import local_rows_df

        return local_rows_df(spark, [], schema)
    r = spark.read.option("basePath", target_path)
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(*files)


def delete_rel_files(target_path: str, rels: list[str]) -> list[str]:
    """Delete the given root-relative data files, dropping partition
    dirs that empty out. The caller owns deciding WHICH files go —
    passing an explicit list (derived from one directory listing)
    avoids the list-again-then-delete TOCTOU a keep-set API invites.
    Returns the paths actually removed (missing files are skipped)."""
    from ..sources.fileio import LocalFileIO, io_for

    io = io_for(target_path)
    if type(io) is not LocalFileIO:
        removed = []
        for rel in rels:
            if io.exists(os.path.join(target_path, rel)):
                io.delete(os.path.join(target_path, rel))
                removed.append(rel)
        # prune ONLY the deleted files' now-empty ancestor dirs —
        # a whole-root empty-dir sweep would race a concurrent
        # writer's momentarily-empty staging/_temporary dirs (the
        # exact window txn_vacuum's min_age_s protects)
        for d in sorted(
            {os.path.dirname(r) for r in removed if os.path.dirname(r)},
            key=len,
            reverse=True,
        ):
            cur = d
            while cur:
                full = os.path.join(target_path, cur)
                if io.walk_files(full):
                    break
                io.delete_prefix(full)
                cur = os.path.dirname(cur)
        return removed
    root = _local_root(target_path)
    removed = []
    for rel in rels:
        try:
            os.remove(os.path.join(root, rel))
        except FileNotFoundError:
            continue
        removed.append(rel)
        # opportunistically drop now-empty partition dirs
        d = os.path.dirname(os.path.join(root, rel))
        while d != root and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    return removed


def remove_orphans(target_path: str, keep: set[str]) -> list[str]:
    """Delete every data file under the table NOT in ``keep``
    (root-relative paths). Shared by the manifest vacuum here and
    txnlog's crash repair. Returns removed paths."""
    return delete_rel_files(
        target_path, sorted(_list_data_files(target_path) - keep)
    )


def vacuum_uncommitted(target_path: str) -> list[str]:
    """Crash repair / deferred-delete reclaim: remove every data file
    NOT in the committed manifest (orphans from a crashed merge, or
    conflict files kept by ``defer_conflict_delete``), so a plain
    directory read converges back to exactly-once. Run from the single
    writer during a quiesced window (Delta's VACUUM). Returns the
    removed root-relative paths."""
    m = read_manifest(target_path)
    if m is None:
        return []
    return remove_orphans(target_path, set(m["files"]))


def _delete_file(spark: SparkSession, uri: str) -> None:
    """Post-commit conflict-file removal (factored out so tests can
    crash-inject here)."""
    ffs, fp = _fs_and_path(spark, uri)
    ffs.delete(fp, False)
    parent = fp.getParent()
    # opportunistically drop a now-empty partition dir so a
    # vacated partition disappears from listings
    try:
        if not ffs.listStatus(parent):
            ffs.delete(parent, False)
    except Exception:  # noqa: BLE001 — cleanup only, never fatal
        pass


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    defer_conflict_delete: bool = False,
    txn: bool = False,
    app_txn: tuple[str, int] | None = None,
) -> dict:
    """Merge ``source`` into the parquet table at ``target_path``.

    Returns ``{"rewritten_files": int, "inserted": bool}`` — metadata
    only; the merge never counts row data on the driver.  Raises
    ``ValueError`` on an unknown clause, a source batch with duplicate
    keys, or a source missing target columns.

    The merge COMMITS via an atomic ``_MANIFEST`` swap before deleting
    superseded files (see module docstring for the crash-consistency
    and reader-isolation contract); ``defer_conflict_delete=True``
    leaves superseded files for ``vacuum_uncommitted`` so committed
    readers are never raced.

    ``txn=True`` commits through the OPTIMISTIC MULTI-WRITER log
    (:mod:`..txnlog`) instead of the single-writer ``_MANIFEST``:
    committed state is the log snapshot, output files are staged
    race-free (never discovered by directory diffs), and the commit is
    a create-exclusive log entry that detects conflicting concurrent
    writers — a lost race raises ``CommitConflictError`` and the caller
    re-runs this merge against the new snapshot. The result gains a
    ``"version"`` key.

    ``app_txn=(app_id, batch_id)`` (txn only) stamps the merge commit
    with a writer-app transaction id, making CDC upserts idempotent
    per micro-batch exactly like ``txn_append_batch`` — the building
    block of :func:`..txnlog.streaming_merge_sink`.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    _local_root(target_path)  # fail fast on remote schemes
    src = source.localCheckpoint(eager=True)
    # a CDC batch with two versions of one key has no deterministic
    # outcome under replace-by-key — same contract as Delta's
    # "multiple source rows matched" error; collapse upstream first
    if (
        src.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .take(1)
    ):
        raise ValueError("source has multiple rows for the same key")

    if txn:
        from .. import txnlog as TL

        TL.init_table(target_path)  # adopts a pre-txn table as v1
        TL._check_partition_cols(target_path, partition_cols)
        tag = uuid.uuid4().hex[:12]
        base_ver, committed = TL.snapshot(target_path)
        if not committed:
            if when_not_matched == "insert":
                adds = TL.stage_files(
                    spark, src, target_path, partition_cols, tag
                )
                ver = TL.commit(
                    target_path,
                    adds,
                    [],
                    "merge",
                    [],
                    base_version=base_ver,
                    app_txn=app_txn,
                )
                return {"rewritten_files": 0, "inserted": True, "version": ver}
            return {
                "rewritten_files": 0, "inserted": False, "version": base_ver,
            }
        # read AT base_ver, not "latest": the commit's conflict scan
        # starts at base_ver, so reading a newer snapshot here would
        # guarantee a spurious conflict for data this merge actually
        # incorporated. keep_meta carries each row's source file from
        # the scan itself — input_file_name() stops resolving once the
        # deletion-vector anti-join adds a second file source.
        #
        # MERGE FILE PRUNING (Delta's): a file that provably holds
        # NONE of the source's keys can neither conflict nor absorb
        # an insert — rows outside the source key range (or key set)
        # can't equal any source key, so dropping them changes
        # neither the conflict-file semi-join nor the fresh anti-join.
        # One tiny agg ships 2 scalars per key column to the driver;
        # a single-column batch under 1,024 distinct keys sharpens to
        # an IN-list probed through the bloom index when one is
        # built. Stats-free files always survive (keep-on-missing),
        # so a 100 TB CDC apply scans candidate files, not the table.
        rng = src.agg(
            *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(key_cols)],
            *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(key_cols)],
        ).collect()[0]
        kw = {
            c: (rng[f"mn_{i}"], rng[f"mx_{i}"])
            for i, c in enumerate(key_cols)
            if rng[f"mn_{i}"] is not None
        }
        if len(key_cols) == 1 and kw:
            ks = src.select(key_cols[0]).distinct().limit(1025).collect()
            vals = [r[0] for r in ks if r[0] is not None]
            if vals and len(ks) <= 1024:
                kw = {key_cols[0]: vals}
        if kw:
            _, kept, _ = TL.prune_files(
                target_path, kw, version=base_ver
            )
            if not kept:
                # no file can hold any source key: carry the schema
                # through one committed file, residual-filtered to
                # provably zero rows
                kept = sorted(committed)[:1]
            _, _, dvm = TL._fold(target_path, base_ver)
            existing_m = TL._read_files(
                spark,
                target_path,
                kept,
                schema=TL.table_schema(target_path, base_ver),
                deleted=TL._dv_frame(spark, target_path, kept, dvm),
                where=kw,
                keep_meta=True,
            )
        else:
            existing_m = TL.txn_read(
                spark, target_path, version=base_ver, keep_meta=True
            )
        existing = existing_m.drop("__file", "__pos")
    else:
        fs, troot = _fs_and_path(spark, target_path)
        if not fs.exists(troot):
            if when_not_matched == "insert":
                src.write.mode("append").partitionBy(*partition_cols).parquet(
                    target_path
                )
                _write_manifest(target_path, _list_data_files(target_path), 1)
                return {"rewritten_files": 0, "inserted": True}
            return {"rewritten_files": 0, "inserted": False}

        manifest = read_manifest(target_path)
        pre_files = _list_data_files(target_path)
        # committed state: what the last manifest swap published. A
        # crashed earlier merge may have left orphan files on disk —
        # reading the COMMITTED set (not the raw listing) keeps this
        # merge from seeing (and re-emitting) crash-window duplicates,
        # which is what makes a failed merge safely re-runnable.
        committed = set(manifest["files"]) if manifest else pre_files
        version = (manifest["version"] + 1) if manifest else 1
        if not committed:
            # fully-deleted committed table: every source row an insert
            if when_not_matched == "insert":
                src.write.mode("append").partitionBy(*partition_cols).parquet(
                    target_path
                )
                new = _list_data_files(target_path) - pre_files
                _write_manifest(target_path, new, version)
                return {"rewritten_files": 0, "inserted": True}
            return {"rewritten_files": 0, "inserted": False}
        existing = read_committed(spark, target_path)  # schema inferred
    # the TARGET's columns stay authoritative even if src carries more
    missing = set(existing.columns) - set(src.columns)
    if missing:
        raise ValueError(f"source missing target columns: {sorted(missing)}")
    src = src.select(*existing.columns)  # target schema is authoritative

    # partition-pruned scope: only partitions the source touches can
    # hold matched rows (the partition-stable invariant); an
    # unpartitioned table has no partition signal — the whole
    # (file-pruned) scan is the scope
    if partition_cols:
        touched = src.select(*partition_cols).distinct()
        part_scope = existing.join(
            F.broadcast(touched), partition_cols, "left_semi"
        )
        key_scope_m = (
            existing_m.join(
                F.broadcast(touched), partition_cols, "left_semi"
            )
            if txn
            else None
        )
    else:
        part_scope = existing
        key_scope_m = existing_m if txn else None
    if txn:
        conflict_rel = {
            r["__file"]
            for r in key_scope_m.join(
                F.broadcast(src.select(*key_cols)), key_cols, "left_semi"
            )
            .select("__file")
            .distinct()
            .collect()  # metadata: file paths, bounded by touched parts
        }
    else:
        conflict_files = [
            r["f"]
            for r in part_scope.join(
                F.broadcast(src.select(*key_cols)), key_cols, "left_semi"
            )
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()  # metadata: file URIs, bounded by touched partitions
        ]
        conflict_rel = {_rel_file(target_path, f) for f in conflict_files}

    pieces: list[DataFrame] = []
    if conflict_rel:
        if txn:
            # re-read through the DV-aware primitive: a raw re-read of
            # the conflict files would resurrect vector-deleted rows
            # into the merge output
            _, _, dv_map = TL._fold(target_path, base_ver)
            conflicted = TL._read_files(
                spark,
                target_path,
                sorted(conflict_rel),
                schema=existing.schema,
                deleted=TL._dv_frame(
                    spark, target_path, conflict_rel, dv_map
                ),
            ).select(*existing.columns)
        else:
            conflicted = (
                spark.read.option("basePath", target_path)
                .schema(existing.schema)
                .parquet(*conflict_files)
                .select(*existing.columns)
            )
        # kept: conflict-file rows whose key the source does NOT carry
        pieces.append(
            conflicted.join(src.select(*key_cols), key_cols, "left_anti")
        )
        if when_matched == "update":
            # every matched source row's target lives in a conflict
            # file (its file contains that key), so semi against the
            # bounded conflicted frame — never the whole table
            pieces.append(
                src.join(
                    conflicted.select(*key_cols), key_cols, "left_semi"
                )
            )
    inserted = False
    if when_not_matched == "insert":
        fresh = src.join(
            part_scope.select(*key_cols), key_cols, "left_anti"
        )
        if fresh.take(1):
            pieces.append(fresh)
            inserted = True

    out = None
    if pieces:
        out = pieces[0]
        for p_ in pieces[1:]:
            out = out.unionByName(p_)
    if txn:
        # WRITE FIRST into race-free staged names, then the log entry
        # is the commit; a competing writer that touched our read
        # scope turns the commit into CommitConflictError (staged
        # files become orphans for txn_vacuum) and the caller re-runs
        # against the new snapshot
        adds = (
            TL.stage_files(spark, out, target_path, partition_cols, tag)
            if pieces
            else []
        )
        ver = TL.commit(
            target_path,
            adds,
            sorted(conflict_rel),
            "merge",
            [],
            base_version=base_ver,
            app_txn=app_txn,
        )
        # superseded files stay on disk regardless of
        # defer_conflict_delete: under multi-writer, eager deletion
        # would break snapshot readers — reclaim is txn_vacuum's job
        return {
            "rewritten_files": len(conflict_rel),
            "inserted": inserted,
            "version": ver,
        }
    if pieces:
        # WRITE FIRST (old files still readable during the job); the
        # manifest swap below is the commit — a crash before it leaves
        # these files as invisible orphans, never partial state
        out.write.mode("append").partitionBy(*partition_cols).parquet(
            target_path
        )
    new_files = _list_data_files(target_path) - pre_files
    # COMMIT: old committed set minus superseded files plus this
    # merge's output — one atomic pointer swap
    _write_manifest(
        target_path, (committed - conflict_rel) | new_files, version
    )
    if not defer_conflict_delete:
        for f in conflict_files:
            _delete_file(spark, f)
    return {"rewritten_files": len(conflict_files), "inserted": inserted}
