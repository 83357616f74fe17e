"""ZERO-COPY format conversion: Delta <-> Iceberg through the txn hub.

The UniForm-shaped migration verb (Delta Lake's UniForm and Iceberg's
in-place migrate procedure are the public precedents): given a table
in one open format, grow the OTHER format's metadata tree next to it
over the SAME immutable data files — no data bytes rewritten, both
logs serve the table, and re-running the conversion tracks new source
commits incrementally.

Architecture: conversion COMPOSES two verbs this package already has,
with the engine's txn log as the hub —

    Delta  -> Iceberg:  adopt_delta / refresh_adopt_delta  -> txn
                        -> publish_iceberg
    Iceberg -> Delta:   adopt_iceberg / refresh_adopt_iceberg -> txn
                        -> publish_delta

The hub is not incidental: the txn mirror is what makes conversion
INCREMENTAL (each refresh maps new source commits to one txn version,
which republish turns into one new snapshot/commit on the target
side), gives the target side real skipping stats (footer stats are
collected at adopt time), and carries deletion vectors across
(Delta DV <-> txn ``_dv`` sidecar <-> Iceberg position deletes, the
era-correct translations adopt/publish already implement).

Fail-closed boundaries (inherited, each with remediation in its
error): hive-partitioned Delta layouts cannot become Iceberg
(Iceberg requires every column IN the data file); columnMapping
tables would leak physical names; equality deletes need a scan; a
shrunken deletion vector (RESTORE/rollback) cannot cross the union
fold; a root that already carries a FOREIGN tree of the target
format — one this conversion did not STAMP — is refused rather than
clobbered (the stamp: ``engine.converted-from`` in the Iceberg table
properties / the Delta metaData configuration, plus the pure
``adopt-*`` op lineage in the txn log).

Retention on converted roots is the cross-log contract in
``refsets.py``: every maintenance verb spares files a sibling log
still references, so vacuuming the source format never corrupts the
converted view; reclaiming shared files means tightening retention on
every log. Layout maintenance (``optimize_*``) is allowed only on
the SOURCE format's log (:func:`mirror_source` decides) — the
target tree re-derives from the mirror on the next conversion.

Scale: everything here is metadata-plane — snapshot folds, footer
stat collection at adopt, Avro/JSON writes at publish (re-publish
reuses content-stable manifests, so an incremental conversion pays
O(new commits), not O(history)). A 100 TB table converts in O(files)
metadata work through the root's FileIO (object-store roots
included), with zero data movement.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .fileio import io_for

CONVERTED_MARK = "engine.converted-from"


def mirror_source(root: str) -> str | None:
    """``"delta"`` / ``"iceberg"`` when the txn table at ``root`` is
    a pure conversion MIRROR of that format's log (every remaining
    commit an ``adopt-*`` of that format); ``None`` for an
    engine-owned txn table. The answer decides which log OWNS the
    data — and therefore which side layout maintenance belongs to."""
    from .delta import _MIRROR_OPS_DELTA
    from .iceberg import _MIRROR_OPS_ICE
    from .mirror import mirror_lineage

    if mirror_lineage(root, _MIRROR_OPS_DELTA):
        return "delta"
    if mirror_lineage(root, _MIRROR_OPS_ICE):
        return "iceberg"
    return None


def check_layout_owner(root: str, fmt: str, err: type) -> None:
    """Refuse OPTIMIZE on a txn-backed root whose ``fmt`` tree is a
    DERIVED view: republish re-derives it from the txn log, so
    compacting it would fork the trees. Only a conversion mirror
    sourced from ``fmt`` owns its layout there."""
    from .. import txnlog as TL

    if TL.is_txn_table(root) and mirror_source(root) != fmt:
        raise err(
            f"{root}: this {fmt} tree is a DERIVED view of the txn log "
            "— optimizing it directly would fork the trees; run "
            "txn_optimize (engine-owned tables) or optimize the source "
            "format (conversion mirrors), then re-publish/re-convert"
        )


def convert_delta_to_iceberg(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partition_spec: list[dict] | None = None,
) -> dict:
    """Grow (or advance) an Iceberg metadata tree over this Delta
    table's data files, zero-copy. Re-runnable: the first call adopts
    the Delta snapshot into a txn mirror and publishes every mirror
    version as an Iceberg snapshot; later calls refresh the mirror
    (live-set diff + DV growth, one txn commit) and reuse every
    content-stable manifest already published. Returns
    ``{"txn_version", "metadata_version", "snapshots"}``."""
    from .. import txnlog as TL
    from .delta import _MIRROR_OPS_DELTA, _log_dir, adopt_delta
    from .delta import refresh_adopt_delta
    from .iceberg import _meta_dir, iceberg_metadata, publish_iceberg
    from .mirror import mirror_lineage

    io = io_for(root)
    if not io.is_dir(_log_dir(root)):
        raise ValueError(f"{root}: no _delta_log — not a Delta table")
    is_mirror = TL.is_txn_table(root) and mirror_lineage(
        root, _MIRROR_OPS_DELTA
    )
    if io.is_dir(_meta_dir(root)):
        # the existing target tree must be THIS conversion's product:
        # pure mirror AND a stamped metadata tree — a pure mirror
        # alone does not attest the metadata/ dir (an external tool
        # could have created a real Iceberg table there)
        from .iceberg import IcebergUnsupportedError

        stamped = False
        if is_mirror:
            try:
                stamped = (
                    iceberg_metadata(root).get("properties") or {}
                ).get(CONVERTED_MARK) == "delta"
            except (OSError, ValueError, KeyError,
                    IcebergUnsupportedError):
                stamped = False
        if not stamped:
            raise ValueError(
                f"{root}: already carries an Iceberg tree this "
                "conversion did not produce — refusing to overwrite "
                "a foreign table; convert into a fresh root (or "
                "remove metadata/ first)"
            )
    if TL.is_txn_table(root) and not is_mirror:
        raise ValueError(
            f"{root}: txn table is not a pure Delta mirror — refresh "
            "would clobber engine writes; re-adopt into a fresh root"
        )
    if is_mirror:
        tv = refresh_adopt_delta(spark, root, version=version)
    else:
        tv = adopt_delta(spark, root, root, version=version)
    pub = publish_iceberg(
        spark,
        root,
        partition_spec=partition_spec,
        properties={CONVERTED_MARK: "delta"},
    )
    return {"txn_version": tv, **pub}


def convert_iceberg_to_delta(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    checkpoint: bool = False,
) -> dict:
    """Grow (or advance) a ``_delta_log`` over this Iceberg table's
    data files, zero-copy — position deletes cross as real Delta
    deletion vectors (protocol 3/7 with the spec-framed sidecar).
    Re-runnable like the Delta->Iceberg direction. Returns
    ``{"txn_version", "delta_versions", "published"}``."""
    from .. import txnlog as TL
    from .delta import _log_dir, delta_snapshot, publish_delta
    from .iceberg import _MIRROR_OPS_ICE, _meta_dir, adopt_iceberg
    from .iceberg import refresh_adopt_iceberg
    from .mirror import mirror_lineage

    io = io_for(root)
    if not io.is_dir(_meta_dir(root)):
        raise ValueError(
            f"{root}: no metadata/ tree — not an Iceberg table"
        )
    is_mirror = TL.is_txn_table(root) and mirror_lineage(
        root, _MIRROR_OPS_ICE
    )
    if io.is_dir(_log_dir(root)):
        from .delta import DeltaUnsupportedError

        stamped = False
        if is_mirror:
            try:
                _v, dmd, _a = delta_snapshot(root)
                stamped = (
                    dmd.get("configuration") or {}
                ).get(CONVERTED_MARK) == "iceberg"
            except (OSError, ValueError, KeyError,
                    DeltaUnsupportedError):
                stamped = False
        if not stamped:
            raise ValueError(
                f"{root}: already carries a _delta_log this "
                "conversion did not produce — refusing to overwrite "
                "a foreign table; convert into a fresh root (or "
                "remove _delta_log first)"
            )
    if TL.is_txn_table(root) and not is_mirror:
        raise ValueError(
            f"{root}: txn table is not a pure Iceberg mirror — "
            "refresh would clobber engine writes; re-adopt into a "
            "fresh root"
        )
    if is_mirror:
        tv = refresh_adopt_iceberg(spark, root, snapshot_id=snapshot_id)
    else:
        tv = adopt_iceberg(
            spark, root, root, snapshot_id=snapshot_id
        )
    pub = publish_delta(
        spark,
        root,
        checkpoint=checkpoint,
        configuration={CONVERTED_MARK: "iceberg"},
    )
    return {"txn_version": tv, **pub}
