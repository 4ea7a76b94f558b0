"""Table catalog — Iceberg when available, parquet fallback (same API).

The reference's directory scan (S1, src/scanner.rs:44-111) disappears in
Spark: the input IS a catalog table; the parallel walk becomes the
table's file manifest, and exclude-glob subtree pruning (S4) becomes
partition pruning on partition columns.

The north rule targets Iceberg tables; this sandbox has no Iceberg
runtime jar, so the writer detects it and falls back to parquet +
atomic-rename manifest while keeping the call surface identical. The
atomic temp-then-rename commit mirrors the reference's crash-safe
hardlink protocol (src/actions.rs:118-136); Iceberg gives the same
guarantee natively via snapshot commits.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Iceberg identifier or parquet path."""
    if "://" in sf_dir or sf_dir.startswith("catalog."):
        return spark.read.format("iceberg").load(f"{sf_dir}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# the error conditions Spark raises when a path or a table does not
# exist — a first batch or a first run, not a fault
_ABSENT = frozenset({"PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND"})


def read_or_none(read: Callable[[], DataFrame]) -> DataFrame | None:
    """``read()``, or None when what it reads does not exist yet.

    Only a missing path or table means "no state": anything else — a
    corrupt footer, a permission error, a bad schema — raises, so
    state that exists but cannot be read never passes for an empty
    history (which would re-cluster every later batch from scratch)."""
    try:
        return read()
    except AnalysisException as e:
        if e.getCondition() in _ABSENT:
            return None
        raise


_POINTER = "_CURRENT"
_INPROGRESS = ".inprogress"


def _current_snapshot(root: Path) -> Path | None:
    """Resolve the published snapshot dir, or None if unpublished."""
    ptr = root / _POINTER
    try:
        snap = root / ptr.read_text().strip()
    except OSError:
        return None
    return snap if snap.is_dir() else None


def read_table(spark: SparkSession, target: str) -> DataFrame:
    """Read a table written by ``write_table``'s parquet fallback.

    Resolves the ``_CURRENT`` pointer to the published snapshot dir; a
    directory without a pointer (legacy plain-parquet layout) is read
    as-is, so existing outputs keep working."""
    snap = _current_snapshot(Path(target))
    return spark.read.parquet(str(snap) if snap else target)


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> str:
    """Atomic table commit.

    Iceberg: ``writeTo(...).createOrReplace()`` (snapshot commit is
    atomic). Parquet fallback: the Iceberg commit protocol rebuilt on
    POSIX rename — the full crash-safe analog of the reference's
    temp-hardlink + rename (src/actions.rs:118-136):

      1. write data to ``<table>/snap-<uuid>.inprogress/``
      2. write ``_MANIFEST.json`` inside it (seals the data)
      3. ``rename`` the dir to ``snap-<uuid>`` (atomic: snapshot exists
         fully or not at all)
      4. publish by writing the snapshot name to a temp pointer file and
         ``os.replace``-ing it onto ``_CURRENT`` (atomic on POSIX)

    A reader (``read_table``) resolves ``_CURRENT`` first, so a crash at
    ANY step leaves the previous published snapshot intact and readable
    — unlike a delete-then-rename overwrite, which loses the old table
    if the writer dies between the two. Concurrent writers each build
    their own snapshot dir and race only on the final ``os.replace``;
    the loser's snapshot stays on disk (never torn) until
    ``vacuum_table`` prunes it — Iceberg's last-commit-wins replace
    semantics, without conflict detection. Crash litter
    (``*.inprogress`` dirs, unpublished snapshots, orphan pointer
    temps) is invisible to readers and reclaimed by ``vacuum_table``.
    """
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in target:
        writer = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return target

    root = Path(target)
    if mode != "overwrite" and (
        _current_snapshot(root) is not None
        or (root / "_SUCCESS").exists()  # legacy plain-parquet table
    ):
        raise FileExistsError(f"{root} exists and mode={mode}")
    root.mkdir(parents=True, exist_ok=True)

    snap_name = f"snap-{uuid.uuid4().hex[:12]}"
    tmp = root / (snap_name + _INPROGRESS)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(str(tmp))
    manifest = {
        "committed_at": time.time(),
        "rows": None,  # cheap commit: no extra count action
        "partition_by": partition_by or [],
        "format": "parquet",
    }
    (tmp / "_MANIFEST.json").write_text(json.dumps(manifest))
    os.rename(tmp, root / snap_name)  # seal the snapshot

    ptr_tmp = root / f".{_POINTER}.tmp-{uuid.uuid4().hex[:8]}"
    ptr_tmp.write_text(snap_name)
    os.replace(ptr_tmp, root / _POINTER)  # publish (atomic)
    return str(root)


def vacuum_table(target: str, keep_current: bool = True) -> list[str]:
    """Reclaim crash litter and superseded snapshots.

    Removes ``*.inprogress`` dirs, orphan pointer temps, and sealed
    snapshots other than the published one. Safe against a concurrent
    COMMIT (it never touches the pointer or the dir the pointer names,
    re-read after each candidate); like Iceberg's expire-snapshots, it
    must not run concurrently with a READER of an old snapshot."""
    root = Path(target)
    removed: list[str] = []
    for child in list(root.iterdir()) if root.is_dir() else []:
        name = child.name
        if name == _POINTER:
            continue
        is_litter = name.endswith(_INPROGRESS) or name.startswith(
            f".{_POINTER}.tmp-"
        )
        cur = _current_snapshot(root)
        is_stale_snap = (
            name.startswith("snap-")
            and not name.endswith(_INPROGRESS)
            and (cur is None or child != cur or not keep_current)
        )
        if is_litter or is_stale_snap:
            if child.is_dir():
                shutil.rmtree(child, ignore_errors=True)
            else:
                child.unlink(missing_ok=True)
            removed.append(name)
    return removed
