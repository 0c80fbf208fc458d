"""Sinks: parquet (engine-native), CSV (edge parity), staged overwrite.

The reference's warehouse writes are BigQuery WRITE_TRUNCATE loads and
CREATE OR REPLACE TABLE CTAS (config.py:161-172, 190-199). The Spark
analogs here write Parquet; ``overwrite_table`` stages to a temp dir
and swaps so a plan that *reads* the target can still produce it
(Spark cannot overwrite a path it is reading — the read-then-overwrite
hazard called out in SURVEY.md §7).

This module is the package's only table publisher: the path and
catalog merges, compaction, the rollup and the streaming CDC snapshot
all publish through it. Publishes are single-writer per table, enforced
by :func:`publish_lock`: a kernel ``flock`` on a sibling lock file.
Like the symlink pointer it needs a local POSIX filesystem; a crashed
holder's lock frees at once.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import uuid
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame

from awi_datapipelinepublic_spark.sources.readers import SNAPSHOT_SCHEMA, read_snapshot


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """Cleaned staging file sink (reference config.py:146). CSV only at
    the edge — inter-stage data is always Parquet."""
    df.write.mode("overwrite").option("header", True).csv(path)


def _version_dirs(target: Path) -> list[Path]:
    """Hidden versioned snapshots of ``target``, oldest-first (the
    zero-padded counter in the name is the sort key)."""
    return sorted(target.parent.glob(f".{target.name}.v-*"))


def _version_number(vdir: Path) -> int:
    """The publish counter in a snapshot name ``.{name}.v-{n}-{suffix}``."""
    return int(vdir.name.rsplit(".v-", 1)[1].split("-")[0])


def _is_complete(vdir: Path) -> bool:
    """A snapshot is publishable iff the committer's _SUCCESS marker
    landed — a crash mid-write leaves a marker-less dir that recovery
    and GC treat as garbage, never as data."""
    return (vdir / "_SUCCESS").exists()


def _point_at(target: Path, vdir: Path) -> None:
    """Atomically (re)point the ``target`` symlink at ``vdir``:
    symlink-create at a temp name + ``os.replace`` — a single rename
    syscall, so every reader (and any crash) sees either the previous
    pointer or the new one, never an absent or half-written table."""
    tmp = target.parent / f".{target.name}.link-{uuid.uuid4().hex[:8]}"
    os.symlink(vdir.name, tmp)
    os.replace(tmp, target)


class ConcurrentPublishError(RuntimeError):
    """A second writer tried to publish a table mid-publish. The
    engine's contract is single-writer per table (the reference's
    per-type Cloud Functions, main.py:39-41); this error makes a
    violated contract LOUD instead of letting two writers race the
    pointer (last-flip-wins would silently drop a whole publish).
    Raised by :func:`publish_lock`, a kernel ``flock`` — like the
    symlink pointer it needs a local POSIX filesystem, and a crashed
    holder's lock is freed the moment its process dies."""


def local_path(path: str | os.PathLike) -> Path:
    """The local filesystem path of a table: ``file://`` is stripped,
    any other ``scheme://`` raises ValueError — the pointer flip and the
    flock are local POSIX operations, and ``Path`` would turn
    ``s3://b/t`` into the relative dir ``s3:/b/t``."""
    s = os.fspath(path)
    if "://" in s and not s.startswith("file://"):
        raise ValueError(
            f"tables publish to local paths only, got {s!r}: on object "
            "stores publish through a table format (Delta/Iceberg) instead"
        )
    return Path(s.removeprefix("file://"))


@dataclass
class HeldTable:
    """What :func:`publish_lock` yields: a table (``path``, also its
    ``os.fspath``) whose lock the caller holds. :func:`overwrite_table`
    publishes to it without locking again while ``held``."""

    path: Path
    held: bool = True

    def __fspath__(self) -> str:
        return str(self.path)


@contextmanager
def publish_lock(path: str | os.PathLike):
    """Per-table publish lock: an exclusive, non-blocking ``flock`` on
    the sibling ``.{name}.lock``, held for the ``with`` body, which gets
    a :class:`HeldTable` for the table's :func:`local_path` (a non-local
    URI raises before any filesystem call, so every publisher inherits
    the guard) after :func:`recover_table` has run on it. While one
    writer holds it, every other writer gets
    :class:`ConcurrentPublishError` — another thread too, since flock
    locks belong to the open file description, not the process. The
    kernel drops the lock when the fd closes or the process dies, so
    there is nothing to age out and nothing to take over. ``open``
    fds are non-inheritable: the JVM child never keeps it alive.

    Release unlinks the file while still holding it, so no lock file
    outlives a publish. A writer that opened the old inode before that
    unlink can win the flock after it, so an acquirer only counts as
    holder once the path still names the inode it locked; otherwise
    it retries on the live path.
    """
    target = local_path(path)
    lock = target.parent / f".{target.name}.lock"
    lock.parent.mkdir(parents=True, exist_ok=True)
    while True:
        with open(lock, "a") as f:
            try:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise ConcurrentPublishError(
                    f"another writer holds {lock}; the engine is "
                    "single-writer per table — serialize publishes upstream"
                ) from None
            try:
                held = os.path.samestat(os.fstat(f.fileno()), os.stat(lock))
            except FileNotFoundError:
                held = False
            if not held:
                continue  # locked a released (unlinked) inode — retry
            table = HeldTable(target)
            try:
                recover_table(target)
                yield table
            finally:
                table.held = False
                lock.unlink(missing_ok=True)
            return


def recover_table(path: str | os.PathLike) -> None:
    """Roll a crashed publish forward/back: if ``path`` is missing but
    versioned snapshots exist (the only non-atomic step is the one-time
    legacy-dir migration in :func:`overwrite_table`), re-point at the
    newest COMPLETE snapshot. Idempotent; no-op for healthy or
    never-written tables. :func:`publish_lock` runs it on every acquire."""
    target = Path(path)
    if target.is_symlink() or target.exists():
        return
    complete = [d for d in _version_dirs(target) if _is_complete(d)]
    if complete:
        _point_at(target, complete[-1])


def list_versions(path: str) -> list[tuple[int, str]]:
    """COMPLETE retained snapshots of ``path``, oldest-first, as
    (version_number, directory) pairs — the engine's answer to
    ``DESCRIBE HISTORY``. Only snapshots kept by ``keep_versions``
    survive; the pointer's target is always last."""
    return [(_version_number(d), str(d)) for d in _version_dirs(Path(path)) if _is_complete(d)]


def read_version(spark, path: str, version: int) -> "DataFrame":
    """Time travel: read a specific retained snapshot (a
    ``list_versions`` number) — the Delta ``VERSION AS OF`` analog.
    Current data is ``readers.read_snapshot(spark, path)`` (the
    pointer); this resolves a historical dir. Raises KeyError for a
    version that was never written or has been retention-GC'd."""
    for n, d in list_versions(path):
        if n == version:
            return read_snapshot(spark, d)
    raise KeyError(
        f"version {version} of {path} not retained "
        f"(have: {[n for n, _ in list_versions(path)]})"
    )


def overwrite_table(
    df: DataFrame,
    path: str | os.PathLike,
    partition_by: list[str] | None = None,
    keep_versions: int = 1,
) -> None:
    """ATOMIC staged overwrite — the engine's CREATE OR REPLACE TABLE
    (the reference's BQ CTAS, config.py:190-199, is atomic; so is
    this). ``df`` may read from ``path`` (the time-window merge unions
    old history with the new batch, reference config.py:193-198), so
    the new snapshot fully materializes to a hidden versioned sibling
    ``.{name}.v-{n}-{uuid}`` first; ``path`` itself is a SYMLINK
    re-pointed with one atomic rename. A kill at ANY step leaves the
    pointer on a complete old or complete new snapshot — never a mix,
    never a missing table: an interrupted data write leaves a
    _SUCCESS-less dir that GC removes; an interrupted swap leaves the
    old pointer; post-swap GC failure leaves only reclaimable garbage.

    ``path`` is a table path, locked here with :func:`publish_lock`,
    or the :class:`HeldTable` that lock yielded to a caller that read
    the table in the same ``with``; reusing that lock makes the
    read-then-publish atomic.

    Production analog: on Delta/Iceberg this is the transaction-log
    commit (`replaceWhere` for the merge); on HDFS the same
    version-dir + pointer-file scheme rides atomic NN renames. The
    one-time migration of a pre-versioning plain directory is the only
    non-atomic step (dir-away + link-in, two renames); the next
    :func:`publish_lock` rolls that window forward. Single-writer per
    table, like the reference's per-type Cloud Functions.

    ``keep_versions`` retains that many newest complete snapshots
    (current included) for time travel via :func:`read_version` /
    :func:`list_versions` — the Delta ``VERSION AS OF`` analog; the
    default 1 keeps only the live snapshot (no storage growth).
    """
    lock = nullcontext(path) if isinstance(path, HeldTable) else publish_lock(path)
    with lock as held:
        if not held.held:
            raise RuntimeError(f"the publish lock on {held.path} was released")
        target = held.path
        existing = _version_dirs(target)
        n = max(map(_version_number, existing), default=0) + 1
        migrate_legacy = target.exists() and not target.is_symlink()
        if migrate_legacy:
            n += 1  # reserve n-1 for the migrated legacy dir, below the new snapshot
        vdir = target.parent / f".{target.name}.v-{n:08d}-{uuid.uuid4().hex[:8]}"
        write_parquet(df, str(vdir), partition_by)
        # Spark reads a declared file schema back all-nullable with partition
        # columns last, as inference does, so the frame's schema is recorded.
        (vdir / SNAPSHOT_SCHEMA).write_text(df.schema.json())
        (vdir / "_SUCCESS").touch()  # belt-and-braces if the committer marker is off
        if migrate_legacy:
            # Pre-versioning plain-dir table: fold it into the version
            # scheme (its _SUCCESS makes it recoverable) so the swap is a
            # pointer flip from now on. The dir-away rename opens the one
            # window where `path` is briefly absent; recover_table rolls it
            # forward (both snapshots are complete, newest wins).
            os.rename(target, target.parent / f".{target.name}.v-{n - 1:08d}-legacy")
        _point_at(target, vdir)
        # GC: keep the pointer's target plus the newest complete snapshots
        # up to keep_versions; everything else — superseded history past
        # retention, rolled-past dirs, _SUCCESS-less crash debris — is
        # garbage. Best-effort: a kill here strands reclaimable dirs that
        # the next publish sweeps.
        current = os.readlink(target)
        keep = {current}
        for d in reversed(_version_dirs(target)):
            if len(keep) >= max(1, keep_versions):
                break
            if _is_complete(d):
                keep.add(d.name)
        for d in _version_dirs(target):
            if d.name not in keep:
                shutil.rmtree(d, ignore_errors=True)
        for leftover in target.parent.glob(f".{target.name}.link-*"):
            leftover.unlink(missing_ok=True)


def compact_table(spark, path: str, target_file_mb: int = 256, partition_by: list[str] | None = None) -> int:
    """Small-files compaction: rewrite a parquet table at a target file
    size. Streaming merges and incremental loads accrete small files;
    at 100 TB an uncompacted table turns every scan into metadata
    churn. Sizing uses the table's on-disk bytes; the rewrite keeps
    partition columns. Returns the file count after compaction.
    """
    # The publish lock is held across the READ as well as the rewrite:
    # compaction republishes what it read, so a merge that landed
    # between an unlocked read and the pointer flip would be silently
    # erased by the compacted (stale) snapshot. Holding the lock for
    # the whole read-repartition-publish serializes compaction against
    # concurrent merges instead of losing their batches.
    with publish_lock(path) as held:
        total_bytes = sum(f.stat().st_size for f in held.path.rglob("*.parquet"))
        n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
        df = read_snapshot(spark, held)
        if partition_by:
            compacted = df.repartition(n_files, *[df[c] for c in partition_by])
        else:
            compacted = df.repartition(n_files)
        overwrite_table(compacted, held, partition_by)
    return len(list(held.path.rglob("*.parquet")))


def quarantine(src_path: str, error_dir: str) -> str:
    """Failed-input quarantine (reference failed_func, config.py:223-234):
    move the raw file to an errors dir so the pipeline never re-ingests
    a poison input. Returns the quarantined path."""
    src = Path(src_path)
    dst_dir = Path(error_dir)
    dst_dir.mkdir(parents=True, exist_ok=True)
    dst = dst_dir / src.name
    shutil.move(str(src), str(dst))
    return str(dst)
