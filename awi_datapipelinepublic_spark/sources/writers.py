"""Sinks: parquet (engine-native), CSV (edge parity), staged overwrite.

The reference's warehouse writes are BigQuery WRITE_TRUNCATE loads and
CREATE OR REPLACE TABLE CTAS (config.py:161-172, 190-199). The Spark
analogs here write Parquet; ``overwrite_table`` stages to a temp dir
and swaps so a plan that *reads* the target can still produce it
(Spark cannot overwrite a path it is reading — the read-then-overwrite
hazard called out in SURVEY.md §7).
"""

from __future__ import annotations

import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame


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
    pointer (last-flip-wins would silently drop a whole publish)."""


_LOCK_STALE_SECONDS = 3600.0
_HEARTBEAT_SECONDS = _LOCK_STALE_SECONDS / 4
# A takeover critical section is a few syscalls (stat + rename + stat +
# unlink) — milliseconds. 60 s of no-progress means the taker-over
# crashed inside it; its sub-lock is then debris anyone may clear.
_TAKEOVER_STALE_SECONDS = 60.0


def _acquire_publish_lock(target: Path) -> tuple[Path, str]:
    """Advisory per-table publish lock: O_EXCL-create a sibling
    ``.{name}.lock`` stamped with a per-acquisition token (atomic on
    POSIX and HDFS; on S3 use a conditional PUT). Returns
    ``(lock_path, token)`` — release with :func:`_release_publish_lock`
    which compares the token so a writer can only ever remove its OWN
    lock. A FRESH foreign lock raises ConcurrentPublishError.

    Liveness vs staleness: a LIVE holder heartbeat-touches the lock
    every ``_HEARTBEAT_SECONDS`` (see :class:`_LockHeartbeat`), so its
    mtime never ages past ``_LOCK_STALE_SECONDS`` no matter how long
    the publish runs — a stale mtime therefore means a crashed writer,
    not a slow one. The stale horizon must exceed the heartbeat
    interval plus worst-case scheduler pause, NOT the write duration.

    Takeover is an atomic ``os.rename`` of the observed stale inode to
    a private claim name: when N racers observe the same stale lock,
    exactly one rename succeeds (losers get FileNotFoundError and
    retry, then see the winner's fresh lock and raise). The winner
    re-stats the claimed file and, if the inode changed or the mtime
    was refreshed between its stat and its rename (a heartbeat landed),
    restores it via ``os.link`` (create-if-absent, atomic) and backs
    off — it never destroys a live writer's lock, closing the
    unlink-a-fresh-lock race of the naive unlink-and-recreate scheme.
    """
    import time

    lock = target.parent / f".{target.name}.lock"
    while True:
        token = uuid.uuid4().hex
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"pid={os.getpid()} token={token}\n".encode())
            os.close(fd)
            return lock, token
        except FileExistsError:
            try:
                st = lock.stat()
            except FileNotFoundError:
                continue  # holder released between our open and stat
            age = time.time() - st.st_mtime
            if age < _LOCK_STALE_SECONDS:
                raise ConcurrentPublishError(
                    f"another writer holds {lock} (age {age:.0f}s); "
                    "the engine is single-writer per table — serialize "
                    "publishes upstream"
                ) from None
            # Stale lock: take over — but SERIALIZE takeover attempts
            # through a sibling O_EXCL sub-lock. Without it, a racer
            # whose stat predates the previous takeover winner's fresh
            # re-create can rename that FRESH lock away, and during its
            # rename→restore absence window a third racer's O_EXCL
            # create succeeds: two writers admitted (caught by
            # test_stale_takeover_race_exactly_one_winner). Inside the
            # critical section the staleness check is REDONE on a fresh
            # stat, so a takeover can only ever claim an inode it just
            # observed stale while no other takeover is in flight.
            takeover = target.parent / f".{target.name}.lock.takeover"
            try:
                tfd = os.open(takeover, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                # Another takeover is in flight. A crashed one (no
                # heartbeat on takeover files; the critical section is
                # milliseconds) ages out fast — clear and retry.
                try:
                    tage = time.time() - takeover.stat().st_mtime
                except FileNotFoundError:
                    continue  # it just finished — retry from the top
                if tage > _TAKEOVER_STALE_SECONDS:
                    # Clear the crashed sub-lock with the same
                    # rename-claim + verify + restore discipline as the
                    # main lock (ADVICE r12): when N racers observe the
                    # same >60s-old takeover file, exactly ONE rename
                    # succeeds; and if what we grabbed turns out FRESH
                    # (re-created between our stat and our rename —
                    # the window an unlink-by-path would silently
                    # destroy), we put it back via create-only link
                    # and treat the takeover as in flight.
                    debris = (
                        target.parent
                        / f".{target.name}.lock.takeover.gc-{token[:8]}"
                    )
                    try:
                        os.rename(takeover, debris)
                    except FileNotFoundError:
                        continue  # another clearer won — retry from the top
                    try:
                        dage = time.time() - debris.stat().st_mtime
                    except FileNotFoundError:
                        continue
                    if dage <= _TAKEOVER_STALE_SECONDS:
                        try:
                            os.link(debris, takeover)
                            debris.unlink(missing_ok=True)
                        except FileExistsError:
                            # A newer sub-lock already owns the path.
                            # The debris IS the fresh racer's sub-lock
                            # inode — leave it in place, as the
                            # main-lock restore branch below does.
                            pass
                        raise ConcurrentPublishError(
                            f"another writer is taking over the stale {lock} "
                            "(sub-lock re-created mid-clear); the engine is "
                            "single-writer per table"
                        ) from None
                    debris.unlink(missing_ok=True)
                    continue
                raise ConcurrentPublishError(
                    f"another writer is taking over the stale {lock}; "
                    "the engine is single-writer per table"
                ) from None
            try:
                os.write(tfd, f"pid={os.getpid()} token={token}\n".encode())
                os.close(tfd)
                # Re-verify under the takeover lock: our earlier stat
                # may predate a previous winner's fresh lock.
                try:
                    st2 = lock.stat()
                except FileNotFoundError:
                    continue  # released mid-takeover — retry create
                if time.time() - st2.st_mtime < _LOCK_STALE_SECONDS:
                    raise ConcurrentPublishError(
                        f"another writer holds {lock} (re-created before "
                        "our takeover); the engine is single-writer per "
                        "table"
                    ) from None
                claim = target.parent / f".{target.name}.lock.claim-{token[:8]}"
                try:
                    os.rename(lock, claim)
                except FileNotFoundError:
                    continue  # holder released first — retry create
                cst = claim.stat()
                if cst.st_ino != st2.st_ino or time.time() - cst.st_mtime < _LOCK_STALE_SECONDS:
                    # Between our fresh stat and our rename the lock was
                    # heartbeat-refreshed: we grabbed a LIVE (slow)
                    # writer's lock. Put it back (link = create-only,
                    # never clobbers a newer lock) and treat as held.
                    try:
                        os.link(claim, lock)
                    except FileExistsError:
                        # A third writer O_EXCL-created a fresh lock
                        # inside our rename→restore window. The claim IS
                        # the live holder's lock inode — unlinking it
                        # here would destroy the only record of that
                        # holder, so LEAVE IT IN PLACE; the holder's
                        # heartbeat re-creates the canonical lock path
                        # on its next beat (see _LockHeartbeat._run),
                        # which surfaces the conflict to whichever of
                        # the two survives. We just back off.
                        raise ConcurrentPublishError(
                            f"another writer holds {lock} (refreshed "
                            "mid-takeover; restore raced a third writer); "
                            "the engine is single-writer per table"
                        ) from None
                    claim.unlink(missing_ok=True)
                    raise ConcurrentPublishError(
                        f"another writer holds {lock} (refreshed "
                        "mid-takeover); the engine is single-writer per "
                        "table"
                    ) from None
                claim.unlink()  # stale inode confirmed ours alone — retry create
            finally:
                _release_takeover(takeover, token)


def _release_takeover(takeover: Path, token: str) -> None:
    """Remove the takeover sub-lock ONLY if it still carries our token
    (mirrors :func:`_release_publish_lock`): if our critical section
    stalled past ``_TAKEOVER_STALE_SECONDS`` (VM pause, NFS hang), a
    racer may have legitimately cleared our file and a NEW takeover may
    own the path — an unconditional unlink here would delete that
    racer's live sub-lock (ADVICE r12)."""
    try:
        if f"token={token}" in takeover.read_text():
            takeover.unlink(missing_ok=True)
    except FileNotFoundError:
        pass


def _release_publish_lock(lock: Path, token: str) -> None:
    """Remove the lock ONLY if it still carries our token — after a
    (theoretical) takeover, the thief's lock survives our release, so
    two release paths can never unlink each other's fresh locks."""
    try:
        if f"token={token}" in lock.read_text():
            lock.unlink(missing_ok=True)
    except FileNotFoundError:
        pass


class _LockHeartbeat:
    """Daemon thread that touches the lock's mtime every
    ``_HEARTBEAT_SECONDS`` while a publish runs, so a slow-but-alive
    writer (plausible for 100 TB-scale snapshot writes) is never
    mistaken for a crashed one and never has its lock taken over
    mid-publish. Crash semantics are unchanged: a dead process stops
    touching, the mtime ages out, takeover proceeds.

    Self-healing: if a beat finds the lock file MISSING (a mistaken
    takeover renamed it away), the heartbeat O_EXCL-recreates it with
    the holder's own token, so a live holder's lock presence is
    restored within one beat and later acquirers still see it held.
    If the recreate loses to a usurper's fresh lock (FileExistsError),
    the lock is genuinely contested: ``lost`` flips True and the
    publish path refuses to flip the pointer (ConcurrentPublishError)
    rather than racing the usurper's publish."""

    def __init__(
        self,
        lock: Path,
        token: str | None = None,
        interval: float = _HEARTBEAT_SECONDS,
    ):
        import threading

        self._lock = lock
        self._token = token
        self.lost = False
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, args=(interval,), daemon=True
        )

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            try:
                os.utime(self._lock)
                if self._token is not None:
                    # utime is path-based and content-agnostic: if the
                    # lock file was REPLACED (not just touched), we'd
                    # happily keep a usurper's lock fresh forever.
                    # Token-verify each beat — a mismatch means the
                    # lock is genuinely someone else's now.
                    try:
                        if f"token={self._token}" not in self._lock.read_text():
                            self.lost = True
                    except OSError:
                        pass
            except FileNotFoundError:
                if self._token is None:
                    continue  # legacy caller: nothing to restore with
                try:
                    fd = os.open(
                        self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                    os.write(
                        fd,
                        f"pid={os.getpid()} token={self._token}\n".encode(),
                    )
                    os.close(fd)
                except FileExistsError:
                    self.lost = True  # a usurper holds a fresh lock now
                except OSError:
                    pass
            except OSError:
                pass  # transient stat/utime failure: retry next beat

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def recover_table(path: str) -> None:
    """Roll a crashed publish forward/back: if ``path`` is missing but
    versioned snapshots exist (the only non-atomic step is the one-time
    legacy-dir migration below), re-point at the newest COMPLETE
    snapshot. Idempotent; no-op for healthy or never-written tables."""
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
    target = Path(path)
    out = []
    for d in _version_dirs(target):
        if _is_complete(d):
            out.append((int(d.name.rsplit(".v-", 1)[1].split("-")[0]), str(d)))
    return out


def read_version(spark, path: str, version: int) -> "DataFrame":
    """Time travel: read a specific retained snapshot (a
    ``list_versions`` number) — the Delta ``VERSION AS OF`` analog.
    Current data is just ``spark.read.parquet(path)`` (the pointer);
    this resolves a historical dir. Raises KeyError for a version
    that was never written or has been retention-GC'd."""
    for n, d in list_versions(path):
        if n == version:
            return spark.read.parquet(d)
    raise KeyError(
        f"version {version} of {path} not retained "
        f"(have: {[n for n, _ in list_versions(path)]})"
    )


def overwrite_table(
    df: DataFrame,
    path: str,
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

    Production analog: on Delta/Iceberg this is the transaction-log
    commit (`replaceWhere` for the merge); on HDFS the same
    version-dir + pointer-file scheme rides atomic NN renames. The
    one-time migration of a pre-versioning plain directory is the only
    non-atomic step (dir-away + link-in, two renames); `recover_table`
    rolls that window forward on next touch. Single-writer per table,
    like the reference's per-type Cloud Functions.

    ``keep_versions`` retains that many newest complete snapshots
    (current included) for time travel via :func:`read_version` /
    :func:`list_versions` — the Delta ``VERSION AS OF`` analog; the
    default 1 keeps only the live snapshot (no storage growth).
    """
    target = Path(path)
    # The lock, version dirs and pointer are all siblings of the table.
    target.parent.mkdir(parents=True, exist_ok=True)
    lock, token = _acquire_publish_lock(target)
    try:
        with _LockHeartbeat(lock, token) as hb:
            _publish_locked(df, target, partition_by, keep_versions, hb)
    finally:
        _release_publish_lock(lock, token)


def _publish_locked(
    df: DataFrame,
    target: Path,
    partition_by: list[str] | None,
    keep_versions: int,
    heartbeat: "_LockHeartbeat | None" = None,
) -> None:
    path = str(target)
    recover_table(path)
    existing = _version_dirs(target)
    n = (
        max((int(d.name.rsplit(".v-", 1)[1].split("-")[0]) for d in existing), default=0)
        + 1
    )
    migrate_legacy = target.exists() and not target.is_symlink()
    if migrate_legacy:
        n += 1  # reserve n-1 for the migrated legacy dir, below the new snapshot
    vdir = target.parent / f".{target.name}.v-{n:08d}-{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(str(vdir))
    (vdir / "_SUCCESS").touch()  # belt-and-braces if the committer marker is off

    def _abort_takeover() -> None:
        # The heartbeat detected a usurper's fresh lock while we wrote:
        # flipping the pointer now would race the usurper's publish.
        # Strip the refused snapshot's _SUCCESS and remove the vdir so
        # recover_table / time travel / GC treat it as crash debris —
        # a _SUCCESS-complete unpointed snapshot would otherwise be
        # exactly what recovery repoints to, silently publishing the
        # version this abort refused.
        (vdir / "_SUCCESS").unlink(missing_ok=True)
        shutil.rmtree(vdir, ignore_errors=True)
        raise ConcurrentPublishError(
            f"publish lock for {target} was taken over mid-write; "
            "refusing to flip the pointer over the new holder's publish"
        )

    if heartbeat is not None and heartbeat.lost:
        # Checked BEFORE the legacy migration rename: in the takeover
        # path the pre-versioning dir must stay in place at `path`, not
        # be renamed away leaving recovery to pick our refused vdir.
        _abort_takeover()
    if migrate_legacy:
        # Pre-versioning plain-dir table: fold it into the version
        # scheme (its _SUCCESS makes it recoverable) so the swap is a
        # pointer flip from now on. The dir-away rename opens the one
        # window where `path` is briefly absent; recover_table rolls it
        # forward (both snapshots are complete, newest wins).
        os.rename(target, target.parent / f".{target.name}.v-{n - 1:08d}-legacy")
        if heartbeat is not None and heartbeat.lost:
            # Takeover landed during the rename window: same abort;
            # with the refused vdir gone, recovery repoints to the
            # just-migrated legacy snapshot (newest complete).
            _abort_takeover()
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
    from pathlib import Path as _P

    # The publish lock is held across the READ as well as the rewrite:
    # compaction republishes what it read, so a merge that landed
    # between an unlocked read and the pointer flip would be silently
    # erased by the compacted (stale) snapshot. Holding the lock for
    # the whole read-repartition-publish serializes compaction against
    # concurrent merges instead of losing their batches.
    target = _P(path)
    target.parent.mkdir(parents=True, exist_ok=True)
    lock, token = _acquire_publish_lock(target)
    try:
        with _LockHeartbeat(lock, token) as hb:
            total_bytes = sum(f.stat().st_size for f in target.rglob("*.parquet"))
            n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
            df = spark.read.parquet(path)
            if partition_by:
                compacted = df.repartition(n_files, *[df[c] for c in partition_by])
            else:
                compacted = df.repartition(n_files)
            _publish_locked(compacted, target, partition_by, keep_versions=1, heartbeat=hb)
    finally:
        _release_publish_lock(lock, token)
    return len(list(target.rglob("*.parquet")))


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
