"""Crash-safe table-promote primitives. Every table the package
replaces as a whole commits through :func:`promote` (``ContinuousRollup``,
``IncrementalJoinMV.compact``, ``MinHashIndex.compact``/
``compact_batches``, the streaming component labels, the streaming
marker-merge sinks) or through :func:`ensure_artifact`, the one build
protocol of the fingerprinted cache artifacts (the near-dup pair graph,
its component labels and the src0 MinHash index), which calls
:func:`promote`. ``FeatureStore._swap_in`` calls :func:`swap_dir`
itself, because it adopts displaced versions into its snapshot log.

Layout: the table path is a SYMLINK to a sibling versioned
directory — ``tbl -> tbl.v3`` — and a promote is

  1. ``rename(staging, tbl.v4)``       (new version lands complete)
  2. ``symlink tbl.lnk -> tbl.v4``; ``rename(tbl.lnk, tbl)``

Step 2's rename atomically REPLACES the old symlink (POSIX rename onto
an existing link), so there is no instant at which the table path fails
to resolve to a complete version, and no reader can mis-heal an
in-flight promote. The displaced version directory is returned still
on disk; the caller disposes of it (delete, or rename into a snapshot
log) only AFTER the promote, so at every crash point some complete
version holds the pre-promote state.

Everything reads *through* the symlink (``os.path.isdir``, Spark's
parquet reader, in-table ``_meta.json`` markers, partition-dir
listings), so callers are layout-agnostic. Legacy real-directory
tables migrate on their first swap: the current dir is adopted as
``tbl.v1`` and the pointer created — that one migration retains a
rename window, healed by ``recover_swap``.

Crash matrix:

* crash after step 1: the pointer still serves the old version; the
  new dir is an un-promoted orphan. The caller's replay re-runs the
  batch (its commit marker never swapped in) and promotes the next
  version number; orphans are pruned on the next successful swap.
* crash inside the legacy migration (path renamed away, pointer not
  yet created): ``recover_swap`` re-points at the newest version.
* pre-migration legacy crash (state stranded in ``.old``):
  ``recover_swap`` renames it back into place.

Concurrent READERS on the same filesystem always resolve a complete
table. Deleting the displaced version while a reader is mid-scan is
the standard snapshot-retention race (what Delta's VACUUM documents);
callers that need concurrent long scans keep the displaced dir (the
FeatureStore renames it into its snapshot log). WRITERS stay
single-process per table (:func:`swap_dir_cas` is the multi-writer
form).

FINGERPRINTED ARTIFACTS (:func:`ensure_artifact`): a cache table whose
validity is its ``_meta.json`` — written inside the staging dir before
the promote, so table and meta can only ever be swapped in together.
Check-then-build runs under an exclusive ``flock`` on a sibling
``.lock`` file, so concurrent builders serialize and a reader is never
handed a half-written table under a valid meta; ``flock`` releases on
process death, so a crashed builder leaves no stale lock. A meta that
is missing, unreadable, truncated, not a JSON object or not equal to
the expected one means stale: rebuild, never serve.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from typing import Callable

RETIRED_SUFFIX = ".old"
_ARTIFACT_META = "_meta.json"
_POINTER_TMP = ".lnk"
_STAGING = ".staging."
_VER_RE = re.compile(r"^\.v(\d+)$")


def list_versions(path: str) -> dict[int, str]:
    """Existing sibling version directories ``{n: '<path>.v<n>'}``."""
    base = os.path.basename(path)
    parent = os.path.dirname(path) or "."
    out: dict[int, str] = {}
    try:
        names = os.listdir(parent)
    except OSError:
        return out
    for nm in names:
        if not nm.startswith(base + ".v"):
            continue
        m = _VER_RE.match(nm[len(base):])
        full = os.path.join(parent, nm)
        if m and os.path.isdir(full):
            out[int(m.group(1))] = full
    return out


def current_version_dir(path: str) -> str | None:
    """The version directory the table pointer currently serves, or
    None (legacy real-dir layout, or no table)."""
    if not os.path.islink(path):
        return None
    target = os.path.join(os.path.dirname(path) or ".", os.readlink(path))
    return target if os.path.isdir(target) else None


def _point(path: str, target_dir: str) -> None:
    """Atomically (re)point ``path`` at ``target_dir`` — one rename,
    valid whether or not a pointer already exists."""
    tmp = path + _POINTER_TMP
    try:
        os.remove(tmp)
    except FileNotFoundError:
        pass
    os.symlink(os.path.basename(target_dir), tmp)
    os.rename(tmp, path)


def recover_swap(path: str) -> bool:
    """Heal a crashed promote: if the table path does not resolve,
    re-point it at the newest complete version directory (versioned
    layout) or roll the legacy ``.old`` state back into place.
    Returns True when a recovery was performed.

    A healthy pointer/table is never touched: the pointer flip is
    atomic, so there is no absent-path window for a reader to mis-heal
    (legacy tables keep one for their migration swap)."""
    if os.path.isdir(path):  # resolves (real dir or live symlink)
        return False
    vers = list_versions(path)
    retired = path + RETIRED_SUFFIX
    if not vers and not os.path.isdir(retired):
        return False
    if os.path.islink(path):  # a dangling pointer would block the heal
        try:
            os.remove(path)
        except OSError:
            pass
    try:
        if vers:
            _point(path, vers[max(vers)])
        else:
            os.rename(retired, path)
    except OSError:
        # lost a heal race: sibling healed first / writer finished
        return False
    return True


def version_number(path: str) -> int:
    """The version number the table pointer currently serves
    (``tbl -> tbl.v3`` → 3), or 0 when no table exists yet. Raises on a
    legacy real-dir table — migrate via :func:`swap_dir` first."""
    if os.path.isdir(path) and not os.path.islink(path):
        raise ValueError(f"{path}: legacy real-dir table has no version pointer")
    cur = current_version_dir(path)
    if cur is None:
        return 0
    m = _VER_RE.match(cur[len(path):])
    if not m:
        raise ValueError(f"{path}: pointer target {cur!r} is not a version dir")
    return int(m.group(1))


class CASConflict(RuntimeError):
    """Another writer promoted first; re-read the table and retry."""


def _flip_monotonic(path: str, new_dir: str) -> None:
    """Flip the table pointer to ``new_dir`` iff that ADVANCES the
    version. Serialized by a sibling flock so a lagging writer's
    forward-heal (see :func:`swap_dir_cas`) can never race a fresher
    writer's flip into moving the pointer backwards. On an object
    store the equivalent is a conditional put of the pointer object
    keyed on its generation — the same monotonicity rule."""
    import fcntl

    m = _VER_RE.match(new_dir[len(path):])
    target_n = int(m.group(1)) if m else 0
    with open(path + ".ptrlock", "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            if version_number(path) < target_n:
                _point(path, new_dir)
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def swap_dir_cas(path: str, staging: str, expected_version: int) -> str | None:
    """MULTI-WRITER conditional promote: succeed iff the table is still
    at ``expected_version`` (0 = no table yet), else raise
    :class:`CASConflict` with ``staging`` left intact for the caller's
    retry. This is the optimistic-concurrency contract of a Delta /
    Iceberg commit: read version N, prepare, commit N+1 conditionally.

    The commit point is ONE exclusive claim of the ``.v{N+1}`` slot —
    ``os.rename(staging, tbl.vN+1)``, which the filesystem rejects when
    the slot is already a (necessarily non-empty) version directory —
    the local-POSIX analog of an object store's conditional put /
    if-none-match. Exactly one of any number of racing writers wins the
    slot; losers raise before touching the pointer, so the pointer can
    never move backwards (the lost-update anomaly an unconditional
    :func:`swap_dir` race would allow). The winner then flips the
    pointer. A writer can only claim N+1 after observing version N,
    which exists only after the N-claimant's flip (or a heal of its
    crash), so pointer flips are serialized by the version chain itself.

    In THIS protocol the slot claim is the commit and the pointer is a
    cache of "current": a loser that collides with a claimed slot heals
    the pointer FORWARD onto the claimant's (necessarily complete)
    version before raising, so a claimant crash between claim and flip
    can never livelock retrying writers — and every flip goes through
    a monotonic guard (:func:`_flip_monotonic`), so a lagging heal can
    never move a fresher pointer backwards. Consequently a table must
    not mix :func:`swap_dir` (which treats an unflipped version as a
    discardable orphan) and :func:`swap_dir_cas` (which treats it as
    committed) as concurrent writers.

    On an actual object store, replace the rename with a conditional
    put of the pointer object keyed on its ETag/generation — the shape
    of this function is deliberately that call."""
    recover_swap(path)
    cur = version_number(path)
    if cur != expected_version:
        raise CASConflict(
            f"{path}: expected v{expected_version}, found v{cur} — "
            "another writer promoted first; re-read and retry"
        )
    new_dir = f"{path}.v{expected_version + 1}"
    try:
        os.rename(staging, new_dir)  # the exclusive commit point
    except OSError as exc:
        if os.path.isdir(new_dir):
            # slot already committed by a writer that hasn't flipped
            # (or crashed pre-flip): serve its version so our caller's
            # re-read sees the winner, not a stale pointer
            _flip_monotonic(path, new_dir)
        raise CASConflict(
            f"{path}: version slot v{expected_version + 1} already "
            "claimed by a concurrent writer"
        ) from exc
    displaced = current_version_dir(path)
    _flip_monotonic(path, new_dir)
    return displaced


def swap_dir(path: str, staging: str, prune_strays: bool = True) -> str | None:
    """Promote ``staging`` to ``path`` (heals a crashed swap first).
    The displaced version directory is returned still on disk (``None``
    when no table existed); the CALLER disposes of it — ``rmtree`` it,
    or rename it into a snapshot log — so history is only deleted after
    the new state is fully promoted.

    ``prune_strays`` (default) removes other leftover version dirs —
    un-promoted orphans from a crash after step 1, or a displaced dir a
    crashed caller never disposed. Callers that ADOPT displaced dirs
    (the FeatureStore's snapshot log) pass False and sweep strays
    themselves, so a crash between their swap and the adoption rename
    can never silently delete a version they meant to keep."""
    recover_swap(path)
    # a stale legacy '.old' is fully superseded once a promote succeeds;
    # clearing it here keeps recover_swap from ever resurrecting it
    # (it can be a renamed-away POINTER, not just a dir — crash sims do
    # `rename(tbl, tbl + '.old')` on the symlink)
    old = path + RETIRED_SUFFIX
    if os.path.islink(old):
        os.remove(old)
    else:
        shutil.rmtree(old, ignore_errors=True)
    vers = list_versions(path)
    nmax = max(vers) if vers else 0
    if os.path.isdir(path) and not os.path.islink(path):
        # legacy real-dir layout: adopt the current table as a version,
        # then create the pointer (the one remaining windowed migration
        # — a crash between these renames heals via recover_swap)
        nmax += 1
        legacy = f"{path}.v{nmax}"
        os.rename(path, legacy)
        _point(path, legacy)
        vers[nmax] = legacy
    displaced = current_version_dir(path)
    new_dir = f"{path}.v{nmax + 1}"
    os.rename(staging, new_dir)
    _point(path, new_dir)  # the one atomic pointer flip
    if prune_strays:
        for d in vers.values():
            if d != displaced and d != new_dir:
                shutil.rmtree(d, ignore_errors=True)
    return displaced


def remove_table(path: str) -> None:
    """Delete table ``path``: its pointer, every version directory and
    a legacy ``.old`` (``shutil.rmtree`` refuses a symlink pointer)."""
    if os.path.islink(path):
        os.remove(path)
    else:
        shutil.rmtree(path, ignore_errors=True)
    for d in list_versions(path).values():
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(path + RETIRED_SUFFIX, ignore_errors=True)


def read_artifact_meta(path: str) -> dict | None:
    """The ``_meta.json`` object inside table ``path``, or None when it
    is missing, unreadable, truncated or not a JSON object."""
    try:
        with open(os.path.join(path, _ARTIFACT_META)) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) else None


def promote(
    path: str, write: Callable[[str], None], meta: dict | None = None
) -> None:
    """Replace table ``path`` with a complete new version, the one
    commit path of every whole-table rewrite in the package (module
    doc). ``write(staging)`` must create the new table in a
    per-process unique staging dir; ``meta``, when given, is dumped as
    ``_meta.json`` inside it, so data and meta commit in the same
    pointer flip (:func:`swap_dir`, which heals a crashed promote
    first). The staging dir is removed whatever happens, and the
    displaced version once the new one serves.

    A ``write`` that raises leaves the previous table serving; a
    process killed before the flip leaves the previous table (with its
    previous meta) serving and an orphan staging dir, which the next
    promote of the table removes."""
    staging = f"{path}{_STAGING}{os.getpid()}_{uuid.uuid4().hex[:8]}"
    try:
        write(staging)
        if meta is not None:
            with open(os.path.join(staging, _ARTIFACT_META), "w") as fh:
                json.dump(meta, fh)
        retired = swap_dir(path, staging)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    if retired:
        shutil.rmtree(retired, ignore_errors=True)
    _prune_dead_stagings(path)


def _prune_dead_stagings(path: str) -> None:
    """Remove the staging dirs of table ``path`` whose writer process
    is gone (killed before its promote); a live writer's dir is kept."""
    parent, base = os.path.split(path)
    prefix = base + _STAGING
    for name in os.listdir(parent or "."):
        pid = name[len(prefix):].split("_", 1)[0]
        if not (name.startswith(prefix) and pid.isdigit()):
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except OSError:
            pass  # alive, owned by another user


def ensure_artifact(
    path: str, expected: dict, write: Callable[[str], None]
) -> bool:
    """Make table ``path`` hold the artifact whose meta is ``expected``
    (module doc: FINGERPRINTED ARTIFACTS). Under an exclusive flock on
    ``path + '.lock'``: heal a crashed promote, then compare the stored
    meta with ``expected`` (JSON-native values only: it is compared with
    its own round trip). Equal → return False, nothing written.
    Otherwise :func:`promote` the table ``write`` creates, with
    ``expected`` as its meta, and return True (built)."""
    import fcntl

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path + ".lock", "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            recover_swap(path)
            if read_artifact_meta(path) == expected:
                return False
            promote(path, write, expected)
            return True
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)
