"""Crash-safe table-promote primitives shared by every staging→main
swap in the package (``FeatureStore._swap_in``, ``MinHashIndex.compact``
/``compact_batches``, ``ContinuousRollup``, ``IncrementalJoinMV``, the
streaming marker sinks, and :func:`ensure_artifact` — the one build
protocol of the fingerprinted cache artifacts: the near-dup pair graph,
its component labels and the src0 MinHash index).

Layout (r5): the table path is a SYMLINK to a sibling versioned
directory — ``tbl -> tbl.v3`` — and a promote is

  1. ``rename(staging, tbl.v4)``       (new version lands complete)
  2. ``symlink tbl.lnk -> tbl.v4``; ``rename(tbl.lnk, tbl)``

Step 2's rename atomically REPLACES the old symlink (POSIX rename onto
an existing link), so there is no instant at which the table path fails
to resolve to a complete version — the absent-path window of the old
two-rename directory swap, and the reader mis-heal race it forced
(r4 VERDICT, fsops.py:54), are gone. The displaced version directory is
returned still on disk; the caller disposes of it (delete, or rename
into a snapshot log) only AFTER the promote, so at every crash point
some complete version holds the pre-promote state.

Everything reads *through* the symlink (``os.path.isdir``, Spark's
parquet reader, in-table ``_meta.json`` markers, partition-dir
listings), so callers are layout-agnostic. Legacy real-directory
tables migrate on their first swap: the current dir is adopted as
``tbl.v1`` and the pointer created — that one migration retains the
old rename window, healed by ``recover_swap`` like before.

Crash matrix:

* crash after step 1: the pointer still serves the old version; the
  new dir is an un-promoted orphan. The caller's replay re-runs the
  batch (its commit marker never swapped in) and promotes the next
  version number; orphans are pruned on the next successful swap.
* crash inside the legacy migration (path renamed away, pointer not
  yet created): ``recover_swap`` re-points at the newest version.
* pre-migration legacy crash (state stranded in ``.old``):
  ``recover_swap`` keeps the old heal — renamed back into place.

Concurrent READERS on the same filesystem always resolve a complete
table. Deleting the displaced version while a reader is mid-scan is
the standard snapshot-retention race (what Delta's VACUUM documents);
callers that need concurrent long scans keep the displaced dir (the
FeatureStore renames it into its snapshot log). WRITERS stay
single-process per table — unchanged contract.

PORTABILITY: the symlink pointer is a LOCAL-POSIX protocol (atomic
``rename`` onto an existing link; unprivileged Windows, object stores,
and rsync-without--a don't have it). For those targets the package
also supports a MANIFEST pointer mode (``pointer_mode='manifest'``):
the table path is a plain FILE naming the current version directory,
updated by temp-write + one atomic rename — the same
one-atomic-operation promote, in the shape Delta/Iceberg commit logs
use (an object store would swap the rename for a conditional put).
Readers in manifest mode resolve the data directory via
:func:`resolve` instead of reading the path directly (symlink mode
resolves transparently, which is why it stays the default fast-path).
Both modes pass the same crash matrix (tests/test_fsops.py is
parametrized over them).

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
_MANIFEST_TMP = ".mtmp"
_VER_RE = re.compile(r"^\.v(\d+)$")

#: default pointer protocol for NEW tables ("symlink" | "manifest");
#: an existing table always keeps the mode it was created with
POINTER_MODE = "symlink"


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
    if os.path.islink(path):
        target = os.path.join(os.path.dirname(path) or ".", os.readlink(path))
        return target if os.path.isdir(target) else None
    if os.path.isfile(path):  # manifest pointer
        try:
            with open(path) as fh:
                name = fh.read().strip()
        except OSError:
            return None
        if not name:
            return None
        target = os.path.join(os.path.dirname(path) or ".", name)
        return target if os.path.isdir(target) else None
    return None


def resolve(path: str) -> str:
    """The directory a READER should scan for table ``path``: the path
    itself for real dirs and symlink pointers (which the filesystem
    resolves transparently), the manifest's target in manifest mode.
    Returns ``path`` unchanged when nothing resolves (the reader's own
    missing-table error is clearer than one raised here)."""
    if os.path.isdir(path):
        return path
    return current_version_dir(path) or path


def _mode_of(path: str) -> str | None:
    """The pointer protocol an existing table uses, or None."""
    if os.path.islink(path):
        return "symlink"
    if os.path.isfile(path):
        return "manifest"
    return None


def _point(path: str, target_dir: str, mode: str = "symlink") -> None:
    """Atomically (re)point ``path`` at ``target_dir`` — one rename,
    valid whether or not a pointer already exists."""
    if mode == "manifest":
        tmp = path + _MANIFEST_TMP
        with open(tmp, "w") as fh:
            fh.write(os.path.basename(target_dir))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        # POSIX durable-rename: the replace is atomic but not durable
        # until the PARENT directory entry is synced — without this,
        # power loss could surface the old pointer (or none) even
        # though the new one was observed before the crash.
        try:
            dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        except OSError:
            return  # non-POSIX dir-open (e.g. some network mounts): best-effort
        try:
            os.fsync(dfd)
        except OSError:
            pass
        finally:
            os.close(dfd)
        return
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

    A healthy pointer/table is never touched, so unlike the old
    two-rename layout a reader can no longer mis-heal an in-flight
    writer's promote — the pointer flip is atomic and there is no
    absent-path window to race (legacy tables retain the old window
    for their one migration swap)."""
    if os.path.isdir(path):  # resolves (real dir or live symlink)
        return False
    stale_mode = _mode_of(path)
    if stale_mode == "manifest" and current_version_dir(path) is not None:
        return False  # healthy manifest pointer
    vers = list_versions(path)
    if vers:
        mode = stale_mode or "symlink"
        if os.path.islink(path):  # dangling symlink pointer
            try:
                os.remove(path)
            except OSError:
                pass
        try:
            _point(path, vers[max(vers)], mode)
        except OSError:
            # lost a heal race: sibling healed first / writer finished
            return False
        return True
    retired = path + RETIRED_SUFFIX
    if os.path.isdir(retired):
        # a stale pointer (dangling symlink / manifest whose target is
        # gone) at the table path would make the rename fail silently —
        # clear it first; only a pointer can be stale here (a real dir
        # returned False at the top)
        if os.path.islink(path) or os.path.isfile(path):
            try:
                os.remove(path)
            except OSError:
                pass
        try:
            os.rename(retired, path)
        except OSError:
            return False
        return True
    return False


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


def _flip_monotonic(path: str, new_dir: str, mode: str) -> None:
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
                _point(path, new_dir, mode)
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def swap_dir_cas(
    path: str,
    staging: str,
    expected_version: int,
    pointer_mode: str | None = None,
) -> str | None:
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
    put of the manifest file keyed on its ETag/generation — the shape
    of this function is deliberately that call."""
    recover_swap(path)
    mode = _mode_of(path) or pointer_mode or POINTER_MODE
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
            _flip_monotonic(path, new_dir, mode)
        raise CASConflict(
            f"{path}: version slot v{expected_version + 1} already "
            "claimed by a concurrent writer"
        ) from exc
    displaced = current_version_dir(path)
    _flip_monotonic(path, new_dir, mode)
    return displaced


def swap_dir(
    path: str,
    staging: str,
    prune_strays: bool = True,
    pointer_mode: str | None = None,
) -> str | None:
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
    can never silently delete a version they meant to keep.

    ``pointer_mode`` selects the pointer protocol for a NEW table
    ("symlink" fast-path / "manifest" portable file — see module
    docstring); an existing table always keeps its established mode,
    and None defaults to :data:`POINTER_MODE`."""
    recover_swap(path)
    # a stale legacy '.old' is fully superseded once a promote succeeds;
    # clearing it here keeps recover_swap from ever resurrecting it
    # (it can be a renamed-away POINTER, not just a dir — crash sims do
    # `rename(tbl, tbl + '.old')` on the symlink/manifest)
    old = path + RETIRED_SUFFIX
    if os.path.islink(old) or os.path.isfile(old):
        os.remove(old)
    else:
        shutil.rmtree(old, ignore_errors=True)
    mode = _mode_of(path) or pointer_mode or POINTER_MODE
    vers = list_versions(path)
    nmax = max(vers) if vers else 0
    if os.path.isdir(path) and not os.path.islink(path):
        # legacy real-dir layout: adopt the current table as a version,
        # then create the pointer (the one remaining windowed migration
        # — a crash between these renames heals via recover_swap)
        nmax += 1
        legacy = f"{path}.v{nmax}"
        os.rename(path, legacy)
        _point(path, legacy, mode)
        vers[nmax] = legacy
    displaced = current_version_dir(path)
    new_dir = f"{path}.v{nmax + 1}"
    os.rename(staging, new_dir)
    _point(path, new_dir, mode)  # the one atomic pointer flip
    if prune_strays:
        for d in vers.values():
            if d != displaced and d != new_dir:
                shutil.rmtree(d, ignore_errors=True)
    return displaced


def read_artifact_meta(path: str) -> dict | None:
    """The ``_meta.json`` object inside table ``path``, or None when it
    is missing, unreadable, truncated or not a JSON object."""
    try:
        with open(os.path.join(resolve(path), _ARTIFACT_META)) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) else None


def ensure_artifact(
    path: str, expected: dict, write: Callable[[str], None]
) -> bool:
    """Make table ``path`` hold the artifact whose meta is ``expected``
    (module doc: FINGERPRINTED ARTIFACTS). Under an exclusive flock on
    ``path + '.lock'``: heal a crashed promote, then compare the stored
    meta with ``expected`` (JSON-native values only: it is compared with
    its own round trip). Equal → return False, nothing written.
    Otherwise ``write(staging)`` must create the table in a
    per-process unique staging dir; ``expected`` is dumped beside it and
    the dir promoted by :func:`swap_dir`. Returns True (built).

    A ``write`` that raises leaves the previous table serving and only
    its own staging dir removed; a process killed before the promote
    leaves an orphan staging dir and the old (stale) meta, so the next
    call rebuilds."""
    import fcntl

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path + ".lock", "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            recover_swap(path)
            if read_artifact_meta(path) == expected:
                return False
            staging = f"{path}.staging.{os.getpid()}_{uuid.uuid4().hex[:8]}"
            try:
                write(staging)
                with open(os.path.join(staging, _ARTIFACT_META), "w") as fh:
                    json.dump(expected, fh)
                retired = swap_dir(path, staging)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            if retired:
                shutil.rmtree(retired, ignore_errors=True)
            return True
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)
