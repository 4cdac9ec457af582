"""Crash-safe table-promote primitives. Every table the package
replaces as a whole commits through :func:`promote` (the FeatureStore's
tables, ``ContinuousRollup``, ``IncrementalJoinMV.compact``,
``MinHashIndex.compact``/``compact_batches``, the streaming component
labels, the streaming marker-merge sinks) or through
:func:`ensure_artifact`, the one build protocol of the fingerprinted
cache artifacts (the near-dup pair graph, its component labels and the
src0 MinHash index), which calls :func:`promote`.

Layout: the table path is a SYMLINK to a sibling versioned
directory — ``tbl -> tbl.v3`` — and a promote is

  1. ``rename(staging, tbl.v4)``       (new version lands complete)
  2. ``symlink tbl.lnk -> tbl.v4``; ``rename(tbl.lnk, tbl)``

Step 2's rename atomically REPLACES the old symlink (POSIX rename onto
an existing link), so there is no instant at which the table path fails
to resolve to a complete version, and no reader can mis-heal an
in-flight promote. The displaced version directory is returned still
on disk; the caller disposes of it (deletes it, or keeps it as a
retained version) only AFTER the promote, so at every crash point some
complete version holds the pre-promote state.

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
* crash after step 2, before the caller disposes of the displaced
  version: it stays on disk as an ordinary older version, kept or
  removed by the next swap's ``keep``.
* crash inside the legacy migration (path renamed away, pointer not
  yet created): ``recover_swap`` re-points at the newest version.
* pre-migration legacy crash (state stranded in ``.old``):
  ``recover_swap`` renames it back into place.

Concurrent READERS on the same filesystem always resolve a complete
table. Deleting the displaced version while a reader is mid-scan is
the standard snapshot-retention race (what Delta's VACUUM documents);
callers that need concurrent long scans keep displaced versions
(``promote(keep=)``; the FeatureStore's snapshots). WRITERS stay
single-process per table.

SCRATCH (:func:`scratch_path`): the working dirs of queries that stage
files (streamed input slices, checkpoints, maintained tables, fixtures)
live under one per-process root that is removed at interpreter exit.

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

import atexit
import json
import os
import re
import shutil
import tempfile
import uuid
from typing import Callable

RETIRED_SUFFIX = ".old"
_ARTIFACT_META = "_meta.json"
_POINTER_TMP = ".lnk"
_STAGING = ".staging."
_VER_RE = re.compile(r"^\.v(\d+)$")
_SCRATCH: dict[int, str] = {}  # pid -> this process's scratch root


def scratch_path(name: str) -> str:
    """``<root>/<name>`` under this process's scratch root, which is
    made on first use and removed at interpreter exit (module doc:
    SCRATCH). The same name maps to the same path for the life of the
    process; the path itself is not created."""
    pid = os.getpid()
    if pid not in _SCRATCH:  # first use, or a forked child
        _SCRATCH[pid] = tempfile.mkdtemp(prefix=f"dvmax_{pid}_")
        atexit.register(_remove_scratch, pid)
    return os.path.join(_SCRATCH[pid], name)


def _remove_scratch(pid: int) -> None:
    if os.getpid() == pid:
        shutil.rmtree(_SCRATCH[pid], ignore_errors=True)


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


def swap_dir(path: str, staging: str, keep: int = 0) -> str | None:
    """Promote ``staging`` to ``path`` (heals a crashed swap first).
    The displaced version directory is returned still on disk (``None``
    when no table existed); the CALLER disposes of it, so history is
    only deleted after the new state is fully promoted.

    Of the other version dirs, the newest ``keep`` that the table once
    served (numbered at or below the displaced one) stay as retained
    history; every other one is removed — un-promoted orphans from a
    crash after step 1 (numbered above it), and a displaced dir a
    crashed caller never disposed once it falls out of the newest
    ``keep``. ``staging`` may itself be a retained version dir: it is
    renamed to the next number, so a version id is never reused."""
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
    served = next((n for n, d in vers.items() if d == displaced), 0)
    new_dir = f"{path}.v{nmax + 1}"
    os.rename(staging, new_dir)
    _point(path, new_dir)  # the one atomic pointer flip
    vers = list_versions(path)
    kept = sorted((n for n in vers if n <= served), reverse=True)[:keep]
    for n, d in vers.items():
        if d != displaced and d != new_dir and n not in kept:
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
    path: str,
    write: Callable[[str], None],
    meta: dict | None = None,
    keep: int = 0,
) -> None:
    """Replace table ``path`` with a complete new version, the one
    commit path of every whole-table rewrite in the package (module
    doc). ``write(staging)`` must create the new table in a
    per-process unique staging dir; ``meta``, when given, is dumped as
    ``_meta.json`` inside it, so data and meta commit in the same
    pointer flip (:func:`swap_dir`, which heals a crashed promote
    first). The staging dir is removed whatever happens. The displaced
    version is removed once the new one serves, unless ``keep`` retains
    it: the newest ``keep`` older versions stay on disk as
    ``<path>.v<n>`` (the FeatureStore's snapshots).

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
        retired = swap_dir(path, staging, keep)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    if retired and not keep:
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
