"""Staging law: every file the engine writes under the temp dir is either
content-keyed or per-build.

* **Content-keyed** artifacts (bucketed and partitioned layouts, BMP
  assets, the IVF index, stream source directories, the bootstrap corpus,
  the package zip, bench.py's text corpus) go through :func:`stage_once`.
  The directory is named by what it holds (``mds_<kind>_<digest>``, the
  digest usually a ``fixture_digest``), is written once, and is immutable
  once its ``_SUCCESS`` marker exists: no process deletes, moves or
  rewrites it, so readers never lock. Two processes that stage the same
  digest at once both succeed and read the same bytes.
* **Per-build** outputs (a stream's stores and checkpoint, a sink's
  read-back) live in a ``tempfile.TemporaryDirectory`` that the builder
  removes before it returns. It hands back a result materialized by an
  eager ``localCheckpoint()``, so nothing the caller holds reads the
  removed files.

No other recipe (a path-keyed directory, a pid-keyed file, a check-then-
create) writes under the temp dir.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterable


def stat_digest(root: str, paths: Iterable[str]) -> str:
    """Cheap content digest: ``root`` plus the (relpath, size, mtime_ns) of
    each path. Detects an in-place rewrite without reading file bytes."""
    parts = [root]
    for p in sorted(paths):
        st = os.stat(p)
        parts.append(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def staging_dir(kind: str, digest: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"mds_{kind}_{digest}")


def stage_once(kind: str, digest: str, write: Callable[[str], None]) -> str:
    """Write a digest-keyed directory exactly once per content; return it.

    ``write(tmp)`` fills a directory that does not exist yet (it may
    create it itself, as a Spark write does). ``stage_once`` then writes
    ``tmp/_SUCCESS`` if ``write`` did not, and promotes ``tmp``.

    The _SUCCESS marker gates re-writes: repeated invocations in one
    process (bench warm runs, plan tests) and across processes reuse the
    staged directory; a regenerated fixture changes the digest and stages a
    fresh one. Writes go to a PROCESS-UNIQUE tmp dir (a shared
    ``out + ".tmp"`` path lets two cold processes racing the same digest
    overwrite each other's tmp mid-write), and the PROMOTE section is
    serialized by a digest-keyed ``flock`` (rename-based recovery alone has
    a window where one promoter can move a concurrently promoted dir
    aside). Under the lock the invariant is unconditional: a dir carrying
    ``_SUCCESS`` is never deleted or moved (content-addressed immutability,
    so readers never lock), and a half-written corpse from a killed writer
    is cleared safely. The slow write itself stays OUTSIDE the lock:
    concurrent cold stagers waste work writing byte-equivalent tmps, but
    never block on each other's I/O. The staging root is the process-local
    temp dir, where flock is reliable; a multi-node deployment would stage
    through an object store's atomic commit instead.

    Orphan hygiene: the tmp dir is removed in a ``finally`` even when
    ``write`` raises or the promote loses, and every lock acquisition
    sweeps sibling ``{out}.tmp-<pid>-*`` corpses whose writer pid is dead,
    so a crashed stager's half-written tmp is reclaimed by the next
    invocation instead of accumulating forever. The 0-byte ``.lock`` file
    itself is retained deliberately: unlinking a file other processes may
    flock reintroduces the two-inode race the lock exists to close.
    """
    out = staging_dir(kind, digest)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        _sweep_dead_stager_tmps(out)
        return out
    tmp = f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        write(tmp)
        os.makedirs(tmp, exist_ok=True)
        open(os.path.join(tmp, "_SUCCESS"), "a").close()
        with open(f"{out}.lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                # no concurrent writer promoted first (if one had, its
                # same-digest copy is kept and ours is discarded below)
                shutil.rmtree(out, ignore_errors=True)  # a killed writer's corpse
                os.replace(tmp, out)
            _sweep_dead_stager_tmps(out, locked=True)
    finally:
        # no-op when our tmp was promoted (os.replace moved it away)
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def stage_link(kind: str, digest: str, target: str) -> str:
    """A staged directory holding one symlink to ``target`` (for readers,
    like the file stream source, that take a directory)."""

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        os.symlink(target, os.path.join(tmp, os.path.basename(target)))

    return stage_once(kind, digest, write)


def _sweep_dead_stager_tmps(out: str, locked: bool = False) -> None:
    """Reclaim ``{out}.tmp-<pid>-<hex>`` corpses left by dead stagers.

    Only dirs whose embedded pid no longer exists are removed — a live
    concurrent stager's in-progress tmp is never touched (a recycled pid
    merely defers the sweep to a later call). Runs under the digest's
    flock so two sweepers never race a half-removed corpse; when called
    on the fast path (``_SUCCESS`` already present) the lock is taken
    only if a candidate corpse actually exists.
    """
    corpses = []
    for path in glob.glob(f"{out}.tmp-*"):
        try:
            pid = int(os.path.basename(path).rsplit("-", 2)[1])
            os.kill(pid, 0)  # raises if no such process
        except (ValueError, IndexError):
            continue  # unrecognized name: not ours to delete
        except ProcessLookupError:
            corpses.append(path)
        except PermissionError:
            pass  # pid exists (owned by another user): alive
    if not corpses:
        return
    if locked:
        for path in corpses:
            shutil.rmtree(path, ignore_errors=True)
        return
    with open(f"{out}.lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        for path in corpses:
            # re-check under the lock: the owner may have finished+cleaned
            if os.path.exists(path):
                shutil.rmtree(path, ignore_errors=True)
