"""Per-table write lock and the one stage-and-swap that replaces a
table directory.

:func:`swap_dir` writes the new copy to a ``<table>.tmp-<hex>``
sibling, then swaps it in with two renames (live → ``<table>.old-<hex>``,
staged → live) and drops the old copy. Every directory replacement goes
through it: the pipeline's merge overwrite (``ParquetTargetStore``) and
``ParquetSink.compact``. POSIX ``rename`` makes each rename atomic but
not the pair: a concurrent WRITER between them could append into a
directory that is about to be removed — silent data loss. The swap
therefore requires single-writer semantics, enforced with ``flock`` on a
``<table>.lock`` sibling (:func:`table_write_lock`).

A process killed mid-swap leaves siblings behind: a staged copy, a
parked old copy, or — between the two renames — the parked live table
and no table at all. :func:`heal_swap` undoes that under the lock: it
puts a parked table back in place and removes the rest, so the next
writer never mistakes a missing table for a first load.

Readers are deliberately NOT locked: a reader between the two renames
can observe a briefly missing directory (ENOENT) and should retry.
Truly atomic directory exchange needs renameat2(RENAME_EXCHANGE) or a
manifest/view indirection — on a real deployment this layer is a table
format (Delta/Iceberg) whose metadata commit provides it.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import re
import shutil
import threading
import uuid
from collections.abc import Callable, Iterator

# Per-thread reentrancy: CdcPipeline.replicate_table holds the table
# lock across its whole read→merge→swap and swap_dir re-acquires inside
# it. flock is per open-file-description, so a naive second acquisition
# in the same thread would self-deadlock; a counter keyed by (thread,
# lock path) makes the inner acquisition a no-op while different threads
# (the pipeline's per-table ThreadPoolExecutor) still exclude each other
# through the kernel lock.
_held = threading.local()

# The names swap_dir stages and parks copies under, beside the table.
_SIBLING = r"\.(?:tmp|old)-[0-9a-f]+"


@contextlib.contextmanager
def table_write_lock(table_path: str) -> Iterator[None]:
    """Block until this thread holds the exclusive advisory lock for
    ``table_path`` (reentrant within a thread). Guards the whole
    read→compute→rename-swap critical section across processes on the
    same host (the local-mode deployment unit); multi-host writers need
    a coordination service or a table format instead.
    """
    lock_path = table_path.rstrip("/") + ".lock"
    held: dict[str, list] = getattr(_held, "m", None) or {}
    _held.m = held
    if lock_path in held:
        held[lock_path][1] += 1
        try:
            yield
        finally:
            held[lock_path][1] -= 1
        return
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        held[lock_path] = [fd, 1]
        try:
            yield
        finally:
            del held[lock_path]
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def is_swap_sibling(name: str) -> bool:
    """True for a ``<table>.tmp-<hex>`` or ``<table>.old-<hex>`` name:
    a copy staged or parked by :func:`swap_dir`, never a table."""
    return re.fullmatch(".+" + _SIBLING, name) is not None


def heal_swap(path: str) -> None:
    """Undo what a swap of ``path`` killed midway left behind. Call
    under ``table_write_lock(path)``, where no swap is in flight: a
    missing ``path`` gets its one parked ``.old-*`` copy back, and every
    other staged or parked sibling is removed."""
    path = path.rstrip("/")
    parent, base = os.path.split(path)
    rule = re.compile(re.escape(base) + _SIBLING)
    names = [n for n in os.listdir(parent or ".") if rule.fullmatch(n)]
    parked = [n for n in names if n.startswith(f"{base}.old-")]
    if parked and not os.path.exists(path):
        if len(parked) > 1:
            raise RuntimeError(f"{path} is missing and several parked copies exist: {sorted(parked)}")
        os.rename(os.path.join(parent, parked[0]), path)
        names.remove(parked[0])
    for n in names:
        shutil.rmtree(os.path.join(parent, n), ignore_errors=True)


def swap_dir(
    path: str, write: Callable[[str], None], before_swap: Callable[[], None] | None = None
) -> None:
    """Replace directory ``path`` with what ``write(staged)`` writes.

    Under the table lock: heal leftovers, write to a fresh
    ``<path>.tmp-<hex>``, call ``before_swap``, then rename the live
    copy to ``<path>.old-<hex>`` and the staged copy into place. A
    failure before the swap removes the staged copy and leaves ``path``
    as it was; a failed second rename puts the old copy back.
    """
    path = path.rstrip("/")
    with table_write_lock(path):
        heal_swap(path)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        try:
            write(tmp)
            if before_swap is not None:
                before_swap()
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(path):
            os.rename(path, old)
        try:
            os.rename(tmp, path)
        except BaseException:
            if os.path.exists(old):
                os.rename(old, path)
            raise
        shutil.rmtree(old, ignore_errors=True)
