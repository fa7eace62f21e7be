"""Managed scratch root for roundtrip/warehouse queries (q40/q45/q68).

``tempfile.mkdtemp`` per invocation leaks one directory per call —
repeated bench/pytest runs accumulate orphans.  Instead every scratch
path is a deterministic subdir of ONE per-process root:

- reused (``mode("overwrite")``) across invocations, so repeat runs
  occupy constant space;
- removed wholesale at interpreter exit (by which point any lazy
  read-back plan over it is dead with the session);
- the root embeds the pid, so concurrent processes never collide, and
  stale roots left by killed processes are swept on the next import.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_PREFIX = "spark_engine_scratch-"
_ROOT = os.path.join(tempfile.gettempdir(), f"{_PREFIX}{os.getpid()}")


def scratch_path(*parts: str) -> str:
    """Deterministic scratch location ``<root>/<parts...>`` (parent
    dirs created; the leaf itself is left to the writer)."""
    p = os.path.join(_ROOT, *parts)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    return p


def fresh_store(tag: str, sf_dir: str) -> str:
    """Per-(query, sf) scratch store, wiped before each build so a
    re-invocation never reads a stale compaction of a prior run."""
    root = scratch_path(tag, os.path.basename(os.path.normpath(sf_dir)), "idx")
    shutil.rmtree(root, ignore_errors=True)
    return root


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _sweep_stale_roots() -> None:
    tmp = tempfile.gettempdir()
    try:
        names = os.listdir(tmp)
    except OSError:
        return
    for name in names:
        if not name.startswith(_PREFIX):
            continue
        suffix = name[len(_PREFIX):]
        if suffix.isdigit() and not _pid_alive(int(suffix)):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


@atexit.register
def _cleanup() -> None:
    shutil.rmtree(_ROOT, ignore_errors=True)


_sweep_stale_roots()
