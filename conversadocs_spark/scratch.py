"""Scratch directories of registered queries: where a query's files
live, how they are named and when they are deleted.

A query that writes files asks ``call_dir(kind)`` for a directory of
its own and writes only under it (``<dir>/table``, ``<dir>/ckpt``,
...). Each call gets a fresh directory, so a DataFrame that lazily
reads a call's output keeps reading that output after later calls,
from this thread, another thread of the session, or another process
on the same fixture basename.

Layout: ``ROOT/<pid>/<kind>-XXXX`` (``tempfile.mkdtemp``). Only this
module writes under ``ROOT``, so the sweep needs no naming rules: on
its first call in a process, ``call_dir`` removes each ``ROOT/<pid>``
whose process is gone and nothing else. A live process keeps its
directories until it exits.

``STAGE_ROOT`` is the checkout's ``.stream_stage/``: content-keyed
caches that outlive a call (plans/vector.py's staged IVF indexes) live
there directly, beside ``ROOT``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

STAGE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".stream_stage",
)
ROOT = os.path.join(STAGE_ROOT, "calls")

_lock = threading.Lock()
_swept_pid: int | None = None


def _sweep() -> None:
    """Remove each ``ROOT/<pid>`` whose process no longer exists."""
    for name in os.listdir(ROOT):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(ROOT, name), ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid


def call_dir(kind: str) -> str:
    """A new, empty directory ``ROOT/<pid>/<kind>-XXXX`` for one call."""
    global _swept_pid
    own = os.path.join(ROOT, str(os.getpid()))
    os.makedirs(own, exist_ok=True)
    with _lock:
        if _swept_pid != os.getpid():
            _sweep()
            _swept_pid = os.getpid()
    return tempfile.mkdtemp(prefix=f"{kind}-", dir=own)
