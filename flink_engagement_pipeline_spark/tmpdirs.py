"""Working directories of replays and index builds.

A registered query stages its inputs, checkpoints and sink outputs in
directories that outlive the call: the DataFrame it returns reads them
lazily. They all go under one root per process, which is removed when
the interpreter exits, so no call leaves a directory behind.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_root: tuple[int, str] | None = None  # (owning pid, path)


def mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` under this process's root."""
    global _root
    if _root is None or _root[0] != os.getpid():
        # a forked child gets a root of its own and never removes its
        # parent's
        _root = (os.getpid(), tempfile.mkdtemp(prefix="fep-"))
        atexit.register(_remove, *_root)
    return tempfile.mkdtemp(prefix=prefix, dir=_root[1])


def _remove(pid: int, path: str) -> None:
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)
