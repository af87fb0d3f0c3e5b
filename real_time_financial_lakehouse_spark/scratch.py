"""Scratch-directory helper for roundtrip sinks / checkpoints.

The streaming roundtrip queries measure plan + state-store cost, but a
disk-backed /tmp adds fsync latency on every checkpoint commit that no
production deployment would see on the DRIVER (real checkpoints live in
object storage with their own semantics).  When a tmpfs is available
(/dev/shm on Linux), scratch output and checkpoints go there -- same
filesystem API, no rotational/fsync tax.  Falls back to the platform
default tempdir otherwise.  Override with $RTFL_SCRATCH_DIR.

Every directory is recorded and removed when the interpreter exits.  Not
earlier: query results are lazy frames over these files, so a directory
must outlive every frame that may still read it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

# (creating pid, path): a forked child inherits the list and the exit
# hook, but must not remove directories its parent is still reading
_made: list[tuple[int, str]] = []

def _base() -> str | None:
    env = os.environ.get("RTFL_SCRATCH_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return None  # tempfile default

@atexit.register
def _remove_made() -> None:
    pid = os.getpid()
    for owner, path in _made:
        if owner == pid:
            shutil.rmtree(path, ignore_errors=True)

def scratch_dir(prefix: str) -> str:
    """mkdtemp on the fastest available scratch filesystem, removed at
    interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=_base())
    _made.append((os.getpid(), path))
    return path
