"""Run registry: single-writer locking (SURVEY.md §1.1 "Lock / run registry").

The reference guards runs with PID files and stale-PID takeover
(``misc_functions.sh:151-183``) plus ``beeline_functions.sh:92-101``'s
dump.lock. The engine takes an exclusive ``flock`` on the ``<name>.lock``
dir, which the kernel releases when the holder dies: a crashed run leaves
no lock, so there is no staleness to judge. The ``pid`` file inside is
informational only; it names the holder in the error and lets the holding
process release through another object. Needs a local filesystem: on NFS
``flock`` degrades to per-process POSIX locks, which threads would share.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
from pathlib import Path


class LockHeldError(RuntimeError):
    pass


class RunLock:
    """``with RunLock(dir, 'dump'):`` — mirrors dump.lock semantics."""

    def __init__(self, run_dir: str | os.PathLike, name: str) -> None:
        self.path = Path(run_dir) / f"{name}.lock"
        self._fd: int | None = None

    def __enter__(self) -> "RunLock":
        self.acquire()
        return self

    def __exit__(self, *exc: object) -> None:
        self.release()

    def acquire(self) -> None:
        while True:
            with contextlib.suppress(FileExistsError):
                self.path.mkdir(parents=True)
            try:
                fd = os.open(self.path, os.O_RDONLY | os.O_DIRECTORY)
            except FileNotFoundError:
                continue  # released and removed between mkdir and open
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                # a holder that released meanwhile removed the inode we
                # locked, which excludes nobody who mkdirs the path afresh
                if os.path.samestat(os.stat(self.path), os.fstat(fd)):
                    self._fd = fd
                    break
            except FileNotFoundError:
                pass
            except BlockingIOError:
                pid = self._owner_pid()
                raise LockHeldError(f"{self.path} held by pid {pid}") from None
            finally:
                if self._fd != fd:
                    os.close(fd)
        (self.path / "pid").write_text(str(os.getpid()))

    def release(self) -> None:
        """Remove only if owned (``beeline_functions.sh:112-114``); the dir
        goes before the fd closes, so no waiter keeps a removed inode."""
        if self._fd is None and self._owner_pid() != os.getpid():
            return
        with contextlib.suppress(OSError):  # gone, or foreign files inside
            (self.path / "pid").unlink(missing_ok=True)
            self.path.rmdir()
        if self._fd is not None:
            os.close(self._fd)
            self._fd = None

    def _owner_pid(self) -> int | None:
        try:
            return int((self.path / "pid").read_text())
        except (OSError, ValueError):
            return None
