"""Session stages: intermediate results that are built once per Spark
session and then shared by every key that needs them (a trained
quantizer, a staged fixture, a verified pair set).

The contract, for every :class:`Stage`:

* **Key.** An entry is keyed by ``(applicationId, *key)``. A stage holds
  checkpointed frames or staged files, which are valid only for the
  session that built them.
* **Eviction.** A miss evicts every entry of another application, that
  is of a dead session (a process has one SparkContext at a time), and
  removes the evicted entry's scratch directory.
* **Scratch location.** Each entry gets an empty directory
  ``<tmp>/spark_graft_stages/<pid>/<applicationId>/<name>/<key tag>``,
  which its builder may write into. The path names the application, so
  evicting a dead session never touches a live entry's files.
* **Staleness.** An entry whose scratch directory has vanished is
  rebuilt.
* **Build once.** One re-entrant lock, shared by all stages, is held
  across lookup and build: concurrent callers build an entry once, and a
  builder may itself call other stages without deadlocking.
* **Failure.** A builder that raises leaves no entry; its scratch
  directory is removed and the exception propagates.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
import threading
from typing import Any, Callable, Iterator

_LOCK = threading.RLock()


def _tag(key: tuple) -> str:
    """A readable directory name, distinct per ``key``: the base name of
    each part plus a digest of the whole key (two corpora may share a
    base name)."""
    words = [os.path.basename(str(p).rstrip("/")) for p in key]
    digest = hashlib.sha1(repr(key).encode()).hexdigest()[:10]
    return re.sub(r"[^\w.-]", "_", "_".join([*words, digest]))


class Stage:
    """One named family of session-staged results; see the module
    docstring for the contract. Iterating yields the full entry keys
    ``(applicationId, *key)``."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._entries: dict[tuple, tuple[str, Any]] = {}

    def get(self, spark, key: tuple, build: Callable[[str], Any]) -> Any:
        """The value staged for ``key`` in ``spark``'s session, calling
        ``build(scratch_dir)`` to make it on a miss."""
        app = spark.sparkContext.applicationId
        ck = (app, *key)
        with _LOCK:
            hit = self._entries.get(ck)
            if hit is not None and os.path.isdir(hit[0]):
                return hit[1]
            for stale in [k for k in self._entries if k[0] != app]:
                shutil.rmtree(self._entries.pop(stale)[0], ignore_errors=True)
            self._entries.pop(ck, None)
            scratch = os.path.join(
                tempfile.gettempdir(),
                "spark_graft_stages",
                str(os.getpid()),
                app,
                self.name,
                _tag(key),
            )
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            try:
                value = build(scratch)
            except BaseException:
                shutil.rmtree(scratch, ignore_errors=True)
                raise
            self._entries[ck] = (scratch, value)
            return value

    def clear(self) -> None:
        """Drop every entry and its scratch directory; the next
        :meth:`get` rebuilds."""
        with _LOCK:
            for scratch, _ in self._entries.values():
                shutil.rmtree(scratch, ignore_errors=True)
            self._entries.clear()

    def __iter__(self) -> Iterator[tuple]:
        with _LOCK:
            return iter(list(self._entries))
